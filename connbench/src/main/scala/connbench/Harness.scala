package connbench

import graft.store.EmbeddedLogStore
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** What every workload run shares: the session, the seed and the run's
  * temp root (every store, checkpoint and Spark scratch dir lives under
  * it; the launcher deletes it). */
case class Ctx(spark: SparkSession, seed: Long, work: Path) {
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** A store the benchmark owns, and the connector options that name it. */
case class StoreRef(root: String, project: String, name: String) {
  def store: EmbeddedLogStore = new EmbeddedLogStore(root)
  def opts: Map[String, String] = Map("store.root" -> root,
    "store.project" -> project, "store.name" -> name)
  def manifestDir: Path = java.nio.file.Paths.get(root, project, name, "manifests")
  def shardIds: Seq[Int] = store.listShards(project, name).map(_.id)
}

/** Outcome of one measured window. `records` is the work that sets
  * throughput over `busySeconds`; latencies are per operation. */
case class Outcome(records: Long, busySeconds: Double,
    latenciesMs: Seq[Double], attempted: Long, failed: Long,
    correct: Boolean, layer: Map[String, Double] = Map.empty,
    notes: Map[String, String] = Map.empty) {
  def throughput: Double = records / busySeconds
}

/** One set-up instance of a workload: inputs generated, stores built,
  * warm-up done. `measure` runs the timed window once. */
trait Fixture {
  /** The store the layer probes run against. */
  def probeStore: StoreRef
  /** Column types the probes read that store with. */
  def probeSchema: String
  def measure(seconds: Double, tracer: Tracer): Outcome
}

trait Workload {
  def name: String
  /** The statistic reported as latency_tail_ms, e.g. `p75`. */
  def tailLabel: String
  /** (latency_p50_ms, latency_tail_ms) of one window's samples, one per
    * operation. */
  def latencyMs(xs: Seq[Double]): (Double, Double)
  def setup(ctx: Ctx, rep: Int): Fixture
}

/** Latencies as nearest-rank percentiles: a window must hold enough
  * operations to leave ten beyond the tail percentile, or it fails. */
trait PercentileLatency { this: Workload =>
  def tailPercentile: Double
  def tailLabel: String = s"p${tailPercentile.toInt}"
  def latencyMs(xs: Seq[Double]): (Double, Double) =
    (Stats.percentile(xs, 50).value, Stats.percentile(xs, tailPercentile).value)
}

/** Task metrics from Spark's listener bus, kept only while `on`. */
final class TaskListener extends SparkListener {
  case class T(stage: Int, attempt: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWriteBytes: Long)
  @volatile var on = false
  private val tasks = new ConcurrentLinkedQueue[T]()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (on && m != null) tasks.add(T(e.stageId, e.stageAttemptId,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten))
  }
  /** exec.* metrics over the tasks seen while on. (No workload spills at
    * these sizes, so spill is not reported.) */
  def metrics(): Map[String, Double] = {
    val ts = tasks.asScala.toSeq
    val skews = ts.groupBy(t => (t.stage, t.attempt)).values
      .filter(_.size >= 2).map { st =>
        val med = Stats.median(st.map(_.runMs.toDouble))
        st.map(_.runMs).max / math.max(1.0, med)
      }
    Map(
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / 1048576.0,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews.toSeq)))
  }
}

/** Live heap: old-generation occupancy after full collections, taken
  * when a measured window ends and the workload still holds its state.
  * (Full collections the JVM runs inside a window come and go with GC
  * timing, so their figure is too irregular to bound.) */
object Heap {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Collect until the live set stops shrinking: later collections run
    * after Spark's cleaner has dropped the blocks of RDDs an earlier one
    * found unreachable. */
  def liveMb(): Double = {
    def collect(): Long = {
      System.gc()
      oldPools.map(_.getCollectionUsage.getUsed).sum
    }
    var used = collect()
    var rounds = 1
    var shrinking = true
    while (shrinking && rounds < 6) {
      Thread.sleep(200)
      val next = collect()
      shrinking = next < used - used / 100
      used = next
      rounds += 1
    }
    used / 1048576.0
  }
}

/** Counts manifest compactions by watching the oldest manifest: each
  * compaction leaves a new checkpoint manifest at the head of the log. */
final class CompactionWatch(ref: StoreRef) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val seen = scala.collection.mutable.Set[String]()
  private val initial = checkpoint()
  initial.foreach(seen += _)

  private def checkpoint(): Option[String] = try {
    val first = Files.list(ref.manifestDir)
    val name = try first.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("m-") && n.endsWith(".json")).minOption
    finally first.close()
    name.filter { n =>
      val t = mapper.readTree(Files.readAllBytes(ref.manifestDir.resolve(n)))
      t.get("checkpoint") != null && t.get("checkpoint").asBoolean()
    }
  } catch { case _: java.io.IOException => None }

  def poll(): Unit = checkpoint().foreach(seen += _)
  def compactions: Int = seen.size - initial.size
}
