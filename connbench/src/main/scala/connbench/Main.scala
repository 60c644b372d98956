package connbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The metrics `BENCHMARK.json` declares: the end-to-end names, and the
  * unit of every metric. A result may print only declared metrics. */
case class Spec(endToEnd: Seq[String], perLayer: Seq[String],
    units: Map[String, String])

object Spec {
  def load(path: Path): Spec = {
    val root = new ObjectMapper().readTree(path.toFile)
    def list(key: String): Seq[(String, String)] = root.get(key).elements().asScala
      .map(n => n.get("name").asText -> n.get("unit").asText).toSeq
    val (e2e, layer) = (list("end_to_end"), list("per_layer"))
    Spec(e2e.map(_._1), layer.map(_._1), (e2e ++ layer).toMap)
  }
}

/** Benchmark entry point:
  * `--workload <ingest|scan|tail|dedup> --seed <n> --seconds <s>
  *  --trace <0|1> --work <temp root> --spec <BENCHMARK.json>
  *  [--spans-out <file>]`.
  * Prints one JSON result as the last line of standard output. */
object Main {
  val Workloads: Map[String, Workload] =
    Seq(Ingest, Scan, Tail, DedupLoad).map(w => w.name -> w).toMap
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try { run(a); 0 } catch {
      case t: Throwable =>
        System.err.println(s"[connbench] failed: $t")
        t.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(a: Map[String, String]): Unit = {
    val w = Workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val spec = Spec.load(Paths.get(a("spec")))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = graft.MainSessions(SparkSession.builder().master(s"local[$cores]")
      .appName("connbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = Ctx(spark, seed, work)
    try {
      val line =
        if (traced) tracedRun(ctx, spec, w, seconds, a.get("spans-out"))
        else untracedRun(ctx, spec, w, seconds, sessionS)
      println(line)
    } finally spark.stop()
  }

  private def e2e(w: Workload, o: Outcome): Map[String, Double] = {
    val (p50, tail) = w.latencyMs(o.latenciesMs)
    Map("throughput_rec_per_s" -> o.throughput, "latency_p50_ms" -> p50,
      "latency_tail_ms" -> tail)
  }

  /** Human-readable summary on standard error, before any metric is
    * derived (a refused percentile then still leaves its evidence). */
  private def report(w: Workload, o: Outcome): Unit =
    System.err.println(s"[connbench] ${w.name}: records=${o.records}" +
      f" busy_s=${o.busySeconds}%.3f latency_samples=${o.latenciesMs.size}" +
      s" latency_tail=${w.tailLabel}" +
      s" attempted=${o.attempted} failed=${o.failed}" +
      f" op_fail_ratio=${o.failed.toDouble / o.attempted}%.4g" +
      o.notes.toSeq.sortBy(_._1).map { case (k, v) => s" $k=$v" }.mkString)

  private def untracedRun(ctx: Ctx, spec: Spec, w: Workload, seconds: Double,
      sessionS: Double): String = {
    var fixture: Fixture = null
    val setupTimes = (1 to SetupReps).map { rep =>
      fixture = null // let the previous set-up's inputs be collected
      val t0 = System.nanoTime()
      fixture = w.setup(ctx, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val o = fixture.measure(seconds, new Tracer(false))
    val h0 = System.nanoTime()
    val heapMb = Heap.liveMb()
    val heapS = (System.nanoTime() - h0) / 1e9
    report(w, o)
    System.err.println(f"[connbench] session_s=$sessionS%.3f heap_s=$heapS%.3f setup_reps_s=" +
      setupTimes.map(t => f"$t%.3f").mkString(","))
    val m = e2e(w, o) ++ Map(
      "setup_s" -> (sessionS + Stats.median(setupTimes)),
      "heap_live_mb" -> heapMb)
    require(m.keySet == spec.endToEnd.toSet, s"end-to-end metrics ${m.keySet} " +
      s"differ from those BENCHMARK.json declares")
    m.foreach { case (k, v) => require(v > 0, s"$k = $v; it is never 0 on a working run") }
    Json.result(spec, o.correct, o.attempted, o.failed, m)
  }

  /** Small runs of the layers a workload's own window leaves out, so a
    * traced run measures every layer: the `tail` shape at 4 shards for
    * `stream` and `gen`, one `dedup` chunk for `ops`. */
  private val LayerProbes: Seq[(String, Workload)] = Seq(
    "stream" -> new TailLoad("stream_probe", shards = 4, backlogCommits = 4, minLiveMs = 2000L),
    "ops" -> new DedupWorkload("ops_probe", minChunks = 1))

  private def tracedRun(ctx: Ctx, spec: Spec, w: Workload, seconds: Double,
      spansOut: Option[String]): String = {
    val tasks = new TaskListener
    ctx.spark.sparkContext.addSparkListener(tasks)
    // an untraced window, then a traced one on a second set-up; the JVM
    // keeps warming between them, which the overhead figure includes
    val Seq(plainFixture, fixture) = (1 to 2).map(w.setup(ctx, _))
    val plain = plainFixture.measure(seconds, new Tracer(false))
    report(w, plain)
    val tracer = new Tracer(true)
    val watch = new CompactionWatch(fixture.probeStore)
    tasks.on = true
    val o = fixture.measure(seconds, tracer)
    report(w, o)
    org.apache.spark.ConnbenchBus.drain(ctx.spark.sparkContext)
    tasks.on = false
    watch.poll()
    val probeTracer = new Tracer(true)
    val probes = Probes.run(fixture.probeStore, fixture.probeSchema, probeTracer)
    val layerRuns = LayerProbes.filterNot { case (layer, _) =>
      o.layer.keys.exists(_.startsWith(layer + "."))
    }.map { case (_, p) =>
      val t = new Tracer(true)
      val po = p.setup(ctx, 1).measure(0, t)
      report(p, po)
      (p.name, t, po)
    }
    val spans = tracer.all
    System.err.println("[connbench] self_s " + Trace.selfSecondsByLayer(spans).toSeq
      .sortBy(_._1).map { case (l, s) => f"$l=$s%.3f" }.mkString(" "))
    val t = e2e(w, o)
    val u = e2e(w, plain)
    // the workload's own layer metrics (a window whose store stays under
    // the compaction threshold counts 0 compactions), the layer runs',
    // the listener's, the probes', and tracing's cost as ratios (above 1:
    // the traced window was slower)
    val m = Map("store.manifest_compactions" -> watch.compactions.toDouble) ++
      layerRuns.flatMap(_._3.layer) ++ o.layer ++ tasks.metrics() ++ probes ++ Map(
        "trace.spans" -> spans.size.toDouble,
        "trace.overhead_throughput_ratio" ->
          u("throughput_rec_per_s") / t("throughput_rec_per_s"),
        "trace.overhead_latency_ratio" -> t("latency_p50_ms") / u("latency_p50_ms"))
    require(m.keySet == spec.perLayer.toSet, "per-layer metrics differ from those " +
      s"BENCHMARK.json declares: missing ${spec.perLayer.filterNot(m.contains)}, " +
      s"extra ${m.keySet -- spec.perLayer}")
    spansOut.foreach { f =>
      val runId = s"${w.name}-${ctx.seed}"
      tracer.writeTo(Paths.get(f), runId)
      probeTracer.writeTo(Paths.get(f + ".probes"), s"$runId-probes")
      layerRuns.foreach { case (name, lt, _) =>
        lt.writeTo(Paths.get(f + ".probes"), s"$runId-$name", append = true)
      }
    }
    val all = Seq(plain, o) ++ layerRuns.map(_._3)
    Json.result(spec, all.forall(_.correct), all.map(_.attempted).sum,
      all.map(_.failed).sum, m)
  }
}

object Json {
  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    v.toString
  }

  def result(spec: Spec, correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, Double]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      val unit = spec.units.getOrElse(k,
        throw new IllegalArgumentException(s"metric $k is not declared in BENCHMARK.json"))
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
