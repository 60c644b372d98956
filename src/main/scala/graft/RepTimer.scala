package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CachePool, ConnectorQueries}

/** One timed rep of a catalog query, the same way in every bench main
  * (Bench, BenchStress, BenchOne).
  *
  * Cache fence (r20, VERDICT r19 item 2): an untimed warm rep populates
  * any in-query `.cache()`/`persist` (d2/d16's shingle table, the
  * k-means working set, CachePool sites) through CacheManager's
  * plan-canonicalized keying, so without a fence every timed rep would
  * read those caches warm and the reported number would omit cache
  * population. [[time]] drops ALL cached data first, so each rep
  * computes from the parquet inputs alone: warm-up covers JIT/codegen
  * and one-time DISK layouts only (connector ingest, q30's bucketed
  * tables, q32's partitioned dir), never in-memory state.
  * localCheckpoint RDDs are per-invocation and die with their plan, so
  * no fence is needed for them.
  *
  * A traced rep also returns its component line, snapshotted outside
  * the timed region: `wall=`, then for a streaming query the drain's
  * micro-batch split ([[ConnectorQueries.lastDrainStats]]), then the
  * JVM GC delta and the task-level shuffle/spill/cpu deltas, so a slow
  * rep in a long session splits into scheduler / state-backend /
  * executor / GC components from the run log alone (VERDICT r18
  * item 1). */
final class RepTimer(spark: SparkSession) {
  private val tasks = new RepTimer.TaskAgg
  spark.sparkContext.addSparkListener(tasks)

  /** Drops every cached intermediate: CachePool's pins and the
    * session's CacheManager. */
  def fence(): Unit = {
    CachePool.releaseAll(spark)
    spark.catalog.clearCache()
  }

  /** Fences, then times `body`. With `traced`, the rep's component line
    * comes back too; `streaming` adds the drain's split to it. */
  def time(streaming: Boolean, traced: Boolean)(body: => Unit): RepTimer.Rep = {
    fence()
    if (streaming) ConnectorQueries.lastDrainStats = ""
    val gc0 = if (traced) RepTimer.gcMillis() else 0L
    val task0 = if (traced) tasks.drainedSnap() else null
    val t0 = System.nanoTime()
    body
    val t = (System.nanoTime() - t0) / 1e9
    val line = if (!traced) None else {
      val td = tasks.drainedSnap().map { case (k, v) => k -> (v - task0(k)) }
      Some(f"wall=$t%.2f " +
        (if (streaming) ConnectorQueries.lastDrainStats + " " else "") +
        s"gc=${RepTimer.gcMillis() - gc0} " +
        td.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    RepTimer.Rep(t, line)
  }
}

object RepTimer {
  /** A rep's wall seconds and, if traced, its component line. */
  final case class Rep(seconds: Double, trace: Option[String])

  /** Runs `df` through the noop sink: every output column is computed
    * (a bare count() would let Catalyst prune the measured work away). */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** Cumulative collection time over the JVM's collectors. */
  def gcMillis(): Long = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  /** Task-metric totals over every task of the JVM, diffed per rep. */
  private final class TaskAgg extends SparkListener {
    private val shufWrite, shufRead, spillMem, spillDisk, cpuNs, runMs =
      new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
      }
    }
    private def snap(): Map[String, Long] = Map(
      "shufWB" -> shufWrite.get, "shufRB" -> shufRead.get,
      "spillMB" -> spillMem.get, "spillDB" -> spillDisk.get,
      "cpuMs" -> cpuNs.get / 1000000L, "runMs" -> runMs.get)
    // the listener bus is async — poll until the counters stabilize so
    // in-flight task-end events don't bleed into the next rep's delta
    def drainedSnap(): Map[String, Long] = {
      var prev = snap()
      var tries = 0
      while (tries < 10) {
        Thread.sleep(50)
        val cur = snap()
        if (cur == prev) return cur
        prev = cur; tries += 1
      }
      prev
    }
  }
}
