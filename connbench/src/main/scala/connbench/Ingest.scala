package connbench

import graft.store.LogRecord
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `ingest`: one client runs a closed loop of DSv2 append jobs into an
  * 8-shard store. Jobs cycle through a seeded pool: narrow jobs (commit
  * bound) routed by `__shard__` or by `routing.column`, and every 20th a
  * wide job (writer and heap bound). The store starts with a long delta
  * manifest chain so the loop crosses the auto-compaction threshold. */
object Ingest extends Workload with PercentileLatency {
  val name = "ingest"
  val tailPercentile = 75.0
  val Shards = 8
  val PoolSize = 40
  val WideEvery = 20
  val NarrowRows = 2000
  val WideRows = 16000
  /** Single-segment commits made before the loop: the chain then crosses
    * the store's auto-compaction threshold early in every run. */
  val PreCommits = 230
  val PreRows = 4

  private val narrowSchema = StructType(Seq(
    StructField("key", StringType), StructField("v", LongType),
    StructField("__time__", TimestampType)))

  private def schemaOf(j: Gen.IngestJob): StructType = {
    val base = if (j.byColumn) narrowSchema
      else narrowSchema.add(StructField("__shard__", IntegerType))
    if (!j.wide) base
    else StructType(base.fields ++ (0 until Gen.WideColumns).map(c =>
      StructField(s"c$c", StringType)))
  }

  private def frameOf(ctx: Ctx, j: Gen.IngestJob): DataFrame = {
    val rows = j.keys.indices.map { i =>
      val base = Seq(j.keys(i), j.values(i),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(j.times(i))))
      val shard = if (j.byColumn) Nil else Seq(j.shards(i))
      val extra = if (j.wide) j.extra(i).toSeq else Nil
      Row.fromSeq(base ++ shard ++ extra)
    }
    ctx.spark.createDataFrame(rows.asJava, schemaOf(j))
  }

  def setup(ctx: Ctx, rep: Int): Fixture = {
    val ref = StoreRef(ctx.dir(s"ingest-$rep").toString, "bench", "ingest")
    val store = ref.store
    store.createStore(ref.project, ref.name, Shards)
    val pre = (0 until PreCommits).map { c =>
      val shard = c % Shards
      store.appendSegment(ref.project, ref.name, shard, s"pre$c",
        (0 until PreRows).map(i => LogRecord(Gen.T0, "", "", Map.empty,
          Map("key" -> s"pre-$c", "v" -> (c * PreRows + i).toString))))
      shard -> (0 until PreRows).map(i => (c * PreRows + i).toLong)
    }
    val jobs = (0 until PoolSize).map { id =>
      val wide = id % WideEvery == WideEvery - 1
      Gen.ingestJob(ctx.seed, id, wide, if (wide) WideRows else NarrowRows, Shards)
    }
    val frames = jobs.map(frameOf(ctx, _))
    // warm-up: one narrow and one wide job into a scratch store
    val warm = StoreRef(ctx.dir(s"ingest-warm-$rep").toString, "bench", "warm")
    warm.store.createStore(warm.project, warm.name, Shards)
    Seq(0, WideEvery - 1, 1).foreach(i => write(frames(i), jobs(i), warm))
    new IngestFixture(ctx, ref, jobs, frames,
      pre.groupBy(_._1).map { case (s, xs) => s -> xs.flatMap(_._2) })
  }

  private def write(df: DataFrame, j: Gen.IngestJob, ref: StoreRef): Unit = {
    val routing = if (j.byColumn) Map("routing.column" -> "key") else Map.empty
    df.write.format("graft-logstore").options(ref.opts ++ routing)
      .mode("append").save()
  }

  final class IngestFixture(ctx: Ctx, ref: StoreRef, jobs: Seq[Gen.IngestJob],
      frames: Seq[DataFrame], pre: Map[Int, Seq[Long]]) extends Fixture {
    def probeStore: StoreRef = ref
    def probeSchema: String = "key STRING, v LONG, __time__ TIMESTAMP"

    def measure(seconds: Double, tracer: Tracer): Outcome = {
      val watch = if (tracer.enabled) Some(new CompactionWatch(ref)) else None
      val lat = Seq.newBuilder[Double]
      var records = 0L
      var attempted = 0L
      var failed = 0L
      val done = scala.collection.mutable.ArrayBuffer[Int]()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline) {
        val j = jobs(i % jobs.size)
        val op = tracer.newOp()
        val s = System.nanoTime()
        attempted += 1
        try {
          tracer.span("op.ingest_job", op) {
            tracer.span("connector.append")(write(frames(i % jobs.size), j, ref))
          }
          records += j.keys.length
          done += i % jobs.size
          lat += (System.nanoTime() - s) / 1e6
        } catch { case scala.util.control.NonFatal(e) =>
          failed += 1
          System.err.println(s"[connbench] ingest job $i failed: $e")
        }
        watch.foreach(_.poll())
        i += 1
      }
      val busy = (System.nanoTime() - t0) / 1e9
      val ok = check(done.toSeq)
      Outcome(records, busy, lat.result(), attempted + 1,
        failed + (if (ok) 0 else 1), ok,
        watch.map(w => Map("store.manifest_compactions" -> w.compactions.toDouble))
          .getOrElse(Map.empty),
        Map("jobs" -> i.toString))
    }

    /** Per-shard record counts and value sums read back through the
      * connector equal those of the generated rows that were committed. */
    private def check(done: Seq[Int]): Boolean = {
      val want = scala.collection.mutable.Map[Int, (Long, Long)]()
      def add(s: Int, v: Long): Unit = {
        val (n, sum) = want.getOrElse(s, (0L, 0L)); want(s) = (n + 1, sum + v)
      }
      pre.foreach { case (s, vs) => vs.foreach(add(s, _)) }
      done.foreach { id =>
        val j = jobs(id)
        j.shards.indices.foreach(r => add(j.shards(r), j.values(r)))
      }
      val got = ctx.spark.read.format("graft-logstore").options(ref.opts)
        .schema("v LONG, __shard__ INT").load()
        .groupBy("__shard__").agg(count(lit(1)), sum("v")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val ok = got == want.toMap
      if (!ok) System.err.println(s"[connbench] ingest mismatch: got $got want ${want.toMap}")
      ok
    }
  }
}
