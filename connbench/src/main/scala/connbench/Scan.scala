package connbench

import graft.store.StagedSegment
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** `scan`: two clients each run a closed loop of batch queries over a
  * pre-built 16-shard store of a few hundred segments and ~200 delta
  * manifests. Every block of five queries a client runs holds each shape
  * once, in a seeded order:
  *   - `full`: typed full-schema aggregate grouped by key;
  *   - `narrow`: one-column projection (sum of `v`);
  *   - `range`: a `__time__` range that prunes to ~3% of the segments;
  *   - `json`: default schema, `__value__` parsed with `from_json`;
  *   - `stats`: count/min/max answered from the manifest (`LogStatScan`).
  * Every answer is compared with one computed from the generator. */
object Scan extends Workload with PercentileLatency {
  val name = "scan"
  val tailPercentile = 75.0
  val Shards = 16
  val Commits = 48
  val SegsPerCommit = 8
  val RecsPerSeg = 100
  val Keys = 32
  /** Commits a `range` query spans: 2 of 48, ~4% of the data. */
  val RangeCommits = 2
  val Shapes = Seq("full", "narrow", "range", "json", "stats")
  val TypedSchema = "k STRING, v LONG, w DOUBLE, s STRING, __time__ TIMESTAMP"
  /** Concurrent closed-loop clients: with one, an 8 s window holds too
    * few queries for a tail percentile. */
  val Clients = 2
  /** Blocks of the five shapes each set-up runs before it is done. */
  val WarmBlocks = 2

  private lazy val clients = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(Clients, (r: Runnable) => {
      val t = new Thread(r, "connbench-scan-client"); t.setDaemon(true); t
    }))

  def setup(ctx: Ctx, rep: Int): Fixture = {
    val ref = StoreRef(ctx.dir(s"scan-$rep").toString, "bench", "scan")
    val store = ref.store
    store.createStore(ref.project, ref.name, Shards)
    val commits = Gen.scanCommits(ctx.seed, Commits, SegsPerCommit, RecsPerSeg,
      Shards, Keys)
    commits.zipWithIndex.foreach { case (c, i) =>
      store.commitSegments(ref.project, ref.name, c.segments.map { case (s, rs) =>
        store.stageSegment(ref.project, ref.name, s, s"c$i", rs)
      }: Seq[StagedSegment])
    }
    val f = new ScanFixture(ctx, ref, commits)
    for (_ <- 1 to WarmBlocks; s <- Shapes)
      require(f.run(s, 0)._2, s"warm-up query $s gave a wrong answer")
    f
  }

  final class ScanFixture(ctx: Ctx, ref: StoreRef, commits: Seq[Gen.Commit])
      extends Fixture {
    def probeStore: StoreRef = ref
    def probeSchema: String = TypedSchema
    private val spark = ctx.spark
    private val recs = commits.flatMap(_.segments.flatMap(_._2))
    private def typed: DataFrame = spark.read.format("graft-logstore")
      .options(ref.opts).schema(TypedSchema).load()

    // ---- reference answers, from the generated records --------------
    private def key(r: graft.store.LogRecord) = r.contents("k")
    private def v(r: graft.store.LogRecord) = r.contents("v").toLong
    private val fullWant: String = recs.groupBy(key).toSeq.sortBy(_._1).map {
      case (k, rs) => s"$k|${rs.size}|${rs.map(v).sum}|" +
        s"${rs.map(_.contents("w").toDouble).max}|" +
        s"${rs.map(_.contents("s").length).max}|${rs.map(_.time).max}"
    }.mkString(";")
    private val narrowWant = recs.map(v).sum.toString
    private val jsonWant: String = recs.groupBy(key).toSeq.sortBy(_._1)
      .map { case (k, rs) => s"$k|${rs.map(v).sum}" }.mkString(";")
    private val statsWant = s"${recs.size}|${recs.map(_.time).min}|${recs.map(_.time).max}"
    private def rangeOf(c0: Int): (Int, Int) =
      (Gen.T0 + 60 * c0, Gen.T0 + 60 * (c0 + RangeCommits))
    private def rangeWant(c0: Int): (Long, String) = {
      val (a, b) = rangeOf(c0)
      val in = recs.filter(r => r.time >= a && r.time < b)
      (in.size.toLong, s"${in.size}|${in.map(v).sum}")
    }

    private def epochS(r: Row, i: Int): Long = r.getTimestamp(i).getTime / 1000

    /** Run one query; returns (records it delivered, answer correct). */
    def run(shape: String, c0: Int, tracer: Tracer = new Tracer(false)): (Long, Boolean) = {
      def rows(df: DataFrame): Array[Row] = {
        tracer.span("spark.plan")(df.queryExecution.executedPlan)
        tracer.span("spark.execute")(df.collect())
      }
      answer(shape, c0, rows)
    }

    private def answer(shape: String, c0: Int,
        rows: DataFrame => Array[Row]): (Long, Boolean) = shape match {
      case "full" =>
        val got = rows(typed.groupBy("k").agg(count(lit(1)), sum("v"), max("w"),
            max(length(col("s"))), max("__time__")))
          .sortBy(_.getString(0)).map { r =>
            s"${r.getString(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getDouble(3)}|" +
              s"${r.getInt(4)}|${epochS(r, 5)}"
          }.mkString(";")
        (recs.size.toLong, got == fullWant)
      case "narrow" =>
        val got = rows(typed.select("v").agg(sum("v"))).head.getLong(0).toString
        (recs.size.toLong, got == narrowWant)
      case "range" =>
        val (a, b) = rangeOf(c0)
        def ts(s: Int) = lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(s)))
        val r = rows(typed.filter(col("__time__") >= ts(a) && col("__time__") < ts(b))
          .agg(count(lit(1)), sum("v"))).head
        val (n, want) = rangeWant(c0)
        val got = s"${r.getLong(0)}|${if (r.isNullAt(1)) 0L else r.getLong(1)}"
        (n, got == want)
      case "json" =>
        val got = rows(spark.read.format("graft-logstore").options(ref.opts).load()
          .select(from_json(col("__value__"), "k STRING, v STRING", Map.empty[String, String]).as("j"))
          .groupBy(col("j.k")).agg(sum(col("j.v").cast("long"))))
          .sortBy(_.getString(0))
          .map(r => s"${r.getString(0)}|${r.getLong(1)}").mkString(";")
        (recs.size.toLong, got == jsonWant)
      case "stats" =>
        val df = typed.agg(count(lit(1)), min("__time__"), max("__time__"))
        val r = rows(df).head
        val pushed = df.queryExecution.executedPlan.toString
          .contains("stats-from-manifest")
        (0L, pushed && s"${r.getLong(0)}|${epochS(r, 1)}|${epochS(r, 2)}" == statsWant)
    }

    def measure(seconds: Double, tracer: Tracer): Outcome = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val t0 = System.nanoTime()
      val runs = (0 until Clients).map(c => Future(client(c, deadline, tracer))(clients))
        .map(Await.result(_, Duration.Inf))
      val busy = (System.nanoTime() - t0) / 1e9
      val failed = runs.map(_.failed).sum
      val byShape = runs.flatMap(_.byShape).groupMap(_._1)(_._2)
      Outcome(runs.map(_.records).sum, busy, runs.flatMap(_.byShape.map(_._2)),
        runs.map(_.attempted).sum, failed, failed == 0,
        notes = byShape.map { case (k, v) => s"${k}_p50_ms" -> f"${Stats.median(v)}%.1f" })
    }

    private case class ClientRun(records: Long, byShape: Seq[(String, Double)],
        attempted: Long, failed: Long)

    /** One client's closed loop; its shape order and ranges come from its
      * own seeded stream. */
    private def client(c: Int, deadline: Long, tracer: Tracer): ClientRun = {
      val rng = Gen.rng(ctx.seed, s"scan-mix-$c")
      val lat = Seq.newBuilder[(String, Double)]
      var records = 0L
      var attempted = 0L
      var failed = 0L
      var block = Seq.empty[String]
      while (System.nanoTime() < deadline) {
        if (block.isEmpty) block = shuffle(Shapes, rng)
        val shape = block.head
        block = block.tail
        val c0 = rng.nextInt(Commits - RangeCommits + 1)
        val s = System.nanoTime()
        attempted += 1
        try {
          val (n, ok) = tracer.span(s"op.scan_$shape", tracer.newOp())(run(shape, c0, tracer))
          lat += shape -> (System.nanoTime() - s) / 1e6
          records += n
          if (!ok) {
            failed += 1
            System.err.println(s"[connbench] scan $shape gave a wrong answer")
          }
        } catch { case scala.util.control.NonFatal(e) =>
          failed += 1
          System.err.println(s"[connbench] scan $shape failed: $e")
        }
      }
      ClientRun(records, lat.result(), attempted, failed)
    }
  }

  private def shuffle(xs: Seq[String], r: Rng): Seq[String] = {
    val a = xs.toArray
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}
