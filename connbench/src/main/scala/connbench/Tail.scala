package connbench

import graft.connector.LogServiceOffset
import graft.store.StagedSegment
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** `tail`: a streaming `withWatermark` + event-time `window` aggregate in
  * update mode from a 32-shard store into a `graft-logstore` sink,
  * triggered as soon as the previous batch ends. It first drains a
  * pre-loaded backlog at the default `maxOffsetsPerTrigger` (throughput =
  * backlog records / time in the batches that drained it), then tails an
  * open-loop generator that commits one segment per shard 10 times a
  * second. A commit is one manifest, so its 32 segments become visible
  * together: latency is taken once per commit, from its due time to the
  * finish of the first batch whose end offsets cover it on every shard. */
object Tail extends TailLoad("tail", shards = 32, backlogCommits = 32, minLiveMs = 5500L)

/** The `tail` shape at a given size. `minLiveMs` is the least the live
  * phase lasts, whatever the drain took: at 5.5 s p80 always has ten
  * commits beyond it (55 commits). */
class TailLoad(val name: String, shards: Int, backlogCommits: Int, minLiveMs: Long)
    extends Workload with PercentileLatency {
  val tailPercentile = 80.0
  val BacklogRecsPerSeg = 256
  val LiveRecsPerSeg = 20
  val CommitsPerSecond = 10
  val Keys = 16
  /** A commit slower than this counts as a failed operation. */
  val LatencyLimitMs = 5000.0
  /** A run whose generator ran later than this (2.5 periods) is not a
    * valid latency measurement and fails. */
  val GenLateLimitMs = 250.0
  val Schema = "k STRING, v LONG, __time__ TIMESTAMP"

  def setup(ctx: Ctx, rep: Int): Fixture = {
    val root = ctx.dir(s"$name-$rep").toString
    val src = StoreRef(root, "bench", "src")
    val sink = StoreRef(root, "bench", "sink")
    src.store.createStore(src.project, src.name, shards)
    sink.store.createStore(sink.project, sink.name, 1)
    val backlog = Gen.tailCommits(ctx.seed, name, 0, backlogCommits, shards,
      BacklogRecsPerSeg, CommitsPerSecond, Keys)
    backlog.zipWithIndex.foreach { case (c, i) => commit(src, c, s"b$i") }
    val f = new TailFixture(ctx, rep, src, sink, backlog)
    f.warmUp()
    f
  }

  /** Stage one segment per shard on up to 4 threads, then commit them
    * as one manifest. */
  private def commit(ref: StoreRef, c: Gen.Commit, name: String)
      (implicit tracer: Tracer = new Tracer(false)): Unit = {
    val store = ref.store
    val staged = tracer.span("store.stage") {
      c.segments.grouped((c.segments.size + 3) / 4).toSeq.map { part =>
        Future(part.map { case (s, rs) => store.stageSegment(ref.project, ref.name, s, name, rs) })(TailLoad.stagers)
      }.flatMap(Await.result(_, Duration.Inf))
    }
    tracer.span("store.commit")(store.commitSegments(ref.project, ref.name,
      staged: Seq[StagedSegment]))
  }

  /** The measured query: src stream → windowed aggregate → sink. */
  private def query(ctx: Ctx, src: StoreRef, sink: StoreRef, ckpt: String,
      availableNow: Boolean) = {
    val in = ctx.spark.readStream.format("graft-logstore").options(src.opts)
      .schema(Schema).load()
    val agg = in.withWatermark("__time__", "30 seconds")
      .groupBy(window(col("__time__"), "10 seconds").as("w"), col("k"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .select(col("w.start").as("ws"), col("k"), col("n"), col("sv"))
    val w = agg.writeStream.format("graft-logstore").options(sink.opts)
      .option("checkpointLocation", ckpt).outputMode("update")
    (if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else w).start()
  }

  final class TailFixture(ctx: Ctx, rep: Int, src: StoreRef, sink: StoreRef,
      backlog: Seq[Gen.Commit]) extends Fixture {
    def probeStore: StoreRef = src
    def probeSchema: String = Schema
    private val backlogEnd = backlogCommits.toLong * BacklogRecsPerSeg

    /** Run the query shape once to completion on a small scratch store. */
    def warmUp(): Unit = {
      val root = ctx.dir(s"$name-warm-$rep").toString
      val ws = StoreRef(root, "bench", "src")
      val wk = StoreRef(root, "bench", "sink")
      ws.store.createStore(ws.project, ws.name, 4)
      wk.store.createStore(wk.project, wk.name, 1)
      Gen.tailCommits(ctx.seed, "warm", 0, 4, 4, 10, CommitsPerSecond, Keys)
        .zipWithIndex.foreach { case (c, i) => commit(ws, c, s"w$i") }
      val q = query(ctx, ws, wk, s"$root/ckpt", availableNow = true)
      q.awaitTermination()
    }

    def measure(seconds: Double, tracer: Tracer): Outcome = {
      val liveCap = ((seconds * 1000 + minLiveMs) * CommitsPerSecond / 1000).toInt + 1
      val live = Gen.tailCommits(ctx.seed, name, backlogCommits, liveCap, shards,
        LiveRecsPerSeg, CommitsPerSecond, Keys)
      val gen = new OpenLoop(1000L / CommitsPerSecond, liveCap, i => {
        implicit val t: Tracer = tracer
        tracer.span("gen.append", tracer.newOp())(commit(src, live(i), s"l$i"))
      })
      val startMs = System.currentTimeMillis()
      val deadlineMs = startMs + (seconds * 1000).toLong
      val q = query(ctx, src, sink, ctx.work.resolve(s"$name-$rep/ckpt").toString,
        availableNow = false)
      try {
        // drain: wait for the first batch whose end covers the backlog
        var drainedAt = -1L
        while (drainedAt < 0) {
          if (q.exception.isDefined) throw q.exception.get
          drainedAt = q.recentProgress.find(p =>
            endsOf(p).exists(e => (0 until shards).forall(s =>
              e.getOrElse(s, 0L) >= backlogEnd))).map(finishMs).getOrElse(-1L)
          if (drainedAt < 0) Thread.sleep(5)
        }
        val drainS = (drainedAt - startMs) / 1e3
        // catch-up rate: backlog records over the time the query spent in
        // the batches that drained them (query start-up is not catch-up)
        val drainBusyS = q.recentProgress.filter(finishMs(_) <= drainedAt)
          .map(_.batchDuration).sum / 1e3
        // live: the generator runs on its own schedule until the deadline
        val liveStart = math.max(System.currentTimeMillis(), drainedAt) + 20
        gen.start(liveStart, math.max(deadlineMs, liveStart + minLiveMs))
        gen.join()
        q.processAllAvailable()
        val progress = q.recentProgress.toSeq
        q.stop()
        val issued = gen.issued
        val appends = (0 until issued).map { i =>
          Attribution.Append(gen.due(i),
            (0 until shards).map(s => s -> (backlogEnd + (i + 1L) * LiveRecsPerSeg)).toMap)
        }
        val batches = progress.flatMap(p => endsOf(p).map(e =>
          Attribution.Batch(finishMs(p), e)))
        val attr = Attribution.latencies(appends, batches)
        val lat = attr.latenciesMs
        val slow = lat.count(_ > LatencyLimitMs)
        val lateMax = if (gen.lateness.isEmpty) 0.0 else gen.lateness.max
        require(lateMax < GenLateLimitMs, s"generator ran ${lateMax} ms late " +
          s"(limit $GenLateLimitMs ms): latencies are not valid")
        val ok = check(live.take(issued))
        val liveProgress = progress.filter(p => finishMs(p) > liveStart)
        Outcome(backlogEnd * shards, drainBusyS, lat, appends.size.toLong + 1,
          slow + attr.uncovered + (if (ok) 0 else 1), ok,
          streamMetrics(liveProgress, progress.size) ++ Map(
            "gen.late_max_ms" -> lateMax,
            "gen.appends" -> appends.size.toDouble),
          Map("drain_s" -> f"$drainS%.3f", "commits" -> appends.size.toString,
            "gen_late_max_ms" -> f"$lateMax%.1f"))
      } finally if (q.isActive) q.stop()
    }

    /** The final reconciled sink aggregate (max per window and key over
      * every update emitted) equals the batch answer over everything the
      * generator committed. */
    private def check(liveDone: Seq[Gen.Commit]): Boolean = {
      val want = (backlog ++ liveDone).flatMap(_.segments.flatMap(_._2))
        .groupBy(r => ((r.time / 10) * 10L * 1000000L, r.contents("k")))
        .map { case (k, rs) => k -> (rs.size.toLong, rs.map(_.contents("v").toLong).sum) }
      val got = ctx.spark.read.format("graft-logstore").options(sink.opts)
        .schema("ws LONG, k STRING, n LONG, sv LONG").load()
        .groupBy("ws", "k").agg(max("n"), max("sv")).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      val ok = got == want
      if (!ok) System.err.println(s"[connbench] tail sink mismatch: " +
        s"${(got.toSet diff want.toSet).take(5)} vs ${(want.toSet diff got.toSet).take(5)}")
      ok
    }
  }

  private def endsOf(p: StreamingQueryProgress): Option[Map[Int, Long]] =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(LogServiceOffset.parse(_).shardOrdinals)

  private def finishMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration

  /** stream.* metrics over the live phase: per-batch means of the phase
    * durations (Spark reports whole milliseconds, whose median would read
    * the same from run to run) and the median batch size. */
  private def streamMetrics(live: Seq[StreamingQueryProgress],
      batches: Int): Map[String, Double] = {
    require(live.nonEmpty, s"$name: no batch ran in the live phase")
    def mean(f: StreamingQueryProgress => Double): Double = live.map(f).sum / live.size
    def dur(k: String)(p: StreamingQueryProgress): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Map(
      "stream.trigger_ms" -> mean(dur("triggerExecution")),
      "stream.latest_offset_ms" -> mean(dur("latestOffset")),
      "stream.planning_ms" -> mean(dur("queryPlanning")),
      "stream.wal_commit_ms" -> mean(dur("walCommit")),
      "stream.add_batch_ms" -> mean(dur("addBatch")),
      "stream.commit_offsets_ms" -> mean(dur("commitOffsets")),
      "stream.state_commit_ms" -> mean(p =>
        p.stateOperators.headOption.map(_.commitTimeMs.toDouble).getOrElse(0.0)),
      "stream.state_rows" -> live.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "stream.batches" -> batches.toDouble,
      "stream.rows_per_batch" -> Stats.median(live.map(_.numInputRows.toDouble)))
  }
}

object TailLoad {
  private lazy val stagers = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "connbench-stager"); t.setDaemon(true); t
    }))
}
