package connbench

import graft.connector.LogServiceOffset
import graft.operators.Dedup
import graft.store.{LogRecord, StagedSegment}
import org.apache.spark.sql.DataFrame

/** `dedup`: one client, a closed loop of chunk deduplications on a
  * 4-shard store. An operation commits a fresh chunk of generated
  * documents with planted near-duplicate clusters, reads exactly that
  * chunk back through the connector, pairs it as `Dedup.minHashLshPairs`
  * does (LSH candidates, then exact Jaccard >= 0.8 over cached shingle
  * hashes) and groups it with `Dedup.duplicateComponents`. Throughput is
  * documents / time in operations. A pass is ~40 small Spark jobs, so an
  * operation takes seconds and a window holds only a few: it runs until
  * the deadline and at least 5 chunks, so every run measures the same
  * count at least, and latency is one sample per chunk, reported as the
  * median and the slowest chunk. Every chunk's components must equal its
  * planted clusters. */
object DedupLoad extends DedupWorkload("dedup", minChunks = 5)

/** The `dedup` shape; a window runs until the deadline and at least
  * `minChunks` chunks (~2.3 s each on 4 cores). */
class DedupWorkload(val name: String, minChunks: Int) extends Workload {
  val tailLabel = "max"
  def latencyMs(xs: Seq[Double]): (Double, Double) = (Stats.median(xs), xs.max)
  val Shards = 4
  /** Base documents per chunk; with 1-3 copies of every 4th base a
    * chunk holds ~1,000 documents. */
  val ChunkBases = 800
  val DupEvery = 4
  val Threshold = 0.8
  /** Doc ids of chunk k start at k * IdStride + 1. */
  val IdStride = 10000L
  val Schema = "doc_id LONG, text STRING"

  def setup(ctx: Ctx, rep: Int): Fixture = {
    val ref = StoreRef(ctx.dir(s"$name-$rep").toString, "bench", "docs")
    ref.store.createStore(ref.project, ref.name, Shards)
    val f = new DedupFixture(ctx, ref)
    f.warmUp()
    f
  }

  /** Commit a document group: one segment per shard, doc_id mod shards. */
  private def append(ref: StoreRef, g: Gen.DocGroup, name: String)
      (implicit tracer: Tracer): Unit = {
    val store = ref.store
    val staged = tracer.span("store.stage") {
      g.docs.groupBy(d => (d.id % Shards).toInt).toSeq.sortBy(_._1).map { case (s, ds) =>
        store.stageSegment(ref.project, ref.name, s, name, ds.map(d =>
          LogRecord(Gen.T0, "", "", Map.empty,
            Map("doc_id" -> d.id.toString, "text" -> d.text))))
      }
    }
    tracer.span("store.commit")(store.commitSegments(ref.project, ref.name,
      staged: Seq[StagedSegment]))
  }

  final class DedupFixture(ctx: Ctx, ref: StoreRef) extends Fixture {
    def probeStore: StoreRef = ref
    def probeSchema: String = Schema
    private val spark = ctx.spark
    private var candidatePairs = 0L
    private var verifiedPairs = 0L
    /** Chunks committed so far (the warm-up takes the first). */
    private var chunks = 0

    /** One chunk, deduplicated as measured. */
    def warmUp(): Unit =
      if (loop(0L, 1, new Tracer(false)).failed > 0)
        throw new IllegalStateException("warm-up dedup gave wrong components")

    /** Docs with ordinals in [from, until) per shard, via the connector. */
    private def docs(from: Map[Int, Long], until: Map[Int, Long]): DataFrame = {
      def off(m: Map[Int, Long]) = LogServiceOffset(ref.project, ref.name,
        until.keys.map(s => s -> m.getOrElse(s, 0L)).toMap).json()
      spark.read.format("graft-logstore").options(ref.opts)
        .option("startingoffsets", off(from)).option("endingoffsets", off(until))
        .schema(Schema).load()
    }

    /** One dedup pass, the same program whether traced or not: the
      * composition `minHashLshPairs` makes, with the candidate and pair
      * tables cached and counted so each kernel's span holds its own work
      * (candidates include the connector read and the bands; verify
      * includes the shingle hashing). True when the components are the
      * planted clusters. */
    private def pass(from: Map[Int, Long], until: Map[Int, Long],
        want: Seq[Set[Long]], tracer: Tracer): Boolean = {
      val d = docs(from, until)
      val sh = Dedup.docShingleHashes(d).cache()
      val cand = Dedup.minHashLshCandidates(d).cache()
      candidatePairs += tracer.span("ops.candidates")(cand.count())
      val pairs = Dedup.verifyCandidates(cand, sh, Threshold).cache()
      verifiedPairs += tracer.span("ops.verify")(pairs.count())
      val comps = tracer.span("ops.components")(Dedup.duplicateComponents(pairs).collect())
      Seq(sh, cand, pairs).foreach(_.unpersist())
      val got = comps.groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).toSet).toSet
      val ok = got == want.toSet
      if (!ok) System.err.println(s"[connbench] dedup mismatch: ${got.size} components, " +
        s"${want.size} planted; extra ${(got diff want.toSet).take(3)} " +
        s"missing ${(want.toSet diff got).take(3)}")
      ok
    }

    /** The closed loop: commit the next chunk and deduplicate exactly
      * that chunk; until the deadline and at least `minChunks` times. */
    private def loop(deadline: Long, minChunks: Int, tracer: Tracer): Outcome = {
      implicit val t: Tracer = tracer
      candidatePairs = 0L
      verifiedPairs = 0L
      val lat = Seq.newBuilder[Double]
      var busyNs = 0L
      var docsDone = 0L
      var attempted = 0L
      var failed = 0L
      do {
        chunks += 1
        val k = chunks
        val g = Gen.docGroup(ctx.seed, k, k * IdStride + 1, ChunkBases, DupEvery)
        val from = ref.shardIds.map(s => s -> ref.store.shardEnd(ref.project, ref.name, s)).toMap
        val until = g.docs.groupBy(d => (d.id % Shards).toInt).foldLeft(from) {
          case (acc, (s, ds)) => acc.updated(s, acc(s) + ds.size)
        }
        attempted += 1
        val t0 = System.nanoTime()
        val ok = try tracer.span("op.dedup_chunk", tracer.newOp()) {
            append(ref, g, s"c$k")
            pass(from, until, g.clusters, tracer)
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[connbench] dedup chunk $k failed: $e"); false }
        val ns = System.nanoTime() - t0
        busyNs += ns
        if (!ok) failed += 1
        docsDone += g.docs.size
        lat += ns / 1e6
      } while (System.nanoTime() < deadline || attempted < minChunks)
      def seconds(span: String) = tracer.durationsMs(span).sum / 1e3
      val ops =
        if (!tracer.enabled) Map.empty[String, Double]
        else Map(
          "ops.candidates_s" -> seconds("ops.candidates"),
          "ops.verify_s" -> seconds("ops.verify"),
          "ops.components_s" -> seconds("ops.components"),
          "ops.candidate_pairs" -> candidatePairs.toDouble,
          "ops.verified_pairs" -> verifiedPairs.toDouble,
          // base: every candidate pair of the window
          "ops.verify_yield" -> verifiedPairs.toDouble / candidatePairs)
      Outcome(docsDone, busyNs / 1e9, lat.result(), attempted, failed, failed == 0,
        ops, Map("chunk_ms" -> lat.result().map(x => f"$x%.0f").mkString(",")))
    }

    def measure(seconds: Double, tracer: Tracer): Outcome =
      loop(System.nanoTime() + (seconds * 1e9).toLong, minChunks, tracer)
  }
}
