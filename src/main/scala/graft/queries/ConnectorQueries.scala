package graft.queries

import graft.Tables._
import graft.store.EmbeddedLogStore
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import scala.collection.concurrent.TrieMap

/** End-to-end connector queries: the events table is ingested into the
  * embedded log store through the DSv2 write path, read back through the
  * DSv2 scan, and aggregated — so scan, converters, metadata columns,
  * JSON packing and shard routing are all on the oracle-checked path
  * (the oracle runs on the original events parquet; any loss or
  * duplication in the connector breaks the hash match).
  */
object ConnectorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** One-line component summary of the MOST RECENTLY drained streaming
    * query (batch count + summed durationMs per phase). Bench appends
    * it to each streaming rep's stderr trace so a slow SESSION in a
    * driver run self-attributes from the run log — scheduler overhead
    * (trig - add), checkpoint fsync (wal/off), or executor work (add)
    * — without needing a local reproduction of the session's mode
    * (r16: c17 measured 1.4s/2.9s/7.3s across three sessions on
    * identical code, and min-of-reps cannot see a session-sticky
    * cause). */
  @volatile var lastDrainStats: String = ""

  /** Await an AvailableNow drain and FAIL LOUDLY on timeout: reading
    * the sink while the query is still running returns a partial
    * result that surfaces downstream as a confusing oracle mismatch
    * instead of the actual problem (a slow or hung drain). The default
    * 120s covers every catalog query at bench scale with a wide
    * margin; stress harnesses driving 100x corpora through the
    * streaming rows raise SPARK_GRAFT_DRAIN_TIMEOUT_MS instead of
    * weakening the guard. */
  private def drain(q: StreamingQuery,
      timeoutMs: Long = sys.env.getOrElse(
        "SPARK_GRAFT_DRAIN_TIMEOUT_MS", "120000").toLong): Unit = {
    val done = q.awaitTermination(timeoutMs)
    if (!done) {
      try q.stop()
      finally throw new IllegalStateException(
        s"streaming drain did not terminate within ${timeoutMs}ms " +
          s"(query=${q.name}, id=${q.id}) — sink contents would be partial")
    }
    val progs = q.recentProgress
    def d(k: String): Long = progs.map(p =>
      Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum
    // State-operator split (zero for stateless queries):
    // upd/rm/cmt split addBatch's state-backend share out of the
    // executor share; stRows pins the state population the rep carried.
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long)
        : Long = progs.flatMap(_.stateOperators.map(f)).sum
    val stRows = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
    lastDrainStats = s"b=${progs.length} trig=${d("triggerExecution")} " +
      s"add=${d("addBatch")} wal=${d("walCommit")} off=${d("commitOffsets")} " +
      s"plan=${d("queryPlanning")} " +
      s"upd=${st(_.allUpdatesTimeMs)} rm=${st(_.allRemovalsTimeMs)} " +
      s"cmt=${st(_.commitTimeMs)} " +
      s"stRows=${if (stRows.isEmpty) 0L else stRows.max}"
  }

  /** Every c-query backs its embedded store / checkpoint with a fresh
    * temp directory; the shared ingest/c5Source/c9Source stores
    * additionally live for the whole session by design (immutable,
    * one ingest per sf dir). A single JVM shutdown hook deletes them
    * all best-effort so a long-lived session reusing many sf dirs
    * doesn't leave unbounded /tmp litter behind. */
  private val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private lazy val cleanupHookInstalled: Unit = {
    sys.addShutdownHook {
      tempRoots.forEach { root =>
        try {
          Files.walk(root).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
        } catch { case _: Exception => () }
      }
    }
    ()
  }

  private[queries] def tempDir(prefix: String): String = {
    cleanupHookInstalled
    val p = Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p.toString
  }

  /** A new store `proj`/`name` of `shards` shards under its own temp
    * root; returns the reader/writer options that address it. Store
    * maintenance opens the store from `store.root`. */
  private[queries] def freshStore(name: String, shards: Int = 1): Map[String, String] = {
    val root = tempDir(s"graft-logstore-$name")
    new EmbeddedLogStore(root).createStore("proj", name, shards)
    Map("store.root" -> root, "store.project" -> "proj", "store.name" -> name)
  }

  /** Isolated session for a streaming leg, with shuffle/state
    * parallelism sized to the leg's actual volume. Stateful operators
    * open + commit one state-store instance per shuffle partition per
    * micro-batch, so on the shared session's catalog-wide parallelism
    * (32) a few hundred rows of session/dedup/update state pay 32
    * stores x N triggers of fixed overhead — the dominant cost of the
    * c-family at bench scale, none of it operator work. Partition count
    * is not semantic (the oracle hashes content), and at production
    * scale the same knob sizes UP with the state volume; per-query
    * admission/parallelism sizing is exactly the configuration
    * envelope the reference manages through its own per-source config
    * (SURVEY §2 O4/O12). The derived session shares the SparkContext;
    * each run still gets a fresh checkpoint + sink (see runToSink). */
  private def streamSession(spark: SparkSession, parts: Int = 4): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s2
  }

  /** The rest of a streaming leg: `out` (a streaming frame, built on the
    * leg's stream session) runs in output `mode` into a fresh one-shard
    * sink under a fresh checkpoint with Trigger.AvailableNow, is
    * drained, and the sink is read back under `schema` on `spark` — the
    * caller's session, not the stream's.
    *
    * With `perBatch`, every micro-batch goes through foreachBatch:
    * transformed, stamped with its `batch_id`, and appended through the
    * batch write path; the read-back then ends with `batch_id LONG`.
    * Such a leg reconciles by last emission, and its claim that state
    * crossed trigger boundaries is vacuous if pacing collapsed to one
    * trigger, so at least two distinct batch ids must reach the sink. */
  private[queries] def runToSink(spark: SparkSession, out: DataFrame, name: String,
      mode: String, schema: String,
      perBatch: Option[DataFrame => DataFrame] = None): DataFrame = {
    val sinkOpts = freshStore(s"${name}out")
    val writer = out.writeStream
      .outputMode(mode)
      .option("checkpointLocation", tempDir(s"graft-$name-ckpt"))
      .trigger(Trigger.AvailableNow())
    drain(perBatch match {
      case None => writer.format("graft-logstore").options(sinkOpts).start()
      case Some(f) => writer.foreachBatch { (batch: DataFrame, batchId: Long) =>
        f(batch).withColumn("batch_id", lit(batchId))
          .write.format("graft-logstore").options(sinkOpts)
          .mode("append").save()
      }.start()
    })
    val sink = spark.read.format("graft-logstore").options(sinkOpts)
      .schema(if (perBatch.isEmpty) schema else s"$schema, batch_id LONG")
      .load()
    if (perBatch.isDefined)
      require(sink.select(col("batch_id")).distinct().count() >= 2,
        s"$name expected multiple micro-batches; pacing produced fewer than 2")
    sink
  }

  /** Each key's LAST emission: `values` of the row with the largest
    * `batch_id` per `keys` — the reconcile for Update-mode results that
    * are not monotone in the growing state. */
  private def lastEmission(df: DataFrame, keys: Seq[String],
      values: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max(struct((col("batch_id") +: values.map(col)): _*)).as("m"))
      .select(keys.map(col) ++ values.map(v => col(s"m.$v").as(v)): _*)

  /** Admission budget for ~3 micro-batches over `total` records at any
    * scale: enough to prove state carries across triggers without
    * paying per-trigger overhead 30x over. */
  private[queries] def threeBatches(total: Long): String =
    math.max(1L, total / 3 + 1).toString

  private val eventCounts = TrieMap.empty[(SparkSession, String), Long]

  /** Row count of the sf dir's events table, once per (session, dir). */
  private def eventCount(spark: SparkSession, dir: String): Long =
    eventCounts.getOrElseUpdate((spark, dir), t(spark, dir, "events").count())

  def queries: Map[String, Q] = Map(
    "c1_logstore_roundtrip" -> c1,
    "c2_logstore_json_value" -> c2,
    "c3_stream_hourly" -> c3,
    "c4_split_reroute" -> c4,
    "c5_stream_dedup" -> c5,
    "c6_snapshot_read" -> c6,
    "c7_stream_enrich" -> c7,
    "c8_incremental_read" -> c8,
    "c9_stream_sessions" -> c9,
    "c10_optimize_compact" -> c10,
    "c11_retention_expire" -> c11,
    "c12_stream_kmv" -> c12,
    "c13_stream_cms" -> c13,
    "c14_stream_hll" -> c14,
    "c15_stream_minhash" -> c15,
    "c16_stream_kll" -> c16,
    "c17_stream_bloom" -> c17,
    "c18_stream_attribution" -> c18,
    "c19_stream_anomaly" -> c19,
    "c20_stream_dropdup_ttl" -> c20,
    "c21_stream_asof_enrich" -> c21,
    "c22_stream_timer_sessions" -> c22,
    "c23_stream_ann_route" -> c23
  )

  /** Queries that execute a Structured Streaming query (micro-batch
    * scheduler in the timed path). Bench keys its streaming rep
    * protocol (rep floor 5, two-flat convergence) on THIS set, not the
    * `c` name prefix: the family also contains pure-batch members
    * (c1/c2/c6/c8/c10/c11) whose wall time has no scheduler noise and
    * should not pay the extra reps. Kept next to `queries` so a new
    * entry can't silently miss classification — c4 is the cautionary
    * case (streaming, but no `_stream_` in its name), and c19 streams
    * via its internal c3 run. */
  val streamingQueries: Set[String] = Set(
    "c3_stream_hourly", "c4_split_reroute", "c5_stream_dedup",
    "c7_stream_enrich", "c9_stream_sessions", "c12_stream_kmv",
    "c13_stream_cms", "c14_stream_hll", "c15_stream_minhash",
    "c16_stream_kll", "c17_stream_bloom", "c18_stream_attribution",
    "c19_stream_anomaly", "c20_stream_dropdup_ttl",
    "c21_stream_asof_enrich", "c22_stream_timer_sessions",
    "c23_stream_ann_route")

  /** Streaming alerting pipeline (c19): the log-monitoring use case
    * end-to-end — c3's streaming hourly counts (micro-batch
    * aggregation through the store sink, update-mode reconcile)
    * feeding q33's integer-exact two-sigma anomaly test. The flag set
    * must equal the batch replay over the raw events, so a count lost
    * or double-reconciled anywhere in the streaming leg flips a flag
    * and breaks the hash. In production the stats side runs on a
    * trailing window of the hour grid; the fixture's grid is small
    * enough to take whole. */
  private def c19: Q = (spark, dir) => {
    val hourly = c3(spark, dir)
      .select(col("event_type"), col("hour_start"), col("n_events").as("n"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s"), sum(Relational.sqDec(col("n"))).as("ss"),
        count(lit(1)).as("h"))
    hourly.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_start"), col("n"),
        Relational.twoSigmaFlag(col("n"), col("h"), col("s"), col("ss"))
          .as("is_anomaly"))
  }

  /** Stream-STREAM interval join on the oracle gate (c18): q13's
    * view→purchase attribution run as a watermarked self-join of the
    * log-store STREAM — the one stateful-join shape the c-family
    * hadn't pinned against SQL. Both sides read the same store; the
    * join keeps per-user view/purchase state across the forced
    * multi-trigger pacing, so a pair whose sides land in DIFFERENT
    * micro-batches only appears if the join state survived the
    * trigger boundary (the thing this row proves). The watermark
    * delay is set far past the fixture's time range so nothing is
    * dropped and the emitted pair set must equal the batch interval
    * join EXACTLY — q13's oracle, verbatim. At production scale the
    * same query runs with a real delay and the state is
    * watermark-bounded; completeness-vs-latency is then the
    * documented trade, not a correctness change.
    *
    * Scale: state is two per-user event lists pruned by watermark;
    * the join shuffles both sides on user_id once. */
  private def c18: Q = (spark, dir) => {
    val s2 = streamSession(spark)
    // An INNER stream-stream join emits a pair the moment its later
    // side arrives — nothing in the sink is watermark-gated, so the
    // two trailing no-data batches (which exist to advance the
    // watermark for state eviction) only pay full state-commit rounds
    // across the join's 4 stores x 4 partitions: b=5 -> b=3,
    // cmt 4.5s -> 2.6s, wall ~4.4 -> ~3.1s/rep measured at sf0.1.
    // Watermark-gated-output queries (c9/c22) keep the default.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val stream = s2.readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      .option("maxoffsetspertrigger", threeBatches(eventCount(spark, dir)))
      .schema("event_id LONG, user_id LONG, event_type STRING, ts LONG")
      .load()
    val views = stream.filter(col("event_type") === "view")
      .select(col("user_id"), timestamp_micros(col("ts")).as("v_time"))
      .withWatermark("v_time", "30 days")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), timestamp_micros(col("ts")).as("p_time"))
      .withWatermark("p_time", "30 days")
    val pairs = views.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_time") > col("v_time") &&
          col("p_time") <= col("v_time") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), unix_micros(col("v_time")).as("v_us"),
        unix_micros(col("p_time")).as("p_us"))
    runToSink(spark, pairs, "c18", "append", "user_id LONG, v_us LONG, p_us LONG",
        perBatch = Some(identity))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_conversions"))
  }

  /** Probe ids for c17: half drawn from the live user_id range, half
    * far outside it — the filter must answer true for every inserted
    * id (no false negatives, the Bloom contract) and the replay must
    * agree bit-for-bit on the rest (including any false positive). */
  private val C17Probes: Seq[Long] =
    (0L to 7L) ++ (0 until 8).map(i => 900000001L + 7L * i)

  /** Streaming Bloom-filter state (c17): the decontamination FILTER as
    * streaming state — d11's Bloom (same n=4096/fpp=1e-4 sizing, same
    * xxhash64 + murmur-fmix Kirsch–Mitzenmacher pair) built over
    * user_ids inside a streaming aggregation, its bit array serialized
    * through the state store across forced multi-trigger pacing. Each
    * emission probes the CURRENT filter against a fixed probe set via
    * the codegen'd membership expression; bits only get set, so each
    * (key, probe)'s LAST emission reflects the full stream — and must
    * equal the d11-style position replay over ALL events (13 bit
    * positions per distinct user; probe true iff all 13 of its
    * positions are present). Lost state shows up as a false NEGATIVE
    * on an inserted id, which the Bloom contract forbids.
    *
    * Scale: ~10 KB of state per key regardless of stream length — the
    * streaming form of the broadcast decontamination filter (d11), so
    * a live ingest can maintain tomorrow's scan-side filter online. */
  private def c17: Q = (spark, dir) => {
    import graft.functions.Bloom
    val filters = streamSession(spark).readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      .option("maxoffsetspertrigger", threeBatches(eventCount(spark, dir)))
      .schema("user_id LONG, event_type STRING").load()
      .groupBy(col("event_type"))
      .agg(Bloom.bloom_build(col("user_id"), 4096L, 1e-4).as("bf"))
    val probed = (batch: DataFrame) =>
      batch.select(col("event_type"),
          explode(array(C17Probes.map(p =>
            struct(lit(p).as("probe_uid"),
              Bloom.bloom_might_contain(col("bf"), lit(p)).as("might"))): _*))
            .as("pr"))
        .select(col("event_type"), col("pr.probe_uid").as("probe_uid"),
          col("pr.might").as("might"))
    lastEmission(
      runToSink(spark, filters, "c17", "update",
        "event_type STRING, probe_uid LONG, might BOOLEAN", perBatch = Some(probed)),
      Seq("event_type", "probe_uid"), Seq("might"))
  }

  /** Streaming HLL distinct-count state on the oracle gate (c14): the
    * third sketch family as streaming state — HLL registers built
    * inside a streaming aggregation, serialized into the state store,
    * carried across forced multi-trigger pacing. UNLIKE c12 (KMV) and
    * c13 (CMS), the HLL ESTIMATE is not monotone in the growing
    * register set: the linear-counting → raw-estimator crossover can
    * step DOWN as registers fill, so a max() reconcile over Update
    * emissions is unsound. Instead each micro-batch's emission is
    * stamped with its batch id (foreachBatch → the idempotent batch
    * write path) and the final value is each key's LAST emission —
    * argmax(batch_id) — which must equal the exact register-replay
    * over ALL events (k3's oracle): registers only grow, so the last
    * emission IS the full-state estimate iff no state was lost or
    * double-counted across triggers and the binary sketch round-
    * tripped the state store intact. */
  private def c14: Q = (spark, dir) => {
    import graft.functions.Sketches.{hll_build, hll_estimate}
    val estimates = streamSession(spark).readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      .option("maxoffsetspertrigger", threeBatches(eventCount(spark, dir)))
      .schema("user_id LONG, event_type STRING").load()
      .groupBy(col("event_type"))
      .agg(hll_estimate(hll_build(col("user_id"))).as("approx_users"))
    lastEmission(
      runToSink(spark, estimates, "c14", "update",
        "event_type STRING, approx_users LONG", perBatch = Some(identity)),
      Seq("event_type"), Seq("approx_users"))
  }

  /** Streaming KLL quantile state (c16): the LAST of the five sketch
    * families as streaming state — k5's compaction-free KLL (capacity
    * 2^17 > per-key cardinality at oracle scale, so the buffer is the
    * exact sorted-sample multiset) built inside a streaming
    * aggregation. Like the HLL estimate (c14), a quantile of a GROWING
    * sample is not monotone, so each micro-batch's emission is stamped
    * with its batch id and the final value is each key's LAST emission
    * — which must equal the exact-rank replay over ALL events: right
    * iff no state was lost, no batch double-counted, and the sketch
    * binary survived the state store round-trip.
    *
    * Scale: at realistic capacity the same state is a bounded KLL
    * buffer per key (k1's config); the compaction-free capacity here
    * is what makes the STREAMING path itself oracle-checkable. */
  private def c16: Q = (spark, dir) => {
    import graft.functions.Sketches.{kll_build, kll_quantile}
    val quantiles = streamSession(spark).readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      .option("maxoffsetspertrigger", threeBatches(eventCount(spark, dir)))
      .schema("event_type STRING, value DOUBLE").load()
      .groupBy(col("event_type"))
      .agg(kll_quantile(kll_build(col("value"), 1 << 17), 0.25).as("p25_value"),
        kll_quantile(kll_build(col("value"), 1 << 17), 0.5).as("p50_value"),
        kll_quantile(kll_build(col("value"), 1 << 17), 0.95).as("p95_value"))
    lastEmission(
      runToSink(spark, quantiles, "c16", "update",
        "event_type STRING, p25_value DOUBLE, p50_value DOUBLE, p95_value DOUBLE",
        perBatch = Some(identity)),
      Seq("event_type"), Seq("p25_value", "p50_value", "p95_value"))
  }

  /** Streaming MinHash signature state (c15): the fourth sketch family
    * as streaming state — the per-key element-wise-min signature that
    * feeds MinHash-LSH dedup (d3), built INSIDE a streaming
    * aggregation via the same [[graft.functions.MinHashAgg]] the batch
    * path uses. Each row contributes splitmix64(xxhash64(user_id) + i)
    * for i < 8 (pure codegen'd column arithmetic — no UDF on the hot
    * path); the Aggregator's long[8] buffer serializes into the state
    * store and is carried across forced multi-trigger pacing.
    * Element-wise mins only DECREASE as state grows, so each key's
    * LAST emission (argmax batch_id over the Update-mode stream) must
    * equal the signature of the FULL stream — which the oracle
    * recomputes value-for-value from the events parquet through the
    * proven u64 replay machinery (xxhash64 layers → +i → splitmix
    * layers → signed min per permutation). A signature row that
    * reflects only the final micro-batch (lost state), a double-
    * counted batch (mins are idempotent — but a missing one isn't),
    * or a buffer that didn't round-trip the state store intact all
    * break the hash.
    *
    * Scale: this is the streaming form of the d3 sketch side — one
    * 8-long array per key in state, never the shingle inverted index;
    * at 100 TB the state is |keys|x64 bytes and the per-row work is
    * 8 codegen'd mixes. */
  private def c15: Q = (spark, dir) => {
    import graft.functions.MinHashAgg
    val K = 8
    // splitmix64 finalizer via the native wrapping expression (ANSI
    // mode makes built-in Long +/* THROW on overflow, but a hash
    // mixer's arithmetic wraps by definition) — bit-identical to
    // Dedup.splitmix64 / CmsOps.mix, and codegen'd
    import graft.functions.SplitMix64Expr.splitmix64
    val sig = array((0 until K).map(i =>
      splitmix64(xxhash64(col("user_id")), lit(i.toLong))): _*)
    val sigs = streamSession(spark).readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      .option("maxoffsetspertrigger", threeBatches(eventCount(spark, dir)))
      .schema("user_id LONG, event_type STRING").load()
      .withColumn("sig", sig)
      .groupBy(col("event_type"))
      .agg(MinHashAgg.minSig(K)(col("sig")).as("sig"))
    val perPerm = (batch: DataFrame) =>
      batch.select(col("event_type"),
        posexplode(col("sig")).as(Seq("perm", "min_hash")))
    lastEmission(
      runToSink(spark, sigs, "c15", "update",
        "event_type STRING, perm INT, min_hash LONG", perBatch = Some(perPerm)),
      Seq("event_type", "perm"), Seq("min_hash"))
  }

  /** Streaming CMS frequency state on the oracle gate (c13): the c12
    * idiom with the POINT-FREQUENCY sketch — a count-min counter array
    * built inside a streaming aggregation, so the 64 KiB buffer is
    * streaming state that must serialize into the state store and
    * carry across the forced multi-trigger pacing. CMS counters only
    * grow, so the per-trigger Update emissions are monotone per key and
    * reconcile by max(); the final probe estimates must equal the exact
    * CMS replay over ALL events (the k2 cell machinery, grouped by
    * event_type) — state lost at a trigger boundary or rows
    * double-counted on recovery break the hash. Probes cover two mid
    * users, the heaviest user, and an absent id (whose estimate is
    * whatever its cells collided into — replayed exactly, not assumed
    * zero). */
  private def c13: Q = (spark, dir) => {
    import graft.functions.Sketches.{cms_build, cms_query}
    val probes = C13Probes.map(u => cms_query(col("sk"), lit(u)).as(s"est_u$u"))
    val estimates = streamSession(spark).readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      .option("maxoffsetspertrigger", threeBatches(eventCount(spark, dir)))
      .schema("user_id LONG, event_type STRING").load()
      .groupBy(col("event_type"))
      .agg(cms_build(col("user_id")).as("sk"))
      .select(col("event_type") +: probes: _*)
    val reconcile = C13Probes.map(u => max(col(s"est_u$u")).as(s"est_u$u"))
    runToSink(spark, estimates, "c13", "update",
        "event_type STRING, " + C13Probes.map(u => s"est_u$u LONG").mkString(", "))
      .groupBy(col("event_type"))
      .agg(reconcile.head, reconcile.tail: _*)
  }

  private val C13Probes = Seq(7L, 41L, 149L, 999999L)

  /** Streaming sketch state on the oracle gate (c12): per-event-type
    * KMV bottom-k sketches built INSIDE a streaming aggregation —
    * the TypedImperativeAggregate's buffer is streaming state, so the
    * sketch must serialize into the state store and carry across
    * micro-batch boundaries (pacing forces several triggers). The
    * estimate is MONOTONE in the growing set (the k-th smallest hash
    * only decreases; below capacity the exact count only grows), so
    * Update-mode emissions reconcile by max() per key, and the final
    * value must equal the batch estimate over all data — which the
    * oracle recomputes exactly (distinct-hash ranks + the same IEEE
    * estimator, the k6 machinery on the event stream). Any sketch
    * state lost or double-counted across triggers breaks the hash. */
  private def c12: Q = (spark, dir) => {
    import graft.functions.Sketches.{kmv_build, kmv_estimate}
    val estimates = streamSession(spark).readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      .option("maxoffsetspertrigger", threeBatches(eventCount(spark, dir)))
      .schema("user_id LONG, event_type STRING").load()
      .groupBy(col("event_type"))
      .agg(kmv_estimate(kmv_build(col("user_id"), 256)).as("approx_users"))
    runToSink(spark, estimates, "c12", "update", "event_type STRING, approx_users DOUBLE")
      .groupBy(col("event_type"))
      .agg(max(col("approx_users")).as("approx_users"))
  }

  /** Time-based retention on the oracle gate (c11): two time-ordered
    * commits (cold half, then hot half), expire everything before the
    * cutoff, and the scan over the survivors must hash-match DuckDB's
    * time-filtered aggregate over the original parquet — records
    * resurrected, lost beyond the cutoff, or double-dropped all break
    * it. The in-query require pins that retention actually moved the
    * per-shard bases (a silently inert expiry would otherwise pass
    * only because nothing changed). */
  private def c11: Q = (spark, dir) => {
    val cutoff = 1705363200 // 2024-01-16 00:00:00 UTC, mid-corpus
    val opts = freshStore("c11", 2)
    val store = new EmbeddedLogStore(opts("store.root"))
    val ev = t(spark, dir, "events")
      .select(pmod(col("user_id"), lit(2)).cast(IntegerType).as("__shard__"),
        epochS(col("ts")).cast(IntegerType).as("__time__"),
        col("event_id"), col("event_type"), col("value"))
    ev.filter(col("__time__") < cutoff)
      .write.format("graft-logstore").options(opts).mode("append").save()
    ev.filter(col("__time__") >= cutoff)
      .write.format("graft-logstore").options(opts).mode("append").save()
    val expired = store.expireSegments("proj", "c11", cutoff)
    require(expired > 0 &&
      store.snapshot("proj", "c11").starts.values.forall(_ > 0),
      s"retention expired $expired segments but moved no base")
    spark.read.format("graft-logstore").options(opts)
      .schema("event_id LONG, event_type STRING, value DOUBLE")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum6(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** Segment compaction on the oracle gate (c10): the events table is
    * ingested in 8 separate commits (16 small segments — the shape a
    * streaming sink leaves behind), OPTIMIZE bin-packs them (16 → 2,
    * asserted in-query so a silently inert compactor fails the gate),
    * and the aggregate over the REWRITTEN layout must still hash-match
    * DuckDB over the original parquet — any record lost or duplicated
    * by the rewrite breaks it (ordinal/order stability is pinned by
    * StoreCompactionSpec). */
  private def c10: Q = (spark, dir) => {
    val opts = freshStore("c10", 2)
    val store = new EmbeddedLogStore(opts("store.root"))
    val ev = t(spark, dir, "events")
      .select(pmod(col("user_id"), lit(2)).cast(IntegerType).as("__shard__"),
        epochS(col("ts")).cast(IntegerType).as("__time__"),
        col("event_id"), col("user_id"), col("event_type"), col("value"))
    for (k <- 0 until 8)
      ev.filter(col("event_id") % 8 === k)
        .write.format("graft-logstore").options(opts).mode("append").save()
    def nSegments = {
      val snap = store.snapshot("proj", "c10")
      snap.shards.map(s => snap.shard(s.id).segments.size).sum
    }
    val before = nSegments
    store.compactSegments("proj", "c10")
    val after = nSegments
    require(after < before && after <= 2,
      s"OPTIMIZE left $after of $before segments")
    spark.read.format("graft-logstore").options(opts)
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum6(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** Inactivity gap of the c9/c22 sessions, in seconds; their oracles
    * break islands on it too. */
  private val SessionGapS = 1800L

  private val c9Ingested = TrieMap.empty[(SparkSession, String), Map[String, String]]

  /** Shared c9/c21/c22 source: the events table (+ a far-future flush
    * sentinel) on two shards, __time__ = epoch seconds of ts. The
    * store is immutable and deterministic per (session, sf dir), so it
    * is ingested once; each run still gets a fresh sink + checkpoint
    * (streaming state). */
  private def c9Source(spark: SparkSession, dir: String): Map[String, String] =
    c9Ingested.getOrElseUpdate((spark, dir), {
      val opts = freshStore("c9", 2)
      val ev = t(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"),
          epochS(col("ts")).as("t"))
      val maxT = ev.agg(max(col("t"))).first().getLong(0)
      val sentinel = spark.range(1).select(lit(-1L).as("user_id"),
        lit("__flush__").as("event_type"), lit(0.0).as("value"),
        lit(maxT + SessionGapS + 3600L).as("t"))
      ev.unionAll(sentinel)
        .select(pmod(col("user_id"), lit(2)).cast(IntegerType).as("__shard__"),
          col("t").cast(IntegerType).as("__time__"),
          col("user_id"), col("event_type"), col("value"))
        .write.format("graft-logstore").options(opts).mode("append").save()
      opts
    })

  /** Streaming SESSION windows on the oracle gate (c9): per-user
    * sessions with a 30-minute inactivity gap, Append mode — a session
    * only emits once the watermark passes its end, so what reaches the
    * sink is FINAL (no reconcile step, unlike c3/c7's Update-mode
    * monotone-max). One sentinel record past every possible session end
    * advances the global watermark so the backlog's sessions all
    * finalize before the AvailableNow drain stops. The sentinel cannot
    * be filtered before the aggregation — Catalyst pushes deterministic
    * filters BELOW the watermark operator, which would hide it from the
    * watermark entirely (observed: the flush batch's watermark stopped
    * at the last real event) — so it flows in under user_id −1, forms
    * its own never-finalized session, and is excluded on the batch
    * read-back. The oracle is DuckDB's batch gaps-and-islands over the
    * original parquet — merged, split, or re-emitted sessions all break
    * the hash. Boundary pinned by real data: an event EXACTLY gap
    * seconds after its predecessor MERGES (session_window merges
    * touching windows), so the islands break is strictly `> gap`. */
  private def c9: Q = (spark, dir) => {
    val sessions = streamSession(spark).readStream.format("graft-logstore")
      .options(c9Source(spark, dir))
      .option("maxoffsetspertrigger", "1000000")
      .schema("user_id LONG, event_type STRING, value DOUBLE, __time__ TIMESTAMP")
      .load()
      .withWatermark("__time__", "1 second")
      .groupBy(col("user_id"),
        session_window(col("__time__"), s"$SessionGapS seconds"))
      .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").cast(LongType).as("session_start"),
        col("session_window.end").cast(LongType).as("session_end"),
        col("n_events"), col("sum_value"))
    runToSink(spark, sessions, "c9", "append",
        "user_id LONG, session_start LONG, session_end LONG, " +
          "n_events LONG, sum_value DOUBLE")
      .filter(col("user_id") >= 0) // sentinel session, if ever finalized
  }

  /** EVENT-TIME-TIMER sessionization (c22): c9's exact semantics
    * rebuilt on `transformWithState` timers — per-key buffered event
    * times in ListState, ONE registered event-time timer at
    * (max buffered + gap), gap-island split + FINAL emission when the
    * watermark passes it (SessionTimers.scala Scaladoc for the state
    * contract). Same shared sentinel-flushed source as c9, same
    * DuckDB gaps-and-islands oracle (minus the value sum — the
    * processor state carries times only, keeping per-key state
    * minimal). The point of the row: the timer API is how a pipeline
    * expresses window rules session_window cannot (length caps,
    * per-key gaps), exercised on the one rule with an exact oracle. */
  private def c22: Q = (spark, dir) => {
    // isolated session: transformWithState needs the RocksDB provider
    // (multiple column families: list state + value state + timers).
    // State parallelism sized to the SOURCE volume (parquet-metadata
    // count, the editDistancePairs idiom): stateful operators open one
    // state-store instance per shuffle partition, so a fixed 4 is
    // right at bench scale (store-open overhead dominates) but starves
    // the state backend at stress scale — the r13 probe showed ONE
    // box's 100x point drop 81.8s -> 32.9s just by sharding the same
    // linear state population over 32 instances instead of 4 (SCALE.md
    // round-15 note). This is the per-source parallelism knob of the
    // configuration envelope (SURVEY §2 O4/O12); partition count is
    // not semantic (the oracle hashes content).
    val stateParts = math.min(32L, math.max(4L, eventCount(spark, dir) / 250000L)).toInt
    val s2 = streamSession(spark, stateParts)
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val src = s2.readStream.format("graft-logstore").options(c9Source(spark, dir))
      .option("maxoffsetspertrigger", "1000000")
      .schema("user_id LONG, event_type STRING, value DOUBLE, __time__ TIMESTAMP")
      .load()
      .withWatermark("__time__", "1 second")
      .selectExpr("user_id", "CAST(__time__ AS LONG) AS t")
      .as[(Long, Long)]
    val sessions = graft.streaming.SessionTimers.sessions(src, SessionGapS)
      .toDF("user_id", "session_start", "session_end", "n_events")
    runToSink(spark, sessions, "c22", "append",
        "user_id LONG, session_start LONG, session_end LONG, n_events LONG")
      .filter(col("user_id") >= 0) // the sentinel's session never closes
  }

  /** Stream-static TEMPORAL (as-of) enrichment (c21): the streaming
    * counterpart of q18 — each event picks the version of a
    * slowly-changing dimension that was effective AT ITS EVENT TIME,
    * not the latest. The SCD-2 dim (3 versions per nation key at
    * deterministic cutover times derived from the event-time span) is
    * prepared batch-side as half-open [from, to) intervals, so the
    * as-of argmax becomes a single-match join: equi on key with the
    * range as a residual predicate on the BROADCAST dim — stateless
    * per micro-batch (stream-static joins re-plan the static side
    * each trigger; no watermark, no state store), exactly the 100 TB
    * shape (the q27 interval lesson: never a per-event window).
    * Oracle replays the same cutovers and interval selection over the
    * events parquet. */
  private def c21: Q = (spark, dir) => {
    val srcOpts = c9Source(spark, dir)
    // versioned dim, batch-side: nation key x versions 0..2; version 0
    // is effective from the epoch, versions 1/2 cut over at the event
    // span's thirds — deterministic for any (dataset, sf)
    val bounds = t(spark, dir, "events")
      .agg(min(epochS(col("ts"))).as("mn"), max(epochS(col("ts"))).as("mx"))
      .first()
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val vers = (0 to 2).map { v =>
      (v, if (v == 0) 0L else mn + v * (mx - mn) / 3)
    }
    val nations = t(spark, dir, "nation")
      .select(col("n_nationkey").cast(LongType), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))) // 25 rows: dim prep
    val spark2 = spark
    import spark2.implicits._
    val dim = nations.toSeq.flatMap { case (key, name) =>
      vers.map { case (v, f) =>
        val to = if (v == 2) Long.MaxValue else vers(v + 1)._2
        (key, s"${name}_v$v", f, to)
      }
    }.toDF("key", "dim_val", "f", "tto")
    val enriched = streamSession(spark).readStream.format("graft-logstore")
      .options(srcOpts)
      .option("maxoffsetspertrigger", "1000000")
      .schema("user_id LONG, event_type STRING, value DOUBLE, __time__ TIMESTAMP")
      .load()
      .filter(col("user_id") >= 0) // drop the c9 flush sentinel
      .withColumn("t", col("__time__").cast(LongType))
      .join(broadcast(dim),
        pmod(col("user_id"), lit(25L)) === col("key") &&
          col("t") >= col("f") && col("t") < col("tto"))
      .select(col("user_id"), col("event_type"), col("value"), col("t"),
        col("dim_val"))
    runToSink(spark, enriched, "c21", "append",
      "user_id LONG, event_type STRING, value DOUBLE, t LONG, dim_val STRING")
  }

  /** Streaming ANN index routing (c23): the ONLINE half of the s3/s15
    * index build — new embeddings arrive as log records (the vector
    * packed as a CSV string, the textual record shape the row
    * converters actually ship) and each micro-batch routes every
    * vector to its IVF cell against the broadcast batch-trained
    * centroids (s3's trainer: first-16-by-id, normalized), emitting
    * (vec_id, cell, centroid sim) to a store the offline index
    * compacts from. Semantics are exactly s3's assignment — the
    * oracle replays the centroid construction and the argmax (DESC
    * sim, ASC cell tie-break) in SQL over the same embeddings, so a
    * drift anywhere in CSV pack → store round-trip → parse →
    * float→double widening → fused dot fold → argmax breaks the hash.
    * The float→string→float round trip is exact by Java's
    * Float.toString contract (shortest uniquely-distinguishing
    * decimal), which is what makes a textual vector log losslessly
    * replayable.
    *
    * Scale: stateless per-record map — no state store, no watermark,
    * nothing shuffles; admission control (maxoffsetspertrigger 256)
    * forces multi-batch pacing at every SF so the oracle also proves
    * batch-boundary invariance. At 100 TB this is the shape that
    * matters: routing is embarrassingly parallel on the stream, and
    * the centroid table is the only broadcast (k rows). */
  private def c23: Q = (spark, dir) => {
    val srcOpts = freshStore("c23src", 2)
    val emb = t(spark, dir, "embeddings")
    emb.select(
        pmod(col("vec_id"), lit(2)).cast(IntegerType).as("__shard__"),
        lit(1700000000).cast(IntegerType).as("__time__"),
        col("vec_id"),
        array_join(transform(col("embedding"), x => x.cast(StringType)), ",")
          .as("emb_csv"))
      .write.format("graft-logstore").options(srcOpts).mode("append").save()
    val cs = graft.operators.Similarity.ivfCentroids(emb, 16)
    val s2 = streamSession(spark)
    import s2.implicits._
    val routed = s2.readStream.format("graft-logstore").options(srcOpts)
      .option("maxoffsetspertrigger", "256")
      .schema("vec_id LONG, emb_csv STRING")
      .load()
      .select(col("vec_id"), split(col("emb_csv"), ",").as("parts"))
      .as[(Long, Seq[String])]
      .map { case (id, parts) =>
        val v = new Array[Double](parts.length)
        var i = 0
        while (i < parts.length) {
          v(i) = parts(i).toFloat.toDouble; i += 1
        }
        // first max wins (strict >) = the oracle's (sim DESC, cid ASC)
        var best = 0; var bestSim = Double.MinValue; var c = 0
        while (c < cs.length) {
          var acc = 0.0; var j = 0; val cv = cs(c)
          while (j < v.length) { acc += v(j) * cv(j); j += 1 }
          if (acc > bestSim) { bestSim = acc; best = c }
          c += 1
        }
        (id, best + 1, bestSim)
      }
      .toDF("vec_id", "cell", "csim")
    runToSink(spark, routed, "c23", "append", "vec_id LONG, cell INT, csim DOUBLE")
  }

  /** CDC-style incremental batch (c8): the rows committed BETWEEN two
    * pinned snapshot versions, with no new reader surface — a snapshot's
    * per-shard ends ARE offsets, so "changes since v1" is a bounded scan
    * from v1's ends (startingoffsets JSON) to v2's snapshot clamp. The
    * incremental-ETL primitive: process each commit range exactly once,
    * replayable forever (both bounds are manifest-pinned, immune to
    * concurrent appends). Oracle = the second commit's aggregate. */
  private def c8: Q = (spark, dir) => {
    val opts = freshStore("c8", 2)
    val store = new EmbeddedLogStore(opts("store.root"))
    def write(half: DataFrame): Unit =
      half.select(
          (col("user_id") % 2).cast(IntegerType).as("__shard__"),
          epochS(col("ts")).cast(IntegerType).as("__time__"),
          col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.format("graft-logstore").options(opts).mode("append").save()
    val ev = t(spark, dir, "events")
    write(ev.filter(col("event_id") % 2 === 0)) // commit 1
    val v1 = store.latestVersion("proj", "c8")
    write(ev.filter(col("event_id") % 2 === 1)) // commit 2 = the increment
    val v2 = store.latestVersion("proj", "c8")
    val fromOffsets = graft.connector.LogServiceOffset("proj", "c8",
      store.snapshot("proj", "c8", Some(v1)).ends)
    spark.read.format("graft-logstore").options(opts)
      .option("startingoffsets", fromOffsets.json())
      .option("store.snapshotversion", v2.toString)
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum6(col("value")).as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** Stream-static broadcast enrich on the oracle gate: the streaming
    * event log joins a static dimension (broadcast — the dim never
    * shuffles, the stream never blocks on it), aggregates per enriched
    * key in Update mode, and reconciles through the sink. Counts and
    * non-negative sums are monotone across Update emissions, so max()
    * per key is the final value regardless of trigger count. The oracle
    * is DuckDB's batch join over the original parquet — any loss,
    * duplication, or mis-keyed enrich breaks the hash. */
  private def c7: Q = (spark, dir) => {
    val ss = streamSession(spark)
    // built on the STREAM's session: joining datasets across sessions
    // is undefined territory, and the dim is a 25-row broadcast anyway
    val dim = t(ss, dir, "nation")
      .select(col("n_nationkey").cast(LongType).as("n_nationkey"), col("n_name"))
    val enriched = ss.readStream.format("graft-logstore").options(ingest(spark, dir))
      .option("maxoffsetspertrigger", "1000000")
      .schema("user_id LONG, event_type STRING, value DOUBLE").load()
      .join(broadcast(dim), col("user_id") % 25 === col("n_nationkey"))
      .groupBy(col("n_name"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum6(col("value")).as("sum_value"))
    runToSink(spark, enriched, "c7", "update",
        "n_name STRING, event_type STRING, n_events LONG, sum_value DOUBLE")
      .groupBy(col("n_name"), col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("sum_value")).as("sum_value"))
  }

  /** One shared ingest per (session, sf dir): the eleven connector
    * queries that read the events table as logged (c1-c3, c7, c12-c18)
    * read the same immutable store, so repeated catalog runs (bench
    * reps, the determinism spec) skip re-ingesting 100k events each
    * time. Four shards, routed by user_id. */
  private val ingested = TrieMap.empty[(SparkSession, String), Map[String, String]]

  private def ingest(spark: SparkSession, dir: String): Map[String, String] =
    ingested.getOrElseUpdate((spark, dir), {
      val opts = freshStore("events", 4)
      t(spark, dir, "events")
        .select(
          (col("user_id") % 4).cast(IntegerType).as("__shard__"),
          epochS(col("ts")).cast(IntegerType).as("__time__"),
          col("event_id"), col("user_id"), col("event_type"),
          col("value"), epochUs(col("ts")).as("ts"), col("props"))
        .write.format("graft-logstore").options(opts).mode("append").save()
      opts
    })

  /** Typed user-schema path: string→typed converters on every column. */
  private def c1: Q = (spark, dir) => {
    spark.read.format("graft-logstore").options(ingest(spark, dir))
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts LONG")
      .load()
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum6(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"),
        // ts ingested as epoch-µs long (epochUs at write time)
        min(col("ts")).as("min_ts"))
  }

  /** Default-schema path: schema-on-read from the __value__ JSON column
    * (reference T4 semantics, LoghubSourceRDD.scala:154-176). One
    * from_json parse per row instead of a get_json_object per extracted
    * field (3 full JSON parses → 1). */
  private def c2: Q = (spark, dir) => {
    spark.read.format("graft-logstore").options(ingest(spark, dir)).load()
      .select(from_json(col("__value__"), StructType.fromDDL(
        "event_type STRING, value STRING, user_id STRING")).as("j"))
      .select(
        col("j.event_type").as("event_type"),
        col("j.value").cast(DoubleType).as("value"),
        col("j.user_id").cast(LongType).as("user_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum6(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** End-to-end STREAMING path on the oracle gate: micro-batch read from
    * the store (Trigger.AvailableNow), stateful hourly aggregation in
    * Update mode, logstore sink (Update-as-append: the log keeps the
    * update history), then reconcile by key. Counts are monotone across
    * Update emissions, so max(n_events) per key is the final value —
    * deterministic regardless of how many triggers AvailableNow splits
    * the backlog into. Any loss/duplication in source offsets, sink
    * commits, or state recovery breaks the hash against DuckDB's batch
    * answer over the original parquet. */
  private def c3: Q = (spark, dir) => {
    val hourly = streamSession(spark).readStream.format("graft-logstore")
      .options(ingest(spark, dir))
      // admission budget sized to drain the backlog in one trigger at
      // bench scale; pacing across many triggers is covered by
      // StreamingSpec and the reconciliation is trigger-count-agnostic
      .option("maxoffsetspertrigger", "1000000")
      .schema("event_type STRING, __time__ TIMESTAMP").load()
      .select(col("event_type"),
        expr("CAST(__time__ AS LONG) DIV 3600 * 3600").as("hour_start"))
      .groupBy(col("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    runToSink(spark, hourly, "c3", "update",
        "hour_start LONG, event_type STRING, n_events LONG")
      .groupBy(col("hour_start"), col("event_type"))
      .agg(max(col("n_events")).as("n_events"))
  }

  /** Shard split mid-ingest on the oracle gate (reference O7/O8: children
    * start at earliest, the readonly parent drains exactly once). Half
    * the events land before the split on shards {0,1}; shard 0 is then
    * split into {2,3} and the rest lands on the post-split writable set
    * {1,2,3}. The streaming read over the split topology must produce
    * the batch answer over the whole parquet table — missing parent
    * drain, skipped children, or double-reads all break the hash. */
  private def c4: Q = (spark, dir) => {
    val srcOpts = freshStore("c4", 2)
    def write(half: DataFrame, shardExpr: org.apache.spark.sql.Column): Unit =
      half.select(
          shardExpr.cast(IntegerType).as("__shard__"),
          epochS(col("ts")).cast(IntegerType).as("__time__"),
          col("event_id"), col("event_type"), col("value"))
        .write.format("graft-logstore").options(srcOpts).mode("append").save()
    val ev = t(spark, dir, "events")
    write(ev.filter(col("event_id") % 2 === 0), col("user_id") % 2)
    new EmbeddedLogStore(srcOpts("store.root"))
      .splitShard("proj", "c4", 0) // -> {2,3}; 0 readonly
    write(ev.filter(col("event_id") % 2 === 1), (col("user_id") % 3) + 1)
    val agg = streamSession(spark).readStream.format("graft-logstore").options(srcOpts)
      .option("maxoffsetspertrigger", "1000000")
      .schema("event_id LONG, event_type STRING, value DOUBLE").load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
    // reconcile the update history: count/max grow, min shrinks
    runToSink(spark, agg, "c4", "update",
        "event_type STRING, n_events LONG, min_id LONG, max_id LONG")
      .groupBy(col("event_type"))
      .agg(max(col("n_events")).as("n_events"),
        min(col("min_id")).as("min_id"), max(col("max_id")).as("max_id"))
  }

  private val c5Ingested =
    TrieMap.empty[(SparkSession, String), (Map[String, String], Long)]

  /** Shared c5/c20 source: documents plus planted exact duplicates of
    * every 5th doc, one sorted shard so arrival order is doc_id order;
    * returns the store's options and its record count. One ingest per
    * (session, sf dir); each consumer still gets a fresh sink +
    * checkpoint. */
  private def c5Source(spark: SparkSession, dir: String): (Map[String, String], Long) =
    c5Ingested.getOrElseUpdate((spark, dir), {
      val opts = freshStore("c5")
      val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      val salted = d.unionAll(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val n = salted.count()
      salted
        .orderBy("doc_id").coalesce(1) // one sorted segment = arrival order
        .select(lit(0).as("__shard__"),
          // __time__ is int32 epoch seconds (store format); fold doc_id
          // into the valid range — identity below 4e8 (every driver
          // scale and stress copies < 40), wraps at the 100x stress
          // point instead of CAST_OVERFLOWing. Dedup keys on md5(text);
          // __time__ is metadata here.
          (lit(1700000000L) + pmod(col("doc_id"), lit(400000000L)))
            .cast(IntegerType).as("__time__"),
          col("doc_id"), col("text"))
        .write.format("graft-logstore").options(opts).mode("append").save()
      (opts, n)
    })

  /** transformWithState streaming dedup on the oracle gate: documents
    * (plus planted exact duplicates of every 5th doc) are ingested in
    * doc_id order on ONE shard — so arrival order IS doc_id order —
    * then streamed through [[graft.streaming.StreamingDedup]] under the
    * RocksDB state provider with pacing that forces several
    * micro-batches, and the per-doc verdicts flow out through the
    * connector sink. The oracle computes first-arrival admission
    * relationally (is_dup ⟺ doc_id ≠ min doc_id of its fingerprint),
    * so the hash match proves dedup state survives trigger
    * boundaries. */
  private def c5: Q = (spark, dir) => {
    import spark.implicits._
    val (srcOpts, total) = c5Source(spark, dir)
    // isolated session: the RocksDB provider conf must not leak into
    // (or race with) other streams on the shared session
    val s2 = streamSession(spark)
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val verdicts = graft.streaming.StreamingDedup.exact(
      s2.readStream.format("graft-logstore").options(srcOpts)
        .option("maxoffsetspertrigger", threeBatches(total))
        .schema("doc_id LONG, text STRING").load()
        .selectExpr("md5(text) AS fp", "doc_id")
        .as[(String, Long)])
    runToSink(spark, verdicts.toDF("doc_id", "fp", "is_dup"), "c5", "append",
      "doc_id LONG, fp STRING, is_dup BOOLEAN")
  }

  /** Engine-native bounded-state streaming dedup (c20): the same
    * duplicate-salted arrival stream as c5, deduplicated by Spark's
    * `dropDuplicatesWithinWatermark` instead of custom
    * transformWithState — the operator a 100 TB ingest actually wants
    * for at-least-once source retries, because its state is TTL'd by
    * the event-time watermark (keys evict once the watermark passes
    * them) where c5's exact admission state grows with the key space
    * forever. The fixture's event-time span stays far inside the
    * 365-day delay, so nothing evicts and the engine guarantee
    * ("duplicates arriving within the delay are dropped; the first
    * arrival survives") collapses to exact first-arrival admission:
    * survivors are exactly (fp, min doc_id) — a full equality oracle
    * under forced multi-trigger pacing. The eviction/re-admission
    * boundary itself is crossed deliberately in
    * StatefulStreamingSpec. */
  private def c20: Q = (spark, dir) => {
    val (srcOpts, total) = c5Source(spark, dir)
    val s2 = streamSession(spark)
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // No-data micro-batches only advance the watermark (state eviction);
    // dropDuplicatesWithinWatermark emits survivors EAGERLY on first
    // arrival, so the trailing no-data batch writes nothing to the sink
    // — it just pays one more full state-commit round (b=4 -> b=3,
    // cmt -410ms/rep measured at sf0.1). Queries whose OUTPUT is
    // watermark-gated (c9's append session windows, c22's event-time
    // timers) must keep the default.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val kept = s2.readStream.format("graft-logstore").options(srcOpts)
      .option("maxoffsetspertrigger", threeBatches(total))
      .schema("doc_id LONG, text STRING").load()
      .selectExpr("doc_id", "md5(text) AS fp",
        // event time mirrors the ingest's __time__ derivation
        "timestamp_seconds(1700000000 + pmod(doc_id, 400000000)) AS ts")
      .withWatermark("ts", "365 days")
      .dropDuplicatesWithinWatermark("fp")
      .select(col("doc_id"), col("fp"))
    runToSink(spark, kept, "c20", "append", "doc_id LONG, fp STRING")
  }

  /** Delta-style snapshot read (time travel): two batch commits land as
    * manifest versions v1 < v2; a read pinned at `store.snapshotversion`
    * = v1 must see EXACTLY the first commit — concurrent/later appends
    * invisible, ordinals stable. The oracle recomputes the first
    * commit's aggregate from the source parquet, so a snapshot that
    * leaks any second-commit row (or drops a first-commit one) breaks
    * the hash. The reproducible-training-run primitive: pin the data
    * version, not the wall clock. */
  private def c6: Q = (spark, dir) => {
    val opts = freshStore("c6", 2)
    def write(half: DataFrame): Unit =
      half.select(
          (col("user_id") % 2).cast(IntegerType).as("__shard__"),
          epochS(col("ts")).cast(IntegerType).as("__time__"),
          col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.format("graft-logstore").options(opts).mode("append").save()
    val ev = t(spark, dir, "events")
    write(ev.filter(col("event_id") % 2 === 0)) // commit 1
    val v1 = new EmbeddedLogStore(opts("store.root")).latestVersion("proj", "c6")
    write(ev.filter(col("event_id") % 2 === 1)) // commit 2: must stay invisible
    spark.read.format("graft-logstore").options(opts)
      .option("store.snapshotversion", v1.toString)
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum6(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** Exact replay of c13: per-(event_type, user) counts → xxhash64-of-
    * long (layered projections) → per-row splitmix64 cell index →
    * integer counters per event_type; each probe's estimate is the min
    * over its Depth constant-folded cells (folded with the engine's own
    * XxHash64Function/CmsOps.indexOf — the k2 precedent, grouped). */
  private def c13OracleSql: String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    val probeCols = C13Probes.map { u =>
      val h = XxHash64Function.hash(u, LongType, 42L)
      val mins = (0 until graft.functions.CmsOps.Depth).map { d =>
        val idx = graft.functions.CmsOps.indexOf(h, d)
        s"COALESCE(MAX(CASE WHEN d = $d AND idx = $idx THEN c END), 0)"
      }
      s"CAST(least(${mins.mkString(", ")}) AS BIGINT) AS est_u$u"
    }
    s"""WITH dt AS (SELECT event_type, CAST(user_id AS HUGEINT) AS fpu,
       |             COUNT(*) AS cnt
       |           FROM events GROUP BY 1, 2),
       |xx AS MATERIALIZED (${
         OracleSql.xxHashLongLayers("SELECT event_type, cnt, fpu FROM dt")}),
       |mixin AS (SELECT event_type, cnt, d, ${
         OracleSql.u64xor("h1u", "d")} AS mxin
       |          FROM xx CROSS JOIN range(0, 4) t(d)),
       |mx AS MATERIALIZED (${
         OracleSql.splitmixLayers("SELECT event_type, cnt, d, mxin FROM mixin")}),
       |cells AS (SELECT event_type, d,
       |            CAST(${OracleSql.u64shr("mxout", 1)} % 2048 AS BIGINT) AS idx,
       |            SUM(cnt) AS c
       |          FROM mx GROUP BY 1, 2, 3)
       |SELECT event_type,
       |  ${probeCols.mkString(",\n  ")}
       |FROM cells GROUP BY event_type""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "c13_stream_cms" -> c13OracleSql,
    // exact register replay per event_type over ALL events — identical
    // to the batch k3 oracle because HLL registers are a function of
    // the input SET, not of the trigger slicing
    "c14_stream_hll" -> SketchQueries.k3OracleSql,
    // exact-rank replay over ALL events — identical to the batch k5
    // oracle because the compaction-free KLL buffer is a function of
    // the input multiset, not of the trigger slicing
    "c16_stream_kll" -> SketchQueries.k5OracleSql,
    // the batch interval join, verbatim — the streaming execution must
    // change nothing about the pair set
    "c18_stream_attribution" -> Relational.oracles("q13_attribution_join"),
    // q33's anomaly test, verbatim — the streaming count leg must
    // change nothing about the flag set
    "c19_stream_anomaly" -> Relational.oracles("q33_anomalous_hours"),
    // d11's Bloom position replay, per event_type, over LONG values
    // (xxhash64-of-long + murmur-fmix pair, 13 KM positions mod the
    // live bit count 78528): probe true iff all 13 of its positions
    // are present in that key's inserted-position set
    "c17_stream_bloom" -> {
      val idx = s"((${OracleSql.u64signed(
        "(h1u + i * h2u) % 18446744073709551616")}) % 78528 + 78528) % 78528"
      val probeVals = C17Probes.map(p => s"($p)").mkString(", ")
      s"""WITH du AS (SELECT DISTINCT event_type, CAST(user_id AS HUGEINT) AS fpu FROM events),
         |xx AS MATERIALIZED (${OracleSql.xxHashLongLayers(
             "SELECT event_type, fpu FROM du", withFmix = true)}),
         |pos AS MATERIALIZED (SELECT DISTINCT event_type, $idx AS p
         |  FROM xx CROSS JOIN range(0, 13) t(i)),
         |pb AS (SELECT uid, CAST(uid AS HUGEINT) AS fpu FROM (VALUES $probeVals) v(uid)),
         |pxx AS MATERIALIZED (${OracleSql.xxHashLongLayers(
             "SELECT uid, fpu FROM pb", withFmix = true)}),
         |ppos AS (SELECT uid, $idx AS p FROM pxx CROSS JOIN range(0, 13) t(i)),
         |et AS (SELECT DISTINCT event_type FROM events),
         |hits AS (SELECT et.event_type, ppos.uid,
         |           min(CASE WHEN pos.p IS NULL THEN 0 ELSE 1 END) AS allhit
         |         FROM et CROSS JOIN ppos
         |         LEFT JOIN pos ON pos.event_type = et.event_type
         |           AND pos.p = ppos.p
         |         GROUP BY 1, 2)
         |SELECT event_type, CAST(uid AS BIGINT) AS probe_uid,
         |  allhit = 1 AS might
         |FROM hits""".stripMargin
    },
    // exact signature replay: distinct users per event_type (min is
    // idempotent — the multiset and the set share a signature) →
    // xxhash64(seed 42) → +perm → splitmix64 → signed min per perm,
    // through the same u64 layers the c12/c13/d11 oracles proved
    "c15_stream_minhash" ->
      s"""WITH du AS (SELECT DISTINCT event_type, CAST(user_id AS HUGEINT) AS fpu FROM events),
         |xx AS MATERIALIZED (${
           OracleSql.xxHashLongLayers("SELECT event_type, fpu FROM du")}),
         |pm AS (SELECT event_type, p, (h1u + p) % 18446744073709551616 AS mxin
         |       FROM xx CROSS JOIN range(0, 8) t(p)),
         |mx AS MATERIALIZED (${
           OracleSql.splitmixLayers("SELECT event_type, p, mxin FROM pm")})
         |SELECT event_type, CAST(p AS INTEGER) AS perm,
         |  MIN(${OracleSql.u64signed("mxout")}) AS min_hash
         |FROM mx GROUP BY 1, 2""".stripMargin,
    "c12_stream_kmv" ->
      s"""WITH du AS (SELECT DISTINCT event_type, CAST(user_id AS HUGEINT) AS fpu FROM events),
         |xx AS MATERIALIZED (${OracleSql.xxHashLongLayers("SELECT event_type, fpu FROM du")}),
         |dh AS (SELECT DISTINCT event_type, h1u FROM xx),
         |rk AS (SELECT event_type, h1u,
         |         row_number() OVER (PARTITION BY event_type ORDER BY h1u) AS r
         |       FROM dh),
         |st AS (SELECT event_type, count(*) AS cnt, max(h1u) AS kth
         |       FROM rk WHERE r <= 256 GROUP BY 1)
         |SELECT event_type,
         |  CASE WHEN cnt < 256 THEN CAST(cnt AS DOUBLE)
         |       ELSE 255e0 / (CAST(kth AS DOUBLE) / 18446744073709551616e0) END
         |    AS approx_users
         |FROM st""".stripMargin,
    "c11_retention_expire" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        |GROUP BY event_type""".stripMargin,
    "c10_optimize_compact" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events GROUP BY event_type""".stripMargin,
    "c22_stream_timer_sessions" ->
      s"""WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events),
        |m AS (SELECT *, CASE WHEN t - lag(t) OVER
        |    (PARTITION BY user_id ORDER BY t) > $SessionGapS THEN 1 ELSE 0 END AS brk
        |  FROM ev),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS grp FROM m)
        |SELECT user_id, MIN(t) AS session_start, MAX(t) + $SessionGapS AS session_end,
        | COUNT(*) AS n_events
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "c9_stream_sessions" ->
      s"""WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
        |  FROM events),
        |m AS (SELECT *, CASE WHEN t - lag(t) OVER
        |    (PARTITION BY user_id ORDER BY t) > $SessionGapS THEN 1 ELSE 0 END AS brk
        |  FROM ev),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS grp FROM m)
        |SELECT user_id, MIN(t) AS session_start, MAX(t) + $SessionGapS AS session_end,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, grp""".stripMargin,
    "c8_incremental_read" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events WHERE event_id % 2 = 1
        |GROUP BY event_type""".stripMargin,
    "c7_stream_enrich" ->
      """SELECT n_name, event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |GROUP BY n_name, event_type""".stripMargin,
    "c6_snapshot_read" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type""".stripMargin,
    "c1_logstore_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id,
        | CAST(epoch_us(min(ts)) AS BIGINT) AS min_ts
        |FROM events GROUP BY event_type""".stripMargin,
    "c2_logstore_json_value" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,
    "c3_stream_hourly" ->
      """SELECT CAST(epoch_us(ts) // 1000000 // 3600 * 3600 AS BIGINT) AS hour_start,
        | event_type, COUNT(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "c4_split_reroute" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM events GROUP BY event_type""".stripMargin,
    "c5_stream_dedup" ->
      """WITH all_docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, md5(text) AS fp,
        | doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM all_docs""".stripMargin,
    // c20: nothing evicts inside the fixture's event-time span, so the
    // TTL'd dedup state admits exactly the first arrival per
    // fingerprint — survivors are (fp, min doc_id)
    "c20_stream_dropdup_ttl" ->
      """WITH all_docs AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT md5(text) AS fp, MIN(doc_id) AS doc_id
        |FROM all_docs GROUP BY fp""".stripMargin,
    // c23: s3's centroid construction (first 16 by vec_id, normalized)
    // and cell argmax (sim DESC, cid ASC) replayed over the same
    // embeddings — the streamed CSV round trip must land every vector
    // back on its exact float bits for the csim doubles to hash-match.
    "c23_stream_ann_route" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid,
        |         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
        |a AS (SELECT vec_id, cell, csim FROM (
        |  SELECT e.vec_id, c0.cid AS cell,
        |    list_dot_product(e.v, c0.cv) AS csim,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_dot_product(e.v, c0.cv) DESC, c0.cid) AS rn
        |  FROM e CROSS JOIN c0) x WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS INTEGER) AS cell, csim FROM a""".stripMargin,
    // c21: same cutover derivation + half-open interval selection over
    // the events parquet; version 0 effective from the epoch
    "c21_stream_asof_enrich" ->
      """WITH ev AS (SELECT user_id, event_type, value,
        |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t FROM events),
        |b AS (SELECT MIN(t) AS mn, MAX(t) AS mx FROM ev),
        |v AS (SELECT n_nationkey AS key, n_name, unnest(range(0, 3)) AS ver
        |      FROM nation),
        |dim AS (SELECT key, n_name || '_v' || ver AS dim_val,
        |         CASE WHEN ver = 0 THEN 0 ELSE mn + ver * (mx - mn) // 3 END AS f
        |        FROM v CROSS JOIN b),
        |dim2 AS (SELECT key, dim_val, f,
        |          COALESCE(LEAD(f) OVER (PARTITION BY key ORDER BY f),
        |                   9223372036854775807) AS tto
        |         FROM dim)
        |SELECT ev.user_id, ev.event_type, ev.value, ev.t, d.dim_val
        |FROM ev JOIN dim2 d
        |  ON d.key = ev.user_id % 25 AND ev.t >= d.f AND ev.t < d.tto""".stripMargin
  )
}
