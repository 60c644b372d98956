package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress bench: runs the heavy dedup/ANN/packing families on the
  * sf0.1 corpus AND on a deterministic 10x blow-up of its
  * documents/embeddings tables, and reports per-query times + scaling
  * ratios (BENCH_STRESS.json). The point is to convert SCALE.md's
  * "would survive 100 TB" arguments into measurements: a query whose
  * 10x time is ~10x the 1x time scales linearly in corpus size; a
  * super-linear blow-up (quadratic candidate generation, a collect
  * that grew with the corpus, a spill cliff) shows up as ratio >> 10.
  *
  * The blow-up is built so WORKLOAD CHARACTERISTICS stay proportional
  * — 10 copies that behave like 10 independent corpora:
  *
  * - documents: copy k suffixes every token with "x<k>" (copy 0 is the
  *   original). Shingle/fingerprint spaces across copies are disjoint,
  *   so planted near-duplicate neighborhoods stay WITHIN each copy and
  *   true duplicate pairs scale ~10x. Naive replication would instead
  *   make every doc near-identical to its 9 clones — 45 extra true
  *   pairs per doc, a quadratic-in-copies workload that would report
  *   super-linear runtime with no engine fault.
  * - embeddings: copy k rotates the 64-dim vector by k positions and
  *   offsets vec_id. Rotation preserves the norm and the coordinate
  *   distribution (so quantizers/planes see the same geometry) while
  *   decorrelating copies — cross-copy cosine is that of unrelated
  *   vectors, keeping per-query neighbor counts constant.
  *
  * Query-side sizes (the s-family's 32 probe vectors, t15's 256-row
  * count table, IVF's nCells) are scale-free by design; the corpus
  * side is what grows.
  */
object BenchStress {

  /** Blow-up factor (SPARK_GRAFT_STRESS_COPIES, default 10). A second
    * point at 30 turns the single ratio into a scaling curve. */
  val Copies: Int =
    sys.env.getOrElse("SPARK_GRAFT_STRESS_COPIES", "10").toInt

  /** Heavy families per VERDICT r9, plus the round-10 operators whose
    * scale story deserves the same measurement: d13 (stride-1 span
    * coverage), k6 (KMV overlap matrix), t23 (bounded-merge BPE
    * encode), and c5 — the one streaming member (transformWithState
    * dedup over the blown-up documents; its ingest is warmed per
    * (session, dir) so the reps time the stream itself, and the state
    * store must hold 10x/30x the fingerprints). */
  val Heavy: Seq[String] = Seq(
    "d1_dedup_exact", "d3_dedup_minhash_lsh", "d4_dedup_simhash",
    "d9_dedup_groups", "d10_segment_dedup", "d12_ngram_decontaminate",
    "d13_dup_spans", "d15_edit_distance", "d16_containment",
    "d17_soft_dedup", "s2_ann_lsh", "s3_ann_ivf",
    "s4_ann_multiprobe", "s5_ann_sq", "s6_ann_pq", "s15_ann_ivfpq",
    "s12_nn_join",
    "s13_farthest_init",
    "t14_pack_sequences", "t15_global_shuffle", "t23_bpe_small",
    "t28_gopher_filters", "p4_leakage_split", "p5_fuzzy_verify",
    "p6_gopher_pipeline",
    "k6_kmv_overlap", "c5_stream_dedup", "c18_stream_attribution",
    "q31_salted_join", "q34_latest_state", "q36_scd2_history",
    // round 11: span removal (covered-set join + typed rebuild), DSIR
    // (feature explode + broadcast weights + doc ntile), TTL'd
    // streaming dedup (bounded state over the blown-up stream), CCNet
    // buckets (bigram shuffle + doc-stat ntile)
    "d19_span_removal", "t33_dsir_select", "c20_stream_dropdup_ttl",
    "t32_ccnet_buckets",
    // MV maintenance (events-sized partials), composed ExactSubstr
    // prep (d19 + keeper + sample end-to-end), KN LM (bigram shuffle)
    "q35_incremental_rollup", "p7_span_clean_pipeline", "t34_kneser_ney",
    // round 12: the two multi-config sweeps (the catalog's biggest
    // plans — d20 51 exchanges, s16 29) plus d2 as their shared
    // exact-Jaccard-kernel control
    "d2_dedup_jaccard", "d20_minhash_sweep", "s16_lsh_sweep",
    // round 12 (cont.): timer-state sessions (open-session state and
    // timer count scale with the blown-up key population), the KN
    // perplexity filter (bigram shuffle + doc-gram LM join), and the
    // mixture interleave (per-source windows + the one global order)
    "c22_stream_timer_sessions", "t36_lm_perplexity_filter",
    "t37_mixture_interleave",
    // round 13: the per-asset codec rows (zero-shuffle maps — the
    // curve should be flat-at-linear; prove it rather than assert it)
    "m22_gif_lzw_roundtrip", "m25_video_dense_cavlc",
    "m26_video_intra4x4",
    // round 13 (cont.): URL-level dedup — one canonical-key groupBy
    // whose key population grows with the corpus
    "t38_url_dedup",
    // round 15: the mixed I_16x16/I_8x8/I_4x4 codec row and the
    // two-frame inter GOP — zero-shuffle per-asset maps like
    // m22/m25/m26; prove the flat curve
    "m27_video_intra8x8", "m28_video_inter_p", "m29_video_inter_parts",
    "m30_video_bipred", "m31_video_multiref",
    // round 16: the d3 -> d9 keeper composition (previously the only
    // heavy p-family member without a curve), plus the spatial-direct
    // and deblocking codec rows
    "p3_dedup_keeper", "m32_video_direct", "m33_video_deblock",
    // round 17: the heaviest corpus-shaped text queries that lacked a
    // curve (r16 VERDICT "What's missing #2" names them first) — BM25
    // (doc x term TF + DF join), n-gram novelty (shingle
    // first-occurrence over the corpus), PMI collocations (bigram +
    // unigram count shuffles), and bigram-LM surprisal (corpus LM
    // join) — plus the new live-tC0 deblocking codec row
    // (zero-shuffle map, prove the flat curve)
    "t21_bm25", "t22_novelty", "t24_pmi_collocations",
    "t29_bigram_surprisal", "m39_video_deblock_tc0",
    // round 17 (cont.): constrained intra (two decodes per asset)
    // and per-slice deblock idc (three decodes per asset), both
    // zero-shuffle maps
    "m40_video_constrained_intra", "m41_video_slice_deblock",
    "m42_video_poc_order", "m43_video_frame_num_wrap",
    "m44_audio_fingerprint",
    // round 19: MIPS (norm-augmented broadcast scan — prove the s1
    // shape holds with the extra augmentation pre-pass), the PII
    // redaction chain (zero-shuffle regex map over the text payload),
    // and cohort retention (one (user, week) distinct + broadcast-back)
    "s17_ann_mips", "t39_pii_redact", "q38_cohort_retention",
    // round 19 (cont.): streaming IVF routing — stateless stream map,
    // the ingest is corpus-sized so the curve measures the store
    // write + stream scan + route end-to-end
    "c23_stream_ann_route",
    // round 19 (cont. 2): hard-negative mining (the s1 broadcast-scan
    // shape with the label predicate inside the scan stage) and the
    // z-order layout manifest over the growing lineitem fact table
    // (one codegen'd projection + one 256-key hash agg)
    "s18_hard_negatives", "q39_zorder_layout",
    // round 19 (cont. 3): gap-fill resample — the events blow-up grows
    // the user population ~Copies x at constant per-user density, so
    // the spine explode and the per-user fill window scale in keys
    "q40_gapfill_ffill",
    // round 19 (cont. 4): the dataset card (distinct-fingerprint
    // count-distinct is the corpus-sized exchange) and the video
    // phash dedup (codec-class decode map + fingerprint groupBy)
    "t40_dataset_card", "m45_video_phash_dedup",
    // round 19 (cont. 5): fixed-point graph rank — edge extraction
    // (lineitem x orders distinct) is the corpus-sized stage; the
    // four rank iterations ride the constant distinct-edge graph
    "q41_graph_rank")

  /** Optional comma-separated name-prefix filter
    * (SPARK_GRAFT_STRESS_ONLY) — stress just the matching queries, so
    * newly added operators get their scaling point without re-running
    * the whole battery. Blank segments are dropped (an empty-string
    * prefix would match everything), and a filter that matches no
    * Heavy entry fails fast in main() instead of silently writing an
    * empty BENCH_STRESS.json. */
  val Only: Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .filter(_.nonEmpty)

  def generate(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val embs = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val idOff = 10000000L
    val docCopies = (0 until Copies).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"x$k"))), " ")
      docs.select((col("doc_id") + lit(k * idOff)).as("doc_id"),
        text.as("text"), col("lang"), col("source"),
        length(text).as("n_chars"))
    }.reduce(_.unionAll(_))
    val embCopies = (0 until Copies).map { k =>
      val e = col("embedding")
      // 64 dims bound the rotation: copy k rotates by k % 64, and the
      // second lap (k >= 64, reachable at the 100x point) additionally
      // REVERSES the vector — reversal preserves the norm and the
      // coordinate distribution while decorrelating lap-2 copies from
      // their lap-1 rotation twins (otherwise copy 64+r would be an
      // exact duplicate of copy r and the blow-up would plant 10^7
      // spurious exact-duplicate vectors).
      val rot = k % 64
      val rotated =
        if (rot == 0) e
        else concat(slice(e, rot + 1, 64 - rot), slice(e, 1, rot))
      val decorr = if (k < 64) rotated else reverse(rotated)
      embs.select((col("vec_id") + lit(k * idOff)).as("vec_id"),
        decorr.as("embedding"), col("label"))
    }.reduce(_.unionAll(_))
    docCopies.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    embCopies.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    // events: copy k offsets event_id AND user_id — the key population
    // grows ~Copies x while per-key row counts and time density stay
    // constant, so q34's upsert state, c18's join-pair state, and c5's
    // dedup state all hold Copies x entries without workload skew.
    val events = spark.read.parquet(s"$srcDir/events.parquet")
    (0 until Copies).map { k =>
      events.withColumn("event_id", col("event_id") + lit(k * idOff))
        .withColumn("user_id", col("user_id") + lit(k * idOff))
    }.reduce(_.unionAll(_)).repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    // lineitem: the fact side grows Copies x (new orderkeys) while the
    // supplier dim stays FIXED — exactly the 100 TB skew-join shape
    // (per-supplier fan-out scales with the fact table), so q31's salted
    // exchange is stressed where the unsalted plan would concentrate.
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    (0 until Copies).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * idOff))
    }.reduce(_.unionAll(_)).repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")
    spark.read.parquet(s"$srcDir/supplier.parquet").write
      .mode("overwrite").parquet(s"$outDir/supplier.parquet")
    // orders: o_orderkey follows lineitem's offset so the fact join
    // stays aligned; o_custkey is NOT offset — the customer population
    // is fixed, so q41's graph keeps constant nodes while its edge
    // EXTRACTION (the corpus-sized stage) scales with the fact table
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    (0 until Copies).map { k =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * idOff))
    }.reduce(_.unionAll(_)).repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val stressDir = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIR",
      s"/tmp/graft-stress-${Copies}x")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT",
      "/root/repo/BENCH_STRESS.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = MainSessions.local(cpus)
    val timer = new RepTimer(spark)

    // events/lineitem joined the blow-up for the q31/q34/c18/c5 rows:
    // regenerate a stress dir from an older round that lacks them
    if (!Seq("documents", "embeddings", "events", "lineitem", "supplier",
        "orders")
        .forall(t => new java.io.File(s"$stressDir/$t.parquet").isDirectory)) {
      System.err.println(s"[stress] generating ${Copies}x corpus at $stressDir")
      generate(spark, srcDir, stressDir)
    }

    // (min seconds, per-rep drain traces for streaming rows — the same
    // artifact-of-record principle as Bench's BENCH_DETAIL drains: a
    // streaming stress point's components are citable from the
    // committed curve file, not just a local re-run). Each timed rep
    // is fenced like Bench's, so it pays its own cache population.
    def timeQuery(name: String, dir: String): (Double, Seq[String]) = {
      val fn = SparkEntry.queries(name)
      val streaming = graft.queries.ConnectorQueries.streamingQueries(name)
      // 1 warm rep, then min-of-3 with the same convergence extension
      // as Bench (up to 6)
      RepTimer.noop(fn(spark, dir))
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val drains = scala.collection.mutable.ArrayBuffer.empty[String]
      var converged = false
      while (times.length < 3 || (!converged && times.length < 6)) {
        val prevMin = if (times.isEmpty) Double.MaxValue else times.min
        val rep = timer.time(streaming, traced = streaming)(
          RepTimer.noop(fn(spark, dir)))
        val t = rep.seconds
        times += t
        drains ++= rep.trace
        if (times.length >= 3) converged = t >= prevMin * 0.9
      }
      System.err.println(
        f"[stress] $name@$dir reps=${times.map(t => f"$t%.2f").mkString(",")}" +
          (if (drains.nonEmpty) s" drains=[${drains.mkString(" | ")}]" else ""))
      (times.min, drains.toSeq)
    }

    val selected = Heavy.filter(n => Only.forall(_.exists(n.startsWith)))
    require(selected.nonEmpty,
      s"SPARK_GRAFT_STRESS_ONLY=${Only.map(_.mkString(",")).getOrElse("")} " +
        s"matches no Heavy entry — typo'd prefix? Known: ${Heavy.mkString(",")}")
    val rows = selected.map { name =>
      val (base, _) = timeQuery(name, srcDir)
      val (stress, drains) = timeQuery(name, stressDir)
      val ratio = stress / base
      System.err.println(f"[stress] $name base=$base%.2f stress=$stress%.2f ratio=$ratio%.1f")
      (name, base, stress, ratio, drains)
    }
    def r3(v: Double): String = f"$v%.3f"
    val qjson = rows.map { case (n, b, s, r, ds) =>
      val drainPart = if (ds.isEmpty) ""
        else s""","drains":[${ds.map(graft.store.FastJsonl.quote).mkString(",")}]"""
      s""""$n":{"base":${r3(b)},"stress":${r3(s)},"ratio":${r3(r)}$drainPart}"""
    }.mkString("{", ",", "}")
    val worst = rows.maxBy(_._4)
    val json =
      s"""{"metric":"stress_ratio","copies":$Copies,"cpus":$cpus,""" +
        s""""base_sf":"$srcDir","worst":{"query":"${worst._1}","ratio":${r3(worst._4)}},""" +
        s""""queries":$qjson}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
