package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case coverage for the text-pipeline operators whose main-line
  * behavior is pinned by the t10/t11 DuckDB oracles. */
class TextPipelineSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark

  test("redactPii: emails before IPs, multiple spans, puncutation-adjacent") {
    import spark.implicits._
    val rows = Seq(
      "mail a.b+c@host.co.uk now",          // subdomains, plus-tag
      "two bob@x.io and eve@y.org here",    // several in one doc
      "server 192.168.0.1, backup 10.0.0.2",// comma-adjacent IPs
      "dotted host e@10.0.0.99.com stays",  // email wins over its host
      "almost 999.999.999 not an ip",       // 3 groups: no match
      "clean text with nothing"
    ).toDF("text")
    val out = rows.select(TF.redactPii(col("text")).as("r"),
      TF.piiCount(col("text")).as("n")).collect()
    assert(out(0).getString(0) === "mail <EMAIL> now" && out(0).getLong(1) === 1)
    assert(out(1).getString(0) === "two <EMAIL> and <EMAIL> here" && out(1).getLong(1) === 2)
    assert(out(2).getString(0) === "server <IP>, backup <IP>" && out(2).getLong(1) === 2)
    // the email pass consumes the dotted host, so no <IP> remains inside
    assert(out(3).getString(0) === "dotted host <EMAIL> stays")
    assert(out(4).getString(0) === "almost 999.999.999 not an ip" && out(4).getLong(1) === 0)
    assert(out(5).getString(0) === "clean text with nothing" && out(5).getLong(1) === 0)
  }

  test("t39 redaction chain: planted classes count exactly once each and " +
      "the order shields phone digits from the id pass") {
    // doc_id 105 is divisible by 3, 5 and 7 — all three classes plant;
    // doc_id 1 plants none. Run the catalog query at smoke scale and
    // check the planted arithmetic.
    val out = graft.SparkEntry.queries("t39_pii_redact")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r).toMap
    val d105 = out(105L)
    assert(d105.getAs[Int]("n_email") >= 1 &&
      d105.getAs[Int]("n_phone") >= 1 && d105.getAs[Int]("n_longid") >= 1)
    val d1 = out(1L)
    assert(d1.getAs[Int]("n_email") === 0 && d1.getAs[Int]("n_phone") === 0)
    // order pin: a phone inside text must NOT surface as a long id —
    // the 10-digit run 4151234567 would match [0-9]{9}[0-9]* only if
    // the phone pass hadn't consumed 415-123-4567 first (it has dashes,
    // so here we check the inverse: the id count ignores dashed groups)
    import spark.implicits._
    val probe = Seq((0L, "call 415-123-4567 ok")).toDF("doc_id", "text")
    val got = probe.select(
      org.apache.spark.sql.functions.expr(
        "regexp_count(regexp_replace(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]'), '[0-9]{9}[0-9]*')"))
      .head().getInt(0)
    assert(got === 0)
  }

  test("q38 cohort retention: offset-0 cells retain 100% and cells never " +
      "exceed their cohort size") {
    val rows = graft.SparkEntry.queries("q38_cohort_retention")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val off = r.getAs[Long]("week_offset")
      val active = r.getAs[Long]("n_active")
      val size = r.getAs[Long]("cohort_users")
      assert(active <= size, s"cell exceeds cohort: $r")
      if (off == 0L)
        assert(active === size && r.getAs[Double]("retention") === 1.0,
          s"cohort week must retain everyone: $r")
      assert(off >= 0L)
    }
  }

  test("q39 z-order layout: lossless row accounting, bucket domain, and " +
      "zone maps tight on BOTH dims where a single-dim sort cannot be") {
    val sf = "/root/testdata/sf0.01"
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val n = li.count()
    val st = li.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val pSpan = (st.getLong(1) - st.getLong(0)).toDouble
    val sSpan = (st.getLong(3) - st.getLong(2)).toDouble
    val rows = graft.SparkEntry.queries("q39_zorder_layout")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum === n, "manifest loses rows")
    assert(rows.forall { r =>
      val b = r.getAs[Int]("bucket"); b >= 0 && b <= 255
    })
    def avgSpan(ps: Seq[(Double, Long)]): Double =
      ps.map { case (s, w) => s * w }.sum / ps.map(_._2).sum
    val zP = avgSpan(rows.map(r => ((r.getAs[Long]("p_max") -
      r.getAs[Long]("p_min")).toDouble / pSpan, r.getAs[Long]("n_rows"))).toSeq)
    val zS = avgSpan(rows.map(r => ((r.getAs[Long]("s_max") -
      r.getAs[Long]("s_min")).toDouble / sSpan, r.getAs[Long]("n_rows"))).toSeq)
    // 16x16 z-cells: each dim's weighted zone-map span should sit near
    // 1/16 of its global span — well under 0.15 on BOTH dims at once
    assert(zP < 0.15, s"partkey zone maps too loose: $zP")
    assert(zS < 0.15, s"suppkey zone maps too loose: $zS")
    // contrast: 256 range buckets on partkey ALONE prune partkey
    // perfectly but leave suppkey unpruned (span ~ the full domain)
    val single = li.groupBy((col("l_partkey") * 256 /
        (st.getLong(1) + 1)).cast("int").as("b"))
      .agg(count(lit(1)).as("w"),
        (max(col("l_suppkey")) - min(col("l_suppkey"))).as("span"))
      .collect()
    val sgS = avgSpan(single.map(r =>
      (r.getAs[Long]("span").toDouble / sSpan, r.getAs[Long]("w"))).toSeq)
    assert(sgS > 0.8, s"single-dim layout unexpectedly pruned suppkey: $sgS")
  }

  test("q41 graph rank: matches a driver-side fixed-point replay " +
      "exactly, neighbor counts and node coverage included") {
    val sf = "/root/testdata/sf0.001"
    val e0 = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = e0.flatMap { case (c, s) =>
      Seq((c, 10000000L + s), (10000000L + s, c)) }
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nodes = edges.map(_._1).distinct
    var r = nodes.map(v => v -> 1000000L).toMap
    for (_ <- 1 to 4) {
      val m = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (src, dst) => m(dst) += r(src) / deg(src) }
      r = nodes.map(v => v -> (150000L + 850000L * m(v) / 1000000L)).toMap
    }
    val out = graft.SparkEntry.queries("q41_graph_rank")(spark, sf)
      .collect()
    assert(out.length === nodes.count(_ >= 10000000L))
    out.foreach { row =>
      val v = 10000000L + row.getAs[Long]("s_suppkey")
      assert(row.getAs[Long]("rank_fp") === r(v),
        s"rank diverged for supplier ${v - 10000000L}")
      assert(row.getAs[Long]("n_neighbors") === deg(v))
    }
    // ranks must differentiate suppliers (not a fixed point collapse)
    assert(out.map(_.getAs[Long]("rank_fp")).distinct.length > 1)
  }

  test("t40 dataset card: volumes account for every document and the " +
      "card is internally consistent") {
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val rows = graft.SparkEntry.queries("t40_dataset_card")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === d.count())
    assert(rows.map(_.getAs[Long]("n_chars")).sum ===
      d.agg(sum(length(col("text")))).head().getLong(0))
    rows.foreach { r =>
      val nDocs = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("top_lang_docs") <= nDocs)
      assert(r.getAs[Long]("top_lang_docs") >= 1L)
      assert(r.getAs[Long]("n_langs") >= 1L)
      val dups = r.getAs[Long]("n_exact_dups")
      assert(dups >= 0L && dups < nDocs)
      val rate = r.getAs[Double]("dup_rate")
      assert(rate >= 0.0 && rate < 1.0)
      assert(rate === dups.toDouble / nDocs)
      assert(r.getAs[Long]("n_tokens") >= nDocs) // every doc tokenizes
    }
    // the modal language must actually be the mode: recompute for one
    // source directly
    val src = rows.head.getAs[String]("source")
    val expect = d.filter(col("source") === src)
      .groupBy(col("lang")).count()
      .collect().map(r => (r.getLong(1), r.getString(0)))
      .sortBy { case (c, l) => (-c, l) }.head
    assert(rows.head.getAs[String]("top_lang") === expect._2)
    assert(rows.head.getAs[Long]("top_lang_docs") === expect._1)
  }

  test("q40 gap-fill: dense per-user hour grid, fills carry the last " +
      "observation through gaps, and observation counts are lossless") {
    val sf = "/root/testdata/sf0.001"
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val rows = graft.SparkEntry.queries("q40_gapfill_ffill")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("n_obs")).sum === ev.count(),
      "grid loses or invents observations")
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, g) =>
      val hours = g.map(_.getAs[Long]("hour_start")).sorted
      // dense: consecutive hours, no holes, bounded by observed hours
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600L },
        s"user $u grid has holes")
      assert(g.filter(_.getAs[Long]("n_obs") > 0).length >= 1)
      // forward fill: on observed hours v_ffill == v_last; on gaps it
      // equals the most recent earlier v_last
      var lastSeen: Option[Double] = None
      g.sortBy(_.getAs[Long]("hour_start")).foreach { r =>
        if (r.getAs[Long]("n_obs") > 0) {
          lastSeen = Some(r.getAs[Double]("v_last"))
          assert(r.getAs[Double]("v_ffill") === r.getAs[Double]("v_last"))
        } else {
          assert(r.isNullAt(r.fieldIndex("v_last")))
          assert(Some(r.getAs[Double]("v_ffill")) === lastSeen,
            s"gap fill diverged for user $u at ${r.getAs[Long]("hour_start")}")
        }
      }
    }
  }

  test("rouge overlap: identical pair scores 1, clipping caps repetition, disjoint is 0") {
    import spark.implicits._
    val tmp = tempDir("graft-rouge-docs")
    tmp.toFile.deleteOnExit()
    Seq(
      (0L, "a b c a"), (1L, "a b c a"), // identical candidate/reference
      (2L, "a a a b"), (3L, "a b"),     // repetition: clipped overlap
      (4L, "x y"), (5L, "p q")          // disjoint: all zeros, no NaN
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("t26_rouge_overlap")(spark, tmp.toString)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size === 3)
    val ident = out(0L) // 4 unigrams + 3 bigrams, all shared
    assert(ident.getLong(1) === 4L && ident.getDouble(2) === 1.0 &&
      ident.getDouble(3) === 1.0 && ident.getDouble(4) === 1.0)
    assert(ident.getLong(5) === 3L && ident.getDouble(8) === 1.0)
    // "a a a b" vs "a b": clipped r1 overlap = min(3,1)+min(1,1) = 2,
    // not 4 — the anti-repetition rule; bigram overlap only "a b"
    val clip = out(1L)
    assert(clip.getLong(1) === 2L && clip.getDouble(2) === 0.5 &&
      clip.getDouble(3) === 1.0)
    assert(math.abs(clip.getDouble(4) - 2.0 / 3.0) < 1e-15)
    assert(clip.getLong(5) === 1L &&
      math.abs(clip.getDouble(6) - 1.0 / 3.0) < 1e-15 &&
      clip.getDouble(7) === 1.0 && clip.getDouble(8) === 0.5)
    val disj = out(2L)
    assert(disj.getLong(1) === 0L && disj.getDouble(2) === 0.0 &&
      disj.getDouble(4) === 0.0 && disj.getLong(5) === 0L &&
      disj.getDouble(8) === 0.0)
    // real corpus: scores bounded, F1 positive exactly when overlap is
    val corpus = SparkEntry.queries("t26_rouge_overlap")(
      spark, "/root/testdata/sf0.001").cache()
    try {
      assert(corpus.filter(col("r1_p") > 1.0 || col("r1_r") > 1.0 ||
        col("r1_f1") > 1.0 || col("r2_f1") > 1.0).count() === 0)
      assert(corpus.filter((col("r1_overlap") > 0) =!= (col("r1_f1") > 0.0))
        .count() === 0)
      assert(corpus.filter((col("r2_overlap") > 0) =!= (col("r2_f1") > 0.0))
        .count() === 0)
    } finally corpus.unpersist()
  }

  test("quality classifier: logit is the exact dot of t20 features and md5 weights") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // weights recomputed locally, independent of the query's plan
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val w = (0 until 128)
      .map(b => b -> ((Integer.parseInt(md5hex(s"w$b").take(4), 16) % 1024) - 512).toLong)
      .toMap
    val feats = SparkEntry.queries("t20_hashed_features")(spark, dir)
      .as[(Long, Int, Long)].collect()
    val expect = feats.groupBy(_._1).map { case (id, rows) =>
      id -> (rows.map(r => r._3 * w(r._2)).sum, rows.map(_._3).sum)
    }
    val got = SparkEntry.queries("t27_quality_classifier")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(got.keySet === expect.keySet)
    expect.foreach { case (id, (logit, nTok)) =>
      val (gLogit, gScore, gKeep) = got(id)
      assert(gLogit === logit, s"doc $id")
      assert(gScore === logit.toDouble / nTok.toDouble, s"doc $id")
      assert(gKeep === (logit >= 0), s"doc $id")
    }
    // the model isn't degenerate on real data: both classes occur
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("repetition query drops sub-bigram docs and bounds the fraction") {
    val q = SparkEntry.queries("t11_repetition")
    val df = q(spark, "/root/testdata/sf0.001")
    assert(df.filter(col("n_bigrams") < 1).count() === 0)
    assert(df.filter(col("top_fraction") > 1.0 || col("top_fraction") <= 0.0).count() === 0)
    assert(df.filter(col("top_n") > col("n_bigrams")).count() === 0)
  }

  test("vocab encode: id order, OOV accounting, checksum pins the sequence") {
    val out = SparkEntry.queries("t12_vocab_encode")(spark, "/root/testdata/sf0.001")
    // every token is either in-vocab or OOV; empty docs don't exist
    assert(out.filter(col("n_oov") > col("n_tokens")).count() === 0)
    assert(out.filter(col("n_tokens") < 1).count() === 0)
    // an all-OOV doc's checksum is fully determined: Σ (i+1)·(−1+2)
    // = n(n+1)/2 — so any doc with n_oov = n_tokens must hit it exactly
    val allOov = out.filter(col("n_oov") === col("n_tokens"))
      .filter(col("ids_checksum") =!=
        (col("n_tokens") * (col("n_tokens") + 1)) / 2)
    assert(allOov.count() === 0)
  }

  test("token chunks: full cover, last-chunk remainder, exact-multiple edge") {
    import spark.implicits._
    val out = SparkEntry.queries("t13_token_chunks")(spark, "/root/testdata/sf0.001")
      .cache()
    // chunks tile the document: per-doc chunk_len sums to n_tokens
    assert(out.groupBy("doc_id", "n_tokens")
      .agg(sum("chunk_len").as("s"))
      .filter(col("s") =!= col("n_tokens")).count() === 0)
    // all but the last chunk are full-width
    assert(out.filter(col("chunk_len") < 64)
      .filter(col("chunk_start") + col("chunk_len") =!= col("n_tokens"))
      .count() === 0)
    // exact multiple of the window: no empty trailing chunk
    val exact128 = Seq((1L, (("tok " * 128).trim))).toDF("doc_id", "text")
    val dir = tempDir("t13").toString
    exact128.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val chunks = SparkEntry.queries("t13_token_chunks")(spark, dir).collect()
    assert(chunks.length === 2 && chunks.forall(_.getLong(4) === 64L))
  }

  test("text builders are reachable from SQL via GraftFunctions") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT lang_guess('the cat sat') AS g,
        |  redact_pii('mail bob@x.io at 10.0.0.1') AS red,
        |  pii_count('mail bob@x.io at 10.0.0.1') AS n,
        |  text_fingerprint('  A  b ') AS fp""".stripMargin).first()
    assert(r.getString(0) === "en")
    assert(r.getString(1) === "mail <EMAIL> at <IP>")
    assert(r.getLong(2) === 2)
    assert(r.getString(3) === java.security.MessageDigest.getInstance("MD5")
      .digest("a b".getBytes).map("%02x".format(_)).mkString)
  }

  test("GraftExtensions injects every SQL function into a registry") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.graft.Bridge.registerFunctions(ext,
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())
    graft.functions.GraftFunctions.builders.foreach { case (name, _) =>
      assert(reg.functionExists(FunctionIdentifier(name)), name)
    }
    // an injected builder produces a working expression
    val expr = reg.lookupFunction(FunctionIdentifier("redact_pii"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal("mail bob@x.io")))
    val out = spark.range(1)
      .select(org.apache.spark.sql.graft.Bridge.column(expr)).first().getString(0)
    assert(out === "mail <EMAIL>")
  }

  test("BPE: hand-computed merge sequence and encode on the classic corpus") {
    import graft.functions.Bpe
    // Sennrich's running example: {"low": 2, "lower": 1}
    val merges = Bpe.trainOnCounts(Map("low" -> 2L, "lower" -> 1L), 3)
    assert(merges === Vector(("l", "o"), ("lo", "w"), ("low", Bpe.EndOfWord)))
    val rank = merges.zipWithIndex.toMap
    // a word never seen in training reuses the learned stem
    assert(Bpe.encodeWord("lowest", rank) ===
      Vector("low", "e", "s", "t", Bpe.EndOfWord))
    assert(Bpe.encodeWord("low", rank) === Vector("low" + Bpe.EndOfWord))
    // exhausting all pairs ends training early, deterministically
    val all = Bpe.trainOnCounts(Map("ab" -> 1L), 100)
    assert(all === Vector(("a", "b"), ("ab", Bpe.EndOfWord)))
  }

  test("BPE: greedy training is prefix-stable — t23's 8 merges are t17's first 8") {
    // the oracled t23 and the no-oracle t17 differ ONLY in merge count:
    // greedy training at a lower count must produce a literal prefix of
    // the higher-count merge list, so t23's equality oracle pins the
    // identical code path t17 runs
    import graft.functions.Bpe
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val m50 = Bpe.trainMerges(docs, numMerges = 50, sampleDocs = 100)
    val m8 = Bpe.trainMerges(docs, numMerges = 8, sampleDocs = 100)
    assert(m50.take(8) === m8)
  }

  test("BPE: distributed encode is deterministic and matches a local re-encode") {
    import graft.functions.Bpe
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.trainMerges(docs, numMerges = 50, sampleDocs = 20)
    assert(merges.length === 50)
    val a = Bpe.encode(docs, merges).orderBy("doc_id").collect()
    val b = Bpe.encode(docs.repartition(7), merges).orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq, "encode must not depend on partitioning")
    // spot-check one doc against a pure-local re-encode
    val rank = merges.zipWithIndex.toMap
    val (id0, text0) = docs.select(col("doc_id").cast("long"),
        col("text").cast("string")).as[(Long, String)]
      .orderBy(col("doc_id")).head()
    val subs = text0.trim.toLowerCase.split("\\s+").toSeq
      .flatMap(w => Bpe.encodeWord(w, rank))
    val row = a.find(_.getLong(0) == id0).get
    assert(row.getLong(1) === subs.length.toLong)
    assert(row.getLong(2) === subs.distinct.length.toLong)
  }

  test("langGuess argmax: declared-order tie precedence and und fallback") {
    import spark.implicits._
    val rows = Seq(
      "the der",            // en and de tie at 1 → en (declared first)
      "der die das",        // de wins
      "xyzzy qqq",          // no markers → und
      "el el the"           // es 2 beats en 1
    ).toDF("text")
    val out = rows.select(TF.langGuess(TF.tokens(lower(col("text")))).as("g"))
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("en", "de", "und", "es"))
  }

  test("t18 source mix: exact lower median for odd and even strata") {
    import spark.implicits._
    // stratum A: 4 docs (even count -> lower median = rank 2 = 20);
    // stratum B: 3 docs (odd count -> rank 2 = 7)
    val docs = Seq(
      (1L, "a b", "en", "A", 10L), (2L, "a b c", "en", "A", 20L),
      (3L, "a", "en", "A", 30L), (4L, "a b c d", "en", "A", 40L),
      (5L, "x", "de", "B", 5L), (6L, "x y", "de", "B", 7L),
      (7L, "x y z", "de", "B", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("t18").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t18_source_mix")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(out === Set(
      ("A", "en", 4L, 100L, 10L, 20L),
      ("B", "de", 3L, 21L, 6L, 7L)))
  }

  test("p3 keeper policy: longest member wins, ties break to lowest doc_id") {
    import spark.implicits._
    // docs 1,2,3 are near-identical (one clique); 2 is longest -> keeper.
    // docs 10,11 tie on length -> keeper is the lower id.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "en", "s", 0L),
      (2L, base + " lambda mu", "en", "s", 0L),
      (3L, base + " lambda", "en", "s", 0L),
      (10L, "one two three four five six seven eight nine ten", "en", "s", 0L),
      (11L, "one two three four five six seven eight nine ten", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("p3").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("p3_dedup_keeper")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 2L, 3L, 12L),   // comp 1: keeper 2 (12 tokens), 3 members
      (10L, 10L, 2L, 10L)))// comp 10: tie at 10 tokens -> keeper 10
  }

  test("p4 leakage-safe split: near-dup groups co-assigned, singletons keep t7's split") {
    import spark.implicits._
    val out = SparkEntry.queries("p4_leakage_split")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // total: one row per document
    val nDocs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").count()
    assert(out.length.toLong === nDocs)
    // leakage invariant: every rep's group has exactly one split
    out.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.map(_._3).toSet.size === 1, s"rep $rep split across sets")
    }
    // singletons (rep == self) must agree with the plain t7 assignment
    val t7 = SparkEntry.queries("t7_split_assign")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.filter { case (id, rep, _) => id == rep }.foreach { case (id, _, sp) =>
      assert(sp === t7(id), s"doc $id")
    }
    // group members inherit the REPRESENTATIVE's split
    out.filter { case (id, rep, _) => id != rep }.foreach { case (id, rep, sp) =>
      assert(sp === t7(rep), s"doc $id rep $rep")
    }
  }

  test("t19 bigram mass: counts shared vs unique bigrams, 2-token floor") {
    import spark.implicits._
    // "a b" appears in docs 1 and 2 (cnt 2); "b c" only in doc 2 (cnt 1);
    // doc 3 has a single repeated bigram inside one doc (cnt 2 from itself)
    val docs = Seq(
      (1L, "a b", "en", "s", 3L),
      (2L, "a b c", "en", "s", 5L),
      (3L, "z z z", "en", "s", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("t19").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t19_bigram_mass")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc1: 1 bigram "a b" (corpus cnt 2) -> mass 2, 0 unique
    // doc2: "a b" (2) + "b c" (1) -> mass 3, 1 unique
    // doc3: "z z" twice (corpus cnt 2) -> mass 4, 0 unique
    assert(out === Set((1L, 1L, 2L, 0L), (2L, 2L, 3L, 1L), (3L, 2L, 4L, 0L)))
  }

  test("canonicalUrl: case, default ports, tracking params, order, fragments") {
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    val cases = Seq(
      // scheme+host lowercase; path case PRESERVED
      ("HTTPS://EXAMPLE.COM/Path/X?a=1", "https://example.com/Path/X?a=1"),
      // default port stripped per scheme
      ("https://example.com:443/p?a=1", "https://example.com/p?a=1"),
      ("http://example.com:80/p?a=1", "http://example.com/p?a=1"),
      // NON-default port kept
      ("https://example.com:8443/p?a=1", "https://example.com:8443/p?a=1"),
      // http on 443 is a real (odd) port — kept
      ("http://example.com:443/p", "http://example.com:443/p"),
      // tracking params dropped; survivors sorted; empty query -> no '?'
      ("https://e.com/p?utm_source=tw&b=2&a=1", "https://e.com/p?a=1&b=2"),
      ("https://e.com/p?utm_campaign=x&gclid=1&fbclid=2", "https://e.com/p"),
      // fragment dropped
      ("https://e.com/p?a=1#frag", "https://e.com/p?a=1"),
      ("https://e.com/p#frag", "https://e.com/p"),
      // a SECOND '?' stays inside the query (RFC 3986): the query is
      // everything after the FIRST '?', not the last
      ("https://e.com/p?a=1?x&b=2", "https://e.com/p?a=1?x&b=2"),
      // ...even inside a tracking param, which is still dropped whole
      ("https://e.com/p?utm_source=t?w&a=1", "https://e.com/p?a=1"),
      // bare path, no query
      ("https://e.com/", "https://e.com/"))
    val got = cases.map(_._1).toDF("url")
      .select(TF.canonicalUrl(org.apache.spark.sql.functions.col("url")))
      .as[String].collect().toSeq
    assert(got === cases.map(_._2))
  }
}
