package graft

import graft.functions.Sketches._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchesSpec extends AnyFunSuite with StopStreamsAfterAll with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"
  private def events = spark.read.parquet(s"$sf/events.parquet")
  private def lineitem = spark.read.parquet(s"$sf/lineitem.parquet")

  test("hll estimate within 5% of exact distinct count") {
    val r = events.agg(
      hll_estimate(hll_build(col("user_id"))).as("est"),
      countDistinct(col("user_id")).as("exact")).head()
    val (est, exact) = (r.getLong(0), r.getLong(1))
    assert(math.abs(est - exact).toDouble / exact < 0.05, s"est $est exact $exact")
  }

  test("compaction-free KLL (capacity > n) reproduces exact rank quantiles") {
    // the k5 regime: every item sits in level 0 at weight 1, so
    // quantile(q) must equal the sorted value at 1-based rank
    // min(n, max(1, floor(q*n))) — exactly, not approximately
    val cap = 1 << 17
    val merged = events
      .groupBy(col("event_type"), (col("user_id") % 16).as("slice"))
      .agg(kll_build(col("value").cast("double"), cap).as("sk"))
      .groupBy(col("event_type"))
      .agg(kll_merge(col("sk")).as("sk"))
      .select(col("event_type"),
        kll_quantile(col("sk"), 0.25).as("p25"),
        kll_quantile(col("sk"), 0.95).as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val grouped = events.select(col("event_type"), col("value"))
      .collect().groupBy(_.getString(0))
      .map { case (et, rows) => et -> rows.map(_.getDouble(1)).sorted }
    assert(merged.keySet === grouped.keySet)
    for ((et, vals) <- grouped) {
      val n = vals.length.toLong
      def rank(q: Double) = ((q * n).toLong.max(1L).min(n) - 1).toInt
      assert(merged(et)._1 === vals(rank(0.25)), s"$et p25")
      assert(merged(et)._2 === vals(rank(0.95)), s"$et p95")
    }
  }

  test("hll merge of per-group sketches equals the global sketch exactly") {
    val global = events.agg(hll_estimate(hll_build(col("user_id")))).head().getLong(0)
    val merged = events.groupBy(col("event_type"))
      .agg(hll_build(col("user_id")).as("sk"))
      .agg(hll_estimate(hll_merge(col("sk"))))
      .head().getLong(0)
    // register-wise max is associative+commutative: identical, not close
    assert(merged === global)
  }

  test("hll sketch column is storable and re-aggregable (two-level rollup)") {
    import java.nio.file.Files
    val out = tempDir("graft-sketch").toString
    events.groupBy(col("event_type"), (col("user_id") % 7).as("slice"))
      .agg(hll_build(col("user_id")).as("sk"))
      .write.mode("overwrite").parquet(out)
    val rolled = spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(hll_estimate(hll_merge(col("sk"))).as("est"))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact"))
    val joined = rolled.join(exact, "event_type").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (est, ex) = (r.getLong(1), r.getLong(2))
      assert(math.abs(est - ex).toDouble / ex < 0.05, s"$r")
    }
  }

  test("kll_merge carries a non-default k through partial merge") {
    // final-side buffers are created with the default k=256; merging
    // k=128 partials must adopt the incoming k, not fail the query
    val p50 = lineitem
      .groupBy(col("l_returnflag"))
      .agg(kll_build(col("l_extendedprice").cast("double"), k = 128).as("sk"))
      .agg(kll_quantile(kll_merge(col("sk")), 0.5).as("p50"))
      .head().getDouble(0)
    val exact = lineitem.stat.approxQuantile("l_extendedprice", Array(0.5), 0.0)(0)
    assert(math.abs(p50 - exact) / exact < 0.1, s"p50 $p50 exact $exact")
  }

  test("kll quantiles within 2% rank error of exact") {
    val qs = Seq(0.1, 0.5, 0.95, 0.99)
    val sk = lineitem.agg(kll_build(col("l_extendedprice").cast("double")).as("sk"))
    val ests = sk.select(qs.map(q => kll_quantile(col("sk"), q).as(s"q$q")): _*)
      .head().toSeq.map(_.asInstanceOf[Double])
    val n = lineitem.count()
    val sortedDf = lineitem.select(col("l_extendedprice").cast("double").as("v"))
      .orderBy(col("v")).collect().map(_.getDouble(0))
    qs.zip(ests).foreach { case (q, est) =>
      // rank error: position of the estimate vs target rank, within 2% of n
      val rank = sortedDf.count(_ <= est)
      val target = q * n
      assert(math.abs(rank - target) <= 0.02 * n,
        s"q=$q est=$est rank=$rank target=$target n=$n")
    }
  }

  test("kll merge of per-group sketches keeps rank error") {
    val merged = lineitem.groupBy(col("l_returnflag"))
      .agg(kll_build(col("l_extendedprice").cast("double")).as("sk"))
      .agg(kll_quantile(kll_merge(col("sk")), 0.5).as("p50"))
      .head().getDouble(0)
    val n = lineitem.count()
    val sorted = lineitem.select(col("l_extendedprice").cast("double").as("v"))
      .orderBy(col("v")).collect().map(_.getDouble(0))
    val rank = sorted.count(_ <= merged)
    assert(math.abs(rank - 0.5 * n) <= 0.03 * n, s"p50=$merged rank=$rank n=$n")
  }

  test("kmv: merge of per-slice sketches is BYTE-equal to the global build") {
    // bottom-k of a set union is associative+commutative — the same
    // byte-for-byte merge contract as CMS counters / HLL registers
    val whole = events.agg(kmv_build(col("user_id"), 64)).head()
      .getAs[Array[Byte]](0)
    val merged = events
      .groupBy((col("user_id") % 7).as("slice"))
      .agg(kmv_build(col("user_id"), 64).as("sk"))
      .agg(kmv_merge(col("sk"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, merged))
  }

  test("kmv estimate within 15% of exact distinct; exact below capacity") {
    val r = events.agg(
      kmv_estimate(kmv_build(col("user_id"), 256)).as("est"),
      countDistinct(col("user_id")).as("exact")).head()
    val (est, exact) = (r.getDouble(0), r.getLong(1))
    assert(math.abs(est - exact) / exact < 0.15, s"est $est exact $exact")
    // capacity above the distinct count: the sketch IS the set
    val small = events.filter(col("user_id") < 50)
    val r2 = small.agg(
      kmv_estimate(kmv_build(col("user_id"), 1024)).as("est"),
      countDistinct(col("user_id")).as("exact")).head()
    assert(r2.getDouble(0) === r2.getLong(1).toDouble)
  }

  test("kmv jaccard: identical sets 1.0, disjoint sets 0.0, overlap tracks truth") {
    import spark.implicits._
    def sk(lo: Int, hi: Int) = (lo until hi).toDF("v")
      .agg(kmv_build(col("v"), 128)).head().getAs[Array[Byte]](0)
    val a = sk(0, 2000)
    val b = sk(0, 2000)
    val c = sk(2000, 4000)
    val half = sk(1000, 3000) // true J(a, half) = 1000/3000 = 1/3
    def jac(x: Array[Byte], y: Array[Byte]) =
      spark.range(1).select(kmv_jaccard(lit(x), lit(y))).head().getDouble(0)
    assert(jac(a, b) === 1.0)
    assert(jac(a, c) === 0.0)
    val j = jac(a, half)
    assert(j > 0.15 && j < 0.55, s"J estimate $j for truth 1/3")
    // intersection estimate tracks |a ∩ half| = 1000 within 35%
    val inter = spark.range(1)
      .select(kmv_intersect_estimate(lit(a), lit(half))).head().getDouble(0)
    assert(inter > 650 && inter < 1350, s"intersect estimate $inter for truth 1000")
  }

  test("kmv SQL surface matches the Column API") {
    graft.functions.GraftFunctions.registerAll(spark)
    events.createOrReplaceTempView("ev_kmv_sql")
    val viaSql = spark.sql(
      """SELECT kmv_estimate(kmv_build(user_id, 256)) AS est,
        |       kmv_jaccard(kmv_build(user_id, 64), kmv_build(user_id, 64)) AS j
        |FROM ev_kmv_sql""".stripMargin).head()
    val viaCol = events.agg(
      kmv_estimate(kmv_build(col("user_id"), 256))).head().getDouble(0)
    assert(viaSql.getDouble(0) === viaCol)
    assert(viaSql.getDouble(1) === 1.0)
  }

  test("bloom filter: no false negatives, FPR within design bound") {
    import spark.implicits._
    val b = graft.functions.Bloom
    val n = 2000
    val members = (0 until n).map(i => s"item-$i").toDF("v")
    val blob = members.agg(b.bloom_build(col("v"), n, 0.01)).head()
      .getAs[Array[Byte]](0)
    assert(members.filter(!b.bloom_might_contain(lit(blob), col("v")))
      .count() === 0L, "a Bloom filter must never miss an inserted value")
    val nProbes = 20000
    val falsePos = (0 until nProbes).map(i => s"other-$i").toDF("v")
      .filter(b.bloom_might_contain(lit(blob), col("v"))).count()
    assert(falsePos <= (nProbes * 0.03).toLong,
      s"FPR ${falsePos.toDouble / nProbes} above 3x the 1% design point")
  }

  test("bloom build is partitioning-invariant and bloom_merge equals the whole") {
    import spark.implicits._
    val b = graft.functions.Bloom
    val n = 2000
    val members = (0 until n).map(i => s"item-$i").toDF("v")
    val whole = members.agg(b.bloom_build(col("v"), n, 0.01)).head()
      .getAs[Array[Byte]](0)
    val repart = members.repartition(8)
      .agg(b.bloom_build(col("v"), n, 0.01)).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, repart),
      "partial-OR merge must be byte-identical across partitionings")
    // the persisted-partials rollup: per-group filters re-merge exactly
    val merged = members
      .withColumn("g", pmod(xxhash64(col("v")), lit(4)))
      .groupBy(col("g")).agg(b.bloom_build(col("v"), n, 0.01).as("bf"))
      .agg(b.bloom_merge(col("bf"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, merged))
  }

  test("bloom SQL surface matches the Column API") {
    graft.functions.GraftFunctions.registerAll(spark)
    events.createOrReplaceTempView("ev_bloom_sql")
    val viaSql = spark.sql(
      """SELECT bloom_might_contain(
        |         (SELECT bloom_build(user_id, 1000, 0.01) FROM ev_bloom_sql),
        |         user_id) AS hit
        |FROM ev_bloom_sql""".stripMargin)
      .filter(!col("hit")).count()
    assert(viaSql === 0L)
  }

  test("SQL surface matches the Column API") {
    graft.functions.GraftFunctions.registerAll(spark)
    events.createOrReplaceTempView("ev_sql")
    val viaSql = spark.sql(
      """SELECT hll_estimate(hll_build(user_id)) AS est,
        |       kll_quantile(kll_build(CAST(value AS DOUBLE)), 0.5) AS p50,
        |       rolling_hash('abc') AS rh
        |FROM ev_sql""".stripMargin).head()
    val viaCols = events.agg(
      hll_estimate(hll_build(col("user_id"))).as("est"),
      kll_quantile(kll_build(col("value").cast("double")), 0.5).as("p50"))
      .head()
    assert(viaSql.getLong(0) === viaCols.getLong(0))
    assert(viaSql.getDouble(1) === viaCols.getDouble(1))
    assert(viaSql.getLong(2) ===
      graft.functions.RollingHash.hashBytes("abc".getBytes("UTF-8")))
  }

  test("hll aggregates merge correctly inside streaming state") {
    import graft.store.{EmbeddedLogStore, LogRecord}
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("graft-sk-stream").toString
    val store = new EmbeddedLogStore(root)
    store.createStore("proj", "logs", 1)
    // users 0..39 across two segments → several micro-batches with pacing
    store.appendSegment("proj", "logs", 0, "a", (0 until 60).map(i =>
      LogRecord(1700000000 + i, "t", "s", Map.empty,
        Map("uid" -> (i % 40).toString))))
    val ckpt = tempDir("ckpt").toString
    val q = spark.readStream.format("graft-logstore")
      .option("store.root", root).option("store.project", "proj")
      .option("store.name", "logs")
      .option("maxoffsetspertrigger", "16") // force multi-batch state merges
      .schema("uid LONG").load()
      .agg(hll_estimate(hll_build(col("uid"))).as("est"))
      .writeStream.format("memory").queryName("t_hll_stream")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val streamed = spark.table("t_hll_stream").head().getLong(0)
    // deterministic sketch: the streaming state-store merge path must
    // produce the IDENTICAL estimate as one batch pass
    val batch = spark.read.format("graft-logstore")
      .option("store.root", root).option("store.project", "proj")
      .option("store.name", "logs").schema("uid LONG").load()
      .agg(hll_estimate(hll_build(col("uid")))).head().getLong(0)
    assert(streamed === batch)
    assert(math.abs(streamed - 40L) <= 2, s"est $streamed for 40 users")
  }

  test("kll total weight equals ingested count") {
    val skBytes = lineitem.limit(10000)
      .agg(kll_build(col("l_quantity").cast("double"))).head()
      .getAs[Array[Byte]](0)
    val buf = graft.functions.KllOps.deserialize(skBytes)
    val weight = buf.levels.indices.map(i => buf.levels(i).length.toLong << i).sum
    assert(buf.count === 10000L)
    assert(weight === 10000L, s"weight $weight")
  }

  test("cms: never undercounts, overcount within the epsilon bound") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val sk = toks.agg(cms_build(col("tok"))).head().getAs[Array[Byte]](0)
    val n = toks.count()
    val exact = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val eps = math.E / graft.functions.CmsOps.Width
    val skDf = spark.range(1).select(lit(sk).as("sk"))
    (exact.keySet.take(50) + "zzz_never_seen").foreach { t =>
      val est = skDf.select(cms_query(col("sk"), lit(t))).head().getLong(0)
      val truth = exact.getOrElse(t, 0L)
      assert(est >= truth, s"$t undercounted: $est < $truth")
      assert(est <= truth + (eps * n).toLong + 1,
        s"$t overcounted past bound: $est vs $truth + ${(eps * n).toLong}")
    }
  }

  test("k4 heavy hitters: CMS candidates are a superset, exact filter restores equality") {
    val out = SparkEntry.queries("k4_heavy_hitters")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.functions.TextFunctions.tokens(
        lower(col("text")))).as("tok"))
    val truth = toks.groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).filter(_._2 >= 900L).toMap
    assert(out === truth)
    // the probe itself never drops a true heavy (CMS overcounts only)
    val sk = toks.agg(cms_build(graft.functions.Fnv64.fnv64(col("tok"))))
      .head().getAs[Array[Byte]](0)
    val skDf = spark.range(1).select(lit(sk).as("sk"))
    truth.keySet.foreach { t =>
      val est = skDf.select(cms_query(col("sk"),
        lit(graft.functions.Fnv64.hashBytes(t.getBytes("UTF-8"))))).head().getLong(0)
      assert(est >= truth(t), s"$t: est $est < exact ${truth(t)}")
    }
  }

  test("cms merge of per-source sketches is BYTE-equal to the global build") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
    val merged = toks.groupBy("source").agg(cms_build(col("tok")).as("sk"))
      .agg(cms_merge(col("sk"))).head().getAs[Array[Byte]](0)
    val global = toks.agg(cms_build(col("tok"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, global),
      "counter addition must make merge(partials) identical to build(all)")
  }
}
