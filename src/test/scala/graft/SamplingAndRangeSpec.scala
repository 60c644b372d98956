package graft

import graft.operators.{Sampling, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the round-10 additions whose main-line behavior is
  * pinned by the t24/t25/s11 DuckDB oracles: the hash-threshold
  * sampling invariants (nesting, determinism, rate edges) and the
  * radius-search/top-k consistency that no SQL replay can state. */
class SamplingAndRangeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))

  test("stratified sample: nested rates nest the sample; weight = 1/rate") {
    val lo = Sampling.stratified(docs, col("source"), col("doc_id"),
      Map.empty, defaultBp = 1000)
    val hi = Sampling.stratified(docs, col("source"), col("doc_id"),
      Map.empty, defaultBp = 5000)
    val loIds = lo.select("doc_id").collect().map(_.getLong(0)).toSet
    val hiIds = hi.select("doc_id").collect().map(_.getLong(0)).toSet
    // a row's hash bucket never changes, so shrinking the rate can only
    // remove rows — the monotonicity that makes remixes non-churning
    assert(loIds.subsetOf(hiIds))
    assert(lo.select("weight").distinct().collect()
      .map(_.getDouble(0)).toSeq === Seq(10.0))
    assert(hi.select("weight").distinct().collect()
      .map(_.getDouble(0)).toSeq === Seq(2.0))
  }

  test("stratified sample: rate edges, default stratum, layout invariance") {
    val rates = Map("src0" -> 10000, "src1" -> 0)
    val s = Sampling.stratified(docs, col("source"), col("doc_id"),
      rates, defaultBp = 2500)
    // bp=10000 keeps every row; bp=0 keeps none; others use the default
    assert(s.filter(col("source") === "src0").count() ===
      docs.filter(col("source") === "src0").count())
    assert(s.filter(col("source") === "src1").count() === 0)
    // identical sample regardless of physical layout
    val s2 = Sampling.stratified(docs.repartition(7), col("source"),
      col("doc_id"), rates, defaultBp = 2500)
    assert(s.select("doc_id").collect().map(_.getLong(0)).toSet ===
      s2.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("stratified sample rejects rates outside basis-point range") {
    intercept[IllegalArgumentException] {
      Sampling.stratified(docs, col("source"), col("doc_id"),
        Map("src0" -> 10001), defaultBp = 1000)
    }
    intercept[IllegalArgumentException] {
      Sampling.stratified(docs, col("source"), col("doc_id"),
        Map.empty, defaultBp = -1)
    }
  }

  test("pmi lift: hand-checked on an engineered corpus") {
    import spark.implicits._
    // 6×"new york is big" + 6×"big apple is new": N=48 tokens,
    // c(new)=c(is)=c(big)=12, c(york)=c(apple)=6, every adjacent pair
    // occurs 6 times (≥ minCount 5). lift = 6·48/(c_x·c_y):
    //   (new,york) (york,is) (big,apple) (apple,is) → 288/72  = 4.0
    //   (is,big)   (is,new)                         → 288/144 = 2.0
    val d = ((1 to 6).map(i => (i.toLong, "new york is big", "en", "s", 15L)) ++
      (7 to 12).map(i => (i.toLong, "big apple is new", "en", "s", 15L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = tempDir("t24").toString
    d.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("t24_pmi_collocations")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    assert(out.length === 6)
    val byPair = out.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(byPair === Map(
      ("new", "york") -> (6L, 4.0), ("york", "is") -> (6L, 4.0),
      ("big", "apple") -> (6L, 4.0), ("apple", "is") -> (6L, 4.0),
      ("is", "big") -> (6L, 2.0), ("is", "new") -> (6L, 2.0)))
    // the 4.0 block sorts before the 2.0 block (lift desc, then w1 asc)
    assert(out.take(4).map(_._4).forall(_ === 4.0))
    assert(out.take(4).map(_._1).toSeq ===
      Seq("apple", "big", "new", "york"))
  }

  test("salted join returns exactly the unsalted join, any factor") {
    import graft.operators.SkewJoin
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_nationkey"))
    val plain = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("s_nationkey"))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    for (factor <- Seq(1, 3, 8)) {
      val salted = SkewJoin.saltedInner(li, sup, "l_suppkey", "s_suppkey", factor)
        .select(col("l_orderkey"), col("l_linenumber"), col("s_nationkey"))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(salted === plain, s"factor $factor")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedInner(li, sup, "l_suppkey", "s_suppkey", 0)
    }
  }

  test("range search: threshold honored, self excluded, knn-consistent") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val tau = 0.2
    val rows = Similarity.rangeSearch(e, e.filter(col("vec_id") < 8), tau)
      .collect()
    assert(rows.forall(_.getDouble(2) >= tau))
    assert(!rows.exists(r => r.getLong(0) == r.getLong(1)))
    val rset = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    // any top-k hit above the threshold must appear in the radius result
    val knn = Similarity.bruteForceKnn(e, e.filter(col("vec_id") < 8), k = 10)
      .filter(col("sim") >= tau).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(knn.subsetOf(rset))
  }
}
