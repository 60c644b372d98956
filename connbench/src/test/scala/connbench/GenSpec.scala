package connbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def ingest(seed: Long) = Gen.bytesOf((0 until 4).map(i =>
    Gen.ingestJob(seed, i, wide = i == 3, rows = 50, numShards = 8)))
  private def scan(seed: Long) = Gen.bytesOfCommits(
    Gen.scanCommits(seed, commits = 6, segsPerCommit = 3, recsPerSeg = 5, numShards = 16, keys = 4))
  private def tail(seed: Long) = Gen.bytesOfCommits(
    Gen.tailCommits(seed, "tail", 0, commits = 3, numShards = 4, recsPerSeg = 5,
      commitsPerSecond = 10, keys = 4))
  private def docs(seed: Long) = Gen.bytesOfDocs(Gen.docGroup(seed, 1, 1L, bases = 20, dupEvery = 4))

  private val inputs = Seq("ingest" -> (ingest _), "scan" -> (scan _),
    "tail" -> (tail _), "dedup" -> (docs _))

  for ((name, gen) <- inputs) {
    test(s"$name: the same seed gives byte-identical inputs") {
      assert(java.util.Arrays.equals(gen(7L), gen(7L)))
    }
    test(s"$name: a different seed gives different inputs") {
      assert(!java.util.Arrays.equals(gen(7L), gen(8L)))
    }
  }

  test("planted clusters hold every copy with its base, and only those") {
    val g = Gen.docGroup(3L, 0, 100L, bases = 40, dupEvery = 4)
    assert(g.clusters.size == 10)
    assert(g.clusters.forall(c => c.size >= 2 && c.size <= 4))
    val clustered = g.clusters.flatten
    assert(clustered.distinct.size == clustered.size)
    assert(g.docs.map(_.id) == (100L until 100L + g.docs.size))
  }

  test("column-routed ingest rows land where the connector's routing puts them") {
    val j = Gen.ingestJob(5L, 0, wide = false, rows = 100, numShards = 8)
    assert(j.byColumn)
    assert(j.keys.indices.forall(i =>
      j.shards(i) == Math.floorMod(j.keys(i).hashCode, 8)))
  }
}
