package connbench

import graft.store.LogRecord
import java.nio.charset.StandardCharsets

/** SplitMix64: a fixed, version-independent stream per seed, so the same
  * seed yields the same inputs on every JVM. */
final class Rng(seed: Long) {
  private var state = seed
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def word(len: Int): String = {
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(('a' + nextInt(26)).toChar); i += 1 }
    sb.toString
  }
}

/** Seeded input generators. Every workload input is a pure function of
  * (seed, sizes); the program under test only ever sees these inputs.
  * Reference answers are computed from the same values, never from the
  * program. */
object Gen {
  /** Event-time origin of every generated record (2023-11-14T22:13:20Z). */
  val T0 = 1700000000

  /** Independent stream for one named input of one seed. */
  def rng(seed: Long, stream: String): Rng =
    new Rng(seed * 0x2545f4914f6cdd1dL ^ stream.hashCode.toLong)

  // ---- ingest: DSv2 append jobs -------------------------------------

  /** One generated append job. Narrow jobs carry (key, v, __time__) and
    * either an explicit `__shard__` column or routing by `key`; wide jobs
    * add ten string columns. `shards(i)` is where row i must land. */
  case class IngestJob(id: Int, wide: Boolean, byColumn: Boolean,
      keys: Array[String], values: Array[Long], times: Array[Int],
      extra: Array[Array[String]], shards: Array[Int])

  val WideColumns = 10

  /** Shard the connector routes a `routing.column` value to: the
    * documented contract, hash(value) mod writable shards. */
  def routedShard(key: String, numShards: Int): Int =
    math.floorMod(key.hashCode, numShards)

  def ingestJob(seed: Long, id: Int, wide: Boolean, rows: Int,
      numShards: Int): IngestJob = {
    val r = rng(seed, s"ingest-$id")
    val byColumn = !wide && id % 2 == 0
    val keys = Array.fill(rows)(s"key-${r.nextInt(4096)}")
    val values = Array.fill(rows)(r.nextInt(1000000).toLong)
    val times = Array.tabulate(rows)(i => T0 + id * 60 + i % 60)
    val extra =
      if (wide) Array.fill(rows)(Array.fill(WideColumns)(r.word(16)))
      else Array.empty[Array[String]]
    val shards =
      if (byColumn) keys.map(routedShard(_, numShards))
      else Array.fill(rows)(r.nextInt(numShards))
    IngestJob(id, wide, byColumn, keys, values, times, extra, shards)
  }

  // ---- scan / tail: segments written straight through the store -----

  /** One commit: segments keyed by shard. */
  case class Commit(segments: Seq[(Int, Seq[LogRecord])])

  private def record(r: Rng, time: Int, keys: Int): LogRecord =
    LogRecord(time, "t", "gen", Map.empty, Map(
      "k" -> s"k${r.nextInt(keys)}",
      "v" -> r.nextInt(1000).toString,
      "w" -> (r.nextInt(4000) / 4.0).toString,
      "s" -> r.word(24)))

  /** `commits` commits of `segsPerCommit` segments on distinct seeded
    * shards, `recsPerSeg` records each. Commit c holds event times
    * [T0 + 60c, T0 + 60c + 60), so time ranges prune whole segments. */
  def scanCommits(seed: Long, commits: Int, segsPerCommit: Int,
      recsPerSeg: Int, numShards: Int, keys: Int): Seq[Commit] = {
    val r = rng(seed, "scan")
    (0 until commits).map { c =>
      val shards = Iterator.continually(r.nextInt(numShards)).distinct
        .take(segsPerCommit).toSeq.sorted
      Commit(shards.map { s =>
        s -> (0 until recsPerSeg).map(i =>
          record(r, T0 + 60 * c + (i * 60 / recsPerSeg), keys))
      })
    }
  }

  /** Tail input: commit c stages one segment on every shard, all with
    * event time T0 + c / commitsPerSecond, so event time never goes back
    * and no record is ever behind the watermark. */
  def tailCommits(seed: Long, stream: String, from: Int, commits: Int,
      numShards: Int, recsPerSeg: Int, commitsPerSecond: Int,
      keys: Int): Seq[Commit] = {
    val r = rng(seed, stream)
    (from until from + commits).map { c =>
      val t = T0 + c / commitsPerSecond
      Commit((0 until numShards).map { s =>
        s -> (0 until recsPerSeg).map(_ => record(r, t, keys))
      })
    }
  }

  // ---- dedup: documents with planted near-duplicate clusters ---------

  case class Doc(id: Long, text: String)

  /** A group of documents plus its planted clusters (each a set of >= 2
    * doc ids). Clusters never straddle groups. */
  case class DocGroup(docs: Seq[Doc], clusters: Seq[Set[Long]])

  val DocTokens = 80
  val Vocabulary = 20000

  /** `bases` random 80-token documents over a 20k-word vocabulary; every
    * `dupEvery`-th base gets 1-3 copies with 1-2 tokens substituted.
    * With 3-token shingles a copy keeps Jaccard >= 72/84 > 0.8 with its
    * base, while unrelated documents share almost no shingle. */
  def docGroup(seed: Long, group: Int, firstId: Long, bases: Int,
      dupEvery: Int): DocGroup = {
    val r = rng(seed, s"docs-$group")
    var next = firstId
    val docs = Seq.newBuilder[Doc]
    val clusters = Seq.newBuilder[Set[Long]]
    (0 until bases).foreach { b =>
      val toks = Array.fill(DocTokens)(s"w${r.nextInt(Vocabulary)}")
      val baseId = next; next += 1
      docs += Doc(baseId, toks.mkString(" "))
      if (b % dupEvery == 0) {
        val copies = 1 + r.nextInt(3)
        val ids = (0 until copies).map { _ =>
          val t = toks.clone()
          (0 until 1 + r.nextInt(2)).foreach { _ =>
            t(r.nextInt(DocTokens)) = s"x${r.nextInt(Vocabulary)}"
          }
          val id = next; next += 1
          docs += Doc(id, t.mkString(" "))
          id
        }
        clusters += (ids.toSet + baseId)
      }
    }
    DocGroup(docs.result(), clusters.result())
  }

  // ---- canonical bytes, for determinism checks -----------------------

  def bytesOf(jobs: Seq[IngestJob]): Array[Byte] = utf8(jobs.map { j =>
    s"${j.id}|${j.wide}|${j.byColumn}|${j.keys.mkString(",")}|" +
      s"${j.values.mkString(",")}|${j.times.mkString(",")}|" +
      s"${j.extra.map(_.mkString(",")).mkString(";")}|${j.shards.mkString(",")}"
  }.mkString("\n"))

  def bytesOfCommits(cs: Seq[Commit]): Array[Byte] = utf8(cs.map(
    _.segments.map { case (s, rs) => s"$s:${rs.mkString(",")}" }.mkString(";")
  ).mkString("\n"))

  def bytesOfDocs(g: DocGroup): Array[Byte] = utf8(
    g.docs.map(d => s"${d.id}\t${d.text}").mkString("\n") + "\n" +
      g.clusters.map(_.toSeq.sorted.mkString(",")).mkString(";"))

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
}
