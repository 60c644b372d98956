package connbench

/** Offset → latency attribution for open-loop appends.
  *
  * An append is due at `dueMs` and makes the records up to `ends(shard)`
  * (exclusive end ordinals) visible on each shard it touched. A batch
  * finishes at `finishMs` having read every shard up to `ends(shard)`.
  * An append's latency runs from its due time to the finish of the
  * first batch, in finish order, whose end offsets cover all of its
  * shards. Appends that no batch covers are returned as uncovered. */
object Attribution {
  case class Append(dueMs: Long, ends: Map[Int, Long])
  case class Batch(finishMs: Long, ends: Map[Int, Long])

  case class Result(latenciesMs: Seq[Double], uncovered: Int)

  def latencies(appends: Seq[Append], batches: Seq[Batch]): Result = {
    val ordered = batches.sortBy(_.finishMs).toIndexedSeq
    def covers(b: Batch, a: Append): Boolean =
      a.ends.forall { case (s, e) => b.ends.getOrElse(s, 0L) >= e }
    // batch end offsets only grow, so a binary search over finish order
    // finds the first covering batch
    val found = appends.map { a =>
      var lo = 0; var hi = ordered.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (covers(ordered(mid), a)) hi = mid else lo = mid + 1
      }
      if (lo < ordered.length) Some((ordered(lo).finishMs - a.dueMs).toDouble)
      else None
    }
    Result(found.flatten, found.count(_.isEmpty))
  }
}
