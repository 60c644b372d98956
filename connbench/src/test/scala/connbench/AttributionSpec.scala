package connbench

import connbench.Attribution.{Append, Batch}
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  // two shards; appends every 100 ms alternate shards, 10 records each
  private val appends = Seq(
    Append(1000, Map(0 -> 10L)), Append(1100, Map(1 -> 10L)),
    Append(1200, Map(0 -> 20L)), Append(1300, Map(1 -> 20L)),
    Append(1400, Map(0 -> 30L)))
  // a no-data batch, a batch covering shard 0 only up to 20, then the rest;
  // listed out of finish order on purpose
  private val batches = Seq(
    Batch(1650, Map(0 -> 30L, 1 -> 20L)),
    Batch(1050, Map(0 -> 0L, 1 -> 0L)),
    Batch(1250, Map(0 -> 20L, 1 -> 10L)))

  test("each append is charged to the first batch whose end offsets cover it") {
    val r = Attribution.latencies(appends, batches)
    assert(r.latenciesMs == Seq(250.0, 150.0, 50.0, 350.0, 250.0))
    assert(r.uncovered == 0)
  }

  test("appends no batch covers are counted, not timed") {
    val r = Attribution.latencies(appends :+ Append(1500, Map(1 -> 30L)), batches)
    assert(r.latenciesMs.size == 5)
    assert(r.uncovered == 1)
  }

  test("a multi-shard append waits for every shard it touched") {
    val r = Attribution.latencies(Seq(Append(1000, Map(0 -> 20L, 1 -> 20L))), batches)
    assert(r.latenciesMs == Seq(650.0))
  }
}
