package graft

import graft.connector.{LogContinuousStream, LogMicroBatchStream, LogServiceOffset, LogServiceOptions, RowConverters}
import graft.store.{EmbeddedLogStore, LogRecord}
import org.scalatest.funsuite.AnyFunSuite

/** Both streaming sources resolve `startingoffsets` the way a batch scan
  * does: sentinels (-1 latest, -2 earliest) become shard ends and
  * retention starts, and the table's names keep their case. */
class StartOffsetSpec extends AnyFunSuite with TempDirs {

  private def rec(t: Int) =
    LogRecord(t, "topic", "src", Map.empty, Map("k" -> s"v$t"))

  test("stream initial offsets resolve sentinels and keep the project's case") {
    val root = tempDir("start-offsets").toString
    val s = new EmbeddedLogStore(root)
    s.createStore("Proj", "Logs", 2)
    (0 until 3).foreach(i =>
      s.appendSegment("Proj", "Logs", 0, s"a$i", Seq(rec(100 + i), rec(100 + i))))
    s.appendSegment("Proj", "Logs", 1, "b", Seq(rec(200)))
    assert(s.expireSegments("Proj", "Logs", 101) === 1) // shard 0 starts at 2
    val ends = Map(0 -> 6L, 1 -> 1L)
    val starts = Map(0 -> 2L, 1 -> 0L)
    def opts(start: String) = LogServiceOptions(Map("store.root" -> root,
      "store.project" -> "Proj", "store.name" -> "Logs", "startingoffsets" -> start))
    val schema = RowConverters.DefaultSchema
    val sources = Seq[(String, String => Any)](
      "continuous" -> (o => new LogContinuousStream(schema, opts(o)).initialOffset()),
      "micro-batch" -> (o => new LogMicroBatchStream(schema, opts(o)).initialOffset()))
    for ((name, initial) <- sources) {
      def off(ords: Map[Int, Long]) = LogServiceOffset("Proj", "Logs", ords)
      assert(initial("""{"Proj#Logs":{"0":-1,"1":-1}}""") === off(ends), name)
      assert(initial("""{"Proj#Logs":{"0":-2,"1":-2}}""") === off(starts), name)
      assert(initial("""{"Proj#Logs":{"0":3,"1":-1}}""") ===
        off(Map(0 -> 3L, 1 -> 1L)), name)
      assert(initial("latest") === off(ends), name)
      assert(initial("earliest") === off(starts), name)
      val o = initial("""{"Proj#Logs":{"0":4,"1":0}}""").asInstanceOf[LogServiceOffset]
      assert(LogServiceOffset.parse(o.json()) === o, name)
      intercept[IllegalArgumentException](initial("""{"proj#logs":{"0":0}}"""))
    }
  }
}
