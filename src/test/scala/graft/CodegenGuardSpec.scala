package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

object CodegenGuardSpec {
  /** The exact round-17 `M27Row` declaration that Janino rejected: a
    * PRIVATE nested case class (the generated serializer cannot call
    * methods of a JVM-private nested class, so codegen compilation
    * fails and, without the guard, Spark silently falls back to
    * interpreted projection). Kept as the positive control proving the
    * suite-wide CODEGEN_ONLY guard turns that silent degradation into
    * a hard failure. */
  private case class LegacyM27Shape(doc_id: Long, width: Int, height: Int,
      u0: Int, u2: Int, u3: Int, b0: Int, b1: Int, b2: Int, b3: Int,
      b4: Int, b5: Int, b6: Int, b7: Int, b8: Int, b9: Int, b10: Int,
      b11: Int, b12: Int, b13: Int, b14: Int, b15: Int, y_sum: Long)

  def legacyM27Frame(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(3).as[Long].map { id =>
      val i = id.toInt
      LegacyM27Shape(id, 16, 32, i, i, i, i, i, i, i, i, i, i, i,
        i, i, i, i, i, i, i, i, id)
    }.toDF()
  }
}

/** Catalog-wide guard against silent codegen degradation (round-17
  * verdict item 1): the shared test session runs with
  * `spark.sql.codegen.factoryMode=CODEGEN_ONLY`, so ANY query whose
  * generated projection fails to compile — the class of bug the old
  * 23-field `M27Row` encoder hit — makes its suite red instead of
  * logging a WARN and degrading every row to interpreted projection.
  * QueryCatalogSpec already executes every `SparkEntry.queries` entry
  * on this session, so the guard covers the whole catalog at zero added
  * runtime; this spec pins the configuration itself and carries the
  * positive control. */
class CodegenGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("CODEGEN_ONLY is active on the shared session and inherited by newSession()") {
    assert(spark.conf.get("spark.sql.codegen.factoryMode") == "CODEGEN_ONLY")
    // streaming catalog closures run on derived sessions; the guard
    // must reach them too (set via SparkConf, not session-local conf)
    assert(spark.newSession().conf.get("spark.sql.codegen.factoryMode")
      == "CODEGEN_ONLY")
  }

  test("driver-facing mains carry the same guard (MainSessions)") {
    // Verify/Bench/BenchOne/BenchStress/Plans/PlanDump all build their
    // sessions through MainSessions.local, which runs assertGuarded at
    // startup — this pins the shared constant so the mains' guarantee
    // can't drift, and exercises assertGuarded both ways on live sessions.
    assert(MainSessions.CodegenFactoryMode == "CODEGEN_ONLY")
    assert(MainSessions.common.contains(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
    MainSessions.assertGuarded(spark) // test session is guarded: passes
    val unguarded = spark.newSession()
    unguarded.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    intercept[IllegalArgumentException] {
      MainSessions.assertGuarded(unguarded)
    }
  }

  test("every main builds its session through MainSessions.local") {
    // a source scan: a main that builds its own session would run
    // without the guard whatever the doc above says
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: no ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator.asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p))
    // a top-level `object`'s text runs to the next one
    val mains = sources.flatMap { case (_, src) =>
      val starts = "(?m)^object (\\w+)".r.findAllMatchIn(src).toSeq
      starts.zip(starts.drop(1).map(_.start) :+ src.length).map { case (m, end) =>
        m.group(1) -> src.substring(m.start, end)
      }
    }.filter(_._2.contains("def main(")).toMap
    // the store's config CLI is the one main that opens no session
    assert(mains.keySet === Set("Bench", "BenchOne", "BenchStress", "PlanDump",
      "Plans", "Verify", "UpdateSourceConfig"))
    for ((name, body) <- mains - "UpdateSourceConfig")
      assert(body.contains("MainSessions.local("), s"$name builds its own session")
    val builders = sources.collect {
      case (file, src) if src.contains("SparkSession.builder") => file
    }
    assert(builders === Seq("MainSessions.scala"))
  }

  test("positive control: the round-17 M27Row shape fails loudly under the guard") {
    val thrown = intercept[Throwable] {
      CodegenGuardSpec.legacyM27Frame(spark).collect()
    }
    // the failure must be the codegen compile error (any wrapping
    // layer), not some unrelated analysis problem
    def messages(t: Throwable): List[String] =
      if (t == null) Nil
      else Option(t.getMessage).toList ++ messages(t.getCause)
    val all = messages(thrown).mkString("\n")
    assert(all.contains("Janino") || all.contains("compile") ||
      all.toLowerCase.contains("codegen"),
      s"expected a codegen compile failure, got: $all")
  }
}
