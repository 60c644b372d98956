package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence dump: `runMain graft.PlanDump <sfDir>
  * <outDir> <suffix> <query...>` writes each named query's
  * `.explain("formatted")` output to `<outDir>/<query>_<suffix>.txt`,
  * under the same session shape as Bench (local[32], AQE on,
  * shuffle.partitions=cpus), so the committed before/after plan files
  * reflect the benched plan, not a toy session. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = MainSessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try {
        val df = fn(spark, sfDir)
        // execute THIS queryExecution first (the graft.Plans idiom) so
        // the dump carries the AQE-FINAL plan — reused exchanges and
        // runtime join strategies only exist after materialization
        try df.collect() catch { case _: Throwable => () }
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          formatted)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
