package graft

/** Focused micro-bench for iterating on individual catalog queries:
  * `runMain graft.BenchOne <sfDir> <reps> <query...>` times each named
  * query `reps` times through the noop sink, each rep fenced like
  * Bench's, and prints every rep's component line (wall, GC and
  * task-metric deltas; for a streaming query the drain's micro-batch
  * split too), then the per-rep seconds (first rep includes
  * planning/JIT warm-up; compare the later reps).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val spark = MainSessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val timer = new RepTimer(spark)
    spark.read.parquet(s"$sfDir/region.parquet").count()
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val streaming = graft.queries.ConnectorQueries.streamingQueries(name)
      val times = (1 to reps).map { _ =>
        val rep = timer.time(streaming, traced = true)(
          RepTimer.noop(fn(spark, sfDir)))
        rep.trace.foreach(line => println(s"[benchone] $name $line"))
        rep.seconds
      }
      println(f"[benchone] $name: ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
