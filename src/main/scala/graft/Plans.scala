package graft

import java.nio.file.{Files, Paths}

/** Plan audit: `runMain graft.Plans <sfDir> <out.md>` writes a per-query
  * summary of the optimized physical plan — scan pushdown, join
  * strategies, exchange count, whole-stage-codegen spans — the evidence
  * behind SCALE.md's plan-shape claims, regenerable at any time. */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = MainSessions.local("4")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by `graft.Plans`)\n\n")
    sb.append(s"Source: `$sfDir`. Per query: join strategies, shuffle\n")
    sb.append("(exchange) count, scan pushdown, and codegen spans from the\n")
    sb.append("executed plan. Regenerate with\n")
    sb.append("`sbt \"runMain graft.Plans <sfDir> PLANS.md\"`.\n\n")
    sb.append("| query | joins | exchanges | pushed filters | codegen spans | AQE final |\n")
    sb.append("|---|---|---|---|---|---|\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // execute THIS queryExecution first (a sink write would plan a
        // separate one) so AdaptiveSparkPlan reports its runtime-final
        // shape (isFinalPlan=true) rather than the initial estimate
        try df.collect() catch { case _: Throwable => () }
        val plan = df.queryExecution.executedPlan.toString
        // a finalized AdaptiveSparkPlan prints "Final Plan" then
        // "Initial Plan" — count operators in the final section only
        val effective = plan.split("== Initial Plan ==")(0)
        def count(pat: String) = pat.r.findAllIn(effective).size
        val joins = Seq(
          "BroadcastHashJoin" -> count("BroadcastHashJoin"),
          "SortMergeJoin" -> count("SortMergeJoin"),
          "ShuffledHashJoin" -> count("ShuffledHashJoin"),
          "BroadcastNestedLoopJoin" -> count("BroadcastNestedLoopJoin"),
          "CartesianProduct" -> count("CartesianProduct"))
          .filter(_._2 > 0).map { case (k, v) => s"$k×$v" }.mkString(" ")
        val exchanges = count("Exchange ")
        val pushed = "PushedFilters: \\[[^\\]]*[A-Za-z][^\\]]*\\]".r
          .findAllIn(effective).size
        // compact plans mark codegen stages as `*(n)` node prefixes
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(effective)
          .map(_.group(1)).toSet.size
        val aqe =
          if (plan.contains("isFinalPlan=true")) "✓"
          else if (plan.contains("AdaptiveSparkPlan")) "initial"
          else "—"
        sb.append(s"| $name | ${if (joins.isEmpty) "—" else joins} " +
          s"| $exchanges | $pushed | $codegen | $aqe |\n")
      } catch {
        case e: Throwable => sb.append(s"| $name | ERROR ${e.getClass.getSimpleName} | | | | |\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
