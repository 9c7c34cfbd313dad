package graft

/** Physical-plan evidence dump: `.explain("formatted")` for each operator
  * query, so pushdown (`PushedFilters`, `ReadSchema`), whole-stage codegen
  * spans, and join strategies are reviewable artifacts (PLANS.md).
  *
  *   sbt "runMain graft.Plans /root/testdata/sf0.001 PLANS.md"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.util.Sessions.local(4, "graft-plans").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of registered operators\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Things to check per\n")
    sb.append("plan: parquet `PushedFilters`/`ReadSchema` (pushdown + pruning),\n")
    sb.append("`WholeStageCodegen` spans (codegen coverage), join strategy\n")
    sb.append("(broadcast vs shuffle), and exchange count (shuffle budget).\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n").append(plan).append("```\n")
      } catch {
        case e: Throwable =>
          sb.append(s"\n## $name\n\nFAILED: ${e.getMessage}\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
