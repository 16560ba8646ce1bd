package graft.tools

/** Prints the EXECUTED physical plan of any SparkEntry query — the
  * plan-shape feedback loop behind every "done = the plan you'd want"
  * decision in this repo (AQE means only post-execution plans tell the
  * truth).
  *
  * Usage: `runMain graft.tools.PlanDump <queryName> [sfDir]`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, s"usage: PlanDump <queryName> [sfDir]; known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val fn = graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    val spark = graft.LocalSpark.session("graft-plan-dump")
    val df = fn(spark, sfDir)
    df.collect()
    println(s"=== executed plan: $name @ $sfDir ===")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
