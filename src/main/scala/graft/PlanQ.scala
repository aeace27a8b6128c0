package graft

/** Dev-side plan printer: `runMain graft.PlanQ <sfDir> <name ...>`
  * prints each named query's formatted physical plan (operator list +
  * details, the format of PLANS.md and the plans/ artifacts) without
  * executing it. */
object PlanQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.engine.GraftSession.local("graft-planq")
    for (n <- args.drop(1)) {
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
