package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.engine.ConfScope
import graft.ops.Codegen

/** `Codegen.materialized` pins its result only where it overrides the
  * session: a codegen-on session (the cluster profile, which the test
  * session runs) keeps the lazy body and its lineage. */
class CodegenSpec extends SparkSuite {

  private val Key = "spark.sql.codegen.wholeStage"

  private def checkpointScan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.isDefined

  private def body: DataFrame = spark.range(5).toDF("x")

  test("a codegen-on session gets the lazy body back, not a checkpoint scan") {
    assert(spark.conf.get(Key) === "true")
    val df = Codegen.materialized(spark)(body)
    assert(!checkpointScan(df), df.queryExecution.analyzed.toString)
    assert(df.collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("a codegen-off session gets the result pinned under the override") {
    val df = ConfScope.withConf(spark, Seq(Key -> "false")) {
      Codegen.materialized(spark)(body)
    }
    assert(checkpointScan(df), df.queryExecution.analyzed.toString)
    assert(df.collect().map(_.getLong(0)).toSeq === (0L until 5L))
    assert(spark.conf.get(Key) === "true")
  }
}
