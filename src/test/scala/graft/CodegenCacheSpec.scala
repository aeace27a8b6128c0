package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.engine.GraftSession

/** Generated code compiles once per JVM, not once per session (see
  * [[GraftSession]]). Either Spark default, a classloader per session or
  * a 100-entry cache (smaller than one pass of the iterative workload's
  * queries), makes the second session below recompile. */
class CodegenCacheSpec extends SparkSuite {

  private val IsolationKey = "spark.sql.artifact.isolation.enabled"
  private val CacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Janino classes compiled while the iterative trio runs once on a
    * fresh session. */
  private def freshSessionCompiles(): Long = {
    val s = spark.newSession()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Seq("dedup_components", "graph_label_prop", "graph_reachability")
      .foreach(name => SparkEntry.queries(name)(s, sf).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second fresh session compiles no class the first one compiled") {
    val first = freshSessionCompiles()
    val second = freshSessionCompiles()
    assert(second === 0L, s"the second session recompiled $second classes (first: $first)")
  }

  test("a session built through GraftSession.tuned carries both cache confs") {
    // the shared test session is built through GraftSession.tuned
    assert(spark.conf.get(IsolationKey) === "false")
    assert(spark.conf.get(CacheKey) === GraftSession.engineConfs(CacheKey))
    assert(spark.conf.get(CacheKey).toInt > 100)
  }
}
