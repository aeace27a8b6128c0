package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: built once, one module per name. */
class SparkEntrySpec extends AnyFunSuite {

  test("a name registered by two modules fails the registry, naming it") {
    val err = intercept[IllegalArgumentException] {
      SparkEntry.registry("query", Seq(Map("a" -> 1, "b" -> 2), Map("c" -> 3, "b" -> 4)))
    }
    assert(err.getMessage.contains("query registered twice: b"))
    assert(SparkEntry.registry("query", Seq(Map("a" -> 1), Map("b" -> 2))) ===
      Map("a" -> 1, "b" -> 2))
  }

  test("the registries are built once, not on every lookup") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
