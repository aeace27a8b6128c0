package graftbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Closed-loop query workload: a cold pass, then warm passes until the
  * time is up, each over every member query in a seeded order. Each pass
  * runs on a fresh `newSession()` after the shared cache and every
  * persisted RDD are dropped, so intermediates memoized by one pass never
  * serve the next (within a pass they still do). Every result is checked
  * against its expected row count and checksum. */
final class QueryLoop(base: SparkSession, client: Client, names: Seq[String], data: String,
    expected: Map[String, (Int, Long)], seed: Long, seconds: Double) {

  private def freshSession(): SparkSession = {
    base.catalog.clearCache()
    base.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    base.newSession()
  }

  def run(): Seq[Map[String, Any]] = client.loop(seconds) { n =>
    val s = freshSession()
    new Random(seed * 1000003L + n).shuffle(names).foreach { name =>
      val q = SparkEntry.queries(name)
      client.query(name)(q(s, data)).foreach { case (rows, _) =>
        val got = (rows.length, PerfBench.checksum(rows))
        if (!expected.get(name).contains(got))
          client.wrongOutput(s"$name (pass $n): got $got, expected ${expected.get(name)}")
      }
    }
  }
}

object QueryLoop {
  /** Caches a fresh session plus `clearCache()` does not reset. */
  val CachesNotReset: Seq[String] = Seq(
    "graft.engine.Tables parquet-schema cache of read-only roots (JVM-wide)",
    "graft.ops.Wave9 posting-index roots (keyed by application id and data dir)",
    "Spark's compiled-expression cache (JVM-wide)",
    "JIT-compiled code and loaded classes")
}
