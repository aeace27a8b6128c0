package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.{Tables, VersionedStore}
import graft.functions.ZOrder
import graft.ops.Joins

/** MERGE semantics of the store's keyed upsert and the query-surface
  * operator, plus the Z-order key (SURVEY.md §2.3 merge_upsert, §4.1). */
class StoreSpec extends SparkSuite {

  private def tmpStore(): VersionedStore =
    new VersionedStore(Files.createTempDirectory("graft-store").toString)

  test("upsert: source wins on match, inserts new, keeps unmatched target") {
    import spark.implicits._
    val store = tmpStore()
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    store.upsert(spark, "t", base, Seq("k"))
    val src = Seq((2L, "B"), (4L, "D")).toDF("k", "v")
    store.upsert(spark, "t", src, Seq("k"))
    val got = store.read(spark, "t").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
  }

  test("upsert: NULL keys never match (MERGE ON t.k = s.k semantics)") {
    import spark.implicits._
    val store = tmpStore()
    val base = Seq((Option.empty[Long], "old-null"), (Some(1L), "a")).toDF("k", "v")
    store.upsert(spark, "t", base, Seq("k"))
    val src = Seq((Option.empty[Long], "new-null")).toDF("k", "v")
    store.upsert(spark, "t", src, Seq("k"))
    // a NULL source key inserts a second NULL-key row, it does NOT update
    val got = store.read(spark, "t").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.getString(1))).toSet
    assert(got === Set((null, "old-null"), (null, "new-null"), (1L, "a")))
  }

  test("upsert is idempotent (MERGE re-run yields identical table)") {
    import spark.implicits._
    val store = tmpStore()
    val src = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    store.upsert(spark, "t", src, Seq("k"))
    val first = store.read(spark, "t").collect().toSet
    store.upsert(spark, "t", src, Seq("k"))
    assert(store.read(spark, "t").collect().toSet === first)
  }

  test("mergeUpsert query operator: full-outer + coalesce semantics") {
    import spark.implicits._
    val t = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val s = Seq((2L, "B"), (3L, "C")).toDF("k", "v")
    val got = Joins.mergeUpsert(t, s, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("zvalue interleaves bits (Morton order)") {
    import spark.implicits._
    // x=0b0011, y=0b0101 with 4 bits -> interleave x(hi) y(lo) pairs:
    // bit i of x at 2i+1, bit i of y at 2i: 0b00011011 wait compute directly
    val got = Seq((3L, 5L)).toDF("x", "y")
      .select(ZOrder.zvalue(4, col("x"), col("y")).as("z"))
      .head().getLong(0)
    // expected: sum over b: ((x>>b)&1)<<(2b+1) | ((y>>b)&1)<<(2b)
    val want = (0 until 4).map { b =>
      (((3L >> b) & 1L) << (2 * b + 1)) | (((5L >> b) & 1L) << (2 * b))
    }.reduce(_ | _)
    assert(got === want)
  }

  test("z-ordered sort groups near keys together (locality sanity)") {
    // consecutive z-values must not differ in more than the changed dims
    val df = Tables.load(spark, sf, "part")
      .select(col("p_partkey"), ZOrder.zvalue(8, col("p_size"), col("p_partkey") % 256).as("z"))
    assert(df.select(countDistinct(col("z"))).head().getLong(0) > 1)
  }
}
