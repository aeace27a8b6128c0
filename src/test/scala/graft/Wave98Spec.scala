package graft

import org.apache.spark.sql.functions._

/** Wave-98 semantics: sync LPA replays exactly from a local 6-round
  * loop over the collected edge list, and banded edit-distance dedup
  * replays from a local blocked brute force (and finds the planted
  * distance-4 pairs). */
class Wave98Spec extends SparkSuite {

  test("graph_label_prop: local 6-round sync LPA replay") {
    val rows = SparkEntry.queries("graph_label_prop")(spark, sf).collect()
    assert(rows.nonEmpty)
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every supplier exactly once; csize consistent with the label map
    assert(got.size === rows.length)
    val sizes = got.values.groupBy(identity).map { case (l, xs) => l -> xs.size }
    rows.foreach(r => assert(r.getLong(2) === sizes(r.getLong(1)).toLong))
    // local replay over the collected pair weights
    val e = graft.ops.SupplierGraph.pairWeights(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val und = e.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    var lab: Map[Long, Long] =
      und.map(_._1).distinct.map(s => s -> s).toMap
    for (_ <- 1 to 6) {
      val next = und.groupBy(_._1).map { case (s0, es) =>
        val votes = es.groupBy(x => lab(x._2))
          .map { case (l, xs) => l -> xs.map(_._3).sum }
        s0 -> votes.toSeq.minBy { case (l, sw) => (-sw, l) }._1
      }
      lab = next
    }
    assert(got === lab, "engine labels diverge from the local sync-LPA replay")
  }

  test("dedup_editdist: local blocked brute force finds the planted pairs") {
    val rows = SparkEntry.queries("dedup_editdist")(spark, sf).collect()
    assert(rows.nonEmpty, "fixture plants distance-4 pairs - none found")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= 16L)
    }
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val docs = graft.engine.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), lower(trim(col("text"))).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byBlock = docs.groupBy(d => (d._2, d._3.length / 32, d._3.take(12)))
    val expect = byBlock.values.flatMap { ds =>
      for {
        a <- ds.toSeq; b <- ds.toSeq if a._1 < b._1
        d = lev(a._3, b._3) if d <= 16
      } yield (a._1, b._1, d.toLong)
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expect,
      s"pair sets diverge: extra=${got -- expect} missing=${expect -- got}")
  }

  /** `body`'s result and the number of Spark jobs it launched, counted on
    * a job group of its own once the listener bus has drained. */
  private def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"wave98spec-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "labelPropagation job budget")
    try {
      val out = body
      org.apache.spark.graftspec.Bus.drain(sc)
      (out, jobs.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("graph_label_prop runs one job per round") {
    import spark.implicits._
    // the pair weights as a local frame, so only the kernel's jobs count
    val pw = graft.ops.SupplierGraph.pairWeights(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("p1", "p2", "w")
    val (rows, jobs) = withJobCount(graft.ops.Wave98.labelPropagation(pw).collect())
    assert(rows.nonEmpty)
    // 6 rounds; the rest is the input pin, the initial label table, the
    // sized and ordered result's pin and the action that reads it. No
    // round broadcasts its label table, and the action is not an AQE
    // sort of its own
    val rounds = 6
    assert(jobs <= rounds + 4, s"$jobs jobs for $rounds rounds")
  }

  test("graph_label_prop leaves no cached frame behind") {
    import spark.implicits._
    val q = SparkEntry.queries("graph_label_prop")
    // the first run builds the session's pair-weight memo, which stays
    assert(q(spark, sf).collect().nonEmpty)
    // checkpoints may stay (the result reads the last one); the cached
    // edge layout must go, also when a round fails: two equal
    // pairs of weight Long.MaxValue overflow the first round's vote sum
    // under ANSI, after the layout is built
    def cached = org.apache.spark.graftspec.Pins.cached(spark.sparkContext)
    val before = cached
    assert(q(spark, sf).collect().nonEmpty)
    assert(cached === before)
    val failing = Seq((1L, 2L, Long.MaxValue), (1L, 2L, Long.MaxValue)).toDF("p1", "p2", "w")
    intercept[Exception](graft.ops.Wave98.labelPropagation(failing).collect())
    assert(cached === before)
  }
}
