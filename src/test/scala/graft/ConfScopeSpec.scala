package graft

import graft.engine.ConfScope

/** The session-conf override scopes: mutual exclusion, restoration, the
  * superstep width policy and the loop-input pin of `superstepOver`.
  * Pins the r10 fix for the capture/restore interleaving that left
  * `spark.sql.adaptive.enabled=false` on the shared session after the
  * parallel-writers spec (capture(true) / capture(false) / restore(true)
  * / restore(false)). */
class ConfScopeSpec extends SparkSuite {

  private val Key = "spark.sql.adaptive.enabled"

  test("concurrent scopes always restore the session's configured value") {
    val before = spark.conf.get(Key)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          for (_ <- 1 to 25) {
            ConfScope.withConf(spark, Seq(Key -> "false")) {
              // inside the scope the override must be visible to THIS
              // holder (the lock guarantees no one else flipped it back)
              assert(spark.conf.get(Key) === "false")
              Thread.sleep(1)
            }
          }
        } catch { case e: Throwable => errs.add(e); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(errs.isEmpty, s"scope thread failed: ${Option(errs.peek())}")
    assert(spark.conf.get(Key) === before,
      "interleaved scopes corrupted the session conf - the r10 race")
  }

  test("nested scopes restore LIFO, including unset keys") {
    val ghost = "spark.graft.confScopeSpec.ghost"
    assert(spark.conf.getOption(ghost).isEmpty)
    ConfScope.withConf(spark, Seq(Key -> "false", ghost -> "outer")) {
      assert(spark.conf.get(ghost) === "outer")
      ConfScope.withConf(spark, Seq(Key -> "true", ghost -> "inner")) {
        assert(spark.conf.get(Key) === "true")
        assert(spark.conf.get(ghost) === "inner")
      }
      // inner restored the outer scope's values, not the session's
      assert(spark.conf.get(Key) === "false")
      assert(spark.conf.get(ghost) === "outer")
    }
    assert(spark.conf.getOption(ghost).isEmpty,
      "a key absent before the scope must be UNSET after it, not set to a value")
  }

  private val Width = "spark.sql.shuffle.partitions"

  /** (AQE, conf width, passed width) as the superstep body sees them. */
  private def seen(rows: Long, rowsPerTask: Long = 65536L): (String, String, Int) =
    ConfScope.superstep(spark, rows, rowsPerTask) { w =>
      (spark.conf.get(Key), spark.conf.get(Width), w)
    }

  test("superstep: AQE off, width 1 for model-sized loops (rows = 0)") {
    assert(seen(0L) === (("false", "1", 1)))
  }

  test("superstep: width is rows / rowsPerTask + 1, clamped to the session width") {
    val session = spark.conf.get(Width).toInt
    assert(session === 4, "the test session runs 4 shuffle partitions")
    assert(seen(2L * 65536L) === (("false", "3", 3)))
    assert(seen(25L, rowsPerTask = 10L) === (("false", "3", 3)))
    assert(seen(100L * 65536L) === (("false", "4", 4)))
    assert(seen(6000000L, rowsPerTask = 2000000L) === (("false", "4", 4)))
  }

  test("superstep restores both keys, also when the body throws") {
    val before = (spark.conf.get(Key), spark.conf.get(Width))
    seen(3L * 65536L)
    assert((spark.conf.get(Key), spark.conf.get(Width)) === before)
    intercept[IllegalStateException] {
      ConfScope.superstep(spark, rows = 65536L) { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert((spark.conf.get(Key), spark.conf.get(Width)) === before)
  }

  test("superstep sizes from the session's width, never another scope's transient one") {
    val before = spark.conf.get(Width)
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def loop(f: => Unit): Thread = new Thread(() => {
      try for (_ <- 1 to 25) f
      catch { case e: Throwable => errs.add(e); () }
    })
    val steps = (1 to 4).map(_ => loop {
      widths.add(ConfScope.superstep(spark, rows = 100L * 65536L) { w =>
        (spark.conf.get(Width), w)
      })
    })
    val narrow = (1 to 4).map(_ => loop {
      ConfScope.withConf(spark, Seq(Width -> "1")) { Thread.sleep(1) }
    })
    val all = steps.zip(narrow).flatMap { case (a, b) => Seq(a, b) }
    all.foreach(_.start()); all.foreach(_.join(60000))
    assert(errs.isEmpty, s"scope thread failed: ${Option(errs.peek())}")
    assert(widths.size === 100)
    assert(widths.toArray.toSet === Set((before, before.toInt)),
      "a superstep captured a concurrent scope's transient width")
    assert(spark.conf.get(Width) === before)
  }

  test("graph_reachability leaves the session's temp views as it found them") {
    // a fresh session: the shared one may hold views earlier suites left
    val s = spark.newSession()
    def views = s.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = views
    val rows = SparkEntry.queries("graph_reachability")(s, sf).collect()
    assert(rows.nonEmpty)
    assert(views === before, "the query left a temp view registered on the session")
  }

  /** `body`'s result and the number of Spark jobs it launched, counted on
    * a job group of its own once the listener bus has drained. */
  private def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"confscopespec-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "superstepOver job budget")
    try {
      val out = body
      org.apache.spark.graftspec.Bus.drain(sc)
      (out, jobs.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("superstepOver: pin plus count is one job; body sees rows and width") {
    val input = spark.range(0L, 140000L, 1L, 2)
    val (seenInBody, jobs) = withJobCount(ConfScope.superstepOver(input.toDF()) {
      (pinned, rows, width) =>
        (pinned.schema, rows, width, spark.conf.get(Key), spark.conf.get(Width))
    })
    assert(jobs === 1, "pin and count must share one job")
    // 140000 / 65536 + 1 = 3, under the session width of 4
    assert(seenInBody === ((input.schema, 140000L, 3, "false", "3")))
  }

  test("superstepOver frees the input's pin, also when the body throws") {
    val sc = spark.sparkContext
    def ids = sc.getPersistentRDDs.keySet.toSet
    for (fail <- Seq(false, true)) {
      val before = ids
      var pin = Set.empty[Int]
      val run = () => ConfScope.superstepOver(spark.range(1000L).toDF()) { (_, _, _) =>
        pin = ids -- before
        if (fail) throw new IllegalStateException("body failed")
      }
      if (fail) intercept[IllegalStateException](run()) else run()
      assert(pin.nonEmpty, "the input was not pinned during the body")
      assert((ids intersect pin).isEmpty, s"the pin outlived the scope (body threw: $fail)")
    }
  }

  test("superstepOver: an empty input gives rows 0 and width 1, and the body runs") {
    import spark.implicits._
    for (empty <- Seq(Seq.empty[Long].toDF("v"), spark.range(10L).filter("id < 0").toDF())) {
      assert(ConfScope.superstepOver(empty) { (_, rows, width) => (rows, width) } === ((0L, 1)))
    }
  }
}
