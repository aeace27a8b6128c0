package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Wave3

/** Properties of the round-3 wave beyond the DuckDB differential gate. */
class Wave3Spec extends SparkSuite {

  /** A 12-node path (diameter 11 -> 6 two-hop supersteps) plus an
    * isolated self-contained pair. */
  private def chainPairs: DataFrame = {
    import spark.implicits._
    val chain = (100L until 111L).map(i => (i, i + 1))
    (chain :+ ((500L, 501L))).toDF("i", "j")
  }

  /** `body`'s result and the number of Spark jobs it launched, counted on
    * a job group of its own once the listener bus has drained. */
  private def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"wave3spec-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "connectedComponents job budget")
    try {
      val out = body
      org.apache.spark.graftspec.Bus.drain(sc)
      (out, jobs.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("connectedComponents labels a deep chain in multiple supersteps") {
    // every node must take the chain head's label, exercising repeated
    // rounds of the monotone-sum convergence
    val comp = Wave3.connectedComponents(chainPairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((100L to 111L).forall(comp(_) === 100L), comp.toString)
    assert(comp(500L) === 500L && comp(501L) === 500L)
  }

  test("connectedComponents runs one job per superstep") {
    val pairs = chainPairs
    val (comp, jobs) = withJobCount(Wave3.connectedComponents(pairs))
    // 6 supersteps carry the head's label down the chain and a 7th
    // changes nothing, confirming convergence; the rest of the budget is
    // the edge-set pin and the initial label table
    val supersteps = 7
    assert(jobs <= supersteps + 3, s"$jobs jobs for $supersteps supersteps")
    assert(comp.count() === 14L)
  }

  test("a width-1 connectedComponents superstep plans no exchange") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val pins = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") pins.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // 26 edges: width 1
      assert(Wave3.connectedComponents(chainPairs).count() === 14L)
      org.apache.spark.graftspec.Bus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // a superstep pin joins twice; the cached edge layout's own exchange
    // sits inside its InMemoryRelation, so it is not collected here
    val supersteps = pins.toArray(Array.empty[SparkPlan])
      .filter(_.collect { case j: ShuffledHashJoinExec => j }.size == 2)
    assert(supersteps.length === 7)
    supersteps.foreach { p =>
      assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"a one-partition hop re-shuffled:\n$p")
    }
  }

  test("connectedComponents leaves no cached frame behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    for ((pairs, nodes) <- Seq(chainPairs -> 14L, empty -> 0L)) {
      val before = sc.getPersistentRDDs
      val comp = Wave3.connectedComponents(pairs)
      // label checkpoints stay (the result reads the last one); both
      // cached edge frames are gone
      def uncheckpointed(m: collection.Map[Int, org.apache.spark.rdd.RDD[_]]) =
        m.filterNot(_._2.isCheckpointed).keySet
      assert(uncheckpointed(sc.getPersistentRDDs) === uncheckpointed(before))
      assert(comp.count() === nodes)
    }
  }

  test("dedup_components has converged (labels are a fixed point)") {
    val comp = Wave3.queries("dedup_components")(spark, sf)
      .withColumnRenamed("component", "lbl").persist()
    // one more propagation round changes nothing: every neighbor pair
    // already shares a component label
    val pairs = graft.ops.LlmPipeline.queries("dedup_ngram_jaccard")(spark, sf)
      .select("i", "j")
    val mismatched = pairs
      .join(comp.withColumnRenamed("doc_id", "i").withColumnRenamed("lbl", "li"), "i")
      .join(comp.withColumnRenamed("doc_id", "j").withColumnRenamed("lbl", "lj"), "j")
      .filter(col("li") =!= col("lj"))
      .count()
    assert(mismatched === 0)
    // every component is labeled by its own minimum member
    val badRoot = comp.groupBy("lbl").agg(min("doc_id").as("mn"))
      .filter(col("lbl") =!= col("mn")).count()
    assert(badRoot === 0)
  }

  test("embed_quantize codes are int8-range and norms positive") {
    val q = Wave3.queries("embed_quantize")(spark, sf).persist()
    assert(q.filter(col("l2_norm") <= 0).count() === 0)
    // q is rendered as a comma-joined string (the differential gate
    // hashes scalar cells only) — split back to ints for the range check
    val outOfRange = q
      .select(explode(split(col("q"), ",")).as("c"))
      .select(col("c").cast("int").as("c"))
      .filter(col("c") > 127 || col("c") < -127)
      .count()
    assert(outOfRange === 0)
  }

  test("corpus_pack: pack ids are monotone and start at 0 per stratum") {
    val p = Wave3.queries("corpus_pack")(spark, sf).persist()
    val firsts = p.groupBy("lang", "source").agg(min("pack_id").as("mn"))
      .filter(col("mn") =!= 0).count()
    assert(firsts === 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang", "source").orderBy("doc_id")
    val nonMonotone = p.withColumn("prev", lag("pack_id", 1).over(w))
      .filter(col("prev").isNotNull && col("pack_id") < col("prev")).count()
    assert(nonMonotone === 0)
  }

  test("corpus_mix: each source meets its quota or is exhausted, nothing over-fills") {
    val mix = Wave3.queries("corpus_mix")(spark, sf).persist()
    val all = graft.engine.Tables.load(spark, sf, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
    val per = mix.groupBy("source")
      .agg(max("quota").as("quota"), max("cum_tok").as("filled"),
        count(lit(1)).as("n_kept"))
      .join(all, "source")
      .collect()
    assert(per.nonEmpty)
    per.foreach { r =>
      val (quota, filled) = (r.getLong(r.fieldIndex("quota")), r.getLong(r.fieldIndex("filled")))
      val (kept, avail) = (r.getLong(r.fieldIndex("n_kept")), r.getLong(r.fieldIndex("n_docs")))
      // greedy fill: quota met (crossing doc included) or source exhausted
      assert(filled >= quota || kept === avail,
        s"source ${r.getString(0)}: filled=$filled < quota=$quota with docs left")
      // and never a doc beyond the crossing one: dropping the last kept
      // doc must land strictly under quota
      val lastTok = mix.filter(col("source") === r.getString(0))
        .orderBy(desc("cum_tok")).limit(1).head().getAs[Long]("n_tok")
      assert(filled - lastTok < quota, s"source ${r.getString(0)} over-filled")
    }
    mix.unpersist()
  }

  test("sim_knn_join agrees with per-query brute force") {
    val knn = Wave3.queries("sim_knn_join")(spark, sf)
      .filter(col("qid") === 3).select("vec_id").collect().map(_.getLong(0)).toSeq
    val e = graft.engine.Tables.load(spark, sf, "embeddings")
    val qv = e.filter(col("vec_id") === 3).select(col("embedding").as("qv"))
    val brute = e.crossJoin(qv).filter(col("vec_id") =!= 3)
      .select(col("vec_id"),
        round(graft.functions.Native.cosineSim(col("embedding"), col("qv")), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(knn === brute)
  }

  test("flagship_star_join plans broadcast dims + TakeOrderedAndProject") {
    val df = Wave3.queries("flagship_star_join")(spark, sf)
    df.count() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("SparkEntry.entry flagship returns rows (driver smoke contract)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }
}
