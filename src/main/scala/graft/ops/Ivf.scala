package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables
import graft.functions.Native

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer partitions vectors into k cells; a query searches only the
  * `nprobe` cells whose centroids are nearest — the second scale path for
  * sim_topk beside LSH buckets (SURVEY.md §2.10 sim_topk; distributed
  * top-k structure per REPOSE, ICDE 2021 — PAPERS.md).
  *
  * Training is Lloyd iterations expressed as DataFrame ops: assignment is
  * k centroid literals (model-sized, like any ML model — k*dim doubles on
  * the driver is the standard contract, NOT a data collect) evaluated as
  * a narrow per-row argmax; the update step is one native element-wise
  * vector-sum aggregate per cell (VecSumAgg) — one k-group shuffle per
  * iteration, no ×dim row multiplication. At 100 TB: training runs on a
  * sample, assignment is one narrow map per vector, and each query
  * touches nprobe/k of the corpus.
  */
object Ivf {

  /** Deterministic hash-sample for quantizer training: Lloyd centroid
    * statistics converge on a fraction of the data, so past `cap`
    * expected vectors the trainer reads a sample instead of scanning the
    * full table EVERY round (at 100 TB the full per-round scan would
    * dominate training; assignment of the full corpus still happens
    * exactly once, after training). The filter is a pure function of
    * vec_id (xxhash64 residue), NOT df.sample: membership is independent
    * of partition layout and run order, so trained models are bit-
    * reproducible on any cluster. Below the cap the full table trains —
    * fixture-scale results are unchanged. */
  private[graft] def trainSample(e: DataFrame, cap: Long): DataFrame = {
    val n = e.count()
    if (n <= cap) e
    else {
      val den = 1L << 20
      val num = math.max(1L, cap * den / n)
      e.filter(pmod(xxhash64(col("vec_id")), lit(den)) < lit(num))
    }
  }

  /** Deterministic k-means: init = the k lowest-vec_id vectors; `iters`
    * Lloyd rounds. Returns (cellId, centroid) pairs. Training reads a
    * deterministic sample once the table exceeds `trainCap` expected
    * vectors (0 = the 64·k default — enough for stable cell statistics
    * at any corpus size). */
  def train(e: DataFrame, k: Int, iters: Int,
      trainCap: Long = 0L): Array[(Int, Array[Float])] = {
    val spark = e.sparkSession
    import spark.implicits._
    val t = trainSample(e, if (trainCap > 0L) trainCap else 64L * k)
    var centroids: Array[(Int, Array[Float])] = t
      .orderBy("vec_id").limit(k).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](r.fieldIndex("embedding")).toArray) }
    for (_ <- 0 until iters) {
      val cdf = centroids.toSeq.toDF("cell", "centroid")
      val assigned = assign(t, cdf)
      // update step: ONE element-wise vector-sum aggregate per cell (native
      // VecSumAgg buffer = dim doubles) — no posexplode row multiplication
      // (×dim) through the shuffle; the model-sized result collects to the
      // driver like any trained model
      centroids = assigned
        .groupBy("cell")
        .agg(Native.vecSumAgg(col("embedding")).as("vsum"),
          count(lit(1)).as("n"))
        .collect()
        .map { r =>
          val n = r.getLong(r.fieldIndex("n")).toDouble
          (r.getInt(0),
            r.getSeq[Double](r.fieldIndex("vsum")).map(x => (x / n).toFloat).toArray)
        }
    }
    centroids
  }

  /** Assign each vector to its nearest cell: the k centroids ride along as
    * an array LITERAL (model-sized, like any broadcast ML model), and the
    * argmax is a per-row array reduction — a completely narrow map, no
    * join, no shuffle, no window. Ties break to the lowest cell id
    * (array_position finds the first maximum). */
  def assign(e: DataFrame, centroids: DataFrame): DataFrame = {
    // (cellId, centroid) pairs — cell ids may be NON-contiguous (a Lloyd
    // round can empty a cell), so the argmax must emit the actual id,
    // never the positional index of the sorted list.
    val cents = centroids.orderBy("cell").collect()
      .map(r => (r.getInt(r.fieldIndex("cell")),
        r.getSeq[Float](r.fieldIndex("centroid"))))
    // k direct native-cosine columns + greatest/first-match argmax: the
    // HOF form (transform over an array literal) pays lambda-interpreter
    // overhead per element; flat expressions evaluate the same k fused
    // loops with none of it. First matching `when` = lowest cell id on
    // ties (cents are sorted by cell), same as array_position-of-max.
    val sims = cents.map { case (_, c) =>
      Native.cosineSim(col("embedding"), array(c.map(v => lit(v)): _*).cast("array<float>")) }
    val mx = greatest(sims: _*)
    val cell = sims.zip(cents).tail.foldLeft(when(sims.head === mx, cents.head._1)) {
      case (acc, (s, (id, _))) => acc.when(s === mx, id)
    }
    e.withColumn("cell", cell.cast("int"))
  }

  /** sim_ivf query: top-10 cosine neighbors of vec 0 searching only the
    * nprobe=4 (of k=16) cells nearest the query. Rows-only check
    * (k-means is engine-specific); recall vs brute force in IvfSpec. */
  /** Trained centroid sets memoized per (session, dir) through the shared
    * [[graft.engine.SessionCache]]: an IVF index is built ONCE and
    * queried many times — retraining per query is the unrealistic shape.
    * Driver-side k×dim floats, negligible; entries die with their
    * session (no identity-hash collisions, no stopped-session leaks). */
  private[graft] val centroidCache =
    new graft.engine.SessionCache[Array[(Int, Array[Float])]]()

  private[graft] val simIvf: Q = (s, dir) => {
    import s.implicits._
    val e = LlmPipeline.emb(s, dir).select(col("vec_id"), col("embedding"))
    val centroids = centroidCache.getOrBuild(s, dir)(train(e, k = 16, iters = 2))()
    val cdf = centroids.toSeq.toDF("cell", "centroid")
    val assigned = graft.engine.Materialize(s, s"ivf-assigned:$dir") {
      assign(e, cdf)
    }
    val qVec = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    // cells to probe: the 4 centroids nearest the query vector
    val probeCells = cdf.crossJoin(broadcast(qVec))
      .select(col("cell"), Native.cosineSim(col("centroid"), col("qv")).as("sim"))
      .orderBy(desc("sim"), asc("cell")).limit(4)
      .select("cell")
    assigned.join(broadcast(probeCells), "cell")
      .crossJoin(broadcast(qVec))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round(Native.cosineSim(col("embedding"), col("qv")), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(10)
  }

  /** Build the IVF index ONCE as two parquet tables under `root`
    * (overwritten): the centroid table (model-sized) and the
    * cell-assigned vector table (the "inverted file", partitioned by cell
    * on disk so a probe reads only its cells' files). Production shape:
    * train/assign is a batch job; queries touch the materialized index
    * only. */
  def buildIndex(root: String, e: DataFrame, k: Int, iters: Int): Unit = {
    val spark = e.sparkSession
    import spark.implicits._
    val cdf = train(e, k, iters).toSeq.toDF("cell", "centroid")
    cdf.write.mode(SaveMode.Overwrite).parquet(s"$root/ivf_centroids")
    // repartition by cell: each file holds few cells, so each file's
    // cell min/max row-group stats make probe filters skip it entirely
    assign(e, cdf).repartition(col("cell"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/ivf_assigned")
  }

  /** Query the PERSISTED index: nearest `nprobe` cells from the centroid
    * table, then top-k cosine within those cells only. The probe-cell
    * set (nprobe ints — model-sized) becomes an `isin` predicate, which
    * PUSHES to the parquet scan: with cell-clustered files, row-group
    * stats skip every non-probed file, so I/O is the nprobe/k fraction
    * of the index (a broadcast join would scan everything). */
  def queryIndex(spark: SparkSession, root: String,
      queryVec: Array[Float], nprobe: Int, k: Int): DataFrame = {
    val qv = array(queryVec.map(lit(_)): _*).cast("array<float>")
    val probeCells = spark.read.parquet(s"$root/ivf_centroids")
      .select(col("cell"), Native.cosineSim(col("centroid"), qv).as("sim"))
      .orderBy(desc("sim"), asc("cell")).limit(nprobe)
      .select("cell").collect().map(_.getInt(0)).toSeq
    spark.read.parquet(s"$root/ivf_assigned")
      .filter(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), round(Native.cosineSim(col("embedding"), qv), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }

  /** Recall-gated (r08): rows are the exact brute-force top-10
    * (oracle-hashed); `recall_ok` gates the IVF probe result in-plan —
    * the measured floor is 9/10 across sf0.001–0.1, gate at 8
    * (LlmPipeline.recallGate). */
  private val simIvfGated: Q = (s, dir) =>
    LlmPipeline.recallGate(s, dir, simIvf(s, dir), minHits = 8)

  val queries: Map[String, Q] = Map("sim_ivf" -> simIvfGated)
  val oracles: Map[String, String] =
    Map("sim_ivf" -> LlmPipeline.annRecallOracle)
}
