package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Persistent multi-table hyperplane-LSH index — the second
  * build-once/query-many ANN path beside the persisted IVF index
  * (SURVEY.md §2.10 sim_topk scale paths; same production shape as
  * [[Ivf.buildIndex]]).
  *
  * The inverted file is (table, bucket, vec_id) ONLY — vectors are never
  * duplicated into the index (×tables smaller than indexing embeddings),
  * exact rescoring joins candidates back to the embedding table. It is
  * repartitioned by (table, bucket) on disk so each file holds few
  * buckets and a probe's pushed (table = t AND bucket = b) disjunction
  * skips every non-probed file via row-group stats. At 100 TB: the index
  * build is one narrow projection (native lsh_buckets, no shuffle before
  * the partitioning write), and a query reads the probed buckets' files
  * plus one semi-join against the embedding table.
  */
object LshIndex {

  /** Build the inverted file ONCE as the parquet table
    * `root/lsh_buckets` (overwritten): one (table, bucket) row per vector
    * per hash table, bucket-clustered on disk. */
  def buildIndex(root: String, e: DataFrame, planes: Int, tables: Int): Unit =
    LlmPipeline.lshTables(e, planes, tables)
      .repartition(col("table"), col("bucket"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/lsh_buckets")

  /** Query the PERSISTED index: the query vector's bucket per table
    * comes from the same native expression evaluated on one row (so the
    * index and the probe can never disagree on hashing), the probe
    * predicate pushes to the index scan, and candidates are rescored
    * with exact cosine against the embedding table. Returns top-k
    * (vec_id, cos) excluding nothing — callers filter the query row out
    * if it is part of the corpus. */
  def queryIndex(spark: SparkSession, root: String,
      embeddings: DataFrame, queryVec: Array[Float],
      planes: Int, tables: Int, k: Int): DataFrame = {
    val qv = array(queryVec.map(lit(_)): _*).cast("array<float>")
    val qBuckets = spark.range(1)
      .select(posexplode(Native.lshBuckets(qv, planes, tables)))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val probe = qBuckets.map { case (t, b) =>
      col("table") === t && col("bucket") === b
    }.reduce(_ || _)
    val cands = spark.read.parquet(s"$root/lsh_buckets")
      .filter(probe)
      .select("vec_id").distinct()
    embeddings.join(cands, "vec_id")
      .select(col("vec_id"), round(Native.cosineSim(col("embedding"), qv), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(k)
  }
}
