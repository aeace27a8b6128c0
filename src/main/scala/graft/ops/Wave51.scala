package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 51: ingestion robustness — schema-merged parquet reads
  * across files written at different schema versions (the bread-and-
  * butter lakehouse evolution read), and malformed-JSONL ingestion
  * with PERMISSIVE corrupt-record capture (what real crawl feeds look
  * like). Both build their fixture files deterministically from the
  * `customer`/`documents` tables, so the DuckDB oracle can state the
  * expected result from the base tables alone.
  */
object Wave51 {

  // ---- source_merge_schema: parquet schema evolution read ------------

  /** Writes the same entity at two schema versions — v1 files carry
    * (c_custkey, acctbal) for even keys, v2 files add c_mktsegment for
    * odd keys — then reads the directory with mergeSchema: the union
    * schema surfaces, v1 rows null-fill the new column. The read-back
    * aggregate (count + balance sum + null count per presence of the
    * evolved column) is fully determined by `customer`. */
  private val sourceMergeSchema: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "mergeschema")
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_acctbal").cast("decimal(18,2)").as("acctbal"),
        col("c_mktsegment"))
    base.filter(pmod(col("c_custkey"), lit(2)) === 0)
      .select("c_custkey", "acctbal")
      .repartition(2).write.mode("overwrite").parquet(root + "/v1")
    base.filter(pmod(col("c_custkey"), lit(2)) === 1)
      .select("c_custkey", "acctbal", "c_mktsegment")
      .repartition(2).write.mode("overwrite").parquet(root + "/v2")
    val merged = s.read.option("mergeSchema", "true")
      .parquet(root + "/v1", root + "/v2")
    require(merged.schema.fieldNames.contains("c_mktsegment"),
      "source_merge_schema: union schema must carry the evolved column")
    merged
      .groupBy(col("c_mktsegment").isNull.as("from_v1"))
      .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"),
        sum("acctbal").cast("double").as("bal_sum"))
      .orderBy("from_v1")
  }

  private val sourceMergeSchemaOracle =
    """SELECT c_custkey % 2 = 0 AS from_v1,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      |FROM customer GROUP BY 1 ORDER BY from_v1""".stripMargin

  // ---- source_corrupt_json: PERMISSIVE malformed-record capture ------

  /** Writes one JSONL line per document — every 7th doc_id truncated
    * mid-object (malformed) — and reads with PERMISSIVE mode +
    * columnNameOfCorruptRecord: good rows parse, bad rows land whole
    * in the corrupt column. Reports good/bad counts and the n_chars
    * sum over parsed rows; all determined by `documents`. */
  private val sourceCorruptJson: Q = (s, dir) => {
    import s.implicits._
    val root = graft.engine.Fs.freshScratch(s, "corruptjson")
    val lines = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .select(when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("{\"doc_id\": "), col("doc_id").cast("string"), lit(", \"n_ch")))
        .otherwise(concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
          lit(", \"n_chars\": "), col("n_chars").cast("string"), lit("}")))
        .as("value"))
    lines.coalesce(2).write.mode("overwrite").text(root + "/jsonl")
    val parsed = s.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema("doc_id LONG, n_chars LONG, _bad STRING")
      .json(root + "/jsonl")
    parsed.agg(
      sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
      sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_bad"),
      sum(when(col("_bad").isNull, col("n_chars")).otherwise(0L)).as("chars_good"))
  }

  private val sourceCorruptJsonOracle =
    """SELECT
      |  CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
      |  CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
      |  CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS chars_good
      |FROM documents""".stripMargin

  val queries: Map[String, Q] = Map(
    "source_merge_schema" -> sourceMergeSchema,
    "source_corrupt_json" -> sourceCorruptJson
  )

  val oracles: Map[String, String] = Map(
    "source_merge_schema" -> sourceMergeSchemaOracle,
    "source_corrupt_json" -> sourceCorruptJsonOracle
  )
}
