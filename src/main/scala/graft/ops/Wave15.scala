package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 eighth wave: decontamination policy evaluation.
  *
  * `eval_decontaminate` sweeps the n-gram size of the train/eval
  * contamination check — the single knob that decides how much of the
  * training corpus an eval suite disqualifies. decontaminate (Wave4)
  * ships the n=5 policy; this evaluator prices n ∈ {3, 5, 8} in one
  * query so the threshold choice is evidence, not folklore.
  */
object Wave15 {

  /** Contamination sweep: for each shingle size n, the distinct eval
    * (source 'src0') n-gram count, the number of train documents
    * sharing at least one eval n-gram, and their exact id-sum (pinning
    * WHICH documents each policy removes). Smaller n disqualifies more
    * (3-grams are common phrases), larger n approaches exact-passage
    * matching — the monotone Wave15Spec pins.
    *
    * Scale shape per n: exactly decontaminate's audited plan — the
    * eval side DISTINCTs its shingle set first (eval suites are
    * model-sized next to the corpus), candidates come from ONE shingle
    * equi-join, and the train corpus is never self-paired. The three
    * sizes union as independent branches; at 100 TB you run the sweep
    * on a corpus sample, then the chosen n exactly once. */
  private val evalDecontaminate: Q = (s, dir) => {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), LlmPipeline.tokens(col("text")).as("tk"))
    def branch(n: Int): DataFrame = {
      val sh = d.filter(size(col("tk")) >= n)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(transform(
            sequence(lit(1), size(col("tk")) - (n - 1)),
            i => concat_ws(" ", slice(col("tk"), i, lit(n)))))).as("sh"))
      val ev = sh.filter(col("source") === "src0").select("sh").distinct()
      val hits = sh.filter(col("source") =!= "src0")
        .join(ev, "sh").select("doc_id").distinct()
      hits.agg(count(lit(1)).as("n_hit_docs"),
          coalesce(sum("doc_id"), lit(0L)).as("hit_id_sum"))
        .crossJoin(ev.agg(count(lit(1)).as("n_eval_shingles")))
        .select(lit(n).as("n"), col("n_eval_shingles"),
          col("n_hit_docs"), col("hit_id_sum"))
    }
    Seq(3, 5, 8).map(branch).reduce(_ union _).orderBy("n")
  }

  private val evalDecontaminateOracle: String = {
    def cte(n: Int) =
      s"""sh$n AS (
         |  SELECT doc_id, source,
         |    unnest(list_distinct(list_transform(generate_series(1, len(tk) - ${n - 1}),
         |      i -> array_to_string(tk[i:i+${n - 1}], ' ')))) AS sh
         |  FROM tk WHERE len(tk) >= $n),
         |ev$n AS (SELECT DISTINCT sh FROM sh$n WHERE source = 'src0'),
         |bad$n AS (SELECT DISTINCT s.doc_id FROM sh$n s JOIN ev$n USING (sh)
         |          WHERE s.source <> 'src0')""".stripMargin
    def row(n: Int) =
      s"""SELECT $n AS n,
         |  (SELECT CAST(count(*) AS BIGINT) FROM ev$n) AS n_eval_shingles,
         |  (SELECT CAST(count(*) AS BIGINT) FROM bad$n) AS n_hit_docs,
         |  (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM bad$n) AS hit_id_sum""".stripMargin
    s"""WITH tk AS (SELECT doc_id, source, ${LlmPipeline.duckTokens} AS tk FROM documents),
       |${Seq(3, 5, 8).map(cte).mkString(",\n")}
       |${Seq(3, 5, 8).map(row).mkString("\nUNION ALL\n")}
       |ORDER BY n""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "eval_decontaminate" -> evalDecontaminate)
  val oracles: Map[String, String] = Map(
    "eval_decontaminate" -> evalDecontaminateOracle)
}
