package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 curation-analytics wave: the corpus-level decisions a
  * production LLM-data pipeline makes AFTER the per-document gates —
  * temperature-scaled source mixing (the mT5 §3.1 / XLM-R recipe for
  * upweighting small sources without drowning large ones), a
  * mutual-information profile of the corpus's categorical metadata
  * (which metadata facets are redundant vs informative), a Zipf-fit
  * health check over the vocabulary (garbled or boilerplate-heavy
  * corpora bend away from the ~-1 slope natural text shows), and the
  * per-source gate-survival funnel (where each source's documents die
  * in the filter stack).
  *
  * Determinism discipline (shared with Wave7): every transcendental
  * output (pow/ln) is rounded to 6 places before use; sums of such
  * addends run in DECIMAL so the cross-engine result is bit-identical;
  * plain IEEE add/mul/divide/floor agree bit-wise across engines when
  * operand order matches, and the oracles mirror operand order exactly.
  */
object Wave8 {

  // ---- corpus_temperature: temperature-scaled source mixing ------------

  /** Temperature sampling over sources (mT5 §3.1, alpha = 0.3): source i
    * holding p_i of the corpus tokens samples with probability
    * q_i ∝ p_i^alpha — small sources upweight toward uniform, large
    * ones downweight, the standard fix for multilingual/multi-source
    * imbalance. The output is the full mixing decision per source:
    * share p, temperature weight q, the per-document acceptance rate
    * that fills a half-corpus token budget (clamped at 1, in exact ppm
    * so the threshold is an integer compare), and the count of
    * documents the deterministic md5-acceptance actually keeps.
    *
    * Scale shape: one scan aggregates per-source token totals
    * (map-side combine; #sources is model-sized), the temperature
    * normalizer is a broadcast scalar, and the acceptance pass is the
    * same scan joined to the broadcast rate table — no window, no
    * shuffle beyond the two source-keyed aggregations. At 100 TB the
    * only state that grows is the per-source table (hundreds of rows).
    *
    * Determinism: p^0.3 is the one libm call — rounded to 6 before the
    * DECIMAL normalizer sum; acceptance compares the md5 ppm residue
    * (Hashing.md5Long % 1e6) against an integer ppm rate derived by
    * floor() from rounded doubles, so membership is exact in both
    * engines. */
  private val corpusTemperature: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents").select(
      col("doc_id"), col("source"),
      size(LlmPipeline.tokens(col("text"))).cast("bigint").as("n_tok"),
      Hashing.md5Bucket(col("doc_id").cast("string").cast("binary"), 1000000)
        .as("u"))
    val per = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("src_tok"))
    val tot = base.agg(sum("n_tok").as("tot_tok"))
    val pa = per.crossJoin(broadcast(tot))
      .withColumn("p", round(col("src_tok").cast("double") / col("tot_tok"), 6))
      .withColumn("pa",
        round(pow(col("src_tok").cast("double") / col("tot_tok"), 0.3), 6)
          .cast(DecimalType(18, 6)))
    val z = pa.agg(sum("pa").cast("double").as("z"))
    val rates = pa.crossJoin(broadcast(z))
      .withColumn("q", round(col("pa").cast("double") / col("z"), 6))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          floor(col("q") * lit(500000.0) * col("tot_tok") / col("src_tok"))
            .cast("bigint")))
    val sampled = base
      .join(broadcast(rates.select("source", "rate_ppm")), "source")
      .groupBy("source")
      .agg(sum(when(col("u") < col("rate_ppm"), 1L).otherwise(0L))
        .as("n_sampled"))
    rates.join(sampled, "source")
      .select("source", "n_docs", "src_tok", "p", "q", "rate_ppm", "n_sampled")
      .orderBy("source")
  }

  private val corpusTemperatureOracle =
    s"""WITH base AS (
       |  SELECT doc_id, source, CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS n_tok,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
       |  FROM documents),
       |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(n_tok) AS BIGINT) AS src_tok FROM base GROUP BY source),
       |tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tot_tok FROM base),
       |pa AS (SELECT source, n_docs, src_tok, tot_tok,
       |    round(CAST(src_tok AS DOUBLE) / tot_tok, 6) AS p,
       |    CAST(round(pow(CAST(src_tok AS DOUBLE) / tot_tok, 0.3), 6) AS DECIMAL(18,6)) AS pa
       |  FROM per, tot),
       |z AS (SELECT CAST(SUM(pa) AS DOUBLE) AS z FROM pa),
       |rates AS (SELECT source, n_docs, src_tok, tot_tok,
       |    p, round(CAST(pa AS DOUBLE) / z, 6) AS q FROM pa, z),
       |r2 AS (SELECT *, LEAST(1000000, CAST(FLOOR(q * 500000.0 * tot_tok / src_tok) AS BIGINT)) AS rate_ppm
       |  FROM rates),
       |smp AS (SELECT source,
       |    CAST(SUM(CASE WHEN u < rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |  FROM base JOIN r2 USING (source) GROUP BY source)
       |SELECT r2.source, n_docs, src_tok, p, q, rate_ppm, n_sampled
       |FROM r2 JOIN smp ON r2.source = smp.source ORDER BY r2.source""".stripMargin

  // ---- profile_mutual_info: categorical-dependence profiler ------------

  /** Pointwise and total mutual information between the corpus's two
    * categorical metadata facets (lang × source): per cell the PMI
    * ln(p_xy / (p_x·p_y)) says whether that (lang, source) pair is
    * over- or under-represented vs independence; the n/N-weighted sum
    * is the facets' total MI — the profiler signal for "are these two
    * metadata columns redundant" (MI ≈ H) or "independent" (MI ≈ 0),
    * which decides stratification keys for sampling and splits.
    *
    * Scale shape: ONE hash aggregation over the scan builds the
    * contingency table (map-side combine; cells = |langs|×|sources| is
    * model-sized); marginals and the MI scalar re-aggregate the cell
    * table itself, so everything past the first shuffle handles
    * hundreds of rows regardless of corpus size.
    *
    * Determinism: counts are exact; the single ln() per cell rounds to
    * 6; MI sums the rounded n/N-weighted addends in DECIMAL. */
  private val profileMutualInfo: Q = (s, dir) => {
    val cells = Tables.load(s, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
    val margL = cells.groupBy("lang").agg(sum("n").as("n_l"))
    val margS = cells.groupBy("source").agg(sum("n").as("n_s"))
    val tot = cells.agg(sum("n").as("n_tot"))
    val pmied = cells
      .join(broadcast(margL), "lang")
      .join(broadcast(margS), "source")
      .crossJoin(broadcast(tot))
      .withColumn("pmi",
        round(log(col("n").cast("double") * col("n_tot") /
          (col("n_l").cast("double") * col("n_s"))), 6))
      .withColumn("addend",
        round(col("n").cast("double") / col("n_tot") * col("pmi"), 6)
          .cast(DecimalType(18, 6)))
    val mi = pmied.agg(round(sum("addend").cast("double"), 6).as("mi_total"))
    pmied.crossJoin(broadcast(mi))
      .select("lang", "source", "n", "n_l", "n_s", "pmi", "mi_total")
      .orderBy("lang", "source")
  }

  private val profileMutualInfoOracle =
    """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |  FROM documents GROUP BY lang, source),
      |ml AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_l FROM cells GROUP BY lang),
      |ms AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_s FROM cells GROUP BY source),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM cells),
      |pm AS (SELECT lang, source, n, n_l, n_s,
      |    round(ln(CAST(n AS DOUBLE) * n_tot / (CAST(n_l AS DOUBLE) * n_s)), 6) AS pmi,
      |    CAST(round(CAST(n AS DOUBLE) / n_tot *
      |      round(ln(CAST(n AS DOUBLE) * n_tot / (CAST(n_l AS DOUBLE) * n_s)), 6), 6)
      |      AS DECIMAL(18,6)) AS addend
      |  FROM cells JOIN ml USING (lang) JOIN ms USING (source), tot),
      |mi AS (SELECT round(CAST(SUM(addend) AS DOUBLE), 6) AS mi_total FROM pm)
      |SELECT lang, source, n, n_l, n_s, pmi, mi_total
      |FROM pm, mi ORDER BY lang, source""".stripMargin

  // ---- text_zipf: vocabulary Zipf-fit health check ---------------------

  /** Least-squares fit of ln(freq) against ln(rank) over the whole
    * vocabulary — natural text sits near slope −1 (Zipf's law);
    * machine-generated, boilerplate-heavy, or encoding-garbled corpora
    * bend the line, so the slope is a one-number corpus health check
    * (and its drift across snapshots a contamination alarm).
    *
    * Scale shape: term frequencies are one map-side-combined
    * aggregation; the frequency rank uses Ranks.perGroupRank with an
    * EMPTY group — the ungrouped form of the two-phase kernel — so the
    * global total order costs a balanced range shuffle plus pid-local
    * windows, never a single-partition window, even for a billion-term
    * web vocabulary. The closed-form slope then needs only the five
    * classic sums, each a DECIMAL sum of 6-rounded addends (the two
    * ln() calls per term are the only libm ops; products of rounded
    * doubles are IEEE-exact cross-engine).
    *
    * The final scalar aggregate reduces #partitions pre-aggregated rows
    * — the one place a SinglePartition exchange is the correct plan. */
  private val textZipf: Q = (s, dir) => {
    val tf = Tables.load(s, dir, "documents")
      .select(explode(LlmPipeline.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val ranked = Ranks.perGroupRank(tf, Seq.empty, Seq(col("n").desc, col("token")),
      rankCol = "rk", nCol = "n_terms", partitions = ConfScope.shufflePartitions(s))
    val pts = ranked.select(
      col("n_terms"),
      round(log(col("rk").cast("double")), 6).as("x"),
      round(log(col("n").cast("double")), 6).as("y"))
    val sums = pts.agg(
      max("n_terms").as("n_terms"),
      count(lit(1)).cast("double").as("m"),
      sum(col("x").cast(DecimalType(28, 6))).cast("double").as("sx"),
      sum(col("y").cast(DecimalType(28, 6))).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 6).cast(DecimalType(28, 6)))
        .cast("double").as("sxy"),
      sum(round(col("x") * col("x"), 6).cast(DecimalType(28, 6)))
        .cast("double").as("sxx"))
    sums.select(
        col("n_terms"),
        round((col("m") * col("sxy") - col("sx") * col("sy")) /
          (col("m") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - round((col("m") * col("sxy") - col("sx") * col("sy")) /
          (col("m") * col("sxx") - col("sx") * col("sx")), 6) * col("sx")) /
          col("m"), 6).as("intercept"))
  }

  private val textZipfOracle =
    s"""WITH tf AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents) GROUP BY token),
       |rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM tf),
       |pts AS (SELECT round(ln(CAST(rk AS DOUBLE)), 6) AS x,
       |               round(ln(CAST(n AS DOUBLE)), 6) AS y FROM rk),
       |sums AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(count(*) AS DOUBLE) AS m,
       |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx
       |  FROM pts)
       |SELECT n_terms,
       |  round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS slope,
       |  round((sy - round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) * sx) / m, 6) AS intercept
       |FROM sums""".stripMargin

  // ---- pipeline_funnel: per-source gate-survival funnel ----------------

  /** Where each source's documents die in the filter stack: the staged
    * survival counts through corpus_filter's gates — language
    * agreement, then the quality threshold, then the repetition gates,
    * then the full keep decision — grouped by source. The per-source
    * funnel is the curation dashboard number that decides whether a
    * source needs a different threshold or should be dropped outright.
    *
    * Scale shape: rides corpus_filter's plan (three map-side-combined
    * signal aggregations + one doc_id join), adds one broadcast-able
    * doc_id→source attach and one source-keyed aggregation — counts
    * only, so the funnel output is #sources rows. Stages are computed
    * as conditional sums in ONE pass; no per-stage rescans. */
  private val pipelineFunnel: Q = (s, dir) => {
    val f = Wave3.queries("corpus_filter")(s, dir)
    val src = Tables.load(s, dir, "documents").select("doc_id", "source")
    val s1 = col("lang_ok")
    val s2 = s1 && col("quality") >= 0.4
    val s3 = s2 && col("top_token_ratio") <= 0.2 && col("dup_bigram_ratio") <= 0.3
    f.join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(s1, 1L).otherwise(0L)).as("n_lang"),
        sum(when(s2, 1L).otherwise(0L)).as("n_quality"),
        sum(when(s3, 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .orderBy("source")
  }

  private def pipelineFunnelOracle: String = {
    val f = Wave3.oracles("corpus_filter")
    s"""WITH f AS ($f)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(SUM(CASE WHEN f.lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       |  CAST(SUM(CASE WHEN f.lang_ok AND f.quality >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |  CAST(SUM(CASE WHEN f.lang_ok AND f.quality >= 0.4
       |    AND f.top_token_ratio <= 0.2 AND f.dup_bigram_ratio <= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       |  CAST(SUM(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
       |FROM f JOIN documents d ON f.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "corpus_temperature" -> corpusTemperature,
    "profile_mutual_info" -> profileMutualInfo,
    "text_zipf" -> textZipf,
    "pipeline_funnel" -> pipelineFunnel
  )

  val oracles: Map[String, String] = Map(
    "corpus_temperature" -> corpusTemperatureOracle,
    "profile_mutual_info" -> profileMutualInfoOracle,
    "text_zipf" -> textZipfOracle,
    "pipeline_funnel" -> pipelineFunnelOracle
  )
}
