package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-4 analytics wave: reshaping (pivot), whole-profile correlation,
  * trailing-window anomaly flags, OHLC downsampling, equi-depth
  * histograms, and adaptive (percentile-thresholded) corpus filtering.
  *
  * The reference's surface is SQL analytics over warehouse tables
  * (dbc:cmd2-21); these extend the same fixtures with the reporting /
  * data-quality layers a warehouse on top of that notebook grows next.
  * Every float output follows the cross-engine determinism discipline:
  * exact integer/decimal moments first, double arithmetic last, rounded
  * at the boundary.
  */
object Wave6 {

  // ---- agg_pivot: long-to-wide reshaping ------------------------------

  /** Daily event matrix: one row per day, one column per event type —
    * the `groupBy(...).pivot(...)` long-to-wide reshape (the reporting
    * form of stream_tumbling's long output). The pivot values are
    * DECLARED, not discovered: at 100 TB an undeclared pivot first runs
    * a distinct scan over the fact table just to learn the column set,
    * and a high-cardinality key would explode the schema — declaring the
    * (model-sized) value list keeps the plan a single hash aggregation,
    * partial-agg'd under one exchange on the group key.
    */
  private val types = Seq("click", "error", "purchase", "signup", "view")

  private val aggPivot: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(to_date(col("ts")).as("d"), col("event_type"))
    ev.groupBy("d")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types) // absent (day, type) combos surface as NULL counts
      .orderBy("d")
  }

  private val aggPivotOracle =
    """SELECT CAST(ts AS DATE) AS d,
      |  CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
      |  CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
      |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
      |  CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
      |  CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY d""".stripMargin

  // ---- profile_corr_matrix: all-pairs column correlation --------------

  /** Pairwise Pearson correlation over lineitem's numeric measure
    * columns — the profiler's "which columns move together" panel.
    *
    * ONE aggregation pass computes every moment (n, Σx, Σx², Σxy for all
    * 6 pairs). Pearson r is invariant under positive linear scaling, so
    * the 2-decimal fixture columns are scaled to EXACT integers (×100)
    * first and every moment is an order-independent integer sum — pure
    * LONG accumulators (product sums split hi/mid/lo, see the inline
    * note), making the shuffled state 35 longs, not data, with no
    * decimal or float accumulation anywhere. The correlations are then
    * derived on the model-sized aggregate in double and rounded. Adding
    * columns grows the aggregate width (k² moments), never the number
    * of passes — the right trade until k² outgrows a row, which a
    * 51-column warehouse is nowhere near.
    */
  private val corrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private val profileCorrMatrix: Q = (s, dir) => {
    // Everything per-row AND per-accumulator stays in LONG: scaled
    // values are ~1e7, so products are ~1e14 (exact in long); product
    // sums would reach ~1e26 at the 100 TB row count (~6e11 lineitem
    // rows), so each product sum is SPLIT into THREE long sums —
    // hi = p div 1e9 (≤ ~1.7e5/row), mid = (p mod 1e9) div 1e3
    // (< 1e6/row), lo = p mod 1e3 (< 1e3/row) — every accumulator
    // stays under 2^63 out to ~5e13 rows. Recombination runs in double
    // at the end (hi·1e9 + mid·1e3 + lo), identical IEEE steps in the
    // oracle. No decimal, no float accumulation — 35 long adders.
    val B1 = 1000000000L
    val B2 = 1000L
    val dec = corrCols.map(c => round(col(c) * 100).cast("long").as(c))
    val li = Tables.load(s, dir, "lineitem").select(dec: _*)
    val prods = corrCols.map(c => (Seq(c, c), s"q_$c")) ++
      corrCols.combinations(2).map { case Seq(a, b) => (Seq(a, b), s"p_${a}_$b") }.toSeq
    val withP = li.select(corrCols.map(col) ++
      prods.map { case (Seq(a, b), nm) => (col(a) * col(b)).as(nm) }: _*)
    val moments =
      Seq(count(lit(1)).as("n")) ++
        corrCols.map(c => sum(col(c)).as(s"s_$c")) ++
        prods.flatMap { case (_, nm) => Seq(
          sum(expr(s"$nm DIV $B1")).as(s"${nm}_hi"),
          sum(expr(s"($nm % $B1) DIV $B2")).as(s"${nm}_mid"),
          sum(col(nm) % B2).as(s"${nm}_lo"))
        }
    val agg = withP.agg(moments.head, moments.tail: _*)
    def recomb(nm: String): Column =
      col(s"${nm}_hi").cast("double") * B1.toDouble +
        col(s"${nm}_mid").cast("double") * B2.toDouble +
        col(s"${nm}_lo").cast("double")
    val pairRows = corrCols.combinations(2).map { case Seq(a, b) =>
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        col("n").cast("double").as("n"),
        col(s"s_$a").cast("double").as("sx"),
        col(s"s_$b").cast("double").as("sy"),
        recomb(s"q_$a").as("sxx"),
        recomb(s"q_$b").as("syy"),
        recomb(s"p_${a}_$b").as("sxy"))
    }.toSeq
    agg.select(explode(array(pairRows: _*)).as("p"))
      .select(col("p.*"))
      .select(col("col_x"), col("col_y"), col("n").cast("long").as("n_rows"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_xy"))
      .orderBy("col_x", "col_y")
  }

  private val profileCorrMatrixOracle = {
    val B1 = 1000000000L
    val B2 = 1000L
    def i(c: String) = s"CAST(round($c * 100) AS BIGINT)"
    // mirror the hi/mid/lo long-sum split and the double recombination
    // hi*1e9 + mid*1e3 + lo step for step (integer sums exact, IEEE ops
    // identical)
    def rec(p: String) =
      s"(CAST(SUM(($p) // $B1) AS DOUBLE) * ${B1.toDouble} + " +
        s"CAST(SUM((($p) % $B1) // $B2) AS DOUBLE) * ${B2.toDouble} + " +
        s"CAST(SUM(($p) % $B2) AS DOUBLE))"
    val mom =
      Seq("CAST(count(*) AS DOUBLE) AS n") ++
        corrCols.map(c => s"CAST(SUM(${i(c)}) AS DOUBLE) AS s_$c") ++
        corrCols.map(c => s"${rec(s"${i(c)} * ${i(c)}")} AS ss_$c") ++
        corrCols.combinations(2).map { case Seq(a, b) =>
          s"${rec(s"${i(a)} * ${i(b)}")} AS sp_${a}_$b"
        }.toSeq
    val pairs = corrCols.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n_rows,
         |  round((n * sp_${a}_$b - s_$a * s_$b) /
         |    sqrt((n * ss_$a - s_$a * s_$a) * (n * ss_$b - s_$b * s_$b)), 6) AS corr_xy
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT ${mom.mkString(", ")} FROM lineitem)
       |$pairs
       |ORDER BY col_x, col_y""".stripMargin
  }

  // ---- events_anomaly: trailing-window z-score flags -------------------

  /** Daily per-type event-count anomalies: each (type, day) count is
    * z-scored against the mean/stddev of the TRAILING 7 observed days
    * (exclusive), flagged when |z| > 2 — the volume-regression monitor a
    * pipeline runs after every ingest.
    *
    * Determinism: counts are integers, so the trailing sums are exact in
    * double (< 2^53); mean/variance/z are derived per-row from exact
    * moments with the explicit two-pass-free formula — identical IEEE
    * arithmetic both engines — and rounded at the output. Windows need
    * ≥3 prior days, else the row reports NULL z (both engines agree by
    * construction).
    *
    * Scale shape: one hash aggregation to the (type, day) grain — the
    * window then runs over a DAYS×TYPES-sized frame, not raw events, so
    * the window sort is model-sized. The 7-row frame bounds state.
    */
  private val eventsAnomaly: Q = (s, dir) => {
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    val st = daily
      .withColumn("n_prev", count(lit(1)).over(w).cast("double"))
      .withColumn("s_prev", sum(col("cnt")).over(w).cast("double"))
      .withColumn("ss_prev", sum(col("cnt") * col("cnt")).over(w).cast("double"))
    val mean = col("s_prev") / col("n_prev")
    val variance = (col("ss_prev") - col("s_prev") * col("s_prev") / col("n_prev")) /
      (col("n_prev") - lit(1.0))
    val z = when(col("n_prev") >= 3 && variance > 0,
      (col("cnt").cast("double") - mean) / sqrt(variance))
    st.select(col("event_type"), col("d"), col("cnt"),
        when(col("n_prev") >= 3, round(mean, 6)).as("mean_prev"),
        round(z, 6).as("z"),
        coalesce(abs(z) > 2, lit(false)).as("is_anomaly"))
      .orderBy("event_type", "d")
  }

  private val eventsAnomalyOracle =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |st AS (
      |  SELECT event_type, d, cnt,
      |    CAST(count(*) OVER w AS DOUBLE) AS n_prev,
      |    CAST(SUM(cnt) OVER w AS DOUBLE) AS s_prev,
      |    CAST(SUM(cnt * cnt) OVER w AS DOUBLE) AS ss_prev
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |zs AS (
      |  SELECT event_type, d, cnt, n_prev, s_prev / n_prev AS mean_raw,
      |    CASE WHEN n_prev >= 3 AND (ss_prev - s_prev * s_prev / n_prev) / (n_prev - 1.0) > 0
      |         THEN (CAST(cnt AS DOUBLE) - s_prev / n_prev) /
      |              sqrt((ss_prev - s_prev * s_prev / n_prev) / (n_prev - 1.0))
      |    END AS z_raw
      |  FROM st)
      |SELECT event_type, d, cnt,
      |  CASE WHEN n_prev >= 3 THEN round(mean_raw, 6) END AS mean_prev,
      |  round(z_raw, 6) AS z,
      |  COALESCE(abs(z_raw) > 2, FALSE) AS is_anomaly
      |FROM zs ORDER BY event_type, d""".stripMargin

  // ---- timeseries_resample: OHLC downsampling --------------------------

  /** Per-(type, day) OHLC resample of the event value series: open/close
    * are the first/last values in (ts, event_id) order, high/low the
    * extremes, plus count and a decimal-summed volume.
    *
    * Scale shape: ONE hash aggregation, no window sort — open/close ride
    * a lexicographic struct min/max (the (ts, event_id, value) triple),
    * so first/last-in-order costs the same as min/max. The (ts,
    * event_id) key is a total order, so both engines pick identical
    * rows. Volume rounds each addend to 6 and sums in DECIMAL(18,6),
    * keeping the float sum independent of partial-aggregation order.
    */
  private val timeseriesResample: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events").select(
      col("event_type"), to_date(col("ts")).as("d"),
      col("ts"), col("event_id"), col("value"))
    ev.groupBy("event_type", "d")
      .agg(
        min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high_raw"),
        min(col("value")).as("low_raw"),
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast(DecimalType(18, 6))).as("vol"))
      .select(col("event_type"), col("d"),
        round(col("o.value"), 6).as("open"),
        round(col("high_raw"), 6).as("high"),
        round(col("low_raw"), 6).as("low"),
        round(col("c.value"), 6).as("close"),
        col("n_events"),
        round(col("vol").cast("double"), 6).as("volume"))
      .orderBy("event_type", "d")
  }

  private val timeseriesResampleOracle =
    """WITH base AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, ts, event_id, value,
      |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE) ORDER BY ts, event_id) AS rn_a,
      |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT event_type, d,
      |  round(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
      |  round(MAX(value), 6) AS high,
      |  round(MIN(value), 6) AS low,
      |  round(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  round(CAST(SUM(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS volume
      |FROM base GROUP BY event_type, d ORDER BY event_type, d""".stripMargin

  // ---- corpus_adaptive_filter: percentile-thresholded quality gate -----

  /** Adaptive corpus filtering: instead of a fixed quality cutoff, each
    * language keeps documents scoring ABOVE ITS OWN 20th percentile of
    * the unigram-LM signal — the per-stratum adaptive thresholding a
    * multilingual pipeline needs because absolute scores aren't
    * comparable across languages.
    *
    * The per-language thresholds are exact interpolated percentiles
    * (both engines interpolate linearly over the same sorted doubles, so
    * the filter boundary is bit-identical — the agg_percentiles
    * contract); the threshold table is language-cardinality-sized and
    * broadcast back, so the gate itself is a narrow filter. Reported per
    * language: the threshold, total/kept doc counts, and kept token
    * volume.
    *
    * Scale shape: the score is Wave5's linear unigramLp pipeline; the
    * percentile aggregation shuffles (lang, score)-grain rows once.
    * percentile() is exact (sort-based within each language group) — at
    * 100 TB swap in approx_percentile for a sketch-sized state with the
    * same plan shape (the agg_approx_percentile twin pins that path).
    */
  private val corpusAdaptiveFilter: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val scored = Wave5.unigramLp(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val thr = scored.groupBy("lang")
      .agg(expr("percentile(mean_lp, 0.2)").as("thr"))
    scored.join(broadcast(thr), Seq("lang"))
      .groupBy("lang")
      .agg(
        round(first(col("thr")), 6).as("thr_p20"),
        count(lit(1)).as("n_total"),
        sum(when(col("mean_lp") >= col("thr"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("mean_lp") >= col("thr"), col("n_tok")).otherwise(0L)).as("tok_kept"))
      .orderBy("lang")
  }

  private val corpusAdaptiveFilterOracle = {
    val lp = Wave5.duckLpCte
    s"""WITH $lp,
       |scored AS (SELECT lp.doc_id, lp.n_tok, lp.mean_lp, d.lang
       |           FROM lp JOIN documents d USING (doc_id)),
       |thr AS (SELECT lang, quantile_cont(mean_lp, 0.2) AS thr FROM scored GROUP BY lang)
       |SELECT lang, round(any_value(thr), 6) AS thr_p20,
       |  CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(SUM(CASE WHEN mean_lp >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN mean_lp >= thr THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept
       |FROM scored JOIN thr USING (lang)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---- profile_equidepth: equi-depth histogram -------------------------

  /** Equi-depth 10-bucket histogram of l_extendedprice: every bucket
    * holds the same row count (±1) and reports its [lo, hi] value range
    * — the complement of profile_numeric_bins' equi-WIDTH bins, and the
    * histogram shape optimizers and drift monitors actually want on
    * skewed columns (equi-width collapses under a heavy tail).
    *
    * Bucket assignment needs each row's GLOBAL rank — the classic
    * single-task window cliff. Ranks.perGroupRank with an EMPTY group
    * runs it as a distributed total-order rank: range partition on the
    * full (value, tiebreak) key, one model-sized per-partition counts
    * collect, local ranks + broadcast offsets; ntileExpr then cuts the
    * same buckets as ntile(10) in closed form. The tiebreaker
    * (orderkey, linenumber) makes the order total, so both engines bin
    * identically even where equal prices straddle a boundary.
    */
  private val profileEquidepth: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val ranked = Ranks.perGroupRank(li, Seq.empty,
      Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      rankCol = "rk", nCol = "n_all",
      partitions = ConfScope.shufflePartitions(s))
    ranked
      .withColumn("bucket", Ranks.ntileExpr(col("rk"), col("n_all"), 10).cast("int"))
      .groupBy("bucket")
      .agg(
        round(min(col("l_extendedprice")), 6).as("lo"),
        round(max(col("l_extendedprice")), 6).as("hi"),
        count(lit(1)).as("n_rows"))
      .orderBy("bucket")
  }

  private val profileEquidepthOracle =
    """WITH ranked AS (
      |  SELECT l_extendedprice,
      |    ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
      |  FROM lineitem)
      |SELECT CAST(bucket AS INT) AS bucket,
      |  round(MIN(l_extendedprice), 6) AS lo,
      |  round(MAX(l_extendedprice), 6) AS hi,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM ranked GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- text_cooccur: apriori-pruned co-occurrence mining ---------------

  /** Token co-occurrence: the top-20 pairs of FREQUENT tokens (document
    * frequency ≥ 5% of the corpus) appearing together in ≥ 2% of
    * documents — collocation mining with the a-priori prune: only tokens
    * that clear the singleton support enter the pair join, so the
    * quadratic step runs over each document's few frequent-token ids,
    * never its raw vocabulary. Both thresholds are RELATIVE (scalar doc
    * count broadcast from a 1-row aggregate), so the same query scales
    * with the corpus.
    *
    * Scale shape: explode → per-doc distinct (one hash agg) → df counts
    * (vocabulary-sized) → semi-join keeps frequent tokens → self-join on
    * doc_id (per-doc frequent sets are small by construction) → pair
    * counts (pair-vocabulary-sized) → global top-20 via
    * TakeOrderedAndProject. Nothing all-pairs across documents.
    */
  /** Shared pair machinery for text_cooccur / text_keyphrases: frequent
    * tokens (df ≥ 5% of docs) and their supported co-occurrence pairs
    * (≥ 2% of docs), with document frequencies attached. */
  private def freqPairs(docs: DataFrame): (DataFrame, DataFrame) = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val td = docs
      .select(col("doc_id"), explode(array_distinct(LlmPipeline.tokens(col("text")))).as("token"))
    // pinned: df is vocabulary-sized but its subtree is a full corpus
    // explode+aggregate pass — text_keyphrases broadcasts df TWICE
    // (both pair ends), which without the checkpoint replays that
    // corpus pass per broadcast build (guide §3.3)
    val df = td.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .localCheckpoint()
    val freq = df.filter(col("df") >= col("n_docs") * 0.05).select("token")
    val ft = td.join(broadcast(freq), Seq("token"))
    val pairs = ft.as("a").join(ft.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .select(col("a.token").as("t1"), col("b.token").as("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_docs_both"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_docs_both") >= col("n_docs") * 0.02)
    (df, pairs)
  }

  private val textCooccur: Q = (s, dir) => {
    val (_, pairs) = freqPairs(Tables.load(s, dir, "documents"))
    pairs
      .select("t1", "t2", "n_docs_both")
      .orderBy(col("n_docs_both").desc, col("t1"), col("t2"))
      .limit(20)
  }

  private val textCooccurOracle =
    s"""WITH td AS (
       |  SELECT DISTINCT doc_id, unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |freq AS (SELECT token FROM td GROUP BY token
       |         HAVING count(*) >= (SELECT n_docs FROM n) * 0.05),
       |ft AS (SELECT doc_id, token FROM td SEMI JOIN freq USING (token))
       |SELECT a.token AS t1, b.token AS t2, CAST(count(*) AS BIGINT) AS n_docs_both
       |FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
       |GROUP BY a.token, b.token
       |HAVING count(*) >= (SELECT n_docs FROM n) * 0.02
       |ORDER BY n_docs_both DESC, t1, t2 LIMIT 20""".stripMargin

  // ---- join_fuzzy: edit-distance join against a dictionary -------------

  /** Fuzzy dictionary join: corpus tokens within Levenshtein distance 2
    * of a top-100 dictionary term (but not the term itself) — the
    * typo/variant-mining join behind spell-normalization of a crawl.
    *
    * Scale shape: both join sides are VOCABULARY-sized aggregates of the
    * corpus, never documents — the left side is distinct tokens with
    * their corpus counts, the right the model-sized dictionary (top-100
    * by corpus count, total-ordered tie-break), broadcast. A cheap
    * length-band conjunct (|len(a)-len(b)| ≤ 2, a necessary condition
    * for distance 2) prunes candidates before the O(len²) levenshtein
    * verifies — the classic block-then-verify shape, with the block
    * predicate cheap enough to run inside the broadcast loop.
    */
  private val joinFuzzy: Q = (s, dir) => {
    val terms = Tables.load(s, dir, "documents")
      .select(explode(LlmPipeline.tokens(col("text"))).as("token"))
    val counts = terms.groupBy("token").agg(count(lit(1)).as("cnt"))
    val dict = counts
      .orderBy(col("cnt").desc, col("token")).limit(100)
      .select(col("token").as("dict_term"))
    counts.join(broadcast(dict),
        abs(length(col("token")) - length(col("dict_term"))) <= 2 &&
        col("token") =!= col("dict_term") &&
        levenshtein(col("token"), col("dict_term")) <= 2)
      .select(col("dict_term"), col("token").as("variant"),
        levenshtein(col("token"), col("dict_term")).as("dist"),
        col("cnt").as("variant_cnt"))
      .orderBy("dict_term", "variant")
  }

  private val joinFuzzyOracle =
    s"""WITH terms AS (SELECT unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |counts AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM terms GROUP BY token),
       |dict AS (SELECT token AS dict_term FROM counts
       |         ORDER BY cnt DESC, token LIMIT 100)
       |SELECT d.dict_term, c.token AS variant,
       |  CAST(levenshtein(c.token, d.dict_term) AS INT) AS dist, c.cnt AS variant_cnt
       |FROM counts c JOIN dict d
       |  ON abs(length(c.token) - length(d.dict_term)) <= 2
       | AND c.token <> d.dict_term
       | AND levenshtein(c.token, d.dict_term) <= 2
       |ORDER BY dict_term, variant""".stripMargin

  // ---- text_textrank: PageRank keyword extraction ----------------------

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    * PageRank over the token co-occurrence graph — nodes are frequent
    * tokens (document frequency ≥ 5%), undirected edges weighted by the
    * number of documents where both tokens appear (support ≥ 2%), and 8
    * damped power iterations (d = 0.85) rank tokens by graph centrality.
    * The top-20 tokens by rank are the extracted corpus keywords.
    *
    * Cross-engine determinism for an ITERATIVE float computation: each
    * superstep's per-edge contribution round(r·w/W, 9) is summed in
    * DECIMAL(20,9) (order-independent), the damped combination runs in
    * double on the exact decimal sum, and the new rank is re-rounded to
    * 9 — so both engines walk bit-identical iterates. The oracle unrolls
    * the same 8 supersteps as chained CTEs (aggregation is not legal in
    * a recursive CTE term).
    *
    * Scale shape: the graph is VOCABULARY²-bounded, built from one
    * corpus scan (the apriori-pruned pair pipeline of text_cooccur);
    * every iteration is one broadcast join of the rank vector against
    * the edge list + one hash aggregation on dst, localCheckpoint'ed so
    * the 8-superstep lineage never re-plans (the dedup_components
    * pattern). Node count and initial rank are the only driver-side
    * values — model-sized scalars.
    */
  private val damping = 0.85
  private val trIters = 8

  private val textTextrank: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    // corpus size stays IN-PLAN (broadcast one-row crossJoin, the
    // unigramLp pattern) — no driver sync between building the
    // frequency filter and using it
    val nDocs = docs.agg(count(lit(1)).as("__n_docs"))
    val td = docs
      .select(col("doc_id"), explode(array_distinct(LlmPipeline.tokens(col("text")))).as("token"))
    val freq = td.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= col("__n_docs") * 0.05)
      .select("token")
    val ft = td.join(broadcast(freq), Seq("token"))
    val pairCounts = ft.as("a").join(ft.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .groupBy(col("a.token").as("t1"), col("b.token").as("t2"))
      .agg(count(lit(1)).as("w"))
      .crossJoin(broadcast(nDocs))
      .filter(col("w") >= col("__n_docs") * 0.02)
      .drop("__n_docs")
    // undirected: each pair contributes both directions
    val edges = pairCounts.select(col("t1").as("src"), col("t2").as("dst"), col("w"))
      .union(pairCounts.select(col("t2").as("src"), col("t1").as("dst"), col("w")))
      .localCheckpoint()
    val wsum = edges.groupBy("src").agg(sum("w").as("wt"))
    val ew = edges.join(wsum, "src").localCheckpoint()
    val nNodes = edges.select("src").distinct().count()
    if (nNodes == 0L) {
      // Threshold changes or a regenerated corpus can legitimately leave
      // the pair pipeline empty; without this guard 1/nNodes seeds the
      // iteration with Infinity/NaN ranks instead of an empty result.
      import s.implicits._
      s.emptyDataset[(String, Double)].toDF("token", "rank_score")
    } else {
      val r0 = BigDecimal(1.0 / nNodes)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val base = (1.0 - damping) / nNodes
      // Every data-sized pass (the co-occurrence pair pipeline) is
      // already pinned above under the session conf (edges/ew
      // localCheckpoints, nNodes count). The 8 iterations below touch
      // only the VOCABULARY-sized edge/rank frames, so they run in the
      // superstep scope sized by the node count — the deep nested plan
      // otherwise pays 8 levels of AQE replanning and 8 default-width
      // aggregate exchanges for a few-thousand-row frame.
      val ranked = graft.engine.ConfScope.superstep(s, rows = nNodes) { _ =>
        var rank = edges.select(col("src").as("token")).distinct()
          .withColumn("r", lit(r0))
        for (_ <- 1 to trIters) {
          val contrib = round(col("r") * col("w") / col("wt"), 9)
            .cast(DecimalType(20, 9))
          // no per-superstep checkpoint: the rank frame is VOCABULARY-sized,
          // and each iteration's broadcast materializes its subtree exactly
          // once inside the single final job — 8 nested levels of linear
          // work beats 8 separate checkpoint jobs. (Data-sized iterative
          // frames — dedup_components — still checkpoint per superstep.)
          rank = ew.join(broadcast(rank), ew("src") === rank("token"))
            .groupBy(col("dst"))
            .agg(sum(contrib).as("m"))
            .select(col("dst").as("token"),
              round(lit(base) + lit(damping) * col("m").cast("double"), 9).as("r"))
        }
        rank.localCheckpoint()
      }
      ranked.select(col("token"), col("r").as("rank_score"))
        .orderBy(col("rank_score").desc, col("token"))
        .limit(20)
    }
  }

  private val textTextrankOracle = {
    val graph =
      s"""td AS (SELECT DISTINCT doc_id, unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |freq AS (SELECT token FROM td GROUP BY token
         |         HAVING count(*) >= (SELECT n_docs FROM nd) * 0.05),
         |ft AS (SELECT doc_id, token FROM td SEMI JOIN freq USING (token)),
         |pc AS (SELECT a.token AS t1, b.token AS t2, count(*) AS w
         |       FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
         |       GROUP BY a.token, b.token
         |       HAVING count(*) >= (SELECT n_docs FROM nd) * 0.02),
         |edges AS (SELECT t1 AS src, t2 AS dst, w FROM pc
         |          UNION ALL SELECT t2, t1, w FROM pc),
         |wsum AS (SELECT src, SUM(w) AS wt FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS token FROM edges),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT token, round(1.0 / (SELECT n FROM nn), 9) AS r FROM nodes)""".stripMargin
    val steps = (1 to trIters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS token,
         |    round((1.0 - $damping) / (SELECT n FROM nn) +
         |      $damping * CAST(SUM(CAST(round(r.r * e.w / ws.wt, 9) AS DECIMAL(20,9))) AS DOUBLE), 9) AS r
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.token JOIN wsum ws ON e.src = ws.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graph,
       |$steps
       |SELECT token, r AS rank_score FROM r$trIters
       |ORDER BY rank_score DESC, token LIMIT 20""".stripMargin
  }

  // ---- sink_point_lookup: indexed point reads from the store -----------

  /** Point lookup through the record-level key index: a range-clustered
    * commit, `buildKeyIndex`, then a 5-key probe that reads ONLY the
    * data files the index pins (VersionedStoreSpec pins the file
    * accounting; this query pins the ANSWER against the source table).
    * This is the Hudi record-index / Delta bloom-index shape: at 100 TB
    * a key probe costs one index row-group probe + the few containing
    * data files, not a table scan.
    */
  private val lookupKeys: Seq[Any] = Seq(7L, 77L, 777L, 7777L, 77777L)

  private val sinkPointLookup: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "ptlookup")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    store.write(base.repartitionByRange(8, col("c_custkey")), "customer")
    store.buildKeyIndex(s, "customer", "c_custkey")
    store.lookup(s, "customer", "c_custkey", lookupKeys)
      .orderBy("c_custkey")
  }

  private val sinkPointLookupOracle =
    s"""SELECT c_custkey, c_name, c_acctbal FROM customer
       |WHERE c_custkey IN (${lookupKeys.mkString(", ")})
       |ORDER BY c_custkey""".stripMargin

  // ---- sink_checked: CHECK-constrained commits --------------------------

  /** CHECK constraints on the versioned store (Delta ADD CONSTRAINT):
    * declare a balance floor, prove a violating merge is REFUSED with
    * the table untouched, then land a clean merge. The returned state
    * pins both halves cross-engine: the violating row is absent, the
    * clean update is present, and the `refused` flag rode the exception
    * path. Enforcement costs one aggregate pass over INCOMING rows only
    * — at 100 TB the constraint never re-scans the table (only
    * addCheck's one-time declaration scan does).
    */
  private val sinkChecked: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "checked")
    val store = new graft.engine.VersionedStore(root)
    val base = Tables.load(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    store.write(base.repartitionByRange(4, col("c_custkey")), "c")
    store.addCheck(s, "c", "bal_floor", "c_acctbal >= -1000.0")
    import s.implicits._
    val refused =
      try {
        store.upsert(s, "c", Seq((1L, -99999.0)).toDF("c_custkey", "c_acctbal"),
          Seq("c_custkey"))
        false
      } catch { case _: IllegalStateException => true }
    store.upsert(s, "c", Seq((1L, 0.0), (2L, 111.25)).toDF("c_custkey", "c_acctbal"),
      Seq("c_custkey"))
    store.read(s, "c").filter(col("c_custkey") <= 20)
      .select(col("c_custkey"), round(col("c_acctbal"), 6).as("bal"),
        lit(refused).as("refused"))
      .orderBy("c_custkey")
  }

  private val sinkCheckedOracle =
    """SELECT c_custkey,
      |  round(CASE WHEN c_custkey = 1 THEN 0.0
      |             WHEN c_custkey = 2 THEN 111.25
      |             ELSE c_acctbal END, 6) AS bal,
      |  TRUE AS refused
      |FROM customer WHERE c_custkey <= 20 ORDER BY c_custkey""".stripMargin

  // ---- corpus_split: deterministic train/val/test partition ------------

  /** Content-hash train/val/test split (98/1/1): each document's
    * md5-residue bucket (mod 100) routes it to a split — the
    * sample_hash convention, so membership is reproducible across
    * engines, re-runs, and cluster layouts, and a document can never
    * change split when the corpus grows (leakage-stable, which a
    * row_number split is NOT). One narrow map + one hash aggregation;
    * the reported per-split volumes are the budget sheet a training run
    * starts from.
    */
  private val corpusSplit: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), size(LlmPipeline.tokens(col("text"))).cast("long").as("n_tok"),
        Hashing.splitOf(col("text")).as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_total"))
      .orderBy("split")

  private val corpusSplitOracle =
    s"""WITH b AS (
       |  SELECT doc_id, CAST(len(${LlmPipeline.duckTokens}) AS BIGINT) AS n_tok,
       |    ${Hashing.duckSplitCase} AS split
       |  FROM documents)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS tok_total
       |FROM b GROUP BY split ORDER BY split""".stripMargin

  // ---- sample_balanced: per-label balanced downsample ------------------

  /** Class-balanced downsampling: every label keeps exactly
    * min-class-count rows (the first m by vec_id within each label) —
    * the rebalancing step before training on skewed labels. The
    * per-label rank deliberately avoids `row_number() OVER (PARTITION BY
    * label)`: one dominant class would serialize into a single window
    * task, so Ranks.perGroupRank range-partitions on (label, vec_id)
    * and reconstructs identical ranks from broadcast offsets. The
    * min-class count costs NOTHING extra: it is the minimum of the
    * per-group totals the rank kernel already collects driver-side to
    * build its broadcast offsets, inlined as a literal — no second
    * aggregate, no SinglePartition exchange anywhere in the plan
    * (pinned by Wave6PlanSpec). Reported per label: kept count and
    * exact id-sum so the gate pins WHICH rows were kept, not just how
    * many.
    */
  private val sampleBalanced: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val (ranked, totals) = Ranks.perGroupRankWithTotals(emb, Seq("label"),
      Seq(col("vec_id")), rankCol = "rk", nCol = "n_label",
      partitions = ConfScope.shufflePartitions(s))
    val minN = if (totals.isEmpty) 0L else totals.values.min
    ranked.filter(col("rk") <= lit(minN))
      .groupBy("label")
      .agg(count(lit(1)).as("n_kept"),
        sum("vec_id").as("id_sum"),
        max("vec_id").as("id_max"))
      .orderBy("label")
  }

  private val sampleBalancedOracle =
    """WITH ranked AS (
      |  SELECT label, vec_id,
      |    row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rk
      |  FROM embeddings),
      |m AS (SELECT MIN(c) AS mc FROM (SELECT count(*) AS c FROM embeddings GROUP BY label))
      |SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(vec_id) AS BIGINT) AS id_sum, CAST(MAX(vec_id) AS BIGINT) AS id_max
      |FROM ranked, m WHERE rk <= mc
      |GROUP BY label ORDER BY label""".stripMargin

  // ---- profile_psi: population-stability drift between periods ---------

  /** Population Stability Index between the first and second half of
    * the event stream (split at the median day), per event type, over
    * 10 equal-width value bands: PSI = Σ (p_i − q_i)·ln(p_i / q_i) —
    * the standard drift monitor for "did this column's distribution
    * move". Bands are fixed from the GLOBAL value range (two scalar
    * aggregates broadcast), counts per (type, period, band) are one hash
    * aggregation, and the PSI combines on the model-sized band table.
    * Empty cells take the standard 1e-6 floor so the log is defined.
    *
    * Determinism: band populations are integer counts; p, q, each
    * addend, and the decimal-summed PSI follow the round-then-sum
    * discipline. The split day is the exact ROW-weighted median event
    * day (one scalar percentile), so both engines cut identical halves.
    */
  private val profilePsi: Q = (s, dir) => {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"))
    val bounds = ev.agg(min("value").as("vmin"), max("value").as("vmax"),
      expr("percentile(datediff(d, DATE '1970-01-01'), 0.5)").as("mid"))
    val banded = ev.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        when(datediff(col("d"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("double") <= col("mid"), "p1").otherwise("p2").as("period"),
        least(floor((col("value") - col("vmin")) /
          ((col("vmax") - col("vmin")) / 10.0)).cast("int"), lit(9)).as("band"))
    val cnt = banded.groupBy("event_type", "period", "band")
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("event_type", "period").agg(sum("n").as("nt"))
    val rates = cnt.join(tot, Seq("event_type", "period"))
      .select(col("event_type"), col("band"), col("period"),
        greatest(col("n").cast("double") / col("nt").cast("double"),
          lit(1e-6)).as("rate"))
    val wide = rates.groupBy("event_type", "band")
      .agg(
        coalesce(max(when(col("period") === "p1", col("rate"))), lit(1e-6)).as("p"),
        coalesce(max(when(col("period") === "p2", col("rate"))), lit(1e-6)).as("q"))
    wide
      .select(col("event_type"),
        round((col("p") - col("q")) * log(col("p") / col("q")), 9)
          .cast(DecimalType(18, 9)).as("addend"))
      .groupBy("event_type")
      .agg(round(sum(col("addend")).cast("double"), 6).as("psi"),
        count(lit(1)).as("n_bands"))
      .orderBy("event_type")
  }

  private val profilePsiOracle =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d, value FROM events),
      |bounds AS (
      |  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
      |    quantile_cont(datediff('day', DATE '1970-01-01', d), 0.5) AS mid
      |  FROM ev),
      |banded AS (
      |  SELECT event_type,
      |    CASE WHEN CAST(datediff('day', DATE '1970-01-01', d) AS DOUBLE) <= mid
      |         THEN 'p1' ELSE 'p2' END AS period,
      |    LEAST(CAST(FLOOR((value - vmin) / ((vmax - vmin) / 10.0)) AS INT), 9) AS band
      |  FROM ev, bounds),
      |cnt AS (SELECT event_type, period, band, count(*) AS n
      |        FROM banded GROUP BY 1, 2, 3),
      |tot AS (SELECT event_type, period, SUM(n) AS nt FROM cnt GROUP BY 1, 2),
      |rates AS (
      |  SELECT c.event_type, c.band, c.period,
      |    GREATEST(CAST(c.n AS DOUBLE) / CAST(t.nt AS DOUBLE), 1e-6) AS rate
      |  FROM cnt c JOIN tot t USING (event_type, period)),
      |wide AS (
      |  SELECT event_type, band,
      |    COALESCE(MAX(CASE WHEN period = 'p1' THEN rate END), 1e-6) AS p,
      |    COALESCE(MAX(CASE WHEN period = 'p2' THEN rate END), 1e-6) AS q
      |  FROM rates GROUP BY event_type, band)
      |SELECT event_type,
      |  round(CAST(SUM(CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS psi,
      |  CAST(count(*) AS BIGINT) AS n_bands
      |FROM wide GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- chunk_sentences: sentence-aware context chunking ----------------

  /** Sentence-aware chunking with hard-wrap overflow — the production
    * RAG-prep shape: documents split on sentence boundaries ([.!?]+
    * runs); a sentence longer than the wrap width (24 tokens) is
    * hard-wrapped into ≤24-token pieces (long sentences MUST split or
    * they'd blow the context budget); pieces then pack in order into
    * 32-token chunks via the exclusive-prefix floor rule. Each chunk
    * reports piece/token counts and an md5 fingerprint of its ordered
    * re-joined text (the retrieval unit's content address). The fixture
    * corpus has no sentence punctuation, so every doc exercises the
    * wrap-then-pack path end to end; punctuated text takes the
    * boundary-respecting path through the same plan.
    *
    * Scale shape: two narrow posexplodes (sentences, tokens), hash
    * aggregation back to pieces, ONE per-doc window for the exclusive
    * prefix sum (documents are bounded — chunk_stride's envelope), and
    * one final hash aggregation; ordered re-joins ride sort_array inside
    * the aggregates, never extra windows.
    */
  private val wrapW = 24
  private val chunkB = 32

  private val chunkSentences: Q = (s, dir) => {
    val sents = Tables.load(s, dir, "documents")
      .select(col("doc_id"), posexplode(
        filter(transform(split(col("text"), "[.!?]+"), x => trim(x)), x => x =!= ""))
        .as(Seq("sidx", "sent")))
    val pieces = sents
      .select(col("doc_id"), col("sidx"),
        posexplode(LlmPipeline.tokens(col("sent"))).as(Seq("tpos", "token")))
      .withColumn("piece", floor(col("tpos") / wrapW).cast("int"))
      .groupBy("doc_id", "sidx", "piece")
      .agg(count(lit(1)).as("n_tok"),
        array_join(transform(
          sort_array(collect_list(struct(col("tpos"), col("token")))),
          x => x.getField("token")), " ").as("ptext"))
    val w = Window.partitionBy("doc_id").orderBy("sidx", "piece")
      .rowsBetween(Window.unboundedPreceding, -1)
    pieces
      .withColumn("before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("chunk", floor(col("before") / chunkB).cast("int"))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("n_pieces"), sum("n_tok").as("n_tok"),
        md5(array_join(transform(
          sort_array(collect_list(struct(col("sidx"), col("piece"), col("ptext")))),
          x => x.getField("ptext")), " ").cast("binary")).as("fp"))
      .orderBy("doc_id", "chunk")
  }

  private val chunkSentencesOracle =
    s"""WITH sents AS (
       |  SELECT doc_id, generate_subscripts(ss, 1) - 1 AS sidx, unnest(ss) AS sent
       |  FROM (SELECT doc_id,
       |          list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)), x -> x <> '') AS ss
       |        FROM documents)),
       |toks AS (
       |  SELECT doc_id, sidx, generate_subscripts(tk, 1) - 1 AS tpos, unnest(tk) AS token
       |  FROM (SELECT doc_id, sidx,
       |          list_filter(string_split_regex(lower(sent),'[^a-z0-9]+'), x->x<>'') AS tk
       |        FROM sents)),
       |pieces AS (
       |  SELECT doc_id, sidx, CAST(FLOOR(tpos / $wrapW) AS INT) AS piece,
       |    CAST(count(*) AS BIGINT) AS n_tok,
       |    string_agg(token, ' ' ORDER BY tpos) AS ptext
       |  FROM toks GROUP BY doc_id, sidx, FLOOR(tpos / $wrapW)),
       |cum AS (
       |  SELECT doc_id, sidx, piece, n_tok, ptext,
       |    COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id ORDER BY sidx, piece
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM pieces)
       |SELECT doc_id, CAST(FLOOR(before / $chunkB) AS INT) AS chunk,
       |  CAST(count(*) AS BIGINT) AS n_pieces, CAST(SUM(n_tok) AS BIGINT) AS n_tok,
       |  md5(string_agg(ptext, ' ' ORDER BY sidx, piece)) AS fp
       |FROM cum GROUP BY doc_id, FLOOR(before / $chunkB)
       |ORDER BY doc_id, chunk""".stripMargin

  // ---- text_keyphrases: PMI collocation ranking ------------------------

  /** Keyphrase mining by pointwise mutual information: the top-15
    * frequent co-occurring pairs ranked by PMI = ln(N·c12 / (c1·c2)) —
    * pairs that appear together far MORE than their individual
    * frequencies predict (the complement of raw-count collocation,
    * which just surfaces common words). Shares the apriori-pruned pair
    * machinery with text_cooccur; all counts are integer document
    * frequencies, so the PMI doubles are identical cross-engine and
    * round at the output.
    */
  private val textKeyphrases: Q = (s, dir) => {
    val (df, pairs) = freqPairs(Tables.load(s, dir, "documents"))
    val d1 = df.select(col("token").as("t1"), col("df").as("c1"))
    val d2 = df.select(col("token").as("t2"), col("df").as("c2"))
    pairs
      .join(broadcast(d1), "t1").join(broadcast(d2), "t2")
      .select(col("t1"), col("t2"), col("n_docs_both"),
        round(log(col("n_docs").cast("double") * col("n_docs_both") /
          (col("c1").cast("double") * col("c2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("t1"), col("t2"))
      .limit(15)
  }

  private val textKeyphrasesOracle =
    s"""WITH td AS (
       |  SELECT DISTINCT doc_id, unnest(${LlmPipeline.duckTokens}) AS token FROM documents),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |df AS (SELECT token, count(*) AS df FROM td GROUP BY token),
       |freq AS (SELECT token FROM df WHERE df >= (SELECT n_docs FROM n) * 0.05),
       |ft AS (SELECT doc_id, token FROM td SEMI JOIN freq USING (token)),
       |pairs AS (
       |  SELECT a.token AS t1, b.token AS t2, count(*) AS n_docs_both
       |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
       |  GROUP BY a.token, b.token
       |  HAVING count(*) >= (SELECT n_docs FROM n) * 0.02)
       |SELECT t1, t2, CAST(n_docs_both AS BIGINT) AS n_docs_both,
       |  round(ln(CAST((SELECT n_docs FROM n) AS DOUBLE) * n_docs_both /
       |    (CAST(d1.df AS DOUBLE) * d2.df)), 6) AS pmi
       |FROM pairs
       |JOIN df d1 ON pairs.t1 = d1.token
       |JOIN df d2 ON pairs.t2 = d2.token
       |ORDER BY pmi DESC, t1, t2 LIMIT 15""".stripMargin

  // ---- join_asof_nearest: nearest-in-time join -------------------------

  /** Nearest as-of join (pandas merge_asof direction='nearest'): each
    * event matches the user's order with the SMALLEST time distance in
    * either direction, ties to the earlier date — completing the as-of
    * family (join_asof is the backward half). Selection rides a
    * lexicographic struct-min over (distance, date) inside the same
    * key-partitioned aggregate as join_asof — no window, no second
    * shuffle, per-key fan-out bounded by orders-per-customer; the
    * union+window form (asOfJoinWindow run in both directions) remains
    * the skew path at scale.
    */
  private val joinAsofNearest: Q = (s, dir) => {
    val e = Tables.load(s, dir, "events").select(col("event_id"), col("user_id"),
      to_date(col("ts")).as("ed"))
    val o = Tables.load(s, dir, "orders").select(col("o_custkey"),
      col("o_orderdate").cast("date").as("od"))
    e.join(o, col("user_id") === col("o_custkey"), "left")
      .withColumn("dist", abs(datediff(col("od"), col("ed"))))
      .groupBy("event_id", "user_id")
      .agg(min(struct(col("dist"), col("od"))).as("m"))
      .select(col("event_id"), col("user_id"),
        col("m.od").as("nearest_date"), col("m.dist").as("dist_days"))
      .orderBy("event_id")
  }

  private val joinAsofNearestOracle =
    """WITH c AS (
      |  SELECT e.event_id, e.user_id, o.o_orderdate AS od,
      |    abs(datediff('day', CAST(e.ts AS DATE), CAST(o.o_orderdate AS DATE))) AS dist,
      |    row_number() OVER (PARTITION BY e.event_id
      |      ORDER BY abs(datediff('day', CAST(e.ts AS DATE), CAST(o.o_orderdate AS DATE))),
      |               o.o_orderdate) AS rn
      |  FROM events e LEFT JOIN orders o ON e.user_id = o.o_custkey)
      |SELECT event_id, user_id, CAST(od AS DATE) AS nearest_date,
      |  CAST(dist AS INT) AS dist_days
      |FROM c WHERE rn = 1 ORDER BY event_id""".stripMargin

  // ---- profile_winsorized: robust (clipped) column statistics ----------

  /** Winsorized statistics per group: l_extendedprice clipped to its
    * group's exact [p5, p95] before the mean — the outlier-robust
    * profile panel (a heavy tail moves a plain mean; the winsorized
    * mean pins distribution shift instead). Two aggregations over the
    * SAME shuffle key (percentiles, then clipped moments with the
    * thresholds broadcast back); clipped addends round-then-DECIMAL-sum
    * so the float mean is partial-agg-order-proof. Clip counts quantify
    * the tail mass directly.
    */
  private val profileWinsorized: Q = (s, dir) => {
    val li = Tables.load(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
    val thr = li.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, 0.05)").as("p5"),
      expr("percentile(l_extendedprice, 0.95)").as("p95"))
    val clipped = greatest(least(col("l_extendedprice"), col("p95")), col("p5"))
    li.join(broadcast(thr), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(first(col("p5")), 6).as("p5"),
        round(first(col("p95")), 6).as("p95"),
        round(sum(round(clipped, 6).cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 6).as("wins_mean"),
        sum(when(col("l_extendedprice") < col("p5"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("l_extendedprice") > col("p95"), 1L).otherwise(0L)).as("n_clip_hi"))
      .orderBy("l_returnflag")
  }

  private val profileWinsorizedOracle =
    """WITH thr AS (
      |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.05) AS p5,
      |    quantile_cont(l_extendedprice, 0.95) AS p95
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  round(any_value(p5), 6) AS p5, round(any_value(p95), 6) AS p95,
      |  round(CAST(SUM(CAST(round(GREATEST(LEAST(l_extendedprice, p95), p5), 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS wins_mean,
      |  CAST(SUM(CASE WHEN l_extendedprice < p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
      |  CAST(SUM(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
      |FROM lineitem l JOIN thr USING (l_returnflag)
      |GROUP BY l.l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- events_sessionize: per-session batch statistics -----------------

  /** Batch sessionization with per-session facts: 30-minute-gap session
    * boundaries (the stream_session contract) plus what the streaming
    * form cannot easily report — per-session event counts, wall
    * duration, and a conversion flag (any purchase). One shuffle on
    * user_id: the lag/flag/cumsum cascade and the session aggregate all
    * ride the same key partitioning; session ids are (user, ordinal) so
    * the output is total-ordered.
    */
  private val eventsSessionize: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.load(s, dir, "events")
      .filter(col("user_id") < 200)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    ev.withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          col("ts").cast("long") - col("prev").cast("long") > 1800, 1L).otherwise(0L))
      .withColumn("sess", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess")
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("dur_sec"),
        max(when(col("event_type") === "purchase", true).otherwise(false)).as("converted"))
      .orderBy("user_id", "sess")
  }

  private val eventsSessionizeOracle =
    """WITH e AS (
      |  -- per-row WHOLE seconds (floored), matching Spark's
      |  -- timestamp-to-long truncation — fractional epochs would flip
      |  -- gap comparisons near exactly 1800s and drift durations by 1
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
      |    CAST(FLOOR(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS prev_sec
      |  FROM events WHERE user_id < 200),
      |f AS (
      |  SELECT user_id, ts, event_id, event_type, sec,
      |    CASE WHEN prev IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |s AS (
      |  SELECT user_id, sec, event_type,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
      |  FROM f)
      |SELECT user_id, sess, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(MAX(sec) - MIN(sec) AS BIGINT) AS dur_sec,
      |  COALESCE(MAX(event_type = 'purchase'), FALSE) AS converted
      |FROM s GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin

  // ---- sim_hard_negatives: contrastive-training negative mining --------

  /** Hard-negative mining: for each query vector, the top-3 most
    * cosine-similar vectors with a DIFFERENT label — the negatives that
    * sit closest to the decision boundary, which contrastive training
    * samples preferentially (easy random negatives teach nothing). The
    * sim_knn_join shape with a label-inequality conjunct: queries
    * broadcast, corpus never shuffles, two-phase per-query top-k.
    */
  private val simHardNegatives: Q = (s, dir) => {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label").as("neg_label"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
    Ranks.perGroupTopK(scored, Seq("qid"), Seq(desc("cos"), asc("vec_id")), 3)
      .select("qid", "qlabel", "vec_id", "neg_label", "cos", "rn")
      .orderBy("qid", "rn")
  }

  private val simHardNegativesOracle =
    """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT qid, qlabel, vec_id, label AS neg_label,
      |    ROUND(list_aggregate(list_transform(list_zip(v, qv), x -> x[1] * x[2]), 'sum')
      |      / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum')) * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))), 6) AS cos
      |  FROM e CROSS JOIN q WHERE label <> qlabel)
      |SELECT qid, qlabel, vec_id, neg_label, cos, rn FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rn FROM scored)
      |WHERE rn <= 3 ORDER BY qid, rn""".stripMargin

  // ---- embed_matryoshka: truncated-dimension retrieval fidelity --------

  /** Matryoshka truncation fidelity: re-run each query's exact top-3
    * retrieval using only the FIRST 16 of 64 dimensions and report how
    * many of the full-dimension top-3 survive — the measurement that
    * decides whether truncated (cheaper) embeddings are good enough to
    * serve. Both retrievals share the broadcast-queries / two-phase
    * top-k shape; the overlap join is top-k-sized.
    */
  private val embedMatryoshka: Q = (s, dir) => {
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def topk(sim: Column): DataFrame = {
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), round(sim, 6).as("cos"))
      Ranks.perGroupTopK(scored, Seq("qid"), Seq(desc("cos"), asc("vec_id")), 3)
        .select("qid", "vec_id")
    }
    val full = topk(graft.functions.Native.cosineSim(col("v"), col("qv")))
    val trunc = topk(graft.functions.Native.cosineSim(
      slice(col("v"), 1, 16), slice(col("qv"), 1, 16)))
    full.join(trunc, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_kept"))
      .join(full.groupBy("qid").agg(count(lit(1)).as("n_full")), Seq("qid"), "right")
      .select(col("qid"), coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("n_full"))
      .orderBy("qid")
  }

  private val embedMatryoshkaOracle =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      |fullk AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
      |      ROUND(list_aggregate(list_transform(list_zip(v, qv), x -> x[1] * x[2]), 'sum')
      |        / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum')) * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))), 6) DESC,
      |      vec_id ASC) AS rn
      |    FROM e CROSS JOIN q WHERE vec_id <> qid) WHERE rn <= 3),
      |trunck AS (
      |  SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
      |      ROUND(list_aggregate(list_transform(list_zip(v[1:16], qv[1:16]), x -> x[1] * x[2]), 'sum')
      |        / (SQRT(list_aggregate(list_transform(v[1:16], x -> x*x), 'sum')) * SQRT(list_aggregate(list_transform(qv[1:16], x -> x*x), 'sum'))), 6) DESC,
      |      vec_id ASC) AS rn
      |    FROM e CROSS JOIN q WHERE vec_id <> qid) WHERE rn <= 3)
      |SELECT f.qid, CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(f.n_full AS BIGINT) AS n_full
      |FROM (SELECT qid, count(*) AS n_full FROM fullk GROUP BY qid) f
      |LEFT JOIN (
      |  SELECT fullk.qid, count(*) AS n_kept
      |  FROM fullk SEMI JOIN trunck USING (qid, vec_id)
      |  GROUP BY fullk.qid) k ON f.qid = k.qid
      |ORDER BY f.qid""".stripMargin

  // ---- sink_incremental_rollup: CDF-driven view maintenance ------------

  /** Incremental materialized-view maintenance over the change feed:
    * a daily (day, type) rollup is built from the fact table's first
    * commit, new facts arrive as an upsert, and the rollup is REFRESHED
    * FROM THE CDF — insert keys from changesSince (file-diff, churn-
    * sized) join back to the live snapshot for their dimensions, the
    * delta aggregates at the rollup grain, and a full-outer merge adds
    * it to the stored rollup. The refreshed rollup is returned and
    * hash-checked against a from-scratch recompute (the oracle) — the
    * Delta CDF + MERGE pattern that keeps 100 TB reporting tables
    * maintained by touching only each commit's churn.
    */
  private val sinkIncrementalRollup: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "increll")
    val store = new graft.engine.VersionedStore(root)
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), to_date(col("ts")).as("d"), col("event_type"))
    // a TOTAL even/odd partition (coalesce makes NULL and negative ids
    // land deterministically in the base half instead of vanishing)
    val isBase = coalesce(pmod(col("event_id"), lit(2)) === 0, lit(true))
    store.write(ev.filter(isBase)
      .repartitionByRange(4, col("event_id")), "fact")                   // v1
    val r1 = store.read(s, "fact").groupBy("d", "event_type")
      .agg(count(lit(1)).as("n"))
    store.write(r1, "rollup")
    store.upsert(s, "fact", ev.filter(!isBase), Seq("event_id"))
    // CDF-driven delta: churn keys from the file-diff feed, their rows
    // from the CHURN FILES ONLY (newFileRows) — the refresh never scans
    // the fact snapshot, so its cost tracks commit churn
    val inserted = store.changesSince(s, "fact", 1L, Seq("event_id"))
      .filter(col("change_type") === "insert")
      .select("event_id")
    val delta = store.newFileRows(s, "fact", 1L)
      .join(inserted, Seq("event_id"), "left_semi")
      .groupBy("d", "event_type").agg(count(lit(1)).as("dn"))
    // null-safe grain merge (the changes() <=> convention): a NULL day
    // or type group must merge, not split into two rows
    val r = store.read(s, "rollup").as("r")
    val refreshed = r.join(delta.as("dl"),
        col("r.d") <=> col("dl.d") && col("r.event_type") <=> col("dl.event_type"),
        "full_outer")
      .select(
        coalesce(col("r.d"), col("dl.d")).as("d"),
        coalesce(col("r.event_type"), col("dl.event_type")).as("event_type"),
        (coalesce(col("r.n"), lit(0L)) + coalesce(col("dl.dn"), lit(0L))).as("n"))
    store.write(refreshed, "rollup")
    store.read(s, "rollup").orderBy("d", "event_type")
  }

  private val sinkIncrementalRollupOracle =
    """SELECT CAST(ts AS DATE) AS d, event_type, CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2 ORDER BY d, event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "sink_incremental_rollup" -> sinkIncrementalRollup,
    "sim_hard_negatives" -> simHardNegatives,
    "embed_matryoshka" -> embedMatryoshka,
    "text_keyphrases" -> textKeyphrases,
    "join_asof_nearest" -> joinAsofNearest,
    "profile_winsorized" -> profileWinsorized,
    "events_sessionize" -> eventsSessionize,
    "chunk_sentences" -> chunkSentences,
    "profile_psi" -> profilePsi,
    "corpus_split" -> corpusSplit,
    "sample_balanced" -> sampleBalanced,
    "sink_checked" -> sinkChecked,
    "sink_point_lookup" -> sinkPointLookup,
    "text_textrank" -> textTextrank,
    "corpus_adaptive_filter" -> corpusAdaptiveFilter,
    "profile_equidepth" -> profileEquidepth,
    "text_cooccur" -> textCooccur,
    "join_fuzzy" -> joinFuzzy,
    "agg_pivot" -> aggPivot,
    "profile_corr_matrix" -> profileCorrMatrix,
    "events_anomaly" -> eventsAnomaly,
    "timeseries_resample" -> timeseriesResample
  )

  val oracles: Map[String, String] = Map(
    "sink_incremental_rollup" -> sinkIncrementalRollupOracle,
    "sim_hard_negatives" -> simHardNegativesOracle,
    "embed_matryoshka" -> embedMatryoshkaOracle,
    "text_keyphrases" -> textKeyphrasesOracle,
    "join_asof_nearest" -> joinAsofNearestOracle,
    "profile_winsorized" -> profileWinsorizedOracle,
    "events_sessionize" -> eventsSessionizeOracle,
    "chunk_sentences" -> chunkSentencesOracle,
    "profile_psi" -> profilePsiOracle,
    "corpus_split" -> corpusSplitOracle,
    "sample_balanced" -> sampleBalancedOracle,
    "sink_checked" -> sinkCheckedOracle,
    "sink_point_lookup" -> sinkPointLookupOracle,
    "text_textrank" -> textTextrankOracle,
    "corpus_adaptive_filter" -> corpusAdaptiveFilterOracle,
    "profile_equidepth" -> profileEquidepthOracle,
    "text_cooccur" -> textCooccurOracle,
    "join_fuzzy" -> joinFuzzyOracle,
    "agg_pivot" -> aggPivotOracle,
    "profile_corr_matrix" -> profileCorrMatrixOracle,
    "events_anomaly" -> eventsAnomalyOracle,
    "timeseries_resample" -> timeseriesResampleOracle
  )
}
