package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 wave 55: causal-flavored attribution + a trained classifier —
  * Markov removal-effect channel attribution (Anderl et al.'s data-driven
  * attribution: how much does conversion probability DROP when a channel
  * is deleted from the chain — the principled alternative to
  * position-based rules), and a multinomial Naive Bayes language
  * classifier trained from the corpus itself (token likelihoods +
  * priors, Laplace-smoothed), reported as a confusion matrix — the
  * trained counterpart of the heuristic `text_langid`.
  */
object Wave55 {

  /** Absorption supersteps. The reported quantity is the K-step
    * absorption probability — deterministic and engine-exact by
    * construction (each step is integer micro arithmetic), converged
    * to well past the micro grid for these chain depths. */
  private val AbsorbIters = 14

  // ---- events_attribution_markov: removal-effect attribution ----------

  /** Removal-effect attribution over the first-purchase Markov chain:
    * journeys are each user's event sequence truncated at the first
    * `purchase` (→ absorbing `conv`; journeys that end without one
    * absorb into `null`), states are the non-purchase event types plus
    * `start`. For each channel c, every edge into c is redirected to
    * `null` (NO renormalization — that is what "remove the channel"
    * means) and the chain is re-absorbed; removal_effect(c) =
    * (P(conv) − P_c(conv)) / P(conv), and attribution shares normalize
    * the effects. ALL removals absorb in ONE iterated table keyed by a
    * removal tag (`none` + one per channel), so the data-sized work is
    * exactly one transition aggregate; the K supersteps run on the
    * model-sized tagged edge list with the previous vector BROADCAST
    * (the textrank/markov_steady scaling pattern). Edge probabilities
    * quantize to micro BEFORE iterating (p = c·10⁶ div r), so no
    * superstep multiplies two data-sized counts — the arithmetic is
    * overflow-safe at any corpus size — and both engines walk the
    * identical integer orbit. */
  private val eventsAttributionMarkov: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("rn", row_number().over(w))
    // first-purchase rank via a per-user aggregate window instead of the
    // r10 groupBy + LEFT-join-back: the window rides the SAME user_id
    // partitioning (and sort) the rn window above just established, so
    // the events frame exchanges once, not twice (guide §2.4). LEFT-join
    // semantics preserved: no-purchase users get NULL fp and the isNull
    // branch keeps them, exactly as before.
    val j = ev
      .withColumn("fp", min(when(col("event_type") === "purchase", col("rn")))
        .over(Window.partitionBy("user_id")))
      .filter(col("fp").isNull || col("rn") <= col("fp"))
      .withColumn("state",
        when(col("event_type") === "purchase", "conv").otherwise(col("event_type")))
    val wj = Window.partitionBy("user_id").orderBy("rn")
    val e1 = j.withColumn("nxt", lead("state", 1).over(wj))
      .filter(col("state") =!= "conv")
      .select(col("state").as("src"), coalesce(col("nxt"), lit("null")).as("dst"))
    val e0 = j.filter(col("rn") === 1)
      .select(lit("start").as("src"), col("state").as("dst"))
    val trans = e1.union(e0).groupBy("src", "dst").agg(count(lit(1)).as("c"))
    val rt = trans.groupBy("src").agg(sum("c").as("r"))
    // The tagged chain is (channels+1) × states × states — MODEL-sized
    // at any corpus scale — so the 14 absorption supersteps run on the
    // DRIVER in exact integers (the r07 model-state pattern; the r06
    // loop paid a broadcast + checkpoint job per superstep). Edge
    // probabilities still quantize to micro BEFORE iterating, so the
    // orbit is the identical integer walk; data-sized work is exactly
    // the one transition aggregate above.
    import s.implicits._
    val pm = trans.join(rt, "src")
      .withColumn("ep", expr("c * 1000000 div r"))
      .select("src", "dst", "ep").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tags = pm.map(_._1).distinct.filter(_ != "start").toSeq :+ "none"
    // a tag whose removal strands `start` (no surviving out-edge) drops
    // from the report, exactly as the r06 frame form did
    val fin: Map[String, Long] = tags.flatMap { tag =>
      val te = pm.filter { case (src, dst, _) => src != tag && dst != tag }
      val states = te.map(_._1).distinct
      var v: Map[String, Long] = states.map(_ -> 0L).toMap
      for (_ <- 1 to AbsorbIters) {
        v = states.map { src =>
          val num = te.filter(_._1 == src).map { case (_, dst, ep) =>
            val vl = if (dst == "conv") 1000000L else v.getOrElse(dst, 0L)
            ep * vl
          }.sum
          src -> num / 1000000L
        }.toMap
      }
      v.get("start").map(tag -> _)
    }.toMap
    // an events table with no sessions never yields a 'start' row, so
    // fin has no "none" entry — return the empty frame the pre-r07 form
    // produced instead of throwing NoSuchElementException
    fin.get("none") match {
      case None =>
        Seq.empty[(String, Double, Double, Double, Double)]
          .toDF("channel", "p_conv_base", "p_conv_removed",
            "removal_effect", "attribution_share")
      case Some(pb) =>
        val re = tags.filter(t => t != "none" && fin.contains(t)).map { ch =>
          val pr = fin(ch)
          (ch, pr, (2 * (pb - pr) * 1000000L + pb) / (2 * pb))
        }
        val tt = re.map(_._3).sum
        re.map { case (ch, pr, reMicro) =>
          val share =
            if (tt == 0) 0L else (2 * reMicro * 1000000L + tt) / (2 * tt)
          (ch, pb.toDouble / 1e6, pr.toDouble / 1e6,
            reMicro.toDouble / 1e6, share.toDouble / 1e6)
        }.sortBy(_._1)
          .toDF("channel", "p_conv_base", "p_conv_removed", "removal_effect",
            "attribution_share")
          .orderBy("channel")
    }
  }

  private val eventsAttributionMarkovOracle: String = {
    val steps = (1 to AbsorbIters).map { k =>
      val pv = s"v${k - 1}"
      s"""v$k AS MATERIALIZED (
         |  SELECT te.tag, te.src AS state,
         |    CAST(SUM(te.ep * (CASE WHEN te.dst = 'conv' THEN 1000000
         |      ELSE COALESCE(v.p, 0) END)) // 1000000 AS BIGINT) AS p
         |  FROM te LEFT JOIN $pv v ON v.tag = te.tag AND v.state = te.dst
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type,
       |    CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
       |    row_number() OVER (PARTITION BY user_id ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, MIN(rn) AS fp FROM ev WHERE event_type = 'purchase' GROUP BY 1),
       |j AS (
       |  SELECT ev.user_id, ev.rn,
       |    CASE WHEN ev.event_type = 'purchase' THEN 'conv' ELSE ev.event_type END AS state
       |  FROM ev LEFT JOIN fp ON fp.user_id = ev.user_id
       |  WHERE fp.fp IS NULL OR ev.rn <= fp.fp),
       |e1 AS (
       |  SELECT state AS src,
       |    COALESCE(LEAD(state) OVER (PARTITION BY user_id ORDER BY rn), 'null') AS dst
       |  FROM j),
       |edges AS (
       |  SELECT src, dst FROM e1 WHERE src <> 'conv'
       |  UNION ALL
       |  SELECT 'start' AS src, state AS dst FROM j WHERE rn = 1),
       |trans AS MATERIALIZED (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM edges GROUP BY 1, 2),
       |rt AS (SELECT src, CAST(SUM(c) AS BIGINT) AS r FROM trans GROUP BY 1),
       |pm AS MATERIALIZED (
       |  SELECT t.src, t.dst, t.c * 1000000 // rt.r AS ep
       |  FROM trans t JOIN rt USING (src)),
       |tags AS (
       |  SELECT DISTINCT src AS tag FROM pm WHERE src <> 'start'
       |  UNION ALL SELECT 'none'),
       |te AS MATERIALIZED (
       |  SELECT tags.tag, pm.src, pm.dst, pm.ep
       |  FROM tags CROSS JOIN pm
       |  WHERE pm.src <> tags.tag AND pm.dst <> tags.tag),
       |v0 AS (SELECT DISTINCT tag, src AS state, CAST(0 AS BIGINT) AS p FROM te),
       |$steps,
       |fin AS (SELECT tag, p FROM v$AbsorbIters WHERE state = 'start'),
       |base AS (SELECT p AS pb FROM fin WHERE tag = 'none'),
       |re AS (
       |  SELECT tag AS channel, pb, p AS pr,
       |    (2 * (pb - p) * 1000000 + pb) // (2 * pb) AS re_micro
       |  FROM fin, base WHERE tag <> 'none'),
       |tot AS (SELECT CAST(SUM(re_micro) AS BIGINT) AS tt FROM re)
       |SELECT channel,
       |  CAST(pb AS DOUBLE) / 1e6 AS p_conv_base,
       |  CAST(pr AS DOUBLE) / 1e6 AS p_conv_removed,
       |  CAST(re_micro AS DOUBLE) / 1e6 AS removal_effect,
       |  CAST(CASE WHEN tt = 0 THEN 0
       |    ELSE (2 * re_micro * 1000000 + tt) // (2 * tt) END AS DOUBLE) / 1e6
       |    AS attribution_share
       |FROM re, tot ORDER BY channel""".stripMargin
  }

  // ---- ml_naive_bayes: trained multinomial NB language classifier ----

  /** ln quantized to nano-unit longs over INTEGER-valued arguments —
    * both engines take ln of exactly-representable doubles, so the
    * quantized value is engine-identical (the wave-44 discipline). */
  private def lnq(c: Column): Column =
    floor(log(c.cast("double")) * 1e9 + lit(0.5)).cast("long")

  /** Multinomial Naive Bayes langid, trained on the corpus itself:
    * class priors from document counts, token likelihoods
    * (c_lt + 1)/(tot_l + V) Laplace-smoothed, scored in log space —
    * score(d,l) = ln P(l) + Σ_t m_t·ln(c_lt+1) − M_d·ln(tot_l+V)
    * (the constant Σ ln m! drops out of the argmax). Reported as the
    * actual×predicted confusion matrix. All log factors quantize to
    * nano longs so the argmax (ties broken by language code) is
    * engine-exact. Scale shape: training is two token aggregations;
    * scoring joins doc-token counts to the vocabulary-sized likelihood
    * table on the token key (shuffle equi-join) and reduces per
    * (doc, lang) — never a doc×vocab product; the per-doc argmax
    * window has 5-row groups. */
  private val mlNaiveBayes: Q = (s, dir) => {
    val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val docToks = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(LlmPipeline.tokens(col("text"))).as("w"))
      .localCheckpoint()
    val dtc = docToks.groupBy("doc_id", "w").agg(count(lit(1)).as("m"))
    val docM = docToks.groupBy("doc_id").agg(count(lit(1)).as("mm"))
    val ltc = docToks.groupBy("lang", "w").agg(count(lit(1)).as("c"))
    val langTot = ltc.groupBy("lang").agg(sum("c").as("tot"))
    val voc = docToks.agg(countDistinct("w").as("vn"))
    val dl = base.groupBy("lang").agg(count(lit(1)).as("nl"))
    val nn = base.agg(count(lit(1)).as("nd"))
    val langs = dl.join(langTot, "lang")
      .crossJoin(broadcast(voc)).crossJoin(broadcast(nn))
      .select(col("lang").as("l"),
        (lnq(col("nl")) - lnq(col("nd"))).as("prior_nano"),
        lnq(col("tot") + col("vn")).as("den_nano"))
    val nmn = ltc.select(col("lang").as("l"), col("w"),
      lnq(col("c") + 1).as("num_nano"))
    val p2 = dtc.join(nmn, "w")
      .groupBy("doc_id", "l").agg(sum(col("m") * col("num_nano")).as("p2"))
    val scored = base
      .join(docM, Seq("doc_id"), "left")
      .crossJoin(broadcast(langs))
      .join(p2, Seq("doc_id", "l"), "left")
      .withColumn("score",
        col("prior_nano") + coalesce(col("p2"), lit(0L)) -
          coalesce(col("mm"), lit(0L)) * col("den_nano"))
    val wd = Window.partitionBy("doc_id").orderBy(desc("score"), col("l"))
    scored.withColumn("rk", row_number().over(wd)).filter(col("rk") === 1)
      .groupBy(col("lang").as("actual_lang"), col("l").as("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual_lang", "predicted_lang")
  }

  private val mlNaiveBayesOracle =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest(${LlmPipeline.duckTokens}) AS w FROM documents),
       |dtc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS m FROM tok GROUP BY 1, 2),
       |docm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS mm FROM tok GROUP BY 1),
       |ltc AS MATERIALIZED (
       |  SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
       |lt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM ltc GROUP BY 1),
       |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS vn FROM tok),
       |dl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
       |langs AS (
       |  SELECT dl.lang AS l,
       |    CAST(FLOOR(ln(CAST(nl AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
       |      - CAST(FLOOR(ln(CAST(nd AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS prior_nano,
       |    CAST(FLOOR(ln(CAST(tot + vn AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS den_nano
       |  FROM dl JOIN lt USING (lang), voc, nn),
       |nmn AS (
       |  SELECT lang AS l, w,
       |    CAST(FLOOR(ln(CAST(c + 1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS num_nano
       |  FROM ltc),
       |p2 AS (
       |  SELECT d.doc_id, n.l, CAST(SUM(d.m * n.num_nano) AS BIGINT) AS p2
       |  FROM dtc d JOIN nmn n USING (w) GROUP BY 1, 2),
       |sc AS (
       |  SELECT b.doc_id, b.lang, lg.l,
       |    lg.prior_nano + COALESCE(p2.p2, 0)
       |      - COALESCE(dm.mm, 0) * lg.den_nano AS score
       |  FROM documents b
       |  CROSS JOIN langs lg
       |  LEFT JOIN docm dm ON dm.doc_id = b.doc_id
       |  LEFT JOIN p2 ON p2.doc_id = b.doc_id AND p2.l = lg.l),
       |pr AS (
       |  SELECT doc_id, lang, l,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) AS rk
       |  FROM sc)
       |SELECT lang AS actual_lang, l AS predicted_lang,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM pr WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_attribution_markov" -> eventsAttributionMarkov,
    "ml_naive_bayes" -> mlNaiveBayes
  )

  val oracles: Map[String, String] = Map(
    "events_attribution_markov" -> eventsAttributionMarkovOracle,
    "ml_naive_bayes" -> mlNaiveBayesOracle
  )
}
