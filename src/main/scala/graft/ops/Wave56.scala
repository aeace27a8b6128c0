package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkEntry.Q
import graft.engine.{ConfScope, Tables}

/** Round-6 wave 56: probabilistic record linkage + rank correlation —
  * a Fellegi–Sunter linkage evaluation table (agreement-pattern
  * weights with DATA-ESTIMATED u-probabilities, scored against known
  * ground truth), and Spearman's ρ computed with average ranks from
  * the two-phase Ranks kernel (no single-partition rank window).
  */
object Wave56 {

  /** Occupancy cap for the fellegi-sunter block join: a block (nation)
    * whose CLEAN side exceeds this many rows is split across
    * ceil(n/cap) salts — parallelism grows with the skewed block
    * instead of serializing it, and a conforming block pays zero
    * replication. */
  private[graft] val LinkBlockCap = 100000L

  /** Ceiling on per-block salt fan-out (the dirty side replicates
    * saltsOf(block)×, so bound it by realistic tasks-per-block). */
  private[graft] val LinkMaxSalts = 64

  /** ceil(n/cap) clamped to [1, LinkMaxSalts] — the per-block salt
    * count the plan AND the spec share. */
  private[graft] def saltsOf(blockRows: Long, cap: Long = LinkBlockCap): Int =
    math.min(LinkMaxSalts.toLong, 1L + (blockRows - 1).max(0L) / cap).toInt

  // ---- link_fellegi_sunter: agreement-pattern linkage weights ---------

  /** Fellegi–Sunter linkage of `customer` against a deterministically
    * corrupted copy of itself (md5-residue field noise: 20% segment,
    * 10% balance band, 1/7 name digits, 10% nation — the fixture-
    * from-base-tables pattern of wave 51, so the oracle derives the
    * same dirty copy). Candidate pairs block on nation (the classic
    * blocking key; block cost is Σ block², never N² — a corrupted
    * nation also demonstrates blocking's recall loss). Per agreement
    * pattern over the three NON-blocking fields: pair count, true-
    * match count (ground truth = same key), the FS log-odds weight
    * Σ ln(m/u) | ln((1−m)/(1−u)), and pattern precision. m-parameters
    * are the corruption survival rates (exact by construction);
    * u-parameters are ESTIMATED FROM DATA as the random-agreement
    * probability Σ(n_v/N)² of each field's value distribution — the
    * standard frequency-based u. All probabilities are micro-integers
    * and weights nano-log integers, so the table is engine-exact. */
  // Codegen scope (r11): the agreement-vector expressions over the salted
  // block join are a tight per-pair expression loop — the largest single
  // codegen delta on the surface (same-window alternating A/B: scoped
  // 1.5-1.6 s warm vs unscoped 3.1-3.4 s, ~2x; a session-wide
  // codegen-on probe agreed, 2.6-2.9 -> 1.0-1.2). Materialized
  // inside the scope (8-row output). text_textrank and
  // corpus_ccnet_buckets were probed for the same scope and DROPPED —
  // the scoped A/B showed a loss and a wash respectively (the loop-heavy
  // plans pay per-plan codegen JIT the scope never amortizes).
  private val linkFellegiSunter: Q = (s, dir) => Codegen.materialized(s) {
    def lnq(c: Column): Column =
      floor(log(c.cast("double")) * 1e9 + lit(0.5)).cast("long")
    val cust = Tables.load(s, dir, "customer").select(
      col("c_custkey").as("k"),
      col("c_mktsegment").as("seg"),
      expr("(cast(round(c_acctbal * 100) as long) + 10000000) div 100000")
        .as("band"),
      pmod(col("c_custkey"), lit(1000)).as("name3"),
      col("c_nationkey").as("nat")).localCheckpoint()
    def bkt(suffix: String, mod: Int) =
      graft.ops.Hashing.md5Bucket(
        concat(col("k").cast("string"), lit(suffix)), mod)
    val dirty = cust.select(
      col("k").as("dk"),
      when(bkt("s", 5) === 0, lit("CORRUPTED")).otherwise(col("seg")).as("dseg"),
      when(bkt("b", 10) === 0, col("band") + 1).otherwise(col("band")).as("dband"),
      when(bkt("m", 7) === 0, pmod(col("name3") + 1, lit(1000)))
        .otherwise(col("name3")).as("dname3"),
      when(bkt("n", 10) === 0, pmod(col("nat") + 1, lit(25)))
        .otherwise(col("nat")).as("dnat"))
    // ADAPTIVE salting escape hatch (round-8 scale probe: 8.1×/decade,
    // the nearest family to the data term): the blocking key has only
    // ~25 distinct nations, so an unsalted block join caps parallelism
    // at #blocks and one skewed nation serializes its whole Σblock²
    // pair set through a single task. Per-block salt counts derive from
    // the block-occupancy histogram (ONE ≤25-row model-sized collect):
    // a block under LinkBlockCap keeps 1 salt (zero replication — the
    // test-scale path stays free), an oversized block splits into
    // ceil(n/cap) salts, clean side salt = k mod ns, dirty side
    // replicated ns×. Each (clean, dirty) pair meets on exactly ONE
    // salt, so the joined pair MULTISET — and the oracle hash — is
    // identical at every scale. Wave56Spec pins the occupancy math.
    val blockCounts = cust.groupBy("nat").agg(count(lit(1)).as("bn"))
    val saltRows = blockCounts.collect()
      .map(r => Row(r.get(0), saltsOf(r.getLong(1)).toLong))
    val saltSchema = StructType(Seq(blockCounts.schema.fields(0),
      StructField("ns", LongType, false)))
    val saltDf = s.createDataFrame(
      java.util.Arrays.asList(saltRows: _*), saltSchema)
    val custSalted = cust.join(broadcast(saltDf), Seq("nat"))
      .withColumn("salt", pmod(col("k"), col("ns"))).drop("ns")
    val dirtySalted = dirty.join(
        broadcast(saltDf.toDF("dnat", "dns")), Seq("dnat"))
      .withColumn("dsalt", explode(expr("sequence(0L, dns - 1)"))).drop("dns")
    val pat = custSalted.join(dirtySalted,
        col("nat") === col("dnat") && col("salt") === col("dsalt"))
      .select(
        (col("seg") === col("dseg")).cast("int").as("a_seg"),
        (col("band") === col("dband")).cast("int").as("a_band"),
        (col("name3") === col("dname3")).cast("int").as("a_name"),
        (col("k") === col("dk")).cast("long").as("is_true"))
      .groupBy("a_seg", "a_band", "a_name")
      .agg(count(lit(1)).as("n_pairs"), sum("is_true").as("n_true"))
    // frequency-based u: P(two random records agree on the field)
    def uMicro(field: String, alias: String): DataFrame =
      cust.groupBy(col(field)).agg(count(lit(1)).as("nv"))
        .agg(sum(col("nv") * col("nv")).as("ss"), sum("nv").as("nn"))
        .select(expr("(2 * cast(ss as decimal(38,0)) * 1000000 + cast(nn as decimal(38,0)) * nn) div (2 * cast(nn as decimal(38,0)) * nn)").cast("long")
          .as(alias))
    val us = uMicro("seg", "u_seg")
      .crossJoin(uMicro("band", "u_band"))
      .crossJoin(uMicro("name3", "u_name"))
    // m = corruption survival rates, micro (6/7 rounded half-up)
    val (mSeg, mBand, mName) = (800000L, 900000L, 857143L)
    def wA(m: Long, u: Column) = lnq(lit(m)) - lnq(u)
    def wD(m: Long, u: Column) = lnq(lit(1000000L - m)) - lnq(lit(1000000L) - u)
    pat.crossJoin(broadcast(us))
      .withColumn("score_nano",
        when(col("a_seg") === 1, wA(mSeg, col("u_seg")))
          .otherwise(wD(mSeg, col("u_seg"))) +
        when(col("a_band") === 1, wA(mBand, col("u_band")))
          .otherwise(wD(mBand, col("u_band"))) +
        when(col("a_name") === 1, wA(mName, col("u_name")))
          .otherwise(wD(mName, col("u_name"))))
      .withColumn("prec_micro",
        expr("(2 * n_true * 1000000 + n_pairs) div (2 * n_pairs)"))
      .select(col("a_seg"), col("a_band"), col("a_name"),
        col("n_pairs"), col("n_true"),
        (col("score_nano").cast("double") / 1e9).as("fs_weight"),
        (col("prec_micro").cast("double") / 1e6).as("prec"))
      .orderBy(desc("fs_weight"), col("a_seg"), col("a_band"), col("a_name"))
  }

  private val linkFellegiSunterOracle: String = {
    def b(suffix: String, mod: Int) =
      s"CAST(concat('0x', substr(md5(concat(CAST(k AS VARCHAR), '$suffix')), 1, 15)) AS BIGINT) % $mod"
    def ln(x: String) =
      s"CAST(FLOOR(ln(CAST($x AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)"
    s"""WITH cust AS MATERIALIZED (
       |  SELECT c_custkey AS k, c_mktsegment AS seg,
       |    (CAST(round(c_acctbal * 100) AS BIGINT) + 10000000) // 100000 AS band,
       |    c_custkey % 1000 AS name3, c_nationkey AS nat
       |  FROM customer),
       |dirty AS (
       |  SELECT k AS dk,
       |    CASE WHEN ${b("s", 5)} = 0 THEN 'CORRUPTED' ELSE seg END AS dseg,
       |    CASE WHEN ${b("b", 10)} = 0 THEN band + 1 ELSE band END AS dband,
       |    CASE WHEN ${b("m", 7)} = 0 THEN (name3 + 1) % 1000 ELSE name3 END AS dname3,
       |    CASE WHEN ${b("n", 10)} = 0 THEN (nat + 1) % 25 ELSE nat END AS dnat
       |  FROM cust),
       |pat AS (
       |  SELECT CAST(seg = dseg AS INT) AS a_seg,
       |    CAST(band = dband AS INT) AS a_band,
       |    CAST(name3 = dname3 AS INT) AS a_name,
       |    CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(CAST(k = dk AS INT)) AS BIGINT) AS n_true
       |  FROM cust JOIN dirty ON nat = dnat
       |  GROUP BY 1, 2, 3),
       |useg AS (SELECT (2 * SUM(nv * nv) * 1000000 + SUM(nv) * SUM(nv))
       |    // (2 * SUM(nv) * SUM(nv)) AS u_seg
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS nv FROM cust GROUP BY seg)),
       |uband AS (SELECT (2 * SUM(nv * nv) * 1000000 + SUM(nv) * SUM(nv))
       |    // (2 * SUM(nv) * SUM(nv)) AS u_band
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS nv FROM cust GROUP BY band)),
       |uname AS (SELECT (2 * SUM(nv * nv) * 1000000 + SUM(nv) * SUM(nv))
       |    // (2 * SUM(nv) * SUM(nv)) AS u_name
       |  FROM (SELECT CAST(count(*) AS BIGINT) AS nv FROM cust GROUP BY name3)),
       |sc AS (
       |  SELECT a_seg, a_band, a_name, n_pairs, n_true,
       |    (CASE WHEN a_seg = 1 THEN ${ln("800000")} - ${ln("u_seg")}
       |      ELSE ${ln("200000")} - ${ln("1000000 - u_seg")} END) +
       |    (CASE WHEN a_band = 1 THEN ${ln("900000")} - ${ln("u_band")}
       |      ELSE ${ln("100000")} - ${ln("1000000 - u_band")} END) +
       |    (CASE WHEN a_name = 1 THEN ${ln("857143")} - ${ln("u_name")}
       |      ELSE ${ln("142857")} - ${ln("1000000 - u_name")} END) AS score_nano,
       |    (2 * n_true * 1000000 + n_pairs) // (2 * n_pairs) AS prec_micro
       |  FROM pat, useg, uband, uname)
       |SELECT a_seg, a_band, a_name, n_pairs, n_true,
       |  CAST(score_nano AS DOUBLE) / 1e9 AS fs_weight,
       |  CAST(prec_micro AS DOUBLE) / 1e6 AS prec
       |FROM sc ORDER BY score_nano DESC, a_seg, a_band, a_name""".stripMargin
  }

  // ---- profile_spearman: rank correlation without a rank cliff --------

  /** Spearman's ρ between quantity, extended price and discount over
    * lineitem, on AVERAGE ranks (tie-correct): per-column value counts
    * reduce to a value-level table, the inclusive prefix sum from
    * `Ranks.perGroupPrefixSum` (range partition + broadcast offsets —
    * no single-partition window) turns counts into doubled average
    * ranks 2·r̄(v) = 2·S(v) − c(v) + 1, and rows join back on the value
    * key. Moments use the corr-matrix discipline: exact long sums with
    * the hi/mid/lo split (each accumulator < 2⁶³ out to ~5e13 rows),
    * recombined in IDENTICAL IEEE double steps in both engines,
    * ρ rounded to 6dp. The oracle states the textbook row-level window
    * form — proving the two-phase kernel computes the same ranks. */
  private val profileSpearman: Q = (s, dir) => {
    val B1 = 1000000000L
    val B2 = 1000L
    val parts = ConfScope.shufflePartitions(s)
    val cols0 = Seq("q", "e", "d")
    val li = Tables.load(s, dir, "lineitem").select(
      round(col("l_quantity") * 100).cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("e"),
      round(col("l_discount") * 100).cast("long").as("d"))
      .localCheckpoint()
    def ranks(cn: String): DataFrame = {
      val vc = li.groupBy(col(cn).as("v")).agg(count(lit(1)).as("c"))
      Ranks.perGroupPrefixSum(vc, Seq.empty, Seq(col("v")), col("c"), "sacc",
          parts)
        .select(col("v").as(cn),
          (lit(2L) * col("sacc") - col("c") + 1).as(s"r_$cn"))
    }
    // bounded-domain twin of ranks(): quantity (~50 distinct cent values)
    // and discount (~11) have FIXED domains at any data scale, so their
    // value-count tables are catalog-sized and the two-phase kernel's
    // machinery (range-sample shuffle + checkpoint + offset collect +
    // broadcast join — 3-4 jobs each) is pure overhead; a plain running
    // sum over the tiny aggregate is one no-op-sized window task. Values
    // are DISTINCT after the groupBy, so the RANGE/ROWS frame distinction
    // is moot and the longs match the kernel form bit-for-bit (verified:
    // the kernel is itself window-verified in RanksSpec). Registered in
    // WindowAuditSpec (bounded domain).
    def boundedRanks(cn: String): DataFrame = {
      val vc = li.groupBy(col(cn).as("v")).agg(count(lit(1)).as("c"))
      vc.withColumn("sacc", sum("c").over(
          org.apache.spark.sql.expressions.Window.orderBy("v")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .select(col("v").as(cn),
          (lit(2L) * col("sacc") - col("c") + 1).as(s"r_$cn"))
    }
    // join the one unbounded-domain rank map (extendedprice: near-unique
    // per row) first as the shuffle join, then BROADCAST the two
    // bounded-domain maps — quantity is ~50 distinct cent values and
    // discount ~11 AT ANY SCALE (TPC-H domains are fixed), so their
    // rank maps stay broadcast-sized even at 100 TB; extendedprice's
    // does not. The frame reshuffles once instead of three times. The
    // hardcoded order is tied to cols0, so pin it:
    assert(cols0 == Seq("q", "e", "d"),
      "profile_spearman join order is derived from cols0 = (q, e, d)")
    val wr = li.join(ranks("e"), "e")
      .join(broadcast(boundedRanks("q")), "q")
      .join(broadcast(boundedRanks("d")), "d")
    val prods = cols0.map(c => (Seq(c, c), s"q_$c")) ++
      cols0.combinations(2).map { case Seq(a, b) => (Seq(a, b), s"p_${a}_$b") }
    val withP = wr.select(cols0.map(c => col(s"r_$c")) ++
      prods.map { case (Seq(a, b), nm) => (col(s"r_$a") * col(s"r_$b")).as(nm) }: _*)
    val moments =
      Seq(count(lit(1)).as("n")) ++
        cols0.map(c => sum(col(s"r_$c")).as(s"s_$c")) ++
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
    val pairRows = cols0.combinations(2).map { case Seq(a, b) =>
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
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("rho"))
      .orderBy("col_x", "col_y")
  }

  private val profileSpearmanOracle: String = {
    val B1 = 1000000000L
    val B2 = 1000L
    def rec(p: String) =
      s"(CAST(SUM(($p) // $B1) AS DOUBLE) * ${B1.toDouble} + " +
        s"CAST(SUM((($p) % $B1) // $B2) AS DOUBLE) * ${B2.toDouble} + " +
        s"CAST(SUM(($p) % $B2) AS DOUBLE))"
    val pairs = Seq(("q", "e"), ("q", "d"), ("e", "d"))
    val sel = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  round((CAST(count(*) AS DOUBLE) * ${rec(s"r_$a * r_$b")}
         |      - CAST(SUM(r_$a) AS DOUBLE) * CAST(SUM(r_$b) AS DOUBLE)) /
         |    sqrt((CAST(count(*) AS DOUBLE) * ${rec(s"r_$a * r_$a")}
         |        - CAST(SUM(r_$a) AS DOUBLE) * CAST(SUM(r_$a) AS DOUBLE)) *
         |      (CAST(count(*) AS DOUBLE) * ${rec(s"r_$b * r_$b")}
         |        - CAST(SUM(r_$b) AS DOUBLE) * CAST(SUM(r_$b) AS DOUBLE))), 6)
         |    AS rho
         |FROM rk""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS e,
       |    CAST(round(l_discount * 100) AS BIGINT) AS d
       |  FROM lineitem),
       |rk AS MATERIALIZED (
       |  SELECT
       |    2 * RANK() OVER (ORDER BY q) + COUNT(*) OVER (PARTITION BY q) - 1 AS r_q,
       |    2 * RANK() OVER (ORDER BY e) + COUNT(*) OVER (PARTITION BY e) - 1 AS r_e,
       |    2 * RANK() OVER (ORDER BY d) + COUNT(*) OVER (PARTITION BY d) - 1 AS r_d
       |  FROM base)
       |SELECT * FROM ($sel) ORDER BY col_x, col_y""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "link_fellegi_sunter" -> linkFellegiSunter,
    "profile_spearman" -> profileSpearman
  )

  val oracles: Map[String, String] = Map(
    "link_fellegi_sunter" -> linkFellegiSunterOracle,
    "profile_spearman" -> profileSpearmanOracle
  )
}
