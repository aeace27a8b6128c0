package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry.Q
import graft.engine.Tables

/** Round-6 second wave: lakehouse merge-on-read + retrieval.
  *
  * - `sink_delete_dv`: DELETE via deletion vectors (Delta DV / Iceberg
  *   v2 position deletes) — the delete writes kilobytes, never rewrites
  *   a data file; reads anti-join the dead-position set.
  * - `search_inverted` / `search_phrase`: the inverted-index retrieval
  *   pair over the documents corpus — conjunctive (AND) term search on
  *   a term-clustered posting-list index, and positional phrase search
  *   via adjacency self-join on the positional postings.
  *
  * Determinism: postings derive from the same tokenizer every text_*
  * oracle pins; counts/positions are integers end-to-end.
  */
object Wave9 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Whitespace/punct token split — identical to LlmPipeline.tokens
    * (pinned by the text_* oracles). */
  private def toks(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), x => x =!= "")
  private val duckToks =
    "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), x->x<>'')"

  // ---- sink_delete_dv: merge-on-read DELETE via deletion vectors -------

  /** DELETE as a deletion vector: two MOR deletes against a 4-file part
    * table — neither touches a data file (the query REQUIREs the v1 file
    * list survives both commits verbatim, so a silent fallback to
    * copy-on-write fails the gate, not just a spec) — then the read-back
    * aggregates the surviving rows per size band. At 100 TB this is the
    * only viable DELETE shape for scattered predicates: copy-on-write
    * rewrites every file that holds a match (here: all of them), while
    * the vector costs O(deleted rows) bytes and one broadcast anti-join
    * on read. OPTIMIZE later compacts the debt away
    * (VersionedStoreSpec pins that, plus resurrection-safety of the
    * upsert/delete rewrite paths, vacuum refcounting, CDF visibility,
    * clone linking, and the OCC union of concurrent vectors). */
  private val sinkDeleteDv: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "dv")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("int").as("p_size"),
        col("p_retailprice"))
    store.write(base.repartitionByRange(4, col("p_partkey")), "part") // v1
    store.deleteMor(s, "part", col("p_size") < 10)                    // v2
    store.deleteMor(s, "part", pmod(col("p_partkey"), lit(7)) === 0)  // v3
    val v1Files = store.manifestWithStats("part", 1L)._2.map(_.file)
    val v3 = store.manifestWithStats("part", 3L)._2
    require(v3.map(_.file) == v1Files,
      "sink_delete_dv: MOR delete must not rewrite data files")
    require(v3.forall(_.dvs.nonEmpty),
      "sink_delete_dv: every file held matches, every entry must carry a dv")
    store.read(s, "part")
      .groupBy(pmod(col("p_size"), lit(5)).as("band"))
      .agg(count(lit(1)).as("n"),
        sum(col("p_partkey")).as("key_sum"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double")
          .as("price_sum"))
      .orderBy("band")
  }

  private val sinkDeleteDvOracle =
    """SELECT CAST(CAST(p_size AS INT) % 5 AS INT) AS band,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(p_partkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
      |FROM part
      |WHERE NOT (CAST(p_size AS INT) < 10) AND NOT (p_partkey % 7 = 0)
      |GROUP BY 1 ORDER BY band""".stripMargin

  // ---- sink_optimize_small: steady-state incremental compaction --------

  /** The maintenance loop a streaming/upsert-fed table actually runs:
    * three single-row commits accumulate tail files, then
    * `optimizeIncremental` compacts ONLY those (small-file policy, 4 KiB
    * floor) while the right-sized base file carries over by reference —
    * REQUIREd in-query: the base file name survives and the tail
    * collapses to one file, so a silent full rewrite fails the gate. At
    * 100 TB this is the difference between maintenance costing the
    * churn tail vs. rewriting the table. Read-back aggregate is the
    * oracle (base table + the three derivable appended rows). */
  private val sinkOptimizeSmall: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "optsmall")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("o_totalprice"))
    val maxK = base.agg(max("o_orderkey")).head().getLong(0)
    store.write(base.coalesce(1), "orders")                        // v1: one base file
    (1 to 3).foreach { i =>
      import s.implicits._
      store.upsert(s, "orders",
        Seq((maxK + i, 100.0 + i)).toDF("o_orderkey", "o_totalprice"),
        Seq("o_orderkey"))                                         // v2..v4: tail files
    }
    val before = store.manifestWithStats("orders", 4L)._2
    val baseFile = before.maxBy(e =>
      new java.io.File(s"$root/orders/files/${e.file}").length).file
    val v5 = store.optimizeIncremental(s, "orders", minBytes = 4096L)
    val after = store.manifestWithStats("orders", v5)._2
    require(after.exists(_.file == baseFile),
      "sink_optimize_small: the right-sized base file must carry over")
    require(after.size == 2,
      s"sink_optimize_small: tail files must compact to one (got ${after.size})")
    store.read(s, "orders")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("price_sum"),
        max("o_orderkey").as("max_key"))
  }

  private val sinkOptimizeSmallOracle =
    """WITH m AS (SELECT MAX(o_orderkey) AS mk FROM orders),
      |extra AS (SELECT mk + t.i AS o_orderkey, CAST(100.0 + t.i AS DOUBLE) AS o_totalprice
      |          FROM m, (VALUES (1),(2),(3)) t(i)),
      |allr AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders
      |         UNION ALL SELECT o_orderkey, o_totalprice FROM extra)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
      |FROM allr""".stripMargin

  // ---- sink_replicate: CDF-driven downstream replication ---------------

  /** The CDC consumer pattern end to end: a replica table stays in sync
    * with a source by reading the source's file-diff change feed and
    * applying it — upserts for insert/update keys (rows pulled from the
    * source head by a churn-sized semi-join), a merge-on-read delete
    * for vanished keys. The net-change diff (changes v1→head) makes a
    * key inserted then deleted inside the window correctly produce NO
    * work. In-query REQUIRE: replica ≡ source after sync (symmetric
    * difference empty), so a drifting replica fails the gate before the
    * hash compare does. At 100 TB the replication cost is the churn
    * (file-diff pruned CDF + churn-keyed merge), never the table. */
  private val sinkReplicate: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "repl")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    store.write(base, "src")                                     // v1
    store.write(base, "replica")                                 // synced @ v1
    val shift = base.agg(max("c_custkey")).head().getLong(0) + 1L
    store.upsert(s, "src",                                       // v2: inserts
      base.filter(col("c_mktsegment") === "BUILDING")
        .withColumn("c_custkey", col("c_custkey") + lit(shift)),
      Seq("c_custkey"))
    store.delete(s, "src", col("c_nationkey") === 3)             // v3: deletes
    // net change feed v1 -> head (insert-then-delete collapses to
    // nothing); persisted so the upsert's semi-join and the delete-key
    // collect pay the file-diff join ONCE
    val ch = store.changes(s, "src", 1L, store.currentVersion("src").get,
      Seq("c_custkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val upKeys = ch.filter(col("change_type") =!= "delete").select("c_custkey")
      store.upsert(s, "replica",
        store.read(s, "src").join(upKeys, Seq("c_custkey"), "left_semi"),
        Seq("c_custkey"))
      val delKeys = ch.filter(col("change_type") === "delete")
        .select("c_custkey").collect().map(_.getLong(0))         // churn-sized
      if (delKeys.nonEmpty)
        store.deleteMor(s, "replica", col("c_custkey").isin(delKeys: _*))
    } finally { ch.unpersist(); () }
    val (a, b) = (store.read(s, "replica"), store.read(s, "src"))
    // multiset identity in ONE wide pass instead of two: |A| = |B| plus
    // A∖B = ∅ implies B∖A = ∅ for multisets, and both counts are
    // metadata-answerable (footer row counts − dv dead rows) where
    // exceptAll is a full shuffle over both tables
    val nEq = (store.countMeta(s, "replica"), store.countMeta(s, "src")) match {
      case (Some(x), Some(y)) => x == y
      case _ => a.count() == b.count()
    }
    require(nEq && a.exceptAll(b).isEmpty,
      "sink_replicate: replica diverged from source after CDC sync")
    a.agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"),
      countDistinct("c_nationkey").as("n_nations"))
  }

  private val sinkReplicateOracle =
    """WITH m AS (SELECT MAX(c_custkey) + 1 AS shift FROM customer),
      |final AS (
      |  SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey <> 3
      |  UNION ALL
      |  SELECT c_custkey + shift, c_nationkey FROM customer, m
      |  WHERE c_mktsegment = 'BUILDING' AND c_nationkey <> 3)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
      |  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
      |FROM final""".stripMargin

  // ---- sink_skipping_read: manifest-stats file pruning on read ---------

  /** Data-skipping read: part stored as 8 key-range-clustered files,
    * then a key-range predicate read resolves against the MANIFEST's
    * per-file min/max before any file opens — REQUIREd in-query to scan
    * at most half the files, so a silent full-scan regression fails the
    * gate. This is Delta/Iceberg scan planning: at 100 TB the
    * predicate's file list comes from metadata, not from listing and
    * footer-probing millions of files; ZORDER extends the same pruning
    * to every clustered dimension. Surviving files still evaluate the
    * predicate exactly. */
  private val sinkSkippingRead: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "skip")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("int").as("p_size"))
    store.write(base.repartitionByRange(8, col("p_partkey")), "part")
    val maxK = base.agg(max("p_partkey")).head().getLong(0)
    val cut = maxK / 4
    val (df, scanned, total) =
      store.readWhereDetailed(s, "part", col("p_partkey") <= cut)
    require(total == 8, s"sink_skipping_read: expected 8 files, got $total")
    require(scanned <= total / 2,
      s"sink_skipping_read: stats pruning must skip files ($scanned of $total scanned)")
    df.agg(count(lit(1)).as("n"),
      sum(col("p_partkey")).as("key_sum"),
      sum(col("p_size").cast("long")).as("size_sum"))
  }

  private val sinkSkippingReadOracle =
    """WITH m AS (SELECT CAST(FLOOR(MAX(p_partkey) / 4) AS BIGINT) AS cut FROM part)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(p_partkey) AS BIGINT) AS key_sum,
      |  CAST(SUM(CAST(p_size AS INT)) AS BIGINT) AS size_sum
      |FROM part, m WHERE p_partkey <= cut""".stripMargin

  // ---- sink_count_meta: metadata-only COUNT(*) -------------------------

  /** COUNT(*) answered from the MANIFEST: per-file row counts recorded
    * at stage time (parquet footer sums) minus the deletion vectors'
    * cardinalities — no data file opened, the Delta count-from-the-log
    * shape. The query builds a store from customer, MOR-deletes one
    * nation, and emits BOTH the metadata count and the scan count; the
    * oracle computes the same number independently, so a drifting
    * metadata count (or a vector miscount) hash-fails. */
  private val sinkCountMeta: Q = (s, dir) => {
    val root = graft.engine.Fs.freshScratch(s, "cntmeta")
    val store = new graft.engine.VersionedStore(root)
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    store.write(base.repartitionByRange(4, col("c_custkey")), "customer")
    store.deleteMor(s, "customer", col("c_nationkey") === 3)
    val meta = store.countMeta(s, "customer").getOrElse(
      sys.error("sink_count_meta: row-count stats must exist"))
    import s.implicits._
    Seq((meta, store.read(s, "customer").count()))
      .toDF("n_meta", "n_scan")
  }

  private val sinkCountMetaOracle =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_meta, CAST(COUNT(*) AS BIGINT) AS n_scan
      |FROM customer WHERE c_nationkey <> 3""".stripMargin

  // ---- search_inverted / search_phrase: inverted-index retrieval -------

  /** Positional posting list of the corpus: one row per (term, doc_id,
    * pos), materialized range-clustered and sorted ON TERM — the layout
    * an inverted index lives on: a query for k terms reads only the
    * files/row groups whose term range covers them (manifest min/max +
    * parquet footer stats), never the corpus. Build cost: one scan +
    * one range shuffle of the exploded postings — the same cost law as
    * the index build of any search engine. */
  private val postingCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def postingIndex(s: SparkSession, dir: String): DataFrame = {
    // build-once per (session, corpus): the index is write-once/query-
    // many by design — search_inverted and search_phrase share one copy
    val root = postingCache.computeIfAbsent((s.sparkContext.applicationId, dir), { _ =>
      val out = graft.engine.Fs.freshScratch(s, "postings")
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "term")))
        .repartitionByRange(8, col("term"))
        .sortWithinPartitions("term", "doc_id", "pos")
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(root)
  }

  /** Conjunctive (AND) term search over the inverted index: documents
    * containing ALL of {hash, join, vector}, with each term's frequency.
    * The term predicate is PUSHED to the index scan (In(term, ...) over
    * the term-sorted files — row-group skipping does the candidate
    * selection), then ONE doc-keyed aggregation intersects the posting
    * lists: conditional tf sums + a distinct-term count, HAVING = k.
    * At 100 TB of corpus the query's shuffle is the matched postings of
    * three terms, never the index. */
  private val searchInverted: Q = (s, dir) => {
    val terms = Seq("hash", "join", "vector")
    val idx = postingIndex(s, dir).filter(col("term").isin(terms: _*))
    idx.groupBy("doc_id")
      .agg(
        sum(when(col("term") === "hash", 1L).otherwise(0L)).as("n_hash"),
        sum(when(col("term") === "join", 1L).otherwise(0L)).as("n_join"),
        sum(when(col("term") === "vector", 1L).otherwise(0L)).as("n_vector"),
        countDistinct("term").as("__k"))
      .filter(col("__k") === terms.size)
      .drop("__k")
      .orderBy("doc_id")
  }

  private val searchInvertedOracle =
    s"""WITH p AS (
       |  SELECT doc_id, unnest($duckToks) AS term FROM documents)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN term='hash' THEN 1 ELSE 0 END) AS BIGINT) AS n_hash,
       |  CAST(SUM(CASE WHEN term='join' THEN 1 ELSE 0 END) AS BIGINT) AS n_join,
       |  CAST(SUM(CASE WHEN term='vector' THEN 1 ELSE 0 END) AS BIGINT) AS n_vector
       |FROM p WHERE term IN ('hash','join','vector')
       |GROUP BY doc_id
       |HAVING COUNT(DISTINCT term) = 3
       |ORDER BY doc_id""".stripMargin

  /** Positional phrase search ("hash join", adjacent tokens) over the
    * SAME positional index: the classic posting-intersection-with-
    * offsets — each phrase term's postings are pulled by a pushed term
    * filter, then a (doc_id, pos+1 = pos) equi-join aligns adjacency.
    * The join's inputs are two single-term posting lists (selective by
    * construction); Spark broadcasts the smaller. This is the index-
    * resident form: at query time only the index exists, not the text
    * — the array-zip form over raw documents is the oracle. */
  private val searchPhrase: Q = (s, dir) => {
    val idx = postingIndex(s, dir)
    val a = idx.filter(col("term") === "hash")
      .select(col("doc_id"), col("pos"))
    val b = idx.filter(col("term") === "join")
      .select(col("doc_id").as("doc_id_b"), col("pos").as("pos_b"))
    a.join(b, col("doc_id") === col("doc_id_b") &&
        col("pos_b") === col("pos") + lit(1))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"), min("pos").as("first_pos"))
      .orderBy("doc_id")
  }

  private val searchPhraseOracle =
    s"""WITH p AS (
       |  SELECT doc_id, unnest(t) AS term,
       |         generate_subscripts(t, 1) - 1 AS pos
       |  FROM (SELECT doc_id, $duckToks AS t FROM documents)),
       |a AS (SELECT doc_id, pos FROM p WHERE term = 'hash'),
       |b AS (SELECT doc_id, pos FROM p WHERE term = 'join')
       |SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ,
       |  CAST(MIN(a.pos) AS INT) AS first_pos
       |FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin

  // ---- graph_reachability: recursive-CTE BFS over a derived graph ------

  /** Bounded-hop reachability over the event-transition graph via ANSI
    * `WITH RECURSIVE` (Spark 4's UnionLoop): nodes are (event_type,
    * value band) pairs, edges the DISTINCT consecutive transitions
    * within each user's event_id-ordered stream, and the recursion
    * walks ≤3 hops from 'click#0', reporting per reached node the
    * minimum hop count and the number of distinct walks. Exercises the
    * one SQL surface the engine had not yet covered: iterative queries
    * executed by Catalyst's recursion operator rather than a
    * hand-rolled driver loop.
    *
    * Scale shape: the edge build is a keyed per-user window (lead over
    * event_id — never a global sort) + one distinct at the edge grain;
    * the graph itself is model-sized (≤ node² edges) so every recursive
    * step is frontier × broadcast-edges. For web-scale graphs where the
    * edge list is data-sized, the engine's min-label-propagation kernel
    * (dedup_components, Wave3) is the frontier-deduplicating form; this
    * operator is the SQL-standard surface over it. UNION ALL + hop cap
    * (not UNION) keeps Spark and DuckDB termination semantics
    * bit-identical. */
  private val graphReachability: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val band = least(floor(col("value") / 125.0), lit(3.0)).cast("int")
    val w = Window.partitionBy("user_id").orderBy("event_id")
    // The data-sized pass (keyed per-user window + distinct) pins HERE,
    // under the session conf — AQE coalescing/skew handling stays
    // available to it. The recursion below then runs over the PINNED
    // model-sized edge table ((type × band)² domain) in the superstep
    // scope: Catalyst's UnionLoop re-plans each iteration under AQE,
    // paying 2-3 stage-jobs per hop for a graph that is a few hundred
    // rows at any data scale.
    val obsE = org.apache.spark.sql.Observation()
    val edges = t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        concat(col("event_type"), lit("#"), band.cast("string")).as("src"))
      .withColumn("dst", lead("src", 1).over(w))
      .filter(col("dst").isNotNull)
      .select("src", "dst").distinct()
      .observe(obsE, count(lit(1)).as("ne"))
      .localCheckpoint()
    val ne = obsE.get("ne").asInstanceOf[Long]
    // the recursive CTE needs the edges as a named relation: a per-call
    // view name (concurrent callers on one session never see each
    // other's edges), dropped once the pinned result no longer needs it
    val view = "graft_edges_" + java.util.UUID.randomUUID().toString.replace('-', '_')
    edges.createTempView(view)
    try graft.engine.ConfScope.superstep(s, rows = ne) { _ =>
      s.sql(
        s"""WITH RECURSIVE reach(node, hops) AS (
          |  SELECT 'click#0', 0
          |  UNION ALL
          |  SELECT e.dst, r.hops + 1
          |  FROM reach r JOIN $view e ON e.src = r.node
          |  WHERE r.hops < 3)
          |SELECT node, CAST(MIN(hops) AS INT) AS min_hops,
          |  CAST(COUNT(*) AS BIGINT) AS n_walks
          |FROM reach GROUP BY node ORDER BY node""".stripMargin)
        .localCheckpoint()
    } finally s.catalog.dropTempView(view)
  }

  private val graphReachabilityOracle =
    """WITH RECURSIVE
      |e0 AS (
      |  SELECT user_id, event_id,
      |    event_type || '#' ||
      |      CAST(CAST(LEAST(FLOOR(value / 125.0), 3.0) AS INT) AS VARCHAR) AS src
      |  FROM events),
      |e1 AS (SELECT src,
      |         LEAD(src) OVER (PARTITION BY user_id ORDER BY event_id) AS dst
      |       FROM e0),
      |edges AS (SELECT DISTINCT src, dst FROM e1 WHERE dst IS NOT NULL),
      |reach(node, hops) AS (
      |  SELECT 'click#0', 0
      |  UNION ALL
      |  SELECT e.dst, r.hops + 1
      |  FROM reach r JOIN edges e ON e.src = r.node
      |  WHERE r.hops < 3)
      |SELECT node, CAST(MIN(hops) AS INT) AS min_hops,
      |  CAST(COUNT(*) AS BIGINT) AS n_walks
      |FROM reach GROUP BY node ORDER BY node""".stripMargin

  // ---- sim_topk_mmr: diversity-reranked top-k (MMR) --------------------

  /** Maximal Marginal Relevance rerank of the brute-force top-16: pick 8
    * results maximizing 0.7·relevance − 0.3·max-similarity-to-already-
    * picked (Carbonell & Goldstein 1998) — the standard redundancy
    * killer for retrieval heads that would otherwise return 8 copies of
    * the same near-duplicate. The DISTRIBUTED part is candidate
    * generation (broadcast query + corpus scan + TakeOrderedAndProject,
    * exactly sim_topk's plan); the greedy selection runs on the
    * collected 16-candidate head — model-sized by construction, like
    * every rerank stage (at 100 TB only the scan grows; the head stays
    * 16 rows). Determinism: rel and the 16×16 pairwise cosines are
    * 6-rounded before the greedy; scores combine as 0.7·rel − 0.3·max
    * in identical IEEE order in both engines; ties break on vec_id. The
    * oracle replays ALL 8 greedy steps as a generated CTE chain (the
    * vocab_bpe precedent). */
  private val simTopkMmr: Q = (s, dir) => {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val cand = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("rel"),
        col("v"))
      .orderBy(desc("rel"), asc("vec_id"))
      .limit(16)
    val rows = cand.collect()
    val ids = rows.map(_.getLong(0))
    val rel = rows.map(_.getDouble(1))
    val vecs = rows.map(_.getSeq[Float](2).toArray)
    // same single-traversal double accumulation as Native.CosineSim /
    // DuckDB's left-to-right list_aggregate — bit-identical cosines
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sim = Array.tabulate(rows.length, rows.length)((i, j) =>
      if (i == j) 1.0 else r6(cos(vecs(i), vecs(j))))
    val selected = scala.collection.mutable.ArrayBuffer[Int](0) // rel-max seed
    while (selected.size < 8 && selected.size < rows.length) {
      var best = -1; var bestScore = Double.NegativeInfinity
      for (c <- rows.indices if !selected.contains(c)) {
        val maxSim = selected.map(p => sim(c)(p)).max
        val score = 0.7 * rel(c) - 0.3 * maxSim
        if (score > bestScore ||
            (score == bestScore && (best < 0 || ids(c) < ids(best)))) {
          best = c; bestScore = score
        }
      }
      selected += best
    }
    import s.implicits._
    selected.toSeq.zipWithIndex
      .map { case (c, i) => (i + 1, ids(c), rel(c)) }
      .toDF("rank", "vec_id", "rel")
  }

  private val simTopkMmrOracle: String = {
    def cosE(a: String, b: String) =
      s"ROUND(list_aggregate(list_transform(list_zip($a, $b), x -> x[1] * x[2]), 'sum')" +
        s" / (SQRT(list_aggregate(list_transform($a, x -> x*x), 'sum'))" +
        s" * SQRT(list_aggregate(list_transform($b, x -> x*x), 'sum'))), 6)"
    val steps = (2 to 8).map { t =>
      s"""sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL
         |  SELECT $t AS rank, x.vec_id, x.rel FROM (
         |    SELECT c.vec_id, c.rel,
         |      0.7*c.rel - 0.3*(SELECT MAX(s.s) FROM sim s JOIN sel${t - 1} p ON s.j = p.vec_id WHERE s.i = c.vec_id) AS score
         |    FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${t - 1})
         |    ORDER BY score DESC, c.vec_id LIMIT 1) x)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT vec_id, ${cosE("v", "qv")} AS rel, v
       |  FROM e CROSS JOIN q WHERE vec_id <> 0 ORDER BY rel DESC, vec_id LIMIT 16),
       |sim AS MATERIALIZED (SELECT a.vec_id AS i, b.vec_id AS j, ${cosE("a.v", "b.v")} AS s
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel1 AS MATERIALIZED (SELECT 1 AS rank, vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
       |$steps
       |SELECT CAST(rank AS INT) AS rank, vec_id, rel FROM sel8 ORDER BY rank""".stripMargin
  }

  // ---- sim_ann_lsh_md5: fully hash-checked LSH ANN twin ----------------

  /** Engine-portable random-hyperplane LSH: ±1 plane weights derived
    * from md5 parity DRIVER-SIDE and inlined as identical literal
    * arrays into the Spark plan and the generated DuckDB SQL — so the
    * ENTIRE bucketed ANN pipeline (sign buckets → (table, bucket)
    * candidate equi-join → exact cosine rerank → top-10) is
    * hash-checked end to end, upgrading the xxhash LSH family's
    * rows-only status with an oracled twin (the dedup_minhash_md5
    * precedent). 8 tables × 4 planes over dim 64.
    *
    * Scale shape: identical to sim_ann_lsh — the corpus buckets once
    * (here via zip_with/aggregate HOFs; the xxhash form's fused native
    * expression is the production path), candidates come from a
    * broadcast (table, bucket) equi-join, only candidate rows pay the
    * exact cosine. The oracle's OR-of-tables candidate predicate is the
    * same set, small-data form. */
  private def md5Sign(t: Int, p: Int, i: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"t${t}p${p}i$i".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1.0 else -1.0
  }
  /** The engine-portable ±1 plane bank (8 tables × 4 planes × dim 64),
    * shared with Wave11's ANN-quality evaluator so the evaluated index
    * is EXACTLY the shipped one. */
  private[ops] lazy val lshW: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    (0 until 8).map(t => (0 until 4).map(p => (0 until 64).map(i => md5Sign(t, p, i))))

  /** DuckDB SQL for table `tb`'s 4-bit sign bucket of list column `v` —
    * the literal-inlined twin of the Spark bucket expression (shared
    * with Wave11's evaluator oracle). */
  private[ops] def duckBucketSql(tb: Int): String = {
    def arr(p: Int) =
      lshW(tb)(p).map(w => if (w > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def dotSql(p: Int) =
      s"list_aggregate(list_transform(list_zip(v, ${arr(p)}), x -> x[1]*x[2]), 'sum')"
    (0 until 4).map(p => s"(CASE WHEN ${dotSql(p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")
  }

  /** Shared md5-plane ANN pipeline: sign-bucket the corpus over the 8x4
    * inlined-literal planes, expand the query's cells by the XOR
    * `masks` (broadcast side only), candidate (table, bucket)
    * equi-join, exact-cosine top-10. Single-probe is masks=[0];
    * multi-probe adds the radius-1 flips (Lv et al., VLDB 2007). */
  private def lshMd5TopK(s: SparkSession, dir: String, masks: Seq[Int]): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding").as("v"))
    def dot(tb: Int, p: Int): Column =
      aggregate(zip_with(col("v"), typedLit(lshW(tb)(p)), (x, y) => x * y),
        lit(0.0), (a, x) => a + x)
    def bucket(tb: Int): Column =
      (0 until 4).map(p => when(dot(tb, p) >= 0, lit(1 << p)).otherwise(lit(0)))
        .reduce(_ + _)
    val buckets = e.select(col("vec_id"),
      posexplode(array((0 until 8).map(bucket): _*)).as(Seq("table", "bucket")))
    val qCells = buckets.filter(col("vec_id") === 0)
      .select(col("table").as("qt"), explode(typedLit(masks)).as("mask"), col("bucket"))
      .select(col("qt"), col("bucket").bitwiseXOR(col("mask")).as("qb"))
      .distinct()
    val candIds = buckets
      .join(broadcast(qCells), col("table") === col("qt") && col("bucket") === col("qb"))
      .filter(col("vec_id") =!= 0)
      .select("vec_id").distinct()
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.join(candIds, "vec_id").crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.Native.cosineSim(col("v"), col("qv")), 6).as("cos"))
      .orderBy(desc("cos"), asc("vec_id"))
      .limit(10)
  }

  private val simAnnLshMd5: Q = (s, dir) => lshMd5TopK(s, dir, Seq(0))
  private val simAnnLshMultiprobeMd5: Q = (s, dir) =>
    lshMd5TopK(s, dir, 0 +: (0 until 4).map(1 << _))

  /** Shared oracle builder for both probe variants: candidate predicate
    * = per-table bucket membership in the query cell's XOR-mask
    * expansion (xor(b, 0) = b covers the single-probe case). */
  private def lshMd5Oracle(masks: Seq[Int]): String = {
    val bCols = (0 until 8).map(tb => s"${duckBucketSql(tb)} AS b$tb").mkString(",\n  ")
    val orPred = (0 until 8).map { tb =>
      val cells = masks.map(m => s"xor(qb.b$tb, $m)").mkString(", ")
      s"x.b$tb IN ($cells)"
    }.mkString(" OR ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |b AS MATERIALIZED (SELECT vec_id,
       |  $bCols
       |  FROM e),
       |qb AS (SELECT * FROM b WHERE vec_id = 0),
       |cand AS (SELECT DISTINCT x.vec_id FROM b x, qb WHERE x.vec_id <> 0 AND ($orPred)),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, ROUND(list_aggregate(list_transform(list_zip(v, qv), x -> x[1] * x[2]), 'sum')
       |  / (SQRT(list_aggregate(list_transform(v, x -> x*x), 'sum')) * SQRT(list_aggregate(list_transform(qv, x -> x*x), 'sum'))), 6) AS cos
       |FROM e JOIN cand USING (vec_id) CROSS JOIN q
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  private val simAnnLshMd5Oracle: String = lshMd5Oracle(Seq(0))
  private val simAnnLshMultiprobeMd5Oracle: String =
    lshMd5Oracle(0 +: (0 until 4).map(1 << _))

  // ---- events_pattern: consecutive-sequence detection ------------------

  /** MATCH_RECOGNIZE-lite: detect the exact CONSECUTIVE event sequence
    * view → click → purchase inside each user's event_id-ordered stream
    * (funnel answers "eventually", this answers "immediately next" —
    * the strict-adjacency pattern engines sell as MATCH_RECOGNIZE).
    * Implementation is two keyed lags + one predicate: the pattern
    * window is (user)-keyed, so a hot user costs its own stream length,
    * never a global sort; match counting is one aggregation. */
  private val eventsPattern: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("p1", lag("event_type", 1).over(w))
      .withColumn("p2", lag("event_type", 2).over(w))
      .filter(col("p2") === "view" && col("p1") === "click" &&
        col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"), min("event_id").as("first_match"))
      .orderBy("user_id")
  }

  private val eventsPatternOracle =
    """WITH p AS (
      |  SELECT user_id, event_id, event_type,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS p1,
      |    LAG(event_type, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS p2
      |  FROM events)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
      |  CAST(MIN(event_id) AS BIGINT) AS first_match
      |FROM p
      |WHERE p2 = 'view' AND p1 = 'click' AND event_type = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- profile_benford: first-digit distribution audit -----------------

  /** Benford first-significant-digit audit of the value column per
    * event type: observed digit shares vs the Benford expectation
    * log10(1 + 1/d) — the classic fabricated-data / unit-mixing smell
    * test a profiler runs on monetary columns. One narrow map (first
    * digit via string math on the absolute value) + one (type, digit)
    * aggregation; the chi-square-style statistic combines on the
    * 9-rows-per-type model-sized table. Determinism: digit counts are
    * integers; expected shares are the 9 rounded constants; the
    * statistic sums 6-rounded addends in DECIMAL. */
  private val profileBenford: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    val digit = substring(regexp_replace(
      format_number(abs(col("value")), 10), "[0.,]", ""), 1, 1).cast("int")
    val counts = t(s, dir, "events")
      // magnitude floor, not just nonzero: below 5e-11 the 10-decimal
      // rendering rounds to all zeros and the digit extraction yields
      // NULL in Spark but a hard cast error in DuckDB — the guard keeps
      // both engines on the same row set
      .filter(abs(col("value")) >= 1e-9)
      .select(col("event_type"), digit.as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("n"))
    val tot = counts.groupBy("event_type").agg(sum("n").as("tot"))
    val exp9 = (1 to 9).map(d =>
      (d, BigDecimal(math.log10(1.0 + 1.0 / d)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble))
    val expDf = inline(typedLit(exp9)).as(Seq("d_e", "p_exp"))
    counts.join(tot, "event_type")
      .select(col("event_type"), col("d"), col("n"), col("tot"), expDf)
      .filter(col("d") === col("d_e"))
      .withColumn("p_obs", round(col("n").cast("double") / col("tot"), 6))
      .withColumn("dev",
        round(pow(col("p_obs") - col("p_exp"), 2) / col("p_exp"), 6)
          .cast(DecimalType(18, 6)))
      .groupBy("event_type")
      .agg(sum("n").as("n_values"),
        sum("dev").cast("double").as("benford_stat"))
      .orderBy("event_type")
  }

  private val profileBenfordOracle =
    """WITH c AS (
      |  SELECT event_type,
      |    CAST(substr(regexp_replace(format('{:.10f}', abs(value)), '[0.,]', '', 'g'), 1, 1) AS INT) AS d,
      |    COUNT(*) AS n
      |  FROM events WHERE abs(value) >= 1e-9 GROUP BY 1, 2),
      |t AS (SELECT event_type, SUM(n) AS tot FROM c GROUP BY event_type),
      |e AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d_e,
      |             unnest([0.30103,0.176091,0.124939,0.09691,0.079181,0.066947,0.057992,0.051153,0.045757]) AS p_exp),
      |j AS (SELECT c.event_type, c.n,
      |        round(CAST(c.n AS DOUBLE) / t.tot, 6) AS p_obs, e.p_exp
      |      FROM c JOIN t USING (event_type) JOIN e ON c.d = e.d_e)
      |SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_values,
      |  CAST(SUM(CAST(round(pow(p_obs - p_exp, 2) / p_exp, 6) AS DECIMAL(18,6))) AS DOUBLE) AS benford_stat
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- timeseries_forecast: linear-trend forecast per series -----------

  /** Per-event-type linear trend forecast of daily volumes, horizons
    * +1..+3 days — the capacity-planning twin of events_anomaly: fit
    * y = a + b·day by closed-form least squares over the daily counts,
    * extrapolate. Determinism: every regression moment (m, Σx, Σy, Σxy,
    * Σx²) is an EXACT BIGINT (days and counts are integers; magnitudes
    * stay far below 2^53), so the only floating steps are one rounded
    * division for the slope, one for the intercept, and the rounded
    * forecast combination — identical IEEE order in both engines.
    * Scale shape: one (type, day) keyed aggregation over the data, then
    * all regression algebra on the model-sized daily table; the
    * 3-horizon explode is per type. */
  private val timeseriesForecast: Q = (s, dir) => {
    val daily = t(s, dir, "events")
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long").as("d"))
      .groupBy("event_type", "d").agg(count(lit(1)).as("y"))
    val sums = daily.groupBy("event_type").agg(
      count(lit(1)).as("m"),
      sum("d").as("sx"), sum("y").as("sy"),
      sum(col("d") * col("y")).as("sxy"),
      sum(col("d") * col("d")).as("sxx"),
      max("d").as("maxd"))
    val slope = round(
      (col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
    val fitted = sums
      .withColumn("slope", slope)
      .withColumn("intercept",
        round((col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("m").cast("double"), 6))
    fitted
      .select(col("event_type"), col("slope"), col("intercept"), col("maxd"),
        explode(typedLit(Seq(1, 2, 3))).as("h"))
      .select(col("event_type"), col("h"),
        round(col("intercept") + col("slope") * (col("maxd") + col("h")).cast("double"), 6)
          .as("forecast"))
      .orderBy("event_type", "h")
  }

  private val timeseriesForecastOracle =
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |sums AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(d * y) AS BIGINT) AS sxy, CAST(SUM(d * d) AS BIGINT) AS sxx,
      |    CAST(MAX(d) AS BIGINT) AS maxd
      |  FROM daily GROUP BY event_type),
      |fit AS (
      |  SELECT event_type, maxd,
      |    round(CAST(m * sxy - sx * sy AS DOUBLE) / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS slope
      |  FROM sums),
      |fit2 AS (
      |  SELECT f.event_type, f.maxd, f.slope,
      |    round((CAST(s.sy AS DOUBLE) - f.slope * CAST(s.sx AS DOUBLE)) / CAST(s.m AS DOUBLE), 6) AS intercept
      |  FROM fit f JOIN sums s ON f.event_type = s.event_type)
      |SELECT event_type, CAST(h AS INT) AS h,
      |  round(intercept + slope * CAST(maxd + h AS DOUBLE), 6) AS forecast
      |FROM fit2, (VALUES (1), (2), (3)) t(h)
      |ORDER BY event_type, h""".stripMargin

  // ---- split_leakage: train/test contamination audit -------------------

  /** Split-leakage audit over corpus_split's content-hash partition: a
    * fingerprint (exact doc_hash, or near-dup min-shingle hash) that
    * appears in MORE THAN ONE split is evaluation contamination. The
    * content-hash split makes exact-duplicate leakage structurally
    * impossible (identical text → identical bucket → identical split) —
    * the audit PROVES that property rather than assuming it
    * (exact_leaked_fps is computed, not hardcoded) — while near-dup
    * leakage (one shared shingle fingerprint across splits) remains
    * possible and is the number an eval owner must stare down. Two
    * fingerprint-keyed corpus passes (one per fingerprint kind), the
    * doc count riding the first for free; at 100 TB the leak table is
    * duplicate-cluster-sized, never corpus-sized. */
  private val splitLeakage: Q = (s, dir) => {
    // split assignment and fingerprints come from the SHARED definitions
    // (Hashing.splitOf, LlmPipeline.minShingleFp) so the audited
    // partition can never drift from the produced one
    val b = t(s, dir, "documents").select(
      col("doc_id"),
      Hashing.splitOf(col("text")).as("split"),
      md5(col("text").cast("binary")).as("doc_hash"),
      LlmPipeline.minShingleFp(col("text")).as("fp"))
    // two corpus scans total (one per fingerprint key); n_docs rides the
    // doc_hash grouping for free instead of a third scan
    def grouped(key: String) = b.groupBy(col(key))
      .agg(countDistinct("split").as("ns"), count(lit(1)).as("nd"))
    val hashAgg = grouped("doc_hash").agg(
      sum("nd").as("n_docs"),
      count(when(col("ns") > 1, 1)).as("doc_hash_leaked_fps"),
      coalesce(sum(when(col("ns") > 1, col("nd"))), lit(0L))
        .as("doc_hash_leaked_docs"))
    val fpAgg = grouped("fp").agg(
      count(when(col("ns") > 1, 1)).as("fp_leaked_fps"),
      coalesce(sum(when(col("ns") > 1, col("nd"))), lit(0L))
        .as("fp_leaked_docs"))
    hashAgg.crossJoin(fpAgg)
  }

  private val splitLeakageOracle =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    ${Hashing.duckSplitCase} AS split,
       |    md5(text) AS doc_hash,
       |    list_min(list_transform(
       |      list_transform(range(0, greatest(len(toks)-2, 1)), i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])),
       |      sh -> CAST(concat('0x', substr(md5(concat('0#', sh)), 1, 15)) AS BIGINT))) AS fp
       |  FROM (SELECT doc_id, text, $duckToks AS toks FROM documents)),
       |dh AS (SELECT CAST(COUNT(*) AS BIGINT) AS doc_hash_leaked_fps,
       |         CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS doc_hash_leaked_docs
       |       FROM (SELECT doc_hash, COUNT(DISTINCT split) AS ns, COUNT(*) AS nd
       |             FROM b GROUP BY doc_hash) WHERE ns > 1),
       |fh AS (SELECT CAST(COUNT(*) AS BIGINT) AS fp_leaked_fps,
       |         CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS fp_leaked_docs
       |       FROM (SELECT fp, COUNT(DISTINCT split) AS ns, COUNT(*) AS nd
       |             FROM b GROUP BY fp) WHERE ns > 1)
       |SELECT CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_docs,
       |  doc_hash_leaked_fps, doc_hash_leaked_docs, fp_leaked_fps, fp_leaked_docs
       |FROM dh, fh""".stripMargin

  // ---- profile_kanonymity: privacy profile of a quasi-identifier set ---

  /** k-anonymity / l-diversity profile (Sweeney 2002; Machanavajjhala
    * 2007) of the event stream under the quasi-identifier set
    * (event_type, day-of-week, value decile-band) with user_id as the
    * sensitive attribute — the governance check a dataset release runs
    * before publication: k = the smallest equivalence-class size (how
    * re-identifiable is the most exposed row), l = the least-diverse
    * class's distinct-sensitive count. Two aggregations: the class
    * table (one keyed pass over the data — at 100 TB the only
    * data-sized shuffle), then per-type k/l/min over the model-sized
    * class table. Integer metrics end-to-end. */
  private val profileKanonymity: Q = (s, dir) => {
    val classes = t(s, dir, "events")
      .select(col("event_type"),
        (dayofweek(col("ts")) - lit(1)).as("dow"),
        least(floor(col("value") / 50.0), lit(9.0)).cast("int").as("band"),
        col("user_id"))
      .groupBy("event_type", "dow", "band")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
    classes.groupBy("event_type")
      .agg(count(lit(1)).as("n_classes"),
        min("n").as("k_anon"),
        min("n_users").as("l_div"),
        sum("n").as("n_rows"))
      .orderBy("event_type")
  }

  private val profileKanonymityOracle =
    """WITH c AS (
      |  SELECT event_type, dayofweek(ts) AS dow,
      |    CAST(LEAST(FLOOR(value / 50.0), 9.0) AS INT) AS band,
      |    COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(MIN(n) AS BIGINT) AS k_anon,
      |  CAST(MIN(n_users) AS BIGINT) AS l_div,
      |  CAST(SUM(n) AS BIGINT) AS n_rows
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- profile_hotkeys: key-skew profile (the salting decision) --------

  /** Hot-key skew profile of user_id in the event stream — the
    * diagnostic that decides WHERE salting / AQE skew handling is needed
    * before a 100 TB join or aggregation melts one reducer: the top-10
    * hottest keys with their exact share (ppm), plus the global
    * key-count and max/mean skew ratio on every row. All metrics are
    * exact integers (floor-ppm) so the profile is engine-portable. One
    * keyed aggregation builds the key-count table; the top-10 is
    * TakeOrdered (bounded, never a global sort); the two global scalars
    * ride a broadcast. */
  private val profileHotkeys: Q = (s, dir) => {
    val counts = t(s, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val tot = counts.agg(
      sum("n").as("total"), count(lit(1)).as("n_keys"), max("n").as("max_n"))
    counts.crossJoin(broadcast(tot))
      .select(col("user_id"), col("n"),
        floor(col("n") * lit(1000000L) / col("total")).as("share_ppm"),
        col("n_keys"),
        floor(col("max_n") * col("n_keys") * lit(1000L) / col("total"))
          .as("skew_x1000"))
      .orderBy(desc("n"), asc("user_id"))
      .limit(10)
  }

  private val profileHotkeysOracle =
    """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
      |t AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys, MAX(n) AS max_n FROM c)
      |SELECT user_id, CAST(n AS BIGINT) AS n,
      |  CAST(FLOOR(n * 1000000 / total) AS BIGINT) AS share_ppm,
      |  CAST(n_keys AS BIGINT) AS n_keys,
      |  CAST(FLOOR(max_n * n_keys * 1000 / total) AS BIGINT) AS skew_x1000
      |FROM c CROSS JOIN t
      |ORDER BY n DESC, user_id LIMIT 10""".stripMargin

  val queries: Map[String, Q] = Map(
    "events_pattern" -> eventsPattern,
    "profile_benford" -> profileBenford,
    "timeseries_forecast" -> timeseriesForecast,
    "split_leakage" -> splitLeakage,
    "profile_kanonymity" -> profileKanonymity,
    "profile_hotkeys" -> profileHotkeys,
    "sim_topk_mmr" -> simTopkMmr,
    "sim_ann_lsh_md5" -> simAnnLshMd5,
    "sim_ann_lsh_multiprobe_md5" -> simAnnLshMultiprobeMd5,
    "sink_delete_dv" -> sinkDeleteDv,
    "sink_optimize_small" -> sinkOptimizeSmall,
    "sink_skipping_read" -> sinkSkippingRead,
    "sink_count_meta" -> sinkCountMeta,
    "sink_replicate" -> sinkReplicate,
    "search_inverted" -> searchInverted,
    "search_phrase" -> searchPhrase,
    "graph_reachability" -> graphReachability
  )

  val oracles: Map[String, String] = Map(
    "events_pattern" -> eventsPatternOracle,
    "profile_benford" -> profileBenfordOracle,
    "timeseries_forecast" -> timeseriesForecastOracle,
    "split_leakage" -> splitLeakageOracle,
    "profile_kanonymity" -> profileKanonymityOracle,
    "profile_hotkeys" -> profileHotkeysOracle,
    "sim_topk_mmr" -> simTopkMmrOracle,
    "sim_ann_lsh_md5" -> simAnnLshMd5Oracle,
    "sim_ann_lsh_multiprobe_md5" -> simAnnLshMultiprobeMd5Oracle,
    "sink_delete_dv" -> sinkDeleteDvOracle,
    "sink_optimize_small" -> sinkOptimizeSmallOracle,
    "sink_skipping_read" -> sinkSkippingReadOracle,
    "sink_count_meta" -> sinkCountMetaOracle,
    "sink_replicate" -> sinkReplicateOracle,
    "search_inverted" -> searchInvertedOracle,
    "search_phrase" -> searchPhraseOracle,
    "graph_reachability" -> graphReachabilityOracle
  )
}
