package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Institutional lint for the graph_hits bug class (round-7 verdict #6):
  * every `broadcast()` hint in src/main must carry a reviewed size
  * justification proving its input is model-, vocabulary-, catalog-, or
  * query-sized — NEVER entity/data-scaled. A new hint site fails this
  * spec until it is audited into the registry below; a registry entry
  * whose site disappears fails as stale, so the audit can never rot.
  *
  * The r08 sweep that seeded this registry also REMOVED the hints whose
  * inputs scale with the data (customer/supplier/part-sized dims in
  * flagship_star_join, agg_share_of_parent, stream-static enrich,
  * graph_node_jaccard, graph_assortativity, join_grid_neighbors,
  * price_elasticity, dq_referential) — those joins are size-chosen now.
  * The one deliberate exception stays: join_broadcast_equi IS the
  * broadcast-join operator demo, and says so in its entry.
  */
class BroadcastAuditSpec extends AnyFunSuite {

  private val srcRoot = new File("src/main/scala/graft")

  /** All broadcast() hint call sites as (relPath, normalizedArg),
    * multiline-aware (paren-balanced extraction over the full text),
    * skipping comments and sc.broadcast. */
  private def sites(): Seq[(String, String)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    walk(srcRoot).flatMap { f =>
      val rel = f.getPath.replace("src/main/scala/graft/", "")
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath))
      val lineOfOffset: Int => String = {
        val starts = text.split("\n", -1).scanLeft(0)(_ + _.length + 1)
        val lines = text.split("\n", -1)
        off => lines((starts.tail.indexWhere(_ > off)) match {
          case -1 => lines.length - 1
          case i => i
        })
      }
      val pat = java.util.regex.Pattern.compile("broadcast\\(")
      val m = pat.matcher(text)
      val out = scala.collection.mutable.Buffer[(String, String)]()
      while (m.find()) {
        val ls = lineOfOffset(m.start()).trim
        val pre = text.substring(math.max(0, m.start() - 20), m.start())
        val isComment = ls.startsWith("*") || ls.startsWith("//") ||
          ls.startsWith("/**")
        val isOther = pre.endsWith("sc.") || pre.endsWith("Context.") ||
          pre.endsWith("auto") || ls.contains("autoBroadcast")
        if (!isComment && !isOther) {
          var depth = 1; var j = m.end()
          while (j < text.length && depth > 0) {
            if (text.charAt(j) == '(') depth += 1
            else if (text.charAt(j) == ')') depth -= 1
            j += 1
          }
          val arg = text.substring(m.end(), j - 1).split("\\s+").mkString(" ").trim
          out += ((rel, arg))
        }
      }
      out.toSeq
    }
  }

  /** (file, normalized arg) -> why this input cannot be data-scaled. */
  private val registry: Map[(String, String), String] = Map(
    ("engine/VersionedStore.scala", "srcKeys") ->
      "upsert hit-probe keys: gated by the measured source row count (srcRows <= BroadcastKeyRows = 262144) — a larger feed takes the shuffle semi-join branch, never this hint",
    ("ops/Bpe.scala", "encoded") ->
      "distinct-token encodings: vocabulary-sized (tokens/terms)",
    ("ops/BrandGraph.scala", "o.as(\"e2\")") ->
      "brand-graph oriented edge list: catalog-sized (<= brands^2 edges, 25-brand domain)",
    ("ops/BrandGraph.scala", "closing") ->
      "brand-graph edge list both orientations: catalog-sized (25-brand domain)",
    ("ops/BrandGraph.scala", "du") ->
      "brand-degree table: 25-node catalog domain",
    ("ops/BrandGraph.scala", "dv") ->
      "brand-degree table: 25-node catalog domain",
    ("ops/BrandGraph.scala", "totals") ->
      "brand-graph totals: 25-node catalog domain",
    ("ops/Ivf.scala", "probeCells") ->
      "nprobe cell ids: model state (trained coefficients / centroids / tree nodes / codebooks)",
    ("ops/Ivf.scala", "qVec") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Joins.scala", "bandCounts") ->
      "value-band histogram: bounded band domain",
    ("ops/Joins.scala", "buckets") ->
      "3-row literal interval table",
    ("ops/Joins.scala", "Tables.load(s, dir, \"part\")") ->
      "operator contract: join_broadcast_equi IS the broadcast-join demo (plan-asserted in JoinsSpec); a production caller sizes the dim",
    ("ops/LlmPipeline.scala", "q") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/LlmPipeline.scala", "qCells") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/LlmPipeline.scala", "rec") ->
      "one-row scalar aggregate (ANN recall gate)",
    ("ops/Physical.scala", "dim.filter(col(\"tier\") === \"engagement\")") ->
      "event-type tier dim: bounded type domain",
    ("ops/Pq.scala", "cand") ->
      "top-64 ADC candidates (fixed k)",
    ("ops/Pq.scala", "e.filter(col(\"vec_id\") === 0).select(col(\"embedding\").as(\"qv\"))") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Profiler.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Profiler.scala", "typesDF(spark, tables)") ->
      "catalog metadata (tables x columns)",
    ("ops/Ranks.scala", "offAliased") ->
      "per-(range-partition, group) prefix offsets: partitions x groups, collected by design (SCALING.md ranks note)",
    ("ops/Ranks.scala", "nextAliased") ->
      "per-(range-partition, group) next-partition head values: partitions x groups, collected by design (SCALING.md ranks note)",
    ("ops/Wave10.scala", "bounds") ->
      "one-row scalar aggregate",
    ("ops/Wave10.scala", "tot") ->
      "per-event-type totals: bounded type domain",
    ("ops/Wave11.scala", "nCand") ->
      "per-query candidate counts: query-batch-sized",
    ("ops/Wave11.scala", "qCells") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave11.scala", "qs") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave12.scala", "colTot") ->
      "confusion-matrix col marginals: label domain",
    ("ops/Wave12.scala", "n") ->
      "one-row scalar aggregate",
    ("ops/Wave12.scala", "rowTot") ->
      "confusion-matrix row marginals: label domain",
    ("ops/Wave16.scala", "quarts") ->
      "per-event-type quartiles: bounded type domain",
    ("ops/Wave17.scala", "idxDf") ->
      "source-interleave index: bounded source domain",
    ("ops/Wave19.scala", "colTot") ->
      "confusion-matrix col marginals: language domain",
    ("ops/Wave19.scala", "n") ->
      "one-row scalar aggregate",
    ("ops/Wave19.scala", "rowTot") ->
      "confusion-matrix row marginals: language domain",
    ("ops/Wave19.scala", "rows") ->
      "per-language row totals: language domain",
        ("ops/Wave21.scala", "base") ->
      "per-event-type moments: bounded type domain",
    ("ops/Wave21.scala", "mu") ->
      "one-row scalar aggregate",
    ("ops/Wave21.scala", "runmin") ->
      "per-p_size running minima: 50-value domain",
    ("ops/Wave21.scala", "singles.select(col(\"brand\").as(\"ante\"), col(\"cnt\").as(\"cnt_a\"))") ->
      "per-brand counts: 25-brand catalog domain",
    ("ops/Wave21.scala", "singles.select(col(\"brand\").as(\"cons\"), col(\"cnt\").as(\"cnt_c\"))") ->
      "per-brand counts: 25-brand catalog domain",
    ("ops/Wave21.scala", "totals") ->
      "one-row scalar aggregate",
    ("ops/Wave23.scala", "hourTot") ->
      "per-hour totals: 24-value domain",
    ("ops/Wave23.scala", "q") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave23.scala", "qv") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave23.scala", "total") ->
      "one-row scalar aggregate",
    ("ops/Wave23.scala", "typeTot") ->
      "per-type totals: bounded type domain",
    ("ops/Wave24.scala", "totals") ->
      "one-row scalar aggregate",
    ("ops/Wave24.scala", "vocab") ->
      "vocabulary-sized (tokens/terms)",
    ("ops/Wave25.scala", "den") ->
      "one-row scalar aggregate",
    ("ops/Wave25.scala", "mu") ->
      "one-row scalar aggregate",
    ("ops/Wave25.scala", "q") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave25.scala", "qCells") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave26.scala", "byRegion") ->
      "per-region totals: 5-region catalog domain",
    ("ops/Wave26.scala", "Tables.load(s, dir, \"nation\")") ->
      "fixed catalog dim (nation/region <= 25 rows)",
    ("ops/Wave26.scala", "Tables.load(s, dir, \"region\")") ->
      "fixed catalog dim (nation/region <= 25 rows)",
    ("ops/Wave26.scala", "total") ->
      "one-row scalar aggregate",
    ("ops/Wave27.scala", "dim.alias(\"d\")") ->
      "segment-size dim: 6-segment domain (incl NULL bucket)",
        ("ops/Wave27.scala", "totC") ->
      "one-row scalar aggregate",
        ("ops/Wave29.scala", "fit") ->
      "per-event-type fit scalars: bounded type domain",
    ("ops/Wave29.scala", "mad") ->
      "one-row scalar aggregate",
    ("ops/Wave29.scala", "med") ->
      "one-row scalar aggregate",
        ("ops/Wave3.scala", "mm") ->
      "one-row scalar aggregate",
    ("ops/Wave3.scala", "q") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave3.scala", "ranks") ->
      "token frequency ranks: vocabulary-sized (tokens/terms)",
    ("ops/Wave3.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave3.scala", "wsum") ->
      "one-row scalar aggregate",
    ("ops/Wave30.scala", "cents") ->
      "k-means centroids: model state (trained coefficients / centroids / tree nodes / codebooks)",
    ("ops/Wave30.scala", "deg.agg(count(lit(1)).as(\"n_nodes\"))") ->
      "one-row scalar aggregate",
    ("ops/Wave30.scala", "edges.agg(count(lit(1)).as(\"n_edges\"))") ->
      "one-row scalar aggregate",
    ("ops/Wave30.scala", "vocab") ->
      "vocabulary-sized (tokens/terms)",
    ("ops/Wave30.scala", "vocab.select(col(\"token_id\").as(\"id\"), col(\"token\").as(\"detok\"))") ->
      "vocabulary-sized (tokens/terms)",
    ("ops/Wave32.scala", "seasonal") ->
      "(type, dow) seasonal factors: bounded domain",
    ("ops/Wave32.scala", "totals") ->
      "duration-grain totals: bounded calendar domain",
    ("ops/Wave33.scala", "sized") ->
      "per-cohort sizes: bounded calendar domain",
    ("ops/Wave36.scala", "colTot") ->
      "contingency col marginals: bounded domain",
    ("ops/Wave36.scala", "rowTot") ->
      "contingency row marginals: bounded domain",
    ("ops/Wave36.scala", "tot") ->
      "one-row scalar aggregate",
        ("ops/Wave4.scala", "avgdl") ->
      "one-row scalar aggregate",
    ("ops/Wave4.scala", "n") ->
      "one-row scalar aggregate",
    ("ops/Wave4.scala", "vocab") ->
      "vocabulary-sized (tokens/terms)",
    ("ops/Wave40.scala", "totals") ->
      "per-split totals: 3-split domain",
    ("ops/Wave41.scala", "glob") ->
      "one-row scalar aggregate",
    ("ops/Wave41.scala", "pooled") ->
      "one-row scalar aggregate",
    ("ops/Wave41.scala", "split") ->
      "one-row scalar aggregate (threshold scalars)",
    ("ops/Wave42.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave42.scala", "tt") ->
      "one-row scalar aggregate",
    ("ops/Wave43.scala", "nd") ->
      "one-row scalar aggregate",
    ("ops/Wave43.scala", "split") ->
      "one-row scalar aggregate (threshold scalars)",
    ("ops/Wave43.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave45.scala", "nen") ->
      "one-row scalar aggregate",
    ("ops/Wave46.scala", "glob") ->
      "one-row scalar aggregate",
    ("ops/Wave46.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave5.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave50.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave52.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave55.scala", "langs") ->
      "language list: bounded domain",
    ("ops/Wave55.scala", "nn") ->
      "one-row scalar aggregate",
    ("ops/Wave55.scala", "voc") ->
      "one-row scalar aggregate (vocab count)",
    ("ops/Wave56.scala", "boundedRanks(\"d\")") ->
      "bounded-domain rank map (profile_spearman design: unbounded side is shuffle-joined)",
    ("ops/Wave56.scala", "boundedRanks(\"q\")") ->
      "bounded-domain rank map (profile_spearman design: unbounded side is shuffle-joined)",
    ("ops/Wave56.scala", "us") ->
      "one-row scalar aggregate (corruption survival scalars)",
    ("ops/Wave56.scala", "saltDf") ->
      "per-block salt counts: <= 25-nation blocking domain (adaptive skew salting)",
    ("ops/Wave56.scala", "saltDf.toDF(\"dnat\", \"dns\")") ->
      "per-block salt counts: <= 25-nation blocking domain (adaptive skew salting)",
    ("ops/Wave57.scala", "bounds") ->
      "one-row scalar aggregate",
    ("ops/Wave58.scala", "bounds") ->
      "one-row scalar aggregate",
    ("ops/Wave58.scala", "last") ->
      "one-row scalar aggregate",
        ("ops/Wave6.scala", "bounds") ->
      "one-row scalar aggregate",
    ("ops/Wave6.scala", "d1") ->
      "token doc-frequencies: vocabulary-sized (tokens/terms)",
    ("ops/Wave6.scala", "d2") ->
      "token doc-frequencies: vocabulary-sized (tokens/terms)",
    ("ops/Wave6.scala", "dict") ->
      "lexicon: vocabulary-sized (tokens/terms)",
    ("ops/Wave6.scala", "freq") ->
      "token document frequencies: vocabulary-sized (tokens/terms)",
    ("ops/Wave6.scala", "nDocs") ->
      "one-row scalar aggregate",
    ("ops/Wave6.scala", "q") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave6.scala", "rank") ->
      "token ranks: vocabulary-sized (tokens/terms)",
    ("ops/Wave6.scala", "thr") ->
      "per-group thresholds: bounded group domain",
    ("ops/Wave60.scala", "m") ->
      "one-row scalar aggregate",
    ("ops/Wave63.scala", "anchor") ->
      "one-row scalar aggregate",
    ("ops/Wave65.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave65.scala", "xk") ->
      "one-row scalar aggregate (k-th value cut)",
    ("ops/Wave66.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave66.scala", "tot.select(col(\"nt\").as(\"n_total\"))") ->
      "one-row scalar aggregate",
    ("ops/Wave67.scala", "users") ->
      "one-row scalar aggregate",
    ("ops/Wave68.scala", "med") ->
      "one-row scalar aggregate",
    ("ops/Wave68.scala", "sizes.select(col(\"source\").as(\"s1\"), col(\"n\").as(\"n1\"))") ->
      "per-source sizes: bounded source domain",
    ("ops/Wave68.scala", "sizes.select(col(\"source\").as(\"s2\"), col(\"n\").as(\"n2\"))") ->
      "per-source sizes: bounded source domain",
    ("ops/Wave69.scala", "bounds") ->
      "one-row scalar aggregate",
    ("ops/Wave69.scala", "first") ->
      "per-event-type first-exposure means: bounded type domain",
    ("ops/Wave69.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave7.scala", "bias") ->
      "one-row scalar aggregate",
    ("ops/Wave7.scala", "consts") ->
      "one-row scalar aggregate",
    ("ops/Wave7.scala", "docTotals") ->
      "one-row scalar aggregate",
    ("ops/Wave7.scala", "model.select(\"bk\", \"wj\")") ->
      "per-bucket NB weights: fixed bucket count (model state (trained coefficients / centroids / tree nodes / codebooks))",
    ("ops/Wave7.scala", "nat.join(broadcast(region), col(\"n_regionkey\") === col(\"r_regionkey\"))") ->
      "fixed catalog dim (nation/region <= 25 rows)",
    ("ops/Wave7.scala", "region") ->
      "fixed catalog dim (nation/region <= 25 rows)",
    ("ops/Wave7.scala", "vv") ->
      "one-row scalar aggregate (vocab count)",
    ("ops/Wave70.scala", "nChanged.select(col(\"n\").as(\"n_policy_changed\"))") ->
      "one-row scalar aggregate",
    ("ops/Wave71.scala", "mid") ->
      "one-row scalar aggregate",
    ("ops/Wave73.scala", "classes") ->
      "one-row scalar aggregate",
    ("ops/Wave73.scala", "pe") ->
      "one-row scalar aggregate",
    ("ops/Wave74.scala", "exact") ->
      "one-row scalar aggregate (exact F2 moment)",
    ("ops/Wave74.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave75.scala", "totC") ->
      "one-row scalar aggregate",
    ("ops/Wave75.scala", "totS") ->
      "one-row scalar aggregate",
    ("ops/Wave75.scala", "wTot") ->
      "one-row scalar aggregate",
    ("ops/Wave77.scala", "beta") ->
      "one-row scalar aggregate (regression coefficients)",
    ("ops/Wave77.scala", "means") ->
      "one-row scalar aggregate",
    ("ops/Wave79.scala", "scalars") ->
      "one-row scalar aggregate",
    ("ops/Wave79.scala", "trainBi.select(col(\"w1\").as(\"w\")).union(trainBi.select(col(\"w2\"))) .distinct().agg(count(lit(1)).as(\"v\"))") ->
      "one-row scalar aggregate (vocab count)",
    ("ops/Wave8.scala", "margL") ->
      "marginals: bounded label domain",
    ("ops/Wave8.scala", "margS") ->
      "marginals: bounded source domain",
    ("ops/Wave8.scala", "mi") ->
      "one-row scalar aggregate",
    ("ops/Wave8.scala", "rates.select(\"source\", \"rate_ppm\")") ->
      "per-source rates: bounded source domain",
    ("ops/Wave8.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave8.scala", "z") ->
      "one-row scalar aggregate",
    ("ops/Wave80.scala", "moments") ->
      "one-row scalar aggregate",
    ("ops/Wave80.scala", "totals") ->
      "one-row scalar aggregate",
    ("ops/Wave81.scala", "minDay") ->
      "one-row scalar aggregate",
    ("ops/Wave82.scala", "mo") ->
      "one-row scalar aggregate",
    ("ops/Wave83.scala", "beta") ->
      "one-row scalar aggregate (regression coefficients)",
    ("ops/Wave83.scala", "m") ->
      "one-row scalar aggregate",
    ("ops/Wave83.scala", "q") ->
      "one-row scalar aggregate (quantile scalars)",
    ("ops/Wave84.scala", "l2.select(col(\"branch\"), col(\"feature\").as(\"bf\"), col(\"b\").as(\"bb\"))") ->
      "2 branch splits: model state (trained coefficients / centroids / tree nodes / codebooks)",
    ("ops/Wave84.scala", "leaves") ->
      "one-row scalar aggregate (tree accuracy)",
    ("ops/Wave84.scala", "root") ->
      "decision-tree root split: model state (trained coefficients / centroids / tree nodes / codebooks)",
    ("ops/Wave84.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave85.scala", "ensemble") ->
      "one-row scalar aggregate",
    ("ops/Wave85.scala", "splits") ->
      "8 bagged stump models: model state (trained coefficients / centroids / tree nodes / codebooks)",
    ("ops/Wave85.scala", "splits.join(leafLabels.filter(col(\"side\")), Seq(\"branch\"), \"left\") .select(col(\"branch\"), col(\"bf\"), col(\"bb\"), coalesce(col(\"label\"), lit(false)).as(\"left_label\")) .join(leafLabels.filter(!col(\"side\")) .select(col(\"branch\"), coalesce(col(\"label\"), lit(false)) .as(\"right_label\")), Seq(\"branch\"), \"left\") .na.fill(false, Seq(\"right_label\"))") ->
      "8 bagged stump models with leaf labels: model state (trained coefficients / centroids / tree nodes / codebooks)",
    ("ops/Wave85.scala", "tt") ->
      "one-row scalar aggregate",
    ("ops/Wave87.scala", "qs") ->
      "pending query batch: model-sized by design (Wave87 scaladoc)",
    ("ops/Wave9.scala", "q") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave9.scala", "qCells") ->
      "query row(s): single probe vector / its bucket cells",
    ("ops/Wave9.scala", "tot") ->
      "one-row scalar aggregate",
    ("ops/Wave90.scala", "hwm") ->
      "one-row scalar aggregate",
    ("ops/Wave90.scala", "p0") ->
      "one-row scalar aggregate",
    ("ops/Wave92.scala", "mrr") ->
      "one-row scalar aggregate"
  )

  test("every broadcast() hint site carries a reviewed size justification") {
    val found = sites()
    assert(found.nonEmpty, s"site scan found nothing - run tests from the repo root (cwd=${new File(".").getAbsolutePath})")
    val unaudited = found.filterNot(s => registry.contains(s)).distinct
    assert(unaudited.isEmpty,
      "UNAUDITED broadcast() hints - prove each input is model/vocab/" +
        "catalog/query-sized and add it to BroadcastAuditSpec.registry " +
        "(or drop the hint if it is entity-scaled):\n" +
        unaudited.map { case (f, a) => s"  $f :: broadcast($a)" }.mkString("\n"))
  }

  test("no registry entry is stale (its site still exists)") {
    val found = sites().toSet
    val stale = registry.keys.filterNot(found.contains).toSeq.sorted
    assert(stale.isEmpty,
      "stale BroadcastAuditSpec.registry entries (site removed or edited " +
        "- re-review and update):\n" +
        stale.map { case (f, a) => s"  $f :: broadcast($a)" }.mkString("\n"))
  }

  test("no justification is empty or a placeholder") {
    val bad = registry.filter { case (_, j) =>
      j.trim.isEmpty || j.length < 10 || j.toLowerCase.contains("todo")
    }
    assert(bad.isEmpty, s"weak justifications: ${bad.keys.mkString(", ")}")
  }
}
