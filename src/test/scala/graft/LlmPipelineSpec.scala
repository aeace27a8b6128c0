package graft

import org.apache.spark.sql.functions._

import graft.ops.{LlmPipeline, LshIndex, Multimodal}

/** Near-dup detection on planted duplicates + similarity-search recall
  * (SURVEY.md §2.10; these ops are rows-only at the oracle, so behavior
  * is asserted here). */
class LlmPipelineSpec extends SparkSuite {

  import spark.implicits._

  private lazy val base = graft.engine.Tables.load(spark, sf, "documents")

  /** documents plus a near-duplicate of doc 0 (one word changed) and an
    * exact duplicate of doc 1, with fresh ids. */
  private lazy val planted = {
    val d0 = base.filter(col("doc_id") === 0).head()
    val d1 = base.filter(col("doc_id") === 1).head()
    val nearDup = d0.getString(1).replaceFirst("^\\S+", "zzz")
    val extra = Seq(
      (90001L, nearDup, d0.getString(2), d0.getString(3), nearDup.length.toLong),
      (90002L, d1.getString(1), d1.getString(2), d1.getString(3), d1.getLong(4)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    base.union(extra)
  }

  test("minhash signatures detect planted near-duplicate") {
    val sigs = LlmPipeline.minhashSignatures(planted, 32)
      .filter(col("doc_id").isin(0L, 90001L, 250L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]): Double =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    assert(agree(sigs(0L), sigs(90001L)) > 0.5, "near-dup signature agreement")
    assert(agree(sigs(0L), sigs(250L)) < 0.5, "unrelated docs disagree")
  }

  test("exact duplicate has identical minhash signature") {
    val sigs = LlmPipeline.minhashSignatures(planted, 32)
      .filter(col("doc_id").isin(1L, 90002L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(90002L))
  }

  test("simhash: hamming small for near-dups, large for unrelated") {
    val sh = LlmPipeline.simhash(planted)
      .filter(col("doc_id").isin(0L, 90001L, 250L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(90001L)) <= 16, "near-dup hamming")
    assert(hamming(sh(0L), sh(250L)) > 8, "unrelated hamming")
  }

  test("dedup_exact drops the planted exact duplicate, keeps the near-dup") {
    val kept = LlmPipeline.dedupExactDF(planted)
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(90002L), "exact duplicate of doc 1 must be dropped")
    assert(kept.contains(1L), "lowest doc_id survives")
    assert(kept.contains(90001L), "near-duplicate (one word changed) is NOT exact -> kept")
    assert(kept.size === planted.count() - 1)
  }

  test("lsh buckets partition all vectors; same vector -> same bucket") {
    val e = graft.engine.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val b1 = LlmPipeline.lshBuckets(e, 8).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = LlmPipeline.lshBuckets(e, 8).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2, "deterministic bucketing")
    assert(b1.size === e.count())
  }

  test("lsh bucket generation is a narrow projection: no Exchange in the plan") {
    val e = graft.engine.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val plan = LlmPipeline.lshTables(e, 4, 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"lshTables must not shuffle (scan-side fused projection), got:\n$plan")
    assert(plan.contains("lsh_buckets"), "native lsh_buckets expression in the plan")
  }

  test("sim_ann_lsh returns a subset of brute-force candidates ranked by cosine") {
    val annRows = LlmPipeline.simAnnLshRaw(spark, sf).collect()
    val ann = annRows.map(_.getLong(0)).toSet
    assert(ann.nonEmpty)
    assert(!ann.contains(0L))
    // brute-force relationship: the bucket only restricts candidates, so
    // any ANN hit that is also in the brute-force top-10 must carry the
    // identical cosine, and the bucket must recover part of the true top-10
    val bruteCos = LlmPipeline.queries("sim_topk")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val overlap = annRows.filter(r => bruteCos.contains(r.getLong(0)))
    info(s"LSH recall@10 vs brute force: ${overlap.length / 10.0}")
    // deterministic planes + fixture → stable; measured 0.5 with 8 tables
    // of 4 planes (random near-orthogonal vectors are LSH's worst case)
    assert(overlap.length >= 3, s"LSH recall collapsed: ${overlap.length}/10")
    overlap.foreach(r =>
      assert(r.getDouble(1) === bruteCos(r.getLong(0)), s"cos mismatch for vec ${r.getLong(0)}"))
  }

  test("multi-probe LSH recall is at least single-probe recall") {
    val brute = LlmPipeline.queries("sim_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val single = LlmPipeline.simAnnLshRaw(spark, sf)
      .collect().map(_.getLong(0))
    val multi = LlmPipeline.simAnnLshMultiprobeRaw(spark, sf)
      .collect().map(_.getLong(0))
    assert(multi.nonEmpty && !multi.contains(0L))
    val rSingle = single.count(brute.contains)
    val rMulti = multi.count(brute.contains)
    info(s"recall@10: single-probe $rSingle/10, multi-probe $rMulti/10")
    // flipping bits only ADDS probe cells: the candidate set is a
    // superset, so the reranked top-10 can only get closer to brute force
    assert(rMulti >= rSingle, s"multi-probe recall $rMulti < single-probe $rSingle")
  }

  test("persisted LSH index answers identically to the in-session sim_ann_lsh") {
    val e = graft.engine.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val indexDir = java.nio.file.Files.createTempDirectory("graft-lsh-index")
    LshIndex.buildIndex(indexDir.toString, e, planes = 4, tables = 8)
    val qv = e.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    // the query vector is in the corpus: ask for one extra, drop the
    // self-hit, mirroring sim_ann_lsh's exclusion
    val fromIndex = LshIndex.queryIndex(spark, indexDir.toString, e, qv,
        planes = 4, tables = 8, k = 11)
      .filter(col("vec_id") =!= 0)
      .limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = LlmPipeline.simAnnLshRaw(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromIndex === direct,
      "index probe and in-session pipeline must agree bucket-for-bucket")
    graft.engine.Fs.deleteRec(indexDir.toFile)
  }

  test("multimodal decode stub produces deterministic features") {
    val f1 = Multimodal.extractFeatures(spark, sf).orderBy("doc_id").collect()
    val f2 = Multimodal.extractFeatures(spark, sf).orderBy("doc_id").collect()
    assert(f1.length === 500)
    assert(f1.map(_.getLong(2)) === f2.map(_.getLong(2)), "checksums deterministic")
    val r = f1.head
    assert(r.getLong(1) > 0, "n_bytes")
    assert(r.getSeq[Float](3).length === 8, "feature vector width")
  }

  test("synthetic PNG roundtrips through a real ImageIO decode, pixel-exact") {
    // the lossless-codec identity the multimodal_decode_image oracle
    // leans on: encode(formula pixels) -> PNG -> ImageIO.read gives back
    // exactly the formula pixels
    val docId = 42L
    val png = Multimodal.syntheticPng(docId)
    // PNG magic bytes prove a real encoder ran, not a stub
    assert((png(0) & 0xFF) === 0x89 && png(1) === 'P'.toByte &&
      png(2) === 'N'.toByte && png(3) === 'G'.toByte)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === Multimodal.ImgW && img.getHeight === Multimodal.ImgH)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (y <- 0 until Multimodal.ImgH; x <- 0 until Multimodal.ImgW) {
      val (r, g, b) = Multimodal.pixelValue(md, docId, x, y)
      val rgb = img.getRGB(x, y)
      assert(((rgb >> 16) & 255, (rgb >> 8) & 255, rgb & 255) === ((r, g, b)),
        s"pixel ($x,$y) corrupted by the codec roundtrip")
    }
  }

  test("multimodal_decode_image features are deterministic and image-shaped") {
    val f1 = LlmPipeline.queries("multimodal_decode_image")(spark, sf).collect()
    val f2 = LlmPipeline.queries("multimodal_decode_image")(spark, sf).collect()
    assert(f1.length === 500)
    assert(f1.map(_.getLong(7)) === f2.map(_.getLong(7)), "ahash deterministic")
    val r = f1.head
    assert(r.getInt(1) === 16 && r.getInt(2) === 16)
    assert(r.getString(6).split(",").length === 8, "8 luminance buckets")
    assert(r.getString(6).split(",").map(_.toLong).sum === 256L,
      "histogram covers all 256 pixels")
  }

  test("langid marks stopword-free docs und or a declared language") {
    val preds = LlmPipeline.queries("text_langid")(spark, sf)
      .select("lang_pred").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "es", "fr", "de", "und")))
  }
}
