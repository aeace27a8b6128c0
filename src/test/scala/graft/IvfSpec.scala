package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.ops.{Ivf, LlmPipeline}

/** IVF quantizer behavior: determinism, total assignment, and measured
  * recall against the brute-force baseline. */
class IvfSpec extends SparkSuite {

  import spark.implicits._

  private lazy val e = Tables.load(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  test("training is deterministic and assignment is total") {
    val c1 = Ivf.train(e, k = 8, iters = 2).map { case (i, v) => (i, v.toSeq) }
    val c2 = Ivf.train(e, k = 8, iters = 2).map { case (i, v) => (i, v.toSeq) }
    assert(c1.toSeq === c2.toSeq, "same data, same centroids")
    val cdf = c1.map { case (i, v) => (i, v.toArray) }.toSeq.toDF("cell", "centroid")
    val assigned = Ivf.assign(e, cdf)
    assert(assigned.count() === e.count(), "every vector lands in exactly one cell")
    assert(assigned.select("cell").distinct().count() > 1, "multiple cells used")
  }

  test("sim_ivf returns candidates from probed cells, ranked by cosine") {
    val got = Ivf.simIvf(spark, sf).collect()
    assert(got.length === 10)
    assert(!got.map(_.getLong(0)).contains(0L), "query vector excluded")
    val sims = got.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "descending")
    // measured recall@10 vs brute force (informational; random unit
    // vectors cluster weakly, so only sanity-bounded)
    val brute = LlmPipeline.queries("sim_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = got.map(_.getLong(0)).count(brute.contains) / 10.0
    info(s"IVF recall@10 vs brute force: $recall (nprobe=4/16 cells)")
    // deterministic fixture + deterministic quantizer → recall is stable;
    // measured 0.9 at nprobe=4/16, floor pinned well below to allow
    // fixture regeneration drift while still catching a broken quantizer
    assert(recall >= 0.5, s"IVF recall collapsed: $recall")
  }

  test("sampled training (the 100 TB scale path) keeps recall") {
    // cap = 200 of 500 vectors forces the hash-sample on the fixture;
    // membership is an xxhash64 residue of vec_id, so the sample (and
    // hence the model) is deterministic on any partition layout
    val sample = Ivf.trainSample(e, 200)
    val nSample = sample.count()
    assert(nSample < e.count() && nSample >= 16,
      s"cap must force a real sample that can still seed k=16: $nSample")
    val sampled = Ivf.train(e, k = 16, iters = 2, trainCap = 200)
    assert(sampled.length === 16)
    // search with the sampled-trained centroids (the sim_ivf probe path)
    val cdf = sampled.toSeq.toDF("cell", "centroid")
    val assigned = Ivf.assign(e, cdf)
    val qVec = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val probeCells = cdf.crossJoin(broadcast(qVec))
      .select(col("cell"),
        graft.functions.Native.cosineSim(col("centroid"), col("qv")).as("sim"))
      .orderBy(desc("sim"), asc("cell")).limit(4).select("cell")
    val got = assigned.join(broadcast(probeCells), "cell")
      .crossJoin(broadcast(qVec))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        graft.functions.Native.cosineSim(col("embedding"), col("qv")).as("cos"))
      .orderBy(desc("cos"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0))
    val brute = LlmPipeline.queries("sim_topk")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val recall = got.count(brute.contains) / 10.0
    info(s"IVF recall@10 with 200-vector sampled training: $recall (nprobe=4/16)")
    assert(recall >= 0.5, s"sampled-training recall collapsed: $recall")
  }

  test("default-cap sampling engages at sf0.1 and sim_ivf recall holds") {
    // 5000 vectors > the 64·k = 1024 default cap: the production path
    // where training really reads a sample — recall must survive it
    val dir = "/root/testdata/sf0.1"
    val e01 = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    assert(Ivf.trainSample(e01, 1024).count() < e01.count(), "sampling engaged")
    val got = Ivf.simIvf(spark, dir).collect().map(_.getLong(0))
    val brute = LlmPipeline.queries("sim_topk")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val recall = got.count(brute.contains) / 10.0
    info(s"sf0.1 sim_ivf recall@10 with default sampled training: $recall")
    assert(recall >= 0.5, s"default sampled-training recall collapsed: $recall")
  }

  test("persisted IVF index answers identically to the in-session pipeline") {
    val e = graft.engine.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val indexDir = java.nio.file.Files.createTempDirectory("graft-ivf-index")
    Ivf.buildIndex(indexDir.toString, e, k = 16, iters = 2)
    val qv = e.filter(col("vec_id") === 0).head()
      .getSeq[Float](1).toArray
    // the query vector is itself in the corpus: ask for one extra and
    // drop the self-hit, mirroring sim_ivf's exclusion
    val fromIndex = Ivf.queryIndex(spark, indexDir.toString, qv, nprobe = 4, k = 11)
      .filter(col("vec_id") =!= 0)
      .limit(10)
      .collect().map(_.getLong(0)).toSeq
    val direct = Ivf.simIvf(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(fromIndex === direct)
    graft.engine.Fs.deleteRec(indexDir.toFile)
  }
}
