package graft

import org.apache.spark.sql.functions._
import graft.ops.Bpe

/** The BPE merge rewrite must be exactly greedy-leftmost — including
  * the only overlapping case (left = right), where the run-offset
  * parity rule stands in for sequential scanning. */
class BpeSpec extends SparkSuite {

  import spark.implicits._

  private def merge(x: String, y: String, words: Seq[Seq[String]]): Seq[Seq[String]] =
    words.toDF("syms").select(Bpe.mergeExpr(x, y).as("m"))
      .collect().map(_.getSeq[String](0).toList).toList

  test("greedy leftmost merge: identical-pair runs merge at even offsets") {
    assert(merge("a", "a", Seq(Seq("a", "a", "a", "a"))) === Seq(Seq("aa", "aa")))
    assert(merge("a", "a", Seq(Seq("a", "a", "a"))) === Seq(Seq("aa", "a")))
    assert(merge("a", "a", Seq(Seq("b", "a", "a", "a"))) === Seq(Seq("b", "aa", "a")))
    assert(merge("a", "a", Seq(Seq("a"))) === Seq(Seq("a")))
  }

  test("distinct-pair merges apply at every match, no false overlaps") {
    assert(merge("a", "b", Seq(Seq("a", "b", "a", "b"))) === Seq(Seq("ab", "ab")))
    assert(merge("a", "b", Seq(Seq("a", "a", "b"))) === Seq(Seq("a", "ab")))
    assert(merge("b", "a", Seq(Seq("a", "b", "a", "b"))) === Seq(Seq("a", "ba", "b")))
    assert(merge("x", "y", Seq(Seq("a", "b"))) === Seq(Seq("a", "b")))
  }

  test("merged symbols participate in later rounds (composition)") {
    val once = merge("e", "r", Seq(Seq("m", "e", "r", "g", "e", "r")))
    assert(once === Seq(Seq("m", "er", "g", "er")))
    assert(merge("m", "er", once) === Seq(Seq("mer", "g", "er")))
  }

  test("merge expression == reference greedy scan on 200 random symbol arrays") {
    // the parity trick must equal a sequential greedy scan on ANY input,
    // not just the curated cases — seeded RNG keeps the corpus stable
    def ref(x: String, y: String, s: List[String]): List[String] = s match {
      case a :: b :: rest if a == x && b == y => (x + y) :: ref(x, y, rest)
      case a :: rest => a :: ref(x, y, rest)
      case Nil => Nil
    }
    val rnd = new scala.util.Random(42)
    val words: Seq[Seq[String]] = Seq.fill(200) {
      Seq.fill(rnd.nextInt(13))(Seq("a", "b", "c")(rnd.nextInt(3)))
    } :+ Seq.empty[String]
    for (x <- Seq("a", "b"); y <- Seq("a", "b")) {
      val got = merge(x, y, words)
      val want = words.map(w => ref(x, y, w.toList))
      assert(got === want, s"pair ($x,$y) diverged from the greedy reference")
    }
  }

  test("persisted merge table round-trips and encodes identically to in-session") {
    val merges = Bpe.learnedMerges(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-model")
    val root = dir.toString
    Bpe.saveMerges(root, spark, merges)
    assert(Bpe.loadMerges(root, spark) === merges, "model round-trip lossless")
    val vocab = graft.engine.Tables.load(spark, sf, "documents")
      .select(explode(graft.ops.LlmPipeline.tokens(col("text"))).as("token"))
      .distinct()
    val direct = Bpe.encodeTokens(vocab, merges)
      .select(col("token"), concat_ws(" ", col("syms")).as("enc"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val fromStore = Bpe.encodeTokens(vocab, Bpe.loadMerges(root, spark))
      .select(col("token"), concat_ws(" ", col("syms")).as("enc"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(direct === fromStore, "persisted-model encoding must match in-session")
    graft.engine.Fs.deleteRec(dir.toFile)
  }

  test("learned merges are deterministic and well-formed") {
    val m1 = Bpe.learnedMerges(spark, sf)
    val m2 = Bpe.learnedMerges(spark, sf)
    assert(m1 === m2, "same corpus, same merge table")
    assert(m1.map(_._1) === (1 to m1.length), "rounds are consecutive from 1")
    assert(m1.forall(_._4 > 0), "every merge has positive weighted count")
  }
}
