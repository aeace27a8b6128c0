package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.{Native, ZOrder}

/** Parity of the native Catalyst expressions with their composed
  * reference forms, plus SQL registration via GraftExtensions. */
class NativeExprSpec extends SparkSuite {

  test("CosineSim equals the HOF zip_with/aggregate form bit-for-bit") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val both = e.crossJoin(broadcast(q)).select(
      col("vec_id"),
      Native.cosineSim(col("embedding"), col("qv")).as("native"),
      (hofDot(col("embedding"), col("qv")) /
        (sqrt(hofDot(col("embedding"), col("embedding"))) *
         sqrt(hofDot(col("qv"), col("qv"))))).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("DotF equals the HOF zip_with/aggregate dot product bit-for-bit") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q)).select(
      col("vec_id"),
      Native.dotF(col("embedding"), col("qv")).as("native"),
      aggregate(zip_with(col("embedding"), col("qv"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    // SQL registration
    e.createOrReplaceTempView("emb_dot_v")
    val sql = spark.sql(
      "SELECT dot_f(embedding, embedding) AS d FROM emb_dot_v ORDER BY vec_id LIMIT 3")
      .collect()
    assert(sql.forall(_.getDouble(0) > 0.0))
  }

  test("ZValue equals the composed Column bit-op form") {
    val p = Tables.load(spark, sf, "part")
    val both = p.select(
      Native.zvalue(8, col("p_size"), col("p_partkey") % 256).as("native"),
      ZOrder.zvalue(8, col("p_size"), col("p_partkey") % 256).as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() === 0)
  }

  test("SQL registration: cosine_sim and zvalue callable from SQL text") {
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("emb_v")
    val self = spark.sql(
      "SELECT vec_id, cosine_sim(embedding, embedding) AS c FROM emb_v ORDER BY vec_id LIMIT 5")
      .collect()
    assert(self.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-6),
      "self-cosine of unit vectors = 1")
    val z = spark.sql("SELECT zvalue(4, 3, 5) AS z").head().getLong(0)
    val want = (0 until 4).map { b =>
      (((3L >> b) & 1L) << (2 * b + 1)) | (((5L >> b) & 1L) << (2 * b))
    }.reduce(_ | _)
    assert(z === want)
  }

  test("native expressions survive codegen path (wholeStage on)") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val e = Tables.load(spark, sf, "embeddings")
      val n = e.select(Native.cosineSim(col("embedding"), col("embedding")).as("c"))
        .filter(abs(col("c") - 1.0) < 1e-6).count()
      assert(n === e.count())
      val zc = Tables.load(spark, sf, "part")
        .select(Native.zvalue(8, col("p_size"), col("p_partkey") % 256).as("z"))
        .agg(countDistinct(col("z"))).head().getLong(0)
      assert(zc > 1)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("RowLive: interpreted and generated predicates agree, per file") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedPredicate}
    import org.apache.spark.sql.catalyst.expressions.codegen.GeneratePredicate
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val deadInA = Set(0L, 5L, 1L << 40)
    val e = org.apache.spark.sql.graftx.RowLive(BoundReference(0, StringType, false),
      BoundReference(1, LongType, false),
      Map("a.parquet" -> org.roaringbitmap.longlong.Roaring64Bitmap.bitmapOf(deadInA.toSeq: _*)))
    val rows = for (f <- Seq("a.parquet", "b.parquet"); p <- Seq(0L, 1L, 5L, 6L, 1L << 40))
      yield InternalRow(UTF8String.fromString(f), p)
    val want = rows.map(r => !(r.getUTF8String(0).toString == "a.parquet" &&
      deadInA(r.getLong(1))))
    val generated = GeneratePredicate.generate(e)
    generated.initialize(0)
    assert(rows.map(generated.eval) === want)
    assert(rows.map(InterpretedPredicate(e).eval) === want)
    // plan strings carry the set sizes, not the positions
    assert(e.toString.endsWith("3 dead in 1 files)"), e.toString)
  }

  test("simhash_agg equals the composed 64-sum majority form") {
    val tok = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
      .filter(col("w") =!= "")
      .withColumn("h", xxhash64(col("w")))
    val native = tok.groupBy("doc_id")
      .agg(Native.simhashAgg(col("h")).as("simhash"))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$b"))
    val composedAgg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 64).map(b =>
      shiftleft(when(col(s"b$b") > 0, 1L).otherwise(0L), b)).reduce(_ bitwiseOR _)
    val composed = composedAgg.select(col("doc_id"), sh.as("simhash"))
    assert(native.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(native).count() === 0)
  }

  test("lsh_buckets is SQL-registered and agrees with the Column API") {
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("emb_lb")
    val viaSql = spark.sql(
      "SELECT vec_id, lsh_buckets(embedding, 4, 8) AS b FROM emb_lb ORDER BY vec_id LIMIT 20")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaApi = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), Native.lshBuckets(col("embedding"), 4, 8).as("b"))
      .orderBy("vec_id").limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql === viaApi)
    assert(viaSql.values.forall(_.length === 8), "one bucket per table")
  }

  test("SQL builders reject NULL / non-integral parameter literals with usage errors") {
    Tables.load(spark, sf, "embeddings").createOrReplaceTempView("emb_bad")
    val nullPlanes = intercept[Exception] {
      spark.sql("SELECT lsh_buckets(embedding, NULL, 8) FROM emb_bad").collect()
    }
    assert(nullPlanes.getMessage.contains("must not be NULL"), nullPlanes.getMessage)
    val fractional = intercept[Exception] {
      spark.sql("SELECT lsh_buckets(embedding, 4.9, 8) FROM emb_bad").collect()
    }
    assert(fractional.getMessage.contains("integral"), fractional.getMessage)
    val stringBits = intercept[Exception] {
      spark.sql("SELECT zvalue('4', 3, 5)").collect()
    }
    assert(stringBits.getMessage.contains("integral"), stringBits.getMessage)
  }

  test("simhash_agg is SQL-registered via GraftExtensions") {
    Tables.load(spark, sf, "documents").createOrReplaceTempView("docs_ne")
    val n = spark.sql(
      "SELECT simhash_agg(xxhash64(text)) AS s FROM docs_ne").head().getLong(0)
    assert(n != 0L)
  }
}
