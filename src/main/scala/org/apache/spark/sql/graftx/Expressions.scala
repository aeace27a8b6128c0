// Lives under org.apache.spark.sql so the expressions can use the
// private[sql] catalyst surface (AbstractDataType, ExpressionUtils) the
// builtin expressions themselves use - the standard packaging for
// Spark-native extension expressions. Public entry: graft.functions.Native.
package org.apache.spark.sql.graftx

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodegenContext, EmptyBlock, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Native Catalyst expressions for the hot vector paths (SURVEY.md §4.3;
  * preference order: builtin > custom Expression with doGenCode > UDF).
  *
  * [[CosineSim]] replaces the composed higher-order-function form
  * (`aggregate(zip_with(...)) / (sqrt(aggregate(...)) * sqrt(...))`) —
  * five lambda traversals and temporary arrays per row — with one fused
  * loop over the raw float ArrayData, generated inline by `doGenCode` so
  * it stays inside whole-stage codegen. Semantics are bit-identical to
  * the HOF form and the DuckDB oracle: floats widen to double, products
  * and squares accumulate in array order. (Null elements are not
  * expected — embeddings are dense vectors.)
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // ragged inputs -> NULL, matching the HOF zip_with/aggregate form
    // (zip_with pads with null, null*x poisons the aggregate to null)
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $x.getFloat($i);
         |    double $yi = (double) $y.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Fused dot product over two array<float> columns — the unnormalized
  * sibling of [[CosineSim]] (products widen to double and accumulate in
  * array order, ragged inputs -> NULL). The asymmetric-distance kernel
  * for product-quantized search: PQ decomposes dot(q, x) into per-
  * subspace dot products, so this is the exact-rerank and codebook-
  * training primitive (ops/Pq.scala). */
case class DotF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF =
    copy(left = l, right = r)
}

/** Multi-table random-hyperplane LSH buckets in ONE narrow per-row pass:
  * returns array<long> of length `tables`, where bucket t's bit p is the
  * sign of the projection of the embedding onto plane (t,p). Plane
  * weights are ±1 derived from bit 1 of xxhash64(t*1024+p, d) — the
  * exact hash chain Spark's `xxhash64(lit(t*1024+p), col("d"))` computes
  * (XXH64.hashInt seeded 42, then re-seeded per dim), so buckets match
  * the composed Column form this expression replaced. That form
  * posexploded vectors to (vec, dim) rows and shuffled ×dim data through
  * a groupBy — 1000× shuffle amplification on 1k-dim embeddings; this is
  * a scan-side projection with NO exchange. The ±1 weight matrix is
  * deterministic given (planes, tables, dim) and cached per-thread after
  * first use (tables*planes*dim floats — model-sized). */
case class LshBuckets(child: Expression, planes: Int, tables: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(planes > 0 && planes <= 62, s"lsh_buckets: planes=$planes out of range")
  require(tables > 0, s"lsh_buckets: tables=$tables")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  // Lazily-built ±1 weight matrix, flat-indexed [(t*planes+p)*dim + d].
  // Guarded re-build on dim change (embeddings are fixed-dim in practice);
  // volatile-free single-thread-per-task access, rebuilt per task at worst.
  @transient private var wDim: Int = -1
  @transient private var weights: Array[Float] = _

  private def weightsFor(dim: Int): Array[Float] = {
    if (wDim != dim) {
      val w = new Array[Float](tables * planes * dim)
      var t = 0
      while (t < tables) {
        var p = 0
        while (p < planes) {
          // same chain as Spark's xxhash64(intLit, intCol): seed 42,
          // hash the plane id, then hash the dim with that as seed
          val seedHash = XXH64.hashInt(t * 1024 + p, 42L)
          val base = (t * planes + p) * dim
          var d = 0
          while (d < dim) {
            w(base + d) = if (((XXH64.hashInt(d, seedHash) >> 1) & 1L) == 1L) 1.0f else -1.0f
            d += 1
          }
          p += 1
        }
        t += 1
      }
      weights = w
      wDim = dim
    }
    weights
  }

  def compute(a: Any): ArrayData = {
    val x = a.asInstanceOf[ArrayData]
    val dim = x.numElements()
    val w = weightsFor(dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        val base = (t * planes + p) * dim
        var s = 0.0
        var d = 0
        while (d < dim) {
          s += x.getFloat(d).toDouble * w(base + d)
          d += 1
        }
        if (s > 0) bucket |= 1L << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBuckets", this, classOf[LshBuckets].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.compute($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

/** Morton (Z-order) interleave of the low `bits` bits of each LongType
  * child — the clustering key of OPTIMIZE ZORDER (ref: dbc cmd16/17) as
  * ONE expression generating one loop, instead of the `2*bits*n`-node
  * composed Column tree that [[ZOrder.zvalue]] builds. Identical bit
  * math (cross-checked in StoreSpec). */
case class ZValue(children: Seq[Expression], bits: Int)
    extends Expression with ExpectsInputTypes {

  require(children.nonEmpty && children.size * bits <= 62,
    s"z-value overflow: ${children.size} cols x $bits bits")

  override def inputTypes: Seq[AbstractDataType] = Seq.fill(children.size)(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "zvalue"

  private def n = children.size

  override def eval(input: InternalRow): Any = {
    var z = 0L
    var ci = 0
    while (ci < n) {
      val v = children(ci).eval(input)
      if (v == null) return null
      val long = v.asInstanceOf[Long]
      var b = 0
      while (b < bits) {
        z |= ((long >> b) & 1L) << (b * n + (n - 1 - ci))
        b += 1
      }
      ci += 1
    }
    z
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val z = ctx.freshName("z")
    val childBlocks = evals.foldLeft(EmptyBlock: Block) { (acc, e) => code"$acc\n${e.code}" }
    val interleave = evals.zipWithIndex.map { case (e, ci) =>
      val b = ctx.freshName("b")
      s"""if (${e.isNull}) { ${ev.isNull} = true; } else {
         |  for (int $b = 0; $b < $bits; $b++) {
         |    $z |= ((${e.value} >> $b) & 1L) << ($b * $n + ${n - 1 - ci});
         |  }
         |}""".stripMargin
    }.mkString("\n")
    ev.copy(code =
      code"""
        $childBlocks
        boolean ${ev.isNull} = false;
        long $z = 0L;
        $interleave
        long ${ev.value} = $z;
      """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZValue = copy(children = newChildren)
}

/** Per-subspace product-quantization code: argmin-L2 over a codebook,
  * computed as argmax_j (dot(x, c_j) − ||c_j||²/2) in ONE fused loop
  * with the codebook carried as a reference object. The composed form
  * this replaced built k dot-product columns and re-evaluated each in a
  * greatest + when-chain argmax — 2·k expression nodes per subspace,
  * each inlining a subDim-float array literal, and the m-subspace
  * encode projection's generated source grew past what Janino compiles
  * in reasonable time (observed minutes-long compile stalls in
  * sim_pq at sf0.1). Here the generated code is a single method call
  * regardless of m·k, and each score is evaluated exactly once.
  *
  * Double math is identical to the composed DotF form: products widen
  * to double, accumulate in array order, half-norm subtracted last;
  * strict `>` keeps the LOWEST code on exact ties — same as the
  * when-chain's first match (ops/Pq.scala). */
case class PqCode(child: Expression, codebook: Array[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {

  require(codebook.nonEmpty, "pq_code: empty codebook")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "pq_code"

  @transient private lazy val halfNorms: Array[Double] =
    codebook.map(c => c.map(v => v.toDouble * v.toDouble).sum / 2.0)

  def compute(a: Any): Int = {
    val x = a.asInstanceOf[ArrayData]
    var best = 0
    var bestScore = Double.NegativeInfinity
    var j = 0
    while (j < codebook.length) {
      val c = codebook(j)
      var s = 0.0
      var d = 0
      while (d < c.length) {
        s += x.getFloat(d).toDouble * c(d)
        d += 1
      }
      s -= halfNorms(j)
      if (s > bestScore) { bestScore = s; best = j }
      j += 1
    }
    best
  }

  override def nullSafeEval(a: Any): Any = compute(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCode", this, classOf[PqCode].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.compute($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCode =
    copy(child = newChild)
}

/** Deletion-vector filter of a data-file scan: true unless `dead` lists
  * the row's position under its own file's name. `dead` maps each data
  * file to its dead row positions and rides along as a reference object,
  * the way [[PqCode]] carries its codebook, so the vector is applied as
  * the scan reads each file (Delta Lake, VLDB 2020 §3): one hash probe
  * and one bitmap probe per row, no second scan and no join. The sets
  * are only read here, never changed. */
case class RowLive(fileName: Expression, rowIndex: Expression,
    dead: Map[String, Roaring64Bitmap])
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = fileName
  override def right: Expression = rowIndex
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "row_live"

  // plan strings name the set sizes, not every dead position
  override protected def stringArgs: Iterator[Any] = Iterator(fileName, rowIndex,
    s"${dead.valuesIterator.map(_.getLongCardinality).sum} dead in ${dead.size} files")

  @transient private lazy val byFile = {
    val m = new java.util.HashMap[UTF8String, Roaring64Bitmap]()
    dead.foreach { case (f, d) => m.put(UTF8String.fromString(f), d) }
    m
  }

  def live(file: UTF8String, pos: Long): Boolean = {
    val d = byFile.get(file)
    d == null || !d.contains(pos)
  }

  override def nullSafeEval(f: Any, p: Any): Any =
    live(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rowLive", this, classOf[RowLive].getName)
    defineCodeGen(ctx, ev, (f, p) => s"$ref.live($f, $p)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RowLive =
    copy(fileName = newLeft, rowIndex = newRight)
}

/** Column bridge used by graft.functions.Native. */
object GraftNative {
  /** The catalyst expression behind a public Column (for the store's
    * manifest-stats predicate pruning — Spark 4 hides Column.expr and
    * ExpressionUtils wraps it lazily; the converter yields the real
    * UnresolvedAttribute/Literal/comparison tree). */
  def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  def simhashAgg(h: Column): Column =
    ExpressionUtils.column(
      SimhashAgg(ExpressionUtils.expression(h)).toAggregateExpression())

  def vecSumAgg(v: Column): Column =
    ExpressionUtils.column(
      VecSumAgg(ExpressionUtils.expression(v)).toAggregateExpression())

  def topKCountAgg(value: Column, cnt: Column, k: Int): Column =
    ExpressionUtils.column(
      TopKCountAgg(ExpressionUtils.expression(value),
        ExpressionUtils.expression(cnt), k).toAggregateExpression())

  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def dotF(a: Column, b: Column): Column =
    ExpressionUtils.column(DotF(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def lshBuckets(v: Column, planes: Int, tables: Int): Column =
    ExpressionUtils.column(LshBuckets(ExpressionUtils.expression(v), planes, tables))

  def pqCode(v: Column, codebook: Array[Array[Float]]): Column =
    ExpressionUtils.column(PqCode(ExpressionUtils.expression(v), codebook))

  def rowLive(fileName: Column, rowIndex: Column,
      dead: Map[String, Roaring64Bitmap]): Column =
    ExpressionUtils.column(RowLive(ExpressionUtils.expression(fileName),
      ExpressionUtils.expression(rowIndex), dead))

  def zvalue(bits: Int, cols: Column*): Column =
    ExpressionUtils.column(ZValue(
      cols.map(c => Cast(ExpressionUtils.expression(c), LongType)).toIndexedSeq, bits))

  /** Spark's built-in bloom-filter aggregate (the expression behind the
    * runtime-filter rule), exposed as a Column: builds a bloom over a
    * LONG hash stream sized for `expectedItems`/`numBits`. Not in the
    * public FunctionRegistry, hence this bridge. */
  def bloomAgg(h: Column, expectedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ExpressionUtils.expression(h),
        org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())

  /** Membership probe against a serialized bloom filter (BinaryType).
    * The bloom side must be foldable (a literal of the collected,
    * model-sized filter) — same contract as the injected runtime
    * filter's scalar subquery. */
  def mightContain(bloom: Column, h: Column): Column =
    ExpressionUtils.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ExpressionUtils.expression(bloom), ExpressionUtils.expression(h)))
}

/** Native SimHash aggregate: accumulates the 64 per-bit counters of the
  * token-hash stream in ONE pass (TypedImperativeAggregate buffer =
  * 64 counters + count), emitting the signature long whose bit b is set
  * iff a majority of hashes had bit b set — semantics identical to the
  * composed form `sum(when((h>>b)&1===1, 1, -1)) > 0` per bit, which
  * costs 64 interpreted aggregate expressions per row. Partial
  * aggregation (map-side combine) works through `merge`, so the shuffle
  * carries one 65-long buffer per (group × partition), not token rows.
  */
case class SimhashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Long]]
  with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "simhash_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](65)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < 64) { buf(i) += (h >>> i) & 1L; i += 1 }
      buf(64) += 1L
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 65) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val n = buf(64)
    var z = 0L
    var i = 0
    while (i < 64) { if (2L * buf(i) > n) z |= 1L << i; i += 1 }
    z
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(65 * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(65)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): SimhashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimhashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SimhashAgg = copy(child = newChildren.head)
}

/** Element-wise vector sum aggregate over array<float> (centroid / mean-
  * embedding substrate): buffer = one double per dimension, allocated on
  * first input, partial-merged map-side — replacing posexplode (×dim row
  * multiplication) + groupBy(cell, pos). Ragged inputs are rejected. */
case class VecSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]]
  with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sum_agg"

  override def createAggregationBuffer(): Array[Double] = Array.empty

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val acc = if (buf.isEmpty) new Array[Double](n) else buf
    require(acc.length == n, s"vec_sum_agg: ragged input ($n vs ${acc.length})")
    var i = 0
    while (i < n) { acc(i) += arr.getFloat(i).toDouble; i += 1 }
    acc
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    require(a.length == b.length, "vec_sum_agg: ragged merge")
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Double]): Any =
    if (buf.isEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(buf)

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.length * 8)
    bb.putInt(buf.length)
    buf.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bb.getInt)(bb.getDouble)
  }

  override def withNewMutableAggBufferOffset(o: Int): VecSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumAgg = copy(child = newChildren.head)
}

/** Bounded top-k (value, count) aggregate: the buffer is a k-bounded
  * list ordered by (count desc, value asc NULLS FIRST) — the grouped
  * top-k WITHOUT a window sort: one aggregation pass, partial-merged
  * map-side, shuffling at most k entries per (group × partition) instead
  * of every row through a window's sort. Tie ordering compares the raw
  * UTF-8 bytes unsigned, exactly Spark's string sort order (and DuckDB's
  * binary collation) — a Java String comparator would diverge on
  * non-BMP codepoints. Returns array<struct<value, cnt>> best-first.
  */
case class TopKCountAgg(
    value: Expression,
    cnt: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[
    scala.collection.mutable.ArrayBuffer[(Array[Byte], Long)]]
  with ExpectsInputTypes {

  type Buf = scala.collection.mutable.ArrayBuffer[(Array[Byte], Long)]

  override def children: Seq[Expression] = Seq(value, cnt)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, LongType)
  override def dataType: DataType = ArrayType(new StructType()
    .add("value", StringType, nullable = true)
    .add("cnt", LongType, nullable = false), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "topk_count_agg"

  /** (count desc, value asc nulls first, unsigned UTF-8 bytes). */
  private def beats(a: (Array[Byte], Long), b: (Array[Byte], Long)): Boolean = {
    if (a._2 != b._2) return a._2 > b._2
    if (a._1 == null) return b._1 != null
    if (b._1 == null) return false
    var i = 0
    val n = math.min(a._1.length, b._1.length)
    while (i < n) {
      val x = a._1(i) & 0xFF; val y = b._1(i) & 0xFF
      if (x != y) return x < y
      i += 1
    }
    a._1.length < b._1.length
  }

  private def insert(buf: Buf, e: (Array[Byte], Long)): Buf = {
    // k is tiny (top-k panels): ordered insert + trim
    var i = 0
    while (i < buf.length && beats(buf(i), e)) i += 1
    buf.insert(i, e)
    if (buf.length > k) buf.remove(k)
    buf
  }

  override def createAggregationBuffer(): Buf = new Buf()

  override def update(buf: Buf, input: InternalRow): Buf = {
    val c = cnt.eval(input)
    if (c == null) return buf
    val v = value.eval(input)
    val bytes = if (v == null) null
      else v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    insert(buf, (bytes, c.asInstanceOf[Long]))
  }

  override def merge(a: Buf, b: Buf): Buf = {
    b.foreach(insert(a, _))
    a
  }

  override def eval(buf: Buf): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      buf.map { case (bytes, c) =>
        InternalRow(
          if (bytes == null) null
          else org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes),
          c)
      }.toArray[Any])

  override def serialize(buf: Buf): Array[Byte] = {
    val total = 4 + buf.map { case (b, _) => 4 + (if (b == null) 0 else b.length) + 8 }.sum
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(buf.length)
    buf.foreach { case (b, c) =>
      bb.putInt(if (b == null) -1 else b.length)
      if (b != null) bb.put(b)
      bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buf()
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = if (len < 0) null else { val a = new Array[Byte](len); bb.get(a); a }
      buf += ((b, bb.getLong))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKCountAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKCountAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKCountAgg =
    copy(value = newChildren(0), cnt = newChildren(1))
}
