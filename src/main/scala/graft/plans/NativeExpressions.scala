package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/* Native Catalyst expressions for the sketch/vector hot paths.
  *
  * The composable higher-order-function forms (graft.functions.text/vectors)
  * are interpreted per element and re-hash their inputs once per signature
  * component — measured 19s for MinHash-LSH at sf0.1. These keep exact,
  * oracle-matchable semantics (md5-derived hashes for MinHash/SimHash so
  * DuckDB recomputes the identical sketches; seed-42 xxhash64 only for RHP,
  * which has no oracle; identical accumulation order for dot products) at a
  * fraction of the cost. Registered SQL-side via [[GraftExtensions]].
  *
  * All four generate code (`doGenCode` emits one [[NativeKernels]] call), so
  * they sit INSIDE whole-stage codegen instead of forcing the interpreted
  * fallback that boxes every row of the surrounding stage. The interpreted
  * `nullSafeEval` path calls the same kernel — parity by construction
  * (NativeExprSpec additionally asserts it against the HOF forms). */

/** minhash_sig(shingles, k): k-component MinHash signature in one pass over
  * the shingle array (vs k array traversals with k string re-hashes each). */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.minhashSig(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.NativeKernels.minhashSig($c, $k);")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig = copy(child = newChild)
}

/** simhash60(tokens): 60-bit md5-based SimHash in one pass (vs 60 folds
  * each re-hashing every token). */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(NativeKernels.simhash60(input.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.NativeKernels.simhash60($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHash60 = copy(child = newChild)
}

/** word_shingles(tokens, n): word n-grams joined by ' ', single pass. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.wordShingles(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.NativeKernels.wordShingles($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): WordShingles = copy(child = newChild)
}

/** rhp_buckets(vec, bits, tables, seedStride): all multi-table RHP-LSH
  * buckets in one pass — the fused form of `tables` separate rhpBucket HOF
  * calls (each of which is `bits` interpreted array folds). */
case class RhpBuckets(child: Expression, bits: Int, tables: Int, seedStride: Int)
    extends UnaryExpression {
  override def prettyName: String = "rhp_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    NativeKernels.rhpBuckets(input.asInstanceOf[ArrayData], bits, tables, seedStride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.NativeKernels.rhpBuckets($c, $bits, $tables, $seedStride);")
  override protected def withNewChildInternal(newChild: Expression): RhpBuckets = copy(child = newChild)
}

/** det_log2(c): graft.functions.detlog's cross-engine log2 as a single
  * codegen'd call — bit-equal to the 24-step chain (and therefore to the
  * DuckDB CTE mirror), minus the chain's quadratic plan-analysis cost.
  * Accepts INT or BIGINT (a SQL caller's literal folds through the
  * interpreted path as an Integer — a bare asInstanceOf[Long] would CCE);
  * anything else fails analysis with a readable message. */
case class DetLog2(child: Expression) extends UnaryExpression {
  override def prettyName: String = "det_log2"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"det_log2 requires an integral argument, got $t")
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    java.lang.Double.valueOf(NativeKernels.detLog2(input match {
      case l: java.lang.Long => l.longValue
      case i: java.lang.Integer => i.longValue
    }))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.NativeKernels.detLog2($c);")
  override protected def withNewChildInternal(newChild: Expression): DetLog2 = copy(child = newChild)
}

/** geohash_enc(lat, lon): `chars`-character base32 geohash via the
  * interleaved-bisection kernel — bit-equal to graft.functions.geohash's
  * withColumn chain (and its DuckDB CTE mirror), minus the chain's
  * quadratic plan-analysis cost. */
case class GeohashEnc(left: Expression, right: Expression, chars: Int) extends BinaryExpression {
  override def prettyName: String = "geohash_enc"
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"geohash_enc requires DOUBLE lat/lon, got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = StringType
  override def nullSafeEval(lat: Any, lon: Any): Any =
    NativeKernels.geohashEnc(lat.asInstanceOf[Double], lon.asInstanceOf[Double], chars)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, lo) =>
      s"${ev.value} = graft.plans.NativeKernels.geohashEnc($la, $lo, $chars);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GeohashEnc =
    copy(left = newLeft, right = newRight)
}

/** vec_argmax_cos(vec, nrm, cents): nearest-centroid list id by
  * (cosine desc, list_id asc) against a FROZEN centroid matrix — the
  * k-means assignment step as ONE fused kernel call.
  *
  * Why it exists: the former formulation built the argmax as an
  * `array_max` over k literal `struct(dot/…, -l, l)` entries — codegen'd
  * and fast while k is ~10, but the expression tree grows as k·dim and at
  * the nlists-rule scale (k=102 for a 200k-vector corpus) it falls off
  * whole-stage codegen and the interpreted tree walks 102 boxed struct
  * comparisons per row: the 100× index build went from minutes of honest
  * work to a >10-minute timeout. Here the centroid matrix is baked into
  * the expression ONCE at construction (primitive double[][] — the
  * builder folds the literal third argument), and each row pays one
  * k×dim primitive loop that stays inside whole-stage codegen.
  *
  * Semantics are bit-identical to the struct-argmax form (NativeExprSpec
  * keeps it as the parity reference):
  *  - per-entry score = vec_dot(vec, cemb) / (nrm · cnrm), the identical
  *    left-to-right accumulation ([[NativeKernels.vecDot]]'s loop) and the
  *    identical single division;
  *  - ordering = Spark's double ordering (NaN greatest, -0.0 == 0.0),
  *    ties to the smaller list_id — [[NativeKernels.cmpDouble]] mirrors
  *    SQLOrderingUtil;
  *  - the zero-norm contract (the VecOracle pin): a zero denominator
  *    RAISES under ANSI ([DIVIDE_BY_ZERO], captured at construction from
  *    the session conf) and under legacy mode ranks NULLS-LAST exactly
  *    like the struct form and the DuckDB replay (entry skipped; all
  *    skipped → smallest list_id). */
case class CosArgmax(
    left: Expression,
    right: Expression,
    listIds: Array[Int],
    cents: Array[Array[Double]],
    cnrms: Array[Double],
    failOnZero: Boolean) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    // element type must be DOUBLE exactly: the kernel's toDoubleArray()
    // would throw (or silently mis-read) on array<float>/array<string>
    // at runtime, far from the query text — fail at analysis instead
    case ArrayType(DoubleType, _) if right.dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"vec_argmax_cos(array<double>, double, cents): got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  def kernel(vecA: ArrayData, nrm: Double): Int = {
    val e = vecA.toDoubleArray()
    var found = false
    var bestSc = 0.0
    var bestL = 0
    var i = 0
    while (i < listIds.length) {
      val denom = nrm * cnrms(i)
      if (denom == 0.0) {
        if (failOnZero)
          throw new ArithmeticException(
            "[DIVIDE_BY_ZERO] zero-norm vector or centroid in vec_argmax_cos (ANSI mode)")
        // legacy: NULL cosine sorts last — entry excluded (struct-argmax
        // and the oracle's NULLS-LAST DESC window agree)
      } else {
        val c = cents(i)
        val n = math.min(e.length, c.length)
        var s = 0.0d
        var j = 0
        while (j < n) { s += e(j) * c(j); j += 1 } // vecDot's exact fold
        val sc = s / denom
        // entries iterate in ascending list_id order, so strictly-greater
        // keeps the smaller id on exact ties — the (sc desc, -l) tiebreak
        if (!found || NativeKernels.cmpDouble(sc, bestSc) > 0) { found = true; bestSc = sc; bestL = listIds(i) }
      }
      i += 1
    }
    if (found) bestL else listIds(0)
  }

  override def nullSafeEval(v: Any, n: Any): Any =
    java.lang.Integer.valueOf(kernel(v.asInstanceOf[ArrayData], n.asInstanceOf[Double]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosArgmax", this, classOf[CosArgmax].getName)
    nullSafeCodeGen(ctx, ev, (v, n) => s"${ev.value} = $ref.kernel($v, $n);")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CosArgmax =
    copy(left = newLeft, right = newRight)
}

object CosArgmax {
  /** Builder for the function registry: folds the foldable third argument
    * (array<struct<list_id, cemb, cnrm>>) into primitive arrays at
    * construction, and captures the session's ANSI flag for the zero-norm
    * contract. */
  def fromLiteral(vec: Expression, nrm: Expression, centsLit: Expression): CosArgmax = {
    require(centsLit.foldable, "vec_argmax_cos centroids must be a literal")
    val arr = centsLit.eval().asInstanceOf[ArrayData]
    val k = arr.numElements()
    require(k > 0, "vec_argmax_cos needs at least one centroid")
    val ls = new Array[Int](k)
    val ce = new Array[Array[Double]](k)
    val cn = new Array[Double](k)
    var i = 0
    while (i < k) {
      val row = arr.getStruct(i, 3)
      ls(i) = row.getInt(0)
      ce(i) = row.getArray(1).toDoubleArray()
      cn(i) = row.getDouble(2)
      i += 1
    }
    // ascending list_id, so the kernel's strictly-greater update is the
    // exact (score desc, list_id asc) tiebreak
    val order = ls.indices.sortBy(ls)
    CosArgmax(vec, nrm,
      order.map(ls).toArray, order.map(ce).toArray, order.map(cn).toArray,
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
  }
}

/** vec_argmax_l2(vec, grp, books): nearest code by squared L2 within the
  * row's own group's FROZEN codebook — the product-quantization assignment
  * step (grouped k-means training and encoding) as ONE fused kernel call,
  * the [[CosArgmax]] pattern applied to the L2 metric.
  *
  * `books` is a literal map<grp, array<struct<list_id, cemb, c2>>>, folded
  * at construction into per-group primitive tables (ascending list_id).
  * Semantics are bit-identical to the struct-argmax form it replaced
  * (`array_max` over `struct(2·vec_dot(vec, cemb) − c2, −list_id, list_id)`;
  * NativeExprSpec keeps that form as the parity reference):
  *  - per-entry score = 2.0 · dot − c2, the dot accumulated left-to-right
  *    exactly like [[NativeKernels.vecDot]];
  *  - ordering = Spark's double ordering (NaN greatest), exact ties to the
  *    smaller list_id;
  *  - a null vector or group is null; a group with no codebook is null. */
case class L2Argmax(
    left: Expression,
    right: Expression,
    grps: Array[Int],
    listIds: Array[Array[Int]],
    cents: Array[Array[Array[Double]]],
    c2s: Array[Array[Double]]) extends BinaryExpression {
  override def prettyName: String = "vec_argmax_l2"
  // the folded codebooks are primitive arrays: keep them out of plan strings
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"vec_argmax_l2(array<double>, int, books): got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  /** Index of `grp`'s codebook, or -1 when it has none. */
  def slot(grp: Int): Int = {
    val i = java.util.Arrays.binarySearch(grps, grp)
    if (i >= 0) i else -1
  }

  def kernel(vecA: ArrayData, slot: Int): Int = {
    val e = vecA.toDoubleArray()
    val ids = listIds(slot)
    val cs = cents(slot)
    val c2 = c2s(slot)
    var bestSc = 0.0
    var bestL = 0
    var i = 0
    while (i < ids.length) {
      val c = cs(i)
      val n = math.min(e.length, c.length)
      var s = 0.0d
      var j = 0
      while (j < n) { s += e(j) * c(j); j += 1 } // vecDot's exact fold
      val sc = 2.0 * s - c2(i)
      // ascending list_id, so strictly-greater keeps the smaller id on ties
      if (i == 0 || NativeKernels.cmpDouble(sc, bestSc) > 0) { bestSc = sc; bestL = ids(i) }
      i += 1
    }
    bestL
  }

  override def nullSafeEval(v: Any, g: Any): Any = {
    val i = slot(g.asInstanceOf[Int])
    if (i < 0) null else java.lang.Integer.valueOf(kernel(v.asInstanceOf[ArrayData], i))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("l2Argmax", this, classOf[L2Argmax].getName)
    val i = ctx.freshName("slot")
    nullSafeCodeGen(ctx, ev, (v, g) =>
      s"""int $i = $ref.slot($g);
         |if ($i < 0) { ${ev.isNull} = true; } else { ${ev.value} = $ref.kernel($v, $i); }""".stripMargin)
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): L2Argmax =
    copy(left = newLeft, right = newRight)
}

object L2Argmax {
  /** Builder for the function registry: folds the foldable third argument
    * (map<grp, array<struct<list_id, cemb, c2>>>) into per-group primitive
    * tables, groups ascending and each codebook in ascending list_id. */
  def fromLiteral(vec: Expression, grp: Expression, booksLit: Expression): L2Argmax = {
    require(booksLit.foldable, "vec_argmax_l2 codebooks must be a literal")
    val m = booksLit.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    val books = (0 until m.numElements()).map { i =>
      val arr = m.valueArray().getArray(i)
      val entries = (0 until arr.numElements()).map { j =>
        val row = arr.getStruct(j, 3)
        (row.getInt(0), row.getArray(1).toDoubleArray(), row.getDouble(2))
      }.sortBy(_._1)
      require(entries.nonEmpty, "vec_argmax_l2 needs at least one centroid per group")
      m.keyArray().getInt(i) -> entries
    }.sortBy(_._1)
    L2Argmax(vec, grp,
      books.map(_._1).toArray,
      books.map(_._2.map(_._1).toArray).toArray,
      books.map(_._2.map(_._2).toArray).toArray,
      books.map(_._2.map(_._3).toArray).toArray)
  }
}

/** vec_dot(a, b): double dot product, accumulating left-to-right exactly
  * like the `aggregate(zip_with(...))` fold it replaces — results stay
  * bit-identical to the DuckDB oracle's left-associated term chain. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(NativeKernels.vecDot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.plans.NativeKernels.vecDot($a, $b);")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}
