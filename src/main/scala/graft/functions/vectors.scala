package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives built from Spark's higher-order array
  * functions. The fold in [[dot]] accumulates strictly left-to-right, which
  * the DuckDB oracle mirrors with an explicit left-associated term chain —
  * per-row results are bit-identical across engines. */
object vectors {

  /** Cast a float array column to double for stable arithmetic. */
  def toDoubleArr(c: Column): Column = transform(c, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** Interpreted HOF form of [[dot]] — kept for parity testing against the
    * native expression (identical accumulation order). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused nearest-centroid assignment (the k-means/IVF hot step):
    * list id by (cosine desc, list_id asc) against the frozen centroid
    * set `cents` = (list_id, cemb, cnrm), baked into the expression as a
    * primitive matrix — one k×dim loop per row inside whole-stage
    * codegen. Bit-identical to the struct-argmax form it replaced
    * (NativeExprSpec pins parity incl. the zero-norm ANSI/legacy
    * contract); the struct form fell off codegen past k≈30 and made the
    * 100× (k=102) index build time out. */
  def argmaxCos(vec: Column, nrm: Column, cents: Seq[(Int, Seq[Double], Double)]): Column =
    call_function("vec_argmax_cos", vec, nrm, typedLit(cents))

  /** Fused grouped squared-L2 assignment (the PQ train/encode step): per
    * row, the list id of the code in `books(grp)` = (list_id, cemb, c2 =
    * ‖cemb‖²) that maximizes 2·vec·cemb − c2, exact ties to the smaller
    * list id. One primitive loop per row inside whole-stage codegen;
    * bit-identical to the array_max-over-structs form (NativeExprSpec). */
  def argmaxL2(vec: Column, grp: Column, books: Map[Int, Seq[(Int, Seq[Double], Double)]]): Column =
    call_function("vec_argmax_l2", vec, grp, typedLit(books))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cross-engine 60-bit seed hash (the q33 md5 convention — value of the
    * digest's first 15 hex chars over the value's string form): used by the
    * k-means seed selection so the DuckDB oracle can replay index training.
    * Spark `conv(substring(md5(s),1,15),16,10)`; DuckDB mirror below. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10).cast("long")

  def hash60Sql(e: String): String =
    s"CAST('0x' || substring(md5(CAST($e AS VARCHAR)), 1, 15) AS BIGINT)"

  /** DuckDB SQL mirrors (dim fixed): explicit left-associated chains. */
  def dotSql(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"$a[$i]*$b[$i]").mkString(" + ")

  /** All `tables` RHP-LSH buckets in one compiled pass (native expression;
    * table t uses seed t*seedStride — elementwise identical to `tables`
    * separate [[rhpBucket]] calls, parity spec-checked). */
  def rhpBuckets(vec: Column, bits: Int, tables: Int, seedStride: Int): Column =
    call_function("rhp_buckets", vec, lit(bits), lit(tables), lit(seedStride))

  /** Random-hyperplane LSH bucket: `bits` sign bits from deterministic
    * pseudo-hyperplanes (component sign of xxhash64(planeIdx, componentIdx)).
    * Same-bucket vectors are ANN candidates. */
  def rhpBucket(vec: Column, bits: Int, seed: Int = 0): Column = {
    val bitCols = (0 until bits).map { p =>
      // hyperplane seed+p: h_i = +1 if xxhash64(seed+p, i) even else -1;
      // bit = [h·v > 0]. Distinct seeds give independent hash tables.
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) =>
          when(xxhash64(lit(seed + p), i).bitwiseAND(lit(1L)) === 0L, x).otherwise(-x)),
        lit(0.0d),
        (acc, x) => acc + x)
      when(proj > 0.0d, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bitCols.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }
}
