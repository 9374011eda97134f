package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{detsum, vectors}

/** Deterministic distributed Lloyd's k-means — the unsupervised coarse
  * quantizer for IVF-style ANN (the reference point is FAISS's IVF training;
  * here it is pure DataFrame algebra so Catalyst/AQE stay in play).
  *
  * Determinism is engineered, not hoped for:
  *  - init: the k vectors with the smallest [[vectors.hash60]] of the id —
  *    arbitrary but fixed under any partitioning, and (being the md5
  *    convention) recomputable by the DuckDB oracle, which replays the whole
  *    training loop op-for-op (the q10g recipe generalized to n dims);
  *  - assignment: argmax score with list_id as the tiebreak;
  *  - update: per-dimension means via [[detsum]] (terms rounded in double
  *    space, summed exactly as decimals), so centroids are bit-identical
  *    under any partitioning, AQE re-plan, or speculative retry;
  *  - a FIXED round count — no data-dependent stopping rule.
  *
  * Scale shape per round: the k·dim centroid doubles ride INTO the scan as
  * literals (assignment is a scalar argmax expression — no broadcast join,
  * no candidate rows), and one shuffle of (list_id, pos) partial sums comes
  * back — the vectors themselves NEVER shuffle. The earlier formulation
  * (broadcast join + per-vector max_by groupBy) still exchanged one row per
  * vector per round to collapse the argmax; at 100 TB that is a full-corpus
  * shuffle per round for what is a per-row pure function. Centroids
  * round-trip through the DRIVER between rounds (k·dim doubles — the same
  * bounded payload a broadcast would ship anyway); that keeps lineage flat
  * with no per-round checkpoint writes, and the final centroid frame is a
  * literal, so consumers never re-trigger training. Empty lists carry their
  * previous centroid forward.
  *
  * CALLER CONTRACT: `fit`/`fitGrouped` re-evaluate the full lineage of
  * `vecs` once per round plus once for seeding. Callers must materialize an
  * expensive input first (`localCheckpoint(eager = true)` — what every
  * caller in this repo does) or pay rounds+1 recomputations of the lineage. */
object KMeans {

  private type Centroids = Seq[(Int, Seq[Double])]

  /** Left-to-right Σx², the driver-side twin of the native `vec_dot(a, a)`
    * accumulation — same op sequence, so a norm computed here is
    * bit-identical to one computed by [[vectors.norm]] on executors. */
  private def sqSum(v: Seq[Double]): Double = v.foldLeft(0.0)((a, x) => a + x * x)

  /** One Lloyd's round: per-row scalar-argmax assignment (`bestList` — built
    * from driver-local centroid literals by the caller), then per-dimension
    * detsum means. posexplode + one narrow aggregate beats k·dim aggregate
    * expressions, which overflow codegen limits; the (list_id, pos) partial
    * sums collapse map-side, so only k·dim rows per partition cross the
    * wire — the round's ONE shuffle. The k·dim means come back to the
    * driver, which orders each list's dimensions by `pos`. Returns
    * (grp values, list_id) -> new centroid (empty lists absent). */
  private def round(vecs: DataFrame, grpCols: Seq[String], bestList: Column): Map[(Seq[Int], Int), Seq[Double]] = {
    val g = grpCols.map(col)
    val ng = grpCols.size
    vecs
      .select(g ++ Seq(bestList.as("list_id"), posexplode(col("emb")).as(Seq("pos", "x"))): _*)
      .groupBy(g ++ Seq(col("list_id"), col("pos")): _*)
      .agg((detsum.sumDet(col("x"), 9) / count(lit(1))).as("cx"))
      .collect()
      .groupBy(r => ((0 until ng).map(r.getInt), r.getInt(ng)))
      .map { case (key, rs) => key -> rs.sortBy(_.getInt(ng + 1)).map(_.getDouble(ng + 2)).toSeq }
  }

  /** vecs: (id: long, emb: array<double>, nrm: double).
    * Returns centroids (list_id: int, cemb: array<double>), cosine metric. */
  def fit(vecs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val seedW = Window.orderBy(col("h").asc, col("id").asc)
    var cent: Centroids = vecs
      .withColumn("h", vectors.hash60(col("id")))
      .orderBy(col("h").asc, col("id").asc)
      .limit(k)
      .withColumn("list_id", row_number().over(seedW).cast("int"))
      .select(col("list_id"), col("emb"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    for (_ <- 1 to rounds) {
      // fused native argmax (vec_argmax_cos): bit-identical to the former
      // struct-argmax form (parity spec-pinned), but one k×dim primitive
      // loop inside codegen — the struct tree fell off whole-stage codegen
      // past k≈30 and timed out the 100× (k=102) build
      val best = vectors.argmaxCos(col("emb"), col("nrm"),
        cent.map { case (l, ce) => (l, ce, math.sqrt(sqSum(ce))) })
      val updated = round(vecs, Nil, best)
      cent = cent.map { case (l, old) => (l, updated.getOrElse((Nil, l), old)) }
    }
    cent.toDF("list_id", "cemb")
  }

  /** GROUPED k-means: trains an independent codebook per `grp` value in ONE
    * distributed pass — the shape a product-quantization trainer needs (8
    * subspace codebooks from one scan, not 8 sequential fits). Metric is
    * squared-L2 (argmin distance ≡ argmax 2·x·c − ‖c‖², so the x² constant
    * cancels). The per-grp codebooks enter the scan as ONE literal folded
    * into the fused `vec_argmax_l2` kernel ([[vectors.argmaxL2]] — the
    * same convention [[graft.queries.VecIndex.encodeAgainst]] encodes
    * with), which picks the row's own grp's codebook, so every grp still
    * assigns in the same single pass. Seeding follows the fit convention
    * with the grouped twist: per grp, the k smallest [[vectors.hash60]] of
    * "grp:id" (concat_ws — the DuckDB mirror is `grp || ':' || id`).
    *
    * vecs: (grp: int, id: long, emb: array<double>).
    * Returns (grp, list_id: int, cemb: array<double>). */
  def fitGrouped(vecs: DataFrame, k: Int, rounds: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val seedW = Window.partitionBy(col("grp")).orderBy(col("h").asc, col("id").asc)
    var cent: Seq[(Int, Int, Seq[Double])] = vecs
      .withColumn("h", vectors.hash60(concat_ws(":", col("grp"), col("id"))))
      .withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= k)
      .select(col("grp"), col("rn").cast("int").as("list_id"), col("emb"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toSeq.sortBy(t => (t._1, t._2))
    for (_ <- 1 to rounds) {
      val byGrp: Map[Int, Seq[(Int, Seq[Double], Double)]] =
        cent.groupBy(_._1).map { case (g, cs) =>
          g -> cs.sortBy(_._2).map { case (_, l, ce) => (l, ce, sqSum(ce)) }
        }
      val updated = round(vecs, Seq("grp"), vectors.argmaxL2(col("emb"), col("grp"), byGrp))
      cent = cent.map { case (g, l, old) => (g, l, updated.getOrElse((Seq(g), l), old)) }
    }
    cent.toDF("grp", "list_id", "cemb")
  }
}
