// (int128_sum equivalence tests appended at the bottom of this suite)
package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{text, vectors}

/** Native expressions must be drop-in equivalents of the composable HOF
  * forms they replaced (bit-identical where the oracle depends on it). */
class NativeExprSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  /** The struct-argmax form vec_argmax_cos replaced — the parity
    * reference: array_max over struct(score, -list_id, list_id), highest
    * score wins, exact ties to the smallest list_id, NaN sorts greatest. */
  private def bestBy(entries: Seq[org.apache.spark.sql.Column]) = array_max(array(entries: _*))

  test("VecDot is bit-identical to the aggregate/zip_with fold") {
    val e = queries.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
    val cmp = e.select(
      vectors.dot(col("emb"), col("emb")).as("native"),
      vectors.dotHof(col("emb"), col("emb")).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native CosArgmax equals the bestBy struct-argmax form on real vectors") {
    // the fused k-means assignment kernel vs the former array_max-over-
    // structs form it replaced — bit-identical on the real corpus at a
    // codegen-unfriendly k (40 centroids), including exact-tie ordering
    val e = queries.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", vectors.norm(col("emb")))
    // centroids = 40 real corpus vectors (deterministic pick), with the
    // query vectors among the assigned rows so exact cosine-1 ties occur
    val cents = e.filter(col("vec_id") % 13 === 0).orderBy(col("vec_id")).limit(40)
      .collect().zipWithIndex
      .map { case (r, i) =>
        val ce = r.getSeq[Double](1)
        (i + 1, ce, math.sqrt(ce.foldLeft(0.0)((a, x) => a + x * x)))
      }.toSeq
    val structForm = bestBy(cents.map { case (l, ce, cn) =>
      org.apache.spark.sql.functions.struct(
        (vectors.dot(col("emb"), org.apache.spark.sql.functions.typedLit(ce)) / (col("nrm") * lit(cn))).as("sc"),
        lit(-l).as("neg"), lit(l).as("l"))
    }).getField("l")
    val cmp = e.select(
      vectors.argmaxCos(col("emb"), col("nrm"), cents).as("native"),
      structForm.as("structform"))
    assert(cmp.count() > 0)
    assert(cmp.filter(col("native") =!= col("structform")).count() == 0,
      "fused argmax diverged from the struct-argmax reference")
  }

  test("CosArgmax exact-tie contract: power-of-2-scaled duplicate centroids tie to the smaller id") {
    import spark.implicits._
    // centroid 5 = centroid 2 scaled by 4 (a power of two): dot and cnrm
    // both scale exactly, so the cosine is BIT-identical — a guaranteed
    // exact tie that must resolve to the smaller list id in both forms.
    // The centroid seq is deliberately unsorted to exercise the builder's
    // ascending-id reorder (the kernel's tiebreak depends on it).
    val base = Seq(0.3, -0.7, 0.2)
    def nrmOf(v: Seq[Double]) = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
    val cents = Seq(
      (5, base.map(_ * 4.0), nrmOf(base.map(_ * 4.0))),
      (2, base, nrmOf(base)),
      (9, Seq(1.0, 0.0, 0.0), 1.0))
    val df = Seq((1L, Seq(0.3, -0.7, 0.2)), (2L, Seq(-0.3, 0.7, -0.2)), (3L, Seq(0.9, 0.1, 0.1)))
      .toDF("id", "emb").withColumn("nrm", vectors.norm(col("emb")))
    val structForm = bestBy(cents.sortBy(_._1).map { case (l, ce, cn) =>
      org.apache.spark.sql.functions.struct(
        (vectors.dot(col("emb"), org.apache.spark.sql.functions.typedLit(ce)) / (col("nrm") * lit(cn))).as("sc"),
        lit(-l).as("neg"), lit(l).as("l"))
    }).getField("l")
    val rows = df.select(col("id"),
      vectors.argmaxCos(col("emb"), col("nrm"), cents).as("native"),
      structForm.as("structform")).collect()
    rows.foreach(r => assert(r.getInt(1) == r.getInt(2), s"id ${r.getLong(0)}: kernel != struct form"))
    // row 1 is exactly centroid 2's direction == centroid 5's: tie -> 2
    assert(rows.find(_.getLong(0) == 1L).get.getInt(1) == 2, "exact tie must go to the smaller list id")
  }

  test("CosArgmax zero-norm contract: ANSI raises, legacy excludes like NULLS-LAST") {
    import spark.implicits._
    val cents = Seq((1, Seq(0.0, 0.0), 0.0), (2, Seq(1.0, 0.0), 1.0)) // list 1 is zero-norm
    val df = Seq((10L, Seq(1.0, 0.5)), (11L, Seq(0.0, 1.0))).toDF("id", "emb")
      .withColumn("nrm", vectors.norm(col("emb")))
    val raised = intercept[Exception] {
      df.select(vectors.argmaxCos(col("emb"), col("nrm"), cents)).collect()
    }
    assert(raised.getMessage.contains("DIVIDE_BY_ZERO"), s"expected ANSI raise, got $raised")
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      // zero-norm centroid excluded (NULL ranks last): every row lands on 2
      val r = df.select(vectors.argmaxCos(col("emb"), col("nrm"), cents).as("l")).collect()
      assert(r.forall(_.getInt(0) == 2), s"legacy mode must skip the zero-norm centroid: ${r.toSeq}")
      // all-excluded fallback: zero-norm ROW against any centroid -> smallest list
      val z = Seq((12L, Seq(0.0, 0.0))).toDF("id", "emb")
        .withColumn("nrm", vectors.norm(col("emb")))
        .select(vectors.argmaxCos(col("emb"), col("nrm"), cents).as("l")).collect()
      assert(z.head.getInt(0) == 1, "all-NULL scores must fall back to the smallest list id")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  /** The struct-argmax form vec_argmax_l2 replaced — the parity
    * reference: array_max over struct(2·x·c − c2, −list_id, list_id) of
    * the row's group's codebook entries. */
  private def l2StructForm(books: Map[Int, Seq[(Int, Seq[Double], Double)]]) = {
    val entries = element_at(typedLit(books), col("grp"))
    array_max(transform(entries, e => struct(
      lit(2.0) * vectors.dot(col("emb"), e.getField("_2")) - e.getField("_3"),
      -e.getField("_1"), e.getField("_1"))))
      .cast("struct<sc:double,neg:int,l:int>").getField("l")
  }

  test("native L2Argmax equals the struct-argmax form on real PQ subvectors") {
    val subv = queries.VecIndex.subvectors(
      queries.Tables(spark, "/root/testdata/sf0.001", "embeddings")
        .select(col("vec_id").as("id"), vectors.toDoubleArr(col("embedding")).as("emb")))
    // codebooks = 16 real subvectors per group (deterministic pick), ids
    // listed out of order to exercise the builder's ascending-id sort;
    // the centroid rows themselves are among the encoded rows
    val books = subv.filter(col("id") % 7 === 0).collect()
      .groupBy(_.getInt(0)).map { case (g, rs) =>
        g -> rs.sortBy(_.getLong(1)).take(16).zipWithIndex.map { case (r, i) =>
          val ce = r.getSeq[Double](2)
          (16 - i, ce, ce.foldLeft(0.0)((a, x) => a + x * x))
        }.toSeq
      }
    assert(books.size == 8)
    val cmp = subv.select(
      vectors.argmaxL2(col("emb"), col("grp"), books).as("native"),
      l2StructForm(books).as("structform"))
    assert(cmp.count() > 0)
    assert(cmp.filter(!(col("native") <=> col("structform"))).count() == 0,
      "fused L2 argmax diverged from the struct-argmax reference")
  }

  test("L2Argmax edge contract: exact ties to the smaller id, NaN ranks greatest, null vector is null") {
    import spark.implicits._
    // grp 0: ids 7 and 3 hold the SAME centroid — an exact tie; grp 1: a
    // NaN-component centroid scores NaN, which array_max ranks above every
    // finite score, and two NaN entries tie to the smaller id
    val books = Map(
      0 -> Seq((7, Seq(1.0, 2.0), 5.0), (3, Seq(1.0, 2.0), 5.0), (5, Seq(-1.0, 0.0), 1.0)),
      1 -> Seq((4, Seq(Double.NaN, 0.0), 0.0), (2, Seq(1.0, 1.0), 2.0), (9, Seq(0.0, Double.NaN), 0.0)))
    val df = Seq[(Long, Int, Seq[Double])](
      (1L, 0, Seq(1.0, 2.0)), (2L, 0, Seq(-3.0, 0.5)), (3L, 1, Seq(1.0, 1.0)), (4L, 1, null))
      .toDF("id", "grp", "emb")
    val rows = df.select(col("id"),
      vectors.argmaxL2(col("emb"), col("grp"), books).as("native"),
      l2StructForm(books).as("structform")).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(rows(1L)._1.contains(3), "an exact tie must go to the smaller list id")
    assert(rows(2L)._1.contains(5))
    assert(rows(3L)._1.contains(4), "a NaN score ranks greatest; NaN ties go to the smaller id")
    Seq(1L, 2L, 3L).foreach(id => assert(rows(id)._1 == rows(id)._2, s"id $id: kernel != struct form"))
    assert(rows(4L)._1.isEmpty, "a null vector must give null")
  }

  test("native SimHash60 equals the 60-fold HOF form") {
    val d = queries.Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("toks", text.tokens(col("text")))
    val cmp = d.select(
      text.simhash60(col("toks")).as("native"),
      text.simhash60Hof(col("toks")).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native WordShingles produces exactly the HOF shingle strings") {
    val d = queries.Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("toks", text.tokens(col("text")))
    val cmp = d.select(
      text.shingles(col("toks"), 3).as("native"),
      text.shinglesHof(col("toks"), 3).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native RhpBuckets equals the per-table rhpBucket HOF form") {
    val e = queries.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
    val cmp = e.select(
      vectors.rhpBuckets(col("emb"), bits = 5, tables = 8, seedStride = 64).as("native"),
      array((0 until 8).map(t => vectors.rhpBucket(col("emb"), 5, seed = t * 64)): _*).as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native functions resolve from SQL via the session extension") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "simhash60(array('a','b')) AS s, " +
        "minhash_sig(array('a','b','c'), 4) AS m, " +
        "vec_argmax_l2(array(1.0d, 0.0d), 0, map(0, array(" +
        "named_struct('l', 1, 'c', array(0.0d, 1.0d), 'c2', 1.0d), " +
        "named_struct('l', 2, 'c', array(1.0d, 0.0d), 'c2', 1.0d)))) AS a").collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getSeq[Long](2).size == 4)
    assert(r.getInt(3) == 2)
  }

  test("int128_sum: bit-identical to the decimal detsum path on real data and adversarial layouts") {
    import spark.implicits._
    // real-data equivalence across every grouping the queries use
    val ev = queries.Tables(spark, "/root/testdata/sf0.001", "events")
    val cmp = ev.groupBy(col("event_type"))
      .agg(
        graft.functions.detsum.sumDet(col("value")).as("fast"),
        graft.functions.detsum.sumDetDecimal(col("value")).as("ref"),
        graft.functions.detsum.sumDet(col("value") - 500.0).as("fast_neg"),
        graft.functions.detsum.sumDetDecimal(col("value") - 500.0).as("ref_neg"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"${r.getString(0)}: positive sums diverge")
      assert(r.getDouble(3) == r.getDouble(4), s"${r.getString(0)}: signed sums diverge")
    }
    // carry edges: many max-magnitude terms force low-word wraparound in
    // both directions; reference is BigInt
    val terms = Seq.tabulate(4000)(i =>
      if (i % 3 == 0) -(1L << 53) + i else (1L << 53) - 2 * i)
    val expected = terms.map(BigInt(_)).sum
    for (parts <- Seq(1, 7)) {
      val got = terms.toDF("x").repartition(parts)
        .agg(expr("int128_sum(x)")).collect()(0).getDecimal(0)
      assert(BigInt(got.toBigInteger) == expected, s"carry chain broken at $parts partitions")
    }
    // null semantics match the decimal sum: all-null → null, mixed → skip
    val withNulls = Seq[java.lang.Long](null, 5L, null, -2L).toDF("x")
    assert(withNulls.agg(expr("int128_sum(x)")).collect()(0).getDecimal(0).longValueExact == 3L)
    val allNull = Seq[java.lang.Long](null, null).toDF("x")
    assert(allNull.agg(expr("int128_sum(x)")).collect()(0).isNullAt(0))
  }

  test("detsum fast path raises loudly on non-finite terms (domain contract)") {
    import spark.implicits._
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val ex = intercept[Exception] {
        Seq(1.0, bad).toDF("x").agg(graft.functions.detsum.sumDet(col("x"))).collect()
      }
      val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(messages.contains("detsum"),
        s"expected the detsum domain error for $bad, got: $messages")
    }
  }

  test("detlog.withLog2: basic-ops log2 matches Math.log within 2^-24, exact on powers of 2") {
    import spark.implicits._
    val vals = Seq(1L, 2L, 3L, 7L, 8L, 100L, 1023L, 1024L, 1025L, 65537L,
      999983L, 1L << 40, (1L << 40) + 12345L)
    val got = graft.functions.detlog
      .withLog2(vals.toDF("c"), "c", "lg")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vals.foreach { v =>
      val ref = math.log(v.toDouble) / math.log(2.0)
      assert(math.abs(got(v) - ref) < 6e-8, s"log2($v): ${got(v)} vs $ref")
    }
    assert(got(1L) == 0.0 && got(2L) == 1.0 && got(8L) == 3.0 && got(1024L) == 10.0,
      "exact on powers of two")
  }

  test("native det_log2 is bit-identical to the withColumn-chain form") {
    import spark.implicits._
    // edge values + real count magnitudes; the two forms run as SEPARATE
    // plans (a combined plan holds ~200 chained projection columns and
    // stalls the optimizer — the exact cost det_log2 exists to avoid)
    val counts = (Seq(1L, 2L, 3L, 5L, 255L, 256L, 257L, 999983L, 1L << 40, (1L << 40) + 12345L) ++
      queries.Tables(spark, "/root/testdata/sf0.001", "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .collect().map(_.getLong(1))).distinct
    val df = counts.toDF("c")
    def vals(mk: (org.apache.spark.sql.DataFrame, String, String) => org.apache.spark.sql.DataFrame) =
      mk(df, "c", "lg").select("c", "lg").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = vals(graft.functions.detlog.withLog2)
    val chain = vals(graft.functions.detlog.withLog2Chain)
    counts.foreach { c =>
      assert(
        java.lang.Double.doubleToRawLongBits(native(c)) ==
          java.lang.Double.doubleToRawLongBits(chain(c)),
        s"det_log2($c): native ${native(c)} vs chain ${chain(c)}")
    }
  }
}
