package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Accuracy/recall contracts for the approximate operators. */
class SketchSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  test("hist_quantile sketch is within one bin width of the exact percentile") {
    val cmp = queries.Tables(spark, sf, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("hist_quantile(value, 0.5, 0.0, 1000.0, 1000)").as("sk"),
        expr("percentile(value, 0.5)").as("exact"))
      .collect()
    assert(cmp.nonEmpty)
    cmp.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) <= 1.0,
        s"${r.getString(0)}: sketch ${r.getDouble(1)} vs exact ${r.getDouble(2)}")
    }
  }

  test("deterministic HLL is within 5% of exact across both estimator branches") {
    import spark.implicits._
    // n = 100 and 2000 exercise linear counting (E <= 2.5m with empty
    // registers); n = 50000 >> 10240 exercises the raw-estimate branch
    for (n <- Seq(100, 2000, 50000)) {
      val df = (1 to n).map(i => ("g", i.toLong)).toDF("grp", "id")
      val est = operators.Hll.cardinality(df, Seq(col("grp")), col("id"), "c")
        .collect()(0).getLong(1)
      assert(math.abs(est - n).toDouble / n <= 0.05,
        s"n=$n: HLL estimate $est off by ${math.abs(est - n).toDouble / n}")
    }
  }

  test("deterministic HLL is partition-layout independent") {
    import spark.implicits._
    val base = (1 to 20000).map(i => ((i % 3).toString, i.toLong * 7919)).toDF("grp", "id")
    val one = operators.Hll.cardinality(base.coalesce(1), Seq(col("grp")), col("id"), "c")
      .orderBy("grp").collect().map(_.getLong(1)).toSeq
    val many = operators.Hll.cardinality(
      base.repartition(13, col("id")), Seq(col("grp")), col("id"), "c")
      .orderBy("grp").collect().map(_.getLong(1)).toSeq
    assert(one == many, s"$one vs $many")
  }

  test("hist_quantile merge is partition-order independent") {
    val one = queries.Tables(spark, sf, "events").coalesce(1)
      .agg(expr("hist_quantile(value, 0.9, 0.0, 1000.0, 1000)")).collect()(0).getDouble(0)
    val many = queries.Tables(spark, sf, "events").repartition(7, col("event_id"))
      .agg(expr("hist_quantile(value, 0.9, 0.0, 1000.0, 1000)")).collect()(0).getDouble(0)
    assert(one == many)
  }

  test("topk_freq matches exact top-k when cardinality fits the capacity") {
    import org.apache.spark.sql.Row
    val sk = queries.Tables(spark, sf, "events")
      .agg(expr("topk_freq(CAST(user_id AS STRING), 5)")).collect()(0)
      .getSeq[Row](0).map(r => (r.getString(0), r.getLong(1)))
    val exact = queries.Tables(spark, sf, "events")
      .groupBy("user_id").count()
      // the sketch tiebreaks on the STRING item, so mirror that here
      .orderBy(col("count").desc, col("user_id").cast("string").asc)
      .limit(5).collect().map(r => (r.getLong(0).toString, r.getLong(1)))
    assert(sk.toSeq == exact.toSeq, s"sketch $sk vs exact ${exact.toSeq}")
  }

  test("topk_freq is stable across partition layouts") {
    val one = queries.Tables(spark, sf, "events").coalesce(1)
      .agg(expr("topk_freq(event_type, 3)")).collect()(0).get(0)
    val many = queries.Tables(spark, sf, "events").repartition(7, col("event_id"))
      .agg(expr("topk_freq(event_type, 3)")).collect()(0).get(0)
    assert(one == many)
  }

  test("multi-table RHP-LSH ANN recall vs brute force") {
    def pairs(q: String) =
      queries.SimilarityQueries.queries(q)(spark, sf)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q35_ann_bruteforce")
    val lsh = pairs("q36_ann_lsh")
    assert(lsh.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    info(s"RHP-LSH recall@5 = $recall over ${exact.size} true pairs")
    assert(recall >= 0.3, s"recall $recall collapsed — bucketing or probe join broken")
    assert(lsh.forall { case (q, n) => q != n })
  }

  test("variable-width histogram: disjoint buckets, full coverage, deterministic") {
    def run() = SparkEntry.queries("q10g_variable_width_histogram")(spark, sf)
      .orderBy("bucket_rank").collect()
      .map(r => (r.getAs[Long]("bucket_rank"), r.getAs[Long]("doc_count"),
        r.getAs[Double]("min_value"), r.getAs[Double]("max_value"), r.getAs[Double]("centroid")))
    val rows = run()
    assert(rows.length >= 2 && rows.length <= 8)
    val total = queries.Tables(spark, sf, "events").count()
    assert(rows.map(_._2).sum == total, "every doc lands in exactly one bucket")
    rows.foreach { case (_, _, mn, mx, c) =>
      assert(mn <= mx && c >= mn && c <= mx, s"centroid $c outside [$mn,$mx]")
    }
    // 1-D L2 assignment to nearest centroid yields interval buckets: sorted
    // by min they must not overlap
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, s"buckets overlap: $a vs $b")
      case _ =>
    }
    assert(run().sameElements(rows), "clustering reproduces bit-identically")
  }

  test("q85 filtered kNN: every neighbor shares its query's label, ranks contiguous") {
    val out = queries.SimilarityQueries.queries("q85_knn_filtered")(spark, sf).collect()
    assert(out.nonEmpty)
    // per-query: the label is the query's own, neighbors never the query,
    // ranks are 1..n with n <= 5
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    val labels = queries.Tables(spark, sf, "embeddings")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    byQ.foreach { case (q, rows) =>
      rows.foreach { r =>
        assert(r.getAs[Long]("label") == labels(q), s"query $q: neighbor label != query label")
        assert(labels(r.getAs[Long]("neighbor_id")) == labels(q),
          s"query $q: neighbor ${r.getAs[Long]("neighbor_id")} fails the filter")
        assert(r.getAs[Long]("neighbor_id") != q)
      }
      assert(rows.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rows.length),
        s"query $q: ranks not contiguous")
    }
    // the filter must actually bite: an unfiltered q37 result set contains
    // cross-label neighbors at this sf
    val unfiltered = queries.SimilarityQueries.queries("q37_ann_ivf")(spark, sf).collect()
    assert(unfiltered.exists(r =>
      labels(r.getAs[Long]("query_id")) != labels(r.getAs[Long]("neighbor_id"))),
      "unfiltered IVF already label-pure — the filtered variant is indistinguishable")
  }

  test("IVF ANN returns valid ranked neighbors with measurable recall vs brute force") {
    def pairs(q: String) =
      queries.SimilarityQueries.queries(q)(spark, sf)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q35_ann_bruteforce")
    val ivf = pairs("q37_ann_ivf")
    assert(ivf.nonEmpty)
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    info(s"IVF 3-probe recall@5 = $recall over ${exact.size} true pairs")
    assert(recall >= 0.15, s"recall $recall collapsed — quantizer or probe join broken")
    // every IVF result must be a real corpus vector, not the query itself
    assert(ivf.forall { case (q, n) => q != n })
    // IVF-PQ (ADC + exact refine) must land near the IVF-exact ceiling: the
    // codes-only scan plus a 40-candidate refine loses little recall
    // (measured 0.52 vs 0.56 at this sf)
    val ivfpq = pairs("q37b_ann_ivfpq")
    assert(ivfpq.nonEmpty && ivfpq.forall { case (q, n) => q != n })
    val pqRecall = ivfpq.intersect(exact).size.toDouble / exact.size
    info(s"IVF-PQ refine recall@5 = $pqRecall over ${exact.size} true pairs")
    assert(pqRecall >= 0.25, s"recall $pqRecall collapsed — ADC ranking or refine join broken")
  }

  test("q37c high-recall IVF clears the 0.9 recall@5 contract vs brute force") {
    // THE q37c contract (ANN_RECALL.md): nprobe=8 is the smallest probe
    // depth whose recall@5 clears 0.9 on every committed SF (0.960 here,
    // 1.000 at sf0.01, 0.915 at sf0.1 — the binding one). The sweep tool
    // (graft.tools.AnnRecall) reproduces the full ladder.
    def pairs(q: String) =
      queries.SimilarityQueries.queries(q)(spark, sf)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q35_ann_bruteforce")
    val hr = pairs("q37c_ann_ivf_highrecall")
    assert(hr.nonEmpty && hr.forall { case (q, n) => q != n })
    val recall = hr.intersect(exact).size.toDouble / exact.size
    info(s"q37c high-recall IVF recall@5 = $recall over ${exact.size} true pairs")
    assert(recall >= 0.9, s"recall $recall broke the q37c >=0.9 contract (ANN_RECALL.md)")
  }

  test("clustered regime: IVF at scan fraction 0.25 clears recall@5 >= 0.9 (the nprobe rule's contract)") {
    // The committed SFs keep nlists at its floor (10), where the nprobe
    // floor of 8 scans 80% — so the FIXED-FRACTION half of the
    // highRecallNprobeFor rule (nprobe = ceil(nlists/4) beyond the floor)
    // was previously unverified in-suite. This gate builds a corpus at
    // the scale where the rule leaves both floors (n = 20000 ->
    // nlists = 32, nprobe = 8, fraction exactly 0.25) with the CLUSTERED
    // geometry IVF exists for (mixture of 64 Gaussians, sigma = 0.7 —
    // within-cluster cosine ~0.67, the regime of real document/image
    // embeddings; ANN_RECALL.md's ladder measures the same contract on
    // the 10x derivations, including the isotropic floor where no
    // partition-pruned index can hold it). Deterministic: a seeded LCG
    // via java.util.Random, so the gate can never flake.
    import spark.implicits._
    val n = 20000
    val dim = 16
    val kLat = 64
    val rng = new java.util.Random(20260815L)
    val centers = Array.fill(kLat, dim)(rng.nextGaussian())
    val data = (0 until n).map { i =>
      val c = centers(rng.nextInt(kLat))
      val v = Array.tabulate(dim)(j => c(j) + 0.7 * rng.nextGaussian())
      val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      (i.toLong, v.toSeq, nrm)
    }
    val vecs = data.toDF("id", "emb", "nrm").repartition(8).cache()
    val nlists = queries.VecIndex.nlistsFor(n)
    assert(nlists == 32, s"the gate is sized for nlists=32, rule gave $nlists")
    val nprobe = queries.SimilarityQueries.highRecallNprobeFor(nlists)
    assert(nprobe == 8 && nprobe.toDouble / nlists == 0.25)
    val cent = graft.operators.KMeans.fit(vecs, nlists, rounds = 3)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      .map { case (l, ce) => (l, ce, math.sqrt(ce.foldLeft(0.0)((a, x) => a + x * x))) }
    // assignment with the engine's own kernel
    val lists = vecs.withColumn("list_id",
      graft.functions.vectors.argmaxCos(col("emb"), col("nrm"), cent))
    val q = vecs.filter(col("id") % 50 === 0)
      .select(col("id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    // exact top-5 (excluding self)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("id").asc)
    val truePairs = vecs.crossJoin(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cos", graft.functions.vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("id").as("neighbor_id"))
    // crank of each true neighbor's list in its query's centroid order
    val centDf = cent.toSeq.toDF("list_id", "cemb", "cnrm")
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("ccos").desc, col("list_id").asc)
    val cranks = q.crossJoin(broadcast(centDf))
      .withColumn("ccos", graft.functions.vectors.dot(col("qe"), col("cemb")) / (col("qn") * col("cnrm")))
      .withColumn("crank", row_number().over(cw))
      .select(col("query_id"), col("list_id"), col("crank"))
    val recalled = truePairs
      .join(lists.select(col("id").as("neighbor_id"), col("list_id")), Seq("neighbor_id"))
      .join(cranks, Seq("query_id", "list_id"))
      .select(col("crank")).collect().map(_.getInt(0))
    vecs.unpersist()
    val recall = recalled.count(_ <= nprobe).toDouble / (q.count() * 5)
    info(f"clustered-regime recall@5 at scan fraction 0.25: $recall%.4f over ${q.count() * 5} true pairs")
    assert(recall >= 0.9,
      f"recall $recall%.4f at fraction 0.25 broke the clustered-regime contract (ANN_RECALL.md)")
  }

  test("cluster-balanced sample: per-cluster cap arithmetic, full coverage, deterministic") {
    val out = SparkEntry.queries("q68_cluster_balanced_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // every cluster keeps exactly min(cap, n_vecs)
    out.foreach { case (list, nVecs, nKept, _) =>
      assert(nKept == math.min(40L, nVecs), s"list $list: $nKept of $nVecs")
    }
    // all vectors are covered by some cluster
    val corpusN = queries.Tables(spark, sf, "embeddings").count()
    assert(out.map(_._2).sum == corpusN)
    // deterministic: the hash-ordered pick reproduces exactly
    val again = SparkEntry.queries("q68_cluster_balanced_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == again.toSet)
  }

  test("vector index: save/load round trip reproduces every search byte-identically") {
    def run(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted.toSeq
    queries.VecIndex.reset()
    val before = Seq("q37_ann_ivf", "q37b_ann_ivfpq", "q58b_pq_quantize").map(q => q -> run(q))
    val dirPath = queries.IngestQueries.scratchDir("graft_vecidx")
    try {
      val dir = dirPath.toString
      queries.VecIndex.save(spark, sf, dir)
      queries.VecIndex.reset()
      queries.VecIndex.load(spark, sf, dir)
      before.foreach { case (q, expected) =>
        assert(run(q) == expected, s"$q diverged after the parquet round trip")
      }
      // a save over the very dir the loaded index reads from must be the
      // documented no-op, not a mid-write self-overwrite failure
      queries.VecIndex.save(spark, sf, dir)
      assert(run("q37_ann_ivf") == before.head._2)
    } finally {
      queries.VecIndex.reset() // leave no parquet-backed index for later suites
    }
  }

  test("q69 SemDeDup: the drop rule matches a brute-force within-cluster recompute") {
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("q69_semdedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val lists = queries.VecIndex.coarse(spark, sf).lists
      .select(col("list_id"), col("vec_id"), col("emb"), col("nrm")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    def dot(x: Array[Double], y: Array[Double]) =
      x.indices.iterator.map(i => x(i) * y(i)).sum
    val expectedDrop = scala.collection.mutable.Set[Long]()
    for ((_, vs) <- lists.groupBy(_._1)) {
      val sorted = vs.sortBy(_._2)
      for (i <- sorted.indices; j <- 0 until i)
        if (dot(sorted(j)._3, sorted(i)._3) / (sorted(j)._4 * sorted(i)._4) >= 0.4)
          expectedDrop += sorted(i)._2
    }
    assert(out.size == lists.length, "one verdict row per corpus vector")
    out.foreach { case (id, keep) =>
      assert(keep == !expectedDrop.contains(id), s"vec $id: keep=$keep disagrees with brute force")
    }
    info(s"semantic dups dropped: ${expectedDrop.size} of ${lists.length}")
    assert(expectedDrop.nonEmpty, "fixture should contain within-cluster semantic dups")
  }

  test("vector index append: frozen-artifact assign+encode equals the full build, and persists") {
    import org.apache.spark.sql.functions.col
    queries.VecIndex.reset()
    val full = queries.VecIndex.coarse(spark, sf)
    val fullPq = queries.VecIndex.pq(spark, sf)
    val wantLists = full.lists.collect().map(_.toString).sorted.toSeq
    val wantCodes = fullPq.codes.collect().map(_.toString).sorted.toSeq
    // hold out every 7th vector: install the reduced index with the SAME
    // frozen centroids/codebooks (replace frees the displaced full
    // generation's storage), then append the holdout back in
    val reduced = queries.VecIndex.Coarse(full.cent,
      full.lists.filter(col("vec_id") % 7 =!= 0).localCheckpoint(true))
    val reducedPq = queries.VecIndex.Pq(fullPq.codebooks,
      fullPq.codes.filter(col("vec_id") % 7 =!= 0).localCheckpoint(true))
    queries.VecIndex.replace(spark, sf, reduced, reducedPq)
    val holdout = queries.Tables(spark, sf, "embeddings")
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("embedding"))
    queries.VecIndex.append(spark, sf, holdout)
    // deterministic assignment/encode against frozen artifacts ⇒ the
    // appended index is row-identical to building from the full corpus
    assert(queries.VecIndex.coarse(spark, sf).lists.collect().map(_.toString).sorted.toSeq
      == wantLists, "appended inverted lists diverge from the full build")
    assert(queries.VecIndex.pq(spark, sf).codes.collect().map(_.toString).sorted.toSeq
      == wantCodes, "appended PQ codes diverge from the full build")
    // no retraining: the installed centroid/codebook frames are untouched
    assert(queries.VecIndex.coarse(spark, sf).cent eq full.cent)
    assert(queries.VecIndex.pq(spark, sf).codebooks eq fullPq.codebooks)
    // save/load round-trips the appended index
    val dirPath = queries.IngestQueries.scratchDir("graft_vecidx_app")
    try {
      queries.VecIndex.save(spark, sf, dirPath.toString)
      queries.VecIndex.reset()
      queries.VecIndex.load(spark, sf, dirPath.toString)
      assert(queries.VecIndex.coarse(spark, sf).lists.collect().map(_.toString).sorted.toSeq
        == wantLists, "appended index lost through the parquet round trip")
      assert(SparkEntry.queries("q37b_ann_ivfpq")(spark, sf).count() > 0)
    } finally {
      queries.VecIndex.reset()
      queries.Tables.freeCheckpoint(full.lists) // pre-install generation
      queries.Tables.freeCheckpoint(fullPq.codes)
    }
  }

  test("scripted_metric: closures run as a real distributed agg, exact result, merge-invariant") {
    import spark.implicits._
    // known series: group a has gaps 5,10,85 -> 85; group b has one row -> null
    val rows = Seq(("a", 100L), ("a", 105L), ("a", 115L), ("a", 200L), ("b", 42L))
      .toDF("k", "t")
    val out = rows.groupBy(col("k"))
      .agg(expr("scripted_metric('max_gap_ms', t)").as("g"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(out == Map("a" -> 85L, "b" -> null))
    // partition-layout invariance: serialized state crosses the shuffle and
    // combine/finish canonicalize, so any layout reduces identically
    val ev = queries.Tables(spark, sf, "events")
      .withColumn("ms", expr("unix_micros(ts) DIV 1000"))
    def run(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("event_type")
      .agg(expr("scripted_metric('max_gap_ms', ms)").as("g"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val one = run(ev.coalesce(1))
    val many = run(ev.repartition(7, col("event_id")))
    assert(one == many && one.nonEmpty)
    // unregistered programs fail fast with the registry listing
    val err = intercept[Exception] {
      rows.agg(expr("scripted_metric('nope', t)")).collect()
    }
    assert(err.getMessage.contains("unknown scripted_metric program"))
  }

  test("geohash encoding matches the published test vectors, native == chain") {
    import spark.implicits._
    // classic vectors from the geohash spec: (42.6, -5.6) -> ezs42...,
    // (57.64911, 10.40744) -> u4pruydqqvj
    val pts = Seq(
      (1L, Option(42.6), Option(-5.6)), (2L, Option(57.64911), Option(10.40744)),
      (3L, Option(Double.NaN), Option(1.0)), (4L, None: Option[Double], Option(1.0)))
      .toDF("id", "lat", "lon")
    val got = graft.functions.geohash.withGeohash(pts, "lat", "lon", "gh", 3)
      .orderBy("id").collect().map(_.getString(3))
    // NaN follows SQL comparison semantics (greater than everything) in
    // BOTH forms — the kernel uses !(x < mid) so Java agrees with the chain
    assert(got.take(2).toSeq == Seq("ezs", "u4p"))
    // null parity: both forms must return null for a null coordinate (the
    // chain used to encode it as all-low bits)
    assert(got(3) == null)
    val chainNaN = graft.functions.geohash.withGeohashChain(pts, "lat", "lon", "gh", 3)
      .orderBy("id").collect().map(_.getString(3))
    assert(got.toSeq == chainNaN.toSeq)
    // the native kernel must stay bit-equal to the chain (the executable
    // spec of the DuckDB mirror) — checked on real derived coordinates
    val ev = queries.Tables(spark, sf, "events")
      .withColumn("lat", (col("user_id") * 37 % 17000) / lit(100.0) - 85.0)
      .withColumn("lon", (col("user_id") * 91 % 36000) / lit(100.0) - 180.0)
      .select("lat", "lon").distinct()
    val native = graft.functions.geohash.withGeohash(ev, "lat", "lon", "gh", 3)
      .select("lat", "lon", "gh").collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getString(2)).toMap
    val chain = graft.functions.geohash.withGeohashChain(ev, "lat", "lon", "gh", 3)
      .select("lat", "lon", "gh").collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getString(2)).toMap
    assert(native == chain && native.nonEmpty)
  }

  test("zero-norm vector contract: ANSI raises; legacy NULL ranks last like DuckDB") {
    import spark.implicits._
    // The IVF/PQ oracles divide cosines as plain SQL division. This pins
    // why that agrees with Spark even for a degenerate zero-norm vector
    // (always 0/0 -- a zero norm forces a zero dot):
    //  - under the engine's pinned ANSI mode the division RAISES (a loud
    //    error, never a silently divergent row), and
    //  - under a legacy ansi=false override Spark's SQL division yields
    //    NULL, which sorts LAST in the (cos desc) window ordering --
    //    exactly DuckDB's NULLS-LAST DESC behavior, and NULL >= tau
    //    excludes the pair in both engines (q69's filter).
    val df = Seq(
      (1L, Seq.fill(4)(0.0)), // zero vector: nrm = 0, dot = 0
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.9, 0.1, 0.0, 0.0))).toDF("vec_id", "emb")
      .withColumn("nrm", functions.vectors.norm(col("emb")))
    val q = Seq((9L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("query_id", "qe")
      .withColumn("qn", functions.vectors.norm(col("qe")))
    def ranked() = df.crossJoin(broadcast(q))
      .withColumn("cos", functions.vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .select(col("vec_id"), col("cos"), col("rank"))
      .collect().sortBy(_.getInt(2))
    val raised = intercept[Exception] { ranked() }
    assert(raised.getMessage.contains("DIVIDE_BY_ZERO"), s"expected ANSI raise, got $raised")
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val r = ranked()
      assert(r(0).getLong(0) == 2L && r(0).getDouble(1) == 1.0)
      assert(r(2).getLong(0) == 1L && r(2).isNullAt(1),
        s"zero-norm vector must rank last with NULL cosine, got ${r.toSeq}")
      assert(df.crossJoin(broadcast(q))
        .withColumn("cos", functions.vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
        .filter(col("cos") >= 0.4).count() == 2)
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }
}
