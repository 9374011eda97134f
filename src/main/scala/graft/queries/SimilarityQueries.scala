package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{detsum, vectors}

/** Similarity search over the `embeddings` table.
  *
  * q35 is the exact baseline: cosine top-k with the (small) query set
  * broadcast, so the corpus streams once with no shuffle of the vectors —
  * at 100 TB this is a single scan + per-partition top-k + tiny final merge.
  * q36 is the scale path: random-hyperplane LSH buckets both sides, so each
  * query only scores its bucket's candidates. */
object SimilarityQueries {

  private def corpus(s: SparkSession, d: String): DataFrame = VecIndex.corpus(s, d)

  /** Exact cosine top-5 neighbors for query vectors (vec_id % 50 = 0). */
  private def q35(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val q = c.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rank").cast("long").as("rank"))
  }

  /** Multi-table RHP-LSH ANN: 8 independent 5-bit hyperplane tables; a
    * corpus vector and a query collide if they share a bucket in ANY table
    * (the standard L-table recall amplifier — one 8-bit table alone recalls
    * ~2% at this density; 8×5-bit reaches 0.48). The query side (queries × tables rows) broadcasts,
    * so the corpus streams once with no shuffle; multi-table duplicate hits
    * collapse in a map-side partial aggregate before ranking. Approximate
    * (recall measured in the spec) yet ORACLE-BACKED: the hyperplane
    * signs are data-independent constants, so the oracle inlines
    * the sign pattern as literal ± terms from the same XXH64 calls the
    * kernel makes and replays the identical left-associated projections. */
  private def q36(s: SparkSession, d: String): DataFrame = {
    val tables = 8
    val bits = 5
    // all 8 table buckets come from ONE native-kernel pass over the vector
    // (the per-table HOF form is bits interpreted folds × tables — measured
    // 4.8s → sub-second for this query at sf0.1); posexplode position = table
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("bkts", vectors.rhpBuckets(col("emb"), bits, tables, seedStride = 64))
        .select(col("*"), posexplode(col("bkts")).as(Seq("tbl", "bucket")))
        .drop("bkts")
    val c = corpus(s, d)
    val qb = bucketed(c.filter(col("vec_id") % 50 === 0))
      .select(col("vec_id").as("query_id"), col("emb").as("qe"), col("nrm").as("qn"),
        col("tbl"), col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    bucketed(c)
      .join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(max(col("cos")).as("cos")) // same pair may hit in several tables
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      // cos emitted UNROUNDED (the q35 convention): native round(x,6)
      // diverges between engines on .5-boundary doubles, and the raw
      // cosine is already the identical IEEE value in both
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Score `side` against the (literal) centroid frame with cosine. */
  private def centScored(side: DataFrame, cent: DataFrame): DataFrame =
    side.crossJoin(broadcast(cent))
      .withColumn("ccos", vectors.dot(col("emb"), col("cemb")) / (col("nrm") * col("cnrm")))

  /** Every (query, list) pair with the list's rank in the query's centroid
    * ordering — the full nprobe ladder, windowed over the (tiny) query set
    * only. Shared by [[queryProbes]] and the AnnRecall sweep tool (recall
    * at nprobe p is exactly the fraction of brute-force neighbors whose
    * list has crank ≤ p, because within-candidate ranking is exact). */
  private[graft] def queryCentroidRanks(idx: VecIndex.Coarse): DataFrame = {
    val q = idx.lists.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("emb"), col("nrm"))
    val qw = Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("list_id").asc)
    centScored(q, idx.cent)
      .withColumn("crank", row_number().over(qw))
  }

  /** Query vectors (vec_id % 50 = 0) with their `nprobe` nearest lists — a
    * window over the (tiny) query set only. */
  private def queryProbes(idx: VecIndex.Coarse, nprobe: Int = 3): DataFrame =
    queryCentroidRanks(idx)
      .filter(col("crank") <= nprobe)
      .select(col("list_id"), col("query_id"), col("emb").as("qe"), col("nrm").as("qn"))

  /** IVF ANN: coarse quantizer = unsupervised k-means
    * ([[graft.operators.KMeans]] — deterministic Lloyd's, nlists from the
    * √-corpus rule [[VecIndex.nlistsFor]], 5 rounds); every vector is
    * assigned to its nearest centroid (inverted list); queries probe the 3
    * nearest lists only. At corpus scale each list is a partition-pruned
    * slice — the classic IVF trade of recall for a ~nprobe/nlists scan
    * fraction, which the nlists rule keeps shrinking ≈1/√n. The index (centroids + inverted
    * lists) is built ONCE by [[VecIndex.coarse]] and shared with q37b —
    * the search plan sees only the literal centroid frame and the
    * materialized lists. Oracle-backed: VecOracle replays the whole index
    * training in DuckDB SQL (the spec additionally measures recall). */
  private def ivfSearch(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val idx = VecIndex.coarse(s, d)
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    idx.lists.join(broadcast(queryProbes(idx, nprobe)), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        detsum.roundDet(col("cos"), 6).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  private def q37(s: SparkSession, d: String): DataFrame = ivfSearch(s, d, nprobe = 3)

  /** The HIGH-RECALL IVF configuration (ES kNN parity is a recall claim:
    * Lucene HNSW serves ~0.9+; the default 3-probe IVF measures 0.585).
    * nprobe comes from [[highRecallNprobeFor]]: the committed-sweep floor
    * of 8 (smallest depth clearing 0.9 recall@5 on EVERY committed SF —
    * 0.960 / 1.000 / 0.915, sf0.1 binds; SketchSpec gates it) joined to a
    * FIXED ≥0.25 scan fraction as nlists grows under the
    * [[VecIndex.nlistsFor]] √-corpus rule. What that fraction buys
    * depends on corpus clusterability: ANN_RECALL.md measures both the
    * isotropic floor (decorrelated derivation — recall ~fraction, the
    * information-theoretic limit of structureless vectors) and the
    * clustered regime IVF exists for (mixture-of-Gaussians derivation —
    * recall ≥0.9 at fraction 0.25, gated in SketchSpec on an in-spec
    * clustered corpus). */
  private def q37c(s: SparkSession, d: String): DataFrame =
    // nprobe from the trained index's own nlists (train-once cached; the
    // centroid count is k rows) — the fixed-scan-fraction rule
    ivfSearch(s, d,
      nprobe = highRecallNprobeFor(VecIndex.coarse(s, d).cent.count().toInt))

  /** ES 8 filtered kNN (`knn` with `filter`): the IVF 3-probe search with a
    * per-query SAME-label predicate on the candidates — the "nearest
    * neighbors within a category" production shape (faceted / access-
    * controlled vector search). With inverted lists the filter applies to
    * the probed candidates before ranking (the FAISS IDSelector
    * convention; Lucene's HNSW instead does filter-aware traversal — same
    * contract, different index). Labels ride a key join against the raw
    * table, so the trained index artifact stays label-free and is the
    * SAME train-once index q37/q37b share; recall for rare labels
    * degrades with post-filtering — the documented IVF trade (raise
    * nprobe for selective filters at scale). */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val idx = VecIndex.coarse(s, d)
    val labels = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    // probes (queries × 3 lists) pick up their query's label: broadcast the
    // tiny probe frame, stream the label table past it
    val probes = labels
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
      .join(broadcast(queryProbes(idx)), Seq("query_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    idx.lists.join(labels, Seq("vec_id"))
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id") && col("label") === col("qlabel"))
      .withColumn("cos", vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("qlabel").as("label"), col("vec_id").as("neighbor_id"),
        detsum.roundDet(col("cos"), 6).as("cos"), col("rank").cast("long").as("rank"))
  }

  /** The `knn` SECTION of the ES 8.x `_search` body compiled onto the
    * train-once IVF index — the front door for q37c/q85's machinery, fed
    * by REQUEST-CARRIED query vectors (each clause's `query_vector` is a
    * JSON literal; norms come from the index's own kernel, so a vector
    * equal to a stored embedding scores bit-identically to the typed
    * pipeline). `num_candidates` maps to probe depth the IVF way:
    * nprobe = clamp(ceil(num_candidates / avgListSize), 1, nlists) —
    * "consider this many nearest candidates" read against inverted lists.
    * Each clause's optional `filter` is a standard filter-context DSL
    * query over the vector frame's schema-derived catalog, applied to
    * probed candidates BEFORE ranking (the FAISS IDSelector convention —
    * q85's contract; ES's Lucene-HNSW filter-aware traversal is the same
    * contract on a different index). Output: (knn_idx, rank, neighbor_id,
    * cos), knn_idx = clause array position. Scale shape: the clause frame
    * (clauses × dims) broadcasts; the corpus pays ~nprobe/nlists of one
    * scan; the trained artifact stays label-free and is the SAME
    * train-once index q37/q37b/q85 share. */
  private[graft] def dslKnn(s: SparkSession, d: String,
      body: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
    import org.apache.spark.sql.types._
    val clauses = QueryDsl.knnClauses(body)
    val emb = Tables(s, d, "embeddings")
    implicit val cat: QueryDsl.Catalog = QueryDsl.catalogOf(emb)
    clauses.foreach { c =>
      require(c.field == "embedding", s"query DSL: knn field must be 'embedding', got '${c.field}'")
      require(c.vector.size == 64, s"query DSL: knn query_vector must be 64-dim, got ${c.vector.size}")
    }
    val idx = VecIndex.coarse(s, d)
    val nlists = idx.cent.count()
    val n = emb.count() // parquet footer count — no scan
    def nprobeOf(nc: Int): Int =
      math.min(nlists, math.max(1L, math.ceil(nc.toDouble * nlists / n).toLong)).toInt
    val q0 = s.createDataFrame(
      java.util.Arrays.asList(clauses.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i.toLong, c.vector) }: _*),
      StructType(Seq(
        StructField("knn_idx", LongType, nullable = false),
        StructField("qe", ArrayType(DoubleType, containsNull = false), nullable = false))))
      .withColumn("qn", vectors.norm(col("qe")))
    val npMap = map(clauses.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(i.toLong), lit(nprobeOf(c.numCandidates))) }: _*)
    val kMap = map(clauses.zipWithIndex.flatMap { case (c, i) =>
      Seq(lit(i.toLong), lit(c.k)) }: _*)
    val qw = Window.partitionBy(col("knn_idx")).orderBy(col("ccos").desc, col("list_id").asc)
    val probes = q0.crossJoin(broadcast(idx.cent))
      .withColumn("ccos", vectors.dot(col("qe"), col("cemb")) / (col("qn") * col("cnrm")))
      .withColumn("crank", row_number().over(qw))
      .filter(col("crank") <= element_at(npMap, col("knn_idx")))
      .select(col("list_id"), col("knn_idx"), col("qe"), col("qn"))
    // candidate attributes the clause filters may address — the catalog
    // columns ride a key join so the index artifact stays attribute-free
    val attrCols = emb.schema.fields.collect {
      case f if (cat.longs(f.name) || cat.strings(f.name)) && f.name != "vec_id" => f.name }.toSeq
    val cands0 = idx.lists.join(broadcast(probes), Seq("list_id"))
    val cands =
      if (attrCols.isEmpty) cands0
      else cands0.join(emb.select((col("vec_id") +: attrCols.map(col)): _*), Seq("vec_id"))
    val filterPred = clauses.zipWithIndex.map { case (c, i) =>
      val p = c.filter.map(f => QueryDsl.compile(f).pred).getOrElse(lit(true))
      (col("knn_idx") === lit(i.toLong)) && p
    }.reduce(_ || _)
    val w = Window.partitionBy(col("knn_idx")).orderBy(col("cos").desc, col("vec_id").asc)
    cands.filter(filterPred)
      .withColumn("cos", vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= element_at(kMap, col("knn_idx")))
      .select(col("knn_idx"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"), detsum.roundDet(col("cos"), 6).as("cos"))
  }

  /** q156's fixed query-vector sources: members of the typed q85 query set
    * (vec_id % 50 = 0), so the front-door run is provably row-identical to
    * the typed filtered-kNN pipeline for these ids. */
  private[graft] val KnnSrcIds = Seq(0L, 50L, 100L, 150L)

  /** q156 registry body: builds the LITERAL JSON request — each clause
    * carries its query vector verbatim (Double.toString round-trips
    * exactly through the JSON parser) plus q85's same-label filter with
    * the source vector excluded the ES way (a must_not ids-style term —
    * the request can say "not this doc", the engine has no self notion),
    * then compiles it through [[dslKnn]]. num_candidates = floor(3·n/
    * nlists) — the LARGEST value whose nprobe clamp ceil(nc·nlists/n)
    * resolves to exactly 3 (the round-16 ceil form double-rounded to 4
    * whenever nlists ∤ 3n; floor(3n/nlists) > 2n/nlists holds whenever
    * the average list size is ≥ 1, so the clamp can't fall to 2), making
    * the compiled probe depth the typed 3-probe at any corpus size. */
  private def q156(s: SparkSession, d: String): DataFrame = {
    val emb = Tables(s, d, "embeddings")
    val idx = VecIndex.coarse(s, d)
    val nlists = idx.cent.count()
    val n = emb.count()
    val numCand = 3L * n / nlists
    val sel = emb.filter(col("vec_id").isin(KnnSrcIds: _*))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        vectors.toDoubleArr(col("embedding")).as("emb"))
      .collect().sortBy(_.getAs[Long]("vec_id"))
    require(sel.length == KnnSrcIds.length, s"missing knn source vectors: got ${sel.length}")
    val clauses = sel.map { r =>
      val vec = r.getSeq[Double](r.fieldIndex("emb"))
        .map(java.lang.Double.toString).mkString("[", ",", "]")
      s"""{"field": "embedding", "k": 5, "num_candidates": $numCand,
         |  "query_vector": $vec,
         |  "filter": {"bool": {
         |    "must": [{"term": {"label": ${r.getAs[Long]("label")}}}],
         |    "must_not": [{"term": {"vec_id": ${r.getAs[Long]("vec_id")}}}]}}}""".stripMargin
    }.mkString("[", ",\n", "]")
    dslKnn(s, d, QueryDsl.parse(s"""{"knn": $clauses}"""))
  }

  /** Int8 scalar quantization of embeddings + reconstruction-error audit —
    * the compression step a vector store runs before indexing (FAISS SQ8
    * shape). Per-vector scale = max|x|/127; q = round(x/scale); errors are
    * measured against the dequantized vector. Pure elementwise HOF algebra
    * (identical op sequence in DuckDB), with the MSE summed via the detsum
    * recipe (per-term rounding, exact integer sum) so it is order-free. */
  private def q58(s: SparkSession, d: String): DataFrame = {
    Tables(s, d, "embeddings")
      .repartition(col("vec_id"))
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
      .withColumn("scale",
        greatest(aggregate(col("emb"), lit(0.0), (acc, x) => greatest(acc, abs(x))), lit(1e-12)) / 127.0)
      .withColumn("err", transform(col("emb"), x => abs(x - round(x / col("scale")) * col("scale"))))
      .select(
        col("vec_id"),
        round(col("scale"), 9).as("scale"),
        round(aggregate(col("err"), lit(0.0), (acc, e) => greatest(acc, e)), 9).as("max_abs_err"),
        (aggregate(col("err"), lit(0L), (acc, e) => acc + round(e * e * 1e15).cast("long")).cast("double")
          / 1e15 / 64.0).as("mse"))
  }

  /** IVF-PQ (the FAISS IVFADC shape): the IVF coarse quantizer prunes the
    * scan to the 3 probed lists, and within them distances are ASYMMETRIC —
    * computed against PQ-coded vectors (8 one-byte codes), never the raw
    * embeddings. Per query the classic ADC lookup table (queries × 8 subs ×
    * 16 codes of `dot(q_sub, centroid)`) broadcasts; the scan touches only
    * the (vec_id, sub, code) table, so at 100 TB the hot working set is the
    * 8-byte codes — 64 doubles never leave the index build. approx cosine =
    * Σ_sub LUT(q, sub, code) / (‖q‖·‖recon‖), both sums detsum'd (order-free
    * across the 8 subspace partials). The ENTIRE index is shared: coarse
    * quantizer + inverted lists with q37 ([[VecIndex.coarse]]), PQ
    * codebooks + code table with q58b ([[VecIndex.pq]]) — this query trains
    * nothing. Oracle-backed: the VecOracle coarse+PQ replay mirrors training,
    * encode, LUT, ADC scan and refine op-for-op (the spec additionally
    * measures recall against brute force). */
  private def q37b(s: SparkSession, d: String): DataFrame = {
    val idx = VecIndex.coarse(s, d)
    val pqIdx = VecIndex.pq(s, d)
    val corpusLists = idx.lists.select(col("list_id"), col("vec_id"))
    val q = idx.lists.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("emb"), col("nrm"))
    val probes = queryProbes(idx).select(col("list_id"), col("query_id"))
    val lut = VecIndex.subvectors(q.select(col("query_id").as("id"), col("emb")))
      .join(broadcast(pqIdx.codebooks), Seq("grp"))
      .select(col("id").as("query_id"), col("grp"),
        col("list_id").as("code"), vectors.dot(col("emb"), col("cemb")).as("pdot"))
    // ADC scan: candidates (list probe) → their codes → LUT sum. Ranking by
    // adot/√recon2 is order-identical to the approx cosine (the ‖q‖ divisor
    // is constant per query)
    val aw = Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("vec_id").asc)
    val adcTop = corpusLists.join(broadcast(probes), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(pqIdx.codes.select(col("vec_id"), col("grp"), col("code"), col("c2")), Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "grp", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(
        detsum.sumDet(col("pdot"), 9).as("adot"),
        detsum.sumDet(col("c2"), 9).as("recon2"))
      .withColumn("acos", col("adot") / sqrt(col("recon2")))
      .withColumn("arank", row_number().over(aw))
      .filter(col("arank") <= 40)
      .select(col("query_id"), col("vec_id"))
    // REFINE (FAISS's refine stage): the ADC shortlist — 40 ids per query,
    // not the probed lists — fetches raw vectors once (from the inverted
    // lists, which store them — the IVFFlat layout) for an exact re-rank.
    // Rank on the UNROUNDED cosine (like q35/q36/q37); round for display only.
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    adcTop
      .join(idx.lists.select(col("vec_id"), col("emb"), col("nrm")), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("emb").as("qe"), col("nrm").as("qn"))),
        Seq("query_id"))
      .withColumn("cos", vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        detsum.roundDet(col("cos"), 6).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Product quantization (the FAISS PQ codebook shape): 64 dims → 8
    * subspaces × 8 dims; an independent 16-centroid codebook per subspace,
    * all 8 trained in ONE distributed pass by [[graft.operators.KMeans
    * .fitGrouped]] (grouped Lloyd's, squared-L2). Each vector encodes as 8
    * one-byte codes — 64 doubles to 8 bytes — and the output reports, per
    * (vec_id, subspace), the chosen code and that subspace's squared
    * reconstruction error (fixed-order sum — deterministic). Training and
    * encoding happen ONCE in [[VecIndex.pq]] (shared with q37b's ADC
    * search); this query is a projection of the materialized code table.
    * Oracle-backed: VecOracle.pqPrefix replays the grouped trainer and the
    * encode in DuckDB SQL; the spec additionally checks determinism across
    * partitionings and that PQ reconstruction beats the one-centroid
    * baseline. */
  private def q58b(s: SparkSession, d: String): DataFrame =
    VecIndex.pq(s, d).codes.select(
      col("vec_id"),
      col("grp").cast("long").as("sub"),
      col("code").cast("long").as("code"),
      col("sub_sq_err"))

  /** Per-label embedding statistics (norm distribution) — the sanity pass a
    * vector pipeline runs before indexing. */
  private def q52(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("label"), vectors.toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", vectors.norm(col("emb")))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        detsum.sumDet(col("nrm"), 6).as("sum_norm"))
      .withColumn("avg_norm", round(col("sum_norm") / col("n_vecs"), 6))

  /** Cluster-balanced sampling (the DataComp-style diversity sampler): the
    * IVF coarse lists ARE the embedding-space clusters, so a deterministic
    * hash-ordered cap per list downsamples dense regions and keeps coverage
    * of the embedding space even — the curation step between near-dup
    * removal and training-mix planning. Per-list window only (state bounded
    * by the cap); reuses the train-once index, no extra training job.
    * Oracle-backed via the VecOracle coarse replay; the spec additionally
    * pins the per-cluster cap arithmetic and determinism. */
  private def q68(s: SparkSession, d: String): DataFrame = {
    val cap = 40
    val lists = VecIndex.coarse(s, d).lists.select(col("list_id"), col("vec_id"))
    val w = Window.partitionBy(col("list_id"))
      .orderBy(md5(col("vec_id").cast("string").cast("binary")).asc, col("vec_id").asc)
    // one scan: the windowed frame already carries everything, and the
    // groupBy reuses the window's hash partitioning — no join, no re-scan
    lists.withColumn("rn", row_number().over(w))
      .groupBy(col("list_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        count(when(col("rn") <= cap, 1)).as("n_kept"),
        min(when(col("rn") <= cap, col("vec_id"))).as("first_kept"))
      .select(col("list_id").cast("long").as("list_id"),
        col("n_vecs"), col("n_kept"), col("first_kept"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup removal
    * in embedding space. Cluster with the train-once IVF quantizer (the
    * paper's k-means step — no extra training job), compare pairs ONLY
    * within a cluster, and drop every vector that has an earlier (lower-id)
    * same-cluster neighbor at cosine ≥ τ — the paper's keep-one-per-group
    * rule. The pairwise work is an equi-join on list_id, so cost is
    * Σ(listᵢ²), never corpus²; at 100 TB you raise k so lists stay bounded
    * and the join stays a spillable sort-merge. Oracle-backed via the
    * VecOracle coarse replay; the spec recomputes the rule by brute force. */
  private def q69(s: SparkSession, d: String): DataFrame = {
    val tau = 0.4
    val lists = VecIndex.coarse(s, d).lists
    val a = lists.select(col("list_id"), col("vec_id").as("id_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val b = lists.select(col("list_id"), col("vec_id").as("id_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val dups = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", vectors.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b").as("vec_id"))
      // dup_of is the ARGMAX-cos neighbor (ties → smaller id), so the two
      // output columns describe the same pair — a min(id_a) here could name
      // a different neighbor than the one max_sim was measured against
      .agg(
        detsum.roundDet(max(col("cos")), 6).as("max_sim"),
        max_by(col("id_a"), struct(col("cos"), (-col("id_a")).as("neg"))).as("dup_of"))
    lists.select(col("vec_id"), col("list_id").cast("long").as("list_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        col("dup_of").isNull.as("keep"), col("dup_of"), col("max_sim"))
  }

  /** q37c's probe-depth rule: nprobe = max(8, ⌈nlists/4⌉) — the committed
    * floor (ANN_RECALL.md's sweep: 8 is the smallest depth clearing 0.9 on
    * every committed SF, where nlists sits at its own floor of 10) joined
    * to a FIXED ≥0.25 scan fraction as nlists grows under the √n rule.
    * A pinned nprobe of 8 would shrink q37c's scan fraction ≈1/√n beyond
    * the 10× derivation and leave the ≥0.9 recall contract unverified at
    * larger scales; the ceil-div keeps the fraction
    * constant (10→8/10, 32→8/32=0.25, 102→26/102≈0.255) — and recall at
    * fixed fraction on clustered data is what the committed clustered
    * sweep + SketchSpec gate measure. Integer arithmetic ((k+3)/4), so
    * the DuckDB rendering below is bit-identical. At every committed SF
    * nlists = 10 ⇒ nprobe = 8: all committed oracle artifacts unchanged. */
  private[graft] def highRecallNprobeFor(nlists: Int): Int =
    math.max(8, (nlists + 3) / 4)

  /** The rule's DuckDB rendering — a scalar subquery over the replayed
    * `cent` table, so the oracle derives nprobe from the SAME trained
    * index it replays. */
  private[graft] val highRecallNprobeSql: String =
    "(SELECT GREATEST(8, (COUNT(*) + 3) // 4) FROM cent)"

  /** ES `script_score` query (named surface next to q85's top-level knn):
    * the documented dense-vector pattern — a FILTER-context wrapped query
    * (vec_id % 3 = 1, ES's "restrict the scored set" idiom) re-scored by
    * `cosineSimilarity(params.query_vector, 'embedding') + 1.0` (the +1
    * keeps ES's non-negative-score contract), top 20. The query vector
    * (vec_id 0) broadcasts as a 1-row frame, so the corpus streams once
    * with no vector shuffle (the q35 discipline); cosine is the shared
    * exact kernel, the +1.0 one IEEE add — emitted UNROUNDED (the q35
    * convention). */
  private def q122(s: SparkSession, d: String): DataFrame = {
    val c = corpus(s, d)
    val qv = c.filter(col("vec_id") === 0)
      .select(col("emb").as("qe"), col("nrm").as("qn"))
    c.filter(col("vec_id") % 3 === 1)
      .crossJoin(broadcast(qv))
      .withColumn("score",
        vectors.dot(col("emb"), col("qe")) / (col("nrm") * col("qn")) + lit(1.0))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id"), col("score"), col("rank"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_script_score" -> (q122 _),
    "q37c_ann_ivf_highrecall" -> (q37c _),
    "q68_cluster_balanced_sample" -> (q68 _),
    "q69_semdedup" -> (q69 _),
    // always-on index maintenance: the holdout quarter of the corpus
    // arrives as a stream, each micro-batch appends against the frozen
    // artifacts; rows-only — the spec pins row-identity to the batch build
    "st12_stream_index_append" -> ((s: SparkSession, d: String) =>
      graft.streaming.VecStream.streamingIndexAppend(s, d, "st12_mem")),
    "q35_ann_bruteforce" -> (q35 _),
    "q36_ann_lsh" -> (q36 _),
    "q37_ann_ivf" -> (q37 _),
    "q37b_ann_ivfpq" -> (q37b _),
    "q85_knn_filtered" -> (q85 _),
    "q156_dsl_knn" -> (q156 _),
    "q52_embedding_stats" -> (q52 _),
    "q58_embedding_quantize" -> (q58 _),
    "q58b_pq_quantize" -> (q58b _))

  /** DuckDB mirror of [[queryProbes]] — the 3-nearest-lists replay over a
    * `q` CTE exposing (query_id, qe, qn, extras…). ONE definition shared by
    * the q37 and q85 oracles, exactly like the Spark side shares
    * queryProbes (q37b keeps its own probes: its q CTE carries raw emb/nrm
    * for the ADC refine instead). */
  private def probesCteSql(extras: Seq[String], nprobeSql: String = "3"): String = {
    val outer = extras.map(c => s", $c").mkString
    val inner = extras.map(c => s", q.$c").mkString
    s"""probes AS (
       |  SELECT list_id, query_id, qe, qn$outer FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, list_id ASC) AS crank
       |    FROM (SELECT c.list_id, q.query_id, q.qe, q.qn$inner,
       |                 (${vectors.dotSql("q.qe", "c.cemb", 64)}) / (q.qn * c.cnrm) AS ccos
       |          FROM q CROSS JOIN cent c)
       |  ) WHERE crank <= $nprobeSql
       |)""".stripMargin
  }

  /** DuckDB mirror of [[ivfSearch]] — ONE generator for the q37 and q37c
    * oracles (the Spark side shares ivfSearch the same way). `nprobeSql`
    * is a SQL expression so q37c can derive its depth from the replayed
    * index's own nlists, exactly as the Spark side does. */
  private def ivfOracleSql(nprobeSql: String): String =
    s"""${VecOracle.coarsePrefix},
       |q AS (SELECT vec_id AS query_id, emb AS qe, nrm AS qn FROM lists WHERE vec_id % 50 = 0),
       |${probesCteSql(Nil, nprobeSql)}
       |SELECT query_id, vec_id AS neighbor_id, ${detsum.roundDetSql("cos", 6)} AS cos, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
       |  FROM (SELECT p.query_id, l.vec_id,
       |               (${vectors.dotSql("l.emb", "p.qe", 64)}) / (l.nrm * p.qn) AS cos
       |        FROM lists l JOIN probes p ON l.list_id = p.list_id
       |        WHERE l.vec_id <> p.query_id)
       |) WHERE rank <= 5""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // ---- the IVF/PQ family: VecOracle replays index TRAINING in SQL ----
    "q37_ann_ivf" -> ivfOracleSql("3"),
    "q37c_ann_ivf_highrecall" -> ivfOracleSql(highRecallNprobeSql),
    "q85_knn_filtered" -> s"""${VecOracle.coarsePrefix},
      |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
      |q AS (
      |  SELECT l.vec_id AS query_id, l.emb AS qe, l.nrm AS qn, lab.label AS qlabel
      |  FROM lists l JOIN lab ON l.vec_id = lab.vec_id WHERE l.vec_id % 50 = 0
      |),
      |${probesCteSql(Seq("qlabel"))}
      |SELECT query_id, qlabel AS label, vec_id AS neighbor_id, ${detsum.roundDetSql("cos", 6)} AS cos, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM (SELECT p.query_id, p.qlabel, l.vec_id,
      |               (${vectors.dotSql("l.emb", "p.qe", 64)}) / (l.nrm * p.qn) AS cos
      |        FROM lists l JOIN lab ON l.vec_id = lab.vec_id
      |                     JOIN probes p ON l.list_id = p.list_id
      |        WHERE l.vec_id <> p.query_id AND lab.label = p.qlabel)
      |) WHERE rank <= 5""".stripMargin,
    // q156: the front-door knn replay — the oracle rebuilds the request's
    // derivations itself (query vectors = the stored embeddings of the
    // fixed source ids; num_candidates = ceil(3·n/nlists); nprobe = the
    // dispatcher's clamp(ceil(nc·nlists/n))) over the SAME retrained
    // index, then runs q85's filtered search restricted to those sources.
    "q156_dsl_knn" -> s"""${VecOracle.coarsePrefix},
      |sel(knn_idx, vid) AS (
      |  VALUES (CAST(0 AS BIGINT), CAST(0 AS BIGINT)), (1, 50), (2, 100), (3, 150)
      |),
      |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
      |np AS (
      |  SELECT LEAST((SELECT COUNT(*) FROM cent),
      |               GREATEST(1, CAST(ceil(
      |                 ceil(3.0 * (SELECT COUNT(*) FROM lists) / (SELECT COUNT(*) FROM cent))
      |                 * (SELECT COUNT(*) FROM cent) / (SELECT COUNT(*) FROM lists)) AS BIGINT))) AS v
      |),
      |q AS (
      |  SELECT sel.knn_idx, sel.vid AS src_vid, l.emb AS qe, l.nrm AS qn, lab.label AS qlabel
      |  FROM sel JOIN lists l ON l.vec_id = sel.vid JOIN lab ON lab.vec_id = sel.vid
      |),
      |kprobes AS (
      |  SELECT knn_idx, list_id, qe, qn, qlabel, src_vid FROM (
      |    SELECT *, row_number() OVER (PARTITION BY knn_idx ORDER BY ccos DESC, list_id ASC) AS crank
      |    FROM (SELECT c.list_id, q.knn_idx, q.qe, q.qn, q.qlabel, q.src_vid,
      |                 (${vectors.dotSql("q.qe", "c.cemb", 64)}) / (q.qn * c.cnrm) AS ccos
      |          FROM q CROSS JOIN cent c)
      |  ) WHERE crank <= (SELECT v FROM np)
      |)
      |SELECT knn_idx, rank, vec_id AS neighbor_id, ${detsum.roundDetSql("cos", 6)} AS cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY knn_idx ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM (SELECT p.knn_idx, l.vec_id,
      |               (${vectors.dotSql("l.emb", "p.qe", 64)}) / (l.nrm * p.qn) AS cos
      |        FROM lists l JOIN lab ON l.vec_id = lab.vec_id
      |             JOIN kprobes p ON l.list_id = p.list_id
      |        WHERE lab.label = p.qlabel AND l.vec_id <> p.src_vid)
      |) WHERE rank <= 5""".stripMargin,
    "q68_cluster_balanced_sample" -> s"""${VecOracle.coarsePrefix}
      |SELECT CAST(list_id AS BIGINT) AS list_id, COUNT(*) AS n_vecs,
      |       COUNT(CASE WHEN rn <= 40 THEN 1 END) AS n_kept,
      |       MIN(CASE WHEN rn <= 40 THEN vec_id END) AS first_kept
      |FROM (SELECT list_id, vec_id,
      |             row_number() OVER (PARTITION BY list_id
      |               ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
      |      FROM lists)
      |GROUP BY list_id""".stripMargin,
    "q69_semdedup" -> s"""${VecOracle.coarsePrefix},
      |pairs AS (
      |  SELECT b.vec_id AS id_b, a.vec_id AS id_a,
      |         (${vectors.dotSql("a.emb", "b.emb", 64)}) / (a.nrm * b.nrm) AS cos
      |  FROM lists a JOIN lists b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      |),
      |dups AS (
      |  SELECT id_b AS vec_id, ${detsum.roundDetSql("cos", 6)} AS max_sim, id_a AS dup_of FROM (
      |    SELECT *, row_number() OVER (PARTITION BY id_b ORDER BY cos DESC, id_a ASC) AS rn
      |    -- a zero-norm pair is excluded identically in both engines: the
      |    -- SQL division yields NULL (ANSI Spark raises long before), and
      |    -- NULL >= tau filters out on both sides
      |    FROM pairs WHERE cos >= 0.4
      |  ) WHERE rn = 1
      |)
      |SELECT l.vec_id, CAST(l.list_id AS BIGINT) AS list_id,
      |       (d.dup_of IS NULL) AS keep, d.dup_of, d.max_sim
      |FROM lists l LEFT JOIN dups d ON l.vec_id = d.vec_id""".stripMargin,
    // st12 installs the FULL-corpus-trained artifacts, filters the lists
    // to the non-holdout part, then streams the holdout back in through
    // deterministic appends against the same frozen centroids — so the
    // maintained index is row-identical to the batch build and its
    // per-list occupancy is the coarse replay's lists, aggregated.
    "st12_stream_index_append" -> s"""${VecOracle.coarsePrefix}
      |SELECT CAST(list_id AS BIGINT) AS list_id, COUNT(*) AS n_vecs
      |FROM lists GROUP BY list_id""".stripMargin,
    "q58b_pq_quantize" -> s"""WITH ${VecOracle.pqPrefix}
      |SELECT vec_id, CAST(grp AS BIGINT) AS sub, CAST(code AS BIGINT) AS code, sub_sq_err
      |FROM pcodes""".stripMargin,
    "q37b_ann_ivfpq" -> s"""${VecOracle.coarsePrefix},
      |${VecOracle.pqPrefix},
      |q AS (SELECT vec_id AS query_id, emb, nrm FROM lists WHERE vec_id % 50 = 0),
      |probes AS (
      |  SELECT list_id, query_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, list_id ASC) AS crank
      |    FROM (SELECT c.list_id, q.query_id,
      |                 (${vectors.dotSql("q.emb", "c.cemb", 64)}) / (q.nrm * c.cnrm) AS ccos
      |          FROM q CROSS JOIN cent c)
      |  ) WHERE crank <= 3
      |),
      |lut AS (
      |  -- per-query ADC lookup table: dot(q_sub, centroid) per (sub, code)
      |  SELECT s.id AS query_id, s.grp, c.list_id AS code,
      |         (${vectors.dotSql("s.emb", "c.cemb", 8)}) AS pdot
      |  FROM sv s JOIN pcb c ON s.grp = c.grp WHERE s.id % 50 = 0
      |),
      |adc AS (
      |  -- codes-only asymmetric scan over the probed lists, top 40
      |  SELECT query_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY acos DESC, vec_id ASC) AS arank
      |    FROM (SELECT query_id, vec_id, adot / sqrt(recon2) AS acos FROM (
      |            SELECT l.query_id, cd.vec_id,
      |                   ${detsum.sumDetSql("l.pdot", 9)} AS adot,
      |                   ${detsum.sumDetSql("cd.c2", 9)} AS recon2
      |            FROM lists cl JOIN probes p ON cl.list_id = p.list_id
      |              JOIN pcodes cd ON cd.vec_id = cl.vec_id
      |              JOIN lut l ON l.query_id = p.query_id AND l.grp = cd.grp AND l.code = cd.code
      |            WHERE cl.vec_id <> p.query_id
      |            GROUP BY l.query_id, cd.vec_id))
      |  ) WHERE arank <= 40
      |)
      |SELECT query_id, vec_id AS neighbor_id, ${detsum.roundDetSql("cos", 6)} AS cos, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM (SELECT a.query_id, a.vec_id,
      |               (${vectors.dotSql("cl.emb", "q.emb", 64)}) / (cl.nrm * q.nrm) AS cos
      |        FROM adc a JOIN lists cl ON cl.vec_id = a.vec_id
      |          JOIN q ON q.query_id = a.query_id)
      |) WHERE rank <= 5""".stripMargin,
    "q36_ann_lsh" -> {
      // The hyperplane signs are DATA-INDEPENDENT constants (xxhash64 of
      // (table, bit, dim) — graft.plans.NativeKernels.rhpBuckets), so the
      // oracle need not compute the hash at all: the sign pattern is
      // inlined here as literal +/- terms FROM THE SAME XXH64 CALLS the
      // kernel makes, and the projection is the kernel's exact
      // left-associated accumulation (0.0 ± emb[1] ± emb[2] ...). One
      // source of truth, zero cross-engine hash dependence.
      import org.apache.spark.sql.catalyst.expressions.XXH64
      val (tables, bits, stride, dim) = (8, 5, 64, 64)
      def proj(t: Int, p: Int): String = {
        val hseed = XXH64.hashInt(t * stride + p, 42L)
        val terms = (0 until dim).map { i =>
          val pos = (XXH64.hashInt(i, hseed) & 1L) == 0L
          s"${if (pos) "+" else "-"} emb[${i + 1}]"
        }.mkString(" ")
        s"(0.0 $terms)"
      }
      def bucketExpr(t: Int): String =
        (0 until bits)
          .map(p => s"(CASE WHEN ${proj(t, p)} > 0.0 THEN ${1L << p} ELSE 0 END)")
          .mkString(" + ")
      val bkSelects = (0 until tables)
        .map(t => s"  SELECT vec_id, emb, nrm, $t AS tbl, ${bucketExpr(t)} AS bucket FROM n")
        .mkString("\n  UNION ALL\n")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${vectors.dotSql("emb", "emb", 64)}) AS nrm FROM e
         |),
         |bk AS MATERIALIZED (
         |$bkSelects
         |),
         |qs AS (SELECT * FROM bk WHERE vec_id % 50 = 0),
         |pair AS (
         |  SELECT qs.vec_id AS query_id, c.vec_id AS vec_id,
         |         MAX((${vectors.dotSql("c.emb", "qs.emb", 64)}) / (c.nrm * qs.nrm)) AS cos
         |  FROM bk c JOIN qs ON c.tbl = qs.tbl AND c.bucket = qs.bucket AND c.vec_id <> qs.vec_id
         |  GROUP BY 1, 2
         |),
         |ranked AS (
         |  SELECT query_id, vec_id, cos,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
         |  FROM pair
         |)
         |SELECT query_id, vec_id AS neighbor_id, cos, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin
    },
    "q58_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |),
        |s AS (
        |  SELECT vec_id, emb,
        |         GREATEST(list_aggregate(list_transform(emb, x -> abs(x)), 'max'), 1e-12) / 127.0 AS scale
        |  FROM e
        |),
        |r AS (
        |  SELECT vec_id, scale,
        |         list_transform(emb, x -> abs(x - round(x / scale) * scale)) AS err
        |  FROM s
        |)
        |SELECT vec_id, round(scale, 9) AS scale,
        |       round(list_aggregate(err, 'max'), 9) AS max_abs_err,
        |       CAST(list_sum(list_transform(err, e -> CAST(round(e * e * 1e15) AS BIGINT))) AS DOUBLE)
        |         / 1e15 / 64.0 AS mse
        |FROM r""".stripMargin,
    "q52_embedding_stats" -> {
      val det = graft.functions.detsum.sumDetSql("nrm", 6)
      s"""WITH n AS (
         |  SELECT label, sqrt(${vectors.dotSql("emb", "emb", 64)}) AS nrm
         |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         |),
         |g AS (
         |  SELECT label, COUNT(*) AS n_vecs, MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
         |         $det AS sum_norm
         |  FROM n GROUP BY label
         |)
         |SELECT label, n_vecs, min_norm, max_norm, sum_norm,
         |       round(sum_norm / n_vecs, 6) AS avg_norm FROM g""".stripMargin
    },
    "q122_script_score" -> {
      val cos = s"(${vectors.dotSql("c.emb", "q.emb", 64)}) / (c.nrm * q.nrm)"
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${vectors.dotSql("emb", "emb", 64)}) AS nrm FROM e
         |),
         |q AS (SELECT * FROM n WHERE vec_id = 0),
         |scored AS (
         |  SELECT c.vec_id AS vec_id, $cos + 1.0 AS score
         |  FROM n c, q WHERE c.vec_id % 3 = 1
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT vec_id, score, rank FROM ranked WHERE rank <= 20""".stripMargin
    },
    "q35_ann_bruteforce" -> {
      val cos = s"(${vectors.dotSql("c.emb", "q.emb", 64)}) / (c.nrm * q.nrm)"
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${vectors.dotSql("emb", "emb", 64)}) AS nrm FROM e
         |),
         |q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos
         |  FROM n c, q WHERE c.vec_id <> q.vec_id
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 5""".stripMargin
    })
}
