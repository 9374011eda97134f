package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{text, vectors}

/** Deduplication operators over `documents` / `embeddings`:
  * exact (hash), n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design: none of these enumerate O(n²) pairs blindly —
  * exact/MinHash/SimHash shuffle on a bucket key (fingerprint, band hash,
  * simhash chunk) so candidate generation is a bucket-local join; only the
  * verified-candidate set leaves the shuffle. */
object DedupQueries {

  /** Exact dedup: canonical keep-id per normalized-text fingerprint. */
  private def q30(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables(s, d, "documents")
      .withColumn("fp", md5(text.norm(col("text")).cast("binary")))
      .withColumn("keep_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("fp"), col("keep_id"), col("is_dup"))
  }

  /** Passage-level exact dedup — the boilerplate-removal granularity between
    * document hash (q30) and shingle overlap (q31): each doc splits into
    * fixed 20-word passages by pure array slicing (order-safe, zero shuffle
    * until the passage-hash groupBy), and passages appearing in more than
    * one document are reported with occurrence counts and a canonical doc.
    * At 100 TB the only shuffle key is the 16-byte passage hash. */
  private def q30b(s: SparkSession, d: String): DataFrame = {
    val P = 20
    Tables(s, d, "documents")
      .repartition(col("doc_id")) // single-file scan -> spread the split work
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("passages",
        transform(
          sequence(lit(0), ceil(size(col("ws")) / lit(P.toDouble)).cast("int") - 1),
          i => array_join(slice(col("ws"), i * P + 1, lit(P)), " ")))
      .select(col("doc_id"), explode(col("passages")).as("passage"))
      .groupBy(md5(col("passage").cast("binary")).as("passage_hash"))
      .agg(
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_docs") > 1)
  }

  /** CCNet/RefinedWeb-style DOCUMENT filter by duplicated-passage
    * fraction — the decision half of passage dedup (q30b finds the
    * duplicated cells; real curation pipelines then DROP documents that
    * are mostly boilerplate): per document, dup_frac = (passages whose
    * 20-word cell hash occurs in more than one distinct document) /
    * n_passages, and the operator reports the drop list (dup_frac ≥ 0.5,
    * top-100 by severity). Scale shape: the per-(doc, hash) frame
    * aggregates map-side (the stream is doc_id-partitioned) and is
    * materialized ONCE for both passes over it (the corpus is scanned
    * once); the duplicated-hash table and the rejoin key on the 16-byte
    * hash only; the final per-doc reduction keys on doc_id. Exact small
    * integer ratios — no floating-point hazards. */
  private def q30e(s: SparkSession, d: String): DataFrame = {
    val P = 20
    val ph = Tables(s, d, "documents")
      .repartition(col("doc_id")) // single-file scan -> spread the split work
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("passages",
        transform(
          sequence(lit(0), ceil(size(col("ws")) / lit(P.toDouble)).cast("int") - 1),
          i => array_join(slice(col("ws"), i * P + 1, lit(P)), " ")))
      .select(col("doc_id"), explode(col("passages")).as("passage"))
      .groupBy(col("doc_id"), md5(col("passage").cast("binary")).as("h"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // a hash is duplicated iff it appears under >1 distinct doc — rows in
    // ph are already per-(doc, hash), so COUNT(*) per hash IS n_docs
    val dup = ph.groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("h"), lit(1L).as("dup"))
    val result = ph.join(dup, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_passages"),
        coalesce(sum(when(col("dup").isNotNull, col("c"))), lit(0L)).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_passages").cast("double"))
      .filter(col("dup_frac") >= 0.5)
      .orderBy(col("dup_frac").desc, col("n_passages").desc, col("doc_id").asc)
      .limit(100)
    Tables.materializeAndFree(result, ph)
  }

  /** ROLLING-window span dedup — the exact-substring-dedup approximation
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): every 20-token window at stride 5 over the normalized token
    * stream is fingerprinted, and windows recurring across documents
    * surface as duplicated spans. Catches cross-doc boilerplate that
    * q30b's FIXED non-overlapping 20-word cells miss whenever the shared
    * text is offset by a few tokens (alignment-free up to the stride). At
    * 100 TB the only shuffle key is the 16-byte span hash (the q30b
    * discipline); the len/stride window fan-out happens inside the scan
    * stage, after the scan-spreading repartition. */
  private def q30c(s: SparkSession, d: String): DataFrame =
    spanAgg(strideSpans(tokenized(s, d)))

  /** The (doc_id, toks) frame both span-dedup variants window over. */
  private def tokenized(s: SparkSession, d: String): DataFrame =
    TextQueries.docsAnalyzed(s, d) // build-once analyzed artifact (doc_id-spread)
      .select(col("doc_id"), col("toks"))

  /** q30c's windows: every 20-token span at FIXED stride 5. Alignment-free
    * only up to the stride — two docs sharing a span at offsets that
    * differ by a non-multiple of 5 sample disjoint window phases and the
    * duplicate is invisible (DedupSpec constructs exactly this miss). */
  private[graft] def strideSpans(docsF: DataFrame): DataFrame =
    docsF
      .filter(size(col("toks")) >= W)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - lit(W - 1), lit(S))).as("j"),
        col("toks"))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), col("j"), lit(W)), " ").cast("binary")).as("span_hash"))

  /** q30d's windows: CONTENT-DEFINED anchors (the minimizer/winnowing fix
    * for the stride's phase blindness — Lee et al.'s suffix-array method
    * at full fidelity catches arbitrary offsets; this is its
    * shuffle-bounded approximation). A position j anchors iff
    * hash60(5-gram at j) ≡ 0 (mod 5) — a function of CONTENT only, so two
    * docs sharing a span select the same anchors inside it at ANY
    * alignment (every anchor whose 20-token window fits in the shared
    * region yields the identical span hash in both docs; a shared span of
    * L tokens carries ~(L−19)/5 expected anchors). Same expected 1/5
    * window density as the stride — the upgrade costs no extra fan-out,
    * and the shuffle key stays the 16-byte span hash. */
  private[graft] def anchorSpans(docsF: DataFrame): DataFrame =
    docsF
      .filter(size(col("toks")) >= W)
      .select(col("doc_id"),
        explode(filter(sequence(lit(1), size(col("toks")) - lit(W - 1)),
          j => graft.functions.vectors.hash60(
            array_join(slice(col("toks"), j, lit(K)), " ")) % lit(S.toLong) === 0)).as("j"),
        col("toks"))
      .select(col("doc_id"),
        md5(array_join(slice(col("toks"), col("j"), lit(W)), " ").cast("binary")).as("span_hash"))

  private val W = 20 // window tokens
  private val S = 5  // stride / anchor density
  private val K = 5  // anchor-gram tokens

  /** The shared tail: recurring-span surfacing over a (doc_id, span_hash)
    * stream — the only shuffle key is the 16-byte hash. */
  private[graft] def spanAgg(spans: DataFrame): DataFrame =
    spans
      .groupBy(col("span_hash"))
      .agg(
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("span_hash").asc)
      .limit(20)

  private def q30d(s: SparkSession, d: String): DataFrame =
    spanAgg(anchorSpans(tokenized(s, d)))

  /** Word-3-gram Jaccard pairs via capped posting lists
    * ([[graft.operators.NgramJaccard]]): only pairs sharing ≥1 sub-boilerplate
    * shingle are materialized, and no reducer sees more than dfCap² pair
    * fragments. Top 100 by similarity with full tiebreak. */
  private def q31(s: SparkSession, d: String): DataFrame = {
    // tokens from the build-once analyzed artifact (already doc_id-spread
    // and checkpointed) — no per-request tokenize/scan
    val docs = TextQueries.docsAnalyzed(s, d)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), array_distinct(text.shingles(col("toks"), 3)).as("sh"))
      .withColumn("n", size(col("sh")).cast("long"))
    graft.operators.NgramJaccard.sharedCounts(docs)
      .withColumn("jacc", col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .orderBy(col("jacc").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(100)
  }

  /** MinHash + LSH banding: 32-component signatures, 8 bands × 4 rows.
    * Candidates = pairs sharing ≥1 band bucket; verified by true Jaccard on
    * shingle sets. Bucket join means no O(n²) pair scan — the scale path.
    *
    * ORACLE-BACKED: the signature is the md5-based affine
    * family ([[graft.plans.NativeKernels.minhashSig]] — base = high 60 md5
    * bits mod 2³¹−1, h_j = (a_j·base+b_j) mod p), which DuckDB can compute
    * verbatim, and the band bucket is an md5 prefix of the component
    * string — so the ENTIRE sketch→band→candidate→verify pipeline is
    * hash-checked cross-engine, not just spec-tested. */
  private def q32(s: SparkSession, d: String): DataFrame = {
    val numHashes = 32
    val bands = 8
    val rowsPerBand = numHashes / bands
    // signature table is reused by the banding fan-out AND both verify-join
    // sides — persist it LAZILY (the first consumer materializes the cache;
    // an eager localCheckpoint here cost an extra full job, measured
    // 0.3-0.6 s at sf0.1) and free the blocks SYNCHRONOUSLY once the
    // top-100 result has materialized (materializeAndFree below), so
    // repeated harness invocations never pin storage
    val docs = TextQueries.docsAnalyzed(s, d)
      .select(col("doc_id"), array_distinct(text.shingles(col("toks"), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", text.minhashSignature(col("sh"), numHashes))
      .persist()
    // band buckets carry only (band, bucket, doc_id) through the shuffle —
    // the shingle arrays rejoin AFTER candidate pairs are deduplicated
    val banded = bandBuckets(docs, bands, rowsPerBand)
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val candidates = a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val result = candidates
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn(
        "jacc",
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jacc") >= 0.02)
      .select(col("doc_a"), col("doc_b"), round(col("jacc"), 6).as("jacc"))
      .orderBy(col("jacc").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(100)
    Tables.materializeAndFree(result, docs)
  }

  /** SimHash near-dup: 60-bit md5-based signatures; candidates share one of
    * four 15-bit chunks (pigeonhole: any pair within Hamming distance 3
    * shares a chunk); verified by Hamming ≤ 12. Oracle-backed: the
    * per-token hash is md5's first 15 hex chars, so DuckDB recomputes
    * the identical sketch, chunks, and distances. */
  private def q33(s: SparkSession, d: String): DataFrame = {
    val docs = TextQueries.docsAnalyzed(s, d)
      .select(col("doc_id"), text.simhash60(col("toks")).as("sim"))
      .persist() // lazy cache; blocks freed synchronously by materializeAndFree
    val chunked = docs.select(
      col("doc_id"), col("sim"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"), shiftright(col("sim"), c * 15).bitwiseAND(lit(0x7fffL)).as("ckey"))
      }: _*)).as("cc"))
      .select(col("doc_id"), col("sim"), col("cc.chunk"), col("cc.ckey"))
    val a = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    val result = a.join(b, Seq("chunk", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"))
      .distinct()
      .withColumn("hamming", text.hamming64(col("sim_a"), col("sim_b")).cast("long"))
      .filter(col("hamming") <= 12)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("hamming").asc, col("doc_a").asc, col("doc_b").asc)
      .limit(100)
    Tables.materializeAndFree(result, docs)
  }

  /** Embedding-cosine near-dup pairs (≥ 0.4) — EXACT all-pairs semantics,
    * distributed as a block-pair (triangle) join: vectors hash into B
    * blocks, each side joins a tiny B(B+1)/2-row block-pair table, and the
    * composite (blk_a, blk_b) equi-join lands every unordered block pair in
    * exactly one task. No corpus broadcast, no cartesian product; shuffle
    * volume is ~(B/2+1)× the narrow vector table and task memory is two
    * blocks (SMJ match buffers spill). The O(n²/2) cosine evaluations remain
    * because that IS the declared semantics: at cos 0.4 the per-hyperplane
    * collision probability is 1−θ/π ≈ 0.63, so any RHP banding with enough
    * tables for full recall emits MORE candidates than the exhaustive scan
    * (and on this corpus every qualifying pair lies in [0.40, 0.60] — there
    * is no high-cosine cluster for LSH to isolate). The sub-quadratic scale
    * paths are q34b (cell-blocked, SemDeDup-style) and q36 (LSH at a
    * threshold where the collision math prunes). */
  private def q34(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nBlocks = 16
    val e = Tables(s, d, "embeddings")
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", vectors.norm(col("emb")))
      .withColumn("blk", pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int"))
    val blockPairs = (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
      .toDF("blk_a", "blk_b")
    val a = e.select(col("blk").as("blk_a"), col("vec_id").as("id_a"), col("emb").as("ea"), col("nrm").as("na"))
      .join(broadcast(blockPairs), Seq("blk_a"))
    val b = e.select(col("blk").as("blk_b"), col("vec_id").as("id_b"), col("emb").as("eb"), col("nrm").as("nb"))
      .join(broadcast(blockPairs), Seq("blk_b"))
    a.join(b.hint("shuffle_merge"), Seq("blk_a", "blk_b"))
      // off-diagonal block pairs see each unordered pair once (in arbitrary
      // id order); diagonal blocks see both orderings — keep one
      .filter(col("blk_a") < col("blk_b") || col("id_a") < col("id_b"))
      .withColumn("cos", vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.4)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("cos"))
  }

  /** SemDeDup-style blocked embedding dedup — the sub-quadratic scale path
    * for q34's semantics: vectors are quantized into deterministic cells
    * (sign bits of the first 3 components — a fixed axis-aligned coarse
    * quantizer both engines compute identically) and near-dup pairs are
    * found WITHIN cells only. The cell key is the only shuffle key, so work
    * scales with Σ cell² not n²; widening the bit count shrinks cells. The
    * recall trade (cross-cell pairs missed) is the documented SemDeDup
    * approximation — exact within the declared blocking. */
  private def q34b(s: SparkSession, d: String): DataFrame = {
    val e = Tables(s, d, "embeddings")
      .repartition(col("vec_id")) // single-file scan -> spread the quantize
      .select(col("vec_id"), vectors.toDoubleArr(col("embedding")).as("emb"))
      .withColumn("nrm", vectors.norm(col("emb")))
      .withColumn("cell",
        (when(element_at(col("emb"), 1) > 0d, 4).otherwise(0) +
          when(element_at(col("emb"), 2) > 0d, 2).otherwise(0) +
          when(element_at(col("emb"), 3) > 0d, 1).otherwise(0)).cast("long"))
    val a = e.select(col("cell"), col("vec_id").as("id_a"), col("emb").as("ea"), col("nrm").as("na"))
    val b = e.select(col("cell"), col("vec_id").as("id_b"), col("emb").as("eb"), col("nrm").as("nb"))
    a.join(b.hint("shuffle_merge"), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", vectors.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.4)
      .select(col("cell"), col("id_a"), col("id_b"), col("cos"))
  }

  /** Dedup clusters: MinHash-LSH pairs (verified Jaccard ≥ 0.5) become
    * edges; connected components pick one canonical doc per group — the
    * final step of a real near-dup removal pipeline. Oracle-backed (the
    * md5-affine MinHash is engine-independent): DuckDB closes
    * the same edge set transitively with a recursive CTE. */
  private def q38(s: SparkSession, d: String): DataFrame = {
    val edges = q32(s, d).filter(col("jacc") >= 0.5).select(col("doc_a"), col("doc_b"))
    // pointerJump: the transitive-closure oracle demands FULL convergence,
    // and a long near-dup chain would exhaust plain propagation's maxIter
    graft.operators.ConnectedComponents.run(edges, pointerJump = true)
      .select(col("id").as("doc_id"), col("component").as("cluster_rep"))
      .orderBy(col("cluster_rep").asc, col("doc_id").asc)
  }

  /** Oracle-backed clustering: edges are the EXACT df-capped n-gram Jaccard
    * pairs ≥ 0.5 (the same pair semantics DuckDB can compute), resolved to
    * components by pointer-jumping CC. The DuckDB oracle closes the edge
    * relation transitively with a recursive CTE and takes the min reachable
    * id — so the distributed iterative algorithm is hash-checked against a
    * from-first-principles sequential answer. */
  private def q38b(s: SparkSession, d: String): DataFrame = {
    val docs = TextQueries.docsAnalyzed(s, d)
      .select(col("doc_id"), array_distinct(text.shingles(col("toks"), 3)).as("sh"))
      .withColumn("n", size(col("sh")).cast("long"))
    val edges = graft.operators.NgramJaccard.sharedCounts(docs)
      .withColumn("jacc", col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jacc") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    graft.operators.ConnectedComponents.run(edges, pointerJump = true)
      .select(col("id").as("doc_id"), col("component").as("cluster_rep"))
      .orderBy(col("cluster_rep").asc, col("doc_id").asc)
  }

  /** Canonical-document selection — the half of dedup that DECIDES which
    * copy survives (fineweb/dolma keep the best-scoring duplicate, not an
    * arbitrary one): q38b's exact near-dup clusters joined with q41's
    * quality rules, keeping the highest-quality member per cluster (ties
    * to the smaller doc_id) and reporting what was dropped. ONE quality
    * formula per side (TextQueries.qualityScore / q41Sql embedded as a
    * scoped subquery).
    *
    * Scale shape: the cluster table is dup-sized (≪ corpus) and the
    * quality frame is a per-doc projection — the join and the per-cluster
    * window both key on ids; nothing quadratic, no corpus re-shuffle
    * beyond q38b's own edge building. */
  private def q38c(s: SparkSession, d: String): DataFrame = {
    val qual = TextQueries.qualityScore(TextQueries.docsAnalyzed(s, d))
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster_rep"))
    q38b(s, d).join(qual, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("quality").desc, col("doc_id").asc)))
      .withColumn("n_members", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_rep"), col("n_members"),
        col("doc_id").as("keep_doc"), col("quality").as("keep_quality"),
        (col("n_members") - 1).as("n_dropped"))
      .orderBy(col("cluster_rep").asc)
  }

  /** The LSH banding fan-out — ONE definition shared by q32 (within-corpus
    * near-dup) and q54b (cross-corpus decontamination): per band, the
    * bucket key is the md5-prefix of "band,c1,..,cR" (concat_ws casts the
    * longs identically in both engines) — 16 hex chars keep the shuffle
    * key narrow at scale. Expects a (doc_id, sig) frame. */
  private def bandBuckets(sigDocs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigDocs.select(
      col("doc_id"),
      explode(array((0 until bands).map { bnd =>
        val sigRows = (1 to rowsPerBand).map(r => element_at(col("sig"), bnd * rowsPerBand + r))
        struct(
          lit(bnd).as("band"),
          substring(md5(concat_ws(",", lit(bnd) +: sigRows: _*).cast("binary")), 1, 16)
            .as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** FUZZY decontamination — q54's exact 3-gram membership test upgraded
    * to the near-duplicate similarity test real curation stacks run
    * against benchmark suites (the Lee et al./fineweb shape: exact overlap
    * misses a contaminated doc that paraphrases or truncates the
    * benchmark item): the benchmark set (doc_id % 29 == 0 — q54's
    * derivation at a denser rate: the %97 set has no near-dup partner in
    * the sf0.01 training corpus at all, which would make the whole fuzzy
    * stage vacuous there) is MinHash-LSH-banded against the TRAINING set (the
    * rest) with q32's signature/banding stack, candidates verified by
    * exact shingle Jaccard, and every training doc above the floor
    * reports its closest benchmark item (ties to the smaller bench id)
    * plus how many benchmark items it collided with.
    *
    * Scale shape: candidates form only ACROSS the corpus split — the
    * benchmark side of the band join is benchmark-sized (a few hundred
    * rows per million docs at the %29 rate; real benchmark suites are
    * fixed-size), so it BROADCASTS and the training corpus never
    * shuffles for the join at all — strictly cheaper than q32's
    * within-corpus band self-join. */
  private def q54b(s: SparkSession, d: String): DataFrame =
    fuzzyDecontam(Tables(s, d, "documents"))

  /** [[q54b]]'s pipeline over an arbitrary (doc_id, text) frame — split out
    * so DedupSpec can plant a contaminated/clean pair and prove the fuzzy
    * stage separates them. */
  private[graft] def fuzzyDecontam(raw: DataFrame): DataFrame = {
    val numHashes = 32
    val bands = 8
    val rowsPerBand = numHashes / bands
    val docs = raw
      .repartition(col("doc_id"))
      .select(col("doc_id"), array_distinct(text.shingles(text.tokens(col("text")), 3)).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", text.minhashSignature(col("sh"), numHashes))
      .persist()
    val banded = bandBuckets(docs, bands, rowsPerBand)
    val bench = banded.filter(col("doc_id") % 29 === 0)
      .select(col("band"), col("bucket"), col("doc_id").as("bench_id"))
    val cand = banded.filter(col("doc_id") % 29 =!= 0)
      .join(broadcast(bench), Seq("band", "bucket"))
      .select(col("doc_id"), col("bench_id"))
      .distinct()
    val ver = cand
      .join(docs.select(col("doc_id"), col("sh").as("sh_t")), Seq("doc_id"))
      .join(broadcast(docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))), Seq("bench_id"))
      .withColumn("jacc",
        size(array_intersect(col("sh_t"), col("sh_b"))) /
          size(array_union(col("sh_t"), col("sh_b"))).cast("double"))
      .filter(col("jacc") >= 0.02)
    val w = Window.partitionBy(col("doc_id"))
    val result = ver
      .withColumn("rn", row_number().over(
        w.orderBy(col("jacc").desc, col("bench_id").asc)))
      .withColumn("n_bench_hits", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bench_id").as("best_bench"),
        round(col("jacc"), 6).as("best_jacc"), col("n_bench_hits"))
      .orderBy(col("best_jacc").desc, col("doc_id").asc)
      .limit(100)
    Tables.materializeAndFree(result, docs)
  }

  /** URL-canonicalization dedup — the FIRST dedup pass a crawl pipeline
    * runs (before any content hashing: the same page fetched under case
    * variants, default ports, tracking parameters and fragments is one
    * document). The corpus has no URL column, so URLs are PLANTED
    * deterministically (the q55 discipline — five variant families per
    * article key, both engines construct them identically), then genuinely
    * normalized per the public canonicalization rules: scheme+host
    * lowercase (path case PRESERVED — URL paths are case-sensitive),
    * default-port strip, fragment drop, `utm_*` tracking-parameter strip
    * with remaining parameters sorted (a real `page=2` survives, so
    * param-filtering is selective, not a blanket query drop). keep =
    * first doc_id per canonical URL (the q30 exact-dedup shape: the only
    * shuffle keys on the canonical string, work per group is group-sized). */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val base = Tables(s, d, "documents").select(col("doc_id"))
      .withColumn("k", pmod(col("doc_id"), lit(40)).cast("long"))
      // variant = the article's replica index, NOT doc_id % 5 (40 and 5
      // share the factor 5, which would lock every same-k group to one
      // variant); floor(doc_id/40) is exact in double far past any SF
      .withColumn("v", pmod(floor(col("doc_id") / lit(40.0)).cast("long"), lit(5)).cast("long"))
      .withColumn("url",
        when(col("v") === 0, concat(lit("https://example.com/articles/"), col("k")))
          .when(col("v") === 1, concat(lit("HTTPS://EXAMPLE.COM/articles/"), col("k")))
          .when(col("v") === 2, concat(lit("https://example.com:443/articles/"), col("k")))
          .when(col("v") === 3, concat(lit("https://example.com/articles/"), col("k"),
            lit("?page=2&utm_source=feed&utm_campaign=spring")))
          .otherwise(concat(lit("https://example.com/articles/"), col("k"), lit("#section-2"))))
    val canon = base
      .withColumn("nofrag", regexp_replace(col("url"), "#.*$", ""))
      .withColumn("scheme", lower(regexp_extract(col("nofrag"), "^([A-Za-z]+)://", 1)))
      .withColumn("host",
        regexp_replace(lower(regexp_extract(col("nofrag"), "^[A-Za-z]+://([^/?]+)", 1)), ":443$", ""))
      .withColumn("pathq", regexp_replace(col("nofrag"), "^[A-Za-z]+://[^/?]+", ""))
      .withColumn("path", regexp_replace(col("pathq"), "\\?.*$", ""))
      .withColumn("params", array_sort(filter(
        split(regexp_extract(col("pathq"), "\\?(.*)$", 1), "&"),
        p => !p.startsWith("utm_") && length(p) > 0)))
      .withColumn("canonical", concat(col("scheme"), lit("://"), col("host"), col("path"),
        when(size(col("params")) > 0, concat(lit("?"), array_join(col("params"), "&")))
          .otherwise(lit(""))))
    canon
      .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("canonical"))))
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("url"), col("canonical"), col("keep_id"), col("is_dup"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q126_url_dedup" -> (q126 _),
    "q54b_decontaminate_fuzzy" -> (q54b _),
    "q38c_dedup_keep_best" -> (q38c _),
    "q38_dedup_clusters" -> (q38 _),
    "q38b_dedup_clusters_exact" -> (q38b _),
    "q30_dedup_exact" -> (q30 _),
    "q30b_dedup_passage" -> (q30b _),
    "q30c_dedup_span" -> (q30c _),
    "q30e_dedup_doc_filter" -> (q30e _),
    "q30d_dedup_anchor" -> (q30d _),
    "q31_dedup_ngram_jaccard" -> (q31 _),
    "q32_dedup_minhash_lsh" -> (q32 _),
    "q33_dedup_simhash" -> (q33 _),
    "q34_dedup_embedding" -> (q34 _),
    "q34b_dedup_embedding_blocked" -> (q34b _))

  private def shingleDocsCteWhere(where: String) =
    s"""docs AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(toks) - 2),
       |                                      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
       |  FROM (
       |    SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |    FROM documents $where
       |  )
       |)""".stripMargin

  private val shingleDocsCte = shingleDocsCteWhere("WHERE doc_id % 5 = 0")

  /** Shared CTE chain for the q32/q38 oracles: the EXACT md5-affine MinHash
    * pipeline ([[graft.plans.NativeKernels.minhashSig]]) in DuckDB SQL —
    * family constants inlined from the kernel's own methods, so there is
    * one source of truth. Ends with `ver` (candidate pairs + intersection
    * counts). */
  /** The signature/banding prefix (docs → d2 → sig → banded) — ONE copy
    * shared by [[minhashVerCtes]] (q32/q38's within-corpus pairs) and the
    * q54b cross-corpus decontamination oracle, mirroring the Spark side's
    * shared [[bandBuckets]]. */
  private def minhashSigCtes: String = {
    val p = graft.plans.NativeKernels.MinHashP
    val params = (1 to 32)
      .map(j => s"($j, ${graft.plans.NativeKernels.minhashA(j)}, ${graft.plans.NativeKernels.minhashB(j)})")
      .mkString(", ")
    s"""${shingleDocsCteWhere("")},
       |d2 AS MATERIALIZED (SELECT doc_id, sh, len(sh) AS n FROM docs WHERE len(sh) > 0),
       |ex AS (SELECT doc_id, UNNEST(sh) AS s FROM d2),
       |bh AS MATERIALIZED (
       |  SELECT doc_id, CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) % $p AS base
       |  FROM ex
       |),
       |params(j, a, b) AS (VALUES $params),
       |comp AS MATERIALIZED (
       |  SELECT doc_id, j, MIN((a * base + b) % $p) AS c
       |  FROM bh CROSS JOIN params GROUP BY doc_id, j
       |),
       |sig AS MATERIALIZED (SELECT doc_id, list(c ORDER BY j ASC) AS sig FROM comp GROUP BY doc_id),
       |banded AS MATERIALIZED (
       |  SELECT doc_id, bnd,
       |         substring(md5(CAST(bnd AS VARCHAR) || ',' ||
       |                       array_to_string(sig[bnd*4+1:bnd*4+4], ',')), 1, 16) AS bucket
       |  FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS bnd)
       |)""".stripMargin
  }

  private def minhashVerCtes: String =
    s"""$minhashSigCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.bnd = b.bnd AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |),
       |ver AS (
       |  SELECT c.doc_a, c.doc_b,
       |         len(list_intersect(x.sh, y.sh)) AS inter, x.n AS na, y.n AS nb
       |  FROM cand c JOIN d2 x ON c.doc_a = x.doc_id JOIN d2 y ON c.doc_b = y.doc_id
       |)""".stripMargin

  /** q38b's exact-clustering oracle chain (df-capped n-gram Jaccard edges
    * → recursive transitive closure), ending in `reach(id, r)` — shared
    * verbatim by the q38b and q38c oracles. Callers prepend RECURSIVE. */
  private def exactClusterCtes: String =
    s"""${shingleDocsCteWhere("")},
       |d2 AS (SELECT doc_id, sh, len(sh) AS n FROM docs),
       |ex AS (SELECT doc_id, n, UNNEST(sh) AS s FROM d2),
       |keepsh AS (
       |  SELECT s FROM ex GROUP BY s
       |  HAVING COUNT(*) <= ${graft.operators.NgramJaccard.DefaultDfCap}
       |),
       |exf AS (SELECT ex.* FROM ex JOIN keepsh USING (s)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
       |  HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.5
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
       |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q126_url_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 40 AS k, (doc_id // 40) % 5 AS v FROM documents
        |),
        |u AS (
        |  SELECT doc_id,
        |    CASE v
        |      WHEN 0 THEN 'https://example.com/articles/' || k
        |      WHEN 1 THEN 'HTTPS://EXAMPLE.COM/articles/' || k
        |      WHEN 2 THEN 'https://example.com:443/articles/' || k
        |      WHEN 3 THEN 'https://example.com/articles/' || k || '?page=2&utm_source=feed&utm_campaign=spring'
        |      ELSE 'https://example.com/articles/' || k || '#section-2'
        |    END AS url
        |  FROM base
        |),
        |nf AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
        |parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/?]+)', 1)), ':443$', '') AS host,
        |    regexp_replace(nofrag, '^[A-Za-z]+://[^/?]+', '') AS pathq
        |  FROM nf
        |),
        |canon AS (
        |  SELECT doc_id, url, scheme, host,
        |    regexp_replace(pathq, '\?.*$', '') AS path,
        |    list_sort(list_filter(string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
        |              p -> NOT regexp_matches(p, '^utm_') AND length(p) > 0)) AS params
        |  FROM parts
        |),
        |c2 AS (
        |  SELECT doc_id, url,
        |    scheme || '://' || host || path ||
        |      CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END AS canonical
        |  FROM canon
        |)
        |SELECT doc_id, url, canonical,
        |       MIN(doc_id) OVER (PARTITION BY canonical) AS keep_id,
        |       doc_id <> MIN(doc_id) OVER (PARTITION BY canonical) AS is_dup
        |FROM c2""".stripMargin,
    "q54b_decontaminate_fuzzy" ->
      s"""WITH $minhashSigCtes,
         |candx AS (
         |  SELECT DISTINCT t.doc_id, b.doc_id AS bench_id
         |  FROM banded t JOIN banded b ON t.bnd = b.bnd AND t.bucket = b.bucket
         |  WHERE t.doc_id % 29 <> 0 AND b.doc_id % 29 = 0
         |),
         |verx AS (
         |  SELECT c.doc_id, c.bench_id,
         |         len(list_intersect(x.sh, y.sh)) AS inter, x.n AS na, y.n AS nb
         |  FROM candx c JOIN d2 x ON c.doc_id = x.doc_id JOIN d2 y ON c.bench_id = y.doc_id
         |),
         |jx AS (
         |  SELECT doc_id, bench_id, CAST(inter AS DOUBLE) / (na + nb - inter) AS jacc
         |  FROM verx WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.02
         |),
         |rx AS (
         |  SELECT doc_id, bench_id, jacc,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY jacc DESC, bench_id ASC) AS rn,
         |         COUNT(*) OVER (PARTITION BY doc_id) AS nh
         |  FROM jx
         |)
         |SELECT doc_id, bench_id AS best_bench, round(jacc, 6) AS best_jacc,
         |       CAST(nh AS BIGINT) AS n_bench_hits
         |FROM rx WHERE rn = 1
         |ORDER BY best_jacc DESC, doc_id ASC LIMIT 100""".stripMargin,
    "q32_dedup_minhash_lsh" ->
      s"""WITH $minhashVerCtes
         |SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jacc
         |FROM ver
         |WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.02
         |ORDER BY jacc DESC, doc_a ASC, doc_b ASC LIMIT 100""".stripMargin,
    "q33_dedup_simhash" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |),
        |t AS (SELECT doc_id, UNNEST(toks) AS tok FROM docs),
        |h AS (SELECT doc_id, CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS hv FROM t),
        |bits AS MATERIALIZED (
        |  SELECT doc_id, b, SUM((hv >> b) & 1) AS ones, COUNT(*) AS n
        |  FROM h CROSS JOIN (SELECT UNNEST(generate_series(0, 59)) AS b)
        |  GROUP BY doc_id, b
        |),
        |sim AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN ones * 2 > n THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sim
        |  FROM bits GROUP BY doc_id
        |),
        |chunked AS (
        |  SELECT doc_id, sim, c, (sim >> (c * 15)) & 32767 AS ckey
        |  FROM sim CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS c)
        |),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sim_a, b.sim AS sim_b
        |  FROM chunked a JOIN chunked b ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id
        |)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 12
        |ORDER BY hamming ASC, doc_a ASC, doc_b ASC LIMIT 100""".stripMargin,
    "q38_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashVerCtes,
         |top100 AS (
         |  SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jacc
         |  FROM ver
         |  WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.02
         |  ORDER BY jacc DESC, doc_a ASC, doc_b ASC LIMIT 100
         |),
         |pairs AS (SELECT doc_a, doc_b FROM top100 WHERE jacc >= 0.5),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
         |)
         |SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
         |FROM reach GROUP BY id""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT doc_id,
        |       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |       MIN(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS keep_id,
        |       doc_id <> MIN(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS is_dup
        |FROM documents""".stripMargin,
    "q30b_dedup_passage" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p0 AS (
        |  SELECT doc_id, ws,
        |         UNNEST(generate_series(0, CAST(ceil(len(ws) / 20.0) AS BIGINT) - 1)) AS i
        |  FROM d
        |),
        |p AS (SELECT doc_id, array_to_string(ws[i*20+1:(i+1)*20], ' ') AS passage FROM p0)
        |SELECT md5(passage) AS passage_hash, COUNT(*) AS n_occurrences,
        |       COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS canonical_doc
        |FROM p GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1""".stripMargin,
    "q30e_dedup_doc_filter" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |p0 AS (
        |  SELECT doc_id, ws,
        |         UNNEST(generate_series(0, CAST(ceil(len(ws) / 20.0) AS BIGINT) - 1)) AS i
        |  FROM d
        |),
        |p AS (SELECT doc_id, md5(array_to_string(ws[i*20+1:(i+1)*20], ' ')) AS h FROM p0),
        |ph AS (SELECT doc_id, h, COUNT(*) AS c FROM p GROUP BY 1, 2),
        |dup AS (SELECT h FROM ph GROUP BY h HAVING COUNT(*) > 1),
        |agg AS (
        |  SELECT ph.doc_id, CAST(SUM(c) AS BIGINT) AS n_passages,
        |         CAST(COALESCE(SUM(CASE WHEN dup.h IS NOT NULL THEN c END), 0) AS BIGINT) AS n_dup
        |  FROM ph LEFT JOIN dup ON ph.h = dup.h GROUP BY ph.doc_id
        |)
        |SELECT doc_id, n_passages, n_dup,
        |       CAST(n_dup AS DOUBLE) / CAST(n_passages AS DOUBLE) AS dup_frac
        |FROM agg
        |WHERE CAST(n_dup AS DOUBLE) / CAST(n_passages AS DOUBLE) >= 0.5
        |ORDER BY dup_frac DESC, n_passages DESC, doc_id ASC LIMIT 100""".stripMargin,
    "q30c_dedup_span" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |),
        |w AS (
        |  SELECT doc_id, md5(array_to_string(toks[j:j+19], ' ')) AS span_hash
        |  FROM d, UNNEST(generate_series(1, len(toks) - 19, 5)) AS t(j)
        |  WHERE len(toks) >= 20
        |)
        |SELECT span_hash, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
        |       MIN(doc_id) AS first_doc
        |FROM w GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY n_occ DESC, n_docs DESC, span_hash ASC LIMIT 20""".stripMargin,
    "q30d_dedup_anchor" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents
         |),
         |w AS (
         |  -- content-defined anchors: hash60(5-gram at j) % 5 == 0 (the
         |  -- exact hash60 convention: value of the digest's first 15 hex
         |  -- chars), so anchor choice is alignment-invariant
         |  SELECT doc_id, md5(array_to_string(toks[j:j+19], ' ')) AS span_hash
         |  FROM (
         |    SELECT doc_id,
         |           UNNEST(list_filter(generate_series(1, len(toks) - 19),
         |             j -> ${graft.functions.vectors.hash60Sql("array_to_string(toks[j:j+4], ' ')")} % 5 = 0)) AS j,
         |           toks
         |    FROM d WHERE len(toks) >= 20
         |  )
         |)
         |SELECT span_hash, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs,
         |       MIN(doc_id) AS first_doc
         |FROM w GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
         |ORDER BY n_occ DESC, n_docs DESC, span_hash ASC LIMIT 20""".stripMargin,
    "q31_dedup_ngram_jaccard" ->
      s"""WITH $shingleDocsCte,
         |d2 AS (SELECT doc_id, sh, len(sh) AS n FROM docs),
         |ex AS (SELECT doc_id, n, UNNEST(sh) AS s FROM d2),
         |keepsh AS (
         |  SELECT s FROM ex GROUP BY s
         |  HAVING COUNT(*) <= ${graft.operators.NgramJaccard.DefaultDfCap}
         |),
         |exf AS (SELECT ex.* FROM ex JOIN keepsh USING (s))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
         |       COUNT(*) AS shared,
         |       COUNT(*) / (a.n + b.n - COUNT(*)) AS jacc
         |FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
         |GROUP BY a.doc_id, b.doc_id, a.n, b.n
         |ORDER BY jacc DESC, doc_a ASC, doc_b ASC LIMIT 100""".stripMargin,
    "q38b_dedup_clusters_exact" ->
      s"""WITH RECURSIVE $exactClusterCtes
         |SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
         |FROM reach GROUP BY id""".stripMargin,
    // keep-best: q38b's cluster chain + q41's quality formula (embedded as
    // a scoped subquery — the inner WITH shadows this chain's `docs`),
    // argmax per cluster by (quality desc, doc_id asc)
    "q38c_dedup_keep_best" ->
      s"""WITH RECURSIVE $exactClusterCtes,
         |clusters AS (
         |  SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
         |  FROM reach GROUP BY id
         |),
         |qsub AS (SELECT doc_id, quality FROM (${TextQueries.q41Sql})),
         |jx AS (
         |  SELECT c.cluster_rep, c.doc_id, q.quality
         |  FROM clusters c JOIN qsub q USING (doc_id)
         |),
         |rx AS (
         |  SELECT cluster_rep, doc_id, quality,
         |         row_number() OVER (PARTITION BY cluster_rep ORDER BY quality DESC, doc_id ASC) AS rn,
         |         COUNT(*) OVER (PARTITION BY cluster_rep) AS nm
         |  FROM jx
         |)
         |SELECT cluster_rep, CAST(nm AS BIGINT) AS n_members, doc_id AS keep_doc,
         |       quality AS keep_quality, CAST(nm - 1 AS BIGINT) AS n_dropped
         |FROM rx WHERE rn = 1 ORDER BY cluster_rep ASC""".stripMargin,
    "q34_dedup_embedding" -> {
      val cos = s"(${vectors.dotSql("a.emb", "b.emb", 64)}) / (a.nrm * b.nrm)"
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${vectors.dotSql("emb", "emb", 64)}) AS nrm FROM e
         |)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cos
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE $cos >= 0.4""".stripMargin
    },
    "q34b_dedup_embedding_blocked" -> {
      val cos = s"(${vectors.dotSql("a.emb", "b.emb", 64)}) / (a.nrm * b.nrm)"
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
         |),
         |n AS (
         |  SELECT vec_id, emb, sqrt(${vectors.dotSql("emb", "emb", 64)}) AS nrm,
         |         CAST(CASE WHEN emb[1] > 0 THEN 4 ELSE 0 END
         |            + CASE WHEN emb[2] > 0 THEN 2 ELSE 0 END
         |            + CASE WHEN emb[3] > 0 THEN 1 ELSE 0 END AS BIGINT) AS cell
         |  FROM e
         |)
         |SELECT a.cell AS cell, a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cos
         |FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |WHERE $cos >= 0.4""".stripMargin
    })
}
