package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.text
import graft.streaming.Streams

/** Text-analysis operators over `documents`: language ID, quality scoring,
  * token counting, fingerprinting. All integer/string arithmetic (or a single
  * deterministic double op), so the DuckDB mirrors match exactly. */
object TextQueries {

  private val stopEn = Seq("the", "a", "of", "and", "is", "to")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "zu")
  private val stopEs = Seq("el", "la", "los", "y", "es", "que")
  private val stopFr = Seq("le", "les", "et", "est", "dans", "des")

  private def sqlIn(words: Seq[String]) = words.map(w => s"'$w'").mkString(", ")
  private def stopSql(words: Seq[String]) =
    s"len(list_filter(toks, t -> t IN (${sqlIn(words)})))"

  /** documents with normalized tokens attached. */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("toks", text.tokens(col("text")))

  /** The q70 DSIR pipeline up to (but not including) the coordinator
    * localization — exposed so PlanSpec can gate the DISTRIBUTED plan (the
    * broadcast weight join) that `materializeAndFree` hides behind a
    * LocalRelation. Returns (top-20 result, checkpointed bucket-count frame
    * whose blocks the caller frees after materializing). */
  private[graft] def dsirDistributed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.functions.{detlog, detsum}
    val grams = docsAnalyzed(s, d)
      .select(col("doc_id"), col("source"),
        explode(concat(col("toks"), text.shingles(col("toks"), 2))).as("g"))
      .withColumn("b", substring(md5(col("g").cast("binary")), 1, 2))
    // the 256-row bucket-count table is read by BOTH log chains and the
    // totals — materialize it once so the corpus-sized gram stream is
    // scanned exactly twice (count pass, score pass), the DSIR paper
    // shape, instead of once per consumer
    val counts0 = grams.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      count(when(col("source") === "src0", 1)).as("ct0"))
      .localCheckpoint(true)
    val counts1 = counts0
      .withColumn("crp", col("cr") + lit(1L))
      .withColumn("ctp", col("ct0") + lit(1L))
    val bucketLg = detlog.withLog2(detlog.withLog2(counts1, "ctp", "lgt"), "crp", "lgr")
    val tot = counts0.agg(
      (sum(col("cr")) + lit(256L)).as("nr"),
      (sum(col("ct0")) + lit(256L)).as("nt"))
    val totLg = detlog.withLog2(detlog.withLog2(tot, "nt", "lgnt"), "nr", "lgnr")
    val w = bucketLg
      .crossJoin(broadcast(totLg.select(col("lgnt"), col("lgnr"))))
      .select(col("b"), ((col("lgt") - col("lgnt")) - (col("lgr") - col("lgnr"))).as("w"))
    val result = grams.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feat"), detsum.sumDet(col("w"), 9).as("sw"))
      .select(col("doc_id"), col("source"), col("n_feat"), round(col("sw"), 6).as("logratio"))
      .orderBy(col("logratio").desc, col("doc_id").asc)
      .limit(20)
    (result, counts0)
  }

  /** The hashed-ngram linear quality classifier shared by q99 (per-doc
    * scores) and q99b (held-out confusion matrix) — the LEARNED half of a
    * curation stack next to q41's rule batteries and q70's DSIR importance
    * weights (CCNet/fineweb run exactly this pair: a fasttext-shaped
    * linear model over hashed ngrams, weakly supervised by a curated
    * source). Everything is closed-form and cross-engine deterministic:
    *
    *  - features: unigrams + bigram shingles hashed to 256 buckets by the
    *    first 2 hex chars of md5 — q70's convention verbatim;
    *  - training split: docs with doc_id % 5 != 0 (80%); positive class =
    *    source 'src0' (the curated target distribution, q70's convention);
    *  - weights: multinomial Naive Bayes log-count ratios (the NBSVM
    *    linear model) w(b) = [log2(c⁺+1) − log2(N⁺+256)] − [log2(c⁻+1) −
    *    log2(N⁻+256)], detlog over exact integers — closed-form training,
    *    no iterative optimizer to replay;
    *  - prior: log2(docs⁺+1) − log2(docs⁻+1) over the training split;
    *  - score: prior + Σ_gram w(bucket) — detsum over the gram stream,
    *    prior added as one textually-fixed IEEE add; pred = score > 0.
    *
    * Scale shape: the weight table is ≤256 rows BROADCAST into the scoring
    * scan; the 256-row count table is checkpointed once so the corpus
    * gram stream is scanned exactly twice (count pass, score pass). Grams
    * hashing to a bucket absent from the training split contribute
    * nothing (inner join against the weight table — mirrored exactly by
    * the oracle). Returns (doc_id, label, n_feat, score) per doc. */
  private[graft] def qualityScored(s: SparkSession, d: String): DataFrame =
    qualityScoredFrom(docsAnalyzed(s, d), s"qcls:$d")

  /** [[qualityScored]] over an arbitrary (doc_id, source, text) frame —
    * split out so the spec can train on a PLANTED-signal corpus and prove
    * the learner separates classes when the data carries signal (on the
    * shipped synthetic corpus the text is source-unconditional — identical
    * stopword/gram profile across labels, measured — so the honest eval
    * is majority-class; see q99b's comment). */
  private[graft] def qualityScoredFrom(raw: DataFrame, ckptKey: String): DataFrame = {
    import graft.functions.detsum
    val (w, prior) = qualityModelFrom(raw, ckptKey)
    val dcls = raw
      .select(col("doc_id"), (col("source") === "src0").as("label"))
    qualityGrams(raw).join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feat"), detsum.sumDet(col("w"), 9).as("sw"))
      .crossJoin(broadcast(prior))
      .withColumn("score", col("p0") + col("sw"))
      .join(dcls, Seq("doc_id"))
      .select(col("doc_id"), col("label"), col("n_feat"), col("score"))
  }

  /** The classifier's hashed gram stream (doc_id, source, g, b) — ONE
    * feature definition shared by the batch scorer and the trainer. */
  private def qualityGrams(raw: DataFrame): DataFrame =
    // an already-analyzed frame (the docsAnalyzed artifact) keeps its toks;
    // raw text (spec corpora, streams) is tokenized here — ONE definition
    (if (raw.columns.contains("toks")) raw
     else raw.withColumn("toks", text.tokens(col("text"))))
      .select(col("doc_id"), col("source"),
        explode(concat(col("toks"), text.shingles(col("toks"), 2))).as("g"))
      .withColumn("b", substring(md5(col("g").cast("binary")), 1, 2))

  /** The TRAINED model of [[qualityScoredFrom]] — the (≤256-row weight
    * table `(b, w)`, 1-row prior `(p0)`) pair, split out so st18's
    * streaming scorer can collect the same weights the batch query
    * broadcasts (train offline / score online — one training
    * definition). */
  private[graft] def qualityModelFrom(raw: DataFrame, ckptKey: String): (DataFrame, DataFrame) =
    // Trained once: the model is a pure function of the static corpus. It
    // is the pair of LOCALIZED relations (≤256 weight rows + the 1-row
    // prior, collected once), so nothing holds checkpoint storage and
    // every consumer's broadcast is literal-fed. Keys stay caller-chosen:
    // every existing key is 1:1 with its raw frame, so spec corpora
    // (planted-signal tests) memoize separately.
    Artifacts(raw.sparkSession, ckptKey, "text.quality_model") {
      import graft.functions.detlog
      val grams = qualityGrams(raw)
      val counts = grams.filter(col("doc_id") % 5 =!= 0)
        .groupBy(col("b")).agg(
          count(when(col("source") === "src0", 1)).as("cp"),
          count(when(col("source") =!= "src0", 1)).as("cn"))
        .localCheckpoint(true)
      val bucketLg = detlog.withLog2(detlog.withLog2(
        counts.withColumn("cpp", col("cp") + lit(1L)).withColumn("cnp", col("cn") + lit(1L)),
        "cpp", "lgp"), "cnp", "lgn")
      val tot = counts.agg(
        (sum(col("cp")) + lit(256L)).as("np"),
        (sum(col("cn")) + lit(256L)).as("nn"))
      val totLg = detlog.withLog2(detlog.withLog2(tot, "np", "lgnp"), "nn", "lgnn")
      val w = bucketLg
        .crossJoin(broadcast(totLg.select(col("lgnp"), col("lgnn"))))
        .select(col("b"), ((col("lgp") - col("lgnp")) - (col("lgn") - col("lgnn"))).as("w"))
      val prior = detlog.withLog2(detlog.withLog2(
        raw.select(col("doc_id"), (col("source") === "src0").as("label"))
          .filter(col("doc_id") % 5 =!= 0).agg(
            (count(when(col("label"), 1)) + lit(1L)).as("dp"),
            (count(when(!col("label"), 1)) + lit(1L)).as("dn")),
        "dp", "lgdp"), "dn", "lgdn")
        .select((col("lgdp") - col("lgdn")).as("p0"))
      val (wLocal, priorLocal) = (Tables.localize(w), Tables.localize(prior))
      Tables.freeCheckpoint(counts)
      (wLocal, priorLocal)
    }

  /** st18's stateless streaming scorer: the batch-trained weight table
    * (collected, detsum-scaled to exact longs) and prior ride the plan as
    * literals, and each streamed doc scores INSIDE its row — gram→bucket
    * transform, a map lookup filter (the batch inner join's row-local
    * mirror: grams hashing to an untrained bucket contribute nothing, a
    * doc with no trained gram emits nothing), and a long-accumulator
    * aggregate that replays detsum's scaled arithmetic for the single-row
    * case (Σ round(w·10⁹) exact in a long, one cast, one division — the
    * identical integers the batch int128 path sums). No state store, no
    * stream-static join: the production curation shape (train offline,
    * score the stream) as a pure projection. */
  private[graft] def qualityAlerts(in: DataFrame, wScaled: Map[String, Long], prior: Double): DataFrame = {
    val wmap = map(wScaled.toSeq.sortBy(_._1)
      .flatMap { case (b, v) => Seq(lit(b), lit(v)) }: _*)
    in.withColumn("gbs",
        transform(concat(col("toks"), text.shingles(col("toks"), 2)),
          g => substring(md5(g.cast("binary")), 1, 2)))
      .withColumn("hits", filter(col("gbs"), b => element_at(wmap, b).isNotNull))
      .withColumn("n_feat", size(col("hits")).cast("long"))
      .filter(col("n_feat") > 0)
      .withColumn("sw",
        aggregate(col("hits"), lit(0L), (acc, b) => acc + element_at(wmap, b))
          .cast("double") / lit(1e9))
      .withColumn("score", lit(prior) + col("sw"))
      .select(col("doc_id"),
        (col("source") === "src0").cast("long").as("label"),
        (col("score") > 0).cast("long").as("pred"),
        col("n_feat"),
        graft.functions.detsum.roundDet(col("score"), 6).as("score"))
  }

  /** The length-≥4 document-frequency vocabulary with its (df desc, term
    * asc) rank — the ONE base every rank-windowed consumer (percolator
    * rules, completion prefixes, BM25 query terms) derives from. NOTE: the
    * shipped corpus has only 24 such terms at every SF — a rank window must
    * stay inside that (q77's original 26..33 window selected NOTHING and
    * made its oracle vacuous; TextSurfaceSpec now asserts non-emptiness).
    * A build-once artifact derived from the [[dfVocab]] dictionary (ES has
    * ONE terms dictionary per index, built at index time): filtering the
    * dictionary ≡ filtering the postings aggregate, so df values equal a
    * per-request aggregation's, and the vocab-bounded single-partition
    * rank window runs once per (session, dataset). */
  private[graft] val rankedVocab: IndexPart[DataFrame] = table("ranked_vocab") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    dfVocab(s, d)
      .filter(length(col("term")) >= 4)
      .withColumn("r", row_number().over(Window.orderBy(col("df").desc, col("term").asc)))
      .localCheckpoint(true)
  }

  /** The FULL document-frequency vocabulary (no length filter) — the term
    * dictionary the multi-term-rewrite retrieval queries (q87 fuzzy, q88
    * prefix, q89 wildcard, q90 match_phrase_prefix, q91 regexp) expand
    * against. The Lucene shape: a prefix/wildcard/fuzzy query rewrites to
    * a term-set against the dictionary, so the doc stream only ever pays
    * an equi-join on expanded terms — never a per-row pattern/
    * edit-distance scan. A build-once artifact: the ES terms dictionary
    * is index-time state, not request-time work. The postings frame is
    * already clustered by `tok`, so the count runs without an exchange. */
  private val dfVocab: IndexPart[DataFrame] = table("vocab") { (s, d) =>
    postings(s, d).frame
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .select(col("tok").as("term"), col("df"))
      .localCheckpoint(true)
  }

  /** The TITLE field's document-frequency dictionary — df per term over
    * docs whose first-8 window (the derived title field, q86's
    * convention) contains it. ES keeps one terms dictionary PER FIELD at
    * index time; field-scoped clauses (q106's `title:term`) probe this
    * instead of re-aggregating the postings per request. */
  private val titleVocab: IndexPart[DataFrame] = table("title_vocab") { (s, d) =>
    postings(s, d).frame.filter(col("tf_t") > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .select(col("tok").as("term"), col("df"))
      .localCheckpoint(true)
  }

  /** The top corpus bigram (count desc, gram asc) — ONE derivation shared
    * by q78 (match_phrase/span_near) and q90 (match_phrase_prefix), like
    * their oracles share the bg/top1 CTEs. Returns one (w1, w2) row. A
    * build-once artifact (the phrase-dictionary analog of
    * [[rankedVocab]]), so its callers never re-pay the corpus-sized
    * shingle explode+aggregate. */
  private val topBigram: IndexPart[DataFrame] = table("top_bigram") { (s, d) =>
    docsAnalyzed(s, d)
      .select(explode(text.shingles(col("toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("g").asc).limit(1)
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .localCheckpoint(true)
  }

  /** rankedVocab's [QLo, QHi] query window as a (tok, df) table — a PROBE
    * of the build-once [[rankedVocab]] dictionary artifact (df = frame
    * rows per length≥4 term = distinct docs per term — the integers a
    * per-call tf aggregation gives, without re-ranking the whole
    * vocabulary on every request). */
  private def qselWindow(s: SparkSession, d: String): DataFrame =
    // broadcast hint: the window is ≤(QHi−QLo+1) rows by construction, but
    // the checkpointed dictionary scan carries no stats for Catalyst to
    // discover that
    broadcast(rankedVocab(s, d).filter(col("r") >= QLo && col("r") <= QHi)
      .select(col("term").as("tok"), col("df")))

  /** The deterministic BM25 query window: vocab ranks [QLo, QHi] by
    * (df desc, term asc). ONE definition feeding bm25PerDoc, q79's term
    * set, q82's highlight array AND their oracle SQL — a retune here
    * retunes all six sites together (the file's history shows exactly this
    * hazard: a 21..25 window silently yielded a 4-term query). */
  private[graft] val QLo = 11
  private[graft] val QHi = 15

  /** The body field's query-term df SQL — ONE copy feeding both
    * bm25PerCtes and q86's body instance. */
  private def bodyQdfSql = s"SELECT term AS tok, df FROM rvocab WHERE r BETWEEN $QLo AND $QHi"

  /** Per-doc BM25 score for the deterministic 5-term query (vocab ranks
    * [[QLo]]..[[QHi]]) against the BODY field — the first-pass retrieval
    * shared by q76/q76b/q76c/q80/q82/q83/q84: [[bm25Body]] over the
    * [[qselWindow]] terms. Probe-derived statistics equal a token-stream
    * pass's exactly (df is distinct docs per term, dl the doc's token
    * count), so [[bm25PerCtes]] stays the verbatim mirror.
    * Returns (doc_id, n_terms_hit, score). */
  private def bm25PerDoc(s: SparkSession, d: String): DataFrame =
    bm25Body(postings(s, d), qselWindow(s, d))

  /** THE body-field scorer: BM25 of the query terms in `qdf` (tok, df —
    * df must be the body df, distinct docs per term) against the body
    * field, as a PROBE of the posting-list artifact — tf/dl carried on the
    * probed rows, idf from the build-time stats, nothing corpus-sized at
    * request time. Terms absent from the corpus have no postings and
    * contribute nothing. Returns (doc_id, n_terms_hit, score). */
  private def bm25Body(art: Postings, qdf: DataFrame): DataFrame =
    bm25Score(
      art.frame.join(broadcast(qdf.select(col("tok"))), Seq("tok"))
        .select(col("doc_id"), col("tok"), col("tf_b").as("tf"), col("dl_b").as("dl")),
      bm25Idf(art.statsBody, qdf))

  /** The doc side of a Lucene multi-term rewrite (q87 fuzzy, q88 prefix,
    * q89 wildcard, q91 regexp): the (`key`, term) expansion PROBES the
    * postings — one row per (doc, term), so the rewrite hits postings,
    * never the stored fields — and each key reports its distinct docs,
    * distinct terms and (doc, term) rows. */
  private def rewriteHits(s: SparkSession, d: String, expansion: DataFrame, key: String): DataFrame =
    postings(s, d).frame
      .select(col("doc_id"), col("tok").as("term"))
      .join(broadcast(expansion), Seq("term"))
      .groupBy(col(key))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_term_docs"))

  /** Exact adjacent-pair count of (w1, w2) in a token array — ES
    * match_phrase tf at slop 0. A pure array HOF: positions never leave
    * the row (no posexplode, no self-join), ANSI-safe (i+1 ≤ size by the
    * sequence bound). */
  private def phraseTf(toks: Column, w1: Column, w2: Column): Column =
    when(size(toks) >= 2,
      size(filter(sequence(lit(1), size(toks) - 1),
        i => element_at(toks, i) === w1 && element_at(toks, i + 1) === w2)))
      .otherwise(0).cast("long")

  /** Ordered span_near anchor count: w1 positions with a w2 within `slop`
    * intervening tokens (gap ≤ slop ⇒ w2 in the next slop+1 positions —
    * `slice` clamps at the array end in both engines). */
  private def spanNearTf(toks: Column, w1: Column, w2: Column, slop: Int): Column =
    when(size(toks) >= 2,
      size(filter(sequence(lit(1), size(toks) - 1),
        i => element_at(toks, i) === w1 &&
          array_contains(slice(toks, i + 1, lit(slop + 1)), w2))))
      .otherwise(0).cast("long")

  /** q40's stopword-heuristic language predictor — per-doc frame with
    * (doc_id, lang, lang_pred, s_en..s_fr); shared by q40 (per-doc output)
    * and q40b (confusion-matrix evaluation). */
  private def langPred(s: SparkSession, d: String): DataFrame =
    docsAnalyzed(s, d)
      .withColumn("s_en", text.stopwordCount(col("toks"), stopEn))
      .withColumn("s_de", text.stopwordCount(col("toks"), stopDe))
      .withColumn("s_es", text.stopwordCount(col("toks"), stopEs))
      .withColumn("s_fr", text.stopwordCount(col("toks"), stopFr))
      .withColumn("n_cjk", length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", "")))
      .withColumn(
        "lang_pred",
        when(col("n_cjk") * 4 > length(col("text")), "zh")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
          .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
          .when(col("s_fr") > 0, "fr")
          .otherwise("und"))

  /* Field-generic BM25 — THE scoring definition lives in the
   * [[bm25Idf]] + [[bm25TermScores]] chain below (every BM25 consumer,
   * q76-family, q86's per-field instances, and the front door alike, goes
   * through it as PROBES of the [[postings]] artifact, which carries each
   * field's tf and dl on the probed rows).
   * The query-term df table (tok, df) is INJECTED and PAIRING IS THE
   * CALLER'S CONTRACT: `qdf` must be the df of the same field the tf/dl
   * columns came from — a mis-paired call (body df with title tf) scores
   * silently wrong (df can exceed the field's doc count, flipping idf
   * negative). df = artifact rows per term = distinct docs per term, the
   * same integers a raw token-stream pass derives, which is what keeps
   * the [[bm25CtesOver]] oracle mirror (still stream-shaped) verbatim.
   * Literals are spelled as decimal literals on BOTH sides (Scala
   * `k1 + 1` computes 2.1999…956, a DIFFERENT double than the parsed
   * literal 2.2 — the oracle must see the identical bits). */

  /** The idf half of the scoring definition: (field stats, field query df)
    * → (tok, idf, avgdl). `stats` is a 1-row (n_docs, avgdl) frame — a
    * field's build-time [[Postings]] stats, aggregated as count and sum
    * cast double / count, the arithmetic [[bm25CtesOver]] mirrors.
    * Lucene's smoothed idf via the integer identity (2N+2)/(2df+1),
    * detlog-computed. */
  private def bm25Idf(stats: DataFrame, qdf: DataFrame): DataFrame = {
    val qterms = qdf
      .crossJoin(broadcast(stats))
      .withColumn("num", lit(2L) * col("n_docs") + lit(2L))
      .withColumn("den", lit(2L) * col("df") + lit(1L))
    graft.functions.detlog
      .withLog2(graft.functions.detlog.withLog2(qterms, "num", "lgn"), "den", "lgd")
      .select(col("tok"), (col("lgn") - col("lgd")).as("idf"), col("avgdl"))
  }

  /** Per-doc BM25: [[bm25TermScores]] reduced per doc (hit count and the
    * detsum of the term scores); the grouping runs over the hit-sized
    * probe. */
  private def bm25Score(tfDl: DataFrame, qIdf: DataFrame): DataFrame =
    bm25TermScores(tfDl, qIdf)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        graft.functions.detsum.sumDet(col("score_t"), 9).as("score"))

  /** THE tf-normalization formula over a per-(doc_id, tok, tf, dl) frame
    * already restricted to query terms (`dl` is the field length the
    * postings carry on each row). Per-term, so q86d's cross_fields
    * combine (which needs per-term scores from BOTH fields before any
    * per-doc grouping) scores through the identical expression. Returns
    * the input rows with `score_t` (and idf/avgdl in scope). */
  private def bm25TermScores(tfDl: DataFrame, qIdf: DataFrame): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    tfDl
      .join(broadcast(qIdf), Seq("tok"))
      .withColumn("score_t",
        col("idf") * ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl")))))
  }

  /** The multi_match per-field score frame q86 (best_fields/dis_max) and
    * q86b (most_fields/sum) share — ONLY the combine differs between the
    * two ES types, so the field scoring exists once. Fields [title^2,
    * body] from ONE [[postings]] probe; each field scores the
    * 5-term query with its OWN statistics (df/dl/avgdl — the ES per-field
    * scoring contract); FULL OUTER over the per-field hit sets (a doc
    * matching only one field still ranks). Returns (doc_id, s_body,
    * s_title_boosted) with absent-field scores coalesced to 0. */
  private def multiMatchPerField(s: SparkSession, d: String): DataFrame =
    multiMatchFieldsFrom(postings(s, d), qselWindow(s, d), titleBoost = 2.0)

  /** The per-field half of [[multiMatchPerField]] parameterized by the
    * query-term df table and the title boost — split out so the FRONT
    * DOOR's multi_match ([[dslRelevance]]) scores arbitrary analyzed term
    * sets through the IDENTICAL per-field stack (for the q86 window terms
    * the generic df equals qselWindow's df — distinct docs per term either
    * way — so front door ≡ typed q86 row-identically). */
  private def multiMatchFieldsFrom(art: Postings, qsel: DataFrame, titleBoost: Double): DataFrame = {
    // both fields probe the term-partitioned artifact: tf_b/tf_t and both
    // field lengths (dl_b/dl_t) ride on each probed row, field statistics
    // come from the build-time 1-row frames — no corpus-sized dl
    // aggregation at request time
    val perB = bm25Body(art, qsel).select(col("doc_id"), col("score").as("s_body0"))
    // title field: rows with a first-8 occurrence; df from the title
    // probe itself (the ES per-field statistics contract)
    val probeT = art.frame.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
      .filter(col("tf_t") > 0)
    val titleDf = probeT.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val perT = bm25Score(
      probeT.select(col("doc_id"), col("tok"), col("tf_t").as("tf"), col("dl_t").as("dl")),
      bm25Idf(art.statsTitle, titleDf))
      .select(col("doc_id"), (lit(titleBoost) * col("score")).as("s_title0"))
    perB.join(perT, Seq("doc_id"), "full_outer")
      .withColumn("s_body", coalesce(col("s_body0"), lit(0.0)))
      .withColumn("s_title_boosted", coalesce(col("s_title0"), lit(0.0)))
      .select(col("doc_id"), col("s_body"), col("s_title_boosted"))
  }

  /** The term-centric `cross_fields` scoring stack (Lucene
    * BlendedTermQuery — the full semantics live on q86d's registry
    * comment) parameterized by the query-term df-bearing table `qsel`
    * (tok, df): typed q86d passes the window terms, the FRONT DOOR an
    * arbitrary analyzed term set — ONE scoring definition. Fields are the
    * head/tail split (head = first 8 tokens ^2, tail = tokens 9+), both
    * falling out of the [[postings]] rows (tail tf = tf_b − tf_t).
    * Returns (doc_id, n_terms_hit, final). */
  private def crossFieldsScored(s: SparkSession, d: String, qsel: DataFrame): DataFrame = {
    // a postings PROBE — both derived fields' tf and dl fall out of the
    // carried columns (head tf = tf_t / dl = dl_t; tail tf = tf_b − tf_t /
    // dl = dl_l = dl_b − dl_t) and both fields' avgdl/n_docs come from the
    // build-time stats rows (statsTitle's doc set IS gH's — docs with a
    // first-8 token — and statsTail's IS gL's, Σ(tf_b − tf_t) > 0 ⟺ ∃
    // term with tf_b > tf_t), so no request re-aggregates per-doc lengths
    val art = postings(s, d)
    val g = art.frame
    val gH = g.filter(col("tf_t") > 0)
    val gL = g.filter(col("tf_b") > col("tf_t"))
      .withColumn("tf_l", col("tf_b") - col("tf_t"))
    // blended per-term df = max across the two fields (distinct docs
    // with a head/tail occurrence respectively)
    val dfH = gH.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df_h"))
    val dfL = gL.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df_l"))
    // dfH/dfL are query-term-bounded (≤|qsel| rows — a groupBy on the
    // probed terms); hint them because the checkpointed artifact scan
    // carries no stats for Catalyst to see that
    val blended = qsel.select(col("tok"))
      .join(broadcast(dfH), Seq("tok"), "left_outer")
      .join(broadcast(dfL), Seq("tok"), "left_outer")
      .select(col("tok"),
        greatest(coalesce(col("df_h"), lit(0L)),
          coalesce(col("df_l"), lit(0L))).as("df"))
    // ONE idf table: blended df against the CORPUS n_docs (the union
    // frame — a superset of each field's doc set, so blended df can
    // never exceed it); each field instance swaps in its OWN avgdl for
    // tf-normalization (statsBody's avgdl is dropped unused)
    val qIdf = bm25Idf(art.statsBody, blended)
    def withAvgdl(fieldStats: DataFrame): DataFrame =
      qIdf.drop("avgdl").crossJoin(broadcast(fieldStats.select(col("avgdl"))))
    val scH = bm25TermScores(
      gH.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
        .select(col("doc_id"), col("tok"), col("tf_t").as("tf"), col("dl_t").as("dl")),
      withAvgdl(art.statsTitle))
      .select(col("doc_id"), col("tok"), (lit(2.0) * col("score_t")).as("sh"))
    val scL = bm25TermScores(
      gL.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
        .select(col("doc_id"), col("tok"), col("tf_l").as("tf"), col("dl_l").as("dl")),
      withAvgdl(art.statsTail))
      .select(col("doc_id"), col("tok"), col("score_t").as("sl"))
    scH.join(scL, Seq("doc_id", "tok"), "full_outer")
      .withColumn("best",
        greatest(coalesce(col("sh"), lit(0.0)), coalesce(col("sl"), lit(0.0))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        graft.functions.detsum.sumDet(col("best"), 9).as("final"))
  }

  /** [[phraseFieldScore]]'s exact numbers from a POSITIONAL-POSTINGS probe
    * — the phrase family's scale path: the postings carry each term's
    * sorted 0-based positions, so the adjacent-pair count is an array
    * intersection over the TWO probed terms' rows and the corpus is never
    * re-scanned (the scan form read factor 10.7 for q167 at the 100×
    * derivation). Returns (doc_id, s_body0, s_title0) — title UNboosted,
    * per-field hit docs only, FULL OUTER (callers coalesce + boost).
    * Bit-identity with the scan form: tf = |{i : i ∈ ps(w1), i+1 ∈
    * ps(w2)}| = phraseTf's adjacent pairs; title pairs additionally need
    * i ≤ 6 (both positions inside the first-8 window); df per term =
    * probe rows (body) / rows with tf_t > 0 (title); dl = the carried
    * field lengths (title dl = min(8, len) = dl_t because every
    * non-empty doc's first token is a first-8 position — and the corpus
    * has no zero-token docs, so the build-time stats equal the scan
    * form's whole-corpus aggregates); the pseudo-term idf sums TWO rows
    * (w1 = w2 still contributes twice — the degenerate-bigram contract). */
  private def phraseProbeScores(s: SparkSession, d: String, w1: String, w2: String): DataFrame = {
    val art = postings(s, d)
    val probe = art.frame.filter(col("tok").isin(w1, w2))
    val dfs = probe.agg(
      count(when(col("tok") === w1, 1)).as("df1b"),
      count(when(col("tok") === w2, 1)).as("df2b"),
      count(when(col("tok") === w1 && col("tf_t") > 0, 1)).as("df1t"),
      count(when(col("tok") === w2 && col("tf_t") > 0, 1)).as("df2t"))
    def pseudo(stats: DataFrame, c1: String, c2: String): DataFrame =
      bm25Idf(stats, dfs.select(explode(array(
        struct(lit(w1).as("tok"), col(c1).as("df")),
        struct(lit(w2).as("tok"), col(c2).as("df")))).as("kv"))
        .select(col("kv.tok").as("tok"), col("kv.df").as("df")))
        .agg(sum(col("idf")).as("idf"), max(col("avgdl")).as("avgdl"))
        .withColumn("tok", lit("phrase"))
    val p1 = probe.filter(col("tok") === w1)
      .select(col("doc_id"), col("ps").as("p1"), col("dl_b"), col("dl_t"))
    val p2 = probe.filter(col("tok") === w2).select(col("doc_id"), col("ps").as("p2"))
    // docs containing BOTH terms — a hit-sized frame; adjacency decided
    // by position-array intersection, positions never leave the row
    val pairs = p1.join(p2, Seq("doc_id"))
      .withColumn("tf_body",
        size(filter(col("p1"), i => array_contains(col("p2"), i + 1))).cast("long"))
      .withColumn("tf_title",
        size(filter(col("p1"), i => i <= 6 && array_contains(col("p2"), i + 1))).cast("long"))
    val scB = bm25Score(
      pairs.filter(col("tf_body") > 0)
        .select(col("doc_id"), lit("phrase").as("tok"),
          col("tf_body").as("tf"), col("dl_b").as("dl")),
      pseudo(art.statsBody, "df1b", "df2b"))
      .select(col("doc_id"), col("score").as("s_body0"))
    val scT = bm25Score(
      pairs.filter(col("tf_title") > 0)
        .select(col("doc_id"), lit("phrase").as("tok"),
          col("tf_title").as("tf"), col("dl_t").as("dl")),
      pseudo(art.statsTitle, "df1t", "df2t"))
      .select(col("doc_id"), col("score").as("s_title0"))
    scB.join(scT, Seq("doc_id"), "full_outer")
  }

  /** DuckDB mirror of the stream-shaped BM25 chain — tagged CTE chain (t$tag …
    * per$tag) over caller-supplied token-stream and query-df SQL bodies
    * (`qdfSql` yields (tok, df), mirroring the injected df table; the
    * placeholder %T% in it resolves to this instance's own stream CTE, so
    * the coupling to the tag is explicit); assumes `docs` and `rvocab`
    * CTEs in scope. Two instances compose in one q86 query. */
  private def bm25CtesOver(tag: String, tSql: String, qdfSql0: String): String = {
    val qdfSql = qdfSql0.replace("%T%", s"t$tag")
    s"""t$tag AS MATERIALIZED ($tSql),
       |dl$tag AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM t$tag GROUP BY doc_id),
       |stats$tag AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl$tag),
       |qt1$tag AS MATERIALIZED (
       |  SELECT qdf.tok, CAST(2 * n_docs + 2 AS BIGINT) AS num,
       |         CAST(2 * qdf.df + 1 AS BIGINT) AS den, avgdl
       |  FROM ($qdfSql) qdf, stats$tag
       |),
       |${graft.functions.detlog.log2SqlCtes(s"qt1$tag", "num", "lgn", s"qn$tag")},
       |${graft.functions.detlog.log2SqlCtes(s"qn${tag}fin", "den", "lgd", s"qd$tag")},
       |qidf$tag AS (SELECT tok, lgn - lgd AS idf, avgdl FROM qd${tag}fin),
       |tf$tag AS (
       |  SELECT t.doc_id, t.tok, COUNT(*) AS tf
       |  FROM t$tag t JOIN qidf$tag q ON t.tok = q.tok GROUP BY 1, 2
       |),
       |sc$tag AS (
       |  SELECT tf.doc_id,
       |         q.idf * ((CAST(tf.tf AS DOUBLE) * 2.2e0) /
       |           (CAST(tf.tf AS DOUBLE) +
       |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl))) AS score_t
       |  FROM tf$tag tf JOIN qidf$tag q ON tf.tok = q.tok JOIN dl$tag dl ON tf.doc_id = dl.doc_id
       |),
       |per$tag AS (
       |  SELECT doc_id, COUNT(*) AS n_terms_hit, ${graft.functions.detsum.sumDetSql("score_t", 9)} AS score
       |  FROM sc$tag GROUP BY doc_id
       |)""".stripMargin
  }

  /** The hit-phase fragmenter q82 and the front door share — ONE fragment
    * definition: ±3 tokens around the FIRST occurrence of any query term,
    * match wrapped in <em> tags, computed with pure array HOFs over the
    * broadcast-joined hit page only (the corpus never re-scans for
    * highlighting — ES's hit-phase cost model). `toksFrame` is the
    * analyzed corpus; `hits` = (rank, doc_id); `qarr` = a 1-row (qterms
    * array<string>) frame; hits must contain ≥1 query term (the scorer's
    * contract), so the first position exists. */
  private def highlightOver(toksFrame: DataFrame, hits: DataFrame, qarr: DataFrame): DataFrame =
    toksFrame
      .join(broadcast(hits), Seq("doc_id"))
      .crossJoin(broadcast(qarr))
      .withColumn("p",
        element_at(filter(sequence(lit(1), size(col("toks"))),
          i => array_contains(col("qterms"), element_at(col("toks"), i))), 1))
      .withColumn("pre",
        array_join(slice(col("toks"), greatest(lit(1), col("p") - 3),
          col("p") - greatest(lit(1), col("p") - 3)), " "))
      .withColumn("post", array_join(slice(col("toks"), col("p") + 1, lit(3)), " "))
      .select(col("rank"), col("doc_id"), col("p").cast("long").as("frag_pos"),
        trim(concat(col("pre"), lit(" <em>"), element_at(col("toks"), col("p")),
          lit("</em> "), col("post"))).as("fragment"))

  /** The top corpus bigram as a query STRING — the front-door phrase
    * request's text ([[windowQueryString]]'s convention for q86c's
    * phrase type: derive driver-side so the JSON-compiled scoring can be
    * proven row-identical to the typed entry). */
  private[graft] def topBigramString(s: SparkSession, d: String): String = {
    val r = topBigram(s, d).collect()(0)
    s"${r.getAs[String]("w1")} ${r.getAs[String]("w2")}"
  }

  /** The deterministic 5-term query string (vocab ranks [[QLo]]..[[QHi]])
    * — the front-door registry entries' request text, derived driver-side
    * from the vocab (coordinator-sized), so the JSON-compiled ranking can
    * be proven row-identical to the typed q76/q86 entries. */
  private[graft] def windowQueryString(s: SparkSession, d: String): String =
    rankedVocab(s, d).filter(col("r") >= QLo && col("r") <= QHi)
      .orderBy(col("r").asc).collect().map(_.getAs[String]("term")).mkString(" ")

  /** One artifact of the text index: its parquet tables as (name,
    * clustering columns), in [[Artifacts.frames]] order over its value,
    * and `assemble`, which rebuilds the value from those tables. Its
    * registry kind is `text.<first table>`. */
  private[graft] final class IndexPart[T](val tables: Seq[(String, Seq[String])],
      assemble: Seq[DataFrame] => T)(build: (SparkSession, String) => T) {
    val kind = s"text.${tables.head._1}"
    def apply(s: SparkSession, d: String): T = Artifacts(s, d, kind)(build(s, d))
    def load(s: SparkSession, d: String, dir: String): Unit =
      Artifacts.put(s, d, kind, assemble(tables.map(t => s.read.parquet(s"$dir/${t._1}"))))
  }

  /** A text-index artifact that is one table. */
  private def table(name: String, by: String*)(
      build: (SparkSession, String) => DataFrame): IndexPart[DataFrame] =
    new IndexPart[DataFrame](Seq(name -> by), _.head)(build)

  /** documents + the MATERIALIZED analyzed token column for front-door
    * full-text leaves ([[QueryDsl.Catalog.withAnalyzed]]): a build-once
    * artifact per dataset — the ES analyzed-index analog: at 100 TB the
    * analyzed corpus is materialized exactly once and every match/count
    * request PROBES it (array_contains), paying zero per-request
    * tokenization or text scan. A per-call checkpoint measured factor
    * 23.7 at 100x, the same as the regex scan, because every request
    * re-paid the tokenize+materialize. */
  private[graft] val docsAnalyzed: IndexPart[DataFrame] = table("analyzed", "doc_id") { (s, d) =>
    // repartition BEFORE the checkpoint: a single-file corpus would
    // otherwise materialize as ONE partition and serialize every
    // downstream explode on one core (the q72 scan-spreading lesson,
    // baked into the artifact so every consumer inherits it)
    docs(s, d).repartition(col("doc_id")).localCheckpoint(true)
  }

  /** The POSTING-LIST artifact — the text index's one per-(doc, term)
    * table: (doc_id, tok, tf_b = body occurrences, tf_t = first-8
    * occurrences, ps = the term's sorted 0-based positions, the
    * POSITIONAL half of the posting that phrase/near scoring probes),
    * partitioned BY TERM (at 100 TB: a term-bucketed table, so a
    * request's probe prunes to its query terms' buckets; locally: one
    * hash exchange at build), with each doc's field lengths CARRIED on
    * every posting row (the Lucene norms analog: dl_b = the token count,
    * dl_t = min(dl_b, 8), dl_l = dl_b − dl_t) and the corpus-level field
    * statistics collected ONCE at build (ES index metadata). A scored
    * `match`/`multi_match` request then touches NOTHING corpus-sized at
    * request time: its term probe yields df (rows per term) and tf/dl
    * (carried) directly, idf comes from the broadcast 1-row stats, and
    * the per-doc grouping runs over the hit-sized probe — ES's postings
    * cost model, not a per-request corpus re-aggregation. Bit-identity
    * with a token-stream pass, so every oracle hash holds: df(term) =
    * frame rows per tok = distinct docs per term; dl_b = Σtf_b per doc;
    * dl_t = Σtf_t; the stats use [[bm25CtesOver]]'s arithmetic (count,
    * sum cast double / count) over the docs with tokens. */
  private[graft] final case class Postings(
      frame: DataFrame, statsBody: DataFrame, statsTitle: DataFrame,
      statsTail: DataFrame)
  private[graft] val postings: IndexPart[Postings] = new IndexPart[Postings](
    Seq("postings" -> Seq("tok"), "stats_body" -> Nil, "stats_title" -> Nil, "stats_tail" -> Nil),
    t => Postings(t(0), t(1), t(2), t(3)))((s, d) => {
    // per-doc field lengths, taken before the explode
    val lens = docsAnalyzed(s, d)
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl_b"),
        least(size(col("toks")), lit(8)).cast("long").as("dl_t"))
      .withColumn("dl_l", col("dl_b") - col("dl_t"))
    // ONE aggregate over the analyzed corpus: the zero-token check's doc
    // counts and the n_docs/avgdl of all three fields (count/sum over a
    // field's doc set through when(), the same integers a
    // filter-then-aggregate gives)
    def field(name: String, dlCol: String): Seq[Column] = {
      val in = col(dlCol) > 0
      Seq(count(when(in, 1)).as(s"n_$name"),
        (sum(when(in, col(dlCol))).cast("double") / count(when(in, 1))).as(s"avgdl_$name"))
    }
    val st = lens.agg(count(lit(1)).as("n_all"),
      // the title field's doc set = docs with ≥1 first-8 token; the TAIL
      // field (tokens 9+, q86d's head/tail split) = docs with ≥1 token
      // past the first 8
      field("body", "dl_b") ++ field("title", "dl_t") ++ field("tail", "dl_l"): _*).head()
    // the stats aggregate only docs WITH tokens, while the DuckDB oracles
    // aggregate over every doc — identical ONLY under the
    // no-zero-token-docs invariant. Assert it at build so a future corpus
    // with an empty text field fails LOUDLY here instead of silently
    // shifting n_docs/avgdl for every scored request.
    val (nDl, nDocs) = (st.getAs[Long]("n_body"), st.getAs[Long]("n_all"))
    require(nDl == nDocs,
      s"postings build: $nDocs analyzed docs but only $nDl with tokens — " +
        "a zero-token doc breaks the stats identity with the full-corpus scan forms")
    // the (doc, term) aggregate completes map-side: the analyzed corpus is
    // doc_id-clustered and the checkpoint keeps that partitioning
    val frame = lens
      .select(col("doc_id"), col("dl_b"), col("dl_t"), col("dl_l"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      .groupBy(col("doc_id"), col("tok"), col("dl_b"), col("dl_t"), col("dl_l"))
      .agg(count(lit(1)).as("tf_b"), count(when(col("pos") < 8, 1)).as("tf_t"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), col("tok"), col("tf_b"), col("tf_t"), col("ps"),
        col("dl_b"), col("dl_t"), col("dl_l"))
      .repartition(col("tok"))
      .localCheckpoint(true)
    def statsOf(name: String): DataFrame =
      s.range(1).select(
        lit(st.getAs[Long](s"n_$name")).as("n_docs"),
        lit(st.getAs[Double](s"avgdl_$name")).as("avgdl"))
    Postings(frame, statsBody = statsOf("body"), statsTitle = statsOf("title"),
      statsTail = statsOf("tail"))
  })

  /** The text index, in dependency order. Build, save, load and reset all
    * run over this one list. */
  private lazy val textIndex: Seq[IndexPart[_]] =
    Seq(docsAnalyzed, postings, dfVocab, rankedVocab, titleVocab, topBigram)

  /** Persist the ENTIRE text index of dataset `d` as parquet tables —
    * analyzed corpus, term-partitioned postings with positions and
    * carried field lengths, the three 1-row field-stats
    * tables, the per-field term dictionaries and the phrase dictionary.
    * The durable half of the build-once claim (the `VecIndex.save`
    * discipline): at 100 TB the analyzed corpus and postings are TABLES
    * written once at index time — a new session [[loadIndex]]es them and
    * every probe runs with ZERO build jobs, exactly how an ES node opens
    * an existing index instead of re-analyzing the corpus. */
  private[graft] def saveIndex(s: SparkSession, d: String, dir: String): Unit = {
    buildTextIndex(s, d)
    // The writes are independent and read materialized artifacts, so they
    // overlap: one write's tasks back-fill the cores another's tail frees.
    // REBALANCE before each write lets AQE coalesce a table into a few
    // advisory-sized files instead of one per in-memory partition; the
    // keyed rebalance keeps the artifact's clustering in the saved layout.
    Artifacts.concurrently(indexTables(s, d).map { case (sub, df, by) => () =>
      df.hint("rebalance", by.map(col): _*).write.mode("overwrite").parquet(s"$dir/$sub")
    }: _*)
  }

  /** Every table of the text index as (name, frame, clustering columns) —
    * the set [[saveIndex]] writes. Accessing an unbuilt artifact builds it
    * here, one after another. */
  private[graft] def indexTables(s: SparkSession, d: String): Seq[(String, DataFrame, Seq[String])] =
    textIndex.flatMap(p => p.tables.zip(Artifacts.frames(p(s, d))).map {
      case ((name, by), df) => (name, df, by)
    })

  /** Install a saved text index under dataset key `key`: every artifact
    * for `key` is REPLACED with a parquet-backed frame, so the whole
    * dictionary/postings consumer family (scored search, rewrites, phrase
    * probes) serves from the loaded tables — no tokenize, no aggregation,
    * no build jobs, and parquet pushdown/pruning apply to every probe.
    * Values round-trip exactly (longs, strings, position arrays, and the
    * build-time stats doubles), so scores are byte-identical to the
    * building session's — TextIndexSpec pins that. */
  private[graft] def loadIndex(s: SparkSession, key: String, dir: String): Unit =
    textIndex.foreach(_.load(s, key, dir))

  /** The once-per-(session, dataset) persisted-and-reloaded index key that
    * q178's steady-state serving path probes: saveIndex writes the whole
    * text index to parquet ONCE, loadIndex installs the parquet-backed
    * frames under a fresh dataset key, and every later request serves from
    * those tables — the ES "node opens an existing index" shape. */
  private def loadedIndexKey(s: SparkSession, d: String): String =
    Artifacts(s, d, "text.loaded_index") {
      val dir = IngestQueries.scratchDir("graft_text_index_srv").toString
      saveIndex(s, d, dir)
      val key = s"$dir::loaded"
      loadIndex(s, key, dir)
      key
    }

  /** perfbench's rebuild hook (the [[VecIndex.reset]] analog): drop every
    * text-index artifact for (s, d) and free its checkpoint blocks, so the
    * next [[buildTextIndex]] pays the full build from the parquet corpus.
    * Callers must be sequential with every artifact consumer. */
  private[graft] def resetTextIndex(s: SparkSession, d: String): Unit =
    Artifacts.drop(s, d, textIndex.map(_.kind))

  /** Force-build the full text index for (s, d) — the exact artifact set
    * [[saveIndex]] persists. Every frame is localCheckpoint(true) (eager)
    * and the postings stats collect at build, so returning means every
    * build job ran. The parts build concurrently: each waits in its lazy
    * slot for the parts it reads, and the builds that read only the
    * postings or the analyzed corpus fill the cores each other's tails
    * leave idle. */
  private[graft] def buildTextIndex(s: SparkSession, d: String): Unit =
    Artifacts.concurrently(textIndex.map(p => () => p(s, d)): _*)

  /** The front door's [[QueryDsl.Relevance]] — every scorer routes through
    * THE shared BM25 stack, so `searchScored` can never grow a second copy
    * of the formula. multi_match resolves the engine's field model: `body`
    * = the full token stream, `title` = the first-8-token derived field
    * (q86's documented convention), body boost fixed at 1 (the typed
    * stack's shape — a non-1 body boost is loudly rejected rather than
    * silently approximated). */
  private[graft] def dslRelevance(s: SparkSession, d: String): QueryDsl.Relevance = {
    // an analyzed term set's (tok, df) table as a PROBE of the posting-list
    // artifact: df = probe rows per term = distinct docs per term, the
    // integers dfVocab/rankedVocab hold (so the window terms score exactly
    // as typed q76/q86); terms absent from the corpus get no row
    def termDf(art: Postings, terms: Seq[String]): DataFrame =
      art.frame.filter(col("tok").isin(terms.distinct: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    QueryDsl.Relevance(
      matchScorer = (field, terms) => {
        require(field == "text",
          s"query DSL: scored match supports the analyzed corpus field 'text', got '$field'")
        require(terms.nonEmpty, "query DSL: scored match requires a non-empty analyzed query")
        val art = postings(s, d)
        bm25Body(art, termDf(art, terms))
      },
      multiMatchScorer = (fields, terms, tieBreaker, mtype) => {
        val fm = fields.toMap
        require(fields.size == 2 && fm.contains("title") && fm.contains("body"),
          s"query DSL: multi_match supports fields [title^B, body], got $fields")
        require(fm("body") == 1.0,
          "query DSL: multi_match body boost must be 1 (the typed q86 stack's shape)")
        // both fields' tf/dl carried on the probed postings — the request
        // touches nothing corpus-sized
        val art = postings(s, d)
        def qsel = termDf(art, terms)
        mtype match {
          case "best_fields" =>
            multiMatchFieldsFrom(art, qsel, titleBoost = fm("title"))
              .withColumn("score",
                greatest(col("s_body"), col("s_title_boosted")) +
                  lit(tieBreaker) * least(col("s_body"), col("s_title_boosted")))
              .select(col("doc_id"), col("score"))
          case "most_fields" =>
            // every matching field ADDS evidence (typed q86b's combine);
            // tie_breaker is dis_max machinery — loudly rejected here
            require(tieBreaker == 0.0,
              "query DSL: most_fields sums field scores — tie_breaker does not apply")
            multiMatchFieldsFrom(art, qsel, titleBoost = fm("title"))
              .withColumn("score", col("s_body") + col("s_title_boosted"))
              .select(col("doc_id"), col("score"))
          case "phrase" =>
            // a match_phrase of the 2-term query on each field, best
            // field kept (typed q86c's stack verbatim — the
            // positional-postings probe; nothing corpus-sized at request
            // time)
            require(terms.size == 2,
              s"query DSL: multi_match phrase supports a 2-term phrase, got ${terms.size} terms")
            require(tieBreaker == 0.0,
              "query DSL: multi_match phrase uses the type's default tie_breaker 0")
            phraseProbeScores(s, d, terms.head, terms(1))
              .withColumn("score",
                greatest(coalesce(col("s_body0"), lit(0.0)),
                  coalesce(lit(fm("title")) * col("s_title0"), lit(0.0))))
              .select(col("doc_id"), col("score"))
          case "cross_fields" =>
            // term-centric blended-df scoring (typed q86d's stack via THE
            // shared helper — one definition)
            require(fm("title") == 2.0,
              "query DSL: cross_fields head boost is the typed q86d stack's ^2")
            require(tieBreaker == 0.0,
              "query DSL: cross_fields uses the type's default tie_breaker 0")
            crossFieldsScored(s, d, qsel)
              .select(col("doc_id"), col("final").as("score"))
          case other =>
            throw new IllegalArgumentException(s"query DSL: unsupported multi_match type '$other'")
        }
      },
      highlighter = (field, terms, hits) => {
        require(field == "text",
          s"query DSL: highlight supports the analyzed corpus field 'text', got '$field'")
        val qarr = s.range(1)
          .select(array(terms.distinct.sorted.map(lit): _*).as("qterms"))
        highlightOver(docsAnalyzed(s, d), hits, qarr)
      })
  }

  /** [[bm25PerDoc]] joined with the detlog length factor log2(1+doc_length)
    * — ONE definition shared by q76c (function_score) and q83 (the second
    * RRF ranking), so the ranking RRF fuses can never drift from the
    * function_score it claims to share. Adds (dl1, factor). */
  private def bm25LengthFactored(s: SparkSession, d: String): DataFrame = {
    // the dl inner join drops nothing: every scored doc has a length
    val dl = docsAnalyzed(s, d)
      .select(col("doc_id"), (size(col("toks")) + 1).cast("long").as("dl1"))
    graft.functions.detlog.withLog2(bm25PerDoc(s, d).join(dl, Seq("doc_id")), "dl1", "factor")
  }

  /** DuckDB mirror of [[bm25LengthFactored]] — appends to [[bm25PerCtes]];
    * ends with `fvfin` (per + dl1 + factor, joinable on doc_id). */
  private val lengthFactorCtes =
    s"""d1 AS (SELECT doc_id, CAST(dl + 1 AS BIGINT) AS dl1 FROM dl),
       |${graft.functions.detlog.log2SqlCtes("d1", "dl1", "factor", "fv")}""".stripMargin

  /** DuckDB mirror of [[phraseTf]] — generated once (the bm25PerCtes
    * precedent) so the q76b and q78 oracles can never drift apart on the
    * guard or the index window. `w1`/`w2` are SQL expressions in scope. */
  private def phraseTfSql(w1: String, w2: String, arr: String = "toks"): String =
    s"""CASE WHEN len($arr) >= 2
       |              THEN len(list_filter(generate_series(1, len($arr) - 1),
       |                                   i -> ($arr)[i] = $w1 AND ($arr)[i+1] = $w2))
       |              ELSE 0 END""".stripMargin

  /** DuckDB replay of [[qualityScored]]'s closed-form training + scoring —
    * the shared q99/q99b oracle prefix, ending in `sc` (doc_id, label,
    * n_feat, score). The oracle RETRAINS the classifier: same hashed-gram
    * stream (q70's CTE), same 80% split, same detlog log-count-ratio
    * weights, same prior, same detsum scoring. */
  private lazy val qualityClsCtes: String =
    s"""$docsCte,
       |g AS (
       |  SELECT doc_id, source,
       |         substring(md5(UNNEST(list_concat(toks,
       |           list_transform(generate_series(1, len(toks) - 1),
       |                          i -> array_to_string(list_slice(toks, i, i + 1), ' '))))), 1, 2) AS b
       |  FROM docs
       |),
       |counts0 AS MATERIALIZED (
       |  SELECT b, COUNT(*) FILTER (WHERE source = 'src0') AS cp,
       |         COUNT(*) FILTER (WHERE source <> 'src0') AS cn
       |  FROM g WHERE doc_id % 5 <> 0 GROUP BY b
       |),
       |counts1 AS MATERIALIZED (SELECT b, cp + 1 AS cpp, cn + 1 AS cnp FROM counts0),
       |${graft.functions.detlog.log2SqlCtes("counts1", "cpp", "lgp", "qp")},
       |${graft.functions.detlog.log2SqlCtes("qpfin", "cnp", "lgn", "qn2")},
       |tot AS (SELECT CAST(SUM(cp) + 256 AS BIGINT) AS np, CAST(SUM(cn) + 256 AS BIGINT) AS nn FROM counts0),
       |${graft.functions.detlog.log2SqlCtes("tot", "np", "lgnp", "qtp")},
       |${graft.functions.detlog.log2SqlCtes("qtpfin", "nn", "lgnn", "qtn")},
       |w AS MATERIALIZED (
       |  SELECT b, ((lgp - lgnp) - (lgn - lgnn)) AS w FROM qn2fin, qtnfin
       |),
       |dcls AS (SELECT doc_id, source = 'src0' AS label FROM documents),
       |pr0 AS (
       |  SELECT CAST(COUNT(*) FILTER (WHERE label) + 1 AS BIGINT) AS dp,
       |         CAST(COUNT(*) FILTER (WHERE NOT label) + 1 AS BIGINT) AS dn
       |  FROM dcls WHERE doc_id % 5 <> 0
       |),
       |${graft.functions.detlog.log2SqlCtes("pr0", "dp", "lgdp", "qdp")},
       |${graft.functions.detlog.log2SqlCtes("qdpfin", "dn", "lgdn", "qdn")},
       |prior AS (SELECT lgdp - lgdn AS p0 FROM qdnfin),
       |per AS (
       |  SELECT doc_id, COUNT(*) AS n_feat, ${graft.functions.detsum.sumDetSql("w", 9)} AS sw
       |  FROM g JOIN w USING (b) GROUP BY doc_id
       |),
       |sc AS (
       |  SELECT per.doc_id, dcls.label, per.n_feat, p0 + sw AS score
       |  FROM per JOIN dcls ON per.doc_id = dcls.doc_id, prior
       |)""".stripMargin

  /** The shared q86/q86b oracle prefix: both multi_match types score the
    * identical per-field stack (body + title BM25 instances via
    * [[bm25CtesOver]]) and differ ONLY in the combine applied to `f` —
    * exactly as the Spark side shares [[multiMatchPerField]]. */
  private lazy val multiMatchFieldsCtes: String =
    s"""$docsCte,
       |$rankedVocabCte,
       |${bm25CtesOver("_b", "SELECT doc_id, UNNEST(toks) AS tok FROM docs", bodyQdfSql)},
       |${bm25CtesOver("_t", "SELECT doc_id, UNNEST(toks[1:8]) AS tok FROM docs",
          s"""SELECT tok, COUNT(*) AS df FROM (
             |      SELECT DISTINCT dt.doc_id, dt.tok FROM %T% dt
             |      JOIN rvocab ON dt.tok = rvocab.term AND rvocab.r BETWEEN $QLo AND $QHi
             |    ) GROUP BY tok""".stripMargin)},
       |f AS (
       |  SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id,
       |         COALESCE(b.score, 0.0e0) AS s_body,
       |         COALESCE(2.0e0 * t.score, 0.0e0) AS s_title_boosted
       |  FROM per_b b FULL OUTER JOIN per_t t ON b.doc_id = t.doc_id
       |)""".stripMargin

  /** The q86d cross_fields oracle chain — term-centric blending over the
    * DISJOINT head (toks[1:8], boost 2×) / tail (toks[9:]) fields: ONE idf
    * table (blended df = max across fields, n_docs from the corpus union
    * frame), per-field tf-normalization (each sc instance uses its field's
    * own dl/avgdl — the sc bodies are TEXTUALLY [[bm25CtesOver]]'s shared
    * formula), per-term dis_max across fields, detsum over terms. Ends
    * with `xper` (doc_id, n_terms_hit, final). */
  private lazy val crossFieldsCtes: String =
    s"""$docsCte,
       |$rankedVocabCte,
       |txh AS MATERIALIZED (SELECT doc_id, UNNEST(toks[1:8]) AS tok FROM docs),
       |txl AS MATERIALIZED (SELECT doc_id, UNNEST(toks[9:]) AS tok FROM docs),
       |xdlb AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM (
       |    SELECT doc_id, UNNEST(toks) AS tok FROM docs
       |  ) GROUP BY doc_id
       |),
       |xdlh AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM txh GROUP BY doc_id),
       |xdll AS MATERIALIZED (SELECT doc_id, COUNT(*) AS dl FROM txl GROUP BY doc_id),
       |xstatsb AS (SELECT COUNT(*) AS n_docs FROM xdlb),
       |xstatsh AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM xdlh),
       |xstatsl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM xdll),
       |xqdfh AS (
       |  SELECT tok, COUNT(*) AS df FROM (
       |    SELECT DISTINCT dt.doc_id, dt.tok FROM txh dt
       |    JOIN rvocab ON dt.tok = rvocab.term AND rvocab.r BETWEEN $QLo AND $QHi
       |  ) GROUP BY tok
       |),
       |xqdfl AS (
       |  SELECT tok, COUNT(*) AS df FROM (
       |    SELECT DISTINCT dt.doc_id, dt.tok FROM txl dt
       |    JOIN rvocab ON dt.tok = rvocab.term AND rvocab.r BETWEEN $QLo AND $QHi
       |  ) GROUP BY tok
       |),
       |xqblend AS (
       |  SELECT b.tok, GREATEST(COALESCE(h.df, 0), COALESCE(l.df, 0)) AS df
       |  FROM ($bodyQdfSql) b
       |  LEFT JOIN xqdfh h USING (tok)
       |  LEFT JOIN xqdfl l USING (tok)
       |),
       |xqt1 AS MATERIALIZED (
       |  SELECT q.tok, CAST(2 * n_docs + 2 AS BIGINT) AS num,
       |         CAST(2 * q.df + 1 AS BIGINT) AS den
       |  FROM xqblend q, xstatsb
       |),
       |${graft.functions.detlog.log2SqlCtes("xqt1", "num", "lgn", "xqn")},
       |${graft.functions.detlog.log2SqlCtes("xqnfin", "den", "lgd", "xqd")},
       |xqidf AS (SELECT tok, lgn - lgd AS idf FROM xqdfin),
       |xtfh AS (
       |  SELECT t.doc_id, t.tok, COUNT(*) AS tf
       |  FROM txh t JOIN xqidf q ON t.tok = q.tok GROUP BY 1, 2
       |),
       |xtfl AS (
       |  SELECT t.doc_id, t.tok, COUNT(*) AS tf
       |  FROM txl t JOIN xqidf q ON t.tok = q.tok GROUP BY 1, 2
       |),
       |xsch AS (
       |  SELECT tf.doc_id, tf.tok,
       |         2.0e0 * (q.idf * ((CAST(tf.tf AS DOUBLE) * 2.2e0) /
       |           (CAST(tf.tf AS DOUBLE) +
       |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / st.avgdl)))) AS score_t
       |  FROM xtfh tf JOIN xqidf q ON tf.tok = q.tok JOIN xdlh dl ON tf.doc_id = dl.doc_id, xstatsh st
       |),
       |xscl AS (
       |  SELECT tf.doc_id, tf.tok,
       |         q.idf * ((CAST(tf.tf AS DOUBLE) * 2.2e0) /
       |           (CAST(tf.tf AS DOUBLE) +
       |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / st.avgdl))) AS score_t
       |  FROM xtfl tf JOIN xqidf q ON tf.tok = q.tok JOIN xdll dl ON tf.doc_id = dl.doc_id, xstatsl st
       |),
       |xpt AS (
       |  SELECT COALESCE(h.doc_id, l.doc_id) AS doc_id,
       |         GREATEST(COALESCE(h.score_t, 0.0e0), COALESCE(l.score_t, 0.0e0)) AS best
       |  FROM xsch h FULL OUTER JOIN xscl l ON h.doc_id = l.doc_id AND h.tok = l.tok
       |),
       |xper AS (
       |  SELECT doc_id, COUNT(*) AS n_terms_hit, ${graft.functions.detsum.sumDetSql("best", 9)} AS final
       |  FROM xpt GROUP BY doc_id
       |)""".stripMargin

  /** DuckDB mirror of [[spanPairFrame]] — the shared q100/q101 oracle
    * prefix ending in `b` (doc_id, p2, p3, bigs): top-3 term positions
    * and the greedy (t1, t2) big-span starts at slop [[SpanPairSlop]].
    * The big-span definition exists once on each side, like the Spark
    * helper. */
  private lazy val spanPairCtes: String =
    s"""$docsCte,
       |$rankedVocabCte,
       |tt AS (
       |  SELECT MIN(CASE WHEN r = 1 THEN term END) AS t1,
       |         MIN(CASE WHEN r = 2 THEN term END) AS t2,
       |         MIN(CASE WHEN r = 3 THEN term END) AS t3
       |  FROM rvocab WHERE r <= 3
       |),
       |m AS (
       |  SELECT doc_id,
       |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t1) AS p1,
       |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t2) AS p2,
       |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t3) AS p3
       |  FROM docs, tt
       |),
       |b AS (
       |  SELECT doc_id, p2, p3,
       |         list_filter(p1, i ->
       |           list_min(list_filter(p2, y -> y > i)) IS NOT NULL
       |           AND list_min(list_filter(p2, y -> y > i)) - i - 1 <= $SpanPairSlop) AS bigs
       |  FROM m
       |)""".stripMargin

  /** DuckDB mirror of [[topBigram]] — the bg/top1 CTE pair, ONE copy
    * shared by the q78, q90 and q86c oracles (assumes `docs` in scope). */
  private val topBigramCtes =
    """bg AS (
      |  SELECT toks[j] AS w1, toks[j+1] AS w2, COUNT(*) AS cnt
      |  FROM docs, unnest(generate_series(1, len(toks) - 1)) AS t(j)
      |  GROUP BY 1, 2
      |),
      |top1 AS (SELECT w1, w2 FROM bg ORDER BY cnt DESC, (w1 || ' ' || w2) ASC LIMIT 1)""".stripMargin

  /** DuckDB mirror of [[phraseProbeScores]]' per-field chain (the scan
    * spelling — tf/df/dl are the same integers) — one field of q86c's phrase
    * scoring as a tagged CTE chain ending in `pper$tag` (doc_id,
    * n_terms_hit, score). `arr` is the field's token-array SQL expression;
    * assumes `docsb` (docs × top1 bigram) in scope. Same shape as
    * [[bm25CtesOver]]: the sc/pper pair is TEXTUALLY the shared formula. */
  private def phraseFieldCtes(tag: String, arr: String): String =
    s"""pd$tag AS MATERIALIZED (
       |  SELECT doc_id, CAST(len($arr) AS BIGINT) AS dl,
       |         ${phraseTfSql("w1", "w2", arr)} AS tf,
       |         CASE WHEN list_contains($arr, w1) THEN 1 ELSE 0 END AS h1,
       |         CASE WHEN list_contains($arr, w2) THEN 1 ELSE 0 END AS h2
       |  FROM docsb
       |),
       |stats$tag AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM pd$tag),
       |qdf$tag AS (
       |  SELECT 1 AS ord, SUM(h1) AS df FROM pd$tag
       |  UNION ALL
       |  SELECT 2 AS ord, SUM(h2) AS df FROM pd$tag
       |),
       |qt$tag AS MATERIALIZED (
       |  SELECT ord, CAST(2 * n_docs + 2 AS BIGINT) AS num,
       |         CAST(2 * df + 1 AS BIGINT) AS den, avgdl
       |  FROM qdf$tag, stats$tag
       |),
       |${graft.functions.detlog.log2SqlCtes(s"qt$tag", "num", "lgn", s"pn$tag")},
       |${graft.functions.detlog.log2SqlCtes(s"pn${tag}fin", "den", "lgd", s"pq$tag")},
       |qidf$tag AS (SELECT SUM(lgn - lgd) AS idf, MAX(avgdl) AS avgdl FROM pq${tag}fin),
       |sc$tag AS (
       |  SELECT pd.doc_id,
       |         q.idf * ((CAST(pd.tf AS DOUBLE) * 2.2e0) /
       |           (CAST(pd.tf AS DOUBLE) +
       |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(pd.dl AS DOUBLE) / q.avgdl))) AS score_t
       |  FROM pd$tag pd, qidf$tag q WHERE pd.tf > 0
       |),
       |pper$tag AS (
       |  SELECT doc_id, COUNT(*) AS n_terms_hit, ${graft.functions.detsum.sumDetSql("score_t", 9)} AS score
       |  FROM sc$tag GROUP BY doc_id
       |)""".stripMargin

  /** DuckDB mirror of [[spanNearTf]] — same single-definition rule. */
  private def spanNearTfSql(w1: String, w2: String, slop: Int): String =
    s"""CASE WHEN len(toks) >= 2
       |              THEN len(list_filter(generate_series(1, len(toks) - 1),
       |                                   i -> toks[i] = $w1 AND list_contains(toks[i+1:i+${slop + 1}], $w2)))
       |              ELSE 0 END""".stripMargin

  /** DuckDB mirror of [[spanFirstHits]] over the corpus — shared by the
    * q95 (windowed) and st17 (every-hit alert stream) oracles, exactly as
    * the Spark side shares the matcher. */
  private lazy val spanFirstSql: String =
    s"""WITH $docsCte,
       |$rankedVocabCte,
       |t1 AS (SELECT term FROM rvocab WHERE r = $QLo),
       |m AS (
       |  SELECT doc_id, term,
       |         list_filter(generate_series(1, LEAST(10, len(toks))), i -> toks[i] = term) AS hits
       |  FROM docs, t1
       |)
       |SELECT doc_id, term, CAST(hits[1] AS BIGINT) AS first_pos, CAST(len(hits) AS BIGINT) AS n_within
       |FROM m WHERE len(hits) > 0""".stripMargin

  /** The shared DuckDB mirror of [[rankedVocab]] — a CTE named `rvocab`. */
  private val rankedVocabCte =
    """rvocab AS (
      |  SELECT term, df, row_number() OVER (ORDER BY df DESC, term ASC) AS r
      |  FROM (
      |    SELECT term, COUNT(*) AS df FROM (
      |      SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
      |    ) WHERE length(term) >= 4 GROUP BY term
      |  )
      |)""".stripMargin

  /** The percolator's stored-query registry: 8 term+min-length rules from
    * the vocab terms ranked 5..12 by (df desc, term asc) — deterministic
    * in both engines and guaranteed non-empty on the 24-term vocab; shared
    * by q77 (batch) and st14 (streaming). */
  private[graft] def percolateRules(s: SparkSession, d: String): DataFrame =
    rankedVocab(s, d)
      .filter(col("r") >= 5 && col("r") <= 12)
      .select(
        (col("r") - lit(4)).cast("long").as("rule_id"),
        col("term"),
        (lit(40L) + (col("r") - lit(5)) * lit(5L)).as("min_toks"))

  /** Registry-scale ("inverted") percolation, shared by q77b (batch) and
    * st14 (streaming): the doc token stream (distinct per doc, so each
    * (doc, rule) pair surfaces at most once) equi-joins the broadcast
    * rule-TERM table on the term key — only tokens that hit a rule produce
    * rows, vs q77's rules×docs row multiplication — then the min_toks
    * length predicate verifies candidates. Stateless, so it applies
    * unchanged to a streaming source. Input needs `doc_id`, `toks`. */
  private[graft] def percolateInvertedAgg(in: DataFrame, rules: DataFrame): DataFrame =
    percolateMatch(
      in.select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(array_distinct(col("toks"))).as("tok")),
      rules)

  /** The inverted match+verify tail shared by the streaming explode form
    * above and q77b's batch POSTINGS PROBE ([[percolateInvertedBatch]]):
    * input is the (doc_id, n_toks, tok) candidate stream, one row per
    * distinct (doc, token). */
  private def percolateMatch(tokStream: DataFrame, rules: DataFrame): DataFrame =
    tokStream.join(broadcast(rules), col("tok") === col("term"))
      .filter(col("n_toks") >= col("min_toks"))
      .groupBy(col("rule_id"), col("term"), col("min_toks"))
      .agg(count(lit(1)).as("n_matches"), min(col("doc_id")).as("first_doc"))

  /** Batch q77b: the candidate stream IS the posting-list artifact — one
    * row per distinct (doc, term) with the doc's token count (dl_b)
    * carried, so registry percolation touches nothing corpus-sized and
    * never re-explodes tokens. Row-identical to the explode form (dl_b =
    * Σtf_b = size(toks); the artifact's rows are the distinct tokens). */
  private def percolateInvertedBatch(s: SparkSession, d: String, rules: DataFrame): DataFrame =
    percolateMatch(
      postings(s, d).frame.select(col("doc_id"), col("dl_b").as("n_toks"), col("tok")),
      rules)

  /** Spool the documents table and open it as a file stream with tokens
    * attached — the ONE arriving-documents feed every text/multimodal
    * streaming query (st13–st19) reads. The testdata table is a single
    * parquet file; the file stream source wants a directory feed, and the
    * multi-file spool gives several micro-batch splits. The spool is
    * written ONCE per (session, dataset) via [[IngestQueries.spoolOnce]];
    * tokenization stays IN the stream (`toks` is computed on the streamed
    * rows per request). */
  private[graft] def docStream(s: SparkSession, d: String): DataFrame = {
    val spool = IngestQueries.spoolOnce(s, d, "docs4") { p =>
      Tables(s, d, "documents").repartition(4).write.mode("overwrite").parquet(p.toString)
    }
    s.readStream
      .schema(Tables.schema(s, d, "documents"))
      .parquet(spool.toString)
      .withColumn("toks", text.tokens(col("text")))
  }

  /** st14's streaming aggregate, exposed unstarted so PlanSpec can gate the
    * physical join shape of the exact streaming DataFrame the query runs. */
  private[graft] def st14StreamAgg(s: SparkSession, d: String): DataFrame =
    percolateInvertedAgg(docStream(s, d), percolateRules(s, d))

  /** q95's query term (the top query-window term, rank QLo) — a driver
    * literal by the st15/centroids convention, so the streaming form needs
    * no stream-static join. */
  private[graft] def spanFirstTerm(s: SparkSession, d: String): String =
    rankedVocab(s, d).filter(col("r") === QLo)
      .select(col("term")).collect().head.getString(0)

  /** q95's positional matcher (stateless; shared VERBATIM by the st17
    * streaming form — a hash match proves streaming emission is
    * row-identical to batch): docs whose `term` occurs within the first
    * 10 positions, with the first hit position and in-window count. Pure
    * array HOF — positions never leave the row; the size≥1 guard exists
    * because Spark's sequence(1, 0) is a descending ramp, not empty. */
  /** 1-based positions of `term` in a token array — the position-array
    * primitive the q96/q98 positional queries build on. The size≥1 guard
    * exists because Spark's sequence(1, 0) is a descending ramp, not
    * empty (DuckDB's generate_series(1, 0) IS empty, so the oracle side
    * needs no guard). */
  private def termPositions(toks: Column, term: Column): Column =
    when(size(toks) >= 1,
      filter(sequence(lit(1), size(toks)), i => element_at(toks, i) === term))
      .otherwise(array().cast("array<int>"))

  /** q100/q101's shared BIG-span slop bound. */
  private val SpanPairSlop = 5

  /** The greedy-pair end position for a big-span start `i`: the FIRST t2
    * position after i (expects `p2` in scope) — q96's greedy-anchor
    * contract applied to a 2-term span_near. ONE definition read by both
    * containment directions. */
  private def spanPairJ(i: Column): Column =
    array_min(filter(col("p2"), y => y > i))

  /** The shared q100/q101 frame: per doc, position arrays of the top-3 df
    * vocab terms (q96's derivation) and `bigs` — the valid greedy ordered
    * (t1, t2) pair spans as (i, j) STRUCTS (slop [[SpanPairSlop]]: the
    * span [i, j] with j = [[spanPairJ]](i) is valid when j−i−1 ≤ slop).
    * The big-span definition exists ONCE; span_containing and span_within
    * are two containment directions over it.
    *
    * The greedy end j is hoisted into an ALIGNED `ends` array computed
    * once per start — the first shipped form re-evaluated spanPairJ (an
    * array_min(filter(p2, ...)) scan) inside the per-element lambdas of
    * the downstream p3 filters, making the containment checks
    * O(|p1|·|p2|·|p3|) PER DOCUMENT on the three most frequent corpus
    * terms (measured: q101 50.5s / q100 20.3s at sf0.1); with j carried
    * in the span struct the checks are O(|bigs|·|p3|) and both queries
    * drop to sub-second. Same greedy semantics, same oracle. */
  private def spanPairFrame(s: SparkSession, d: String): DataFrame = {
    val ts = rankedVocab(s, d).filter(col("r") <= 3).orderBy(col("r"))
      .select(col("term")).collect().map(_.getString(0))
    val (t1, t2, t3) = (ts(0), ts(1), ts(2))
    docsAnalyzed(s, d)
      .withColumn("p1", termPositions(col("toks"), lit(t1)))
      .withColumn("p2", termPositions(col("toks"), lit(t2)))
      .withColumn("p3", termPositions(col("toks"), lit(t3)))
      .withColumn("ends", transform(col("p1"), i => spanPairJ(i)))
      .withColumn("bigs",
        filter(
          zip_with(col("p1"), col("ends"), (i, j) => struct(i.as("i"), j.as("j"))),
          sp => sp.getField("j").isNotNull &&
            (sp.getField("j") - sp.getField("i") - lit(1) <= lit(SpanPairSlop))))
  }

  private[graft] def spanFirstHits(in: DataFrame, term: String): DataFrame =
    in.withColumn("term", lit(term))
      .withColumn("hits",
        when(size(col("toks")) >= 1,
          filter(sequence(lit(1), least(lit(10), size(col("toks")))),
            i => element_at(col("toks"), i) === col("term")))
          .otherwise(array().cast("array<int>")))
      .withColumn("n_within", size(col("hits")).cast("long"))
      .filter(col("n_within") > 0)
      // ascending positions: the first element IS the first hit
      .withColumn("first_pos", element_at(col("hits"), 1).cast("long"))
      .select(col("doc_id"), col("term"), col("first_pos"), col("n_within"))

  /** st15's query-term set (the BM25 window terms, sorted) — driver
    * literals by the centroids convention. */
  private[graft] def termsSetQueryTerms(s: SparkSession, d: String): Seq[String] =
    rankedVocab(s, d).filter(col("r") >= QLo && col("r") <= QHi)
      .orderBy(col("term").asc).select(col("term")).collect().map(_.getString(0)).toSeq

  /** st15's stateless alert map over a doc frame (batch OR streaming) —
    * factored so PlanSpec gates the batch plan of the EXACT transform the
    * stream runs (a pure projection: no aggregate, no exchange). */
  /** The st19 benchmark shingle set: distinct 3-gram shingles of a
    * FIXED-SIZE benchmark slice (the 5 longest bench-partition docs, the
    * q104 pin derivation) — BOUNDED at any corpus size (a benchmark suite
    * is fixed; the corpus grows), so it ships as a plan literal and the
    * arriving stream is matched row-locally with no state store and no
    * stream-side shuffle. Sorted for plan determinism; the
    * Tables.localize contract (a few hundred strings). */
  private[graft] def decontamBench(s: SparkSession, d: String): Seq[String] =
    docsAnalyzed(s, d).filter(col("doc_id") % 97 === 0)
      .orderBy(col("n_chars").desc, col("doc_id").asc).limit(5)
      .select(explode(array_distinct(text.shingles(col("toks"), 3))).as("sh"))
      .distinct().orderBy(col("sh").asc)
      .collect().map(_.getString(0)).toSeq

  /** st19's matcher (stateless — the termsSetAlerts shape): flag an
    * arriving doc when it shares ≥3 distinct 3-gram shingles with the
    * benchmark set. array_intersect dedups, positions never leave the
    * row; bench docs themselves are excluded from the scored stream. */
  private[graft] def decontamAlerts(src: DataFrame, sh: Seq[String]): DataFrame =
    src.filter(col("doc_id") % 97 =!= 0)
      .withColumn("n_shared",
        size(array_intersect(text.shingles(col("toks"), 3), array(sh.map(lit): _*))).cast("long"))
      .filter(col("n_shared") >= 3)
      .select(col("doc_id"), col("source"), col("n_shared"))

  private[graft] def termsSetAlerts(src: DataFrame, terms: Seq[String]): DataFrame =
    src.withColumn("n_matched",
        // array_intersect already dedups — no array_distinct pre-pass
        size(array_intersect(col("toks"), array(terms.map(lit): _*))).cast("long"))
      .filter(col("n_matched") >= 3)
      .select(col("doc_id"), col("source"), col("n_matched"))

  /** The q41 quality-score map (stateless — reused verbatim by the st13
    * streaming form and joined by q38c's keep-best selection; input needs
    * `doc_id`, `text`, `toks`). */
  private[graft] def qualityScore(in: DataFrame): DataFrame =
    in.withColumn("n_tok", size(col("toks")))
      .withColumn("txt_len", length(col("text")))
      .withColumn("punct_cnt", length(regexp_replace(col("text"), "[^.!?,;:]", "")))
      .withColumn("stop_cnt", text.stopwordCount(col("toks"), stopEn))
      .withColumn("stop_ratio", col("stop_cnt") / col("n_tok"))
      .withColumn("punct_ratio", col("punct_cnt") / col("txt_len"))
      .withColumn(
        "quality",
        round(least(lit(1.0), col("n_tok") / lit(100.0)) * 0.5 + col("stop_ratio") * 0.3 - col("punct_ratio") * 0.2, 6))
      .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("stop_ratio"), col("punct_ratio"), col("quality"))

  /** Per-doc unigram cross-entropy (bits/token) under the corpus's own
    * model — the q63 pipeline, shared with q71's perplexity bucketing.
    * `xent_raw` is the UNROUNDED double (both engines compute the identical
    * value, so comparisons against percentile edges stay exact); emitters
    * round for display. Also carries `source`. */
  private def unigramXent(s: SparkSession, d: String): DataFrame = {
    // scan-spreading repartition (the q72/Flows discipline): a single-split
    // documents file would otherwise tokenize + explode its whole token
    // stream on one core
    val t = docsAnalyzed(s, d)
      .select(col("doc_id"), col("source"), explode(col("toks")).as("tok"))
    val vocab = t.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val vocabLg = graft.functions.detlog.withLog2(vocab, "c", "lg")
    val totalLg = graft.functions.detlog.withLog2(
      vocab.agg(sum(col("c")).as("tc")), "tc", "lgt")
    t.join(vocabLg, "tok")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"), graft.functions.detsum.sumDet(col("lg"), 9).as("slg"))
      .crossJoin(broadcast(totalLg.select(col("lgt"))))
      .select(
        col("doc_id"), col("source"), col("n_tok"),
        (col("lgt") - col("slg") / col("n_tok").cast("double")).as("xent_raw"))
  }

  /** The q71 pipeline up to (but not including) the coordinator
    * localization — exposed so PlanSpec can gate the distributed plan (the
    * single range exchange all three rank branches must share). Returns
    * (per-(source,bucket) result, checkpointed xent frame whose blocks the
    * caller frees after materializing). */
  private[graft] def perplexityBucketsDistributed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // the xent table (one row per doc, 4 narrow columns) feeds both the
    // quartile pass and the bucketing pass — materialize it once instead
    // of running the whole vocab-join pipeline twice (at scale this is
    // the natural pipeline break anyway: scores land, then the mix is
    // planned over them)
    val x = unigramXent(s, d).localCheckpoint(true)
    // distributed rank: RangePartitioner gives a global sort order across
    // partitions (deterministic sampling on the checkpointed input), so
    // global rank = per-partition row_number + cumulative offset of the
    // preceding partitions. Only the parallelism-sized count table ever
    // sees a single-partition window. The partition count derives from the
    // cluster's parallelism (the offsets are computed from the same
    // partitioning that produced the pids, so the result is partition-
    // count-independent). The `ranked`, `counts`, and `ks` branches
    // all read this ONE range exchange (ReuseExchange dedupes them) — the
    // offsets are only valid against the same partitioning that produced
    // the pids, which PlanSpec gates. xent_raw is non-null by construction
    // (the token join guarantees n_tok ≥ 1), but the rank/count pass pins
    // that explicitly: Spark's nulls-first and DuckDB's nulls-last default
    // orderings would silently shift every rank if a null ever appeared.
    val parted = x.select(col("xent_raw"))
      .filter(col("xent_raw").isNotNull)
      .repartitionByRange(s.sparkContext.defaultParallelism, col("xent_raw"))
      .withColumn("pid", spark_partition_id())
    val ranked = parted.withColumn("pr",
      row_number().over(Window.partitionBy(col("pid")).orderBy(col("xent_raw"))).cast("long"))
    val counts = parted.groupBy(col("pid")).agg(count(lit(1)).as("pc"))
    val offsets = counts.withColumn("off",
      coalesce(sum(col("pc")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // target ranks k (=floor(1+(n-1)q)) and k+1; the fraction f is an
    // exact quarter (n-1 exact in double, ×0.25/×0.75 exact), so the
    // interpolation arithmetic below is reproducible bit-for-bit
    val ks = counts.agg(sum(col("pc")).as("n")).select(
      (floor((col("n") - 1) * lit(0.25)) + 1).cast("long").as("k1"),
      ((col("n") - 1) * lit(0.25) - floor((col("n") - 1) * lit(0.25))).as("f1"),
      (floor((col("n") - 1) * lit(0.75)) + 1).cast("long").as("k2"),
      ((col("n") - 1) * lit(0.75) - floor((col("n") - 1) * lit(0.75))).as("f2"))
    val edges = ranked.join(broadcast(offsets.select(col("pid"), col("off"))), Seq("pid"))
      .withColumn("gr", col("off") + col("pr"))
      .crossJoin(broadcast(ks))
      .filter(col("gr") === col("k1") || col("gr") === col("k1") + 1 ||
        col("gr") === col("k2") || col("gr") === col("k2") + 1)
      .groupBy(col("f1"), col("f2")) // ≤4 rows survive the filter
      .agg(
        min(when(col("gr") === col("k1"), col("xent_raw"))).as("v1"),
        min(when(col("gr") === col("k1") + 1, col("xent_raw"))).as("v1n"),
        min(when(col("gr") === col("k2"), col("xent_raw"))).as("v2"),
        min(when(col("gr") === col("k2") + 1, col("xent_raw"))).as("v2n"))
      .select(
        (col("v1") + col("f1") * (coalesce(col("v1n"), col("v1")) - col("v1"))).as("e1"),
        (col("v2") + col("f2") * (coalesce(col("v2n"), col("v2")) - col("v2"))).as("e2"))
    val result = x.crossJoin(broadcast(edges))
      .withColumn("bucket",
        when(col("xent_raw") <= col("e1"), "head")
          .when(col("xent_raw") <= col("e2"), "middle")
          .otherwise("tail"))
      .groupBy(col("source"), col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(graft.functions.detsum.sumDet(col("xent_raw"), 9) / count(lit(1)), 6)
          .as("mean_xent"))
    (result, x)
  }

  private val docsCte =
    """docs AS (
      |  SELECT *, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ES `significant_text`: tokens over-represented in a foreground doc set
    // (source src0) vs the whole corpus — q11b's ratio scoring at token
    // granularity, with distinct-per-doc tokenization and a min background
    // frequency, the way significant_text samples and dedupes. The token
    // frequency tables shuffle on the token only.
    "q11g_significant_text" -> ((s: SparkSession, d: String) => {
      val toks = docsAnalyzed(s, d)
        .select(col("source"), explode(array_distinct(col("toks"))).as("tok"))
      val bg = toks.groupBy(col("tok")).agg(count(lit(1)).as("bg_count"))
      val fg = toks.filter(col("source") === "src0")
        .groupBy(col("tok")).agg(count(lit(1)).as("fg_count"))
      val totals = toks.agg(
        count(lit(1)).as("bg_total"),
        count(when(col("source") === "src0", 1)).as("fg_total"))
      fg.join(bg, Seq("tok"))
        .crossJoin(broadcast(totals))
        .filter(col("bg_count") >= 5)
        .withColumn("score",
          round((col("fg_count") / col("fg_total")) / (col("bg_count") / col("bg_total")), 6))
        .select(col("tok"), col("fg_count"), col("bg_count"), col("score"))
        .orderBy(col("score").desc, col("tok").asc)
        .limit(15)
    }),
    // ES `string_stats` (per source): count, min/max/avg length, the
    // distinct-character count, AND the Shannon entropy over character
    // frequencies — the full ES output. Entropy uses H = log2(N) −
    // Σ cᵢ·log2(cᵢ) / N with [[graft.functions.detlog]]'s basic-ops-only
    // log2 (bit-identical in both engines — no libm) and the detsum recipe
    // for the order-free Σ, so the hash compare is exact.
    "q13c_string_stats" -> ((s: SparkSession, d: String) => {
      // length stats are a cheap single-agg scan; the per-CHARACTER explode
      // is the heavy branch — that one gets the scan-spreading repartition
      val base = Tables(s, d, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(length(col("text"))).as("min_len"),
          max(length(col("text"))).as("max_len"),
          sum(length(col("text"))).as("sum_len"))
        .withColumn("avg_len", round(col("sum_len") / col("n_docs"), 6))
      // per-(source, char) counts: alphabet-bounded — a tiny table at any
      // corpus scale, so the log2 chain runs on ~|sources|·|alphabet| rows
      val charCounts = Tables(s, d, "documents")
        .repartition(col("doc_id"))
        .select(col("source"), explode(split(col("text"), "")).as("ch"))
        .groupBy(col("source"), col("ch"))
        .agg(count(lit(1)).as("c"))
      val chars = graft.functions.detlog.withLog2(charCounts, "c", "lg")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_distinct_chars"),
          sum(col("c")).as("n_chars"),
          graft.functions.detsum.sumDet(col("c") * col("lg"), 9).as("clg"))
      val entropy = graft.functions.detlog.withLog2(chars, "n_chars", "lgn")
        .withColumn("entropy", round(col("lgn") - col("clg") / col("n_chars").cast("double"), 6))
        .select(col("source"), col("n_distinct_chars"), col("entropy"))
      base.join(entropy, Seq("source"))
    }),
    "q40_lang_id" -> ((s: SparkSession, d: String) =>
      langPred(s, d)
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          col("s_en").cast("long").as("s_en"), col("s_de").cast("long").as("s_de"),
          col("s_es").cast("long").as("s_es"), col("s_fr").cast("long").as("s_fr"))),

    // The language-ID EVALUATION pass a curation run needs before trusting
    // q40's router: the full confusion matrix of predicted vs labeled
    // language, with marginal totals carried per row so precision/recall
    // are derivable integer ratios (all-BIGINT output — nothing to drift
    // cross-engine). The matrix is #langs²-bounded, so the marginal
    // windows run over a coordinator-sized frame.
    "q40b_langid_eval" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      langPred(s, d)
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("lang_total", sum(col("n")).over(Window.partitionBy(col("lang"))))
        .withColumn("pred_total", sum(col("n")).over(Window.partitionBy(col("lang_pred"))))
        .select(col("lang"), col("lang_pred"), col("n"),
          col("lang_total"), col("pred_total"))
    }),

    "q41_quality_score" -> ((s: SparkSession, d: String) =>
      qualityScore(docsAnalyzed(s, d))),

    // The always-on form of q41: quality scoring applied AT INGEST — a
    // stateless map over the document stream (no watermark, no state
    // store), the shape a collector uses to tag arriving docs before they
    // land. Append mode; shares q41's oracle, so a hash match proves the
    // streaming map is row-identical to the batch operator.
    "st13_stream_quality" -> ((s: SparkSession, d: String) =>
      Streams.run(qualityScore(docStream(s, d)), "st13_mem", "append").frame),

    // terms_set alerting AT INGEST (the always-on form of q79): the tiny
    // deterministic term set enters the doc stream as a LITERAL array (the
    // centroids-as-driver-literals convention — 5 strings through the
    // driver, no stream-static join needed), n_matched is a stateless
    // array_intersect map, and docs at/above minimum_should_match emit as
    // append-mode alerts. No state store; the full alert set is
    // deterministic, so the oracle is q79's SQL without the top-20 window
    // — a hash match proves streaming alerting equals the batch query.
    "st15_terms_set_stream" -> ((s: SparkSession, d: String) =>
      Streams.run(
        termsSetAlerts(docStream(s, d), termsSetQueryTerms(s, d)),
        "st15_mem", "append").frame),

    // INGEST-TIME decontamination — the streaming×curation cell q54
    // batch-covers: every arriving doc is checked against the benchmark
    // suite AT THE DOOR (the shape a production crawl pipeline needs —
    // contamination is cheapest to stop before it lands). The benchmark
    // set is FIXED-SIZE by construction ([[decontamBench]]: a benchmark
    // suite doesn't grow with the corpus), so the match is a row-local
    // array_intersect against a plan literal — stateless append stream,
    // no state store, nothing stream-side shuffles at any corpus size.
    "st19_decontaminate_stream" -> ((s: SparkSession, d: String) =>
      Streams.run(
        decontamAlerts(docStream(s, d), decontamBench(s, d)),
        "st19_mem", "append").frame),

    // ES `_analyze` API — the index-time analysis chain made inspectable,
    // three analyzers over the 3 longest docs (the q104/q110 fixed-target
    // shape: the request is doc-sized, so tokenization work is 3 docs at
    // any corpus size): `standard` (lowercased tokens with positions +
    // char offsets into the normalized text — the response's token/
    // position/start_offset/end_offset payload), `stop` (standard minus
    // the stopword set, ES's position-preserving increments), and
    // `edge_ngram` (each token expands to its 1..3-char prefixes at the
    // SAME position — the autocomplete-index filter q67b queries against).
    // Offsets derive from a per-doc running sum over the 3-doc frame; the
    // whole result is request-sized.
    "q125_analyze" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val targets = Tables(s, d, "documents")
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(3)
        .select(col("doc_id"))
      val toks = Tables(s, d, "documents")
        .join(broadcast(targets), Seq("doc_id"))
        .withColumn("toks", text.tokens(col("text")))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "token")))
        .withColumn("pos", col("p").cast("long") + lit(1L))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val std = toks
        .withColumn("start_offset",
          (coalesce(sum(length(col("token"))).over(w), lit(0L)) + col("pos") - lit(1L)).cast("long"))
        .withColumn("end_offset", col("start_offset") + length(col("token")).cast("long"))
        .select(col("doc_id"), col("pos"), col("token"), col("start_offset"), col("end_offset"))
      val stop = std.filter(!col("token").isin(stopEn: _*))
      val edge = std
        .withColumn("l", explode(sequence(lit(1), least(lit(3), length(col("token"))))))
        .select(col("doc_id"), col("pos"), col("token").substr(lit(1), col("l")).as("token"),
          col("start_offset"), (col("start_offset") + col("l")).cast("long").as("end_offset"))
      std.withColumn("analyzer", lit("standard"))
        .unionByName(stop.withColumn("analyzer", lit("stop")))
        .unionByName(edge.withColumn("analyzer", lit("edge_ngram")))
        .select(col("analyzer"), col("doc_id"), col("pos"), col("token"),
          col("start_offset"), col("end_offset"))
    }),

    // Deterministic hash-based train/val/test SPLIT — the pipeline staple
    // every LLM data build ends with: assignment must be a pure function
    // of the doc identity (stable under re-runs, shard layout and corpus
    // growth — a random() split would re-deal on every change), here the
    // q70 md5-prefix bucket convention (256 buckets) cut ~98/1/1 at the
    // hex thresholds 'fa'/'fd'. Emits the per-(source, split) audit table
    // (doc/token counts + within-source fraction) a split ships with.
    // Scale shape: one scan, one map-side-combined agg; the per-source
    // totals table is source-count-sized and broadcasts into the rejoin.
    "q132_data_split" -> ((s: SparkSession, d: String) => {
      import graft.functions.detsum
      val assigned = docsAnalyzed(s, d)
        .withColumn("b",
          substring(md5(concat(col("doc_id").cast("string"), lit("#split")).cast("binary")), 1, 2))
        .withColumn("split",
          when(col("b") < "fa", "train").when(col("b") < "fd", "val").otherwise("test"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
      val tot = assigned.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      assigned
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .join(broadcast(tot), Seq("source"))
        .select(col("source"), col("split"), col("n_docs"), col("n_tokens"),
          detsum.roundDet(col("n_docs").cast("double") / col("n_src").cast("double"), 6).as("frac"))
    }),

    "q42_token_count" -> ((s: SparkSession, d: String) => {
      docsAnalyzed(s, d)
        .withColumn("n_ws", size(split(trim(col("text")), "\\s+")))
        .withColumn("n_bpe", size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)")))
        .withColumn(
          "n_subword",
          aggregate(transform(col("toks"), t => ceil(length(t) / lit(4.0))), lit(0L), (acc, x) => acc + x))
        .select(col("doc_id"), col("n_ws").cast("long").as("n_ws"), col("n_bpe").cast("long").as("n_bpe"), col("n_subword"))
    }),

    // corpus-wide vocabulary statistics: top bigrams (training-data staple)
    "q44_ngram_freq" -> ((s: SparkSession, d: String) =>
      docsAnalyzed(s, d)
        .select(explode(text.shingles(col("toks"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("bigram").asc)
        .limit(50)),

    // DSIR (Xie 2023, "Data Selection for Language Models via Importance
    // Resampling"): rank raw docs by how target-like their hashed n-gram
    // profile is. Unigram+bigram features hash into 256 buckets (md5 prefix
    // — the same deterministic bucketing in both engines); bucket
    // distributions are estimated for the TARGET slice (source src0, the
    // curated exemplar) and the RAW corpus with add-1 smoothing; a doc's
    // importance weight is Σ_features [log2 p̂_target(b) − log2 p̂_raw(b)].
    // Scale shape: the log2 chains run on the 256-row bucket table, the
    // weight table BROADCASTS back (never doc×vocab), and the per-doc
    // reduce is a detsum — so the corpus is touched by exactly two scans
    // (count pass, score pass). The paper's final Gumbel-top-k resample is
    // seeded noise; its testable core — the ranked importance weights — is
    // what this query emits (top 20, deterministic tiebreak).
    "q70_dsir" -> ((s: SparkSession, d: String) => {
      val (result, counts0) = dsirDistributed(s, d)
      // top-20 rows — coordinator-sized; free the 256-row bucket-count blocks
      Tables.materializeAndFree(result, counts0)
    }),

    // the learned quality classifier (see [[qualityScored]]): per-doc NB
    // log-odds scores, top-20 by (rounded score desc, doc_id) with the
    // binary prediction and the weak label
    "q99_quality_classifier" -> ((s: SparkSession, d: String) =>
      qualityScored(s, d)
        .withColumn("score_r", graft.functions.detsum.roundDet(col("score"), 6))
        .select(col("doc_id"), col("label").cast("long").as("label"),
          (col("score") > 0).cast("long").as("pred"),
          col("n_feat"), col("score_r").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)),

    // held-out evaluation of the SAME model: confusion counts on the 20%
    // docs the training split never saw (doc_id % 5 == 0). HONEST
    // DISCLOSURE: on the shipped synthetic corpus this reads
    // majority-class (tp=fp=0) because the text is source-UNconditional
    // (measured: identical stopword/gram profiles across every source and
    // lang value) — no classifier can separate what the generator never
    // conditioned. The learner itself is proven on a planted-signal
    // corpus in TextSurfaceSpec (accuracy ≥0.95 held-out); this query's
    // value on the shipped data is the deterministic train+score+eval
    // PIPELINE, oracle-replayed end to end.
    "q99b_quality_classifier_eval" -> ((s: SparkSession, d: String) =>
      qualityScored(s, d)
        .filter(col("doc_id") % 5 === 0)
        .withColumn("pred", col("score") > 0)
        .agg(
          count(when(col("label") && col("pred"), 1)).as("tp"),
          count(when(!col("label") && col("pred"), 1)).as("fp"),
          count(when(col("label") && !col("pred"), 1)).as("fn"),
          count(when(!col("label") && !col("pred"), 1)).as("tn"),
          count(lit(1)).as("n_eval"))),

    // st18 = q99's classifier deployed the way production curation runs
    // it: train OFFLINE (the same qualityModelFrom pass q99 broadcasts),
    // collect the ≤256-row weight table + prior as plan literals, score
    // the document STREAM statelessly — every doc scores inside its own
    // row (see [[qualityAlerts]]), no state store, no stream-static join.
    // Emits every scored doc (append, no result window — the st17
    // convention); the oracle is q99's sc table unwindowed, so a hash
    // match proves the row-local scaled-long rescoring is bit-identical
    // to the batch detsum aggregation.
    "st18_quality_stream" -> ((s: SparkSession, d: String) => {
      val (w, prior) = qualityModelFrom(docsAnalyzed(s, d), s"qclsS:$d")
      val ws = w.collect().map(r => r.getString(0) ->
        graft.functions.detsum.roundHalfUpLong(r.getDouble(1) * 1e9)).toMap
      val p0 = prior.collect()(0).getDouble(0)
      Streams.run(qualityAlerts(docStream(s, d), ws, p0), "st18_mem", "append").frame
    }),

    "q45_length_histogram" -> ((s: SparkSession, d: String) =>
      docsAnalyzed(s, d)
        .withColumn("len_bucket", (floor(size(col("toks")) / lit(10)) * 10).cast("long"))
        .groupBy(col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("total_tokens"))),

    // semi-structured extraction (ES docs are JSON; props carries a JSON blob).
    // The JSON parse is the grouping expression of the FIRST aggregate, so it
    // is referenced exactly once and evaluated once per row — a
    // withColumn("k", ...) feeding both a bucket key and a sum gets inlined
    // twice by CollapseProject (double parse). The per-k partial table is
    // tiny, so the second aggregate into buckets is nearly free.
    "q46_json_extract" -> ((s: SparkSession, d: String) =>
      Tables(s, d, "events")
        .repartition(col("event_id")) // spread the JSON parsing
        .groupBy(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .agg(count(lit(1)).as("n"))
        .groupBy((floor(col("k") / lit(10.0)) * 10).cast("long").as("k_bucket"))
        .agg(sum(col("n")).as("n"), sum(col("k") * col("n")).as("sum_k"))),

    // sequence packing: greedily bin docs into ~512-token context windows
    // per source (cumulative token offset → window id) — the packing step of
    // an LLM pretraining pipeline, as pure window arithmetic
    "q47_sequence_packing" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      docsAnalyzed(s, d)
        .withColumn("n_tok", size(col("toks")))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("pack_id", floor((col("cum") - col("n_tok")) / lit(512.0)).cast("long"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    }),

    "q43_fingerprint" -> ((s: SparkSession, d: String) =>
      Tables(s, d, "documents")
        .withColumn("fp", md5(text.norm(col("text")).cast("binary")))
        .select(col("doc_id"), col("fp"), substring(col("fp"), 1, 8).as("fp_short"))),

    // TF-IDF: per-doc top term by tf·ln(N/df) — the vocabulary-weighting
    // primitive of classic retrieval / data-curation pipelines
    // CCNet-style LM quality scoring: per-doc cross-entropy (bits/token)
    // under the corpus's own unigram model — the classic perplexity filter
    // for training-data curation. xent = log2(T) − mean(log2 c_tok): only
    // integer-count log2s are needed, so [[graft.functions.detlog]] keeps it
    // hash-exact cross-engine. Scale shape: the log2 chain runs on the
    // VOCAB-sized table, docs join the model on the token key (the shuffle
    // is token-keyed — never doc×vocab), and the per-doc reduce is a detsum.
    "q63_unigram_logprob" -> ((s: SparkSession, d: String) =>
      unigramXent(s, d)
        .select(col("doc_id"), col("n_tok"), round(col("xent_raw"), 6).as("xent"))),

    // CCNet's ACTUAL LM shape, one order up from q63: per-doc cross-entropy
    // (bits/token) under a BIGRAM model with stupid backoff (Brants 2007,
    // α=0.4) — the model trains on a held CLEAN partition (sources
    // src0..src4, the CCNet train-on-Wikipedia/score-the-crawl split), so
    // unseen bigrams in scored docs genuinely back off. All probabilities
    // are integer-ratio detlog differences: seen bigram lg(cvw)−lg(cv);
    // backoff α·(cw+1)/(N+V) = lg(2(cw+1))−lg(5(N+V)) (α=0.4=2/5 as exact
    // integer factors, add-1 unigram smoothing for unseen tokens); doc-start
    // tokens score by the smoothed unigram. Scale: the bigram/context/
    // unigram model tables are vocab-bounded and broadcast (AQE shifts to
    // shuffled-hash if a corpus outgrows that); the scoring stream builds
    // (prev, tok) pairs as a pure array projection — the corpus never
    // shuffles for pairing.
    "q63b_bigram_logprob" -> ((s: SparkSession, d: String) => {
      import graft.functions.{detlog, detsum}
      val m = docsAnalyzed(s, d)
        .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
        .repartition(col("doc_id"))
      val big = m.select(explode(text.shingles(col("toks"), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("cvw"))
      val bigLg = detlog.withLog2(big, "cvw", "lgvw").select(col("g"), col("lgvw"))
      val ctx = big
        .select(split(col("g"), " ").getItem(0).as("prev"), col("cvw"))
        .groupBy(col("prev")).agg(sum(col("cvw")).as("cv"))
      val ctxLg = detlog.withLog2(ctx, "cv", "lgv").select(col("prev"), col("lgv"))
      val uni = m.select(explode(col("toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cw"))
      val uniLg = detlog.withLog2(
        detlog.withLog2(
          uni.withColumn("cw1", col("cw") + lit(1L))
            .withColumn("cw2", lit(2L) * (col("cw") + lit(1L))),
          "cw1", "lgw1"),
        "cw2", "lg2w")
        .select(col("tok"), col("lgw1"), col("lg2w"))
      val scLg = detlog.withLog2(
        detlog.withLog2(
          uni.agg((sum(col("cw")) + count(lit(1))).as("nv"))
            .withColumn("nv5", lit(5L) * col("nv")),
          "nv", "lgnv"),
        "nv5", "lg5nv")
        .select(col("lgnv"), col("lg5nv"))
      docsAnalyzed(s, d)
        .select(col("doc_id"), col("source"),
          // size>=1 guard (the phraseTf/shingles discipline): sequence(1,0)
          // counts DOWN and element_at(toks,0) would throw — don't depend
          // on the tokenizer never emitting an empty array. `when` without
          // otherwise yields null; explode(null) emits no rows.
          explode(when(size(col("toks")) >= 1,
            transform(sequence(lit(1), size(col("toks"))),
              i => struct(element_at(col("toks"), i).as("tok"),
                when(i > lit(1), element_at(col("toks"), i - 1)).as("prev"))))).as("x"))
        .select(col("doc_id"), col("source"), col("x.tok").as("tok"), col("x.prev").as("prev"))
        // concat propagates null: doc-start rows get g = null and miss the
        // bigram join by construction (mirrored by || in DuckDB)
        .withColumn("g", concat(col("prev"), lit(" "), col("tok")))
        .join(broadcast(uniLg), Seq("tok"), "left")
        .join(broadcast(bigLg), Seq("g"), "left")
        .join(broadcast(ctxLg), Seq("prev"), "left")
        .crossJoin(broadcast(scLg))
        .withColumn("lgp",
          when(col("prev").isNull, coalesce(col("lgw1"), lit(0.0)) - col("lgnv"))
            .when(col("lgvw").isNotNull, col("lgvw") - col("lgv"))
            .otherwise(coalesce(col("lg2w"), lit(1.0)) - col("lg5nv")))
        .withColumn("bo",
          when(col("prev").isNotNull && col("lgvw").isNull, lit(1L)).otherwise(lit(0L)))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tok"), sum(col("bo")).as("n_backoff"),
          detsum.sumDet(col("lgp"), 9).as("slg"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("n_backoff"),
          detsum.roundDet((lit(0.0) - col("slg")) / col("n_tok").cast("double"), 6).as("xent"))
    }),

    // CCNet's final pipeline stage: split the corpus into head/middle/tail
    // perplexity buckets (quartile edges over the q63 cross-entropy) and
    // report per-source bucket sizes + mean xent — the quality-tiered mix a
    // curation run feeds to sampling. The quartile edges are DISTRIBUTED
    // EXACT order statistics, not an exact-percentile aggregate: `percentile
    // (xent_raw, q)` over one row per document is a single unbounded agg
    // buffer (the whole corpus on one reducer at 100 TB). Instead:
    // range-partition by value, rank within partitions, offset by the tiny
    // per-partition count table, select the two interpolation neighbors per
    // edge, interpolate — identical value to percentile(), with the corpus
    // never leaving its partitions. Bucket assignment is edge-exact
    // cross-engine: both engines select the SAME two order statistics and
    // interpolate with the textually identical expression on an exact
    // quarter fraction, so the edges are bit-identical by construction
    // (stronger than the old strictly-between argument).
    "q71_perplexity_buckets" -> ((s: SparkSession, d: String) => {
      val (result, x) = perplexityBucketsDistributed(s, d)
      // per-(source,bucket) rows — coordinator-sized; free the xent blocks
      Tables.materializeAndFree(result, x)
    }),

    // ES `term` suggester: spell-correction candidates ranked by
    // (edit distance asc, doc frequency desc, term asc) — the ES suggest
    // contract. Query strings are deterministic single-char-deletion typos
    // of the 20 rarest vocab terms; the tiny query set BROADCASTS against
    // the vocab (never vocab×vocab), and levenshtein is an exact integer
    // metric with the identical definition in both engines, so the whole
    // row hash-matches.
    "q67_term_suggest" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = docsAnalyzed(s, d)
        .select(explode(array_distinct(col("toks"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(length(col("term")) >= 4)
      val typos = vocab.orderBy(col("df").asc, col("term").asc).limit(20)
        .select(concat(substring(col("term"), 1, 1), expr("substring(term, 3)")).as("q"))
        .distinct()
      val w = Window.partitionBy(col("q"))
        .orderBy(col("dist").asc, col("df").desc, col("term").asc)
      vocab.crossJoin(broadcast(typos))
        .withColumn("dist", levenshtein(col("q"), col("term")).cast("long"))
        .filter(col("dist") <= 2)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q"), col("term").as("suggestion"), col("dist"), col("df"))
    }),

    // ES `completion` suggester: prefix-matched suggestions ranked by
    // popularity. Query prefixes derive deterministically from the corpus
    // (first 3 chars of the 10 highest-df terms); the tiny prefix set
    // broadcasts against the vocab, top-5 per prefix by (df desc, term asc)
    // — the ES completion contract (weight-ordered, size-limited).
    "q67b_completion_suggest" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = rankedVocab(s, d).select(col("term"), col("df"))
      val prefixes = rankedVocab(s, d).filter(col("r") <= 10)
        .select(substring(col("term"), 1, 3).as("prefix"))
        .distinct()
      val w = Window.partitionBy(col("prefix")).orderBy(col("df").desc, col("term").asc)
      vocab.crossJoin(broadcast(prefixes))
        .filter(col("term").startsWith(col("prefix")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("prefix"), col("term").as("suggestion"), col("df"), col("rank"))
    }),

    // ES `phrase` suggester (its deterministic core): candidate corrections
    // for the typo'd second word of a query bigram, ranked by the corpus
    // BIGRAM LANGUAGE MODEL — count of (context word, candidate) — then
    // edit distance, then term. Queries derive from the top-5 corpus
    // bigrams with the q67 typo convention (drop the 2nd char). The tiny
    // query set broadcasts twice (vocab candidates, bigram scores); all
    // ranking metrics are exact integers.
    "q75_phrase_suggest" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val bigrams = docsAnalyzed(s, d)
        .select(explode(text.shingles(col("toks"), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("bc"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
      val queries = bigrams
        .filter(length(col("w2")) >= 4)
        .orderBy(col("bc").desc, col("bg").asc).limit(5)
        .select(col("w1"),
          concat(substring(col("w2"), 1, 1), expr("substring(w2, 3)")).as("typo"))
        .distinct()
      val vocab = docsAnalyzed(s, d)
        .select(explode(array_distinct(col("toks"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val cands = vocab.crossJoin(broadcast(queries))
        .withColumn("dist", levenshtein(col("typo"), col("term")).cast("long"))
        .filter(col("dist") <= 1)
      val scored = cands.join(
        bigrams.select(col("w1").as("c_w1"), col("w2").as("c_w2"), col("bc")),
        col("w1") === col("c_w1") && col("term") === col("c_w2"), "left")
        .withColumn("big_count", coalesce(col("bc"), lit(0L)))
      val w = Window.partitionBy(col("w1"), col("typo"))
        .orderBy(col("big_count").desc, col("dist").asc, col("term").asc)
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(
          concat(col("w1"), lit(" "), col("typo")).as("query_phrase"),
          col("term").as("suggestion"), col("big_count"), col("dist"), col("rank"))
    }),

    // ES's actual SEARCH core, hash-exact: BM25 ranked retrieval
    // (Robertson/Sparck Jones, the Lucene similarity) for a deterministic
    // 5-term query. Lucene's smoothed idf becomes detlog-computable through
    // an integer identity — 1 + (N−df+0.5)/(df+0.5) = (2N+2)/(2df+1), both
    // integers — so idf = log2(2N+2) − log2(2df+1) (a constant ln2 factor
    // off canonical BM25: rank-identical, engine-exact, always ≥ 0). The tf
    // normalization (k1=1.2, b=0.75) is plain IEEE arithmetic mirrored
    // textually; per-doc scores reduce through detsum and docs rank on the
    // UNROUNDED score. Scale shape: the corpus token stream filters against
    // the broadcast query-term set BEFORE any shuffle; joins are doc-keyed.
    "q76_bm25_search" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      bm25PerDoc(s, d)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        // score emitted UNROUNDED (the q35/q36 convention): the detsum
        // value is identical in both engines; native round(x,6) is not
        .select(col("rank"), col("doc_id"), col("n_terms_hit"), col("score"))
    }),

    // INDEX PERSISTENCE — the durable half of the build-once artifact
    // claim: write the whole text index (analyzed corpus, tf, postings +
    // stats, dictionaries) to parquet ONCE, install it under a fresh
    // dataset key, and serve ES's core ranked search ENTIRELY from the
    // loaded tables — zero tokenize/aggregation/build jobs in the request
    // path, the way an ES node opens an existing index. Shares q76's
    // oracle verbatim: a hash match proves scores are byte-identical
    // through the parquet round-trip (longs, position arrays, AND the
    // build-time stats doubles).
    "q171_index_persist" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val dir = IngestQueries.scratchDir("graft_text_index").toString
      saveIndex(s, d, dir)
      val key = s"$dir::loaded"
      loadIndex(s, key, dir)
      bm25PerDoc(s, key)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("n_terms_hit"), col("score"))
    }),

    // The STEADY-STATE serving path of the persisted index: q171 times
    // save+load+probe in one request; THIS entry is what every request
    // after the first looks like on a node that opened
    // an existing index — the postings/dictionary probes run against the
    // q171-persisted PARQUET tables (real scans: term pushdown + column
    // pruning apply), with zero build or save jobs in the request path.
    // The index is persisted+installed once per (session, dataset)
    // ([[loadedIndexKey]], the build-once artifact discipline — the save
    // is the index build's durable half, not request work). Shares q76's
    // oracle verbatim: a hash match proves the loaded-parquet path is
    // byte-identical to the in-memory twin.
    "q178_loaded_search" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      bm25PerDoc(s, loadedIndexKey(s, d))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("n_terms_hit"), col("score"))
    }),

    // ES search `rescore`: the cost-bounding two-pass ranking contract —
    // the cheap first-pass query (q76's 5-term BM25) retrieves a
    // window_size=50 candidate window, and only THOSE docs pay the
    // expensive secondary query (a match_phrase of the first two query
    // terms); final score = query_weight·bm25 + rescore_query_weight·
    // phrase_tf (1.0/0.5, ES combine mode `total`), re-ranked top 10.
    // Scale shape: the 50-row window broadcasts into the docs scan, so the
    // positional phrase scan touches 50 documents regardless of corpus
    // size — exactly why ES rescore exists.
    "q76b_rescore" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val window = bm25PerDoc(s, d)
        .withColumn("first_rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("first_rank") <= 50)
      // rescore query: match_phrase of the two HIGHEST-df query terms
      // (vocab ranks 11 and 12) — deterministic in both engines
      val phrase = rankedVocab(s, d).filter(col("r") === 11 || col("r") === 12)
        .groupBy().agg(
          min(when(col("r") === 11, col("term"))).as("w1"),
          min(when(col("r") === 12, col("term"))).as("w2"))
      val ph = docsAnalyzed(s, d)
        .join(broadcast(window.select(col("doc_id"))), Seq("doc_id"))
        .crossJoin(broadcast(phrase))
        .select(col("doc_id"), phraseTf(col("toks"), col("w1"), col("w2")).as("phrase_tf"))
      window.join(ph, Seq("doc_id"))
        .withColumn("rescored", col("score") + lit(0.5) * col("phrase_tf").cast("double"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("rescored").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("rank"), col("doc_id"), col("first_rank"),
          col("score"), col("phrase_tf"), col("rescored"))
    }),

    // ES `match_phrase` + `span_near`: POSITIONAL search — the query is the
    // top corpus bigram (count desc, gram asc); per doc, n_phrase counts
    // exact adjacent occurrences (slop 0) and n_near counts anchors whose
    // second term follows within slop 3 (ordered, the span_near contract).
    // Both are single-projection array scans (HOFs over the token array —
    // no position fan-out, no self-join): positions never leave the row,
    // so the per-doc cost is O(len·slop) inside the scan stage and the
    // only shuffle is the final top-k.
    "q78_match_phrase" -> ((s: SparkSession, d: String) => {
      docsAnalyzed(s, d).crossJoin(broadcast(topBigram(s, d)))
        .select(col("doc_id"), col("source"),
          concat(col("w1"), lit(" "), col("w2")).as("phrase"),
          phraseTf(col("toks"), col("w1"), col("w2")).as("n_phrase"),
          spanNearTf(col("toks"), col("w1"), col("w2"), slop = 3).as("n_near"))
        .filter(col("n_near") > 0)
        .orderBy(col("n_phrase").desc, col("n_near").desc, col("doc_id").asc)
        .limit(15)
    }),

    // ES `terms_set` query: match docs containing at least
    // minimum_should_match of a term set — the q76 query terms with msm=3.
    // The q77b candidate shape: distinct doc tokens equi-join the broadcast
    // term set (only matching tokens surface rows), count distinct hits per
    // doc, verify the threshold.
    "q79_terms_set" -> ((s: SparkSession, d: String) => {
      val terms = rankedVocab(s, d)
        .filter(col("r") >= QLo && col("r") <= QHi)
        .select(col("term").as("tok"))
      // the postings are one row per (doc, term) — probing them and
      // counting rows per doc IS the distinct-token hit count the
      // exploded token stream gave, without re-exploding anything;
      // `source` attaches to the 20-row page afterwards
      val top = postings(s, d).frame
        .join(broadcast(terms), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matched"))
        .filter(col("n_matched") >= 3)
        .orderBy(col("n_matched").desc, col("doc_id").asc)
        .limit(20)
      docsAnalyzed(s, d).select(col("doc_id"), col("source"))
        .join(broadcast(top), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_matched"))
    }),

    // ES `boosting` query: the positive query is q76's BM25; docs
    // containing either negative term (vocab ranks 16..17) keep their hit
    // but are DEMOTED by negative_boost 0.5 (an exact power-of-two factor,
    // bit-identical cross-engine), then re-ranked. The negative-term check
    // is a per-row array_contains against a broadcast 1-row pair — the
    // per-doc score table joins the docs scan on doc_id, never a cartesian.
    "q80_boosting" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val neg = rankedVocab(s, d).filter(col("r") === 16 || col("r") === 17)
        .groupBy().agg(
          min(when(col("r") === 16, col("term"))).as("n1"),
          min(when(col("r") === 17, col("term"))).as("n2"))
      bm25PerDoc(s, d)
        .join(docsAnalyzed(s, d).select(col("doc_id"), col("toks")), Seq("doc_id"))
        .crossJoin(broadcast(neg))
        .withColumn("demoted",
          array_contains(col("toks"), col("n1")) || array_contains(col("toks"), col("n2")))
        .withColumn("final",
          when(col("demoted"), col("score") * lit(0.5)).otherwise(col("score")))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("score"), col("demoted"), col("final"))
    }),

    // ES `function_score` with `field_value_factor` (boost_mode multiply):
    // final = bm25 · log2(1 + doc_length) — the production "boost rich
    // documents" shape. ES's log1p modifier is ln-based; log2 is the
    // engine-exact detlog form and differs by the constant 1/ln2 factor,
    // which multiplies EVERY doc's score equally, so the ranking is
    // identical to log1p (the q76 idf precedent). The factor's integer
    // argument (dl+1) makes the whole score chain IEEE-exact.
    "q76c_function_score" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      bm25LengthFactored(s, d)
        .withColumn("final", col("score") * col("factor"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), (col("dl1") - 1).as("dl"),
          col("score"), col("factor"), col("final"))
    }),

    // ES `fuzzy` query: RETRIEVAL by approximate term match (fuzziness=1)
    // — distinct from q67's suggester, which ranks corrections; fuzzy
    // expands the query term to every vocab term within edit distance 1
    // and retrieves the docs containing any expansion (the Lucene
    // FuzzyQuery rewrite). Queries are deterministic single-char-deletion
    // typos of the rarest length≥5 terms, anti-joined against the vocab
    // so the non-vocab premise is STRUCTURAL (a deletion that collides
    // with a real term is dropped, not silently matched exactly) — exact
    // match alone finds nothing and the expansion does the work. The tiny
    // typo×vocab product broadcasts; the doc token stream joins it once —
    // docs never pay a per-doc edit-distance scan. The vocab table
    // (vocab-sized) materializes once and feeds both the typo derivation
    // and the expansion.
    // Typos derive from a POOL of the 10 rarest terms and the first 3
    // surviving the vocab anti-join become the queries — on a corpus where
    // some deletions collide with real terms the query set stays non-empty
    // instead of going silently vacuous (the shipped corpus' 3 rarest all
    // survive, so the pool changes no result here).
    "q87_fuzzy" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = dfVocab(s, d)
      val fq = vocab.filter(length(col("term")) >= 5)
        .orderBy(col("df").asc, col("term").asc).limit(10)
        // pool rank BEFORE the typo projection: two pool terms can yield
        // the same deletion — keep the earliest (tiny 10-row window)
        .withColumn("rn", row_number().over(Window.orderBy(col("df").asc, col("term").asc)))
        .select(concat(substring(col("term"), 1, 1), expr("substring(term, 3)")).as("q"), col("rn"))
        .groupBy(col("q")).agg(min(col("rn")).as("rn"))
        .join(vocab.select(col("term").as("q")), Seq("q"), "left_anti")
        .orderBy(col("rn").asc).limit(3)
        .select(col("q"))
      val expansion = vocab.crossJoin(broadcast(fq))
        .filter(levenshtein(col("q"), col("term")) <= 1)
        .select(col("q"), col("term"))
      rewriteHits(s, d, expansion, "q")
    }),

    // ES `prefix` query (Lucene MultiTermQuery rewrite): RETRIEVAL by term
    // prefix. The rewrite IS the scale story: the prefix expands against
    // the broadcast vocab (dictionary-sized work) and the doc token stream
    // joins the expanded term set ONCE — docs never pay a per-row
    // startsWith scan, so a prefix query costs the same equi-join as a
    // term query at 100 TB. Deterministic prefixes chosen STRUCTURALLY
    // for multi-term expansion (the q87 non-vacuous lesson): the 3
    // single-char starts covering the most vocab terms (count desc, char
    // asc) — guaranteed to expand to the maximum number of terms this
    // dictionary allows, so the expansion machinery (not just self-match)
    // is what the oracle verifies. Output per prefix: the q87 summary
    // shape.
    "q88_prefix" -> ((s: SparkSession, d: String) => {
      val vocab = dfVocab(s, d)
      val pool = vocab
        .groupBy(substring(col("term"), 1, 1).as("q"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("q").asc).limit(3)
        .select(col("q"))
      val expansion = vocab.crossJoin(broadcast(pool))
        .filter(col("term").startsWith(col("q")))
        .select(col("q"), col("term"))
      rewriteHits(s, d, expansion, "q")
    }),

    // ES `_terms_enum` API — the autocomplete endpoint over the term
    // dictionary: sorted terms matching a prefix, `size`-bounded, resumed
    // by `search_after` (the cursor contract the endpoint shares with
    // q84/q17g). Prefix = the single-char start covering the most vocab
    // terms (q88's structural derivation, rank 1 — guaranteed maximal
    // expansion). Page 1 = first `size`=4 matching terms (term asc);
    // page 2 resumes with the keyset predicate term > search_after,
    // exactly how a client walks the full dictionary (size 4 keeps BOTH
    // pages non-vacuous on this corpus's 31-term vocabulary — the top
    // prefix covers 6 terms at every SF, so the cursor provably prunes
    // page 1's terms and page 2 is never empty). Scale shape: everything
    // here is dictionary-sized — the corpus is touched ONCE by the shared
    // [[dfVocab]] artifact, and both pages are limit-pushed sorts of the
    // broadcast-filtered vocab (the doc stream never pays anything).
    "q109_terms_enum" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = dfVocab(s, d)
      val pfx = vocab
        .groupBy(substring(col("term"), 1, 1).as("q"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("q").asc).limit(1)
        .select(col("q"))
      val matches = vocab.crossJoin(broadcast(pfx))
        .filter(col("term").startsWith(col("q")))
        .select(col("term"))
      val p1 = matches.orderBy(col("term").asc).limit(4)
        .select(lit(1L).as("page"), col("term"))
      // cursor derives from p1 itself (the oracle's `aft AS (SELECT
      // MAX(term) FROM p1)` shape) — one top-4 sort, not two
      val after = p1.agg(max(col("term")).as("after"))
      val p2 = matches.crossJoin(broadcast(after))
        .filter(col("term") > col("after"))
        .orderBy(col("term").asc).limit(4)
        .select(lit(2L).as("page"), col("term"))
      p1.union(p2)
        .withColumn("pos",
          row_number().over(
            Window.partitionBy(col("page")).orderBy(col("term").asc)).cast("long"))
        .select(col("page"), col("pos"), col("term"))
    }),

    // ES `_termvectors` API (term_statistics=true): for each requested doc
    // — the 3 longest (q104's deterministic pin derivation) — every term's
    // in-doc statistics (tf, first position) joined with its corpus-wide
    // statistics (df = docs containing, ttf = total occurrences), exactly
    // the endpoint's per-term payload. Scale shape: the 3-row target set
    // broadcasts into the RAW documents table BELOW the tokenizer, so
    // tokenization itself runs on only the 3 requested docs (per-doc work
    // touches 3 docs regardless of corpus size — the endpoint's own cost
    // model); the corpus-wide stats table is vocab-sized, built from the
    // one full token-stream pass term_statistics=true requires, and
    // broadcast into the final join.
    "q110_termvectors" -> ((s: SparkSession, d: String) => {
      val targets = Tables(s, d, "documents")
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(3)
        .select(col("doc_id"))
      val tf = Tables(s, d, "documents")
        .join(broadcast(targets), Seq("doc_id"))
        .withColumn("toks", text.tokens(col("text")))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "term")))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), (min(col("p")) + lit(1L)).as("first_pos"))
      val stats = docsAnalyzed(s, d)
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("ttf"))
      tf.join(broadcast(stats), Seq("term"))
        .select(col("doc_id"), col("term"), col("tf"), col("first_pos"), col("df"), col("ttf"))
    }),

    // ES `wildcard` query — including the LEADING wildcard the ES docs
    // warn against: under the vocab rewrite the warning does not apply,
    // because the pattern scans the broadcast term DICTIONARY (never the
    // doc stream), so '*r' costs exactly what 'r*' costs at any corpus
    // size. Deterministic ES-style patterns ('*' + c) from the 3 suffix
    // chars covering the most vocab terms (count desc, char asc — the
    // q88 structural-expansion derivation mirrored to suffixes); the
    // Lucene→SQL glob mapping (* → %, ? → _) applies only inside the
    // dictionary match. Output per pattern: the q87 summary shape.
    "q89_wildcard" -> ((s: SparkSession, d: String) => {
      val vocab = dfVocab(s, d)
      // pattern-language safety: only literal [a-z0-9] chars may enter the
      // glob (the corpus contract already guarantees it; the filter makes
      // '%'/'_'/'\' injection structurally impossible rather than
      // data-observed)
      val pool = vocab
        .groupBy(expr("right(term, 1)").as("sfx"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("sfx").rlike("^[a-z0-9]$"))
        .orderBy(col("cnt").desc, col("sfx").asc).limit(3)
        .select(concat(lit("*"), col("sfx")).as("pat"))
      val expansion = vocab.crossJoin(broadcast(pool))
        .filter(expr("term LIKE replace(replace(pat, '*', '%'), '?', '_')"))
        .select(col("pat"), col("term"))
      rewriteHits(s, d, expansion, "pat")
    }),

    // ES `match_phrase_prefix`: the phrase query whose LAST term is a
    // prefix — "w1 p*" matches w1 immediately followed by ANY dictionary
    // term starting with p. The Lucene rewrite: expand p against the
    // vocab (term asc; max_expansions=50 — the cap never binds on this
    // dictionary, so capped ≡ uncapped here), then each expansion pays
    // q78's adjacent-pair HOF scan. Docs cross only the tiny broadcast
    // expansion set; positions never leave the row (no posexplode, no
    // self-join). Query = the q78 top corpus bigram with the second
    // word's FIRST CHAR as the prefix — single-char so the expansion is
    // multi-term by construction on this sparse dictionary.
    "q90_match_phrase_prefix" -> ((s: SparkSession, d: String) => {
      // the POSITIONAL-POSTINGS probe (the phrase family's path) — a
      // HOF-scan form pays |expansion| full token-array
      // scans per doc (52s / factor 286 at the 100× derivation); here p1 =
      // w1's position lists, p2 = each expansion term's, adjacency is an
      // array intersection per probed (doc, term) pair and Σ over the
      // expansion equals the scan's per-term sum EXACTLY (phraseTf counts
      // i with toks[i]=w1 ∧ toks[i+1]=t; the intersect counts i ∈ ps(w1)
      // with i+1 ∈ ps(t) — the same positions). w1/pfx ship as driver
      // literals (the q95/st17 convention; topBigram is an artifact).
      val Array(w1, w2) = topBigramString(s, d).split(" ")
      val pfx = w2.substring(0, 1)
      val exp = dfVocab(s, d).filter(col("term").startsWith(lit(pfx)))
        .orderBy(col("term").asc).limit(50)
        .select(col("term"))
      val art = postings(s, d).frame
      val p1 = art.filter(col("tok") === lit(w1))
        .select(col("doc_id"), col("ps").as("p1"))
      val p2 = art.join(broadcast(exp), col("tok") === col("term"))
        .select(col("doc_id"), col("ps").as("p2"))
      p1.join(p2, Seq("doc_id"))
        .withColumn("tf",
          size(filter(col("p1"), i => array_contains(col("p2"), i + 1))).cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_phrase"))
        .filter(col("n_phrase") > 0)
        .join(docsAnalyzed(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          concat(lit(w1), lit(" "), lit(pfx), lit("*")).as("phrase"), col("n_phrase"))
        .orderBy(col("n_phrase").desc, col("doc_id").asc)
        .limit(15)
    }),

    // ES `match_bool_prefix` — the last match-family member next to q78
    // (match_phrase), q86 (multi_match) and q90 (match_phrase_prefix):
    // every analyzed query term becomes a bool SHOULD term clause except
    // the LAST, which becomes a prefix query. Terms = the 5-term BM25
    // window; "last" = the alphabetically-last window term (the derived
    // query is a set, so the real query string's position-last maps to a
    // deterministic pick). The 4 term clauses score through THE shared
    // BM25 stack (the shared carried chain — one formula); the prefix clause
    // rewrites against the term dictionary (q88's discipline: single-char
    // prefix, ≤50 expansions as a literal term set — the doc stream pays
    // an array-overlap membership test, never a per-token pattern scan)
    // and contributes Lucene's CONSTANT_SCORE rewrite value 1.0 when any
    // expansion matches. FULL OUTER combine: a doc matching only the
    // prefix still ranks.
    "q102_match_bool_prefix" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val terms = rankedVocab(s, d).filter(col("r") >= QLo && col("r") <= QHi)
        .select(col("term"), col("df")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val last = terms.map(_._1).max
      val pfx = last.substring(0, 1)
      val expTerms = dfVocab(s, d).filter(col("term").startsWith(lit(pfx)))
        .orderBy(col("term").asc).limit(50)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      import s.implicits._
      val qdf = terms.filter(_._1 != last).toSeq.toDF("tok", "df")
      // term clauses probe the postings artifact, the prefix clause the
      // analyzed frame — the integers a token-stream pass gives
      val sc = bm25Body(postings(s, d), qdf)
      val ph = docsAnalyzed(s, d)
        .select(col("doc_id"), arrays_overlap(col("toks"), typedLit(expTerms)).as("hp"))
        .filter(col("hp"))
      sc.join(ph, Seq("doc_id"), "full_outer")
        .withColumn("n_exact_hit", coalesce(col("n_terms_hit"), lit(0L)))
        .withColumn("prefix_hit", coalesce(col("hp"), lit(false)).cast("long"))
        .withColumn("final",
          coalesce(col("score"), lit(0.0)) + col("prefix_hit").cast("double"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("n_exact_hit"), col("prefix_hit"), col("final"))
    }),

    // ES `regexp` query — the third MultiTermQuery rewrite: the regex
    // runs against the broadcast term DICTIONARY only (RE2-safe subset:
    // one char class + `.*` + a literal tail, anchored), never the doc
    // stream. Pattern derives structurally and NON-VACUOUSLY: the char
    // class is the 2 most-covering first chars, and the literal tail is
    // the most-covering LAST char AMONG terms starting in that class —
    // so at least one dictionary term matches by construction. The class
    // chars are sorted alphabetically into the pattern so both engines
    // build the identical string.
    "q91_regexp" -> ((s: SparkSession, d: String) => {
      val vocab = dfVocab(s, d)
      // regex-metachar safety: only literal [a-z0-9] chars may enter the
      // class/tail (corpus-guaranteed; the filter makes ']'/'\\'-injection
      // structurally impossible and keeps the Java-regex/RE2 dialects
      // trivially aligned)
      val heads = vocab
        .groupBy(substring(col("term"), 1, 1).as("c"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("c").rlike("^[a-z0-9]$"))
        .orderBy(col("cnt").desc, col("c").asc).limit(2)
        .select(col("c"))
      val cls = heads.agg(array_join(array_sort(collect_list(col("c"))), "").as("cls"))
      // length >= 2: the pattern consumes one head char AND one tail char,
      // so a single-char term can neither match it nor anchor the tail —
      // without this filter the most common 1-char term ('a') picked a
      // tail no >=2-char class-headed term has, and the query went vacuous
      val sfx = vocab.join(broadcast(heads), substring(col("term"), 1, 1) === col("c"))
        .filter(length(col("term")) >= 2)
        .groupBy(expr("right(term, 1)").as("sfx"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("sfx").rlike("^[a-z0-9]$"))
        .orderBy(col("cnt").desc, col("sfx").asc).limit(1)
        .select(col("sfx"))
      val pat = cls.crossJoin(broadcast(sfx))
        .select(concat(lit("^["), col("cls"), lit("].*"), col("sfx"), lit("$")).as("pat"))
      val expansion = vocab.crossJoin(broadcast(pat))
        .filter(expr("term RLIKE pat"))
        .select(col("pat"), col("term"))
      rewriteHits(s, d, expansion, "pat")
    }),

    // ES `combined_fields` query (the principled multi-field alternative
    // to best_fields): fields [body^1, title^2] are scored as ONE
    // combined field — pseudo term frequency tf' = tf_body + 2·tf_title,
    // combined length dl' = dl_body + 2·dl_title, df over the combined
    // field (= body df: the derived title is a subset of body) — then a
    // SINGLE BM25 pass over the combined statistics (the BM25F
    // simplification ES documents; integer weights keep tf'/dl' exact).
    // Probes the SAME postings as q86 — tf' and dl' fall out of the
    // carried columns — and scores through the shared formula; the
    // combined field's statistics are one 1-row aggregate of
    // dl' = len + 2·min(len, 8) over the analyzed corpus.
    "q92_combined_fields" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val art = postings(s, d)
      val qsel = qselWindow(s, d)
      val dlC = (size(col("toks")) + lit(2) * least(size(col("toks")), lit(8))).cast("long")
      val stats = docsAnalyzed(s, d)
        .agg(count(lit(1)).as("n_docs"), (sum(dlC).cast("double") / count(lit(1))).as("avgdl"))
      val tfq = art.frame.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
        .select(col("doc_id"), col("tok"), (col("tf_b") + lit(2L) * col("tf_t")).as("tf"),
          (col("dl_b") + lit(2L) * col("dl_t")).as("dl"))
      bm25Score(tfq, bm25Idf(stats, qsel))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("n_terms_hit"), col("score"))
    }),

    // ES `_rank_eval` API — the ranking-EVALUATION endpoint next to the
    // ranking itself: each of the 5 window terms ([[QLo]]..[[QHi]]) is one
    // rated request (a single-term match on the body), rated docs derive
    // deterministically from the SAME postings rows (rating 2 = the term
    // appears in the title/first-8, rating 1 = body tf ≥ 2, else 0 — the
    // graded-relevance shape the endpoint exists for), and the ranking
    // under evaluation is THE shared BM25 formula ([[bm25TermScores]] —
    // per-term scores ARE single-term BM25). Emits the endpoint's metric
    // set per request at k=10: precision@10 (rating>0 = relevant),
    // reciprocal rank, DCG@10 (gain (2^r−1)/log2(rank+1) — integer gains,
    // detlog ranks, detsum reduction) and NDCG@10 (ideal ordering = rated
    // docs by rating desc). Scale shape: per-request ranking is a
    // WindowGroupLimit top-10 per term (5 partitions, map-side limited);
    // the rated frame never leaves the (doc, term) grain; every metric
    // reduces per term to a 5-row result.
    "q105_rank_eval" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val art = postings(s, d)
      val qsel = qselWindow(s, d)
      val per = bm25TermScores(
        art.frame.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
          .select(col("doc_id"), col("tok"), col("tf_b").as("tf"), col("tf_t"), col("dl_b").as("dl")),
        bm25Idf(art.statsBody, qsel))
        .withColumn("rating",
          when(col("tf_t") > 0, lit(2L)).when(col("tf") >= 2, lit(1L)).otherwise(lit(0L)))
        .select(col("doc_id"), col("tok"), col("rating"), col("score_t"))
      val gainCol = when(col("rating") === 2L, lit(3.0))
        .when(col("rating") === 1L, lit(1.0)).otherwise(lit(0.0))
      val top = graft.functions.detlog.withLog2(
        per.withColumn("rank",
          row_number().over(
            Window.partitionBy(col("tok"))
              .orderBy(col("score_t").desc, col("doc_id").asc)).cast("long"))
          .filter(col("rank") <= 10)
          .withColumn("rank1", col("rank") + lit(1L)),
        "rank1", "lg")
        .withColumn("dg", gainCol / col("lg"))
      val perQ = top.groupBy(col("tok"))
        .agg(
          count(when(col("rating") > 0, 1)).as("rel_in_10"),
          count(lit(1)).as("n_ret_10"),
          min(when(col("rating") > 0, col("rank"))).as("first_rel"),
          graft.functions.detsum.sumDet(col("dg"), 9).as("dcg_10"))
      val ideal = graft.functions.detlog.withLog2(
        per.filter(col("rating") > 0)
          .withColumn("irank",
            row_number().over(
              Window.partitionBy(col("tok"))
                .orderBy(col("rating").desc, col("doc_id").asc)).cast("long"))
          .filter(col("irank") <= 10)
          .withColumn("rank1", col("irank") + lit(1L)),
        "rank1", "lg")
        .withColumn("dg", gainCol / col("lg"))
        .groupBy(col("tok"))
        .agg(graft.functions.detsum.sumDet(col("dg"), 9).as("idcg_10"))
      // LEFT join: ES _rank_eval still reports a request whose rated set
      // has zero relevant docs (metric 0), so a relevance-free term must
      // not vanish from the output — ndcg coalesces to 0.0 when no ideal
      // ordering exists (the oracle mirrors both)
      perQ.join(ideal, Seq("tok"), "left")
        .select(
          col("tok").as("query_term"),
          col("rel_in_10"),
          (col("rel_in_10").cast("double") /
            least(lit(10L), col("n_ret_10")).cast("double")).as("precision_at_10"),
          coalesce(lit(1.0) / col("first_rel"), lit(0.0)).as("recip_rank"),
          col("dcg_10"),
          coalesce(col("dcg_10") / col("idcg_10"), lit(0.0)).as("ndcg_10"))
    }),

    // ES `rank_feature` query (saturation function): retrieval score =
    // bm25 + boost · S/(S + pivot) over a per-doc numeric feature —
    // the "static quality signal" production shape (pagerank, freshness;
    // here the doc's n_chars with pivot 500, boost 1.5). Exact IEEE
    // two-term arithmetic on both engines (one division, one multiply,
    // one add — no detsum needed); the feature join is per-doc on the
    // already hit-sized BM25 table.
    "q93_rank_feature" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val feat = Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars").cast("double").as("feat"))
      bm25PerDoc(s, d).join(feat, Seq("doc_id"))
        .withColumn("sat", col("feat") / (col("feat") + lit(500.0)))
        .withColumn("final", col("score") + lit(1.5) * col("sat"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("score"), col("sat"), col("final"))
    }),

    // ES `distance_feature` query: boost · pivot/(pivot + |value−origin|)
    // — "closer to the origin scores higher" (recency/geo proximity; here
    // the n_chars axis, origin 1000, pivot 200, boost 2). Same exact-IEEE
    // two-term combine as q93; |Δ| is integer-exact before the one
    // division.
    "q94_distance_feature" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val feat = Tables(s, d, "documents")
        .select(col("doc_id"), abs(col("n_chars") - lit(1000L)).cast("double").as("dist"))
      bm25PerDoc(s, d).join(feat, Seq("doc_id"))
        .withColumn("prox", lit(200.0) / (lit(200.0) + col("dist")))
        .withColumn("final", col("score") + lit(2.0) * col("prox"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("score"), col("prox"), col("final"))
    }),

    // ES `_explain` API: the per-term score BREAKDOWN for a named doc —
    // exactly the payload the endpoint returns (per query term: tf in the
    // doc, df, the doc's length norm inputs, idf, and the term's score
    // contribution), for the 3 longest docs (the q110 fixed-target shape)
    // against THE q76 5-term query. Everything flows through the ONE
    // shared BM25 chain (bm25TermScores over the postings probe), so the
    // explain rows are by construction the same numbers
    // q76's ranking summed — idf and score_t emitted UNROUNDED (the q35
    // convention; both engines run the identical op sequence). The
    // 3-row target set broadcasts; per-request work is request-sized.
    "q127_explain" -> ((s: SparkSession, d: String) => {
      val art = postings(s, d)
      val qsel = qselWindow(s, d)
      val targets = Tables(s, d, "documents")
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(3)
        .select(col("doc_id"))
      bm25TermScores(
        art.frame.join(broadcast(qsel.select(col("tok"))), Seq("tok"))
          .join(broadcast(targets), Seq("doc_id"))
          .select(col("doc_id"), col("tok"), col("tf_b").as("tf"), col("dl_b").as("dl")),
        bm25Idf(art.statsBody, qsel))
        .join(broadcast(qsel.select(col("tok"), col("df"))), Seq("tok"))
        .select(col("doc_id"), col("tok").as("term"), col("tf").cast("long").as("tf"),
          col("df").cast("long").as("df"), col("dl").cast("long").as("dl"),
          col("idf"), col("score_t"))
    }),

    // ES `function_score` DECAY functions — all three kernels (gauss /
    // exp / linear) over a numeric field in ONE request (boost_mode
    // `replace` over a match_all: the pure-decay ranking the docs
    // demonstrate), origin 300 (the corpus n_chars median) / offset 20 / scale 100 /
    // decay 0.5 on n_chars. d = max(0, |v−origin|−offset) is exact integer; linear is
    // exact in SCORE space (decay 0.5 ⇒ s' = scale/(1−decay) = 200, one
    // integer-ratio division); gauss and exp are carried in LOG2 space
    // (the detlog convention — gauss_lg2 = −d²/scale², exp_lg2 = −d/scale
    // for decay 0.5: each ONE correctly-rounded division of exact longs,
    // while 2^x itself is libm-dependent and would not hash cross-engine;
    // all three kernels are monotone in d, so log2 space preserves the
    // ranking contract exactly). Emitted as the PER-DOC scoring table
    // (the q41 shape — the corpus n_chars concentration puts >20 docs on
    // the offset plateau, so any top-k page would show only ties).
    // Scale shape: pure projection, zero joins, zero exchanges.
    "q124_decay_functions" -> ((s: SparkSession, d: String) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          greatest(lit(0L), abs(col("n_chars") - lit(300L)) - lit(20L)).as("dist"))
        .withColumn("linear_score",
          greatest(lit(0L), lit(200L) - col("dist")).cast("double") / lit(200.0))
        .withColumn("gauss_lg2",
          -(col("dist") * col("dist")).cast("double") / lit(10000.0))
        .withColumn("exp_lg2", -col("dist").cast("double") / lit(100.0))
        .select(col("doc_id"), col("dist"),
          col("linear_score"), col("gauss_lg2"), col("exp_lg2"))),

    // ES `span_first` query: the span family's positional boundary —
    // match docs whose query term occurs within the FIRST `end`=10
    // positions, reporting the first hit position and the in-window
    // count. Pure array HOF over the token array (positions never leave
    // the row — the q78 discipline); the size≥1 guard exists because
    // Spark's sequence(1, 0) is a DESCENDING ramp, not empty. Query term
    // = the top-ranked query-window term (rank QLo).
    "q95_span_first" -> ((s: SparkSession, d: String) =>
      spanFirstHits(docsAnalyzed(s, d), spanFirstTerm(s, d))
        .orderBy(col("first_pos").asc, col("doc_id").asc)
        .limit(20)),

    // st17 = q95's matcher with NO result window: the append-mode alert
    // stream emits EVERY doc whose query term lands in the first-10
    // window as it arrives (stateless per-row match — no state store),
    // exactly the st15 alerting shape for the span family.
    "st17_span_first_stream" -> ((s: SparkSession, d: String) =>
      Streams.run(
        spanFirstHits(docStream(s, d), spanFirstTerm(s, d)),
        "st17_mem", "append").frame),

    // ES `intervals` query, `all_of: {ordered: true, max_gaps: 10}` over
    // three terms — the modern positional DSL that succeeds the span
    // family (q78/q95). Operator contract (deterministic in both
    // engines): a match is a t1-anchored GREEDY chain — for each t1
    // position i, j = the first t2 after i, k = the first t3 after j;
    // the chain matches when the total gap k−i−2 ≤ max_gaps. Terms are
    // the top-3 df vocab terms (maximally co-occurring, structurally
    // non-vacuous: 38/43/409 matching docs at the three SFs). Pure array
    // HOFs over per-term position arrays — positions never leave the
    // row, no posexplode, no self-join (the q78 discipline).
    "q96_intervals" -> ((s: SparkSession, d: String) => {
      val ts = rankedVocab(s, d).filter(col("r") <= 3).orderBy(col("r"))
        .select(col("term")).collect().map(_.getString(0))
      val (t1, t2, t3) = (ts(0), ts(1), ts(2))
      val maxGaps = 10
      // the greedy chain hoisted into ALIGNED arrays (one array_min scan
      // per start, not one per downstream lambda element — the first
      // shipped form re-evaluated the inner filter(p2) inside the p3
      // lambda, O(|p1|·|p2|·|p3|) per doc on the 3 most frequent terms,
      // 45.6s at sf0.1): js[x] = first t2 after p1[x], ks[x] = first t3
      // after js[x], chain valid when total gap ks[x]−p1[x]−2 ≤ max_gaps.
      // Same greedy semantics, same oracle.
      docsAnalyzed(s, d)
        .withColumn("p1", termPositions(col("toks"), lit(t1)))
        .withColumn("p2", termPositions(col("toks"), lit(t2)))
        .withColumn("p3", termPositions(col("toks"), lit(t3)))
        .withColumn("js", transform(col("p1"), i => array_min(filter(col("p2"), y => y > i))))
        .withColumn("ks", transform(col("js"), j => array_min(filter(col("p3"), x => x > j))))
        .withColumn("chains",
          filter(
            zip_with(col("p1"), col("ks"), (i, k) =>
              when(k.isNotNull && (k - i - lit(2) <= lit(maxGaps)), i)),
            x => x.isNotNull))
        .withColumn("n_intervals", size(col("chains")).cast("long"))
        .select(col("doc_id"), col("n_intervals"),
          when(size(col("chains")) > 0, element_at(col("chains"), 1))
            .cast("long").as("first_start"))
        // the sparse-row filter sits ABOVE the top-k, not below it: a
        // pre-sort filter(n > 0) gets pushed into the scan with every
        // HOF alias SUBSTITUTED into the predicate (CollapseProject
        // refuses to duplicate expensive multi-ref aliases, but filter
        // pushdown has no such cost guard), re-tokenizing the doc per
        // sequence element — measured 45.6s at sf0.1 for this query.
        // Zero rows sort last on the leading n DESC key, so top-k-then-
        // filter returns the identical row set at ~0.3s.
        .orderBy(col("n_intervals").desc, col("first_start").asc, col("doc_id").asc)
        .limit(20)
        .filter(col("n_intervals") > 0)
    }),

    // ES `span_or` composed into `span_first` (span_or alone is a term
    // union): docs where EITHER of two query-window terms (ranks QLo,
    // QLo+1 — q95's derivation widened to a 2-term disjunction) occurs
    // within the first 10 positions, with the first hit, the in-window
    // hit count, and how many of the two terms matched.
    "q97_span_or" -> ((s: SparkSession, d: String) => {
      val ts = rankedVocab(s, d).filter(col("r") >= QLo && col("r") <= QLo + 1)
        .orderBy(col("r")).select(col("term")).collect().map(_.getString(0))
      val (ta, tb) = (ts(0), ts(1))
      val ws = slice(col("toks"), 1, 10)
      docsAnalyzed(s, d)
        .withColumn("hits",
          when(size(col("toks")) >= 1,
            filter(sequence(lit(1), least(lit(10), size(col("toks")))),
              i => element_at(col("toks"), i) === lit(ta) ||
                element_at(col("toks"), i) === lit(tb)))
            .otherwise(array().cast("array<int>")))
        .withColumn("n_within", size(col("hits")).cast("long"))
        .filter(col("n_within") > 0)
        .select(col("doc_id"),
          element_at(col("hits"), 1).cast("long").as("first_pos"),
          col("n_within"),
          (array_contains(ws, lit(ta)).cast("int") +
            array_contains(ws, lit(tb)).cast("int")).cast("long").as("n_terms_matched"))
        .orderBy(col("first_pos").asc, col("doc_id").asc)
        .limit(20)
    }),

    // ES `span_not`: include spans = occurrences of w1 (the top bigram's
    // first word), exclude spans = occurrences of the phrase "w1 w2" —
    // keep w1 positions whose [j,j] span does not OVERLAP any [i,i+1]
    // phrase span (j=i: w1 starts the phrase; j=i+1: only possible when
    // w1=w2 — both clauses spelled out so the degenerate repeated-word
    // bigram stays exact). The classic "term not in this phrase" filter.
    // ANSI-safe: neighbor accesses are guarded by when() bounds.
    "q98_span_not" -> ((s: SparkSession, d: String) => {
      val sz = size(col("toks"))
      def keptAt(j: Column): Column =
        element_at(col("toks"), j) === col("w1") &&
          !coalesce(when(j < sz, element_at(col("toks"), j + 1) === col("w2")), lit(false)) &&
          !coalesce(when(j >= 2,
            element_at(col("toks"), j - 1) === col("w1") &&
              element_at(col("toks"), j) === col("w2")), lit(false))
      docsAnalyzed(s, d).crossJoin(broadcast(topBigram(s, d)))
        .withColumn("n_incl", size(termPositions(col("toks"), col("w1"))).cast("long"))
        .withColumn("kept",
          when(sz >= 1, filter(sequence(lit(1), sz), keptAt _))
            .otherwise(array().cast("array<int>")))
        .withColumn("n_kept", size(col("kept")).cast("long"))
        .filter(col("n_kept") > 0)
        .select(col("doc_id"),
          element_at(col("kept"), 1).cast("long").as("first_pos"),
          col("n_kept"),
          (col("n_incl") - col("n_kept")).as("n_excluded"))
        .orderBy(col("n_excluded").desc, col("n_kept").desc, col("doc_id").asc)
        .limit(20)
    }),

    // ES `pinned` query: editorially promoted documents rank FIRST in the
    // order given, the organic ranking (q76's BM25) follows with the
    // pinned docs deduplicated out of it — the "sponsored results" shape.
    // Promoted ids derive deterministically as the 3 longest documents
    // (n_chars desc, id asc — an editorial signal the corpus carries);
    // the pin table is 3 rows and broadcasts; organic scores ride along
    // for display exactly like ES returns the organic _score.
    "q104_pinned" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val pins = Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("pin_rank",
          row_number().over(Window.orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("pin_rank") <= 3)
        .select(col("doc_id"), col("pin_rank"))
      bm25PerDoc(s, d).select(col("doc_id"), col("score"))
        .join(broadcast(pins), Seq("doc_id"), "full_outer")
        .withColumn("is_pinned", col("pin_rank").isNotNull.cast("long"))
        .withColumn("organic_score", coalesce(col("score"), lit(0.0)))
        .withColumn("rank",
          row_number().over(Window.orderBy(
            col("is_pinned").desc, col("pin_rank").asc_nulls_last,
            col("organic_score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("is_pinned"), col("organic_score"))
    }),

    // ES `simple_query_string` — the user-facing query-syntax layer over
    // the retrieval stack: the grammar's three core operators composed in
    // one derived query  `"<w1> <w2>" | (<tA> + <tB>) -<tX>`  (phrase
    // quotes, `+` AND, `|` OR, `-` NOT — ES default_operator OR at the
    // top level). w1/w2 = the top corpus bigram (q78's derivation),
    // tA/tB = window terms ranks QLo/QLo+1, tX = the rank-QHi term.
    // Clause scoring is ENTIRELY shared machinery: the phrase clause is
    // q86c's Lucene phrase scorer ([[phraseProbeScores]]' body half), the
    // AND clause is THE BM25 chain over the 2-term df table gated on
    // n_terms_hit = 2 (bool MUST), the NOT clause is a broadcast
    // anti-join on tX membership, and the OR combine is the fixed
    // two-term IEEE sum of matching clause scores (non-matching clause
    // contributes 0). A doc matching either clause ranks unless excluded.
    "q103_simple_query_string" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val tX = rankedVocab(s, d).filter(col("r") === QHi)
        .select(col("term")).collect().head.getString(0)
      // every clause reads a build-once artifact: the phrase pass the
      // positional-postings probe, the AND clause the tf-postings probe,
      // the NOT clause an array_contains probe — probe-derived statistics
      // are integer-identical to a token-stream pass, so the oracle's
      // stream-shaped chain mirrors them
      val Array(w1, w2) = topBigramString(s, d).split(" ")
      val phr = phraseProbeScores(s, d, w1, w2)
        .filter(col("s_body0").isNotNull)
        .select(col("doc_id"), col("s_body0").as("p0"))
      val qdf2 = rankedVocab(s, d).filter(col("r") === QLo || col("r") === QLo + 1)
        .select(col("term").as("tok"), col("df"))
      val sAnd = bm25Body(postings(s, d), qdf2)
        .filter(col("n_terms_hit") === 2)
        .select(col("doc_id"), col("score").as("a0"))
      phr.join(sAnd, Seq("doc_id"), "full_outer")
        .join(docsAnalyzed(s, d).filter(array_contains(col("toks"), lit(tX)))
          .select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("s_phrase", coalesce(col("p0"), lit(0.0)))
        .withColumn("s_and", coalesce(col("a0"), lit(0.0)))
        .withColumn("final", col("s_phrase") + col("s_and"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("s_phrase"), col("s_and"), col("final"))
    }),

    // ES `query_string` — the FULL Lucene syntax layer next to q103's
    // forgiving simple_query_string: the strict grammar's remaining
    // features composed in one derived query
    //   `title:<tT> AND (<tA> OR <tB>^2) AND NOT <tX>`
    // — FIELD SCOPING (title:tT scores against the title field's OWN
    // statistics, the q86 per-field contract; tT = the title field's
    // highest-df length≥4 term), an INLINE BOOST (tB^2 — the weight
    // multiplies the term score BEFORE the detsum reduce, Lucene's boost
    // composition), explicit boolean PRECEDENCE (the parenthesized OR
    // group sums its matching SHOULD clauses; the top-level ANDs are
    // MUST = inner joins of clause hit sets; NOT = an anti-join on tX
    // membership). Every clause PROBES the build-once artifacts — the
    // field-scoped title clause reads the titleVocab dictionary + the
    // carried dl_t/build-time statsTitle, the boolean group reads
    // rankedVocab + carried dl_b/statsBody, and the NOT clause probes the
    // postings rows — and all scoring flows through THE shared BM25
    // formula ([[bm25Score]]/[[bm25TermScores]]).
    "q106_query_string" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      // probe statistics are integer-identical to a per-request
      // aggregation (df = frame rows per term, dl carried = Σtf, stats =
      // the build-time count/sum-cast-double/count)
      val art = postings(s, d)
      val tT = broadcast(titleVocab(s, d).filter(length(col("term")) >= 4)
        .orderBy(col("df").desc, col("term").asc).limit(1)
        .select(col("term").as("tok"), col("df")))
      val sT = bm25Score(
        art.frame.filter(col("tf_t") > 0)
          .join(tT.select(col("tok")), Seq("tok"))
          .select(col("doc_id"), col("tok"), col("tf_t").as("tf"), col("dl_t").as("dl")),
        bm25Idf(art.statsTitle, tT))
        .select(col("doc_id"), col("score").as("s_title"))
      val qg = broadcast(rankedVocab(s, d)
        .filter(col("r") === QLo || col("r") === QLo + 1)
        .select(col("term").as("tok"), col("df"), col("r")))
      val sG = bm25TermScores(
        art.frame.join(qg.select(col("tok"), col("r")), Seq("tok"))
          .select(col("doc_id"), col("tok"), col("tf_b").as("tf"),
            col("dl_b").as("dl"), col("r")),
        bm25Idf(art.statsBody, qg.select(col("tok"), col("df"))))
        .withColumn("ws",
          when(col("r") === QLo + 1, lit(2.0)).otherwise(lit(1.0)) * col("score_t"))
        .groupBy(col("doc_id"))
        .agg(graft.functions.detsum.sumDet(col("ws"), 9).as("s_group"))
      val excl = art.frame.join(
        broadcast(rankedVocab(s, d).filter(col("r") === QHi)
          .select(col("term").as("tok"))), Seq("tok"))
        .select(col("doc_id"))
      sT.join(sG, Seq("doc_id"))
        .join(excl, Seq("doc_id"), "left_anti")
        .withColumn("final", col("s_title") + col("s_group"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("s_title"), col("s_group"), col("final"))
    }),

    // ES `bool` query as EXPLICIT named surface — the most-used compound
    // query, all FOUR clause types in one request with the ES scoring
    // contract: `must` (term tA, rank QLo — scores and is required),
    // `should` (terms tB/tC, ranks QLo+1/QLo+2 — matching clauses ADD
    // their score) under `minimum_should_match: 1`, `must_not` (the
    // rank-QLo+3 term — pure exclusion, never scores), and `filter`
    // (n_chars ≥ 200 — matches REQUIRED but score NOT affected, the
    // filter-context half of the contract). _score = must + Σ matching
    // should (fixed textual order — engine-exact). All clause scoring is
    // THE shared BM25 chain over the postings probe; the
    // must_not exclusion is a hit-sized anti-join; the filter reaches the
    // documents scan as a pushed range predicate.
    "q119_bool" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      // clause terms/df from the build-once rankedVocab dictionary, tf/dl
      // carried on the probed postings rows, idf from the build-time
      // stats — no request re-ranks the vocabulary or re-aggregates
      // per-doc lengths
      val art = postings(s, d)
      val clause = broadcast(rankedVocab(s, d)
        .filter(col("r") >= QLo && col("r") <= QLo + 2)
        .select(col("term").as("tok"), col("df"), col("r")))
      val sc = bm25TermScores(
        art.frame.join(clause.select(col("tok"), col("r")), Seq("tok"))
          .select(col("doc_id"), col("tok"), col("tf_b").as("tf"),
            col("dl_b").as("dl"), col("r")),
        bm25Idf(art.statsBody, clause.select(col("tok"), col("df"))))
      // pivot the ≤3 clause rows per doc into fixed columns: each (doc, r)
      // is unique, so min() just carries the value
      val per = sc.groupBy(col("doc_id")).agg(
        min(when(col("r") === QLo, col("score_t"))).as("s_must"),
        min(when(col("r") === QLo + 1, col("score_t"))).as("s_should1"),
        min(when(col("r") === QLo + 2, col("score_t"))).as("s_should2"))
      val excl = art.frame.join(
        broadcast(rankedVocab(s, d).filter(col("r") === QLo + 3)
          .select(col("term").as("tok"))), Seq("tok"))
        .select(col("doc_id"))
      val flt = Tables(s, d, "documents").filter(col("n_chars") >= 200).select(col("doc_id"))
      per
        .filter(col("s_must").isNotNull)
        .withColumn("n_should",
          (col("s_should1").isNotNull.cast("int") +
            col("s_should2").isNotNull.cast("int")).cast("long"))
        .filter(col("n_should") >= 1)
        .join(excl, Seq("doc_id"), "left_anti")
        .join(flt, Seq("doc_id"))
        .withColumn("score",
          col("s_must") +
            (coalesce(col("s_should1"), lit(0.0)) + coalesce(col("s_should2"), lit(0.0))))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("s_must"), col("n_should"), col("score"))
    }),

    // ES `dis_max` as EXPLICIT named surface — the compound query that
    // q86's best_fields TYPE compiles to, here in its own right: two term
    // clauses over the SAME field, _score = best clause + tie_breaker·other
    // with tie_breaker 0.25 (exact power-of-two, distinct from q86's
    // field-level 0.5). Clause A = the rank-QLo window term (common, the
    // q119 derivation); clause B = the corpus's RAREST token (df asc, the
    // q11e rare-terms derivation — structurally 5% df at every SF), so the
    // top-30 page provably contains both single-clause and both-clause
    // hits: the OR contract (a doc matching EITHER clause qualifies —
    // unlike q119's must gate) and the tie_breaker are each visible in
    // the result. Clause scoring is THE shared BM25 chain over the
    // postings probe.
    "q123_dis_max" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      // clause A from the rankedVocab dictionary, clause B (the corpus's
      // rarest token) from the full dfVocab dictionary; scoring probes
      // the postings artifact (same integers as the per-request frame
      // aggregations this replaces)
      val art = postings(s, d)
      val a = rankedVocab(s, d).filter(col("r") === QLo)
        .select(col("term").as("tok"), col("df"), lit(1).as("r"))
      val rare = dfVocab(s, d)
        .orderBy(col("df").asc, col("term").asc).limit(1)
        .select(col("term").as("tok"), col("df"), lit(2).as("r"))
      val clause = broadcast(a.union(rare))
      val sc = bm25TermScores(
        art.frame.join(clause.select(col("tok"), col("r")), Seq("tok"))
          .select(col("doc_id"), col("tok"), col("tf_b").as("tf"),
            col("dl_b").as("dl"), col("r")),
        bm25Idf(art.statsBody, clause.select(col("tok"), col("df"))))
      sc.groupBy(col("doc_id")).agg(
          min(when(col("r") === 1, col("score_t"))).as("s_a"),
          min(when(col("r") === 2, col("score_t"))).as("s_b"))
        .withColumn("best",
          greatest(coalesce(col("s_a"), lit(0.0)), coalesce(col("s_b"), lit(0.0))))
        .withColumn("other",
          coalesce(col("s_a"), lit(0.0)) + coalesce(col("s_b"), lit(0.0)) - col("best"))
        .withColumn("n_matched",
          (col("s_a").isNotNull.cast("int") + col("s_b").isNotNull.cast("int")).cast("long"))
        .withColumn("score", col("best") + lit(0.25) * col("other"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 30)
        .select(col("rank"), col("doc_id"), col("n_matched"), col("best"), col("score"))
    }),

    // ES `span_containing`: {big, little} — report matches of the BIG
    // span that contain a match of the LITTLE span. big = the greedy
    // ordered (t1, t2) pair span with slop 5 (for each t1 position i, the
    // FIRST t2 after it — the q96 greedy-anchor contract; the span is
    // [i, j], valid when j−i−1 ≤ slop); little = occurrences of t3 (a
    // single-position span). A big span [i, j] contains little at p iff
    // i ≤ p ≤ j. Terms are the top-3 df vocab terms (q96's derivation —
    // maximal co-occurrence keeps the operator structurally non-vacuous).
    // Pure array HOFs over per-term position arrays; positions never
    // leave the row ([[spanPairFrame]] is shared with q101 — the two
    // containment directions read ONE big-span definition).
    "q100_span_containing" -> ((s: SparkSession, d: String) =>
      spanPairFrame(s, d)
        .withColumn("cont", filter(col("bigs"), sp =>
          exists(col("p3"), p => p >= sp.getField("i") && p <= sp.getField("j"))))
        .withColumn("n_big", size(col("bigs")).cast("long"))
        .withColumn("n_containing", size(col("cont")).cast("long"))
        .select(col("doc_id"),
          when(size(col("cont")) > 0, element_at(col("cont"), 1).getField("i"))
            .cast("long").as("first_start"),
          col("n_big"), col("n_containing"))
        // filter above the top-k (the q96 pushdown-substitution lesson);
        // zero rows sort last on n_containing DESC — identical row set
        .orderBy(col("n_containing").desc, col("first_start").asc, col("doc_id").asc)
        .limit(20)
        .filter(col("n_containing") > 0)),

    // ES `span_within`: the inverse containment direction — report
    // matches of the LITTLE span (t3 occurrences) that fall WITHIN some
    // valid big span. Same big-span definition ([[spanPairFrame]]), same
    // i ≤ p ≤ j containment; together with q100 this completes the span
    // family (q95 first / q97 or / q98 not / q78 near).
    "q101_span_within" -> ((s: SparkSession, d: String) =>
      spanPairFrame(s, d)
        .withColumn("within", filter(col("p3"), p =>
          exists(col("bigs"), sp => p >= sp.getField("i") && p <= sp.getField("j"))))
        .withColumn("n_little", size(col("p3")).cast("long"))
        .withColumn("n_within", size(col("within")).cast("long"))
        .select(col("doc_id"),
          when(size(col("within")) > 0, element_at(col("within"), 1))
            .cast("long").as("first_pos"),
          col("n_little"), col("n_within"))
        // filter above the top-k (the q96 pushdown-substitution lesson);
        // zero rows sort last on n_within DESC — identical row set
        .orderBy(col("n_within").desc, col("first_pos").asc, col("doc_id").asc)
        .limit(20)
        .filter(col("n_within") > 0)),

    // ES `match_all` as named surface (completeness next to the scored
    // queries): every doc matches with _score = 1, paged deterministically
    // by id with hits.total riding along — the "browse the index" request.
    // The total is a 1-row broadcast; the page is a limit-pushed sort.
    // ES `terms` query with TERMS LOOKUP — the variant where the term set
    // is not in the request but fetched from a designated document's field
    // at query time (GET the lookup doc, then filter by its terms). The
    // lookup doc is the longest doc (the q104/q116 pin derivation); its
    // terms = the doc's distinct tokens of length ≥ 6, sorted, capped at
    // ES's index.max_terms_count spirit (16). Scale shape: the fetched
    // set is ONE 1-row array BROADCAST below the corpus scan — the
    // per-corpus work is a single array-intersect projection per doc
    // (filter context, no scoring), exactly how a terms-lookup behaves in
    // ES (the lookup happens once, then the filter runs as a normal terms
    // query). Page top-20 by doc_id + hits.total (the q118 shape);
    // n_matched rides along so the multi-term overlap is visible.
    "q134_terms_lookup" -> ((s: SparkSession, d: String) => {
      val lk = docsAnalyzed(s, d)
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(1)
        .select(slice(
          array_sort(array_distinct(filter(col("toks"), t => length(t) >= 6))),
          1, 16).as("lk"))
      val hits = docsAnalyzed(s, d)
        .crossJoin(broadcast(lk))
        .withColumn("n_matched",
          size(array_intersect(array_distinct(col("toks")), col("lk"))).cast("long"))
        .filter(col("n_matched") >= 1)
      hits.orderBy(col("doc_id").asc).limit(20)
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("total_hits"))))
        .select(col("doc_id"), col("n_matched"), col("total_hits"))
    }),

    // ES `script` query (FILTER context) — the sibling of q122's
    // script_score: a scripted boolean over doc values that no term/range
    // form expresses ((n_chars·7 + doc_id) % 13 == 0 AND n_chars ≥ 100 —
    // integer arithmetic only, exact in both engines). Filter-context
    // contract: no score is computed at all; the predicate runs as a pure
    // scan filter (projection arithmetic, no joins), paged top-20 by
    // doc_id with hits.total riding along (the q118 shape). Probed
    // non-vacuous at every SF (35/33/314 hits of 500/500/5000).
    "q135_script_query" -> ((s: SparkSession, d: String) => {
      val hits = Tables(s, d, "documents")
        .filter((col("n_chars") * 7 + col("doc_id")) % 13 === 0 && col("n_chars") >= 100)
      hits.orderBy(col("doc_id").asc).limit(20)
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("total_hits"))))
        .select(col("doc_id"), col("n_chars"), col("total_hits"))
    }),

    // LEARNED SPARSE RETRIEVAL (the ELSER shape) — the third modern
    // retrieval mode next to BM25 (q76) and dense kNN (q37c/q85): the
    // query is not its literal terms but a LEARNED sparse term→weight
    // expansion, and the score is the sparse dot product between the
    // expanded query vector and the doc's term-frequency vector. The
    // "learning" here is deterministic distributional statistics (ELSER's
    // role filled by co-occurrence, the classic distributional-semantics
    // signal): each of the 2 seed terms (vocab ranks [QLo, QLo+1], the
    // q119 derivation) expands to its top-8 co-occurring terms weighted
    // by co-document count — the seed itself lands rank 1 with weight
    // df(seed), so original terms keep the highest weight exactly as
    // ELSER emits them. All weights and scores are INTEGER (counts ·
    // counts), so both engines compare exact longs; no float discipline
    // needed. Scale shape: the co-document counts come from the seed
    // docs' own token arrays (the analyzed corpus, row-local: no join on
    // doc_id), the expansion table (≤16 rows) BROADCASTS under the
    // postings probe, and only the probed hit rows shuffle to the per-doc
    // sum.
    "q136_sparse_retrieval" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      // seeds from the build-once dictionary
      val seeds = rankedVocab(s, d)
        .filter(col("r") >= QLo && col("r") <= QLo + 1)
        .select(col("term").as("seed"))
      // per seed doc, each distinct length-≥4 term once: codoc = the docs
      // holding both the seed and the term
      val expn = docsAnalyzed(s, d)
        .crossJoin(broadcast(seeds))
        .filter(array_contains(col("toks"), col("seed")))
        .select(col("seed"),
          explode(array_distinct(filter(col("toks"), t => length(t) >= 4))).as("tok"))
        .groupBy(col("seed"), col("tok")).agg(count(lit(1)).as("codoc"))
        .withColumn("er",
          row_number().over(Window.partitionBy(col("seed")).orderBy(col("codoc").desc, col("tok").asc)))
        .filter(col("er") <= 8)
      val wq = expn.groupBy(col("tok")).agg(sum(col("codoc")).as("w"))
      val scored = postings(s, d).frame.join(broadcast(wq), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("w") * col("tf_b")).as("score"), count(lit(1)).as("n_terms"))
      scored.orderBy(col("score").desc, col("doc_id").asc).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
    }),

    "q115_match_all" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val total = Tables(s, d, "documents").agg(count(lit(1)).as("total_hits"))
      Tables(s, d, "documents").select(col("doc_id"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .crossJoin(broadcast(total))
        .select(col("rank"), col("doc_id"), lit(1.0).as("score"), col("total_hits"))
    }),

    // ES `ids` query as named surface: fetch by document id — the id set
    // derives deterministically as the 3 longest docs (q104's pin
    // derivation). The id table broadcasts into the scan (point-lookup
    // shape: per-request work is id-set-sized at any corpus size).
    "q116_ids" -> ((s: SparkSession, d: String) => {
      val ids = Tables(s, d, "documents")
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(3)
        .select(col("doc_id"))
      Tables(s, d, "documents")
        .join(broadcast(ids), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    }),

    // ES `constant_score` as named surface: a filter context wrapped into
    // query context — every matching doc scores exactly `boost` (1.2), no
    // BM25 computed at all (the performance point of the wrapper). Filter
    // = term query for the q95 window term; filter-context shape: the
    // term test is one array_contains projection, no scoring machinery.
    "q118_constant_score" -> ((s: SparkSession, d: String) => {
      val t = spanFirstTerm(s, d)
      docsAnalyzed(s, d)
        .filter(array_contains(col("toks"), lit(t)))
        .select(col("doc_id"), lit(1.2).as("score"))
        .orderBy(col("doc_id").asc)
        .limit(20)
    }),

    // ES `span_multi` — the span wrapper around a multi-term query: the
    // q88-derived prefix (the single-char start covering the most vocab
    // terms) rewrites against the term DICTIONARY to its top
    // max_expansions=10 terms by (df desc, term asc) — Lucene's
    // top_terms_N rewrite, the rewrite ES requires inside spans — and
    // the expanded set runs as span clauses under span_first(end=10):
    // docs where ANY expanded term occurs in the first 10 positions,
    // with the first hit, the in-window hit count and how many distinct
    // expanded terms appear in the window. Scale shape: the expansion is
    // dictionary-sized and enters the row scan as ONE broadcast 1-row
    // sorted array (the q88/q89 rewrite discipline — the doc stream
    // never pays a per-row pattern match — composed with the q95/q97
    // positional HOFs; positions never leave the row).
    "q111_span_multi" -> ((s: SparkSession, d: String) => {
      val vocab = dfVocab(s, d)
      val pfx = vocab
        .groupBy(substring(col("term"), 1, 1).as("q"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("q").asc).limit(1)
        .select(col("q"))
      val expArr = vocab.crossJoin(broadcast(pfx))
        .filter(col("term").startsWith(col("q")))
        .orderBy(col("df").desc, col("term").asc).limit(10)
        .agg(sort_array(collect_list(col("term"))).as("exp"))
      docsAnalyzed(s, d).crossJoin(broadcast(expArr))
        .withColumn("hits",
          when(size(col("toks")) >= 1,
            filter(sequence(lit(1), least(lit(10), size(col("toks")))),
              i => array_contains(col("exp"), element_at(col("toks"), i))))
            .otherwise(array().cast("array<int>")))
        .withColumn("n_within", size(col("hits")).cast("long"))
        .filter(col("n_within") > 0)
        .select(col("doc_id"),
          element_at(col("hits"), 1).cast("long").as("first_pos"),
          col("n_within"),
          size(array_intersect(slice(col("toks"), 1, 10), col("exp")))
            .cast("long").as("n_terms_matched"))
        .orderBy(col("first_pos").asc, col("doc_id").asc)
        .limit(20)
    }),

    // ES `field_masking_span` — span_near ACROSS fields: the big clause
    // matches t1 in the derived `title` field (the doc's first-8 tokens,
    // q86's field convention) and the little clause t2 in `body`, with
    // the title clause MASKED as body so the two clauses' positions
    // compose into one ordered span (the documented ES use case: the
    // same text analyzed into parallel fields shares a position space).
    // Span: title occurrence i of t1 (i ≤ 8), end j = the first t2
    // position after i anywhere in the body (the q96 greedy-anchor
    // contract), valid when j − i − 1 ≤ slop=5. The greedy end is
    // hoisted into an aligned `ends` array (the q96 O(n³) lesson — one
    // array_min scan per start, never re-run inside downstream lambdas).
    // Terms t1/t2 = the top-2 df vocab terms (q96's derivation).
    "q112_field_masking_span" -> ((s: SparkSession, d: String) => {
      val ts = rankedVocab(s, d).filter(col("r") <= 2).orderBy(col("r"))
        .select(col("term")).collect().map(_.getString(0))
      val (t1, t2) = (ts(0), ts(1))
      docsAnalyzed(s, d)
        .withColumn("p1t",
          filter(termPositions(col("toks"), lit(t1)), i => i <= lit(8)))
        .withColumn("p2", termPositions(col("toks"), lit(t2)))
        .withColumn("ends",
          transform(col("p1t"), i => array_min(filter(col("p2"), y => y > i))))
        .withColumn("spans",
          filter(
            zip_with(col("p1t"), col("ends"), (i, j) =>
              when(j.isNotNull && (j - i - lit(1) <= lit(5)), i)),
            x => x.isNotNull))
        .withColumn("n_spans", size(col("spans")).cast("long"))
        .select(col("doc_id"),
          when(size(col("spans")) > 0, element_at(col("spans"), 1))
            .cast("long").as("first_start"),
          col("n_spans"))
        // filter above the top-k (the q96 pushdown-substitution lesson);
        // zero rows sort last on n_spans DESC — identical row set
        .orderBy(col("n_spans").desc, col("first_start").asc, col("doc_id").asc)
        .limit(20)
        .filter(col("n_spans") > 0)
    }),

    // ES `multi_match` (type best_fields ≡ `dis_max` over per-field
    // queries): fields = [title^2, body], where title is the doc's first 8
    // tokens (a DERIVED field, the geo-coordinate convention — the corpus
    // carries one text column). Each field scores the 5-term query with
    // its OWN statistics (df/dl/avgdl — the ES per-field scoring
    // contract), the title score carries boost 2, and dis_max combines
    // best + tie_breaker(0.5) × other. FULL OUTER over the per-field hit
    // sets: a doc matching only one field still ranks.
    // Both fields probe the ONE posting-list artifact — tf_b counts all
    // occurrences, tf_t the first-8 ones, and both field lengths ride on
    // each row — so no request re-scans the corpus (PlanSpec gates zero
    // parquet re-scans). Field values are INTEGER-identical to two
    // per-field token-stream passes (dl = Σtf, df = frame rows per term),
    // which is what the oracle computes.
    "q86_multi_match" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      multiMatchPerField(s, d)
        .withColumn("final",
          greatest(col("s_body"), col("s_title_boosted")) +
            lit(0.5) * least(col("s_body"), col("s_title_boosted")))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("s_body"), col("s_title_boosted"), col("final"))
    }),

    // ES `multi_match` type `most_fields`: the SAME per-field BM25 scores
    // as q86 (same fields [title^2, body], same per-field statistics, same
    // postings probe) but combined by SUM instead of dis_max — the type
    // for "same text analyzed different ways", where every matching field
    // adds evidence. q86/q86b/q92 now cover three of ES's four multi_match
    // types over ONE shared scoring stack; only the combine differs.
    "q86b_multi_match_most_fields" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      multiMatchPerField(s, d)
        // two-term IEEE sum — textually fixed order, engine-exact
        .withColumn("final", col("s_body") + col("s_title_boosted"))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("s_body"), col("s_title_boosted"), col("final"))
    }),

    // ES `multi_match` type `phrase`: runs a match_phrase of the query
    // phrase (the top corpus bigram — q78's derivation) on EACH field
    // [title^2, body] and keeps the best field's score (dis_max,
    // tie_breaker 0.0 — the type's default). Per-field score is Lucene's
    // phrase scoring: tf = exact adjacent-pair count ([[phraseTf]] — the
    // positions-never-leave-the-row HOF), idf = Σ idf(term) over the
    // phrase terms with the FIELD's own df, tf-normalized through THE
    // shared BM25 formula ([[bm25ScoreTf]] on a single pseudo-term row).
    // The title field is the first-8-token prefix, so its phrase tf is
    // [[phraseTf]] over the sliced array.
    "q86c_multi_match_phrase" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      // the positional-postings probe (phraseProbeScores —
      // phraseFieldScore's exact numbers from the 2-term probe; the
      // corpus never re-scans). The query bigram derives driver-side.
      val Array(w1, w2) = topBigramString(s, d).split(" ")
      phraseProbeScores(s, d, w1, w2)
        .withColumn("s_body", coalesce(col("s_body0"), lit(0.0)))
        .withColumn("s_title_boosted", coalesce(lit(2.0) * col("s_title0"), lit(0.0)))
        .withColumn("final", greatest(col("s_body"), col("s_title_boosted")))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("s_body"), col("s_title_boosted"), col("final"))
    }),

    // ES `multi_match` type `cross_fields` — the FOURTH and last type,
    // completing the matrix next to q86 (best_fields), q86b (most_fields)
    // and q86c (phrase). cross_fields is TERM-centric (Lucene
    // BlendedTermQuery): fields holding PARTS of one logical value
    // ("first_name"/"last_name") are treated as one big field for TERM
    // STATISTICS — per query term the document frequency is BLENDED to
    // the max across fields and the idf is computed once against the
    // corpus n_docs — while tf-NORMALIZATION stays per-field (the field's
    // own tf/dl/avgdl, the saturation half of BM25). Per term the
    // per-field scores combine by dis_max (ES default tie_breaker 0.0)
    // and the per-doc score is the detsum over terms: a doc carrying the
    // term in EITHER field gets the same idf credit — the property
    // best_fields lacks (a value split across fields is double-penalized
    // by per-field idf).
    //
    // Fields here are the head/tail SPLIT of the document — head = first
    // 8 tokens (^2, q86's title), tail = tokens 9+ — i.e. genuinely
    // DISJOINT parts of one value, the shape cross_fields exists for
    // (q86's title is a PREFIX of body, where max-blending would be
    // vacuous: df_title ≤ df_body always). Both fields' tf/dl fall out of
    // the postings rows (tail tf = tf_b − tf_t); the only new exchanges
    // are over hit-sized score tables.
    "q86d_multi_match_cross_fields" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      crossFieldsScored(s, d, qselWindow(s, d))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("final").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("n_terms_hit"), col("final"))
    }),

    // ES 8.x `rrf` retriever (Reciprocal Rank Fusion): two rankings of the
    // same corpus — q76's BM25 and q76c's length-boosted function_score —
    // fuse by Σ 1/(k + rank) with the ES default rank_constant k=60. Ranks
    // are exact integers, each 1/(60+r) one correctly-rounded IEEE
    // division, and the two-term sum is fixed textually, so the fused
    // score is engine-exact without detsum. Docs missing from a ranking
    // contribute nothing for it (the ES window semantics, window = all
    // scored docs here). Fusion runs on the two per-doc RANK tables (hit-
    // count-sized), never the corpus.
    "q83_rrf" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      // both rankings as two window functions over ONE per-doc frame —
      // a two-branch self-join would evaluate the whole BM25 subtree
      // twice (measured 2.2s → 1.5s at sf0.1); the second ranking is
      // EXACTLY q76c's function_score via the shared helper
      bm25LengthFactored(s, d)
        .withColumn("f2", col("score") * col("factor"))
        .withColumn("r1", row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .withColumn("r2", row_number().over(Window.orderBy(col("f2").desc, col("doc_id").asc)).cast("long"))
        .withColumn("rrf",
          lit(1.0) / (lit(60.0) + col("r1").cast("double")) +
            lit(1.0) / (lit(60.0) + col("r2").cast("double")))
        .withColumn("rank",
          row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"), col("r1"), col("r2"), col("rrf"))
    }),

    // ES `search_after`: keyset paging over HITS (q17g covered composite
    // AGG paging) — page 2 resumes strictly after page 1's last
    // (score, doc_id) sort key, the cursor read from the same deterministic
    // ranking (rank 20's key), so the query is self-contained. The cursor
    // is one row through the driver-sized window; the keyset predicate
    // filters the per-doc score table, never re-serving page 1.
    "q84_search_after" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      // ONE evaluation of the BM25 subtree: the cursor key rides the
      // ranked frame as an unbounded-window aggregate instead of a second
      // branch (a cursor self-join re-evaluates the whole pipeline — the
      // q83 lesson; 1.69s → 1.59s at sf0.1 locally, and the avoided
      // second scan grows with the corpus)
      val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      bm25PerDoc(s, d)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        // EXPLICIT empty-page contract: with fewer than
        // 20 scored docs there is no rank-20 cursor — the sentinel
        // (-inf, MinValue) makes the keyset predicate false for every row
        // by construction instead of by NULL-propagation
        .withColumn("c_score", coalesce(
          max(when(col("rank") === 20, col("score"))).over(all),
          lit(Double.NegativeInfinity)))
        .withColumn("c_doc", coalesce(
          max(when(col("rank") === 20, col("doc_id"))).over(all),
          lit(Long.MinValue)))
        .filter(col("score") < col("c_score") ||
          (col("score") === col("c_score") && col("doc_id") > col("c_doc")))
        .withColumn("page_rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("page_rank") <= 20)
        .select(col("page_rank"), col("doc_id"), col("n_terms_hit"), col("score"))
    }),

    // ES search `highlight`: each top-20 BM25 hit returns a fragment —
    // ±3 tokens around the FIRST occurrence of any query term, the match
    // wrapped in <em> tags (fragment_size ≈ 7 tokens, number_of_fragments
    // 1). Pure array HOFs on the 20 broadcast-joined hits: the corpus
    // never re-scans for highlighting, matching ES's hit-phase cost model.
    "q82_highlight" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val hits = bm25PerDoc(s, d)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("rank"), col("doc_id"))
      val qarr = rankedVocab(s, d)
        .filter(col("r") >= QLo && col("r") <= QHi)
        .groupBy().agg(sort_array(collect_list(col("term"))).as("qterms"))
      highlightOver(docsAnalyzed(s, d), hits, qarr)
    }),

    // ES `percolate`: REVERSE search — a registry of stored queries, each
    // incoming doc reports which stored queries match it (the alerting
    // shape: OpenNMS-style rules over arriving flows/documents). Stored
    // queries here are 8 term+length predicates derived deterministically
    // from the corpus; the tiny registry broadcasts, docs stream by once.
    "q77_percolate" -> ((s: SparkSession, d: String) =>
      docsAnalyzed(s, d)
        .crossJoin(broadcast(percolateRules(s, d)))
        .filter(array_contains(col("toks"), col("term")) && size(col("toks")) >= col("min_toks"))
        .groupBy(col("rule_id"), col("term"), col("min_toks"))
        .agg(count(lit(1)).as("n_matches"), min(col("doc_id")).as("first_doc"))),

    // The percolator's REGISTRY-SCALE form: ES percolation doesn't fan every
    // doc across every stored query — it indexes the queries' terms and
    // candidate-matches sub-linearly. Same here: the doc token stream
    // (distinct per doc, so each (doc, rule) pair surfaces at most once)
    // equi-joins the broadcast rule-TERM table on the term key — only tokens
    // that hit a rule produce rows, vs q77's rules×docs row multiplication —
    // then the min_toks length predicate verifies candidates. Shares q77's
    // oracle: a hash match proves the inverted form IS the reverse search.
    // At a 10k-rule registry this is the shape that survives; q77 stays as
    // the contract-fidelity form.
    "q77b_percolate_inverted" -> ((s: SparkSession, d: String) =>
      percolateInvertedBatch(s, d, percolateRules(s, d))),

    // The always-on percolator: the same rule registry matched against the
    // DOCUMENT STREAM (alert-at-ingest), complete-mode running counts.
    // Shares q77's oracle — a hash match proves the streaming percolation
    // equals the batch reverse search. Registry-scale shape (q77b's, not
    // q77's): each micro-batch explodes the doc's DISTINCT tokens and
    // equi-joins the broadcast rule-term table — rows surface only for
    // tokens that hit a rule, so a 10k-rule registry costs O(matching
    // tokens), not rules×docs row fan-out. The transform is stateless, so
    // it drops straight into the complete-mode agg; PlanSpec gates the
    // plan against BroadcastNestedLoopJoin regressions. Its state is
    // rule-count-sized (8 rules), kept in the session's state stores
    // (GraftSession.StatePartitions, the count at which no st* key is
    // slower than at 8): at 32 stores the commits summed about 17 s a batch
    // for those 8 rows; a run took 0.84 s at 8 stores and 0.64 s at 2.
    "st14_percolate_stream" -> ((s: SparkSession, d: String) =>
      Streams.run(st14StreamAgg(s, d), "st14_mem", "complete").frame),

    // REAL BPE (Sennrich 2016): merges learned by distributed pair-count
    // rounds over the vocab-sized word-frequency table (train-once model,
    // [[graft.operators.Bpe]]), then documents encoded with the learned
    // merge priorities. Oracle-backed: `bpeSql` unrolls all
    // 40 training rounds as DuckDB CTEs over unit-delimited segmentation
    // strings (replace() == mergeOnce, see the oracle's scaladoc), so DuckDB
    // RELEARNS the identical merge table and replays the encode; BpeSpec
    // additionally pins a hand-computed merge sequence, partition-layout
    // determinism, and the encode-equals-final-training-segmentation
    // identity the oracle's encode phase rests on.
    "q66_bpe_tokenize" -> ((s: SparkSession, d: String) => {
      val model = graft.operators.Bpe.model(s, d, nMerges = 40)
      val sub = graft.operators.Bpe.tokenize(docsAnalyzed(s, d), model)
      docsAnalyzed(s, d).select(col("doc_id"), col("source"))
        .join(sub, "doc_id")
        .select(col("source"), explode(col("subwords")).as("sw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_subwords"), countDistinct(col("sw")).as("n_distinct_subwords"))
    }),

    // Tokenizer EVALUATION over the trained BPE model — the metrics a
    // tokenizer ships with: per-source fertility (subwords per word; the
    // Ács/XLM-R metric — lower is better for downstream token budgets) and
    // compression (chars per subword). Reuses the train-once model and the
    // q66 oracle's relearned merge table (shared CTE prefix); all counts
    // are exact integers, the two ratios one deterministic division each.
    "q66b_bpe_fertility" -> ((s: SparkSession, d: String) => {
      import graft.functions.detsum
      val model = graft.operators.Bpe.model(s, d, nMerges = 40)
      val sub = graft.operators.Bpe.tokenize(docsAnalyzed(s, d), model)
      docsAnalyzed(s, d).select(col("doc_id"), col("source"), col("toks"))
        .join(sub, "doc_id")
        .groupBy(col("source"))
        .agg(
          sum(size(filter(col("toks"), t => length(t) > 0))).cast("long").as("n_words"),
          sum(size(col("subwords"))).cast("long").as("n_subwords"),
          sum(length(concat_ws("", col("toks")))).cast("long").as("n_chars"))
        .select(col("source"), col("n_words"), col("n_subwords"), col("n_chars"),
          detsum.roundDet(col("n_subwords").cast("double") / col("n_words").cast("double"), 6).as("fertility"),
          detsum.roundDet(col("n_chars").cast("double") / col("n_subwords").cast("double"), 6).as("chars_per_subword"))
    }),

    // REAL unigram-LM tokenizer (the SentencePiece family, Kudo 2018) —
    // the SECOND trainer next to BPE, the pair modern pipelines actually
    // choose between: seed-substring scores → hard-EM Viterbi round →
    // usage-count prune to KeepK + singles (coverage) → smoothed re-score
    // → final Viterbi encode ([[graft.operators.Unigram]]). The oracle
    // RELEARNS the whole model in DuckDB (the q66 recipe): detlog-exact
    // piece scores, both Viterbi rounds unrolled as per-position CTEs with
    // the identical (score desc, shorter-piece-first) tiebreak, the prune
    // replayed — so a hash match proves training AND encode. Output shape
    // = q66's per-source subword aggregate.
    "q114_unigram_tokenize" -> ((s: SparkSession, d: String) => {
      val seg = graft.operators.Unigram.segmentations(s, d)
      docsAnalyzed(s, d)
        .select(col("source"), explode(filter(col("toks"), t => length(t) > 0)).as("word"))
        .join(broadcast(seg.select(col("word"), col("pieces"))), Seq("word"))
        .select(col("source"), explode(col("pieces")).as("sw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_subwords"), countDistinct(col("sw")).as("n_distinct_subwords"))
    }),

    // Tokenizer-quality metrics over the trained unigram model — q66b's
    // fertility/compression eval reused verbatim on the second trainer, so
    // the two tokenizers are comparable number-for-number (the decision a
    // pipeline actually makes between them).
    "q114b_unigram_fertility" -> ((s: SparkSession, d: String) => {
      import graft.functions.detsum
      val seg = graft.operators.Unigram.segmentations(s, d)
      docsAnalyzed(s, d)
        .select(col("source"), explode(filter(col("toks"), t => length(t) > 0)).as("word"))
        .join(broadcast(seg.select(col("word"), col("pieces"))), Seq("word"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(size(col("pieces"))).cast("long").as("n_subwords"),
          sum(length(col("word"))).cast("long").as("n_chars"))
        .select(col("source"), col("n_words"), col("n_subwords"), col("n_chars"),
          detsum.roundDet(col("n_subwords").cast("double") / col("n_words").cast("double"), 6).as("fertility"),
          detsum.roundDet(col("n_chars").cast("double") / col("n_subwords").cast("double"), 6).as("chars_per_subword"))
    }),

    // REAL WordPiece tokenizer (Schuster & Nakajima 2012; the BERT
    // tokenizer, Devlin 2019) — the THIRD trainer family, completing the
    // trio a modern pipeline chooses between (BPE q66 merge-by-count,
    // unigram q114 prune-by-likelihood, WordPiece merge-by-LIKELIHOOD):
    // the BPE loop with argmax count(l,r)/(count(l)·count(r)) — one
    // correctly-rounded IEEE division of exact longs, bit-identical across
    // engines — `##` continuation markers, and greedy longest-match-first
    // (MaxMatch) ENCODE against the final vocabulary (the BPE/WordPiece
    // asymmetry: encode is not merge replay). The oracle RELEARNS the
    // model in DuckDB: all 40 likelihood-argmax rounds unrolled (pair
    // counts + symbol counts + exact-division winner per round), then the
    // MaxMatch encode unrolled as per-position CTEs picking the longest
    // matching vocab piece. Output shape = q66's per-source aggregate, so
    // the three trainers are comparable number-for-number.
    "q120_wordpiece_tokenize" -> ((s: SparkSession, d: String) => {
      val m = graft.operators.WordPiece.model(s, d, nMerges = 40)
      val sub = graft.operators.WordPiece.tokenize(docsAnalyzed(s, d), m)
      docsAnalyzed(s, d).select(col("doc_id"), col("source"))
        .join(sub, "doc_id")
        .select(col("source"), explode(col("subwords")).as("sw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_subwords"), countDistinct(col("sw")).as("n_distinct_subwords"))
    }),

    // q66b's fertility/compression eval reused verbatim on the WordPiece
    // model — the third column of the tokenizer-comparison table.
    "q120b_wordpiece_fertility" -> ((s: SparkSession, d: String) => {
      import graft.functions.detsum
      val m = graft.operators.WordPiece.model(s, d, nMerges = 40)
      val sub = graft.operators.WordPiece.tokenize(docsAnalyzed(s, d), m)
      docsAnalyzed(s, d).select(col("doc_id"), col("source"), col("toks"))
        .join(sub, "doc_id")
        .groupBy(col("source"))
        .agg(
          sum(size(filter(col("toks"), t => length(t) > 0))).cast("long").as("n_words"),
          sum(size(col("subwords"))).cast("long").as("n_subwords"),
          sum(length(concat_ws("", col("toks")))).cast("long").as("n_chars"))
        .select(col("source"), col("n_words"), col("n_subwords"), col("n_chars"),
          detsum.roundDet(col("n_subwords").cast("double") / col("n_words").cast("double"), 6).as("fertility"),
          detsum.roundDet(col("n_chars").cast("double") / col("n_subwords").cast("double"), 6).as("chars_per_subword"))
    }),

    // ES `more_like_this`: rank documents by similarity to a "like" doc.
    // Query terms = the like-doc's 25 rarest terms by idf (ES
    // max_query_terms); candidates score by the idf sum of shared terms.
    // Scale shape: the ≤25-term query set broadcasts, the corpus term
    // stream joins it (never doc×doc); ln at round-6 follows the q53
    // precedent (hash-stable across engines for these magnitudes).
    "q65_more_like_this" -> ((s: SparkSession, d: String) => {
      val t = docsAnalyzed(s, d).select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
      val dfreq = t.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docsAnalyzed(s, d).agg(count(lit(1)).as("n_docs"))
      // broadcast the LIKE-DOC's term set (one doc's vocabulary), stream the
      // corpus-wide dfreq past it — never broadcast the full vocab
      val likeTerms = dfreq
        .join(broadcast(t.filter(col("doc_id") === 0).select(col("term"))), Seq("term"))
        .crossJoin(broadcast(nDocs))
        // floor-form round-6 (not native round): a .5-boundary idf would
        // round differently across engines and flip the top-25/top-10 cuts
        .withColumn("w", floor(log(col("n_docs") / col("df")) * lit(1e6) + lit(0.5)) / lit(1e6))
        .orderBy(col("w").desc, col("term").asc)
        .limit(25)
        .select(col("term"), col("w"))
      t.filter(col("doc_id") =!= 0)
        .join(broadcast(likeTerms), Seq("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"), graft.functions.detsum.sumDet(col("w"), 9).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
    }),

    "q53_tfidf_top_terms" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val terms = docsAnalyzed(s, d)
        .select(col("doc_id"), explode(col("toks")).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = terms.distinct().groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nDocs = docsAnalyzed(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)
      // df_ is vocabulary-sized (O(10^8) rows over a 100 TB corpus) — never
      // hint-broadcast it. The tf⋈df join stays term-keyed; AQE may still
      // choose a broadcast at runtime when the measured size is small.
      // broadcast(nDocs) stays: that side is a one-row scalar.
      tf.join(df_, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term"), col("score"))
    }),

    // training-mix planning: given target mix weights and a token budget,
    // compute per-source sampling rates / epoch counts — the arithmetic a
    // data-mixing pipeline runs before materializing an epoch. One narrow
    // aggregate (per-source token totals) then pure scalar math.
    "q57_token_budget_mix" -> ((s: SparkSession, d: String) => {
      val budget = 1000000L
      val weight = // target mix share per source
        when(col("source") === "src0", 0.4)
          .when(col("source") === "src1", 0.3)
          .when(col("source") === "src2", 0.2)
          .otherwise(0.1)
      docsAnalyzed(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(size(col("toks"))).as("total_tokens"))
        .withColumn("weight", weight)
        .withColumn("alloc_tokens", round(col("weight") * budget).cast("long"))
        .withColumn("sample_rate",
          round(least(lit(1.0), col("alloc_tokens") / col("total_tokens")), 6))
        .withColumn("epochs",
          ceil(col("alloc_tokens") / col("total_tokens")).cast("long"))
    }),

    // temperature-scaled source mixing (the unigram-LM α=0.5 rebalance):
    // p_i ∝ share_i^α lifts low-resource sources. α=0.5 is computed as
    // sqrt() — correctly-rounded IEEE in both engines, where a generic
    // pow() would not be — and the (tiny) normalizer sums via detsum.
    "q57b_temperature_mix" -> ((s: SparkSession, d: String) => {
      val g = docsAnalyzed(s, d)
        .groupBy(col("source"))
        .agg(sum(size(col("toks"))).as("total_tokens"))
      val tot = g.agg(sum(col("total_tokens")).as("corpus_tokens"))
      val tw = g.crossJoin(broadcast(tot))
        .withColumn("nat_share", col("total_tokens") / col("corpus_tokens"))
        .withColumn("t_w", sqrt(col("nat_share")))
      val z = tw.agg(graft.functions.detsum.sumDet(col("t_w"), 12).as("z"))
      tw.crossJoin(broadcast(z))
        .select(
          col("source"), col("total_tokens"),
          round(col("nat_share"), 6).as("nat_share"),
          round(col("t_w") / col("z"), 6).as("temp_share"),
          round((col("t_w") / col("z")) / col("nat_share"), 6).as("boost"))
    }),

    // the Gopher quality-rule battery, each rule a visible boolean: word
    // count bounds, mean word length bounds, stopword presence; `kept` is
    // their conjunction. Integer/ratio arithmetic only.
    "q41b_gopher_rules" -> ((s: SparkSession, d: String) =>
      docsAnalyzed(s, d)
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("sum_tok_len",
          (length(text.norm(col("text"))) - (col("n_tok") - 1)).cast("long"))
        .withColumn("mean_word_len", round(col("sum_tok_len") / col("n_tok"), 6))
        .withColumn("n_stop", text.stopwordCount(col("toks"), stopEn).cast("long"))
        .withColumn("r_word_count", col("n_tok") >= 20 && col("n_tok") <= 100000)
        .withColumn("r_word_len", col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0)
        .withColumn("r_stopwords", col("n_stop") >= 1)
        .withColumn("kept", col("r_word_count") && col("r_word_len") && col("r_stopwords"))
        .select(col("doc_id"), col("n_tok"), col("mean_word_len"), col("n_stop"),
          col("r_word_count"), col("r_word_len"), col("r_stopwords"), col("kept"))),

    // C4 heuristic cleanup (Raffel et al. 2020, §2.2) — the THIRD named
    // rule-filter stack next to q41 (generic quality) and q41b (Gopher):
    // line-level retention (keep lines ending in terminal punctuation with
    // ≥5 words), page-level drops (any "lorem ipsum", any '{', fewer than
    // 3 retained sentences). The corpus has no natural lines/punctuation,
    // so the page structure is DERIVED (8-word lines) and the decision
    // surface PLANTED deterministically (the q55 PII discipline — both
    // engines construct it identically, then genuinely filter it):
    // terminal '.' on lines where (doc_id+idx)%3 ≠ 2, ' lorem ipsum' into
    // line 0 of every 17th doc, ' {' into line 1 of every 19th. The md5 of
    // the retained-line text proves the line surgery byte-identical.
    // Scale shape: ZERO Generate and no grouping shuffle — lines are built
    // and judged entirely inside the row with array HOFs (the q96 lesson's
    // positive form: per-doc structure never leaves the row), so the plan
    // is one corpus scan + projection at any corpus size (the only
    // exchange is the scan-spreading repartition for the single-file
    // local layout — a multi-row-group parquet keeps it free).
    "q121_c4_filters" -> ((s: SparkSession, d: String) => {
      val L = 8
      val lined = docsAnalyzed(s, d)
        .withColumn("n_lines", ceil(size(col("toks")) / lit(L.toDouble)).cast("int"))
        .withColumn("lines",
          transform(sequence(lit(0), col("n_lines") - 1), i => concat(
            array_join(slice(col("toks"), i * L + 1, lit(L)), " "),
            when(col("doc_id") % 17 === 0 && i === 0, lit(" lorem ipsum")).otherwise(lit("")),
            when(col("doc_id") % 19 === 0 && i === least(lit(1), col("n_lines") - 1), lit(" {"))
              .otherwise(lit("")),
            when((col("doc_id") + i) % 3 =!= 2, lit(".")).otherwise(lit("")))))
        .withColumn("kept_lines",
          filter(col("lines"), l => l.endsWith(".") && size(split(l, " ")) >= 5))
      lined
        .withColumn("n_kept_lines", size(col("kept_lines")).cast("long"))
        .withColumn("has_lorem", exists(col("lines"), _.contains("lorem ipsum")))
        .withColumn("has_brace", exists(col("lines"), _.contains("{")))
        .withColumn("kept",
          !col("has_lorem") && !col("has_brace") && col("n_kept_lines") >= 3)
        .select(
          col("doc_id"),
          col("n_lines").cast("long").as("n_lines"),
          col("n_kept_lines"),
          aggregate(col("kept_lines"), lit(0L), (acc, l) => acc + size(split(l, " ")))
            .as("n_kept_words"),
          col("has_lorem"), col("has_brace"), col("kept"),
          when(col("kept"),
            md5(array_join(col("kept_lines"), "\n").cast("binary"))).as("clean_md5"))
    }),

    // benchmark-overlap decontamination: docs sharing >= 3 distinct 3-gram
    // shingles with the (small) benchmark set are flagged for removal. The
    // distinct benchmark shingle set is broadcast, so the corpus streams
    // once and never shuffles — the benchmark side stays a few MB at 100 TB.
    "q54_decontaminate" -> ((s: SparkSession, d: String) => {
      val sh = docsAnalyzed(s, d)
        .select(col("doc_id"), array_distinct(text.shingles(col("toks"), 3)).as("sh"))
      val bench = sh.filter(col("doc_id") % 97 === 0)
        .select(explode(col("sh")).as("s")).distinct()
        .withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .join(broadcast(bench), Seq("s"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("hit")).as("n_shared"))
        .withColumn("contaminated", col("n_shared") >= 3)
    }),

    // PII extraction + redaction (emails, IPv4) — the corpus has no natural
    // PII, so deterministic PII is planted in-query (same construction in
    // both engines, like the derived flow ranges), then genuinely found,
    // counted, and redacted; the md5 of the redacted text proves the
    // replacement is byte-identical
    "q55_pii_redact" -> ((s: SparkSession, d: String) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      Tables(s, d, "documents")
        .repartition(col("doc_id")) // spread the regex work
        .withColumn("aug", concat(
          col("text"), lit(" Contact u"), col("doc_id").cast("string"),
          lit("@example.com or 10.0."), pmod(col("doc_id"), lit(200)).cast("string"),
          lit(".7 now.")))
        .withColumn("n_emails", size(regexp_extract_all(col("aug"), lit(emailRe), lit(0))).cast("long"))
        .withColumn("n_ips", size(regexp_extract_all(col("aug"), lit(ipRe), lit(0))).cast("long"))
        .withColumn("redacted",
          regexp_replace(regexp_replace(col("aug"), emailRe, "[EMAIL]"), ipRe, "[IP]"))
        .select(col("doc_id"), col("n_emails"), col("n_ips"),
          length(col("redacted")).cast("long").as("redacted_len"),
          md5(col("redacted").cast("binary")).as("redacted_fp"))
    }),

    // Gopher-style repetition signals: duplicate-token and duplicate-bigram
    // ratios — the cheap per-doc quality gate that catches template spam
    "q56_repetition_score" -> ((s: SparkSession, d: String) =>
      docsAnalyzed(s, d)
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("bg", text.shingles(col("toks"), 2))
        .withColumn("n_2g", size(col("bg")).cast("long"))
        .withColumn("n_2g_uniq", size(array_distinct(col("bg"))).cast("long"))
        .filter(col("n_tok") >= 2)
        .select(col("doc_id"), col("n_tok"), col("n_uniq"),
          round(lit(1.0) - col("n_uniq") / col("n_tok"), 6).as("tok_rep_ratio"),
          round(lit(1.0) - col("n_2g_uniq") / col("n_2g"), 6).as("bigram_rep_ratio"))),

    // deterministic stratified sampling: downsample over-represented sources
    // by a content-hash threshold — reproducible across runs/engines/cluster
    // sizes (no RNG), the standard trick for rebalancing a training mix
    "q49_stratified_sample" -> ((s: SparkSession, d: String) => {
      val keyed = Tables(s, d, "documents")
        .withColumn("hk", substring(md5(text.norm(col("text")).cast("binary")), 1, 2))
        .withColumn(
          "keep",
          when(col("source") === "src0", col("hk") < "40") // ~25%
            .when(col("source") === "src1", col("hk") < "80") // ~50%
            .otherwise(lit(true)))
      keyed.filter(col("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("first_doc"))
    }),

    // EXTENDED CAPSTONE: q48 plus the later stages — repetition gate,
    // benchmark decontamination (raw-corpus benchmark shingles, broadcast),
    // benchmark holdout — in the realistic order: quality/lang/repetition
    // filters -> drop benchmark docs -> drop contaminated docs -> exact
    // dedup -> near-dup removal -> per-source corpus stats. One DAG, every
    // stage the standalone operator, fully oracle-checked.
    "q48b_pipeline_full" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val scored = docsAnalyzed(s, d)
        .withColumn("n_tok", size(col("toks")))
        .withColumn("n_uniq", size(array_distinct(col("toks"))))
        .withColumn("txt_len", length(col("text")))
        .withColumn("punct_cnt", length(regexp_replace(col("text"), "[^.!?,;:]", "")))
        .withColumn("stop_cnt", text.stopwordCount(col("toks"), stopEn))
        .withColumn("stop_ratio", col("stop_cnt") / col("n_tok"))
        .withColumn("punct_ratio", col("punct_cnt") / col("txt_len"))
        .withColumn(
          "quality",
          round(least(lit(1.0), col("n_tok") / lit(100.0)) * 0.5 + col("stop_ratio") * 0.3 - col("punct_ratio") * 0.2, 6))
        .withColumn("s_en", text.stopwordCount(col("toks"), stopEn))
      val kept = scored
        .filter(col("quality") >= 0.25 && col("s_en") > 0)
        .filter(col("n_tok") >= 2 && lit(1.0) - col("n_uniq") / col("n_tok") <= 0.6)
        .filter(col("doc_id") % 97 =!= 0) // benchmark rows are eval data, never train
      val benchSh = docsAnalyzed(s, d).filter(col("doc_id") % 97 === 0)
        .select(explode(array_distinct(text.shingles(col("toks"), 3))).as("s")).distinct()
      val contaminated = kept
        .select(col("doc_id"), explode(array_distinct(text.shingles(col("toks"), 3))).as("s"))
        .join(broadcast(benchSh), Seq("s"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .select(col("doc_id").as("bad_id"))
      val decon = kept.join(contaminated, kept("doc_id") === col("bad_id"), "left_anti")
      val exact = decon
        .withColumn("fp", md5(text.norm(col("text")).cast("binary")))
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("keep_id"))
      val sh2 = exact
        .select(col("doc_id"), array_distinct(text.shingles(col("toks"), 3)).as("sh"))
        .withColumn("n", size(col("sh")))
      val removed = graft.operators.NgramJaccard.sharedCounts(sh2)
        .filter(col("shared") / (col("n_a") + col("n_b") - col("shared")) >= 0.5)
        .select(col("doc_b")).distinct()
      exact
        .join(removed, exact("doc_id") === removed("doc_b"), "left_anti")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          graft.functions.detsum.sumDet(col("quality"), 6).as("sum_quality"))
    }),

    // CAPSTONE: the full pretraining-data pipeline in one DAG —
    // quality score -> language filter -> exact dedup -> near-dup removal
    // (3-gram Jaccard >= 0.5, keep lower id) -> per-source corpus stats.
    // Every stage is the operator used by its standalone query.
    "q48_pipeline_end2end" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val scored = docsAnalyzed(s, d)
        .withColumn("n_tok", size(col("toks")))
        .withColumn("txt_len", length(col("text")))
        .withColumn("punct_cnt", length(regexp_replace(col("text"), "[^.!?,;:]", "")))
        .withColumn("stop_cnt", text.stopwordCount(col("toks"), stopEn))
        .withColumn("stop_ratio", col("stop_cnt") / col("n_tok"))
        .withColumn("punct_ratio", col("punct_cnt") / col("txt_len"))
        .withColumn(
          "quality",
          round(least(lit(1.0), col("n_tok") / lit(100.0)) * 0.5 + col("stop_ratio") * 0.3 - col("punct_ratio") * 0.2, 6))
        .withColumn("s_en", text.stopwordCount(col("toks"), stopEn))
      val kept = scored.filter(col("quality") >= 0.25 && col("s_en") > 0)
      val exact = kept
        .withColumn("fp", md5(text.norm(col("text")).cast("binary")))
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("keep_id"))
      val sh = exact
        .select(col("doc_id"), array_distinct(text.shingles(col("toks"), 3)).as("sh"))
        .withColumn("n", size(col("sh")))
      val removed = graft.operators.NgramJaccard.sharedCounts(sh)
        .filter(col("shared") / (col("n_a") + col("n_b") - col("shared")) >= 0.5)
        .select(col("doc_b")).distinct()
      exact
        .join(removed, exact("doc_id") === removed("doc_b"), "left_anti")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          graft.functions.detsum.sumDet(col("quality"), 6).as("sum_quality"))
    }))

  /** q41's oracle — shared verbatim by st13 (the streaming map must be
    * row-identical to the batch operator). */
  /** q41's full oracle SELECT — private[graft] so q38c's keep-best oracle
    * can embed it as a scoped subquery (one quality formula per side). */
  private[graft] val q41Sql =
    s"""WITH $docsCte,
       |m AS (
       |  SELECT doc_id, len(toks) AS n_tok, length(text) AS txt_len,
       |         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS punct_cnt,
       |         ${stopSql(stopEn)} AS stop_cnt
       |  FROM docs
       |),
       |r AS (
       |  SELECT doc_id, n_tok,
       |         stop_cnt / n_tok AS stop_ratio,
       |         punct_cnt / txt_len AS punct_ratio
       |  FROM m
       |)
       |SELECT doc_id, n_tok, stop_ratio, punct_ratio,
       |       round(LEAST(1.0, n_tok / 100.0) * 0.5 + stop_ratio * 0.3 - punct_ratio * 0.2, 6) AS quality
       |FROM r""".stripMargin

  /** q66's DuckDB oracle: replay the WHOLE `nMerges`-round BPE merge
    * training (the q10g/VecOracle unrolled-round recipe applied to
    * [[graft.operators.Bpe.train]]), then aggregate the encode.
    *
    * Segmentations live as unit-delimited strings — every symbol wrapped
    * chr(1)…chr(2) — so one non-overlapping left-to-right `replace()` of
    * `(1)l(2)(1)r(2) → (1)lr(2)` IS `Bpe.mergeOnce`'s single scan: the
    * delimiters anchor symbol boundaries (no mid-symbol match), and a
    * replacement can never create a new occurrence of the SAME pair (the
    * fused symbol is strictly longer than l and r), so one pass reaches the
    * scan's fixpoint. Each round: adjacent-pair counts from the split
    * segmentation, the argmax with Bpe's exact tiebreak (cnt desc, l asc,
    * r asc) gated on minFreq=2 (`Bpe.train`'s default), and a LEFT JOIN
    * carry-forward so the early-stop rounds leave segmentations unchanged —
    * exactly `done=true`.
    *
    * The encode phase reuses the training result: the final round's
    * word→syms table IS the tokenizer output, so the oracle just joins the
    * doc token stream against it. That identity (priority-order encodeWord
    * == rank-order training segmentation) rests on "a merge learned at
    * rank k never recreates a pair of rank < k": every pair involving a
    * fused symbol is first countable only after that symbol exists, so its
    * rank is later. The argument has one theoretical hole — the SAME
    * symbol string can arise from two different merge paths (e.g. 'abc'
    * via (ab,c) at rank j and via (a,bc) at rank k>j), after which a pair
    * learned against the rank-j symbol could newly apply to rank-k
    * occurrences, where priority encode would fire it but the rank-order
    * replay would not. BpeSpec therefore pins the identity EXPLICITLY over
    * the full vocab of the shipped corpora (sf0.001 and sf0.01) rather
    * than trusting the argument alone; a corpus that ever trips the corner
    * case fails that spec loudly instead of producing a silent oracle
    * mismatch. (Delimiter safety: the corpus vocabulary is [a-z0-9], no
    * word can contain chr(1)/chr(2).) */
  private def bpeCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """words AS MATERIALIZED (
             |  SELECT word, count(*) AS freq
             |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents)
             |  WHERE length(word) > 0 GROUP BY word
             |),
             |r0 AS MATERIALIZED (
             |  SELECT word, freq, regexp_replace(word, '(.)', chr(1)||'\1'||chr(2), 'g') AS seg FROM words
             |),
             |""".stripMargin
    for (i <- 0 until nMerges) {
      sb ++= s"""p$i AS MATERIALIZED (
                |  SELECT syms[j] AS l, syms[j+1] AS rr, sum(freq) AS cnt
                |  FROM (SELECT freq, string_split(substr(seg, 2, length(seg)-2), chr(2)||chr(1)) AS syms FROM r$i),
                |       unnest(generate_series(1, len(syms)-1)) AS t(j)
                |  GROUP BY 1, 2
                |),
                |w$i AS MATERIALIZED (SELECT l, rr FROM p$i WHERE cnt >= 2 ORDER BY cnt DESC, l ASC, rr ASC LIMIT 1),
                |r${i + 1} AS MATERIALIZED (
                |  SELECT word, freq,
                |    CASE WHEN w.l IS NULL THEN seg
                |         ELSE replace(seg, chr(1)||w.l||chr(2)||chr(1)||w.rr||chr(2), chr(1)||w.l||w.rr||chr(2)) END AS seg
                |  FROM r$i LEFT JOIN w$i w ON TRUE
                |),
                |""".stripMargin
    }
    sb ++= s"""bpefinal AS MATERIALIZED (
              |  SELECT word, string_split(substr(seg, 2, length(seg)-2), chr(2)||chr(1)) AS syms FROM r$nMerges
              |),
              |docw AS (SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents)""".stripMargin
    sb.result()
  }

  /** One unrolled Viterbi pass over `words` for the unigram oracle: at each
    * end position J the candidates are the scored pieces ending there
    * (length 1..MaxPieceLen), ranked (accumulated score DESC, piece length
    * ASC) — the IDENTICAL strict-improvement tiebreak as
    * [[graft.operators.Unigram.viterbi]]'s l=1.. ascending scan. Each step
    * UNION-accumulates so position J can read positions J−4..J−1; the
    * final CTE `<tag>seg` holds each word's chr(1)-delimited Viterbi
    * segmentation. The DP is exact-replayable because b accumulates
    * left-to-right in both engines (same association order) over
    * detlog-exact scores. */
  private def unigramViterbiCtes(tag: String, scoreCte: String): String = {
    import graft.operators.Unigram.{MaxPieceLen, MaxWordLen}
    val sb = new StringBuilder
    sb ++= s"${tag}0 AS (SELECT word, freq, 0 AS j, CAST(0.0 AS DOUBLE) AS b, '' AS seg FROM words),\n"
    for (j <- 1 to MaxWordLen) {
      sb ++= s"""$tag$j AS MATERIALIZED (
                |  SELECT * FROM $tag${j - 1}
                |  UNION ALL
                |  SELECT word, freq, $j AS j, b, seg FROM (
                |    SELECT p.word, p.freq, p.b + s.score AS b,
                |           p.seg || chr(1) || substr(p.word, p.j + 1, $j - p.j) AS seg,
                |           ROW_NUMBER() OVER (PARTITION BY p.word
                |             ORDER BY p.b + s.score DESC, ($j - p.j) ASC) AS rn
                |    FROM $tag${j - 1} p
                |    JOIN $scoreCte s ON s.piece = substr(p.word, p.j + 1, $j - p.j)
                |    WHERE p.j >= $j - $MaxPieceLen AND p.j < $j AND length(p.word) >= $j
                |  ) WHERE rn = 1
                |),
                |""".stripMargin
    }
    sb ++= s"${tag}seg AS MATERIALIZED (SELECT word, freq, seg FROM $tag$MaxWordLen WHERE j = length(word))"
    sb.result()
  }

  /** The q114 oracle's training replay — DuckDB RELEARNS the unigram model
    * end-to-end ([[graft.operators.Unigram]]'s loop op-for-op): seed
    * substring counts → detlog scores → Viterbi round 1 → usage prune
    * (top-KeepK multi + all singles, add-one smoothing) → re-score →
    * Viterbi round 2. Ends with `ufinal` (word → pieces) and `docw`. */
  private def unigramCtes: String = {
    import graft.functions.detlog
    import graft.operators.Unigram.{KeepK, MaxPieceLen, MaxWordLen}
    s"""words AS MATERIALIZED (
       |  SELECT word, count(*) AS freq
       |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents)
       |  WHERE length(word) > 0 GROUP BY word
       |),
       |sub AS MATERIALIZED (
       |  SELECT substr(word, st, l) AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM words,
       |       unnest(generate_series(1, $MaxPieceLen)) AS tl(l),
       |       unnest(generate_series(1, $MaxWordLen)) AS ts(st)
       |  WHERE st + l - 1 <= length(word)
       |  GROUP BY 1
       |),
       |${detlog.log2SqlCtes("sub", "cnt", "lgc", "usc")},
       |utot0 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM sub),
       |${detlog.log2SqlCtes("utot0", "tot", "lgtot", "ust")},
       |uscore1 AS MATERIALIZED (SELECT piece, lgc - lgtot AS score FROM uscfin, ustfin),
       |${unigramViterbiCtes("uv1", "uscore1")},
       |uuse AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(seg, chr(1))) AS piece, freq FROM uv1seg)
       |  WHERE length(piece) > 0 GROUP BY 1
       |),
       |umulti AS (SELECT piece, cnt FROM uuse WHERE length(piece) > 1
       |           ORDER BY cnt DESC, piece ASC LIMIT $KeepK),
       |usingle AS (
       |  SELECT s.piece, COALESCE(u.cnt, 0) AS cnt
       |  FROM (SELECT piece FROM sub WHERE length(piece) = 1) s
       |  LEFT JOIN uuse u ON s.piece = u.piece
       |),
       |ukept AS MATERIALIZED (
       |  SELECT piece, CAST(cnt + 1 AS BIGINT) AS cnt
       |  FROM (SELECT * FROM umulti UNION ALL SELECT * FROM usingle)
       |),
       |${detlog.log2SqlCtes("ukept", "cnt", "lgc2", "uk2")},
       |utot1 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM ukept),
       |${detlog.log2SqlCtes("utot1", "tot", "lgt2", "ukt")},
       |uscore2 AS MATERIALIZED (SELECT piece, lgc2 - lgt2 AS score FROM uk2fin, uktfin),
       |${unigramViterbiCtes("uv2", "uscore2")},
       |ufinal AS MATERIALIZED (
       |  SELECT word, string_split(substr(seg, 2), chr(1)) AS pieces FROM uv2seg
       |),
       |docw AS (SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents)""".stripMargin
  }

  /** q66's oracle: the training replay + the per-source subword aggregate. */
  private def bpeSql(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)}
       |SELECT source, count(*) AS n_subwords, count(DISTINCT sw) AS n_distinct_subwords
       |FROM (SELECT d.source, unnest(f.syms) AS sw FROM docw d JOIN bpefinal f ON d.word = f.word WHERE length(d.word) > 0)
       |GROUP BY source""".stripMargin

  /** q66b's oracle: tokenizer-quality metrics over the SAME relearned merge
    * table (shared CTE prefix — the bm25PerCtes discipline). */
  private def bpeFertilitySql(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |j AS (
       |  SELECT d.source, d.word, f.syms FROM docw d
       |  JOIN bpefinal f ON d.word = f.word WHERE length(d.word) > 0
       |),
       |agg AS (
       |  SELECT source, COUNT(*) AS n_words,
       |         CAST(SUM(len(syms)) AS BIGINT) AS n_subwords,
       |         CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |  FROM j GROUP BY source
       |)
       |SELECT source, n_words, n_subwords, n_chars,
       |       ${graft.functions.detsum.roundDetSql("CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)", 6)} AS fertility,
       |       ${graft.functions.detsum.roundDetSql("CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE)", 6)} AS chars_per_subword
       |FROM agg""".stripMargin

  /** The q120 oracle's training replay — DuckDB RELEARNS the WordPiece
    * model ([[graft.operators.WordPiece]] op-for-op): seed segmentation
    * with `##` continuation markers → nMerges likelihood-argmax rounds
    * (pair counts + symbol counts per round; winner = max
    * cnt/(c(l)·c(r)), ONE exact-long double division both engines round
    * identically, tiebreak (l, r) asc; fusing consumes the right `##`) →
    * vocabulary = seed symbols + merge products → greedy
    * longest-match-first ENCODE unrolled as per-position CTEs (at each
    * position the longest matching vocab piece wins — `##` pieces match
    * only off the word start; single-char seed coverage guarantees
    * progress, so [[graft.operators.Unigram.MaxWordLen]] steps suffice).
    * Ends with `wpfinal` (word → pieces) and `docw`. */
  private def wpCtes(nMerges: Int): String = {
    import graft.operators.Unigram.MaxWordLen
    val sb = new StringBuilder
    sb ++= """words AS MATERIALIZED (
             |  SELECT word, count(*) AS freq
             |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word FROM documents)
             |  WHERE length(word) > 0 GROUP BY word
             |),
             |wp0 AS MATERIALIZED (
             |  SELECT word, freq,
             |    chr(1)||substr(word,1,1)||chr(2) ||
             |    CASE WHEN length(word) > 1
             |         THEN regexp_replace(substr(word,2), '(.)', chr(1)||'##\1'||chr(2), 'g')
             |         ELSE '' END AS seg
             |  FROM words
             |),
             |""".stripMargin
    for (i <- 0 until nMerges) {
      sb ++= s"""wpp$i AS MATERIALIZED (
                |  SELECT syms[j] AS l, syms[j+1] AS rr, sum(freq) AS cnt
                |  FROM (SELECT freq, string_split(substr(seg, 2, length(seg)-2), chr(2)||chr(1)) AS syms FROM wp$i),
                |       unnest(generate_series(1, len(syms)-1)) AS t(j)
                |  GROUP BY 1, 2
                |),
                |wps$i AS MATERIALIZED (
                |  SELECT syms[j] AS sym, sum(freq) AS c
                |  FROM (SELECT freq, string_split(substr(seg, 2, length(seg)-2), chr(2)||chr(1)) AS syms FROM wp$i),
                |       unnest(generate_series(1, len(syms))) AS t(j)
                |  GROUP BY 1
                |),
                |wpw$i AS MATERIALIZED (
                |  SELECT p.l AS l, p.rr AS rr FROM wpp$i p
                |  JOIN wps$i sl ON sl.sym = p.l
                |  JOIN wps$i sr ON sr.sym = p.rr
                |  WHERE p.cnt >= 2
                |  ORDER BY CAST(p.cnt AS DOUBLE) / CAST(sl.c * sr.c AS DOUBLE) DESC, p.l ASC, p.rr ASC
                |  LIMIT 1
                |),
                |wp${i + 1} AS MATERIALIZED (
                |  SELECT word, freq,
                |    CASE WHEN w.l IS NULL THEN seg
                |         ELSE replace(seg, chr(1)||w.l||chr(2)||chr(1)||w.rr||chr(2), chr(1)||w.l||substr(w.rr,3)||chr(2)) END AS seg
                |  FROM wp$i LEFT JOIN wpw$i w ON TRUE
                |),
                |""".stripMargin
    }
    sb ++= s"""wpvocab AS MATERIALIZED (
              |  SELECT DISTINCT piece FROM (
              |    SELECT unnest(string_split(substr(seg, 2, length(seg)-2), chr(2)||chr(1))) AS piece FROM wp0
              |    ${(0 until nMerges).map(i => s"UNION ALL SELECT l||substr(rr,3) AS piece FROM wpw$i").mkString("\n    ")}
              |  )
              |),
              |wptab AS MATERIALIZED (
              |  SELECT piece, (piece LIKE '##%') AS cont,
              |         CASE WHEN piece LIKE '##%' THEN substr(piece,3) ELSE piece END AS txt
              |  FROM wpvocab
              |),
              |wpg0 AS (SELECT word, freq, 0 AS pos, '' AS seg FROM words),
              |""".stripMargin
    for (k <- 1 to MaxWordLen) {
      sb ++= s"""wpg$k AS MATERIALIZED (
                |  SELECT word, freq, pos, seg FROM wpg${k - 1} WHERE pos = length(word)
                |  UNION ALL
                |  SELECT word, freq, pos + length(txt) AS pos, seg || chr(1) || piece AS seg FROM (
                |    SELECT g.word, g.freq, g.pos, g.seg, p.piece, p.txt,
                |      ROW_NUMBER() OVER (PARTITION BY g.word ORDER BY length(p.txt) DESC) AS rn
                |    FROM wpg${k - 1} g JOIN wptab p
                |      ON p.cont = (g.pos > 0) AND substr(g.word, g.pos + 1, length(p.txt)) = p.txt
                |    WHERE g.pos < length(g.word)
                |  ) WHERE rn = 1
                |),
                |""".stripMargin
    }
    sb ++= s"""wpfinal AS MATERIALIZED (
              |  SELECT word, freq, string_split(substr(seg, 2), chr(1)) AS pieces
              |  FROM wpg$MaxWordLen WHERE pos = length(word)
              |),
              |docw AS (SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word FROM documents)""".stripMargin
    sb.result()
  }

  /** q120's oracle: the WordPiece training replay + per-source aggregate. */
  private def wpSql(nMerges: Int): String =
    s"""WITH ${wpCtes(nMerges)}
       |SELECT source, count(*) AS n_subwords, count(DISTINCT sw) AS n_distinct_subwords
       |FROM (SELECT d.source, unnest(f.pieces) AS sw FROM docw d JOIN wpfinal f ON d.word = f.word WHERE length(d.word) > 0)
       |GROUP BY source""".stripMargin

  /** q120b's oracle: tokenizer-quality metrics over the SAME relearned
    * WordPiece model (shared CTE prefix — the bpeFertilitySql shape). */
  private def wpFertilitySql(nMerges: Int): String =
    s"""WITH ${wpCtes(nMerges)},
       |wj AS (
       |  SELECT d.source, d.word, f.pieces FROM docw d
       |  JOIN wpfinal f ON d.word = f.word WHERE length(d.word) > 0
       |),
       |wagg AS (
       |  SELECT source, COUNT(*) AS n_words,
       |         CAST(SUM(len(pieces)) AS BIGINT) AS n_subwords,
       |         CAST(SUM(length(word)) AS BIGINT) AS n_chars
       |  FROM wj GROUP BY source
       |)
       |SELECT source, n_words, n_subwords, n_chars,
       |       ${graft.functions.detsum.roundDetSql("CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)", 6)} AS fertility,
       |       ${graft.functions.detsum.roundDetSql("CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE)", 6)} AS chars_per_subword
       |FROM wagg""".stripMargin

  /** Shared DuckDB CTE chain mirroring [[bm25PerDoc]] — ends with `per`
    * (per-doc n_terms_hit + detsum'd BM25 score); includes `docs` and
    * `rvocab`. ONE scoring definition: [[bm25CtesOver]] with the empty tag
    * over the body token stream, so the q76-family oracles and q86's
    * per-field instances can never drift apart on the formula. */
  private val bm25PerCtes =
    s"""$docsCte,
       |$rankedVocabCte,
       |${bm25CtesOver("", "SELECT doc_id, UNNEST(toks) AS tok FROM docs", bodyQdfSql)}""".stripMargin

  /** Shared DuckDB mirror of [[langPred]] — ends with `pred` (per-doc
    * lang/lang_pred/stopword counts); shared by the q40 and q40b oracles. */
  private val langPredCtes =
    s"""$docsCte,
       |scored AS (
       |  SELECT doc_id, lang,
       |         ${stopSql(stopEn)} AS s_en, ${stopSql(stopDe)} AS s_de,
       |         ${stopSql(stopEs)} AS s_es, ${stopSql(stopFr)} AS s_fr,
       |         length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS n_cjk,
       |         length(text) AS txt_len
       |  FROM docs
       |),
       |pred AS (
       |  SELECT doc_id, lang,
       |         CASE WHEN n_cjk * 4 > txt_len THEN 'zh'
       |              WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       |              WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
       |              WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       |              WHEN s_fr > 0 THEN 'fr'
       |              ELSE 'und' END AS lang_pred,
       |         s_en, s_de, s_es, s_fr
       |  FROM scored
       |)""".stripMargin

  /** The terms_set matching core — q79's oracle minus its top-20 window,
    * shared verbatim by st15 (the streaming alert set must equal the batch
    * match set). */
  private val termsSetSql =
    s"""WITH $docsCte,
       |$rankedVocabCte,
       |t AS (SELECT doc_id, source, UNNEST(list_distinct(toks)) AS tok FROM docs)
       |SELECT t.doc_id, t.source, COUNT(*) AS n_matched
       |FROM t JOIN rvocab ON t.tok = rvocab.term AND rvocab.r BETWEEN $QLo AND $QHi
       |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin

  /** q77's oracle — shared verbatim by st14 (streaming percolation must
    * equal the batch reverse search). */
  private val percolateSql =
    s"""WITH $docsCte,
       |$rankedVocabCte,
       |rules AS (
       |  SELECT CAST(r - 4 AS BIGINT) AS rule_id, term,
       |         CAST(40 + (r - 5) * 5 AS BIGINT) AS min_toks
       |  FROM rvocab WHERE r BETWEEN 5 AND 12
       |)
       |SELECT rule_id, term, min_toks, COUNT(*) AS n_matches, MIN(doc_id) AS first_doc
       |FROM docs, rules
       |WHERE list_contains(toks, term) AND len(toks) >= min_toks
       |GROUP BY 1, 2, 3""".stripMargin

  /** q76's oracle — shared verbatim by q171 (the parquet round-tripped
    * index must serve byte-identical scores). */
  private val bm25TopkOracle =
    s"""WITH $bm25PerCtes,
       |rr AS (
       |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM per
       |)
       |SELECT rank, doc_id, n_terms_hit, score
       |FROM rr WHERE rank <= 20""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q66_bpe_tokenize" -> bpeSql(40),
    "q114_unigram_tokenize" ->
      s"""WITH $unigramCtes
         |SELECT source, count(*) AS n_subwords, count(DISTINCT sw) AS n_distinct_subwords
         |FROM (SELECT d.source, unnest(f.pieces) AS sw FROM docw d
         |      JOIN ufinal f ON d.word = f.word WHERE length(d.word) > 0)
         |GROUP BY source""".stripMargin,
    "q114b_unigram_fertility" ->
      s"""WITH $unigramCtes,
         |uj AS (
         |  SELECT d.source, d.word, f.pieces FROM docw d
         |  JOIN ufinal f ON d.word = f.word WHERE length(d.word) > 0
         |),
         |uagg AS (
         |  SELECT source, COUNT(*) AS n_words,
         |         CAST(SUM(len(pieces)) AS BIGINT) AS n_subwords,
         |         CAST(SUM(length(word)) AS BIGINT) AS n_chars
         |  FROM uj GROUP BY source
         |)
         |SELECT source, n_words, n_subwords, n_chars,
         |       ${graft.functions.detsum.roundDetSql(
                   "CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE)", 6)} AS fertility,
         |       ${graft.functions.detsum.roundDetSql(
                   "CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE)", 6)} AS chars_per_subword
         |FROM uagg""".stripMargin,
    "q66b_bpe_fertility" -> bpeFertilitySql(40),
    "q120_wordpiece_tokenize" -> wpSql(40),
    "q120b_wordpiece_fertility" -> wpFertilitySql(40),
    "q121_c4_filters" ->
      s"""WITH $docsCte,
         |lined AS (
         |  SELECT doc_id, CAST(ceil(len(toks) / 8.0) AS INT) AS n_lines,
         |    list_transform(generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1), i ->
         |      array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8), ' ') ||
         |      CASE WHEN doc_id % 17 = 0 AND i = 0 THEN ' lorem ipsum' ELSE '' END ||
         |      CASE WHEN doc_id % 19 = 0 AND i = least(1, CAST(ceil(len(toks) / 8.0) AS INT) - 1)
         |           THEN ' {' ELSE '' END ||
         |      CASE WHEN (doc_id + i) % 3 <> 2 THEN '.' ELSE '' END) AS lines
         |  FROM docs
         |),
         |kl AS (
         |  SELECT doc_id, n_lines, lines,
         |    list_filter(lines, l -> l LIKE '%.' AND len(string_split(l, ' ')) >= 5) AS kept_lines
         |  FROM lined
         |),
         |feat AS (
         |  SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
         |    CAST(len(kept_lines) AS BIGINT) AS n_kept_lines,
         |    CAST(coalesce(list_sum(list_transform(kept_lines, l -> len(string_split(l, ' ')))), 0) AS BIGINT) AS n_kept_words,
         |    len(list_filter(lines, l -> l LIKE '%lorem ipsum%')) > 0 AS has_lorem,
         |    len(list_filter(lines, l -> contains(l, '{'))) > 0 AS has_brace,
         |    kept_lines
         |  FROM kl
         |)
         |SELECT doc_id, n_lines, n_kept_lines, n_kept_words, has_lorem, has_brace,
         |       NOT has_lorem AND NOT has_brace AND n_kept_lines >= 3 AS kept,
         |       CASE WHEN NOT has_lorem AND NOT has_brace AND n_kept_lines >= 3
         |            THEN md5(array_to_string(kept_lines, chr(10))) END AS clean_md5
         |FROM feat""".stripMargin,
    "q77_percolate" -> percolateSql,
    "q77b_percolate_inverted" -> percolateSql,
    "st14_percolate_stream" -> percolateSql,
    "st13_stream_quality" -> q41Sql,
    "q57b_temperature_mix" -> {
      val det = graft.functions.detsum.sumDetSql("t_w", 12)
      s"""WITH $docsCte,
         |g AS (SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS total_tokens FROM docs GROUP BY source),
         |tot AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens FROM g),
         |tw AS (
         |  SELECT source, total_tokens,
         |         total_tokens / CAST(corpus_tokens AS DOUBLE) AS nat_share,
         |         sqrt(total_tokens / CAST(corpus_tokens AS DOUBLE)) AS t_w
         |  FROM g, tot
         |),
         |z AS (SELECT $det AS z FROM tw)
         |SELECT source, total_tokens, round(nat_share, 6) AS nat_share,
         |       round(t_w / z, 6) AS temp_share,
         |       round((t_w / z) / nat_share, 6) AS boost
         |FROM tw, z""".stripMargin
    },
    "q41b_gopher_rules" ->
      s"""WITH $docsCte,
         |m AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |         CAST(length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) - (len(toks) - 1) AS BIGINT) AS sum_tok_len,
         |         CAST(${stopSql(stopEn)} AS BIGINT) AS n_stop
         |  FROM docs
         |),
         |r AS (
         |  SELECT doc_id, n_tok, round(sum_tok_len / n_tok, 6) AS mean_word_len, n_stop,
         |         n_tok >= 20 AND n_tok <= 100000 AS r_word_count,
         |         round(sum_tok_len / n_tok, 6) >= 2.0 AND round(sum_tok_len / n_tok, 6) <= 12.0 AS r_word_len,
         |         n_stop >= 1 AS r_stopwords
         |  FROM m
         |)
         |SELECT doc_id, n_tok, mean_word_len, n_stop, r_word_count, r_word_len, r_stopwords,
         |       r_word_count AND r_word_len AND r_stopwords AS kept
         |FROM r""".stripMargin,
    "q13c_string_stats" ->
      s"""WITH base AS (
         |  SELECT source, COUNT(*) AS n_docs,
         |         MIN(length(text)) AS min_len, MAX(length(text)) AS max_len,
         |         CAST(SUM(length(text)) AS BIGINT) AS sum_len
         |  FROM documents GROUP BY source
         |),
         |counts AS (
         |  SELECT source, ch, COUNT(*) AS c FROM (
         |    SELECT source, UNNEST(regexp_split_to_array(text, '')) AS ch FROM documents
         |  ) GROUP BY source, ch
         |),
         |${graft.functions.detlog.log2SqlCtes("counts", "c", "lg", "lgc")},
         |chars AS (
         |  SELECT source, COUNT(*) AS n_distinct_chars, CAST(SUM(c) AS BIGINT) AS n_chars,
         |         ${graft.functions.detsum.sumDetSql("c * lg", 9)} AS clg
         |  FROM lgcfin GROUP BY source
         |),
         |${graft.functions.detlog.log2SqlCtes("chars", "n_chars", "lgn", "lgn")}
         |SELECT base.source AS source, n_docs, min_len, max_len, sum_len,
         |       round(sum_len / n_docs, 6) AS avg_len, n_distinct_chars,
         |       round(lgn - clg / CAST(n_chars AS DOUBLE), 6) AS entropy
         |FROM base JOIN lgnfin ON base.source = lgnfin.source""".stripMargin,
    "q11g_significant_text" ->
      s"""WITH $docsCte,
         |t AS (SELECT source, UNNEST(list_distinct(toks)) AS tok FROM docs),
         |bg AS (SELECT tok, COUNT(*) AS bg_count FROM t GROUP BY tok),
         |fg AS (SELECT tok, COUNT(*) AS fg_count FROM t WHERE source = 'src0' GROUP BY tok),
         |tot AS (SELECT COUNT(*) AS bg_total,
         |               COUNT(*) FILTER (WHERE source = 'src0') AS fg_total FROM t)
         |SELECT fg.tok AS tok, fg_count, bg_count,
         |       round((fg_count / fg_total) / (bg_count / bg_total), 6) AS score
         |FROM fg JOIN bg ON fg.tok = bg.tok, tot
         |WHERE bg_count >= 5
         |ORDER BY score DESC, tok ASC LIMIT 15""".stripMargin,
    "q57_token_budget_mix" ->
      s"""WITH $docsCte,
         |g AS (
         |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
         |  FROM docs GROUP BY source
         |),
         |w AS (
         |  SELECT *, CASE source WHEN 'src0' THEN 0.4 WHEN 'src1' THEN 0.3
         |                        WHEN 'src2' THEN 0.2 ELSE 0.1 END AS weight
         |  FROM g
         |),
         |a AS (SELECT *, CAST(round(weight * 1000000) AS BIGINT) AS alloc_tokens FROM w)
         |SELECT source, n_docs, total_tokens, CAST(weight AS DOUBLE) AS weight, alloc_tokens,
         |       round(LEAST(1.0, alloc_tokens / total_tokens), 6) AS sample_rate,
         |       CAST(ceil(alloc_tokens / total_tokens) AS BIGINT) AS epochs
         |FROM a""".stripMargin,
    "q54_decontaminate" ->
      s"""WITH $docsCte,
         |sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                                      i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
         |  FROM docs
         |),
         |bench AS (SELECT DISTINCT UNNEST(sh) AS bs FROM sh WHERE doc_id % 97 = 0),
         |ex AS (SELECT doc_id, UNNEST(sh) AS s FROM sh WHERE doc_id % 97 <> 0)
         |SELECT ex.doc_id, COUNT(bench.bs) AS n_shared, COUNT(bench.bs) >= 3 AS contaminated
         |FROM ex LEFT JOIN bench ON ex.s = bench.bs
         |GROUP BY ex.doc_id""".stripMargin,
    "q132_data_split" ->
      s"""WITH $docsCte,
         |a AS (
         |  SELECT source, CAST(len(toks) AS BIGINT) AS n_tok,
         |         substr(md5(doc_id || '#split'), 1, 2) AS b
         |  FROM docs
         |),
         |sp AS (
         |  SELECT source, n_tok,
         |         CASE WHEN b < 'fa' THEN 'train' WHEN b < 'fd' THEN 'val' ELSE 'test' END AS split
         |  FROM a
         |),
         |g AS (
         |  SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |  FROM sp GROUP BY 1, 2
         |),
         |t AS (SELECT source, COUNT(*) AS n_src FROM sp GROUP BY source)
         |SELECT g.source, g.split, g.n_docs, g.n_tokens,
         |       ${graft.functions.detsum.roundDetSql("CAST(g.n_docs AS DOUBLE) / CAST(t.n_src AS DOUBLE)", 6)} AS frac
         |FROM g JOIN t ON g.source = t.source""".stripMargin,
    "q125_analyze" ->
      s"""WITH $docsCte,
         |tgt AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 3),
         |tk AS (
         |  SELECT d.doc_id, j AS pos, d.toks[j] AS token
         |  FROM docs d JOIN tgt USING (doc_id),
         |       unnest(generate_series(1, len(d.toks))) AS u(j)
         |),
         |std AS (
         |  SELECT doc_id, CAST(pos AS BIGINT) AS pos, token,
         |         CAST(COALESCE(SUM(length(token)) OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |              + pos - 1 AS BIGINT) AS start_offset
         |  FROM tk
         |),
         |stdo AS (SELECT *, CAST(start_offset + length(token) AS BIGINT) AS end_offset FROM std)
         |SELECT 'standard' AS analyzer, doc_id, pos, token, start_offset, end_offset FROM stdo
         |UNION ALL
         |SELECT 'stop', doc_id, pos, token, start_offset, end_offset FROM stdo
         |WHERE token NOT IN (${stopEn.map(t => s"'$t'").mkString(", ")})
         |UNION ALL
         |SELECT 'edge_ngram', doc_id, pos, substr(token, 1, l),
         |       start_offset, CAST(start_offset + l AS BIGINT)
         |FROM stdo, unnest(generate_series(1, least(3, length(token)))) AS g(l)""".stripMargin,
    "st19_decontaminate_stream" ->
      s"""WITH $docsCte,
         |bsel AS (
         |  SELECT doc_id, toks FROM docs WHERE doc_id % 97 = 0
         |  ORDER BY n_chars DESC, doc_id ASC LIMIT 5
         |),
         |bsh AS (
         |  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 2), ' ') AS sh
         |  FROM bsel, unnest(generate_series(1, len(toks) - 2)) u(i)
         |),
         |dsh AS (
         |  SELECT doc_id, source,
         |         unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS s
         |  FROM docs WHERE doc_id % 97 <> 0
         |)
         |SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM dsh JOIN bsh ON dsh.s = bsh.sh
         |GROUP BY doc_id, source
         |HAVING COUNT(*) >= 3""".stripMargin,
    "q55_pii_redact" -> {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
      s"""WITH a AS (
         |  SELECT doc_id,
         |         text || ' Contact u' || CAST(doc_id AS VARCHAR) || '@example.com or 10.0.'
         |              || CAST(doc_id % 200 AS VARCHAR) || '.7 now.' AS aug
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(aug, '$emailRe')) AS n_emails,
         |         len(regexp_extract_all(aug, '$ipRe')) AS n_ips,
         |         regexp_replace(regexp_replace(aug, '$emailRe', '[EMAIL]', 'g'), '$ipRe', '[IP]', 'g') AS red
         |  FROM a
         |)
         |SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails, CAST(n_ips AS BIGINT) AS n_ips,
         |       CAST(length(red) AS BIGINT) AS redacted_len, md5(red) AS redacted_fp
         |FROM r""".stripMargin
    },
    "q56_repetition_score" ->
      s"""WITH $docsCte,
         |m AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
         |         list_transform(generate_series(1, len(toks) - 1),
         |                        i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS bg
         |  FROM docs
         |),
         |m2 AS (
         |  SELECT doc_id, n_tok, n_uniq,
         |         CAST(len(bg) AS BIGINT) AS n_2g, CAST(len(list_distinct(bg)) AS BIGINT) AS n_2g_uniq
         |  FROM m
         |)
         |SELECT doc_id, n_tok, n_uniq,
         |       round(1.0 - n_uniq / n_tok, 6) AS tok_rep_ratio,
         |       round(1.0 - n_2g_uniq / n_2g, 6) AS bigram_rep_ratio
         |FROM m2 WHERE n_tok >= 2""".stripMargin,
    "q40_lang_id" ->
      s"""WITH $langPredCtes
         |SELECT doc_id, lang, lang_pred, s_en, s_de, s_es, s_fr
         |FROM pred""".stripMargin,
    "q40b_langid_eval" ->
      s"""WITH $langPredCtes,
         |cm AS (SELECT lang, lang_pred, COUNT(*) AS n FROM pred GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |       CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
         |       CAST(SUM(n) OVER (PARTITION BY lang_pred) AS BIGINT) AS pred_total
         |FROM cm""".stripMargin,
    "q41_quality_score" -> q41Sql,
    "q42_token_count" ->
      s"""WITH $docsCte
         |SELECT doc_id,
         |       len(string_split_regex(trim(text), '\\s+')) AS n_ws,
         |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
         |       CAST(list_sum(list_transform(toks, t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword
         |FROM docs""".stripMargin,
    "q46_json_extract" ->
      """WITH e AS (SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events)
        |SELECT CAST(floor(k / 10.0) * 10 AS BIGINT) AS k_bucket, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM e GROUP BY k_bucket""".stripMargin,
    "q47_sequence_packing" ->
      s"""WITH $docsCte,
         |t AS (
         |  SELECT source, doc_id, len(toks) AS n_tok,
         |         SUM(len(toks)) OVER (PARTITION BY source ORDER BY doc_id ASC
         |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM docs
         |)
         |SELECT source, CAST(floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id,
         |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
         |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM t GROUP BY source, pack_id""".stripMargin,
    "q44_ngram_freq" ->
      s"""WITH $docsCte,
         |bg AS (
         |  SELECT UNNEST(list_transform(generate_series(1, len(toks) - 1),
         |                               i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bigram
         |  FROM docs
         |)
         |SELECT bigram, COUNT(*) AS freq FROM bg GROUP BY bigram
         |ORDER BY freq DESC, bigram ASC LIMIT 50""".stripMargin,
    "q70_dsir" ->
      s"""WITH $docsCte,
         |g AS (
         |  SELECT doc_id, source,
         |         substring(md5(UNNEST(list_concat(toks,
         |           list_transform(generate_series(1, len(toks) - 1),
         |                          i -> array_to_string(list_slice(toks, i, i + 1), ' '))))), 1, 2) AS b
         |  FROM docs
         |),
         |counts0 AS MATERIALIZED (
         |  SELECT b, COUNT(*) AS cr, COUNT(*) FILTER (WHERE source = 'src0') AS ct0
         |  FROM g GROUP BY b
         |),
         |counts1 AS MATERIALIZED (SELECT b, cr + 1 AS crp, ct0 + 1 AS ctp FROM counts0),
         |${graft.functions.detlog.log2SqlCtes("counts1", "ctp", "lgt", "tg")},
         |${graft.functions.detlog.log2SqlCtes("tgfin", "crp", "lgr", "rg")},
         |tot AS (SELECT CAST(SUM(cr) + 256 AS BIGINT) AS nr, CAST(SUM(ct0) + 256 AS BIGINT) AS nt FROM counts0),
         |${graft.functions.detlog.log2SqlCtes("tot", "nt", "lgnt", "ntg")},
         |${graft.functions.detlog.log2SqlCtes("ntgfin", "nr", "lgnr", "nrg")},
         |w AS MATERIALIZED (
         |  SELECT b, ((lgt - lgnt) - (lgr - lgnr)) AS w FROM rgfin, nrgfin
         |),
         |per AS (
         |  SELECT doc_id, source, COUNT(*) AS n_feat, ${graft.functions.detsum.sumDetSql("w", 9)} AS sw
         |  FROM g JOIN w USING (b) GROUP BY doc_id, source
         |)
         |SELECT doc_id, source, n_feat, round(sw, 6) AS logratio
         |FROM per ORDER BY logratio DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q99_quality_classifier" ->
      s"""WITH $qualityClsCtes
         |SELECT doc_id, CAST(label AS BIGINT) AS label,
         |       CAST(score > 0e0 AS BIGINT) AS pred, n_feat,
         |       ${graft.functions.detsum.roundDetSql("score", 6)} AS score
         |FROM sc
         |ORDER BY ${graft.functions.detsum.roundDetSql("score", 6)} DESC, doc_id ASC LIMIT 20""".stripMargin,
    "q99b_quality_classifier_eval" ->
      s"""WITH $qualityClsCtes
         |SELECT COUNT(*) FILTER (WHERE label AND score > 0e0) AS tp,
         |       COUNT(*) FILTER (WHERE NOT label AND score > 0e0) AS fp,
         |       COUNT(*) FILTER (WHERE label AND NOT score > 0e0) AS fn,
         |       COUNT(*) FILTER (WHERE NOT label AND NOT score > 0e0) AS tn,
         |       COUNT(*) AS n_eval
         |FROM sc WHERE doc_id % 5 = 0""".stripMargin,
    // st18 shares the whole classifier chain; the streamed alert set is
    // q99's sc table UNWINDOWED (every scored doc)
    "st18_quality_stream" ->
      s"""WITH $qualityClsCtes
         |SELECT doc_id, CAST(label AS BIGINT) AS label,
         |       CAST(score > 0e0 AS BIGINT) AS pred, n_feat,
         |       ${graft.functions.detsum.roundDetSql("score", 6)} AS score
         |FROM sc""".stripMargin,
    "q45_length_histogram" ->
      s"""WITH $docsCte
         |SELECT CAST(floor(len(toks) / 10) AS BIGINT) * 10 AS len_bucket,
         |       COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
         |FROM docs GROUP BY len_bucket""".stripMargin,
    "q67_term_suggest" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) WHERE length(term) >= 4 GROUP BY term
         |),
         |typos AS (
         |  SELECT DISTINCT q FROM (
         |    SELECT substring(term, 1, 1) || substring(term, 3) AS q
         |    FROM vocab ORDER BY df ASC, term ASC LIMIT 20
         |  )
         |),
         |cand AS (
         |  SELECT typos.q, vocab.term, CAST(levenshtein(typos.q, vocab.term) AS BIGINT) AS dist, vocab.df
         |  FROM vocab, typos
         |  WHERE levenshtein(typos.q, vocab.term) <= 2
         |),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY q ORDER BY dist ASC, df DESC, term ASC) AS rn
         |  FROM cand
         |)
         |SELECT q, term AS suggestion, dist, df FROM r WHERE rn = 1""".stripMargin,
    "q67b_completion_suggest" ->
      s"""WITH $docsCte,
         |$rankedVocabCte,
         |prefixes AS (
         |  SELECT DISTINCT substring(term, 1, 3) AS prefix
         |  FROM rvocab WHERE r <= 10
         |),
         |m AS (
         |  SELECT prefixes.prefix, rvocab.term, rvocab.df
         |  FROM rvocab, prefixes
         |  WHERE starts_with(rvocab.term, prefixes.prefix)
         |),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY prefix ORDER BY df DESC, term ASC) AS BIGINT) AS rank
         |  FROM m
         |)
         |SELECT prefix, term AS suggestion, df, rank FROM r WHERE rank <= 5""".stripMargin,
    "q75_phrase_suggest" ->
      s"""WITH $docsCte,
         |bg AS (
         |  SELECT bg, COUNT(*) AS bc,
         |         string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[-1] AS w2
         |  FROM (
         |    SELECT UNNEST(list_transform(generate_series(1, len(toks) - 1),
         |                                 i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bg
         |    FROM docs
         |  ) GROUP BY bg
         |),
         |queries AS (
         |  SELECT DISTINCT w1, substring(w2, 1, 1) || substring(w2, 3) AS typo FROM (
         |    SELECT * FROM bg WHERE length(w2) >= 4
         |    ORDER BY bc DESC, bg ASC LIMIT 5
         |  )
         |),
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |cand AS (
         |  SELECT q.w1, q.typo, v.term, CAST(levenshtein(q.typo, v.term) AS BIGINT) AS dist
         |  FROM vocab v, queries q
         |  WHERE levenshtein(q.typo, v.term) <= 1
         |),
         |scored AS (
         |  SELECT c.*, COALESCE(b.bc, 0) AS big_count
         |  FROM cand c LEFT JOIN bg b ON c.w1 = b.w1 AND c.term = b.w2
         |),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY w1, typo
         |    ORDER BY big_count DESC, dist ASC, term ASC) AS BIGINT) AS rank
         |  FROM scored
         |)
         |SELECT w1 || ' ' || typo AS query_phrase, term AS suggestion,
         |       CAST(big_count AS BIGINT) AS big_count, dist, rank
         |FROM r WHERE rank <= 3""".stripMargin,
    "q76_bm25_search" -> bm25TopkOracle,

    // q171 serves the SAME ranked search from the parquet round-tripped
    // index — one oracle, byte-identity through persistence
    "q171_index_persist" -> bm25TopkOracle,
    // the loaded-path twin: same oracle — a hash match proves the
    // parquet-served probes equal the in-memory artifact chain exactly
    "q178_loaded_search" -> bm25TopkOracle,
    "q76b_rescore" ->
      s"""WITH $bm25PerCtes,
         |win AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS first_rank
         |  FROM per QUALIFY first_rank <= 50
         |),
         |phr AS (
         |  SELECT MIN(CASE WHEN r = 11 THEN term END) AS w1,
         |         MIN(CASE WHEN r = 12 THEN term END) AS w2
         |  FROM rvocab WHERE r IN (11, 12)
         |),
         |ph AS (
         |  SELECT d.doc_id,
         |         ${phraseTfSql("w1", "w2")} AS phrase_tf
         |  FROM docs d JOIN win ON d.doc_id = win.doc_id, phr
         |),
         |re AS (
         |  SELECT win.first_rank, win.doc_id, win.score, CAST(ph.phrase_tf AS BIGINT) AS phrase_tf,
         |         win.score + 0.5e0 * CAST(ph.phrase_tf AS DOUBLE) AS rescored
         |  FROM win JOIN ph ON win.doc_id = ph.doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY rescored DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, first_rank, score, phrase_tf, rescored
         |FROM re QUALIFY rank <= 10""".stripMargin,
    "q78_match_phrase" ->
      s"""WITH $docsCte,
         |$topBigramCtes,
         |m AS (
         |  SELECT doc_id, source, w1 || ' ' || w2 AS phrase,
         |         ${phraseTfSql("w1", "w2")} AS n_phrase,
         |         ${spanNearTfSql("w1", "w2", slop = 3)} AS n_near
         |  FROM docs, top1
         |)
         |SELECT doc_id, source, phrase,
         |       CAST(n_phrase AS BIGINT) AS n_phrase, CAST(n_near AS BIGINT) AS n_near
         |FROM m WHERE n_near > 0
         |ORDER BY n_phrase DESC, n_near DESC, doc_id ASC LIMIT 15""".stripMargin,
    "q79_terms_set" -> (termsSetSql + "\nORDER BY n_matched DESC, doc_id ASC LIMIT 20"),
    // st15 = the SAME matching semantics with no result window: the
    // append-mode alert stream emits every doc at/above the threshold
    "st15_terms_set_stream" -> termsSetSql,
    "q80_boosting" ->
      s"""WITH $bm25PerCtes,
         |neg AS (
         |  SELECT MIN(CASE WHEN r = 16 THEN term END) AS n1,
         |         MIN(CASE WHEN r = 17 THEN term END) AS n2
         |  FROM rvocab WHERE r IN (16, 17)
         |),
         |bo AS (
         |  SELECT per.doc_id, per.score,
         |         (list_contains(toks, n1) OR list_contains(toks, n2)) AS demoted
         |  FROM per JOIN docs ON per.doc_id = docs.doc_id, neg
         |),
         |fin AS (
         |  SELECT doc_id, score, demoted,
         |         CASE WHEN demoted THEN score * 0.5e0 ELSE score END AS final
         |  FROM bo
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, score, demoted, final
         |FROM fin QUALIFY rank <= 20""".stripMargin,
    "q76c_function_score" ->
      s"""WITH $bm25PerCtes,
         |$lengthFactorCtes,
         |fin AS (
         |  -- factor is DOUBLE by detlog's own contract (its SQL chain pins
         |  -- the f accumulator to DOUBLE precisely for raw-emitted
         |  -- consumers like this one)
         |  SELECT per.doc_id, fv.dl1, per.score, fv.factor,
         |         per.score * fv.factor AS final
         |  FROM per JOIN fvfin fv ON per.doc_id = fv.doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, CAST(dl1 - 1 AS BIGINT) AS dl, score, factor, final
         |FROM fin QUALIFY rank <= 20""".stripMargin,
    "q87_fuzzy" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |fq AS (
         |  -- pool of 10 rarest, first 3 deletion-typos surviving the
         |  -- anti-join (mirrors the Spark-side robustness derivation)
         |  SELECT q FROM (
         |    SELECT q, MIN(rn) AS rn FROM (
         |      SELECT substring(term, 1, 1) || substring(term, 3) AS q,
         |             row_number() OVER (ORDER BY df ASC, term ASC) AS rn
         |      FROM (SELECT term, df FROM vocab WHERE length(term) >= 5
         |            ORDER BY df ASC, term ASC LIMIT 10)
         |    ) GROUP BY q
         |  ) WHERE q NOT IN (SELECT term FROM vocab)
         |  ORDER BY rn ASC LIMIT 3
         |),
         |expansion AS (
         |  SELECT fq.q, v.term FROM vocab v, fq WHERE levenshtein(fq.q, v.term) <= 1
         |),
         |t AS (SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs)
         |SELECT e.q, COUNT(DISTINCT t.doc_id) AS n_docs,
         |       COUNT(DISTINCT t.term) AS n_terms, COUNT(*) AS n_term_docs
         |FROM t JOIN expansion e ON t.term = e.term
         |GROUP BY e.q""".stripMargin,
    "q88_prefix" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |pool AS (
         |  -- the 3 single-char starts covering the most vocab terms
         |  SELECT q FROM (
         |    SELECT substring(term, 1, 1) AS q, COUNT(*) AS cnt FROM vocab GROUP BY 1
         |  ) ORDER BY cnt DESC, q ASC LIMIT 3
         |),
         |expansion AS (
         |  SELECT p.q, v.term FROM vocab v, pool p WHERE starts_with(v.term, p.q)
         |),
         |t AS (SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs)
         |SELECT e.q, COUNT(DISTINCT t.doc_id) AS n_docs,
         |       COUNT(DISTINCT t.term) AS n_terms, COUNT(*) AS n_term_docs
         |FROM t JOIN expansion e ON t.term = e.term
         |GROUP BY e.q""".stripMargin,
    "q109_terms_enum" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |pfx AS (
         |  SELECT q FROM (
         |    SELECT substring(term, 1, 1) AS q, COUNT(*) AS cnt FROM vocab GROUP BY 1
         |  ) ORDER BY cnt DESC, q ASC LIMIT 1
         |),
         |m AS (SELECT v.term FROM vocab v, pfx p WHERE starts_with(v.term, p.q)),
         |p1 AS (SELECT CAST(1 AS BIGINT) AS page, term FROM m ORDER BY term ASC LIMIT 4),
         |aft AS (SELECT MAX(term) AS after FROM p1),
         |p2 AS (
         |  SELECT CAST(2 AS BIGINT) AS page, m.term FROM m, aft
         |  WHERE m.term > aft.after ORDER BY m.term ASC LIMIT 4
         |)
         |SELECT page, CAST(row_number() OVER (PARTITION BY page ORDER BY term ASC) AS BIGINT) AS pos,
         |       term
         |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)""".stripMargin,
    "q110_termvectors" ->
      s"""WITH $docsCte,
         |tgt AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 3),
         |tfp AS (
         |  SELECT docs.doc_id, toks[j] AS term, j
         |  FROM docs JOIN tgt ON docs.doc_id = tgt.doc_id,
         |       UNNEST(generate_series(1, len(toks))) AS u(j)
         |),
         |tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf, CAST(MIN(j) AS BIGINT) AS first_pos
         |  FROM tfp GROUP BY 1, 2
         |),
         |stats AS (
         |  SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS ttf
         |  FROM (SELECT doc_id, UNNEST(toks) AS term FROM docs) GROUP BY term
         |)
         |SELECT tf.doc_id, tf.term, tf.tf, tf.first_pos, s.df, s.ttf
         |FROM tf JOIN stats s ON tf.term = s.term""".stripMargin,
    "q89_wildcard" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |pool AS (
         |  -- '*'+c for the 3 suffix chars covering the most vocab terms;
         |  -- only literal [a-z0-9] chars may enter the glob (injection
         |  -- structurally impossible, mirroring the Spark-side filter)
         |  SELECT '*' || sfx AS pat FROM (
         |    SELECT right(term, 1) AS sfx, COUNT(*) AS cnt FROM vocab GROUP BY 1
         |  ) WHERE regexp_matches(sfx, '^[a-z0-9]$$')
         |  ORDER BY cnt DESC, sfx ASC LIMIT 3
         |),
         |expansion AS (
         |  -- Lucene->SQL glob mapping applies only inside the dictionary match
         |  SELECT p.pat, v.term FROM vocab v, pool p
         |  WHERE v.term LIKE replace(replace(p.pat, '*', '%'), '?', '_')
         |),
         |t AS (SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs)
         |SELECT e.pat, COUNT(DISTINCT t.doc_id) AS n_docs,
         |       COUNT(DISTINCT t.term) AS n_terms, COUNT(*) AS n_term_docs
         |FROM t JOIN expansion e ON t.term = e.term
         |GROUP BY e.pat""".stripMargin,
    "q90_match_phrase_prefix" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |$topBigramCtes,
         |expansion AS (
         |  -- prefix = w2's first char, expanded against the dictionary
         |  -- (term asc, the Lucene max_expansions=50 window — unbinding here)
         |  SELECT w1, substring(w2, 1, 1) AS pfx, term FROM (
         |    SELECT t.w1, t.w2, v.term FROM vocab v, top1 t
         |    WHERE starts_with(v.term, substring(t.w2, 1, 1))
         |    ORDER BY v.term ASC LIMIT 50
         |  )
         |),
         |m AS (
         |  SELECT doc_id, source, w1 || ' ' || pfx || '*' AS phrase,
         |         ${phraseTfSql("w1", "term")} AS tf
         |  FROM docs, expansion
         |),
         |g AS (
         |  SELECT doc_id, source, phrase, SUM(tf) AS n_phrase FROM m GROUP BY 1, 2, 3
         |)
         |SELECT doc_id, source, phrase, CAST(n_phrase AS BIGINT) AS n_phrase
         |FROM g WHERE n_phrase > 0
         |ORDER BY n_phrase DESC, doc_id ASC LIMIT 15""".stripMargin,
    // match_bool_prefix: 4 SHOULD term clauses through the shared BM25
    // chain (bm25CtesOver with the last window term removed) + the prefix
    // clause as a constant_score 1.0 dictionary rewrite
    "q102_match_bool_prefix" ->
      s"""WITH $docsCte,
         |$rankedVocabCte,
         |qw AS (SELECT term AS tok, df FROM rvocab WHERE r BETWEEN $QLo AND $QHi),
         |lastt AS (SELECT MAX(tok) AS lt FROM qw),
         |${bm25CtesOver("_mb", "SELECT doc_id, UNNEST(toks) AS tok FROM docs",
            "SELECT tok, df FROM qw, lastt WHERE tok <> lt")},
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |expn AS (
         |  SELECT term FROM vocab, lastt
         |  WHERE starts_with(term, substring(lt, 1, 1))
         |  ORDER BY term ASC LIMIT 50
         |),
         |ph AS (
         |  SELECT DISTINCT t.doc_id
         |  FROM (SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs) t
         |  JOIN expn e ON t.term = e.term
         |),
         |f AS (
         |  SELECT COALESCE(s.doc_id, p.doc_id) AS doc_id,
         |         COALESCE(s.n_terms_hit, 0) AS n_exact_hit,
         |         CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS prefix_hit,
         |         COALESCE(s.score, 0.0e0) +
         |           CASE WHEN p.doc_id IS NOT NULL THEN 1.0e0 ELSE 0.0e0 END AS final
         |  FROM per_mb s FULL OUTER JOIN ph p ON s.doc_id = p.doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, CAST(n_exact_hit AS BIGINT) AS n_exact_hit,
         |       CAST(prefix_hit AS BIGINT) AS prefix_hit, final
         |FROM f QUALIFY rank <= 20""".stripMargin,
    "q91_regexp" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |heads AS (
         |  -- only literal [a-z0-9] chars may enter the class (mirrors the
         |  -- Spark-side metachar filter)
         |  SELECT c FROM (
         |    SELECT substring(term, 1, 1) AS c, COUNT(*) AS cnt FROM vocab GROUP BY 1
         |  ) WHERE regexp_matches(c, '^[a-z0-9]$$')
         |  ORDER BY cnt DESC, c ASC LIMIT 2
         |),
         |cls AS (SELECT string_agg(c, '' ORDER BY c ASC) AS cls FROM heads),
         |sfx AS (
         |  -- tail = most-covering LAST char among class-headed terms of
         |  -- length >= 2 (the pattern consumes head + tail chars), so the
         |  -- pattern is non-vacuous by construction
         |  SELECT sfx FROM (
         |    SELECT right(v.term, 1) AS sfx, COUNT(*) AS cnt
         |    FROM vocab v JOIN heads h ON substring(v.term, 1, 1) = h.c
         |    WHERE length(v.term) >= 2 GROUP BY 1
         |  ) WHERE regexp_matches(sfx, '^[a-z0-9]$$')
         |  ORDER BY cnt DESC, sfx ASC LIMIT 1
         |),
         |pat AS (SELECT '^[' || cls || '].*' || sfx || '$$' AS pat FROM cls, sfx),
         |expansion AS (
         |  SELECT p.pat, v.term FROM vocab v, pat p WHERE regexp_matches(v.term, p.pat)
         |),
         |t AS (SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs)
         |SELECT e.pat, COUNT(DISTINCT t.doc_id) AS n_docs,
         |       COUNT(DISTINCT t.term) AS n_terms, COUNT(*) AS n_term_docs
         |FROM t JOIN expansion e ON t.term = e.term
         |GROUP BY e.pat""".stripMargin,
    "q92_combined_fields" ->
      s"""WITH $docsCte,
         |g AS MATERIALIZED (
         |  -- the one-scan per-(doc, term) frame: tf_b = all occurrences,
         |  -- tf_t = first-8 occurrences (1-based j <= 8 == Spark pos < 8)
         |  SELECT doc_id, tok, COUNT(*) AS tf_b,
         |         COUNT(CASE WHEN pos <= 8 THEN 1 END) AS tf_t
         |  FROM (SELECT doc_id, toks[j] AS tok, j AS pos
         |        FROM docs, unnest(generate_series(1, len(toks))) AS u(j))
         |  GROUP BY 1, 2
         |),
         |qv AS (
         |  SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok ASC) AS r
         |  FROM (SELECT tok, COUNT(*) AS df FROM g WHERE length(tok) >= 4 GROUP BY tok)
         |),
         |qselc AS (SELECT tok, df FROM qv WHERE r BETWEEN $QLo AND $QHi),
         |dlc AS MATERIALIZED (
         |  SELECT doc_id, SUM(tf_b) + 2 * SUM(tf_t) AS dl FROM g GROUP BY doc_id
         |),
         |statsc AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlc),
         |qt1c AS MATERIALIZED (
         |  SELECT qselc.tok, CAST(2 * n_docs + 2 AS BIGINT) AS num,
         |         CAST(2 * qselc.df + 1 AS BIGINT) AS den, avgdl
         |  FROM qselc, statsc
         |),
         |${graft.functions.detlog.log2SqlCtes("qt1c", "num", "lgn", "qnc")},
         |${graft.functions.detlog.log2SqlCtes("qncfin", "den", "lgd", "qdc")},
         |qidfc AS (SELECT tok, lgn - lgd AS idf, avgdl FROM qdcfin),
         |tfqc AS (SELECT g.doc_id, g.tok, g.tf_b + 2 * g.tf_t AS tf FROM g JOIN qidfc q ON g.tok = q.tok),
         |scc AS (
         |  SELECT tfqc.doc_id,
         |         q.idf * ((CAST(tfqc.tf AS DOUBLE) * 2.2e0) /
         |           (CAST(tfqc.tf AS DOUBLE) +
         |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl))) AS score_t
         |  FROM tfqc JOIN qidfc q ON tfqc.tok = q.tok JOIN dlc dl ON tfqc.doc_id = dl.doc_id
         |),
         |perc AS (
         |  SELECT doc_id, COUNT(*) AS n_terms_hit, ${graft.functions.detsum.sumDetSql("score_t", 9)} AS score
         |  FROM scc GROUP BY doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, n_terms_hit, score
         |FROM perc QUALIFY rank <= 20""".stripMargin,
    "q105_rank_eval" ->
      s"""WITH $docsCte,
         |g AS MATERIALIZED (
         |  SELECT doc_id, tok, COUNT(*) AS tf_b,
         |         COUNT(CASE WHEN pos <= 8 THEN 1 END) AS tf_t
         |  FROM (SELECT doc_id, toks[j] AS tok, j AS pos
         |        FROM docs, unnest(generate_series(1, len(toks))) AS u(j))
         |  GROUP BY 1, 2
         |),
         |qv AS (
         |  SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok ASC) AS r
         |  FROM (SELECT tok, COUNT(*) AS df FROM g WHERE length(tok) >= 4 GROUP BY tok)
         |),
         |qselx AS (SELECT tok, df FROM qv WHERE r BETWEEN $QLo AND $QHi),
         |dlx AS MATERIALIZED (SELECT doc_id, SUM(tf_b) AS dl FROM g GROUP BY doc_id),
         |statsx AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlx),
         |qt1x AS MATERIALIZED (
         |  SELECT qselx.tok, CAST(2 * n_docs + 2 AS BIGINT) AS num,
         |         CAST(2 * qselx.df + 1 AS BIGINT) AS den, avgdl
         |  FROM qselx, statsx
         |),
         |${graft.functions.detlog.log2SqlCtes("qt1x", "num", "lgn", "qnx")},
         |${graft.functions.detlog.log2SqlCtes("qnxfin", "den", "lgd", "qdx")},
         |qidfx AS (SELECT tok, lgn - lgd AS idf, avgdl FROM qdxfin),
         |scx AS (
         |  SELECT g.doc_id, g.tok,
         |         CASE WHEN g.tf_t > 0 THEN 2 WHEN g.tf_b >= 2 THEN 1 ELSE 0 END AS rating,
         |         q.idf * ((CAST(g.tf_b AS DOUBLE) * 2.2e0) /
         |           (CAST(g.tf_b AS DOUBLE) +
         |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl))) AS score_t
         |  FROM g JOIN qidfx q ON g.tok = q.tok JOIN dlx dl ON g.doc_id = dl.doc_id
         |),
         |top0 AS (
         |  SELECT tok, doc_id, rating, rank, CAST(rank + 1 AS BIGINT) AS rank1
         |  FROM (SELECT *, CAST(row_number() OVER (
         |          PARTITION BY tok ORDER BY score_t DESC, doc_id ASC) AS BIGINT) AS rank
         |        FROM scx)
         |  WHERE rank <= 10
         |),
         |${graft.functions.detlog.log2SqlCtes("top0", "rank1", "lg", "tlx")},
         |topg AS (
         |  SELECT tok, rating, rank,
         |         (CASE WHEN rating = 2 THEN 3.0e0 WHEN rating = 1 THEN 1.0e0 ELSE 0.0e0 END) / lg AS dg
         |  FROM tlxfin
         |),
         |perq AS (
         |  SELECT tok,
         |         COUNT(CASE WHEN rating > 0 THEN 1 END) AS rel_in_10,
         |         COUNT(*) AS n_ret_10,
         |         MIN(CASE WHEN rating > 0 THEN rank END) AS first_rel,
         |         ${graft.functions.detsum.sumDetSql("dg", 9)} AS dcg_10
         |  FROM topg GROUP BY tok
         |),
         |ideal0 AS (
         |  SELECT tok, rating, CAST(irank + 1 AS BIGINT) AS rank1
         |  FROM (SELECT tok, rating, CAST(row_number() OVER (
         |          PARTITION BY tok ORDER BY rating DESC, doc_id ASC) AS BIGINT) AS irank
         |        FROM scx WHERE rating > 0)
         |  WHERE irank <= 10
         |),
         |${graft.functions.detlog.log2SqlCtes("ideal0", "rank1", "lg", "ilx")},
         |idcg AS (
         |  SELECT tok, ${graft.functions.detsum.sumDetSql(
              "(CASE WHEN rating = 2 THEN 3.0e0 ELSE 1.0e0 END) / lg", 9)} AS idcg_10
         |  FROM ilxfin GROUP BY tok
         |)
         |SELECT p.tok AS query_term, rel_in_10,
         |       CAST(rel_in_10 AS DOUBLE) / CAST(LEAST(10, n_ret_10) AS DOUBLE) AS precision_at_10,
         |       COALESCE(1.0e0 / first_rel, 0.0e0) AS recip_rank,
         |       dcg_10, COALESCE(dcg_10 / idcg_10, 0.0e0) AS ndcg_10
         |FROM perq p LEFT JOIN idcg i ON p.tok = i.tok""".stripMargin,
    "q119_bool" ->
      s"""WITH $docsCte,
         |g AS MATERIALIZED (
         |  SELECT doc_id, tok, COUNT(*) AS tf_b,
         |         COUNT(CASE WHEN pos <= 8 THEN 1 END) AS tf_t
         |  FROM (SELECT doc_id, toks[j] AS tok, j AS pos
         |        FROM docs, unnest(generate_series(1, len(toks))) AS u(j))
         |  GROUP BY 1, 2
         |),
         |qv AS (
         |  SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok ASC) AS r
         |  FROM (SELECT tok, COUNT(*) AS df FROM g WHERE length(tok) >= 4 GROUP BY tok)
         |),
         |cl AS (SELECT tok, df, r FROM qv WHERE r BETWEEN $QLo AND ${QLo + 2}),
         |dlx AS MATERIALIZED (SELECT doc_id, SUM(tf_b) AS dl FROM g GROUP BY doc_id),
         |statsx AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlx),
         |qt1x AS MATERIALIZED (
         |  SELECT cl.tok, cl.r, CAST(2 * n_docs + 2 AS BIGINT) AS num,
         |         CAST(2 * cl.df + 1 AS BIGINT) AS den, avgdl
         |  FROM cl, statsx
         |),
         |${graft.functions.detlog.log2SqlCtes("qt1x", "num", "lgn", "qnx")},
         |${graft.functions.detlog.log2SqlCtes("qnxfin", "den", "lgd", "qdx")},
         |qidfx AS (SELECT tok, r, lgn - lgd AS idf, avgdl FROM qdxfin),
         |scx AS (
         |  SELECT g.doc_id, q.r,
         |         q.idf * ((CAST(g.tf_b AS DOUBLE) * 2.2e0) /
         |           (CAST(g.tf_b AS DOUBLE) +
         |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl))) AS score_t
         |  FROM g JOIN qidfx q ON g.tok = q.tok JOIN dlx dl ON g.doc_id = dl.doc_id
         |),
         |per AS (
         |  SELECT doc_id,
         |         MIN(CASE WHEN r = $QLo THEN score_t END) AS s_must,
         |         MIN(CASE WHEN r = ${QLo + 1} THEN score_t END) AS s_should1,
         |         MIN(CASE WHEN r = ${QLo + 2} THEN score_t END) AS s_should2
         |  FROM scx GROUP BY doc_id
         |),
         |excl AS (
         |  SELECT DISTINCT g.doc_id FROM g
         |  JOIN (SELECT tok FROM qv WHERE r = ${QLo + 3}) x ON g.tok = x.tok
         |),
         |flt AS (SELECT doc_id FROM documents WHERE n_chars >= 200),
         |fin AS (
         |  SELECT p.doc_id, s_must,
         |         CAST((CASE WHEN s_should1 IS NOT NULL THEN 1 ELSE 0 END) +
         |              (CASE WHEN s_should2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_should,
         |         s_must + (COALESCE(s_should1, 0.0e0) + COALESCE(s_should2, 0.0e0)) AS score
         |  FROM per p JOIN flt f ON p.doc_id = f.doc_id
         |  WHERE s_must IS NOT NULL
         |    AND p.doc_id NOT IN (SELECT doc_id FROM excl)
         |    AND ((CASE WHEN s_should1 IS NOT NULL THEN 1 ELSE 0 END) +
         |         (CASE WHEN s_should2 IS NOT NULL THEN 1 ELSE 0 END)) >= 1
         |)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, s_must, n_should, score
         |FROM fin QUALIFY rank <= 20""".stripMargin,
    "q123_dis_max" ->
      s"""WITH $docsCte,
         |g AS MATERIALIZED (
         |  SELECT doc_id, tok, COUNT(*) AS tf_b
         |  FROM (SELECT doc_id, toks[j] AS tok
         |        FROM docs, unnest(generate_series(1, len(toks))) AS u(j))
         |  GROUP BY 1, 2
         |),
         |qv AS (
         |  SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok ASC) AS r
         |  FROM (SELECT tok, COUNT(*) AS df FROM g WHERE length(tok) >= 4 GROUP BY tok)
         |),
         |cl AS (
         |  SELECT tok, df, 1 AS r FROM qv WHERE r = $QLo
         |  UNION ALL
         |  SELECT tok, df, 2 AS r FROM
         |    (SELECT tok, COUNT(*) AS df FROM g GROUP BY tok ORDER BY df ASC, tok ASC LIMIT 1)
         |),
         |dlx AS MATERIALIZED (SELECT doc_id, SUM(tf_b) AS dl FROM g GROUP BY doc_id),
         |statsx AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlx),
         |qt1x AS MATERIALIZED (
         |  SELECT cl.tok, cl.r, CAST(2 * n_docs + 2 AS BIGINT) AS num,
         |         CAST(2 * cl.df + 1 AS BIGINT) AS den, avgdl
         |  FROM cl, statsx
         |),
         |${graft.functions.detlog.log2SqlCtes("qt1x", "num", "lgn", "qnx")},
         |${graft.functions.detlog.log2SqlCtes("qnxfin", "den", "lgd", "qdx")},
         |qidfx AS (SELECT tok, r, lgn - lgd AS idf, avgdl FROM qdxfin),
         |scx AS (
         |  SELECT g.doc_id, q.r,
         |         q.idf * ((CAST(g.tf_b AS DOUBLE) * 2.2e0) /
         |           (CAST(g.tf_b AS DOUBLE) +
         |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl))) AS score_t
         |  FROM g JOIN qidfx q ON g.tok = q.tok JOIN dlx dl ON g.doc_id = dl.doc_id
         |),
         |per AS (
         |  SELECT doc_id,
         |         MIN(CASE WHEN r = 1 THEN score_t END) AS s_a,
         |         MIN(CASE WHEN r = 2 THEN score_t END) AS s_b
         |  FROM scx GROUP BY doc_id
         |),
         |fin AS (
         |  SELECT doc_id,
         |         CAST((CASE WHEN s_a IS NOT NULL THEN 1 ELSE 0 END) +
         |              (CASE WHEN s_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         |         greatest(COALESCE(s_a, 0.0e0), COALESCE(s_b, 0.0e0)) AS best,
         |         greatest(COALESCE(s_a, 0.0e0), COALESCE(s_b, 0.0e0)) +
         |           0.25e0 * (COALESCE(s_a, 0.0e0) + COALESCE(s_b, 0.0e0) -
         |                     greatest(COALESCE(s_a, 0.0e0), COALESCE(s_b, 0.0e0))) AS score
         |  FROM per
         |)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, n_matched, best, score
         |FROM fin QUALIFY rank <= 30""".stripMargin,
    "q93_rank_feature" ->
      s"""WITH $bm25PerCtes,
         |f AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS feat FROM documents),
         |fin AS (
         |  SELECT per.doc_id, per.score, f.feat / (f.feat + 500.0e0) AS sat,
         |         per.score + 1.5e0 * (f.feat / (f.feat + 500.0e0)) AS final
         |  FROM per JOIN f ON per.doc_id = f.doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, score, sat, final
         |FROM fin QUALIFY rank <= 20""".stripMargin,
    "q94_distance_feature" ->
      s"""WITH $bm25PerCtes,
         |f AS (SELECT doc_id, CAST(abs(n_chars - 1000) AS DOUBLE) AS dist FROM documents),
         |fin AS (
         |  SELECT per.doc_id, per.score, 200.0e0 / (200.0e0 + f.dist) AS prox,
         |         per.score + 2.0e0 * (200.0e0 / (200.0e0 + f.dist)) AS final
         |  FROM per JOIN f ON per.doc_id = f.doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, score, prox, final
         |FROM fin QUALIFY rank <= 20""".stripMargin,
    "q127_explain" ->
      s"""WITH $bm25PerCtes,
         |tgt AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 3)
         |SELECT tf.doc_id, tf.tok AS term, CAST(tf.tf AS BIGINT) AS tf,
         |       CAST(qd.df AS BIGINT) AS df, CAST(dl.dl AS BIGINT) AS dl, q.idf,
         |       q.idf * ((CAST(tf.tf AS DOUBLE) * 2.2e0) /
         |         (CAST(tf.tf AS DOUBLE) +
         |          1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl))) AS score_t
         |FROM tf
         |JOIN tgt ON tf.doc_id = tgt.doc_id
         |JOIN qidf q ON tf.tok = q.tok
         |JOIN dl ON tf.doc_id = dl.doc_id
         |JOIN ($bodyQdfSql) qd ON tf.tok = qd.tok""".stripMargin,
    "q124_decay_functions" ->
      s"""WITH f AS (
         |  SELECT doc_id, greatest(0, abs(n_chars - 300) - 20) AS dist FROM documents
         |),
         |fin AS (
         |  SELECT doc_id, CAST(dist AS BIGINT) AS dist,
         |         CAST(greatest(0, 200 - dist) AS DOUBLE) / 200.0e0 AS linear_score,
         |         -(CAST(dist * dist AS DOUBLE)) / 10000.0e0 AS gauss_lg2,
         |         -(CAST(dist AS DOUBLE)) / 100.0e0 AS exp_lg2
         |  FROM f
         |)
         |SELECT doc_id, dist, linear_score, gauss_lg2, exp_lg2
         |FROM fin""".stripMargin,
    // the termsSetSql precedent: ONE matcher SQL, q95 adds the result
    // window, st17 (the alert stream) takes every hit
    "q95_span_first" ->
      (spanFirstSql + "\nORDER BY first_pos ASC, doc_id ASC LIMIT 20"),
    "st17_span_first_stream" -> spanFirstSql,
    "q96_intervals" ->
      s"""WITH $docsCte,
         |$rankedVocabCte,
         |tt AS (
         |  SELECT MIN(CASE WHEN r = 1 THEN term END) AS t1,
         |         MIN(CASE WHEN r = 2 THEN term END) AS t2,
         |         MIN(CASE WHEN r = 3 THEN term END) AS t3
         |  FROM rvocab WHERE r <= 3
         |),
         |m AS (
         |  SELECT doc_id,
         |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t1) AS p1,
         |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t2) AS p2,
         |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t3) AS p3
         |  FROM docs, tt
         |),
         |c AS (
         |  SELECT doc_id,
         |         list_filter(p1, i ->
         |           list_min(list_filter(p3, x -> x > list_min(list_filter(p2, y -> y > i)))) IS NOT NULL
         |           AND list_min(list_filter(p3, x -> x > list_min(list_filter(p2, y -> y > i)))) - i - 2 <= 10
         |         ) AS chains
         |  FROM m
         |)
         |SELECT doc_id, CAST(len(chains) AS BIGINT) AS n_intervals,
         |       CAST(chains[1] AS BIGINT) AS first_start
         |FROM c WHERE len(chains) > 0
         |ORDER BY n_intervals DESC, first_start ASC, doc_id ASC LIMIT 20""".stripMargin,
    "q97_span_or" ->
      s"""WITH $docsCte,
         |$rankedVocabCte,
         |tt AS (
         |  SELECT MIN(CASE WHEN r = $QLo THEN term END) AS ta,
         |         MIN(CASE WHEN r = ${QLo + 1} THEN term END) AS tb
         |  FROM rvocab WHERE r IN ($QLo, ${QLo + 1})
         |),
         |m AS (
         |  SELECT doc_id,
         |         list_filter(generate_series(1, LEAST(10, len(toks))),
         |                     i -> toks[i] = ta OR toks[i] = tb) AS hits,
         |         CAST(list_contains(toks[1:10], ta) AS INT) +
         |         CAST(list_contains(toks[1:10], tb) AS INT) AS ntm
         |  FROM docs, tt
         |)
         |SELECT doc_id, CAST(hits[1] AS BIGINT) AS first_pos,
         |       CAST(len(hits) AS BIGINT) AS n_within, CAST(ntm AS BIGINT) AS n_terms_matched
         |FROM m WHERE len(hits) > 0
         |ORDER BY first_pos ASC, doc_id ASC LIMIT 20""".stripMargin,
    "q98_span_not" ->
      s"""WITH $docsCte,
         |$topBigramCtes,
         |m AS (
         |  SELECT doc_id,
         |         len(list_filter(generate_series(1, len(toks)), j -> toks[j] = w1)) AS n_incl,
         |         list_filter(generate_series(1, len(toks)), j -> toks[j] = w1
         |             AND NOT (j + 1 <= len(toks) AND toks[j+1] = w2)
         |             AND NOT (j >= 2 AND toks[j-1] = w1 AND toks[j] = w2)) AS kept
         |  FROM docs, top1
         |)
         |SELECT doc_id, CAST(kept[1] AS BIGINT) AS first_pos,
         |       CAST(len(kept) AS BIGINT) AS n_kept,
         |       CAST(n_incl - len(kept) AS BIGINT) AS n_excluded
         |FROM m WHERE len(kept) > 0
         |ORDER BY n_excluded DESC, n_kept DESC, doc_id ASC LIMIT 20""".stripMargin,
    // pinned: promoted ids first in pin order, organic BM25 follows
    "q104_pinned" ->
      s"""WITH $bm25PerCtes,
         |pins AS (
         |  SELECT doc_id, pin_rank FROM (
         |    SELECT doc_id,
         |           row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS pin_rank
         |    FROM documents
         |  ) WHERE pin_rank <= 3
         |),
         |fp AS (
         |  SELECT COALESCE(o.doc_id, p.doc_id) AS doc_id, p.pin_rank,
         |         CASE WHEN p.pin_rank IS NOT NULL THEN 1 ELSE 0 END AS is_pinned,
         |         COALESCE(o.score, 0.0e0) AS organic_score
         |  FROM per o FULL OUTER JOIN pins p ON o.doc_id = p.doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY is_pinned DESC, pin_rank ASC NULLS LAST,
         |                               organic_score DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, CAST(is_pinned AS BIGINT) AS is_pinned, organic_score
         |FROM fp QUALIFY rank <= 20""".stripMargin,
    // simple_query_string: phrase clause = phraseFieldCtes (q86c's scorer),
    // AND clause = the shared BM25 chain gated n_terms_hit = 2, NOT clause
    // = a membership anti-filter, OR = fixed two-term sum
    "q103_simple_query_string" ->
      s"""WITH $docsCte,
         |$rankedVocabCte,
         |$topBigramCtes,
         |docsb AS (SELECT d.*, top1.w1, top1.w2 FROM docs d, top1),
         |${phraseFieldCtes("_sq", "toks")},
         |${bm25CtesOver("_s2", "SELECT doc_id, UNNEST(toks) AS tok FROM docs",
            s"SELECT term AS tok, df FROM rvocab WHERE r IN ($QLo, ${QLo + 1})")},
         |a2 AS (SELECT doc_id, score FROM per_s2 WHERE n_terms_hit = 2),
         |txq AS (SELECT term AS xt FROM rvocab WHERE r = $QHi),
         |exq AS (SELECT doc_id FROM docs, txq WHERE list_contains(toks, xt)),
         |fq AS (
         |  SELECT COALESCE(p.doc_id, a.doc_id) AS doc_id,
         |         COALESCE(p.score, 0.0e0) AS s_phrase,
         |         COALESCE(a.score, 0.0e0) AS s_and
         |  FROM pper_sq p FULL OUTER JOIN a2 a ON p.doc_id = a.doc_id
         |),
         |gq AS (
         |  SELECT doc_id, s_phrase, s_and, s_phrase + s_and AS final
         |  FROM fq WHERE doc_id NOT IN (SELECT doc_id FROM exq)
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, s_phrase, s_and, final
         |FROM gq QUALIFY rank <= 20""".stripMargin,
    "q106_query_string" ->
      s"""WITH $docsCte,
         |g AS MATERIALIZED (
         |  SELECT doc_id, tok, COUNT(*) AS tf_b,
         |         COUNT(CASE WHEN pos <= 8 THEN 1 END) AS tf_t
         |  FROM (SELECT doc_id, toks[j] AS tok, j AS pos
         |        FROM docs, unnest(generate_series(1, len(toks))) AS u(j))
         |  GROUP BY 1, 2
         |),
         |gt AS MATERIALIZED (SELECT doc_id, tok, tf_t FROM g WHERE tf_t > 0),
         |ttq AS (
         |  SELECT tok, df FROM (
         |    SELECT tok, COUNT(*) AS df FROM gt WHERE length(tok) >= 4 GROUP BY tok
         |  ) ORDER BY df DESC, tok ASC LIMIT 1
         |),
         |dlt AS MATERIALIZED (SELECT doc_id, SUM(tf_t) AS dl FROM gt GROUP BY doc_id),
         |statst AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlt),
         |qt1t AS (
         |  SELECT ttq.tok, CAST(2 * n_docs + 2 AS BIGINT) AS num,
         |         CAST(2 * ttq.df + 1 AS BIGINT) AS den, avgdl
         |  FROM ttq, statst
         |),
         |${graft.functions.detlog.log2SqlCtes("qt1t", "num", "lgn", "qnt")},
         |${graft.functions.detlog.log2SqlCtes("qntfin", "den", "lgd", "qdt")},
         |qidft AS (SELECT tok, lgn - lgd AS idf, avgdl FROM qdtfin),
         |sct AS (
         |  SELECT gt.doc_id,
         |         q.idf * ((CAST(gt.tf_t AS DOUBLE) * 2.2e0) /
         |           (CAST(gt.tf_t AS DOUBLE) +
         |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl))) AS score_t
         |  FROM gt JOIN qidft q ON gt.tok = q.tok JOIN dlt dl ON gt.doc_id = dl.doc_id
         |),
         |pert AS (
         |  SELECT doc_id, ${graft.functions.detsum.sumDetSql("score_t", 9)} AS s_title
         |  FROM sct GROUP BY doc_id
         |),
         |qv AS (
         |  SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok ASC) AS r
         |  FROM (SELECT tok, COUNT(*) AS df FROM g WHERE length(tok) >= 4 GROUP BY tok)
         |),
         |qg AS (SELECT tok, df, r FROM qv WHERE r IN ($QLo, ${QLo + 1})),
         |dlb AS MATERIALIZED (SELECT doc_id, SUM(tf_b) AS dl FROM g GROUP BY doc_id),
         |statsb AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlb),
         |qt1b AS (
         |  SELECT qg.tok, qg.r, CAST(2 * n_docs + 2 AS BIGINT) AS num,
         |         CAST(2 * qg.df + 1 AS BIGINT) AS den, avgdl
         |  FROM qg, statsb
         |),
         |${graft.functions.detlog.log2SqlCtes("qt1b", "num", "lgn", "qnb")},
         |${graft.functions.detlog.log2SqlCtes("qnbfin", "den", "lgd", "qdb")},
         |qidfb AS (SELECT tok, r, lgn - lgd AS idf, avgdl FROM qdbfin),
         |scb AS (
         |  SELECT g.doc_id,
         |         (CASE WHEN q.r = ${QLo + 1} THEN 2.0e0 ELSE 1.0e0 END) *
         |         (q.idf * ((CAST(g.tf_b AS DOUBLE) * 2.2e0) /
         |           (CAST(g.tf_b AS DOUBLE) +
         |            1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * CAST(dl.dl AS DOUBLE) / q.avgdl)))) AS ws
         |  FROM g JOIN qidfb q ON g.tok = q.tok JOIN dlb dl ON g.doc_id = dl.doc_id
         |),
         |perg AS (
         |  SELECT doc_id, ${graft.functions.detsum.sumDetSql("ws", 9)} AS s_group
         |  FROM scb GROUP BY doc_id
         |),
         |exq AS (SELECT g.doc_id FROM g JOIN qv ON g.tok = qv.tok AND qv.r = $QHi),
         |fin AS (
         |  SELECT t.doc_id, t.s_title, b.s_group, t.s_title + b.s_group AS final
         |  FROM pert t JOIN perg b ON t.doc_id = b.doc_id
         |  WHERE t.doc_id NOT IN (SELECT doc_id FROM exq)
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, s_title, s_group, final
         |FROM fin QUALIFY rank <= 20""".stripMargin,
    "q100_span_containing" ->
      s"""WITH $spanPairCtes,
         |c AS (
         |  SELECT doc_id, bigs,
         |         list_filter(bigs, i -> len(list_filter(p3, p ->
         |           p >= i AND p <= list_min(list_filter(p2, y -> y > i)))) > 0) AS cont
         |  FROM b
         |)
         |SELECT doc_id, CAST(cont[1] AS BIGINT) AS first_start,
         |       CAST(len(bigs) AS BIGINT) AS n_big,
         |       CAST(len(cont) AS BIGINT) AS n_containing
         |FROM c WHERE len(cont) > 0
         |ORDER BY n_containing DESC, first_start ASC, doc_id ASC LIMIT 20""".stripMargin,
    "q101_span_within" ->
      s"""WITH $spanPairCtes,
         |c AS (
         |  SELECT doc_id, p3,
         |         list_filter(p3, p -> len(list_filter(bigs, i ->
         |           p >= i AND p <= list_min(list_filter(p2, y -> y > i)))) > 0) AS withins
         |  FROM b
         |)
         |SELECT doc_id, CAST(withins[1] AS BIGINT) AS first_pos,
         |       CAST(len(p3) AS BIGINT) AS n_little,
         |       CAST(len(withins) AS BIGINT) AS n_within
         |FROM c WHERE len(withins) > 0
         |ORDER BY n_within DESC, first_pos ASC, doc_id ASC LIMIT 20""".stripMargin,
    "q136_sparse_retrieval" ->
      s"""WITH $docsCte,
         |g AS (
         |  SELECT doc_id, tok, COUNT(*) AS tf_b FROM (
         |    SELECT doc_id, UNNEST(toks) AS tok FROM docs
         |  ) GROUP BY doc_id, tok
         |),
         |len4 AS (SELECT * FROM g WHERE length(tok) >= 4),
         |ranked AS (
         |  SELECT tok, COUNT(*) AS df,
         |         row_number() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS r
         |  FROM len4 GROUP BY tok
         |),
         |seeds AS (SELECT tok AS seed FROM ranked WHERE r BETWEEN $QLo AND ${QLo + 1}),
         |sd AS (SELECT seed, doc_id FROM g JOIN seeds ON g.tok = seeds.seed),
         |expn AS (
         |  SELECT * FROM (
         |    SELECT sd.seed, l.tok, COUNT(*) AS codoc,
         |           row_number() OVER (
         |             PARTITION BY sd.seed ORDER BY COUNT(*) DESC, l.tok ASC) AS er
         |    FROM sd JOIN len4 l ON sd.doc_id = l.doc_id
         |    GROUP BY sd.seed, l.tok
         |  ) WHERE er <= 8
         |),
         |wq AS (SELECT tok, CAST(SUM(codoc) AS BIGINT) AS w FROM expn GROUP BY tok),
         |scored AS (
         |  SELECT doc_id, CAST(SUM(w * tf_b) AS BIGINT) AS score, COUNT(*) AS n_terms
         |  FROM g JOIN wq ON g.tok = wq.tok GROUP BY doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, score, n_terms
         |FROM scored
         |QUALIFY rank <= 20""".stripMargin,
    "q134_terms_lookup" ->
      s"""WITH $docsCte,
         |lkdoc AS (SELECT toks FROM docs ORDER BY n_chars DESC, doc_id ASC LIMIT 1),
         |lk AS (
         |  SELECT list_sort(list_distinct(list_filter(toks, t -> length(t) >= 6)))[1:16] AS lk
         |  FROM lkdoc
         |),
         |h AS (
         |  SELECT * FROM (
         |    SELECT doc_id,
         |           CAST(len(list_intersect(list_distinct(toks), lk)) AS BIGINT) AS n_matched
         |    FROM docs, lk
         |  ) WHERE n_matched >= 1
         |),
         |t AS (SELECT COUNT(*) AS total_hits FROM h)
         |SELECT doc_id, n_matched, total_hits FROM h, t
         |ORDER BY doc_id ASC LIMIT 20""".stripMargin,
    "q135_script_query" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars FROM documents
        |  WHERE (n_chars * 7 + doc_id) % 13 = 0 AND n_chars >= 100
        |),
        |t AS (SELECT COUNT(*) AS total_hits FROM h)
        |SELECT doc_id, n_chars, total_hits FROM h, t
        |ORDER BY doc_id ASC LIMIT 20""".stripMargin,
    "q115_match_all" ->
      """WITH tot AS (SELECT COUNT(*) AS total_hits FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY doc_id ASC) AS BIGINT) AS rank,
        |       doc_id, 1.0e0 AS score, total_hits
        |FROM documents, tot
        |QUALIFY rank <= 20""".stripMargin,
    "q116_ids" ->
      """WITH ids AS (SELECT doc_id FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 3)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN ids ON d.doc_id = ids.doc_id
        |ORDER BY d.doc_id ASC""".stripMargin,
    "q118_constant_score" ->
      s"""WITH $docsCte,
         |$rankedVocabCte,
         |t1 AS (SELECT term FROM rvocab WHERE r = $QLo)
         |SELECT doc_id, 1.2e0 AS score
         |FROM docs, t1 WHERE list_contains(toks, term)
         |ORDER BY doc_id ASC LIMIT 20""".stripMargin,
    "q111_span_multi" ->
      s"""WITH $docsCte,
         |vocab AS (
         |  SELECT term, COUNT(*) AS df FROM (
         |    SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs
         |  ) GROUP BY term
         |),
         |pfx AS (
         |  SELECT q FROM (
         |    SELECT substring(term, 1, 1) AS q, COUNT(*) AS cnt FROM vocab GROUP BY 1
         |  ) ORDER BY cnt DESC, q ASC LIMIT 1
         |),
         |expn AS (
         |  SELECT list_sort(list(term)) AS exp FROM (
         |    SELECT v.term FROM vocab v, pfx p WHERE starts_with(v.term, p.q)
         |    ORDER BY v.df DESC, v.term ASC LIMIT 10
         |  )
         |),
         |m AS (
         |  SELECT doc_id,
         |         list_filter(generate_series(1, LEAST(10, len(toks))),
         |           i -> list_contains(exp, toks[i])) AS hits,
         |         len(list_distinct(list_filter(toks[1:10], t -> list_contains(exp, t)))) AS ntm
         |  FROM docs, expn
         |)
         |SELECT doc_id, CAST(hits[1] AS BIGINT) AS first_pos,
         |       CAST(len(hits) AS BIGINT) AS n_within,
         |       CAST(ntm AS BIGINT) AS n_terms_matched
         |FROM m WHERE len(hits) > 0
         |ORDER BY first_pos ASC, doc_id ASC LIMIT 20""".stripMargin,
    "q112_field_masking_span" ->
      s"""WITH $docsCte,
         |$rankedVocabCte,
         |tt AS (
         |  SELECT MIN(CASE WHEN r = 1 THEN term END) AS t1,
         |         MIN(CASE WHEN r = 2 THEN term END) AS t2
         |  FROM rvocab WHERE r <= 2
         |),
         |m AS (
         |  SELECT doc_id,
         |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t1 AND i <= 8) AS p1t,
         |         list_filter(generate_series(1, len(toks)), i -> toks[i] = t2) AS p2
         |  FROM docs, tt
         |),
         |c AS (
         |  SELECT doc_id, list_filter(p1t, i ->
         |    list_min(list_filter(p2, y -> y > i)) IS NOT NULL
         |    AND list_min(list_filter(p2, y -> y > i)) - i - 1 <= 5) AS spans
         |  FROM m
         |)
         |SELECT doc_id, CAST(spans[1] AS BIGINT) AS first_start,
         |       CAST(len(spans) AS BIGINT) AS n_spans
         |FROM c WHERE len(spans) > 0
         |ORDER BY n_spans DESC, first_start ASC, doc_id ASC LIMIT 20""".stripMargin,
    "q86_multi_match" ->
      s"""WITH $multiMatchFieldsCtes,
         |g AS (
         |  SELECT doc_id, s_body, s_title_boosted,
         |         greatest(s_body, s_title_boosted) + 0.5e0 * least(s_body, s_title_boosted) AS final
         |  FROM f
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, s_body, s_title_boosted, final
         |FROM g QUALIFY rank <= 20""".stripMargin,
    // most_fields = the SAME per-field CTE stack, SUM combine
    "q86b_multi_match_most_fields" ->
      s"""WITH $multiMatchFieldsCtes,
         |g AS (
         |  SELECT doc_id, s_body, s_title_boosted,
         |         s_body + s_title_boosted AS final
         |  FROM f
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, s_body, s_title_boosted, final
         |FROM g QUALIFY rank <= 20""".stripMargin,
    // phrase type: per-field Lucene phrase scoring (phraseFieldCtes),
    // dis_max with the type's default tie_breaker 0.0
    "q86c_multi_match_phrase" ->
      s"""WITH $docsCte,
         |$topBigramCtes,
         |docsb AS (SELECT d.*, top1.w1, top1.w2 FROM docs d, top1),
         |${phraseFieldCtes("_pb", "toks")},
         |${phraseFieldCtes("_pt", "toks[1:8]")},
         |f AS (
         |  SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id,
         |         COALESCE(b.score, 0.0e0) AS s_body,
         |         COALESCE(2.0e0 * t.score, 0.0e0) AS s_title_boosted
         |  FROM pper_pb b FULL OUTER JOIN pper_pt t ON b.doc_id = t.doc_id
         |),
         |g AS (
         |  SELECT doc_id, s_body, s_title_boosted,
         |         greatest(s_body, s_title_boosted) AS final
         |  FROM f
         |)
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, s_body, s_title_boosted, final
         |FROM g QUALIFY rank <= 20""".stripMargin,
    // cross_fields: term-centric blended statistics — the dedicated CTE
    // chain (crossFieldsCtes) shares the formula bodies with bm25CtesOver
    "q86d_multi_match_cross_fields" ->
      s"""WITH $crossFieldsCtes
         |SELECT CAST(row_number() OVER (ORDER BY final DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, n_terms_hit, final
         |FROM xper QUALIFY rank <= 20""".stripMargin,
    "q83_rrf" ->
      s"""WITH $bm25PerCtes,
         |rk1 AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r1
         |  FROM per
         |),
         |$lengthFactorCtes,
         |rk2 AS (
         |  SELECT per.doc_id,
         |         CAST(row_number() OVER (ORDER BY per.score * fv.factor DESC, per.doc_id ASC) AS BIGINT) AS r2
         |  FROM per JOIN fvfin fv ON per.doc_id = fv.doc_id
         |),
         |fu AS (
         |  SELECT rk1.doc_id, r1, r2,
         |         1.0e0 / (6.0e1 + CAST(r1 AS DOUBLE)) + 1.0e0 / (6.0e1 + CAST(r2 AS DOUBLE)) AS rrf
         |  FROM rk1 JOIN rk2 ON rk1.doc_id = rk2.doc_id
         |)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank,
         |       doc_id, r1, r2, rrf
         |FROM fu QUALIFY rank <= 20""".stripMargin,
    "q84_search_after" ->
      s"""WITH $bm25PerCtes,
         |rr AS (
         |  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM per
         |),
         |cr AS (
         |  -- sentinel cursor = the Spark side's explicit empty-page
         |  -- contract when fewer than 20 docs score
         |  SELECT *, COALESCE(MAX(CASE WHEN rank = 20 THEN score END) OVER (),
         |                     CAST('-infinity' AS DOUBLE)) AS c_score,
         |            COALESCE(MAX(CASE WHEN rank = 20 THEN doc_id END) OVER (),
         |                     -9223372036854775808) AS c_doc
         |  FROM rr
         |)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS page_rank,
         |       doc_id, n_terms_hit, score
         |FROM cr
         |WHERE score < c_score OR (score = c_score AND doc_id > c_doc)
         |QUALIFY page_rank <= 20""".stripMargin,
    "q82_highlight" ->
      s"""WITH $bm25PerCtes,
         |hits AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM per QUALIFY rank <= 20
         |),
         |qarr AS (SELECT list(term ORDER BY term ASC) AS qterms FROM rvocab WHERE r BETWEEN $QLo AND $QHi),
         |hl AS (
         |  SELECT hits.rank, d.doc_id, d.toks,
         |         list_filter(generate_series(1, len(toks)), i -> list_contains(qterms, toks[i]))[1] AS p
         |  FROM docs d JOIN hits ON d.doc_id = hits.doc_id, qarr
         |)
         |SELECT rank, doc_id, CAST(p AS BIGINT) AS frag_pos,
         |       -- COALESCE: DuckDB's array_to_string of an EMPTY slice is
         |       -- NULL (Spark's array_join is ''), which would null the
         |       -- whole fragment at p=1 or p=len
         |       trim(COALESCE(array_to_string(toks[greatest(1, p - 3):p - 1], ' '), '') ||
         |            ' <em>' || toks[p] || '</em> ' ||
         |            COALESCE(array_to_string(toks[p + 1:p + 3], ' '), '')) AS fragment
         |FROM hl""".stripMargin,
    "q63b_bigram_logprob" ->
      s"""WITH $docsCte,
         |mdocs AS (SELECT * FROM docs WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')),
         |big0 AS MATERIALIZED (
         |  SELECT g, COUNT(*) AS cvw FROM (
         |    SELECT toks[i] || ' ' || toks[i+1] AS g
         |    FROM mdocs, unnest(generate_series(1, len(toks) - 1)) AS t(i)
         |  ) GROUP BY g
         |),
         |${graft.functions.detlog.log2SqlCtes("big0", "cvw", "lgvw", "bg")},
         |ctx0 AS MATERIALIZED (
         |  SELECT string_split(g, ' ')[1] AS prev, CAST(SUM(cvw) AS BIGINT) AS cv
         |  FROM big0 GROUP BY 1
         |),
         |${graft.functions.detlog.log2SqlCtes("ctx0", "cv", "lgv", "cx")},
         |uni0 AS MATERIALIZED (
         |  SELECT tok, COUNT(*) AS cw FROM (SELECT UNNEST(toks) AS tok FROM mdocs) GROUP BY tok
         |),
         |u0 AS (SELECT tok, cw, cw + 1 AS cw1, 2 * (cw + 1) AS cw2 FROM uni0),
         |${graft.functions.detlog.log2SqlCtes("u0", "cw1", "lgw1", "uA")},
         |${graft.functions.detlog.log2SqlCtes("uAfin", "cw2", "lg2w", "uB")},
         |sc0 AS (SELECT CAST(SUM(cw) + COUNT(*) AS BIGINT) AS nv FROM uni0),
         |sc1 AS (SELECT nv, 5 * nv AS nv5 FROM sc0),
         |${graft.functions.detlog.log2SqlCtes("sc1", "nv", "lgnv", "sA")},
         |${graft.functions.detlog.log2SqlCtes("sAfin", "nv5", "lg5nv", "sB")},
         |sp AS (
         |  SELECT doc_id, source, toks[i] AS tok,
         |         CASE WHEN i > 1 THEN toks[i-1] END AS prev
         |  FROM docs, unnest(generate_series(1, len(toks))) AS t(i)
         |),
         |j AS (
         |  SELECT sp.doc_id, sp.source, sp.prev,
         |         COALESCE(u.lgw1, 0.0) AS lgw1, COALESCE(u.lg2w, 1.0) AS lg2w,
         |         b.lgvw, c.lgv
         |  FROM sp
         |  LEFT JOIN uBfin u ON sp.tok = u.tok
         |  LEFT JOIN bgfin b ON sp.prev || ' ' || sp.tok = b.g
         |  LEFT JOIN cxfin c ON sp.prev = c.prev
         |),
         |lp AS (
         |  SELECT doc_id, source,
         |         CASE WHEN prev IS NULL THEN lgw1 - s.lgnv
         |              WHEN lgvw IS NOT NULL THEN lgvw - lgv
         |              ELSE lg2w - s.lg5nv END AS lgp,
         |         CASE WHEN prev IS NOT NULL AND lgvw IS NULL THEN 1 ELSE 0 END AS bo
         |  FROM j, sBfin s
         |),
         |agg AS (
         |  SELECT doc_id, source, COUNT(*) AS n_tok, CAST(SUM(bo) AS BIGINT) AS n_backoff,
         |         ${graft.functions.detsum.sumDetSql("lgp", 9)} AS slg
         |  FROM lp GROUP BY doc_id, source
         |)
         |SELECT doc_id, source, n_tok, n_backoff,
         |       ${graft.functions.detsum.roundDetSql("(0.0 - slg) / CAST(n_tok AS DOUBLE)", 6)} AS xent
         |FROM agg""".stripMargin,
    "q65_more_like_this" ->
      s"""WITH $docsCte,
         |t AS (SELECT doc_id, UNNEST(list_distinct(toks)) AS term FROM docs),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM docs),
         |like_terms AS (
         |  SELECT t.term, floor(ln(n.n_docs / dfreq.df) * 1000000.0 + 0.5) / 1000000.0 AS w
         |  FROM t JOIN dfreq ON t.term = dfreq.term, n
         |  WHERE t.doc_id = 0
         |  ORDER BY w DESC, t.term ASC LIMIT 25
         |)
         |SELECT t.doc_id, COUNT(*) AS n_shared, ${graft.functions.detsum.sumDetSql("w", 9)} AS score
         |FROM t JOIN like_terms ON t.term = like_terms.term
         |WHERE t.doc_id <> 0
         |GROUP BY t.doc_id
         |ORDER BY score DESC, t.doc_id ASC LIMIT 10""".stripMargin,
    "q63_unigram_logprob" ->
      s"""WITH $docsCte,
         |t AS (SELECT doc_id, UNNEST(toks) AS tok FROM docs),
         |vocab AS MATERIALIZED (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
         |${graft.functions.detlog.log2SqlCtes("vocab", "c", "lg", "vlg")},
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM vocab),
         |${graft.functions.detlog.log2SqlCtes("tot", "tc", "lgt", "tlg")},
         |per AS (
         |  SELECT doc_id, COUNT(*) AS n_tok, ${graft.functions.detsum.sumDetSql("lg", 9)} AS slg
         |  FROM t JOIN vlgfin ON t.tok = vlgfin.tok GROUP BY doc_id
         |)
         |SELECT doc_id, n_tok, round(lgt - slg / CAST(n_tok AS DOUBLE), 6) AS xent
         |FROM per, tlgfin""".stripMargin,
    "q71_perplexity_buckets" ->
      s"""WITH $docsCte,
         |t AS (SELECT doc_id, source, UNNEST(toks) AS tok FROM docs),
         |vocab AS MATERIALIZED (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
         |${graft.functions.detlog.log2SqlCtes("vocab", "c", "lg", "vlg")},
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS tc FROM vocab),
         |${graft.functions.detlog.log2SqlCtes("tot", "tc", "lgt", "tlg")},
         |per AS (
         |  SELECT doc_id, source, COUNT(*) AS n_tok, ${graft.functions.detsum.sumDetSql("lg", 9)} AS slg
         |  FROM t JOIN vlgfin ON t.tok = vlgfin.tok GROUP BY doc_id, source
         |),
         |x AS MATERIALIZED (
         |  SELECT doc_id, source, lgt - slg / CAST(n_tok AS DOUBLE) AS xr FROM per, tlgfin
         |),
         |rk AS (SELECT xr, CAST(row_number() OVER (ORDER BY xr) AS BIGINT) AS gr
         |       FROM x WHERE xr IS NOT NULL),
         |kk AS (
         |  SELECT CAST(floor((n - 1) * 0.25e0) AS BIGINT) + 1 AS k1,
         |         (n - 1) * 0.25e0 - floor((n - 1) * 0.25e0) AS f1,
         |         CAST(floor((n - 1) * 0.75e0) AS BIGINT) + 1 AS k2,
         |         (n - 1) * 0.75e0 - floor((n - 1) * 0.75e0) AS f2
         |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x WHERE xr IS NOT NULL)
         |),
         |ev AS (
         |  SELECT MIN(CASE WHEN gr = k1 THEN xr END) AS v1,
         |         MIN(CASE WHEN gr = k1 + 1 THEN xr END) AS v1n,
         |         MIN(CASE WHEN gr = k2 THEN xr END) AS v2,
         |         MIN(CASE WHEN gr = k2 + 1 THEN xr END) AS v2n
         |  FROM rk, kk
         |),
         |e AS (
         |  SELECT v1 + f1 * (COALESCE(v1n, v1) - v1) AS e1,
         |         v2 + f2 * (COALESCE(v2n, v2) - v2) AS e2
         |  FROM ev, kk
         |)
         |SELECT source,
         |       CASE WHEN xr <= e1 THEN 'head' WHEN xr <= e2 THEN 'middle' ELSE 'tail' END AS bucket,
         |       COUNT(*) AS n_docs,
         |       round(${graft.functions.detsum.sumDetSql("xr", 9)} / COUNT(*), 6) AS mean_xent
         |FROM x, e GROUP BY 1, 2""".stripMargin,
    "q53_tfidf_top_terms" ->
      s"""WITH $docsCte,
         |terms AS (SELECT doc_id, UNNEST(toks) AS term FROM docs),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM docs),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS score
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term, n
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
         |  FROM scored
         |)
         |SELECT doc_id, term, score FROM ranked WHERE rn = 1""".stripMargin,
    "q49_stratified_sample" ->
      """WITH k AS (
        |  SELECT *, substring(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 2) AS hk
        |  FROM documents
        |)
        |SELECT source, COUNT(*) AS n_kept, MIN(doc_id) AS first_doc
        |FROM k
        |WHERE CASE WHEN source = 'src0' THEN hk < '40'
        |           WHEN source = 'src1' THEN hk < '80'
        |           ELSE TRUE END
        |GROUP BY source""".stripMargin,
    "q48b_pipeline_full" ->
      s"""WITH $docsCte,
         |scored AS (
         |  SELECT doc_id, source, text, toks, len(toks) AS n_tok,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
         |         round(LEAST(1.0, len(toks) / 100.0) * 0.5
         |               + (${stopSql(stopEn)} / len(toks)) * 0.3
         |               - (length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text)) * 0.2, 6) AS quality,
         |         ${stopSql(stopEn)} AS s_en
         |  FROM docs
         |),
         |kept AS (
         |  SELECT * FROM scored
         |  WHERE quality >= 0.25 AND s_en > 0
         |    AND n_tok >= 2 AND 1.0 - n_uniq / n_tok <= 0.6
         |    AND doc_id % 97 <> 0
         |),
         |benchsh AS (
         |  SELECT DISTINCT UNNEST(list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                   i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS bs
         |  FROM docs WHERE doc_id % 97 = 0
         |),
         |keptex AS (
         |  SELECT doc_id, UNNEST(list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                  i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS s
         |  FROM kept
         |),
         |contaminated AS (
         |  SELECT doc_id FROM keptex JOIN benchsh ON keptex.s = benchsh.bs
         |  GROUP BY doc_id HAVING COUNT(*) >= 3
         |),
         |decon AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |withfp AS (
         |  SELECT *, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp FROM decon
         |),
         |exact AS (
         |  SELECT * FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM withfp)
         |  WHERE doc_id = keep_id
         |),
         |shd AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                                              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
         |  FROM exact
         |),
         |s2 AS (SELECT doc_id, sh, len(sh) AS n FROM shd),
         |exx AS (SELECT doc_id, n, UNNEST(sh) AS s FROM s2),
         |keepsh AS (
         |  SELECT s FROM exx GROUP BY s
         |  HAVING COUNT(*) <= ${graft.operators.NgramJaccard.DefaultDfCap}
         |),
         |exxf AS (SELECT exx.* FROM exx JOIN keepsh USING (s)),
         |removed AS (
         |  SELECT DISTINCT b.doc_id AS doc_b
         |  FROM exxf a JOIN exxf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
         |  HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.5
         |)
         |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |       ${graft.functions.detsum.sumDetSql("quality", 6)} AS sum_quality
         |FROM exact WHERE doc_id NOT IN (SELECT doc_b FROM removed)
         |GROUP BY source""".stripMargin,
    "q48_pipeline_end2end" ->
      s"""WITH $docsCte,
         |scored AS (
         |  SELECT doc_id, source, text, toks, len(toks) AS n_tok,
         |         round(LEAST(1.0, len(toks) / 100.0) * 0.5
         |               + (${stopSql(stopEn)} / len(toks)) * 0.3
         |               - (length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text)) * 0.2, 6) AS quality,
         |         ${stopSql(stopEn)} AS s_en
         |  FROM docs
         |),
         |kept AS (SELECT * FROM scored WHERE quality >= 0.25 AND s_en > 0),
         |withfp AS (
         |  SELECT *, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp FROM kept
         |),
         |exact AS (
         |  SELECT * FROM (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keep_id FROM withfp)
         |  WHERE doc_id = keep_id
         |),
         |shd AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(toks) - 2),
         |                                              i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
         |  FROM exact
         |),
         |s2 AS (SELECT doc_id, sh, len(sh) AS n FROM shd),
         |exx AS (SELECT doc_id, n, UNNEST(sh) AS s FROM s2),
         |keepsh AS (
         |  SELECT s FROM exx GROUP BY s
         |  HAVING COUNT(*) <= ${graft.operators.NgramJaccard.DefaultDfCap}
         |),
         |exxf AS (SELECT exx.* FROM exx JOIN keepsh USING (s)),
         |removed AS (
         |  SELECT DISTINCT b.doc_id AS doc_b
         |  FROM exxf a JOIN exxf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
         |  HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.5
         |)
         |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |       ${graft.functions.detsum.sumDetSql("quality", 6)} AS sum_quality
         |FROM exact WHERE doc_id NOT IN (SELECT doc_b FROM removed)
         |GROUP BY source""".stripMargin,
    "q43_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |       substring(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 8) AS fp_short
        |FROM documents""".stripMargin)
}
