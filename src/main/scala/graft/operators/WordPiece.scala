package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Artifacts

/** WordPiece tokenizer TRAINING and encoding, distributed — the THIRD
  * trainer family next to [[Bpe]] (merge-by-count) and [[Unigram]]
  * (prune-by-likelihood): merge-by-LIKELIHOOD (Schuster & Nakajima 2012,
  * "Japanese and Korean voice search"; the BERT tokenizer, as published in
  * Devlin et al. 2019 and the open WordPiece trainers that reproduce it).
  *
  * Training is the BPE loop with a different argmax: each round fuses the
  * adjacent pair maximizing count(l,r) / (count(l)·count(r)) — the
  * language-model-likelihood gain of the merge — instead of the raw pair
  * count. Non-initial symbols carry the `##` continuation marker, so
  * position-in-word is part of the symbol identity (the BERT convention);
  * fusing (l, ##r) yields l+r (the marker stays only on the piece start).
  *
  * Encoding is NOT merge-replay (the BPE/WordPiece asymmetry): WordPiece
  * encodes by greedy longest-match-first (MaxMatch) against the final
  * VOCABULARY — seed symbols plus every merge product — matching `##`
  * pieces at non-initial positions.
  *
  * Distributed shape (the [[Bpe]] discipline): training never touches the
  * corpus after the first word-frequency aggregation; each round is two
  * vocab-sized aggregations (pair counts + symbol counts, both map-side
  * partial) and the only per-round driver exchange is the single winning
  * pair. The argmax score is one correctly-rounded IEEE division of exact
  * integers (cnt a long; cl·cr computed in Decimal(38,0) so it cannot wrap
  * even when symbol counts push the product past 2^63 — the DuckDB oracle
  * computes the same product in HUGEINT), so the oracle reproduces the
  * ranking bit-for-bit; ties break (l asc, right asc).
  * Encoding broadcasts the vocab (seed alphabet + nMerges entries) inside
  * the closure and maps each partition independently with a per-partition
  * distinct-word memo.
  *
  * Reference attribution: the reference plugin (es-8.18.2
  * DriftPlugin.java:29-34) has no tokenizer trainer — this operator is
  * mandated LLM-pipeline surface, not reference surface. */
object WordPiece {

  /** One learned merge: at `rank`, adjacent (left, right) fuse into
    * `left + right.drop(2)` (the `##` marker is consumed). `right` always
    * carries `##` — a pair's right element is never word-initial. */
  case class Merge(rank: Int, left: String, right: String) {
    def token: String = left + right.drop(2)
  }

  /** Trained model: the final vocabulary (seed symbols + merge products,
    * `##`-marked) and the longest piece TEXT length (match bound). */
  case class Model(vocab: Set[String], maxTokenLen: Int, nMerges: Int)

  /** Training working-set row (public: Catalyst's codegen'd encoder must
    * instantiate it). */
  case class WpRow(freq: Long, syms: Seq[String])

  /** Seed segmentation of one word: first char plain, the rest `##`-marked. */
  private[graft] def seedSyms(word: String): Seq[String] =
    word.substring(0, 1) +: word.substring(1).map(c => "##" + c)

  /** Train `nMerges` merges from a (word, freq) table. Stops early when no
    * adjacent pair occurs at least `minFreq` times. Returns the merge list
    * AND the seed alphabet (both model-sized, safe on the driver). */
  def train(words: DataFrame, nMerges: Int, minFreq: Long = 2L): (Seq[Merge], Set[String]) = {
    val spark = words.sparkSession
    import spark.implicits._
    var cur: Dataset[WpRow] = words
      .select(col("freq").cast("long"), col("word"))
      .as[(Long, String)]
      .map { case (f, w) => WpRow(f, seedSyms(w)) }
      .localCheckpoint(true)
    var prev = cur
    // the seed alphabet is dictionary-bounded (≤ 2·|charset|) — the
    // Tables.localize contract, never corpus-sized
    val alphabet = cur.flatMap(_.syms.iterator).distinct().collect().toSet
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      // pair counts AND current symbol counts — two vocab-sized partial
      // aggregations; only (pair, cnt) / (sym, cnt) rows shuffle
      val pairs = cur
        .flatMap(w => w.syms.iterator.zip(w.syms.iterator.drop(1)).map(p => (p._1, p._2, w.freq)))
        .toDF("l", "r", "freq")
        .groupBy(col("l"), col("r"))
        .agg(sum(col("freq")).as("cnt"))
      val symCnt = cur
        .flatMap(w => w.syms.iterator.map(s => (s, w.freq)))
        .toDF("sym", "freq")
        .groupBy(col("sym"))
        .agg(sum(col("freq")).as("c"))
      // likelihood score = cnt / (c(l)·c(r)): ONE correctly-rounded double
      // division of exact longs (both engines bit-identical), tiebreak
      // (l asc, r asc) — the winning pair is a pure function of the corpus
      val top = pairs
        .join(broadcast(symCnt.select(col("sym").as("l"), col("c").as("cl"))), Seq("l"))
        .join(broadcast(symCnt.select(col("sym").as("r"), col("c").as("cr"))), Seq("r"))
        .filter(col("cnt") >= minFreq)
        // cl·cr in Decimal(38,0), not long·long: a very large corpus can
        // push the product past 2^63, where the long form wraps SILENTLY
        // while the DuckDB oracle's HUGEINT stays exact and the argmax
        // diverges. Decimal keeps the product exact to 10^38 (~10^6× the
        // 100TB-scale symbol-count bound) and the decimal→double cast is
        // correctly rounded like DuckDB's hugeint→double.
        .withColumn("score", col("cnt").cast("double") /
          (col("cl").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            col("cr").cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double"))
        .orderBy(col("score").desc, col("l").asc, col("r").asc)
        .limit(1)
        .select(col("l"), col("r"))
        .collect()
      if (top.isEmpty) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += Merge(rank, l, r)
        cur = cur.map(w => WpRow(w.freq, mergeOnce(w.syms, l, r)))
        rank += 1
        if (rank % 8 == 0 && rank < nMerges) {
          val next = cur.localCheckpoint(true)
          graft.queries.Tables.freeCheckpoint(prev.toDF())
          prev = next
          cur = next
        }
      }
    }
    graft.queries.Tables.freeCheckpoint(prev.toDF())
    (merges.result(), alphabet)
  }

  /** One leftmost-greedy merge pass: every adjacent (l, r) fuses into
    * l + r-without-`##` (a fuse can never create a new (l, r) occurrence —
    * the fused symbol is strictly longer than both halves). */
  private[graft] def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val n = syms.length
    while (i < n) {
      if (i + 1 < n && syms(i) == l && syms(i + 1) == r) { out += (l + r.drop(2)); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Greedy longest-match-first (MaxMatch) encode of one word: at each
    * position take the LONGEST vocab piece matching there (`##`-marked
    * after the start). Seed single-char coverage guarantees progress for
    * any word over the training charset. */
  def encodeWord(word: String, m: Model): Seq[String] = {
    val out = Seq.newBuilder[String]
    var pos = 0
    val n = word.length
    while (pos < n) {
      val mark = if (pos == 0) "" else "##"
      var len = math.min(m.maxTokenLen, n - pos)
      var hit = -1
      while (len >= 1 && hit < 0) {
        if (m.vocab.contains(mark + word.substring(pos, pos + len))) hit = len
        else len -= 1
      }
      require(hit > 0, s"unencodable word '$word' at $pos (charset coverage lost)")
      out += (mark + word.substring(pos, pos + hit))
      pos += hit
    }
    out.result()
  }

  /** Tokenize documents with a trained model: one row per doc with its
    * `##`-marked subword sequence. The vocab broadcasts inside the closure
    * (seed alphabet + ≤nMerges entries); every partition encodes
    * independently with a distinct-word memo (the [[Bpe.tokenize]] shape). */
  def tokenize(docs: DataFrame, m: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.map { case (id, toks) =>
          (id, toks.filter(_.nonEmpty)
            .flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, m))))
        }
      }
      .toDF("doc_id", "subwords")
  }

  private def modelOf(merges: Seq[Merge], alphabet: Set[String], nMerges: Int): Model = {
    val vocab = alphabet ++ merges.map(_.token)
    // match bound = longest piece TEXT (marker stripped)
    val maxLen = vocab.map(p => if (p.startsWith("##")) p.length - 2 else p.length).max
    Model(vocab, maxLen, nMerges)
  }

  /** Train-once model per dataset (the tokenizer-artifact shape). */
  def model(spark: SparkSession, d: String, nMerges: Int): Model =
    Artifacts(spark, d, s"wordpiece.model#$nMerges") {
      val w = Unigram.words(spark, d)
      // fail LOUDLY like Unigram.segmentations: the q120 oracle unrolls
      // only MaxWordLen MaxMatch steps and keeps rows reaching
      // pos = length(word), so a longer word would be SILENTLY dropped
      // from the oracle join while this encoder still tokenizes it — a
      // hash mismatch with no diagnostic instead of this clear error
      val maxLen = w.agg(max(length(col("word")))).collect().head.getInt(0)
      require(maxLen <= Unigram.MaxWordLen,
        s"corpus word length $maxLen exceeds the q120 oracle's ${Unigram.MaxWordLen}-step MaxMatch unroll")
      val (merges, alphabet) = train(w, nMerges)
      modelOf(merges, alphabet, nMerges)
    }

  /** Test hook: drop trained models. */
  def reset(): Unit = Artifacts.dropAll("wordpiece.")

  // ------------------------------------------------- persistence ----------
  // The tokenizer-artifact shape (the Bpe.save/load discipline): the model
  // IS the vocabulary — |alphabet| + ≤nMerges rows — so parquet is both
  // storage and interchange; encode anywhere = MaxMatch over the install.

  /** Persist the trained model (training first if absent); the merge budget
    * rides along so [[load]] can refuse a mismatched install. */
  def save(spark: SparkSession, d: String, nMerges: Int, dir: String): Unit = {
    import spark.implicits._
    val m = model(spark, d, nMerges)
    m.vocab.toSeq.sorted.toDF("piece")
      .withColumn("n_merges", lit(nMerges))
      .repartition(1) // vocab-bounded rows — one file IS the artifact
      .write.mode("overwrite").parquet(dir)
  }

  /** Install a saved model for dataset `d`: encodes then run with ZERO
    * training jobs, byte-identical to encode-after-train (spec-pinned).
    * Refuses an artifact trained at a different merge budget. */
  def load(spark: SparkSession, d: String, nMerges: Int, dir: String): Unit = {
    val rows = spark.read.parquet(dir)
      .select(col("piece"), col("n_merges").cast("int"))
      .collect()
    require(rows.nonEmpty, s"no WordPiece model at $dir")
    val budgets = rows.map(_.getInt(1)).distinct
    require(budgets.sameElements(Array(nMerges)),
      s"WordPiece model at $dir was trained with n_merges=${budgets.mkString(",")}, not $nMerges")
    val vocab = rows.map(_.getString(0)).toSet
    Artifacts.put(spark, d, s"wordpiece.model#$nMerges", modelOf(Nil, vocab, nMerges))
  }
}
