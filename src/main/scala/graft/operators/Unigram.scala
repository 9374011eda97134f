package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Artifacts

/** Unigram-language-model tokenizer TRAINING and encoding, distributed —
  * the SentencePiece family (Kudo 2018, "Subword Regularization: Improving
  * Neural Network Translation Models with Multiple Subword Candidates";
  * Kudo & Richardson 2018, SentencePiece), the tokenizer trained at least
  * as often as BPE in modern data pipelines. Sits next to [[Bpe]] as the
  * second trainer over the SAME vocab-sized word-frequency table.
  *
  * Deterministic miniature of the SentencePiece loop, chosen so a DuckDB
  * oracle can RELEARN the model end-to-end (the q66 discipline):
  *
  *   1. SEED: candidate pieces = every substring of length ≤ [[MaxPieceLen]]
  *      of every corpus word; count(p) = Σ_w freq(w)·occurrences(p, w).
  *      score(p) = lg2(count) − lg2(Σ counts) — [[graft.functions.detlog]]
  *      exact, so both engines hold bit-identical doubles.
  *   2. E-STEP (hard/Viterbi EM — SentencePiece's final encode rule):
  *      segment every word to maximize Σ score(piece), DP left to right,
  *      ties broken toward the SHORTER last piece (candidates scanned
  *      l = 1..MaxPieceLen, strict improvement wins).
  *   3. M-STEP + PRUNE: usage counts from the Viterbi segmentations
  *      (freq-weighted); keep the top [[KeepK]] multi-char pieces by
  *      (usage desc, piece asc) plus ALL single chars (the SentencePiece
  *      coverage guarantee that every word stays encodable); re-score with
  *      add-one smoothing: lg2(c+1) − lg2(Σ_kept (c+1)).
  *   4. FINAL ENCODE: Viterbi under the pruned scores — the shipped
  *      segmentation.
  *
  * Distributed shape (the [[Bpe]] discipline): the corpus is touched once
  * (the word-frequency aggregation); every training table after that is
  * vocab-bounded (228 seed pieces on the shipped corpus) and the only
  * driver exchanges are the two piece-score localizations — bounded by the
  * piece budget, the [[KMeans]] centroid-exchange contract. Encoding joins
  * the doc word stream against the broadcast word→pieces table.
  *
  * Determinism: scores are detlog dyadic-rational arithmetic, DP additions
  * associate left-to-right, and every ordering carries a total tiebreak —
  * the segmentation is a pure function of the corpus (partition layout
  * cannot change it; UnigramSpec pins a hand-computed example).
  *
  * Reference attribution: the reference plugin (es-8.18.2
  * DriftPlugin.java:29-34) has no tokenizer trainer — this operator is
  * mandated LLM-pipeline surface, not reference surface. */
object Unigram {

  /** Longest candidate piece. */
  val MaxPieceLen = 4

  /** Multi-char vocabulary budget after the prune. */
  val KeepK = 40

  /** Oracle unroll bound on word length; [[segmentations]] enforces it so a
    * corpus the SQL replay cannot cover fails loudly (shipped corpus max
    * word length: 8). */
  val MaxWordLen = 12

  /** The corpus word-frequency table — the [[Bpe.model]] derivation. */
  def words(spark: SparkSession, d: String): DataFrame =
    graft.queries.Tables(spark, d, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Seed candidate counts: every ≤MaxPieceLen substring, freq-weighted. */
  private def seedCounts(words: DataFrame): DataFrame =
    words
      .withColumn("l", explode(sequence(lit(1), least(lit(MaxPieceLen), length(col("word"))))))
      .withColumn("st", explode(sequence(lit(1), length(col("word")) - col("l") + lit(1))))
      .select(expr("substr(word, st, l)").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** score = lg2(cnt) − lg2(Σ cnt) over a (piece, cnt) table, detlog-exact. */
  private def scores(counts: DataFrame): DataFrame = {
    import graft.functions.detlog
    val withLg = detlog.withLog2(counts, "cnt", "lgc")
    val tot = detlog.withLog2(counts.agg(sum(col("cnt")).as("tot")), "tot", "lgtot")
    withLg.crossJoin(broadcast(tot.select(col("lgtot"))))
      .select(col("piece"), (col("lgc") - col("lgtot")).as("score"))
  }

  /** Viterbi segmentation of one word under a piece-score map: maximize the
    * left-to-right sum of piece scores; at each end position candidates are
    * scanned l = 1..MaxPieceLen with STRICT improvement, so ties keep the
    * shortest last piece (the oracle's ORDER BY score DESC, l ASC). */
  private[graft] def viterbi(word: String, score: collection.Map[String, Double]): Seq[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1) // chosen piece length at each end
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(MaxPieceLen, j)) {
        if (best(j - l) != Double.NegativeInfinity) {
          score.get(word.substring(j - l, j)) match {
            case Some(s) =>
              val cand = best(j - l) + s
              if (cand > best(j)) { best(j) = cand; back(j) = l }
            case None => ()
          }
        }
        l += 1
      }
      j += 1
    }
    require(back(n) > 0 || n == 0, s"unsegmentable word '$word' (single-char coverage lost)")
    var at = n
    var acc = List.empty[String]
    while (at > 0) { val l = back(at); acc = word.substring(at - l, at) :: acc; at -= l }
    acc
  }

  /** One E-step: word → its Viterbi segmentation under `scoreMap`. */
  private def segment(words: DataFrame, scoreMap: Map[String, Double]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.select(col("word"), col("freq").cast("long")).as[(String, Long)]
      .map { case (w, f) => (w, f, viterbi(w, scoreMap)) }
      .toDF("word", "freq", "pieces")
  }

  /** Localize a vocab-bounded (piece, score) frame to the driver — the
    * [[graft.queries.Tables]].localize contract (piece budget ≤ seed-piece
    * count, never corpus-sized). */
  private def localize(scored: DataFrame): Map[String, Double] =
    scored.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  /** The trained model: final (pruned, smoothed) piece scores per dataset —
    * steps 1-3 of the loop, train-once like [[Bpe.model]]. */
  def model(spark: SparkSession, d: String): Map[String, Double] =
    Artifacts(spark, d, "unigram.scores") {
      val w = words(spark, d).localCheckpoint(true)
      // 1. seed scores
      val s1 = localize(scores(seedCounts(w)))
      // 2. E-step under the seed model
      val seg1 = segment(w, s1)
      // 3. M-step usage counts + prune + smoothed re-score
      val usage = seg1
        .select(explode(col("pieces")).as("piece"), col("freq"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      val multi = usage.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc).limit(KeepK)
      val singles = seedCounts(w).filter(length(col("piece")) === 1)
        .select(col("piece"))
        .join(usage, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val kept = multi.select(col("piece"), col("cnt")).union(singles)
        .select(col("piece"), (col("cnt") + lit(1L)).as("cnt"))
      val s2 = localize(scores(kept))
      graft.queries.Tables.freeCheckpoint(w)
      s2
    }

  /** Train-once final segmentation table (word, freq, pieces) per dataset —
    * the tokenizer-artifact shape, cached like [[Bpe.model]]. */
  def segmentations(spark: SparkSession, d: String): DataFrame =
    Artifacts(spark, d, "unigram.segmentations") {
      val w = words(spark, d).localCheckpoint(true)
      val maxLen = w.agg(max(length(col("word")))).collect().head.getInt(0)
      require(maxLen <= MaxWordLen,
        s"corpus word length $maxLen exceeds the oracle's $MaxWordLen-step Viterbi unroll")
      // 4. final encode under the pruned model
      val fin = segment(w, model(spark, d)).localCheckpoint(true)
      graft.queries.Tables.freeCheckpoint(w)
      fin
    }

  // ------------------------------------------------- persistence ----------
  // The tokenizer-artifact shape (the Bpe.save/load discipline): the model
  // IS the pruned piece-score table — ≤ KeepK + |alphabet| rows of
  // (piece, score) — so parquet is both storage and interchange; encode
  // anywhere = Viterbi under the installed scores.

  /** Persist the trained model (training first if absent). The piece-budget
    * hyperparameters ride along so [[load]] can refuse a mismatched
    * install (the Bpe n_merges contract). */
  def save(spark: SparkSession, d: String, dir: String): Unit = {
    import spark.implicits._
    model(spark, d).toSeq.toDF("piece", "score")
      .withColumn("keep_k", lit(KeepK))
      .withColumn("max_piece_len", lit(MaxPieceLen))
      .repartition(1) // vocab-bounded rows — one file IS the artifact
      .write.mode("overwrite").parquet(dir)
  }

  /** Install a saved model for dataset `d`: encodes then run with ZERO
    * training jobs, byte-identical to encode-after-train (spec-pinned).
    * Refuses an artifact trained under different piece budgets — installing
    * it would silently segment with the wrong search space. */
  def load(spark: SparkSession, d: String, dir: String): Unit = {
    val rows = spark.read.parquet(dir)
      .select(col("piece"), col("score"), col("keep_k").cast("int"), col("max_piece_len").cast("int"))
      .collect()
    require(rows.nonEmpty, s"no unigram model at $dir")
    require(rows.forall(r => r.getInt(2) == KeepK && r.getInt(3) == MaxPieceLen),
      s"unigram model at $dir was trained under different piece budgets " +
        s"(${rows.head.getInt(2)}/${rows.head.getInt(3)}, expected $KeepK/$MaxPieceLen)")
    Artifacts.put(spark, d, "unigram.scores", rows.map(r => r.getString(0) -> r.getDouble(1)).toMap)
    // the segmentation frame was encoded under the displaced scores
    Artifacts.drop(spark, d, Seq("unigram.segmentations"))
  }

  /** Test hook: drop trained models. */
  def reset(): Unit = Artifacts.dropAll("unigram.")
}
