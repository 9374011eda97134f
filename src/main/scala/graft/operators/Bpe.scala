package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Artifacts

/** Byte-pair-encoding tokenizer TRAINING and encoding, distributed
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units" — the public BPE algorithm every modern LLM tokenizer
  * descends from).
  *
  * Distributed shape: training never touches the corpus after the first
  * aggregation — it runs on the WORD-FREQUENCY table (vocab-sized, orders of
  * magnitude smaller than the corpus at any scale). Each merge round is one
  * pair-count aggregation (map-side partial: the explode collapses before
  * the shuffle) plus one narrow re-segmentation map; the only driver
  * exchange per round is the single winning pair — the same bounded-payload
  * discipline as [[KMeans]]'s centroid exchange. Encoding broadcasts the
  * ≤nMerges merge table and maps each partition independently.
  *
  * Determinism: the winning pair tiebreaks on (count desc, left asc,
  * right asc), so the merge sequence is a pure function of the corpus —
  * partition layout cannot change it (spec-pinned). */
object Bpe {

  /** One learned merge: at `rank`, adjacent symbols (left, right) fuse. */
  case class Merge(rank: Int, left: String, right: String)

  /** Training working-set row (public: Catalyst's codegen'd encoder must
    * instantiate it). */
  case class WordRow(freq: Long, syms: Seq[String])

  /** Train `nMerges` merges from a (word, freq) table. Stops early when no
    * adjacent pair occurs at least `minFreq` times. The merge list is the
    * model — bounded by nMerges, safe to hold on the driver/broadcast. */
  def train(words: DataFrame, nMerges: Int, minFreq: Long = 2L): Seq[Merge] = {
    val spark = words.sparkSession
    import spark.implicits._
    var cur: Dataset[WordRow] = words
      .select(col("freq").cast("long"), split(col("word"), "").as("syms"))
      .as[WordRow]
      .localCheckpoint(true)
    var prev = cur
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      // pair counts: explode adjacent pairs, weight by word freq. The
      // groupBy partial-aggregates map-side; only (pair, count) shuffles.
      val top = cur
        .flatMap(w => w.syms.iterator.zip(w.syms.iterator.drop(1)).map(p => (p._1, p._2, w.freq)))
        .toDF("l", "r", "freq")
        .groupBy(col("l"), col("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty || top(0).getLong(2) < minFreq) done = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += Merge(rank, l, r)
        cur = cur.map(w => WordRow(w.freq, mergeOnce(w.syms, l, r)))
        rank += 1
        // keep lineage flat across many rounds — but never on the final
        // round, where the eager materialization would go entirely unread
        if (rank % 8 == 0 && rank < nMerges) {
          val next = cur.localCheckpoint(true)
          graft.queries.Tables.freeCheckpoint(prev.toDF())
          prev = next
          cur = next
        }
      }
    }
    graft.queries.Tables.freeCheckpoint(prev.toDF())
    merges.result()
  }

  /** One leftmost-greedy merge pass: every adjacent (l, r) fuses. */
  private[graft] def mergeOnce(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    val n = syms.length
    while (i < n) {
      if (i + 1 < n && syms(i) == l && syms(i + 1) == r) { out += (l + r); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Encode one word with a trained merge table: repeatedly apply the
    * LOWEST-rank merge present until none applies (the standard BPE encode
    * order — merge priority, not position). */
  def encodeWord(word: String, rankOf: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = word.split("").toSeq
    var continue = syms.length > 1
    while (continue) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val rk = rankOf.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < best) { best = rk; bi = i }
        i += 1
      }
      if (bi < 0) continue = false
      else {
        val m = merges(syms, bi)
        syms = m
        if (syms.length < 2) continue = false
      }
    }
    syms
  }

  private def merges(syms: Seq[String], at: Int): Seq[String] =
    (syms.take(at) :+ (syms(at) + syms(at + 1))) ++ syms.drop(at + 2)

  /** Tokenize documents with a trained model: one row per doc with its
    * subword sequence. The merge table broadcasts inside the closure
    * (≤nMerges entries); every partition encodes independently. */
  def tokenize(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rankOf = merges.map(m => (m.left, m.right) -> m.rank).toMap
    docs.select(col("doc_id").cast("long"), col("toks"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        // per-partition word memo: token/type ratio is 10-100× under Zipf,
        // so encoding each DISTINCT word once per partition removes almost
        // all of the O(len²) merge-loop work
        val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
        it.map { case (id, toks) =>
          (id, toks.filter(_.nonEmpty)
            .flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, rankOf))))
        }
      }
      .toDF("doc_id", "subwords")
  }

  /** Train-once model per dataset (the tokenizer-artifact shape: a
    * tokenizer is trained once and shipped with the pipeline). */
  def model(spark: SparkSession, d: String, nMerges: Int): Seq[Merge] =
    Artifacts(spark, d, s"bpe.merges#$nMerges") {
      val words = graft.queries.Tables(spark, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word"))
        .agg(count(lit(1)).as("freq"))
      train(words, nMerges)
    }

  /** Test hook: drop trained models. */
  def reset(): Unit = Artifacts.dropAll("bpe.")

  // ------------------------------------------------- persistence ----------
  // The tokenizer-artifact shape: a model is TRAINED once and shipped with
  // the pipeline (the VecIndex discipline). The merge table is tiny —
  // `nMerges` rows of (rank, left, right) — so parquet is both the storage
  // and the interchange format; rank order is the model, so load sorts.

  /** Persist a trained model (training it first if absent) for dataset `d`
    * at `nMerges` merges. The training budget is stored alongside the rows
    * so [[load]] can refuse a mismatched install. */
  def save(spark: SparkSession, d: String, nMerges: Int, dir: String): Unit = {
    import spark.implicits._
    model(spark, d, nMerges).toDF("rank", "left", "right")
      .withColumn("n_merges", lit(nMerges))
      .repartition(1) // nMerges rows — one file IS the artifact
      .write.mode("overwrite").parquet(dir)
  }

  /** Install a saved model for dataset `d` — encodes then run with no
    * training jobs; byte-identical to encoding after train (spec-pinned).
    * Refuses an artifact trained at a different merge budget: installing it
    * under the wrong cache key would silently tokenize with the wrong model
    * (a merge table can be legitimately SHORTER than its budget via the
    * minFreq early stop, so the row count alone cannot distinguish). */
  def load(spark: SparkSession, d: String, nMerges: Int, dir: String): Unit = {
    import spark.implicits._
    val rows = spark.read.parquet(dir)
      .select(col("rank").cast("int"), col("left"), col("right"), col("n_merges").cast("int"))
      .as[(Int, String, String, Int)]
      .collect()
    require(rows.nonEmpty, s"no BPE model at $dir")
    val budgets = rows.map(_._4).distinct
    require(budgets.sameElements(Array(nMerges)),
      s"BPE model at $dir was trained with n_merges=${budgets.mkString(",")}, not $nMerges")
    val merges = rows.sortBy(_._1).map { case (rank, l, r, _) => Merge(rank, l, r) }.toSeq
    Artifacts.put(spark, d, s"bpe.merges#$nMerges", merges)
  }
}
