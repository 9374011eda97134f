package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** BPE training/encoding contracts: the merge sequence is hand-computable
  * on a tiny corpus, independent of partition layout, and encoding is
  * lossless (subwords concatenate back to the word). */
class BpeSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  test("training learns the hand-computed merge sequence") {
    import spark.implicits._
    // words {abab:2, abc:1}: pair counts round 1 — (a,b)=5, (b,a)=2,
    // (b,c)=1 → merge (a,b). Round 2 — (ab,ab)=2, (ab,c)=1 → merge
    // (ab,ab). Round 3 — (ab,c)=1 < minFreq=2? no: use minFreq=1 so the
    // full sequence (a,b),(ab,ab),(ab,c) is learned, then training stops
    // with no pairs left.
    val words = Seq(("abab", 2L), ("abc", 1L)).toDF("word", "freq")
    val merges = Bpe.train(words, nMerges = 10, minFreq = 1L)
    assert(merges.map(m => (m.left, m.right)) == Seq(("a", "b"), ("ab", "ab"), ("ab", "c")))
    assert(merges.map(_.rank) == Seq(0, 1, 2))
  }

  test("merge sequence is independent of partition layout") {
    import spark.implicits._
    val words = queries.Tables(spark, sf, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val one = Bpe.train(words.coalesce(1), nMerges = 12)
    val many = Bpe.train(words.repartition(7, col("word")), nMerges = 12)
    assert(one == many && one.size == 12)
  }

  test("encodeWord applies merges by PRIORITY, not position") {
    val ranks = Map(("a", "b") -> 0, ("ab", "ab") -> 1, ("ab", "c") -> 2)
    assert(Bpe.encodeWord("ababab", ranks) == Seq("abab", "ab"))
    assert(Bpe.encodeWord("abcx", ranks) == Seq("abc", "x"))
    assert(Bpe.encodeWord("zq", ranks) == Seq("z", "q"))
    assert(Bpe.encodeWord("a", ranks) == Seq("a"))
  }

  test("save/load round-trips the model: encode after load is identical to encode after train") {
    import spark.implicits._
    val docs = queries.Tables(spark, sf, "documents")
      .withColumn("toks", graft.functions.text.tokens(col("text")))
    val trained = Bpe.model(spark, sf, nMerges = 40)
    val want = Bpe.tokenize(docs, trained)
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    val dirPath = queries.IngestQueries.scratchDir("graft_bpe")
    try {
      Bpe.save(spark, sf, 40, dirPath.toString)
      Bpe.reset() // drop the trained model: load must be the only source
      Bpe.load(spark, sf, 40, dirPath.toString)
      val loaded = Bpe.model(spark, sf, nMerges = 40) // cache hit, no training
      assert(loaded == trained, "merge table (ranks + pairs) lost in the round trip")
      val got = Bpe.tokenize(docs, loaded)
        .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
      assert(got == want, "encode after load diverged from encode after train")
      // an artifact trained at a different merge budget must be refused,
      // not silently installed under the wrong cache key
      val ex = intercept[IllegalArgumentException] {
        Bpe.load(spark, sf, 80, dirPath.toString)
      }
      assert(ex.getMessage.contains("n_merges"))
    } finally {
      Bpe.reset()
    }
  }

  test("encode equals the training's own final segmentation (the q66 oracle identity)") {
    import spark.implicits._
    // The DuckDB oracle replays training and then uses the FINAL round's
    // word→syms table as the encode. The rank-monotonicity argument behind
    // that has a theoretical hole (the same symbol string reachable via two
    // merge paths — see bpeSql's scaladoc), so this spec pins the identity
    // EXPLICITLY over the full vocab of every corpus the oracle certifies:
    // rank-order mergeOnce passes must equal priority-order encodeWord for
    // every word.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val words = queries.Tables(spark, dir, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
        .distinct()
        .as[String].collect()
      val merges = Bpe.model(spark, dir, nMerges = 40)
      val rankOf = merges.map(m => (m.left, m.right) -> m.rank).toMap
      words.foreach { w =>
        var syms: Seq[String] = w.split("").toSeq
        merges.foreach(m => syms = Bpe.mergeOnce(syms, m.left, m.right))
        assert(syms == Bpe.encodeWord(w, rankOf),
          s"word '$w' ($dir): rank-order training segmentation diverged from priority encode")
      }
    }
  }

  test("mergeOnce equals single-pass non-overlapping string replace (the oracle's replace() mirror)") {
    // The oracle represents a segmentation as chr(1)+sym+chr(2) units and
    // merges with ONE replace() call; that is only mergeOnce if a single
    // left-to-right non-overlapping pass reaches the fixpoint. Adversarial
    // fixtures: self-overlap (l==r), chained occurrences, mid-symbol bytes.
    def viaReplace(syms: Seq[String], l: String, r: String): Seq[String] = {
      val seg = syms.map(s => "" + s + "").mkString
      // Java's String.replace is the same leftmost non-overlapping scan as
      // DuckDB's replace()
      val merged = seg.replace("" + l + "" + r + "", "" + l + r + "")
      merged.stripPrefix("").stripSuffix("").split("").toSeq
    }
    val cases = Seq(
      (Seq("a", "a", "a"), "a", "a"),
      (Seq("a", "a", "a", "a"), "a", "a"),
      (Seq("a", "a", "a", "a", "a"), "a", "a"),
      (Seq("a", "b", "b"), "a", "b"),
      (Seq("a", "a", "b"), "a", "b"),
      (Seq("ab", "c"), "b", "c"), // mid-symbol 'b c' must NOT match
      (Seq("x", "ab", "ab", "y"), "ab", "ab"),
      (Seq("e", "r", "e", "r"), "e", "r"))
    cases.foreach { case (syms, l, r) =>
      assert(viaReplace(syms, l, r) == Bpe.mergeOnce(syms, l, r),
        s"replace-mirror diverged on $syms merging ($l,$r)")
    }
  }

  test("q66b fertility metrics are internally consistent with q66") {
    val fert = SparkEntry.queries("q66b_bpe_fertility")(spark, sf).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_words"),
        "a word encodes to at least one subword")
      assert(r.getAs[Double]("fertility") >= 1.0)
      assert(r.getAs[Double]("chars_per_subword") >= 1.0)
    }
    // the per-source subword totals must agree with q66's own count
    val q66 = SparkEntry.queries("q66_bpe_tokenize")(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_subwords")).toMap
    fert.foreach { r =>
      assert(r.getAs[Long]("n_subwords") == q66(r.getAs[String]("source")),
        s"source ${r.getAs[String]("source")}: q66b and q66 disagree on n_subwords")
    }
  }

  test("tokenization is lossless and the pipeline query aggregates it") {
    import spark.implicits._
    val docs = queries.Tables(spark, sf, "documents")
      .withColumn("toks", graft.functions.text.tokens(col("text")))
    val model = Bpe.model(spark, sf, nMerges = 40)
    assert(model.size == 40, s"expected a full 40-merge model, got ${model.size}")
    val sub = Bpe.tokenize(docs, model)
    val joined = docs.select(col("doc_id"), col("toks")).join(sub, "doc_id")
      .as[(Long, Seq[String], Seq[String])].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (id, toks, subwords) =>
      assert(subwords.mkString == toks.filter(_.nonEmpty).mkString,
        s"doc $id: subwords must concatenate back to the original words")
    }
    val out = SparkEntry.queries("q66_bpe_tokenize")(spark, sf).collect()
    assert(out.nonEmpty && out.forall(_.getLong(1) > 0))
  }
}
