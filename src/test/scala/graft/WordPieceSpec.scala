package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WordPiece

/** WordPiece training/encoding contracts — the properties the q120 oracle's
  * DuckDB relearn rests on: the LIKELIHOOD argmax (not raw pair count)
  * decides merges, exact-tie doubles fall to the (l, r) tiebreak, encoding
  * is greedy longest-match-first over the final vocabulary (NOT merge
  * replay — the BPE/WordPiece asymmetry), and the `##` continuation marker
  * is part of symbol identity. */
class WordPieceSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  test("training argmaxes LIKELIHOOD, not pair count (hand-computed, with an exact-tie round)") {
    import spark.implicits._
    // words {ab:2, cd:3, ce:10}; seed symbols a,##b,c,##d,##e with counts
    // c(a)=2, c(##b)=2, c(c)=13, c(##d)=3, c(##e)=10.
    // Round 1 scores: (a,##b) = 2/(2·2) = 0.5  — WINNER despite the
    //   SMALLEST raw count (count-argmax/BPE would take (c,##e) at 10);
    //   (c,##d) = 3/39, (c,##e) = 10/130.
    // Round 2: (c,##d) = 3/39 and (c,##e) = 10/130 are BOTH exactly 1/13 —
    //   identical IEEE doubles — so the (l, r) tiebreak decides: ##d < ##e
    //   → (c,##d), token "cd".
    // Round 3: (c,##e) → "ce"; then no adjacent pairs remain.
    val words = Seq(("ab", 2L), ("cd", 3L), ("ce", 10L)).toDF("word", "freq")
    val (merges, alphabet) = WordPiece.train(words, nMerges = 10)
    assert(merges.map(m => (m.left, m.right)) ==
      Seq(("a", "##b"), ("c", "##d"), ("c", "##e")))
    assert(merges.map(_.token) == Seq("ab", "cd", "ce"))
    assert(alphabet == Set("a", "##b", "c", "##d", "##e"))
  }

  test("merge sequence is independent of partition layout") {
    val words = graft.operators.Unigram.words(spark, sf)
    val one = WordPiece.train(words.coalesce(1), nMerges = 12)._1
    val many = WordPiece.train(words.repartition(7, col("word")), nMerges = 12)._1
    assert(one == many && one.size == 12)
  }

  test("encodeWord is greedy LONGEST-match-first, not merge replay") {
    // vocab contains both ab and ##bc: merge-replay order could produce
    // [a, ##bc], but MaxMatch takes the longest piece at the START first
    val m = WordPiece.Model(Set("a", "##b", "##c", "ab", "##bc"), 2, 2)
    assert(WordPiece.encodeWord("abc", m) == Seq("ab", "##c"))
    // continuation pieces never match at the word start
    val m2 = WordPiece.Model(Set("b", "##a", "a", "##b"), 1, 0)
    assert(WordPiece.encodeWord("ba", m2) == Seq("b", "##a"))
    assert(WordPiece.encodeWord("ab", m2) == Seq("a", "##b"))
  }

  test("corpus encode is lossless and every emitted piece is in the vocabulary") {
    val m = WordPiece.model(spark, sf, nMerges = 40)
    val words = graft.operators.Unigram.words(spark, sf)
      .select(col("word")).collect().map(_.getString(0))
    assert(words.nonEmpty)
    var multi = 0
    words.foreach { w =>
      val ps = WordPiece.encodeWord(w, m)
      assert(ps.forall(m.vocab.contains), s"'$w' used out-of-vocab pieces $ps")
      val restored = (ps.head +: ps.tail.map(_.drop(2))).mkString("")
      assert(restored == w, s"encode of '$w' was lossy: $ps")
      multi += ps.count(p => (if (p.startsWith("##")) p.length - 2 else p.length) > 1)
    }
    // non-vacuous: the trainer learned pieces that actually get used
    assert(multi > 0, "no multi-char piece ever matched — the trainer is vacuous")
  }

  test("save/load: encode after load is identical to encode after train, with zero training jobs") {
    import spark.implicits._
    val docsDf = queries.Tables(spark, sf, "documents")
      .withColumn("toks", graft.functions.text.tokens(col("text")))
    val want = WordPiece.tokenize(docsDf, WordPiece.model(spark, sf, nMerges = 40))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    val dir = queries.IngestQueries.scratchDir("graft_wp").toString
    WordPiece.save(spark, sf, 40, dir)
    WordPiece.reset()
    WordPiece.load(spark, sf, 40, dir)
    val before = queries.Artifacts.builds(spark, sf, "wordpiece.model#40")
    assert(before > 0, "the model was trained above, so it has a build count")
    val got = WordPiece.tokenize(docsDf, WordPiece.model(spark, sf, nMerges = 40))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(queries.Artifacts.builds(spark, sf, "wordpiece.model#40") == before,
      "encode after load must run no training jobs")
    assert(got == want, "installed-model encode diverged from encode-after-train")
    // a mismatched merge budget must be refused
    assertThrows[IllegalArgumentException](WordPiece.load(spark, sf, 30, dir))
  }
}
