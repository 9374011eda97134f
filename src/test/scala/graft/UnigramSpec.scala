package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Unigram
import graft.queries.Artifacts

/** Pins for the unigram-LM (SentencePiece-family) tokenizer trainer — the
  * properties the q114 oracle's DuckDB relearn rests on. */
class UnigramSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  test("viterbi: hand-computed maximization and the shorter-last-piece tiebreak") {
    // 'ab' as one piece beats a+b when strictly better...
    assert(Unigram.viterbi("ab", Map("a" -> -2.0, "b" -> -2.0, "ab" -> -3.0)) == Seq("ab"))
    // ...but on an EXACT tie the shorter last piece wins (the l-ascending
    // strict-improvement scan == the oracle's ORDER BY score DESC, l ASC)
    assert(Unigram.viterbi("ab", Map("a" -> -1.0, "b" -> -1.0, "ab" -> -2.0)) == Seq("a", "b"))
    // unreachable interiors are bridged by whatever pieces exist
    assert(Unigram.viterbi("abc", Map("ab" -> -1.0, "c" -> -1.0, "a" -> -9.0, "b" -> -9.0))
      == Seq("ab", "c"))
  }

  test("final segmentations cover every corpus word exactly (concatenation identity)") {
    val rows = Unigram.segmentations(spark, sf)
      .select(col("word"), col("pieces")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getString(0)
      val ps = r.getSeq[String](1)
      assert(ps.nonEmpty && ps.mkString("") == w, s"segmentation of '$w' was $ps")
      assert(ps.forall(p => p.nonEmpty && p.length <= Unigram.MaxPieceLen))
    }
  }

  test("save/load: encode after load is identical to encode after train, with zero training jobs") {
    val dir = queries.IngestQueries.scratchDir("unigram_model").toString
    def segs() = Unigram.segmentations(spark, sf)
      .select(col("word"), col("pieces")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    val trained = segs()
    Unigram.save(spark, sf, dir)
    Unigram.reset()
    Unigram.load(spark, sf, dir)
    val before = Artifacts.builds(spark, sf, "unigram.scores")
    assert(before > 0, "the model was trained above, so it has a build count")
    val loaded = segs()
    assert(Artifacts.builds(spark, sf, "unigram.scores") == before,
      "encode after load must run no training jobs")
    assert(loaded == trained, "installed-model encode diverged from encode-after-train")
  }

  test("the trainer learned real multi-char pieces and the prune bound holds") {
    val pieces = Unigram.segmentations(spark, sf)
      .select(explode(col("pieces")).as("p")).distinct().collect().map(_.getString(0))
    val multi = pieces.filter(_.length > 1)
    // non-vacuous: pure char-splitting would mean the LM learned nothing
    assert(multi.nonEmpty, "final segmentations use no multi-char piece — the unigram LM is vacuous")
    // the prune contract: at most KeepK multi-char pieces can survive
    assert(multi.length <= Unigram.KeepK, s"${multi.length} multi-char pieces exceed KeepK")
  }
}
