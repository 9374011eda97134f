package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The durable half of the build-once artifact claim: the text index
  * (analyzed corpus, postings + field stats, dictionaries) must
  * round-trip through parquet BYTE-IDENTICALLY — a session that
  * `loadIndex`es the saved tables serves the exact rows and scores the
  * building session computed, with zero build jobs (the `VecIndex`
  * save/load discipline applied to the text artifacts). */
class TextIndexSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case a: Seq[_] => a.mkString("[", ",", "]")
      case a: scala.collection.mutable.ArraySeq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSet

  private def avgdlBits(df: org.apache.spark.sql.DataFrame): Long =
    java.lang.Double.doubleToLongBits(df.collect()(0).getAs[Double]("avgdl"))

  test("the concurrent buildTextIndex builds the same rows as sequential accessor calls") {
    def snapshot() = queries.TextQueries.indexTables(spark, sf).map { case (name, df, _) =>
      name -> (rowsOf(df), if (name.startsWith("stats_")) Some(avgdlBits(df)) else None)
    }
    // sequential: indexTables' accessors build each artifact in turn
    queries.TextQueries.resetTextIndex(spark, sf)
    val sequential = snapshot()
    // concurrent: buildTextIndex builds, indexTables only reads
    queries.TextQueries.resetTextIndex(spark, sf)
    queries.TextQueries.buildTextIndex(spark, sf)
    val concurrent = snapshot()
    assert(sequential.map(_._1) == concurrent.map(_._1))
    assert(sequential.size == 9)
    sequential.zip(concurrent).foreach { case ((name, (rows, bits)), (_, (cRows, cBits))) =>
      assert(rows.nonEmpty, s"$name is empty")
      assert(cRows == rows, s"$name rows differ between concurrent and sequential builds")
      // bit-exact avgdl — BM25 byte-identity rests on it
      assert(cBits == bits, s"$name avgdl bits differ")
    }
  }

  test("the saved index round-trips byte-identically and serves probes with zero build jobs") {
    val dir = queries.IngestQueries.scratchDir("graft_index_spec").toString
    queries.TextQueries.saveIndex(spark, sf, dir)
    val key = s"$dir::loaded"
    queries.TextQueries.loadIndex(spark, key, dir)

    // every probe-visible artifact identical after the round trip: the
    // postings frame (tf/positions/carried lengths), the three 1-row
    // stats tables (the avgdl DOUBLE must round-trip bit-exactly), and
    // the term dictionaries
    val live = queries.TextQueries.postings(spark, sf)
    val loaded = queries.TextQueries.postings(spark, key)
    assert(rowsOf(loaded.frame) == rowsOf(live.frame),
      "postings rows drifted through the parquet round trip")
    for ((l, o, n) <- Seq(
        (live.statsBody, loaded.statsBody, "statsBody"),
        (live.statsTitle, loaded.statsTitle, "statsTitle"),
        (live.statsTail, loaded.statsTail, "statsTail"))) {
      val (lr, or) = (l.collect()(0), o.collect()(0))
      assert(lr.getAs[Long]("n_docs") == or.getAs[Long]("n_docs"), s"$n n_docs")
      // bit-exact double comparison — BM25 byte-identity rests on it
      assert(java.lang.Double.doubleToLongBits(lr.getAs[Double]("avgdl")) ==
        java.lang.Double.doubleToLongBits(or.getAs[Double]("avgdl")), s"$n avgdl bits")
    }
    assert(rowsOf(queries.TextQueries.rankedVocab(spark, key)) ==
      rowsOf(queries.TextQueries.rankedVocab(spark, sf)),
      "the ranked dictionary drifted through the round trip")

    // the full scored request row-identical: q171 (save + load + score
    // from the loaded tables) must equal q76 (the live artifacts) —
    // rank, doc, hit count AND the unrounded double score
    val a = SparkEntry.queries("q76_bm25_search")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("q171_index_persist")(spark, sf).collect().toSeq
    assert(a == b, "the loaded index ranked differently from the live artifacts")
  }
}
