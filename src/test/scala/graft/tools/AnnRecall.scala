package graft.tools

import org.apache.spark.sql.functions._

/** The ANN recall sweep behind `ANN_RECALL.md` and q37c's probe depth —
  * `sbt "Test/runMain graft.tools.AnnRecall"`, data dir from
  * SPARK_GRAFT_SF_DIR (default sf0.1; point it at a tools/make_sf10x.py
  * derivation for the scale ladder), cores from SPARK_GRAFT_CPUS.
  *
  * The WHOLE nprobe→recall@5 ladder comes from one pass, no per-depth
  * search runs: within-candidate ranking is exact, so a brute-force
  * neighbor is recovered at probe depth p iff its inverted list's rank in
  * the query's centroid ordering (crank, from
  * [[graft.queries.SimilarityQueries.queryCentroidRanks]]) is ≤ p — recall
  * at p is exactly the fraction of true pairs with crank ≤ p. Wall times
  * for the baseline and the two shipped depths are timed separately
  * (warmup + min of 2, QBudget's discipline). */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val idx = graft.queries.VecIndex.coarse(spark, dir)
    val nlists = idx.cent.count().toInt
    val exact = graft.SparkEntry.queries("q35_ann_bruteforce")(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    // one row per true pair: the crank of the list holding the neighbor
    val cranks = exact
      .join(idx.lists.select(col("vec_id").as("neighbor_id"), col("list_id")), Seq("neighbor_id"))
      .join(graft.queries.SimilarityQueries.queryCentroidRanks(idx)
        .select(col("query_id"), col("list_id"), col("crank")), Seq("query_id", "list_id"))
      .select(col("crank")).collect().map(_.getInt(0))
    val n = cranks.length
    println(s"ANNRECALL dir=$dir nlists=$nlists true_pairs=$n")
    for (p <- 1 to nlists) {
      val r = cranks.count(_ <= p).toDouble / n
      println(f"ANNRECALL nprobe=$p%2d scan_fraction=${p.toDouble / nlists}%.3f recall@5=$r%.4f")
    }
    for (q <- Seq("q35_ann_bruteforce", "q37_ann_ivf", "q37c_ann_ivf_highrecall")) {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"ANNRECALL time $q: ${times.drop(1).min}%.3f sec")
    }
    spark.stop()
  }
}
