package graft.tools

import scala.jdk.CollectionConverters._

/** Scratch: bench-shaped reproduction — full warmup pass over the sorted
  * registry, the Bench buildIndex×2 step, then the full timed loop with
  * per-query seconds and Unigram train-run attribution.
  * Usage: Test/runMain graft.tools.Scratch2 <sfDir> */
object Scratch2 {
  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = args(0)
    def unigramBuilds() = graft.queries.Artifacts.builds(spark, sf, "unigram.scores")
    val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val t0 = System.nanoTime()
    ordered.foreach { case (_, fn) =>
      try fn(spark, sf).count()
      catch { case scala.util.control.NonFatal(e) => println(s"warmup fail: $e") }
    }
    println(f"warmup: ${(System.nanoTime() - t0) / 1e9}%.1f s, gc ${gcMs / 1000.0}%.1f s, unigram builds ${unigramBuilds()}")
    (1 to 2).foreach { _ =>
      graft.queries.VecIndex.reset()
      graft.Bench.buildIndex(spark, sf)
    }
    println(s"after buildIndex: unigram builds ${unigramBuilds()}")
    val slow = collection.mutable.ArrayBuffer.empty[(String, Double)]
    // a broken query must FAIL the reproduction loudly, never be reported
    // as a (fast) timing — r18 ADVICE item (the warmup loop above keeps
    // its guard: there a failure is expected noise, here it poisons data)
    var failed = List.empty[String]
    ordered.foreach { case (name, fn) =>
      val times = (1 to 2).map { _ =>
        val s0 = System.nanoTime()
        try fn(spark, sf).count()
        catch { case scala.util.control.NonFatal(e) =>
          failed ::= name; println(s"$name FAIL: $e")
        }
        (System.nanoTime() - s0) / 1e9
      }
      if (times.min > 0.9) slow += ((name, times.min))
      if (name.startsWith("q114")) println(f"$name: ${times.mkString(", ")} unigram builds ${unigramBuilds()}")
    }
    println("slow (min>0.9s): " + slow.sortBy(-_._2).map { case (n, t) => f"$n=$t%.2f" }.mkString(" "))
    println(f"total gc ${gcMs / 1000.0}%.1f s")
    spark.stop()
    if (failed.nonEmpty)
      sys.error(s"Scratch2: ${failed.size} queries FAILED in the timed loop: ${failed.sorted.mkString(", ")}")
  }
}
