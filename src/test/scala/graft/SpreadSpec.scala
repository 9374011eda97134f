package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scan spread ([[queries.Tables.spread]]) keeps its partition count:
  * a single-file table scans as one task, and a by-column repartition
  * without a count is coalesced by AQE back to that one task at small
  * scale, so the CPU-bound step after it runs on one core. */
class SpreadSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  test("mm06's payload decode runs one task per core") {
    val mm06 = SparkEntry.queries("mm06_media_info")
    mm06(spark, sf).collect() // warm: the session's schema is resolved
    // scan, spread, then encode + decode in the result stage
    val stages = Jobs.stageTasks(spark)(mm06(spark, sf).collect())
    assert(stages.head == 1, s"the documents scan is one split: $stages")
    assert(stages.last == spark.sparkContext.defaultParallelism, s"the decode stage: $stages")
    assert(spark.sparkContext.defaultParallelism == 4)
  }
}
