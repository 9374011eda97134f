package graft

import org.scalatest.funsuite.AnyFunSuite

/** What a `spark.newSession()` of the builder's session keeps: graft's
  * native functions and the builder's confs, among them the state-store
  * partition count and the batch shuffle parallelism. (A stream run in such
  * a child reports to the child's `streams` only, so graft starts streams
  * in the caller's session; see StreamRunnerSpec.) */
class GraftSessionSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  test("newSession() keeps the GraftExtensions functions") {
    val child = spark.newSession()
    val r = child.sql(
      "SELECT vec_argmax_l2(array(1.0d, 0.0d), 0, map(0, array(" +
        "named_struct('l', 1, 'c', array(0.0d, 1.0d), 'c2', 1.0d), " +
        "named_struct('l', 2, 'c', array(1.0d, 0.0d), 'c2', 1.0d)))) AS a").collect()(0)
    assert(r.getInt(0) == 2)
  }

  test("newSession() keeps the builder's confs") {
    val child = spark.newSession()
    val expected = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.cache.maxEntries" -> GraftSession.CodegenCacheEntries.toString,
      "spark.sql.artifact.isolation.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> GraftSession.StatePartitions.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "4")
    expected.foreach { case (k, v) =>
      assert(child.conf.get(k) == v, s"$k in the child session")
    }
  }
}
