package graft

import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

/** Job budget of the build-once index rebuild: every artifact build tags
  * its jobs `artifact:<kind>`, so a listener counts the jobs each build
  * runs. The pins are the counts after the one-shuffle Lloyd rounds and
  * the one-aggregate postings stats; a change that adds a driver
  * round-trip or a shuffle to a build fails here. The same count shows
  * that concurrent first callers share one build, and that jobs run on
  * helper threads carry their caller's description. A warm rebuild
  * compiles no generated class: the session's codegen cache holds the
  * whole rebuild (see [[GraftSession.CodegenCacheEntries]]). */
class BuildBudgetSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  private def jobDescriptions(f: => Unit): Seq[String] = Jobs.descriptions(spark)(f)

  test("a full rebuild runs the pinned number of jobs per artifact") {
    queries.VecIndex.reset()
    queries.TextQueries.resetTextIndex(spark, sf)
    // a rebuild reads tables whose schemas the session already resolved
    Seq("embeddings", "documents").foreach(queries.Tables.schema(spark, sf, _))
    val coarse = jobDescriptions(queries.VecIndex.coarse(spark, sf))
    val pq = jobDescriptions(queries.VecIndex.pq(spark, sf))
    val text = jobDescriptions(queries.TextQueries.buildTextIndex(spark, sf))
    // every job of a build carries its artifact tag
    assert(coarse.forall(_ == "artifact:vec.coarse"), coarse)
    assert(pq.forall(_ == "artifact:vec.pq"), pq)
    assert(text.forall(_.startsWith("artifact:text.")), text)
    val byKind = text.groupBy(identity).map { case (k, v) => k -> v.size }
    info(s"coarse ${coarse.size}, pq ${pq.size}, text ${text.size} $byKind")
    assert(coarse.size == 16, "VecIndex.coarse jobs")
    assert(pq.size == 11, "VecIndex.pq jobs")
    assert(text.size == 15, s"buildTextIndex jobs: $byKind")
    // the caller's own description is restored after each build
    assert(spark.sparkContext.getLocalProperty(queries.Tables.JobDescription) == null)
  }

  /** Drop and rebuild every build-once index of `d`: coarse, PQ, text. */
  private def rebuild(d: String): Unit = {
    queries.VecIndex.reset()
    queries.TextQueries.resetTextIndex(spark, d)
    queries.VecIndex.coarse(spark, d)
    queries.VecIndex.pq(spark, d)
    queries.TextQueries.buildTextIndex(spark, d)
  }

  test("a second full rebuild compiles no class") {
    rebuild(sf)
    assert(Jobs.compiled(rebuild(sf)) == 0)
  }

  test("a rebuild over another dataset compiles no class") {
    // the generated code does not depend on the data (centroids enter the
    // argmax kernels as reference objects, not literals); a larger dataset
    // can still change plan shapes: sf0.1 -> sf0.01 compiles 5 classes
    val other = s"${sys.props("user.home")}/testdata/sf0.01"
    rebuild(sf)
    val n = try Jobs.compiled(rebuild(other))
    finally { queries.TextQueries.resetTextIndex(spark, other); queries.VecIndex.reset() }
    assert(n == 0)
  }

  /** Run `f` on two threads released by one latch; both results. */
  private def race[T](f: => T): (T, T) = {
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val both = Seq.fill(2)(Future { go.await(); f })
      go.countDown()
      (Await.result(both(0), Duration.Inf), Await.result(both(1), Duration.Inf))
    } finally pool.shutdown()
  }

  test("two concurrent first callers of VecIndex.pq share one build") {
    queries.VecIndex.reset()
    var got: (queries.VecIndex.Pq, queries.VecIndex.Pq) = null
    val pq = jobDescriptions { got = race(queries.VecIndex.pq(spark, sf)) }
    assert(got._1 eq got._2, "both callers must read the same index")
    assert(pq.count(_ == "artifact:vec.pq") == 11, pq)
  }

  test("another session builds its own VecIndex, bound to that session") {
    val other = spark.newSession()
    val mine = queries.VecIndex.coarse(spark, sf)
    val theirs = queries.VecIndex.coarse(other, sf)
    assert(!(theirs eq mine))
    assert(theirs.lists.sparkSession eq other)
    assert(queries.VecIndex.coarse(other, sf) eq theirs)
    queries.VecIndex.reset()
  }

  test("two concurrent first callers of Bpe.model share one training") {
    operators.Bpe.reset()
    val before = queries.Artifacts.builds(spark, sf, "bpe.merges#40")
    val (a, b) = race(operators.Bpe.model(spark, sf, nMerges = 40))
    assert(a eq b, "both callers must read the same model")
    assert(queries.Artifacts.builds(spark, sf, "bpe.merges#40") == before + 1)
  }

  test("every saveIndex job carries the caller's job description") {
    queries.TextQueries.buildTextIndex(spark, sf)
    // threads of a shared pool keep the local properties of whoever
    // spawned them: spawn the global pool's threads under another
    // description first
    queries.Tables.withJobDescription(spark, "stale") {
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq.fill(8)(Future(Thread.sleep(50)))), Duration.Inf)
    }
    val dir = queries.IngestQueries.scratchDir("graft_save_desc").toString
    val saves = queries.Tables.withJobDescription(spark, "caller:save") {
      jobDescriptions(queries.TextQueries.saveIndex(spark, sf, dir))
    }
    assert(saves.nonEmpty && saves.forall(_ == "caller:save"), saves)
  }
}
