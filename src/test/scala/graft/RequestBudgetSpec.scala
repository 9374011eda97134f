package graft

import org.scalatest.funsuite.AnyFunSuite

/** Job budget of the serving requests that scan `events`: a table's schema
  * is resolved once per session, so building a request's frame runs no
  * job, and the action runs only its own. The pins count every job of a
  * warm request's frame build plus `collect`; a change that adds a
  * job or an exchange to one of them fails here. A warm request also
  * compiles no generated class: its code is in the codegen cache. */
class RequestBudgetSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private def jobs(f: => Unit): Int = Jobs.descriptions(spark)(f).size

  private def request(q: String): Unit = SparkEntry.queries(q)(spark, sf).collect()

  test("a second Tables call in a session runs no job and builds no schema") {
    queries.Tables(spark, sf, "events")
    assert(jobs(queries.Tables(spark, sf, "events")) == 0)
    assert(queries.Artifacts.builds(spark, sf, "table.events") == 1)
  }

  test("another session resolves its own schema entry") {
    queries.Tables(spark, sf, "events")
    val other = spark.newSession()
    assert(queries.Artifacts.builds(other, sf, "table.events") == 0)
    assert(jobs(queries.Tables(other, sf, "events")) == 1)
    assert(jobs(queries.Tables(other, sf, "events")) == 0)
    assert(queries.Artifacts.builds(other, sf, "table.events") == 1)
    assert(queries.Artifacts.builds(spark, sf, "table.events") == 1)
  }

  // q05 (extended-bounds fill), q06 (calendar grid) and q01k (order rank
  // and keyed presentation) are measured on the code before the
  // proportional_sum paths were merged, so the merge keeps each budget
  for ((q, pinned) <- Seq("q01_prop_sum_basic" -> 3, "q11_terms_topn" -> 2, "q143_agg_body" -> 3,
      "q05_prop_sum_empty_buckets" -> 4, "q06_prop_sum_calendar" -> 3, "q01k_prop_sum_keyed" -> 4))
    test(s"$q runs $pinned jobs per request") {
      request(q) // warm: the session's schema is resolved
      assert(jobs(request(q)) == pinned)
    }

  for (q <- Seq("q01_prop_sum_basic", "q11_terms_topn", "q143_agg_body",
      "q05_prop_sum_empty_buckets", "q06_prop_sum_calendar", "q01k_prop_sum_keyed"))
    test(s"a warm $q request compiles no class") {
      request(q) // warm: the request's classes are compiled
      assert(Jobs.compiled(request(q)) == 0)
    }
}
