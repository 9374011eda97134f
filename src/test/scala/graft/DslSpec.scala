package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDsl

/** The ES Query-DSL compiler (q137/q138/q139): every supported clause type
  * proven DECISIVE (hits and misses both exist) on a fixture frame that
  * includes nulls, the boost arithmetic pinned exactly, and every rejected
  * input rejected LOUDLY — an unsupported query must throw, never return
  * an empty (or worse, full) result. */
class DslSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  /** Fixture docs: nulls in text/lang (exists decisive), mixed langs,
    * sources, lengths. */
  private lazy val fix: DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("lang", StringType, nullable = true),
      StructField("source", StringType, nullable = true),
      StructField("n_chars", LongType, nullable = false)))
    val rows = Seq(
      Row(0L, "Spark  JOIN merge", "en", "src1", 100L),
      Row(1L, "window merge scan", "fr", "src10", 200L),
      Row(2L, null, "en", "src3", 300L),
      Row(3L, "vector stream data", null, "src7", 400L),
      Row(4L, "vector only here", "de", "a_b%c\\d", 500L),
      Row(5L, "stream only here", "es", "src19", 47L))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  // the DSL compiles against a schema-derived catalog; the fixture shares
  // the documents table's addressable fields
  private implicit lazy val cat: QueryDsl.Catalog = QueryDsl.catalogOf(fix)

  private def ids(q: String): Set[Long] =
    fix.filter(QueryDsl.compile(QueryDsl.parse(q)).pred)
      .select("doc_id").collect().map(_.getLong(0)).toSet

  private def scores(q: String): Map[Long, Double] = {
    val c = QueryDsl.compile(QueryDsl.parse(q))
    fix.filter(c.pred).withColumn("s", c.score)
      .select("doc_id", "s").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("leaf clauses: each type hits AND misses the fixture") {
    assert(ids("""{"term": {"lang": "en"}}""") == Set(0L, 2L))
    assert(ids("""{"term": {"n_chars": 300}}""") == Set(2L))
    assert(ids("""{"terms": {"source": ["src3", "src7"]}}""") == Set(2L, 3L))
    assert(ids("""{"range": {"n_chars": {"gte": 200, "lt": 500}}}""") == Set(1L, 2L, 3L))
    assert(ids("""{"range": {"n_chars": {"gt": 400}}}""") == Set(4L))
    assert(ids("""{"range": {"n_chars": {"lte": 100}}}""") == Set(0L, 5L))
    assert(ids("""{"exists": {"field": "text"}}""") == Set(0L, 1L, 3L, 4L, 5L))
    assert(ids("""{"exists": {"field": "lang"}}""") == Set(0L, 1L, 2L, 4L, 5L))
    assert(ids("""{"ids": {"values": [0, 4, 99]}}""") == Set(0L, 4L))
    assert(ids("""{"prefix": {"source": {"value": "src1"}}}""") == Set(0L, 1L, 5L))
    assert(ids("""{"wildcard": {"source": "src1?"}}""") == Set(1L, 5L))
    assert(ids("""{"match_all": {}}""") == Set(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("prefix/wildcard escape LIKE metacharacters (literal % _ \\ match themselves)") {
    // source "a_b%c\d": a literal-prefix query must not treat _ or % as wildcards
    assert(ids("""{"prefix": {"source": {"value": "a_b%c"}}}""") == Set(4L))
    assert(ids("""{"prefix": {"source": {"value": "a.b"}}}""") == Set.empty[Long])
    assert(ids("""{"wildcard": {"source": "a_b%c\\d"}}""") == Set(4L))
    assert(ids("""{"wildcard": {"source": "a?b*d"}}""") == Set(4L))
  }

  test("match: analyzer matches the corpus tokenization; operator and/or") {
    // "Spark  JOIN merge" normalizes to [spark, join, merge]
    assert(ids("""{"match": {"text": "SPARK"}}""") == Set(0L))
    assert(ids("""{"match": {"text": {"query": "vector stream", "operator": "and"}}}""") == Set(3L))
    assert(ids("""{"match": {"text": {"query": "vector stream", "operator": "or"}}}""") == Set(3L, 4L, 5L))
  }

  test("bool: minimum_should_match gates; must_not excludes; nulls never match") {
    val q =
      """{"bool": {
        |  "should": [{"term": {"lang": "en"}}, {"range": {"n_chars": {"gte": 300}}},
        |             {"term": {"source": "src10"}}],
        |  "minimum_should_match": 2}}""".stripMargin
    assert(ids(q) == Set(2L)) // doc2: en + 300; doc3/4 have one should each
    val q2 =
      """{"bool": {
        |  "must": [{"exists": {"field": "text"}}],
        |  "must_not": [{"match": {"text": "merge"}}]}}""".stripMargin
    assert(ids(q2) == Set(3L, 4L, 5L))
    // should-only bool defaults minimum_should_match to 1
    assert(ids("""{"bool": {"should": [{"term": {"lang": "de"}}]}}""") == Set(4L))
    // must/filter present → should becomes optional (msm 0)
    val q3 =
      """{"bool": {
        |  "filter": [{"range": {"n_chars": {"gte": 400}}}],
        |  "should": [{"term": {"lang": "zz"}}]}}""".stripMargin
    assert(ids(q3) == Set(3L, 4L))
  }

  test("negative minimum_should_match: ES total-minus form; deficit beyond clause count throws") {
    // 3 should clauses, msm -1 ⇒ effective 2 (doc2: en + n_chars>=300)
    val q =
      """{"bool": {
        |  "should": [{"term": {"lang": "en"}}, {"range": {"n_chars": {"gte": 300}}},
        |             {"term": {"source": "src10"}}],
        |  "minimum_should_match": -1}}""".stripMargin
    assert(ids(q) == Set(2L))
    // msm -3 over 3 clauses ⇒ effective 0: should becomes optional, all docs match
    assert(ids(q.replace("-1", "-3")) == Set(0L, 1L, 2L, 3L, 4L, 5L))
    // a deficit beyond the clause count is malformed, never vacuously true
    intercept[IllegalArgumentException](ids(q.replace("-1", "-5")))
  }

  test("mget default _source (and _source naming doc_id) does not trip an ambiguous join") {
    val docs = queries.Tables(spark, sf, "documents")
    val byDefault = QueryDsl.mget(docs, QueryDsl.parse("""{"ids": [3, 999999999, 7]}"""))
      .collect().sortBy(_.getAs[Long]("req_pos"))
    assert(byDefault.map(_.getAs[Boolean]("found")).toSeq == Seq(true, false, true))
    assert(byDefault(0).getAs[Long]("doc_id") == 3L && byDefault(2).getAs[Long]("doc_id") == 7L)
    val explicit = QueryDsl.mget(docs, QueryDsl.parse(
      """{"ids": [3], "_source": ["doc_id", "lang"]}""")).collect()
    assert(explicit.head.getAs[Long]("doc_id") == 3L && explicit.head.getAs[String]("lang") != null)
  }

  test("scroll contract: nullable sort fields are excluded explicitly, never a truncated drain") {
    // fixture lang is null on doc 3: a lang-sorted scroll must exclude
    // exactly that row (the isNotNull base guard) and still drain the rest
    // completely — the pre-fix behavior dropped every row after the null
    // run's page boundary
    val body = QueryDsl.parse(
      """{"query": {"match_all": {}},
        |  "sort": [{"lang": "asc"}, {"doc_id": "asc"}],
        |  "_source": ["doc_id", "lang"]}""".stripMargin)
    val drained = QueryDsl.scrollAll(fix, body, pageSize = 2).collect()
    assert(drained.map(_.getAs[Long]("doc_id")).toSet == Set(0L, 1L, 2L, 4L, 5L))
    assert(drained.map(_.getAs[Long]("rank")).toSeq == (1L to 5L).toSeq)
    val exported = QueryDsl.scrollExport(fix, body, pageSize = 2).collect().sortBy(_.getAs[Long]("rank"))
    assert(exported.map(_.getAs[Long]("doc_id")).toSeq == drained.map(_.getAs[Long]("doc_id")).toSeq)
  }

  test("q140b: the distributed export is row-identical to the keyset drain (rank, page, fields)") {
    val drain = SparkEntry.queries("q140_scroll")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("page"), r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars"))).sortBy(_._1)
    val export = SparkEntry.queries("q140b_scroll_export")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("page"), r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("n_chars"))).sortBy(_._1)
    assert(export.nonEmpty && export.length > 64, "export must exceed one page at the smallest SF")
    assert(export.toSeq == drain.toSeq, "distributed page assignment diverged from the keyset drain")
  }

  test("q150-q153: the completed wire grammar is ROW-IDENTICAL to the typed entries") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.toList).toSet
    assert(rows("q150_dsl_extended_bounds") == rows("q05_prop_sum_empty_buckets"))
    assert(rows("q151_dsl_calendar_interval") == rows("q06_prop_sum_calendar"))
    assert(rows("q152_dsl_keyed_order") == rows("q01k_prop_sum_keyed"))
    assert(rows("q153_dsl_nested_terms") == rows("q04_prop_sum_grouped"))
    // the fill is real: q150 has zero-doc buckets q01-style sparse output lacks
    assert(SparkEntry.queries("q150_dsl_extended_bounds")(spark, sf).collect()
      .exists(_.getAs[Long]("doc_count") == 0L), "extended_bounds produced no empty buckets")
    val flows = queries.Flows.df(spark, sf)
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(flows, QueryDsl.parse(body)))
    // grammar edges fail loudly
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 60000,
             |  "extended_bounds": {"min": 5, "max": 1}}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 60000,
             |  "min_doc_count": 2, "extended_bounds": {"min": 1, "max": 5}}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"],
             |  "calendar_interval": "month", "extended_bounds": {"min": 1, "max": 5}}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"],
             |  "interval": 60000, "calendar_interval": "month"}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"],
             |  "calendar_interval": "fortnight"}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 60000,
             |  "order": [{"_term": "asc"}]}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 60000,
             |  "order": [{"_key": "ascending"}]}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 60000,
             |  "keyed": "yes"}}}}""".stripMargin)
    // nested: terms with a bucket child accepts field + size (r17); other
    // presentation knobs stay loud; child must be proportional_sum with
    // the fixed-interval subset
    badAgg("""{"aggs": {"t": {"terms": {"field": "event_type", "shard_size": 3},
             |  "aggs": {"s": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 60000}}}}}}""".stripMargin)
    badAgg("""{"aggs": {"t": {"terms": {"field": "event_type"},
             |  "aggs": {"s": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 60000,
             |    "keyed": true}}}}}}""".stripMargin)
  }

  test("q160-q162: legacy interval/offset string spellings are ROW-IDENTICAL to their numeric twins") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.toList).toSet
    assert(rows("q160_dsl_interval_string") == rows("q01_prop_sum_basic"),
      "\"interval\": \"1h\" diverged from the 3600000 ms grid")
    assert(rows("q161_dsl_calendar_string") == rows("q06_prop_sum_calendar"),
      "\"interval\": \"1M\" diverged from calendar_interval month")
    assert(rows("q162_dsl_offset_string") == rows("q02_prop_sum_offset"),
      "\"offset\": \"+15m\" diverged from offset 900000")
    val flows = queries.Flows.df(spark, sf)
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(flows, QueryDsl.parse(body)))
    // bad units are loud: 1q is NOT in the builder's DATE_FIELD_UNITS
    // (no quarter in the legacy map) and not a TimeValue; multi-month
    // fixed spellings don't exist; offset units come from TimeValue only
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": "1q"}}}}""")
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": "2M"}}}}""")
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"],
             |  "interval": "1h", "offset": "+6x"}}}}""".stripMargin)
    // nested position: fixed string spellings compile, calendar stays loud
    val nested = QueryDsl.aggBody(flows, QueryDsl.parse(
      """{"aggs": {"t": {"terms": {"field": "event_type"},
        |  "aggs": {"s": {"proportional_sum": {"fields": ["rs","re","v"],
        |    "interval": "1h", "offset": "+15m",
        |    "start": 1704412800000, "end": 1706140800000}}}}}}""".stripMargin)).collect()
    assert(nested.nonEmpty)
    badAgg("""{"aggs": {"t": {"terms": {"field": "event_type"},
             |  "aggs": {"s": {"proportional_sum": {"fields": ["rs","re","v"], "interval": "1M"}}}}}}""".stripMargin)
  }

  test("proportional_sum grammar per position: each accepts exactly its keys; bad intervals and arity fail everywhere") {
    val flows = queries.Flows.df(spark, sf)
    def top(ps: String) = s"""{"aggs": {"h": {"proportional_sum": {$ps}}}}"""
    val positions: Seq[(String, String => Unit)] = Seq(
      "top level" -> (ps => QueryDsl.aggBody(flows, QueryDsl.parse(top(ps)))),
      "under terms" -> (ps => QueryDsl.aggBody(flows, QueryDsl.parse(
        s"""{"aggs": {"t": {"terms": {"field": "event_type"},
           |  "aggs": {"s": {"proportional_sum": {$ps}}}}}}""".stripMargin))),
      "streaming" -> (ps => QueryDsl.streamingPropSum(QueryDsl.parse(top(ps)))))
    val all = positions.map(_._1).toSet
    val fields = """"fields": ["rs","re","v"]"""
    // (body keys after `fields`, the positions that compile it)
    val cases: Seq[(String, Set[String])] = Seq(
      // the top-level-only keys
      """"calendar_interval": "month"""" -> Set("top level"),
      """"interval": 3600000, "extended_bounds": {"min": 1704412800000, "max": 1704499200000}""" -> Set("top level"),
      """"interval": 3600000, "keyed": true""" -> Set("top level"),
      """"interval": 3600000, "order": [{"_key": "asc"}]""" -> Set("top level"),
      """"interval": 3600000, "missing": {"v": 0}""" -> Set("top level"),
      """"interval": 3600000, "keyed": true, "format": "yyyy-MM-dd"""" -> Set("top level"),
      // min_doc_count has no append-mode form, and is never negative
      """"interval": 3600000, "min_doc_count": 2""" -> Set("top level", "under terms"),
      """"interval": 3600000, "min_doc_count": -1""" -> Set.empty,
      // a zero or negative interval and a fifth field fail at every position
      """"interval": 0""" -> Set.empty,
      """"interval": -1""" -> Set.empty,
      """"interval": "0ms"""" -> Set.empty,
      """"interval": 3600000, "fields": ["rs","re","v","v","v"]""" -> Set.empty,
      // the legacy string spellings compile at every position
      """"interval": "1h"""" -> all,
      """"interval": "1h", "offset": "+15m"""" -> all)
    for ((keys, ok) <- cases; (at, compileAt) <- positions) {
      val body = if (keys.contains("\"fields\"")) keys else s"$fields, $keys"
      withClue(s"$at: {$body}") {
        if (ok(at)) compileAt(body) else intercept[IllegalArgumentException](compileAt(body))
      }
    }
    assert(QueryDsl.streamingPropSum(QueryDsl.parse(top(s"""$fields, "interval": "1h", "offset": "+15m""""))).cfg ==
      graft.operators.ProportionalSum.Config(3600000L, offsetMs = 900000L))
  }

  test("q163/q164: the full order grammar emits data-visible ranks; q165 filters parent ≡ typed q04b") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.toList).toSet
    // _count desc: rank 1 is the max-doc_count bucket
    val byCount = SparkEntry.queries("q163_dsl_order_count")(spark, sf).collect()
    val maxDc = byCount.map(_.getAs[Long]("doc_count")).max
    assert(byCount.find(_.getAs[Long]("order_rank") == 1L)
      .exists(_.getAs[Long]("doc_count") == maxDc))
    // compound (_count asc, _key desc): rank 1 is min doc_count, latest bucket on ties
    val comp = SparkEntry.queries("q164_dsl_order_compound")(spark, sf).collect()
    val minDc = comp.map(_.getAs[Long]("doc_count")).min
    val r1 = comp.find(_.getAs[Long]("order_rank") == 1L).get
    assert(r1.getAs[Long]("doc_count") == minDc)
    assert(r1.getAs[Long]("bucket_ms") ==
      comp.filter(_.getAs[Long]("doc_count") == minDc).map(_.getAs[Long]("bucket_ms")).max)
    // ranks are a permutation (total order, no ties leaking duplicates)
    assert(comp.map(_.getAs[Long]("order_rank")).sorted.toSeq == (1L to comp.length).toSeq)
    // filters parent at the door ≡ typed q04b (shared oracle's second proof)
    assert(rows("q165_dsl_filters_parent") == rows("q04b_prop_sum_filters_parent"),
      "front-door filters parent diverged from typed q04b")
  }

  test("q170 terms size under a bucket child: top-k by parent doc_count, full series kept") {
    val out = SparkEntry.queries("q170_dsl_terms_size")(spark, sf).collect()
    val ranks = out.map(_.getAs[Long]("term_rank")).distinct.sorted.toSeq
    assert(ranks == Seq(1L, 2L), s"size 2 must keep exactly ranks 1-2, got $ranks")
    // the truncation is real: the untruncated grouped run has more terms
    val all = SparkEntry.queries("q04_prop_sum_grouped")(spark, sf).collect()
      .map(_.getAs[String]("event_type")).distinct
    assert(all.length > 2, "corpus must have >2 event types for the truncation to bite")
    val kept = out.map(_.getAs[String]("event_type")).distinct.toSet
    assert(kept.size == 2)
    // rank 1 is the max-count term; each kept term keeps its FULL series
    val flows = queries.Flows.df(spark, sf)
    val counts = flows.groupBy(col("event_type")).count().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("count"))).toMap
    val r1 = out.filter(_.getAs[Long]("term_rank") == 1L).map(_.getAs[String]("event_type")).head
    assert(counts(r1) == counts.values.max)
    val seriesLen = all.length // per-term bucket counts from the typed run
    val typedByTerm = SparkEntry.queries("q04_prop_sum_grouped")(spark, sf).collect()
      .groupBy(_.getAs[String]("event_type")).view.mapValues(_.length).toMap
    kept.foreach { t =>
      assert(out.count(_.getAs[String]("event_type") == t) == typedByTerm(t),
        s"term $t lost series rows under truncation")
    }
  }

  test("q169 missing+format: substituted rows CONTRIBUTE (vs q07b's skip); keyed format honored") {
    val viaDoor = SparkEntry.queries("q169_dsl_missing_format")(spark, sf).collect()
    val typed = SparkEntry.queries("q07c_prop_sum_missing_value")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Long]("doc_count"), r.getAs[Double]("value"))).toSet
    assert(viaDoor.map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Long]("doc_count"),
      r.getAs[Double]("value"))).toSet == typed, "door missing substitution diverged from typed q07c")
    // the format whitelist actually renders: minute-precision keys
    assert(viaDoor.forall(_.getAs[String]("key_str").matches("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}""")))
    // missing CONTRIBUTES: doc_count must exceed the skip semantics' on
    // the same grid (q07b also nulls re, so compare against an inline
    // v-only skip run)
    val skipDocs = graft.operators.ProportionalSum.run(
      queries.Flows.df(spark, sf)
        .filter(col("event_id") % 11 =!= 0),
      col("rs"), col("re"), col("v"), None,
      graft.operators.ProportionalSum.Config(3600000L, Some(1704412800000L), Some(1706140800000L)))
      .agg(org.apache.spark.sql.functions.sum("doc_count")).collect()(0).getLong(0)
    val subDocs = viaDoor.map(_.getAs[Long]("doc_count")).sum
    assert(subDocs > skipDocs, s"missing substitution must add contributions ($subDocs vs $skipDocs)")
    val flows = queries.Flows.df(spark, sf)
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(flows, QueryDsl.parse(body)))
    // loud edges: missing on a range field, non-numeric missing,
    // unsupported format, format without keyed
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000,
             |  "missing": {"rs": 0}}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000,
             |  "missing": {"v": "x"}}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000,
             |  "keyed": true, "format": "dd/MM/yyyy"}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000,
             |  "format": "yyyy-MM-dd"}}}}""".stripMargin)
  }

  test("q157 search_after: the page is the exact post-cursor slice; misuse fails loudly") {
    val docs = queries.Tables(spark, sf, "documents")
    val out = SparkEntry.queries("q157_dsl_search_after")(spark, sf).collect().sortBy(_.getAs[Long]("rank"))
    assert(out.length == 20 && out.map(_.getAs[Long]("rank")).toSeq == (1L to 20L).toSeq)
    // equals the full sort's slice strictly after the cursor
    val full = docs.filter(col("n_chars") >= 150)
      .orderBy(col("n_chars").asc, col("doc_id").asc)
      .select("doc_id", "n_chars").collect()
      .dropWhile(r => (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")) match {
        case (n, id) => n < 250 || (n == 250 && id <= 100)
      }).take(20)
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"))).toSeq ==
      full.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"))).toSeq)
    def bad(q: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.search(docs, QueryDsl.parse(q)))
    bad("""{"query": {"match_all": {}}, "search_after": [5],
          |  "sort": [{"_score": "desc"}, {"doc_id": "asc"}]}""".stripMargin) // _score sort
    bad("""{"query": {"match_all": {}}, "search_after": [5, 5],
          |  "sort": [{"n_chars": "asc"}, {"doc_id": "asc"}], "from": 3}""".stripMargin) // from
    bad("""{"query": {"match_all": {}}, "search_after": [5],
          |  "sort": [{"n_chars": "asc"}, {"doc_id": "asc"}]}""".stripMargin) // arity
    bad("""{"query": {"match_all": {}}, "search_after": [5],
          |  "sort": [{"n_chars": "asc"}]}""".stripMargin) // no doc_id tiebreak
  }

  test("q158 terms→date_histogram nesting equals the inline grouped aggregation") {
    val out = SparkEntry.queries("q158_dsl_terms_date_histogram")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket_ms"),
        r.getAs[Long]("doc_count"), r.getAs[Double]("sum_value"))).toSet
    val ev = queries.EsAggQueries.ev(spark, sf)
    val typed = ev.groupBy(col("event_type"),
        (floor(col("ms") / lit(3600000L)) * lit(3600000L)).as("bucket_ms"))
      .agg(count(lit(1)).as("doc_count"),
        graft.functions.detsum.sumDet(col("value")).as("sum_value"))
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("bucket_ms"),
        r.getAs[Long]("doc_count"), r.getAs[Double]("sum_value"))).toSet
    assert(out == typed && out.nonEmpty)
    assert(out.map(_._1).size > 1, "nesting must produce several term groups")
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(ev, QueryDsl.parse(body)))
    // size under the nesting is SUPPORTED since r17 (q170): the truncated
    // run keeps exactly the top-3 terms' full grids with ranks attached
    val sized = QueryDsl.aggBody(ev, QueryDsl.parse(
      """{"aggs": {"t": {"terms": {"field": "event_type", "size": 3},
        |  "aggs": {"h": {"date_histogram": {"field": "ms", "fixed_interval": 3600000}}}}}}""".stripMargin))
      .collect()
    assert(sized.map(_.getAs[Long]("term_rank")).distinct.sorted.toSeq == Seq(1L, 2L, 3L))
    badAgg("""{"aggs": {"t": {"terms": {"field": "event_type", "shard_size": 3},
             |  "aggs": {"h": {"date_histogram": {"field": "ms", "fixed_interval": 3600000}}}}}}""".stripMargin)
    badAgg("""{"aggs": {"t": {"terms": {"field": "event_type"},
             |  "aggs": {"h": {"date_histogram": {"field": "ms", "calendar_interval": "1h"}}}}}}""".stripMargin)
  }

  test("q159: the 3-level agg tree is ROW-IDENTICAL to typed q04c; malformed trees fail loudly") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.toList).toSet
    assert(rows("q159_dsl_agg_tree") == rows("q04c_prop_sum_nested_tree"))
    assert(rows("q159_dsl_agg_tree").nonEmpty)
    val flows = queries.Flows.df(spark, sf)
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(flows, QueryDsl.parse(body)))
    // the tree's leaf must be proportional_sum exactly
    badAgg("""{"aggs": {"t": {"terms": {"field": "event_type"},
             |  "aggs": {"d": {"date_histogram": {"field": "rs", "fixed_interval": 86400000},
             |    "aggs": {"x": {"avg": {"field": "v"}}, "y": {"proportional_sum": {
             |      "fields": ["rs","re","v"], "interval": 3600000}}}}}}}}""".stripMargin)
    // middle date_histogram with unknown keys
    badAgg("""{"aggs": {"t": {"terms": {"field": "event_type"},
             |  "aggs": {"d": {"date_histogram": {"field": "rs", "fixed_interval": 86400000, "offset": 1},
             |    "aggs": {"s": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000}}}}}}}}""".stripMargin)
  }

  test("boost arithmetic: dyadic sums exact; filter context scores 0") {
    val q =
      """{"bool": {
        |  "must": [{"range": {"n_chars": {"gte": 100, "boost": 0.25}}}],
        |  "filter": [{"exists": {"field": "doc_id"}}],
        |  "should": [{"term": {"lang": {"value": "en", "boost": 2.0}}},
        |             {"term": {"source": {"value": "src3", "boost": 0.5}}}]}}""".stripMargin
    val s = scores(q)
    assert(s(0L) == 0.25 + 2.0) // en, not src3
    assert(s(2L) == 0.25 + 2.0 + 0.5) // en + src3; filter clause adds nothing
    assert(s(1L) == 0.25) // neither should
    val cs = scores("""{"constant_score": {"filter": {"term": {"lang": "en"}}, "boost": 4.0}}""")
    assert(cs(0L) == 4.0 && cs(2L) == 4.0)
  }

  test("wrapper: base64 round trip compiles to the identical hit set") {
    val inner = """{"term": {"lang": "en"}}"""
    val b64 = java.util.Base64.getEncoder.encodeToString(inner.getBytes("UTF-8"))
    assert(ids(s"""{"wrapper": {"query": "$b64"}}""") == ids(inner))
  }

  test("unsupported input fails loudly, never silently") {
    def bad(q: String): Unit =
      intercept[IllegalArgumentException](ids(q))
    bad("""{"fuzzy": {"lang": "en"}}""") // unsupported type (q87 is the named surface)
    bad("""{"term": {"nope": "en"}}""") // unknown field
    bad("""{"term": {"lang": "en"}, "terms": {"lang": ["en"]}}""") // two keys
    bad("""{"term": {"lang": 7}}""") // type mismatch: string field, number
    bad("""{"term": {"n_chars": "x"}}""") // type mismatch: long field, string
    bad("""{"range": {"n_chars": {"between": 1}}}""") // unknown range op
    bad("""{"bool": {"minimum_should_match": 1}}""") // msm without should
    bad("""{"bool": {"must": [], "mustn't": []}}""") // unknown bool key
    bad("""{"wrapper": {"query": "!!!notbase64!!!"}}""") // bad base64
    bad("""{"terms": {"source": []}}""") // empty terms
    bad("""not json""") // malformed JSON
    bad("""{"match": {"text": {"query": "a", "operator": "xor"}}}""") // bad operator
    bad("""{"prefix": {"n_chars": {"value": "1"}}}""") // prefix on numeric field
  }

  test("search envelope: from/size page is the exact slice of the full sort") {
    val docs = queries.Tables(spark, sf, "documents")
    val full = QueryDsl.search(docs, QueryDsl.parse(
      """{"query": {"match_all": {}},
        |  "sort": [{"n_chars": "desc"}], "from": 0, "size": 40,
        |  "_source": ["doc_id", "n_chars"]}""".stripMargin)).collect()
    val page = QueryDsl.search(docs, QueryDsl.parse(
      """{"query": {"match_all": {}},
        |  "sort": [{"n_chars": "desc"}], "from": 25, "size": 15,
        |  "_source": ["doc_id", "n_chars"]}""".stripMargin)).collect()
    assert(full.length == 40 && page.length == 15)
    val tail = full.drop(25).map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id")))
    assert(page.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"))).toSeq == tail.toSeq)
  }

  test("scroll: drains to exhaustion, pages of 64, equals the unpaged sort, cursor never re-serves") {
    val out = SparkEntry.queries("q140_scroll")(spark, sf).collect()
    val docs = queries.Tables(spark, sf, "documents")
    // the unpaged reading of the same query + sort
    val expect = docs
      .filter(QueryDsl.compile(QueryDsl.parse(queries.DslQueries.Q137Inner)).pred)
      .orderBy(col("n_chars").asc, col("doc_id").asc)
      .select("doc_id", "source", "n_chars").collect()
    assert(out.length == expect.length && out.length > 64,
      s"scroll must exceed one page at the smallest SF (got ${out.length})")
    assert(out.map(_.getAs[Long]("rank")).toSeq == (1L to expect.length).toSeq)
    out.zip(expect).foreach { case (o, e) =>
      assert(o.getAs[Long]("doc_id") == e.getAs[Long]("doc_id"), "cursor skipped or re-served a row")
    }
    val pages = out.groupBy(_.getAs[Long]("page")).view.mapValues(_.length).toMap
    assert(pages(1L) == 64 && pages.keys.max == (expect.length + 63) / 64)
    // invalid scroll sorts fail loudly
    val docs2 = queries.Tables(spark, sf, "documents")
    intercept[IllegalArgumentException](QueryDsl.scrollAll(docs2, QueryDsl.parse(
      """{"query": {"match_all": {}}, "sort": [{"n_chars": "asc"}]}"""), 64))
    intercept[IllegalArgumentException](QueryDsl.scrollAll(docs2, QueryDsl.parse(
      """{"query": {"match_all": {}}, "sort": [{"_score": "desc"}, {"doc_id": "asc"}]}"""), 64))
  }

  test("search template: whole-value substitution keeps JSON types; embedded interpolates; unresolved fails") {
    val t = QueryDsl.parse(
      """{"range": {"n_chars": {"gte": "{{lo}}"}}, "note": "from {{lo}} to {{hi}}"}""")
    val p = QueryDsl.parse("""{"lo": 200, "hi": 400}""")
    val r = QueryDsl.renderTemplate(t, p)
    assert(r.get("range").get("n_chars").get("gte").isIntegralNumber,
      "whole-value placeholder must keep the param's number type")
    assert(r.get("range").get("n_chars").get("gte").asLong == 200L)
    assert(r.get("note").asText == "from 200 to 400")
    intercept[IllegalArgumentException](
      QueryDsl.renderTemplate(QueryDsl.parse("""{"term": {"lang": "{{missing}}"}}"""), p))
  }

  test("runtime script parser: precedence, parens, loud failures") {
    val two = fix.filter(col("doc_id") === 4L) // n_chars 500
    def eval(src: String): Long =
      two.select(QueryDsl.parseEmitScript(src).as("v")).collect().head.getLong(0)
    assert(eval("emit(2 + 3 * 4)") == 14L) // * binds tighter
    assert(eval("emit((2 + 3) * 4)") == 20L)
    assert(eval("emit(doc['n_chars'].value * 3 + doc['doc_id'].value % 7)") == 1504L)
    assert(eval("emit(17 % 5)") == 2L)
    assert(eval("emit(10 - 2 - 3)") == 5L) // left associative
    def bad(src: String): Unit = intercept[IllegalArgumentException](QueryDsl.parseEmitScript(src))
    bad("emit(10 / 2)") // division rejected (trunc-vs-floor across engines)
    bad("emit(doc['lang'].value + 1)") // string field in long arithmetic
    bad("emit(doc['nope'].value)") // unknown field
    bad("emit(1 + )") // syntax
    bad("emit(1) extra") // trailing
    bad("return 1") // not emit()
  }

  test("runtime fields: usable in query, sort, _source; shadowing rejected") {
    val docs = queries.Tables(spark, sf, "documents")
    intercept[IllegalArgumentException](QueryDsl.search(docs, QueryDsl.parse(
      """{"runtime_mappings": {"n_chars": {"type": "long", "script": {"source": "emit(1)"}}},
        |  "query": {"match_all": {}}}""".stripMargin)))
    intercept[IllegalArgumentException](QueryDsl.search(docs, QueryDsl.parse(
      """{"runtime_mappings": {"x": {"type": "keyword", "script": {"source": "emit(1)"}}},
        |  "query": {"match_all": {}}}""".stripMargin)))
    val out = SparkEntry.queries("q142_runtime_fields")(spark, sf).collect()
    assert(out.length == 20)
    assert(out.head.schema.fieldNames.toSeq ==
      Seq("rank", "score", "doc_id", "n_chars", "weighted_len"))
    out.foreach { r =>
      val w = r.getAs[Long]("weighted_len")
      assert(w == r.getAs[Long]("n_chars") * 3 + r.getAs[Long]("doc_id") % 7)
      assert(w >= 400 && w < 1200)
    }
    // sorted on the runtime field desc
    val ws = out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("weighted_len")).toSeq
    assert(ws == ws.sorted.reverse)
    // decisive: hits and misses exist
    val n = docs.count()
    val hits = QueryDsl.count(docs, QueryDsl.parse(
      """{"runtime_mappings": {"weighted_len": {"type": "long",
        |    "script": {"source": "emit(doc['n_chars'].value * 3 + doc['doc_id'].value % 7)"}}},
        |  "query": {"range": {"weighted_len": {"gte": 400, "lt": 1200}}}}""".stripMargin))
      .collect().head.getAs[Long]("total")
    assert(hits > 20 && hits < n, s"runtime range not decisive: $hits of $n")
  }

  test("agg body: the JSON-compiled proportional_sum run is ROW-IDENTICAL to typed q01") {
    val viaJson = SparkEntry.queries("q143_agg_body")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Long]("doc_count"), r.getAs[Double]("value")))
    val viaApi = SparkEntry.queries("q01_prop_sum_basic")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Long]("doc_count"), r.getAs[Double]("value")))
    assert(viaJson.nonEmpty)
    assert(viaJson.toSet == viaApi.toSet, "front door and typed API diverged")
    // the order knob is honored: buckets ascend
    val ks = viaJson.map(_._1).toSeq
    assert(ks == ks.sorted)
    val flows = queries.Flows.df(spark, sf)
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(flows, QueryDsl.parse(body)))
    badAgg("""{"size": 5, "aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000}}}}""")
    badAgg("""{"aggs": {"h": {"avg": {"field": "v"}}}}""") // unsupported agg type
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"]}}}}""") // no interval
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re"], "interval": 3600000}}}}""") // 2 fields
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","nope"], "interval": 3600000}}}}""")
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 3600000, "shard_size": 5}}}}""")
  }

  test("catalog derives from the frame schema: any table is queryable; non-addressable types fail") {
    val flows = queries.Flows.df(spark, sf)
    val fcat = QueryDsl.catalogOf(flows)
    assert(fcat.strings("event_type") && fcat.longs("rs") && fcat.longs("re"))
    // doubles are addressable since round 17 (q165's high_value range);
    // a string literal against a double field is still a loud mismatch
    assert(fcat.doubles("v"), "double columns join the catalog (range/term with numeric literals)")
    val hits = flows.filter(QueryDsl.compile(
      QueryDsl.parse("""{"term": {"event_type": "purchase"}}"""))(fcat).pred).count()
    assert(hits > 0 && hits < flows.count())
    val vHits = flows.filter(QueryDsl.compile(
      QueryDsl.parse("""{"range": {"v": {"gt": 50.0}}}"""))(fcat).pred).count()
    assert(vHits > 0 && vHits < flows.count(), "double range must be decisive")
    intercept[IllegalArgumentException](
      QueryDsl.compile(QueryDsl.parse("""{"term": {"v": "x"}}"""))(fcat))
  }

  test("q144: the DSL query section gates the agg input (front door ≡ q04b-style parent filter)") {
    val viaJson = SparkEntry.queries("q144_agg_body_filtered")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Long]("doc_count"), r.getAs[Double]("value"))).toSet
    val flows = queries.Flows.df(spark, sf).filter(col("event_type") === "purchase")
    val typed = graft.operators.ProportionalSum.run(
      flows, col("rs"), col("re"), col("v"), None,
      graft.operators.ProportionalSum.Config(3600000L, Some(1704412800000L), Some(1706140800000L)))
      .collect().map(r => (r.getAs[Long]("bucket_ms"), r.getAs[Long]("doc_count"), r.getAs[Double]("value"))).toSet
    assert(viaJson == typed && viaJson.nonEmpty)
    // the filter is decisive: fewer docs than the unfiltered q143 run
    val unfiltered = SparkEntry.queries("q143_agg_body")(spark, sf).collect()
      .map(_.getAs[Long]("doc_count")).sum
    assert(viaJson.toSeq.map(_._2).sum < unfiltered)
  }

  test("q146/q147: framework aggs through the front door are row-identical to q10/q11") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.toSeq.toList).toSet
    assert(rows("q146_dsl_date_histogram") == rows("q10_date_histogram"))
    assert(rows("q147_dsl_terms_agg") == rows("q11_terms_topn"))
    val ev = queries.EsAggQueries.ev(spark, sf)
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(ev, QueryDsl.parse(body)))
    // metric sub-agg on proportional_sum (value IS its metric)
    badAgg("""{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"], "interval": 1},
             |  "aggs": {"s": {"sum": {"field": "v"}}}}}}""".stripMargin)
    badAgg("""{"aggs": {"h": {"date_histogram": {"field": "ms", "fixed_interval": 3600000},
             |  "aggs": {"s": {"median": {"field": "value"}}}}}}""".stripMargin) // unknown metric
    badAgg("""{"aggs": {"h": {"date_histogram": {"field": "nope", "fixed_interval": 1}}}}""")
    badAgg("""{"aggs": {"h": {"date_histogram": {"field": "ms", "calendar_interval": "1h"}}}}""")
    badAgg("""{"aggs": {"h": {"terms": {"field": "event_type", "order": {"_count": "asc"}}}}}""")
    badAgg("""{"aggs": {"h": {"significant_terms": {"field": "event_type"}}}}""")
  }

  test("q10c and q173 skip a doc without a value, as ES's range agg does") {
    val dir = queries.IngestQueries.scratchDir("graft_null_value").toString
    val some = queries.Tables(spark, sf, "events").limit(40)
    some.union(some.limit(1).withColumn("value", lit(null).cast(some.schema("value").dataType)))
      .write.parquet(s"$dir/events.parquet")
    def rows(name: String) = SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq.toList).toSet
    val typed = rows("q10c_range_agg")
    assert(rows("q173_dsl_range") == typed)
    val valued = queries.Tables(spark, dir, "events").filter(col("value").isNotNull).count()
    assert(valued == 40)
    assert(SparkEntry.queries("q10c_range_agg")(spark, dir).agg(sum("doc_count")).head.getLong(0) == valued)
  }

  test("r18 framework aggs at the door: histogram/range/order-path/bounds-string ≡ typed; slices partition q140b") {
    def rows(name: String) = SparkEntry.queries(name)(spark, sf).collect()
      .map(r => r.toSeq.toList).toSet
    // door ≡ typed row-identically
    assert(rows("q172_dsl_histogram") == rows("q10b_numeric_histogram"))
    assert(rows("q173_dsl_range") == rows("q10c_range_agg"))
    assert(rows("q174_dsl_order_agg_path") == rows("q10f_histogram_order_agg"))
    // string-spelled bounds parse to q150's exact ms — identical run
    assert(rows("q175_dsl_bounds_string") == rows("q150_dsl_extended_bounds"))
    // sliced export: slices are disjoint, complete, and their union IS
    // q140b's hit set (same doc/page fields; ranks are per-slice)
    val sliced = SparkEntry.queries("q176_dsl_sliced_export")(spark, sf).collect()
    val full = SparkEntry.queries("q140b_scroll_export")(spark, sf).collect()
    assert(sliced.map(_.getAs[Long]("doc_id")).toSet ==
      full.map(_.getAs[Long]("doc_id")).toSet, "slices must union to the full drain")
    assert(sliced.length == full.length, "a doc landed in more than one slice")
    val bySlice = sliced.groupBy(_.getAs[Long]("slice_id"))
    assert(bySlice.keySet == Set(0L, 1L, 2L, 3L))
    for ((sid, rs) <- bySlice) {
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to rs.length).toSeq,
        s"slice $sid ranks must be dense from 1")
      // in-slice drain order = (n_chars asc, doc_id asc)
      val keys = sorted.map(r => (r.getAs[Long]("n_chars"), r.getAs[Long]("doc_id")))
      assert(keys.sameElements(keys.sortBy(identity)), s"slice $sid out of drain order")
      assert(rs.forall(r => r.getAs[Long]("doc_id") % 4 == sid), s"slice $sid assignment")
    }
    // loud rejections
    val ev = queries.EsAggQueries.ev(spark, sf)
    def badAgg(body: String): Unit =
      intercept[IllegalArgumentException](QueryDsl.aggBody(ev, QueryDsl.parse(body)))
    // order path naming no declared metric
    badAgg("""{"aggs": {"h": {"date_histogram": {"field": "ms", "fixed_interval": 3600000,
             |  "order": {"nope": "desc"}},
             |  "aggs": {"sum_value": {"sum": {"field": "value"}}}}}}""".stripMargin)
    // histogram: zero/fractional interval, unknown keys
    badAgg("""{"aggs": {"h": {"histogram": {"field": "value", "interval": 0}}}}""")
    badAgg("""{"aggs": {"h": {"histogram": {"field": "value", "interval": 2.5}}}}""")
    badAgg("""{"aggs": {"h": {"histogram": {"field": "value", "interval": 25, "offset": 1}}}}""")
    // range: no key, overlapping keys dup, empty ranges
    badAgg("""{"aggs": {"h": {"range": {"field": "value", "ranges": [{"to": 50}]}}}}""")
    badAgg("""{"aggs": {"h": {"range": {"field": "value", "ranges": []}}}}""")
    badAgg("""{"aggs": {"h": {"range": {"field": "value",
             |  "ranges": [{"key": "a", "to": 50}, {"key": "a", "from": 50}]}}}}""".stripMargin)
    // bounds string outside the whitelist
    val flows = queries.Flows.df(spark, sf)
    intercept[IllegalArgumentException](QueryDsl.aggBody(flows, QueryDsl.parse(
      """{"aggs": {"h": {"proportional_sum": {"fields": ["rs","re","v"],
        |  "interval": 60000, "start": 1704067200000, "end": 1704153600000,
        |  "extended_bounds": {"min": "01/01/2024", "max": 1704153599999}}}}}""".stripMargin)))
    // _field_caps: analyzed must name a string column
    intercept[IllegalArgumentException](
      QueryDsl.fieldCaps(queries.Tables(spark, sf, "documents"), analyzed = Set("doc_id")))
  }

  test("q145 _mget: request order, duplicate served twice, miss is a found=false row") {
    val out = SparkEntry.queries("q145_mget")(spark, sf).collect().sortBy(_.getAs[Long]("req_pos"))
    assert(out.length == 5)
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(7L, 3L, 999999999L, 11L, 3L))
    assert(out.map(_.getAs[Boolean]("found")).toSeq == Seq(true, true, false, true, true))
    val miss = out(2)
    assert(miss.isNullAt(miss.fieldIndex("lang")) && miss.isNullAt(miss.fieldIndex("n_chars")))
    // duplicate id rows carry identical source fields
    assert(out(1).getAs[String]("lang") == out(4).getAs[String]("lang"))
    assert(out(1).getAs[Long]("n_chars") == out(4).getAs[Long]("n_chars"))
    val docs = queries.Tables(spark, sf, "documents")
    intercept[IllegalArgumentException](QueryDsl.mget(docs, QueryDsl.parse("""{"ids": []}""")))
    intercept[IllegalArgumentException](QueryDsl.mget(docs, QueryDsl.parse("""{"ids": [1.5]}""")))
  }

  test("q140/q141 registry shapes at sf0.001") {
    val out141 = SparkEntry.queries("q141_search_template")(spark, sf).collect()
    assert(out141.length == 20)
    assert(out141.head.schema.fieldNames.toSeq == Seq("rank", "score", "doc_id", "lang", "n_chars"))
    assert(out141.forall(r => r.getAs[String]("lang") == "es" && r.getAs[Long]("n_chars") >= 200))
    assert(out141.forall(_.getAs[Double]("score") == 1.0))
  }

  test("q137/q138/q139 registry: shapes, projections, decisive clauses at sf0.001") {
    val out = SparkEntry.queries("q137_wrapper")(spark, sf).collect()
    assert(out.length == 20)
    assert(out.head.schema.fieldNames.toSeq ==
      Seq("rank", "score", "doc_id", "lang", "source", "n_chars"))
    // top of the page: must (1.0) + en (2.0) [+ terms 1.0 when also src3/7/11]
    assert(out.map(_.getAs[Double]("score")).max >= 3.0)
    val docs = queries.Tables(spark, sf, "documents")
    val n = docs.count()
    // each q137 clause decisive on the real corpus
    def hits(q: String): Long = docs.filter(QueryDsl.compile(QueryDsl.parse(q)).pred).count()
    for (q <- Seq(
      """{"range": {"n_chars": {"gte": 150, "lt": 450}}}""",
      """{"term": {"lang": "en"}}""",
      """{"terms": {"source": ["src3", "src7", "src11"]}}""",
      """{"prefix": {"lang": {"value": "f"}}}""",
      """{"wildcard": {"source": "src1?"}}""")) {
      val h = hits(q)
      assert(h > 0 && h < n, s"q137 clause not decisive: $q → $h of $n")
    }
    val out138 = SparkEntry.queries("q138_search_body")(spark, sf).collect()
    assert(out138.length == 20)
    assert(out138.head.schema.fieldNames.toSeq == Seq("rank", "score", "doc_id", "lang", "n_chars"))
    assert(out138.map(_.getAs[Long]("rank")).min == 11) // from=10 honored
    assert(out138.forall(_.getAs[Double]("score") == 3.0))
    val out139 = SparkEntry.queries("q139_count")(spark, sf).collect()
    assert(out139.length == 1)
    val total = out139.head.getAs[Long]("total")
    assert(total > 0 && total < n, s"q139 match-and count not decisive: $total of $n")
  }
}
