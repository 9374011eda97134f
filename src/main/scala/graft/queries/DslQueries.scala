package graft.queries

import java.util.Base64

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.operators.ProportionalSum

/** The ES Query-DSL JSON entry point, compiled to Catalyst.
  *
  * Everything else in this engine exposes each ES query/agg as a named
  * Scala registry entry; this module is the missing front door — the JSON
  * a reference user actually SENDS. The reference plugin hangs its
  * aggregation off exactly this surface (it is a `SearchPlugin` whose one
  * extension point is the `_search` request body,
  * `DriftPlugin.java:26-34` — every IT in the reference builds a JSON
  * search request, e.g. `ProportionalSumAggregatorIT.java:123`), so "a
  * user could switch" requires accepting the request-body language, not
  * just its compiled forms.
  *
  * Scope and contract:
  *   - FILTER-CONTEXT subset, compiled on the driver (the query JSON is
  *     request-sized) into a single [[Column]] predicate — a pure scan
  *     filter. Structured-field leaves (`term`/`terms`/`range`/`ids`/
  *     `exists`/`prefix`/`wildcard`) are pushdown-eligible comparisons;
  *     `match` is a row-local token-containment test over the shared
  *     whitespace tokenization ([[graft.functions.text.tokens]]). Nothing
  *     here shuffles; the only post-scan work is the top-k page
  *     (orderBy+limit = TakeOrderedAndProject, coordinator-sized).
  *   - SCORING is the filter-context constant-score model (each matched
  *     query-context clause contributes its `boost`, dyadic literals so
  *     every sum is IEEE-exact cross-engine — the q118/q119 discipline).
  *     Full-text relevance (BM25, dis_max, function_score...) is NOT
  *     re-implemented here: those live in the dedicated q76+/q86+/q123
  *     family; this compiler covers the boolean-retrieval subset a
  *     filter-context `_search`/`_count` body uses.
  *   - UNKNOWN input fails LOUDLY (unsupported query type, unknown field,
  *     type-mismatched literal, malformed JSON/base64, non-single-key
  *     clause objects) — never a silent empty result.
  *
  * Supported: `bool` (must/filter/should/must_not/minimum_should_match/
  * boost), `term`, `terms`, `range` (gt/gte/lt/lte), `exists`, `ids`,
  * `prefix`, `wildcard` (`*`/`?`), `match` (operator and/or), `match_all`,
  * `constant_score`, `wrapper` (base64); search-body envelope: `query`,
  * `sort` (fields + `_score`, asc/desc), `from`/`size`, `_source`; and the
  * `_count` body.
  */
object QueryDsl {

  private val mapper = new ObjectMapper

  /** Field catalog for the frame being queried — derived from its Spark
    * schema, so the DSL fronts ANY table, not one hardcoded mapping:
    * long/int columns are numeric, string columns textual; other types
    * (double values, arrays, binaries) are not addressable by this subset
    * and fail loudly when referenced. Runtime fields (always long in this
    * subset) extend the catalog per request. */
  final case class Catalog(
      longs: Set[String],
      strings: Set[String],
      doubles: Set[String] = Set.empty,
      analyzed: Map[String, String] = Map.empty) {
    def has(f: String): Boolean = longs(f) || strings(f) || doubles(f)
    def withRuntime(names: Set[String]): Catalog = copy(longs = longs ++ names)
    /** Register materialized token columns (field → array<string> column):
      * `match` leaves on a registered field PROBE the token column
      * (array_contains) instead of regex-scanning the raw text — the ES
      * analyzed-index analog (at 100 TB the analyzed frame is materialized
      * once and every match/count probes it). */
    def withAnalyzed(m: Map[String, String]): Catalog = copy(analyzed = analyzed ++ m)
  }

  def catalogOf(df: DataFrame): Catalog = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StringType, StructField}
    val fs = df.schema.fields
    Catalog(
      fs.collect { case StructField(n, LongType | IntegerType, _, _) => n }.toSet,
      fs.collect { case StructField(n, StringType, _, _) => n }.toSet,
      fs.collect { case StructField(n, DoubleType | FloatType, _, _) => n }.toSet)
  }

  private def checkField(f: String)(implicit cat: Catalog): String = {
    require(cat.has(f), s"query DSL: unknown field '$f'")
    f
  }

  /** ES `_field_caps` — the capabilities endpoint, answered from the
    * schema-derived [[catalogOf]] (the catalog IS the mapping): one row
    * per addressable field with its ES type and the searchable/
    * aggregatable flags this door actually honors. `analyzed` declares
    * the full-text fields (ES `text`: searchable, NOT aggregatable —
    * no doc values); other strings are `keyword`, longs `long`, doubles
    * `double`. Non-addressable columns (arrays, binaries) are simply
    * absent, exactly like the door's own loud-rejection surface. */
  def fieldCaps(df: DataFrame, analyzed: Set[String] = Set.empty): DataFrame = {
    val cat = catalogOf(df)
    analyzed.foreach(f => require(cat.strings(f),
      s"query DSL: analyzed field '$f' is not a string column"))
    val rows = df.schema.fields.toSeq.collect {
      case f if analyzed(f.name) => (f.name, "text", true, false)
      case f if cat.longs(f.name) => (f.name, "long", true, true)
      case f if cat.strings(f.name) => (f.name, "keyword", true, true)
      case f if cat.doubles(f.name) => (f.name, "double", true, true)
    }
    import df.sparkSession.implicits._
    rows.toDF("field", "type", "searchable", "aggregatable")
  }

  /** Compiled clause: match predicate + query-context score (0.0 when the
    * clause does not match; filter-context callers drop the score). */
  final case class Compiled(pred: Column, score: Column)

  def parse(json: String): JsonNode = {
    val n =
      try mapper.readTree(json)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(s"query DSL: malformed JSON: ${e.getMessage}")
      }
    entries(n, "the request root")
    n
  }

  // ----- the body reader: every value the door reads is typed here -----
  // Each accessor takes the value node (null when the key is absent) and
  // the name of the field it fills, and throws IllegalArgumentException
  // naming that field and the JSON type it got: a body value is never
  // coerced (Jackson's lenient asDouble reads "x" as 0.0, asInt reads a
  // long past 2^31 as its low bits).

  private def typeError(what: String, want: String, v: JsonNode): Nothing = {
    val got =
      if (v == null) "nothing"
      else if (v.isNull) "null"
      else s"${v.getNodeType.toString.toLowerCase(java.util.Locale.ROOT)} $v"
    throw new IllegalArgumentException(s"query DSL: $what must be $want, got $got")
  }

  private def text(v: JsonNode, what: String): String =
    if (v != null && v.isTextual) v.textValue else typeError(what, "a string", v)

  private def long(v: JsonNode, what: String): Long =
    if (v != null && v.isIntegralNumber && v.canConvertToLong) v.longValue
    else typeError(what, "an integer", v)

  private def int(v: JsonNode, what: String): Int =
    if (v != null && v.isIntegralNumber && v.canConvertToInt) v.intValue
    else typeError(what, "a 32-bit integer", v)

  private def double(v: JsonNode, what: String): Double =
    if (v != null && v.isNumber && java.lang.Double.isFinite(v.doubleValue)) v.doubleValue
    else typeError(what, "a finite number", v)

  private def bool(v: JsonNode, what: String): Boolean =
    if (v != null && v.isBoolean) v.booleanValue else typeError(what, "a boolean", v)

  private def items(v: JsonNode, what: String): Seq[JsonNode] =
    if (v != null && v.isArray) v.elements().asScala.toSeq else typeError(what, "an array", v)

  private def texts(v: JsonNode, what: String): Seq[String] = items(v, what).map(text(_, s"$what entry"))

  /** One value or an array of them (clause lists, knn clauses, orders). */
  private def oneOrMany(v: JsonNode, what: String): Seq[JsonNode] = if (v.isArray) items(v, what) else Seq(v)

  /** An object whose keys are names the body chooses (aggs, filters, runtime fields). */
  private def entries(v: JsonNode, what: String): Seq[(String, JsonNode)] =
    if (v != null && v.isObject) v.fields().asScala.toSeq.map(e => (e.getKey, e.getValue))
    else typeError(what, "an object", v)

  /** An object holding every `required` key and no key outside `required ++ optional`. */
  private def obj(v: JsonNode, what: String, required: Set[String],
      optional: Set[String] = Set.empty): JsonNode = {
    val keys = entries(v, what).map(_._1)
    val absent = required.toSeq.sorted.filterNot(v.has)
    require(absent.isEmpty, s"query DSL: $what requires ${absent.mkString(", ")}")
    val unknown = keys.filterNot(k => required(k) || optional(k))
    require(unknown.isEmpty, s"query DSL: unsupported $what keys: ${unknown.mkString(", ")} " +
      s"(accepted: ${(required ++ optional).toSeq.sorted.mkString(", ")})")
    v
  }

  /** `read` of key `k` of `n`, when `n` has it. */
  private def opt[T](n: JsonNode, k: String)(read: (JsonNode, String) => T): Option[T] =
    Option(n.get(k)).map(read(_, k))

  /** The (name, body) of an ES clause object — exactly one key. */
  private def sole(n: JsonNode, what: String): (String, JsonNode) = {
    require(n != null && n.isObject && n.size == 1,
      s"query DSL: $what must be a single-key object, got: $n")
    val name = n.fieldNames().next()
    (name, n.get(name))
  }

  private def boostOf(n: JsonNode): Double = opt(n, "boost")(double).getOrElse(1.0)

  /** Typed literal for `field`: long fields take integral JSON numbers,
    * double fields any finite JSON number, string fields JSON strings. */
  private def typedLit(field: String, v: JsonNode)(implicit cat: Catalog): Column = {
    val what = s"a value of field '$field'"
    if (cat.longs(field)) lit(long(v, what))
    else if (cat.doubles(field)) lit(double(v, what))
    else lit(text(v, what))
  }

  private def stringField(f: String, q: String)(implicit cat: Catalog): String = {
    checkField(f)
    require(cat.strings(f), s"query DSL: $q requires a string field, got '$f'")
    f
  }

  private def leaf(pred: Column, boost: Double): Compiled =
    Compiled(pred, when(pred, lit(boost)).otherwise(lit(0.0)))

  /** `{"field": value}` or `{"field": {"value": v, "boost": b}}`. */
  private def valueForm(body: JsonNode, q: String)(implicit cat: Catalog): (String, JsonNode, Double) = {
    val (f, v) = sole(body, q)
    checkField(f)
    if (v.isObject) {
      obj(v, s"$q object form", Set("value"), Set("boost"))
      (f, v.get("value"), boostOf(v))
    } else (f, v, 1.0)
  }

  /** A `match` value: `"text"` or `{"query": text, "operator": and|or,
    * "boost": b}` → (query, operator, boost). */
  private def matchValue(v: JsonNode): (String, String, Double) =
    if (v.isObject) {
      obj(v, "match object form", Set("query"), Set("operator", "boost"))
      val o = opt(v, "operator")(text).getOrElse("or")
      require(o == "or" || o == "and", s"query DSL: match operator must be and/or, got '$o'")
      (text(v.get("query"), "match query"), o, boostOf(v))
    } else (text(v, "match value"), "or", 1.0)

  /** ES wildcard → SQL LIKE: `*`→`%`, `?`→`_`; literal `%`/`_`/`\` escaped
    * (backslash in the pattern is treated literally — the compiler does not
    * implement ES's `\*` escape, and says so here rather than half-working). */
  private[queries] def wildcardToLike(p: String): String = p.flatMap {
    case '*' => "%"
    case '?' => "_"
    case '%' => "\\%"
    case '_' => "\\_"
    case '\\' => "\\\\"
    case c => c.toString
  }

  /** Literal prefix → SQL LIKE prefix match (all LIKE specials escaped). */
  private[queries] def prefixToLike(p: String): String =
    p.flatMap {
      case '%' => "\\%"
      case '_' => "\\_"
      case '\\' => "\\\\"
      case c => c.toString
    } + "%"

  /** The request-side analyzer — the same lower/whitespace normalization
    * the corpus tokenization applies ([[graft.functions.text.tokens]]).
    * Locale.ROOT matches Spark's locale-independent `lower()`: a default
    * JVM locale like Turkish would otherwise fold 'I' to dotless 'ı' and
    * silently diverge request-side analysis from the index side. */
  private[queries] def analyze(q: String): Seq[String] =
    q.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq.filter(_.nonEmpty)

  /** The legacy `interval` field's STRING grammar — the reference builder
    * accepts a `DateHistogramInterval` string next to the long
    * (`ProportionalSumAggregationBuilder.java:104-116`), and its own ITs
    * serialize exactly that shape (`SamplingIT.java:111` sends
    * `"interval": "1M"`). A `DATE_FIELD_UNITS` spelling (builder:77-96 —
    * note: NO quarter in the legacy map) is a CALENDAR unit; any other
    * string parses as a fixed TimeValue ("90m", "2h") in ms. Returns
    * Left(calendarUnit) or Right(fixedMs). */
  private val calendarUnits: Map[String, String] = Map(
    "year" -> "year", "1y" -> "year",
    "month" -> "month", "1M" -> "month",
    "week" -> "week", "1w" -> "week")
  // day and the sub-day DATE_FIELD_UNITS spellings are FIXED-WIDTH under
  // the reference's pinned tz=null/UTC (no DST, q06d's spec-pinned
  // aliasing) — compile them straight onto the fixed ms grid so they work
  // in every position (incl. nested) and keep the no-explode plan; week/
  // month/year round on non-epoch anchors and stay calendar
  private val fixedUnits: Map[String, Long] = Map(
    "day" -> 86400000L, "1d" -> 86400000L,
    "hour" -> 3600000L, "1h" -> 3600000L,
    "minute" -> 60000L, "1m" -> 60000L,
    "second" -> 1000L, "1s" -> 1000L)
  private[queries] def parseIntervalString(sp: String): Either[String, Long] =
    calendarUnits.get(sp).map(Left(_): Either[String, Long])
      .orElse(fixedUnits.get(sp).map(Right(_): Either[String, Long]))
      .getOrElse {
        // "0ms"/"0s" parse to 0 via the TimeValue regex and would flow
        // into a floor-division by zero (nulls, silently empty buckets)
        // — reject here so EVERY string-interval door (each position of
        // the proportional_sum parser) inherits the loud failure
        val ms = parseTimeValueMs(sp, "interval")
        require(ms > 0, s"query DSL: interval must be positive, got '$sp'")
        Right(ms)
      }

  /** The TimeValue subset both the fixed `DateHistogramInterval` spellings
    * and `parseStringOffset` (builder:118-124) use: `<n><unit>` with unit
    * ms|s|m|h|d. Calendar-unit spellings ("1M") never reach here — the
    * DATE_FIELD_UNITS map resolves them first; a bad unit fails loudly. */
  private[queries] def parseTimeValueMs(sp: String, what: String): Long = {
    val tv = "^(\\d+)(ms|s|m|h|d)$".r
    sp match {
      case tv(n, u) =>
        val mult = u match {
          case "ms" => 1L
          case "s" => 1000L
          case "m" => 60000L
          case "h" => 3600000L
          case "d" => 86400000L
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(
        s"query DSL: bad $what time value '$sp' (expected <n>(ms|s|m|h|d))")
    }
  }

  /** `extended_bounds` date-string min/max (LongBounds.PARSER,
    * builder:130-131): the whitelisted formats the `format` knob already
    * proves cross-engine mirrors for, parsed driver-side at UTC to the
    * identical epoch-ms the integral spelling carries. Strict per-format
    * parse (Locale.ROOT); an unlisted or unparseable spelling is loud. */
  private[queries] def parseBoundDateMs(sp: String, what: String): Long = {
    import java.time.{LocalDate, LocalDateTime, ZoneOffset}
    import java.time.format.DateTimeFormatter
    import java.util.Locale
    val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'", Locale.ROOT)
    val dtm = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm", Locale.ROOT)
    val dt = DateTimeFormatter.ofPattern("yyyy-MM-dd", Locale.ROOT)
    try {
      if (sp.endsWith("Z"))
        LocalDateTime.parse(sp, iso).toInstant(ZoneOffset.UTC).toEpochMilli
      else if (sp.contains(" "))
        LocalDateTime.parse(sp, dtm).toInstant(ZoneOffset.UTC).toEpochMilli
      else
        LocalDate.parse(sp, dt).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"query DSL: extended_bounds $what '$sp' matches no whitelisted date format " +
            "(yyyy-MM-dd'T'HH:mm:ss.SSS'Z' | yyyy-MM-dd HH:mm | yyyy-MM-dd)", e)
    }
  }

  /** `offset` string form: optional +/- sign then a TimeValue —
    * the builder's parseStringOffset (builder:295-302). */
  private[queries] def parseStringOffset(sp: String): Long =
    if (sp.startsWith("-")) -parseTimeValueMs(sp.substring(1), "offset")
    else parseTimeValueMs(sp.stripPrefix("+"), "offset")

  /** Validate and register analyzed-field mappings against the frame. */
  private def checkedAnalyzed(cat: Catalog, docs: DataFrame, analyzed: Map[String, String]): Catalog = {
    analyzed.foreach { case (f, tc) =>
      require(cat.strings(f), s"query DSL: analyzed field '$f' must be a catalog string field")
      require(docs.columns.contains(tc), s"query DSL: analyzed token column '$tc' not in frame")
    }
    cat.withAnalyzed(analyzed)
  }

  private def clauseList(body: JsonNode, key: String)(implicit cat: Catalog): Seq[Compiled] =
    Option(body.get(key)).toSeq.flatMap(oneOrMany(_, key)).map(compile)

  /** Compile one ES query clause to (predicate, constant-score). */
  def compile(q: JsonNode)(implicit cat: Catalog): Compiled = {
    val (name, body) = sole(q, "query clause")
    name match {
      case "term" =>
        val (f, v, b) = valueForm(body, "term")
        leaf(col(f).isNotNull && col(f) === typedLit(f, v), b)

      case "terms" =>
        // field key + optional sibling "boost" (the ES terms-query shape)
        val keys = body.fieldNames().asScala.toSeq.filterNot(_ == "boost")
        require(keys.size == 1, s"query DSL: terms requires exactly one field, got $keys")
        val f = checkField(keys.head)
        val vs = items(body.get(f), "terms values").map(typedLit(f, _))
        require(vs.nonEmpty, "query DSL: terms requires a non-empty array")
        leaf(col(f).isNotNull && col(f).isin(vs: _*), boostOf(body))

      case "range" =>
        val (f, spec) = sole(body, "range")
        checkField(f)
        obj(spec, "range", Set.empty, Set("gte", "gt", "lte", "lt", "boost"))
        val ops = spec.fieldNames().asScala.toSeq.filterNot(_ == "boost")
        require(ops.nonEmpty, "query DSL: range requires at least one bound")
        val preds = ops.map { o =>
          val v = typedLit(f, spec.get(o))
          o match {
            case "gte" => col(f) >= v
            case "gt" => col(f) > v
            case "lte" => col(f) <= v
            case "lt" => col(f) < v
          }
        }
        leaf(col(f).isNotNull && preds.reduce(_ && _), boostOf(spec))

      case "exists" =>
        obj(body, "exists", Set("field"), Set("boost"))
        val f = checkField(text(body.get("field"), "exists field"))
        leaf(col(f).isNotNull, boostOf(body))

      case "ids" =>
        obj(body, "ids", Set("values"), Set("boost"))
        checkField("doc_id") // ids addresses the corpus identity column
        val vs = items(body.get("values"), "ids values").map(typedLit("doc_id", _))
        require(vs.nonEmpty, "query DSL: ids requires a non-empty array")
        leaf(col("doc_id").isNotNull && col("doc_id").isin(vs: _*), boostOf(body))

      case "prefix" =>
        val (f, v, b) = valueForm(body, "prefix")
        stringField(f, "prefix")
        leaf(col(f).isNotNull && col(f).like(prefixToLike(text(v, "prefix value"))), b)

      case "wildcard" =>
        val (f, v, b) = valueForm(body, "wildcard")
        stringField(f, "wildcard")
        leaf(col(f).isNotNull && col(f).like(wildcardToLike(text(v, "wildcard value"))), b)

      case "match" =>
        val (f, v) = sole(body, "match")
        stringField(f, "match")
        val (qstr, op, b) = matchValue(v)
        val qtoks = analyze(qstr)
        require(qtoks.nonEmpty, "query DSL: match requires a non-empty query string")
        val contains = cat.analyzed.get(f) match {
          // PROBE form: the field has a registered materialized token
          // column — membership is one array_contains per term against the
          // checkpointed frame, no per-row tokenization or text scan (the
          // analyzed-index path; see Catalog.withAnalyzed)
          case Some(tc) => qtoks.map(t => array_contains(col(tc), t))
          // SCAN form (un-analyzed frames): token containment WITHOUT
          // materializing the token array: t is in tokens(text) iff
          // lower(text) matches (^|\s)t(\s|$) — the whitespace-split
          // analyzer's membership test as a word-boundary regex, which the
          // engine runs as a literal scan with no derived array or padded
          // copy. Measured head-to-head in ONE JVM on the 500k-doc salted
          // 100x corpus (min-of-2, identical counts): array build 17.4s,
          // ' t ' containment over norm 12.0s, over a translate char-map
          // 17.1s, THIS form 6.0s. lower() stays (not (?i)) so non-ASCII
          // case folds exactly like the corpus tokenization.
          case None => qtoks.map(t =>
            lower(col(f)).rlike("(^|\\s)" + java.util.regex.Pattern.quote(t) + "(\\s|$)"))
        }
        leaf(col(f).isNotNull &&
          (if (op == "and") contains.reduce(_ && _) else contains.reduce(_ || _)), b)

      case "match_all" =>
        obj(body, "match_all", Set.empty, Set("boost"))
        Compiled(lit(true), lit(boostOf(body)))

      case "bool" =>
        obj(body, "bool", Set.empty,
          Set("must", "filter", "should", "must_not", "minimum_should_match", "boost"))
        val must = clauseList(body, "must")
        val filt = clauseList(body, "filter")
        val mustNot = clauseList(body, "must_not")
        val should = clauseList(body, "should")
        // ES default: should is optional when must/filter anchor the query,
        // required (>=1) when it is the only positive context
        val msmDefault = if (must.nonEmpty || filt.nonEmpty) 0 else 1
        val msmRaw = opt(body, "minimum_should_match")(int).getOrElse(msmDefault)
        // ES's negative form: "the total is equal to the number of optional
        // clauses minus this number" — a raw negative value would otherwise
        // compile to a vacuously-true nShould >= negative and silently
        // match everything (the fail-loud contract forbids that); a deficit
        // beyond the clause count is a malformed request, not a semantics
        val msm = if (msmRaw < 0) should.size + msmRaw else msmRaw
        require(msm >= 0,
          s"query DSL: minimum_should_match $msmRaw over ${should.size} should clauses " +
            "leaves a negative requirement")
        require(should.nonEmpty || msm == 0,
          "query DSL: minimum_should_match > 0 with no should clauses matches nothing")
        // every compiled predicate is TWO-VALUED (leaves guard their
        // field's nulls with isNotNull, which parquet pushes down — a
        // coalesce wrapper here would block pushdown entirely), so a
        // null-field doc counts 0 toward minimum_should_match and a
        // must_not over it still includes the doc
        val nShould = should.map(_.pred.cast("int")).reduceOption(_ + _).getOrElse(lit(0))
        val pred = Seq(
          (must ++ filt).map(_.pred).reduceOption(_ && _),
          mustNot.map(c => !c.pred).reduceOption(_ && _),
          if (should.nonEmpty) Some(nShould >= lit(msm)) else None
        ).flatten.reduceOption(_ && _).getOrElse(lit(true))
        // query-context children (must + should) contribute their scores;
        // filter and must_not contribute 0 — the ES filter-context contract
        val childSum = (must ++ should).map(_.score)
          .reduceOption(_ + _).getOrElse(lit(1.0))
        Compiled(pred, when(pred, lit(boostOf(body)) * childSum).otherwise(lit(0.0)))

      case "constant_score" =>
        obj(body, "constant_score", Set("filter"), Set("boost"))
        val inner = compile(body.get("filter"))
        leaf(inner.pred, boostOf(body))

      case "wrapper" =>
        obj(body, "wrapper", Set("query"))
        val b64 = text(body.get("query"), "wrapper query")
        val decoded =
          try new String(Base64.getDecoder.decode(b64), "UTF-8")
          catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"query DSL: wrapper base64 invalid: ${e.getMessage}")
          }
        compile(parse(decoded))

      case other =>
        throw new IllegalArgumentException(s"query DSL: unsupported query type '$other'")
    }
  }

  /** Execute a `_search` request body against `docs`: query + sort +
    * from/size + `_source`. Output = (rank, score, _source fields...).
    *
    * Pagination is deterministic: unless the body already sorts on
    * `doc_id`, the unique key is appended as the final tiebreak (ES makes
    * the same demand of its users — an un-tiebroken sort gives unstable
    * pages). The page is fetched with orderBy+limit(from+size) —
    * TakeOrderedAndProject, a per-partition top-k + coordinator merge, no
    * global sort shuffle — then ranked on the localized (≤from+size)-row
    * coordinator frame, the ES response-building analog. */
  def search(docs: DataFrame, body: JsonNode,
      analyzed: Map[String, String] = Map.empty): DataFrame = {
    val (fetch, sortCols, from, src) = pageQuery(docs, body, analyzed)
    Tables.localize(fetch)
      .withColumn("rank", row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
      .filter(col("rank") > from)
      .select((col("rank") +: col("score") +: src.map(col)): _*)
  }

  /** The page envelope: (`from` default 0, `size` default 10). */
  private def fromSize(body: JsonNode): (Int, Int) = {
    val from = opt(body, "from")(int).getOrElse(0)
    val size = opt(body, "size")(int).getOrElse(10)
    require(from >= 0 && size > 0 && from.toLong + size <= Int.MaxValue,
      s"query DSL: bad page from=$from size=$size")
    (from, size)
  }

  /** The `sort` entries as (field, ascending): `{"f": "asc"}` or
    * `{"f": {"order": "desc"}}`; fields are checked by the caller. */
  private def sortKeys(body: JsonNode): Seq[(String, Boolean)] =
    items(body.get("sort"), "sort").map { s =>
      val (f, spec) = sole(s, "sort entry")
      val order =
        if (spec.isObject) text(obj(spec, "sort entry", Set("order")).get("order"), "sort order")
        else text(spec, "sort order")
      require(order == "asc" || order == "desc", s"query DSL: sort order must be asc/desc, got '$order'")
      (f, order == "asc")
    }

  /** The `_source` field list (default: doc_id). */
  private def sourceList(body: JsonNode): Seq[String] =
    opt(body, "_source")(texts).map { fs =>
      require(fs.nonEmpty, "query DSL: _source must list at least one field")
      fs
    }.getOrElse(Seq("doc_id"))

  /** The distributed part of [[search]] — everything up to (excluding) the
    * coordinator materialization — exposed so PlanSpec can gate its shape
    * (filter pushed below the scan, TakeOrdered page, no shuffle). */
  private[graft] def pageQuery(docs0: DataFrame, body: JsonNode,
      analyzed: Map[String, String] = Map.empty)
      : (DataFrame, Seq[Column], Int, Seq[String]) = {
    obj(body, "search body", Set("query"),
      Set("sort", "from", "size", "_source", "search_after", "runtime_mappings"))
    val (docs, rtSet) = applyRuntimeMappings(docs0, body)
    implicit val cat: Catalog =
      checkedAnalyzed(catalogOf(docs0).withRuntime(rtSet), docs0, analyzed)
    val c = compile(body.get("query"))
    val (from, size) = fromSize(body)
    val explicit: Seq[(String, Boolean)] = // (field, asc)
      if (body.has("sort")) sortKeys(body).map { case (f, asc) =>
        if (f != "_score") checkField(f)
        (f, asc)
      }
      else Seq(("_score", false))
    // `search_after`: ES's deep-paging form (from/size deep pages re-sort
    // everything they skip; the keyset cursor prunes instead — q84 is the
    // relevance-sorted typed sibling, q140 the exhaustive-drain form).
    // The cursor is a literal sort-value array; the lexicographic
    // strictly-after predicate lands on raw columns, so it reaches the
    // scan like scroll's. Requires an explicit field sort including the
    // doc_id tiebreak (totality) and non-null sort fields (the scroll
    // contract — a null cursor comparison silently drops the tail).
    val afterPred: Option[Column] = opt(body, "search_after")(items).map { vals =>
      require(body.has("sort"), "query DSL: search_after requires an explicit sort")
      require(!explicit.exists(_._1 == "_score"),
        "query DSL: search_after pages on field sorts (relevance paging is the typed q84 surface)")
      require(explicit.exists(_._1 == "doc_id"),
        "query DSL: search_after requires the unique doc_id tiebreak in the sort")
      require(from == 0, "query DSL: search_after and from are mutually exclusive")
      require(vals.size == explicit.size,
        s"query DSL: search_after carries ${vals.size} values for ${explicit.size} sort fields")
      val typed = explicit.zip(vals).map { case ((f, asc), v) => (f, asc, typedLit(f, v)) }
      val keyset = typed.zipWithIndex.map { case ((f, asc, v), i) =>
        val beyond = if (asc) col(f) > v else col(f) < v
        typed.take(i).map { case (g, _, gv) => col(g) === gv }.foldLeft(beyond)(_ && _)
      }.reduce(_ || _)
      explicit.map { case (f, _) => col(f).isNotNull }.reduce(_ && _) && keyset
    }
    val hits = afterPred.foldLeft(docs.filter(c.pred))(_ filter _)
      .withColumn("score", c.score)
    val keys = if (explicit.exists(_._1 == "doc_id")) explicit else explicit :+ ("doc_id", true)
    val sortCols = keys.map { case (f, asc) =>
      val cc = if (f == "_score") col("score") else col(f)
      if (asc) cc.asc else cc.desc
    }
    val src = sourceList(body).map(checkField)
    // prune before the page fetch: only _source + sort fields + score reach
    // the coordinator (a filter on `text` must not DRAG text into the page)
    val need = (src ++ keys.map(_._1).filter(_ != "_score")).distinct
    val fetch = hits.select((col("score") +: need.map(col)): _*)
      .orderBy(sortCols: _*).limit(from + size)
    (fetch, sortCols, from, src)
  }

  /** Execute a `_count` request body: one row (total, relation) — the ES
    * count response (relation "eq": this engine never early-terminates). */
  def count(docs0: DataFrame, body: JsonNode,
      analyzed: Map[String, String] = Map.empty): DataFrame = {
    obj(body, "count body", Set("query"), Set("runtime_mappings"))
    val (docs, rtSet) = applyRuntimeMappings(docs0, body)
    implicit val cat: Catalog =
      checkedAnalyzed(catalogOf(docs0).withRuntime(rtSet), docs0, analyzed)
    docs.filter(compile(body.get("query")).pred)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("total"))
      .withColumn("relation", lit("eq"))
  }

  /** The engine-injected relevance machinery for QUERY-CONTEXT full-text
    * search. The compiler owns the envelope (parsing, paging, projection);
    * the ENGINE owns the ranking formula — every scorer routes through THE
    * shared BM25 chain ([[TextQueries]]' `bm25ScoredOver` stack), so the
    * front door can never grow a second copy of the formula.
    *   - `matchScorer(field, analyzedTerms)` → (doc_id, n_terms_hit,
    *     score): per-doc BM25 for the term set (docs matching ≥1 term).
    *   - `multiMatchScorer(fields^boost, analyzedTerms, tieBreaker, type)`
    *     → (doc_id, score): per-field BM25 combined per the ES type —
    *     best_fields (dis_max + tie_breaker), most_fields (sum), phrase
    *     (per-field match_phrase, dis_max), cross_fields (term-centric
    *     blended-df scoring). Unsupported shapes fail loudly in the
    *     engine's scorer, which owns the field model.
    *   - `highlighter(field, analyzedTerms, hits(rank, doc_id))` →
    *     (rank, doc_id, frag_pos, fragment): the hit-phase fragmenter
    *     (q82's machinery — the corpus never re-scans for highlighting). */
  final case class Relevance(
      matchScorer: (String, Seq[String]) => DataFrame,
      multiMatchScorer: (Seq[(String, Double)], Seq[String], Double, String) => DataFrame,
      highlighter: (String, Seq[String], DataFrame) => DataFrame)

  /** QUERY-CONTEXT `_search`: a top-level full-text query (`match`, or
    * `multi_match` type best_fields) returns a BM25-RANKED page — the ES
    * default query context every reference IT's request body uses
    * (`ProportionalSumAggregatorIT` builds exactly this shape;
    * `DriftPlugin.java:26-34` is a SearchPlugin). Scoring is delegated to
    * [[Relevance]] so the ranking IS the typed q76/q86 chain — proven by
    * shared oracles + in-process row-identity (q148/q149/q155).
    *
    * Envelope subset: `from`/`size`, `_source`, the default `_score desc`
    * ranking (an explicit `sort` other than `[{"_score": "desc"}]` is
    * rejected loudly — field sorting is the filter-context [[search]]'s
    * job), and `highlight` (single field, match query only) — a request
    * with highlight returns the hits' fragment payload (rank, doc_id,
    * frag_pos, fragment), otherwise (rank, score, _source...).
    *
    * Scale shape: the score table is hit-sized; the page fetch is
    * orderBy+limit = TakeOrderedAndProject over it; only the ≤from+size
    * page joins back for projection/highlighting. */
  def searchScored(docs: DataFrame, body: JsonNode, rel: Relevance): DataFrame = {
    obj(body, "search body", Set("query"), Set("sort", "from", "size", "_source", "highlight"))
    val (qtype, qbody) = sole(body.get("query"), "query clause")
    implicit val cat: Catalog = catalogOf(docs)
    // ----- the full-text clause -----
    val (scoreTable, matchField, terms) = qtype match {
      case "match" =>
        val (f, v) = sole(qbody, "match")
        val (qstr, op, boost) = matchValue(v)
        require(boost == 1.0, "query DSL: query-context match ranks by BM25 alone; drop its boost")
        val ts = analyze(qstr)
        require(ts.nonEmpty, "query DSL: match requires a non-empty query string")
        val st0 = rel.matchScorer(f, ts)
        val st = if (op == "and") st0.filter(col("n_terms_hit") === lit(ts.distinct.size)) else st0
        (st.select(col("doc_id"), col("score")), Some(f), ts)
      case "multi_match" =>
        obj(qbody, "multi_match", Set("query", "fields"), Set("type", "tie_breaker"))
        val mtype = opt(qbody, "type")(text).getOrElse("best_fields")
        require(Set("best_fields", "most_fields", "phrase", "cross_fields")(mtype),
          s"query DSL: unsupported multi_match type '$mtype' " +
            "(supported: best_fields, most_fields, phrase, cross_fields)")
        val tb = opt(qbody, "tie_breaker")(double).getOrElse(0.0)
        val fields = texts(qbody.get("fields"), "multi_match fields").map { fn =>
          fn.split("\\^") match {
            case Array(f) => (f, 1.0)
            case Array(f, bs) if bs.toDoubleOption.exists(java.lang.Double.isFinite) => (f, bs.toDouble)
            case _ => throw new IllegalArgumentException(s"query DSL: bad multi_match field spec '$fn'")
          }
        }
        val ts = analyze(text(qbody.get("query"), "multi_match query"))
        require(ts.nonEmpty, "query DSL: multi_match requires a non-empty query string")
        (rel.multiMatchScorer(fields, ts, tb, mtype), None, ts)
      case other =>
        throw new IllegalArgumentException(
          s"query DSL: query-context search supports match / multi_match, got '$other' " +
            "(filter-context bodies go through search())")
    }
    // ----- envelope -----
    val (from, size) = fromSize(body)
    if (body.has("sort"))
      require(sortKeys(body) == Seq(("_score", false)),
        "query DSL: query-context search ranks by _score desc (field sorts are filter-context)")
    val src = sourceList(body).map(checkField)
    val hl: Option[String] = Option(body.get("highlight")).map { h =>
      // the highlight response is the fragment payload (rank, doc_id,
      // frag_pos, fragment) — a _source projection would be silently
      // dropped, so reject it loudly (the module's convention for every
      // unsupported combination)
      require(!body.has("_source"),
        "query DSL: highlight returns the fragment payload — a _source list is not projected; drop it")
      val hfs = entries(obj(h, "highlight", Set("fields")).get("fields"), "highlight fields")
      require(hfs.size == 1, "query DSL: highlight requires exactly one field")
      val (hf, options) = hfs.head
      obj(options, s"highlight field '$hf'", Set.empty)
      require(matchField.contains(hf),
        s"query DSL: highlight field '$hf' must be the match query's field")
      hf
    }
    // page fetch: TakeOrderedAndProject over the hit-sized score table;
    // extra _source fields join AFTER the page localizes (ES's fetch
    // phase: the ranked ≤from+size page broadcasts into ONE projection
    // scan — the corpus never joins the full score table)
    val extra = src.filterNot(_ == "doc_id")
    val sortCols = Seq(col("score").desc, col("doc_id").asc)
    val page = Tables.localize(
      scoreTable.orderBy(sortCols: _*).limit(from + size))
      .withColumn("rank", row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
      .filter(col("rank") > from)
    val fetch =
      if (extra.isEmpty) page
      else page.join(docs.select((col("doc_id") +: extra.map(col)): _*), Seq("doc_id"))
    hl match {
      case Some(hf) =>
        rel.highlighter(hf, terms, page.select(col("rank"), col("doc_id")))
      case None =>
        fetch.select((col("rank") +: col("score") +: src.map(col)): _*)
    }
  }

  /** One clause of the ES 8.x `knn` search-body section. */
  final case class KnnClause(
      field: String, k: Int, numCandidates: Int, vector: Seq[Double], filter: Option[JsonNode])

  /** Parse the `knn` section of a search body — a clause object or an
    * array of them (ES 8.x allows several). Each clause: `field`, `k`,
    * `num_candidates`, a literal `query_vector`, and an optional `filter`
    * (a standard filter-context DSL query compiled against the vector
    * frame's own catalog by the executor). Unknown keys fail loudly. The
    * execution lives in [[SimilarityQueries.dslKnn]] — the compiler owns
    * the wire grammar, the engine owns the IVF search. */
  def knnClauses(body: JsonNode): Seq[KnnClause] = {
    obj(body, "knn search", Set("knn"))
    val clauses = oneOrMany(body.get("knn"), "knn")
    require(clauses.nonEmpty, "query DSL: knn requires at least one clause")
    clauses.map { c =>
      obj(c, "knn clause", Set("field", "k", "num_candidates", "query_vector"), Set("filter"))
      val k = int(c.get("k"), "knn k")
      val nc = int(c.get("num_candidates"), "knn num_candidates")
      require(k > 0 && nc >= k,
        s"query DSL: knn requires k > 0 and num_candidates >= k, got k=$k num_candidates=$nc")
      val vec = items(c.get("query_vector"), "query_vector").map(double(_, "query_vector entry"))
      require(vec.nonEmpty, "query DSL: query_vector must be a non-empty array")
      KnnClause(text(c.get("field"), "knn field"), k, nc, vec, Option(c.get("filter")))
    }
  }

  /** ES `_msearch`: the multi-search envelope — several independent search
    * bodies in one request, responses tagged by array position (`req`).
    * Each body runs through the standard [[search]] (independent
    * limit-pushed jobs — exactly how a coordinator fans the envelope out);
    * the union requires every body to project the SAME `_source` list
    * (one response schema), loudly rejected otherwise. */
  def msearch(docs: DataFrame, bodies: Seq[JsonNode],
      analyzed: Map[String, String] = Map.empty): DataFrame = {
    require(bodies.nonEmpty, "query DSL: _msearch requires at least one body")
    val srcs = bodies.map(sourceList)
    require(srcs.distinct.size == 1,
      s"query DSL: _msearch bodies must share one _source list, got $srcs")
    bodies.zipWithIndex.map { case (b, i) =>
      search(docs, b, analyzed).withColumn("req", lit(i.toLong))
    }.reduce(_ unionByName _)
      .select((col("req") +: col("rank") +: col("score") +: srcs.head.map(col)): _*)
  }

  /** `_mget`: fetch documents by id, RESPONSE IN REQUEST ORDER, one row
    * per requested id — found=false rows for absent ids and duplicate ids
    * served twice, the ES contract (a miss is a response row, not an
    * omission). Scale shape: the id list becomes a BROADCAST local
    * relation probed by one corpus equi-join (the corpus is never the
    * build side); the k-sized hit set localizes and the response
    * assembles in request order on the driver — exactly an ES
    * coordinator's scatter-gather. */
  def mget(docs: DataFrame, body: JsonNode): DataFrame = {
    obj(body, "_mget body", Set("ids"), Set("_source"))
    val ids = items(body.get("ids"), "_mget ids").map(long(_, "_mget id"))
    require(ids.nonEmpty, "query DSL: _mget requires a non-empty ids array")
    implicit val cat: Catalog = catalogOf(docs)
    checkField("doc_id")
    val src = sourceList(body).map(checkField)
    val spark = docs.sparkSession
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val req = spark.createDataFrame(
      java.util.Arrays.asList(ids.zipWithIndex.map { case (id, i) =>
        org.apache.spark.sql.Row((i + 1).toLong, id)
      }: _*),
      StructType(Seq(
        StructField("req_pos", LongType, nullable = false),
        StructField("id", LongType, nullable = false))))
    // ("doc_id" +: src).distinct — NOT doc_id plus src separately: with the
    // default _source (or any _source naming doc_id) that would project
    // doc_id twice and the join condition below would be ambiguous
    val hitProj = docs.select(("doc_id" +: src).distinct.map(col): _*)
    val reqB = broadcast(req)
    val hit = hitProj.join(reqB, hitProj("doc_id") === reqB("id"))
    val byPos = hit.collect().map(r => r.getAs[Long]("req_pos") -> r).toMap
    val rows = ids.zipWithIndex.map { case (id, i) =>
      byPos.get((i + 1).toLong) match {
        case Some(r) =>
          org.apache.spark.sql.Row.fromSeq((i + 1).toLong +: id +: true +: src.map(r.getAs[Any](_)))
        case None =>
          org.apache.spark.sql.Row.fromSeq((i + 1).toLong +: id +: false +: src.map(_ => null))
      }
    }
    val schema = StructType(
      StructField("req_pos", LongType, nullable = false) +:
        StructField("id", LongType, nullable = false) +:
        StructField("found", BooleanType, nullable = false) +:
        src.map(f => docs.schema(f).copy(nullable = true)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The parsing shared by the two scroll executors: query + sort keys
    * (fields only, doc_id tiebreak required — the cursor/rank must be
    * total) + `_source`. Scroll sort fields are REQUIRED NON-NULL: the
    * base filter gains an `isNotNull` per sort field (pushdown-eligible),
    * because a null sort value breaks both forms — the keyset cursor's
    * `lit(null)` comparisons would silently truncate the drain at a null
    * run's page boundary, and Spark (nulls first ASC) and DuckDB (nulls
    * last) would order the export differently. The predicate makes the
    * exclusion explicit instead of silent. */
  private def scrollSpec(docs0: DataFrame, body: JsonNode)
      : (DataFrame, Seq[(String, Boolean)], Seq[Column], Seq[String]) = {
    obj(body, "scroll body", Set("query", "sort"), Set("_source", "runtime_mappings"))
    val (docs, rtSet) = applyRuntimeMappings(docs0, body)
    implicit val cat: Catalog = catalogOf(docs0).withRuntime(rtSet)
    val c = compile(body.get("query"))
    val keys = sortKeys(body).map { case (f, asc) =>
      require(f != "_score", "query DSL: scroll sorts on fields, not _score")
      (checkField(f), asc)
    }
    require(keys.map(_._1).contains("doc_id"),
      "query DSL: scroll sort must include the unique doc_id tiebreak")
    val src = sourceList(body).map(checkField)
    val sortCols = keys.map { case (f, asc) => if (asc) col(f).asc else col(f).desc }
    val proj = (keys.map(_._1) ++ src).distinct // the cursor needs the sort fields
    val notNull = keys.map { case (f, _) => col(f).isNotNull }.reduce(_ && _)
    val base = docs.filter(c.pred && notNull).select(proj.map(col): _*)
    (base, keys, sortCols, src)
  }

  /** ES `scroll`, KEYSET-CURSOR form: iterate the hit set page by page,
    * each iteration an independent TakeOrdered fetch whose cursor —
    * strictly after the previous page's last sort key, lexicographic over
    * the sort fields — is pushed below the scan. This is the RESUMABLE
    * form: driver state is ONE row of sort-key values (never an ES-style
    * server-side context), so a consumer can stop and continue later;
    * parquet's immutability provides the snapshot isolation ES scroll
    * contexts exist to fake. Layout caveat: cursor pushdown prunes row
    * groups only when the file layout is sorted/clustered on the cursor
    * key — on an unsorted layout each page re-scans the table, O(pages ×
    * scan). And the returned frame accumulates every drained row on the
    * driver. BOTH properties make [[scrollExport]] the 100 TB export
    * path; this form exists for the resumable-cursor contract (q84's
    * search_after is its two-page interactive sibling). `_score` sorting
    * is rejected (an export wants a stable field order); the sort must
    * include `doc_id` so the cursor is total. Output: (rank, page,
    * _source fields...). */
  def scrollAll(docs0: DataFrame, body: JsonNode, pageSize: Int): DataFrame = {
    require(pageSize > 0, "query DSL: scroll page size must be positive")
    val (base, keys, sortCols, src) = scrollSpec(docs0, body)
    val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var cursor: Option[org.apache.spark.sql.Row] = None
    var page = 1L
    var rank = 0L
    var done = false
    while (!done) {
      val keyset: Column = cursor match {
        case None => lit(true)
        case Some(last) =>
          // lexicographic strictly-after: OR over sort positions of
          // (earlier keys equal) && (this key strictly beyond)
          keys.zipWithIndex.map { case ((f, asc), i) =>
            val v = lit(last.getAs[Any](f))
            val beyond = if (asc) col(f) > v else col(f) < v
            keys.take(i).map { case (g, _) => col(g) === lit(last.getAs[Any](g)) }
              .foldLeft(beyond)(_ && _)
          }.reduce(_ || _)
      }
      val batch = base.filter(keyset).orderBy(sortCols: _*).limit(pageSize).collect()
      batch.foreach { r =>
        rank += 1
        rows += org.apache.spark.sql.Row.fromSeq(rank +: page +: src.map(r.getAs[Any](_)))
      }
      if (batch.length < pageSize) done = true
      else { cursor = Some(batch.last); page += 1 }
    }
    docs0.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.toSeq: _*), scrollSchema(base, src))
  }

  private def scrollSchema(base: DataFrame, src: Seq[String]) =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType, nullable = false) +:
        org.apache.spark.sql.types.StructField("page", org.apache.spark.sql.types.LongType, nullable = false) +:
        src.map(f => base.schema(f)))

  /** ES `scroll`, DISTRIBUTED-EXPORT form — the 100 TB shape of
    * [[scrollAll]]'s drain: the full hit set is ranked and page-assigned
    * WITHOUT ever materializing a row on the driver. One range-partitioned
    * sort (repartitionByRange on the sort keys + sortWithinPartitions)
    * gives a total order across partitions; global ranks come from
    * per-partition offsets — the classic distributed zipWithIndex, whose
    * only driver traffic is the partition-count array (one long per
    * partition). page = (rank-1)/pageSize + 1, integer arithmetic. Same
    * contract as scrollAll (field sort incl. doc_id, non-null sort
    * fields), same output schema (rank, page, _source...), so the two
    * forms share one oracle — a hash match proves the distributed
    * assignment IS the keyset drain. The per-partition index walk is the
    * one genuinely imperative step (brief §preference (d)); everything
    * before it is declarative and AQE-safe because the detached count job
    * runs on the localCheckpointed sorted frame, not a recomputation. */
  def scrollExport(docs0: DataFrame, body: JsonNode, pageSize: Int): DataFrame = {
    require(pageSize > 0, "query DSL: scroll page size must be positive")
    val (base, _, sortCols, src) = scrollSpec(docs0, body)
    val spark = docs0.sparkSession
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    // materialize the sorted layout once: the offsets job and the rank
    // projection must see the SAME partitioning (a recompute under AQE
    // could legally re-plan the range boundaries between the two jobs)
    val sorted = base.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint(true)
    val rdd = sorted.rdd
    // k-sized driver payload: element counts per (range-ordered) partition
    val counts = rdd.mapPartitionsWithIndex(
      (pid, it) => Iterator((pid, it.size.toLong)), preservesPartitioning = true).collect()
    val offsets = new Array[Long](counts.length + 1)
    counts.sortBy(_._1).foreach { case (pid, n) => offsets(pid + 1) = n }
    for (i <- 1 until offsets.length) offsets(i) += offsets(i - 1)
    val srcIdx = src.map(sorted.schema.fieldIndex)
    val ps = pageSize.toLong
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = offsets(pid)
      it.map { r =>
        rank += 1
        org.apache.spark.sql.Row.fromSeq(
          rank +: ((rank - 1) / ps + 1) +: srcIdx.map(r.get))
      }
    }
    // NO eager free of the checkpointed blocks here: the returned frame
    // still reads them — the ContextCleaner releases the RDD when the
    // result is dereferenced (ProportionalSum.runDense's discipline)
    spark.createDataFrame(out, scrollSchema(base, src))
  }

  /** ES SLICED scroll/PIT export — the parallel-export contract
    * (`slice: {id, max}`): `max` independent cursors each drain a
    * DISJOINT slice of the hit set in the sort order. ES assigns a hit
    * by hash(_id) % max; the deterministic analog here is doc_id % max
    * (the corpus `_id` IS doc_id), so both engines compute the identical
    * assignment. All `max` slices are emitted in ONE pass — rank and
    * page are PER-SLICE (each worker's own cursor walk), computed by a
    * slice-partitioned window: no single-partition sort, no driver rows,
    * and the window's partition count is the export parallelism itself.
    * Shares q140's hit set: the oracle proves the slices are disjoint,
    * complete (every q140 row appears in exactly one slice), and each
    * internally in drain order. */
  def scrollExportSliced(docs0: DataFrame, body: JsonNode, pageSize: Int,
      maxSlices: Int): DataFrame = {
    require(pageSize > 0, "query DSL: scroll page size must be positive")
    require(maxSlices > 0, "query DSL: slice max must be positive")
    val (base, _, sortCols, src) = scrollSpec(docs0, body)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("slice_id")).orderBy(sortCols: _*)
    base
      .withColumn("slice_id", pmod(col("doc_id"), lit(maxSlices.toLong)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("page", expr(s"(rank - 1) DIV $pageSize + 1"))
      .select((col("slice_id") +: col("rank") +: col("page") +: src.map(col)): _*)
  }

  /** ES runtime fields (`runtime_mappings`): request-time computed columns
    * usable in query/sort/`_source` exactly like mapped fields — ES's
    * compute-at-query promise, which on Spark is simply a row-local
    * projection BELOW the filter (one scan, no index, codegen'd). The
    * script subset is integer-exact painless arithmetic: `emit(expr)` over
    * `doc['field'].value` longs, natural literals, `+ - * %` and parens.
    * `/` is REJECTED loudly: Spark's `div` truncates toward zero while
    * DuckDB's `//` floors, and a silently engine-dependent field would
    * poison every comparison downstream. */
  private def applyRuntimeMappings(docs: DataFrame, body: JsonNode): (DataFrame, Set[String]) =
    Option(body.get("runtime_mappings")) match {
      case None => (docs, Set.empty)
      case Some(rm) =>
        val fields = entries(rm, "runtime_mappings")
        require(fields.nonEmpty, "query DSL: runtime_mappings must be a non-empty object")
        val base = catalogOf(docs)
        var d = docs
        val names = scala.collection.mutable.LinkedHashSet.empty[String]
        fields.foreach { case (name, spec) =>
          require(!base.has(name),
            s"query DSL: runtime field '$name' shadows a mapped field")
          val what = s"runtime field '$name'"
          obj(spec, what, Set("type", "script"))
          require(text(spec.get("type"), s"$what type") == "long",
            s"query DSL: runtime field '$name' must declare type long")
          val script = obj(spec.get("script"), s"$what script", Set("source"))
          // a script may reference earlier runtime fields (they are columns
          // of d by now and longs of the extended catalog)
          d = d.withColumn(name,
            parseEmitScript(text(script.get("source"), s"$what script source"))(base.withRuntime(names.toSet)))
          names += name
        }
        (d, names.toSet)
    }

  /** Recursive-descent parser for the emit-script subset. Grammar:
    * `emit(expr)`; expr := term (('+'|'-') term)*;
    * term := atom (('*'|'%') atom)*; atom := nat | doc['f'].value | (expr).
    * All long arithmetic; unknown fields, '/', and trailing input fail. */
  private[graft] def parseEmitScript(src: String)(implicit cat: Catalog): Column = {
    val s = src.trim
    require(s.startsWith("emit(") && s.endsWith(")"),
      s"query DSL: runtime script must be emit(<expr>), got: $src")
    val in = s.substring(5, s.length - 1)
    var pos = 0
    def ws(): Unit = while (pos < in.length && in(pos).isWhitespace) pos += 1
    def peek: Char = if (pos < in.length) in(pos) else '\u0000'
    def expr(): Column = {
      var l = term(); ws()
      while (peek == '+' || peek == '-') {
        val op = peek; pos += 1
        val r = term()
        l = if (op == '+') l + r else l - r
        ws()
      }
      l
    }
    def term(): Column = {
      var l = atom(); ws()
      while (peek == '*' || peek == '%' || peek == '/') {
        val op = peek; pos += 1
        require(op != '/',
          "query DSL: '/' unsupported in runtime scripts (truncating vs flooring " +
            "integer division differs across engines); use * and % forms")
        val r = atom()
        l = if (op == '*') l * r else l % r
        ws()
      }
      l
    }
    def atom(): Column = {
      ws()
      if (peek == '(') {
        pos += 1
        val e = expr(); ws()
        require(peek == ')', s"query DSL: expected ')' at $pos in: $in")
        pos += 1
        e
      } else if (peek.isDigit) {
        val st = pos
        while (pos < in.length && in(pos).isDigit) pos += 1
        lit(in.substring(st, pos).toLong)
      } else if (in.startsWith("doc['", pos)) {
        pos += 5
        val st = pos
        while (pos < in.length && in(pos) != '\'') pos += 1
        val f = in.substring(st, pos)
        require(in.startsWith("'].value", pos), s"query DSL: expected '].value after doc['$f")
        pos += 8
        require(cat.longs(f), s"query DSL: runtime script field '$f' must be a long field")
        col(f)
      } else {
        throw new IllegalArgumentException(
          s"query DSL: unexpected '${peek}' at $pos in runtime script: $in")
      }
    }
    val out = expr()
    ws()
    require(pos == in.length, s"query DSL: trailing input at $pos in runtime script: $in")
    out
  }

  /** An agg-only request's one top-level aggregation: (name, agg object). */
  private def soleAgg(body: JsonNode): (String, JsonNode) = {
    obj(body, "aggregation request", Set("aggs"), Set("size", "query"))
    opt(body, "size")(int).foreach(n => require(n == 0, "query DSL: agg-only request requires size 0"))
    val aggs = entries(body.get("aggs"), "aggs")
    require(aggs.size == 1, "query DSL: exactly one top-level aggregation expected under 'aggs'")
    aggs.head
  }

  /** Field `field` of an agg body `spec`: a column of `frame`. */
  private def column(frame: DataFrame, spec: JsonNode, what: String): String = {
    val f = text(spec.get("field"), s"$what field")
    require(frame.columns.contains(f), s"query DSL: unknown field '$f'")
    f
  }

  /** A bucket agg's (field, interval) — `field` a column of `frame`,
    * `itvKey` a positive integral width — for the histogram and the
    * fixed-interval date_histogram at every position. */
  private def bucketGrid(frame: DataFrame, spec: JsonNode, what: String, itvKey: String,
      optional: Set[String]): (String, Long) = {
    obj(spec, what, Set("field", itvKey), optional)
    val itv = long(spec.get(itvKey), s"$what $itvKey")
    require(itv > 0, s"query DSL: $what $itvKey must be positive, got $itv")
    (column(frame, spec, what), itv)
  }

  /** A terms agg's `size`: a positive count when given. */
  private def termsSize(spec: JsonNode): Option[Int] =
    opt(spec, "size")(int).map { n =>
      require(n > 0, s"query DSL: terms size must be positive, got $n")
      n
    }

  /** A bucket `order`: one `{path: asc|desc}` object or an array of them,
    * as (path, ascending) entries; the caller checks the paths. */
  private def orderEntries(o: JsonNode, what: String): Seq[(String, Boolean)] = {
    val es = oneOrMany(o, what).map(sole(_, what))
    require(es.nonEmpty, s"query DSL: $what must carry at least one entry")
    es.map { case (path, v) =>
      val dir = text(v, s"$what direction of '$path'")
      require(dir == "asc" || dir == "desc", s"query DSL: order direction must be asc/desc, got '$dir'")
      (path, dir == "asc")
    }
  }

  /** The reference plugin's OWN request surface: a `_search` body whose one
    * aggregation is `proportional_sum` — exactly the wire grammar
    * `ProportionalSumAggregationBuilder` registers
    * (`DriftPlugin.java:29-34`; parser fields at
    * `ProportionalSumAggregationBuilder.java:107-144`: `fields`
    * [rangeStart, rangeEnd, value(, sampling)], `interval` (fixed, ms),
    * `start`/`end` clamp bounds, `offset`, `min_doc_count`, `keyed`,
    * `order`). The JSON compiles onto [[graft.operators.ProportionalSum]]
    * — the SAME operator every Scala registry entry runs, so a request
    * that hash-matches q01's oracle proves the front door and the typed
    * API execute identically. `keyed` and `_key asc` order are accepted
    * (response-presentation knobs; the bucket table is sorted for the
    * latter); anything else unsupported fails loudly.
    *
    * Beyond the plugin's own agg, the dispatcher covers the two framework
    * aggs every Drift dashboard pairs it with — `date_histogram` (fixed
    * interval, the q10 bucket recipe) and `terms` (size + _count/_key
    * order, the q11 shape) — each with `sum`/`min`/`max`/`value_count`
    * metric sub-aggregations (sums through detsum), plus an optional
    * `query` section filtering the frame first. The compiled runs share
    * the typed entries' oracles verbatim. */
  def aggBody(frame: DataFrame, body: JsonNode): DataFrame = {
    val (aggName, aggNode) = soleAgg(body)
    // the agg object may carry metric sub-aggregations next to its type key
    val typeKeys = entries(aggNode, s"aggregation '$aggName'").map(_._1).filterNot(_ == "aggs")
    require(typeKeys.size == 1,
      s"query DSL: aggregation '$aggName' must have exactly one type key, got $typeKeys")
    val aggType = typeKeys.head
    val spec = aggNode.get(aggType)
    val subAggs = Option(aggNode.get("aggs"))
    // optional query section: filter context over the frame's own
    // schema-derived catalog (the agg consumes only surviving rows — the
    // pushdown-eligible parent-filter shape, q04b's semantics)
    val filtered =
      if (body.has("query")) {
        implicit val cat: Catalog = catalogOf(frame)
        frame.filter(compile(body.get("query")).pred)
      } else frame
    aggType match {
      case "proportional_sum" =>
        require(subAggs.isEmpty,
          "query DSL: proportional_sum takes no metric sub-aggregations (value IS the metric)")
        ProportionalSum.runSpec(filtered, propSum(spec, PropSumTopKeys))
      case "date_histogram" =>
        dateHistogramAgg(filtered, spec, subAggs, Nil)
      case "terms" if subAggs.exists(isBucketChild) =>
        // NESTED BUCKET SUB-AGG — the reference's own request shape: the
        // agg "runs under terms/filters parents" (SURVEY §1; the Drift
        // UI's top-talkers request is terms → proportional_sum). The whole
        // tree compiles to ONE grouped run (compound-key groupBy, single
        // partial-aggregated exchange — typed q04's plan), never a
        // per-bucket re-scan.
        obj(spec, "terms with a bucket sub-agg", Set("field"), Set("size"))
        val f = column(filtered, spec, "terms")
        // `size` under a bucket child: the ES terms truncation — keep the
        // top-k terms by the PARENT bucket's doc_count (_count desc, key
        // asc tiebreak, the ES default order), rank data-visible (q11h's
        // convention: the driver sorts rows before hashing, so parent
        // bucket order must be a COLUMN); each surviving term keeps its
        // FULL nested series. Applied below over the one-grouped-run
        // result: the totals table is term-cardinality-sized, so ranking
        // it and broadcasting it back are both tiny.
        val sizeOpt = termsSize(spec)
        def withTermSize(res: DataFrame): DataFrame = sizeOpt match {
          case None => res
          case Some(k) =>
            import org.apache.spark.sql.expressions.Window
            val top = filtered.groupBy(col(f))
              .agg(org.apache.spark.sql.functions.count(lit(1)).as("term_doc_count"))
              .withColumn("term_rank", row_number()
                .over(Window.orderBy(col("term_doc_count").desc, col(f).asc)).cast("long"))
              .filter(col("term_rank") <= k)
            res.join(broadcast(top), Seq(f))
              .select((col(f) +: col("term_rank") +: col("term_doc_count") +:
                res.columns.filterNot(_ == f).map(col).toSeq): _*)
        }
        val (midName, childNode) = sole(subAggs.get, "sub-aggs")
        if (childNode.has("proportional_sum")) {
          obj(childNode, "a proportional_sum child", Set("proportional_sum"))
          withTermSize(ProportionalSum.runSpec(filtered,
            propSum(childNode.get("proportional_sum"), PropSumNestedKeys), Seq(col(f))))
        } else {
          obj(childNode, "a date_histogram child of terms", Set("date_histogram"), Set("aggs"))
          val dh = childNode.get("date_histogram")
          val grand = Option(childNode.get("aggs"))
          val isTree = grand.exists(g => g.isObject && g.size == 1 && {
            val (_, gn) = sole(g, "sub-aggs")
            gn.isObject && gn.has("proportional_sum")
          })
          if (isTree) {
            // the FULL 3-level tree (terms → date_histogram →
            // proportional_sum — typed q04c's shape): the middle bucket
            // becomes a named grouping column (the ES response nests
            // buckets under the agg's NAME, so the middle agg's key is
            // the column) and the whole tree stays ONE compound-key
            // grouped run — single partial-aggregated exchange
            val (bf, itv) = bucketGrid(filtered, dh, "date_histogram", "fixed_interval", Set.empty)
            val (_, gnode) = sole(grand.get, "sub-aggs")
            obj(gnode, "the tree's leaf", Set("proportional_sum"))
            val withBucket = filtered.withColumn(midName,
              (floor(col(bf) / lit(itv)) * lit(itv)).cast("long"))
            withTermSize(ProportionalSum.runSpec(withBucket,
              propSum(gnode.get("proportional_sum"), PropSumNestedKeys), Seq(col(f), col(midName))))
          } else
            withTermSize(dateHistogramAgg(filtered, dh, grand, Seq(col(f))))
        }

      case "filters" if subAggs.exists(isBucketChild) =>
        // the OTHER parent shape SURVEY §1 names ("runs under terms/
        // filters parents"): each NAMED predicate is an independent
        // bucket, a row matching several filters contributes its full
        // series to EACH — typed q04b's explode-over-matched-names plan
        // (ONE conditional scan, never a per-filter re-scan). The agg's
        // NAME becomes the bucket column (the ES response nests buckets
        // under the agg name — q159's convention).
        obj(spec, "filters parent", Set("filters"))
        val filters = entries(spec.get("filters"), "filters")
        require(filters.nonEmpty, "query DSL: filters agg requires a non-empty named 'filters' object")
        implicit val cat: Catalog = catalogOf(filtered)
        val named = filters.map { case (n, q) => (n, compile(q).pred) }
        val (_, fchildNode) = sole(subAggs.get, "sub-aggs")
        obj(fchildNode, "bucket child of filters", Set("proportional_sum"))
        // DOCUMENTED DIVERGENCE: a named filter matching ZERO rows emits
        // no bucket here (when(p, n) is null for every row and the
        // compact+explode erases it), whereas ES's filters aggregation
        // always answers one bucket per name (doc_count 0). Consistent
        // with typed q04b and its shared oracle — empty-bucket fidelity
        // would need a union of zero rows per unmatched name.
        val withName = filtered.withColumn(aggName,
          explode(array_compact(array(named.map { case (n, p) =>
            when(p, lit(n))
          }: _*))))
        ProportionalSum.runSpec(withName,
          propSum(fchildNode.get("proportional_sum"), PropSumNestedKeys), Seq(col(aggName)))

      case "histogram" =>
        // the plain NUMERIC histogram framework agg (the q10b recipe:
        // bucket = floor(v / interval) · interval, emitted as
        // `<field>_bucket` so the door shares the typed oracle verbatim).
        // ES also allows fractional intervals/offset/min_doc_count —
        // loudly rejected until a consumer needs them.
        val (f, itv) = bucketGrid(filtered, spec, "histogram", "interval", Set.empty)
        filtered
          .groupBy(((floor(col(f) / lit(itv.toDouble)) * lit(itv)).cast("long"))
            .as(s"${f}_bucket"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("doc_count"),
            metricCols(subAggs, filtered): _*)

      case "range" =>
        // the explicit-edges `range` framework agg (q10c's shape). ES
        // contract: `from` inclusive, `to` exclusive, and a doc lands in
        // EVERY matching range (overlaps each count it) — the conditional
        // explode erases ranges matching zero rows, the same DOCUMENTED
        // divergence as the filters parent (ES answers doc_count 0).
        // Keys must be explicit (ES's auto "from-to" spellings rejected).
        obj(spec, "range agg", Set("field", "ranges"))
        val f = column(filtered, spec, "range agg")
        val rs = items(spec.get("ranges"), "range agg ranges").map { r =>
          obj(r, "range", Set("key"), Set("from", "to"))
          require(r.has("from") || r.has("to"), "query DSL: a range needs from and/or to")
          (text(r.get("key"), "range key"), opt(r, "from")(double), opt(r, "to")(double))
        }
        require(rs.nonEmpty, "query DSL: range agg requires a non-empty ranges array")
        require(rs.map(_._1).distinct.size == rs.size, "query DSL: duplicate range keys")
        filtered
          .withColumn("range_key",
            explode(array_compact(array(rs.map { case (k, fo, to) =>
              val p = (fo.map(col(f) >= _).toSeq ++ to.map(col(f) < _)).reduce(_ && _)
              when(p, lit(k))
            }: _*))))
          .groupBy(col("range_key"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("doc_count"),
            metricCols(subAggs, filtered): _*)

      case "terms" =>
        obj(spec, "terms agg", Set("field"), Set("size", "order"))
        val f = column(filtered, spec, "terms")
        val size = termsSize(spec).getOrElse(10)
        val byCount = opt(spec, "order")(orderEntries).forall {
          case Seq(("_count", false)) => true
          case Seq(("_key", true)) => false
          case other => throw new IllegalArgumentException(s"query DSL: unsupported terms order $other")
        }
        val grouped = filtered.groupBy(col(f))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("doc_count"), metricCols(subAggs, filtered): _*)
        val ordered =
          if (byCount) grouped.orderBy(col("doc_count").desc, col(f).asc)
          else grouped.orderBy(col(f).asc)
        ordered.limit(size)
      case other =>
        throw new IllegalArgumentException(s"query DSL: unsupported aggregation type '$other'")
    }
  }

  /** The framework `date_histogram` agg body (fixed interval, the q10
    * bucket recipe) with optional metric sub-aggs, parameterized by extra
    * grouping columns so the terms-parent nesting compiles to the SAME
    * one-exchange grouped aggregation (compound key, partial aggregation
    * map-side — never a per-bucket re-scan). */
  private def dateHistogramAgg(frame: DataFrame, spec: JsonNode,
      subAggs: Option[JsonNode], groupCols: Seq[Column]): DataFrame = {
    val (f, itv) = bucketGrid(frame, spec, "date_histogram", "fixed_interval", Set("order"))
    // the q10 bucket recipe verbatim: floor(ms / interval) * interval
    val agged = frame
      .groupBy((groupCols :+ (floor(col(f) / lit(itv)) * lit(itv)).as("bucket_ms")): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("doc_count"), metricCols(subAggs, frame): _*)
    // bucket `order` incl. AGGREGATION PATHS (builder:133-134,
    // InternalOrder.Parser.parseOrderParam; compound reduce at :333): a
    // path is _key / _count or the NAME of a declared metric sub-agg
    // (optionally `name.value` — the single-value metric's one path).
    // Emitted as the data-visible `order_rank` column (the q01k
    // convention) over the bucket grid with bucket_ms asc as the total
    // tiebreak; unknown paths are loud. Nested (terms-parent) runs keep
    // their own presentation — order there is rejected, not silently
    // dropped.
    opt(spec, "order")(orderEntries).map { order =>
      require(groupCols.isEmpty,
        "query DSL: date_histogram order under a bucket parent is not supported")
      val metricNames: Set[String] = subAggs.map(sa =>
        sa.fieldNames().asScala.toSet).getOrElse(Set.empty)
      val sortCols = order.map { case (k, asc) =>
        val c = k match {
          case "_key" => col("bucket_ms")
          case "_count" => col("doc_count")
          case path =>
            // agg path: `name` or `name.value` of a DECLARED metric
            val name = path.stripSuffix(".value")
            require(metricNames(name),
              s"query DSL: order path '$path' does not name a metric sub-aggregation " +
                s"(declared: ${metricNames.toSeq.sorted.mkString(", ")})")
            col(name)
        }
        if (asc) c.asc else c.desc
      } :+ col("bucket_ms").asc
      import org.apache.spark.sql.expressions.Window
      // bucket-grid-sized window (the q01k single-partition argument)
      agged.withColumn("order_rank",
        row_number().over(Window.orderBy(sortCols: _*)).cast("long"))
    }.getOrElse(agged)
  }

  /** True when a sub-aggs object holds a single BUCKET child (a nested
    * proportional_sum or date_histogram) rather than metric leaves. */
  private def isBucketChild(sa: JsonNode): Boolean =
    sa.isObject && sa.size == 1 && {
      val (_, node) = sole(sa, "sub-aggs")
      node.isObject && (node.has("proportional_sum") || node.has("date_histogram"))
    }

  /** Metric sub-aggregations of a bucket agg: {name: {sum|min|max|
    * value_count: {field}}} — sum goes through detsum (the partitioning-
    * independent exact-decimal sum every oracle-backed aggregate uses). */
  private def metricCols(subAggs: Option[JsonNode], frame: DataFrame): Seq[Column] =
    subAggs match {
      case None => Nil
      case Some(sa) =>
        val metrics = entries(sa, "sub-aggs")
        require(metrics.nonEmpty, "query DSL: empty sub-aggs object")
        metrics.map { case (name, m) =>
          val (mType, mSpec) = sole(m, s"metric sub-agg '$name'")
          obj(mSpec, s"metric '$name'", Set("field"))
          val f = column(frame, mSpec, s"metric '$name'")
          mType match {
            case "sum" => graft.functions.detsum.sumDet(col(f)).as(name)
            case "min" => min(col(f)).as(name)
            case "max" => max(col(f)).as(name)
            case "value_count" => org.apache.spark.sql.functions.count(col(f)).as(name)
            case other =>
              throw new IllegalArgumentException(s"query DSL: unsupported metric '$other'")
          }
        }
    }

  /** The keys a proportional_sum body accepts at each position. The top
    * level takes the builder's complete field set. Nested under a bucket
    * parent (terms, filters, the agg tree) and at the streaming door only
    * the grid keys are taken: the presentation knobs have no grouped or
    * append-mode form here. A calendar grid comes with `calendar_interval`,
    * so only the top level takes one, by either key. */
  private val PropSumTopKeys = Set("fields", "interval", "calendar_interval", "start", "end",
    "offset", "min_doc_count", "extended_bounds", "keyed", "order", "missing", "format")
  private val PropSumNestedKeys = Set("fields", "interval", "start", "end", "offset", "min_doc_count")
  private val PropSumStreamKeys = Set("fields", "interval", "start", "end", "offset")

  /** The proportional_sum body parser for every position (see [[aggBody]]
    * and [[streamingPropSum]]); `keys` is what the position accepts, and
    * anything else fails loudly. The parser field set is the one
    * `ProportionalSumAggregationBuilder` declares
    * (`ProportionalSumAggregationBuilder.java:96-144`):
    *   - `fields` [start, end, value(, sampling)] + fixed `interval` (ms)
    *     OR `calendar_interval` (the DateHistogramInterval family,
    *     builder:104-117), with `start`/`end` clamp and `offset` (applied
    *     inside every rounding, builder's round(x−offset)+offset formula —
    *     both grids);
    *   - `min_doc_count` (sparse-bucket dropping; negative fails, as in
    *     the ES histogram builders);
    *   - `extended_bounds` {min, max} (builder:130-131): dense zero-filled
    *     grid over the bounds, q05's semantics; fixed-interval only, like
    *     the ES histogram framework requires min_doc_count 0 for the fill;
    *   - `keyed` (builder:126): the keyed response's formatted object key
    *     rides along as `key_str` (the q01k convention), in `format`;
    *   - `order` (builder:133-134): `[{_key: asc}]` sorts the bucket
    *     table; any other order emits the data-visible `order_rank`;
    *   - `missing` (declareCommon, builder:102): per-field substitutes. */
  private def propSum(spec: JsonNode, keys: Set[String]): ProportionalSum.Spec = {
    obj(spec, "proportional_sum", Set("fields"), keys)
    val fs = texts(spec.get("fields"), "proportional_sum fields")
    require(fs.size == 3 || fs.size == 4,
      s"query DSL: fields must be [start, end, value(, sampling)], got $fs")
    // `interval` carries the builder's FULL legacy grammar (integral ms, a
    // DATE_FIELD_UNITS calendar spelling like "1M", or a fixed TimeValue
    // like "90m" — builder:104-116); `calendar_interval` stays the
    // explicit calendar key. Exactly one of the two.
    val legacyInterval: Option[Either[String, Long]] = opt(spec, "interval") { (n, k) =>
      if (n.isTextual) {
        val parsed = parseIntervalString(n.textValue)
        require(parsed.isRight || keys("calendar_interval"),
          s"query DSL: proportional_sum takes fixed intervals only here, got calendar '${n.textValue}'")
        parsed
      } else {
        val ms = long(n, s"$k (ms, or an interval string)")
        require(ms > 0, s"query DSL: interval must be positive, got $ms")
        Right(ms)
      }
    }
    val calKey = opt(spec, "calendar_interval")(text)
    require(legacyInterval.isDefined ^ calKey.isDefined,
      "query DSL: proportional_sum requires exactly one of interval / calendar_interval")
    val startMs = opt(spec, "start")(long)
    val endMs = opt(spec, "end")(long)
    // offset: integral ms or the "+6h"/"-30m" string form (builder:118-124)
    val offsetMs = opt(spec, "offset") { (n, k) =>
      if (n.isTextual) parseStringOffset(n.textValue) else long(n, s"$k (ms, or a time-value string)")
    }.getOrElse(0L)
    val cfg = calKey.map(Left(_)).getOrElse(legacyInterval.get) match {
      case Left(unit) => ProportionalSum.calendar(unit, startMs, endMs, offsetMs)
      case Right(itv) => ProportionalSum.Config(itv, startMs, endMs, offsetMs)
    }
    val minDoc = opt(spec, "min_doc_count")(long).getOrElse(0L)
    require(minDoc >= 0, s"query DSL: min_doc_count must be non-negative, got $minDoc")
    val extBounds: Option[(Long, Long)] = opt(spec, "extended_bounds") { (eb, k) =>
      obj(eb, k, Set("min", "max"))
      // LongBounds.PARSER (builder:130-131) also accepts FORMATTED DATE
      // STRINGS for min/max — the Grafana/Kibana spelling. Accepted here
      // for the same whitelisted formats the `format` knob proves DuckDB
      // mirrors for; parsed driver-side (UTC) to the identical epoch-ms
      // the integral spelling carries, so the oracle is unchanged.
      // Anything unparseable is loud, never silently approximated.
      def boundMs(b: String): Long = {
        val n = eb.get(b)
        if (n.isTextual) parseBoundDateMs(n.textValue, b)
        else long(n, s"extended_bounds $b (ms, or a whitelisted date string)")
      }
      val (mn, mx) = (boundMs("min"), boundMs("max"))
      require(mn <= mx, s"query DSL: extended_bounds min $mn > max $mx")
      require(cfg.calendarUnit.isEmpty, "query DSL: extended_bounds requires the fixed interval form")
      require(minDoc == 0,
        "query DSL: extended_bounds fills empty buckets — incompatible with min_doc_count > 0")
      (mn, mx)
    }
    // order: the builder's FULL grammar (builder:133-134 — an ARRAY of
    // order params, compounded via InternalOrder/CompoundOrder :333).
    // Paths: _key (bucket_ms), _count (doc_count), _value (the sum —
    // the reference's single value path); each asc/desc.
    val order = opt(spec, "order")(orderEntries).getOrElse(Nil)
    order.foreach { case (k, _) =>
      require(Set("_key", "_count", "_value")(k),
        s"query DSL: unsupported order path '$k' (supported: _key, _count, _value)")
    }
    val keyed = opt(spec, "keyed")(bool).getOrElse(false)
    // `format` (declareCommon, builder:102): the keyed response's object-
    // key pattern. A WHITELIST of patterns with known cross-engine
    // mirrors — a format this engine can't prove against the oracle's
    // strftime is loudly rejected rather than silently approximated.
    val keyFmt = opt(spec, "format")(text).map { fmt =>
      require(keyed, "query DSL: format renders the keyed object key — requires keyed: true")
      val supported = Set(ProportionalSum.IsoKeyFormat, "yyyy-MM-dd HH:mm", "yyyy-MM-dd")
      require(supported(fmt), s"query DSL: unsupported format '$fmt' (supported: ${supported.mkString(", ")})")
      fmt
    }.getOrElse(ProportionalSum.IsoKeyFormat)
    // per-field `missing` (declareCommon's values-source substitution,
    // builder:102): a doc missing a mapped field CONTRIBUTES with the
    // substitute (typed q07c's shape; the NO-missing default is q07b's
    // skip). Value/sampling fields only: a missing range endpoint has no
    // meaningful substitute semantics in this engine and stays the skip —
    // loud, not silent.
    val missing = opt(spec, "missing")(entries).toSeq.flatMap { m =>
      require(m.nonEmpty, "query DSL: missing must be a non-empty {field: value} object")
      m.map { case (f, v) =>
        require(fs.drop(2).contains(f),
          s"query DSL: missing supports the value/sampling fields ${fs.drop(2)}, got '$f'")
        (f, double(v, s"missing value for '$f'"))
      }
    }
    ProportionalSum.Spec(fs, cfg, minDoc, extBounds, order, if (keyed) Some(keyFmt) else None, missing)
  }

  /** The streaming door: a request body whose one aggregation is a
    * proportional_sum in the streaming key set ([[PropSumStreamKeys]]) —
    * the append-mode collector (st07's production shape) driven by a JSON
    * request. The compiler owns the wire grammar, the engine
    * ([[graft.streaming.FlowStream.runAppendMode]]) owns the watermarked
    * execution. */
  def streamingPropSum(body: JsonNode): ProportionalSum.Spec = {
    require(!body.has("query"), "query DSL: the streaming door takes no query section")
    val (_, aggNode) = soleAgg(body)
    obj(aggNode, "streaming agg", Set("proportional_sum"))
    propSum(aggNode.get("proportional_sum"), PropSumStreamKeys)
  }

  /** POST `_search/template`: mustache-parameter substitution into a
    * template body, then the standard [[search]]. A WHOLE-VALUE placeholder
    * (`"{{p}}"` as the entire string) takes the param's JSON value verbatim
    * — numbers stay numbers, so a range bound can be templated without
    * stringly typing; an EMBEDDED placeholder interpolates as text. Any
    * unresolved `{{` surviving substitution fails loudly. */
  def renderTemplate(tmpl: JsonNode, params: JsonNode): JsonNode = {
    entries(params, "template params")
    val whole = """\{\{(\w+)\}\}""".r
    def param(name: String): JsonNode = {
      require(params.has(name), s"query DSL: missing template param '$name'")
      params.get(name)
    }
    def walk(n: JsonNode): JsonNode =
      if (n.isTextual) {
        n.textValue match {
          case whole(name) => param(name)
          case s =>
            val out = whole.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
              param(m.group(1)) match {
                case p if p.isTextual => p.textValue
                case p if p.isNumber || p.isBoolean => p.toString
                case p => typeError(s"embedded template param '${m.group(1)}'", "a string, number or boolean", p)
              }))
            require(!out.contains("{{"), s"query DSL: unresolved template placeholder in: $s")
            new com.fasterxml.jackson.databind.node.TextNode(out)
        }
      } else if (n.isObject) {
        val r = mapper.createObjectNode
        n.fields().asScala.foreach(e => r.set[JsonNode](e.getKey, walk(e.getValue)))
        r
      } else if (n.isArray) {
        val r = mapper.createArrayNode
        n.elements().asScala.foreach(e => r.add(walk(e)))
        r
      } else n
    walk(tmpl)
  }
}

/** Registry entries exercising [[QueryDsl]] end-to-end against the DuckDB
  * oracle. Each query's JSON is a FIXED literal, so its oracle is the
  * static hand-written SQL mirror of the same request — a hash match
  * proves the compiler's predicate, boost arithmetic, paging, and
  * projection all agree with an independent reading of the same JSON. */
object DslQueries {

  /** The q137 inner query (shipped base64-wrapped): every structured leaf
    * type in one bool — range must, term/terms/prefix should (boosts
    * 2.0/1.0/0.5, dyadic), wildcard must_not, minimum_should_match 1.
    * Decisive at every SF: each clause has hits AND misses (spec-pinned). */
  private[graft] val Q137Inner =
    """{"bool": {
      |  "must": [{"range": {"n_chars": {"gte": 150, "lt": 450}}}],
      |  "should": [
      |    {"term": {"lang": {"value": "en", "boost": 2.0}}},
      |    {"terms": {"source": ["src3", "src7", "src11"]}},
      |    {"prefix": {"lang": {"value": "f", "boost": 0.5}}}
      |  ],
      |  "must_not": [{"wildcard": {"source": {"value": "src1?"}}}],
      |  "minimum_should_match": 1
      |}}""".stripMargin

  /** The request bodies of the door entries that DoorMutantSpec mutates,
    * kept as text so the spec mutates exactly what the registry sends. */
  private[graft] val DoorBodies: Map[String, String] = Map(
    "q143_agg_body" ->
      """{"size": 0,
        |  "aggs": {"histo": {"proportional_sum": {
        |    "fields": ["rs", "re", "v"],
        |    "interval": 3600000,
        |    "start": 1704412800000,
        |    "end": 1706140800000,
        |    "order": [{"_key": "asc"}]
        |  }}}}""".stripMargin,
    "q146_dsl_date_histogram" ->
      """{"size": 0,
        |  "aggs": {"by_hour": {
        |    "date_histogram": {"field": "ms", "fixed_interval": 3600000},
        |    "aggs": {"sum_value": {"sum": {"field": "value"}}}
        |  }}}""".stripMargin,
    "q147_dsl_terms_agg" ->
      """{"size": 0,
        |  "aggs": {"types": {
        |    "terms": {"field": "event_type", "size": 10, "order": {"_count": "desc"}},
        |    "aggs": {"sum_value": {"sum": {"field": "value"}}}
        |  }}}""".stripMargin,
    "q153_dsl_nested_terms" ->
      """{"size": 0,
        |  "aggs": {"types": {
        |    "terms": {"field": "event_type"},
        |    "aggs": {"series": {"proportional_sum": {
        |      "fields": ["rs", "re", "v"],
        |      "interval": 3600000,
        |      "start": 1704412800000,
        |      "end": 1706140800000
        |    }}}
        |  }}}""".stripMargin,
    "q157_dsl_search_after" ->
      """{"query": {"range": {"n_chars": {"gte": 150}}},
        |  "sort": [{"n_chars": "asc"}, {"doc_id": "asc"}],
        |  "search_after": [250, 100],
        |  "size": 20,
        |  "_source": ["doc_id", "n_chars"]}""".stripMargin,
    "q172_dsl_histogram" ->
      """{"size": 0,
        |  "aggs": {"by_value": {
        |    "histogram": {"field": "value", "interval": 25}
        |  }}}""".stripMargin,
    "q173_dsl_range" ->
      """{"size": 0,
        |  "aggs": {"by_range": {
        |    "range": {"field": "value", "ranges": [
        |      {"key": "lo", "to": 50},
        |      {"key": "mid", "from": 50, "to": 200},
        |      {"key": "hi", "from": 200}
        |    ]},
        |    "aggs": {"sum_value": {"sum": {"field": "value"}}}
        |  }}}""".stripMargin)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ES `wrapper` query — the base64-wrapped DSL, decoded and compiled at
    // request time (the encode→decode round trip runs every execution).
    "q137_wrapper" -> ((s: SparkSession, d: String) => {
      val b64 = Base64.getEncoder.encodeToString(Q137Inner.getBytes("UTF-8"))
      val body = QueryDsl.parse(
        s"""{"query": {"wrapper": {"query": "$b64"}},
           |  "sort": [{"_score": "desc"}],
           |  "size": 20,
           |  "_source": ["doc_id", "lang", "source", "n_chars"]}""".stripMargin)
      QueryDsl.search(Tables(s, d, "documents"), body)
    }),

    // Full `_search` body envelope: constant_score(bool(filter terms,
    // must_not ids)) + field sort + from/size paging + _source projection.
    "q138_search_body" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"query": {"constant_score": {"filter": {"bool": {
          |    "filter": [{"terms": {"lang": ["en", "de", "zh"]}}],
          |    "must_not": [{"ids": {"values": [0, 1, 2, 3]}}]
          |  }}, "boost": 3.0}},
          |  "sort": [{"n_chars": {"order": "desc"}}, {"doc_id": "asc"}],
          |  "from": 10,
          |  "size": 20,
          |  "_source": ["doc_id", "lang", "n_chars"]}""".stripMargin)
      QueryDsl.search(Tables(s, d, "documents"), body)
    }),

    // `_count` body with a `match` (operator and) clause — the analyzer
    // path under the count envelope. The match leaf PROBES the
    // materialized analyzed token frame (array_contains on the
    // checkpointed toks column — the ES analyzed-index analog) instead of
    // regex-scanning raw text; identical semantics, identical oracle.
    "q139_count" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"query": {"match": {"text": {"query": "vector stream", "operator": "and"}}}}""")
      QueryDsl.count(TextQueries.docsAnalyzed(s, d), body, analyzed = Map("text" -> "toks"))
    }),

    // QUERY-CONTEXT match through the front door: the JSON body a
    // reference user sends ({"query": {"match": ...}}) returns a
    // BM25-RANKED page — the scoring is THE shared q76 chain (injected
    // via TextQueries.dslRelevance), proven two ways: this entry wraps
    // q76's oracle, and DslScoredSpec asserts in-process row-identity
    // with typed q76_bm25_search.
    "q148_dsl_match_scored" -> ((s: SparkSession, d: String) => {
      val qs = TextQueries.windowQueryString(s, d)
      val body = QueryDsl.parse(
        s"""{"query": {"match": {"text": "$qs"}},
           |  "size": 20,
           |  "_source": ["doc_id"]}""".stripMargin)
      QueryDsl.searchScored(Tables(s, d, "documents"), body, TextQueries.dslRelevance(s, d))
    }),

    // multi_match (type best_fields) through the front door: per-field
    // BM25 with each field's OWN statistics + dis_max combine — the typed
    // q86 stack reached from the request-body language; shares q86's
    // oracle (wrapped projection) + in-process row-identity.
    "q149_dsl_multi_match" -> ((s: SparkSession, d: String) => {
      val qs = TextQueries.windowQueryString(s, d)
      val body = QueryDsl.parse(
        s"""{"query": {"multi_match": {
           |    "query": "$qs",
           |    "fields": ["title^2", "body"],
           |    "type": "best_fields",
           |    "tie_breaker": 0.5}},
           |  "size": 20,
           |  "_source": ["doc_id"]}""".stripMargin)
      QueryDsl.searchScored(Tables(s, d, "documents"), body, TextQueries.dslRelevance(s, d))
    }),

    // `highlight` in the search body: the scored match page returns each
    // hit's fragment payload — q82's hit-phase fragmenter reached from
    // the request body; shares q82's oracle verbatim.
    "q155_dsl_highlight" -> ((s: SparkSession, d: String) => {
      val qs = TextQueries.windowQueryString(s, d)
      val body = QueryDsl.parse(
        s"""{"query": {"match": {"text": "$qs"}},
           |  "size": 20,
           |  "highlight": {"fields": {"text": {}}}}""".stripMargin)
      QueryDsl.searchScored(Tables(s, d, "documents"), body, TextQueries.dslRelevance(s, d))
    }),

    // `_msearch` envelope: two independent filter-context bodies in one
    // request, responses tagged by array position — each body a standard
    // limit-pushed search() job (the coordinator fan-out shape, q130's
    // semantics on the documents frame).
    "q154_dsl_msearch" -> ((s: SparkSession, d: String) => {
      val b0 = QueryDsl.parse(
        """{"query": {"term": {"lang": "en"}},
          |  "sort": [{"n_chars": "desc"}], "size": 10,
          |  "_source": ["doc_id", "lang", "n_chars"]}""".stripMargin)
      val b1 = QueryDsl.parse(
        """{"query": {"range": {"n_chars": {"gte": 300}}},
          |  "sort": [{"doc_id": "asc"}], "from": 5, "size": 10,
          |  "_source": ["doc_id", "lang", "n_chars"]}""".stripMargin)
      QueryDsl.msearch(Tables(s, d, "documents"), Seq(b0, b1))
    }),

    // ES `scroll`: drain the q137 filter to exhaustion — page size 64 so
    // the cursor loop genuinely iterates at EVERY SF (2/2/16 pages at
    // sf0.001/0.01/0.1), never a single-fetch degenerate run.
    "q140_scroll" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        s"""{"query": $Q137Inner,
           |  "sort": [{"n_chars": "asc"}, {"doc_id": "asc"}],
           |  "_source": ["doc_id", "source", "n_chars"]}""".stripMargin)
      QueryDsl.scrollAll(Tables(s, d, "documents"), body, pageSize = 64)
    }),

    // The DISTRIBUTED export form of the same drain: identical request,
    // identical output schema, computed as one range-partitioned sort +
    // per-partition offset ranks — no row ever lands on the driver. Shares
    // q140's oracle VERBATIM: the hash match proves the distributed page
    // assignment equals the keyset-cursor drain row for row.
    "q140b_scroll_export" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        s"""{"query": $Q137Inner,
           |  "sort": [{"n_chars": "asc"}, {"doc_id": "asc"}],
           |  "_source": ["doc_id", "source", "n_chars"]}""".stripMargin)
      QueryDsl.scrollExport(Tables(s, d, "documents"), body, pageSize = 64)
    }),

    // ES `_field_caps` over the corpus table: the schema-derived catalog
    // emitted as the capabilities response (text = the analyzed corpus
    // field, searchable but not aggregatable; strings keyword; longs
    // long). The oracle derives the SAME rows from DuckDB's
    // information_schema over the identical parquet — mapping drift
    // between the two engines' views of the schema fails the hash.
    "q177_dsl_field_caps" -> ((s: SparkSession, d: String) =>
      QueryDsl.fieldCaps(Tables(s, d, "documents"), analyzed = Set("text"))),

    // SLICED export (`slice: {id, max}` — ES's parallel scroll/PIT
    // contract): q140's drain split into 4 disjoint per-slice cursors
    // (slice = doc_id % 4, the deterministic hash(_id) % max analog),
    // each ranked in its own drain order by a slice-partitioned window.
    // The oracle proves disjointness, completeness and per-slice order
    // against q140's exact hit set.
    "q176_dsl_sliced_export" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        s"""{"query": $Q137Inner,
           |  "sort": [{"n_chars": "asc"}, {"doc_id": "asc"}],
           |  "_source": ["doc_id", "source", "n_chars"]}""".stripMargin)
      QueryDsl.scrollExportSliced(Tables(s, d, "documents"), body,
        pageSize = 64, maxSlices = 4)
    }),

    // POST _search/template: typed mustache substitution (the range bound
    // is a NUMBER after rendering), then the standard search envelope.
    "q141_search_template" -> ((s: SparkSession, d: String) => {
      val req = QueryDsl.parse(
        """{"source": {"query": {"bool": {"filter": [
          |      {"term": {"lang": "{{lang}}"}},
          |      {"range": {"n_chars": {"gte": "{{min_chars}}"}}}]}},
          |    "sort": [{"doc_id": "asc"}], "size": 20,
          |    "_source": ["doc_id", "lang", "n_chars"]},
          |  "params": {"lang": "es", "min_chars": 200}}""".stripMargin)
      val rendered = QueryDsl.renderTemplate(req.get("source"), req.get("params"))
      QueryDsl.search(Tables(s, d, "documents"), rendered)
    }),

    // ES runtime fields: a request-defined computed field ranged on,
    // sorted on, and projected exactly like a mapped field — one scan,
    // compute-at-query (the runtime projection sits below the filter).
    "q142_runtime_fields" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"runtime_mappings": {"weighted_len": {"type": "long",
          |    "script": {"source": "emit(doc['n_chars'].value * 3 + doc['doc_id'].value % 7)"}}},
          |  "query": {"bool": {"filter": [{"range": {"weighted_len": {"gte": 400, "lt": 1200}}}]}},
          |  "sort": [{"weighted_len": "desc"}, {"doc_id": "asc"}],
          |  "size": 20,
          |  "_source": ["doc_id", "n_chars", "weighted_len"]}""".stripMargin)
      QueryDsl.search(Tables(s, d, "documents"), body)
    }),

    // THE REFERENCE'S OWN REQUEST: a proportional_sum aggregation body in
    // ProportionalSumAggregationBuilder's wire grammar, compiled onto the
    // same operator q01 runs — and sharing q01's oracle verbatim, so the
    // hash match proves front door ≡ typed API.
    "q143_agg_body" -> ((s: SparkSession, d: String) => 
      QueryDsl.aggBody(Flows.df(s, d), QueryDsl.parse(DoorBodies("q143_agg_body")))),

    // filtered agg body: the DSL query section gates the flow rows BEFORE
    // the proportional_sum (the parent-filter shape) — compiled against
    // the flow frame's own schema-derived catalog, proving the front door
    // is not documents-specific.
    "q144_agg_body_filtered" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "query": {"term": {"event_type": "purchase"}},
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": 3600000,
          |    "start": 1704412800000,
          |    "end": 1706140800000
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // the framework date_histogram agg through the front door: q10's
    // bucket recipe + a detsum metric sub-agg, sharing q10's oracle.
    "q146_dsl_date_histogram" -> ((s: SparkSession, d: String) => 
      QueryDsl.aggBody(EsAggQueries.ev(s, d), QueryDsl.parse(DoorBodies("q146_dsl_date_histogram")))),

    // the framework terms agg through the front door: size + _count order
    // + detsum metric, sharing q11's oracle.
    "q147_dsl_terms_agg" -> ((s: SparkSession, d: String) => 
      QueryDsl.aggBody(EsAggQueries.ev(s, d), QueryDsl.parse(DoorBodies("q147_dsl_terms_agg")))),

    // extended_bounds through the front door (the builder's own parser
    // field, ProportionalSumAggregationBuilder.java:130-131): dense
    // zero-filled minute grid over one day — q05's semantics, sharing
    // q05's oracle verbatim (front door ≡ typed API, proven both ways
    // with the in-process row-identity spec).
    "q150_dsl_extended_bounds" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": 60000,
          |    "start": 1704067200000,
          |    "end": 1704153600000,
          |    "extended_bounds": {"min": 1704067200000, "max": 1704153599999}
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // extended_bounds with DATE-STRING min/max (LongBounds.PARSER,
    // builder:130-131 — the Grafana/Kibana ISO spelling): "2024-01-01" /
    // "2024-01-01T23:59:59.999Z" parse driver-side (UTC, whitelisted
    // formats only) to exactly q150's integral ms, so the entry shares
    // q05's oracle verbatim; an unparseable format is loud.
    "q175_dsl_bounds_string" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": 60000,
          |    "start": 1704067200000,
          |    "end": 1704153600000,
          |    "extended_bounds": {"min": "2024-01-01",
          |                        "max": "2024-01-01T23:59:59.999Z"}
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // the CALENDAR interval form at the JSON door (builder:104-117):
    // monthly UTC buckets over month-scale ranges — q06's semantics over
    // q06's own stretched-range frame, sharing q06's oracle verbatim.
    "q151_dsl_calendar_interval" -> ((s: SparkSession, d: String) => {
      val flows = Flows.stretched(Flows.df(s, d), 90)
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "calendar_interval": "month",
          |    "start": 1704067200000,
          |    "end": 1714521600000
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(flows, body)
    }),

    // `keyed` + `{"_value": "desc"}` order at the JSON door (builder:126,
    // :133-134): the keyed response's formatted object key and the
    // data-visible bucket rank — q01k's semantics, sharing its oracle.
    "q152_dsl_keyed_order" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": 3600000,
          |    "start": 1704412800000,
          |    "end": 1706140800000,
          |    "keyed": true,
          |    "order": [{"_value": "desc"}]
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // NESTED bucket sub-agg: terms(event_type) → proportional_sum — the
    // reference's agg-under-terms-parent shape (the Drift UI top-talkers
    // request), one grouped run; shares q04's oracle verbatim.
    "q153_dsl_nested_terms" -> ((s: SparkSession, d: String) => 
      QueryDsl.aggBody(Flows.df(s, d), QueryDsl.parse(DoorBodies("q153_dsl_nested_terms")))),

    // `search_after` in the filter-context envelope: ES's deep-paging form
    // — the literal cursor's lexicographic keyset predicate lands on raw
    // columns (scan-pruning like scroll's), page ranks restart at 1.
    "q157_dsl_search_after" -> ((s: SparkSession, d: String) => 
      QueryDsl.search(Tables(s, d, "documents"), QueryDsl.parse(DoorBodies("q157_dsl_search_after")))),

    // terms → date_histogram (→ metric) nesting — the dashboard shape
    // (every Kibana panel over the Drift indices is exactly this tree):
    // ONE grouped aggregation on the compound key, single exchange.
    "q158_dsl_terms_date_histogram" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"types": {
          |    "terms": {"field": "event_type"},
          |    "aggs": {"by_hour": {
          |      "date_histogram": {"field": "ms", "fixed_interval": 3600000},
          |      "aggs": {"sum_value": {"sum": {"field": "value"}}}
          |    }}
          |  }}}""".stripMargin)
      QueryDsl.aggBody(EsAggQueries.ev(s, d), body)
    }),

    // the FULL 3-level agg tree at the JSON door: terms(event_type) →
    // date_histogram(rs, daily — the middle agg's NAME becomes the bucket
    // column, the ES response-nesting convention) → hourly
    // proportional_sum — typed q04c's tree, ONE compound-key grouped run;
    // shares q04c's oracle VERBATIM.
    "q159_dsl_agg_tree" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"types": {
          |    "terms": {"field": "event_type"},
          |    "aggs": {"doc_day": {
          |      "date_histogram": {"field": "rs", "fixed_interval": 86400000},
          |      "aggs": {"series": {"proportional_sum": {
          |        "fields": ["rs", "re", "v"],
          |        "interval": 3600000,
          |        "start": 1704412800000,
          |        "end": 1706140800000
          |      }}}
          |    }}
          |  }}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // the LEGACY `interval` STRING spelling (builder:104-116 — the
    // reference's own ITs serialize this shape, SamplingIT.java:111):
    // "1h" is a fixed TimeValue → the same ms grid as q143/q01; shares
    // q01's oracle verbatim.
    "q160_dsl_interval_string" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": "1h",
          |    "start": 1704412800000,
          |    "end": 1706140800000
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // the legacy interval key carrying a CALENDAR spelling ("1M" ∈
    // DATE_FIELD_UNITS, builder:77-96): compiles onto the calendar
    // explode exactly like the explicit calendar_interval key — q06's
    // semantics over q06's stretched frame, q06's oracle verbatim.
    "q161_dsl_calendar_string" -> ((s: SparkSession, d: String) => {
      val flows = Flows.stretched(Flows.df(s, d), 90)
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": "1M",
          |    "start": 1704067200000,
          |    "end": 1714521600000
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(flows, body)
    }),

    // `offset` STRING form (builder:118-124 parseStringOffset): "+15m"
    // is q02's 900000 ms :15 grid — q02's oracle verbatim.
    "q162_dsl_offset_string" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": "1h",
          |    "offset": "+15m",
          |    "start": 1704412800000,
          |    "end": 1706140800000
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // `_count` order (builder:133-134 — InternalOrder count paths):
    // data-visible order_rank over (doc_count desc, bucket_ms asc).
    "q163_dsl_order_count" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": 3600000,
          |    "start": 1704412800000,
          |    "end": 1706140800000,
          |    "order": [{"_count": "desc"}]
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // COMPOUND order array (CompoundOrder, builder reduce :333): _count
    // asc then _key desc — covers the remaining order grammar (_count
    // asc, _key desc, multi-entry arrays) in one oracle-backed entry.
    "q164_dsl_order_compound" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": 3600000,
          |    "start": 1704412800000,
          |    "end": 1706140800000,
          |    "order": [{"_count": "asc"}, {"_key": "desc"}]
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // `filters` PARENT at the JSON door (SURVEY §1's "terms/filters
    // parents", both wire-reachable): named DSL predicates → one
    // conditional-explode scan → grouped proportional_sum — typed q04b's
    // plan and oracle VERBATIM (the agg's name is the bucket column, so
    // the request names it fname).
    "q165_dsl_filters_parent" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"fname": {
          |    "filters": {"filters": {
          |      "purchases": {"term": {"event_type": "purchase"}},
          |      "high_value": {"range": {"v": {"gt": 50.0}}}
          |    }},
          |    "aggs": {"series": {"proportional_sum": {
          |      "fields": ["rs", "re", "v"],
          |      "interval": 3600000,
          |      "start": 1704412800000,
          |      "end": 1706140800000
          |    }}}
          |  }}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // multi_match type most_fields at the door — typed q86b's sum
    // combine over the shared per-field stack; q86b's oracle (wrapped
    // projection) + in-process row-identity.
    "q166_dsl_mm_most_fields" -> ((s: SparkSession, d: String) => {
      val qs = TextQueries.windowQueryString(s, d)
      val body = QueryDsl.parse(
        s"""{"query": {"multi_match": {
           |    "query": "$qs",
           |    "fields": ["title^2", "body"],
           |    "type": "most_fields"}},
           |  "size": 20,
           |  "_source": ["doc_id"]}""".stripMargin)
      QueryDsl.searchScored(Tables(s, d, "documents"), body, TextQueries.dslRelevance(s, d))
    }),

    // multi_match type phrase at the door — typed q86c's per-field
    // match_phrase + dis_max; the request text is the top corpus bigram
    // (derived driver-side like q148's window terms), q86c's oracle.
    "q167_dsl_mm_phrase" -> ((s: SparkSession, d: String) => {
      val qs = TextQueries.topBigramString(s, d)
      val body = QueryDsl.parse(
        s"""{"query": {"multi_match": {
           |    "query": "$qs",
           |    "fields": ["title^2", "body"],
           |    "type": "phrase"}},
           |  "size": 20,
           |  "_source": ["doc_id"]}""".stripMargin)
      QueryDsl.searchScored(Tables(s, d, "documents"), body, TextQueries.dslRelevance(s, d))
    }),

    // multi_match type cross_fields at the door — typed q86d's
    // term-centric blended-df stack via THE shared helper; q86d's oracle.
    "q168_dsl_mm_cross_fields" -> ((s: SparkSession, d: String) => {
      val qs = TextQueries.windowQueryString(s, d)
      val body = QueryDsl.parse(
        s"""{"query": {"multi_match": {
           |    "query": "$qs",
           |    "fields": ["title^2", "body"],
           |    "type": "cross_fields"}},
           |  "size": 20,
           |  "_source": ["doc_id"]}""".stripMargin)
      QueryDsl.searchScored(Tables(s, d, "documents"), body, TextQueries.dslRelevance(s, d))
    }),

    // terms `size` under a bucket child — the Drift UI's top-talkers
    // truncation at the door: top-2 event_types by parent doc_count
    // (_count desc, the ES default order), term_rank data-visible, each
    // surviving term keeping its FULL nested proportional series.
    // bucket `order` by an AGGREGATION PATH at the door
    // ({"sum_value": "desc"} — InternalOrder agg paths, builder:133-134):
    // the date_histogram's buckets rank by the declared metric sub-agg's
    // value with bucket_ms asc total tiebreak, rank data-visible. Shares
    // typed q10f's oracle verbatim; a path naming no declared metric is
    // loud.
    "q174_dsl_order_agg_path" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"by_hour": {
          |    "date_histogram": {"field": "ms", "fixed_interval": 3600000,
          |                       "order": {"sum_value": "desc"}},
          |    "aggs": {"sum_value": {"sum": {"field": "value"}}}
          |  }}}""".stripMargin)
      QueryDsl.aggBody(EsAggQueries.ev(s, d), body)
    }),

    // the plain NUMERIC histogram framework agg at the door — the agg
    // every Kibana dashboard adds next to terms/date_histogram; compiles
    // to typed q10b's exact frame (bucket = floor(v/25)·25 as
    // value_bucket), sharing its oracle verbatim. DslSpec pins
    // in-process row-identity with q10b.
    "q172_dsl_histogram" -> ((s: SparkSession, d: String) => 
      QueryDsl.aggBody(EsAggQueries.ev(s, d), QueryDsl.parse(DoorBodies("q172_dsl_histogram")))),

    // the explicit-edges `range` framework agg at the door — typed
    // q10c's buckets ([0,50) / [50,200) / [200,∞) keyed lo/mid/hi) with
    // its detsum metric, sharing q10c's oracle verbatim.
    "q173_dsl_range" -> ((s: SparkSession, d: String) => 
      QueryDsl.aggBody(EsAggQueries.ev(s, d), QueryDsl.parse(DoorBodies("q173_dsl_range")))),

    "q170_dsl_terms_size" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"types": {
          |    "terms": {"field": "event_type", "size": 2},
          |    "aggs": {"series": {"proportional_sum": {
          |      "fields": ["rs", "re", "v"],
          |      "interval": 3600000,
          |      "start": 1704412800000,
          |      "end": 1706140800000
          |    }}}
          |  }}}""".stripMargin)
      QueryDsl.aggBody(Flows.df(s, d), body)
    }),

    // per-field `missing` + `format` at the door (declareCommon,
    // builder:102): a doc with an absent VALUE field CONTRIBUTES with
    // the substitute (coalesce at the values-source boundary — typed
    // q07c's run, contrast q07b's skip), and `format` renders the keyed
    // object key from the whitelist. Oracle = q07c's substitution mirror
    // + the strftime key.
    "q169_dsl_missing_format" -> ((s: SparkSession, d: String) => {
      val flows = Flows.df(s, d)
        .withColumn("v", when(col("event_id") % 11 === 0, lit(null)).otherwise(col("v")))
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": 3600000,
          |    "start": 1704412800000,
          |    "end": 1706140800000,
          |    "missing": {"v": 25.0},
          |    "keyed": true,
          |    "format": "yyyy-MM-dd HH:mm"
          |  }}}}""".stripMargin)
      QueryDsl.aggBody(flows, body)
    }),

    // STREAMING through the front door: the append-mode production
    // collector (st07's watermarked pipeline VERBATIM — same explode,
    // same watermark contract, same sink) configured by the plugin's
    // wire grammar instead of typed Config. Shares st07's oracle, so the
    // hash match proves request-driven streaming ≡ typed streaming.
    "st20_dsl_prop_sum_stream" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"size": 0,
          |  "aggs": {"histo": {"proportional_sum": {
          |    "fields": ["rs", "re", "v"],
          |    "interval": "1h",
          |    "start": 1704412800000,
          |    "end": 1706140800000
          |  }}}}""".stripMargin)
      graft.streaming.FlowStream.runAppendMode(
        graft.streaming.FlowStream.flowSource(s, d), QueryDsl.streamingPropSum(body), 2 * 3600000L, "st20_mem")
    }),

    // _mget: request-order multi-get with found=false rows for misses and
    // a duplicate id served twice — the broadcast-probe + coordinator
    // assembly shape.
    "q145_mget" -> ((s: SparkSession, d: String) => {
      val body = QueryDsl.parse(
        """{"ids": [7, 3, 999999999, 11, 3],
          |  "_source": ["lang", "n_chars"]}""".stripMargin)
      QueryDsl.mget(Tables(s, d, "documents"), body)
    }))

  /** The q140/q140b shared mirror: the full ordered hit list with page =
    * 1-based block of 64 in rank order (integer arithmetic both engines). */
  private val scrollOracle =
    """WITH hits AS (
      |  SELECT doc_id, source, n_chars
      |  FROM documents
      |  WHERE n_chars >= 150 AND n_chars < 450
      |    AND (source IS NULL OR source NOT LIKE 'src1_')
      |    -- the scroll contract's non-null sort fields, mirrored
      |    -- explicitly (vacuous on this corpus, load-bearing on any
      |    -- table with nullable sort columns)
      |    AND n_chars IS NOT NULL AND doc_id IS NOT NULL
      |    AND (CASE WHEN lang = 'en' THEN 1 ELSE 0 END
      |         + CASE WHEN source IN ('src3', 'src7', 'src11') THEN 1 ELSE 0 END
      |         + CASE WHEN lang LIKE 'f%' THEN 1 ELSE 0 END) >= 1
      |), r AS (
      |  SELECT row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rank, *
      |  FROM hits
      |)
      |SELECT rank, (rank - 1) // 64 + 1 AS page, doc_id, source, n_chars FROM r""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // Static mirror of Q137Inner + the search envelope. Boost arithmetic
    // in explicit DOUBLE casts (DuckDB decimal literals would otherwise
    // sum in DECIMAL); all boosts dyadic so the sums are IEEE-exact.
    "q137_wrapper" ->
      """WITH hits AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         -- the must range clause is query context: a matching doc
        |         -- earns its boost (1.0) before the should contributions
        |         (CAST(1.0 AS DOUBLE)
        |          + CASE WHEN lang = 'en' THEN CAST(2.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |          + CASE WHEN source IN ('src3', 'src7', 'src11') THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        |          + CASE WHEN lang LIKE 'f%' THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS score
        |  FROM documents
        |  WHERE n_chars >= 150 AND n_chars < 450
        |    -- must_not over a NULL field still includes the doc (the ES
        |    -- contract the compiled !(isNotNull && like) encodes); the
        |    -- mirror says so explicitly instead of leaning on the corpus
        |    -- having no null sources
        |    AND (source IS NULL OR source NOT LIKE 'src1_')
        |    AND (CASE WHEN lang = 'en' THEN 1 ELSE 0 END
        |         + CASE WHEN source IN ('src3', 'src7', 'src11') THEN 1 ELSE 0 END
        |         + CASE WHEN lang LIKE 'f%' THEN 1 ELSE 0 END) >= 1
        |)
        |SELECT rank, score, doc_id, lang, source, n_chars FROM (
        |  SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank, *
        |  FROM hits
        |) WHERE rank <= 20""".stripMargin,

    "q138_search_body" ->
      """WITH hits AS (
        |  SELECT doc_id, lang, n_chars, CAST(3.0 AS DOUBLE) AS score
        |  FROM documents
        |  WHERE lang IN ('en', 'de', 'zh') AND doc_id NOT IN (0, 1, 2, 3)
        |)
        |SELECT rank, score, doc_id, lang, n_chars FROM (
        |  SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank, *
        |  FROM hits
        |) WHERE rank > 10 AND rank <= 30""".stripMargin,

    "q139_count" ->
      """SELECT count(*) AS total, 'eq' AS relation
        |FROM (
        |  SELECT string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents
        |)
        |WHERE list_contains(toks, 'vector') AND list_contains(toks, 'stream')""".stripMargin,

    // the scroll drain = the full ordered hit list; page = 1-based block
    // of 64 in rank order (integer arithmetic both engines). ONE text for
    // both executors: the keyset-cursor drain (q140) and the distributed
    // export (q140b) must be the same row set.
    "q140_scroll" -> scrollOracle,
    "q140b_scroll_export" -> scrollOracle,
    "q177_dsl_field_caps" ->
      """SELECT column_name AS field,
        |       CASE WHEN column_name = 'text' THEN 'text'
        |            WHEN data_type IN ('BIGINT', 'INTEGER') THEN 'long'
        |            WHEN data_type IN ('DOUBLE', 'FLOAT') THEN 'double'
        |            WHEN data_type = 'VARCHAR' THEN 'keyword' END AS type,
        |       TRUE AS searchable,
        |       (column_name <> 'text') AS aggregatable
        |FROM information_schema.columns
        |WHERE table_name = 'documents'
        |  AND (data_type IN ('BIGINT', 'INTEGER', 'DOUBLE', 'FLOAT', 'VARCHAR'))""".stripMargin,
    // q140's hit set partitioned by slice: the PARTITION BY window proves
    // every hit lands in exactly one slice in per-slice drain order
    "q176_dsl_sliced_export" ->
      """WITH hits AS (
        |  SELECT doc_id, source, n_chars
        |  FROM documents
        |  WHERE n_chars >= 150 AND n_chars < 450
        |    AND (source IS NULL OR source NOT LIKE 'src1_')
        |    AND n_chars IS NOT NULL AND doc_id IS NOT NULL
        |    AND (CASE WHEN lang = 'en' THEN 1 ELSE 0 END
        |         + CASE WHEN source IN ('src3', 'src7', 'src11') THEN 1 ELSE 0 END
        |         + CASE WHEN lang LIKE 'f%' THEN 1 ELSE 0 END) >= 1
        |), r AS (
        |  SELECT doc_id % 4 AS slice_id,
        |         row_number() OVER (PARTITION BY doc_id % 4
        |                            ORDER BY n_chars ASC, doc_id ASC) AS rank, *
        |  FROM hits
        |)
        |SELECT slice_id, rank, (rank - 1) // 64 + 1 AS page, doc_id, source, n_chars
        |FROM r""".stripMargin,

    "q141_search_template" ->
      """WITH hits AS (
        |  SELECT doc_id, lang, n_chars, CAST(1.0 AS DOUBLE) AS score
        |  FROM documents
        |  WHERE lang = 'es' AND n_chars >= 200
        |)
        |SELECT rank, score, doc_id, lang, n_chars FROM (
        |  SELECT row_number() OVER (ORDER BY doc_id ASC) AS rank, *
        |  FROM hits
        |) WHERE rank <= 20""".stripMargin,

    // the runtime field's integer arithmetic replayed inline (explicit
    // parens: % binds like * in both engines, but the mirror should not
    // lean on precedence)
    "q142_runtime_fields" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         (n_chars * 3 + (doc_id % 7)) AS weighted_len,
        |         CAST(1.0 AS DOUBLE) AS score
        |  FROM documents
        |), hits AS (
        |  SELECT * FROM d WHERE weighted_len >= 400 AND weighted_len < 1200
        |)
        |SELECT rank, score, doc_id, n_chars, weighted_len FROM (
        |  SELECT row_number() OVER (ORDER BY weighted_len DESC, doc_id ASC) AS rank, *
        |  FROM hits
        |) WHERE rank <= 20""".stripMargin,

    // q01's oracle VERBATIM: the JSON-compiled run must be row-identical
    // to the typed q01_prop_sum_basic pipeline
    "q143_agg_body" -> FlowQueries.basicOracleSql,

    // the same generated oracle family with the purchase row filter —
    // one definition with q01/q04b, only the WHERE differs
    "q144_agg_body_filtered" -> FlowQueries.purchaseOracleSql,

    // q10 / q11 oracles VERBATIM — front door ≡ typed API for the
    // framework aggs too
    "q146_dsl_date_histogram" -> EsAggQueries.oracleSql("q10_date_histogram"),
    // the framework histogram/range aggs at the door compile to the typed
    // q10b/q10c frames — shared oracles, door ≡ typed row-identically
    "q172_dsl_histogram" -> EsAggQueries.oracleSql("q10b_numeric_histogram"),
    "q173_dsl_range" -> EsAggQueries.oracleSql("q10c_range_agg"),
    "q174_dsl_order_agg_path" -> EsAggQueries.oracleSql("q10f_histogram_order_agg"),
    "q147_dsl_terms_agg" -> EsAggQueries.oracleSql("q11_terms_topn"),

    // the remaining ProportionalSumAggregationBuilder parser fields, each
    // sharing its typed entry's oracle VERBATIM: extended_bounds ≡ q05,
    // calendar_interval ≡ q06, keyed + {_value: desc} order ≡ q01k,
    // terms-parent nesting ≡ q04
    "q150_dsl_extended_bounds" -> FlowQueries.oracleSql("q05_prop_sum_empty_buckets"),
    // string-spelled bounds parse to q150's exact ms — same oracle
    "q175_dsl_bounds_string" -> FlowQueries.oracleSql("q05_prop_sum_empty_buckets"),
    "q151_dsl_calendar_interval" -> FlowQueries.oracleSql("q06_prop_sum_calendar"),
    "q152_dsl_keyed_order" -> FlowQueries.oracleSql("q01k_prop_sum_keyed"),
    "q153_dsl_nested_terms" -> FlowQueries.oracleSql("q04_prop_sum_grouped"),
    "q159_dsl_agg_tree" -> FlowQueries.oracleSql("q04c_prop_sum_nested_tree"),

    // the legacy STRING spellings compile onto the same grids their
    // typed/numeric twins use — oracles shared VERBATIM: "1h" ≡ q01's
    // hourly ms grid, "1M" ≡ q06's calendar months, "+15m" ≡ q02's
    // 900000 ms offset grid
    "q160_dsl_interval_string" -> FlowQueries.basicOracleSql,
    "q161_dsl_calendar_string" -> FlowQueries.oracleSql("q06_prop_sum_calendar"),
    "q162_dsl_offset_string" -> FlowQueries.oracleSql("q02_prop_sum_offset"),

    // the order grammar's rank column mirrored over q01's shared series
    // text — ONE ORDER BY spelling on both sides (bucket_ms asc appended
    // as the engine's total tiebreak)
    "q163_dsl_order_count" ->
      s"""SELECT bucket_ms, doc_count, value,
         |       row_number() OVER (ORDER BY doc_count DESC, bucket_ms ASC) AS order_rank
         |FROM (
         |${FlowQueries.basicOracleSql}
         |) base""".stripMargin,
    "q164_dsl_order_compound" ->
      s"""SELECT bucket_ms, doc_count, value,
         |       row_number() OVER (ORDER BY doc_count ASC, bucket_ms DESC) AS order_rank
         |FROM (
         |${FlowQueries.basicOracleSql}
         |) base""".stripMargin,

    // q04b's oracle VERBATIM: the JSON-compiled named-filters explode
    // must be row-identical to the typed filters-parent pipeline
    "q165_dsl_filters_parent" -> FlowQueries.oracleSql("q04b_prop_sum_filters_parent"),

    // st07's oracle VERBATIM: the JSON-configured append-mode stream
    // must emit exactly the typed watermarked collector's buckets
    "st20_dsl_prop_sum_stream" -> FlowQueries.oracleSql("st07_prop_sum_append"),

    // q04's grouped series text + the parent-truncation mirror: top-2
    // terms by flows-row count (_count desc, key asc), rank joined back
    // onto the full nested series — ONE ORDER BY spelling on both sides
    "q170_dsl_terms_size" ->
      s"""${FlowQueries.oracle(FlowQueries.basicCfg, groupCols = Seq("event_type"))},
         |tot AS (SELECT event_type, COUNT(*) AS term_doc_count FROM flows GROUP BY event_type),
         |topt AS (
         |  SELECT event_type, term_doc_count,
         |         row_number() OVER (ORDER BY term_doc_count DESC, event_type ASC) AS term_rank
         |  FROM tot
         |)
         |SELECT a.event_type, t.term_rank, t.term_doc_count,
         |       a.bucket_ms, a.doc_count, a.value
         |FROM agg a JOIN topt t ON a.event_type = t.event_type
         |WHERE t.term_rank <= 2""".stripMargin,

    // q07c's substitution mirror + the whitelisted strftime key — the
    // missing-contributes rows and the formatted keyed object key in one
    // oracle-backed entry
    "q169_dsl_missing_format" ->
      s"""${FlowQueries.oracle(FlowQueries.basicCfg, flows = FlowQueries.missingValueFlowsSql)}
         |SELECT bucket_ms, doc_count, value,
         |       strftime(epoch_ms(bucket_ms), '%Y-%m-%d %H:%M') AS key_str
         |FROM agg""".stripMargin,

    // q86b/q86c/q86d oracles WRAPPED (projection only — the text is
    // shared, so the JSON-compiled type combines can never drift from
    // the typed stacks)
    "q166_dsl_mm_most_fields" ->
      s"SELECT rank, final AS score, doc_id FROM (\n${TextQueries.oracleSql("q86b_multi_match_most_fields")}\n) q86b",
    "q167_dsl_mm_phrase" ->
      s"SELECT rank, final AS score, doc_id FROM (\n${TextQueries.oracleSql("q86c_multi_match_phrase")}\n) q86c",
    "q168_dsl_mm_cross_fields" ->
      s"SELECT rank, final AS score, doc_id FROM (\n${TextQueries.oracleSql("q86d_multi_match_cross_fields")}\n) q86d",

    // q76's oracle WRAPPED (projection only — the text is shared, so the
    // JSON-compiled ranking can never drift from the typed BM25 chain);
    // q86's the same for multi_match; q82's VERBATIM for highlight.
    "q148_dsl_match_scored" ->
      s"SELECT rank, score, doc_id FROM (\n${TextQueries.oracleSql("q76_bm25_search")}\n) q76",
    "q149_dsl_multi_match" ->
      s"SELECT rank, final AS score, doc_id FROM (\n${TextQueries.oracleSql("q86_multi_match")}\n) q86",
    "q155_dsl_highlight" -> TextQueries.oracleSql("q82_highlight"),

    // the two fixed _msearch bodies mirrored statically (the q137/q138
    // discipline): term page sorted on n_chars desc, range page with
    // from=5 keyset — each the standard envelope, tagged by position
    "q154_dsl_msearch" ->
      """WITH h0 AS (
        |  SELECT doc_id, lang, n_chars, CAST(1.0 AS DOUBLE) AS score
        |  FROM documents WHERE lang = 'en'
        |), r0 AS (
        |  SELECT CAST(0 AS BIGINT) AS req, rank, score, doc_id, lang, n_chars FROM (
        |    SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank, * FROM h0
        |  ) WHERE rank <= 10
        |), h1 AS (
        |  SELECT doc_id, lang, n_chars, CAST(1.0 AS DOUBLE) AS score
        |  FROM documents WHERE n_chars >= 300
        |), r1 AS (
        |  SELECT CAST(1 AS BIGINT) AS req, rank, score, doc_id, lang, n_chars FROM (
        |    SELECT row_number() OVER (ORDER BY doc_id ASC) AS rank, * FROM h1
        |  ) WHERE rank > 5 AND rank <= 15
        |)
        |SELECT * FROM r0 UNION ALL SELECT * FROM r1""".stripMargin,

    // the literal cursor's keyset + the non-null sort-field contract,
    // mirrored statically; ranks are page-relative (restart at 1)
    "q157_dsl_search_after" ->
      """WITH hits AS (
        |  SELECT doc_id, n_chars, CAST(1.0 AS DOUBLE) AS score
        |  FROM documents
        |  WHERE n_chars >= 150
        |    AND n_chars IS NOT NULL AND doc_id IS NOT NULL
        |    AND (n_chars > 250 OR (n_chars = 250 AND doc_id > 100))
        |)
        |SELECT rank, score, doc_id, n_chars FROM (
        |  SELECT row_number() OVER (ORDER BY n_chars ASC, doc_id ASC) AS rank, * FROM hits
        |) WHERE rank <= 20""".stripMargin,

    // the grouped q10 recipe: compound (term, bucket) key, detsum metric
    "q158_dsl_terms_date_histogram" ->
      s"""SELECT event_type,
         |       CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) * 3600000 AS bucket_ms,
         |       COUNT(*) AS doc_count, ${graft.functions.detsum.sumDetSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q145_mget" ->
      """WITH req(req_pos, id) AS (
        |  VALUES (CAST(1 AS BIGINT), CAST(7 AS BIGINT)), (2, 3), (3, 999999999), (4, 11), (5, 3)
        |)
        |SELECT req_pos, id, (d.doc_id IS NOT NULL) AS found, d.lang, d.n_chars
        |FROM req LEFT JOIN documents d ON d.doc_id = req.id""".stripMargin)
}
