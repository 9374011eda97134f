package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, BooleanNode, DoubleNode, IntNode, JsonNodeFactory,
  LongNode, NullNode, ObjectNode, TextNode}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.functions.detsum
import graft.functions.detsum.sumDet
import graft.operators.ProportionalSum
import graft.queries.{DslQueries, EsAggQueries, Flows, QueryDsl, Tables}

/** Malformed JSON-door bodies fail with a named error, never a coerced
  * value. Every JSON path of the registry's door aggregation bodies (q143,
  * q146, q147, q153, q172, q173) and of one search body (q157) is mutated
  * to each of: missing, "x", -1, 0, {}, [], null, true, NaN and
  * Long.MaxValue. A mutant must throw IllegalArgumentException, or be a
  * listed valid spelling and return exactly the rows listed for it: the
  * unmutated body's rows, rows derived from them, or a typed twin's rows. */
class DoorMutantSpec extends AnyFunSuite {
  import DoorMutantSpec._

  lazy val spark = GraftSession.builder("4").getOrCreate()
  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private lazy val flows = Flows.df(spark, sf)
  private lazy val ev = EsAggQueries.ev(spark, sf)
  private lazy val docs = Tables(spark, sf, "documents")

  private val door: Map[String, JsonNode => DataFrame] = Map(
    "q143_agg_body" -> (b => QueryDsl.aggBody(flows, b)),
    "q146_dsl_date_histogram" -> (b => QueryDsl.aggBody(ev, b)),
    "q147_dsl_terms_agg" -> (b => QueryDsl.aggBody(ev, b)),
    "q153_dsl_nested_terms" -> (b => QueryDsl.aggBody(flows, b)),
    "q172_dsl_histogram" -> (b => QueryDsl.aggBody(ev, b)),
    "q173_dsl_range" -> (b => QueryDsl.aggBody(ev, b)),
    "q157_dsl_search_after" -> (b => QueryDsl.search(docs, b)))

  private val nodes = JsonNodeFactory.instance
  private val kinds: Seq[(String, Option[JsonNode])] = Seq(
    "missing" -> None,
    "\"x\"" -> Some(TextNode.valueOf("x")),
    "-1" -> Some(IntNode.valueOf(-1)),
    "0" -> Some(IntNode.valueOf(0)),
    "{}" -> Some(nodes.objectNode()),
    "[]" -> Some(nodes.arrayNode()),
    "null" -> Some(NullNode.instance),
    "true" -> Some(BooleanNode.TRUE),
    "NaN" -> Some(DoubleNode.valueOf(Double.NaN)),
    "Long.MaxValue" -> Some(LongNode.valueOf(Long.MaxValue)))
  private val numberKinds: Seq[(String, Option[Long])] =
    Seq("missing" -> None, "-1" -> Some(-1L), "0" -> Some(0L), "Long.MaxValue" -> Some(Long.MaxValue))

  private type Path = Vector[Either[String, Int]]

  private def paths(n: JsonNode, at: Path): Seq[Path] = {
    val children: Seq[(Either[String, Int], JsonNode)] =
      if (n.isObject) n.fieldNames().asScala.toSeq.map(k => (Left(k), n.get(k)))
      else if (n.isArray) (0 until n.size).map(i => (Right(i), n.get(i)))
      else Nil
    children.flatMap { case (step, c) => (at :+ step) +: paths(c, at :+ step) }
  }

  private def show(p: Path): String =
    p.map { case Left(k) => s".$k"; case Right(i) => s"[$i]" }.mkString.stripPrefix(".")

  private def mutate(root: JsonNode, p: Path, to: Option[JsonNode]): JsonNode = {
    val copy = root.deepCopy[JsonNode]()
    val parent = p.init.foldLeft(copy)((n, step) => step.fold(n.get, n.get))
    (parent, p.last, to) match {
      case (o: ObjectNode, Left(k), None) => o.remove(k)
      case (o: ObjectNode, Left(k), Some(v)) => o.set[JsonNode](k, v)
      case (a: ArrayNode, Right(i), None) => a.remove(i)
      case (a: ArrayNode, Right(i), Some(v)) => a.set(i, v)
      case other => sys.error(s"bad path step $other")
    }
    copy
  }

  private def original(key: String): DataFrame = door(key)(QueryDsl.parse(DslQueries.DoorBodies(key)))

  /** `rows` as a local relation: frames derived from it need no job. */
  private def local(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val originalRows = scala.collection.mutable.Map.empty[String, DataFrame]
  private def localOriginal(key: String): DataFrame = originalRows.getOrElseUpdate(key, {
    val o = original(key)
    local(o.schema, o.collect().toSeq)
  })

  // ----- the typed twins a valid spelling's rows must equal -----

  private val S = 1704412800000L
  private val E = 1706140800000L

  private def propSum(start: Option[Long], end: Option[Long], itv: Long = Flows.HOUR_MS,
      order: Seq[(String, Boolean)] = Seq(("_key", true)), group: Seq[String] = Nil): DataFrame =
    ProportionalSum.runSpec(flows, ProportionalSum.Spec(Seq("rs", "re", "v"),
      ProportionalSum.Config(itv, start, end), order = order), group.map(col))

  /** Every row of `ev` in one bucket: the grid of a Long.MaxValue-wide
    * histogram (a negative value floors to −Long.MaxValue). */
  private def oneBucket(field: String, bucket: String, metric: Boolean): DataFrame = {
    val b = when(col(field).isNull, lit(null).cast("long"))
      .when(col(field) < 0, lit(-Long.MaxValue)).otherwise(lit(0L))
    ev.groupBy(b.as(bucket)).agg(count(lit(1)).as("doc_count"),
      (if (metric) Seq(sumDet(col("value")).as("sum_value")) else Nil): _*)
  }

  /** A range agg entry: (key, from, to). */
  private type Range = (String, Option[Double], Option[Double])
  private val q173Ranges: Seq[Range] =
    Seq(("lo", None, Some(50.0)), ("mid", Some(50.0), Some(200.0)), ("hi", Some(200.0), None))

  /** The events' non-null values, for q10c's buckets computed on the driver. */
  private lazy val values: Seq[Double] =
    ev.filter(col("value").isNotNull).select(col("value")).collect().map(_.getDouble(0)).toSeq

  /** [[graft.functions.detsum.sumDet]] on the driver: each term rounded
    * half-up at 10 digits, the integers summed exactly. */
  private def detsumOf(vs: Seq[Double]): Double =
    vs.map(v => BigInt(detsum.roundHalfUpLong(v * 1e10))).sum.toDouble / 1e10

  /** q10c's buckets over explicit edges: one row per range holding a value. */
  private def ranges(rs: Seq[Range]): DataFrame =
    local(StructType(Seq(StructField("range_key", StringType), StructField("doc_count", LongType),
      StructField("sum_value", DoubleType))), rs.flatMap { case (k, from, to) =>
      val in = values.filter(v => from.forall(v >= _) && to.forall(v < _))
      if (in.isEmpty) None else Some(Row(k, in.size.toLong, detsumOf(in)))
    })

  /** The documents' (n_chars, doc_id) sort keys, both non-null. */
  private lazy val docKeys: Seq[(Long, Long)] =
    docs.filter(col("n_chars").isNotNull && col("doc_id").isNotNull).select(col("n_chars"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** q157's page: n_chars ≥ gte, strictly after the (n_chars, doc_id)
    * cursor, ranked in sort order, each hit scoring its range's boost 1.0. */
  private def page(gte: Long, after: Option[(Long, Long)], size: Int, src: Seq[String]): DataFrame = {
    val hits = docKeys.filter { case (n, id) =>
      n >= gte && after.forall { case (an, aid) => n > an || (n == an && id > aid) }
    }
    local(StructType(StructField("rank", LongType, nullable = false) +: StructField("score", DoubleType) +:
      src.map(f => docs.schema(f))), hits.take(size).zipWithIndex.map { case ((n, id), i) =>
      Row.fromSeq((i + 1L) +: 1.0 +: src.map(Map("doc_id" -> id, "n_chars" -> n)))
    })
  }

  private def sizeZero(key: String): Seq[((String, String, String), Expect)] =
    Seq((key, "size", "missing") -> Same, (key, "size", "0") -> Same)

  private val valid: Map[(String, String, String), Expect] = Map(Seq(
    sizeZero("q143_agg_body"),
    Seq(("q143_agg_body", "aggs.histo.proportional_sum.interval", "Long.MaxValue") ->
      As(() => propSum(Some(S), Some(E), itv = Long.MaxValue))),
    numberKinds.map { case (k, v) =>
      ("q143_agg_body", "aggs.histo.proportional_sum.start", k) -> As(() => propSum(v, Some(E)))
    },
    numberKinds.map { case (k, v) =>
      ("q143_agg_body", "aggs.histo.proportional_sum.end", k) -> As(() => propSum(Some(S), v))
    },
    // [_key asc] only sorts the bucket list
    Seq(("q143_agg_body", "aggs.histo.proportional_sum.order", "missing") -> Same),

    sizeZero("q146_dsl_date_histogram"),
    Seq(("q146_dsl_date_histogram", "aggs.by_hour.date_histogram.fixed_interval", "Long.MaxValue") ->
      As(() => oneBucket("ms", "bucket_ms", metric = true)),
      ("q146_dsl_date_histogram", "aggs.by_hour.aggs", "missing") ->
        As(() => localOriginal("q146_dsl_date_histogram").drop("sum_value"))),

    sizeZero("q147_dsl_terms_agg"),
    // size 10 and _count desc are the defaults
    Seq(("q147_dsl_terms_agg", "aggs.types.terms.size", "missing") -> Same,
      ("q147_dsl_terms_agg", "aggs.types.terms.order", "missing") -> Same,
      ("q147_dsl_terms_agg", "aggs.types.aggs", "missing") ->
        As(() => localOriginal("q147_dsl_terms_agg").drop("sum_value"))),

    sizeZero("q153_dsl_nested_terms"),
    Seq(("q153_dsl_nested_terms", "aggs.types.aggs", "missing") ->
      As(() => flows.groupBy(col("event_type")).agg(count(lit(1)).as("doc_count"))),
      ("q153_dsl_nested_terms", "aggs.types.aggs.series.proportional_sum.interval", "Long.MaxValue") ->
        As(() => propSum(Some(S), Some(E), itv = Long.MaxValue, order = Nil, group = Seq("event_type")))),
    numberKinds.map { case (k, v) =>
      ("q153_dsl_nested_terms", "aggs.types.aggs.series.proportional_sum.start", k) ->
        As(() => propSum(v, Some(E), order = Nil, group = Seq("event_type")))
    },
    numberKinds.map { case (k, v) =>
      ("q153_dsl_nested_terms", "aggs.types.aggs.series.proportional_sum.end", k) ->
        As(() => propSum(Some(S), v, order = Nil, group = Seq("event_type")))
    },

    sizeZero("q172_dsl_histogram"),
    Seq(("q172_dsl_histogram", "aggs.by_value.histogram.interval", "Long.MaxValue") ->
      As(() => oneBucket("value", "value_bucket", metric = false))),

    sizeZero("q173_dsl_range"),
    Seq(("q173_dsl_range", "aggs.by_range.aggs", "missing") ->
      As(() => localOriginal("q173_dsl_range").drop("sum_value"))),
    // a range without its neighbour drops only its own bucket; a renamed key renames it
    q173Ranges.indices.flatMap { i =>
      val k = q173Ranges(i)._1
      Seq(("q173_dsl_range", s"aggs.by_range.range.ranges[$i]", "missing") ->
        As(() => localOriginal("q173_dsl_range").filter(col("range_key") =!= k)),
        ("q173_dsl_range", s"aggs.by_range.range.ranges[$i].key", "\"x\"") ->
          As(() => localOriginal("q173_dsl_range")
            .withColumn("range_key", when(col("range_key") === k, lit("x")).otherwise(col("range_key")))))
    },
    for {
      (i, edge) <- Seq((0, "to"), (1, "from"), (1, "to"), (2, "from"))
      (k, v) <- numberKinds
      // a range keeps at least one edge
      if v.isDefined || i == 1
    } yield ("q173_dsl_range", s"aggs.by_range.range.ranges[$i].$edge", k) -> As(() => ranges(
      q173Ranges.updated(i, q173Ranges(i) match {
        case (key, from, to) => if (edge == "from") (key, v.map(_.toDouble), to) else (key, from, v.map(_.toDouble))
      }))),

    Seq(("q157_dsl_search_after", "search_after", "missing") -> As(() => page(150, None, 20, Seq("doc_id", "n_chars"))),
      ("q157_dsl_search_after", "size", "missing") -> As(() => page(150, Some((250, 100)), 10, Seq("doc_id", "n_chars"))),
      ("q157_dsl_search_after", "_source", "missing") -> As(() => page(150, Some((250, 100)), 20, Seq("doc_id"))),
      ("q157_dsl_search_after", "_source[0]", "missing") -> As(() => page(150, Some((250, 100)), 20, Seq("n_chars"))),
      ("q157_dsl_search_after", "_source[1]", "missing") -> As(() => page(150, Some((250, 100)), 20, Seq("doc_id")))),
    numberKinds.tail.flatMap { case (k, v) =>
      Seq(("q157_dsl_search_after", "query.range.n_chars.gte", k) ->
        As(() => page(v.get, Some((250, 100)), 20, Seq("doc_id", "n_chars"))),
        ("q157_dsl_search_after", "search_after[0]", k) ->
          As(() => page(150, Some((v.get, 100)), 20, Seq("doc_id", "n_chars"))),
        ("q157_dsl_search_after", "search_after[1]", k) ->
          As(() => page(150, Some((250, v.get)), 20, Seq("doc_id", "n_chars"))))
    }
  ).flatten: _*)

  /** Each frame's rows as JSON over name-sorted columns, sorted; one job per 8 frames. */
  private def rowSets(frames: Seq[DataFrame]): Seq[Seq[String]] = {
    val rows = frames.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("i"), to_json(struct(df.columns.sorted.toSeq.map(col): _*)).as("row"))
    }.grouped(8).flatMap(_.reduce(_ union _).collect()).toSeq.groupBy(_.getInt(0))
    frames.indices.map(i => rows.getOrElse(i, Nil).map(_.getString(1)).sorted)
  }

  for (key <- door.keys.toSeq.sorted) {
    test(s"$key: every mutant is rejected or returns its listed valid spelling's rows") {
      val root = QueryDsl.parse(DslQueries.DoorBodies(key))
      val mutants = for {
        p <- paths(root, Vector.empty)
        (kind, to) <- kinds
      } yield (s"${show(p)} := $kind", valid.get((key, show(p), kind)), Try(door(key)(mutate(root, p, to))))
      val reachable = mutants.map(_._1).toSet
      val listed = valid.keys.filter(_._1 == key).map { case (_, p, k) => s"$p := $k" }
      assert(listed.forall(reachable), s"listed spellings outside the body: ${listed.filterNot(reachable)}")
      // a listed spelling whose optimized plan is its expected frame's
      // returns that frame's rows; the others' rows are compared
      val accepted = mutants.collect { case (m, Some(e), Success(df)) =>
        (m, df, e match { case Same => original(key); case As(twin) => twin() })
      }.filterNot { case (_, df, want) =>
        val w = want.queryExecution.optimizedPlan
        !w.isInstanceOf[LocalRelation] && df.queryExecution.optimizedPlan.sameResult(w)
      }
      val sets = rowSets(accepted.flatMap { case (_, df, want) => Seq(df, want) })
      val rowsOf = accepted.zipWithIndex.map { case ((m, _, _), i) => m -> (sets(2 * i), sets(2 * i + 1)) }.toMap
      val verdicts = mutants.map {
        case (_, None, Failure(_: IllegalArgumentException)) => None
        case (m, _, Failure(e)) => Some(s"$m threw $e")
        case (m, None, Success(_)) => Some(s"$m was accepted")
        case (m, Some(_), Success(_)) => rowsOf.get(m).collect {
          case (got, want) if got != want => s"$m returned ${got.size} rows, not its listed ${want.size}"
        }
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(1),
        Prop.all(verdicts.map(v => Prop(v.isEmpty) :| v.getOrElse("")): _*))
      assert(res.passed, s"${verdicts.count(_.nonEmpty)} of ${verdicts.size} $key mutants:\n" +
        verdicts.flatten.mkString("\n"))
    }
  }
}

object DoorMutantSpec {
  /** Same as the unmutated body, or a frame the rows must equal. */
  private sealed trait Expect
  private case object Same extends Expect
  private final case class As(rows: () => DataFrame) extends Expect
}
