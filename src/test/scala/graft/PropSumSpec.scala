package graft

import java.time.Instant

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ProportionalSum
import graft.operators.ProportionalSum.Config

/** Fixtures lifted from the reference's own integration tests:
  * README.md:56-178 (single netflow record), ProportionalSumAggregatorIT
  * (monthly calendar buckets), SamplingIT (multiplier semantics). */
class PropSumSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("4").getOrCreate()

  private def rows(data: Seq[(Long, Long, Double)]) = {
    import spark.implicits._
    data.toDF("rs", "re", "v")
  }

  private def result(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("README netflow example: value spread 100/100/100/50 across buckets") {
    val df = rows(Seq((100L, 450L, 350.0)))
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), None,
      Config(intervalMs = 100, startMs = Some(0L), endMs = Some(500L))))
    assert(got == Map(
      100L -> (1L, 100.0), 200L -> (1L, 100.0), 300L -> (1L, 100.0), 400L -> (1L, 50.0)))
  }

  test("zero-duration range contributes full value to its single bucket") {
    val df = rows(Seq((150L, 150L, 10.0)))
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), None, Config(100)))
    assert(got == Map(100L -> (1L, 10.0)))
  }

  test("range ending exactly on a bucket boundary still counts the doc there with 0 value") {
    val df = rows(Seq((100L, 400L, 300.0)))
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), None, Config(100)))
    assert(got == Map(100L -> (1L, 100.0), 200L -> (1L, 100.0), 300L -> (1L, 100.0), 400L -> (1L, 0.0)))
  }

  test("offset shifts the bucket grid") {
    val df = rows(Seq((100L, 300L, 200.0)))
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), None, Config(100, offsetMs = 50)))
    // grid ...50,150,250...: [50,150) gets 50ms, [150,250) gets 100ms, [250,350) gets 50ms
    assert(got == Map(50L -> (1L, 50.0), 150L -> (1L, 100.0), 250L -> (1L, 50.0)))
  }

  test("sampling multiplier applies when finite and non-zero (SamplingIT)") {
    import spark.implicits._
    val df = Seq(
      (0L, 100L, 10.0, 4.0), // scaled -> 40
      (0L, 100L, 10.0, 0.0), // zero -> unscaled
      (0L, 100L, 10.0, Double.NaN), // NaN -> unscaled
      (0L, 100L, 10.0, Double.PositiveInfinity) // inf -> unscaled
    ).toDF("rs", "re", "v", "s")
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), Some(col("s")), Config(1000)))
    assert(got == Map(0L -> (4L, 70.0)))
  }

  test("start/end clamp bucket emission but ratios use the unclamped range") {
    val df = rows(Seq((0L, 1000L, 1000.0)))
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), None,
      Config(100, startMs = Some(300L), endMs = Some(500L))))
    // buckets 300,400,500 only; each worth 100/1000 of the value
    assert(got == Map(300L -> (1L, 100.0), 400L -> (1L, 100.0), 500L -> (1L, 100.0)))
  }

  test("validate=true reproduces the reference's hard failures on bad ranges") {
    val bad = rows(Seq((500L, 100L, 10.0))) // end before start
    val cfg = Config(100, validate = true)
    val ex = intercept[Exception] {
      ProportionalSum.run(bad, col("rs"), col("re"), col("v"), None, cfg).collect()
    }
    assert(ex.getMessage.contains("Start cannot be after end") ||
      Option(ex.getCause).exists(_.getMessage.contains("Start cannot be after end")))
    // valid rows pass through identically with validation on
    val ok = rows(Seq((100L, 450L, 350.0)))
    val got = result(ProportionalSum.run(ok, col("rs"), col("re"), col("v"), None,
      Config(100, Some(0L), Some(500L), validate = true)))
    assert(got(400L) == (1L, 50.0))
  }

  test("ES missing-field skip: null range/value docs contribute neither value nor doc_count") {
    import spark.implicits._
    // fixed-interval path
    val df = Seq(
      (Some(100L), Some(300L), Some(10.0)), // normal
      (Some(100L), Some(300L), None), // null value -> skipped entirely
      (None, Some(300L), Some(5.0)), // null range -> skipped
      (Some(100L), None, Some(5.0))).toDF("rs", "re", "v")
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), None,
      Config(intervalMs = 200, startMs = Some(0L), endMs = Some(400L))))
    assert(got == Map(0L -> (1L, 5.0), 200L -> (1L, 5.0)),
      s"only the complete doc may contribute (value AND count): $got")
    // calendar path: same contract
    val jan = Instant.parse("2024-01-10T00:00:00Z").toEpochMilli
    val feb = Instant.parse("2024-02-10T00:00:00Z").toEpochMilli
    val cal = Seq(
      (Some(jan), Some(feb), Some(8.0)),
      (Some(jan), Some(feb), None)).toDF("rs", "re", "v")
    val gotCal = result(ProportionalSum.run(
      cal, col("rs"), col("re"), col("v"), None, ProportionalSum.calendar("month", None, None)))
    assert(gotCal.values.map(_._1).sum == 2L,
      s"null-value doc must not inflate calendar doc_count: $gotCal")
  }

  test("q07d literal mode: NaN poisons exactly its buckets; missing endpoints default to 0; counts exceed the skip") {
    import spark.implicits._
    // unit fixture: the reference collector's literal defaults
    // (endpoint→0, value→NaN) composed with its clamped bucket loop
    val df = Seq(
      (Some(100L), Some(300L), Some(10.0)), // normal
      (Some(100L), Some(300L), None), // NaN value -> poisons buckets 0,200; still counts
      (None, Some(300L), Some(4.0)), // start->0: range [0,300], dur 300
      (None, None, Some(5.0))).toDF("rs", "re", "v") // both->0: zero-duration at epoch, bucket 0
    val got = result(ProportionalSum.aggregateLiteral(ProportionalSum.explodeContrib(
      df, coalesce(col("rs"), lit(0L)), coalesce(col("re"), lit(0L)),
      coalesce(col("v"), lit(Double.NaN)), None,
      Config(intervalMs = 200, startMs = Some(0L), endMs = Some(400L)))))
    // bucket 0: normal(10·100/200) + NaN + [0,300] row (4·200/300) + the
    // zero-duration epoch row (full value, grid starts AT 0 here) -> NaN, count 4
    // bucket 200: normal + NaN + [0,300] overlap -> NaN, count 3
    assert(got.keySet == Set(0L, 200L), s"unexpected buckets: $got")
    assert(got(0L)._1 == 4L && got(200L)._1 == 3L,
      s"literal mode must COUNT NaN-valued docs (the collector's collectBucket): $got")
    assert(got.values.forall(v => v._2.isNaN),
      s"a NaN doc must poison every bucket it touches: $got")
    // registry entry non-vacuity at sf0.001: both regimes present
    val out = SparkEntry.queries("q07d_prop_sum_literal")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getAs[Double]("value"))
    assert(out.exists(_.isNaN) && out.exists(!_.isNaN),
      "the literal entry must exercise poisoned AND numeric buckets")
  }

  test("conservation invariant: bucketed values sum back to the input total (1000 random flows)") {
    // For any flow fully inside the (unclamped) grid, the overlap ratios
    // over its buckets sum to exactly 1, so the histogram total must equal
    // the input total up to per-flow double rounding. Seeded generator ⇒
    // deterministic; catches any regression in bucket edges, ratio math,
    // or zero-duration handling in one sweep.
    val rnd = new scala.util.Random(42)
    val itv = 60000L
    val flows = Seq.fill(1000) {
      val rs = rnd.nextLong(86400000L - 7200000L)
      val dur = if (rnd.nextInt(10) == 0) 0L else rnd.nextLong(7200000L) // include instant flows
      val v = rnd.nextDouble() * 1000.0
      (rs, rs + dur, v)
    }
    val out = ProportionalSum.run(rows(flows), col("rs"), col("re"), col("v"), None, Config(itv))
      .agg(sum(col("value"))).first().getDouble(0)
    val expected = flows.map(_._3).sum
    assert(math.abs(out - expected) < 1e-5, s"histogram total $out vs input total $expected")
  }

  test("histogram is bit-identical across partition layouts (the 1000-executor claim)") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(7)
    val flows = rows(Seq.fill(500) {
      val rs = rnd.nextLong(86400000L)
      (rs, rs + rnd.nextLong(7200000L), rnd.nextDouble() * 1000.0)
    })
    def run(df: org.apache.spark.sql.DataFrame) =
      ProportionalSum.run(df, col("rs"), col("re"), col("v"), None, Config(3600000L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val one = run(flows.coalesce(1))
    val many = run(flows.repartition(7, col("rs")))
    // exact equality, doubles included — the detsum recipe makes the sum
    // independent of accumulation order, so ANY partitioning/AQE layout
    // (1 partition or 1000 executors) produces the same bits
    assert(one.sameElements(many))
  }

  test("ProportionalSumAggregatorIT: monthly calendar buckets over 2012 fixtures") {
    def ms(month: Int, day: Int): Long =
      Instant.parse(f"2012-$month%02d-$day%02dT00:00:00Z").toEpochMilli
    val docs = Seq(
      (ms(1, 2), ms(2, 3), 1.0),
      (ms(2, 2), ms(3, 3), 2.0),
      (ms(2, 15), ms(3, 16), 3.0),
      (ms(3, 2), ms(4, 3), 4.0),
      (ms(3, 15), ms(4, 16), 5.0),
      (ms(3, 23), ms(4, 24), 6.0),
      (ms(1, 1), ms(4, 23), 6.0),
      (ms(1, 2), ms(1, 2), 7.0))
    val df = rows(docs)
    val got = result(ProportionalSum.run(
      df, col("rs"), col("re"), col("v"), None, ProportionalSum.calendar("month",
        Some(Instant.parse("2012-01-01T00:00:00Z").toEpochMilli),
        Some(Instant.parse("2012-05-01T00:00:00Z").toEpochMilli))))
    val expected = Map(
      ms(1, 1) -> (3L, 9.58), ms(2, 1) -> (4L, 4.97),
      ms(3, 1) -> (6L, 11.37), ms(4, 1) -> (4L, 8.07))
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (dc, v)) =>
      assert(got(k)._1 == dc, s"doc_count at $k")
      assert(math.abs(got(k)._2 - v) < 0.01, s"value at $k: ${got(k)._2} vs $v")
    }
    assert(math.abs(got.values.map(_._2).sum - 34.0) < 0.01)
  }

  test("sub-day calendar units (day/hour/minute/second) alias the fixed-interval path under UTC") {
    // the reference accepts the calendar spelling for these DATE_FIELD_UNITS
    // (builder:78-97) but hard-pins tz=null, so under UTC each is exactly
    // the fixed-width grid — the two paths must agree bit-for-bit
    val rnd = new scala.util.Random(11)
    val flows = rows(Seq.fill(300) {
      val rs = 1704067200000L + rnd.nextLong(86400000L * 3)
      (rs, rs + rnd.nextLong(7200000L), rnd.nextDouble() * 100.0)
    })
    for ((unit, ms) <- Seq("day" -> 86400000L, "hour" -> 3600000L,
        "minute" -> 60000L, "second" -> 1000L)) {
      val cal = result(ProportionalSum.run(
        flows, col("rs"), col("re"), col("v"), None, ProportionalSum.calendar(unit, None, None)))
      val fixed = result(ProportionalSum.run(
        flows, col("rs"), col("re"), col("v"), None, Config(ms)))
      assert(cal == fixed, s"calendar '$unit' must equal the fixed ${ms}ms grid")
    }
  }

  // ---- properties over small seeded frames: fixed interval, no clamp ----

  private val Itv = 100L

  /** A flow on or off the bucket grid, instant or spanning up to ~10
    * buckets, with a value of either sign. Grid-aligned ends exercise the
    * closed-end bucket that counts the doc with 0 value. */
  private val flowGen: Gen[(Long, Long, Double)] = for {
    rs <- Gen.oneOf(Gen.choose(0L, 50L).map(_ * Itv), Gen.choose(0L, 5000L))
    dur <- Gen.frequency(
      1 -> Gen.const(0L), 1 -> Gen.choose(1L, 10L).map(_ * Itv), 3 -> Gen.choose(1L, 1000L))
    v <- Gen.choose(-1000.0, 1000.0)
  } yield (rs, rs + dur, v)

  private val framesGen: Gen[List[(Long, Long, Double)]] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, flowGen))

  /** The frame's histogram with the input spread over `parts` partitions. */
  private def histogram(flows: Seq[(Long, Long, Double)], parts: Int, cfg: Config): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(flows, parts).toDF("rs", "re", "v")
    ProportionalSum.run(df, col("rs"), col("re"), col("v"), None, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)
  }

  /** Value total within detsum's per-term rounding (half of 1e-10) plus
    * double ulps, the expected doc_count, and the same rows at each of
    * `layouts` input partitions as at one. */
  private def conserves(
      flows: Seq[(Long, Long, Double)], cfg: Config, expectedCount: Long, layouts: Seq[Int]): Prop = {
    val out = histogram(flows, 1, cfg)
    val docCount = out.map(_._2).sum
    val tol = docCount * 1e-10 + 1e-9
    val total = out.map(_._3).sum
    val inputTotal = flows.map(_._3).sum
    (Prop(math.abs(total - inputTotal) <= tol) :| s"value total $total vs $inputTotal") &&
      (Prop(docCount == expectedCount) :| s"doc_count $docCount vs $expectedCount") &&
      layouts.map(n => Prop(out == histogram(flows, n, cfg)) :| s"rows differ between 1 and $n input partitions")
        .reduce(_ && _)
  }

  test("properties: value total, doc_count per touched bucket, and partition-layout independence") {
    // a flow's overlap ratios sum to 1 over its buckets, so Σ value = Σ v;
    // the closed end bucket counts too, so a doc adds
    // floor(re/itv) − floor(rs/itv) + 1
    val prop = Prop.forAllNoShrink(framesGen) { flows =>
      conserves(flows, Config(Itv), flows.map { case (rs, re, _) =>
        Math.floorDiv(re, Itv) - Math.floorDiv(rs, Itv) + 1 }.sum, Seq(7))
    }
    // 15 cases: each runs two small queries (mostly planning), about 6 s
    // of tier-1 time on 4 cores
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(15).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- the same properties on the calendar (month) grid ----

  private val utc = java.time.ZoneOffset.UTC
  private val Y2024 = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  /** A flow over 2024 whose start is a month boundary (shifted by the
    * grid's offset) or any millisecond, lasting nothing, a whole number of
    * months (ending on a boundary: the closed end bucket), or up to ~100
    * days; the value has either sign. */
  private def monthFlowGen(offsetMs: Long): Gen[(Long, Long, Double)] = for {
    rs <- Gen.oneOf(
      Gen.choose(0, 11).map(m => Instant.ofEpochMilli(Y2024).atZone(utc).plusMonths(m).toInstant.toEpochMilli + offsetMs),
      Gen.choose(Y2024, Y2024 + 365L * 86400000L))
    re <- Gen.frequency(
      1 -> Gen.const(rs),
      1 -> Gen.choose(1, 3).map(k => Instant.ofEpochMilli(rs).atZone(utc).plusMonths(k).toInstant.toEpochMilli),
      3 -> Gen.choose(1L, 100L * 86400000L).map(rs + _))
    v <- Gen.choose(-1000.0, 1000.0)
  } yield (rs, re, v)

  /** Calendar months from `a` to `b` (both shifted back by the offset). */
  private def monthsSpanned(a: Long, b: Long, offsetMs: Long): Long = {
    def ym(ms: Long) = java.time.YearMonth.from(Instant.ofEpochMilli(ms - offsetMs).atZone(utc))
    java.time.temporal.ChronoUnit.MONTHS.between(ym(a), ym(b)) + 1
  }

  for ((label, offsetMs) <- Seq("no offset" -> 0L, "a +6h offset" -> 6 * 3600000L))
    test(s"properties on the month grid with $label: value total, doc_count, partition-layout independence") {
      val cfg = ProportionalSum.calendar("month", None, None, offsetMs)
      val prop = Prop.forAllNoShrink(Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, monthFlowGen(offsetMs)))) {
        flows => conserves(flows, cfg, flows.map { case (rs, re, _) => monthsSpanned(rs, re, offsetMs) }.sum, Seq(7, 32))
      }
      // 6 cases of three small queries: about 4 s on 4 cores
      val res = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(6).withInitialSeed(Seed(20261020L)), prop)
      assert(res.passed, res.status.toString)
    }
}
