package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared machinery for the commit-time per-query cost gate: ONE timing
  * discipline, ONE pin format, ONE born-slow rule — used by both the pin
  * generator ([[QBudgetPin]]) and the enforcing spec (graft.QBudgetSpec),
  * so the contract and its generator cannot drift.
  *
  * Timing discipline: one untimed warmup pass over the whole registry
  * (JIT + codegen + parquet footers), then min-of-2 per query — the min is
  * the plan's cost, not the JVM's mood.
  * The fixed-work LCG canary normalizes machine speed between the pin run
  * and the enforcing run. */
object QBudget {

  /** sf0.01 (the driver's Verify SF), not sf0.001: at sf0.001 nearly every
    * query is scheduling-overhead-dominated (~0.1s) and a 10x budget floor
    * would have passed round 13's O(n^3) q96 (~hundreds of ms there). At
    * sf0.01 the bad plan costs ~4.5s against a ~0.3s pin — dead on the
    * commit that creates it. */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_QBUDGET_SF", "/root/testdata/sf0.01")
  val pinPath = "src/test/resources/qbudget.txt"
  val threads = "4" // the test-session parallelism every other spec uses

  /** Enforcement ceiling: measured > budgetMult × pin × speedFactor fails
    * the build. 10× absorbs parallel-suite contention, GC and scheduler
    * noise (retried solo before failing) while still catching the
    * round-13 class: q96 shipped at ~15× its own steady cost at this SF
    * and ~90× at sf0.1. */
  val budgetMult = 10.0

  /** Floor under which a breach is never declared: parallel test suites
    * on a shared 4-thread session make sub-second timings pure noise. Low
    * enough that a 10×-out plan on even the cheapest real query (~0.1s
    * pin) still lands above it. Since round 15 this is the STREAMING/
    * MULTIMODAL floor only (checkpoint + sink I/O makes their sub-second
    * timings pure noise); batch gets a per-run floor via [[floorFor]]. */
  val floorSec = 1.2

  /** Per-group enforcement floor (round-15: the flat 1.2s floor let any of
    * the 28 sub-0.12s-pinned BATCH queries regress 10× to ~1.1s without
    * breaching). Batch floors at max(0.4s, 3× the group's MEASURED median
    * of the enforcing run) — the measured median self-normalizes: a
    * contended/slow run raises every timing AND the median, so the floor
    * rises with it and a uniform slowdown doesn't spur false breaches,
    * while a single query 10×-ing cannot move the median it is judged
    * against. Streaming/multimodal keep the fixed [[floorSec]]. */
  def floorFor(groupName: String, groupMedianMeasured: Double): Double =
    if (groupName == "batch") math.max(0.4, 3.0 * groupMedianMeasured)
    else floorSec

  /** Pin-time born-slow refusal: a NEW plan costing more than this multiple
    * of its group median cannot be pinned without an exempt entry. */
  val bornSlowMult = 15.0

  /** Queries allowed past the born-slow guard, each with the reason a
    * reviewer would demand. Kept deliberately tiny: every entry here is a
    * query whose cost profile is STRUCTURALLY different from its group,
    * not a slow plan. */
  val exempt: Map[String, String] = Map(
    // (empty at round 14 — the whole registry pins inside 15× of its
    // group median; add entries only with a cost-model justification)
  )

  def group(name: String): String =
    if (name.startsWith("st")) "streaming"
    else if (name.startsWith("mm")) "multimodal"
    else "batch"

  /** Fixed-work single-thread LCG probe (perfbench Host's LCG, min-of-2):
    * same instructions every run, so pin-run vs enforce-run canary ratio
    * measures the MACHINE, not the engine. */
  def canary(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x2545F4914F6CDD1DL
      var i = 0
      while (i < 300000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (x == 42L) print("")
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  def timeOne(spark: SparkSession, dir: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Warmup pass + min-of-2 timing for every registry query, name-sorted. */
  def timeAll(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    ordered.foreach { case (_, fn) =>
      try fn(spark, dir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    ordered.map { case (n, fn) => (n, timeOne(spark, dir, fn)) }
  }

  /** (name, time, groupMedian) for every non-exempt query beyond
    * bornSlowMult × its group median. */
  def bornSlow(timed: Seq[(String, Double)]): Seq[(String, Double, Double)] = {
    val medians = timed.groupBy { case (n, _) => group(n) }.map { case (g, ts) =>
      val s = ts.map(_._2).sorted
      (g, s(s.length / 2))
    }
    timed.collect {
      case (n, t) if !exempt.contains(n) && t > bornSlowMult * medians(group(n)) =>
        (n, t, medians(group(n)))
    }
  }

  /** Parse the committed pin file → (canary, name→seconds). */
  def loadPins(): (Double, Map[String, Double]) = {
    val src = scala.io.Source.fromFile(pinPath)
    try {
      val lines = src.getLines().map(_.trim).filter(_.nonEmpty).toSeq
      val c = lines.head.split("\\s+") match {
        case Array("canary", v) => v.toDouble
        case other => sys.error(s"qbudget.txt: bad canary line: ${other.mkString(" ")}")
      }
      val pins = lines.tail.map { l =>
        val Array(n, v) = l.split("\\s+")
        (n, v.toDouble)
      }.toMap
      (c, pins)
    } finally src.close()
  }
}
