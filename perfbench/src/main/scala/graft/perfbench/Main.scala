package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.DurationInt
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry
import graft.queries.{TextQueries, VecIndex}

/** The benchmark's JVM side. `perfbench/run.py` orders a workload's
  * operations from the seed and writes them to a plan; this runs the plan
  * against graft's public entry points (the `SparkEntry.queries` registry,
  * the text/vector index builders, the graft.sources codecs) and writes
  * what it measured, the outputs to check, and their oracle SQL.
  *
  * One client thread, closed loop: each operation starts when the previous
  * one has returned. An operation is timed until its full result exists —
  * rows collected to the driver (`collect`), the table written to parquet
  * (`parquet`), or the stream run to completion and its sink collected
  * (`stream`) — never a count, which lets Catalyst drop columns.
  *
  * Usage: Main --plan <plan.json> */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = args.toList match {
    case "--plan" :: plan :: Nil =>
      run(json.readTree(new File(plan)))
      sys.exit(0) // a thread a failed stream left behind must not keep the JVM up
    case _ =>
      System.err.println("usage: Main --plan <plan.json>")
      sys.exit(2)
  }

  private def dumpOracle(keys: Seq[String], out: String): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(out), json.writeValueAsString(keys.flatMap(k => sql.get(k).map(k -> _)).toMap))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class OpRec(idx: Int, key: String, family: String, pass: Int, traced: Boolean,
      startUs: Long, endUs: Long, buildUs: (Long, Long), error: Option[String]) {
    def ms: Double = (endUs - startUs) / 1e3
  }

  private def run(plan: JsonNode): Unit = {
    def str(k: String) = plan.get(k).asText()
    val data = str("data")
    val out = str("out")
    val seconds = plan.get("seconds").asDouble()
    val trace = plan.get("trace").asInt() == 1
    val cpus = plan.get("cpus").asInt()
    val keys = plan.get("keys").elements().asScala.map(k => k.get(0).asText()).toVector
    val spec = plan.get("keys").elements().asScala.map(k => k.get(0).asText() -> (k.get(1).asText(), k.get(2).asText())).toMap
    val passes = plan.get("passes").elements().asScala.map(_.elements().asScala.map(_.asText()).toVector).toVector
    val rebuild = plan.get("rebuild").asBoolean()
    val warmupRounds = plan.get("warmup_rounds").asInt()
    val artifacts = plan.get("artifacts").asBoolean()
    val sourcesSeed = plan.get("sources_seed")
    val registry = SparkEntry.queries
    val resultDir = s"$out/results"

    val host = new Host
    val canaryStart = Host.canary()
    val tStart = System.nanoTime()
    val spark = graft.GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(tStart)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

    // ------------------------------------------------------ artifacts
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    /** Drop and rebuild the text index and the VecIndex (coarse ∥ PQ), the
      * three builds concurrently as graft.Bench does. Returns the text and
      * vector build seconds. */
    def buildArtifacts(): (Double, Double) = {
      TextQueries.resetTextIndex(spark, data)
      VecIndex.reset()
      val parent = tracer.map(_.currentSpan).getOrElse(0L)
      def timedOn(name: String)(f: => Unit): Future[Double] = Future {
        val t0 = System.nanoTime()
        tracer.fold(f)(_.spanUnder(parent, name)(f))
        secs(t0)
      }
      val text = timedOn("artifact.text_build")(TextQueries.buildTextIndex(spark, data))
      val coarse = timedOn("artifact.vec_coarse")(VecIndex.coarse(spark, data).lists.count(): Unit)
      val pq = timedOn("artifact.vec_pq")(VecIndex.pq(spark, data).codes.count(): Unit)
      (Await.result(text, 10.minutes),
        math.max(Await.result(coarse, 10.minutes), Await.result(pq, 10.minutes)))
    }

    // ----------------------------------------------------- operations
    val firstRows = mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val digests = mutable.Map.empty[String, Int]
    val nondeterministic = mutable.Set.empty[String]
    def keep(key: String, df: DataFrame, rows: Array[Row]): Unit = {
      val digest = rows.iterator.map(_.toString).toVector.sorted.hashCode
      digests.get(key) match {
        case None => digests(key) = digest; firstRows(key) = (rows, df.schema)
        case Some(d) => if (d != digest) nondeterministic += key
      }
    }
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var opIdx = 0
    /** One operation, timed from the registry call until its full result
      * exists; `check` keeps the result for the oracle. */
    def execOp(key: String, pass: Int, traced: Boolean, check: Boolean): OpRec = {
      opIdx += 1
      tracer.foreach { t => t.enabled = traced; t.currentOp = opIdx }
      var build = (0L, 0L)
      def now = tracer.map(_.nowUs).getOrElse(System.nanoTime() / 1000)
      val t0 = now
      val error = try {
        span("op") {
          tracer.foreach(t => t.currentOpSpan = t.currentSpan)
          val b0 = now
          val df = span("queries.build")(registry(key)(spark, data))
          build = (b0, now)
          spec(key)._2 match {
            case "parquet" =>
              span("action")(df.write.mode("overwrite").parquet(s"$resultDir/$key"))
            case _ =>
              span("plan")(df.queryExecution.executedPlan)
              val rows = span("action")(df.collect())
              if (check) keep(key, df, rows)
          }
        }
        None
      } catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
      val rec = OpRec(opIdx, key, spec(key)._1, pass, traced, t0, now, build, error)
      host.otherCpu()
      tracer.foreach { t => t.drain(); t.enabled = false }
      rec
    }
    /** Measured execution of `f`; the traced run executes it twice, once
      * traced and once not, alternating which goes first, so the pair
      * gives the tracing overhead on identical work. */
    var pairIdx = 0
    def measured(f: Boolean => OpRec): Unit =
      if (!trace) ops += f(false)
      else {
        pairIdx += 1
        val order = if (pairIdx % 2 == 0) Seq(false, true) else Seq(true, false)
        order.foreach(t => ops += f(t))
      }

    // ---------------------------------------------------------- setup
    val tSetup = System.nanoTime()
    val (textS, vecS) = if (artifacts) buildArtifacts() else (0.0, 0.0)
    val artifactBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val tWarm = System.nanoTime()
    for (_ <- 1 to warmupRounds; k <- keys) execOp(k, -1, traced = false, check = false)
    val sourcesWarm = Option(sourcesSeed).filterNot(_.isNull).map(s => SourcesProbe.run(s.asLong(), 1))
    val warmS = secs(tWarm)
    val setupS = sessionS + secs(tSetup)

    // --------------------------------------------------- measurement
    val passS = mutable.ArrayBuffer.empty[Double]
    val rebuildS = mutable.ArrayBuffer.empty[Double]
    val tWin = System.nanoTime()
    var p = 0
    var stop = false
    while (!stop) {
      val tPass = System.nanoTime()
      if (rebuild) measured { traced =>
        // op 0 is no operation's index, so Layers leaves the rebuild's events out
        tracer.foreach { t => t.enabled = traced; t.currentOp = 0; t.currentOpSpan = 0 }
        val t0 = tracer.map(_.nowUs).getOrElse(0L)
        val t = System.nanoTime()
        span("rebuild")(buildArtifacts())
        rebuildS += secs(t)
        val rec = OpRec(0, "rebuild", "rebuild", p, traced, t0, tracer.map(_.nowUs).getOrElse(0L), (0L, 0L), None)
        tracer.foreach { tr => tr.drain(); tr.enabled = false }
        rec
      }
      val order = passes(p % passes.length)
      order.foreach(k => measured(traced => execOp(k, p, traced, check = true)))
      passS += secs(tPass)
      p += 1
      stop = secs(tWin) >= seconds
    }
    val windowS = secs(tWin)
    val sources = Option(sourcesSeed).filterNot(_.isNull).map(s => SourcesProbe.run(s.asLong() + 1, 5))

    // ---------------------------------------------- outputs to check
    firstRows.foreach { case (k, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$resultDir/$k")
    }
    dumpOracle(keys, s"$out/oracle_sql.json")

    val layers = tracer.map(t => Layers.compute(t, ops.toSeq, cpus))
    tracer.foreach(t => Layers.writeSpans(t, s"$out/spans.jsonl"))

    val record = Map(
      "host" -> host.record(canaryStart),
      "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS, "warmup_s" -> warmS,
        "text_build_s" -> textS, "vec_build_s" -> vecS, "artifact_bytes" -> artifactBytes),
      "window_s" -> windowS,
      "pass_s" -> passS.toSeq,
      "rebuild_s" -> rebuildS.toSeq,
      "ops" -> ops.filter(_.key != "rebuild").map(o => Map(
        "key" -> o.key, "family" -> o.family, "pass" -> o.pass, "traced" -> o.traced,
        "ms" -> o.ms, "error" -> o.error.orNull)).toSeq,
      "nondeterministic" -> nondeterministic.toSeq.sorted,
      "sources" -> sources.getOrElse(Nil).map(r => Map("format" -> r.format, "records" -> r.records,
        "ns" -> r.nsPerRecord, "error" -> r.error.orNull)),
      "sources_warm_errors" -> sourcesWarm.getOrElse(Nil).flatMap(_.error),
      "layers" -> layers.getOrElse(Map.empty))
    Files.writeString(Paths.get(s"$out/result.json"), json.writeValueAsString(record))
    pool.shutdown()
    spark.stop()
  }
}
