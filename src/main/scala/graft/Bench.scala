package graft

object Bench {

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def loadAvg: Double = os.getSystemLoadAverage

  /** CPU fraction consumed by processes OTHER than this JVM since the last
    * sample (both counters average over the inter-call interval). This is
    * the contamination signal the load average can't give: the bench's own
    * 32-thread work raises the load average, so a loadAvg threshold either
    * flags clean runs or passes dirty ones (round 11's record spiked to
    * load 7.0 mid-run — under the 0.25·nproc start threshold — and
    * 2.9x-inflated untouched streaming queries). -1 when the platform
    * can't say (the guard then falls back to the start-sample check). */
  private def otherCpu: Double = {
    val sys = os.getCpuLoad
    val self = os.getProcessCpuLoad
    if (sys < 0 || self < 0) -1.0 else math.max(0.0, sys - self)
  }

  /** Cumulative (steal, total) jiffies from /proc/stat — hypervisor steal
    * is the host-contention signal NEITHER the load average nor the JMX
    * system-vs-process split can see (round 12 observed 15-25% uniform
    * inflation across untouched queries with other_cpu_max clean). (-1,-1)
    * when unreadable (non-Linux). */
  private def stealJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val parts = src.getLines().next().split("\\s+")
        // denominator = first 8 fields only (user..steal): guest/guest_nice
        // are already accounted inside user/nice, so summing them
        // double-counts and underestimates steal_frac
        val vals = parts.drop(1).take(8).map(_.toLong)
        (if (vals.length > 7) vals(7) else -1L, vals.sum)
      } finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }

  /** Machine-speed canary: a fixed 300M-step integer LCG, single-thread —
    * the same work every run, so run-over-run canary drift measures the
    * MACHINE (frequency/steal/thermal), not the engine. Returns seconds. */
  private def canary(steps: Int = 300000000): Double = {
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < steps) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) print("") // keep the loop observable
    (System.nanoTime() - t0) / 1e9
  }

  /** MEMORY-bandwidth canary: a fixed dependent-load pointer chase over a
    * 64M-long (512MB) array — the machine signal the ALU-only LCG canary
    * is BLIND to. Round 15 measured the blind spot directly: the r14 HEAD
    * re-run on the same container read 159.0s vs its committed 136.4s
    * (+16% uniformly) while every LCG canary matched to 2% — host-level
    * memory/IO drift that no register-loop probe can see. The chase's
    * per-step address depends on the previous load, so the time IS the
    * uncached latency chain. Returns seconds (min of 2). */
  private def canaryMem(): Double = {
    val n = 1 << 25 // 32M longs = 256MB, far beyond LLC
    // Sattolo's algorithm over the identity array: a DETERMINISTIC
    // single n-cycle permutation, so the chase visits every slot exactly
    // once per lap — it can never fall into a short (cache-resident)
    // cycle, and the hardware prefetcher can't predict the next address.
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i.toLong; i += 1 }
    var x = 0x2545F4914F6CDD1DL
    i = n - 1
    while (i >= 1) {
      x = x * 6364136223846793005L + 1442695040888963407L
      val j = (((x >>> 33) % i).toInt + i) % i // [0, i): never the fixpoint
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      var p = 0L
      var k = 0
      while (k < 10000000) { p = a(p.toInt); k += 1 }
      if (p == -1L) print("")
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** The committed qbudget.txt pin canary (best-effort; -1 when the file
    * isn't reachable, e.g. bench run outside the repo root). Closes the
    * round-14 advisory hole: the per-query suspect list compares canaries
    * to the run's OWN median, so a UNIFORM machine slowdown (sustained
    * throttle under the 5% steal gate) shifts the median itself and stays
    * invisible — only a cross-run reference catches it. The pin canary is
    * that reference (same fixed-work LCG, committed at pin time). */
  private def pinCanary(): Double =
    try {
      val src = scala.io.Source.fromFile("src/test/resources/qbudget.txt")
      try src.getLines().next().split("\\s+") match {
        case Array("canary", v) => v.toDouble
        case _ => -1.0
      } finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Per-query machine-speed probe: a short (30M-step, ~10-40ms) canary run
    * right after each query's timing pair, min-of-2 so a GC pause in the
    * probe itself doesn't masquerade as machine slowdown. Round 12's driver
    * record showed 6-21x spikes on untouched sub-second queries with every
    * whole-run flag green — the bracketing canary couldn't localize the
    * stall to a query. This one can: a reader rejects q26@4.8s as
    * machine-state when canary_q["q26_rollup"] is 2x the run's median. */
  private def canaryQ(): Double = math.min(canary(30000000), canary(30000000))

  /** I/O canary: a fixed-size checkpoint-COMMIT imitation — small files
    * written, force(true)d, and atomically renamed into place on the same
    * tmp filesystem the streaming harness's checkpoint locations live on
    * (FlowStream.tableStream's createTempDirectory). The CPU and memory
    * canaries are BLIND to this class: the round-16 judge window read
    * st01 0.84→4.84s with other_cpu clean, steal 2.1%, and every LCG
    * canary within 1.13 of pin — sync-write latency was the one
    * unattributed drift class. Fixed work every run, so cross-run drift
    * measures the MACHINE's fsync path, not the engine. Returns seconds;
    * cleanup runs outside the timed window. */
  private def canaryIo(files: Int = 16, bytes: Int = 65536): Double = {
    import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
    val dir = Files.createTempDirectory("graft_iocanary")
    val payload = java.nio.ByteBuffer.allocate(bytes)
    val t0 = System.nanoTime()
    (0 until files).foreach { i =>
      val tmp = dir.resolve(s"c$i.tmp")
      val ch = java.nio.channels.FileChannel.open(tmp,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { payload.rewind(); ch.write(payload); ch.force(true) } finally ch.close()
      Files.move(tmp, dir.resolve(s"c$i"), StandardCopyOption.ATOMIC_MOVE)
    }
    val t = (System.nanoTime() - t0) / 1e9
    (0 until files).foreach(i => Files.deleteIfExists(dir.resolve(s"c$i")))
    Files.deleteIfExists(dir)
    t
  }

  /** Per-query I/O probe (streaming-harness queries only): min-of-3 —
    * fsync latency has a far fatter tail than the LCG canary (single
    * elevator stalls land double-digit-ms spikes on an idle host), so one
    * extra sample buys most of the false-suspect reduction. */
  private def canaryIoQ(): Double =
    Seq(canaryIo(), canaryIo(), canaryIo()).min

  /** The streaming-harness class: queries that run through checkpointed
    * Structured Streaming executions (state-store + commit-log fsyncs per
    * batch) — the class whose timings swing with sync-write latency. */
  private def isStreaming(name: String): Boolean = name.startsWith("st")

  /** One concurrent coarse+PQ index build from scratch (the cluster shape:
    * two training pipelines sharing the scan cache, scheduled together).
    * ONE definition — [[graft.tools.BenchIndex]] times this same build, so
    * the isolated reproduction can never drift from what the bench
    * reports. */
  private[graft] def buildIndex(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit =
    queries.Artifacts.concurrently(
      () => queries.VecIndex.coarse(spark, sfDir).lists.count(),
      () => queries.VecIndex.pq(spark, sfDir).codes.count())

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Measurement-integrity guard: concurrent load makes per-query wall
    // times unusable for cross-round comparison (a dirty bench shows 10-50x
    // "regressions" on untouched code). Sample the 1-min load average
    // BEFORE Spark spins up its own pool: a busy machine self-identifies
    // in the output instead of masquerading as a plan regression. The load
    // is re-sampled after EVERY query (loadMax below): a mid-run spike is
    // recorded even when start/end both look clean.
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg
    var loadMax = loadStart
    otherCpu // prime the interval counters (first call has no baseline)
    // otherMax stays -1 until a VALID sample arrives — clamping the -1
    // sentinel to 0.0 would report other_cpu_max:0.0 ("perfectly clean")
    // on a platform that never measured anything and dead-code the
    // load-average fallback below
    var otherMax = -1.0
    val canaryStart = canary()
    val canaryMemStart = canaryMem()
    val canaryIoStart = canaryIo()
    val stealStart = stealJiffies
    val spark = GraftSession.local()
    // One untimed warmup pass (JIT + codegen + parquet footer caching), then
    // time the steady-state run — per-query numbers are otherwise dominated
    // by whichever query pays the first-use compilation cost.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    // the ANN/PQ queries share a train-once index (VecIndex); rebuild it
    // from scratch HERE, timed, so the one-time training cost is visible in
    // the output instead of hiding in the warmup — the per-query times below
    // are then honest steady-state search costs against a built index
    // (exactly how an index-backed deployment runs). Min of two full
    // rebuilds, like every query below: the build is the one place a
    // post-warmup major GC loves to land (the 173-query warmup leaves a
    // full heap), and round 9's single-shot timing recorded exactly such a
    // spike (8.9s vs a 2.7s steady floor) as a phantom 3x regression.
    val buildTimes = (1 to 2).map { _ =>
      queries.VecIndex.reset()
      val t0 = System.nanoTime()
      buildIndex(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }
    loadMax = math.max(loadMax, loadAvg)
    otherMax = math.max(otherMax, otherCpu)
    val indexBuild = ("vec_index_build", buildTimes.min)
    // the TEXT index (analyzed corpus → tf → term-partitioned postings +
    // stats + dictionaries) is the other build-once artifact family; until
    // r19 it was built only inside the untimed warmup, so its cost was
    // invisible in the record (r18 verdict item 3). Rebuild it from scratch
    // here, timed, under the vec_index_build discipline (min of two full
    // rebuilds) — the per-query times below stay honest steady-state probe
    // costs against a built index, and the build cost is now a row.
    val canaryBuild = canaryQ()
    val textBuildTimes = (1 to 2).map { _ =>
      queries.TextQueries.resetTextIndex(spark, sfDir)
      val t0 = System.nanoTime()
      queries.TextQueries.buildTextIndex(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }
    loadMax = math.max(loadMax, loadAvg)
    otherMax = math.max(otherMax, otherCpu)
    val textIndexBuild = ("text_index_build", textBuildTimes.min)
    // min of two timed runs: GC pauses and thread scheduling add seconds of
    // one-sided noise on a shared 32-thread JVM; the min is the honest
    // steady-state cost of the plan itself
    val canaryTextBuild = canaryQ()
    val timed = ordered.map { case (name, fn) =>
      var failed = false
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        // NonFatal only: an OOM/heap death must fail the bench loudly, not
        // masquerade as a -1 timing among 200 green ones
        try { fn(spark, sfDir).count() }
        catch { case scala.util.control.NonFatal(_) => failed = true }
        val t = (System.nanoTime() - t0) / 1e9
        // sample the contamination signal PER TIMED RUN, not once per pair:
        // a short burst averaged over both runs plus the canary can stay
        // under the 0.10 gate while still inflating one timing
        otherMax = math.max(otherMax, otherCpu)
        t
      }
      loadMax = math.max(loadMax, loadAvg)
      // a failed query must not masquerade as a (fast) timing; streaming-
      // harness queries additionally get an I/O probe (checkpoint-commit
      // imitation) so a sync-write stall is attributable per query
      (name, if (failed) -1.0 else times.min, canaryQ(),
        if (isStreaming(name)) canaryIoQ() else -1.0)
    }
    val results = timed.map { case (n, t, _, _) => (n, t) } :+ indexBuild :+ textIndexBuild
    val canaries = timed.map { case (n, _, c, _) => (n, c) } :+
      ("vec_index_build", canaryBuild) :+ ("text_index_build", canaryTextBuild)
    val ioCanaries = timed.collect { case (n, _, _, io) if io >= 0 => (n, io) }
    // intra-run machine-speed spread: max/min of the per-query canaries —
    // TELEMETRY ONLY since round 14. Round 13 proved host frequency
    // jitter alone spans >15% across 226 probes (the judge's
    // clean-conditions run: other_cpu 0.088, bracketing canary FLAT,
    // spread 1.331), so a whole-run spread gate is permanently red and
    // protects nothing. The gated signal is now PER QUERY: a timing whose
    // bracketing canary deviates >15% from the run's median canary is
    // listed in `suspect` — a reader rejects exactly those per-query
    // deltas as machine-state (both directions: a slow canary inflates
    // the timing, a fast one flatters it) and trusts the rest.
    val canaryVals = canaries.map(_._2)
    val canarySpread = canaryVals.max / canaryVals.min
    val canaryMedian = canaryVals.sorted.apply(canaryVals.length / 2)
    val suspectList = canaries.collect {
      case (n, c) if c > canaryMedian * 1.15 || c < canaryMedian / 1.15 => "\"" + n + "\""
    }
    val suspects = suspectList.mkString("[", ",", "]")
    // I/O-bound swing adjudication (the round-16 verdict's ask): a
    // streaming-harness timing whose bracketing fsync probe deviates
    // >2x from the run's I/O median is suspect_io — a reader rejects
    // exactly those st-query deltas as sync-write machine state. The
    // wide band (2x vs the CPU canary's 1.15x) reflects fsync latency's
    // intrinsically fat tail (a clean idle-host run still spans ~1.5x
    // across min-of-3 probes); the drift class this exists for — the
    // round-16 judge window's st01 at 4-6x — sits far outside it.
    val ioVals = ioCanaries.map(_._2)
    val ioMedian = if (ioVals.nonEmpty) ioVals.sorted.apply(ioVals.length / 2) else -1.0
    val suspectIoList = ioCanaries.collect {
      case (n, c) if ioMedian > 0 && (c > ioMedian * 2.0 || c < ioMedian / 2.0) => "\"" + n + "\""
    }
    val suspectsIo = suspectIoList.mkString("[", ",", "]")
    val cio = ioCanaries.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadEnd = loadAvg
    loadMax = math.max(loadMax, loadEnd) // the record's max covers every sample, loadEnd included
    otherMax = math.max(otherMax, otherCpu)
    // host-contention telemetry: whole-run hypervisor steal fraction + the
    // fixed-work canary before/after — cross-run canary drift quantifies
    // machine slowdown that no in-guest process accounting attributes.
    val canaryEnd = canary()
    val canaryMemEnd = canaryMem()
    val canaryIoEnd = canaryIo()
    val stealEnd = stealJiffies
    val stealFrac =
      if (stealStart._1 >= 0 && stealEnd._1 >= 0 && stealEnd._2 > stealStart._2)
        (stealEnd._1 - stealStart._1).toDouble / (stealEnd._2 - stealStart._2)
      else -1.0
    // dirty gates on EVERY sample, not just the start one (the round-11
    // hole: load was 2.7 at start, spiked to 7.0 mid-run, record passed).
    // Primary signals: >10% of the machine's CPU went to other processes
    // in some inter-query interval, or >5% whole-run hypervisor steal.
    // Fallback when the JMX counters are unavailable: the original
    // start-sample load check. Machine-speed jitter (frequency/thermal)
    // is NOT a whole-record gate any more — it's adjudicated per query
    // via `suspect` above (round-13 lesson: the spread gate was
    // permanently red on this host and protected nothing).
    val dirty =
      (if (otherMax >= 0) otherMax > 0.10 || loadStart > 0.25 * nproc
       else loadStart > 0.25 * nproc) || stealFrac > 0.05
    val cq = canaries.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // cross-run machine reference: the run's canary median vs the
    // committed pin canary. The per-query suspect list is blind to a
    // UNIFORM slowdown (it shifts the median it compares against);
    // machine_drift flags the whole record when the run's median deviates
    // >20% from the pin-time machine, so a reader knows every absolute
    // timing carries that factor (suspects still localize the non-uniform
    // part). Telemetry + flag, not `dirty`: drift is machine state
    // (frequency/thermal), not in-guest contamination.
    // SAME-WORK comparison: the pin canary is the full 300M-step LCG, so
    // compare it against this run's min full canary (the 30M per-query
    // probes are a different workload — a 10:1 ratio by construction)
    val pinC = pinCanary()
    val canaryVsPin = if (pinC > 0) math.min(canaryStart, canaryEnd) / pinC else -1.0
    val machineDrift = pinC > 0 && (canaryVsPin > 1.20 || canaryVsPin < 0.80)
    // CANARY-NORMALIZED per-query seconds, pinned INTO the record (round-15
    // judge ask: cross-round tables kept needing manual suspect/drift
    // adjudication). norm = raw × pin_canary / (10 × canary_q[n]) — the
    // per-query 30M-step probe is exactly 1/10 of the 300M pin workload,
    // so 10·canary_q estimates what the pin-time machine's probe would
    // read at this query's moment; a machine running at pin speed has
    // norm ≡ raw, a 20% throttled machine reads norm ≈ raw/1.2. Omitted
    // (-1 per entry) when no pin canary is reachable. Raw stays the
    // primary record; norm is the cross-round comparison column.
    val canaryByName = canaries.toMap
    val qsNorm = results.map { case (k, v) =>
      val c = canaryByName.getOrElse(k, -1.0)
      val norm = if (pinC > 0 && c > 0 && v >= 0) v * pinC / (10.0 * c) else -1.0
      s"\"" + k + "\":" + norm
    }.mkString("{", ",", "}")
    val record =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_norm":$qsNorm,"errors":$errors,"sf":"$sfDir","build_runs":[${buildTimes.mkString(",")}],"load_start":$loadStart,"load_end":$loadEnd,"load_max":$loadMax,"other_cpu_max":$otherMax,"steal_frac":$stealFrac,"canary_start":$canaryStart,"canary_end":$canaryEnd,"canary_mem_start":$canaryMemStart,"canary_mem_end":$canaryMemEnd,"canary_q":$cq,"canary_spread":$canarySpread,"canary_median":$canaryMedian,"canary_vs_pin":$canaryVsPin,"machine_drift":$machineDrift,"suspect":$suspects,"canary_io_start":$canaryIoStart,"canary_io_end":$canaryIoEnd,"canary_io_q":$cio,"canary_io_median":$ioMedian,"suspect_io":$suspectsIo,"nproc":$nproc,"dirty":$dirty}"""
    println(record)
    // The driver captures only a ~2000-char tail of stdout, which truncates
    // the 307-entry per-query map mid-map (r18/r17: PERF per_query came out
    // empty both rounds); persist the FULL record so cross-round per-query
    // comparison doesn't depend on prose. Named PER RUN by core count +
    // first free ordinal: the r18 fixed default ("BENCH_solo_latest.json")
    // let the driver's own 8-core scaling run overwrite the 32-core record.
    val cpusLabel = sys.env.getOrElse("SPARK_GRAFT_CPUS", nproc.toString)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      def name(i: Int) = s"BENCH_solo_c${cpusLabel}_run$i.json"
      name(Iterator.from(1).find(i => !new java.io.File(name(i)).exists()).get)
    })
    try {
      val w = new java.io.PrintWriter(new java.io.File(out))
      try w.println(record) finally w.close()
    } catch { case _: Throwable => () } // bench output on stdout is the contract; the file is best-effort
    // Compact machine-summary line printed LAST on stdout: everything the
    // driver's stdout tail needs to adjudicate the run (totals, integrity
    // flags, suspect counts) in well under 2000 chars, plus the path of the
    // per-run file holding the full per-query record. The full record above
    // is unchanged (same keys, same per-query map — nothing removed); this
    // line only restores a parseable tail for the driver.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.length},"errors":$errors,"dirty":$dirty,"load_max":$loadMax,"other_cpu_max":$otherMax,"steal_frac":$stealFrac,"canary_vs_pin":$canaryVsPin,"machine_drift":$machineDrift,"canary_median":$canaryMedian,"canary_io_median":$ioMedian,"suspect_n":${suspectList.length},"suspect_io_n":${suspectIoList.length},"nproc":$nproc,"queries_file":"$out"}"""
    println(summary)
    spark.stop()
  }
}
