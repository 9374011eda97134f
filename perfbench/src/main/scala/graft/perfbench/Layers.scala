package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.perfbench.Main.OpRec

/** Reduces a traced run to the per-layer metrics. Every metric is over the
  * traced executions only; the untraced half of each pair serves
  * `trace.overhead_pct`. A layer the run did not exercise reads 0. */
object Layers {
  val Families: Seq[String] = Seq("prop_sum", "es_agg", "dsl", "search", "knn", "dedup", "tokenizer",
    "multimodal", "ingest")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def compute(t: Tracer, all: Seq[OpRec], cpus: Int): Map[String, Double] = {
    val traced = all.filter(o => o.traced && o.key != "rebuild")
    val ids = traced.map(_.idx.toLong).toSet
    val spans = t.spans
    val jobs = spans.filter(_.name == "job")
    val stages = spans.filter(_.name == "stage")
    val tasks = t.tasks.synchronized(t.tasks.toList).filter(x => ids(x._1))
    val tasksByOp = tasks.groupBy(_._1)
    def taskSum(op: OpRec, i: Int): Double = tasksByOp.getOrElse(op.idx.toLong, Nil).map(_._3(i)).sum
    def perOp(f: OpRec => Double): Double = mean(traced.map(f))
    def within(s: Span, o: OpRec) = s.startUs >= o.startUs && s.startUs < o.endUs
    val wallMs = traced.map(_.ms).sum

    val stragglers = tasks.groupBy(x => (x._1, x._2)).values.filter(_.size >= 2).map { ts =>
      val run = ts.map(_._3(1))
      run.max / math.max(median(run), 1.0)
    }.toSeq

    val unattributedUs = traced.map { o =>
      val kids = spans.filter(s => Set("queries.build", "plan", "action")(s.name) && within(s, o))
        .map(s => (s.startUs, math.min(s.endUs, o.endUs)))
      (o.endUs - o.startUs) - Tracer.covered(kids)
    }.sum

    val progress = t.progress.synchronized(t.progress.toList).filter(x => ids(x._1))
    val streamOps = traced.filter(o => progress.exists(_._1 == o.idx.toLong))
    def batchMedian(f: Map[String, Long] => Long) = median(progress.map(p => f(p._2).toDouble))
    def perStreamOp(f: Seq[(Long, Map[String, Long], Long, Long, Long, Long)] => Double) =
      mean(streamOps.map(o => f(progress.filter(_._1 == o.idx.toLong))))

    val pairs = all.filter(_.traced).map(_.ms).sum / math.max(all.filterNot(_.traced).map(_.ms).sum, 1e-9)

    Map(
      "queries.build_ms" -> median(traced.map(o => (o.buildUs._2 - o.buildUs._1) / 1e3)),
      "queries.build_jobs" -> perOp(o => jobs.count(j => j.startUs >= o.buildUs._1 && j.startUs < o.buildUs._2).toDouble),
      "plan.ms" -> median(traced.map(o => t.planMs.synchronized(t.planMs.toList).filter(_._1 == o.idx).map(_._2).sum)),
      "exec.driver_gap_ms" -> median(traced.map(o =>
        ((o.endUs - o.startUs) - Tracer.covered(t.jobIntervals(o.startUs, o.endUs))) / 1e3)),
      "exec.jobs" -> perOp(o => jobs.count(within(_, o)).toDouble),
      "exec.stages" -> perOp(o => stages.count(within(_, o)).toDouble),
      "exec.tasks" -> perOp(o => tasksByOp.getOrElse(o.idx.toLong, Nil).size.toDouble),
      "exec.task_wait_ms" -> perOp(taskSum(_, 0)),
      "exec.task_ms" -> perOp(taskSum(_, 1)),
      "exec.cpu_ms" -> perOp(taskSum(_, 2)),
      "exec.gc_ms" -> perOp(taskSum(_, 3)),
      "exec.core_busy" -> (if (wallMs > 0) tasks.map(_._3(1)).sum / (wallMs * cpus) else 0.0),
      "exec.shuffle_write_mb" -> perOp(taskSum(_, 4) / 1e6),
      "exec.shuffle_read_mb" -> perOp(taskSum(_, 5) / 1e6),
      "exec.spill_mb" -> perOp(taskSum(_, 6) / 1e6),
      "exec.result_mb" -> perOp(taskSum(_, 7) / 1e6),
      "exec.straggler_ratio" -> median(stragglers),
      "stream.batches" -> perStreamOp(_.size.toDouble),
      "stream.trigger_ms" -> batchMedian(_.getOrElse("triggerExecution", 0L)),
      "stream.add_batch_ms" -> batchMedian(_.getOrElse("addBatch", 0L)),
      "stream.plan_ms" -> batchMedian(_.getOrElse("queryPlanning", 0L)),
      "stream.commit_ms" -> batchMedian(d => d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)),
      "stream.state_commit_ms" -> median(progress.map(_._4.toDouble)),
      "stream.state_rows" -> perStreamOp(ps => ps.map(_._5).max.toDouble),
      "stream.state_mb" -> perStreamOp(ps => ps.map(_._6).max / 1e6),
      "stream.rows_per_s" -> (if (streamOps.isEmpty) 0.0
        else progress.map(_._3).sum / (streamOps.map(_.ms).sum / 1e3)),
      "trace.overhead_pct" -> (pairs - 1) * 100,
      "trace.unattributed_pct" -> (if (wallMs > 0) unattributedUs / 1e3 / wallMs * 100 else 0.0)
    ) ++ Families.map(f => s"family.$f.p50_ms" -> median(traced.filter(_.family == f).map(_.ms)))
  }

  /** Every span of the run, one JSON object a line. */
  def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.sortBy(_.startUs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""","$k":$v""" }.mkString
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}$attrs}"""
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
