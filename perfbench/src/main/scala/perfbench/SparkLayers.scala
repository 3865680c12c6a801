package perfbench

import scala.jdk.CollectionConverters._

/** Planner, scheduler and executor layers, from what [[Trace]]'s listeners
  * recorded over the measured window, normalised per operation. */
object SparkLayers {
  /** Every per-layer metric a traced run prints, in BENCHMARK.json order.
    * A metric a workload does not exercise reads 0. */
  val names: Seq[String] = Seq(
    "queries.build_ms", "queries.build_jobs",
    "spark.plan.analysis_ms", "spark.plan.optimizer_ms", "spark.plan.planning_ms",
    "spark.codegen.compile_ms", "spark.codegen.classes",
    "spark.scheduler.jobs", "spark.scheduler.stages", "spark.scheduler.tasks",
    "spark.scheduler.tasks_per_stage", "spark.scheduler.outside_job_ms",
    "spark.exec.task_run_ms", "spark.exec.task_cpu_ms", "spark.exec.gc_ms",
    "spark.exec.shuffle_write_bytes", "spark.exec.shuffle_read_bytes",
    "spark.exec.spill_bytes", "spark.exec.output_bytes", "spark.exec.stage_skew",
    "functions.kernel_task_cpu_ms", "functions.codegen_fallbacks",
    "queries.Relational.task_cpu_ms", "queries.AspSemantics.task_cpu_ms",
    "llm.LlmQueries.task_cpu_ms",
    "streaming.Replay.events", "streaming.Replay.outputs", "streaming.Replay.timers_fired",
    "streaming.Replay.task_cpu_ms", "streaming.Replay.max_task_ms",
    "streaming.Replay.median_task_ms", "streaming.Replay.single_core_events_per_s",
    "streaming.Machines.self_ms",
    "spark.stream.batches", "spark.stream.batch_ms_p50", "spark.stream.batch_ms_max",
    "spark.stream.latest_offset_ms", "spark.stream.query_planning_ms",
    "spark.stream.add_batch_ms", "spark.stream.wal_commit_ms",
    "spark.stream.commit_offsets_ms",
    "state.rows_total", "state.memory_bytes", "state.commit_ms",
    "state.rocksdb_checkpoint_ms", "state.rocksdb_sst_bytes",
    "streaming.Crossover.handover_ms",
    "sources.GraftFeed.push_ns", "sources.GraftFeed.lag_records_max",
    "sources.GraftFeed.admitted_per_batch", "generator.late_ms_p99",
    "live.drain_events_per_s", "live.latency_p99_ms", "live.sustained_events_per_s",
    "pipeline.ingest_s", "pipeline.compact_s", "pipeline.dedup_s", "pipeline.scrub_s",
    "pipeline.index_s", "pipeline.train_mix_s", "sources.Compaction.files_out",
    "jvm.gc_ms", "jvm.jit_ms", "jvm.heap_after_gc_mb")

  def fill(tr: Trace, per: Double, out: Layers): Unit = {
    val jobs = tr.jobs.asScala.toSeq
    val tasks = tr.tasks.asScala.toSeq
    out("spark.plan.analysis_ms") = tr.analysisMs.get / per
    out("spark.plan.optimizer_ms") = tr.optimizerMs.get / per
    out("spark.plan.planning_ms") = tr.planningMs.get / per
    out("spark.scheduler.jobs") = jobs.size / per
    out("spark.scheduler.stages") = tr.stagesDone.get / per
    out("spark.scheduler.tasks") = tasks.size / per
    out("spark.scheduler.tasks_per_stage") = tasks.size.toDouble / math.max(tr.stagesDone.get, 1L)
    out("spark.scheduler.outside_job_ms") = outsideJobMs(tr) / per
    out("spark.exec.task_run_ms") = tasks.map(_.runMs).sum / per
    out("spark.exec.task_cpu_ms") = tasks.map(_.cpuNs).sum / 1e6 / per
    out("spark.exec.gc_ms") = tasks.map(_.gcMs).sum / per
    out("spark.exec.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum / per
    out("spark.exec.shuffle_read_bytes") = tasks.map(_.shuffleRead).sum / per
    out("spark.exec.spill_bytes") = tasks.map(_.spill).sum / per
    out("spark.exec.output_bytes") = tasks.map(_.output).sum / per
    // median over multi-task stages of (slowest task / median task)
    val skews = tasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val run = ts.map(_.runMs.toDouble)
      run.max / math.max(Stats.median(run), 1.0)
    }.toSeq
    out("spark.exec.stage_skew") = if (skews.isEmpty) 1.0 else Stats.median(skews)
  }

  /** Wall time of the measured operations that no Spark job covered:
    * per operation interval, its length minus the union of its jobs. */
  def outsideJobMs(tr: Trace): Double = {
    val byOp = tr.jobs.asScala.toSeq.filter(_.endMs > 0).groupBy(_.op)
    tr.ops.asScala.toSeq.groupBy(_._1.takeWhile(_ != '/')).map { case (op, ivs) =>
      val s = ivs.map(_._2).min
      val e = ivs.map(_._3).max
      val js = byOp.getOrElse(op, Nil).map(j => (math.max(j.startMs, s), math.min(j.endMs, e)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      js.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      (e - s - covered).toDouble
    }.sum
  }
}
