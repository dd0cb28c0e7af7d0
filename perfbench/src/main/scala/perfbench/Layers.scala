package perfbench

/** Per-layer figures of one traced pass, from its span tree and the
  * difference of the listener counters across the pass. Layers are named
  * after the program's modules (`sources`, `pipeline`, `queries`) and the
  * Spark layers below them (`catalyst`, `scheduler`, `exec`, `storage`,
  * `streaming`); `driver.nojob_s` is pass time with no Spark job running.
  */
object Layers {

  /** Every per-layer metric, with its unit, in print order. */
  val Names: Seq[(String, String)] = Seq(
    "sources.extract_s" -> "s", "sources.pages" -> "count",
    "sources.landing_mb" -> "MiB",
    "pipeline.bronze_s" -> "s", "pipeline.silver_s" -> "s",
    "pipeline.gold_s" -> "s", "pipeline.jobs" -> "count",
    "pipeline.files_written" -> "count", "pipeline.bytes_written_mb" -> "MiB",
    "pipeline.input_mb" -> "MiB", "pipeline.write_amp" -> "ratio",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.exec_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.delay_s" -> "s",
    "driver.nojob_s" -> "s",
    "exec.task_s" -> "s", "exec.cpu_util" -> "ratio",
    "exec.shuffle_write_mb" -> "MiB", "exec.shuffle_read_mb" -> "MiB",
    "exec.spill_mb" -> "MiB", "exec.gc_s" -> "s",
    "storage.blocks_put" -> "count", "storage.peak_mb" -> "MiB",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s",
    "self.bench_s" -> "s", "self.sources_s" -> "s", "self.pipeline_s" -> "s",
    "self.queries_s" -> "s", "self.spark_job_s" -> "s",
    "trace.pass_s" -> "s", "trace.self_sum_ratio" -> "ratio",
    "trace.overhead" -> "ratio")

  /** Span layers whose self times the `self.*` metrics report. */
  val SpanLayers: Seq[(String, String)] = Seq("bench" -> "self.bench_s",
    "sources" -> "self.sources_s", "pipeline" -> "self.pipeline_s",
    "queries" -> "self.queries_s", Trace.JobLayer -> "self.spark_job_s")

  /** The layer self times of a pass must add up to its wall time within
    * this share. Spark jobs that run at the same time under one span count
    * once; a child span that sticks out of its parent (a job still running
    * after its call returned, a medallion stage outside Pipeline.run) is
    * what makes the sum differ.
    */
  val SelfSumTolerance = 0.01

  def of(tree: Seq[Trace.Span], passId: Int, counters: Map[String, Double],
         cores: Int): Map[String, Double] = {
    val pass = tree.find(_.id == passId).get
    val wall = (pass.end - pass.start).toDouble
    val self = Trace.selfTimes(tree)
    val byId = tree.map(s => s.id -> s).toMap
    val jobs = tree.filter(_.layer == Trace.JobLayer)
    def parentOf(s: Trace.Span) = byId.get(s.parent)
    val jobUnion = Stats.unionLength(jobs.map(j =>
      (math.max(j.start, pass.start), math.min(j.end, pass.end))))
    def dur(ss: Seq[Trace.Span]) = ss.map(s => (s.end - s.start).toDouble).sum / 1e9
    val builds = tree.filter(s => s.layer == "queries" && s.name == "build")
    val execs = tree.filter(s => s.layer == "queries" && s.name == "exec")
    val buildJobs = jobs.filter(j => parentOf(j).exists(_.name == "build"))
    val pipelineJobs = jobs.filter(j => parentOf(j).exists(_.layer == "pipeline"))
    val c = counters.withDefaultValue(0.0)
    val taskS = c("exec.task_ms") / 1000
    // job time under each span: the union of its jobs, clipped to it
    val jobTime = jobs.groupBy(_.parent).map { case (p, js) =>
      val ps = byId(p)
      Stats.unionLength(js.map(j => (math.max(j.start, ps.start), math.min(j.end, ps.end))))
    }.sum
    val layerSelf = SpanLayers.map { case (layer, metric) =>
      metric -> (if (layer == Trace.JobLayer) jobTime.toDouble
                 else tree.filter(_.layer == layer).map(s => self(s.id)).sum.toDouble)
    }.toMap
    layerSelf.map { case (k, v) => k -> v / 1e9 } ++ Map(
      "pipeline.jobs" -> pipelineJobs.size.toDouble,
      "pipeline.input_mb" -> pipelineJobs.map(_.inputBytes).sum / Workloads.MiB,
      "queries.build_s" -> dur(builds),
      "queries.build_jobs" -> buildJobs.size.toDouble,
      "queries.exec_s" -> dur(execs),
      "catalyst.analysis_s" -> c("catalyst.analysis_ms") / 1000,
      "catalyst.optimization_s" -> c("catalyst.optimization_ms") / 1000,
      "catalyst.planning_s" -> c("catalyst.planning_ms") / 1000,
      "scheduler.jobs" -> c("scheduler.jobs"),
      "scheduler.stages" -> c("scheduler.stages"),
      "scheduler.tasks" -> c("scheduler.tasks"),
      "scheduler.delay_s" -> c("scheduler.delay_ms") / 1000,
      "driver.nojob_s" -> (wall - jobUnion) / 1e9,
      "exec.task_s" -> taskS,
      "exec.cpu_util" -> taskS / (wall / 1e9 * cores),
      "exec.shuffle_write_mb" -> c("exec.shuffle_write_bytes") / Workloads.MiB,
      "exec.shuffle_read_mb" -> c("exec.shuffle_read_bytes") / Workloads.MiB,
      "exec.spill_mb" -> c("exec.spill_bytes") / Workloads.MiB,
      "exec.gc_s" -> c("exec.gc_ms") / 1000,
      "storage.blocks_put" -> c("storage.blocks_put"),
      "storage.peak_mb" -> c("storage.peak_bytes") / Workloads.MiB,
      "streaming.batches" -> c("streaming.batches"),
      "streaming.batch_s" -> c("streaming.batch_ms") / 1000,
      "trace.pass_s" -> wall / 1e9,
      "trace.self_sum_ratio" -> layerSelf.values.sum / wall)
  }

  /** One traced pass's spans as JSON: times in ms from the pass start. */
  def treeJson(tree: Seq[Trace.Span], pass: Int): String = {
    val t0 = tree.map(_.start).min
    val self = Trace.selfTimes(tree)
    tree.map { s =>
      Json.obj(Map(
        "id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num((s.start - t0) / 1e6),
        "dur_ms" -> Json.num((s.end - s.start) / 1e6),
        "self_ms" -> Json.num(self(s.id) / 1e6)))
    }.mkString(s"""{"pass":$pass,"spans":[""", ",", "]}")
  }
}
