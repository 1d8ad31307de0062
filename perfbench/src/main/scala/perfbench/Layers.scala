package perfbench

/** Per-layer metrics of one traced rep, from its spans and the stage
  * listener's window. Every metric is present for every workload; a
  * layer the workload does not call reads 0.
  */
object Layers {

  /** (name, unit, better) of every per-layer metric the traced run prints. */
  val metrics: Seq[(String, String, String)] = Seq(
    ("pipeline.core_ns_per_row", "ns", "lower"),
    ("pipeline.cheap_self_ns_per_row", "ns", "lower"),
    ("pipeline.kept_per_row", "ratio", "higher"),
    ("scrub.ns_per_row", "ns", "lower"),
    ("grammar.rule_hits_ns_per_call", "ns", "lower"),
    ("grammar.calls_per_row", "ratio", "lower"),
    ("langid.ns_per_call", "ns", "lower"),
    ("langid.calls_per_row", "ratio", "lower"),
    ("lm.ns_per_call", "ns", "lower"),
    ("lm.calls_per_row", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.jobs_per_partition", "count", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.cpu_util", "ratio", "higher"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("spark.driver_only_s", "s", "lower"),
    ("checkpoint.commit_jobs", "count", "lower"),
    ("checkpoint.commit_job_s", "s", "lower"),
    ("checkpoint.metrics_jobs", "count", "lower"),
    ("checkpoint.metrics_job_s", "s", "lower"),
    ("checkpoint.resume_self_s", "s", "lower"),
    ("checkpoint.resume_skipped", "count", "higher"),
    ("tableio.read_jobs", "count", "lower"),
    ("tableio.read_job_s", "s", "lower"),
    ("tableio.input_bytes", "bytes", "lower"),
    ("tableio.output_bytes", "bytes", "lower"),
    ("tableio.out_bytes_per_in_byte", "ratio", "lower"),
    ("tableio.done_partitions_ms", "ms", "lower"),
    ("dedup.minhash_clusters_s", "s", "lower"),
    ("dedup.conv_near_dups_s", "s", "lower"),
    ("dedup.shuffle_write_bytes", "bytes", "lower"),
    ("dedup.survivors", "count", "lower"),
    ("dedup.pairs", "count", "higher"),
    ("host.spin_ms", "ms", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("host.sys_pct", "%", "lower"),
    ("trace.traced_minus_untraced_turns_per_s", "1/s", "higher"))

  /** Metrics of the rep whose span was opened last on `tr`. Adds one
    * span per Spark job, parented to the benchmark span that submitted
    * it, so self times exclude the time jobs ran.
    */
  def of(tr: Tracer, w: Window, wallS: Double, cores: Int, ops: Int): Map[String, Double] = {
    val before = tr.spans
    val rep = before.filter(_.name == "rep").maxBy(_.startNs)
    val inRep = before.filter(s => s.startNs >= rep.startNs && s.endNs <= rep.endNs)
    val resumeIds = inRep.filter(_.name == "resume.run").map(_.id).toSet
    val cls = JobClass.classify(w.jobs, w.tasks, resumeIds)
    def iv(j: JobRec) = (tr.fromEpochMs(j.startMs), tr.fromEpochMs(j.endMs))
    w.jobs.foreach { j =>
      val (a, b) = iv(j)
      tr.add(Span(tr.runId, tr.newId(), if (j.span == 0L) rep.id else j.span,
        "job." + cls(j.jobId), a, b))
    }
    val spans = tr.spans
    val tasks = w.tasks
    val jobOfStage = w.jobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    def jobsOf(c: String) = w.jobs.filter(j => cls(j.jobId) == c)
    def jobS(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    val heaviest = tasks.groupBy(_.stageId).values.toSeq
      .sortBy(ts => -ts.map(_.runMs).sum).headOption.getOrElse(Nil)
    val skew =
      if (heaviest.isEmpty) 0.0
      else heaviest.map(_.runMs).max / math.max(Stats.median(heaviest.map(_.runMs.toDouble)), 1.0)
    def spanS(name: String) = inRep.filter(_.name == name).map(_.durNs).sum / 1e9
    val dedupIds = inRep.filter(_.name.startsWith("dedup.")).map(_.id).toSet
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    Map(
      "spark.jobs" -> w.jobs.size.toDouble,
      "spark.jobs_per_partition" -> w.jobs.size.toDouble / math.max(ops, 1),
      "spark.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> cpuS,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.cpu_util" -> cpuS / (wallS * cores),
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.task_skew" -> skew,
      "spark.driver_only_s" ->
        (rep.durNs - Spans.coveredNs(rep.startNs, rep.endNs, w.jobs.map(iv))) / 1e9,
      "checkpoint.commit_jobs" -> jobsOf(JobClass.Commit).size.toDouble,
      "checkpoint.commit_job_s" -> jobS(jobsOf(JobClass.Commit)),
      "checkpoint.metrics_jobs" -> jobsOf(JobClass.Metrics).size.toDouble,
      "checkpoint.metrics_job_s" -> jobS(jobsOf(JobClass.Metrics)),
      "checkpoint.resume_self_s" ->
        spans.filter(s => resumeIds(s.id)).map(Spans.selfNs(_, spans)).sum / 1e9,
      "tableio.read_jobs" -> jobsOf(JobClass.Read).size.toDouble,
      "tableio.read_job_s" -> jobS(jobsOf(JobClass.Read)),
      "tableio.input_bytes" -> tasks.map(_.inBytes).sum.toDouble,
      "tableio.output_bytes" -> tasks.map(_.outBytes).sum.toDouble,
      "dedup.minhash_clusters_s" -> spanS("dedup.minhash_clusters"),
      "dedup.conv_near_dups_s" -> spanS("dedup.conv_near_dups"),
      "dedup.shuffle_write_bytes" -> tasks
        .filter(t => jobOfStage.get(t.stageId).exists(j => dedupIds(j.span)))
        .map(_.shuffleWrite).sum.toDouble)
  }
}
