package graftbench

/** Per-layer numbers of a traced run, derived from its span tree over
  * the first `traceOps` ops (a fixed op set, so the counts repeat
  * exactly between traced runs of one seed). Layers are repo modules:
  * piglatin, plans (Catalyst phases), sources, exec (Spark jobs),
  * llm, ops.bucketed. */
object Layers {
  def derive(t: Tracer, lw: LayerWindow, phases0: Map[String, Double], cpus: Int,
             w: Workload, fin: Finish): Map[String, Double] = {
    val kids = t.children
    def below(id: Long): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: below(s.id))
    val roots = t.spans.filter(_.kind == "op").sortBy(_.id).take(lw.ops).toSeq
    val n = math.max(1, roots.size).toDouble
    val tree = roots.map(r => r -> below(r.id))
    val all = tree.flatMap(_._2)
    val jobs = all.filter(_.kind == "job")
    val stages = all.filter(_.kind == "stage")
    val calls = all.filter(_.kind == "call")
    def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    def callMs(name: String) = calls.filter(_.name == name).map(_.ms).sum
    def meanCallMs(name: String) = {
      val cs = calls.filter(_.name == name)
      if (cs.isEmpty) 0.0 else cs.map(_.ms).sum / cs.size
    }
    def jobCover(s: Span, js: Seq[Span]) =
      Tracer.covered(js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
        .filter { case (a, b) => b > a })
    val opMs = roots.map(_.ms).sum
    val jobWallMs = tree.map { case (r, d) => jobCover(r, d.filter(_.kind == "job")) / 1e6 }.sum
    val pigRun = calls.filter(_.name == "PigEngine.run")
    val pigOutside = pigRun.map(s => s.ms - jobCover(s, below(s.id).filter(_.kind == "job")) / 1e6).sum
    val loadJobs = jobs.count(j => kids.getOrElse(j.id, Nil).exists(_.attrs.getOrElse("loader_call_site", 0.0) > 0))
    val storeStages = calls.filter(c => w.storeCalls.contains(c.name)).flatMap(c => below(c.id))
      .filter(_.kind == "stage")
    val compactCalls = calls.filter(_.name == "Bucketed.compactIfNeeded")
    // a compactIfNeeded that rewrote the table ran jobs; the check alone runs none
    val compactions = compactCalls.count(c => below(c.id).exists(_.kind == "job"))
    def phase(p: String) = (lw.phases.getOrElse(p, 0.0) - phases0.getOrElse(p, 0.0)) / n
    Map(
      "piglatin.parse_ms" -> fin.extra.getOrElse("parse_ms_per_op", 0.0),
      "piglatin.run_outside_jobs_ms" -> pigOutside / n,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimizer_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "sources.load_jobs_per_op" -> loadJobs / n,
      "exec.jobs_per_op" -> jobs.size / n,
      "exec.stages_per_op" -> stages.size / n,
      "exec.tasks_per_op" -> attr(stages, "tasks") / n,
      "exec.ms_per_job" -> (if (jobs.isEmpty) 0.0 else jobs.map(_.ms).sum / jobs.size),
      "exec.job_wall_ms_per_op" -> jobWallMs / n,
      "exec.outside_jobs_ms_per_op" -> (opMs - jobWallMs) / n,
      "exec.scheduler_delay_ms_per_op" -> attr(stages, "scheduler_delay_ms") / n,
      "exec.executor_run_ms_per_op" -> attr(stages, "executor_run_ms") / n,
      "exec.executor_cpu_ms_per_op" -> attr(stages, "executor_cpu_ms") / n,
      "exec.gc_ms_per_op" -> attr(stages, "gc_ms") / n,
      "exec.busy_share" -> (if (opMs > 0) attr(stages, "executor_run_ms") / (opMs * cpus) else 0.0),
      "exec.shuffle_write_bytes_per_op" -> attr(stages, "shuffle_write_bytes") / n,
      "exec.shuffle_read_bytes_per_op" -> attr(stages, "shuffle_read_bytes") / n,
      "exec.spill_bytes_per_op" -> attr(stages, "spill_bytes") / n,
      "llm.ingest_batch_ms" -> meanCallMs("Curate.ingestBatch"),
      "llm.admit_ratio" -> fin.extra.getOrElse("admit_ratio", 0.0),
      "llm.query_batch_ms" -> meanCallMs("VectorIndex.query"),
      "llm.probed_rows_per_query" -> fin.extra.getOrElse("probed_rows_per_query", 0.0),
      "llm.append_ms" -> meanCallMs("VectorIndex.append"),
      "ops.bucketed.compactions" -> compactions.toDouble,
      "ops.bucketed.compact_ms" -> callMs("Bucketed.compactIfNeeded") / n,
      "ops.bucketed.files_per_bucket" -> fin.extra.getOrElse("files_per_bucket", 0.0),
      "ops.bucketed.bytes_written_per_op" -> attr(storeStages, "output_bytes") / n,
      "recall_at_10" -> fin.extra.getOrElse("recall_at_10", 0.0),
      "stored_bytes_per_input_byte" -> fin.extra.getOrElse("stored_bytes_per_input_byte", 0.0))
  }
}
