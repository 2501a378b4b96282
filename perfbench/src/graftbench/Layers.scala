package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run. Additive figures are per cycle
  * (the run's total divided by its cycle count), so runs with a
  * different `--seconds` stay comparable.
  */
object Layers {
  /** Every per-layer metric, in report order; absent ones read 0. */
  val names: Seq[String] = Seq(
    "streaming.run_once_s", "streaming.batches", "streaming.useful_batch_ratio",
    "streaming.latest_offset_s", "streaming.get_batch_s", "streaming.add_batch_s",
    "streaming.wal_commit_s", "streaming.start_stop_s", "streaming.input_files",
    "syncer.backup_s", "syncer.restore_set_s", "syncer.restore_pass_s",
    "syncer.remainder_s", "syncer.prune_plan_s", "syncer.reconcile_s",
    "syncer.fsck_verify_s", "syncer.fsck_prune_s", "syncer.files_uploaded",
    "syncer.files_skipped", "syncer.files_restored",
    "storage.files_written", "storage.bytes_written", "storage.objects_bytes",
    "storage.manifest_bytes", "storage.checkpoint_bytes", "storage.ledger_bytes",
    "storage.useful_bytes_ratio",
    "engine.construct_s", "engine.plan_s", "engine.exec_s", "engine.jobs",
    "engine.stages", "engine.tasks", "engine.failed_tasks", "engine.task_run_s",
    "engine.task_cpu_s", "engine.gc_s", "engine.busy_ratio",
    "engine.shuffle_write_bytes", "engine.shuffle_read_bytes", "engine.spill_bytes",
    "engine.input_bytes", "engine.output_bytes", "engine.exchanges",
    "engine.broadcast_joins",
    "stores.cand_graph_s", "stores.dedup_index_s", "stores.bytes",
    "reuse.persisted_rdds", "reuse.storage_bytes", "reuse.settle_s",
    "dedup.ops_s", "analytics.ops_s",
    "jvm.gc_s", "jvm.heap_peak_mb", "trace.wall_s")

  private val planPhases = Set("analysis", "optimization", "planning")

  /** The op running at epoch millisecond `ms`, or 0. */
  private def opAt(h: Harness, ms: Long): Int =
    h.ops.find(o => o.startMs <= ms && ms <= o.endMs).map(_.id).getOrElse(0)

  private def jobOp(h: Harness, j: JobRec): Int =
    if (j.group.startsWith("graftbench-op-")) j.group.stripPrefix("graftbench-op-").toInt
    else opAt(h, j.startMs)

  def compute(p: Probe, h: Harness, out: Outcome, cores: Int, cycles: Double,
      storesBytes: Long): mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    names.foreach(m(_) = 0.0)
    def per(k: String, v: Double): Unit = m(k) = v / cycles

    // streaming: micro-batches inside runOnce ops
    val runOnce = h.ops.filter(_.name.startsWith("runOnce"))
    val batches = p.batches.asScala.toSeq.filter(b => opAt(h, b.atMs) != 0)
    def dur(k: String) = batches.map(_.durationsMs.getOrElse(k, 0L)).sum / 1000.0
    per("streaming.run_once_s", runOnce.map(_.secs).sum)
    per("streaming.batches", batches.size)
    m("streaming.useful_batch_ratio") =
      if (batches.isEmpty) 0.0 else batches.count(_.inputRows > 0).toDouble / batches.size
    per("streaming.latest_offset_s", dur("latestOffset"))
    per("streaming.get_batch_s", dur("getBatch"))
    per("streaming.add_batch_s", dur("addBatch"))
    per("streaming.wal_commit_s", dur("walCommit"))
    per("streaming.start_stop_s",
      math.max(0.0, runOnce.map(_.secs).sum - dur("triggerExecution")))
    per("streaming.input_files", batches.map(_.inputRows).sum.toDouble)

    // syncer and storage: what the workload accounted
    for (k <- names if k.startsWith("syncer.") || k.startsWith("storage."))
      out.layers.get(k).foreach(per(k, _))
    val written = out.layers.getOrElse("storage.bytes_written", 0.0)
    m("storage.useful_bytes_ratio") =
      if (written == 0) 0.0 else out.layers.getOrElse("storage.user_bytes", 0.0) / written

    // engine: jobs, stages and tasks tagged to timed ops
    val jobs = p.jobs.asScala.toSeq.map(j => j -> jobOp(h, j)).filter(_._2 != 0)
    val stageOp = jobs.flatMap { case (j, op) => j.stageIds.map(_ -> op) }.toMap
    val stages = p.stages.asScala.toSeq.filter(s => stageOp.contains(s.stageId))
    val tasks = p.tasks.asScala.toSeq.filter(t => stageOp.contains(t.stageId))
    val plans = p.plans.asScala.toSeq.filter(q => opAt(h, q.startMs) != 0)
    val opSecs = h.ops.map(_.secs).sum
    val construct = h.ops.map(_.constructS).sum
    val plan = plans.map(_.phasesMs.filter(kv => planPhases(kv._1)).values.sum).sum / 1000.0
    val exec = math.max(0.0, opSecs - construct - plan)
    val taskRun = tasks.map(_.runMs).sum / 1000.0
    per("engine.construct_s", construct)
    per("engine.plan_s", plan)
    per("engine.exec_s", exec)
    per("engine.jobs", jobs.size)
    per("engine.stages", stages.size)
    per("engine.tasks", tasks.size)
    per("engine.failed_tasks", tasks.count(_.failed))
    per("engine.task_run_s", taskRun)
    per("engine.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
    per("engine.gc_s", tasks.map(_.gcMs).sum / 1000.0)
    m("engine.busy_ratio") = if (exec == 0) 0.0 else taskRun / (exec * cores)
    per("engine.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum.toDouble)
    per("engine.shuffle_read_bytes", tasks.map(_.shuffleRead).sum.toDouble)
    per("engine.spill_bytes", tasks.map(_.spill).sum.toDouble)
    per("engine.input_bytes", tasks.map(_.input).sum.toDouble)
    per("engine.output_bytes", tasks.map(_.output).sum.toDouble)
    per("engine.exchanges", plans.map(_.exchanges).sum)
    per("engine.broadcast_joins", plans.map(_.broadcastJoins).sum)

    // stores are built once per JVM: whole-run figures
    for (k <- names if k.startsWith("stores.") && k.endsWith("_s"))
      out.layers.get(k).foreach(m(k) = _)
    m("stores.bytes") = storesBytes.toDouble

    def mean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    m("reuse.persisted_rdds") = mean(h.persistedRdds.map(_.toDouble))
    m("reuse.storage_bytes") = mean(h.storageBytes.map(_.toDouble))
    per("reuse.settle_s", h.settleSecs.sum)
    out.layers.get("dedup.ops_s").foreach(per("dedup.ops_s", _))
    out.layers.get("analytics.ops_s").foreach(per("analytics.ops_s", _))

    // listener spans, each under the innermost harness span of its op
    // that encloses its start: planning, jobs (stages under them), batches
    val harness = h.spans.toSeq.groupBy(_.op)
    def parentOf(op: Int, startMs: Double): Int =
      harness.getOrElse(op, Nil).filter(s => s.startMs <= startMs && startMs <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(0)
    val jobSpan = jobs.map { case (j, op) =>
      j.jobId -> h.addSpan(parentOf(op, j.startMs.toDouble), "engine.job", op,
        j.startMs.toDouble, j.endMs.toDouble)
    }.toMap
    val stageJob = jobs.flatMap { case (j, _) => j.stageIds.map(_ -> j.jobId) }.toMap
    stages.foreach(s => h.addSpan(jobSpan(stageJob(s.stageId)), "engine.stage",
      stageOp(s.stageId), s.startMs.toDouble, s.endMs.toDouble))
    plans.foreach { q =>
      val op = opAt(h, q.startMs)
      val planMs = q.phasesMs.filter(kv => planPhases(kv._1)).values.sum
      h.addSpan(parentOf(op, q.startMs.toDouble), "engine.plan", op, q.startMs.toDouble,
        (q.startMs + planMs).toDouble)
    }
    batches.foreach { b =>
      val op = opAt(h, b.atMs)
      h.addSpan(parentOf(op, b.atMs.toDouble), "streaming.batch", op, b.atMs.toDouble,
        (b.atMs + b.durationsMs.getOrElse("triggerExecution", 0L)).toDouble)
    }
    m
  }

  /** Self time per layer (`layer.function` → layer): a span's length
    * minus the part of it its children cover (children may overlap, so
    * their union), summed by layer.
    */
  def selfTimes(h: Harness): Map[String, Double] = {
    val children = h.spans.toSeq.groupBy(_.parent)
    def covered(s: Span): Double = {
      var end = s.startMs
      var total = 0.0
      for (c <- children.getOrElse(s.id, Nil).sortBy(_.startMs)) {
        val from = math.max(c.startMs, end)
        val to = math.min(c.endMs, s.endMs)
        if (to > from) { total += to - from; end = to }
      }
      total
    }
    h.spans.toSeq.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => s.endMs - s.startMs - covered(s)).sum / 1000.0
    }
  }

  def spansJson(h: Harness): String = Json.obj(Seq(
    "self_s" -> Json.obj(selfTimes(h).toSeq.sorted.map { case (k, v) => k -> Json.num(v) }),
    "spans" -> Json.arr(h.spans.toSeq.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "op" -> s.op.toString, "start_ms" -> Json.num(s.startMs),
      "end_ms" -> Json.num(s.endMs))))))) + "\n"
}
