package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns one traced pass's listener record into the per-layer metrics and
  * the span tree: workload → pass → key/op → {build, execute} → job →
  * stage, with streaming micro-batches under the half that ran them. */
object Layers {

  /** Total length of the union of [s, e) intervals, clipped to [lo, hi). */
  def unionMs(iv: Seq[(Long, Long)], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val cl = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var cs = Long.MinValue; var ce = Long.MinValue
    cl.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  private def sec(ms: Long): Double = ms / 1e3
  private val MB = 1048576.0

  def of(rec: Recorder, log: SpanLog, workload: String, pass: Int,
         w0: Long, w1: Long, wall: Double, cores: Int,
         ops: Seq[(String, Long, Long, OpTimer)]): mutable.Map[String, Any] = {
    val m = new mutable.LinkedHashMap[String, Any]
    val jobs = rec.jobs.asScala.toSeq.map { j =>
      (j, if (j.endMs < 0) w1 else j.endMs)
    }
    val jobIv = jobs.map { case (j, e) => (j.startMs, e) }
    val stages = rec.stageRecs
    val submitted = rec.submittedStages
    val totalStages = jobs.map(_._1.stageIds.size).sum
    val jobActive = sec(unionMs(jobIv, w0, w1))
    m("wall_s") = wall
    m("jobs") = jobs.size
    m("stages") = submitted.size
    m("stages_skipped_frac") =
      if (totalStages == 0) 0.0 else (totalStages - submitted.size).toDouble / totalStages
    m("tasks") = stages.map(_.tasks).sum
    m("job_active_s") = jobActive
    m("driver_only_s") = wall - jobActive
    val runS = stages.map(_.runMs).sum / 1e3
    m("task_run_s") = runS
    m("task_cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("task_gc_s") = stages.map(_.gcMs).sum / 1e3
    m("core_busy_frac") = if (wall > 0) runS / (wall * cores) else 0.0
    m("input_mb") = stages.map(_.inBytes).sum / MB
    m("input_rows") = stages.map(_.inRows).sum
    m("shuffle_write_mb") = stages.map(_.shWrite).sum / MB
    m("shuffle_read_mb") = stages.map(_.shRead).sum / MB
    m("spill_mb") = stages.map(_.spill).sum / MB
    Seq("cut", "fold", "schema", "write", "exec", "stream", "other").foreach { c =>
      val js = jobs.filter(_._1.cls == c)
      m(s"${c}_jobs") = js.size
      m(s"${c}_s") = sec(unionMs(js.map { case (j, e) => (j.startMs, e) }, w0, w1))
    }
    val builds = ops.flatMap(_._4.spans.filter(_._1 == "build"))
    m("build_s") = ops.map(_._4.buildNs).sum / 1e9
    m("execute_s") = ops.map(_._4.execNs).sum / 1e9
    m("build_jobs") = jobs.count { case (j, _) => builds.exists { case (_, s, e) => j.startMs >= s && j.startMs <= e } }

    // Catalyst phases of every action the QueryExecutionListener saw.
    val phases = rec.qes.asScala.toSeq.map(_.tracker.phases)
    def phase(n: String) = phases.flatMap(_.get(n)).map(_.durationMs).sum / 1e3
    m("plan_analysis_s") = phase("analysis")
    m("plan_optimize_s") = phase("optimization")
    m("plan_physical_s") = phase("planning")
    m("query_executions") = phases.size

    // Streaming micro-batches.
    val batches = rec.batches.asScala.toSeq.map(_.progress)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    m("micro_batches") = batches.size
    m("batch_planning_s") = batches.map(dur(_, "queryPlanning")).sum / 1e3
    m("batch_add_s") = batches.map(dur(_, "addBatch")).sum / 1e3
    m("batch_wal_commit_s") = batches.map(b => dur(b, "walCommit") + dur(b, "commitOffsets")).sum / 1e3
    m("state_store_commit_s") = batches.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1e3
    m("stream_state_rows") = batches.groupBy(_.id).values
      .map(_.maxBy(_.batchId).stateOperators.map(_.numRowsTotal).sum).sum

    // Span tree and per-layer self time.
    val passId = log.add(0, "pass", s"$workload/pass$pass", w0, w1)
    val batchIv = batches.map { b =>
      val s = java.time.Instant.parse(b.timestamp).toEpochMilli
      (s, s + dur(b, "triggerExecution"))
    }
    val halves = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (span id, start, end)
    var selfOp = 0L; var selfHalf = Map.empty[String, Long].withDefaultValue(0L)
    ops.foreach { case (name, s, e, t) =>
      val opId = log.add(passId, "op", name, s, e,
        Map("build_ms" -> t.buildNs / 1000000L, "execute_ms" -> t.execNs / 1000000L))
      selfOp += (e - s) - unionMs(t.spans.map(x => (x._2, x._3)), s, e)
      t.spans.foreach { case (kind, hs, he) =>
        halves += ((log.add(opId, kind, s"$name/$kind", hs, he), hs, he))
        selfHalf += kind -> (selfHalf(kind) + (he - hs) - unionMs(jobIv ++ batchIv, hs, he))
      }
    }
    def enclosing(t: Long): Long =
      halves.find { case (_, s, e) => t >= s && t <= e }.map(_._1).getOrElse(passId)
    val batchIds = batches.zip(batchIv).map { case (b, (s, e)) =>
      (log.add(enclosing(s), "batch", s"batch${b.batchId}", s, e,
        Map("durations_ms" -> b.durationMs.asScala.map { case (k, v) => k -> v.longValue })), s, e)
    }
    var selfJob = 0L; var selfStage = 0L
    val stagesByJob = stages.groupBy(_.jobId)
    jobs.foreach { case (j, e) =>
      val parent = batchIds.find { case (_, s, be) => j.startMs >= s && j.startMs <= be }
        .map(_._1).getOrElse(enclosing(j.startMs))
      val jid = log.add(parent, "job", s"job${j.id}", j.startMs, e, Map("layer" -> j.cls, "site" -> j.site))
      val st = stagesByJob.getOrElse(j.id, Nil).filter(x => x.submitMs > 0 && x.endMs > 0)
      selfJob += (e - j.startMs) - unionMs(st.map(x => (x.submitMs, x.endMs)), j.startMs, e)
      st.foreach { x =>
        log.add(jid, "stage", s"stage${x.id}", x.submitMs, x.endMs, Map("tasks" -> x.tasks))
        selfStage += x.endMs - x.submitMs
      }
    }
    val selfBatch = batchIds.map { case (_, s, e) => (e - s) - unionMs(jobIv, s, e) }.sum
    m("self.pass_s") = sec((w1 - w0) - unionMs(ops.map(o => (o._2, o._3)), w0, w1))
    m("self.op_s") = sec(selfOp)
    m("self.build_s") = sec(selfHalf("build"))
    m("self.execute_s") = sec(selfHalf("execute"))
    m("self.batch_s") = sec(selfBatch)
    m("self.job_s") = sec(selfJob)
    m("self.stage_s") = sec(selfStage)
    m
  }
}
