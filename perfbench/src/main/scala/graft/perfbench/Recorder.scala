package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job record, filled from listener events: `cls` is the layer
  * [[Recorder]] attributes the job to, `site` the graft frame it went by. */
final class JobRec(val id: Int, val startMs: Long, val cls: String, val site: String,
                   val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Task-level totals of one stage attempt. */
final class StageRec(val id: Int, val jobId: Int) {
  var submitMs = -1L; var endMs = -1L; var tasks = 0
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRows = 0L
  var shWrite = 0L; var shRead = 0L; var spill = 0L
}

/** Everything the traced run observes from outside graft, through Spark's
  * public listener interfaces only: a [[SparkListener]] (jobs, stages,
  * tasks), a [[QueryExecutionListener]] (Catalyst phase times and the
  * executed plan of every action) and a [[StreamingQueryListener]]
  * (micro-batch progress). Events arrive asynchronously; [[drain]] runs a
  * marked no-op job and waits until the bus has delivered it, so every
  * event posted before it has been seen. */
final class Recorder(spark: SparkSession) {

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val submitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val qes = new ConcurrentLinkedQueue[QueryExecution]()
  val batches = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  @volatile private var sentinelSeen = -1L
  private val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val JobDescription = "spark.job.description" // SparkContext.setJobDescription's key
  private val Sentinel = "perfbench-drain"

  private def description(p: java.util.Properties): String =
    if (p == null) "" else Option(p.getProperty(JobDescription)).getOrElse("")

  // Call site of each SQL execution, from its start event: jobs that AQE
  // or a broadcast submits from another thread carry only the execution id.
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** Layer of a job, with the graft frame it was attributed by: a
    * micro-batch; a parquet write (publishing state or output); schema
    * inference of a parquet read; a cut; the harness's own action (a
    * key's execute half); or any other graft-side action (a driver fold).
    * The first line of a long call site is the Spark API method called. */
  private def classify(p: java.util.Properties, infos: Seq[StageInfo]): (String, String) = {
    def prop(k: String) = Option(p).flatMap(pp => Option(pp.getProperty(k)))
    if (prop("sql.streaming.queryId").isDefined) return ("stream", "")
    val site = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .flatMap(id => Option(execSite.get(id.toLong)))
      .orElse(prop("callSite.long"))
      .orElse(infos.sortBy(_.stageId).lastOption.map(_.details)).getOrElse("")
    val lines = site.split("\n").map(_.trim)
    val api = lines.headOption.getOrElse("")
    val frame = lines.find(_.startsWith("graft.")).getOrElse("")
    val cls =
      if (frame.isEmpty) "other"
      else if (api.contains("DataFrameWriter")) "write"
      else if (api.contains("DataFrameReader")) "schema"
      else if (frame.contains("(Checkpoints.scala")) "cut"
      else if (frame.startsWith("graft.perfbench.")) "exec"
      else "fold"
    (cls, frame)
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execSite.put(x.executionId, x.details)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val d = description(e.properties)
      if (d.startsWith(Sentinel)) sentinelJobs.add(e.jobId)
      if (d.startsWith(Sentinel)) return
      e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
      val (cls, site) = classify(e.properties, e.stageInfos)
      jobs.add(new JobRec(e.jobId, e.time, cls, site, e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
      if (sentinelJobs.contains(e.jobId)) sentinelSeen = e.jobId
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (stageJob.containsKey(e.stageInfo.stageId)) submitted.add(e.stageInfo.stageId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (!stageJob.containsKey(si.stageId)) return
      val r = stage(si.stageId, si.attemptNumber())
      r.submitMs = si.submissionTime.getOrElse(-1L)
      r.endMs = si.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (!stageJob.containsKey(e.stageId) || e.taskMetrics == null) return
      val m = e.taskMetrics
      val r = stage(e.stageId, e.stageAttemptId)
      r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime; r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.inBytes += m.inputMetrics.bytesRead; r.inRows += m.inputMetrics.recordsRead
        r.shWrite += m.shuffleWriteMetrics.bytesWritten
        r.shRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.diskBytesSpilled
      }
    }
  }

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, stageJob.getOrDefault(id, -1)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Block until every event posted so far has been delivered. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(s"$Sentinel-${System.nanoTime()}")
    val before = sentinelSeen
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    val deadline = System.currentTimeMillis() + 10000
    while (sentinelSeen == before && System.currentTimeMillis() < deadline) Thread.sleep(2)
    // The streaming bus is a separate queue: give it a short quiet period.
    var n = -1
    while (n != batches.size && System.currentTimeMillis() < deadline) {
      n = batches.size; Thread.sleep(30)
    }
  }

  /** Forget everything recorded so far (between passes). */
  def reset(): Unit = {
    jobs.clear(); stages.clear(); submitted.clear(); qes.clear(); batches.clear()
    execSite.clear()
  }

  def stageRecs: Seq[StageRec] = stages.values.asScala.toSeq
  def submittedStages: Set[Int] = submitted.asScala.toSet
}
