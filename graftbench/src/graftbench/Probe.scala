package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the harness learns from Spark, through Spark's public
  * listener APIs only: per-job and per-stage task aggregates
  * ([[SparkListener]]), per-micro-batch progress
  * ([[StreamingQueryListener]]), planning phases of batch queries
  * ([[QueryExecutionListener]]) and heap-after-GC from the JVM's GC
  * notifications. Tasks are folded into their stage as they end, so
  * memory stays O(stages), not O(tasks). Installed in untraced runs too:
  * the end-to-end metrics need batch end times and bytes written. */
final class Probe(spark: SparkSession) {

  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L; var maxTaskMs = 0L
    var submitted = 0.0; var completed = 0.0
  }
  final case class Job(id: Int, start: Double, var end: Double,
      props: Map[String, String], stageIds: Seq[Int])
  final case class Progress(queryId: String, batchId: Long, start: Double,
      durations: Map[String, Long], rows: Long, endOffset: String)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val progress = ArrayBuffer.empty[Progress]
  private val terminated = ConcurrentHashMap.newKeySet[String]()
  private val plans = ArrayBuffer.empty[(Double, String, Double)]
  @volatile private var heapAfterGcPeak = 0L

  private def props(p: java.util.Properties): Map[String, String] =
    if (p == null) Map.empty
    else Seq("spark.sql.execution.id", "streaming.sql.batchId",
        "sql.streaming.queryId", "spark.jobGroup.id", "graftbench.span")
      .flatMap(k => Option(p.getProperty(k)).map(k -> _)).toMap

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, 0.0,
        props(e.properties), e.stageIds)): Unit
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = stageAgg(i.stageId, i.attemptNumber())
      a.synchronized {
        a.submitted = i.submissionTime.getOrElse(0L).toDouble
        a.completed = i.completionTime.getOrElse(0L).toDouble
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg(e.stageId, e.stageAttemptId)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
          a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
        }
      }
    }
  }

  private def stageAgg(id: Int, attempt: Int): StageAgg =
    stages.computeIfAbsent((id, attempt), _ => new StageAgg)

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      // a no-data trigger also reports progress; only executed batches
      // carry addBatch
      if (d.contains("addBatch")) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val end = p.sources.headOption.map(_.endOffset).orNull
        progress.synchronized {
          progress += Progress(p.id.toString, p.batchId, start, d,
            p.numInputRows, end)
        }
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.runId.toString): Unit
  }

  private val qe = new QueryExecutionListener {
    override def onSuccess(funcName: String, q: QueryExecution,
        durationNs: Long): Unit = {
      val ms = q.tracker.phases.values.map(_.durationMs).sum.toDouble
      plans.synchronized { plans += ((Clock.nowMs, funcName, ms)) }
    }
    override def onFailure(funcName: String, q: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val gcListener: javax.management.NotificationListener =
    (n: javax.management.Notification, _: AnyRef) => {
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val heapPools = java.lang.management.ManagementFactory
          .getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > heapAfterGcPeak) heapAfterGcPeak = used
      }
    }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streams)
  spark.listenerManager.register(qe)
  java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener(gcListener, null, null)
      case _ =>
    }

  /** Block until every event posted before this call has been delivered:
    * Spark's listener queues are FIFO, so once a marker job's end has
    * arrived, so has every earlier task end. */
  def flush(): Unit = {
    val group = s"graftbench-flush-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "listener flush")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = jobs.values.asScala.exists(j =>
      j.props.get("spark.jobGroup.id").contains(group) && j.end > 0)
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Wait until the terminated event of streaming run `runId` arrived:
    * progress events of that run are delivered before it. */
  def awaitTerminated(runId: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!terminated.contains(runId) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  def progressOf(queryId: String): Seq[Progress] =
    progress.synchronized(progress.filter(_.queryId == queryId).toSeq)
      .sortBy(_.batchId)

  def heapAfterGcPeakMb: Double = heapAfterGcPeak / 1048576.0

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start" -> j.start, "end" -> j.end, "props" -> j.props,
      "stages" -> j.stageIds)),
    "stages" -> stages.asScala.toSeq.sortBy(_._1).map { case ((id, at), a) =>
      a.synchronized(Map("id" -> id, "attempt" -> at, "tasks" -> a.tasks,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
        "spill" -> a.spill, "input" -> a.input, "output" -> a.output,
        "max_task_ms" -> a.maxTaskMs, "submitted" -> a.submitted,
        "completed" -> a.completed))
    },
    "plans" -> plans.synchronized(plans.toSeq).map { case (t, f, ms) =>
      Map("time" -> t, "func" -> f, "ms" -> ms) },
    "heap_after_gc_peak_mb" -> heapAfterGcPeakMb)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(qe)
  }
}
