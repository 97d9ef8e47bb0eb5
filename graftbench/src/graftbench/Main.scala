package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-run state shared by the workloads: the session, the probes, and
  * the raw measurements that `run.py` turns into metrics. */
final class Ctx(val spark: SparkSession, val probe: Probe, val trace: Trace,
    val seed: Long, val seconds: Double, val cpus: Int, val work: String) {

  val phases = ArrayBuffer.empty[Map[String, Any]]
  /** Seconds of each repetition of the workload's set-up step. */
  val setupReps = ArrayBuffer.empty[Double]
  var warmupS = 0.0
  /** Units of timed work: micro-batches, or whole funnel runs. Each has
    * start/end (epoch ms), due (when its input was available) and rows. */
  val units = ArrayBuffer.empty[Map[String, Any]]
  var windowStart = 0.0
  var windowEnd = 0.0
  var records = 0L
  var bytesWritten = 0L
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Any]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  private val batchSpans = mutable.Map.empty[(String, Long), Int]

  def phase[A](name: String)(body: => A): A = {
    val s = Clock.nowMs
    try trace.span("bench", name)(body)
    finally phases += Map("name" -> name, "start" -> s, "end" -> Clock.nowMs)
  }

  /** One timed repetition of the set-up step. */
  def setupRep[A](body: => A): A = {
    val s = System.nanoTime()
    try body finally setupReps += (System.nanoTime() - s) / 1e9
  }

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Ctx.deleteTree(p)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** The executed micro-batches of streaming query `queryId` as units,
    * each due at `dueMs`; in a traced run each also becomes a span whose
    * children are its `durationMs` phases laid end to end, in the order
    * MicroBatchExecution runs them. */
  def batchUnits(queryId: String, dueMs: Double): Seq[Map[String, Any]] = {
    val out = probe.progressOf(queryId).map { p =>
      val end = p.start + p.durations.getOrElse("triggerExecution", 0L)
      if (trace.enabled) {
        val id = trace.add("streaming", s"micro-batch ${p.batchId}", p.start,
          end, trace.current, Map("batch" -> p.batchId, "rows" -> p.rows))
        batchSpans((queryId, p.batchId)) = id
        var t = p.start
        for (k <- Ctx.BatchPhases; d <- p.durations.get(k)) {
          trace.add("streaming", k, t, t + d, id)
          t += d
        }
      }
      Map("kind" -> "batch", "query" -> queryId, "batch" -> p.batchId,
        "start" -> p.start, "end" -> end, "due" -> dueMs, "rows" -> p.rows,
        "durations" -> p.durations, "end_offset" -> p.endOffset)
    }
    units ++= out
    out
  }

  /** Spark jobs and stages as spans under the micro-batch or harness
    * span that caused them. */
  def linkSparkSpans(): Unit = if (trace.enabled) {
    val json = probe.toJson
    val stageSpan = json("stages").asInstanceOf[Seq[Map[String, Any]]]
      .map(s => s("id").asInstanceOf[Int] -> s).toMap
    for (j <- json("jobs").asInstanceOf[Seq[Map[String, Any]]]) {
      val props = j("props").asInstanceOf[Map[String, String]]
      val parent = (for (q <- props.get("sql.streaming.queryId");
          b <- props.get("streaming.sql.batchId");
          id <- batchSpans.get((q, b.toLong))) yield id)
        .orElse(props.get("graftbench.span").map(_.toInt)).getOrElse(0)
      val end = j("end").asInstanceOf[Double]
      val jid = trace.add("spark", s"job ${j("id")}",
        j("start").asInstanceOf[Double], if (end > 0) end else Clock.nowMs,
        parent, props.get("spark.sql.execution.id")
          .map(e => Map[String, Any]("execution" -> e)).getOrElse(Map.empty))
      for (sid <- j("stages").asInstanceOf[Seq[Int]]; s <- stageSpan.get(sid)
           if s("submitted").asInstanceOf[Double] > 0)
        trace.add("spark", s"stage $sid", s("submitted").asInstanceOf[Double],
          s("completed").asInstanceOf[Double], jid,
          Map("tasks" -> s("tasks")))
    }
  }

  /** Make jobs submitted from this thread carry the current span. */
  def tagJobs(): Unit = if (trace.enabled)
    spark.sparkContext.setLocalProperty("graftbench.span", trace.current.toString)
}

object Ctx {
  val BatchPhases: Seq[String] = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

  def du(p: String): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally walk.close()
    }
  }
}

/** Host stamp from inside the JVM (run.py adds loadavg and steal), so a
  * contended run is flagged. */
object Host {
  /** Java processes other than this one and its ancestors (the same
    * rule as graft.Bench's contention guard). */
  def otherJavaProcs(): Int =
    try {
      var ancestors = Set(ProcessHandle.current().pid())
      var p = ProcessHandle.current().parent()
      while (p.isPresent) { ancestors += p.get.pid(); p = p.get.parent() }
      ProcessHandle.allProcesses().filter { h =>
        !ancestors.contains(h.pid()) &&
        h.info().command().map[Boolean](c => c.endsWith("/java") || c == "java").orElse(false)
      }.count().toInt
    } catch { case _: Throwable => -1 }

  def stamp(): Map[String, Any] = Map(
    "cpus" -> Runtime.getRuntime.availableProcessors(),
    "rival_jvms" -> otherJavaProcs())
}

/** Runs one workload and writes its raw measurements as JSON.
  * Arguments: --workload --seed --seconds --trace --cpus --work --out
  * --t0-ms (epoch ms at which the launcher started this JVM). */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val traced = o("trace") == "1"
    val hostStart = Host.stamp()
    val trace = new Trace(traced, s"$workload-${o("seed")}-${ProcessHandle.current().pid()}")
    val spark = trace.span("jvm", "session") {
      graft.Sessions.local("graftbench", o("cpus"))
    }
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = Clock.nowMs
    val probe = new Probe(spark)
    val ctx = new Ctx(spark, probe, trace, o("seed").toLong,
      o("seconds").toDouble, o("cpus").toInt, o("work"))
    trace.span("bench", workload) {
      workload match {
        case "replicate_live" => Replicate.live(ctx)
        case "curate_batch" => Curate.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    probe.flush()
    ctx.linkSparkSpans()
    val out = Map[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> traced,
      "seconds" -> ctx.seconds, "cpus" -> ctx.cpus,
      "t0_ms" -> o("t0-ms").toDouble, "session_ready_ms" -> sessionReady,
      "setup_reps_s" -> ctx.setupReps.toSeq, "warmup_s" -> ctx.warmupS,
      "phases" -> ctx.phases.toSeq,
      "window" -> Map("start" -> ctx.windowStart, "end" -> ctx.windowEnd),
      "units" -> ctx.units.toSeq, "records" -> ctx.records,
      "bytes_written" -> ctx.bytesWritten,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "checks" -> ctx.checks.toMap, "layer" -> ctx.layer.toMap,
      "extra" -> ctx.extra.toMap, "probe" -> probe.toJson,
      "spans" -> trace.toJson, "trace_overhead_ms" -> trace.overheadMs,
      "host" -> Map("start" -> hostStart, "end" -> Host.stamp()))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(o("out")), mapper.writeValueAsBytes(out))
    probe.close()
    spark.stop()
  }
}
