package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.model.{PipelineSpec, Route}
import graft.sources.FileTopicLog
import graft.streaming.{PipelineManager, ReplicationPipeline}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** replicate_live: one route from a [[FileTopicLog]] through
  * `format("graft-topiclog")` and [[ReplicationPipeline]] into a parquet
  * sink, fed by an open-loop producer. The transform renames the first
  * topic, remaps every partition onto 8 destination partitions and drops
  * null values. */
object Replicate {

  val DstPartitions = 8

  val LiveTopics = 8
  val LiveParts = 4
  val LiveRate = 5000
  val TickMs = 100
  val TickGroups = 5
  val ProbeRecords = 32768
  /** Open loop before the window. Batch times keep falling for the first
    * ~15 s of a fresh JVM (measured on 4 cores: a cold first batch of
    * ~4 s, then ~700 ms falling to ~450 ms); a window that starts earlier
    * measures how fast the JVM warms up, which swings with host load. */
  val LiveWarmupS = 15.0
  val RouteStarts = 3

  def topics(n: Int): IndexedSeq[String] = IndexedSeq.tabulate(n)(i => f"topic$i%02d")

  def spec(name: String, ts: IndexedSeq[String]): PipelineSpec = {
    val renamed = s"${ts.head}_dst"
    PipelineSpec(name, Route("src", "dst", 1), topics = ts,
      topicMapping = Map(ts.head -> renamed),
      dstPartitionCounts = (ts.tail :+ renamed).map(_ -> DstPartitions).toMap)
  }

  def dstOf(sp: PipelineSpec, topic: String, p: Int): (String, Int) =
    (sp.topicMapping.getOrElse(topic, topic), Math.floorMod(p, DstPartitions))

  def source(ctx: Ctx, root: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(ctx.spark.readStream.format("graft-topiclog")
      .option("path", root)) { case (r, (k, v)) => r.option(k, v) }.load()

  /** A backlog of `records` records spread evenly over the partitions of
    * `ts`. */
  def produceBacklog(root: String, ts: IndexedSeq[String], seed: Long,
      records: Int): Unit = {
    FileTopicLog.setWhitelist(root, ts)
    val r = Gen.rng(seed, 1)
    for (ti <- ts.indices; p <- 0 until LiveParts)
      FileTopicLog.append(root, ts(ti), p,
        Array.fill(records / (ts.size * LiveParts))(Gen.record(r, ti, p, 1700000000000L)))
  }

  /** operators.transform_ms: capture one raw micro-batch of a fresh
    * backlog as parquet, then time `ReplicationPipeline.transform` over it
    * as a batch DataFrame into a noop sink, beside a plain read of the
    * same rows. */
  private def transformProbe(ctx: Ctx, ts: IndexedSeq[String], sp: PipelineSpec): Unit = {
    val root = ctx.dir("probe_log")
    produceBacklog(root, ts, ctx.seed + 1, ProbeRecords)
    val raw = ctx.dir("raw_batch")
    val q = source(ctx, root)
      .writeStream
      .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
        if (id == 0L) df.write.parquet(raw)
        ()
      }
      .option("checkpointLocation", ctx.dir("ckpt_raw"))
      .start()
    while (q.lastProgress == null && q.isActive) Thread.sleep(10)
    q.stop()
    def timed(f: => Unit): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e6 }
    val df = ctx.spark.read.parquet(raw)
    val read = Seq.fill(3)(ctx.trace.span("operators", "read batch") {
      timed(df.write.format("noop").mode("overwrite").save()) })
    val tr = Seq.fill(3)(ctx.trace.span("operators", "transform batch") {
      ctx.tagJobs()
      timed(ReplicationPipeline.transform(df, sp)
        .write.format("noop").mode("overwrite").save())
    })
    ctx.layer("transform_ms") = tr
    ctx.layer("transform_read_ms") = read
    ctx.layer("transform_rows") = df.count()
  }

  // ---- output check ----

  /** Every produced non-null record landed exactly once, at its mapped
    * destination (topic, partition); no null value survived. Per
    * destination partition: count plus two hash sums over (source topic,
    * source partition, offset, value). Returns the number of records
    * found missing, duplicated or wrong. */
  def checkRoute(ctx: Ctx, outDir: String, sp: PipelineSpec,
      ts: IndexedSeq[String], exp: Gen.Expected): Long = {
    def h(seed: Int) = udf((t: String, p: Int, o: Long, v: Array[Byte]) =>
      if (v == null || t == null) 0L else Gen.recHash(t, p, o, v, seed))
    val src = ctx.spark.read.parquet(outDir)
      .withColumn("k", col("key").cast("string"))
      .withColumn("src_topic",
        element_at(typedLit(ts), substring(col("k"), 1, 2).cast("int") + 1))
      .withColumn("src_part", substring(col("k"), 3, 2).cast("int"))
      .withColumn("exp_topic", coalesce(
        element_at(typedLit(sp.topicMapping), col("src_topic")), col("src_topic")))
    val args = Seq(col("src_topic"), col("src_part"), col("offset"), col("value"))
    val obs = src.groupBy("topic", "partition").agg(
        count(lit(1)),
        sum(h(Gen.HashSeeds._1)(args: _*)),
        sum(h(Gen.HashSeeds._2)(args: _*)),
        sum(when(col("value").isNull, 1L).otherwise(0L)),
        sum(when(col("topic") =!= col("exp_topic") || col("src_topic").isNull ||
          col("partition") =!= pmod(col("src_part"), lit(DstPartitions)), 1L)
          .otherwise(0L)))
      .collect()
      .map((r: Row) => (r.getString(0), r.getInt(1)) ->
        Array(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    var failed = 0L
    for (k <- obs.keySet ++ exp.perDst.keySet) {
      val o = obs.getOrElse(k, Array(0L, 0L, 0L, 0L, 0L))
      val e = exp.perDst.getOrElse(k, Array(0L, 0L, 0L))
      val dCount = math.abs(o(0) - e(0))
      val sumsDiffer = o(1) != e(1) || o(2) != e(2)
      failed += (if (dCount > 0) dCount else if (sumsDiffer) 1L else 0L) + o(3) + o(4)
    }
    ctx.checks("route") = Map("dst_partitions" -> obs.size,
      "expected_rows" -> exp.perDst.values.map(_(0)).sum,
      "observed_rows" -> obs.values.map(_(0)).sum,
      "nulls_expected_dropped" -> exp.nulls, "failed" -> failed)
    failed
  }

  // ---- replicate_live ----

  /** Open-loop producer: one thread appends `LiveRate` records/s on a
    * fixed tick, whatever the route is doing. The partitions take turns:
    * each tick appends to one of `TickGroups` groups, so every partition
    * gets a chunk every `TickGroups` ticks while the input as a whole
    * arrives evenly, and a tick's appends (~1 ms each) fit well inside it.
    * Each record carries its tick's due time; lateness is how far the
    * producer started a tick after it was due. */
  final class Producer(ctx: Ctx, root: String, ts: IndexedSeq[String],
      sp: PipelineSpec) extends Thread("graftbench-producer") {
    val exp = new Gen.Expected
    val ticks = ArrayBuffer.empty[(Double, Array[Long], Array[Long])]
    val lateMs = ArrayBuffer.empty[Double]
    val appendMs = ArrayBuffer.empty[Double]
    var appendBytes = 0L
    @volatile var error: Throwable = null
    @volatile var t0 = 0.0
    @volatile var stopAt = 0.0
    private val nTp = ts.size * LiveParts
    // records per round of all groups
    private val perRound = LiveRate.toLong * TickMs * TickGroups / 1000
    private val r = Gen.rng(ctx.seed, 2)
    private val ends = Array.fill(nTp)(0L)

    /** Append one tick's records, due at `due`, to the partitions of
      * group `g`. */
    def tick(due: Double, g: Int): Unit = {
      val starts = ends.clone()
      ctx.trace.span("gen", "tick", Map("due" -> due)) {
        for (i <- g until nTp by TickGroups) {
          val ti = i / LiveParts
          val p = i % LiveParts
          val n = (perRound * (i + 1) / nTp - perRound * i / nTp).toInt
          val recs = Array.fill(n)(Gen.record(r, ti, p, due.toLong))
          recs.zipWithIndex.foreach { case (rec, j) =>
            exp.add(dstOf(sp, ts(ti), p), ts(ti), p, ends(i) + j, rec.value)
            appendBytes += rec.key.length + Option(rec.value).map(_.length).getOrElse(0) + 8 + 3
          }
          val s = System.nanoTime()
          ends(i) = ctx.trace.span("sources", "append") {
            FileTopicLog.append(root, ts(ti), p, recs)
          }
          appendMs += (System.nanoTime() - s) / 1e6
        }
      }
      ticks += ((due, starts, ends.clone()))
    }

    override def run(): Unit = try {
      var k = 0
      while (t0 + k.toLong * TickMs < stopAt) {
        val due = t0 + k.toLong * TickMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        lateMs += Clock.nowMs - due
        tick(due, k % TickGroups)
        k += 1
      }
    } catch { case t: Throwable => error = t }
  }

  def live(ctx: Ctx): Unit = {
    val ts = topics(LiveTopics)
    val sp = spec("live", ts)
    val root = ctx.dir("log")
    val out = ctx.dir("out")
    val ckpt = ctx.dir("ckpt")
    FileTopicLog.setWhitelist(root, ts)
    val mgr = new PipelineManager(ctx.spark)
    val starter = (s: PipelineSpec) =>
      ReplicationPipeline.parquetSink(ReplicationPipeline.transform(
        source(ctx, root, "truncateOnCommit" -> "true", "groupId" -> "graftbench"), s),
        out, ckpt, availableNow = false).start()
    val starts = ArrayBuffer.empty[Double]
    var q: StreamingQuery = null
    ctx.phase("setup") {
      for (i <- 0 until RouteStarts) ctx.setupRep {
        ctx.tagJobs()
        val s = Clock.nowMs
        q = ctx.trace.span("streaming", "route start")(mgr.start(sp)(starter))
        starts += Clock.nowMs - s
        if (i < RouteStarts - 1) mgr.stop(sp.name)
      }
    }
    val producer = new Producer(ctx, root, ts, sp)
    val warm = System.nanoTime()
    ctx.phase("warmup") {
      producer.t0 = Clock.nowMs + TickMs
      ctx.windowStart = producer.t0 + LiveWarmupS * 1000
      producer.stopAt = ctx.windowStart + ctx.seconds * 1000
      producer.start()
      Thread.sleep(math.max(0L, (ctx.windowStart - Clock.nowMs).toLong))
    }
    ctx.warmupS = (System.nanoTime() - warm) / 1e9
    ctx.phase("timed") {
      producer.join()
      ctx.windowEnd = Clock.nowMs
      // the route catches up on what was produced before the window closed
      q.processAllAvailable()
    }
    if (producer.error != null) throw producer.error
    var stopMs = 0.0
    ctx.phase("check") {
      val s = Clock.nowMs
      ctx.trace.span("streaming", "route stop")(mgr.stop(sp.name))
      stopMs = Clock.nowMs - s
      ctx.probe.awaitTerminated(q.runId.toString)
      ctx.batchUnits(q.id.toString, producer.t0)
      ctx.attempted = producer.exp.produced
      ctx.failed = checkRoute(ctx, out, sp, ts, producer.exp)
      val (logBytes, _) = Ctx.du(root)
      ctx.bytesWritten = Ctx.du(out)._1 + Ctx.du(ckpt)._1 + logBytes
      ctx.layer("log_bytes_end") = logBytes
    }
    ctx.extra("tps") = for (t <- ts; p <- 0 until LiveParts) yield s"$t:$p"
    ctx.extra("ticks") = producer.ticks.map { case (d, s, e) =>
      Map("due" -> d, "starts" -> s.toSeq, "ends" -> e.toSeq) }.toSeq
    ctx.layer("route_start_ms") = starts.toSeq
    ctx.layer("route_stop_ms") = Seq(stopMs)
    ctx.layer("gen_late_ms") = producer.lateMs.toSeq
    ctx.layer("tick_ms") = TickMs
    ctx.layer("append_ms") = producer.appendMs.toSeq
    ctx.layer("append_bytes") = producer.appendBytes
    if (ctx.trace.enabled) ctx.phase("layers")(transformProbe(ctx, ts, sp))
  }
}
