package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

/** What one measurement phase produced: the end-to-end figures, the
  * correctness tally, and what the traced run reads its layers from. */
final case class Measured(
    throughput: Double, p50Ms: Double, tailMs: Double,
    attempted: Long, failed: Long,
    progress: Seq[StreamingQueryProgress],
    sinkFiles: Long, sinkBytes: Long, sinkRecords: Long, dlqRecords: Long,
    sourceBytes: Long, warmWall: Double)

/** Closed loop: drain a pre-generated KPL backlog with
  * `Trigger.AvailableNow` at a fixed `maxRecordsPerTrigger`, each drain
  * into a fresh sink and checkpoint. The backlog is sized so one drain
  * lasts about 15 s; a run makes one drain per 15 s of `seconds` (at
  * least one), a fixed count, so every run times the same triggers. A
  * drain of a small separate backlog first warms the session; it is
  * verified but not timed. */
final class RelayDrain(work: Path, seed: Long, prm: Map[String, String]) {
  private val feedParams = FeedParams(
    shards = prm("shards").toInt, kplFactor = prm("kpl_factor").toInt,
    payloadBytes = prm("payload_bytes").toInt, passFrac = prm("pass_frac").toDouble,
    corruptFrac = prm("corrupt_frac").toDouble)
  private val filesPerShard = prm("files_per_shard").toInt
  private val linesPerFile = prm("lines_per_file").toInt
  private val warmLinesPerFile = prm("warm_lines_per_file").toInt
  private val maxPerTrigger = prm("max_records_per_trigger").toLong
  val src: Path = work.resolve("drain-src")
  val warmSrc: Path = work.resolve("drain-warm")
  var manifest: Manifest = _
  var warmManifest: Manifest = _
  private var srcBytes = 0L
  private var runs = 0

  def generate(): Unit = {
    Common.deleteTree(src); Common.deleteTree(warmSrc)
    val feed = new ArcFeed(feedParams, seed)
    val (m, b) = Relay.backlog(feed, feedParams, src, filesPerShard, linesPerFile, stream = 0)
    manifest = m; srcBytes = b
    warmManifest = Relay.backlog(feed, feedParams, warmSrc, 1, warmLinesPerFile, stream = feedParams.shards)._1
  }

  /** One drain of `from` (the main backlog by default); returns (wall
    * seconds, query id, sink files). */
  def drainOnce(spark: SparkSession, from: Path = src): (Double, java.util.UUID, Seq[Relay.SinkFile]) = {
    runs += 1
    val sink = work.resolve(s"drain-sink-$runs")
    val ckpt = work.resolve(s"drain-ckpt-$runs")
    val t0 = System.nanoTime()
    val q = Relay.start(Relay.relayFrame(Relay.readStream(spark, from, maxPerTrigger)),
      sink, ckpt, Trigger.AvailableNow())
    q.awaitTermination()
    val wall = Common.secondsSince(t0)
    q.exception.foreach(e => throw e)
    Trace.drain(spark)
    val files = Relay.readSink(sink)
    Common.deleteTree(sink); Common.deleteTree(ckpt)
    (wall, q.id, files)
  }

  def measure(spark: SparkSession, pr: ProgressRecorder, seconds: Double): Measured = {
    val (warmWall, _, warmOut) = drainOnce(spark, warmSrc)
    var failed = Relay.wrongRecords(warmManifest, warmOut)
    var attempted = warmManifest.userRecords
    val walls = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    var files, bytes, records, dlq = 0L
    (1 to math.max(1, (seconds / 15).toInt)).foreach { _ =>
      val (wall, id, out) = drainOnce(spark)
      walls += wall
      progress ++= Trace.batches(pr.forQuery(id))
      files += out.size
      bytes += out.map(_.bytes).sum
      records += out.filter(_.shard < Relay.OutShards).map(_.lines.size.toLong).sum
      dlq += Relay.dlqCount(out)
      failed += Relay.wrongRecords(manifest, out)
      attempted += manifest.userRecords
    }
    val triggerMs = progress.map(p => Trace.dur(p, "triggerExecution")).toSeq
    System.err.println(s"[perfbench] ${walls.size} drains, trigger ms ${triggerMs.map(_.toLong).mkString(" ")}")
    Measured(
      throughput = manifest.userRecords * walls.size / walls.sum,
      p50Ms = Common.median(triggerMs), tailMs = Common.quantile(triggerMs, 0.9),
      attempted = attempted, failed = failed, progress = progress.toSeq,
      sinkFiles = files, sinkBytes = bytes, sinkRecords = records, dlqRecords = dlq,
      sourceBytes = srcBytes * walls.size, warmWall = warmWall)
  }
}

/** Set-up, measurement and tracing of the relay drain. */
final class RelayRun(w: RelayDrain, work: Path, cpus: Int, seconds: Double, jvmBootS: Double) {

  private def setupOnce(spans: Option[SpanLog]): (SparkSession, Option[JobRecorder], ProgressRecorder, Double) = {
    val t0 = System.nanoTime()
    val spark = Common.session(cpus, work)
    spark.sparkContext.setLogLevel("WARN")
    val jr = spans.map { log =>
      val j = new JobRecorder(Some(log)); spark.sparkContext.addSparkListener(j); j
    }
    val pr = new ProgressRecorder
    spark.streams.addListener(pr)
    Common.warmUp(spark)
    w.generate()
    (spark, jr, pr, Common.secondsSince(t0))
  }

  private def e2e(m: Measured, setupS: Double, rssMb: Double): Common.Metrics = {
    val out = new Common.Metrics
    out.put("setup_s", setupS, "s")
    out.put("peak_rss_mb", rssMb, "MB")
    out.put("throughput_per_s", m.throughput, "1/s")
    out.put("latency_p50_ms", m.p50Ms, "ms")
    out.put("latency_tail_ms", m.tailMs, "ms")
    out
  }

  def run(traced: Boolean): Main.Result = {
    var session: SparkSession = null
    var pr: ProgressRecorder = null
    val setups = (1 to Main.SetupReps).map { _ =>
      if (session != null) Common.stop(session)
      val (s, _, p, t) = setupOnce(None)
      session = s; pr = p
      t
    }
    val setupS = jvmBootS + Common.median(setups)
    val untraced = w.measure(session, pr, seconds)
    val plain = e2e(untraced, setupS, Common.peakRssMb())
    Common.logContext(session, cpus)
    Common.stop(session)
    if (!traced)
      return Main.Result(untraced.failed == 0, untraced.attempted, untraced.failed, plain)

    val spans = new SpanLog
    val (spark, jrOpt, prT, setupTraced) = setupOnce(Some(spans))
    val jr = jrOpt.get
    val m = w.measure(spark, prT, seconds)
    val tracedE2e = e2e(m, jvmBootS + setupTraced, Common.peakRssMb())
    Trace.addTriggerSpans(spans, m.progress)

    val batches = m.progress
    def meanDur(k: String) = Common.mean(batches.map(p => Trace.dur(p, k)))
    val epochGroups = batches.map(p => Trace.epochKey(p.id.toString, p.batchId)).toSet
    val epochJobs = jr.all.filter(j => epochGroups.contains(j.group))
    val perTrigger = math.max(1, batches.size).toDouble

    val tPlan = Common.nowMs()
    val planMs = Relay.planDirectMs(w.src, 5)
    spans.add("direct.plan", "", "direct", "direct.sharded_plan", tPlan.toDouble, Common.nowMs().toDouble)
    val tDec = Common.nowMs()
    val (nsKpl, nsGunzip) = Relay.directDecode(w.src)
    spans.add("direct.decode", "", "direct", "direct.kpl_gunzip", tDec.toDouble, Common.nowMs().toDouble)
    val (stages, counts) = Relay.prefixRuns(spark, w.src, work.resolve("prefix-sink"), spans)
    Common.deleteTree(work.resolve("prefix-sink"))

    val layers = new Common.Metrics
    layers.put("sharded.latest_offset_ms", meanDur("latestOffset"), "ms")
    layers.put("sharded.plan_direct_ms", planMs, "ms")
    layers.put("sharded.files", Files.walk(w.src).filter(f => Files.isRegularFile(f)).count().toDouble, "count")
    layers.put("sharded.lag_records", Common.mean(batches.map { p =>
      val s = p.sources.head
      (Trace.offsetTotal(s.latestOffset) - Trace.offsetTotal(s.endOffset)).toDouble
    }), "count")
    layers.put("sharded.records_read", batches.map(_.numInputRows.toDouble).sum, "count")
    layers.put("sharded.read_mb", m.sourceBytes / 1e6, "MB")
    Seq("kpl.aggregates", "kpl.user_records", "kpl.corrupt_aggregates")
      .foreach(k => layers.put(k, counts(k), "count"))
    layers.put("kpl.ns_per_aggregate", nsKpl, "ns")
    Seq("decode.records", "decode.undecodable").foreach(k => layers.put(k, counts(k), "count"))
    layers.put("decode.decompressed_mb", counts("decode.decompressed_mb"), "MB")
    layers.put("decode.ns_per_record", nsGunzip, "ns")
    Seq("arc.total_records", "arc.corrupt_records", "arc.passed").foreach(k => layers.put(k, counts(k), "count"))
    layers.put("arc.pass_ratio", counts("arc.pass_ratio"), "ratio")
    stages.foreach { case (k, v) => layers.put(k, v, "s") }
    layers.put("sink.files_per_epoch", m.sinkFiles / perTrigger, "count")
    layers.put("sink.bytes_written", m.sinkBytes.toDouble, "bytes")
    layers.put("sink.records_written", m.sinkRecords.toDouble, "count")
    layers.put("dlq.records", m.dlqRecords.toDouble, "count")
    layers.put("engine.query_planning_ms", meanDur("queryPlanning"), "ms")
    layers.put("engine.add_batch_ms", meanDur("addBatch"), "ms")
    layers.put("engine.wal_commit_ms", meanDur("walCommit"), "ms")
    layers.put("engine.commit_offsets_ms", meanDur("commitOffsets"), "ms")
    layers.put("engine.jobs_per_trigger", epochJobs.size / perTrigger, "count")
    layers.put("engine.tasks_per_trigger", epochJobs.map(_.tasks).sum / perTrigger, "count")
    layers.put("engine.triggers", batches.size.toDouble, "count")

    // single-core baseline: the warm-up backlog drained in a fresh local[1]
    // session, against the traced phase's local[4] drain of it (the JIT was
    // already warm from the untraced phase)
    Common.stop(spark)
    val one = Common.session(1, work)
    one.sparkContext.setLogLevel("WARN")
    val (wall1, _, files1) = w.drainOnce(one, w.warmSrc)
    val wrong1 = Relay.wrongRecords(w.warmManifest, files1)
    Common.stop(one)
    layers.put("scaling.relay_speedup", wall1 / m.warmWall, "ratio")

    val self = spans.selfTimesMs
    Seq("trigger", "job", "stage", "task").foreach(n => layers.put(s"self.${n}_ms", self.getOrElse(n, 0.0), "ms"))
    plain.names.foreach { k =>
      layers.put(s"overhead.$k", tracedE2e.get(k).get - plain.get(k).get, if (k == "setup_s") "s" else "delta")
    }
    spans.write(work.getParent.resolve(s"${work.getFileName}-spans.json"))
    val failed = untraced.failed + m.failed + wrong1
    Main.Result(failed == 0, untraced.attempted + m.attempted + w.warmManifest.userRecords, failed, layers)
  }
}
