package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.{Decode, GzipCodec}
import graft.operators.ArcPipeline
import graft.sources.Kpl
import graft.sources.sharded.ShardedMicroBatchStream

/** The relay as a user composes it from the engine's public entry
  * points: sharded DSv2 source → KPL deaggregate → Arc pipeline →
  * sharded DSv2 sink, survivors hash-sharded by doc id over `OutShards`
  * shards and dead letters on the extra shard `OutShards` (the DLQ). */
object Relay {
  val Fmt: String = classOf[graft.sources.sharded.ShardedStreamProvider].getName
  val Cfg: ArcPipeline.FilterConfig = ArcPipeline.FilterConfig()
  val OutShards = 4

  def sinkFrame(out: DataFrame, dlq: DataFrame): DataFrame = {
    val good = out.select(
      pmod(xxhash64(col("doc_id")), lit(OutShards)).cast("int").as("shard"),
      lit(0L).as("seq"),
      to_json(struct(out.columns.map(col).toIndexedSeq: _*)).as("payload"))
    val dead = dlq.select(
      lit(OutShards).as("shard"), lit(0L).as("seq"),
      to_json(struct(col("error"), col("payload"))).as("payload"))
    good.unionByName(dead)
  }

  /** Base64 KPL lines → user records (corrupt aggregates keep one row
    * with `decode_ok = false` and empty data, which the Arc decoder then
    * dead-letters as undecodable). */
  def kplUsers(lines: DataFrame): DataFrame =
    Kpl.deaggregateRecords(lines.select(
      (col("shard").cast("long") * 1000000000L + col("seq")).as("agg_id"),
      unbase64(col("payload")).as("payload"))).toDF()

  def pipeline(lines: DataFrame, obs: Option[Observation] = None): (DataFrame, DataFrame) =
    ArcPipeline.runRecords(kplUsers(lines).select(col("data").as("payload")), Cfg, obs)

  def relayFrame(lines: DataFrame): DataFrame = {
    val (out, dlq) = pipeline(lines)
    sinkFrame(out, dlq)
  }

  def readStream(spark: SparkSession, src: Path, maxPerTrigger: Long): DataFrame =
    spark.readStream.format(Fmt).option("path", src.toString)
      .option("maxRecordsPerTrigger", maxPerTrigger.toString).load()

  def start(frame: DataFrame, sink: Path, ckpt: Path, trigger: Trigger): StreamingQuery =
    frame.writeStream.format(Fmt)
      .option("path", sink.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(trigger)
      .start()

  // --- reading the sink back ------------------------------------------------

  final case class SinkFile(epoch: Long, shard: Int, bytes: Long, lines: Seq[String])

  private val EpochInName = "-e(-?\\d+)-p\\d+\\.jsonl$".r.unanchored
  private val DocId = "\"doc_id\":\"([^\"]*)\"".r.unanchored

  def readSink(dir: Path): Seq[SinkFile] =
    if (!Files.exists(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("shard="))
      .flatMap { d =>
        val shard = d.getFileName.toString.stripPrefix("shard=").toInt
        Files.list(d).iterator().asScala.toSeq
          .filter { f => val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
          .map { f =>
            val epoch = f.getFileName.toString match {
              case EpochInName(e) => e.toLong
              case _              => -1L
            }
            SinkFile(epoch, shard, Files.size(f),
              Files.readAllLines(f).asScala.toSeq.filter(_.nonEmpty))
          }
      }

  def docIds(files: Seq[SinkFile]): Seq[String] =
    files.filter(_.shard < OutShards).flatMap(_.lines).map {
      case DocId(d) => d
      case other    => s"<no doc_id: ${other.take(40)}>"
    }

  def dlqCount(files: Seq[SinkFile]): Long = files.filter(_.shard == OutShards).map(_.lines.size.toLong).sum

  /** Records the sink got wrong against the manifest: 0 when survivor
    * count, survivor hash and DLQ count all match; otherwise missing plus
    * unexpected survivors plus the DLQ count difference. */
  def wrongRecords(m: Manifest, files: Seq[SinkFile]): Long = {
    val got = docIds(files)
    val dlq = dlqCount(files)
    val hash = got.foldLeft(0L)(_ + Common.fnv1a(_))
    if (got.size == m.survivors.size && hash == m.survivorHash && dlq == m.dlq) 0L
    else {
      val counts = got.groupBy(identity).map { case (k, v) => k -> v.size }
      val missing = m.survivors.count(d => !counts.contains(d))
      val unexpected = counts.map { case (d, n) => if (m.survivors.contains(d)) n - 1 else n }.sum
      System.err.println(s"[perfbench] sink mismatch: survivors ${got.size}/${m.survivors.size}, " +
        s"missing $missing, unexpected $unexpected, dlq $dlq/${m.dlq}")
      missing + unexpected + math.abs(dlq - m.dlq)
    }
  }

  // --- fixtures ---------------------------------------------------------------

  /** Generate `filesPerShard` files of `linesPerFile` lines per shard, one
    * thread per shard, each shard from its own seeded stream (numbered
    * from `stream`). */
  def backlog(feed: ArcFeed, p: FeedParams, src: Path, filesPerShard: Int, linesPerFile: Int,
      stream: Int): (Manifest, Long) = {
    val pool = Executors.newFixedThreadPool(p.shards)
    try {
      val parts = (0 until p.shards).map { s =>
        pool.submit(() => {
          val m = new Manifest
          val r = feed.rng((stream + s).toLong)
          var bytes = 0L
          (0 until filesPerShard).foreach { f =>
            val lines = (0 until linesPerFile).map(i => feed.line(r, s"$stream-$s-$f-$i", m))
            bytes += feed.publish(src.resolve(s"shard=$s"), f"f-$f%05d.txt", lines)
          }
          (m, bytes)
        })
      }.map(_.get())
      val m = new Manifest
      parts.foreach(x => m.merge(x._1))
      (m, parts.map(_._2).sum)
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  // --- direct calls into single layers ------------------------------------------

  /** One `latestOffset` + `planInputPartitions` on the final source
    * directory, as the engine calls them per trigger; median of `n`. */
  def planDirectMs(src: Path, n: Int): Double = {
    val stream = new ShardedMicroBatchStream(src.toString,
      new CaseInsensitiveStringMap(Map("path" -> src.toString).asJava))
    Common.median((1 to n).map { _ =>
      val t0 = System.nanoTime()
      val start = stream.initialOffset()
      val end = stream.latestOffset(start, ReadLimit.allAvailable())
      stream.planInputPartitions(start, end)
      (System.nanoTime() - t0) / 1e6
    })
  }

  def sourceLines(src: Path): Seq[String] =
    Files.walk(src).iterator().asScala.toSeq
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .sortBy(_.toString)
      .flatMap(f => Files.readAllLines(f).asScala)

  /** Single-threaded ns per call of `f` over `inputs`, repeated for at
    * least `minMs`. */
  def nsPerCall[A](inputs: IndexedSeq[A], minMs: Double)(f: A => Any): Double = {
    if (inputs.isEmpty) return 0.0
    var calls = 0L
    var nonNull = 0L // consumed below, so the JIT cannot drop the calls
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e6 < minMs) {
      inputs.foreach { a => if (f(a) != null) nonNull += 1; calls += 1 }
    }
    (System.nanoTime() - t0).toDouble / calls + (if (nonNull < 0) 1 else 0)
  }

  /** Direct single-layer timings: (ns per `Kpl.deaggregate`, ns per
    * `GzipCodec.gunzipOrNull`). */
  def directDecode(src: Path): (Double, Double) = {
    val dec = java.util.Base64.getDecoder
    val aggs = sourceLines(src).map(dec.decode).toIndexedSeq
    val users = aggs.zipWithIndex.flatMap { case (a, i) => Kpl.deaggregate(i.toLong, a) }
      .filter(_.decode_ok).map(_.data)
    (nsPerCall(aggs, 500)(a => Kpl.deaggregate(0L, a)), nsPerCall(users, 500)(GzipCodec.gunzipOrNull))
  }

  // --- prefix runs ---------------------------------------------------------------

  /** Batch runs over the whole feed, each one stage longer than the last:
    * read → deaggregate → decode → parse/filter/project (both sink
    * branches) → sharded sink. Returns the per-stage seconds (successive
    * differences) and the counts the layers' own Observations report. */
  def prefixRuns(spark: SparkSession, src: Path, sinkDir: Path,
      spans: SpanLog): (Seq[(String, Double)], Map[String, Double]) = {
    def lines = spark.read.format(Fmt).option("path", src.toString).load()
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String)(action: => Unit): Double = {
      spark.sparkContext.setLocalProperty(Trace.GroupKey, s"prefix.$name")
      val w0 = Common.nowMs()
      val t0 = System.nanoTime()
      try action finally spark.sparkContext.setLocalProperty(Trace.GroupKey, null)
      val s = Common.secondsSince(t0)
      spans.add(s"prefix.$name", "", s"prefix.$name", s"stage.$name", w0.toDouble, w0 + s * 1000)
      s
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val tRead = timed("read")(noop(lines))
    val tDeagg = timed("deagg") {
      val in = new Observation("kpl_in")
      val o = new Observation("kpl")
      noop(kplUsers(lines.observe(in, count(lit(1)).as("aggs"))).observe(o, count(lit(1)).as("users"),
        count(when(!col("decode_ok"), 1)).as("bad")))
      val r = o.get
      counts("kpl.aggregates") = in.get("aggs").asInstanceOf[Long].toDouble
      counts("kpl.user_records") = (r("users").asInstanceOf[Long] - r("bad").asInstanceOf[Long]).toDouble
      counts("kpl.corrupt_aggregates") = r("bad").asInstanceOf[Long].toDouble
    }
    val tDecode = timed("decode") {
      val o = new Observation("decode")
      noop(kplUsers(lines).withColumn("json", Decode.decodePayloadNative(spark, base64(col("data"))))
        .observe(o, count(lit(1)).as("n"), count(when(col("json").isNull, 1)).as("bad"),
          sum(octet_length(col("json"))).as("bytes")))
      val r = o.get
      counts("decode.records") = r("n").asInstanceOf[Long].toDouble
      counts("decode.undecodable") = r("bad").asInstanceOf[Long].toDouble
      counts("decode.decompressed_mb") = Option(r("bytes")).map(_.asInstanceOf[Long] / 1e6).getOrElse(0.0)
    }
    val tParse = timed("parse_filter_project") {
      val arc = new Observation("arc")
      val passed = new Observation("passed")
      val (out, dlq) = pipeline(lines, Some(arc))
      noop(sinkFrame(out.observe(passed, count(lit(1)).as("n")), dlq))
      val a = arc.get
      counts("arc.total_records") = a("total_records").asInstanceOf[Long].toDouble
      counts("arc.corrupt_records") = a("corrupt_records").asInstanceOf[Long].toDouble
      counts("arc.passed") = passed.get("n").asInstanceOf[Long].toDouble
      val decoded = counts("arc.total_records") - counts("arc.corrupt_records")
      counts("arc.pass_ratio") = if (decoded > 0) counts("arc.passed") / decoded else 0.0
    }
    val tSink = timed("sink") {
      relayFrame(lines).write.format(Fmt).mode("append").option("path", sinkDir.toString).save()
    }
    val stages = Seq(
      "stage.read_s" -> tRead,
      "stage.deagg_s" -> (tDeagg - tRead),
      "stage.decode_s" -> (tDecode - tDeagg),
      "stage.parse_filter_project_s" -> (tParse - tDecode),
      "stage.sink_s" -> (tSink - tParse))
    (stages, counts.toMap)
  }
}
