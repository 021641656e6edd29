package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The batch board: a fixed named slice of `SparkEntry.queries` over the
  * generated fixture, each query materialized to `noop` once per run, in
  * name order (as `graft.Bench` runs them), then checked against its
  * pinned row count and order-insensitive hash. */
object Board {

  /** (rows, hash): the hash is the sum, mod 2^31-1 per row, of xxhash64
    * over each row's JSON, with top-level doubles rounded to 6 places so
    * aggregation order cannot flip a last bit. */
  def resultHash(df: DataFrame): (Long, Long) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6).as(f.name)
        case _                      => col(f.name)
      }
    }
    val r = renamed.select(pmod(xxhash64(to_json(struct(cols.toIndexedSeq: _*))), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class Pin(rows: Long, hash: Option[Long])

  /** perfbench/board_pins.json: {"<query>": [rows, hash or null], ...}. */
  def readPins(path: Path): Map[String, Pin] = {
    val body = new String(Files.readAllBytes(path), "UTF-8")
    "\"([a-z0-9_]+)\":\\s*\\[(\\d+),\\s*(-?\\d+|null)".r.findAllMatchIn(body).map { m =>
      m.group(1) -> Pin(m.group(2).toLong, if (m.group(3) == "null") None else Some(m.group(3).toLong))
    }.toMap
  }

  /** Sums the analysis, optimization and planning time of every action
    * the session runs. */
  final class PlanRecorder extends QueryExecutionListener {
    @volatile var planningMs = 0.0
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
      val phases = qe.tracker.phases
      planningMs += Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs.toDouble).sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}

final class BoardRun(work: Path, cpus: Int, seconds: Double, jvmBootS: Double,
    params: Map[String, String]) {
  private val sf = work.resolve("board-sf")
  def sfDir: String = sf.toString
  private val slice = params("queries").split(",").map(_.trim).filter(_.nonEmpty).sorted.toSeq

  /** Session start, warm-up and fixture; returns the session and the
    * set-up seconds. */
  def setupOnce(): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = Common.session(cpus, work)
    spark.sparkContext.setLogLevel("WARN")
    graft.tables.Tables.ensureNanosConf(spark)
    Common.warmUp(spark)
    Common.deleteTree(sf)
    BoardFixture.write(spark, sf, params("scale").toDouble)
    // as graft.Bench does: scan every table once before any query
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents",
      "embeddings").foreach(t => spark.read.parquet(sf.resolve(s"$t.parquet").toString)
      .write.format("noop").mode("overwrite").save())
    (spark, Common.secondsSince(t0))
  }

  /** A fixed number of passes, one per 10 s of `seconds` (at least one),
    * so every run times the same executions: seconds per query execution.
    * After the first pass (outside the clock) each query's result is
    * checked once against its pin. Returns (times, wrong queries). */
  def measure(spark: SparkSession, pins: Map[String, Board.Pin],
      spans: Option[SpanLog] = None): (Seq[Double], Seq[String]) = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var wrong = Seq.empty[String]
    val passes = math.max(1, (seconds / 10).toInt)
    (1 to passes).foreach { pass =>
      times ++= slice.map { q =>
        val group = s"board.$q.$pass"
        spark.sparkContext.setLocalProperty(Trace.GroupKey, group)
        val w0 = Common.nowMs()
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val s = Common.secondsSince(t0)
        spark.sparkContext.setLocalProperty(Trace.GroupKey, null)
        spans.foreach(_.add(s"group-$group", "", group, "query", w0.toDouble, w0 + s * 1000))
        s
      }
      if (pass == 1) {
        Trace.drain(spark)
        wrong = slice.filter { q =>
          val (rows, hash) = Board.resultHash(SparkEntry.queries(q)(spark, sfDir))
          val pin = pins(q)
          val bad = rows != pin.rows || pin.hash.exists(_ != hash)
          if (bad) System.err.println(s"[perfbench] board mismatch $q: rows $rows/${pin.rows}, hash $hash/${pin.hash}")
          bad
        }
      }
    }
    Trace.drain(spark)
    System.err.println(s"[perfbench] board: $passes passes, total ${times.sum} s, geomean ${Common.geomean(times.toSeq)} s")
    (times.toSeq, wrong)
  }

  private def e2e(times: Seq[Double], setupS: Double): Common.Metrics = {
    val m = new Common.Metrics
    m.put("setup_s", setupS, "s")
    m.put("peak_rss_mb", Common.peakRssMb(), "MB")
    m.put("throughput_per_s", times.size / times.sum, "1/s")
    m.put("latency_p50_ms", Common.median(times) * 1000, "ms")
    m.put("latency_tail_ms", Common.quantile(times, 0.9) * 1000, "ms")
    m
  }

  def run(traced: Boolean): Main.Result = {
    val pins = Board.readPins(java.nio.file.Paths.get(params("pins")))
    var spark: SparkSession = null
    val setups = (1 to Main.SetupReps).map { _ =>
      if (spark != null) Common.stop(spark)
      val (s, t) = setupOnce()
      spark = s
      t
    }
    val setupS = jvmBootS + Common.median(setups)
    val (times, wrong) = measure(spark, pins)
    val plain = e2e(times, setupS)
    Common.logContext(spark, cpus)
    Common.stop(spark)
    if (!traced)
      return Main.Result(wrong.isEmpty, slice.size, wrong.size.toLong, plain)

    val spans = new SpanLog
    val (tracedSpark, setupTraced) = setupOnce()
    val jr = new JobRecorder(Some(spans))
    tracedSpark.sparkContext.addSparkListener(jr)
    val plans = new Board.PlanRecorder
    tracedSpark.listenerManager.register(plans)
    val (tTimes, tWrong) = measure(tracedSpark, pins, Some(spans))
    val tracedE2e = e2e(tTimes, jvmBootS + setupTraced)
    Common.stop(tracedSpark)

    val layers = new Common.Metrics
    val js = jr.all.filter(_.group.startsWith("board."))
    layers.put("query.jobs", js.size.toDouble, "count")
    layers.put("query.stages", js.map(_.stages).sum.toDouble, "count")
    layers.put("query.tasks", js.map(_.tasks).sum.toDouble, "count")
    layers.put("query.planning_ms", plans.planningMs, "ms")
    layers.put("query.executor_cpu_s", js.map(_.cpuNs).sum / 1e9, "s")
    layers.put("query.executor_run_s", js.map(_.runMs).sum / 1e3, "s")
    layers.put("query.gc_s", js.map(_.gcMs).sum / 1e3, "s")
    layers.put("query.shuffle_read_bytes", js.map(_.shuffleRead).sum.toDouble, "bytes")
    layers.put("query.shuffle_write_bytes", js.map(_.shuffleWrite).sum.toDouble, "bytes")
    layers.put("query.spill_bytes", js.map(_.spill).sum.toDouble, "bytes")
    layers.put("board.total_s", tTimes.sum * slice.size / tTimes.size, "s")
    layers.put("board.geomean_s", Common.geomean(tTimes), "s")
    val self = spans.selfTimesMs
    Seq("query", "job", "stage", "task").foreach(n => layers.put(s"self.${n}_ms", self.getOrElse(n, 0.0), "ms"))
    plain.names.foreach { k =>
      layers.put(s"overhead.$k", tracedE2e.get(k).get - plain.get(k).get, if (k == "setup_s") "s" else "delta")
    }
    spans.write(work.getParent.resolve(s"${work.getFileName}-spans.json"))
    Main.Result(wrong.isEmpty && tWrong.isEmpty, 2L * slice.size, (wrong.size + tWrong.size).toLong, layers)
  }
}
