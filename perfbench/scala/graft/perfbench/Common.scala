package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Session, statistics and output helpers shared by every workload. */
object Common {

  /** The session `graft.Bench` builds, config for config, so the measured
    * program is the shipped one. `cpus` fixes `local[N]` and the shuffle
    * partition count; the warehouse and Spark's scratch space live under
    * the benchmark's work directory. */
  def session(cpus: Int, work: Path): SparkSession = {
    val warehouse = Files.createTempDirectory(work, "warehouse")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.catalog.graft", "graft.sources.cdc.CdcCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Same fixed warm-up `graft.Bench` runs before it measures. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

  /** Context only, never a metric: the 1-minute load average and one run
    * of `graft.Bench`'s CPU calibration probe, logged to stderr. */
  def logContext(spark: SparkSession, cpus: Int): Unit = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, cpus)
      .selectExpr("bit_xor(xxhash64(id)) AS h", "count(1) AS c")
      .write.format("noop").mode("overwrite").save()
    System.err.println(f"[perfbench] context: load $load%.2f, calib_sec ${secondsSince(t0)}%.4f")
  }

  def nowMs(): Long = System.currentTimeMillis()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Linear-interpolated quantile (q in [0, 1]) of unsorted values. */
  def quantile(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "quantile of an empty sample")
    val s = values.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = quantile(values, 0.5)

  def mean(values: Seq[Double]): Double =
    if (values.isEmpty) 0.0 else values.sum / values.length

  def geomean(values: Seq[Double]): Double =
    math.exp(values.map(math.log).sum / values.length)

  /** Peak resident set of this JVM in MB (VmHWM), 0 where unsupported. */
  def peakRssMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else
      scala.io.Source.fromFile(status.toFile).getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0)
        .getOrElse(0.0)
  }

  /** Order-independent 64-bit hash of a multiset of strings: the wrapping
    * sum of each string's FNV-1a hash. */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes("UTF-8")
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xff); h *= 0x100000001b3L; i += 1 }
    h
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally walk.close()
    }

  // --- JSON output ---------------------------------------------------------

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  /** A metric set in insertion order: name → (value, unit). */
  final class Metrics {
    private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
    def get(name: String): Option[Double] = m.get(name).map(_._1)
    def names: Seq[String] = m.keys.toSeq
    def toJson: String =
      m.map { case (k, (v, u)) =>
        s"${jsonString(k)}: {\"value\": ${jsonNumber(v)}, \"unit\": ${jsonString(u)}}"
      }.mkString("{", ", ", "}")
  }
}
