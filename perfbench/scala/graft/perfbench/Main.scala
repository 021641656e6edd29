package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per JVM:
  *
  * {{{
  *   Main --workload relay_drain --seed 7 --seconds 20 --trace 0 \
  *        --work perfbench/.work/run --cpus 4 key=value ...
  * }}}
  *
  * `key=value` pairs are the workload's fixed parameters
  * (perfbench/workloads.json). The last stdout line is the result JSON.
  * Set-up (session start, warm-up, fixture generation) is repeated
  * `SetupReps` times and reported as its median plus the JVM's own boot
  * time. With `--trace 1` the run measures twice, untraced then traced,
  * reports every per-layer metric plus the tracing overhead, and writes
  * its spans next to the work directory. */
object Main {
  val SetupReps = 3

  final case class Result(correct: Boolean, attempted: Long, failed: Long, metrics: Common.Metrics) {
    def toJson: String =
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics.toJson}}"""
  }

  def main(args: Array[String]): Unit = {
    val jvmBootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val flags = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val params = args.filter(a => !a.startsWith("--") && a.contains("=")).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val work = Paths.get(flags("work")).toAbsolutePath
    Files.createDirectories(work)
    val seed = flags("seed").toLong
    val seconds = flags("seconds").toDouble
    val traced = flags("trace") == "1"
    val cpus = flags("cpus").toInt
    val result = flags("workload") match {
      case "relay_drain" =>
        new RelayRun(new RelayDrain(work, seed, params), work, cpus, seconds, jvmBootS).run(traced)
      case "board" =>
        new BoardRun(work, cpus, seconds, jvmBootS, params).run(traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(result.toJson)
  }
}
