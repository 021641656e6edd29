package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.SparkEntry

/** Writes the board's pinned results: for each query, its row count and
  * result hash on the generated fixture, plus its seconds (to choose the
  * slice). A query whose hash differs between two executions is pinned on
  * rows only.
  *
  * {{{
  *   BoardPins <work dir> <out.json> scale=<s> [query ...]
  * }}}
  * With no queries named, every registered query is tried. */
object BoardPins {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(work)
    val params = args.drop(2).filter(_.contains("=")).map(a => a.takeWhile(_ != '=') -> a.dropWhile(_ != '=').drop(1)).toMap
    val named = args.drop(2).filterNot(_.contains("=")).toSeq
    val run = new BoardRun(work, 4, 0, 0, params + ("queries" -> ""))
    val (spark, setupS) = run.setupOnce()
    System.err.println(s"[pins] setup $setupS s")
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { q =>
      val res = Try {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, run.sfDir).write.format("noop").mode("overwrite").save()
        val s = Common.secondsSince(t0)
        val a = Board.resultHash(SparkEntry.queries(q)(spark, run.sfDir))
        val b = Board.resultHash(SparkEntry.queries(q)(spark, run.sfDir))
        (s, a._1, if (a == b) a._2.toString else "null")
      }
      val line = res.fold(e => s"""  "$q": {"error": ${Common.jsonString(e.toString.take(200))}}""",
        { case (s, n, h) => s"""  "$q": [$n, $h, ${Common.jsonNumber(s)}]""" })
      System.err.println(line)
      line
    }
    Files.write(Paths.get(args(1)), rows.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    Common.stop(spark)
  }
}
