package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.{Base64, SplittableRandom}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Feed shape of the relay workload (perfbench/workloads.json). Gzip is
  * always on: the Arc pipeline only accepts gzipped payloads. */
final case class FeedParams(
    shards: Int,
    kplFactor: Int,       // user records per KPL aggregate
    payloadBytes: Int,    // approximate JSON envelope size before gzip
    passFrac: Double,     // share of decodable records the filter keeps
    corruptFrac: Double)  // share of corrupt records, split evenly over three kinds

/** What the generator knows the relay must produce, from its own
  * bookkeeping (never from running the engine). */
final class Manifest {
  var userRecords = 0L
  var aggregates = 0L
  var corruptAggregates = 0L
  var badGzip = 0L
  var badJson = 0L
  val survivors = mutable.HashSet.empty[String] // doc ids
  def dlq: Long = corruptAggregates + badGzip + badJson
  def survivorHash: Long = survivors.foldLeft(0L)(_ + Common.fnv1a(_))
  def merge(o: Manifest): Unit = {
    userRecords += o.userRecords; aggregates += o.aggregates
    corruptAggregates += o.corruptAggregates
    badGzip += o.badGzip; badJson += o.badJson; survivors ++= o.survivors
  }
}

/** Seeded Arc content-event feed: envelopes in the public ANS shape the
  * pipeline parses, gzipped and KPL-aggregated, one base64 line per
  * Kinesis record. Corrupt records are split evenly over three kinds:
  * bad-md5 aggregates, bad gzip and bad JSON. Files publish by temp file
  * + rename under sort-ordered names, which keeps the sharded source's
  * append-only contract. */
final class ArcFeed(p: FeedParams, seed: Long) {
  private val Words = Array("relay", "kinesis", "story", "gallery", "video", "section", "news",
    "sports", "opinion", "market", "weather", "city", "world", "budget", "election", "climate",
    "science", "health", "arts", "travel", "review", "update", "report", "analysis", "live")
  private val PassTypes = Array("story", "video", "gallery")
  private val FailTypes = Array("redirect", "author", "image")
  private val Operations = Array("insert", "update", "delete")

  def rng(stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + stream)

  private def words(r: SplittableRandom, sb: StringBuilder, untilLen: Int): Unit =
    while (sb.length < untilLen) { sb ++= Words(r.nextInt(Words.length)); sb += ' ' }

  /** One envelope. A record that must fail the filter breaks exactly one
    * of the predicates (type, operation, published). */
  def envelope(r: SplittableRandom, eventId: String, docId: String, pass: Boolean): String = {
    val fail = if (pass) -1 else r.nextInt(3)
    val typ = if (fail == 0) FailTypes(r.nextInt(FailTypes.length)) else PassTypes(r.nextInt(3))
    val op = if (fail == 1) "publish-draft" else Operations(r.nextInt(3))
    val published = fail != 2
    val headline = new StringBuilder
    words(r, headline, 40)
    val sb = new StringBuilder(p.payloadBytes + 256)
    sb ++= s"""{"version":"0.10.9","type":"$typ","subtype":"article","operation":"$op","""
    sb ++= s""""date":"2024-03-${"%02d".format(1 + r.nextInt(28))}T${"%02d".format(r.nextInt(24))}:15:00Z","""
    sb ++= s""""id":"$eventId","body":{"_id":"$docId","type":"$typ","canonical_url":"/news/$docId","""
    sb ++= s""""headlines":{"basic":"${headline.toString.trim}"},"publish_date":"2024-03-01T10:00:00Z","""
    sb ++= s""""credits":{"by":[{"name":"Author ${r.nextInt(50)}"}]},"""
    sb ++= s""""taxonomy":{"sections":[{"_id":"/news","name":"News"},{"_id":"/s${r.nextInt(8)}","name":"S"}]},"""
    sb ++= s""""revision":{"published":$published},"websites":{"site-a":{"website_url":"/news/$docId"}},"""
    sb ++= """"content_elements":[{"type":"text","content":""""
    words(r, sb, p.payloadBytes - 4)
    sb ++= "\"}]}}"
    sb.toString
  }

  def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 3 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }

  private def garbage(r: SplittableRandom): Array[Byte] = {
    val b = new Array[Byte](64 + r.nextInt(64))
    r.nextBytes(b)
    b(0) = 0x42 // never the gzip magic
    b
  }

  /** One user record's payload bytes, booked into the manifest. */
  private def userRecord(r: SplittableRandom, eventId: String, docId: String, m: Manifest): Array[Byte] = {
    m.userRecords += 1
    val third = p.corruptFrac / 3
    val u = r.nextDouble()
    if (u < third) { m.badGzip += 1; garbage(r) }
    else if (u < 2 * third) {
      m.badJson += 1
      val json = envelope(r, eventId, docId, pass = true)
      gzip(json.substring(0, json.length / 2).getBytes("UTF-8"))
    } else {
      val pass = r.nextDouble() < p.passFrac
      if (pass) m.survivors += docId
      gzip(envelope(r, eventId, docId, pass).getBytes("UTF-8"))
    }
  }

  // --- KPL framing, written from the public wire format -------------------

  private def varint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def field(out: ByteArrayOutputStream, num: Int, body: Array[Byte]): Unit = {
    varint(out, (num << 3) | 2L); varint(out, body.length.toLong); out.write(body)
  }

  /** magic ‖ AggregatedRecord{keys=1, records=3{key_index=1, data=3}} ‖ md5. */
  def kplAggregate(records: Seq[(String, Array[Byte])]): Array[Byte] = {
    val keys = records.map(_._1).distinct
    val idx = keys.zipWithIndex.toMap
    val body = new ByteArrayOutputStream()
    keys.foreach(k => field(body, 1, k.getBytes("UTF-8")))
    records.foreach { case (k, data) =>
      val rec = new ByteArrayOutputStream()
      varint(rec, 1L << 3); varint(rec, idx(k).toLong)
      field(rec, 3, data)
      field(body, 3, rec.toByteArray)
    }
    val b = body.toByteArray
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(b)
    Array(0xf3, 0x89, 0x9a, 0xc2).map(_.toByte) ++ b ++ md5
  }

  // --- lines --------------------------------------------------------------

  /** One Kinesis-record line: a KPL aggregate of `kplFactor` user
    * records. `key` names the line's records uniquely within the feed. A
    * bad-md5 aggregate dead-letters as ONE record: the user records inside
    * it count as input but never reach the decoder. */
  def line(r: SplittableRandom, key: String, m: Manifest): String = {
    val corrupt = r.nextDouble() < p.corruptFrac / 3
    val sub = new Manifest
    val recs = (0 until p.kplFactor).map { i =>
      val id = s"$key-$i"
      (s"pk-${r.nextInt(16)}", userRecord(r, s"ev-$id", s"d-$id", sub))
    }
    val agg = kplAggregate(recs)
    m.aggregates += 1
    if (corrupt) {
      agg(agg.length - 1) = (agg(agg.length - 1) ^ 0x5a).toByte
      m.corruptAggregates += 1
      m.userRecords += sub.userRecords
    } else m.merge(sub)
    Base64.getEncoder.encodeToString(agg)
  }

  /** Write `lines` to `dir/name` through a hidden temp file and an atomic
    * rename; the sharded backend ignores dot-files. */
  def publish(dir: Path, name: String, lines: Seq[String]): Long = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    val bytes = lines.mkString("", "\n", "\n").getBytes("UTF-8")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}
