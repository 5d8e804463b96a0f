package graft.io

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import scala.collection.mutable.ArrayBuffer

/** Hand-rolled WARC/1.0 reader + writer (public spec: ISO 28500) — the
  * container Common Crawl actually ships, and the natural upstream of the
  * BASELINE.json `input_hint` page table `(url, warc_ts, html, text,
  * lang)`. Records are `WARC/1.0\r\n` + header lines + `\r\n` + a
  * Content-Length body + `\r\n\r\n`; a `.warc.gz` file is one gzip MEMBER
  * per record, concatenated (the layout that lets a split be decompressed
  * from any member boundary — the property the 100 TB path relies on).
  * The JDK's GZIPInputStream reads concatenated members natively, so the
  * plain and gzip arms share one parser.
  *
  * Scale shape: files land as whole payloads via Spark's `binaryFile`
  * source and parse per-partition (`flatMap` over rows — no driver work,
  * no shuffle); a crawl's WARCs are ~1 GiB each, so one file per task is
  * the right granularity and `maxPartitionBytes` never splits a record.
  */
object Warc {

  final case class WarcRecord(warcType: String, targetUri: String,
                              date: String, recordId: String,
                              contentType: String, body: Array[Byte])

  // ----------------------------------------------------------------- write

  def writeRecord(r: WarcRecord): Array[Byte] = {
    val head = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append(s"WARC-Type: ${r.warcType}\r\n")
      .append(if (r.targetUri.nonEmpty) s"WARC-Target-URI: ${r.targetUri}\r\n" else "")
      .append(s"WARC-Date: ${r.date}\r\n")
      .append(s"WARC-Record-ID: ${r.recordId}\r\n")
      .append(s"Content-Type: ${r.contentType}\r\n")
      .append(s"Content-Length: ${r.body.length}\r\n")
      .append("\r\n")
      .toString.getBytes("US-ASCII")
    head ++ r.body ++ "\r\n\r\n".getBytes("US-ASCII")
  }

  /** Plain .warc: records back to back. */
  def write(records: Seq[WarcRecord]): Array[Byte] =
    records.iterator.map(writeRecord).foldLeft(Array.empty[Byte])(_ ++ _)

  /** .warc.gz: one gzip member per record, concatenated. */
  def writeGz(records: Seq[WarcRecord]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { r =>
      val gz = new GZIPOutputStream(out)
      gz.write(writeRecord(r)); gz.finish()
    }
    out.toByteArray
  }

  // ----------------------------------------------------------------- parse

  private def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(bytes), 65536)
    val out = new ByteArrayOutputStream(bytes.length * 4)
    val buf = new Array[Byte](65536)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  def isGzip(b: Array[Byte]): Boolean =
    b.length > 2 && (b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B

  /** Parse a whole .warc or .warc.gz payload. */
  def parse(payload: Array[Byte]): Vector[WarcRecord] = {
    val b = if (isGzip(payload)) gunzipAll(payload) else payload
    val out = Vector.newBuilder[WarcRecord]
    var pos = 0
    def line(): String = { // up to CRLF
      val start = pos
      while (pos + 1 < b.length && !(b(pos) == '\r' && b(pos + 1) == '\n')) pos += 1
      val s = new String(b, start, pos - start, "US-ASCII")
      pos = math.min(pos + 2, b.length)
      s
    }
    while (pos < b.length) {
      // skip inter-record padding
      while (pos + 1 < b.length && b(pos) == '\r' && b(pos + 1) == '\n') pos += 2
      if (pos >= b.length) return out.result()
      val version = line()
      require(version.startsWith("WARC/"), s"bad WARC version line: '$version'")
      var warcType = ""; var uri = ""; var date = ""; var id = ""
      var ctype = ""; var clen = -1L
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        require(i > 0, s"bad WARC header line: '$h'")
        val (k, v) = (h.substring(0, i).trim.toLowerCase, h.substring(i + 1).trim)
        k match {
          case "warc-type" => warcType = v
          case "warc-target-uri" => uri = v
          case "warc-date" => date = v
          case "warc-record-id" => id = v
          case "content-type" => ctype = v
          case "content-length" => clen = v.toLong
          case _ => // concurrent-to, ip-address, digest, ... preserved upstream
        }
        h = line()
      }
      require(clen >= 0, "WARC record missing Content-Length")
      require(pos + clen <= b.length, "truncated WARC body")
      val body = java.util.Arrays.copyOfRange(b, pos, pos + clen.toInt)
      pos += clen.toInt
      out += WarcRecord(warcType, uri, date, id, ctype, body)
    }
    out.result()
  }

  // ----------------------------------------------------------------- spark

  val recordSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("rec_seq", IntegerType),
    StructField("warc_type", StringType),
    StructField("url", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("body", BinaryType)))

  /** One row per record from a DataFrame of (path, content) payloads
    * (e.g. `spark.read.format("binaryFile")`). Parsing is per-partition;
    * no shuffle. */
  def records(files: DataFrame): DataFrame = {
    val pIdx = files.schema.fieldIndex("path")
    val cIdx = files.schema.fieldIndex("content")
    implicit val enc = org.apache.spark.sql.Encoders.row(recordSchema)
    files.mapPartitions { it =>
      it.flatMap { r =>
        val path = r.getString(pIdx)
        parse(r.getAs[Array[Byte]](cIdx)).iterator.zipWithIndex.map {
          case (rec, i) =>
            Row(path, i, rec.warcType, rec.targetUri, rec.date,
              rec.contentType, rec.body)
        }
      }
    }
  }

  /** Strip the HTTP response envelope from a WARC response body — real
    * Common-Crawl response records carry `HTTP/1.1 200 OK\r\nheaders...
    * \r\n\r\n<payload>` (content type `application/http; msgtype=
    * response`), and downstream text extraction wants the payload alone.
    * Pure column expressions, BYTE-PRESERVING: ISO-8859-1 decode is a
    * bijection between bytes and chars, so locating the first blank line
    * on the decoded string and re-encoding the tail returns the exact
    * payload bytes. Bodies that don't start with `HTTP/` (or carry no
    * blank line) pass through untouched. */
  def httpPayload(body: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = decode(body, "ISO-8859-1")
    val sep = locate("\r\n\r\n", s) // 1-based; 0 when absent
    encode(
      when(s.startsWith("HTTP/") && sep > 0,
        s.substr(sep + lit(4), length(s))).otherwise(s),
      "ISO-8859-1")
  }

  /** response records → the `input_hint` page shape: (url, warc_ts, html,
    * text, lang) with text extracted by the UDF-free P20 chain. */
  def pages(recordRows: DataFrame): DataFrame =
    recordRows
      .filter(col("warc_type") === "response")
      .select(
        col("url"),
        to_timestamp(col("warc_date"), "yyyy-MM-dd'T'HH:mm:ssX").as("warc_ts"),
        httpPayload(col("body")).as("html")) // envelope-less bodies pass through
      .withColumn("text", WebPages.extractedText(col("html")))
      .withColumn("lang", lit(null).cast(StringType))
}
