package graft.ext

import graft.SparkSpec

/** WARC/WET record parser: round-trip, framing hostility (payloads that
  * look like records), corruption recovery, tolerance (LF-only lines,
  * header case), and a seeded mutation fuzz over a valid multi-record
  * blob. The distributed `wetRecords` path is exercised once; the pure
  * `parseWet` function carries the vector matrix (same split as the
  * container parsers: plain functions fuzz in-process, Spark wraps
  * them in mapPartitions).
  */
class WarcSpec extends SparkSpec {
  import Warc._

  /** Serialize one well-formed WET record (the graded query builds the
    * same framing in-plan with SQL string functions so DuckDB can
    * recompute the expected fields). */
  private def wetRecordBytes(uri: String, date: String, recordId: String,
      payload: Array[Byte], warcType: String = "conversion"): Array[Byte] = {
    val h = new StringBuilder
    h ++= "WARC/1.0\r\n"
    h ++= s"WARC-Type: $warcType\r\n"
    h ++= s"WARC-Target-URI: $uri\r\n"
    h ++= s"WARC-Date: $date\r\n"
    h ++= s"WARC-Record-ID: $recordId\r\n"
    h ++= s"Content-Length: ${payload.length}\r\n\r\n"
    h.toString.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
  }

  private def rec(uri: String, payload: String,
      date: String = "2026-01-01T00:00:00Z",
      rid: String = "<urn:uuid:1>"): Array[Byte] =
    wetRecordBytes(uri, date, rid, payload.getBytes("UTF-8"))

  test("round-trips a multi-record blob exactly") {
    val blob = rec("https://ex.example/a", "hello world") ++
      rec("https://ex.example/b", "second\npayload line") ++
      rec("https://ex.example/c", "third")
    val rs = parseWet(7L, blob)
    assert(rs.map(_.target_uri) ==
      Seq("https://ex.example/a", "https://ex.example/b",
        "https://ex.example/c"))
    assert(rs.map(_.rec_index) == Seq(0, 1, 2))
    assert(rs.map(_.text) ==
      Seq("hello world", "second\npayload line", "third"))
    assert(rs.forall(_.warc_type == "conversion"))
    assert(rs.forall(_.blob_id == 7L))
    assert(rs.map(_.content_length) == Seq(11L, 19L, 5L))
  }

  test("framing is Content-Length-driven: record-like payload bytes") {
    // the payload embeds a complete valid record INCLUDING framing —
    // a delimiter-driven parser would report 3 records, not 2
    val trojan = "before\nWARC/1.0\r\nWARC-Type: conversion\r\n" +
      "Content-Length: 5\r\n\r\nxxxxx\r\n\r\nafter"
    val blob = rec("https://ex.example/t", trojan) ++
      rec("https://ex.example/u", "tail")
    val rs = parseWet(0L, blob)
    assert(rs.size == 2)
    assert(rs.head.text == trojan)
    assert(rs(1).target_uri == "https://ex.example/u")
  }

  test("Content-Length counts octets, not characters") {
    val payload = "héllo 世界" // 6 chars multi-byte
    val blob = rec("https://ex.example/u8", payload)
    val rs = parseWet(0L, blob)
    assert(rs.size == 1)
    assert(rs.head.text == payload)
    assert(rs.head.content_length ==
      payload.getBytes("UTF-8").length.toLong)
  }

  test("tolerates LF-only line endings and header-name case") {
    val blob = ("WARC/1.0\nwarc-type: conversion\n" +
      "WARC-TARGET-URI: https://ex.example/lf\n" +
      "content-length: 4\n\nbody").getBytes("UTF-8")
    val rs = parseWet(0L, blob)
    assert(rs.size == 1)
    assert(rs.head.target_uri == "https://ex.example/lf")
    assert(rs.head.text == "body")
  }

  test("skips leading garbage and colon-free header lines") {
    val blob = ("noise line\nmore noise\n" +
      "WARC/1.0\r\nWARC-Type: conversion\r\nbogus header no colon\r\n" +
      "WARC-Target-URI: https://ex.example/g\r\n" +
      "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes("UTF-8")
    val rs = parseWet(0L, blob)
    assert(rs.map(_.text) == Seq("ok"))
  }

  test("corrupt records are skipped and parsing recovers") {
    val missingLen = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
      "WARC-Target-URI: https://ex.example/bad\r\n\r\n").getBytes("UTF-8")
    val negLen = ("WARC/1.0\r\nContent-Length: -4\r\n\r\n")
      .getBytes("UTF-8")
    val nonNumLen = ("WARC/1.0\r\nContent-Length: twelve\r\n\r\n")
      .getBytes("UTF-8")
    val good = rec("https://ex.example/good", "fine")
    for (bad <- Seq(missingLen, negLen, nonNumLen)) {
      val rs = parseWet(0L, bad ++ good)
      assert(rs.map(_.target_uri) == Seq("https://ex.example/good"))
      assert(rs.map(_.rec_index) == Seq(0)) // dense indices
    }
  }

  test("truncated payload yields no record, never throws") {
    val whole = rec("https://ex.example/t", "full payload here")
    for (cut <- Seq(whole.length - 1, whole.length - 10, 30, 9, 1, 0)) {
      val rs = parseWet(0L, whole.take(cut))
      // either nothing or only records whose payload fit entirely
      assert(rs.forall(r => r.content_length >= 0))
    }
    assert(parseWet(0L, whole.take(whole.length - 5)).isEmpty)
    assert(parseWet(0L, Array.emptyByteArray).isEmpty)
    assert(parseWet(0L, null).isEmpty)
  }

  test("oversized header block is treated as corrupt, bounded work") {
    val huge = ("WARC/1.0\r\n" +
      ("X-Pad: " + "a" * 100 + "\r\n") * 200 + // > maxHeaderBytes
      "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes("UTF-8")
    val rs = parseWet(0L, huge ++ rec("https://ex.example/after", "yes"))
    assert(rs.map(_.target_uri).contains("https://ex.example/after"))
  }

  test("seeded mutation fuzz: parse-or-skip, never throw or hang") {
    val base = rec("https://ex.example/a", "alpha payload") ++
      rec("https://ex.example/b", "beta") ++
      rec("https://ex.example/c", "gamma gamma")
    val rnd = new scala.util.Random(4209L)
    for (_ <- 0 until 10000) {
      val b = base.clone()
      rnd.nextInt(4) match {
        case 0 => // xor random byte
          val i = rnd.nextInt(b.length)
          b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
          checkTotal(b)
        case 1 => checkTotal(b.take(rnd.nextInt(b.length + 1)))
        case 2 => checkTotal(b ++ Array.fill(rnd.nextInt(16))(
          rnd.nextInt(256).toByte))
        case 3 => // splice 4 random bytes at a random offset
          val i = rnd.nextInt(b.length)
          checkTotal(b.take(i) ++ Array.fill(4)(rnd.nextInt(256).toByte)
            ++ b.drop(i))
      }
    }
  }

  private def checkTotal(b: Array[Byte]): Unit = {
    val rs = parseWet(1L, b) // must not throw
    assert(rs.size <= 4)
    assert(rs.map(_.rec_index) == rs.indices) // dense, ordered
    rs.foreach { r =>
      assert(r.content_length >= 0L)
      assert(r.text.length <= b.length)
    }
  }

  test("gunzip round-trips, rejects corruption, caps bomb output") {
    val payload = ("WET content " * 100).getBytes("UTF-8")
    assert(gunzip(gzip(payload)).map(_.toSeq).contains(payload.toSeq))
    // concatenated members inflate as one stream
    val two = gzip("first ".getBytes("UTF-8")) ++
      gzip("second".getBytes("UTF-8"))
    assert(gunzip(two).map(new String(_, "UTF-8")).contains("first second"))
    // corruption: flipped byte mid-deflate-stream or truncation -> None
    val gz = gzip(payload)
    val flipped = gz.clone(); flipped(gz.length / 2) =
      (flipped(gz.length / 2) ^ 0x55).toByte
    assert(gunzip(flipped).isEmpty || gunzip(flipped).nonEmpty) // no throw
    assert(gunzip(gz.take(gz.length - 4)).isEmpty)
    assert(gunzip("not gzip at all".getBytes("UTF-8")).isEmpty)
    assert(gunzip(null).isEmpty)
    // output cap: a highly compressible bomb is rejected, not clipped
    val bomb = gzip(Array.fill[Byte](1 << 20)(7))
    assert(gunzip(bomb, maxBytes = 1 << 16).isEmpty)
    assert(gunzip(bomb, maxBytes = 1 << 21).nonEmpty)
  }

  test("wetRecordsAuto ingests mixed plain and gzipped blobs") {
    val s = spark
    import s.implicits._
    val plain = rec("https://ex.example/p", "plain body")
    val zipped = gzip(rec("https://ex.example/z", "zipped body"))
    val corrupt = zipped.take(zipped.length - 3) // truncated gzip
    val df = Seq((1L, plain), (2L, zipped), (3L, corrupt))
      .toDF("blob_id", "payload")
    val out = wetRecordsAuto(df).collect()
      .map(r => (r.blob_id, r.target_uri, r.text)).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "https://ex.example/p", "plain body"),
      (2L, "https://ex.example/z", "zipped body"))) // 3 dropped whole
  }

  test("wetRecords is a map-only distributed parse") {
    val s = spark
    import s.implicits._
    val blobA = rec("https://ex.example/1", "one") ++
      rec("https://ex.example/2", "two")
    val blobB = rec("https://ex.example/3", "three")
    val df = Seq((10L, blobA), (20L, blobB)).toDF("blob_id", "payload")
    val out = wetRecords(df).collect().sortBy(r => (r.blob_id, r.rec_index))
    assert(out.map(r => (r.blob_id, r.rec_index, r.text)).toSeq ==
      Seq((10L, 0, "one"), (10L, 1, "two"), (20L, 0, "three")))
    // no exchange in the plan: record extraction must be map-only
    val plan = wetRecords(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("gzip member-header metadata: real headers, hostile options") {
    // JDK-written member: method 8, no FNAME, mtime 0
    val real = parseGzipMeta(5L, gzip("body".getBytes("UTF-8")))
    assert(real.exists(m => m.method == 8 && m.fname == null))
    // hand-built: FNAME + FEXTRA + FCOMMENT all present
    val full = Array[Byte](0x1f, 0x8b.toByte, 8, (4 | 8 | 16).toByte,
      0x78, 0x56, 0x34, 0x12, 2, 3, // mtime LE, xfl, os
      2, 0, 9, 9) ++ "name.gz".getBytes("ISO-8859-1") ++
      Array[Byte](0) ++ "cmt".getBytes ++ Array[Byte](0, 77)
    val m = parseGzipMeta(1L, full).get
    assert(m.mtime == 0x12345678L && m.xfl == 2 && m.os == 3 &&
      m.fname == "name.gz")
    // hostile: FEXTRA overrunning the blob, unterminated FNAME, short
    assert(parseGzipMeta(1L, Array[Byte](0x1f, 0x8b.toByte, 8, 4,
      0, 0, 0, 0, 0, 0, 0x50, 0)).isEmpty)
    assert(parseGzipMeta(1L, Array[Byte](0x1f, 0x8b.toByte, 8, 8,
      0, 0, 0, 0, 0, 0, 'x', 'y')).isEmpty)
    assert(parseGzipMeta(1L, Array[Byte](0x1f, 0x8b.toByte)).isEmpty)
    assert(parseGzipMeta(1L, null).isEmpty)
  }
}
