package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.Warc
import SparkSpec.spark.implicits._

class WarcSpec extends SparkSpec {

  private val CRLF = "\r\n"

  private def record(headers: Seq[(String, String)], content: String): String =
    (Seq("WARC/1.0") ++ headers.map { case (k, v) => s"$k: $v" })
      .mkString(CRLF) + CRLF + CRLF + content + CRLF + CRLF

  private val html =
    "<html><head><title>T</title></head><body><p>Hello crawl &amp; world.</p>" +
      "<a href=\"https://next.example.org/p\">next</a></body></html>"

  private val warcFile: String =
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> "<urn:uuid:aaaa-0000>",
      "WARC-Date" -> "2026-01-02T03:04:05Z",
      "Content-Length" -> "18"),
      "software: testgen") +
      record(Seq(
        "WARC-Type" -> "request",
        "WARC-Record-ID" -> "<urn:uuid:bbbb-1111>",
        "WARC-Target-URI" -> "https://www.example.com/a",
        "WARC-Date" -> "2026-01-02T03:04:06Z"),
        s"GET /a HTTP/1.1${CRLF}Host: www.example.com") +
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:uuid:cccc-2222>",
        "WARC-Target-URI" -> "https://www.example.com/a",
        "WARC-Date" -> "2026-01-02T03:04:07Z"),
        s"HTTP/1.1 200 OK${CRLF}Content-Type: text/html${CRLF}${CRLF}$html") +
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:uuid:dddd-3333>",
        "WARC-Target-URI" -> "https://www.example.com/bare"),
        "bare body with no http envelope")

  private def writeWarc(): String = {
    val dir = tempDir("graft-warc-")
    Files.write(Paths.get(dir.toString, "shard-00000.warc"),
      warcFile.getBytes("UTF-8"))
    dir.toString
  }

  test("readRecords: every record parses with its headers; fields NULL when absent") {
    val dir = writeWarc()
    val rows = Warc.readRecords(spark, dir)
      .select(col("record_idx"), col("warc_version"), col("warc_type"),
        col("record_id"), col("target_uri"), col("warc_date"))
      .as[(Int, String, String, String, Option[String], Option[String])]
      .collect().sortBy(_._1)
    assert(rows.length === 4)
    assert(rows.map(_._3).toSeq === Seq("warcinfo", "request", "response", "response"))
    assert(rows.forall(_._2 === "1.0"))
    assert(rows(0)._4 === "urn:uuid:aaaa-0000")
    // warcinfo has no target URI; the bare response has no date
    assert(rows(0)._5.isEmpty && rows(2)._5 === Some("https://www.example.com/a"))
    assert(rows(3)._6.isEmpty)
  }

  test("readResponses: HTTP envelope stripped, status extracted, bare bodies pass verbatim") {
    val dir = writeWarc()
    val rows = Warc.readResponses(spark, dir)
      .select(col("doc_id"), col("url"), col("http_status"), col("text"))
      .as[(String, String, Option[Int], String)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.size === 2)
    val full = rows("urn:uuid:cccc-2222")
    assert(full._2 === "https://www.example.com/a")
    assert(full._3 === Some(200))
    assert(full._4 === html, "entity body must be the markup, envelope gone")
    val bare = rows("urn:uuid:dddd-3333")
    assert(bare._3.isEmpty && bare._4 === "bare body with no http envelope")
  }

  test("WARC -> crawl front composes: extract text, canonicalize the url, index the content") {
    val dir = writeWarc()
    val pages = Warc.readResponses(spark, dir)
      .where(col("http_status") === 200)
    val text = graft.ops.Html.htmlToText(pages)
      .select("doc_id", "text").as[(String, String)].collect().toMap
    // the head block (title included) drops with the invisible pass;
    // </p> is a line break
    assert(text("urn:uuid:cccc-2222") === "Hello crawl & world.\nnext")
    val canon = graft.ops.Crawl.urlCanon(pages)
      .select("doc_id", "canon_url").as[(String, Option[String])].collect().toMap
    assert(canon("urn:uuid:cccc-2222") === Some("https://example.com/a"))
    // and the extracted link feeds the frontier-side ops
    val edges = graft.ops.Crawl.linkHostEdges(pages)
      .as[(String, String, Long)].collect().toSet
    assert(edges === Set(("example.com", "next.example.org", 1L)))
  }

  test("readConversions: WET-style conversion records yield extracted text directly") {
    val dir = tempDir("graft-wet-")
    val wet =
      record(Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Record-ID" -> "<urn:uuid:w-0>"), "software: testgen") +
        record(Seq(
          "WARC-Type" -> "conversion",
          "WARC-Record-ID" -> "<urn:uuid:w-1>",
          "WARC-Target-URI" -> "https://www.example.com/a",
          "WARC-Date" -> "2026-01-02T03:04:05Z"),
          "Already extracted prose.\nSecond line.")
    Files.write(Paths.get(dir.toString, "shard.warc.wet"), wet.getBytes("UTF-8"))
    val rows = Warc.readConversions(spark, dir.toString)
      .select("doc_id", "url", "text").as[(String, String, String)].collect()
    assert(rows.toSeq === Seq(("urn:uuid:w-1", "https://www.example.com/a",
      "Already extracted prose.\nSecond line.")))
  }

  test("redirects: 3xx responses map to resolved canonical targets; relative Locations resolve") {
    val dir = tempDir("graft-warcr-")
    val w =
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:uuid:r-1>",
        "WARC-Target-URI" -> "http://www.Example.com/old"),
        s"HTTP/1.1 301 Moved Permanently${CRLF}Location: https://example.com/new/${CRLF}${CRLF}moved") +
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> "<urn:uuid:r-2>",
          "WARC-Target-URI" -> "https://example.com/a/b"),
          s"HTTP/1.1 302 Found${CRLF}Location: /rooted?b=2&amp;a=1${CRLF}${CRLF}x") +
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> "<urn:uuid:r-3>",
          "WARC-Target-URI" -> "https://example.com/ok"),
          s"HTTP/1.1 200 OK${CRLF}${CRLF}fine")
    Files.write(Paths.get(dir.toString, "r.warc"), w.getBytes("UTF-8"))
    val got = Warc.redirects(spark, dir.toString)
      .select("doc_id", "http_status", "redirect_to")
      .as[(String, Int, Option[String])].collect()
      .map { case (a, b, c) => a -> ((b, c)) }.toMap
    assert(got.size === 2, "200s are not redirects")
    // absolute target canonicalizes (trailing slash collapses)
    assert(got("urn:uuid:r-1") === ((301, Some("https://example.com/new"))))
    // root-relative Location resolves against the record's own
    // canonical origin; the entity-escaped query decodes and sorts
    assert(got("urn:uuid:r-2") === ((302, Some("https://example.com/rooted?a=1&b=2"))))
  }

  test("trailing newlines: a body ending in a bare LF keeps it; only the CRLF-CRLF terminator strips") {
    val dir = tempDir("graft-warct-")
    val w = record(Seq(
      "WARC-Type" -> "conversion",
      "WARC-Record-ID" -> "<urn:uuid:t-1>",
      "WARC-Target-URI" -> "https://ex.org/t"),
      "prose ending in newline\n") +
      record(Seq(
        "WARC-Type" -> "conversion",
        "WARC-Record-ID" -> "<urn:uuid:t-2>",
        "WARC-Target-URI" -> "https://ex.org/u"),
        "last record body")
    Files.write(Paths.get(dir.toString, "t.warc"), w.getBytes("UTF-8"))
    val got = Warc.readConversions(spark, dir.toString)
      .select("doc_id", "text").as[(String, String)].collect().toMap
    // interior record: the \n is BODY (the terminator went to the split)
    assert(got("urn:uuid:t-1") === "prose ending in newline\n")
    // final record: exactly its file-terminating \r\n\r\n strips, no more
    assert(got("urn:uuid:t-2") === "last record body")
  }

  // ---- gzip (.warc.gz — member per record, the Common Crawl format) ----

  private def gzMember(s: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(s); gz.close()
    bos.toByteArray
  }

  test("readRecordsGz: member-per-record gz parses record-identically to the plain reader") {
    val plainDir = writeWarc()
    val gzDir = tempDir("graft-warcgz-")
    // one gzip member per record — exactly how Common Crawl shards are laid out
    val members = warcFile.split("(?=WARC/1\\.0)").filter(_.nonEmpty)
    assert(members.length === 4)
    val bos = new java.io.ByteArrayOutputStream()
    members.foreach(m => bos.write(gzMember(m.getBytes("UTF-8"))))
    Files.write(Paths.get(gzDir.toString, "shard-00000.warc.gz"), bos.toByteArray)
    val plain = Warc.readRecords(spark, plainDir)
      .drop("warc_file").collect().toSet
    val gz = Warc.readRecordsGz(spark, gzDir.toString)
      .drop("warc_file").collect().toSet
    assert(gz === plain, "gz and plain readers must emit identical records")
    // the typed faces ride the same parse
    assert(Warc.readResponses(spark, gzDir.toString, gz = true)
      .select("doc_id").as[String].collect().toSet ===
      Set("urn:uuid:cccc-2222", "urn:uuid:dddd-3333"))
  }

  test("readRecordsGz: a corrupt member quarantines; its neighbors survive intact") {
    val dir = tempDir("graft-warcgzx-")
    val r1 = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:uuid:g-1>",
      "WARC-Target-URI" -> "https://ex.org/1"),
      s"HTTP/1.1 200 OK$CRLF$CRLF" + "first body")
    val r2 = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:uuid:g-2>",
      "WARC-Target-URI" -> "https://ex.org/2"),
      s"HTTP/1.1 200 OK$CRLF$CRLF" + "second body")
    val r3 = record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> "<urn:uuid:g-3>",
      "WARC-Target-URI" -> "https://ex.org/3"),
      s"HTTP/1.1 200 OK$CRLF$CRLF" + "third body")
    val good1 = gzMember(r1.getBytes("UTF-8"))
    val bad = gzMember(r2.getBytes("UTF-8"))
    // flip bytes INSIDE the deflate stream -> CRC/inflate failure
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x5a).toByte
    bad(bad.length / 2 + 1) = (bad(bad.length / 2 + 1) ^ 0x33).toByte
    val good2 = gzMember(r3.getBytes("UTF-8"))
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(good1); bos.write(bad); bos.write(good2)
    Files.write(Paths.get(dir.toString, "x.warc.gz"), bos.toByteArray)
    val got = Warc.readResponses(spark, dir.toString, gz = true)
      .select("doc_id", "text").as[(String, String)].collect().toMap
    // the corrupt member is gone, the task did not fail, neighbors are byte-intact
    assert(got.keySet === Set("urn:uuid:g-1", "urn:uuid:g-3"))
    assert(got("urn:uuid:g-1") === "first body")
    assert(got("urn:uuid:g-3") === "third body")
  }

  test("gunzipMembers: CRC-mismatch members commit NOTHING; truncated tails drop; empty input is empty") {
    assert(Warc.gunzipMembers(Array.emptyByteArray) === "")
    assert(Warc.gunzipMembers("not gzip at all".getBytes("UTF-8")) === "")
    val ok = gzMember("hello ".getBytes("UTF-8"))
    val truncated = gzMember("lost tail".getBytes("UTF-8")).dropRight(6)
    val ok2 = gzMember("world".getBytes("UTF-8"))
    assert(Warc.gunzipMembers(ok ++ ok2) === "hello world")
    // a truncated member between two good ones loses only itself
    // (its missing trailer eats the next magic scan start, not ok2's)
    assert(Warc.gunzipMembers(ok ++ truncated ++ ok2) === "hello world")
  }

  test("a marker collision inside a payload drops only the orphaned fragment") {
    val dir = tempDir("graft-warcx-")
    val poisoned =
      record(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> "<urn:uuid:eeee-4444>",
        "WARC-Target-URI" -> "https://ex.org/x"),
        s"HTTP/1.1 200 OK$CRLF$CRLF" +
          s"payload that embeds$CRLF$CRLF" + s"WARC/9 looking bytes") +
        record(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> "<urn:uuid:ffff-5555>",
          "WARC-Target-URI" -> "https://ex.org/y"),
          s"HTTP/1.1 200 OK$CRLF$CRLF" + "clean body")
    Files.write(Paths.get(dir.toString, "p.warc"), poisoned.getBytes("UTF-8"))
    val got = Warc.readResponses(spark, dir.toString)
      .select("doc_id", "text").as[(String, String)].collect().toMap
    // the poisoned record loses its tail (documented approximation);
    // the clean record and the poisoned record's head both survive
    assert(got.keySet === Set("urn:uuid:eeee-4444", "urn:uuid:ffff-5555"))
    assert(got("urn:uuid:eeee-4444") === "payload that embeds")
    assert(got("urn:uuid:ffff-5555") === "clean body")
  }

  test("writeConversions: read(write(x)) round-trips ids, urls, dates and text — plain and gzip") {
    val docs = Seq(
      ("urn:uuid:rt-1", "https://rt.example.org/a", "2026-02-03T04:05:06Z",
        "First doc prose.\nWith an interior line."),
      ("urn:uuid:rt-2", null, null, "No URL, no date — header lines omitted."),
      ("urn:uuid:rt-3", "https://rt.example.org/c", "2026-02-03T04:05:07Z",
        "Unicode prose: déjà vu — 你好.")) // octets != chars: Content-Length in octets
      .toDF("doc_id", "url", "fetched_at", "text")
    for (gz <- Seq(false, true)) {
      val dir = tempDir(s"graft-wetw-$gz").toString + "/out"
      val shards = Warc.writeConversions(docs.repartition(2), dir, gz = gz)
      assert(shards.nonEmpty && shards.forall(_.endsWith(if (gz) ".gz" else ".wet")))
      val back = Warc.readConversions(spark, dir, gz = gz)
        .as[(String, String, String, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(back.keySet === Set("urn:uuid:rt-1", "urn:uuid:rt-2", "urn:uuid:rt-3"))
      assert(back("urn:uuid:rt-1") ===
        (("https://rt.example.org/a", "2026-02-03T04:05:06Z",
          "First doc prose.\nWith an interior line.")))
      assert(back("urn:uuid:rt-2") === ((null, null,
        "No URL, no date — header lines omitted.")))
      assert(back("urn:uuid:rt-3") ===
        (("https://rt.example.org/c", "2026-02-03T04:05:07Z",
          "Unicode prose: déjà vu — 你好.")))
      // the written shards carry the spec shape: version line, typed
      // header, two-CRLF terminator
      val recs = if (gz) Warc.readRecordsGz(spark, dir) else Warc.readRecords(spark, dir)
      assert(recs.where(lower(col("warc_type")) === "conversion").count() === 3L)
      assert(recs.where(col("warc_version").startsWith("1.")).count() === 3L)
    }
  }

  test("writeConversions: header values with embedded CR/LF are stripped, never corrupt framing") {
    val docs = Seq(("id-\r\nWARC-Type: sneaky", "https://x.example.org/a\nevil", "2026-01-01",
      "body text")).toDF("doc_id", "url", "fetched_at", "text")
    val dir = tempDir("graft-weth").toString + "/out"
    Warc.writeConversions(docs, dir)
    val rows = Warc.readConversions(spark, dir)
      .as[(String, String, String, String)].collect()
    assert(rows.length === 1)
    assert(rows.head._1 === "id-WARC-Type: sneaky")
    assert(rows.head._2 === "https://x.example.org/aevil")
    assert(rows.head._4 === "body text")
  }
}
