package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit}

import graft.index.InvertedIndex
import graft.streaming.CorpusWatcher
import graft.streaming.CorpusWatcher.{Drift, Frontier, RecrawlGate, Refresh, UrlIdentityGate}
import SparkSpec.spark.implicits._

class CorpusWatcherSpec extends SparkSpec {

  private def tmp(name: String): String = tempDir(s"graft-$name-").toString

  private def writeDoc(dir: String, name: String, text: String): Unit =
    Files.write(Paths.get(dir, name), text.getBytes("UTF-8"))

  private def indexEntries(indexDir: String): Set[(String, String, Long)] =
    CorpusWatcher.currentIndex(spark, indexDir)
      .as[(String, String, Long)].collect().toSet

  test("watcher indexes files as they arrive and merges incrementally") {
    val (watch, index, ckpt) = (tmp("watch"), tmp("index"), tmp("ckpt"))
    writeDoc(watch, "a.txt", "cat dog cat")
    writeDoc(watch, "b.txt", "dog")

    CorpusWatcher.start(spark, watch, index, ckpt).awaitTermination()
    assert(indexEntries(index) === Set(
      ("cat", "a.txt", 2L), ("dog", "a.txt", 1L), ("dog", "b.txt", 1L)))

    // new arrival -> second batch merges into the snapshot
    writeDoc(watch, "c.txt", "bird")
    CorpusWatcher.start(spark, watch, index, ckpt).awaitTermination()
    assert(indexEntries(index) === Set(
      ("cat", "a.txt", 2L), ("dog", "a.txt", 1L), ("dog", "b.txt", 1L),
      ("bird", "c.txt", 1L)))
  }

  test("currentIndex builds the published snapshot with no Spark job, typed as spark.read.parquet reads it") {
    val (watch, index, ckpt) = (tmp("watchr"), tmp("indexr"), tmp("ckptr"))
    writeDoc(watch, "a.txt", "cat dog cat")
    CorpusWatcher.start(spark, watch, index, ckpt).awaitTermination()
    val (idx, jobs, _) = jobsAndTasks(CorpusWatcher.currentIndex(spark, index))
    assert(jobs === 0, s"building the snapshot frame ran $jobs jobs")
    val snap = new String(Files.readAllBytes(Paths.get(index, "LATEST")), "UTF-8").trim
    assert(idx.schema === spark.read.parquet(s"$index/$snap").schema)
    assert(idx.as[(String, String, Long)].collect().toSet ===
      Set(("cat", "a.txt", 2L), ("dog", "a.txt", 1L)))
  }

  test("finalJsonPath re-exports the reference artifact on every batch") {
    val (watch, index, ckpt) = (tmp("watchj"), tmp("indexj"), tmp("ckptj"))
    val json = s"${tmp("finalj")}/final_results.json"
    writeDoc(watch, "a.txt", "cat dog cat")
    CorpusWatcher.start(spark, watch, index, ckpt,
      finalJsonPath = Some(json)).awaitTermination()
    val got1 = new String(Files.readAllBytes(Paths.get(json)), "UTF-8")
    // reference shape: json.dumps(indent=4), filename keys
    assert(got1 ===
      """{
        |    "cat": {
        |        "a.txt": 2
        |    },
        |    "dog": {
        |        "a.txt": 1
        |    }
        |}""".stripMargin)
    // a new upload rewrites the artifact with the merged index
    writeDoc(watch, "b.txt", "dog")
    CorpusWatcher.start(spark, watch, index, ckpt,
      finalJsonPath = Some(json)).awaitTermination()
    val got2 = new String(Files.readAllBytes(Paths.get(json)), "UTF-8")
    assert(got2.contains("\"b.txt\": 1") && got2.contains("\"a.txt\": 2"))
  }

  test("parityAdd mode reproduces the reference's additive double-count") {
    val (watch, index, ckpt) = (tmp("watchp"), tmp("indexp"), tmp("ckptp"))
    writeDoc(watch, "a.txt", "cat cat dog")
    CorpusWatcher.start(spark, watch, index, ckpt, parityAdd = true).awaitTermination()
    // second batch delivers a NEW file with the same doc content under a
    // new name plus a re-count of a.txt via delta build + add()
    val idx1 = CorpusWatcher.currentIndex(spark, index)
    val redelivered = graft.index.InvertedIndex.build(
      Seq(("a.txt", "cat cat dog")).toDF("doc_id", "text"))
    val doubled = graft.index.InvertedIndex.add(idx1, redelivered)
      .as[(String, String, Long)].collect().toSet
    // reference semantics (master/main.py:106-121): counts double
    assert(doubled === Set(("cat", "a.txt", 4L), ("dog", "a.txt", 2L)))
  }

  test("snapshot GC keeps only the newest retainSnapshots dirs, LATEST stays newest") {
    val (watch, index, ckpt) = (tmp("watchg"), tmp("indexg"), tmp("ckptg"))
    def snapDirs(): Vector[String] = {
      val s = Files.list(Paths.get(index))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.matches("snap-\\d+")).toVector.sorted
      } finally s.close()
    }
    (1 to 3).foreach { i =>
      writeDoc(watch, s"d$i.txt", s"word$i common")
      CorpusWatcher.start(spark, watch, index, ckpt).awaitTermination()
    }
    val snaps = snapDirs()
    assert(snaps.size <= 2, s"GC left ${snaps.size} snapshots: $snaps")
    // LATEST points at the newest surviving snapshot and still reads
    val latest = new String(Files.readAllBytes(Paths.get(index, "LATEST")), "UTF-8").trim
    assert(latest === snaps.last)
    assert(indexEntries(index).contains(("word3", "d3.txt", 1L)))
    assert(indexEntries(index).count(_._1 == "common") === 3)
  }

  test("snapshot GC never deletes the snapshot LATEST names (fresh-checkpoint id restart)") {
    // existing indexDir + fresh checkpointDir: batch ids restart at 0, so
    // the just-published snapshot is numerically the OLDEST — retention by
    // batch id alone would delete it right after the pointer swap
    val index = tmp("indexgc")
    def mkSnap(name: String): Unit = {
      Files.createDirectories(Paths.get(index, name))
      Files.write(Paths.get(index, name, "part-0.parquet"), Array[Byte](1))
    }
    Seq("snap-000000000", "snap-000000005", "snap-000000006").foreach(mkSnap)
    Files.write(Paths.get(index, "LATEST"), "snap-000000000".getBytes("UTF-8"))
    CorpusWatcher.gcSnapshots(spark, index, retain = 2)
    val left = {
      val s = Files.list(Paths.get(index))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("snap-")).toSet
      } finally s.close()
    }
    // the published snapshot survives despite being oldest by id
    assert(left === Set("snap-000000000", "snap-000000005", "snap-000000006"))
    // and once LATEST moves on, plain retention applies again
    Files.write(Paths.get(index, "LATEST"), "snap-000000006".getBytes("UTF-8"))
    CorpusWatcher.gcSnapshots(spark, index, retain = 2)
    val after = {
      val s = Files.list(Paths.get(index))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("snap-")).toSet
      } finally s.close()
    }
    assert(after === Set("snap-000000005", "snap-000000006"))
  }

  test("start, currentIndex and snapshot retention publish on a non-file: Hadoop scheme (viewfs)") {
    // a viewfs mount of a local temp dir; the mount-table name is unique
    // to this run, so the FileSystem cache entry it creates is this
    // test's alone
    val (watch, ckpt, local) = (tmp("watchvf"), tmp("ckptvf"), tmp("indexvf"))
    val table = s"graftvf${System.nanoTime()}"
    val link = s"fs.viewfs.mounttable.$table.link./index"
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(link, new java.io.File(local).toURI.toString)
    try {
      val index = s"viewfs://$table/index"
      val json = s"$index/final_results.json"
      (1 to 3).foreach { i =>
        writeDoc(watch, s"d$i.txt", s"word$i common")
        CorpusWatcher.start(spark, watch, index, ckpt,
          finalJsonPath = Some(json)).awaitTermination()
      }
      assert(indexEntries(index) === Set(("word1", "d1.txt", 1L), ("word2", "d2.txt", 1L),
        ("word3", "d3.txt", 1L), ("common", "d1.txt", 1L), ("common", "d2.txt", 1L),
        ("common", "d3.txt", 1L)))
      // through the mount's local target: the parent-format layout, with
      // retention applied
      val snaps = new java.io.File(local).list().filter(_.matches("snap-\\d+")).sorted.toSeq
      assert(snaps.size === 2, s"retention left $snaps")
      val latest = new String(Files.readAllBytes(Paths.get(local, "LATEST")), "UTF-8").trim
      assert(latest === snaps.last)
      val exported = new String(Files.readAllBytes(Paths.get(local, "final_results.json")), "UTF-8")
      assert(exported.contains("\"d3.txt\": 1"))
      assert(!Files.exists(Paths.get(local, "final_results.json.tmp")))
    } finally conf.unset(link)
  }

  test("startJsonl rejects out-of-range values, naming the field, before starting anything") {
    val (watch, index, ckpt, quar) =
      (tmp("watchrq"), tmp("indexrq"), tmp("ckptrq"), tmp("quarrq") + "/bad")
    val (hist, fd) = (tmp("histrq") + "/urls", tmp("frontrq") + "/frontier")
    val running = spark.streams.active.length
    def rejects(field: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(field), e.getMessage)
    }
    def withFrontier(f: Frontier) =
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
        urlGate = Some(UrlIdentityGate(hist, Some(f))))
    rejects("retainSnapshots")(
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar, retainSnapshots = 0))
    rejects("compactEvery")(
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar, compactEvery = Some(0)))
    rejects("perHostCap")(withFrontier(Frontier(fd, perHostCap = 0)))
    rejects("defaultDelay")(withFrontier(Frontier(fd, defaultDelay = -1.0)))
    rejects("classifierGate")(
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
        drift = Some(Drift(tmp("driftrq"), Some(Refresh(tmp("refrq"), spark.emptyDataFrame,
          classifierDrift = true))))))
    assert(spark.streams.active.length === running)
  }

  test("JSONL quarantine replay is idempotent (per-batch overwrite, no duplicates)") {
    val (watch, index, quar) = (tmp("watchrp"), tmp("indexrp"), tmp("quarrp") + "/bad")
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 1, "text": "cat"}""" + "\n" +
        """{"doc_id": 2, "text": "broken""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptrp1"), quar).awaitTermination()
    // simulate a replay of the same data (fresh checkpoint => batch 0 again)
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptrp2"), quar).awaitTermination()
    val bad = spark.read.parquet(quar).select("raw").as[String].collect().toSeq
    assert(bad === Seq("""{"doc_id": 2, "text": "broken"""),
      s"replay duplicated quarantine rows: $bad")
    // partition-discovery contract: reading the quarantine ROOT must
    // surface batch_id (the per-batch dir name) as a column — the
    // inspection/replay key the quarantine exists for
    val withBatch = spark.read.parquet(quar).select("batch_id", "raw")
      .as[(Int, String)].collect().toSeq
    assert(withBatch === Seq((0, """{"doc_id": 2, "text": "broken""")), withBatch.toString)
  }

  test("JSONL watcher indexes clean lines, quarantines corrupt and keyless ones") {
    val (watch, index, ckpt, quar) =
      (tmp("watchjl"), tmp("indexjl"), tmp("ckptjl"), tmp("quarjl") + "/bad")
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 1, "text": "cat dog cat"}""" + "\n" +
        """{"doc_id": 2, "text": "truncated""" + "\n" +       // malformed JSON
        """{"text": "no id here"}""" + "\n" +                  // parseable, keyless
        """{"doc_id": 3, "text": "bird"}""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar).awaitTermination()
    assert(indexEntries(index) === Set(
      ("cat", "1", 2L), ("dog", "1", 1L), ("bird", "3", 1L)))
    val bad = spark.read.parquet(quar).select("raw").as[String].collect().toSet
    assert(bad === Set(
      """{"doc_id": 2, "text": "truncated""",
      """{"text":"no id here"}""")) // keyless row re-serialized by to_json
    // a later arrival merges incrementally (upsert keyed on doc_id)
    Files.write(Paths.get(watch, "feed-1.json"),
      """{"doc_id": 1, "text": "replaced"}""".getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar).awaitTermination()
    assert(indexEntries(index) === Set(
      ("replaced", "1", 1L), ("bird", "3", 1L)))
  }

  test("qualityGate drops low-quality and off-language docs before indexing; corrupt lines still quarantine") {
    val (watch, index, ckpt, quar) =
      (tmp("watchqg"), tmp("indexqg"), tmp("ckptqg"), tmp("quarqg") + "/bad")
    // 10: passes (>= 10 tokens, en stopwords); 11: too short (quality);
    // 12: German argmax with one en stopword hit (language, not quality);
    // 13: malformed (quarantine path must be unaffected by the gate)
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog again today"}""" + "\n" +
        """{"doc_id": 11, "text": "too short"}""" + "\n" +
        """{"doc_id": 12, "text": "der die das und ist nicht ein eine von zu the"}""" + "\n" +
        """{"doc_id": 13, "text": "broken""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      qualityGate = Some(graft.ops.Curation.QualityGate())).awaitTermination()
    val indexed = indexEntries(index).map(_._2)
    assert(indexed === Set("10"),
      s"gate should keep only doc 10, indexed docs: $indexed")
    // gated docs are DISCARDED (policy), corrupt lines still quarantine
    val bad = spark.read.parquet(quar).select("raw").as[String].collect().toSet
    assert(bad === Set("""{"doc_id": 13, "text": "broken"""))
    // gate parity with the batch operator on identical input
    val asBatch = Seq((10L, "the quick brown fox jumps over the lazy dog again today"),
      (11L, "too short"),
      (12L, "der die das und ist nicht ein eine von zu the"))
      .toDF("doc_id", "text")
    val kept = graft.ops.Curation.applyGate(asBatch, graft.ops.Curation.QualityGate())
    assert(kept.columns.toSeq === Seq("doc_id", "text"))
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(10L))
  }

  test("qualityGate with a blocklist drops blocked arrivals at the stream gate too") {
    val (watch, index, ckpt, quar) =
      (tmp("watchbl"), tmp("indexbl"), tmp("ckptbl"), tmp("quarbl") + "/bad")
    // 20 passes; 21 passes quality+language but carries a blocked token
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 20, "text": "the quick brown fox jumps over the lazy dog again today"}""" + "\n" +
        """{"doc_id": 21, "text": "the town casino is open late and the locals visit it often"}""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      qualityGate = Some(graft.ops.Curation.QualityGate(
        blocklist = Seq("casino")))).awaitTermination()
    val indexed = indexEntries(index).map(_._2)
    assert(indexed === Set("20"),
      s"blocklisted doc 21 should be gated out, indexed docs: $indexed")
  }

  test("metricsDir records each batch's per-stage funnel counts (all knobs on)") {
    val (watch, index, ckpt, quar, bands, metrics) =
      (tmp("watchmx"), tmp("indexmx"), tmp("ckptmx"), tmp("quarmx") + "/bad",
        tmp("bandsmx") + "/bands", tmp("metricsmx") + "/metrics")
    // Cache accounting is scoped to RDDs THIS test creates: earlier
    // suites in the shared JVM may hold still-referenced checkpoint
    // RDDs that no amount of GC here can drain, so a global-emptiness
    // assertion is order-dependent (observed flaky in full-suite runs).
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val dupText = "a very fine sentence about the weather and other topics today"
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 20, "text": "the quick brown fox jumps over the lazy dog again today"}""" + "\n" +
        s"""{"doc_id": 21, "text": "$dupText"}""" + "\n" +
        s"""{"doc_id": 22, "text": "$dupText"}""" + "\n" +       // within-batch dup of 21
        """{"doc_id": 23, "text": "too short"}""" + "\n" +       // gate drop
        """{"doc_id": 24, "text": "broken""" + "\n").getBytes("UTF-8"))  // corrupt
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      dedupBandsDir = Some(bands), dedupWithinBatch = true,
      qualityGate = Some(graft.ops.Curation.QualityGate()),
      metricsDir = Some(metrics)).awaitTermination()
    run()
    def metricsOf(batch: Int): Map[String, Long] =
      spark.read.parquet(metrics).filter(col("batch_id") === batch)
        .select("stage", "n_docs").as[(String, Long)].collect().toMap
    assert(metricsOf(0) === Map(
      "ingest" -> 5L, "parsed" -> 4L, "url_dedup" -> 4L,
      "html_text" -> 4L, "c4_lines" -> 4L,
      "quality_gate" -> 3L, "classifier" -> 3L, "decontaminated" -> 3L,
      "dedup_history" -> 3L, "dedup_within" -> 2L,
      "mixture" -> 2L, "indexed" -> 2L, "frontier" -> 0L))
    // batch 1: a near-dup of a batch-0 survivor dies at the history stage
    Files.write(Paths.get(watch, "feed-1.json"),
      s"""{"doc_id": 30, "text": "$dupText"}""".getBytes("UTF-8"))
    run()
    assert(metricsOf(1) === Map(
      "ingest" -> 1L, "parsed" -> 1L, "url_dedup" -> 1L,
      "html_text" -> 1L, "c4_lines" -> 1L,
      "quality_gate" -> 1L, "classifier" -> 1L, "decontaminated" -> 1L,
      "dedup_history" -> 0L, "dedup_within" -> 0L,
      "mixture" -> 0L, "indexed" -> 0L, "frontier" -> 0L))
    assert(indexEntries(index).map(_._2) === Set("20", "21"))
    // Drain the cache entries THIS test added (diff vs the baseline):
    // the survivors persist is released async (blocking=false), and the
    // dedup stages' localCheckpoint RDDs are only collected when the
    // ContextCleaner sees them GC'd — nudge it.
    def leftover() = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (leftover().nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(leftover().isEmpty,
      "survivors cache should drain after the stream stops")
  }

  test("dedupBandsDir: cross-batch near-dups dropped, survivor-only band appends, no cache growth") {
    val (watch, index, quar, bands) =
      (tmp("watchdd"), tmp("indexdd"), tmp("quardd") + "/bad", tmp("bandsdd") + "/bands")
    // keyset diff, not size: an earlier suite's checkpoint RDD may get
    // GC-collected mid-test, shrinking the global count asynchronously
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // batch 0: two distinct documents
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 1, "text": "alpha beta gamma delta"}""" + "\n" +
        """{"doc_id": 2, "text": "one two three four"}""" + "\n").getBytes("UTF-8"))
    val ckpt = tmp("ckptdd")
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      dedupBandsDir = Some(bands)).awaitTermination()
    // batch 1: doc 3 near-dups doc 1 (identical text => identical band
    // keys); doc 4 is fresh
    Files.write(Paths.get(watch, "feed-1.json"),
      ("""{"doc_id": 3, "text": "alpha beta gamma delta"}""" + "\n" +
        """{"doc_id": 4, "text": "five six seven eight"}""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      dedupBandsDir = Some(bands)).awaitTermination()

    val idx = indexEntries(index)
    assert(idx.map(_._2) === Set("1", "2", "4"),
      s"batch 2's near-dup of a batch-1 doc must be absent from the merged index: $idx")
    assert(idx.filter(_._2 == "4").map(_._1) === Set("five", "six", "seven", "eight"))

    // band table: per-batch partitions, batch 1's partition holds ONLY
    // the survivor's bands (the dropped doc's bands never append)
    val bandRows = spark.read.parquet(bands)
      .select(col("batch_id").cast("long"), col("doc_id"))
      .as[(Long, String)].collect().toSet
    assert(bandRows.map(_._1) === Set(0L, 1L))
    assert(bandRows.filter(_._1 == 1L).map(_._2) === Set("4"),
      s"batch_id=1 must contain only survivor bands: $bandRows")
    assert(bandRows.filter(_._1 == 0L).map(_._2) === Set("1", "2"))

    // the per-batch survivors persist is released after each swap
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "per-batch survivors cache must be released after the snapshot swap")
  }

  test("adaptiveMixtureGate: rates follow the ACCUMULATED token distribution across batches") {
    val (watch, index, quar, stats) =
      (tmp("watcham"), tmp("indexam"), tmp("quaram") + "/bad", tmp("statsam") + "/stats")
    val ckpt = tmp("ckptam")
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 4), 16) % 10000
    }
    def line(id: Long, src: Option[String]): String = {
      val srcField = src.map(s => s""", "source": "$s"""").getOrElse("")
      s"""{"doc_id": $id, "text": "alpha beta gamma delta tok$id"$srcField}"""
    }
    val gate = Some(graft.ops.Sampling.AdaptiveMixtureGate(stats, temperature = 2.0))
    // batch 0: token mass web:wiki = 40:10 = 0.8:0.2 → at T=2 the rates
    // are EXACT ((0.2/0.8)^0.5): web 0.5, wiki 1.0; doc 99 has no
    // source → defaultRate 1.0
    val b0 = ((1L to 8L).map(i => line(i, Some("web"))) ++
      Seq(line(11L, Some("wiki")), line(12L, Some("wiki")), line(99L, None)))
    Files.write(Paths.get(watch, "feed-0.json"), (b0.mkString("\n") + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      mixtureGate = gate).awaitTermination()
    val expect0 = (1L to 8L).filter(bucket(_) < 5000).toSet ++ Set(11L, 12L, 99L)
    def indexedDocs: Set[Long] = indexEntries(index).map(_._2.toLong)
    assert(indexedDocs === expect0)
    // batch 1: 30 wiki docs shift the ACCUMULATED mass to web 40 /
    // wiki 160 = 0.2:0.8 → rates flip: wiki 0.5, web 1.0. The same
    // source that was fully admitted in batch 0 is now downsampled.
    val b1 = (101L to 130L).map(i => line(i, Some("wiki")))
    Files.write(Paths.get(watch, "feed-1.json"), (b1.mkString("\n") + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      mixtureGate = gate).awaitTermination()
    val expect1 = (101L to 130L).filter(bucket(_) < 5000).toSet
    assert(expect1.nonEmpty && expect1.size < 30, "fixture must be non-degenerate")
    assert(indexedDocs === expect0 ++ expect1)
    // the stats table holds each batch's PRE-mixture per-source counts
    val st = spark.read.parquet(stats)
      .select(col("batch_id").cast("long"), col("source"), col("n_docs"), col("n_tokens"))
      .as[(Long, Option[String], Long, Long)].collect().toSet
    assert(st === Set(
      (0L, Some("web"), 8L, 40L), (0L, Some("wiki"), 2L, 10L), (0L, None, 1L, 5L),
      (1L, Some("wiki"), 30L, 150L)))
  }

  test("adaptiveMixtureGate UniMax policy: over-share sources throttle toward the budget") {
    val (watch, index, quar, stats) =
      (tmp("watchum"), tmp("indexum"), tmp("quarum") + "/bad", tmp("statsum") + "/stats")
    val ckpt = tmp("ckptum")
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 4), 16) % 10000
    }
    def line(id: Long, src: String): String =
      s"""{"doc_id": $id, "text": "alpha beta gamma delta tok$id", "source": "$src"}"""
    val gate = Some(graft.ops.Sampling.AdaptiveMixtureGate(stats,
      unimaxBudget = Some(60L), unimaxMaxEpochs = 1.0))
    // batch 0: web 40 / wiki 10 tokens — total capacity 50 <= budget
    // 60, so BOTH sources are capped at their capacity: rate 1.0, all
    // admitted
    val b0 = (1L to 8L).map(line(_, "web")) ++ Seq(line(11L, "wiki"), line(12L, "wiki"))
    Files.write(Paths.get(watch, "feed-0.json"), (b0.mkString("\n") + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      mixtureGate = gate).awaitTermination()
    def indexedDocs: Set[Long] = indexEntries(index).map(_._2.toLong)
    val expect0 = (1L to 8L).toSet ++ Set(11L, 12L)
    assert(indexedDocs === expect0)
    // batch 1: +30 web docs → accumulated web 190 / wiki 10. Waterfill
    // B=60: wiki capped (alloc 10, rate 1), web uncapped with alloc
    // floor((60-10)/1)=50 → rate round(50/190, 6) = 0.263158
    val b1 = (201L to 230L).map(line(_, "web"))
    Files.write(Paths.get(watch, "feed-1.json"), (b1.mkString("\n") + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      mixtureGate = gate).awaitTermination()
    // threshold truncates to integer basis points (mixtureKeep parity)
    val expect1 = (201L to 230L).filter(bucket(_) < math.floor(0.263158 * 10000)).toSet
    assert(expect1.nonEmpty && expect1.size < 30, "fixture must be non-degenerate")
    assert(indexedDocs === expect0 ++ expect1)
  }

  test("compactEvery folds history partitions mid-stream without changing dedup behavior") {
    val (watch, index, quar, bands) =
      (tmp("watchce"), tmp("indexce"), tmp("quarce") + "/bad", tmp("bandsce") + "/bands")
    val ckpt = tmp("ckptce")
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      dedupBandsDir = Some(bands), compactEvery = Some(1)).awaitTermination()
    def feed(n: Int, lines: String*): Unit =
      Files.write(Paths.get(watch, s"feed-$n.json"),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    feed(0,
      """{"doc_id": 1, "text": "alpha beta gamma delta"}""",
      """{"doc_id": 2, "text": "one two three four"}""")
    run()
    feed(1,
      """{"doc_id": 3, "text": "alpha beta gamma delta"}""",  // dups 1
      """{"doc_id": 4, "text": "five six seven eight"}""")
    run()
    feed(2,
      """{"doc_id": 5, "text": "five six seven eight"}""",    // dups 4
      """{"doc_id": 6, "text": "nine ten eleven twelve"}""")
    run()
    // dedup across all three batches behaved exactly as without
    // compaction: cross-batch near-dups 3 and 5 are gone
    assert(indexEntries(index).map(_._2).toSet === Set("1", "2", "4", "6"))
    // after batch 2's compaction pass: batches 0+1 folded into one
    // negative-id partition, the newest batch partition left alone
    val parts = new java.io.File(bands).listFiles().filter(_.isDirectory)
      .map(_.getName.stripPrefix("batch_id=").toLong).toSet
    assert(parts === Set(-1L, 2L), parts.toString)
  }

  test("compactHistory: folds all but the newest batch into one negative-id partition") {
    val dir = tmp("compact") + "/bands"
    def bandsOf(rows: (Long, String)*) =
      graft.ops.Dedup.minhashBands(rows.toDF("doc_id", "text"))
    // four per-batch partitions, disjoint docs
    (0 to 3).foreach { b =>
      bandsOf((b * 10 + 1).toLong -> s"alpha beta gamma delta batch $b",
              (b * 10 + 2).toLong -> s"one two three four batch $b")
        .write.mode("overwrite").parquet(s"$dir/batch_id=$b")
    }
    def partitions: Set[Long] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName.stripPrefix("batch_id=").toLong).toSet
    def historyRows(exclude: Long): Set[(Long, Int, String)] =
      spark.read.parquet(dir).filter(col("batch_id") =!= exclude)
        .select(col("doc_id").cast("long"), col("band").cast("int"), col("band_key"))
        .as[(Long, Int, String)].collect().toSet
    val before = historyRows(exclude = 3)
    val beforeAll = historyRows(exclude = Long.MinValue)

    assert(CorpusWatcher.compactHistory(spark, dir) === 3)
    assert(partitions === Set(-1L, 3L),
      s"compaction must leave the newest batch partition untouched: $partitions")
    // the accumulated-history read (excluding the replayable newest
    // batch) sees exactly the same band rows
    assert(historyRows(exclude = 3) === before)
    assert(historyRows(exclude = Long.MinValue) === beforeAll)
    // idempotent: a second run with nothing to fold is a no-op
    assert(CorpusWatcher.compactHistory(spark, dir) === 0)
    assert(partitions === Set(-1L, 3L))

    // concurrent-append shape: a new batch lands, the NEXT compaction
    // folds the compacted partition and the superseded batch together,
    // moving further down the negative id space
    bandsOf(41L -> "five six seven eight batch 4")
      .write.mode("overwrite").parquet(s"$dir/batch_id=4")
    val allBefore = historyRows(exclude = Long.MinValue)
    assert(CorpusWatcher.compactHistory(spark, dir) === 2) // {-1, 3}
    assert(partitions === Set(-2L, 4L))
    assert(historyRows(exclude = Long.MinValue) === allBefore)
    // file count: the compacted partition is a single data file
    assert(new java.io.File(s"$dir/batch_id=-2")
      .listFiles().count(_.getName.endsWith(".parquet")) === 1)
  }

  test("compactStats: sum-safe fold of the adaptive stats table; every crash state recovers") {
    val dir = tmp("cstats") + "/stats"
    def statsOf(rows: (String, Long, Long)*) =
      rows.toDF("source", "n_docs", "n_tokens")
    (0 to 3).foreach { b =>
      statsOf(("src0", 2L, (100 + b).toLong), ("src1", 1L, (50 + b).toLong))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_id=$b")
    }
    def partitions: Set[Long] =
      new java.io.File(dir).listFiles().filter(f => f.isDirectory && !f.getName.startsWith("."))
        .map(_.getName.stripPrefix("batch_id=").toLong).toSet
    // THE consumer's exact read: accumulated per-source SUMS
    def sums: Map[String, Long] =
      spark.read.parquet(dir).groupBy("source").agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"))
        .as[(String, Long)].collect().toMap
    val before = sums
    assert(CorpusWatcher.compactStats(spark, dir) === 3)
    assert(partitions === Set(-1L, 3L),
      s"newest batch partition must survive (replay overwrite target): $partitions")
    assert(sums === before) // the sum-safety pin
    // nothing left to fold → no-op
    assert(CorpusWatcher.compactStats(spark, dir) === 0)
    // recompaction folds the negative generation + superseded batches
    statsOf(("src0", 1L, 10L)).coalesce(1).write.mode("overwrite").parquet(s"$dir/batch_id=4")
    val all2 = sums
    assert(CorpusWatcher.compactStats(spark, dir) === 2)
    assert(partitions === Set(-2L, 4L))
    assert(sums === all2)

    // crash BEFORE the marker: stray tmp is garbage, visible table intact
    statsOf(("junk", 9L, 999L)).coalesce(1).write.parquet(s"$dir/.compact_tmp")
    CorpusWatcher.recoverStats(spark, dir)
    assert(!new java.io.File(s"$dir/.compact_tmp").exists())
    assert(sums === all2)

    // crash AFTER the marker, BEFORE the swap: tmp holds the source's
    // exact sums; recovery completes rename + delete + unmark
    val srcRows = spark.read.parquet(s"$dir/batch_id=-2")
      .groupBy("source").agg(org.apache.spark.sql.functions.sum("n_docs").as("n_docs"), org.apache.spark.sql.functions.sum("n_tokens").as("n_tokens"))
    srcRows.coalesce(1).write.parquet(s"$dir/.compact_tmp")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".compact_marker"),
      "batch_id=-3\nbatch_id=-2".getBytes("UTF-8"))
    CorpusWatcher.recoverStats(spark, dir)
    assert(partitions === Set(-3L, 4L))
    assert(sums === all2)
    assert(!new java.io.File(s"$dir/.compact_marker").exists())

    // crash AFTER the swap, BEFORE source deletion — the DOUBLE-COUNT
    // window: target and a stale source both visible; recovery deletes
    // the marker-named source before any consumer read sees it
    spark.read.parquet(s"$dir/batch_id=-3")
      .coalesce(1).write.parquet(s"$dir/batch_id=-5") // stale duplicate source
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".compact_marker"),
      "batch_id=-3\nbatch_id=-5".getBytes("UTF-8"))
    assert(sums !== all2) // the crash state really does double-count
    CorpusWatcher.recoverStats(spark, dir)
    assert(partitions === Set(-3L, 4L))
    assert(sums === all2)
    // recovery is idempotent
    CorpusWatcher.recoverStats(spark, dir)
    assert(sums === all2)
  }

  test("compactStats: a file at the fold's target name fails before any source is deleted") {
    val dir = tmp("cstatsf") + "/stats"
    (0 to 2).foreach { b =>
      Seq(("src0", 1L, 10L)).toDF("source", "n_docs", "n_tokens")
        .coalesce(1).write.parquet(s"$dir/batch_id=$b")
    }
    // batches 0 and 1 fold into batch_id=-1, where a regular file sits
    Files.write(Paths.get(dir, "batch_id=-1"), "not a partition".getBytes("UTF-8"))
    def sourcesKept(): Unit = Seq(0, 1).foreach { b =>
      val files = Option(new java.io.File(dir, s"batch_id=$b").list()).toSeq.flatten
      assert(files.exists(_.endsWith(".parquet")), s"batch_id=$b was deleted")
    }
    intercept[java.io.IOException](CorpusWatcher.compactStats(spark, dir))
    sourcesKept()
    // recovery does not take the file for a finished fold either
    intercept[java.io.IOException](CorpusWatcher.recoverStats(spark, dir))
    sourcesKept()
  }

  test("dedupBandsDir: a replayed batch excludes its own first-attempt bands") {
    val (watch, index, quar, bands) =
      (tmp("watchrb"), tmp("indexrb"), tmp("quarrb") + "/bad", tmp("bandsrb") + "/bands")
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 1, "text": "alpha beta gamma delta"}""" + "\n" +
        """{"doc_id": 2, "text": "one two three four"}""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptrb1"), quar,
      dedupBandsDir = Some(bands)).awaitTermination()
    // simulate a foreachBatch retry: fresh checkpoint => the same file
    // set re-runs as batch 0 against a bands dir that already holds the
    // first attempt's batch_id=0 partition. Without the excludeBatchId
    // path every doc would collide with its OWN bands and the whole
    // batch would be dropped.
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptrb2"), quar,
      dedupBandsDir = Some(bands)).awaitTermination()

    assert(indexEntries(index).map(_._2) === Set("1", "2"),
      "a replayed batch must not self-collide with its first-attempt bands")
    val bandRows = spark.read.parquet(bands)
      .select(col("batch_id").cast("long"), col("doc_id"))
      .as[(Long, String)].collect().toSet
    assert(bandRows.map(_._1) === Set(0L))
    assert(bandRows.map(_._2) === Set("1", "2"))
  }

  test("dedupWithinBatch drops intra-batch near-dups, keeping the minimum doc_id") {
    val (watch, index, quar, bands) =
      (tmp("watchwb"), tmp("indexwb"), tmp("quarwb") + "/bad", tmp("bandswb") + "/bands")
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 6, "text": "alpha beta gamma delta"}""" + "\n" +
        """{"doc_id": 5, "text": "alpha beta gamma delta"}""" + "\n" +
        """{"doc_id": 7, "text": "one two three four"}""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptwb"), quar,
      dedupBandsDir = Some(bands), dedupWithinBatch = true).awaitTermination()
    assert(indexEntries(index).map(_._2) === Set("5", "7"),
      "intra-batch cluster keeps its minimum doc_id only")
    val bandDocs = spark.read.parquet(bands).select("doc_id").as[String].collect().toSet
    assert(bandDocs === Set("5", "7"), "only intra-batch survivors band-append")
  }

  test("classifierGate + decontamShingles drop model-rejected and contaminated docs; replay-idempotent") {
    val (watch, index, quar, metrics) =
      (tmp("watchcg"), tmp("indexcg"), tmp("quarcg") + "/bad", tmp("metricscg") + "/metrics")
    // frozen artifacts, trained/built BEFORE the stream exists — the
    // serve-only contract: the stream never trains anything
    val pos = Seq(
      (1L, "delightful prose about science and careful clear writing"),
      (2L, "careful clear writing about science")).toDF("doc_id", "text")
    val neg = Seq(
      (3L, "buy cheap pills now click here spam offer"),
      (4L, "spam offer click now cheap pills")).toDF("doc_id", "text")
    val weights = graft.ops.Curation.classifierWeights(pos, neg).cache()
    val evalSh = graft.ops.Dedup.evalShingles(
      Seq((100L, "the secret benchmark answer sequence")).toDF("doc_id", "text")).cache()
    val gate = graft.ops.Curation.ClassifierGate(weights)
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      classifierGate = Some(_ => gate),
      decontamShingles = Some(evalSh),
      metricsDir = Some(metrics)).awaitTermination()
    // batch 0: a clean doc establishes the index
    Files.write(Paths.get(watch, "feed-0.json"),
      """{"doc_id": 10, "text": "careful clear writing about science"}""".getBytes("UTF-8"))
    val ckpt = tmp("ckptcg")
    run(ckpt)
    assert(indexEntries(index).map(_._2) === Set("10"))
    // batch 1: clean + contaminated (shares a 3-shingle with the eval
    // suite) + spam (negative logit under the frozen model)
    Files.write(Paths.get(watch, "feed-1.json"),
      ("""{"doc_id": 11, "text": "delightful prose about science"}""" + "\n" +
        """{"doc_id": 12, "text": "contains the secret benchmark answer sequence inside"}""" + "\n" +
        """{"doc_id": 13, "text": "buy cheap pills now click here spam offer"}""" + "\n")
        .getBytes("UTF-8"))
    run(ckpt)
    assert(indexEntries(index).map(_._2) === Set("10", "11"),
      "the contaminated and model-rejected docs must not reach the index")
    // the funnel attributes each drop to its stage: 3 parsed, the spam
    // doc dies at the classifier, the leaking doc at decontamination
    val m1 = spark.read.parquet(metrics).filter(col("batch_id") === 1)
      .select("stage", "n_docs").as[(String, Long)].collect().toMap
    assert(m1 === Map(
      "ingest" -> 3L, "parsed" -> 3L, "url_dedup" -> 3L,
      "html_text" -> 3L, "c4_lines" -> 3L,
      "quality_gate" -> 3L,
      "classifier" -> 2L, "decontaminated" -> 1L,
      "dedup_history" -> 1L, "dedup_within" -> 1L,
      "mixture" -> 1L, "indexed" -> 1L, "frontier" -> 0L))
    // replay batch 1 (fresh checkpoint, same files): deterministic
    // scoring + shingling drop the same docs; upsert keeps the index
    // identical — no doc resurrected, none double-counted
    val before = indexEntries(index)
    run(tmp("ckptcg2"))
    assert(indexEntries(index) === before, "replay must be idempotent")
    weights.unpersist(); evalSh.unpersist()
    ()
  }

  test("driftDir records per-batch drift vs the accumulated index, from index counts alone") {
    val (watch, index, ckpt, quar, drift) =
      (tmp("watchdr"), tmp("indexdr"), tmp("ckptdr"), tmp("quardr") + "/bad",
        tmp("driftdr") + "/drift")
    val t20 = "the quick brown fox jumps over the lazy dog again today"
    val t21 = "a very fine sentence about the weather and other topics today"
    val t30 = "completely different vocabulary regarding astronomy telescopes and galaxies"
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      drift = Some(Drift(drift))).awaitTermination()
    Files.write(Paths.get(watch, "feed-0.json"),
      (s"""{"doc_id": 20, "text": "$t20"}""" + "\n" +
        s"""{"doc_id": 21, "text": "$t21"}""").getBytes("UTF-8"))
    run()
    // batch 0: one row, measured against the EMPTY index (n_tokens_b=0)
    val r0 = spark.read.parquet(drift).filter(col("batch_id") === 0)
      .select("n_tokens_a", "n_tokens_b", "js").as[(Long, Long, Double)].collect()
    assert(r0.length === 1 && r0.head._1 === 22L && r0.head._2 === 0L && r0.head._3 > 0)
    Files.write(Paths.get(watch, "feed-1.json"),
      s"""{"doc_id": 30, "text": "$t30"}""".getBytes("UTF-8"))
    run()
    // batch 1's row == offline tokenDrift(batch-1 docs, batch-0 docs):
    // the history side came from the index's (word, cnt) — never from
    // re-tokenized text — and must be count-exact with the text path
    val got = spark.read.parquet(drift).filter(col("batch_id") === 1)
      .select("n_tokens_a", "n_tokens_b", "kl_ab", "kl_ba", "js")
      .as[(Long, Long, Double, Double, Double)].head()
    val want = graft.ops.TextAnalysis.tokenDrift(
      Seq(t30).toDF("text"), Seq(t20, t21).toDF("text"))
      .as[(Long, Long, Double, Double, Double)].head()
    assert(got === want)
  }

  test("refreshDir: a drifted batch flips the due flag; a stable batch doesn't; undeclared metrics stay quiet") {
    val (watch, index, ckpt, quar, drift, refresh) =
      (tmp("watchrf"), tmp("indexrf"), tmp("ckptrf"), tmp("quarrf") + "/bad",
        tmp("driftrf") + "/drift", tmp("refreshrf") + "/refresh")
    // tiny fixture + 1024-bucket add-one smoothing flattens js to the
    // 1e-3 scale; the threshold sits between the stable batch's exact
    // 0.0 and the drifted batch's measured 3.6e-3
    val thr = Seq(("index", "js", 0.001), ("index", "kl_ab", 1000.0))
      .toDF("artifact", "metric", "threshold")
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      drift = Some(Drift(drift, Some(Refresh(refresh, thr))))).awaitTermination()
    // batch 0 seeds the history (cold-start: decided vs the empty index)
    Files.write(Paths.get(watch, "feed-0.json"),
      """{"doc_id": 50, "text": "the quick brown fox jumps over the lazy dog again today"}"""
        .getBytes("UTF-8"))
    run()
    // batch 1: the SAME token multiset rearranged (no drift, distinct doc)
    Files.write(Paths.get(watch, "feed-1.json"),
      """{"doc_id": 51, "text": "the lazy dog jumps over the quick brown fox again today"}"""
        .getBytes("UTF-8"))
    run()
    val d1 = CorpusWatcher.refreshDecisions(spark, refresh)
      .filter(col("batch_id") === 1)
      .select("metric", "value", "due").as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(d1.keySet === Set("js", "kl_ab"), "one decision row per declared threshold")
    assert(d1("js")._1 === 0.0 && !d1("js")._2, "identical distribution must not flip")
    assert(!d1("kl_ab")._2)
    // batch 2: disjoint vocabulary — js crosses its threshold, the
    // sky-high kl_ab threshold still holds (per-metric independence)
    Files.write(Paths.get(watch, "feed-2.json"),
      """{"doc_id": 52, "text": "completely different vocabulary regarding astronomy telescopes and galaxies"}"""
        .getBytes("UTF-8"))
    run()
    val d2 = CorpusWatcher.refreshDecisions(spark, refresh)
      .filter(col("batch_id") === 2)
      .select("metric", "value", "due").as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(d2("js")._1 > 0.001 && d2("js")._2, s"drifted batch must flip: ${d2("js")}")
    assert(!d2("kl_ab")._2, "the uncrossed threshold must not flip with it")
  }

  test("unkVocab: the stream records tokenizer:<source> decisions; retrainIfDue acts on them end to end") {
    val (watch, index, ckpt, quar, drift, refresh) =
      (tmp("watchuk"), tmp("indexuk"), tmp("ckptuk"), tmp("quaruk") + "/bad",
        tmp("driftuk") + "/drift", tmp("refreshuk") + "/refresh")
    // the deployed vocab covers srcA's words whole; srcB's vocabulary
    // is entirely out-of-vocab under greedy whole-word matching
    val vocab = Seq("[UNK]", "known", "words", "only", "fine", "here")
    val thr = Seq(("index", "js", 1000.0),
      ("tokenizer:srcA", "unk_rate", 0.5), ("tokenizer:srcB", "unk_rate", 0.5))
      .toDF("artifact", "metric", "threshold")
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      drift = Some(Drift(drift,
        Some(Refresh(refresh, thr, unkVocab = Some(vocab)))))).awaitTermination()
    Files.write(Paths.get(watch, "uk-0.json"),
      """{"doc_id": 60, "text": "known words only fine here", "source": "srcA"}"""
        .getBytes("UTF-8"))
    run()
    Files.write(Paths.get(watch, "uk-1.json"),
      ("""{"doc_id": 61, "text": "known words fine here only", "source": "srcA"}""" + "\n" +
        """{"doc_id": 62, "text": "zzzzqqq unknowable gibberish tokens", "source": "srcB"}""" + "\n")
        .getBytes("UTF-8"))
    run()
    val d1 = CorpusWatcher.refreshDecisions(spark, refresh)
      .filter(col("batch_id") === 1 && col("metric") === "unk_rate")
      .select("artifact", "value", "due").as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(d1(("tokenizer:srcA"))._1 === 0.0 && !d1("tokenizer:srcA")._2,
      "the covered source must not trigger retraining")
    assert(d1("tokenizer:srcB")._1 === 1.0 && d1("tokenizer:srcB")._2,
      "the out-of-vocab source must record a due decision")
    // the decision ACTED ON: retrainIfDue consumes the STREAM's
    // refreshDir — the drift loop crosses the stream/batch boundary
    // with no hand-assembled signals
    val live = tempDir("graft-uklive-").toString + "/wp.json"
    graft.ops.TokenizerIO.exportWordPiece(spark, vocab, live)
    val vroot = tempDir("graft-ukv-").toString + "/tok"
    val retrainCorpus = Seq((1L, "zzzzqqq unknowable gibberish tokens zzzzqqq unknowable"))
      .toDF("doc_id", "text")
    val out = graft.streaming.TokenizerRefresher.retrainIfDue(spark, refresh,
      "tokenizer:srcB", live, retrainCorpus, vroot, merges = Some(3))
    assert(out === Some(s"$vroot/v1.json"))
    assert(graft.ops.TokenizerIO.familyOf(spark, out.get) === "wordpiece")
    // ...and the covered source stays quiet
    assert(graft.streaming.TokenizerRefresher.retrainIfDue(spark, refresh,
      "tokenizer:srcA", live, retrainCorpus, vroot) === None)
  }

  test("classifierDrift: the stream records classifier:<source> decisions; retrainIfDue retrains, re-sweeps and repoints; servingGate serves the new version") {
    import graft.streaming.{ArtifactVersions, ClassifierRefresher}
    val (watch, index, ckpt, quar, drift, refresh) =
      (tmp("watchcd"), tmp("indexcd"), tmp("ckptcd"), tmp("quarcd") + "/bad",
        tmp("driftcd") + "/drift", tmp("refreshcd") + "/refresh")
    // v0 model: keeps alpha-ish text, drops zig-ish text
    val posV0 = Seq((1L, "alpha beta gamma delta alpha beta"),
      (2L, "alpha gamma delta beta gamma")).toDF("doc_id", "text")
    val negV0 = Seq((3L, "zig zag zonk quux zig"),
      (4L, "zag zonk quux zig zag")).toDF("doc_id", "text")
    val vroot = tempDir("graft-cdv-").toString + "/cls"
    // cold-start layout: the offline trainer writes under the root
    graft.ops.Curation.classifierWeights(posV0, negV0)
      .coalesce(1).write.parquet(s"$vroot/weights")
    val thr = Seq(("index", "js", 1000.0), ("classifier:srcA", "drop_rate", 0.5))
      .toDF("artifact", "metric", "threshold")
    def run(): Unit = {
      val gate = ClassifierRefresher.servingGate(spark, vroot)
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
        classifierGate = Some(_ => gate),
        drift = Some(Drift(drift,
          Some(Refresh(refresh, thr, classifierDrift = true))))).awaitTermination()
    }
    // batch 0: srcA matches the serving model — drop rate 0, not due
    Files.write(Paths.get(watch, "cd-0.json"),
      """{"doc_id": 70, "text": "alpha beta gamma delta alpha", "source": "srcA"}"""
        .getBytes("UTF-8"))
    run()
    // batch 1: srcA's distribution flipped to zig-ish — the gate drops
    // everything, drop_rate 1.0 crosses the 0.5 threshold
    Files.write(Paths.get(watch, "cd-1.json"),
      ("""{"doc_id": 71, "text": "zig zag zonk quux zig zag", "source": "srcA"}""" + "\n" +
        """{"doc_id": 72, "text": "zag zig quux zonk zag zig", "source": "srcA"}""" + "\n")
        .getBytes("UTF-8"))
    run()
    val dec = CorpusWatcher.refreshDecisions(spark, refresh)
      .filter(col("artifact") === "classifier:srcA")
      .select(col("batch_id").cast("long"), col("value"), col("due"))
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(dec(0L) === ((0.0, false)), "the matching batch must not trigger")
    assert(dec(1L) === ((1.0, true)), "the drifted batch must record a due decision")
    // the gate really dropped the drifted docs (stream behavior, not
    // just measurement): only doc 70 reached the index
    assert(CorpusWatcher.currentIndex(spark, index)
      .select("doc_id").distinct().as[String].collect().toSet === Set("70"))
    // ACT: retrain over the CURRENT labeled distribution, re-sweep the
    // operating point against the NEW weights, version + repoint
    val posV1 = Seq((11L, "zig zag zonk quux zig zag"),
      (12L, "zag zonk zig quux zonk")).toDF("doc_id", "text")
    val labeled = Seq((21L, "zig zag zonk quux", true),
      (22L, "zag zig zonk zig", true), (23L, "alpha beta gamma delta", false))
      .toDF("doc_id", "text", "actual")
    val out = ClassifierRefresher.retrainIfDue(spark, refresh, "classifier:srcA",
      posV1, posV0, vroot, labeled = Some(labeled))
    assert(out === Some(s"$vroot/v1"))
    assert(ArtifactVersions.current(spark, vroot) === Some("v1"))
    val point = spark.read.parquet(s"$vroot/v1/operating_point")
      .select("objective", "threshold").as[(String, Double)].collect()
    assert(point.length === 1 && point.head._1 === "max_f1")
    // the re-resolved serving gate now KEEPS the drifted distribution
    // the old gate dropped — the loop measurably fixed the gate
    val gate2 = ClassifierRefresher.servingGate(spark, vroot)
    val drifted = Seq((71L, "zig zag zonk quux zig zag"))
      .toDF("doc_id", "text")
    assert(gate2.bias === point.head._2, "serving bias must be the stored point")
    assert(gate2.keptIds(drifted).as[Long].collect().toSet === Set(71L))
    assert(ClassifierRefresher.servingGate(spark, vroot)
      .weights.count() === 1024L)
    // replayed stable decision: nothing due, nothing written
    assert(ClassifierRefresher.retrainIfDue(spark, refresh, "classifier:srcB",
      posV1, posV0, vroot) === None)
    // an interrupted (non-repointing) retrain stages a version but
    // leaves serving on the committed one — blue/green
    Seq(("classifier:srcA", "drop_rate", 0.9, 0.5, true))
      .toDF("artifact", "metric", "value", "threshold", "due")
      .write.mode("overwrite").parquet(s"$refresh/batch_id=7")
    val staged = ClassifierRefresher.retrainIfDue(spark, refresh, "classifier:srcA",
      posV1, posV0, vroot, repoint = false)
    assert(staged === Some(s"$vroot/v7"))
    assert(ArtifactVersions.current(spark, vroot) === Some("v1"),
      "repoint=false must leave the pointer (and serving) untouched")
  }

  test("classifierGateProvider: a mid-stream retrain + repoint gates the NEXT batch without stream restart") {
    import graft.streaming.{ArtifactVersions, ClassifierRefresher}
    val (watch, index, ckpt, quar) =
      (tmp("watchlg"), tmp("indexlg"), tmp("ckptlg"), tmp("quarlg") + "/bad")
    val pos = Seq((1L, "alpha beta gamma delta alpha beta"),
      (2L, "alpha gamma delta beta gamma")).toDF("doc_id", "text")
    val neg = Seq((3L, "zig zag zonk quux zig"),
      (4L, "zag zonk quux zig zag")).toDF("doc_id", "text")
    val vroot = tempDir("graft-lgv-").toString + "/cls"
    // cold-start layout: the offline trainer wrote under the root —
    // alpha-ish text is wanted, zig-ish is rejected
    graft.ops.Curation.classifierWeights(pos, neg)
      .coalesce(1).write.parquet(s"$vroot/weights")
    // ONE provider instance for the stream's whole life — the very
    // object a restartless deployment holds
    val provider = ClassifierRefresher.servingGateProvider(vroot)
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      classifierGate = Some(provider)).awaitTermination()
    def indexed(): Set[String] = CorpusWatcher.currentIndex(spark, index)
      .select("doc_id").distinct().as[String].collect().toSet
    // batch 0 under the cold-start model: alpha kept, zig dropped
    Files.write(Paths.get(watch, "lg-0.json"),
      ("""{"doc_id": 90, "text": "alpha beta gamma delta alpha"}""" + "\n" +
        """{"doc_id": 91, "text": "zig zag zonk quux zig zag"}""" + "\n")
        .getBytes("UTF-8"))
    run()
    assert(indexed() === Set("90"),
      "the cold-start gate must keep alpha and drop zig")
    // MID-STREAM retrain: v1 FLIPS the model (zig is now the wanted
    // distribution) and repoints. The frozen-gate deployment would
    // keep serving v0 until restart; the provider must pick the
    // pointer move up at the very next batch.
    graft.ops.Curation.classifierWeights(neg, pos)
      .coalesce(1).write.parquet(s"$vroot/v1/weights")
    ArtifactVersions.repoint(spark, vroot, "v1")
    Files.write(Paths.get(watch, "lg-1.json"),
      ("""{"doc_id": 92, "text": "alpha beta gamma delta beta"}""" + "\n" +
        """{"doc_id": 93, "text": "zig zag zonk quux zag zig"}""" + "\n")
        .getBytes("UTF-8"))
    run()
    assert(indexed() === Set("90", "93"),
      "the batch after the repoint must be gated by the NEW weights — no restart")
  }

  test("ClassifierRefresher per-group points: a due retrain stores operating_points_by; servingGate serves it as the gate's groupBiases") {
    import graft.streaming.{ArtifactVersions, ClassifierRefresher}
    val rd = tmp("cdgrrd") + "/refresh"
    Seq(("classifier:all", "drop_rate", 0.9, 0.5, true))
      .toDF("artifact", "metric", "value", "threshold", "due")
      .write.mode("overwrite").parquet(s"$rd/batch_id=3")
    val pos = Seq((1L, "zig zag zonk quux zig zag"),
      (2L, "zag zonk zig quux zonk")).toDF("doc_id", "text")
    val neg = Seq((3L, "alpha beta gamma delta alpha"),
      (4L, "beta gamma alpha delta beta")).toDF("doc_id", "text")
    val labeled = Seq(
      (11L, "zig zag zonk quux", true, "gA"), (12L, "zag zig zonk zig", true, "gA"),
      (13L, "alpha beta gamma delta", false, "gA"),
      (14L, "zig zag quux", true, "gB"), (15L, "alpha beta gamma", false, "gB"))
      .toDF("doc_id", "text", "actual", "grp")
    val vroot = tempDir("graft-cdgr-").toString + "/cls"
    val out = ClassifierRefresher.retrainIfDue(spark, rd, "classifier:all",
      pos, neg, vroot, labeled = Some(labeled), groupCol = Some("grp"))
    assert(out === Some(s"$vroot/v3"))
    assert(ArtifactVersions.current(spark, vroot) === Some("v3"))
    val pts = spark.read.parquet(s"$vroot/v3/operating_points_by")
    assert(pts.select("grp").as[String].collect().toSet === Set("gA", "gB"),
      "every labeled group must get a re-swept point")
    // the resolved gate carries the STORED per-group table (re-keyed
    // to the serving deployment's group column) and gates with it —
    // parity with a hand-built gate over the same artifacts
    val gate = ClassifierRefresher.servingGate(spark, vroot, groupCol = "grp")
    assert(gate.groupBiases.isDefined,
      "a stored operating_points_by must serve as groupBiases")
    val hand = graft.ops.Curation.ClassifierGate(
      spark.read.parquet(s"$vroot/v3/weights"), bias = gate.bias,
      groupBiases = Some(pts.select(col("grp"), col("threshold"))), groupCol = "grp")
    val probe = Seq((21L, "zig zag zonk quux", "gA"), (22L, "alpha beta gamma", "gA"),
      (23L, "zig zag quux zonk", "gB")).toDF("doc_id", "text", "grp")
    assert(gate.keptIds(probe).as[Long].collect().toSet ===
      hand.keptIds(probe).as[Long].collect().toSet)
    assert(gate.keptIds(probe).as[Long].collect().toSet.contains(21L))
  }

  test("ArtifactVersions retention: prune keeps the newest N plus the SERVING version; cold-start artifacts are never versions") {
    import graft.streaming.ArtifactVersions
    val root = tempDir("graft-avp-").toString + "/art"
    def mk(name: String): Unit = {
      val d = new java.io.File(s"$root/$name"); d.mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/$name/part"), name)
    }
    // cold-start layout + four versions
    mk("weights"); mk("v2"); mk("v5"); mk("v9"); mk("v11")
    assert(ArtifactVersions.versions(spark, root) === Seq("v2", "v5", "v9", "v11"),
      "cold-start children must not list as versions; order is by batch id")
    // serving pinned to v5 (older than the newest two): prune(keep=2)
    // reclaims only v2 — v5 survives BECAUSE it serves
    ArtifactVersions.repoint(spark, root, "v5")
    assert(ArtifactVersions.prune(spark, root, keep = 2) === Seq("v2"))
    assert(ArtifactVersions.versions(spark, root) === Seq("v5", "v9", "v11"))
    assert(new java.io.File(s"$root/weights").exists(),
      "cold-start artifacts must survive any prune")
    assert(ArtifactVersions.currentDir(spark, root) === Some(s"$root/v5"))
    // after re-pointing forward, the old serving version becomes
    // reclaimable like any other
    ArtifactVersions.repoint(spark, root, "v11")
    assert(ArtifactVersions.prune(spark, root, keep = 1) === Seq("v5", "v9"))
    assert(ArtifactVersions.versions(spark, root) === Seq("v11"))
  }

  test("pointer swap: a concurrent reader never sees a missing or torn pointer") {
    import graft.streaming.ArtifactVersions
    val root = tempDir("graft-avs-").toString + "/art"
    ArtifactVersions.repoint(spark, root, "v0")
    @volatile var done = false
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val reader = new Thread(() =>
      while (!done) seen.add(
        scala.util.Try(ArtifactVersions.current(spark, root).getOrElse("<missing>"))
          .fold(e => s"<$e>", identity)))
    reader.start()
    try (1 to 500).foreach(i => ArtifactVersions.repoint(spark, root, s"v$i"))
    finally { done = true; reader.join() }
    import scala.jdk.CollectionConverters._
    val bad = seen.asScala.filterNot(_.matches("v\\d+")).toSet
    assert(!seen.isEmpty)
    if (bad.nonEmpty) fail(s"reader saw ${bad.size} bad reads, e.g. ${bad.head}")
  }

  test("re-uploading a document replaces its postings (upsert semantics)") {
    val (watch, index, ckpt) = (tmp("watch2"), tmp("index2"), tmp("ckpt2"))
    writeDoc(watch, "a.txt", "old words here")
    CorpusWatcher.start(spark, watch, index, ckpt).awaitTermination()

    // the file source keys on path+mtime; a changed file re-ingests only
    // if it looks new — write under a new name to model the re-upload,
    // then check upsert against a same-named synthetic delta directly
    val idx = CorpusWatcher.currentIndex(spark, index)
    val redelivered = InvertedIndex.build(
      Seq(("a.txt", "new words")).toDF("doc_id", "text"))
    val merged = InvertedIndex.upsertDocs(idx, redelivered)
      .as[(String, String, Long)].collect().toSet
    // ALL old postings of a.txt are gone; only the new ones remain
    assert(merged === Set(("new", "a.txt", 1L), ("words", "a.txt", 1L)))
  }

  test("mixtureGate admits per source after dedup; bands still see mixture-dropped docs") {
    val (watch, index, ckpt, quar, bands, metrics) =
      (tmp("watchmix"), tmp("indexmix"), tmp("ckptmix"), tmp("quarmix") + "/bad",
        tmp("bandsmix") + "/bands", tmp("metricsmix") + "/metrics")
    val lowPrio = "low priority crawl text that should never reach the index"
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      dedupBandsDir = Some(bands),
      mixtureGate = Some(graft.ops.Sampling.MixtureGate(
        Map("src0" -> 1.0, "src1" -> 0.0))),
      metricsDir = Some(metrics)).awaitTermination()
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 40, "text": "alpha keeps this wiki style document", "source": "src0"}""" + "\n" +
        s"""{"doc_id": 41, "text": "$lowPrio", "source": "src1"}""" + "\n" +
        """{"doc_id": 42, "text": "a sourceless document falls to the default rate"}""" + "\n")
        .getBytes("UTF-8"))
    run()
    // rate-0 source never indexed; rate-1 and sourceless (default 1.0) are
    assert(indexEntries(index).map(_._2) === Set("40", "42"))
    val m0 = spark.read.parquet(metrics).filter(col("batch_id") === 0)
      .select("stage", "n_docs").as[(String, Long)].collect().toMap
    assert(m0("dedup_within") === 3L && m0("mixture") === 2L && m0("indexed") === 2L)
    // the band history was appended BEFORE mixture: the dropped doc's
    // bands exist, so its later near-duplicate dies at the history
    // stage even though 41 itself was never indexed
    assert(spark.read.parquet(bands).select("doc_id").as[String].collect().toSet
      .contains("41"))
    Files.write(Paths.get(watch, "feed-1.json"),
      (s"""{"doc_id": 43, "text": "$lowPrio", "source": "src0"}""" + "\n")
        .getBytes("UTF-8"))
    run()
    assert(indexEntries(index).map(_._2) === Set("40", "42"),
      "near-dup of a mixture-dropped doc must die at dedup_history")
    val m1 = spark.read.parquet(metrics).filter(col("batch_id") === 1)
      .select("stage", "n_docs").as[(String, Long)].collect().toMap
    assert(m1("decontaminated") === 1L && m1("dedup_history") === 0L &&
      m1("mixture") === 0L)
  }

  test("spanHistoryDir strips already-seen regions from later batches; replay-idempotent") {
    val (watch, index, quar, hist) =
      (tmp("watchsp"), tmp("indexsp"), tmp("quarsp") + "/bad", tmp("histsp") + "/anchors")
    // a ~230-char region with a distinctive middle token, long enough
    // that mod-8 anchor sampling saturates inside it
    val region = (0 until 18).map(i => f"rw${(i * 53) % 997}%03dx").mkString(" ") +
      " sentinelmiddle " + (18 until 36).map(i => f"rw${(i * 53) % 997}%03dx").mkString(" ")
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      spanHistoryDir = Some(hist)).awaitTermination()
    Files.write(Paths.get(watch, "feed-0.json"),
      s"""{"doc_id": 50, "text": "$region uniquetailzero ending"}""".getBytes("UTF-8"))
    val ckpt = tmp("ckptsp")
    run(ckpt)
    // batch 0 had no history: indexed intact, anchors published
    assert(indexEntries(index).exists(e => e._1 == "sentinelmiddle" && e._2 == "50"))
    assert(spark.read.parquet(hist).filter(col("batch_id") === 0).count() > 0)
    // simulate a foreachBatch retry (fresh checkpoint, same file set,
    // re-runs as batch 0): without the excludeBatchId path doc 50
    // would collide with its OWN first-attempt anchors and strip its
    // entire text before indexing
    run(tmp("ckptsp2"))
    assert(indexEntries(index).exists(e => e._1 == "sentinelmiddle" && e._2 == "50"),
      "a replayed batch must not self-strip against its first-attempt anchors")
    // batch 1 re-ships the region inside fresh material: the region is
    // CUT (its tokens never reach the index for doc 51), the fresh
    // lead-in and tail survive
    Files.write(Paths.get(watch, "feed-1.json"),
      s"""{"doc_id": 51, "text": "freshleadin opening words $region uniquetailone closing"}"""
        .getBytes("UTF-8"))
    run(ckpt)
    val entries = indexEntries(index)
    assert(entries.exists(e => e._1 == "freshleadin" && e._2 == "51"))
    assert(entries.exists(e => e._1 == "uniquetailone" && e._2 == "51"))
    assert(!entries.exists(e => e._1 == "sentinelmiddle" && e._2 == "51"),
      "the already-seen region must be stripped from doc 51")
    assert(entries.exists(e => e._1 == "sentinelmiddle" && e._2 == "50"),
      "the history's own copy stays indexed")
  }

  test("urlHistoryDir drops re-crawled URLs before content work; null/absent urls pass; replay-idempotent") {
    val (watch, index, quar, hist) =
      (tmp("watchu"), tmp("indexu"), tmp("quaru") + "/bad", tmp("histu") + "/urls")
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      urlGate = Some(UrlIdentityGate(hist))).awaitTermination()
    // batch 0: 60/61 share a canonical URL (case + tracking params +
    // fragment differ) -> min doc_id (string "60") wins; 62 has no url
    // field at all and must pass untouched
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 60, "text": "sixtybody words", "url": "HTTPS://WWW.Example.COM/a/?utm_source=s#x"}""" + "\n" +
        """{"doc_id": 61, "text": "sixtyonebody words", "url": "https://example.com/a"}""" + "\n" +
        """{"doc_id": 62, "text": "nourlbody words"}""" + "\n").getBytes("UTF-8"))
    val ckpt = tmp("ckptu")
    run(ckpt)
    val e0 = indexEntries(index)
    assert(e0.exists(e => e._1 == "sixtybody" && e._2 == "60"))
    assert(!e0.exists(e => e._2 == "61"),
      "the within-batch canonical-URL loser must be dropped")
    assert(e0.exists(e => e._1 == "nourlbody" && e._2 == "62"))
    // history holds exactly the admitted key (md5, never the URL)
    val h0 = spark.read.parquet(hist).filter(col("batch_id") === 0)
      .select("url_key").as[String].collect()
    assert(h0.length === 1 && h0.head.length === 32)
    // replay batch 0 (fresh checkpoint): the gate must exclude its own
    // first-attempt keys or doc 60 would URL-dup against itself
    run(tmp("ckptu2"))
    assert(indexEntries(index).exists(e => e._1 == "sixtybody" && e._2 == "60"),
      "a replayed batch must not self-drop against its first-attempt keys")
    // batch 1: a re-crawl of the same page (new doc_id, same canonical
    // URL) dies at the gate; a genuinely new URL passes
    Files.write(Paths.get(watch, "feed-1.json"),
      ("""{"doc_id": 70, "text": "recrawlbody words", "url": "https://example.com/a?utm_campaign=z"}""" + "\n" +
        """{"doc_id": 71, "text": "freshurlbody words", "url": "https://example.com/b"}""" + "\n").getBytes("UTF-8"))
    run(ckpt)
    val e1 = indexEntries(index)
    assert(!e1.exists(e => e._2 == "70"), "a re-crawled URL must drop at the gate")
    assert(e1.exists(e => e._1 == "freshurlbody" && e._2 == "71"))
    assert(spark.read.parquet(hist).select("url_key").distinct().count() === 2)
  }

  test("distinctDir: lifetime URL/content distincts equal the batch sketch over the union; replay- and compaction-proof") {
    val (watch, index, quar, dd) =
      (tmp("watchhd"), tmp("indexhd"), tmp("quarhd") + "/bad", tmp("histhd") + "/distinct")
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      distinctDir = Some(dd)).awaitTermination()
    def urlLine(id: Int, u: String) =
      s"""{"doc_id": $id, "text": "body$id words here", "url": "$u"}"""
    // batch 0: 3 urls (one repeated), one row with no url (content only)
    Files.write(Paths.get(watch, "hd-0.json"),
      (urlLine(1, "https://a.com/x") + "\n" + urlLine(2, "https://a.com/y") + "\n" +
        urlLine(3, "https://a.com/x") + "\n" +
        """{"doc_id": 4, "text": "nourl body words"}""" + "\n").getBytes("UTF-8"))
    val ckpt = tmp("ckpthd")
    run(ckpt)
    // batch 1: one URL re-ingested, one new; content of doc 6 repeats doc 1's
    Files.write(Paths.get(watch, "hd-1.json"),
      (urlLine(5, "https://a.com/y") + "\n" + urlLine(6, "https://b.com/z") + "\n").getBytes("UTF-8"))
    run(ckpt)
    val got = CorpusWatcher.distinctEstimates(spark, dd).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // the reference: one Hll sketch over the UNION of everything ingested
    val allUrls = Seq("https://a.com/x", "https://a.com/y", "https://a.com/x",
      "https://a.com/y", "https://b.com/z").toDF("v")
    val allTexts = Seq("body1 words here", "body2 words here", "body3 words here",
      "nourl body words", "body5 words here", "body6 words here").toDF("v")
    def ref(df: org.apache.spark.sql.DataFrame) = graft.ops.Hll.estimate(
      graft.ops.Hll.sketch(df, col("v"), Seq.empty), Seq.empty)
      .collect().head match { case r => (r.getLong(0), r.getDouble(1)) }
    assert(got("url") === ref(allUrls), "url registers must equal the union sketch")
    assert(got("content") === ref(allTexts))
    // registers stay bounded: at most 512 per kind per batch partition
    val reg = spark.read.parquet(dd)
    assert(reg.groupBy("kind", "batch_id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0) <= 512L)
    // replay batch 1 on a fresh checkpoint: overwritten partition,
    // identical registers, identical estimates
    run(tmp("ckpthd2"))
    val replayed = CorpusWatcher.distinctEstimates(spark, dd).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(replayed === got, "a replay must not move any register")
    // a history fold preserves the multiset, and the MAX-reader makes
    // even a hypothetical duplicate-row fold harmless
    CorpusWatcher.compactHistory(spark, dd)
    val folded = CorpusWatcher.distinctEstimates(spark, dd).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(folded === got, "compaction must not move any register")
  }

  test("lengthDir: lifetime length quantiles equal the batch sketch over the union; replay-proof") {
    val (watch, index, quar, ld) =
      (tmp("watchlq"), tmp("indexlq"), tmp("quarlq") + "/bad", tmp("histlq") + "/len")
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      lengthDir = Some(ld)).awaitTermination()
    val texts0 = Seq("short one", "a medium length document body here",
      "x" * 400)
    val texts1 = Seq("y" * 1500, "tiny")
    def feed(name: String, ids: Seq[Int], texts: Seq[String]): Unit =
      Files.write(Paths.get(watch, name),
        ids.zip(texts).map { case (i, t) =>
          s"""{"doc_id": $i, "text": "$t"}"""
        }.mkString("", "\n", "\n").getBytes("UTF-8"))
    val ckpt = tmp("ckptlq")
    feed("lq-0.json", Seq(1, 2, 3), texts0)
    run(ckpt)
    feed("lq-1.json", Seq(4, 5), texts1)
    run(ckpt)
    val got = CorpusWatcher.lengthQuantiles(spark, ld).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val all = (texts0 ++ texts1).map(_.length.toDouble).toDF("v")
    val exp = graft.ops.DdSketch.quantiles(
      graft.ops.DdSketch.sketch(all, col("v"), Seq(lit(1).as("g"))),
      Seq("g"), Seq(0.5, 0.95, 0.99)).collect()
      .map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(got === exp, "stream quantiles must equal the union sketch's")
    // within 1% of the true values (the DDSketch guarantee)
    val sorted = (texts0 ++ texts1).map(_.length).sorted
    assert(math.abs(got(0.5) - sorted(2)) / sorted(2) <= 0.011, got.toString)
    // crash-window replay is the foreachBatch OVERWRITE of the same
    // batch partition with identical content (a SUM-read dir is keyed
    // by batch id, like the adaptive gate's statsDir — reprocessing a
    // whole feed into RETAINED output is operator error for a summed
    // table, unlike distinctDir's MAX registers). Emulate the
    // overwrite directly (Spark 4's commit-log guard rejects mid-log
    // surgery) and assert the reader is unmoved.
    val p1 = spark.read.parquet(s"$ld/batch_id=1").localCheckpoint(true)
    p1.coalesce(1).write.mode("overwrite").parquet(s"$ld/batch_id=1")
    val replayed = CorpusWatcher.lengthQuantiles(spark, ld).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(replayed === got, "a same-batch-id replay must not change any bucket count")
    // batch 2 repeats a batch-0 LENGTH exactly — identical bucket rows
    // across batches, the case a distinct()-fold would collapse; the
    // SUM-safe marker fold must preserve total mass
    feed("lq-2.json", Seq(6), Seq("short two")) // len 9 == "short one"
    run(ckpt)
    val before = CorpusWatcher.lengthQuantiles(spark, ld).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val folded = CorpusWatcher.compactStatsWith(spark, ld)(
      _.groupBy("sgn", "idx").agg(
        org.apache.spark.sql.functions.sum("n")
          .as("n")))
    assert(folded >= 2, "older partitions must fold")
    val after = CorpusWatcher.lengthQuantiles(spark, ld).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(after === before, "the SUM fold must not move any quantile")
    val total = spark.read.parquet(ld)
      .agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
    assert(total === 6L, "total mass must survive the fold (6 docs ever ingested)")
  }

  test("honorDirectives: noindex drops from the index but queues outlinks; nofollow indexes but queues nothing") {
    val (watch, index, quar) = (tmp("watchdr"), tmp("indexdr"), tmp("quardr") + "/bad")
    val hist = tmp("histdr") + "/urls"
    val fd = tmp("histdr2") + "/frontier"
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptdr"), quar,
      urlGate = Some(UrlIdentityGate(hist, Some(Frontier(fd)))),
      honorDirectives = true).awaitTermination()
    Files.write(Paths.get(watch, "dr-0.json"),
      (s"""{"doc_id": 1, "text": "plainbody words <a href=\\"https://t1.example.org/x\\">l</a>", "url": "https://s.example.org/plain"}""" + "\n" +
        s"""{"doc_id": 2, "text": "noindexbody words <meta name=\\"robots\\" content=\\"noindex\\"> <a href=\\"https://t2.example.org/y\\">l</a>", "url": "https://s.example.org/ni"}""" + "\n" +
        s"""{"doc_id": 3, "text": "nofollowbody words <meta name=\\"robots\\" content=\\"nofollow\\"> <a href=\\"https://t3.example.org/z\\">l</a>", "url": "https://s.example.org/nf"}""" + "\n")
        .getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptdr"), quar,
      urlGate = Some(UrlIdentityGate(hist, Some(Frontier(fd)))),
      honorDirectives = true).awaitTermination()
    val entries = indexEntries(index)
    assert(entries.exists(e => e._1 == "plainbody" && e._2 == "1"))
    assert(!entries.exists(e => e._2 == "2"), "a noindex page must not be indexed")
    assert(entries.exists(e => e._1 == "nofollowbody" && e._2 == "3"),
      "nofollow governs outlinks, never indexing")
    val queued = spark.read.parquet(fd).select("link_url").as[String].collect().toSet
    assert(queued.contains("https://t1.example.org/x"))
    assert(queued.contains("https://t2.example.org/y"),
      "a noindex page's outlinks still feed discovery")
    assert(!queued.exists(_.contains("t3.example.org")),
      "a nofollow page's outlinks must never queue")
  }

  test("sitemapDiscovery: an arriving index queues child sitemaps; their bodies queue content locs — the tree fixpoint, incrementally") {
    val (watch, index, quar) = (tmp("watchsm"), tmp("indexsm"), tmp("quarsm") + "/bad")
    val hist = tmp("histsm") + "/urls"
    val fd = tmp("frontsm") + "/frontier"
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      urlGate = Some(UrlIdentityGate(hist,
        Some(Frontier(fd, sitemapDiscovery = true))))).awaitTermination()
    val ckpt = tmp("ckptsm")
    // batch 0: a sitemapINDEX arrives (fetched from its robots.txt
    // pointer) — the child sitemap it names must queue as fetch work;
    // a prose DECOY merely quoting '<urlset' (the root element is not
    // at the document start) must not queue its <loc> bait
    Files.write(Paths.get(watch, "sm-0.json"),
      ("""{"doc_id": 1, "text": "<sitemapindex><sitemap><loc>https://s.example.org/sm-a.xml</loc></sitemap></sitemapindex>", "url": "https://s.example.org/sitemap.xml"}""" + "\n" +
        """{"doc_id": 9, "text": "docs page: a sitemap body looks like <urlset xmlns=...> with entries <url><loc>https://decoy.example.org/x</loc></url>", "url": "https://s.example.org/docs"}""" + "\n")
        .getBytes("UTF-8"))
    run(ckpt)
    val q0 = spark.read.parquet(fd)
      .select("link_url", "src", "src_doc_id").as[(String, String, String)].collect().toSet
    assert(q0 === Set(("https://s.example.org/sm-a.xml", "sitemap", "1")),
      s"the index's child sitemap must queue WITH provenance, the decoy must not: $q0")
    // batch 1: the child's BODY arrives (the consumer fetched it) —
    // its content locs queue; the child itself is now history and the
    // already-queued row never re-queues
    Files.write(Paths.get(watch, "sm-1.json"),
      """{"doc_id": 2, "text": "<urlset><url><loc>https://s.example.org/page-a</loc></url><url><loc>https://s.example.org/page-b</loc></url></urlset>", "url": "https://s.example.org/sm-a.xml"}"""
        .getBytes("UTF-8"))
    run(ckpt)
    val q1 = spark.read.parquet(fd).filter(col("batch_id") === 1)
      .select("link_url", "src", "src_doc_id").as[(String, String, String)].collect().toSet
    assert(q1 === Set(("https://s.example.org/page-a", "sitemap", "2"),
      ("https://s.example.org/page-b", "sitemap", "2")),
      s"the fetched child's locs must queue exactly once, attributed to doc 2: $q1")
    // the two-level ATTRIBUTION chain across batches: the grandchild
    // rows name the child doc (2), whose own queued row named the
    // root index doc (1) — sitemapTree's provenance, incrementally
    val chain = spark.read.parquet(fd)
      .select("link_url", "src_doc_id").as[(String, String)].collect().toMap
    assert(chain("https://s.example.org/sm-a.xml") === "1" &&
      chain("https://s.example.org/page-a") === "2")
    // batch 2: the SAME child body re-fetched — every loc already
    // queued, nothing new
    Files.write(Paths.get(watch, "sm-2.json"),
      """{"doc_id": 3, "text": "<urlset><url><loc>https://s.example.org/page-a</loc></url></urlset>", "url": "https://s.example.org/sm-a2.xml"}"""
        .getBytes("UTF-8"))
    run(ckpt)
    val q2 = spark.read.parquet(fd).filter(col("batch_id") === 2)
      .select("link_url").as[String].collect().toSet
    assert(q2 === Set.empty, s"an already-queued loc must not re-queue: $q2")
  }

  test("frontierDir queues unseen outlinks append-only; seen and already-queued targets never re-queue; replay-idempotent") {
    val (watch, index, quar) = (tmp("watchfr"), tmp("indexfr"), tmp("quarfr") + "/bad")
    val hist = tmp("histfr") + "/urls"
    val fdir = tmp("frontfr") + "/frontier"
    val metrics = tmp("metfr") + "/m"
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      urlGate = Some(UrlIdentityGate(hist, Some(Frontier(fdir)))),
      metricsDir = Some(metrics)).awaitTermination()
    // batch 0: both pages link the same unseen target (ref-counted);
    // a link to an ADMITTED page of this very batch is seen (the gate
    // appended its key before the frontier ran); mailto never queues
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 80, "text": "<a href=\"https://t.example.org/next\">n</a><a href=\"https://a.example.org/self\">s</a> body", "url": "https://a.example.org/self"}""" + "\n" +
        """{"doc_id": 81, "text": "<a href=\"https://t.example.org/next\">n</a><a href=\"mailto:x@y.z\">m</a> body", "url": "https://a.example.org/other"}""" + "\n")
        .getBytes("UTF-8"))
    val ckpt = tmp("ckptfr")
    run(ckpt)
    val f0 = spark.read.parquet(fdir).filter(col("batch_id") === 0)
      .select("link_url", "link_host", "n_refs", "src", "src_doc_id")
      .as[(String, String, Long, String, String)].collect().toSet
    // provenance: link-discovered, attributed to the SMALLEST naming
    // page (docs 80 and 81 both link it; ids are opaque strings on the
    // stream — the parsed0 cast — so the winner is min string "80")
    assert(f0 === Set(("https://t.example.org/next", "t.example.org", 2L, "link", "80")))
    val m0 = spark.read.parquet(metrics).filter(col("batch_id") === 0)
      .select("stage", "n_docs").as[(String, Long)].collect().toMap
    assert(m0("frontier") === 1L && m0("indexed") === 2L)
    // replay batch 0 (fresh checkpoint): the queued-set read excludes
    // the batch's own first-attempt partition, so nothing self-cancels
    // and the overwritten partition is identical
    run(tmp("ckptfr2"))
    assert(spark.read.parquet(fdir).filter(col("batch_id") === 0).count() === 1)
    // batch 1: the queued target has been fetched and fed back — its
    // own outlinks queue only what is neither seen (a/self, t/next)
    // nor already queued
    Files.write(Paths.get(watch, "feed-1.json"),
      ("""{"doc_id": 82, "text": "<a href=\"https://t.example.org/next\">l</a><a href=\"https://u.example.org/new\">u</a><a href=\"https://a.example.org/self\">b</a> body", "url": "https://t.example.org/next"}""" + "\n")
        .getBytes("UTF-8"))
    run(ckpt)
    val f1 = spark.read.parquet(fdir).filter(col("batch_id") === 1)
      .select("link_url").as[String].collect().toSet
    assert(f1 === Set("https://u.example.org/new"),
      "seen and already-queued targets must not re-queue")
    // the accumulated frontier is two distinct work items, keys only once
    assert(spark.read.parquet(fdir).select("url_key").distinct().count() === 2)
    val m1 = spark.read.parquet(metrics).filter(col("batch_id") === 1)
      .select("stage", "n_docs").as[(String, Long)].collect().toMap
    assert(m1("frontier") === 1L)
  }

  test("frontierRules: disallowed targets never enter the streamed work list") {
    val (watch, index, quar) = (tmp("watchfx"), tmp("indexfx"), tmp("quarfx") + "/bad")
    val hist = tmp("histfx") + "/urls"
    val fdir = tmp("frontfx") + "/frontier"
    val rules = graft.ops.Robots.robotsRules(
      Seq(("t.example.org", "User-agent: *\nDisallow: /blocked\n"))
        .toDF("host", "robots_txt"))
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 85, "text": "<a href=\"https://t.example.org/blocked/x\">b</a><a href=\"https://t.example.org/open/y\">o</a> body", "url": "https://a.example.org/p"}""" + "\n")
        .getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptfx"), quar,
      urlGate = Some(UrlIdentityGate(hist,
        Some(Frontier(fdir, rules = Some(rules)))))).awaitTermination()
    val queued = spark.read.parquet(fdir).select("link_url").as[String].collect().toSet
    assert(queued === Set("https://t.example.org/open/y"),
      "the robots-disallowed target must never be queued")
  }

  test("frontier scheduling: partitions carry pos/fetch_offset from stored delays; budgets slice; default delay for undeclared hosts") {
    val (watch, index, quar) = (tmp("watchfs"), tmp("indexfs"), tmp("quarfs") + "/bad")
    val hist = tmp("histfs") + "/urls"
    val fdir = tmp("frontfs") + "/frontier"
    val delays = Seq(("t.example.org", 2.0)).toDF("host", "crawl_delay")
    val budgets = Seq(("t.example.org", 2L), ("u.example.org", 1L))
      .toDF("node", "fetch_budget")
    // one page links 3 targets on t (ref counts 2,1,1 -> budget keeps 2)
    // and 2 targets on u (budget keeps 1); u has no declared delay
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 40, "text": "<a href=\"https://t.example.org/a\">1</a><a href=\"https://t.example.org/a\">1</a><a href=\"https://t.example.org/b\">2</a><a href=\"https://t.example.org/c\">3</a><a href=\"https://u.example.org/x\">4</a><a href=\"https://u.example.org/y\">5</a> body", "url": "https://s.example.org/p"}""" + "\n")
        .getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptfs"), quar,
      urlGate = Some(UrlIdentityGate(hist, Some(Frontier(fdir,
        delays = Some(delays), budgets = Some(budgets), perHostCap = 10))))).awaitTermination()
    val rows = spark.read.parquet(fdir)
      .select("link_url", "link_host", "n_refs", "pos", "crawl_delay", "fetch_offset")
      .as[(String, String, Long, Int, Option[Double], Double)].collect()
      .map(r => r._1 -> r).toMap
    // t: a (2 refs) pos 1 offset 0, b pos 2 offset 2.0; c sliced by budget 2
    assert(rows.keySet === Set("https://t.example.org/a", "https://t.example.org/b",
      "https://u.example.org/x"))
    assert(rows("https://t.example.org/a")._4 === 1)
    assert(rows("https://t.example.org/a")._6 === 0.0)
    assert(rows("https://t.example.org/b")._4 === 2)
    assert(rows("https://t.example.org/b")._5 === Some(2.0))
    assert(rows("https://t.example.org/b")._6 === 2.0)
    // u: undeclared delay -> NULL column, default 1.0 drives the offset;
    // budget 1 keeps only x (tie n_refs=1 broken by url asc)
    assert(rows("https://u.example.org/x")._4 === 1)
    assert(rows("https://u.example.org/x")._5 === None)
    assert(rows("https://u.example.org/x")._6 === 0.0)
  }

  test("recrawlDir: unchanged re-fetch drops, changed content passes, reverted content drops; due list from the log") {
    val (watch, index, quar, rlog) =
      (tmp("watchrc"), tmp("indexrc"), tmp("quarrc") + "/bad", tmp("histrc") + "/fetches")
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      urlGate = Some(RecrawlGate(rlog))).awaitTermination()
    // batch 0: one page; a same-URL-same-content twin loses within the
    // batch; a no-url row passes untouched
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 90, "text": "pageavone words", "url": "https://rc.example.org/a"}""" + "\n" +
        """{"doc_id": 91, "text": "pageavone words", "url": "https://rc.example.org/a?utm_source=s"}""" + "\n" +
        """{"doc_id": 92, "text": "nourlrc words"}""" + "\n").getBytes("UTF-8"))
    val ckpt = tmp("ckptrc")
    run(ckpt)
    val e0 = indexEntries(index)
    assert(e0.exists(e => e._1 == "pageavone" && e._2 == "90"))
    assert(!e0.exists(e => e._2 == "91"), "within-batch same-pair twin must lose")
    assert(e0.exists(e => e._1 == "nourlrc" && e._2 == "92"))
    // the batch-0 log partition holds exactly the one observed pair
    assert(spark.read.parquet(rlog).filter(col("batch_id") === 0).count() === 1)
    // replay batch 0 (fresh checkpoint): must not self-drop
    run(tmp("ckptrc2"))
    assert(indexEntries(index).exists(e => e._1 == "pageavone" && e._2 == "90"),
      "a replayed batch must not die against its first-attempt pairs")
    // batch 1: unchanged re-fetch dies BUT is logged; changed content passes
    Files.write(Paths.get(watch, "feed-1.json"),
      ("""{"doc_id": 93, "text": "pageavone words", "url": "https://rc.example.org/a"}""" + "\n" +
        """{"doc_id": 94, "text": "pageavtwo fresh words", "url": "https://rc.example.org/a"}""" + "\n")
        .getBytes("UTF-8"))
    run(ckpt)
    val e1 = indexEntries(index)
    assert(!e1.exists(e => e._2 == "93"), "an unchanged re-fetch must drop at the gate")
    assert(e1.exists(e => e._1 == "pageavtwo" && e._2 == "94"),
      "changed content must pass the gate")
    // both observed pairs (v1 again + v2) logged for batch 1
    assert(spark.read.parquet(rlog).filter(col("batch_id") === 1).count() === 2)
    // batch 2: content REVERTS to v1 — that pair was processed: drop
    Files.write(Paths.get(watch, "feed-2.json"),
      """{"doc_id": 95, "text": "pageavone words", "url": "https://rc.example.org/a"}"""
        .getBytes("UTF-8"))
    run(ckpt)
    assert(!indexEntries(index).exists(e => e._2 == "95"),
      "reverted content is a pair the corpus already processed")
    // due list off the accumulated log: url A observed at batches
    // 0,1,2 with changes at 0 (first) and 1 (v2 wins the batch-1
    // collapse as max hash? order-free: n_changes >= 1), last_fetch=2
    val due = CorpusWatcher.recrawlDue(spark, rlog, now = 10L)
      .select("last_fetch", "n_fetches").as[(Long, Long)].collect()
    assert(due.length === 1 && due.head._1 === 2L && due.head._2 === 3L)
    // not yet due right after the last fetch
    assert(CorpusWatcher.recrawlDue(spark, rlog, now = 2L).count() === 0L)
    // probe-set / fetch-log split: the gate sibling holds only the
    // ADMITTED pairs (v1 from batch 0, v2 from batch 1 — batch 1's
    // unchanged re-observation and batch 2's revert never re-enter),
    // while the log keeps every observation with provenance
    val gd = CorpusWatcher.recrawlGateDir(rlog)
    val gate = spark.read.parquet(gd)
      .select("url_key", "content_hash").distinct()
    assert(gate.count() === 2L, "gate = admitted pairs only")
    assert(spark.read.parquet(rlog).count() === 4L,
      "log = one row per (batch, pair) observation: b0 v1, b1 v1+v2, b2 v1")
    // batch 3: the SAME url arrives with TWO different versions in one
    // batch — one version must win (max content_hash = "pagebvtwo",
    // computed offline), or URL-stable doc ids would merge both
    // versions' postings under one document
    Files.write(Paths.get(watch, "feed-3.json"),
      ("""{"doc_id": 96, "text": "pagebvone words", "url": "https://rc.example.org/b"}""" + "\n" +
        """{"doc_id": 96, "text": "pagebvtwo words", "url": "https://rc.example.org/b"}""" + "\n")
        .getBytes("UTF-8"))
    run(ckpt)
    val e3 = indexEntries(index)
    assert(e3.exists(e => e._1 == "pagebvtwo" && e._2 == "96"),
      "the max-content_hash version wins the within-batch race")
    assert(!e3.exists(e => e._1 == "pagebvone"),
      "the losing same-batch version must not merge into the same doc_id")
    // only the WINNER's pair enters the gate; both observations hit the log
    assert(spark.read.parquet(gd).filter(col("batch_id") === 3).count() === 1L)
    assert(spark.read.parquet(rlog).filter(col("batch_id") === 3).count() === 2L)
    // batch 4: the batch-3 LOSER version re-arrives — it was never
    // indexed, so the gate must pass it now
    Files.write(Paths.get(watch, "feed-4.json"),
      """{"doc_id": 97, "text": "pagebvone words", "url": "https://rc.example.org/b"}"""
        .getBytes("UTF-8"))
    run(ckpt)
    assert(indexEntries(index).exists(e => e._1 == "pagebvone" && e._2 == "97"),
      "a version that lost the within-batch race was never admitted: re-fetch passes")
  }

  test("recrawl gate: pre-split log migrates into the gate; compaction preserves decisions; log stays exempt") {
    val (watch, index, quar, rlog) =
      (tmp("watchrm"), tmp("indexrm"), tmp("quarrm") + "/bad", tmp("histrm") + "/fetches")
    val gd = CorpusWatcher.recrawlGateDir(rlog)
    def run(ckpt: String, compactEvery: Option[Int] = None): Unit =
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
        urlGate = Some(RecrawlGate(rlog)), compactEvery = compactEvery).awaitTermination()
    val ckpt = tmp("ckptrm")
    Files.write(Paths.get(watch, "feed-0.json"),
      """{"doc_id": 10, "text": "migrone words", "url": "https://m.example.org/a"}"""
        .getBytes("UTF-8"))
    run(ckpt)
    // simulate a PRE-SPLIT deployment: the gate dir does not exist yet
    // (only the log was ever written) — delete it wholesale
    def rmrf(p: String): Unit = {
      import scala.jdk.CollectionConverters._
      val d = Paths.get(p)
      if (Files.exists(d)) {
        val w = Files.walk(d)
        try w.iterator().asScala.toVector.reverseIterator.foreach(Files.deleteIfExists(_))
        finally w.close()
      }
    }
    rmrf(gd)
    // next batch: an unchanged re-fetch MUST still drop — the seed
    // folds the log's distinct pairs into the gate's batch_id=-1
    Files.write(Paths.get(watch, "feed-1.json"),
      ("""{"doc_id": 11, "text": "migrone words", "url": "https://m.example.org/a"}""" + "\n" +
        """{"doc_id": 12, "text": "migrtwo words", "url": "https://m.example.org/b"}""" + "\n")
        .getBytes("UTF-8"))
    run(ckpt)
    val e1 = indexEntries(index)
    assert(!e1.exists(e => e._2 == "11"),
      "after migration the gate must still hold pre-split pairs (seeded from the log)")
    assert(e1.exists(e => e._1 == "migrtwo" && e._2 == "12"))
    assert(Files.isDirectory(Paths.get(gd, "batch_id=-1")),
      "the migration seed lands as the gate's initial compacted generation")
    // two more batches with compactEvery=1: each batch folds the gate's
    // older partitions (the log is NEVER compacted — provenance)
    Files.write(Paths.get(watch, "feed-2.json"),
      """{"doc_id": 13, "text": "migrthree words", "url": "https://m.example.org/c"}"""
        .getBytes("UTF-8"))
    run(ckpt, compactEvery = Some(1))
    Files.write(Paths.get(watch, "feed-3.json"),
      ("""{"doc_id": 14, "text": "migrone words", "url": "https://m.example.org/a"}""" + "\n" +
        """{"doc_id": 15, "text": "migrtwo words", "url": "https://m.example.org/b"}""" + "\n" +
        """{"doc_id": 16, "text": "migrfour fresh words", "url": "https://m.example.org/b"}""" + "\n")
        .getBytes("UTF-8"))
    run(ckpt, compactEvery = Some(1))
    val e3 = indexEntries(index)
    assert(!e3.exists(e => e._2 == "14") && !e3.exists(e => e._2 == "15"),
      "gate decisions are unchanged after compaction folded the gate partitions")
    assert(e3.exists(e => e._1 == "migrfour" && e._2 == "16"),
      "changed content still passes after compaction")
    // the gate dir compacted (some negative generation beyond the seed
    // exists or partitions folded); the LOG keeps one partition per batch
    val logParts = Files.list(Paths.get(rlog)).iterator()
    val logNames = scala.jdk.CollectionConverters.IteratorHasAsScala(logParts)
      .asScala.map(_.getFileName.toString).filter(_.startsWith("batch_id=")).toSet
    assert(logNames === Set("batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"),
      "the fetch log is exempt from compaction — provenance partitions intact")
    // due list still derives from the full log: url A fetched at 0,1,3
    val due = CorpusWatcher.recrawlDue(spark, rlog, now = 100L)
    assert(due.filter(col("n_fetches") === 3L).count() === 1L,
      "url A's three observations survive in the log across compactions")
  }

  test("canon-version stamp: a history dir written under other rules fails loudly") {
    val (watch, index, quar, hist) =
      (tmp("watchcv"), tmp("indexcv"), tmp("quarcv") + "/bad", tmp("histcv") + "/urls")
    Files.createDirectories(Paths.get(hist))
    Files.write(Paths.get(hist, "_canon_version"), "1".getBytes("UTF-8"))
    Files.write(Paths.get(watch, "feed-0.json"),
      """{"doc_id": 1, "text": "cvbody words", "url": "https://cv.example.org/a"}"""
        .getBytes("UTF-8"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CorpusWatcher.startJsonl(spark, watch, index, tmp("ckptcv"), quar,
        urlGate = Some(UrlIdentityGate(hist))).awaitTermination()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("canonicalization"),
      s"expected a canon-version mismatch failure, got: $messages")
  }

  test("paraHistoryDir strips already-seen paragraphs from later batches; replay-idempotent") {
    val (watch, index, quar, hist) =
      (tmp("watchpp"), tmp("indexpp"), tmp("quarpp") + "/bad", tmp("histpp") + "/paras")
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      paraHistoryDir = Some(hist)).awaitTermination()
    // JSON \n escapes parse to real newlines; default boundary is \n+
    Files.write(Paths.get(watch, "feed-0.json"),
      """{"doc_id": 70, "text": "seenpara shared content here\nuniquezero tail"}"""
        .getBytes("UTF-8"))
    val ckpt = tmp("ckptpp")
    run(ckpt)
    assert(indexEntries(index).exists(e => e._1 == "seenpara" && e._2 == "70"))
    assert(spark.read.parquet(hist).filter(col("batch_id") === 0).count() > 0)
    // foreachBatch retry (fresh checkpoint, same files, re-runs as
    // batch 0): excludeBatchId must hide the first-attempt hashes or
    // doc 70 self-strips to nothing
    run(tmp("ckptpp2"))
    assert(indexEntries(index).exists(e => e._1 == "seenpara" && e._2 == "70"),
      "a replayed batch must not self-strip against its first-attempt hashes")
    // batch 1 repeats the paragraph inside fresh material: cut for doc
    // 71, fresh lines survive, the history's own copy stays indexed
    Files.write(Paths.get(watch, "feed-1.json"),
      """{"doc_id": 71, "text": "freshline opening\nseenpara shared content here\nuniqueone tail"}"""
        .getBytes("UTF-8"))
    run(ckpt)
    val entries = indexEntries(index)
    assert(entries.exists(e => e._1 == "freshline" && e._2 == "71"))
    assert(entries.exists(e => e._1 == "uniqueone" && e._2 == "71"))
    assert(!entries.exists(e => e._1 == "seenpara" && e._2 == "71"),
      "the already-seen paragraph must be stripped from doc 71")
    assert(entries.exists(e => e._1 == "seenpara" && e._2 == "70"))
  }

  test("sentenceSpanHistoryDir strips already-seen 3-sentence spans; replay-idempotent") {
    val (watch, index, quar, hist) =
      (tmp("watchss"), tmp("indexss"), tmp("quarss") + "/bad", tmp("histss") + "/spans")
    def run(ckpt: String): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      sentenceSpanHistoryDir = Some(hist)).awaitTermination()
    Files.write(Paths.get(watch, "feed-0.json"),
      """{"doc_id": 80, "text": "alphaone first. betatwo second. gammathree third. zerotail fourth."}"""
        .getBytes("UTF-8"))
    val ckpt = tmp("ckptss")
    run(ckpt)
    assert(indexEntries(index).exists(e => e._1 == "alphaone" && e._2 == "80"))
    assert(spark.read.parquet(hist).filter(col("batch_id") === 0).count() > 0)
    // foreachBatch retry (fresh checkpoint, same files, re-runs as
    // batch 0): excludeBatchId must hide the first-attempt keys or
    // doc 80 self-strips
    run(tmp("ckptss2"))
    assert(indexEntries(index).exists(e => e._1 == "alphaone" && e._2 == "80"),
      "a replayed batch must not self-strip against its first-attempt keys")
    // batch 1 repeats a seen span (re-punctuated) inside fresh
    // sentences: the covered sentences are cut, fresh ones survive
    Files.write(Paths.get(watch, "feed-1.json"),
      """{"doc_id": 81, "text": "freshopen lead. alphaone first! betatwo second? gammathree third. freshtail end."}"""
        .getBytes("UTF-8"))
    run(ckpt)
    val entries = indexEntries(index)
    assert(entries.exists(e => e._1 == "freshopen" && e._2 == "81"))
    assert(entries.exists(e => e._1 == "freshtail" && e._2 == "81"))
    assert(!entries.exists(e => e._1 == "alphaone" && e._2 == "81"),
      "the already-seen span's sentences must be stripped from doc 81")
    assert(entries.exists(e => e._1 == "alphaone" && e._2 == "80"))
  }

  test("positional snapshots answer phrase queries; re-upload replaces positions") {
    val (watch, index, ckpt, quar) =
      (tmp("watchpos"), tmp("indexpos"), tmp("ckptpos"), tmp("quarpos") + "/bad")
    val docsDir = tmp("docstorepos") + "/docs"
    def run(): Unit = CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      positional = true, docStoreDir = Some(docsDir)).awaitTermination()
    Files.write(Paths.get(watch, "feed-0.json"),
      ("""{"doc_id": 60, "text": "cat dog cat dog"}""" + "\n" +
        """{"doc_id": 61, "text": "dog cat"}""" + "\n").getBytes("UTF-8"))
    run()
    val snap0 = CorpusWatcher.currentIndex(spark, index, positional = true)
    assert(snap0.columns.toSeq === Seq("word", "doc_id", "positions", "cnt"))
    // adjacency served straight off the snapshot: only doc 60 has
    // "cat dog" (doc 61 has the words reversed)
    val ph0 = graft.index.InvertedIndex.phraseSearch(snap0, "cat dog")
      .as[(String, Long, Long)].collect().toSet
    assert(ph0 === Set(("60", 2L, 0L)), ph0.toString)
    // re-upload doc 60 with the phrase broken: upsert must REPLACE its
    // positions, and the phrase now matches nowhere
    Files.write(Paths.get(watch, "feed-1.json"),
      """{"doc_id": 60, "text": "cat bird dog"}""".getBytes("UTF-8"))
    run()
    val snap1 = CorpusWatcher.currentIndex(spark, index, positional = true)
    assert(graft.index.InvertedIndex.phraseSearch(snap1, "cat dog").count() === 0L)
    assert(snap1.filter(col("doc_id") === "60" && col("word") === "cat")
      .select("positions").as[Seq[Int]].head() === Seq(0))
    // the maintained doc store resolves the re-upload latest-batch-wins
    // — the text face of the index's upsert semantics
    val docsNow = CorpusWatcher.docStore(spark, docsDir)
    assert(docsNow.as[(String, String)].collect().toSet ===
      Set(("60", "cat bird dog"), ("61", "dog cat")),
      "docStore must serve each doc's LATEST admitted version")
    // streaming → serving, end to end from STREAM OUTPUTS ONLY: the
    // current snapshot exports as a full search-page store WITHOUT
    // re-tokenizing the accumulated corpus, the doc store supplies the
    // text, and the served page equals the in-plan face
    val store = tmp("storeposx")
    docsNow.write.mode("overwrite").parquet(s"$store/docs")
    graft.index.IndexStore.saveSearchPageStoreFromIndex(
      snap1, nDocs = 2L, s"$store/sp", graft.index.IndexStore.HashPrefix)
    val served = graft.index.IndexStore.searchPage(spark, s"$store/sp",
        s"$store/docs", "cat dog", k = 2, window = 3)
      .as[(Int, String, Double, Long, Long, Long, String)].collect().toSet
    val want = graft.index.InvertedIndex.searchPage(docsNow, "cat dog",
        k = 2, window = 3)
      .as[(Int, String, Double, Long, Long, Long, String)].collect().toSet
    assert(served === want,
      "the exported snapshot must serve the same page as the in-plan face")
  }
  test("unicodeTokens: non-Latin cross-batch dups drop; the ASCII mode would false-drop fresh text") {
    val ru = "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u044d\u0442\u043e \u0442\u0435\u0441\u0442\u043e\u0432\u044b\u0439 \u0434\u043e\u043a\u0443\u043c\u0435\u043d\u0442 \u043e \u043b\u0438\u0441\u0435"
    val ru2 = "\u0441\u043e\u0432\u0441\u0435\u043c \u0434\u0440\u0443\u0433\u043e\u0439 \u0440\u0443\u0441\u0441\u043a\u0438\u0439 \u0442\u0435\u043a\u0441\u0442 \u043d\u0438\u0447\u0435\u0433\u043e \u043e\u0431\u0449\u0435\u0433\u043e \u043d\u0435\u0442"
    def runPair(unicodeTokens: Boolean): Set[String] = {
      val tag = if (unicodeTokens) "u" else "a"
      val (watch, index, quar, bands) = (tmp(s"watchuni$tag"), tmp(s"indexuni$tag"),
        tmp(s"quaruni$tag") + "/bad", tmp(s"bandsuni$tag") + "/bands")
      val ckpt = tmp(s"ckptuni$tag")
      Files.write(Paths.get(watch, "feed-0.json"),
        (s"""{"doc_id": 1, "text": "$ru"}""" + "\n").getBytes("UTF-8"))
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
        dedupBandsDir = Some(bands), unicodeTokens = unicodeTokens).awaitTermination()
      // batch 1: doc 2 re-sends doc 1's text (true dup); doc 3 is FRESH
      // Cyrillic sharing nothing
      Files.write(Paths.get(watch, "feed-1.json"),
        (s"""{"doc_id": 2, "text": "$ru"}""" + "\n" +
          s"""{"doc_id": 3, "text": "$ru2"}""" + "\n").getBytes("UTF-8"))
      CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
        dedupBandsDir = Some(bands), unicodeTokens = unicodeTokens).awaitTermination()
      spark.read.parquet(bands).select("doc_id").as[String].collect().toSet
    }
    // unicode mode: doc 2 dropped as a true dup, doc 3 survives
    assert(runPair(unicodeTokens = true) === Set("1", "3"))
    // ASCII mode: every Cyrillic doc signs the identical empty token
    // stream, so the FRESH doc 3 is falsely dropped too — the silent
    // failure the dial closes
    assert(runPair(unicodeTokens = false) === Set("1"))
  }

  test("htmlExtract + c4Rules: the crawl front extracts prose and drops boilerplate pages before indexing") {
    val (watch, index, ckpt, quar) =
      (tmp("watchhc"), tmp("indexhc"), tmp("ckpthc"), tmp("quarhc") + "/bad")
    // 40: a five-sentence article wrapped in markup — survives both
    // stages, indexed as EXTRACTED prose; 41: a nav list — extraction
    // leaves one-word unterminated lines, the C4 rules empty it and
    // the 5-sentence floor drops the page
    val page = "<html><body>" + (1 to 5).map(i =>
      s"<p>The quick brown fox jumps number $i today.</p>").mkString + "</body></html>"
    Files.write(Paths.get(watch, "feed-0.json"),
      (s"""{"doc_id": 40, "text": "$page"}""" + "\n" +
        """{"doc_id": 41, "text": "<ul><li>nav</li><li>links</li></ul>"}""" + "\n").getBytes("UTF-8"))
    CorpusWatcher.startJsonl(spark, watch, index, ckpt, quar,
      htmlExtract = true, c4Rules = true).awaitTermination()
    val entries = indexEntries(index)
    assert(entries.map(_._2) === Set("40"),
      s"only the article should index, got: ${entries.map(_._2)}")
    // the index holds the extracted prose's tokens, never markup
    val words = entries.map(_._1)
    assert(words.contains("fox") && words.contains("today"))
    assert(!words.contains("html") && !words.contains("li") && !words.contains("p"))
  }
}
