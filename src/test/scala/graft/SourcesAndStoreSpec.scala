package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, concat_ws}

import graft.index.{IndexStore, InvertedIndex}
import graft.sources.TextCorpus
import SparkSpec.spark.implicits._

class SourcesAndStoreSpec extends SparkSpec {

  private def tmp(name: String): String = tempDir(s"graft-$name-").toString

  test("readDocuments: one row per file, doc_id = basename, whole text") {
    val dir = tmp("corpus")
    Files.write(java.nio.file.Paths.get(dir, "a.txt"), "line one\nline two".getBytes)
    Files.write(java.nio.file.Paths.get(dir, "b.txt"), "solo".getBytes)
    val got = TextCorpus.readDocuments(spark, dir)
      .as[(String, String)].collect().toMap
    assert(got === Map("a.txt" -> "line one\nline two", "b.txt" -> "solo"))
  }

  test("readLines splits files into rows") {
    val dir = tmp("lines")
    Files.write(java.nio.file.Paths.get(dir, "a.txt"), "l1\nl2\nl3".getBytes)
    assert(TextCorpus.readLines(spark, dir).count() === 3)
  }

  test("tuple CSV round-trips the index through the reference's format") {
    val idx = InvertedIndex.build(Seq((1L, "cat dog cat")).toDF("doc_id", "text"))
    val path = tmp("csv") + "/tuples"
    TextCorpus.writeTupleCsv(idx, path)
    val back = TextCorpus.readTupleCsv(spark, path)
      .as[(String, String, Long)].collect().toSet
    assert(back === Set(("cat", "1", 2L), ("dog", "1", 1L)))
  }

  test("JSONL corpus round-trips with extra fields preserved") {
    val dir = tmp("jsonl") + "/corpus"
    val docs = Seq((1L, "hello world", "en"), (2L, "hola mundo", "es"))
      .toDF("doc_id", "text", "lang")
    TextCorpus.writeJsonl(docs, dir)
    val back = TextCorpus.cleanJsonl(
        TextCorpus.readJsonl(spark, dir, extraFields = Seq("lang STRING")))
      .as[(Long, String, String)].collect().toSet
    assert(back === Set((1L, "hello world", "en"), (2L, "hola mundo", "es")))
    // and the index pipeline runs straight off it
    val idx = graft.index.InvertedIndex.build(TextCorpus.readJsonl(spark, dir))
      .as[(String, Long, Long)].collect().toSet
    assert(idx === Set(("hello", 1L, 1L), ("world", 1L, 1L),
      ("hola", 2L, 1L), ("mundo", 2L, 1L)))
  }

  test("readJsonl surfaces malformed lines in the corrupt column, keeps clean rows") {
    val dir = tmp("jsonlbad") + "/corpus"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      ("""{"doc_id": 1, "text": "good line"}""" + "\n" +
        """{"doc_id": 2, "text": "truncated""" + "\n" +          // unterminated string
        """{"doc_id": "not-a-number", "text": "bad id"}""" + "\n" +
        """{"doc_id": 3, "text": "another good line"}""" + "\n").getBytes("UTF-8"))
    val df = TextCorpus.readJsonl(spark, dir)
    // clean rows: exactly the two parseable lines, corrupt column dropped
    val clean = TextCorpus.cleanJsonl(df).as[(Long, String)].collect().toSet
    assert(clean === Set((1L, "good line"), (3L, "another good line")))
    // corrupt rows carry the RAW line for quarantine/replay (selected
    // alongside a data column — required schema must never be ONLY the
    // corrupt column, SPARK-21610)
    val bad = TextCorpus.corruptJsonl(df)
      .select($"doc_id", col(TextCorpus.CorruptCol).as("raw"))
      .as[(Option[Long], String)].collect().map(_._2).toSet
    assert(bad === Set(
      """{"doc_id": 2, "text": "truncated""",
      """{"doc_id": "not-a-number", "text": "bad id"}"""))
    // the bad-typed row keeps its parseable field (text) alongside the raw line
    val partial = TextCorpus.corruptJsonl(df)
      .filter($"text" === "bad id").select("doc_id").collect()
    assert(partial.length === 1 && partial.head.isNullAt(0))
  }

  test("IndexStore round-trips and lookup prunes partitions") {
    val idx = InvertedIndex.build(Seq(
      (1L, "apple banana apple"), (2L, "banana cherry")).toDF("doc_id", "text"))
    val path = tmp("store") + "/index"
    IndexStore.save(idx, path)

    val loaded = IndexStore.load(spark, path)
      .as[(String, Long, Long)].collect().toSet
    assert(loaded === Set(
      ("apple", 1L, 2L), ("banana", 1L, 1L), ("banana", 2L, 1L), ("cherry", 2L, 1L)))

    val got = IndexStore.lookup(spark, path, "Banana!").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 1L)))

    // the physical plan must show partition pruning on the prefix and a
    // pushed filter on word — the point of the layout
    val plan = IndexStore.lookup(spark, path, "banana")
      .queryExecution.executedPlan.toString
    assert(plan.contains("word_pfx"), s"no partition filter in:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(word), EqualTo(word,banana)]"),
      s"word filter not pushed in:\n$plan")
  }

  test("lookup is one Spark job with one task, on a 256-dir HashPrefix store and a 36-dir FirstChar store") {
    def hashPfx(w: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(w.getBytes("UTF-8"))
      f"${d(0) & 0xff}%02x"
    }
    // the first words whose md5 prefixes cover all 256 directories
    val seen = scala.collection.mutable.Set.empty[String]
    val hashWords = Iterator.from(0).map(i => s"w$i")
      .filter(w => seen.add(hashPfx(w))).take(256).toVector
    // 36 first characters, like the benchmark's store: over Spark's
    // parallel-listing threshold (32)
    val charWords = (('a' to 'z') ++ ('0' to '9')).map(c => s"${c}ord")
    Seq((IndexStore.HashPrefix, hashWords, 256), (IndexStore.FirstChar, charWords, 36))
      .foreach { case (layout, words, nDirs) =>
        // each word in two docs, with differing counts
        val docs = words.zipWithIndex.flatMap { case (w, i) =>
          Seq((i.toLong % 7, Seq.fill(1 + i % 3)(w).mkString(" ")), ((i + 3L) % 7, w)) }
        val idx = InvertedIndex.build(docs.toDF("doc_id", "text"))
        val path = tmp(s"store1job-$layout") + "/index"
        IndexStore.save(idx, path, layout)
        assert(new java.io.File(path).list().count(_.startsWith("word_pfx=")) === nDirs)
        Seq(words.head, words(words.size / 2), words.last).foreach { w =>
          val want = idx.filter($"word" === w).orderBy($"cnt".desc, $"doc_id")
            .select("doc_id", "cnt").as[(Long, Long)].collect().toSeq
          val df = IndexStore.lookup(spark, path, w)
          val (got, jobs, tasks) = jobsAndTasks(df.as[(Long, Long)].collect().toSeq)
          assert(got === want && got.nonEmpty, s"$layout lookup '$w'")
          assert(jobs === 1, s"$layout lookup '$w' ran $jobs jobs")
          assert(tasks === 1, s"$layout lookup '$w' ran $tasks tasks")
        }
        // building the lookup itself runs nothing: no listing, no inference
        assert(jobsAndTasks(IndexStore.lookup(spark, path, words.head))._2 === 0)
      }
  }

  test("lookup of a key whose prefix directory is absent: empty frame typed like the store, no job") {
    val idx = InvertedIndex.build(Seq((1L, "apple banana"), (2L, "banana")).toDF("doc_id", "text"))
    val path = tmp("storeabsent") + "/index"
    IndexStore.save(idx, path)
    assert(!new java.io.File(s"$path/word_pfx=z").exists(), "fixture: no 'z' directory")
    val typed = IndexStore.load(spark, path).select("doc_id", "cnt").schema
    val (rows, jobs, _) = jobsAndTasks {
      val df = IndexStore.lookup(spark, path, "Zebra")
      assert(df.schema === typed)
      df.collect()
    }
    assert(rows.isEmpty)
    assert(jobs === 0, s"an absent prefix ran $jobs jobs")
    // present prefix, absent word: also empty, same type
    val miss = IndexStore.lookup(spark, path, "apricot")
    assert(miss.schema === typed && miss.collect().isEmpty)
  }

  test("a store with string doc_ids round-trips through lookup") {
    val idx = InvertedIndex.build(Seq(("b.txt", "apple banana apple"),
      ("a.txt", "banana cherry"), ("c.txt", "apple")).toDF("doc_id", "text"))
    Seq(IndexStore.FirstChar, IndexStore.HashPrefix).foreach { layout =>
      val path = tmp(s"storestr-$layout") + "/index"
      IndexStore.save(idx, path, layout)
      val df = IndexStore.lookup(spark, path, "Apple")
      assert(df.schema === IndexStore.load(spark, path).select("doc_id", "cnt").schema)
      assert(df.schema("doc_id").dataType === org.apache.spark.sql.types.StringType)
      assert(df.as[(String, Long)].collect().toSeq === Seq(("b.txt", 2L), ("c.txt", 1L)))
      assert(IndexStore.lookup(spark, path, "banana").as[(String, Long)]
        .collect().toSeq === Seq(("a.txt", 1L), ("b.txt", 1L)))
    }
  }

  test("HashPrefix layout round-trips, prunes to one md5 directory, pushes the word filter") {
    val idx = InvertedIndex.build(Seq(
      (1L, "apple banana apple"), (2L, "banana cherry date egg fig")).toDF("doc_id", "text"))
    val path = tmp("storehash") + "/index"
    IndexStore.save(idx, path, IndexStore.HashPrefix)

    assert(IndexStore.load(spark, path).as[(String, Long, Long)].collect().toSet ===
      idx.as[(String, Long, Long)].collect().toSet)

    val q = IndexStore.lookup(spark, path, "Banana!")
    assert(q.as[(Long, Long)].collect().toSeq === Seq((1L, 1L), (2L, 1L)))

    // md5("banana") = 72b302bf... → the scan must pin word_pfx = 72 at
    // planning time and read exactly one partition directory
    val qe = IndexStore.lookup(spark, path, "banana").queryExecution
    val plan = qe.executedPlan.toString
    val pfLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pfLine.contains("= 72)"), s"hash prefix not pinned in: $pfLine\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(word), EqualTo(word,banana)]"),
      s"word filter not pushed in:\n$plan")
    qe.toRdd.count() // execute so scan metrics populate
    // AQE wraps subtrees in QueryStageExec leaves that hide their plan
    // from collect() — recurse through them to reach the file scan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(qe.executedPlan).head
    assert(scan.metrics("numFiles").value === 1L,
      s"expected exactly one pruned file, got ${scan.metrics("numFiles").value}")
  }

  test("savePositional + served phraseSearch: parity with the unstored form, pruned scan") {
    val c = Seq(
      (1L, "cat dog cat dog"),
      (2L, "dog cat"),
      (3L, "cat cat zebra")).toDF("doc_id", "text")
    val pos = InvertedIndex.buildPositional(c)
    val path = tmp("storepos") + "/posindex"
    IndexStore.savePositional(pos, path, IndexStore.HashPrefix)
    val want = InvertedIndex.phraseSearch(pos, "cat dog")
      .as[(Long, Long, Long)].collect().toSet
    val served = IndexStore.phraseSearch(spark, path, "Cat, DOG!")
    assert(served.as[(Long, Long, Long)].collect().toSet === want)
    // the scan must pin the two terms' md5 prefixes as partition
    // filters and push the word isin — per-term-postings cost, never
    // index-sized
    val plan = IndexStore.phraseSearch(spark, path, "cat dog")
      .queryExecution.executedPlan.toString
    val pfLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pfLine.contains("word_pfx"), s"no partition filter in: $pfLine\n$plan")
    assert(plan.contains("In(word, [cat,dog])") || plan.contains("In(word, [dog,cat])"),
      s"word isin not pushed in:\n$plan")
  }

  test("saveSearchPageStore + served searchPage: parity with the in-plan face; postings scans prune to one directory per distinct term") {
    val c = Seq(
      (1L, "cat and dog together here with cat again nearby today"),
      (2L, "only a cat in this one and nothing else at all"),
      (3L, "dog dog dog dog dog repeated for emphasis and more dog"),
      (4L, "no terms whatsoever in this filler document right here"))
      .toDF("doc_id", "text")
    val base = tmp("storesp")
    IndexStore.saveDocStore(c, s"$base/docs")
    IndexStore.saveSearchPageStore(c, s"$base/store", IndexStore.HashPrefix)
    val want = InvertedIndex.searchPage(c, "cat dog", k = 2, window = 4)
      .as[(Int, Long, Double, Long, Long, Long, String)].collect().toSet
    val served = IndexStore.searchPage(spark, s"$base/store", s"$base/docs",
      "Cat, DOG!", k = 2, window = 4)
    assert(served.as[(Int, Long, Double, Long, Long, Long, String)]
      .collect().toSet === want,
      "the served page must be row-identical to the in-plan face")
    // pruning: every scan of the postings store pins the two terms'
    // md5 prefixes as PARTITION filters and pushes the word isin —
    // per-query cost is per-term-postings-sized, never index-sized
    val qe = IndexStore.searchPage(spark, s"$base/store", s"$base/docs",
      "cat dog", k = 2, window = 4).queryExecution
    val plan = qe.executedPlan.toString
    val pfLines = plan.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    val postingsPf = pfLines.filter(_.contains("word_pfx"))
    assert(postingsPf.nonEmpty, s"no postings partition filter in:\n$plan")
    assert(plan.contains("In(word, [cat,dog])") || plan.contains("In(word, [dog,cat])"),
      s"word isin not pushed in:\n$plan")
    // executed: each postings scan reads at most one file per distinct
    // term (one directory each under HashPrefix, one file per dir here)
    qe.toRdd.count()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val postingScans = scans(qe.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("postings")))
    assert(postingScans.nonEmpty, "expected scans over the postings store")
    postingScans.foreach { sc =>
      assert(sc.metrics("numFiles").value <= 2L,
        s"a postings scan read ${sc.metrics("numFiles").value} files — " +
          "pruning must bound it at one directory per distinct query term")
    }
    // the TEXT fetch prunes too: the k ranked ids push doc_bkt as a
    // partition filter into the bucketed doc store — <= k directories
    // read, never the corpus (the r18 verdict's missing #2)
    val docScans = scans(qe.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("docs")))
    assert(docScans.nonEmpty, "expected a scan over the doc store")
    docScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        "the doc-store scan must carry a doc_bkt partition filter")
      assert(sc.metrics("numFiles").value <= 2L,
        s"the doc-store scan read ${sc.metrics("numFiles").value} files — " +
          "the k ranked ids must bound it at k directories")
    }
    // and the ranking is no longer Persist-cached: the page plan reads
    // the collected k-row local relation, so a serving session
    // accumulates no cache entries per page (the r18 advisory)
    assert(!qe.executedPlan.toString.contains("InMemoryTableScan"),
      "searchPage must not route through a Persist cache entry")
    // SQL surface: path-literal TVF, both arities, parity with the API
    graft.plans.GraftExtensions.install(spark)
    assert(spark.sql(
        s"SELECT * FROM graft_search_page_served('$base/store', '$base/docs', 'cat dog', 2, 4)")
      .as[(Int, Long, Double, Long, Long, Long, String)].collect().toSet === want)
    assert(spark.sql(
        s"SELECT * FROM graft_search_page_served('$base/store', '$base/docs', 'cat dog', 2)")
      .count() === 2L)
    // served HYBRID: the lexical arm from the SAME store; row parity
    // with the in-plan fusion over identical arms
    val e = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.5, 0.5))).toDF("vec_id", "embedding")
    val hybWant = InvertedIndex.hybridTopK(c, e, "cat dog",
      e.filter($"vec_id" === 1L), k = 3, poolK = 3).collect().toSet
    val hybServed = IndexStore.hybridTopK(spark, s"$base/store", e, "cat dog",
      e.filter($"vec_id" === 1L), k = 3, poolK = 3).collect().toSet
    assert(hybServed === hybWant,
      "the served hybrid page must be row-identical to the in-plan face")
    e.createOrReplaceTempView("hys_emb")
    assert(spark.sql(
        s"SELECT * FROM graft_hybrid_served('$base/store', 'hys_emb', 'cat dog', 1, 3, 3)")
      .collect().toSet === hybWant, "TVF parity with the served face")
    // FULLY-served hybrid: the semantic arm from a cell-partitioned
    // ANN store — must equal the same fusion composed from the
    // stored-table ivfpqSearch arm (both arms pruned, zero corpus
    // scans per query)
    val (coarseC, assignC) = graft.ops.Similarity.kmeansModel(e)
    val (booksC, codesC) = graft.ops.Similarity.pqModel(e, m = 2)
    graft.ops.Similarity.saveAnnStore(coarseC, assignC, booksC, codesC, s"$base/ann")
    val annWant = InvertedIndex.hybridFromRankings(
      InvertedIndex.bm25TopK(InvertedIndex.build(c), "cat dog", 4L, 3)
        .select($"doc_id", $"rank".as("bm25_rank")),
      graft.ops.Similarity.ivfpqSearch(e.filter($"vec_id" === 1L),
          coarseC, assignC, booksC, codesC, 3, nprobe = 2, m = 2)
        .select($"neighbor_id".as("doc_id"), $"rank".as("cos_rank")),
      k = 3).collect().toSet
    val annServed = IndexStore.hybridTopKAnn(spark, s"$base/store", s"$base/ann",
      "cat dog", e.filter($"vec_id" === 1L), k = 3, poolK = 3,
      nprobe = 2, m = 2).collect().toSet
    assert(annServed === annWant,
      "the ANN-served hybrid page must equal the stored-table composition")
    assert(spark.sql(
        s"SELECT * FROM graft_hybrid_served_ann('$base/store', '$base/ann', " +
          "'hys_emb', 'cat dog', 1, 3, 3, 2, 2)")
      .collect().toSet === annWant, "TVF parity with the fully-served face")
    // served plain BM25 and boolean retrieval: parity + pruned plans —
    // every retrieval face now has a served twin over the ONE store
    val idx = InvertedIndex.build(c)
    assert(IndexStore.bm25TopK(spark, s"$base/store", "cat dog", k = 3)
      .collect().toSet === InvertedIndex.bm25TopK(idx, "cat dog", 4, 3)
      .collect().toSet, "served BM25 must equal the in-plan ranking")
    assert(IndexStore.booleanSearch(spark, s"$base/store", Seq("Cat.", "dog"))
      .collect().toSet === InvertedIndex.booleanSearch(idx, Seq("Cat.", "dog"))
      .collect().toSet, "served boolean must equal the in-plan intersection")
    val bPlan = IndexStore.bm25TopK(spark, s"$base/store", "cat dog", k = 3)
      .queryExecution.executedPlan.toString
    assert(bPlan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("word_pfx")),
      s"served BM25 must prune postings partitions:\n$bPlan")
  }

  test("layout marker: FirstChar and HashPrefix stores serve through all seven faces and the three path-literal TVFs with no layout argument") {
    val c = Seq(
      (1L, "cat and dog together here with cat again nearby today"),
      (2L, "only a cat in this one and nothing else at all"),
      (3L, "dog dog dog dog dog repeated for emphasis and more dog"),
      (4L, "no terms whatsoever in this filler document right here"))
      .toDF("doc_id", "text")
    val e = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.5, 0.5))).toDF("vec_id", "embedding")
    e.createOrReplaceTempView("mk_emb")
    val qv = e.filter($"vec_id" === 1L)
    val idx = InvertedIndex.build(c)
    val pos = InvertedIndex.buildPositional(c)
    val shared = tmp("storemkshared")
    IndexStore.saveDocStore(c, s"$shared/docs")
    val (coarse, assign) = graft.ops.Similarity.kmeansModel(e)
    val (books, codes) = graft.ops.Similarity.pqModel(e, m = 2)
    graft.ops.Similarity.saveAnnStore(coarse, assign, books, codes, s"$shared/ann")
    // the in-plan faces each served face was pinned against when its
    // caller passed the matching layout
    val want = Seq(
      idx.filter($"word" === "cat").orderBy($"cnt".desc, $"doc_id")
        .select("doc_id", "cnt").collect().toSeq,
      InvertedIndex.phraseSearch(pos, "cat again").collect().toSeq,
      InvertedIndex.searchPage(c, "cat dog", k = 2, window = 4).collect().toSeq,
      InvertedIndex.bm25TopK(idx, "cat dog", 4, 3).collect().toSeq,
      InvertedIndex.booleanSearch(idx, Seq("cat", "dog")).collect().toSeq,
      InvertedIndex.hybridTopK(c, e, "cat dog", qv, k = 3, poolK = 3).collect().toSeq,
      InvertedIndex.hybridFromRankings(
        InvertedIndex.bm25TopK(idx, "cat dog", 4L, 3).select($"doc_id", $"rank".as("bm25_rank")),
        graft.ops.Similarity.ivfpqSearch(qv, coarse, assign, books, codes, 3, nprobe = 2, m = 2)
          .select($"neighbor_id".as("doc_id"), $"rank".as("cos_rank")),
        k = 3).collect().toSeq)
    graft.plans.GraftExtensions.install(spark)
    Seq(IndexStore.FirstChar -> "word_pfx=c", IndexStore.HashPrefix -> "word_pfx=d0")
      .foreach { case (layout, catDir) => // md5("cat") = d077f244...
        val base = tmp(s"storemk-$layout")
        IndexStore.save(idx, s"$base/flat", layout)
        IndexStore.savePositional(pos, s"$base/pos", layout)
        IndexStore.saveSearchPageStore(c, s"$base/store", layout)
        Seq("flat", "pos", "store/postings").foreach { d =>
          assert(new java.io.File(s"$base/$d/$catDir").isDirectory, s"$layout: $d/$catDir")
        }
        val store = s"$base/store"
        val got = Seq(
          IndexStore.lookup(spark, s"$base/flat", "Cat"),
          IndexStore.phraseSearch(spark, s"$base/pos", "Cat, again"),
          IndexStore.searchPage(spark, store, s"$shared/docs", "cat dog", k = 2, window = 4),
          IndexStore.bm25TopK(spark, store, "cat dog", k = 3),
          IndexStore.booleanSearch(spark, store, Seq("cat", "dog")),
          IndexStore.hybridTopK(spark, store, e, "cat dog", qv, k = 3, poolK = 3),
          IndexStore.hybridTopKAnn(spark, store, s"$shared/ann", "cat dog", qv,
            k = 3, poolK = 3, nprobe = 2, m = 2)).map(_.collect().toSeq)
        got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
          assert(g.nonEmpty && g.toSet === w.toSet && g.size === w.size, s"$layout face $i")
        }
        assert(got(0) === want(0), s"$layout lookup order")
        val tvfs = Seq(
          s"graft_search_page_served('$store', '$shared/docs', 'cat dog', 2, 4)" -> want(2),
          s"graft_hybrid_served('$store', 'mk_emb', 'cat dog', 1, 3, 3)" -> want(5),
          s"graft_hybrid_served_ann('$store', '$shared/ann', 'mk_emb', 'cat dog', 1, 3, 3, 2, 2)" -> want(6))
        tvfs.foreach { case (call, w) =>
          assert(spark.sql(s"SELECT * FROM $call").collect().toSet === w.toSet, s"$layout $call")
        }
      }
  }

  test("layout marker: a store without one raises through the API and the TVF, naming the path") {
    val c = Seq((1L, "apple banana"), (2L, "banana cherry")).toDF("doc_id", "text")
    val base = tmp("storenomk")
    IndexStore.save(InvertedIndex.build(c), s"$base/flat", IndexStore.HashPrefix)
    IndexStore.saveDocStore(c, s"$base/docs")
    IndexStore.saveSearchPageStore(c, s"$base/store", IndexStore.HashPrefix)
    Seq(s"$base/flat", s"$base/store/postings").foreach { d =>
      assert(new java.io.File(s"$d/_GRAFT_LAYOUT").delete(), s"fixture: marker of $d")
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
    val api = Seq(
      s"$base/flat" -> intercept[IllegalArgumentException](
        IndexStore.lookup(spark, s"$base/flat", "banana")),
      s"$base/store/postings" -> intercept[IllegalArgumentException](
        IndexStore.bm25TopK(spark, s"$base/store", "banana", k = 2)),
      s"$base/store/postings" -> intercept[IllegalArgumentException](
        IndexStore.searchPage(spark, s"$base/store", s"$base/docs", "banana", k = 2)))
    api.foreach { case (path, err) =>
      assert(err.getMessage.contains(path) && err.getMessage.contains("_GRAFT_LAYOUT"), err.getMessage)
    }
    graft.plans.GraftExtensions.install(spark)
    val viaSql = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_search_page_served('$base/store', '$base/docs', 'banana', 2)").collect())
    assert(messages(viaSql).exists(_.contains(s"$base/store/postings")), messages(viaSql).mkString("\n"))
  }

  test("IndexStore: only the four save entry points take a Layout") {
    val takesLayout = IndexStore.getClass.getMethods.toSeq
      .filterNot(_.getName.contains("$"))
      .filter(_.getParameterTypes.exists(classOf[IndexStore.Layout].isAssignableFrom))
      .map(_.getName).toSet
    assert(takesLayout ===
      Set("save", "savePositional", "saveSearchPageStore", "saveSearchPageStoreFromIndex"))
  }

  test("incremental refresh of a HashPrefix store passed FirstChar writes only the store's own directories") {
    val c1 = Seq((1L, "apple banana apple"), (2L, "banana cherry unique"),
      (3L, "delta echo")).toDF("doc_id", "text")
    val store = tmp("storeincx") + "/sp"
    IndexStore.saveSearchPageStoreFromIndex(
      InvertedIndex.buildPositional(c1), 3L, store, IndexStore.HashPrefix)
    val c2 = Seq((1L, "apple banana apple"), (2L, "banana cherry fresh"),
      (3L, "delta echo"), (4L, "golf hotel")).toDF("doc_id", "text")
    val pos2 = InvertedIndex.buildPositional(c2)
    val changed = Seq("unique", "fresh", "banana", "cherry", "golf", "hotel").toDF("word")
    // the layout argument names a new store's layout only, never an
    // existing store's
    IndexStore.saveSearchPageStoreFromIndex(pos2, 4L, store, IndexStore.FirstChar,
      changedWords = Some(changed))
    val dirs = new java.io.File(s"$store/postings").list().filter(_.startsWith("word_pfx=")).toSeq
    assert(dirs.nonEmpty && dirs.forall(_.matches("word_pfx=[0-9a-f]{2}")),
      s"the refresh wrote outside the store's md5 directories: ${dirs.sorted.mkString(", ")}")
    val full = tmp("storeincxfull") + "/sp"
    IndexStore.saveSearchPageStoreFromIndex(pos2, 4L, full, IndexStore.HashPrefix)
    def table(s: String, t: String) = spark.read.parquet(s"$s/$t").collect().toSet
    assert(table(store, "doc_lengths") === table(full, "doc_lengths"),
      "doc_lengths must count every posting once")
    assert(table(store, "stats") === table(full, "stats"))
    Seq("banana fresh", "golf", "apple").foreach { q =>
      assert(IndexStore.bm25TopK(spark, store, q, k = 4).collect().toSeq ===
        IndexStore.bm25TopK(spark, full, q, k = 4).collect().toSeq, q)
    }
    assert(IndexStore.booleanSearch(spark, store, Seq("fresh"), requireAll = false)
      .collect().toSet === IndexStore.booleanSearch(spark, full, Seq("fresh"), requireAll = false)
      .collect().toSet)
  }

  test("incremental search-page-store refresh: only changed prefixes rewrite; untouched dirs byte-stable; vanished prefixes reclaimed; served parity") {
    def pfx(w: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8"))
      f"${d(0) & 0xff}%02x"
    }
    def dirState(store: String, p: String): Map[String, (Long, Long)] = {
      val dir = new java.io.File(s"$store/postings/word_pfx=$p")
      if (!dir.exists()) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    }
    val c1 = Seq((1L, "apple banana apple"), (2L, "banana cherry unique"),
      (3L, "delta echo")).toDF("doc_id", "text")
    val store = tmp("storeinc") + "/sp"
    IndexStore.saveSearchPageStoreFromIndex(
      InvertedIndex.buildPositional(c1), 3L, store, IndexStore.HashPrefix)
    val untouched = Seq("apple", "delta", "echo").map(pfx).distinct
    val before = untouched.map(p => p -> dirState(store, p)).toMap
    assert(dirState(store, pfx("unique")).nonEmpty, "fixture: unique has its own dir")
    // v2 snapshot: doc 2 re-uploaded (unique -> fresh), doc 4 new;
    // docs 1 and 3 untouched. The delta's words are what changed.
    val c2 = Seq((1L, "apple banana apple"), (2L, "banana cherry fresh"),
      (3L, "delta echo"), (4L, "golf hotel")).toDF("doc_id", "text")
    val pos2 = InvertedIndex.buildPositional(c2)
    val changed = Seq("unique", "fresh", "banana", "cherry", "golf", "hotel")
      .toDF("word")
    IndexStore.saveSearchPageStoreFromIndex(pos2, 4L, store,
      IndexStore.HashPrefix, changedWords = Some(changed))
    // untouched prefix directories are byte-identical files on disk —
    // the incremental refresh never rewrote them
    untouched.foreach { p =>
      assert(dirState(store, p) === before(p),
        s"untouched prefix dir $p must not be rewritten")
    }
    // the vanished word's directory is reclaimed (no stale postings)
    assert(dirState(store, pfx("unique")).isEmpty
        || spark.read.parquet(s"$store/postings")
             .filter($"word" === "unique").count() === 0L,
      "a changed prefix whose words vanished must not serve stale postings")
    // full parity: the refreshed store equals a from-scratch export of
    // the same snapshot — postings, stats, and a served ranking
    val full = tmp("storeincfull") + "/sp"
    IndexStore.saveSearchPageStoreFromIndex(pos2, 4L, full, IndexStore.HashPrefix)
    def postings(s: String) = spark.read.parquet(s"$s/postings")
      .select($"word", $"doc_id",
        concat_ws(",", $"positions".cast("array<string>")).as("p"), $"cnt")
      .as[(String, Long, String, Long)].collect().toSet
    assert(postings(store) === postings(full),
      "refreshed postings must equal the from-scratch export")
    assert(spark.read.parquet(s"$store/stats").collect().toSeq ===
      spark.read.parquet(s"$full/stats").collect().toSeq)
    assert(IndexStore.bm25TopK(spark, store, "banana fresh", k = 4).collect().toSeq ===
      IndexStore.bm25TopK(spark, full, "banana fresh", k = 4).collect().toSeq,
      "served ranking parity after the incremental refresh")
  }

  test("only the matching partition directory is scanned") {
    val idx = InvertedIndex.build(Seq((1L, "alpha beta")).toDF("doc_id", "text"))
    val path = tmp("store2") + "/index"
    IndexStore.save(idx, path)
    // partition pruning is applied at scan planning: the FileSourceScan's
    // PartitionFilters must pin word_pfx to the lookup key's prefix
    val plan = IndexStore.lookup(spark, path, "alpha")
      .queryExecution.executedPlan.toString
    val pfLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pfLine.contains("= a)"), s"prefix not pinned in: $pfLine\n$plan")
  }

  // ---- BucketedStore -------------------------------------------------------

  import graft.sources.BucketedStore

  private def factA = (1L to 400L).map(k => (k % 40, k, s"a$k"))
    .toDF("key", "id", "pa")
  private def factB = (1L to 300L).map(k => (k % 40, k + 1000, s"b$k"))
    .toDF("key", "id", "pb")

  test("bucketed write/read round-trips rows and registers the layout") {
    val spark = SparkSpec.spark
    val base = tmp("bstore")
    BucketedStore.write(factA, "bs_rt_a", s"$base/a", "key", 8, Seq("key"))
    val back = BucketedStore.table(spark, "bs_rt_a")
    assert(back.collect().map(_.toSeq).toSet === factA.collect().map(_.toSeq).toSet)
    // one file per bucket (the repartition-before-write contract)
    val files = new java.io.File(s"$base/a").listFiles()
      .filter(f => f.getName.endsWith(".parquet")).length
    assert(files === 8, s"expected 8 bucket files, found $files")
  }

  /** Run `f` with auto-broadcast off: the fixture facts are tiny, so
    * Spark would broadcast them and neither side would ever show the
    * shuffle this layout exists to remove — the production scenario is
    * fact-to-fact, where broadcast is off the table by size. */
  private def noBroadcast[T](f: => T): T = {
    val spark = SparkSpec.spark
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("co-located join on the bucket key plans ZERO shuffle exchanges; the plain join shuffles") {
    noBroadcast {
      val spark = SparkSpec.spark
      val base = tmp("bjoin")
      BucketedStore.write(factA, "bs_a", s"$base/a", "key", 8, Seq("key"))
      BucketedStore.write(factB, "bs_b", s"$base/b", "key", 8, Seq("key"))
      val a = BucketedStore.table(spark, "bs_a")
      val b = BucketedStore.table(spark, "bs_b").withColumnRenamed("key", "key2")
      val joined = a.join(b, a("key") === b("key2"))
      assert(!BucketedStore.hasShuffle(joined),
        joined.queryExecution.executedPlan.toString)
      // value parity + the control: the same join over plain parquet shuffles
      factA.write.mode("overwrite").parquet(s"$base/pa")
      factB.write.mode("overwrite").parquet(s"$base/pb")
      val pa = spark.read.parquet(s"$base/pa")
      val pb = spark.read.parquet(s"$base/pb").withColumnRenamed("key", "key2")
      val plain = pa.join(pb, pa("key") === pb("key2"))
      assert(BucketedStore.hasShuffle(plain))
      assert(joined.collect().map(_.toSeq).toSet === plain.collect().map(_.toSeq).toSet)
    }
  }

  test("aggregation on the bucket key plans without an exchange") {
    val spark = SparkSpec.spark
    val base = tmp("bagg")
    BucketedStore.write(factA, "bs_agg", s"$base/a", "key", 8)
    val agg = BucketedStore.table(spark, "bs_agg")
      .groupBy("key").agg(org.apache.spark.sql.functions.count(col("id")))
    assert(!BucketedStore.hasShuffle(agg), agg.queryExecution.executedPlan.toString)
  }

  test("mismatched bucket counts shuffle ONE side only") {
    noBroadcast {
      val spark = SparkSpec.spark
      val base = tmp("bmis")
      BucketedStore.write(factA, "bs_m8", s"$base/a", "key", 8)
      BucketedStore.write(factB, "bs_m4", s"$base/b", "key", 4)
      val a = BucketedStore.table(spark, "bs_m8")
      val b = BucketedStore.table(spark, "bs_m4").withColumnRenamed("key", "key2")
      val joined = a.join(b, a("key") === b("key2"))
      assert(BucketedStore.shuffleCount(joined) === 1,
        joined.queryExecution.executedPlan.toString)
    }
  }

  test("re-registering a table name replaces files AND layout") {
    val spark = SparkSpec.spark
    val base = tmp("breg")
    BucketedStore.write(factA, "bs_rr", s"$base/v1", "key", 4)
    BucketedStore.write(factB, "bs_rr", s"$base/v2", "key", 8)
    val back = BucketedStore.table(spark, "bs_rr")
    assert(back.columns.contains("pb") && !back.columns.contains("pa"))
    assert(back.count() === 300L)
  }
}
