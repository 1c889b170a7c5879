package graft

import org.apache.spark.sql.DataFrame
import graft.index.InvertedIndex
import SparkSpec.spark.implicits._

class InvertedIndexSpec extends SparkSpec {

  private def corpus(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def entries(df: DataFrame): Set[(String, Long, Long)] =
    df.select("word", "doc_id", "cnt").as[(String, Long, Long)].collect().toSet

  test("build counts term frequency per (word, doc)") {
    val idx = InvertedIndex.build(corpus(1L -> "the cat the DOG", 2L -> "Cat!"))
    assert(entries(idx) === Set(
      ("the", 1L, 2L), ("cat", 1L, 1L), ("dog", 1L, 1L), ("cat", 2L, 1L)))
  }

  test("build ignores empty documents and empty tokens") {
    val idx = InvertedIndex.build(corpus(1L -> "  ...  ", 2L -> "ok"))
    assert(entries(idx) === Set(("ok", 2L, 1L)))
  }

  test("add is the reference's additive merge: re-indexed docs double-count") {
    val a = corpus(1L -> "x y", 2L -> "y")
    val full = InvertedIndex.build(a)
    val delta = InvertedIndex.build(a.filter($"doc_id" === 1L))
    assert(entries(InvertedIndex.add(full, delta)) === Set(
      ("x", 1L, 2L), ("y", 1L, 2L), ("y", 2L, 1L)))
  }

  test("upsertDocs replaces postings: merge is idempotent") {
    val a = corpus(1L -> "x y", 2L -> "y")
    val full = InvertedIndex.build(a)
    val delta = InvertedIndex.build(a.filter($"doc_id" === 1L))
    assert(entries(InvertedIndex.upsertDocs(full, delta)) === entries(full))
  }

  test("distributivity: build(A ∪ B) == add(build(A), build(B)) for disjoint docs") {
    val a = corpus(1L -> "alpha beta", 2L -> "beta")
    val b = corpus(3L -> "alpha alpha")
    val whole = InvertedIndex.build(corpus(
      1L -> "alpha beta", 2L -> "beta", 3L -> "alpha alpha"))
    assert(entries(InvertedIndex.add(InvertedIndex.build(a), InvertedIndex.build(b)))
      === entries(whole))
  }

  test("lookup normalizes the key and sorts cnt desc, doc_id asc") {
    val idx = InvertedIndex.build(corpus(
      1L -> "w", 2L -> "w w", 3L -> "w", 4L -> "other"))
    val got = InvertedIndex.lookup(idx, "  W!  ").as[(Long, Long)].collect().toSeq
    assert(got === Seq((2L, 2L), (1L, 1L), (3L, 1L)))
  }

  test("topK keeps k postings per word with deterministic ties") {
    val idx = InvertedIndex.build(corpus(
      1L -> "w", 2L -> "w w", 3L -> "w", 4L -> "w"))
    val got = InvertedIndex.topK(idx, 2)
      .select("word", "doc_id", "rank").as[(String, Long, Int)].collect().toSet
    assert(got === Set(("w", 2L, 1), ("w", 1L, 2)))
  }

  test("invariant: sum of index counts equals total corpus token count (sf0.001)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val totalTokens = docs
      .select(org.apache.spark.sql.functions.size(
        graft.core.TextNorm.tokens($"text")).as("n"))
      .agg(org.apache.spark.sql.functions.sum("n")).as[Long].head()
    val indexSum = InvertedIndex.build(docs)
      .agg(org.apache.spark.sql.functions.sum("cnt")).as[Long].head()
    assert(indexSum === totalTokens)
  }

  test("index is invariant under input repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = entries(InvertedIndex.build(docs.repartition(1)))
    val b = entries(InvertedIndex.build(docs.repartition(7)))
    assert(a === b)
  }

  test("nested JSON export round-trips to the flat index") {
    val idx = InvertedIndex.build(corpus(1L -> "a b a", 2L -> "b"))
    val back = InvertedIndex.importNestedJson(InvertedIndex.exportNestedJson(idx))(spark)
    assert(entries(back) === entries(idx))
  }

  test("single-file export matches Python json.dumps(indent=4) byte-for-byte") {
    val dir = tempDir("graft-singlejson-")
    val path = s"$dir/final_results.json"
    val idx = InvertedIndex.build(corpus(1L -> "cat dog cat", 2L -> "dog"))
    InvertedIndex.exportSingleFileJson(idx, path)
    val got = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    // exactly json.dumps({"cat": {"1": 2}, "dog": {"1": 1, "2": 1}}, indent=4)
    val expected =
      """{
        |    "cat": {
        |        "1": 2
        |    },
        |    "dog": {
        |        "1": 1,
        |        "2": 1
        |    }
        |}""".stripMargin
    assert(got === expected)
  }

  test("single-file export of an empty index is the empty object") {
    val dir = tempDir("graft-singlejson-")
    val path = s"$dir/empty.json"
    InvertedIndex.exportSingleFileJson(
      InvertedIndex.build(corpus(1L -> "  ...  ")), path)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))) === "{}")
  }

  test("single-file export round-trips through importSingleFileJson (sf0.001)") {
    val dir = tempDir("graft-singlejson-")
    val path = s"$dir/full.json"
    val idx = InvertedIndex.build(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    InvertedIndex.exportSingleFileJson(idx, path)
    val back = InvertedIndex.importSingleFileJson(spark, path)
    assert(entries(back) === entries(idx))
  }

  test("bm25TopK ranks by Okapi score with hand-computed values; stored docLengths parity") {
    // N=3, dl = 2/4/6, avgdl = 4; query "cat fish": cat df=2, fish df=1
    val c = corpus(
      1L -> "cat dog",
      2L -> "cat cat cat fish",
      3L -> "bird bird bird bird bird bird")
    val idx = InvertedIndex.build(c)
    val got = InvertedIndex.bm25TopK(idx, "Cat, FISH!", nDocs = 3, k = 10)
      .as[(Long, Double, Int)].collect().toSeq
    // doc 3 matches nothing; doc 2 outranks doc 1 (tf + the fish term)
    assert(got.map(r => (r._1, r._3)) === Seq((2L, 1), (1L, 2)))
    // hand check (idf rounded to 6dp first, contributions rounded then
    // summed): cat idf=ln(1.6)→0.470004, fish idf=ln(8/3)→0.980829;
    // doc2 = 0.470004·3·2.2/4.2 + 0.980829·2.2/2.2 = 0.738578+0.980829
    assert(math.abs(got.head._2 - 1.719407) < 1e-4, got.head._2.toString)
    assert(math.abs(got(1)._2 - 0.590862) < 1e-4, got(1)._2.toString)
    // serving from a stored doc-length artifact is row-identical
    val lens = InvertedIndex.docLengths(idx)
    val served = InvertedIndex.bm25TopK(idx, "cat fish", nDocs = 3, k = 10,
      docLens = Some(lens)).as[(Long, Double, Int)].collect().toSeq
    assert(served === got)
    // equal scores break ties by doc_id ascending
    val tied = InvertedIndex.bm25TopK(
      InvertedIndex.build(corpus(7L -> "cat", 5L -> "cat")), "cat", 2, 5)
      .as[(Long, Double, Int)].collect().toSeq
    assert(tied.map(r => (r._1, r._3)) === Seq((5L, 1), (7L, 2)))
    // a query whose terms miss the index entirely returns no rows
    assert(InvertedIndex.bm25TopK(idx, "zebra", 3, 5).count() === 0L)
    // a query with no indexable terms is a loud error, not an empty run
    intercept[IllegalArgumentException](InvertedIndex.bm25TopK(idx, "!!!", 3, 5))
  }

  test("hybridTopK fuses BM25 and cosine pools by RRF with hand-computed scores") {
    // lexical arm, query "cat": doc 2 ("cat", dl=1) outranks doc 1
    // ("cat fish", dl=2); docs 3/4 match nothing
    val c = corpus(1L -> "cat fish", 2L -> "cat", 3L -> "dog", 4L -> "bird")
    // semantic arm, query vec 0 = [1,0]: cos order 3 (.995) > 1 (.894)
    // > 4 (.447) > 2 (0)
    val e = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(1.0, 0.5)), (2L, Array(0.0, 1.0)),
      (3L, Array(1.0, 0.1)), (4L, Array(0.5, 1.0))).toDF("vec_id", "embedding")
    val got = InvertedIndex.hybridTopK(c, e, "cat",
      e.filter($"vec_id" === 0L), k = 4, poolK = 10)
      .as[(Long, Option[Int], Option[Int], Double, Int)].collect().toSeq
    // RRF(60): doc1 = 1/62+1/62 = .032258 beats the lexical winner
    // doc2 = 1/61+1/64 = .032018; semantic-only docs keep a null
    // lexical rank and vice versa
    assert(got === Seq(
      (1L, Some(2), Some(2), 0.032258, 1),
      (2L, Some(1), Some(4), 0.032018, 2),
      (3L, None, Some(1), 0.016393, 3),
      (4L, None, Some(3), 0.015873, 4)))
    // k cuts the fused ranking, not the pools
    assert(InvertedIndex.hybridTopK(c, e, "cat",
      e.filter($"vec_id" === 0L), k = 2, poolK = 10).count() === 2L)
    // equal fused scores break ties by doc_id ascending
    val tied = InvertedIndex.hybridFromRankings(
      Seq((9L, 1)).toDF("doc_id", "bm25_rank"),
      Seq((5L, 1)).toDF("doc_id", "cos_rank"), k = 5)
      .as[(Long, Option[Int], Option[Int], Double, Int)].collect().toSeq
    assert(tied.map(r => (r._1, r._5)) === Seq((5L, 1), (9L, 2)))
    // the ANN scale path: an ivfTopK arm plugs into hybridFromRankings
    // and (at full probe, where IVF ≡ brute force) reproduces hybridTopK
    val annArm = graft.ops.Similarity.ivfTopK(
      e.filter($"vec_id" === 0L), e, k = 10, nprobe = 64)
      .select($"neighbor_id".as("doc_id"), $"rank".as("cos_rank"))
    val lexArm = InvertedIndex.bm25TopKFromDocs(c, "cat", 10)
      .select($"doc_id", $"rank".as("bm25_rank"))
    assert(InvertedIndex.hybridFromRankings(lexArm, annArm, k = 4)
      .as[(Long, Option[Int], Option[Int], Double, Int)].collect().toSeq === got)
  }

  test("buildPositional records sorted occurrence positions; phraseSearch finds adjacency") {
    val c = corpus(
      1L -> "cat dog cat dog",
      2L -> "dog cat",
      3L -> "cat cat")
    val idx = InvertedIndex.buildPositional(c)
    val got = idx.as[(String, Long, Seq[Int], Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("cat", 1L)) === ((Seq(0, 2), 2L)))
    assert(got(("dog", 1L)) === ((Seq(1, 3), 2L)))
    assert(got(("cat", 3L)) === ((Seq(0, 1), 2L)))
    // "cat dog": doc 1 matches at starts 0 and 2; doc 2 has the words
    // REVERSED (no adjacency), doc 3 lacks "dog" entirely
    val ph = InvertedIndex.phraseSearch(idx, "Cat, DOG!")
      .as[(Long, Long, Long)].collect().toSet
    assert(ph === Set((1L, 2L, 0L)))
    // a repeated-term phrase must match each slot independently:
    // "cat cat" needs consecutive cats — only doc 3 has them
    val rep = InvertedIndex.phraseSearch(idx, "cat cat")
      .as[(Long, Long, Long)].collect().toSet
    assert(rep === Set((3L, 1L, 0L)))
    // single-term phrase degenerates to occurrence counting
    val one = InvertedIndex.phraseSearch(idx, "dog")
      .as[(Long, Long, Long)].collect().toSet
    assert(one === Set((1L, 2L, 1L), (2L, 1L, 0L)))
    // absent phrase -> empty; unindexable phrase -> loud error
    assert(InvertedIndex.phraseSearch(idx, "dog zebra").count() === 0L)
    intercept[IllegalArgumentException](InvertedIndex.phraseSearch(idx, "!!!"))
    // SQL surface parity
    graft.plans.GraftExtensions.install(spark)
    c.createOrReplaceTempView("phrase_docs")
    assert(spark.sql("SELECT * FROM graft_phrase('phrase_docs', 'cat dog')")
      .as[(Long, Long, Long)].collect().toSet === ph)
  }

  test("SQL surface: graft_bm25 TVF matches the literal-N Column API, both arities") {
    graft.plans.GraftExtensions.install(spark)
    val c = corpus(
      1L -> "cat dog",
      2L -> "cat cat cat fish",
      3L -> "bird bird bird bird bird bird")
    c.createOrReplaceTempView("bm25_docs")
    val api = InvertedIndex.bm25TopK(InvertedIndex.build(c), "cat fish", nDocs = 3, k = 10)
      .as[(Long, Double, Int)].collect().toSeq
    // derived-N variant == literal-N variant == the TVF
    assert(InvertedIndex.bm25TopKFromDocs(c, "cat fish", k = 10)
      .as[(Long, Double, Int)].collect().toSeq === api)
    assert(spark.sql("SELECT * FROM graft_bm25('bm25_docs', 'cat fish', 10)")
      .as[(Long, Double, Int)].collect().toSeq === api)
    // default arity: k=20 (same rows here — only 2 docs match)
    assert(spark.sql("SELECT * FROM graft_bm25('bm25_docs', 'cat fish')")
      .as[(Long, Double, Int)].collect().toSeq === api)
    // a non-literal query argument is rejected loudly
    val err = intercept[Exception](
      spark.sql("SELECT * FROM graft_bm25('bm25_docs', doc_id)").collect())
    assert(err.getMessage.contains("graft_bm25") ||
      err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
  }

  test("SQL surface: graft_hybrid TVF matches the Column API, both arities, and is lazy") {
    graft.plans.GraftExtensions.install(spark)
    val c = corpus(1L -> "cat fish", 2L -> "cat", 3L -> "dog", 4L -> "bird")
    val e = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(1.0, 0.5)), (2L, Array(0.0, 1.0)),
      (3L, Array(1.0, 0.1)), (4L, Array(0.5, 1.0))).toDF("vec_id", "embedding")
    c.createOrReplaceTempView("hyb_docs")
    e.createOrReplaceTempView("hyb_emb")
    val api = InvertedIndex.hybridTopK(c, e, "cat",
      e.filter($"vec_id" === 0L), k = 4, poolK = 10)
      .as[(Long, Option[Int], Option[Int], Double, Int)].collect().toSeq
    assert(spark.sql("SELECT * FROM graft_hybrid('hyb_docs', 'hyb_emb', 'cat', 0, 4, 10)")
      .as[(Long, Option[Int], Option[Int], Double, Int)].collect().toSeq === api)
    // default arity runs (k=20, poolK=50 — same 4 docs here)
    assert(spark.sql("SELECT * FROM graft_hybrid('hyb_docs', 'hyb_emb', 'cat', 0)")
      .count() === 4L)
    // fully lazy: EXPLAIN must run no job (compare max job id — counts
    // shrink past the tracker's retention cap in long suites)
    def maxJobId: Int = spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val before = maxJobId
    spark.sql("EXPLAIN SELECT * FROM graft_hybrid('hyb_docs', 'hyb_emb', 'cat', 0)").collect()
    assert(maxJobId === before, "EXPLAIN of the TVF must not run a Spark job")
  }

  test("booleanSearch: AND intersects postings, OR unions, terms normalize and dedupe") {
    val idx = InvertedIndex.build(corpus(
      1L -> "cat dog cat",    // both terms, cat twice
      2L -> "cat bird",       // cat only
      3L -> "dog dog dog",    // dog only
      4L -> "fish"))          // neither
    val and = InvertedIndex.booleanSearch(idx, Seq("cat", "dog"))
      .as[(Long, Int, Long)].collect().toSeq
    assert(and === Seq((1L, 2, 3L)))             // only doc 1 has both; 2+1 occurrences
    val or = InvertedIndex.booleanSearch(idx, Seq("cat", "dog"), requireAll = false)
      .as[(Long, Int, Long)].collect().toSeq
    assert(or === Seq((1L, 2, 3L), (3L, 1, 3L), (2L, 1, 1L)))  // cnt desc, doc_id tiebreak
    // "Cat." normalizes to cat; the duplicate must not make AND impossible
    assert(InvertedIndex.booleanSearch(idx, Seq("Cat.", "cat", "dog"))
      .as[(Long, Int, Long)].collect().toSeq === and)
  }

  test("snippets: best window maximizes distinct terms then hits, ties to the earliest start; non-matching docs absent") {
    val docs = Seq(
      // both terms adjacent mid-doc: the window covering both wins over
      // the earlier single-term start
      (1L, "filler words here cat and dog together at last plus padding"),
      // one term only, twice: window anchored at ITS first hit covers both
      (2L, "cat starts this doc and a cat ends the window span"),
      // terms 20 tokens apart: no 5-token window covers both — the
      // winner is the earliest single-term window
      (3L, "cat " + Seq.fill(20)("x").mkString(" ") + " dog"),
      (4L, "no query terms at all")).toDF("doc_id", "text")
    val got = InvertedIndex.snippets(
        InvertedIndex.buildPositional(docs), docs, "Cat, DOG!", window = 5)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "termless docs never emit a snippet")
    // doc 1: tokens [filler words here cat and dog ...] — best start is
    // cat at pos 3 (2 distinct terms, 2 hits); snippet = 5 tokens from it
    assert(got(1L) === ((1L, 3L, 2L, 2L, "cat and dog together at")))
    // doc 2: cat at 0 and 6 — no 5-window covers both; earliest start
    // wins the (1 term, 1 hit) tie
    assert(got(2L)._2 === 0L && got(2L)._3 === 1L && got(2L)._4 === 1L)
    assert(got(2L)._5 === "cat starts this doc and")
    // doc 3: 1-term windows only; earliest (cat at 0) wins over dog
    assert(got(3L)._2 === 0L && got(3L)._3 === 1L)
    // the short-at-document-end slice: a window anchored on the LAST
    // token emits just that token
    val doc3 = docs.filter($"doc_id" === 3L)
    val tail = InvertedIndex.snippets(
        InvertedIndex.buildPositional(doc3), doc3, "dog", window = 5)
      .as[(Long, Long, Long, Long, String)].head()
    assert(tail._2 === 21L && tail._5 === "dog")
  }

  test("snippets hot-term guard: normal docs identical under the cap; a hot doc's pairing is bounded to the capped prefix") {
    // the adversarial shape: one stop-word-ish term repeated many times
    // in one long document — uncapped, its window scoring is H² in its
    // own hits (10⁴ hits → 10⁸ in-doc pairs at web scale)
    val hot = (1L, ("dog " * 50).trim + " cat dog")
    val normal = (2L, "filler cat and dog here")
    val docs = Seq(hot, normal).toDF("doc_id", "text")
    val pos = InvertedIndex.buildPositional(docs)
    // a generous cap leaves every doc under it: output identical to a
    // cap high enough to be a no-op (the default-path contract)
    val unc = InvertedIndex.snippets(pos, docs, "cat dog", window = 5,
      maxHitsPerTerm = 1000).as[(Long, Long, Long, Long, String)].collect().toSet
    val gen = InvertedIndex.snippets(pos, docs, "cat dog", window = 5,
      maxHitsPerTerm = 60).as[(Long, Long, Long, Long, String)].collect().toSet
    assert(gen === unc, "a cap above every (doc, term)'s hit count must be a no-op")
    // a tight cap bounds the hot doc to its FIRST 3 dog hits: the best
    // window is now among positions 0..2 (3 dog hits, 1 term) — the
    // mid-doc cat+dog window at 50 is out of the candidate set; the
    // normal doc (under the cap) is untouched
    val capped = InvertedIndex.snippets(pos, docs, "cat dog", window = 5,
        maxHitsPerTerm = 3).as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(capped(2L) === unc.find(_._1 == 2L).get,
      "docs under the cap must be byte-identical")
    assert(capped(1L)._2 === 0L && capped(1L)._3 === 1L && capped(1L)._4 === 3L,
      s"the hot doc must compete over its capped prefix only: ${capped(1L)}")
    // the exploded hit table itself is bounded: cap × terms rows per doc
    import org.apache.spark.sql.functions.{explode, slice}
    val hits = pos.filter($"word".isin("cat", "dog"))
      .select($"doc_id", explode(slice($"positions", 1, 3)).as("pos"))
    assert(hits.filter($"doc_id" === 1L).count() <= 6L)
  }

  test("searchPage: BM25 ranking + per-doc best snippet compose; rows equal the standalone faces, k-bounded") {
    val docs = Seq(
      (1L, "cat and dog together here with cat again nearby today"),
      (2L, "only a cat in this one and nothing else at all"),
      (3L, "dog dog dog dog dog repeated for emphasis and more dog"),
      (4L, "no terms whatsoever in this filler document right here")).toDF("doc_id", "text")
    val page = InvertedIndex.searchPage(docs, "cat dog", k = 2, window = 4)
      .as[(Int, Long, Double, Long, Long, Long, String)].collect()
    assert(page.length === 2, "the page is k-bounded")
    assert(page.map(_._1).sorted.toSeq === Seq(1, 2))
    // parity with the standalone faces on the same query
    val ranked = InvertedIndex.bm25TopKFromDocs(docs, "cat dog", 2)
      .as[(Long, Double, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val snip = InvertedIndex.snippets(
        InvertedIndex.buildPositional(docs), docs, "cat dog", window = 4)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    page.foreach { r =>
      assert(ranked(r._2) === ((r._3, r._1)), s"rank/score parity for doc ${r._2}")
      assert(snip(r._2) === ((r._2, r._4, r._5, r._6, r._7)),
        s"snippet parity for doc ${r._2}")
    }
    // SQL surface parity, both arities
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    docs.createOrReplaceTempView("spdocs")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_search_page('spdocs', 'cat dog', 2, 4)")
      .as[(Int, Long, Double, Long, Long, Long, String)].collect().toSet === page.toSet)
    assert(SparkSpec.spark.sql("SELECT * FROM graft_snippets('spdocs', 'cat dog', 4)")
      .as[(Long, Long, Long, Long, String)].collect().toSet === snip.values.toSet)
  }
}
