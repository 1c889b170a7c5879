package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import SparkSpec.spark.implicits._

class DedupSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("exact dedup groups by normalized text, canonical = min doc_id") {
    val d = docs(1L -> "Hello  World", 2L -> "hello world!", 3L -> "different")
    val got = Dedup.exact(d)
      .select("doc_id", "canonical_id", "is_dup").as[(Long, Long, Boolean)]
      .collect().toSet
    assert(got === Set((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
  }

  test("shingles: w-grams for long docs, single joined shingle for short docs") {
    val got = docs(1L -> "a b c d", 2L -> "a b")
      .select($"doc_id", Dedup.shingleCol($"text", 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("a b c", "b c d"))
    assert(got(2L) === Seq("a b"))
  }

  test("WinnowFps == the window-min formulation, degenerate docs included") {
    val rnd = new scala.util.Random(17)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "the", "x9")
    val texts = ((1 to 15).map { _ =>
      Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } ++ Seq("", "one two", "a b c d")).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val d = texts.toDF("doc_id", "text")
    for ((w, k) <- Seq((5, 1), (4, 3), (2, 2))) {
      val native = graft.ops.TextAnalysis.fingerprints(d, w, k)
        .as[(Long, String)].collect().toSet
      // reference: the pre-round-12 Window chain
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(-(w - 1), Window.currentRow)
      val ref = d.select(col("doc_id"), graft.core.TextNorm.tokens(col("text")).as("ts"))
        .where(size(col("ts")) >= k)
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(1), size(col("ts")) - (k - 1)),
          i => concat_ws(" ", slice(col("ts"), i, lit(k))))).as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos"), md5(col("g")).as("h"))
        .withColumn("fp", min(col("h")).over(win))
        .filter(col("pos") >= w - 1)
        .select(col("doc_id"), col("fp")).distinct()
        .as[(Long, String)].collect().toSet
      assert(native === ref, s"w=$w k=$k")
    }
    val plan = graft.ops.TextAnalysis.fingerprints(d, 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("MinHashSigs == the aggregate min(md5) formulation, short and empty docs included") {
    val rnd = new scala.util.Random(11)
    val vocab = Seq("alpha", "beta", "gamma7", "delta", "kanji", "mix42", "x1", "the")
    val texts = ((1 to 15).map { _ =>
      Seq.fill(rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } ++ Seq("", "one", "two tokens", null, null)).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val d = texts.toDF("doc_id", "text")
    for ((w, k) <- Seq((3, 8), (2, 4))) {
      val native = Dedup.minhashSignaturesWide(d, w, k).collect()
        .map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
      // reference: the pre-round-12 explode + groupBy aggregate chain.
      // Null text is excluded on both sides (the contract the null-text
      // test below pins); without the explicit filter the reference
      // chain would hand null docs a [""] shingle via concat_ws.
      val aggs = (0 until k).map(s =>
        min(md5(concat(lit(s"$s:"), col("shingle")))).as(s"sig$s"))
      val ref = d.where(col("text").isNotNull)
        .select(col("doc_id"), Dedup.shingleCol(col("text"), w).as("shl"))
        .select(col("doc_id"), explode(col("shl")).as("shingle"))
        .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getLong(0) -> (1 to k).map(r.getString)).toMap
      assert(native === ref, s"w=$w k=$k")
    }
    // the signature plan is shuffle-free: no exchange anywhere
    val plan = Dedup.minhashSignaturesWide(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("null-text docs are excluded from minhash signatures and candidate pairs") {
    // a JSONL line missing `text` parses to null and can reach the dedup
    // family when no quality gate runs; the aggregate formulation dropped
    // such docs (no shingle rows → no group), and the native path must
    // too — otherwise every null doc shares the identical all-null-sig
    // band key md5('') and they near-dup each other unverified
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> text, 2L -> text, 3L -> null, 4L -> null, 5L -> null)
    assert(Dedup.minhashSignaturesWide(d).select("doc_id")
      .as[Long].collect().toSet === Set(1L, 2L))
    // both pairing paths: plain, and the size-ratio path (wideWithSize)
    val plain = Dedup.minhashCandidatePairs(d).as[(Long, Long)].collect().toSet
    val sized = Dedup.minhashCandidatePairs(d, sizeRatioFloor = 0.5)
      .as[(Long, Long)].collect().toSet
    assert(plain === Set((1L, 2L)))
    assert(sized === Set((1L, 2L)))
  }

  test("minhash long form matches wide form") {
    val d = docs(1L -> "a b c d e f", 2L -> "b c d e f g")
    val wide = Dedup.minhashSignaturesWide(d, w = 3, k = 4)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(i => r.getString(i))).toMap
    val long = Dedup.minhashSignatures(d, w = 3, k = 4)
      .as[(Long, Int, String)].collect()
    long.foreach { case (doc, seed, sig) => assert(wide(doc)(seed) === sig) }
    assert(long.length === 8)
  }

  test("identical docs share all bands; near-identical docs are candidate pairs") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> text, 2L -> text, 3L -> "completely unrelated words here nothing shared at all")
    val pairs = Dedup.minhashCandidatePairs(d).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard: identical docs score 1.0, disjoint docs absent") {
    val text = "one two three four five six seven"
    val d = docs(1L -> text, 2L -> text, 3L -> "eight nine ten eleven twelve thirteen")
    val got = Dedup.ngramJaccardPairs(d, minJaccard = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("SimHashSig == the per-bit aggregate formulation; token-less docs excluded") {
    val rnd = new scala.util.Random(13)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps7", "zeta", "the", "x")
    val texts = ((1 to 15).map { _ =>
      Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } ++ Seq("", "...", "one")).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val d = texts.toDF("doc_id", "text")
    for (bits <- Seq(16, 64)) {
      val native = Dedup.simhash(d, bits).as[(Long, Long)].collect().toMap
      // reference: the pre-round-12 explode + per-bit sum chain
      val tok = d.select(col("doc_id"), graft.core.TextNorm.tokens(col("text")).as("ts"))
        .select(col("doc_id"), explode(col("ts")).as("word"))
        .select(col("doc_id"), md5(col("word")).as("h"))
        .select(col("doc_id") +: (0 until bits / 4).map { dg =>
          conv(substring(col("h"), dg + 1, 1), 16, 10).cast("int").as(s"d$dg")
        }: _*)
      def bitOf(j: Int) =
        (col(s"d${j / 4}").bitwiseAND(lit(1 << (3 - j % 4))) > 0).cast("int")
      val weights = (0 until bits).map(j => sum(bitOf(j) * 2 - 1).as(s"w$j"))
      val sig = (0 until bits).map(j =>
        when(col(s"w$j") > 0, lit(1L << (bits - 1 - j))).otherwise(0L)).reduce(_ + _)
      val ref = tok.groupBy("doc_id").agg(weights.head, weights.tail: _*)
        .select(col("doc_id"), sig.as("simhash"))
        .as[(Long, Long)].collect().toMap
      assert(native === ref, s"bits=$bits")
    }
    // shuffle-free signature plan
    val plan = Dedup.simhash(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("simhash pigeonhole: blocked pairs == brute-force pairs within maxHamming") {
    // 20 near-ish docs: blocking must not lose any qualifying pair
    val d = docs((1L to 20L).map(i =>
      i -> s"shared core words alpha beta gamma delta plus unique$i extra${i % 3}"): _*)
    val sig = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sig.keys; b <- sig.keys if a < b
      h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= 3
    } yield (a, b, h)).toSet
    val blocked = Dedup.simhashPairs(d)
      .as[(Long, Long, Int)].collect().map { case (a, b, h) => (a, b, h.toLong) }.toSet
    assert(blocked === brute.map { case (a, b, h) => (a, b, h.toLong) })
  }

  test("simhashPairs rejects a bits/segments mismatch") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs(1L -> "x"), bits = 16, maxHamming = 4) // 5 segs !| 16
    }
  }

  test("minhashBands rejects a k/bands mismatch") {
    intercept[IllegalArgumentException] {
      Dedup.minhashBands(docs(1L -> "x"), k = 8, bands = 3) // sig6/sig7 would drop
    }
  }

  test("minhash hybrid: join path (cap=1) emits the same pairs as the in-group path") {
    // dup-dense corpus: 12 identical docs all land in ONE band bucket —
    // the shape the bucket cap exists for — plus a near-dup pair and an
    // unrelated doc
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      ((1L to 12L).map(i => i -> text) ++ Seq(
        20L -> "some other shared sentence with mild variation here one",
        21L -> "some other shared sentence with mild variation here two",
        30L -> "completely unrelated words nothing shared at all")): _*)
    val inGroup = Dedup.minhashCandidatePairs(d, bucketCap = 64)
      .as[(Long, Long)].collect().toSet
    val joined = Dedup.minhashCandidatePairs(d, bucketCap = 1)
      .as[(Long, Long)].collect().toSet
    assert(joined === inGroup)
    // the dense cluster contributes all C(12,2) = 66 pairs
    assert(inGroup.count(p => p._1 <= 12 && p._2 <= 12) === 66)
  }

  test("minhash hybrid: large buckets route through the join, not the lambda") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs((1L to 8L).map(i => i -> text): _*)
    val df = Dedup.minhashCandidatePairs(d, bucketCap = 2)
    val plan = df.queryExecution.executedPlan.toString
    // join branch present (bucket of 8 > cap of 2)
    assert(plan.contains("Join"), s"expected a join branch in:\n$plan")
    assert(df.as[(Long, Long)].collect().toSet.size === 28) // C(8,2)
  }

  test("length-ratio prefilter prunes size-mismatched band collisions, keeps true near-dups") {
    // Engineer a guaranteed band collision between docs of wildly
    // different shingle-set sizes: with k=2/bands=2 each band key is a
    // single signature, so a tiny doc whose ONLY shingle is the big
    // doc's seed-0 minimum shares band 0 by construction.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = (1 to 20).map(i => s"tok$i")
    val shingles = toks.sliding(3).map(_.mkString(" ")).toSeq
    val minSh = shingles.minBy(sh => md5hex("0:" + sh))
    val d = docs(1L -> toks.mkString(" "), 2L -> toks.mkString(" "), 3L -> minSh)
    val noFloor = Dedup.minhashCandidatePairs(d, w = 3, k = 2, bands = 2)
      .as[(Long, Long)].collect().toSet
    assert(noFloor === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // floor 0.5: the 1-vs-18 shingle-set pairs can have J <= 1/18 and
    // are cut; the true dup pair (ratio 1) survives
    val floored = Dedup.minhashCandidatePairs(d, w = 3, k = 2, bands = 2, sizeRatioFloor = 0.5)
      .as[(Long, Long)].collect().toSet
    assert(floored === Set((1L, 2L)))
    // the over-cap streaming-join path applies the same predicate
    val flooredJoin = Dedup.minhashCandidatePairs(d, w = 3, k = 2, bands = 2,
      bucketCap = 1, sizeRatioFloor = 0.5).as[(Long, Long)].collect().toSet
    assert(flooredJoin === floored)
    // parity on a true near-dup corpus: the floor changes nothing
    val dup = docs(
      10L -> "the quick brown fox jumps over the lazy dog again and again",
      11L -> "the quick brown fox jumps over the lazy dog again and again",
      12L -> "completely unrelated words about maritime navigation charts here")
    val losersOff = Dedup.nearDupLosers(dup).as[Long].collect().toSet
    val losersOn = Dedup.nearDupLosers(dup, sizeRatioFloor = 0.84).as[Long].collect().toSet
    assert(losersOn === losersOff)
  }

  test("minhashEstimatedPairs: identical docs estimate 1.0, estimator stays in [0,1]") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> text, 2L -> text,
      20L -> "some other shared sentence with mild variation here one",
      21L -> "some other shared sentence with mild variation here two")
    val got = Dedup.minhashEstimatedPairs(d)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) === 1.0) // all k signatures match
    assert(got.values.forall(e => e >= 0.0 && e <= 1.0))
  }

  test("clusters: transitive pairs collapse to the component's min doc_id") {
    val pairs = Seq((2L, 5L), (5L, 9L), (9L, 11L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    // chain 2-5-9-11 (diameter 3 — needs >1 propagation round) plus an
    // isolated pair
    assert(got === Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 11L -> 2L, 20L -> 20L, 21L -> 20L))
  }

  test("clusters: pointer jumping converges a long chain within the logarithmic round budget") {
    // a 41-node path (diameter 40): pure neighbor-min propagation
    // needs 40 rounds — over maxIterations' default cap — while the
    // hash-to-min jump halves label paths per round, so the component
    // min reaches every node well inside ~2·log2(40) ≈ 11 rounds.
    // Labels at convergence are the component min, same as ever. The
    // driver-side path is off (its cap at 0 pairs), so this tests the
    // round loop, which a 40-pair table would otherwise never reach.
    val chain = (1L until 41L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.components(chain, maxIterations = 12, localPairs = 0).as[(Long, Long)].collect().toMap
    assert(got.size === 41 && got.values.forall(_ === 1L),
      "every chain node must carry the component min within the log-round budget")
  }

  test("clusters of a small pair table: one job after the pair materialization, a job-free result, no cache entry left") {
    import graft.core.Materialize
    val pairs = Seq((2L, 5L), (5L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
    val want = Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 20L -> 20L, 21L -> 20L)
    val (_, matJobs, matTasks) = jobsAndTasks(Materialize(pairs.select("doc_a", "doc_b")))
    val (cl, jobs, tasks) = jobsAndTasks(Dedup.clusters(pairs))
    assert(jobs === matJobs + 1 && tasks === matTasks + 1,
      s"clusters ran $jobs jobs / $tasks tasks; materializing the pairs alone runs $matJobs / $matTasks")
    val (rows, readJobs, _) = jobsAndTasks(cl.as[(Long, Long)].collect())
    assert(readJobs === 0 && rows.toMap === want && rows.length === want.size)
    assert(cl.schema === Dedup.components(pairs, 20, 0).schema)
    // Persist: the lazily cached pairs are computed by the one bounded
    // collect, then released; nothing of this call stays cached
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    val (persisted, persistJobs, _) =
      jobsAndTasks(Materialize.using(Materialize.Persist)(Dedup.clusters(pairs)))
    assert(persistJobs === 1)
    assert(cache.isEmpty, "a clusters cache entry outlived the call")
    assert(persisted.as[(Long, Long)].collect().toMap === want)
  }

  test("clusters' distributed path under Persist: the caller's release frees every cache entry of the call") {
    import graft.core.Materialize
    val pairs = Seq((2L, 5L), (5L, 9L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cache = spark.sharedState.cacheManager
    cache.clearCache()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Materialize.using(Materialize.Persist) {
      val labels = Dedup.components(pairs, 20, localPairs = 0)
      assert(labels.as[(Long, Long)].collect().toMap ===
        Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 20L -> 20L, 21L -> 20L))
      Materialize.release(labels)
    }
    assert(cache.isEmpty, "a hash-to-min round outlived the release of the labels")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty,
      "a persistent RDD outlived the release of the labels")
  }

  test("clusters picks its path by pair count against LocalPairs, whatever the broadcast setting") {
    import graft.core.Materialize
    def withThreshold[T](v: String)(f: => T): T = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // (2i, 2i+1) for i < n: n two-doc clusters labelled by the even id
    def twins(n: Int): DataFrame = spark.range(n).select(
      (col("id") * 2 + 1).as("doc_a"), (col("id") * 2).as("doc_b"))
    val (_, matJobs, _) = jobsAndTasks(Materialize(twins(3)))
    def jobsOf(cl: => DataFrame, n: Int): Int = {
      val (labels, jobs, _) = jobsAndTasks(cl)
      assert(labels.count() === 2L * n &&
        labels.filter(col("cluster_id") =!= col("doc_id") - col("doc_id") % 2).isEmpty)
      jobs
    }
    // broadcast off: small tables still take the driver-side path
    assert(withThreshold("-1")(jobsOf(Dedup.clusters(twins(3)), 3)) === matJobs + 1)
    // a 1 GB broadcast bound does not stretch the cap: LocalPairs pairs
    // are one sizing job, one pair more runs the hash-to-min rounds
    withThreshold((1L << 30).toString) {
      val n = Dedup.LocalPairs
      assert(jobsOf(Dedup.clusters(twins(n)), n) === matJobs + 1)
      assert(jobsOf(Dedup.clusters(twins(n + 1)), n + 1) > matJobs + 1)
    }
    // the cap itself is the boundary
    assert(jobsOf(Dedup.components(twins(3), 20, 3), 3) === matJobs + 1)
    assert(jobsOf(Dedup.components(twins(3), 20, 2), 3) > matJobs + 1)
  }

  test("clusters of the exact-dup corpus match exact()'s canonical ids") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(3L -> text, 7L -> text, 9L -> text,
      30L -> "completely unrelated words nothing shared at all")
    val got = Dedup.clusters(Dedup.minhashCandidatePairs(d))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(3L -> 3L, 7L -> 3L, 9L -> 3L)) // 30 is a singleton: absent
  }

  test("dropNearDuplicates keeps one canonical doc per cluster plus singletons") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(3L -> text, 7L -> text, 9L -> text,
      30L -> "completely unrelated words nothing shared at all")
    val kept = Dedup.dropNearDuplicates(d).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(3L, 30L)) // cluster canonical + untouched singleton
  }

  test("dropDuplicatesAgainst: increment docs matching a reference band are dropped") {
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val ref = docs(2L -> text, 4L -> "some reference content nothing like the others")
    val inc = docs(
      1L -> text,                                               // dup of ref doc 2 → dropped
      3L -> "a completely fresh document with novel words only", // survives
      5L -> text)                                               // dup of ref doc 2 → dropped
    val kept = Dedup.dropDuplicatesAgainst(inc, Dedup.minhashBands(ref))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(3L))
    // within-increment dups are deliberately NOT dropped (append-only
    // history contract): two fresh near-identical increment docs survive
    val inc2 = docs(7L -> "novel words here abc def ghi jkl",
      9L -> "novel words here abc def ghi jkl")
    val kept2 = Dedup.dropDuplicatesAgainst(inc2, Dedup.minhashBands(ref))
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 === Set(7L, 9L))
  }

  test("chunkDedup keeps only the first corpus-wide occurrence of each chunk") {
    // doc 1: chunks "a b","c d"; doc 2 repeats "a b" (dropped) + fresh "e f";
    // doc 3 repeats BOTH its chunks (all dropped); doc 4 has no tokens
    val d = docs(1L -> "a b c d", 2L -> "a b e f", 3L -> "c d e f", 4L -> "!!!")
    val got = Dedup.chunkDedup(d, w = 2)
      .select("doc_id", "n_chunks", "n_kept").as[(Long, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((2, 2)), 2L -> ((2, 1)), 3L -> ((2, 0)), 4L -> ((0, 0))))
    // kept text of doc 2 is just "e f" (chunk order preserved)
    val hashes = Dedup.chunkDedup(d, w = 2)
      .select("doc_id", "kept_hash").as[(Long, String)].collect().toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hashes(2L) === m("e f"))
    assert(hashes(3L) === m(""))
    assert(hashes(1L) === m("a b c d"))
  }

  test("boilerplateChunks removes over-threshold chunks everywhere, first occurrence included") {
    // "aa bb" appears in docs 1,2,3 (df=3 >= minDocs) -> removed from ALL
    // of them (chunkDedup would keep doc 1's copy); "cc dd" df=2 -> kept;
    // doc 4 is tokenless; doc 5 has a unique tail chunk after boilerplate
    val d = docs(
      1L -> "aa bb cc dd",
      2L -> "aa bb ee ff",
      3L -> "aa bb gg hh",
      4L -> "!!!",
      5L -> "cc dd aa bb")
    val got = Dedup.boilerplateChunks(d, w = 2, minDocs = 3)
      .select("doc_id", "n_chunks", "n_kept", "kept_hash")
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) === ((2, 1, m("cc dd"))))
    assert(got(2L) === ((2, 1, m("ee ff"))))
    assert(got(3L) === ((2, 1, m("gg hh"))))
    assert(got(4L) === ((0, 0, m(""))))
    // chunk order preserved: doc 5 keeps its LEADING "cc dd"
    assert(got(5L) === ((2, 1, m("cc dd"))))
    // contrast with chunkDedup: the first "aa bb" occurrence survives there
    val firstWins = Dedup.chunkDedup(d, w = 2)
      .select("doc_id", "n_kept").as[(Long, Int)].collect().toMap
    assert(firstWins(1L) === 2)
    intercept[IllegalArgumentException](Dedup.boilerplateChunks(d, w = 0))
    intercept[IllegalArgumentException](Dedup.boilerplateChunks(d, minDocs = 1))
  }

  test("decontaminate drops exactly the docs sharing a shingle with the eval set") {
    val train = docs(
      1L -> "alpha beta gamma delta epsilon",   // shares "beta gamma delta" w/ eval
      2L -> "one two three four five",
      3L -> "unrelated totally different words here")
    val eval = docs(100L -> "xx beta gamma delta yy")
    val kept = Dedup.decontaminate(train, eval).select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
  }

  test("contaminationReport attributes each leak to its eval doc with distinct-shingle counts") {
    val train = docs(
      1L -> "alpha beta gamma delta epsilon",     // 2 shingles shared with 100
      2L -> "one two three four",                 // clean
      3L -> "the secret answer sequence here")    // 2 shingles shared with 200
    val eval = docs(
      100L -> "alpha beta gamma delta",
      200L -> "the secret answer sequence")
    val rep = Dedup.contaminationReport(train, eval)
      .as[(Long, Long, Long)].collect().toSet
    assert(rep === Set((1L, 100L, 2L), (3L, 200L, 2L)))
    // the report's distinct train docs ARE the contaminatedIds drop set
    assert(rep.map(_._1) ===
      Dedup.contaminatedIds(train, eval).as[Long].collect().toSet)
    // repeated occurrences of one shingle still count once (both sides
    // are per-doc-distinct streams)
    val rep2 = Dedup.contaminationReport(
      docs(7L -> "alpha beta gamma zz alpha beta gamma"),
      docs(300L -> "alpha beta gamma")).as[(Long, Long, Long)].collect().toSet
    assert(rep2 === Set((7L, 300L, 1L)))
  }

  test("decontaminateBloom ≡ decontaminate at any fpp; plan carries the map-side bloom probe") {
    val train = docs((1L to 40L).map { i =>
      if (i % 10 == 0) i -> s"contaminated shared benchmark answer fragment number ${i / 10}"
      else i -> s"clean training document $i with words alpha$i beta${i % 7} gamma${i % 5}"
    }: _*)
    val eval = docs(
      100L -> "contaminated shared benchmark answer fragment number 1",
      101L -> "contaminated shared benchmark answer fragment number 2 3 4")
    val exact = Dedup.decontaminate(train, eval).select("doc_id").as[Long].collect().toSet
    // a sloppy filter (fpp=0.5) floods the confirm join with false
    // positives; the result must not change — no false negatives, and
    // the exact semi-join kills every false positive
    for (fpp <- Seq(0.5, 0.01)) {
      val viaBloom = Dedup.decontaminateBloom(train, eval, fpp = fpp)
        .select("doc_id").as[Long].collect().toSet
      assert(viaBloom === exact, s"fpp=$fpp")
    }
    assert(exact === (1L to 40L).filterNot(_ % 10 == 0).toSet)
    // the prefilter is a codegen'd might_contain probe on the train scan,
    // BEFORE any exchange — i.e. it runs map-side
    val plan = Dedup.decontaminateBloom(train, eval)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
  }

  test("materialization strategies agree and each executes the signature pipeline once") {
    import graft.core.Materialize
    val d = docs((1L to 10L).map(i =>
      i -> s"shared core words alpha beta gamma delta plus unique$i extra${i % 3}"): _*)
    val viaCheckpoint = Dedup.simhashPairs(d)
    val viaPersist = Materialize.using(Materialize.Persist)(Dedup.simhashPairs(d))
    try {
      // localCheckpoint: both self-join sides scan the checkpointed RDD;
      // the md5/bit-weight aggregation pipeline is gone from the plan
      val cpPlan = viaCheckpoint.queryExecution.executedPlan.toString
      assert(cpPlan.contains("Scan ExistingRDD"), cpPlan)
      assert(!cpPlan.contains("md5"), cpPlan)
      val persistRows = viaPersist.as[(Long, Long, Int)].collect().toSet
      // persist: the cache manager substitutes the cached relation into
      // BOTH join sides (canonicalized-plan match) — each side is an
      // InMemoryTableScan, so the signature pipeline computes once and
      // only populates the cache (its plan text still prints inside the
      // InMemoryRelation node)
      val pPlan = viaPersist.queryExecution.executedPlan.toString
      assert("InMemoryTableScan".r.findAllMatchIn(pPlan).size >= 2, pPlan)
      assert(persistRows === viaCheckpoint.as[(Long, Long, Int)].collect().toSet)
    } finally {
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("SQL surface: graft_minhash_pairs / graft_decontaminate TVFs match the Column API") {
    graft.plans.GraftExtensions.install(spark)
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(1L -> text, 2L -> text,
      3L -> "completely unrelated words here nothing shared at all",
      50L -> "held out evaluation prompt with its own distinct phrasing")
    d.createOrReplaceTempView("tvf_docs")
    d.filter($"doc_id" < 50).createOrReplaceTempView("tvf_train")
    d.filter($"doc_id" === 50).createOrReplaceTempView("tvf_eval")
    val sqlPairs = spark.sql("SELECT * FROM graft_minhash_pairs('tvf_docs')")
      .as[(Long, Long)].collect().toSet
    assert(sqlPairs === Dedup.minhashCandidatePairs(d)
      .as[(Long, Long)].collect().toSet)
    assert(sqlPairs.contains((1L, 2L)))
    // explicit-knob arity routes through the same implementation
    assert(spark.sql("SELECT * FROM graft_minhash_pairs('tvf_docs', 3, 8, 2)")
      .as[(Long, Long)].collect().toSet === sqlPairs)
    val sqlSurvivors = spark.sql(
      "SELECT doc_id FROM graft_decontaminate('tvf_train', 'tvf_eval')")
      .as[Long].collect().toSet
    assert(sqlSurvivors === Dedup.decontaminate(
      d.filter($"doc_id" < 50), d.filter($"doc_id" === 50))
      .select("doc_id").as[Long].collect().toSet)
    assert(sqlSurvivors === Set(1L, 2L, 3L))
    // non-literal arguments fail loudly, not silently
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_minhash_pairs(doc_id)").collect()
    }
    assert(err.getMessage.contains("string literal") ||
      err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
  }

  test("SQL surface: graft_boilerplate TVF matches the Column API, both arities") {
    graft.plans.GraftExtensions.install(spark)
    val d = docs(
      1L -> "aa bb cc dd", 2L -> "aa bb ee ff", 3L -> "aa bb gg hh",
      4L -> "cc dd aa bb", 5L -> "totally separate content here")
    d.createOrReplaceTempView("bp_docs")
    val api = Dedup.boilerplateChunks(d, w = 2, minDocs = 3)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(spark.sql("SELECT * FROM graft_boilerplate('bp_docs', 2, 3)")
      .as[(Long, Int, Int, String)].collect().toSet === api)
    // default arity = (w=3, minDocs=5)
    assert(spark.sql("SELECT * FROM graft_boilerplate('bp_docs')")
      .as[(Long, Int, Int, String)].collect().toSet ===
      Dedup.boilerplateChunks(d).as[(Long, Int, Int, String)].collect().toSet)
  }

  test("paragraphDedup: blank-line units, normalized matching, first occurrence wins") {
    val shared = "This paragraph is syndicated boilerplate that appears everywhere."
    val reWrapped = "this  paragraph is\tsyndicated BOILERPLATE, that appears everywhere" // same tokens
    val d = docs(
      1L -> s"Unique opening for doc one.\n\n$shared\n\nUnique closing one.",
      2L -> s"$shared\n \nDifferent middle for doc two.",   // blank line with a space
      3L -> s"Totally fresh content here.\n\n$reWrapped",   // reformatted copy
      4L -> "Single paragraph only.",
      5L -> "")
    val got = Dedup.paragraphDedup(d)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def h(paras: String*): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(paras.mkString("\n\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 holds the canonical copy: everything kept
    assert(got(1L) === ((3, 3, h("Unique opening for doc one.", shared, "Unique closing one."))))
    // doc 2 loses the exact copy (doc 1 is canonical)
    assert(got(2L) === ((2, 1, h("Different middle for doc two."))))
    // doc 3 loses the REFORMATTED copy — normalized-token matching
    assert(got(3L) === ((2, 1, h("Totally fresh content here."))))
    assert(got(4L) === ((1, 1, h("Single paragraph only."))))
    assert(got(5L) === ((0, 0, h())))
    // within-doc repeats also collapse to the first occurrence
    val within = Dedup.paragraphDedup(docs(9L -> s"$shared\n\nmiddle bit\n\n$shared"))
      .as[(Long, Int, Int, String)].head()
    assert(within === ((9L, 3, 2, h(shared, "middle bit"))))
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("pd_docs")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_para_dedup('pd_docs')")
      .as[(Long, Int, Int, String)].collect().toSet ===
      got.map { case (id, (a, b, c)) => (id, a, b, c) }.toSet)
  }

  test("paragraphDedupAgainst: history paragraphs drop with no canonical exception") {
    val seen = "This content already lives in the accumulated corpus history."
    val reWrapped = "this CONTENT already,  lives in\tthe accumulated corpus history" // same tokens
    val hist = Dedup.paragraphHashes(docs(1L -> s"Old lead-in.\n\n$seen"))
    val got = Dedup.paragraphDedupAgainst(
      docs(
        10L -> s"$seen\n\nFresh follow-up paragraph.",  // exact history hit
        11L -> s"Fresh opening.\n\n$reWrapped",         // normalized history hit
        12L -> "Entirely new material only."),
      hist)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def h(paras: String*): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(paras.mkString("\n\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(10L) === ((2, 1, h("Fresh follow-up paragraph."))))
    assert(got(11L) === ((2, 1, h("Fresh opening."))))
    assert(got(12L) === ((1, 1, h("Entirely new material only."))))
    // the history holds hashes only — one row per distinct paragraph
    assert(hist.columns.toSeq === Seq("h"))
    assert(hist.count() === 2)
    // the rewrite face cuts the same paragraphs and keeps the rest
    val stripped = Dedup.stripParagraphsAgainst(
      docs(10L -> s"$seen\n\nFresh follow-up paragraph."), hist)
      .as[(Long, String, Int)].head()
    assert(stripped === ((10L, "Fresh follow-up paragraph.", 1)))
  }

  test("sentenceSpanDedup: C4's three-sentence rule — normalized spans, overlap union, short docs pass") {
    def h(kept: String*): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = docs(
      1L -> "a one. b two. c three. d four.",
      // re-punctuated copy of doc 1's first span buried mid-doc
      2L -> "x pre. a one! b two? c three. y post.",
      // full copy of doc 1: BOTH spans duplicate, drops union to all 4
      3L -> "a one. b two. c three. d four.",
      // fewer than 3 sentences: no spans form, passes untouched
      4L -> "short one. short two.")
    val got = Dedup.sentenceSpanDedup(d)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 holds every canonical occurrence: nothing drops
    assert(got(1L) === ((4, 4, h("a one", "b two", "c three", "d four"))))
    // doc 2 loses exactly the 3 sentences its duplicated span covers
    assert(got(2L) === ((5, 2, h("x pre", "y post"))))
    // doc 3: spans [0..2] and [1..3] both drop — sentence-wise union
    assert(got(3L) === ((4, 0, h())))
    assert(got(4L) === ((2, 2, h("short one", "short two"))))
    // span is a dial: at span=2 doc 3 still empties, doc 2 loses (a,b)+(b,c)
    val two = Dedup.sentenceSpanDedup(d, span = 2)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r._3).toMap
    assert(two(3L) === 0 && two(2L) === 2 && two(1L) === 4)
    // SQL surface parity, both arities
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("ss_docs")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_sentence_spans('ss_docs')")
      .as[(Long, Int, Int, String)].collect().toSet ===
      got.map { case (id, (a, b, c)) => (id, a, b, c) }.toSet)
    assert(SparkSpec.spark.sql("SELECT * FROM graft_sentence_spans('ss_docs', 2)")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r._3).toMap === two)
  }

  test("sentenceSpanDedupAgainst: history spans drop with no canonical exception; unicode dial") {
    def h(kept: String*): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hist = Dedup.sentenceSpanHashes(docs(1L -> "a one. b two. c three. d four."))
    // distinct span keys only — (a,b,c) and (b,c,d), never text
    assert(hist.columns.toSeq === Seq("h"))
    assert(hist.count() === 2)
    val got = Dedup.sentenceSpanDedupAgainst(docs(
      10L -> "x pre. a one! b two? c three. y post.", // history hit mid-doc
      11L -> "a one. b two. c three. d four.",        // full copy: NO canonical exception
      12L -> "entirely new. fresh stuff. nothing shared. here at all."),
      hist)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(10L) === ((5, 2, h("x pre", "y post"))))
    assert(got(11L) === ((4, 0, h())))
    assert(got(12L) === ((4, 4, h("entirely new", "fresh stuff", "nothing shared", "here at all"))))
    // the rewrite face cuts the covered sentences and rejoins '. ' —
    // re-splitting the stripped text recovers exactly the survivors
    val stripped = Dedup.stripSentenceSpansAgainst(docs(
      10L -> "x pre. a one! b two? c three. y post.",
      11L -> "a one. b two. c three. d four.",
      12L -> "entirely new. fresh stuff. nothing shared. here at all."),
      hist)
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stripped(10L) === (("x pre. y post", 3)))
    assert(stripped(11L) === (("", 4)))
    assert(stripped(12L) ===
      (("entirely new. fresh stuff. nothing shared. here at all", 0)))
    // ASCII mode hashes every CJK sentence to the SAME empty token
    // stream — two DIFFERENT CJK docs falsely collapse; the unicode
    // dial keeps them apart (the streaming Cyrillic lesson at span
    // granularity)
    val cjk = docs(
      20L -> "東京は首都. 人口が多い. 面積は広い.",
      21L -> "別の文書. 全く違う. 内容です.")
    val ascii = Dedup.sentenceSpanDedup(cjk)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r._3).toMap
    val uni = Dedup.sentenceSpanDedup(cjk, unicode = true)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r._3).toMap
    assert(ascii(21L) === 0, "ASCII mode must falsely drop the second CJK doc")
    assert(uni(20L) === 3 && uni(21L) === 3, "unicode mode keeps both docs intact")
  }

  test("ParaHashes == the posexplode + tokenize + md5 formulation, edge paragraphs included") {
    val rnd = new scala.util.Random(23)
    val frags = Seq("Quick Brown fox", "  padded  ", "\tTAB lead", "mixed 42 Punct!!",
      "ünïcode Wörds", "", "\t", "alpha\nbeta", "x")
    val texts = ((1 to 12).map { _ =>
      Seq.fill(1 + rnd.nextInt(6))(frags(rnd.nextInt(frags.size)))
        .mkString(if (rnd.nextBoolean()) "\n\n" else "\n \n")
    } ++ Seq("", "single para only", "\n\n\n", "a\n\nb\n\na"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val d = texts.toDF("doc_id", "text")
    for (boundary <- Seq("\\n[ \\t]*\\n", "\\n+")) {
      val native = Dedup.paragraphHashes(d, boundary).as[String].collect().toSet
      // reference: the pre-round-13 Column formulation, verbatim
      val paraColRef = filter(
        transform(split(col("text"), boundary), p => trim(p)), p => length(p) > 0)
      val ref = d
        .select(col("doc_id"), posexplode(paraColRef).as(Seq("para_idx", "para")))
        .select(md5(concat_ws(" ", graft.core.TextNorm.tokens(col("para")))).as("h"))
        .distinct().as[String].collect().toSet
      assert(native === ref, s"boundary=$boundary")
      // and the full occurrence shape (doc, idx, h) agrees via the
      // report face, which consumes paraOcc directly
      val viaOcc = Dedup.paragraphDedup(d, boundary)
        .as[(Long, Int, Int, String)].collect().toSet
      val refOcc = {
        val occ = d
          .select(col("doc_id"), posexplode(paraColRef).as(Seq("para_idx", "para")))
          .select(col("doc_id"), col("para_idx"),
            md5(concat_ws(" ", graft.core.TextNorm.tokens(col("para")))).as("h"))
        val winners = occ.groupBy("h")
          .agg(min(struct(col("doc_id"), col("para_idx"))).as("winner"))
        val dropped = occ.join(winners, "h")
          .where(!(col("winner.doc_id") === col("doc_id") &&
            col("winner.para_idx") === col("para_idx")))
          .groupBy("doc_id").agg(collect_list(col("para_idx")).as("rm"))
        d.join(dropped, Seq("doc_id"), "left")
          .select(col("doc_id"), paraColRef.as("ps"),
            coalesce(col("rm"), array().cast("array<int>")).as("rm"))
          .select(col("doc_id"),
            size(col("ps")).cast("int").as("n_paras"),
            (size(col("ps")) - size(col("rm"))).cast("int").as("n_kept"),
            md5(concat_ws("\n\n",
              filter(col("ps"), (p, i) => !array_contains(col("rm"), i)))).as("kept_hash"))
          .as[(Long, Int, Int, String)].collect().toSet
      }
      assert(viaOcc === refOcc, s"boundary=$boundary")
    }
  }

  test("stripParagraphsWithHashes: one-scan fusion == strip + rehash of the stripped text") {
    val seen = "This paragraph was already absorbed last week."
    val hist = Dedup.paragraphHashes(docs(1L -> s"Old lead-in.\n\n$seen"))
    val d = docs(
      10L -> s"$seen\n\nFresh follow-up paragraph.",
      11L -> s"Totally new.\n\n$seen\n\nAnd more new.",
      12L -> seen,
      13L -> "Nothing shared at all.")
    val (stripped, hashes) = Dedup.stripParagraphsWithHashes(d, hist)
    val alone = Dedup.stripParagraphsAgainst(d, hist)
    assert(stripped.as[(Long, String, Int)].collect().toSet ===
      alone.as[(Long, String, Int)].collect().toSet)
    // the survivors' hash table is exactly paragraphHashes(stripped)
    val viaRehash = Dedup.paragraphHashes(
      alone.select(col("doc_id"), col("text"))).as[String].collect().toSet
    assert(hashes.as[String].collect().toSet === viaRehash)
    // shape contract: hashes only, one row per distinct survivor
    assert(hashes.columns.toSeq === Seq("h"))
  }

  test("stripSentenceSpansWithHashes: one-scan fusion == strip + rehash, incl. seam spans") {
    val hist = Dedup.sentenceSpanHashes(docs(1L -> "a one. b two. c three. d four."))
    val d = docs(
      10L -> "x pre. a one! b two? c three. y post.",  // rewritten, survivors < span
      11L -> "a one. b two. c three. d four.",         // fully stripped
      12L -> "totally new. fresh stuff. nothing shared. here now.", // untouched
      // rewritten with enough survivors that NEW seam spans form —
      // (p,q,r)/(q,r,s) never existed in the original doc
      13L -> "p one. q two. a one! b two? c three. r three. s four.")
    val (stripped, keys) = Dedup.stripSentenceSpansWithHashes(d, hist)
    val alone = Dedup.stripSentenceSpansAgainst(d, hist)
    assert(stripped.as[(Long, String, Int)].collect().toSet ===
      alone.as[(Long, String, Int)].collect().toSet)
    // the survivors' key table is exactly sentenceSpanHashes(stripped)
    val viaRehash = Dedup.sentenceSpanHashes(
      alone.select(col("doc_id"), col("text"))).as[String].collect().toSet
    assert(keys.as[String].collect().toSet === viaRehash)
    assert(keys.columns.toSeq === Seq("h"))
    // the seam spans are genuinely new keys (doc 13 contributes spans
    // its original occurrence rows never held)
    val originalKeys = Dedup.sentenceSpanHashes(d.filter($"doc_id" === 13L))
      .as[String].collect().toSet
    val strippedKeys = Dedup.sentenceSpanHashes(
      alone.filter($"doc_id" === 13L).select(col("doc_id"), col("text")))
      .as[String].collect().toSet
    assert((strippedKeys -- originalKeys).nonEmpty, "expected new seam spans")
  }

  // a ~240-char region of distinct words: internally self-dissimilar,
  // long enough that mod-p anchor sampling is saturated inside it
  private val region: String =
    (0 until 40).map(i => f"w${(i * 37) % 997}%03dq").mkString(" ")

  test("GramAnchors == the higher-order md5 formulation, ASCII through emoji") {
    val rnd = new scala.util.Random(7)
    val alphabets = Seq("abcdef gh", "áéíöü αβγ", "漢字かな 混合abc", "emoji😀mix🎉 text")
    val texts = (alphabets.flatMap { a =>
      val cps = a.codePoints().toArray
      (1 to 5).map { _ =>
        val len = rnd.nextInt(40)
        new String((0 until len).flatMap(_ =>
          Character.toChars(cps(rnd.nextInt(cps.length)))).toArray)
      }
    } :+ "" :+ "short").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val d = texts.toDF("doc_id", "text")
    for ((k, modP) <- Seq((4, 2), (8, 1), (16, 4))) {
      val native = Dedup.anchorSites(d, k, modP).as[(Long, Int, Long)].collect().toSet
      // reference: the pre-round-12 Column formulation, verbatim
      val siteTy = "array<struct<pos:int,h:bigint>>"
      val gramHash = (p: org.apache.spark.sql.Column) =>
        conv(substring(md5(col("text").substr(p + lit(1), lit(k))), 1, 13), 16, 10).cast("long")
      val ref = d.select(col("doc_id"), col("text"),
          when(length(col("text")) >= k,
            filter(
              transform(sequence(lit(0), length(col("text")) - k),
                p => struct(p.as("pos"), gramHash(p).as("h"))),
              s => s.getField("h") % modP === 0))
            .otherwise(array().cast(siteTy)).as("anchors"))
        .select(col("doc_id"), explode(col("anchors")).as("a"))
        .select(col("doc_id"), col("a.pos"), col("a.h"))
        .as[(Long, Int, Long)].collect().toSet
      assert(native === ref, s"k=$k modP=$modP")
      assert(native.nonEmpty || texts.forall(_._2.length < k), s"degenerate fixture k=$k")
    }
  }

  test("duplicateSpans: unaligned cross-doc copy spans only the non-canonical doc") {
    val junk = "completely unrelated filler prose that shares nothing at all with it "
    val d = docs(1L -> region, 2L -> (junk + region))
    val spans = Dedup.duplicateSpans(d, k = 16, modP = 4, gap = 32)
      .as[(Long, Long, Long)].collect()
    // doc 1 holds every canonical site -> zero spans there
    assert(spans.forall(_._1 == 2L), spans.toSeq)
    assert(spans.nonEmpty)
    // the copy sits at an offset that is NOT a multiple of any grid --
    // content-defined anchors must still land inside it
    val lo = junk.length.toLong
    val hi = (junk + region).length.toLong
    spans.foreach { case (_, s, e) =>
      assert(s >= lo && e <= hi, s"span [$s,$e) outside copy [$lo,$hi)")
    }
    // coverage: the merged span(s) reach most of the 240-char region
    assert(spans.map(p => p._3 - p._2).sum >= region.length * 2 / 3)
  }

  test("duplicateSpans: within-doc repeat keeps the first occurrence") {
    val sep = (0 until 20).map(i => s"gap${i}z").mkString(" ") // > gap chars, unique
    val d = docs(7L -> (region + " " + sep + " " + region))
    val spans = Dedup.duplicateSpans(d, k = 16, modP = 4, gap = 32)
      .as[(Long, Long, Long)].collect()
    val secondStart = (region + " " + sep + " ").length.toLong
    assert(spans.nonEmpty)
    spans.foreach { case (_, s, _) =>
      assert(s >= secondStart, s"span start $s inside the canonical first copy")
    }
  }

  test("duplicateSpans: spans are disjoint and sorted; gap < k rejected") {
    val d = docs(1L -> region, 2L -> region, 3L -> ("x " + region))
    val byDoc = Dedup.duplicateSpans(d, k = 16, modP = 2, gap = 32)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    byDoc.values.foreach { sp =>
      val sorted = sp.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 < b._2, s"overlap: $a then $b")
        case _           =>
      }
    }
    intercept[IllegalArgumentException] {
      Dedup.duplicateSpans(d, k = 16, modP = 2, gap = 8)
    }
  }

  test("spanEval: exact config is perfect; prod config isolates sampling misses and gap bridging") {
    val uniqA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    val uniqB = "kilo lima mike november oscar papa quebec romeo sierra tango "
    val bridge = " uniq1 uniq2 uniq3 " // < prod gap, > exact gap (with the k pad)
    val d = docs(
      1L -> region,                              // canonical holder
      2L -> (uniqA + region),                    // one non-canonical copy
      3L -> (uniqB + region + bridge + region))  // two copies, bridged in prod
    // exact parameterization IS the ground truth: perfect confusion row
    val exact = Dedup.spanEval(d, k = 16, modP = 1, gap = 16, sampleMod = 1)
      .as[(Long, Long, Long, Long, Long, Long, Option[Double], Option[Double])].head()
    assert(exact._1 === 3L)
    assert(exact._2 > 0L)                        // known overlaps detected
    assert(exact._4 === exact._2 && exact._5 === 0L && exact._6 === 0L)
    assert(exact._7 === Some(1.0) && exact._8 === Some(1.0))
    // production parameterization: same truth denominator; mod-p misses
    // land in fn, the gap-bridged unique sliver in doc 3 lands in fp
    val prod = Dedup.spanEval(d, k = 16, modP = 4, gap = 64, sampleMod = 1)
      .as[(Long, Long, Long, Long, Long, Long, Option[Double], Option[Double])].head()
    assert(prod._2 === exact._2)                 // truth independent of modP/gap
    assert(prod._4 + prod._6 === prod._2)
    assert(prod._5 > 0L, "bridged sliver must show as false-positive chars")
    assert(prod._7.exists(r => r > 0.5 && r <= 1.0), s"recall ${prod._7}")
    assert(prod._8.exists(p => p > 0.5 && p < 1.0), s"precision ${prod._8}")
    // SQL surface parity (explicit-knob arity)
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("se_docs")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_span_eval('se_docs', 16, 4, 64, 1)")
      .as[(Long, Long, Long, Long, Long, Long, Option[Double], Option[Double])]
      .head() === prod)
  }

  test("spanPlan: estimates match the closed form over the exact spans; monotone in rate") {
    val uniqA = "totally fresh lead material preceding the copied area "
    val d = docs(
      1L -> region,
      2L -> (uniqA + region),                       // long copied span
      3L -> ("prefix bits " + region.take(80) + " unrelated tail words here entirely"))
    val got = Dedup.spanPlan(d, k = 16, sampleMod = 1, candidates = Seq(2, 8, 32))
      .as[(Int, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // cross-check against the closed form computed from the exact spans
    val lens = Dedup.duplicateSpans(d, k = 16, modP = 1, gap = 16)
      .select((col("span_end") - col("span_start")).as("len")).as[Long].collect()
    assert(lens.nonEmpty)
    def expect(p: Int): Double = {
      val terms = lens.map { l =>
        BigDecimal(l * (1.0 - math.pow(1.0 - 1.0 / p, (l - 15).toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      BigDecimal(terms.sum.toDouble / lens.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    Seq(2, 8, 32).foreach { p =>
      assert(got(p)._1 === lens.length.toLong, s"p=$p")
      assert(got(p)._2 === lens.sum, s"p=$p")
      assert(got(p)._3 === Some(expect(p)), s"p=$p")
    }
    // denser sampling can only help
    assert(got(2)._3.get >= got(8)._3.get && got(8)._3.get >= got(32)._3.get)
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("sp_docs")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_span_plan('sp_docs', 16, 1)")
      .as[(Int, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      .view.filterKeys(Seq(2, 8, 32).contains).toMap === got)
    // no duplicated spans → NULL estimate, not a 0/0 artifact
    val none = Dedup.spanPlan(docs(9L -> "fully unique content with nothing repeated"),
      k = 16, sampleMod = 1, candidates = Seq(8))
      .as[(Int, Long, Long, Option[Double])].head()
    assert(none === ((8, 0L, 0L, None)))
  }

  test("stripDuplicateSpansWithAnchors: fusion == strip + full anchor rescan of the stripped text") {
    val junkA = "leading filler words nothing shared with anything else here at all "
    val junkB = "another entirely different unique tail closing this document out now "
    val hist = Dedup.anchorSites(docs(1L -> region), k = 16, modP = 2)
    val d = docs(
      10L -> (junkA + region + " " + junkB), // rewritten (seen region cut)
      11L -> junkA,                          // untouched (nothing shared)
      12L -> region,                         // rewritten to (almost) nothing
      13L -> (junkB + junkA))                // untouched
    val (stripped, anchors) =
      Dedup.stripDuplicateSpansWithAnchors(d, hist, k = 16, modP = 2, gap = 16)
    val alone = Dedup.stripDuplicateSpansAgainst(d, hist, k = 16, modP = 2, gap = 16)
    assert(stripped.as[(Long, String, Long)].collect().toSet ===
      alone.as[(Long, String, Long)].collect().toSet)
    // the fused anchor table is exactly a full rescan of the stripped
    // text — INCLUDING the rewritten docs' shifted positions and any
    // new seam grams the cut created
    val viaRescan = Dedup.anchorSites(
      alone.select(col("doc_id"), col("text")), k = 16, modP = 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(anchors.as[(Long, Int, Long)].collect().toSet === viaRescan)
    // sanity: the fixture really exercises both branches
    val changed = stripped.filter(col("n_spans") > 0)
      .select("doc_id").as[Long].collect().toSet
    assert(changed === Set(10L, 12L))
  }

  test("recommendModP: largest candidate clearing the target; documented fallbacks") {
    def plan(rows: (Int, Long, Option[Double])*) =
      rows.toDF("mod_p", "n_spans", "est_recall")
    val p = plan((2, 5L, Some(0.9)), (4, 5L, Some(0.76)), (8, 5L, Some(0.69)))
    // largest clearing wins, not the first
    assert(Dedup.recommendModPFrom(p, 0.75) === 4)
    assert(Dedup.recommendModPFrom(p, 0.5) === 8)
    // nothing clears → 1 (exact mode is the only setting honoring it)
    assert(Dedup.recommendModPFrom(p, 0.95) === 1)
    // no duplicated spans at all → nothing to miss → cheapest candidate
    assert(Dedup.recommendModPFrom(
      plan((2, 0L, None), (8, 0L, None)), 0.99) === 8)
    // end-to-end: tied to the real spanPlan table on a real corpus
    val uniqA = "totally fresh lead material preceding the copied area "
    val d = docs(1L -> region, 2L -> (uniqA + region))
    val table = Dedup.spanPlan(d, k = 16, sampleMod = 1, candidates = Seq(2, 8, 32))
    val rec = Dedup.recommendModPFrom(table, 0.5)
    val rows = table.as[(Int, Long, Long, Option[Double])].collect()
    assert(rows.filter(_._4.exists(_ >= 0.5)).map(_._1).max === rec)
  }

  test("stripDuplicateSpans: cut matches a manual splice of duplicateSpans; short docs untouched") {
    val junk = "leading filler words nothing shared with anything else here at all "
    val d = docs(
      1L -> region,
      2L -> (junk + region + " trailing tail kept after the cut"),
      3L -> "short",
      4L -> (region + " middle unique bridge text " + region))
    val spans = Dedup.duplicateSpans(d, k = 16, modP = 4, gap = 32)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(p => (p._2, p._3)).sortBy(_._1)).toMap
    val texts = d.as[(Long, String)].collect().toMap
    val expected = texts.map { case (id, t) =>
      val cut = spans.getOrElse(id, Array.empty[(Long, Long)])
        .foldLeft(("", 0L)) { case ((acc, from), (s, e)) =>
          (acc + t.substring(from.toInt, s.toInt), e)
        }
      id -> (cut._1 + t.substring(cut._2.toInt))
    }
    val got = Dedup.stripDuplicateSpans(d, k = 16, modP = 4, gap = 32)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    expected.foreach { case (id, want) =>
      assert(got(id)._1 === want, s"doc $id splice mismatch")
      assert(got(id)._2 === spans.getOrElse(id, Array.empty[(Long, Long)]).length.toLong)
    }
    assert(got(3L)._1 === "short" && got(3L)._2 === 0L)
    // doc 2's copy was actually cut, and the tail survived
    assert(got(2L)._1.endsWith("trailing tail kept after the cut"))
    assert(got(2L)._1.length < texts(2L).length)
  }

  test("noveltyScore: overlap fraction vs a reference; fully-contained and fully-fresh extremes") {
    val ref = Dedup.evalShingles(docs(100L -> "alpha beta gamma delta epsilon"))
    val d = docs(
      1L -> "alpha beta gamma delta epsilon",      // fully contained -> 0
      2L -> "zeta eta theta iota kappa",           // fully fresh -> 1
      3L -> "alpha beta gamma something new here") // 2/4 shingles seen
    val got = Dedup.noveltyScore(d, ref)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 3L, 0.0)))
    assert(got(2L) === ((2L, 3L, 0L, 1.0)))
    // doc 3 shingles: "alpha beta gamma", "beta gamma something",
    // "gamma something new", "something new here" -> 1 of 4 seen
    assert(got(3L) === ((3L, 4L, 1L, 0.75)))
  }

  test("SQL surface: graft_novelty TVF matches the Column API, both arities; EXPLAIN runs no job") {
    graft.plans.GraftExtensions.install(spark)
    val ref = Dedup.evalShingles(docs(100L -> "alpha beta gamma delta epsilon"))
    val d = docs(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "zeta eta theta iota kappa",
      3L -> "alpha beta gamma something new here")
    d.createOrReplaceTempView("nov_docs")
    ref.createOrReplaceTempView("nov_ref")
    val api = Dedup.noveltyScore(d, ref).as[(Long, Long, Long, Double)].collect().toSet
    assert(spark.sql("SELECT * FROM graft_novelty('nov_docs', 'nov_ref', 3)")
      .as[(Long, Long, Long, Double)].collect().toSet === api)
    // default arity (w=3)
    assert(spark.sql("SELECT * FROM graft_novelty('nov_docs', 'nov_ref')")
      .as[(Long, Long, Long, Double)].collect().toSet === api)
    // fully lazy: planning/EXPLAIN must not launch a job
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    spark.sql("EXPLAIN SELECT * FROM graft_novelty('nov_docs', 'nov_ref')").collect()
    // the EXPLAIN itself collects a LocalRelation of text — no Spark job
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length === before)
    // non-literal args fail with an actionable message
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_novelty('nov_docs', 'nov_ref', 1 + 2)").collect()
    }
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }

  test("duplicateSpansAgainst: increment spans only where the history already has the region") {
    val history = docs(2L -> region, 4L -> "other archived content nothing like the increment")
    val hist = Dedup.anchorSites(history, k = 16, modP = 4)
    val freshTail = " genuinely new content the archive has never seen before at all"
    val inc = docs(11L -> (region + freshTail), 13L -> ("unrelated increment doc " + freshTail))
    val spans = Dedup.duplicateSpansAgainst(inc, hist, k = 16, modP = 4, gap = 32)
      .as[(Long, Long, Long)].collect()
    // only doc 11's copied region matches history; the fresh tail and
    // doc 13 produce nothing — NO canonical exception applies (the
    // history owns the canonical copy, so the increment's copy spans)
    assert(spans.nonEmpty && spans.forall(_._1 == 11L), spans.toSeq)
    spans.foreach { case (_, s, e) =>
      assert(s >= 0 && e <= region.length.toLong, s"span [$s,$e) outside the copied region")
    }
    // history processed alone (duplicateSpans) keeps its single copy:
    // nothing in the history itself is a duplicate
    assert(Dedup.duplicateSpans(history, k = 16, modP = 4, gap = 32).count() === 0L)
  }

  test("SQL surface: graft_dup_spans TVF matches the Column API, both arities") {
    graft.plans.GraftExtensions.install(spark)
    val junk = "completely unrelated filler prose that shares nothing at all with it "
    val d = docs(1L -> region, 2L -> (junk + region))
    d.createOrReplaceTempView("span_docs")
    val api = Dedup.duplicateSpans(d, k = 16, modP = 4, gap = 32)
      .as[(Long, Long, Long)].collect().toSet
    assert(spark.sql("SELECT * FROM graft_dup_spans('span_docs', 16, 4, 32)")
      .as[(Long, Long, Long)].collect().toSet === api)
    // default arity = (k=24, modP=8, gap=64)
    assert(spark.sql("SELECT * FROM graft_dup_spans('span_docs')")
      .as[(Long, Long, Long)].collect().toSet ===
      Dedup.duplicateSpans(d).as[(Long, Long, Long)].collect().toSet)
    // the rewrite face: graft_dup_strip == stripDuplicateSpans
    assert(spark.sql("SELECT * FROM graft_dup_strip('span_docs', 16, 4, 32)")
      .as[(Long, String, Long)].collect().toSet ===
      Dedup.stripDuplicateSpans(d, k = 16, modP = 4, gap = 32)
        .as[(Long, String, Long)].collect().toSet)
  }

  test("bandingPlan: 19-row S-curve, exact closed-form values, monotone, knee placement") {
    val rows = Dedup.bandingPlan(spark).orderBy("jaccard")
      .as[(Double, Double, Double)].collect()
    assert(rows.length === 19)
    // s = 0.5 exactly representable: p_band = 0.5^4 = 0.0625 exact;
    // detect = 1 - 0.9375^2 = 0.12109375 -> 0.121094 at 6dp
    val s05 = rows(9)
    assert(s05._1 === 0.5)
    assert(s05._2 === 0.0625)
    assert(s05._3 === 0.121094)
    rows.sliding(2).foreach { w => assert(w(0)._3 <= w(1)._3) }
    // the 50%-detect crossover of the k=8,b=2 scheme sits between
    // s=0.70 and s=0.75 (threshold (1/2)^(1/4) ~ 0.84 is the 75% point)
    assert(rows(13)._3 < 0.5 && rows(14)._3 > 0.5)
  }

  test("bandingEval: exact copies are TP, unrelated docs are TN, rates exact") {
    val same = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      1L -> same, 2L -> same,
      3L -> "completely different words about unrelated topics and nothing shared here")
    val r = Dedup.bandingEval(d, sampleMod = 1)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().head
    assert(r === ((3L, 1L, 0L, 0L, 2L, 1.0, 1.0)))
  }

  test("bandingEval: sample is the md5 bucket, pair count = C(|sample|, 2)") {
    val d = docs((1L to 40L).map(i => i -> s"document number $i body text"): _*)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 4
    val nS = d.filter(bucket === 0).count()
    val r = Dedup.bandingEval(d, sampleMod = 4).select("n_pairs")
      .as[Long].collect().head
    assert(nS >= 2) // the fixture must actually exercise pairing
    assert(r === nS * (nS - 1) / 2)
  }

  test("bandingEval: empty positive set reports NULL recall, not a division artifact") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon words one",
      2L -> "totally different content nothing shared at all here")
    val row = Dedup.bandingEval(d, sampleMod = 1).collect().head
    assert(row.getAs[Long]("tp") === 0L)
    assert(row.isNullAt(row.fieldIndex("recall")))
  }

  test("duplicationSpectrum: group-size histogram with corpus fractions") {
    // normalization folds case/punct: A appears 3x, B 2x, one unique
    val d = docs(
      1L -> "Hello  World", 2L -> "hello world!", 3L -> "HELLO world",
      4L -> "same text", 5L -> "Same Text",
      6L -> "unique snowflake")
    val got = Dedup.duplicationSpectrum(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) === ((1L, 1L, 1L, 0.166667)))
    assert(got(2L) === ((2L, 1L, 2L, 0.333333)))
    assert(got(3L) === ((3L, 1L, 3L, 0.5)))
  }

  test("duplicationSpectrum: all-unique corpus is one row with fraction 1") {
    val d = docs(1L -> "aa", 2L -> "bb", 3L -> "cc")
    val got = Dedup.duplicationSpectrum(d).as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq === Seq((1L, 3L, 3L, 1.0)))
  }

  test("SQL surface: graft_dup_spectrum TVF matches the Column API") {
    graft.plans.GraftExtensions.install(spark)
    val d = docs(1L -> "Hello  World", 2L -> "hello world!", 3L -> "unique")
    d.createOrReplaceTempView("spectrum_docs")
    assert(spark.sql("SELECT * FROM graft_dup_spectrum('spectrum_docs')").collect().toSet ===
      Dedup.duplicationSpectrum(d).collect().toSet)
  }

  test("fingerprintPairs: local copied region pairs docs; unrelated docs never pair") {
    // docs 1 and 2 share one verbatim 9-token region inside otherwise
    // different text; doc 3 is disjoint
    val region = "alpha beta gamma delta epsilon zeta eta theta iota"
    val d = docs(
      1L -> s"completely original opening words here $region and an original tail",
      2L -> s"a different framing sentence leads into $region with other closing words",
      3L -> "nothing in this document resembles the copied region at all today")
    val got = Dedup.fingerprintPairs(d, w = 5, minShared = 2)
      .as[(Long, Long, Long)].collect()
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(got.head._3 >= 2)
  }

  test("fingerprintPairs: the df cap drops boilerplate fingerprints before pairing") {
    // every doc shares the same region -> its fingerprints have df = 4;
    // with maxDf = 3 they are dropped and nothing pairs
    val region = "alpha beta gamma delta epsilon zeta eta theta iota"
    val d = docs((1L to 4L).map(i => i -> s"doc number $i distinct words then $region"): _*)
    assert(Dedup.fingerprintPairs(d, w = 5, minShared = 1, maxDf = 3).count() === 0L)
    // raising the cap restores all C(4,2) pairs
    assert(Dedup.fingerprintPairs(d, w = 5, minShared = 1, maxDf = 4).count() === 6L)
  }

  test("dropNearDuplicatesBy keeps the best-scoring cluster member, not the min id") {
    // 10 and 11 near-dup (one word changed); 11 is LONGER, so the
    // length policy keeps 11 where min-id policy keeps 10
    val base = "a very ordinary sentence about the weather and some other plain " +
      "topics in the town report"
    val d = docs(
      10L -> base,
      11L -> (base + " with more words"),
      12L -> "completely unrelated text that stands alone")
    val score = org.apache.spark.sql.functions.size(graft.core.TextNorm.tokens(col("text")))
    val kept = Dedup.dropNearDuplicatesBy(d, score)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(11L, 12L))
    val keptMinId = Dedup.dropNearDuplicates(d)
      .select("doc_id").as[Long].collect().sorted
    assert(keptMinId.toSeq === Seq(10L, 12L))
    // constant score degenerates to the min-id policy (the tiebreak)
    val keptConst = Dedup.dropNearDuplicatesBy(d, lit(1))
      .select("doc_id").as[Long].collect().sorted
    assert(keptConst.toSeq === Seq(10L, 12L))
  }

  test("SQL surface: graft_fingerprint_pairs TVF matches the Column API; EXPLAIN runs no job") {
    graft.plans.GraftExtensions.install(spark)
    val region = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = docs(
      1L -> s"original page framing around $region and a tail",
      2L -> s"different page framing with $region and other words",
      3L -> "nothing shared with the others in this one at all")
    d.createOrReplaceTempView("fpp_docs")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    spark.sql("EXPLAIN SELECT * FROM graft_fingerprint_pairs('fpp_docs')").collect()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(null).length === before,
      "EXPLAIN of the TVF must not run a Spark job")
    assert(spark.sql("SELECT * FROM graft_fingerprint_pairs('fpp_docs')").collect().toSet ===
      Dedup.fingerprintPairs(d).collect().toSet)
  }

  test("fingerprintPairsAgainst: arrivals name their history matches; history cap applies") {
    val region = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val history = docs(
      100L -> s"an archived page where $region appears in the middle of prose",
      101L -> "an unrelated archived page about completely different matters entirely")
    val refFps = graft.ops.TextAnalysis.fingerprints(history, 4, 3)
    val arrivals = docs(
      200L -> s"fresh crawl copy reusing $region almost verbatim in new framing",
      201L -> "a genuinely novel arrival with nothing shared at all today")
    val got = Dedup.fingerprintPairsAgainst(arrivals, refFps)
      .as[(Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSeq === Seq((200L, 100L)))
    assert(got.head._3 >= 2)
    // a boilerplate region present in MANY history docs is df-capped out
    val bloat = docs((300L to 310L).map(i => i -> s"boilerplate host page $i with $region inside"): _*)
    val bloatFps = graft.ops.TextAnalysis.fingerprints(bloat, 4, 3)
    assert(Dedup.fingerprintPairsAgainst(arrivals, bloatFps, maxDf = 5).count() === 0L)
  }

  test("sourceOverlap: identical sources estimate 1, disjoint estimate 0, pairs ordered") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "a"),
      (2L, "alpha beta gamma delta epsilon zeta", "b"),   // b == a shingle-for-shingle
      (3L, "one two three four five six seven", "c"),     // c shares nothing
      (4L, "eight nine ten eleven twelve", "c")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(d, w = 3, k = 8)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(got(("a", "b"))._5 === 1.0)   // identical shingle sets: every slot matches
    assert(got(("a", "c"))._5 === 0.0)   // disjoint: no slot can match
    assert(got(("a", "b"))._3 === 4L && got(("a", "b"))._4 === 4L) // 6 tokens → 4 shingles
    assert(got(("a", "c"))._4 === 8L)    // union of c's two docs: 5 + 3 shingles
  }

  test("sourceOverlap: the union signature sees overlap no single doc pair has") {
    // each doc shares nothing doc-to-doc across sources, but the SOURCES
    // overlap heavily: x's docs jointly cover y's shingles
    val shared = "the quick brown fox jumps over the lazy dog again"
    val d = Seq(
      (1L, shared, "x"),
      (2L, "completely unrelated filler text padding here", "x"),
      (3L, shared, "y")
    ).toDF("doc_id", "text", "source")
    val est = Dedup.sourceOverlap(d, w = 3, k = 16)
      .where(col("source_a") === "x" && col("source_b") === "y")
      .select("est_jaccard").as[Double].head()
    assert(est > 0.0, s"sources sharing a doc's worth of shingles must overlap (est=$est)")
    // SQL surface parity, both arities
    graft.plans.GraftExtensions.install(spark)
    d.createOrReplaceTempView("so_docs")
    assert(spark.sql("SELECT * FROM graft_source_overlap('so_docs', 3, 16)")
      .as[(String, String, Long, Long, Double)].collect().toSet ===
      Dedup.sourceOverlap(d, w = 3, k = 16)
        .as[(String, String, Long, Long, Double)].collect().toSet)
    assert(spark.sql("SELECT * FROM graft_source_overlap('so_docs')").count() === 1L)
  }

  test("containmentPairs finds the excerpt-inside-document pair Jaccard misses") {
    val big = ((1 to 40).map(i => s"w$i") :+ "quoted passage lives here verbatim").mkString(" ")
    val d = docs(
      1L -> "quoted passage lives here verbatim",  // wholly inside doc 2
      2L -> big,
      3L -> "unrelated content sharing no shingles with anything")
    val got = Dedup.containmentPairs(d).as[(Long, Long, Long, Double, Double)].collect()
    assert(got.length === 1)
    val (a, b, _, ca, cb) = got.head
    assert((a, b) === ((1L, 2L)))
    assert(ca === 1.0, s"every shingle of the excerpt is in the host (got $ca)")
    assert(cb < 0.2, s"the host is mostly NOT the excerpt (got $cb)")
    // and the symmetric detector indeed misses it at its default cut
    assert(Dedup.ngramJaccardPairs(d).count() === 0L)
    // SQL surface parity
    graft.plans.GraftExtensions.install(spark)
    d.createOrReplaceTempView("ct_docs")
    assert(spark.sql("SELECT * FROM graft_containment('ct_docs', 3, 50, 0.5)")
      .as[(Long, Long, Long, Double, Double)].collect().toSet === got.toSet)
  }
  test("unicode tokenizer mode: non-Latin dups invisible to the ASCII tokenizer are found, and its false positives vanish") {
    val ru = "\u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u044d\u0442\u043e \u0442\u0435\u0441\u0442\u043e\u0432\u044b\u0439 \u0434\u043e\u043a\u0443\u043c\u0435\u043d\u0442 \u043e \u0431\u044b\u0441\u0442\u0440\u043e\u0439 \u0431\u0443\u0440\u043e\u0439 \u043b\u0438\u0441\u0435 \u0438 \u043b\u0435\u043d\u0438\u0432\u043e\u0439 \u0441\u043e\u0431\u0430\u043a\u0435"
    val ar = "\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645 \u0647\u0630\u0647 \u0648\u062b\u064a\u0642\u0629 \u0627\u062e\u062a\u0628\u0627\u0631 \u0639\u0646 \u0627\u0644\u062b\u0639\u0644\u0628 \u0627\u0644\u0628\u0646\u064a \u0627\u0644\u0633\u0631\u064a\u0639"
    val d = docs(1L -> ru, 2L -> ru, 3L -> ar)
    // ASCII mode: ALL THREE docs tokenize to nothing -> identical ""
    // shingle -> identical signatures -> every pair is a (false)
    // candidate; the Cyrillic dup is indistinguishable from the
    // unrelated Arabic doc. This is the silently-passes-every-gate
    // failure the unicode mode exists to close.
    val ascii = Dedup.minhashCandidatePairs(d).as[(Long, Long)].collect().toSet
    assert(ascii === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // Unicode mode: only the true Cyrillic duplicate pair survives
    val uni = Dedup.minhashCandidatePairs(d, tok = graft.core.TextNorm.tokensUnicode)
      .as[(Long, Long)].collect().toSet
    assert(uni === Set((1L, 2L)))
  }

  test("unicode tokenizer mode: CJK NEAR-dup (2 of 22 chars changed) pairs via char shingles") {
    // scriptio continua: the unicode normalizer splits Han runs per
    // character, so w=3 shingles are char trigrams and a 2-char edit
    // leaves most shingles shared; bands=8 (r=1) banding then catches
    // the pair. Under the ASCII tokenizer both docs have zero tokens.
    val zhA = "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u9700\u8981\u5927\u91cf\u9ad8\u8d28\u91cf\u7684\u8bad\u7ec3\u6570\u636e\u624d\u80fd\u8868\u73b0\u826f\u597d"
    val zhB = "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u9700\u8981\u5927\u91cf\u9ad8\u8d28\u91cf\u7684\u8bad\u7ec3\u6570\u636e\u624d\u80fd\u8868\u73b0\u4f18\u79c0"
    val d = docs(1L -> zhA, 2L -> zhB)
    val uni = Dedup.minhashCandidatePairs(d, bands = 8,
        tok = graft.core.TextNorm.tokensUnicode)
      .as[(Long, Long)].collect().toSet
    assert(uni === Set((1L, 2L)))
    // and the estimator sees high-but-not-1 similarity via simhash too:
    val sigs = Dedup.simhash(d, bits = 64, tok = graft.core.TextNorm.tokensUnicode)
      .as[(Long, Long)].collect().toMap
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 16)
  }
  test("paragraph family unicode mode: ParaHashes == tokensUnicode Column chain; non-Latin paragraph dups collapse") {
    val ru = "\u041f\u0440\u0438\u0432\u0435\u0442, \u043c\u0438\u0440! \u042d\u0442\u043e \u0442\u0435\u0441\u0442\u043e\u0432\u044b\u0439 \u0430\u0431\u0437\u0430\u0446 \u043e \u043b\u0438\u0441\u0435."
    val ru2 = "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u044d\u0442\u043e \u0442\u0435\u0441\u0442\u043e\u0432\u044b\u0439 \u0430\u0431\u0437\u0430\u0446 \u043e \u043b\u0438\u0441\u0435"
    val zh = "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u9700\u8981\u5927\u91cf\u6570\u636e"
    val ar = "\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645 \u0647\u0630\u0647 \u0641\u0642\u0631\u0629 \u0627\u062e\u062a\u0628\u0627\u0631"
    val d = docs(
      1L -> (ru + "\n\n" + zh),
      2L -> (ru2 + "\n\nsome ascii paragraph here"),
      3L -> (ar + "\n\n" + zh),
      4L -> "plain english paragraph\n\nsome ascii paragraph here")
    // parity: native unicode hashing == the posexplode + tokensUnicode
    // Column formulation
    for (boundary <- Seq("\\n[ \\t]*\\n", "\\n+")) {
      val native = Dedup.paragraphHashes(d, boundary, unicode = true)
        .as[String].collect().toSet
      val paraColRef = filter(
        transform(split(col("text"), boundary), p => trim(p)), p => length(p) > 0)
      val ref = d
        .select(col("doc_id"), posexplode(paraColRef).as(Seq("para_idx", "para")))
        .select(md5(concat_ws(" ",
          graft.core.TextNorm.tokensUnicode(col("para")))).as("h"))
        .distinct().as[String].collect().toSet
      assert(native === ref, s"boundary=$boundary")
    }
    // the demonstration: ASCII mode hashes EVERY non-Latin paragraph to
    // md5("") — ru, ru2, zh, ar all "duplicates" of each other; unicode
    // mode collapses exactly the true matches (ru≡ru2 normalized, zh≡zh)
    val uni = Dedup.paragraphDedup(d, unicode = true)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(uni(1L) === ((2, 2)))  // first occurrences keep everything
    assert(uni(2L) === ((2, 1)))  // ru2 ≡ ru dropped, ascii para kept
    assert(uni(3L) === ((2, 1)))  // ar kept, zh dup of doc 1's dropped
    assert(uni(4L) === ((2, 1)))  // ascii para dup of doc 2's dropped
    val ascii = Dedup.paragraphDedup(d)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // doc 3's two non-Latin paragraphs BOTH vanish as "duplicates" of
    // doc 1's — cross-script false positives, the failure mode closed
    assert(ascii(3L) === ((2, 0)))
  }

  test("fingerprint family unicode mode: winnowed pairs exist only when the tokenizer sees the text") {
    val ru = "\u041f\u0440\u0438\u0432\u0435\u0442, \u043c\u0438\u0440! \u042d\u0442\u043e \u0442\u0435\u0441\u0442\u043e\u0432\u044b\u0439 \u0430\u0431\u0437\u0430\u0446 \u043e \u043b\u0438\u0441\u0435."
    val base = ru + " " + ru + " " + ru
    val d = docs(1L -> base, 2L -> (base + " \u0434\u043e\u043f\u043e\u043b\u043d\u0438\u0442\u0435\u043b\u044c\u043d\u043e"))
    val tokU = graft.core.TextNorm.tokensUnicode _
    assert(graft.ops.TextAnalysis.fingerprints(d, w = 2, k = 2).count() === 0)
    assert(graft.ops.TextAnalysis.fingerprints(d, w = 2, k = 2, tok = tokU).count() > 0)
    val pairs = Dedup.fingerprintPairs(d, w = 2, k = 2, minShared = 1, tok = tokU)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
  }
  test("unicode normalizer dial: exact dedup stops cross-script false dups; decontam/novelty see non-Latin text") {
    val ru = "\u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u044d\u0442\u043e \u0442\u0435\u0441\u0442\u043e\u0432\u044b\u0439 \u0434\u043e\u043a\u0443\u043c\u0435\u043d\u0442"
    val ar = "\u0645\u0631\u062d\u0628\u0627 \u0628\u0627\u0644\u0639\u0627\u0644\u0645 \u0647\u0630\u0647 \u0648\u062b\u064a\u0642\u0629 \u0627\u062e\u062a\u0628\u0627\u0631" // 5 words, like ru: the ASCII residue ("    ") collides
    val normU = graft.core.TextNorm.normalizeUnicode _
    val tokU = graft.core.TextNorm.tokensUnicode _
    val d = docs(1L -> ru, 2L -> (ru + "!"), 3L -> ar)
    // ASCII normalizer: all three docs hash md5("") -> one giant false
    // group; unicode: ru≡ru! (punctuation-normalized) dup, ar distinct
    val ascii = Dedup.exact(d).select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(ascii === Map(1L -> false, 2L -> true, 3L -> true))
    val uni = Dedup.exact(d, norm = normU)
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(uni === Map(1L -> false, 2L -> true, 3L -> false))
    // decontamination: an eval doc quoting the Cyrillic text only
    // contaminates when the tokenizer sees it
    val evalDocs = docs(100L -> ru)
    assert(Dedup.contaminatedIds(d, evalDocs).count() === 3) // "" shingle matches all
    val uniContam = Dedup.contaminatedIds(d, evalDocs, tok = tokU)
      .as[Long].collect().toSet
    assert(uniContam === Set(1L, 2L))
    // novelty: under unicode the Arabic doc is fully novel vs a
    // Cyrillic reference, the quoted docs are not
    val nov = Dedup.noveltyScore(d, Dedup.evalShingles(evalDocs, tok = tokU), tok = tokU)
      .select("doc_id", "novelty").as[(Long, Double)].collect().toMap
    assert(nov(3L) === 1.0)
    assert(nov(1L) === 0.0)
  }
}
