package graft

import graft.ops.Sampling
import SparkSpec.spark.implicits._

class SamplingSpec extends SparkSpec {

  private val df = (1L to 1000L).map(i => (i, s"lang${i % 3}")).toDF("id", "lang")

  test("trainValTest covers every row, roughly at requested fractions, deterministically") {
    val counts = Sampling.trainValTest(df, "id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum === 1000L)
    assert(counts("train") > 700 && counts("train") < 900) // 80% +- noise
    assert(counts.keySet === Set("train", "val", "test"))
    // stable across invocations
    val again = Sampling.trainValTest(df, "id")
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(again === counts)
  }

  test("invalid split percentages are rejected") {
    intercept[IllegalArgumentException](Sampling.trainValTest(df, "id", 95, 10))
  }

  test("stratified keeps at most N per stratum, rank dense from 1") {
    val got = Sampling.stratified(df, "lang", "id", 7)
      .select("lang", "sample_rank").as[(String, Int)].collect()
    val byLang = got.groupBy(_._1)
    assert(byLang.keySet === Set("lang0", "lang1", "lang2"))
    byLang.values.foreach { rows =>
      assert(rows.length === 7)
      assert(rows.map(_._2).sorted.toSeq === (1 to 7))
    }
  }

  test("stratifiedAggregated: row-identical to stratified, no per-stratum sort in the plan") {
    val viaWindow = Sampling.stratified(df, "lang", "id", 7)
      .select("lang", "id", "sample_rank").as[(String, Long, Int)].collect().toSet
    val agg = Sampling.stratifiedAggregated(df, "lang", "id", 7)
    val viaHeap = agg.select("lang", "id", "sample_rank")
      .as[(String, Long, Int)].collect().toSet
    // 52-bit-prefix order == full-md5 order on this data (no prefix ties)
    assert(viaHeap === viaWindow)
    // caps hold per stratum with dense ranks
    val byLang = viaHeap.groupBy(_._1)
    byLang.values.foreach(rows => assert(rows.map(_._3).toSeq.sorted === (1 to 7)))
    // the whole point: the aggregate path never sorts a stratum —
    // ranking comes from the bounded heap, not a Window/Sort
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("graft_top_k"), plan)
    assert(!plan.contains("Window"), plan)
    // non-id columns survive the recovery join
    assert(agg.columns.toSeq === Seq("id", "lang", "sample_rank"))
  }

  test("mixture keeps rate-0 sources empty, rate-1 sources whole, and is idempotent") {
    val d = (1L to 300L).map(i => (i, s"src${i % 3}")).toDF("id", "source")
    val kept = Sampling.mixture(d, "source", "id",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5)
    val bySrc = kept.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc("src0") === 100L)          // rate 1.0: everything
    assert(!bySrc.contains("src1"))         // rate 0.0: nothing
    assert(bySrc("src2") > 20 && bySrc("src2") < 80) // ~half, md5-spread
    // deterministic: the same call keeps exactly the same rows
    val again = Sampling.mixture(d, "source", "id",
      Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5)
    assert(again.select("id").as[Long].collect().toSet ===
      kept.select("id").as[Long].collect().toSet)
    assert(Sampling.mixture(d, "source", "id", Map.empty).count() === 300L)
  }

  test("packShards: per-bucket running token sums place each doc's first token") {
    import org.apache.spark.sql.functions.{col, conv, md5, substring}
    val d = (1L to 40L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val got = Sampling.packShards(d, tokenBudget = 10, buckets = 4)
      .as[(Long, Int, Int, Int)].collect()
    assert(got.length === 40)
    // recompute the packing per bucket in plain Scala
    got.groupBy(_._3).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, n, _, shard) =>
        assert(shard === (cum / 10).toInt)
        cum += n
      }
    }
    // bucket assignment is the deterministic md5 bucket
    val bucketCheck = d.select(col("doc_id"),
      (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 4).cast("int").as("b"))
      .as[(Long, Int)].collect().toMap
    got.foreach { case (id, _, b, _) => assert(b === bucketCheck(id)) }
  }

  test("writeShards: round-trip read-back equals input; manifest certifies the written files") {
    import org.apache.spark.sql.functions.col
    val d = (1L to 40L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val out = tempDir("graft-shards-").toString
    val returned = Sampling.writeShards(d, out, tokenBudget = 10, buckets = 4)
    // the returned manifest certifies the DISK artifact and equals the
    // pure plan-side manifest of the input
    val planned = Sampling.shardManifest(d, tokenBudget = 10, buckets = 4)
      .as[(Int, Int, Long, Long, String)].collect().toSet
    assert(returned.as[(Int, Int, Long, Long, String)].collect().toSet === planned)
    assert(planned.nonEmpty)
    // shard files: exactly one data file per shard directory
    val shardDirs = new java.io.File(s"$out/shards").listFiles()
      .filter(_.getName.startsWith("pack_bucket="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("shard_in_bucket=")))
    assert(shardDirs.length === planned.size)
    shardDirs.foreach { dir =>
      assert(dir.listFiles().count(_.getName.endsWith(".parquet")) === 1, dir.toString)
    }
    // read-back payload equality: every (doc_id, text) survives intact,
    // layout columns match the packing plan
    val back = spark.read.parquet(s"$out/shards")
    assert(back.select("doc_id", "text").as[(Long, String)].collect().toSet ===
      d.as[(Long, String)].collect().toSet)
    val assign = Sampling.packShards(d, tokenBudget = 10, buckets = 4)
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    back.select(col("doc_id"), col("n_tokens"), col("pack_bucket"), col("shard_in_bucket"))
      .as[(Long, Int, Int, Int)].collect()
      .foreach { case (id, n, b, s) => assert(assign(id) === ((n, b, s))) }
    // the stored manifest parquet matches what was returned
    assert(spark.read.parquet(s"$out/manifest")
      .as[(Int, Int, Long, Long, String)].collect().toSet === planned)
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("sm_docs")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_shard_manifest('sm_docs', 10, 4)")
      .as[(Int, Int, Long, Long, String)].collect().toSet === planned)
    // the audit passes on the intact artifact
    val audit = Sampling.verifyShards(spark, out)
      .as[(Int, Int, Boolean, String, String)].collect()
    assert(audit.length === planned.size && audit.forall(_._3), audit.mkString("\n"))
    // tamper with one shard (smuggle an extra row file in) → its audit
    // row goes red, every other shard stays green
    val victim = new java.io.File(s"$out/shards").listFiles()
      .filter(_.getName.startsWith("pack_bucket=")).head
      .listFiles().filter(_.getName.startsWith("shard_in_bucket=")).head
    val extraDir = tempDir("graft-extra-").toString
    Seq((999L, "sneaky injected row", 3)).toDF("doc_id", "text", "n_tokens")
      .coalesce(1).write.mode("overwrite").parquet(extraDir)
    val part = new java.io.File(extraDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(victim.toString, "smuggled.parquet"))
    val after = Sampling.verifyShards(spark, out)
      .as[(Int, Int, Boolean, String, String)].collect()
    val vb = victim.getParentFile.getName.stripPrefix("pack_bucket=").toInt
    val vs = victim.getName.stripPrefix("shard_in_bucket=").toInt
    assert(after.count(!_._3) === 1)
    val bad = after.find(!_._3).get
    assert((bad._1, bad._2) === ((vb, vs)))
    assert(bad._4 !== bad._5)
  }

  test("packSequences: long docs chunk to whole contexts, length bins fill deterministically, waste accounts exactly") {
    import org.apache.spark.sql.functions.col
    def toks(n: Int) = ("tok " * n).trim
    // A: 150 tokens -> chunks 64/64/22; B: 10; C: 70 -> 64/6
    val d = Seq((1L, toks(150)), (2L, toks(10)), (3L, toks(70)))
      .toDF("doc_id", "text")
    val got = Sampling.packSequences(d, context = 64, binWidth = 16, buckets = 1)
      .as[(Long, Int, Long, Int, Int, Int, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._5, r._6, r._7))).toMap
    // bin 4 (49-64 tokens): dps = 1, one chunk per sequence, fill order (1,0),(1,1),(3,0)
    assert(got((1L, 0)) === ((64L, 4, 0, 0)))
    assert(got((1L, 1)) === ((64L, 4, 1, 0)))
    assert(got((3L, 0)) === ((64L, 4, 2, 0)))
    // bin 2 (17-32): dps = 2; A's 22-token tail is alone in seq 0
    assert(got((1L, 2)) === ((22L, 2, 0, 0)))
    // bin 1 (1-16): dps = 4; B then C's 6-token tail share seq 0
    assert(got((2L, 0)) === ((10L, 1, 0, 0)))
    assert(got((3L, 1)) === ((6L, 1, 0, 1)))
    val eff = Sampling.packingEfficiency(d, context = 64, binWidth = 16, buckets = 1)
      .as[(Int, Int, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._2 -> ((r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    assert(eff(4) === ((3L, 3L, 192L, 192L, 0L, 1.0)))
    assert(eff(2) === ((1L, 1L, 22L, 64L, 42L, 0.34375)))
    assert(eff(1) === ((2L, 1L, 16L, 64L, 48L, 0.25)))
    // tokenless docs contribute nothing
    assert(Sampling.packSequences(Seq((9L, "")).toDF("doc_id", "text"), 64, 16).count() === 0L)
    // the counts-pluggable face agrees with the whitespace proxy when
    // fed whitespace counts (the packShardsCounts convention)
    val viaCounts = Sampling.packSequencesCounts(
      d.select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens")),
      64, 16, 1)
      .as[(Long, Int, Long, Int, Int, Int, Int)].collect().toSet
    assert(viaCounts ===
      Sampling.packSequences(d, 64, 16, 1)
        .as[(Long, Int, Long, Int, Int, Int, Int)].collect().toSet)
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("ps_docs")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_pack_sequences('ps_docs', 64, 16, 1)")
      .as[(Long, Int, Long, Int, Int, Int, Int)].collect().toSet ===
      Sampling.packSequences(d, 64, 16, 1)
        .as[(Long, Int, Long, Int, Int, Int, Int)].collect().toSet)
  }

  test("writeShardsBucketed: manifest equals writeShards'; doc_id join to bucketed signals plans ZERO exchanges") {
    import org.apache.spark.sql.functions.{col, length}
    val d = (1L to 40L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim)).toDF("doc_id", "text")
    val out = tempDir("graft-bshards-").toString
    val returned = Sampling.writeShardsBucketed(
      d, out, "ws_bucketed_t", tokenBudget = 10, buckets = 4, docBuckets = 8)
    // layout changes, manifest values don't: identical to the plain
    // writer's certified manifest (and the plan-side manifest)
    val planned = Sampling.shardManifest(d, tokenBudget = 10, buckets = 4)
      .as[(Int, Int, Long, Long, String)].collect().toSet
    assert(returned.as[(Int, Int, Long, Long, String)].collect().toSet === planned)
    assert(planned.nonEmpty)
    // payload round-trips through the registered table
    val table = graft.sources.BucketedStore.table(spark, "ws_bucketed_t")
    assert(table.select("doc_id", "text").as[(Long, String)].collect().toSet ===
      d.as[(Long, String)].collect().toSet)
    // the layout claim: a doc_id equi-join against an equally-bucketed
    // per-doc signals table plans ZERO shuffle exchanges (broadcast off
    // — the production scenario is fact-to-fact, too big to broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.BucketedStore.write(
        d.select(col("doc_id"), length(col("text")).as("sig")),
        "ws_bucketed_sig", s"$out/sig", "doc_id", 8, Seq("doc_id"))
      val joined = table.join(
        graft.sources.BucketedStore.table(spark, "ws_bucketed_sig"), "doc_id")
      assert(!graft.sources.BucketedStore.hasShuffle(joined),
        joined.queryExecution.executedPlan.toString)
      assert(joined.count() === 40L)
      // and a groupBy on the bucket key plans exchange-free too
      val agg = table.groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.sum("n_tokens"))
      assert(!graft.sources.BucketedStore.hasShuffle(agg))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writeShardsShuffled: rows land in seeded training order; manifest certifies disk") {
    import org.apache.spark.sql.functions.col
    val d = (1L to 60L).map(i => (i, ("tok " * (i % 5 + 1).toInt).trim)).toDF("doc_id", "text")
    val out = tempDir("graft-shuf-").toString
    val returned = Sampling.writeShardsShuffled(d, out, shards = 4, seed = 9L)
    val planned = Sampling.shuffledManifest(d, shards = 4, seed = 9L)
      .as[(Int, Long, Long, String)].collect().toSet
    assert(returned.as[(Int, Long, Long, String)].collect().toSet === planned)
    assert(planned.nonEmpty)
    // rows read back per shard IN FILE ORDER match the seeded
    // permutation exactly (pos_in_shard strictly increasing)
    val order = Sampling.shuffleOrder(d, "doc_id", 4, 9L)
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.sortBy(_._3).map(_._1).toSeq).toMap
    order.keys.foreach { sh =>
      val onDisk = spark.read.parquet(s"$out/shards/shard=$sh")
        .select("doc_id").as[Long].collect().toSeq
      assert(onDisk === order(sh), s"shard $sh")
    }
    // a different seed is a different artifact
    val other = Sampling.shuffledManifest(d, shards = 4, seed = 10L)
      .as[(Int, Long, Long, String)].collect().toSet
    assert(other.map(_._4) !== planned.map(_._4))
  }

  test("unimaxPlan: waterfilling caps small sources, splits the rest equally") {
    // token counts per source: A=10, B=50, C=100 (one doc each, N
    // single-char tokens); maxEpochs=1 → capacities are the counts
    def toks(n: Int): String = Seq.fill(n)("x").mkString(" ")
    val d = Seq(("A", toks(10)), ("B", toks(50)), ("C", toks(100)))
      .toDF("source", "text")
    // B=100: A capped (level 100/3=33.3 ≥ 10); B uncapped (45 < 50);
    // uncapped share = (100-10)/2 = 45 each
    val got = Sampling.unimaxPlan(d, "source", tokenBudget = 100L, maxEpochs = 1.0)
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A") === (("A", 10L, 10L, 10L, 1.0, true)))
    assert(got("B") === (("B", 50L, 50L, 45L, 0.9, false)))
    assert(got("C") === (("C", 100L, 100L, 45L, 0.45, false)))
    // budget above total capacity: everything capped at maxEpochs
    val all = Sampling.unimaxPlan(d, "source", tokenBudget = 1000L, maxEpochs = 2.0)
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
    assert(all.forall(r => r._6 && r._4 === r._3 && r._5 === 2.0))
    // epochs never exceed the cap anywhere
    val any = Sampling.unimaxPlan(d, "source", tokenBudget = 120L, maxEpochs = 1.5)
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
    assert(any.forall(_._5 <= 1.5))
    assert(any.map(_._4).sum <= 120L)
    // SQL surface parity (integer-epochs arity)
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("um_docs")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_unimax('um_docs', 'source', 100, 1)")
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap === got)
  }

  test("temperatureRates: smallest source pins rate 1, ratios follow p^(1/T-1)") {
    // p = 0.8 / 0.2 at T=2 gives rates (0.2/0.8)^0.5 = 0.5 and 1.0 exactly
    val d = ((1L to 8L).map(i => (i, "A")) ++ (9L to 10L).map(i => (i, "B")))
      .toDF("id", "source")
    val rates = Sampling.temperatureRates(d, "source", 2.0)
      .as[(String, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rates("B")._2 === 1.0)
    assert(rates("A")._2 === 0.5)
    assert(rates("A")._1 === 8L && rates("B")._1 === 2L)
    // T = 1 keeps everything
    assert(Sampling.temperatureRates(d, "source", 1.0)
      .select("rate").as[Double].collect().forall(_ === 1.0))
    intercept[IllegalArgumentException](Sampling.temperatureRates(d, "source", 0.5))
  }

  test("mixtureTemperature keeps exactly the rows mixture keeps at the computed rates") {
    val d = ((1L to 80L).map(i => (i, "A")) ++ (81L to 100L).map(i => (i, "B")))
      .toDF("id", "source")
    // same 0.8/0.2 split: computed rates are exactly A -> 0.5, B -> 1.0
    val viaTemp = Sampling.mixtureTemperature(d, "source", "id", 2.0)
      .select("id").as[Long].collect().toSet
    val viaStatic = Sampling.mixture(d, "source", "id", Map("A" -> 0.5, "B" -> 1.0))
      .select("id").as[Long].collect().toSet
    assert(viaTemp === viaStatic)
    assert(viaTemp.count(_ > 80L) === 20) // all of the small source survives
  }

  test("epochPlan: desired from weights, planned capped at maxEpochs, truncation flagged") {
    val d = Seq(
      (1L, "X", "a b c d e"), (2L, "X", "f g h i j"),     // X: 10 tokens
      (3L, "Y", "a b c d e f g h i j"))                    // Y: 10 tokens
      .toDF("doc_id", "source", "text")
    val got = Sampling.epochPlan(d, "source",
      Map("X" -> 0.75, "Y" -> 0.25), tokenBudget = 40L, maxEpochs = 2.0)
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // X: desired 30, cap 20 -> truncated at 2.0 epochs
    assert(got("X") === (("X", 10L, 30L, 20L, 2.0, true)))
    // Y: desired 10 fits within 2 epochs of 10 tokens
    assert(got("Y") === (("Y", 10L, 10L, 10L, 1.0, false)))
    intercept[IllegalArgumentException](
      Sampling.epochPlan(d, "source", Map("X" -> 1.0), tokenBudget = 0L))
    intercept[IllegalArgumentException](
      Sampling.epochPlan(d, "source", Map.empty, tokenBudget = 10L))
  }

  test("epochPlan: weighted-but-absent and tokenless sources surface as truncated 0-token rows") {
    val d = Seq(
      (1L, "X", "a b c d e f g h i j"),                      // X: 10 tokens
      (2L, "E", ""))                                         // E: present, tokenless
      .toDF("doc_id", "source", "text")
    val got = Sampling.epochPlan(d, "source",
      Map("X" -> 0.5, "Z" -> 0.25, "E" -> 0.25), tokenBudget = 40L, maxEpochs = 2.0)
      .as[(String, Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // Z is weighted but has no corpus rows: the warning row must exist,
    // with epochs 0.0 (not NULL) and the truncation bit set
    assert(got("Z") === (("Z", 0L, 10L, 0L, 0.0, true)))
    // E is present but tokenless: same degenerate handling, no 0/0 NULL
    assert(got("E") === (("E", 0L, 10L, 0L, 0.0, true)))
    assert(got("X") === (("X", 10L, 20L, 20L, 2.0, false)))
    assert(got.size === 3)
  }

  test("shuffleOrder: seeded permutation — dense per-shard positions, unique interleave, seed-sensitive") {
    val d = (1L to 400L).toDF("doc_id")
    val a = Sampling.shuffleOrder(d, "doc_id", shards = 8, seed = 7L)
      .as[(Long, Int, Long, Long)].collect()
    // every doc exactly once, shards in range
    assert(a.length === 400 && a.map(_._1).toSet === (1L to 400L).toSet)
    assert(a.forall(r => r._2 >= 0 && r._2 < 8))
    // positions dense 0..n_s-1 within each shard; interleave_pos unique
    a.groupBy(_._2).values.foreach { s =>
      assert(s.map(_._3).sorted.toSeq === (0L until s.length).toSeq)
    }
    assert(a.map(_._4).distinct.length === 400)
    // bit-for-bit reproducible at the same seed
    val a2 = Sampling.shuffleOrder(d, "doc_id", shards = 8, seed = 7L)
      .as[(Long, Int, Long, Long)].collect()
    assert(a.sortBy(_._1).toSeq === a2.sortBy(_._1).toSeq)
    // a different seed is a genuinely different permutation
    val b = Sampling.shuffleOrder(d, "doc_id", shards = 8, seed = 8L)
      .as[(Long, Int, Long, Long)].collect()
    assert(a.sortBy(_._1).map(_._4).toSeq !== b.sortBy(_._1).map(_._4).toSeq)
    // the order is not the identity (it actually shuffles)
    assert(a.sortBy(_._4).map(_._1).toSeq !== (1L to 400L).toSeq)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("budgetedMixtureCounts == naive hash-order fill; boundary/exhaust/tokenless/unweighted edges") {
    // 600 docs over 3 sources so many of the 256 hash buckets are
    // interior (the wholesale keep/drop path really runs), plus
    // engineered edges: tokenless docs, an unweighted source, and a
    // source whose share exceeds its availability
    val rows = (1L to 600L).map { i =>
      val src = s"s${i % 3}"
      val tok = if (i % 97 == 0) 0L else 1L + i % 13
      (i, src, tok)
    }
    val counts = rows.toDF("doc_id", "source", "n_tokens")
    val weights = Map("s0" -> 1.0, "s1" -> 3.0) // s2 unweighted
    val budget = 900L
    val wSum = weights.values.sum
    val got = Sampling.budgetedMixtureCounts(counts, weights, budget)
      .as[(String, Long, Long)].collect().toSet
    // plain-Scala reference: per source, md5(doc_id) order, running sum,
    // keep while cum_before < floor(budget*w/sum)
    val expected = rows.filter(_._3 > 0).groupBy(_._2).flatMap { case (src, docs) =>
      val desired = weights.get(src).map(w => math.floor(budget * w / wSum).toLong).getOrElse(0L)
      var cum = 0L
      docs.sortBy(d => (md5hex(d._1.toString), d._1)).flatMap { d =>
        val keep = desired > 0 && cum < desired
        cum += d._3
        if (keep) Some((src, d._1, d._3)) else None
      }
    }.toSet
    assert(got === expected)
    // the edges actually occurred: s1's fill stopped mid-source (boundary
    // doc included, so kept tokens reach or just overflow the share)...
    val s1Desired = math.floor(budget * 3.0 / wSum).toLong
    val s1Kept = got.filter(_._1 == "s1").toSeq.map(_._3).sum
    assert(s1Kept >= s1Desired && got.count(_._1 == "s1") < rows.count(_._2 == "s1"))
    // ...s2 contributed nothing, and no tokenless doc was selected
    assert(!got.exists(_._1 == "s2"))
    assert(got.forall(_._3 > 0))
    // a share larger than the whole source keeps every tokenful doc
    val all = Sampling.budgetedMixtureCounts(counts, Map("s0" -> 1.0), 1000000L)
      .as[(String, Long, Long)].collect()
    assert(all.map(_._2).toSet ===
      rows.filter(r => r._2 == "s0" && r._3 > 0).map(_._1).toSet)
  }

  test("leakageSafeSplit: clusters never straddle splits; singletons match trainValTest") {
    val docs = (1L to 300L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    // three engineered clusters whose canonical ids differ
    val clusters = Seq(
      (10L, 10L), (57L, 10L), (203L, 10L),
      (20L, 20L), (88L, 20L),
      (31L, 31L), (32L, 31L), (33L, 31L)
    ).toDF("doc_id", "cluster_id")
    val got = Sampling.leakageSafeSplit(docs, clusters)
      .select("doc_id", "split_key", "split").as[(Long, Long, String)].collect()
    assert(got.length === 300)
    val bySplit = got.map(r => r._1 -> r._3).toMap
    // every cluster member carries its representative's split
    assert(Set(bySplit(10L), bySplit(57L), bySplit(203L)).size === 1)
    assert(Set(bySplit(20L), bySplit(88L)).size === 1)
    assert(Set(bySplit(31L), bySplit(32L), bySplit(33L)).size === 1)
    // members hash the representative, singletons hash themselves
    got.foreach { case (id, key, _) =>
      val expectKey = Map(57L -> 10L, 203L -> 10L, 88L -> 20L, 32L -> 31L, 33L -> 31L)
      assert(key === expectKey.getOrElse(id, if (Set(10L, 20L, 31L)(id)) id else id))
    }
    // for docs in no cluster the assignment is IDENTICAL to trainValTest
    val plain = Sampling.trainValTest(docs, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val clustered = Set(10L, 57L, 203L, 20L, 88L, 31L, 32L, 33L)
    got.filterNot(r => clustered(r._1)).foreach { case (id, _, split) =>
      assert(split === plain(id), s"singleton $id moved")
    }
    // the audit certifies the guarantee: safe -> zero straddling;
    // plain -> matches a brute-force recount of cluster split spread
    val safeAudit = Sampling.splitLeakageAudit(
        Sampling.leakageSafeSplit(docs, clusters), clusters)
      .as[(Long, Long, Long)].head()
    assert(safeAudit === ((3L, 0L, 0L)))
    val plainAudit = Sampling.splitLeakageAudit(
        Sampling.trainValTest(docs, "doc_id"), clusters)
      .as[(Long, Long, Long)].head()
    val members = Map(10L -> Seq(10L, 57L, 203L), 20L -> Seq(20L, 88L), 31L -> Seq(31L, 32L, 33L))
    val straddlers = members.values.filter(ms => ms.map(plain).toSet.size > 1)
    assert(plainAudit === ((3L, straddlers.size.toLong, straddlers.map(_.size).sum.toLong)))
    // SQL surface parity: both TVFs over the stored-table shapes
    graft.plans.GraftExtensions.install(spark)
    docs.createOrReplaceTempView("lss_docs")
    clusters.createOrReplaceTempView("lss_clusters")
    val viaSql = spark.sql("SELECT doc_id, split_key, split FROM graft_split_safe('lss_docs', 'lss_clusters')")
      .as[(Long, Long, String)].collect().toSet
    assert(viaSql === got.toSet)
    Sampling.leakageSafeSplit(docs, clusters).select("doc_id", "split")
      .createOrReplaceTempView("lss_split")
    assert(spark.sql("SELECT * FROM graft_split_audit('lss_split', 'lss_clusters')")
      .as[(Long, Long, Long)].head() === ((3L, 0L, 0L)))
  }

  test("contextPlanCounts: spans split at fixed boundaries, offsets exact, empty docs span nothing") {
    // one bucket → one deterministic stream ordered by doc_id:
    // tokens 5, 10, 3, 0 at ctxLen=8 → offsets [0,4], [5,14], [15,17], —
    val counts = Seq((1L, 5L), (2L, 10L), (3L, 3L), (4L, 0L))
      .toDF("doc_id", "n_tokens")
    val got = Sampling.contextPlanCounts(counts, ctxLen = 8, buckets = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "start_ctx", "end_ctx", "n_contexts", "head_offset")
      .collect()
    assert(got(0).toSeq === Seq(1L, 5, 0, 0, 1, 0))
    assert(got(1).toSeq === Seq(2L, 10, 0, 1, 2, 5))
    assert(got(2).toSeq === Seq(3L, 3, 1, 2, 2, 7))
    assert(got(3).getInt(4) === 0)          // empty doc: zero contexts...
    assert(got(3).isNullAt(2) && got(3).isNullAt(3) && got(3).isNullAt(5)) // ...and no span
  }

  test("contextPlan: per-bucket streams are gapless and heads line up with running token sums") {
    val docs = (1L to 200L)
      .map(i => (i, if (i % 17 == 0) "" else ("w " * ((i % 23).toInt + 1)).trim))
      .toDF("doc_id", "text")
    val plan = Sampling.contextPlan(docs, ctxLen = 16, buckets = 4).cache()
    try {
      assert(plan.count() === 200)
      // within a bucket, docs tile the token stream with no gaps:
      // head_offset must equal the previous docs' token sum mod ctxLen
      val byBucket = plan.orderBy("pack_bucket", "doc_id")
        .select("pack_bucket", "n_tokens", "start_ctx", "head_offset")
        .as[(Int, Int, Option[Int], Option[Int])].collect()
        .groupBy(_._1).values
      byBucket.foreach { rows =>
        var cum = 0L
        rows.foreach { case (_, n, startCtx, head) =>
          if (n > 0) {
            assert(head.get === (cum % 16).toInt)
            assert(startCtx.get === (cum / 16).toInt)
          } else assert(startCtx.isEmpty && head.isEmpty)
          cum += n
        }
      }
      // SQL surface parity
      graft.plans.GraftExtensions.install(spark)
      docs.createOrReplaceTempView("cp_docs")
      assert(spark.sql("SELECT * FROM graft_context_plan('cp_docs', 16, 4)")
        .collect().map(_.toSeq).toSet === plan.collect().map(_.toSeq).toSet)
      // the fill summary agrees with the plan it summarizes: per
      // bucket, n_contexts = the plan's max end_ctx + 1, and the fill
      // ratio is total/(n_contexts*ctx)
      val summary = Sampling.contextPlanSummary(docs, ctxLen = 16, buckets = 4)
        .as[(Int, Long, Long, Long, Option[Double])].collect()
        .map(r => r._1 -> r).toMap
      val byB = plan.orderBy("pack_bucket", "doc_id")
        .select("pack_bucket", "n_tokens", "end_ctx")
        .as[(Int, Int, Option[Int])].collect().groupBy(_._1)
      byB.foreach { case (b, rows) =>
        val (_, nDocs, total, nCtx, fill) = summary(b)
        assert(nDocs === rows.length.toLong)
        assert(total === rows.map(_._2.toLong).sum)
        assert(nCtx === rows.flatMap(_._3).maxOption.map(_ + 1L).getOrElse(0L),
          s"bucket $b: summary contexts must equal the plan's last context + 1")
        assert(fill.get === math.rint(total.toDouble / (nCtx * 16) * 1e6) / 1e6)
      }
      // summary plan is window-free (the whole point)
      assert(!Sampling.contextPlanSummary(docs, 16, 4)
        .queryExecution.executedPlan.toString.contains("Window"))
    } finally plan.unpersist()
  }
}
