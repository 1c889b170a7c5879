package graft

import graft.ops.{Curation, Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._
import SparkSpec.spark.implicits._

class CurationSpec extends SparkSpec {

  // A corpus engineered so each stage drops exactly one known doc:
  //   2 -> quality (2 tokens), 3 -> language (German argmax, but one
  //   'the' so it still clears the quality stopword rule), 41/42 ->
  //   identical text, 42 loses near-dedup to the smaller id, 5 ->
  //   shares the 3-shingle "alpha beta gamma" with the eval doc,
  //   6 -> source src2 with mixture rate 0. Survivors: 1, 41.
  private val en1 =
    "the quick brown fox jumps over the lazy dog once more today"
  private val dupText =
    "a very ordinary sentence about the weather and some other plain topics"
  private val contamText =
    "this document quotes alpha beta gamma verbatim from the secret eval set"
  private val mixText =
    "the mixture stage will remove this document by its source rate alone"
  private val docs = Seq(
    (1L, en1, "src0"),
    (2L, "short text", "src0"),
    (3L, "der die das und ist nicht ein eine von zu the", "src0"),
    (41L, dupText, "src0"),
    (42L, dupText, "src0"),
    (5L, contamText, "src0"),
    (6L, mixText, "src2")
  ).toDF("doc_id", "text", "source")
  private val evalDocs = Seq(
    (9001L, "eval question mentions alpha beta gamma explicitly")
  ).toDF("doc_id", "text")
  private val rates = Map("src2" -> 0.0)

  test("curateToShards: the chain's survivors land on disk as certified per-split shards") {
    // 40 clean distinct English docs (unique shingles → no near-dups)
    // + the known-drop docs from the designed corpus
    val big = ((1L to 40L).map(i =>
      (i, s"the quick number$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i and", "src0")) ++
      Seq((101L, "short text", "src0"), (102L, contamText, "src0")))
      .toDF("doc_id", "text", "source")
    val out = tempDir("graft-cts-").toString
    val written = Curation.curateToShards(big, evalDocs, out, tokenBudget = 30, buckets = 4)
      .select("split", "n_docs").as[(String, Long)].collect()
    val manifest = Curation.curate(big, evalDocs)
      .select("split", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // every nonempty split got shards whose doc totals match the chain
    assert(written.nonEmpty)
    written.groupBy(_._1).foreach { case (sp, rows) =>
      assert(rows.map(_._2).sum === manifest(sp).size.toLong, sp)
    }
    manifest.keys.foreach { sp =>
      // the written artifact audits clean and holds exactly the
      // manifest's doc ids for that split
      val audit = Sampling.verifyShards(spark, s"$out/$sp")
        .select("ok").as[Boolean].collect()
      assert(audit.nonEmpty && audit.forall(identity), sp)
      assert(spark.read.parquet(s"$out/$sp/shards").select("doc_id")
        .as[Long].collect().toSet === manifest(sp), sp)
    }
    // the dropped docs are nowhere in the artifact
    val allWritten = manifest.keys.flatMap(sp =>
      spark.read.parquet(s"$out/$sp/shards").select("doc_id").as[Long].collect()).toSet
    assert(!allWritten.contains(101L) && !allWritten.contains(102L))
  }

  test("curateToShards docIdBuckets opt-in: bucketed splits register tables, manifests identical to the plain layout") {
    val big = ((1L to 40L).map(i =>
      (i, s"the quick number$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i and", "src0")) ++
      Seq((101L, "short text", "src0"), (102L, contamText, "src0")))
      .toDF("doc_id", "text", "source")
    val outPlain = tempDir("graft-ctsp-").toString
    val outBucketed = tempDir("graft-ctsb-").toString
    val plain = Curation.curateToShards(big, evalDocs, outPlain, tokenBudget = 30, buckets = 4)
      .as[(Int, Int, Long, Long, String, String)].collect().toSet
    val bucketed = Curation.curateToShards(big, evalDocs, outBucketed,
      tokenBudget = 30, buckets = 4, docIdBuckets = 8, tablePrefix = "cts_bucketed")
      .as[(Int, Int, Long, Long, String, String)].collect().toSet
    assert(bucketed === plain, "layout opt-in must not change manifest values")
    assert(bucketed.nonEmpty)
    // each nonempty split registered its doc_id-bucketed table with the payload
    val splits = plain.map(_._6)
    splits.foreach { sp =>
      val t = graft.sources.BucketedStore.table(spark, s"cts_bucketed_$sp")
      assert(t.select("doc_id").as[Long].collect().toSet ===
        spark.read.parquet(s"$outPlain/$sp/shards").select("doc_id").as[Long].collect().toSet, sp)
    }
  }

  test("funnelSamples: each designed drop shows up at exactly its stage") {
    val got = Curation.funnelSamples(docs, evalDocs, n = 5, rates = rates)
      .as[(Int, String, Long, Int)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).toSet).toMap
    assert(got === Map(
      (2, "quality") -> Set(2L),
      (3, "language") -> Set(3L),
      (4, "near_dedup") -> Set(42L),
      (5, "decontaminate") -> Set(5L),
      (6, "mixture") -> Set(6L)))
    // n caps the examples: with n=1 every stage still reports its doc
    // (each stage drops exactly one here)
    assert(Curation.funnelSamples(docs, evalDocs, n = 1, rates = rates).count() === 5)
    // with a blocklist the indices shift exactly as funnel()'s rows do
    val bl = Curation.funnelSamples(
      docs, evalDocs, n = 5, rates = rates, blocklist = Seq("weather"))
      .as[(Int, String, Long, Int)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).toSet).toMap
    // 41/42 both contain 'weather' → they drop at the blocklist stage;
    // near_dedup then has nothing left to drop
    assert(bl((4, "blocklist")) === Set(41L, 42L))
    assert(!bl.contains((5, "near_dedup")))
    assert(bl((6, "decontaminate")) === Set(5L) && bl((7, "mixture")) === Set(6L))
  }

  test("rowFlags fuses qualityScore.keep and languageId.pred_lang into one pass") {
    val flags = Curation.rowFlags(docs, minTokens = 10)
      .select("doc_id", "q_keep", "pred_lang").as[(Long, Boolean, String)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val viaQuality = TextAnalysis.qualityScore(docs)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    val viaLang = TextAnalysis.languageId(docs)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    docs.select("doc_id").as[Long].collect().foreach { id =>
      assert(flags(id)._1 === viaQuality(id), s"q_keep mismatch for doc $id")
      assert(flags(id)._2 === viaLang(id), s"pred_lang mismatch for doc $id")
    }
    // the engineered corpus exercises both flags
    assert(!flags(2L)._1)
    assert(flags(3L)._1 && flags(3L)._2 === "de")
  }

  test("curate drops each doc at its designed stage; survivors carry split labels") {
    val out = Curation.curate(docs, evalDocs, rates = rates)
    assert(out.columns.toSeq === Seq("doc_id", "source", "pred_lang", "split"))
    val rows = out.as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 41L))
    rows.foreach { r =>
      assert(r._3 === "en")
      assert(Set("train", "val", "test").contains(r._4))
    }
    // deterministic: a second run is row-identical (split included)
    val again = Curation.curate(docs, evalDocs, rates = rates)
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(again.toSeq === rows.toSeq)
    // the opt-in length-ratio prefilter cannot prune exact-copy dups
    // (size ratio 1.0) — manifest unchanged at the design threshold
    val withFloor = Curation.curate(docs, evalDocs, rates = rates, sizeRatioFloor = 0.84)
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(withFloor.toSeq === rows.toSeq)
  }

  test("funnel counts each stage's surviving docs AND tokens; last stage equals curate") {
    val f = Curation.funnel(docs, evalDocs, rates = rates)
      .as[(Int, String, Long, Long)].collect().sortBy(_._1)
    assert(f.map(r => (r._1, r._2)).toSeq === Seq(
      1 -> "ingest", 2 -> "quality", 3 -> "language",
      4 -> "near_dedup", 5 -> "decontaminate", 6 -> "mixture"))
    assert(f.map(_._3).toSeq === Seq(7L, 6L, 5L, 4L, 3L, 2L))
    // token attrition: monotone non-increasing, ingest = whole-corpus
    // token count, terminal = the survivors' own token counts
    val tokensOf = graft.ops.TextAnalysis.tokenStats(docs)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(f.head._4 === tokensOf.values.sum)
    assert(f.map(_._4).toSeq === f.map(_._4).toSeq.sorted.reverse)
    assert(f.last._4 === tokensOf(1L) + tokensOf(41L))
    // the funnel's terminal count is curate's cardinality by construction
    assert(f.last._3 === Curation.curate(docs, evalDocs, rates = rates).count())
  }

  test("curateWithFunnel: both outputs match the standalone calls, from one drop-set computation") {
    val r = Curation.curateWithFunnel(docs, evalDocs, rates = rates)
    // manifest half ≡ curate
    val fusedM = r.manifest.as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    val aloneM = Curation.curate(docs, evalDocs, rates = rates)
      .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
    assert(fusedM === aloneM)
    // funnel half ≡ funnel
    val fusedF = r.funnel.as[(Int, String, Long, Long)].collect().sortBy(_._1).toSeq
    val aloneF = Curation.funnel(docs, evalDocs, rates = rates)
      .as[(Int, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fusedF === aloneF)
    // and the chain's designed outcome holds end to end
    assert(fusedM.map(_._1) === Seq(1L, 41L))
    assert(fusedF.map(_._3) === Seq(7L, 6L, 5L, 4L, 3L, 2L))
    // no samples output unless asked for
    assert(r.samples.isEmpty)
  }

  test("Par carries the caller's strategy: under Persist, curateWithFunnel's contamination tables are cached, not checkpointed") {
    import graft.core.Materialize
    spark.sharedState.cacheManager.clearCache()
    try {
      // the contamination tables (and the cluster chain) are built on
      // Par's pool threads; a pool thread that lost the caller's scope
      // would checkpoint them eagerly (an ExistingRDD scan)
      val r = Materialize.using(Materialize.Persist) {
        Curation.curateWithFunnel(docs, evalDocs, rates = rates)
      }
      val plan = r.funnel.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), plan)
      assert(!plan.contains("ExistingRDD"), plan)
      assert(r.funnel.as[(Int, String, Long, Long)].collect().sortBy(_._1).map(_._3).toSeq ===
        Seq(7L, 6L, 5L, 4L, 3L, 2L))
    } finally {
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("curateWithFunnel(samples = n): third output ≡ standalone funnelSamples, same drop sets") {
    val r = Curation.curateWithFunnel(docs, evalDocs, rates = rates, samples = 5)
    val fusedS = r.samples.get.as[(Int, String, Long, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    val aloneS = Curation.funnelSamples(docs, evalDocs, n = 5, rates = rates)
      .as[(Int, String, Long, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
    assert(fusedS === aloneS)
    // manifest + funnel are still the standalone values beside it
    assert(r.manifest.as[(Long, String, String, String)].collect().map(_._1).sorted.toSeq
      === Seq(1L, 41L))
  }

  test("SplitMode.LeakageSafe: parity with standalone leakageSafeSplit over the shared graph; audit zero; clusters exposed") {
    val r = Curation.curateWithFunnel(docs, evalDocs, rates = rates,
      split = Curation.SplitMode.LeakageSafe)
    // the exposed cluster table is the chain's graph: 41/42 one cluster
    val cl = r.clusters.as[(Long, Long)].collect().toMap
    assert(cl === Map(41L -> 41L, 42L -> 41L))
    // parity: the manifest's split equals Sampling.leakageSafeSplit
    // stamped from the SAME cluster table — no second graph build
    val viaStandalone = Sampling.leakageSafeSplit(
      r.manifest.select("doc_id"), r.clusters)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val got = r.manifest.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got === viaStandalone)
    // certificate: the manifest audits leak-free against the chain graph
    val audit = Sampling.splitLeakageAudit(r.manifest, r.clusters)
      .as[(Long, Long, Long)].collect().head
    assert(audit._2 === 0L, s"straddling clusters: $audit")
    // honesty pin: with drop-losers dedup every survivor is its own
    // representative, so LeakageSafe coincides with the default Hash
    val viaHash = Curation.curate(docs, evalDocs, rates = rates)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got === viaHash)
    // funnel unchanged by split mode
    assert(r.funnel.as[(Int, String, Long, Long)].collect().sortBy(_._1).map(_._3).toSeq
      === Seq(7L, 6L, 5L, 4L, 3L, 2L))
  }

  test("stage predicates compose the standalone operators' own answers") {
    // near-dedup losers over the quality+language survivors: only 42
    val s1 = Curation.rowFlags(docs, 10)
      .filter(col("q_keep") && col("pred_lang") === "en")
    assert(Dedup.nearDupLosers(s1).as[Long].collect().toSeq === Seq(42L))
    // contamination over the dedup survivors: only 5
    val s2 = s1.filter(col("doc_id") =!= 42L)
    assert(Dedup.contaminatedIds(s2, evalDocs).as[Long].collect().toSeq === Seq(5L))
    // mixture predicate: src2 at rate 0 always drops, default rate keeps
    val kept = docs.filter(Sampling.mixtureKeep("source", "doc_id", rates))
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(6L) && kept.contains(1L))
  }

  test("composition plan shape: no Window sort, no cartesian product anywhere in the chain") {
    // the chain's ranking-free design: every per-group decision is an
    // aggregate (cluster min-label, funnel conditional counts), never a
    // partition-sort; candidate generation is always keyed, never all-pairs
    for ((name, df) <- Seq(
        "curate" -> Curation.curate(docs, evalDocs, rates = rates),
        "funnel" -> Curation.funnel(docs, evalDocs, rates = rates))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name plans a Window sort:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  // DSIR fixtures: raw doc 11 is a verbatim substring of a target doc
  // (every bigram target-seen), 12 uses fully disjoint vocabulary
  // (every bigram target-unseen, log-ratio negative), 13 has one token
  // (no bigram features at all)
  private val dsirTarget = Seq(
    (9101L, "solar panels convert sunlight into clean renewable energy for the power grid"),
    (9102L, "wind turbines and solar panels feed clean renewable energy into the grid")
  ).toDF("doc_id", "text")
  private val dsirRaw = Seq(
    (11L, "solar panels convert sunlight into clean renewable energy"),
    (12L, "medieval castles hosted banquets with minstrels jesters and roasted boar"),
    (13L, "word")
  ).toDF("doc_id", "text")

  test("importanceWeights: target-like docs outscore unrelated; featureless docs NULL") {
    val rows = Curation.importanceWeights(dsirRaw, dsirTarget)
      .select("doc_id", "n_feats", "log_weight")
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows.keySet === Set(11L, 12L, 13L))
    assert(rows(13L) === ((0L, None)), "a <2-token doc has no features and no weight")
    assert(rows(11L)._1 === 7L && rows(12L)._1 === 9L)
    val (w11, w12) = (rows(11L)._2.get, rows(12L)._2.get)
    assert(w11 > w12, s"target-substring doc should outscore disjoint-vocab doc: $w11 vs $w12")
    assert(w12 < 0, s"all-target-unseen bigrams must score negative: $w12")
  }

  test("importanceTopK matches sorted importanceWeights; no Window, no cartesian") {
    val ranked = Curation.importanceTopK(dsirRaw, dsirTarget, k = 2)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"selection must be bounded-heap, not a Window sort:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
    val got = ranked.select("doc_id", "log_weight", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    val expected = Curation.importanceWeights(dsirRaw, dsirTarget)
      .where(col("log_weight").isNotNull)
      .as[(Long, Long, Double)].collect()
      .sortBy(r => (-r._3, r._1)).take(2).zipWithIndex
      .map { case (r, i) => (r._1, r._3, i + 1) }.toSeq
    assert(got === expected)
    assert(got.head._1 === 11L, "the target-substring doc ranks first")
  }

  test("refactored splitCol/mixtureKeep leave trainValTest/mixture behavior unchanged") {
    val df = (1L to 500L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val viaOp = Sampling.trainValTest(df, "doc_id").groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(viaOp.values.sum === 500L)
    val viaCol = df.select(Sampling.splitCol("doc_id").as("split"))
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(viaCol === viaOp)
    val opRows = Sampling.mixture(df, "source", "doc_id", Map("src1" -> 0.3), 0.5)
      .select("doc_id").as[Long].collect().toSet
    val colRows = df.filter(Sampling.mixtureKeep("source", "doc_id", Map("src1" -> 0.3), 0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(opRows === colRows && opRows.nonEmpty)
  }

  test("classifierScore with uniform weights counts features exactly; featureless docs never keep") {
    // w = 1 for every bucket -> logit == n_feats == (2*len - 1):
    // exercises the hash join + decimal sum without replicating md5
    val uniform = SparkSpec.spark.range(16).select(col("id").as("b"),
      lit(BigDecimal(1.0)).cast("decimal(18,6)").as("w"))
    val d = Seq((1L, "alpha beta gamma"), (2L, "solo"), (3L, "??!!"))
      .toDF("doc_id", "text")
    val got = Curation.classifierScore(d, uniform, buckets = 16)
      .as[(Long, Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((5L, Some(5.0), true)))   // 3 unigrams + 2 bigrams
    assert(got(2L) === ((1L, Some(1.0), true)))
    // "??!!" normalizes to no tokens: NULL logit, keep = false
    assert(got(3L) === ((0L, None, false)))
    // a positive bias above the best logit rejects everything
    assert(Curation.classifierScore(d, uniform, buckets = 16, bias = 6.0)
      .filter(col("keep")).count() === 0)
    // pruned (sparse) weight table: absent buckets score 0 but still
    // count as features — n_feats unchanged, logit shrinks
    val empty = uniform.filter(col("b") < 0)
    val sparse = Curation.classifierScore(d, empty, buckets = 16)
      .as[(Long, Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(sparse(1L) === ((5L, Some(0.0))))
    assert(sparse(3L) === ((0L, None)))
  }

  test("classifierWeights + classifierScore separate pos-like from neg-like docs") {
    val pos = Seq(
      (1L, "astronomy telescope galaxy nebula observation"),
      (2L, "telescope observation of the galaxy and nebula"),
      (3L, "galaxy nebula astronomy telescope survey")).toDF("doc_id", "text")
    val neg = Seq(
      (4L, "buy cheap pills now click here buy now"),
      (5L, "click here now cheap pills buy cheap"),
      (6L, "now now click buy pills here cheap")).toDF("doc_id", "text")
    val w = Curation.classifierWeights(pos, neg, buckets = 256)
    // full domain: every bucket priced exactly once
    assert(w.count() === 256L && w.select("b").distinct().count() === 256L)
    val unseen = Seq((10L, "telescope survey of a distant nebula"),
      (11L, "cheap pills click now")).toDF("doc_id", "text")
    val scored = Curation.classifierScore(unseen, w, buckets = 256)
      .as[(Long, Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(scored === Map(10L -> true, 11L -> false))
  }

  test("classifierScored: one shared feature stream ≡ classifierWeights + classifierScore") {
    // labeled partition of one corpus (the sweep-family shape): the
    // shared-stream trainer/scorer must be row-identical to the
    // separate-passes pair on BOTH outputs, including featureless docs
    val d = Seq(
      (1L, "astronomy telescope galaxy nebula observation", true),
      (2L, "telescope observation of the galaxy and nebula", true),
      (3L, "galaxy nebula astronomy telescope survey", true),
      (4L, "buy cheap pills now click here buy now", false),
      (5L, "click here now cheap pills buy cheap", false),
      (6L, "??!!", false) // featureless: trains nothing, scores NULL
    ).toDF("doc_id", "text", "is_pos")
    val cs = Curation.classifierScored(d, col("is_pos"), buckets = 64, bias = 0.5)
    val wRef = Curation.classifierWeights(
      d.filter(col("is_pos")), d.filter(!col("is_pos")), buckets = 64)
    val sRef = Curation.classifierScore(d, wRef, buckets = 64, bias = 0.5)
    assert(cs.weights.as[(Long, BigDecimal)].collect().sortBy(_._1).toSeq ===
      wRef.as[(Long, BigDecimal)].collect().sortBy(_._1).toSeq)
    assert(cs.scored.as[(Long, Long, Option[Double], Boolean)].collect()
      .sortBy(_._1).toSeq ===
      sRef.as[(Long, Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq)
    // the biased-from gate over the shared scored table equals the
    // re-scoring form (the q_classifier_score_by rewrite)
    val biases = Seq(("en", 1.0), ("de", -1.0)).toDF("lang", "bias")
    val dg = d.withColumn("lang", when(col("doc_id") % 2 === 0, "en").otherwise("de"))
    val viaFrom = Curation.classifierScoreBiasedFrom(cs.scored, dg, biases, "lang")
      .as[(Long, String, Long, Option[Double], Double, Boolean)].collect().sortBy(_._1).toSeq
    val viaScore = Curation.classifierScoreBiased(dg, wRef, biases, "lang", buckets = 64)
      .as[(Long, String, Long, Option[Double], Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(viaFrom === viaScore)
  }

  test("SQL surface: graft_curate TVF matches the Column-API chain, both arities") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    docs.createOrReplaceTempView("curd")
    evalDocs.createOrReplaceTempView("cure")
    // default arity = the API defaults (no per-source rates in SQL)
    val api = Curation.curate(docs, evalDocs)
      .as[(Long, String, String, String)].collect().toSet
    assert(api.nonEmpty)
    assert(SparkSpec.spark.sql("SELECT * FROM graft_curate('curd', 'cure')")
      .as[(Long, String, String, String)].collect().toSet === api)
    // explicit knobs: lower quality floor + keep German
    val api2 = Curation.curate(docs, evalDocs,
      keepLangs = Seq("en", "de"), minTokens = 3)
      .as[(Long, String, String, String)].collect().toSet
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_curate('curd', 'cure', 3, 'en,de')")
      .as[(Long, String, String, String)].collect().toSet === api2)
    assert(api2 !== api, "knobs must actually change the manifest")
    // non-literal table names fail loudly, not silently
    val err = intercept[Exception](SparkSpec.spark.sql(
      "SELECT * FROM graft_curate('curd', upper('cure'))"))
    assert(err.getMessage.contains("string literal") ||
      err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
  }

  test("graft_curate serves a stored eval-shingle table; parity with the re-shingling path") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    docs.createOrReplaceTempView("curd")
    evalDocs.createOrReplaceTempView("cure")
    // the frozen artifact: shingle the eval suite ONCE, store, serve
    Dedup.evalShingles(evalDocs).createOrReplaceTempView("cure_sh")
    val viaCorpus = SparkSpec.spark.sql("SELECT * FROM graft_curate('curd', 'cure')")
      .as[(Long, String, String, String)].collect().toSet
    val viaStored = SparkSpec.spark.sql("SELECT * FROM graft_curate('curd', 'cure_sh')")
      .as[(Long, String, String, String)].collect().toSet
    assert(viaStored === viaCorpus)
    // Column API parity too
    val api = Curation.curate(docs, evalDocs,
      evalShingles = Some(Dedup.evalShingles(evalDocs)))
      .as[(Long, String, String, String)].collect().toSet
    assert(api === viaCorpus)
    // honesty pin: planning graft_curate is NOT job-free — the cluster
    // propagation fixpoint must run (documented on the TVF); what the
    // stored-shingle path saves is the eval re-shingle, not planning.
    // Compare MAX job id, not count: the status store evicts old jobs
    // past its retention cap, so the count can SHRINK across a long
    // shared-session suite run while new jobs still get fresh (higher,
    // monotonic) ids.
    def maxJobId: Int = SparkSpec.spark.sparkContext.statusTracker
      .getJobIdsForGroup(null).foldLeft(-1)(math.max)
    val before = maxJobId
    SparkSpec.spark.sql("EXPLAIN SELECT * FROM graft_curate('curd', 'cure_sh')").collect()
    assert(maxJobId > before)
  }

  test("SQL surface: graft_dsir TVF matches importanceWeights / importanceTopK") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val raw = Seq(
      (1L, "stellar astronomy telescope galaxy survey of nebula fields"),
      (2L, "cheap pills discount offer click now"),
      (3L, "galaxy survey telescope astronomy")).toDF("doc_id", "text")
    val target = Seq(
      (90L, "astronomy telescope galaxy nebula survey")).toDF("doc_id", "text")
    raw.createOrReplaceTempView("dsraw")
    target.createOrReplaceTempView("dstgt")
    val api = Curation.importanceWeights(raw, target, 256)
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(SparkSpec.spark.sql("SELECT * FROM graft_dsir('dsraw', 'dstgt', 256)")
      .as[(Long, Long, Option[Double])].collect().toSet === api)
    val apiTop = Curation.importanceTopK(raw, target, 2, 256)
      .as[(Long, Double, Int)].collect().toSet
    assert(SparkSpec.spark.sql("SELECT * FROM graft_dsir('dsraw', 'dstgt', 256, 2)")
      .as[(Long, Double, Int)].collect().toSet === apiTop)
    val err = intercept[Exception](SparkSpec.spark.sql(
      "SELECT * FROM graft_dsir('dsraw', 'dstgt', 256, 1 + 1)"))
    assert(err.getMessage.contains("integer literal") ||
      err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
  }

  test("SQL surface: graft_classifier_score TVF serves a stored weight table, both arities") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val pos = Seq((1L, "astronomy telescope galaxy nebula")).toDF("doc_id", "text")
    val neg = Seq((2L, "buy cheap pills now click here")).toDF("doc_id", "text")
    val d = Seq((10L, "telescope nebula survey"), (11L, "cheap pills now"))
      .toDF("doc_id", "text")
    Curation.classifierWeights(pos, neg, buckets = 256)
      .createOrReplaceTempView("clsw")
    d.createOrReplaceTempView("clsd")
    val api = Curation.classifierScore(d,
      SparkSpec.spark.table("clsw"), buckets = 256)
      .as[(Long, Long, Option[Double], Boolean)].collect().toSet
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_classifier_score('clsd', 'clsw', 256, 0.0)")
      .as[(Long, Long, Option[Double], Boolean)].collect().toSet === api)
    // a plain integer literal is a perfectly good bias too
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_classifier_score('clsd', 'clsw', 256, 0)")
      .as[(Long, Long, Option[Double], Boolean)].collect().toSet === api)
    // default arity (1024 buckets) still runs; the weight table's 256-
    // bucket domain then only prices a slice — exercise it for shape,
    // not parity
    assert(SparkSpec.spark.sql("SELECT * FROM graft_classifier_score('clsd', 'clsw')")
      .columns.toSeq === Seq("doc_id", "n_feats", "logit", "keep"))
    val err = intercept[Exception](SparkSpec.spark.sql(
      "SELECT * FROM graft_classifier_score('clsd', 'clsw', 256, 1 + 1)"))
    assert(err.getMessage.contains("numeric literal") ||
      err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
  }

  test("blocklist stage: fused into the flags pass, drops at its own funnel stage") {
    // doc 7 passes quality+language but carries a blocked token
    val d = docs.unionByName(Seq(
      (7L, "the weather report mentions a casino and the usual town news today", "src0"))
      .toDF("doc_id", "text", "source"))
    val bl = Seq("casino")
    val out = Curation.curate(d, evalDocs, rates = rates, blocklist = bl)
    assert(out.as[(Long, String, String, String)].collect().map(_._1).sorted
      === Array(1L, 41L)) // 7 is gone, baseline survivors unchanged
    // without the blocklist, doc 7 survives — the stage is genuinely opt-in
    val outDefault = Curation.curate(d, evalDocs, rates = rates)
    assert(outDefault.as[(Long, String, String, String)].collect().map(_._1).sorted
      === Array(1L, 7L, 41L))
    // funnel grows the blocklist stage between language and near_dedup
    val f = Curation.funnel(d, evalDocs, rates = rates, blocklist = bl)
      .as[(Int, String, Long, Long)].collect().sortBy(_._1)
    assert(f.map(_._2).toSeq === Seq(
      "ingest", "quality", "language", "blocklist", "near_dedup", "decontaminate", "mixture"))
    val byStage = f.map(r => r._2 -> r._3).toMap
    assert(byStage("language") - byStage("blocklist") === 1L) // exactly doc 7
    // the default funnel keeps its historical six-stage shape
    val f0 = Curation.funnel(d, evalDocs, rates = rates)
    assert(f0.count() === 6L)
    // fused == standalone: the chain's blocklist decision matches blocklistSignals
    val standalone = TextAnalysis.blocklistSignals(d, bl)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!standalone(7L) && standalone(1L))
  }

  test("blocklist stage: curateWithFunnel and the streaming QualityGate carry it too") {
    val d = docs.unionByName(Seq(
      (7L, "the weather report mentions a casino and the usual town news today", "src0"))
      .toDF("doc_id", "text", "source"))
    val bl = Seq("casino")
    val r = Curation.curateWithFunnel(d, evalDocs, rates = rates, blocklist = bl)
    assert(r.manifest.as[(Long, String, String, String)].collect().map(_._1).sorted
      === Array(1L, 41L))
    assert(r.funnel.count() === 7L)
    // streaming face: the per-batch gate applies the same rule
    val gated = Curation.applyGate(d, Curation.QualityGate(blocklist = bl))
      .select("doc_id").as[Long].collect().sorted
    val ungated = Curation.applyGate(d, Curation.QualityGate())
      .select("doc_id").as[Long].collect().sorted
    assert(!gated.contains(7L) && ungated.contains(7L))
  }

  test("SQL surface: graft_threshold_sweep / graft_operating_point / graft_manifest_diff match the Column API") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val scored = Seq(
      (1L, Some(2.0), Some(true)), (2L, Some(1.0), Some(false)),
      (3L, Some(-1.0), Some(true)), (4L, Some(0.5), Some(false)))
      .toDF("doc_id", "logit", "actual")
    scored.createOrReplaceTempView("opsc")
    val api = Curation.thresholdSweep(scored, Seq(-2.0, 0.0, 3.0))
      .as[(Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    assert(SparkSpec.spark.sql("SELECT * FROM graft_threshold_sweep('opsc', '-2, 0, 3')")
      .as[(Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSet === api)
    // both objective arities
    val opApi = Curation.operatingPoint(Curation.thresholdSweep(scored, Seq(-2.0, 0.0, 3.0)))
      .as[(String, Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(SparkSpec.spark.sql("SELECT * FROM graft_operating_point('opsc', '-2, 0, 3')")
      .as[(String, Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq === opApi)
    val pfApi = Curation.operatingPoint(Curation.thresholdSweep(scored, Seq(-2.0, 0.0, 3.0)),
        Curation.OpObjective.PrecisionFloor(0.4))
      .as[(String, Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(SparkSpec.spark.sql(
        "SELECT * FROM graft_operating_point('opsc', '-2, 0, 3', 0.4)")
      .as[(String, Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq === pfApi)
    // manifest diff
    Seq((1L, "train"), (2L, "val")).toDF("doc_id", "split").createOrReplaceTempView("mda")
    Seq((1L, "test"), (3L, "val")).toDF("doc_id", "split").createOrReplaceTempView("mdb")
    val diff = SparkSpec.spark.sql("SELECT * FROM graft_manifest_diff('mda', 'mdb')")
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(r => r._1 -> r._2).toMap
    assert(diff === Map(1L -> "moved", 2L -> "removed", 3L -> "added"))
  }

  test("classificationReport: hand confusion matrix incl. predicted-only and never-predicted classes") {
    // actual:    a a a b b c  (+ one NULL-actual row, excluded)
    // predicted: a b a b a d
    val pairs = Seq(
      (Some("a"), Some("a")), (Some("a"), Some("b")), (Some("a"), Some("a")),
      (Some("b"), Some("b")), (Some("b"), Some("a")), (Some("c"), Some("d")),
      (None, Some("a")), (Some("a"), None)
    ).toDF("actual", "predicted")
    val got = Curation.classificationReport(pairs, "actual", "predicted")
      .collect().map(r => r.getString(0) -> r).toMap
    // a: actual 3, predicted 3, correct 2
    assert(got("a").getLong(1) == 3 && got("a").getLong(2) == 3 && got("a").getLong(3) == 2)
    assert(got("a").getDouble(4) === 0.666667 && got("a").getDouble(5) === 0.666667)
    assert(got("a").getDouble(6) === 0.666667) // f1 of equal rounded p/r
    // b: actual 2, predicted 2, correct 1
    assert(got("b").getDouble(4) === 0.5 && got("b").getDouble(5) === 0.5)
    // c: never predicted -> NULL precision, 0 recall, NULL f1
    assert(got("c").getLong(2) == 0 && got("c").isNullAt(4)
      && got("c").getDouble(5) === 0.0 && got("c").isNullAt(6))
    // d: predicted-only -> row exists, n_actual 0, NULL recall
    assert(got("d").getLong(1) == 0 && got("d").getDouble(4) === 0.0
      && got("d").isNullAt(5) && got("d").isNullAt(6))
    // NULL-labeled rows excluded entirely
    assert(got.values.map(_.getLong(1)).sum == 6)
  }

  test("calibrationReport / calibrationEce: hand bins, sigmoid expectation, unscored rows drop, exact weighted ECE") {
    def sig(x: Double) =
      BigDecimal(1.0 / (1.0 + math.exp(-x))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = Seq(
      (1L, Some(0.5), Some(true)), (2L, Some(0.9), Some(false)),   // bin 0
      (3L, Some(-1.2), Some(false)),                               // bin -2
      (4L, Some(2.5), Some(true)), (5L, Some(2.9), Some(true)),    // bin 2
      (6L, None, Some(true)),                                      // unscored: drops
      (7L, Some(1.0), None))                                       // unlabeled: drops
      .toDF("doc_id", "logit", "actual")
    val rep = Curation.calibrationReport(scored)
      .as[(Int, Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rep.keySet === Set(0, -2, 2))
    val b0 = rep(0)
    assert((b0._2, b0._3, b0._4, b0._5) === ((2L, 1L, 0.7, 0.5)))
    assert(b0._6 === sig(0.7) && b0._7 ===
      BigDecimal(math.abs(0.5 - sig(0.7))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val bm2 = rep(-2)
    assert((bm2._2, bm2._3, bm2._4, bm2._5) === ((1L, 0L, -1.2, 0.0)))
    val b2 = rep(2)
    assert((b2._2, b2._3, b2._4, b2._5) === ((2L, 2L, 2.7, 1.0)))
    // ECE = sum(n_b * gap_b) / n — exact decimal accumulation
    val ece = Curation.calibrationEce(scored)
      .as[(Long, Long, Double)].head()
    assert(ece._1 === 5L && ece._2 === 3L)
    val want = (2 * rep(0)._7 + 1 * rep(-2)._7 + 2 * rep(2)._7) / 5.0
    assert(math.abs(ece._3 -
      BigDecimal(want).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    scored.createOrReplaceTempView("cal_scored")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_calibration('cal_scored')")
      .as[(Int, Long, Long, Double, Double, Double, Double)].collect().toSet ===
      rep.values.toSet)
  }

  test("thresholdSweep: hand-computed operating points; degenerate thresholds go NULL, never divide") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val scored = Seq(
      (1L, Some(2.0), Some(true)), (2L, Some(1.0), Some(false)),
      (3L, Some(-1.0), Some(true)), (4L, Some(0.5), Some(false)),
      (5L, None, Some(true))) // unscored: drops
      .toDF("doc_id", "logit", "actual")
    val got = Curation.thresholdSweep(scored, Seq(-2.0, 0.0, 3.0))
      .as[(Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set(-2.0, 0.0, 3.0))
    // t=-2: everything kept — p = 2/4, r = 1, f1 from the rounded pair
    assert(got(-2.0) === ((-2.0, 4L, 2L, 2L,
      Some(0.5), Some(1.0), Some(r6(2.0 * 0.5 * 1.0 / 1.5)))))
    // t=0: kept {2.0, 1.0, 0.5}, one true positive
    val p0 = r6(1.0 / 3.0); val f0 = r6(2.0 * p0 * 0.5 / (p0 + 0.5))
    assert(got(0.0) === ((0.0, 3L, 2L, 1L, Some(p0), Some(0.5), Some(f0))))
    // t=3: nothing kept — precision and f1 NULL, recall an honest 0
    assert(got(3.0) === ((3.0, 0L, 2L, 0L, None, Some(0.0), None)))
  }

  test("operatingPoint: max-F1 with threshold-asc tiebreak; precision floor picks max recall; unmeetable floor is empty") {
    // hand sweep: two thresholds TIE on f1 (the tiebreak must pick the
    // lower), a third has the highest precision but worse f1
    val sweep = Seq(
      (-1.0, 4L, 2L, 2L, Some(0.5), Some(1.0), Some(0.666667)),
      (0.0, 2L, 2L, 1L, Some(0.5), Some(0.5), Some(0.666667)),
      (1.0, 1L, 2L, 1L, Some(1.0), Some(0.5), Some(0.666667)),
      (2.0, 0L, 2L, 0L, None, Some(0.0), None))
      .toDF("threshold", "n_kept", "n_pos", "tp", "precision", "recall", "f1")
    val f1Pick = Curation.operatingPoint(sweep)
      .as[(String, Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect()
    assert(f1Pick.length === 1)
    assert(f1Pick.head._1 === "max_f1" && f1Pick.head._2 === -1.0,
      "three-way f1 tie must break to the LOWEST threshold")
    // precision floor 0.9: only t=1.0 qualifies
    val pf = Curation.operatingPoint(sweep, Curation.OpObjective.PrecisionFloor(0.9))
      .as[(String, Double, Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect()
    assert(pf.length === 1 && pf.head._1 === "precision_floor" && pf.head._2 === 1.0)
    // floor 0.75 admits t=1.0 only (others at 0.5) — recall-max within
    assert(Curation.operatingPointBias(sweep,
      Curation.OpObjective.PrecisionFloor(0.75)) === Some(1.0))
    // an unmeetable floor returns NOTHING, never a substitute (restrict
    // the sweep to the rows whose best precision is 0.5)
    val lowSweep = sweep.where(col("threshold") < 1.0)
    assert(Curation.operatingPoint(lowSweep,
      Curation.OpObjective.PrecisionFloor(0.9)).count() === 0L)
    assert(Curation.operatingPointBias(lowSweep,
      Curation.OpObjective.PrecisionFloor(0.9)) === None)
  }

  test("funnelBySource: per-source rows sum to the global funnel; wiped-out sources keep zero rows at every stage") {
    val f = Curation.funnelBySource(docs, evalDocs, rates = rates)
      .as[(String, Int, String, Long, Long)].collect()
    val global = Curation.funnel(docs, evalDocs, rates = rates)
      .as[(Int, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    // the grid is complete: every (source, stage) cell present
    val sources = f.map(_._1).toSet
    assert(sources === Set("src0", "src2"))
    assert(f.length === sources.size * 6)
    // per-stage sums equal the global funnel, docs AND tokens
    (1 to 6).foreach { st =>
      val rows = f.filter(_._2 === st)
      assert(rows.map(_._4).sum === global(st)._1, s"stage $st docs")
      assert(rows.map(_._5).sum === global(st)._2, s"stage $st tokens")
    }
    // src2 (mixture rate 0) survives to decontaminate then drops to a
    // ZERO row at mixture — present, not absent
    val src2 = f.filter(r => r._1 == "src2").map(r => r._2 -> ((r._4, r._5))).toMap
    assert(src2(6) === ((0L, 0L)), "a wiped-out source must keep a zero row")
    assert(src2(5)._1 === 1L)
  }

  test("thresholdSweepBy / operatingPointsBy: per-group grids and winners; unqualifying groups absent") {
    // two groups with opposite score/label alignment: in g1 the scorer
    // separates perfectly (threshold 1.0 is exact), in g2 it is
    // anti-correlated (high scores are negatives)
    val scored = Seq(
      ("g1", 1L, Some(2.0), Some(true)), ("g1", 2L, Some(1.5), Some(true)),
      ("g1", 3L, Some(0.5), Some(false)), ("g1", 4L, Some(-1.0), Some(false)),
      ("g2", 5L, Some(2.0), Some(false)), ("g2", 6L, Some(-1.0), Some(true)),
      (null.asInstanceOf[String], 7L, Some(9.0), Some(true))) // null group drops
      .toDF("grp", "doc_id", "logit", "actual")
    val sweep = Curation.thresholdSweepBy(scored, Seq(-2.0, 1.0, 3.0), "grp")
    val rows = sweep.as[(String, Double, Long, Long, Long,
      Option[Double], Option[Double], Option[Double])].collect()
    assert(rows.map(_._1).toSet === Set("g1", "g2"), "null groups must drop")
    assert(rows.length === 6)
    // g1 at t=1.0: kept {2.0, 1.5}, both positive — perfect point
    val g1t1 = rows.find(r => r._1 == "g1" && r._2 == 1.0).get
    assert(g1t1 === (("g1", 1.0, 2L, 2L, 2L, Some(1.0), Some(1.0), Some(1.0))))
    // per-group winners: g1 picks its perfect threshold; g2's best F1
    // is the keep-everything end
    val won = Curation.operatingPointsBy(sweep, "grp")
      .as[(String, String, Double, Long, Long, Long,
        Option[Double], Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(won("g1")._3 === 1.0 && won("g1")._9 === Some(1.0))
    assert(won("g2")._3 === -2.0)
    // precision floor 0.95: only g1 has a qualifying threshold — g2 is
    // ABSENT, never substituted
    val pf = Curation.operatingPointsBy(sweep, "grp",
      Curation.OpObjective.PrecisionFloor(0.95))
      .as[(String, String, Double, Long, Long, Long,
        Option[Double], Option[Double], Option[Double])].collect()
    assert(pf.map(_._1).toSet === Set("g1") && pf.head._3 === 1.0)
    // parity with the global faces on a single-group slice
    val g1Only = scored.filter(col("grp") === "g1").drop("grp")
    val globalWin = Curation.operatingPoint(
      Curation.thresholdSweep(g1Only, Seq(-2.0, 1.0, 3.0)))
      .as[(String, Double, Long, Long, Long,
        Option[Double], Option[Double], Option[Double])].head()
    assert(globalWin._2 === won("g1")._3 && globalWin._8 === won("g1")._9)
  }

  test("classifierScoreBiased: each doc gates at ITS group's bias; absent and NULL groups take the default") {
    // uniform weights -> logit == n_feats (the classifierScore fixture)
    val uniform = SparkSpec.spark.range(16).select(col("id").as("b"),
      lit(BigDecimal(1.0)).cast("decimal(18,6)").as("w"))
    val d = Seq(
      ("g1", 10L, "alpha beta gamma"),  // logit 5
      ("g1", 11L, "solo"),              // logit 1
      ("g2", 12L, "alpha beta gamma"),  // logit 5
      ("g3", 13L, "alpha beta gamma"),  // group absent from biases
      (null.asInstanceOf[String], 14L, "alpha beta gamma")) // null group
      .toDF("grp", "doc_id", "text")
    val biases = Seq(("g1", 3.0), ("g2", 6.0)).toDF("grp", "bias")
    val got = Curation.classifierScoreBiased(d, uniform, biases, "grp",
        buckets = 16, defaultBias = 4.0)
      .as[(Long, Option[String], Long, Option[Double], Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(10L)._5 === 3.0 && got(10L)._6 === true)   // 5 >= 3
    assert(got(11L)._5 === 3.0 && got(11L)._6 === false)  // 1 < 3
    assert(got(12L)._5 === 6.0 && got(12L)._6 === false)  // 5 < 6: g2 stricter
    assert(got(13L)._5 === 4.0 && got(13L)._6 === true,   // default bias
      "a group absent from the bias table must take the default")
    assert(got(14L)._5 === 4.0 && got(14L)._6 === true,
      "a NULL group must take the default")
    // parity: a single-group bias table equals the scalar-bias face
    val scalar = Curation.classifierScore(d.filter(col("grp") === "g1"),
      uniform, buckets = 16, bias = 3.0)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(scalar === Map(10L -> true, 11L -> false))
  }

  test("ClassifierGate.groupBiases: the chain gates each doc at its group's point; parity with standalone classifierScoreBiased") {
    val uniform = SparkSpec.spark.range(16).select(col("id").as("b"),
      lit(BigDecimal(1.0)).cast("decimal(18,6)").as("w"))
    // two long clean English docs differing only in SOURCE: under
    // uniform weights both score identically, so only the per-source
    // bias can separate them (srcLow keeps, srcHigh drops)
    val textA = "the quick brown fox jumps over the lazy dog once more today"
    val d = Seq((201L, textA, "srcLow"), (202L, textA, "srcHigh"))
      .toDF("doc_id", "text", "source")
    val biases = Seq(("srcLow", 1.0), ("srcHigh", 1e9)).toDF("source", "bias")
    val gate = Curation.ClassifierGate(uniform, buckets = 16,
      groupBiases = Some(biases))
    val kept = Curation.curate(d, evalDocs, rates = Map.empty,
        classifier = Some(gate))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(201L),
      "identical docs must separate on their sources' operating points alone")
    // the gate's kept-id table IS classifierScoreBiased's keep set —
    // the one implementation both the chain and the stream route to
    val manual = Curation.classifierScoreBiased(d, uniform, biases, "source",
        buckets = 16)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    val viaGate = gate.keptIds(d).as[Long].collect().toSet
    assert(viaGate === manual && viaGate === Set(201L))
    // scalar mode unchanged: no groupBiases -> classifierScore(bias)
    val scalarGate = Curation.ClassifierGate(uniform, buckets = 16, bias = 1e9)
    assert(scalarGate.keptIds(d).count() === 0L)
  }

  test("ClassifierGate.precomputedLogits: thresholding an already-scored table decides exactly like re-scoring (scalar and grouped)") {
    val pos = Seq((1L, en1), (2L, en1 + " extra")).toDF("doc_id", "text")
    val neg = Seq((3L, dupText), (4L, mixText)).toDF("doc_id", "text")
    val w = Curation.classifierWeights(pos, neg, buckets = 256)
    val d = Seq((10L, en1, "srcLow"), (11L, dupText, "srcHigh"),
        (12L, contamText, "srcLow"))
      .toDF("doc_id", "text", "source")
    val scored = Curation.classifierScore(d, w, buckets = 256)
    // scalar: same bias, precomputed vs re-scored — identical keep sets
    for (b <- Seq(-1.0, 0.0, 1.0)) {
      val live = Curation.ClassifierGate(w, buckets = 256, bias = b)
      val pre = live.copy(precomputedLogits = Some(scored))
      assert(pre.keptIds(d).as[Long].collect().toSet ===
        live.keptIds(d).as[Long].collect().toSet, s"bias=$b")
    }
    // grouped: per-source biases + default for absent groups — the
    // precomputed table carries the group column, decisions identical
    val biases = Seq(("srcLow", -5.0)).toDF("source", "bias")
    val scoredG = scored.join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
    val liveG = Curation.ClassifierGate(w, buckets = 256, bias = 1e9,
      groupBiases = Some(biases))
    val preG = liveG.copy(precomputedLogits = Some(scoredG))
    assert(preG.keptIds(d).as[Long].collect().toSet ===
      liveG.keptIds(d).as[Long].collect().toSet)
    // gating a SUBSET of the scored corpus restricts cleanly (the
    // chain gates quality survivors against a full-corpus table)
    val sub = d.filter(col("doc_id") =!= 12L)
    val liveSub = Curation.ClassifierGate(w, buckets = 256, bias = -5.0)
    assert(liveSub.copy(precomputedLogits = Some(scored)).keptIds(sub)
      .as[Long].collect().toSet ===
      liveSub.keptIds(sub).as[Long].collect().toSet)
  }

  test("curateWithFunnelVariants: N knob settings over one shared chain equal N standalone runs") {
    val evalB = Seq((9002L, "a different benchmark quotes the weather " +
      "sentence about plain topics verbatim")).toDF("doc_id", "text")
    val vA = Curation.CurateVariant(evalDocs, rates = rates)
    val vB = Curation.CurateVariant(evalB,
      rates = Map("src2" -> 1.0), defaultRate = 0.5, trainPct = 60)
    val Seq(ra, rb) = Curation.curateWithFunnelVariants(docs, Seq(vA, vB),
      samples = 3, attribution = true)
    val sa = Curation.curateWithFunnel(docs, evalDocs, rates = rates,
      samples = 3, attribution = true)
    val sb = Curation.curateWithFunnel(docs, evalB,
      rates = Map("src2" -> 1.0), defaultRate = 0.5, trainPct = 60,
      samples = 3, attribution = true)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(ra.manifest) === rows(sa.manifest))
    assert(rows(rb.manifest) === rows(sb.manifest))
    assert(rows(ra.funnel) === rows(sa.funnel))
    assert(rows(rb.funnel) === rows(sb.funnel))
    assert(rows(ra.samples.get) === rows(sa.samples.get))
    assert(rows(rb.samples.get) === rows(sb.samples.get))
    assert(rows(ra.drops.get) === rows(sa.drops.get))
    assert(rows(rb.drops.get) === rows(sb.drops.get))
    // the two variants genuinely differ (the sharing didn't collapse
    // them): B's eval suite contaminates the dup text, A's doesn't
    assert(rows(ra.manifest) !== rows(rb.manifest))
  }

  test("averagePrecision: hand-computed step AP over the sweep; degenerate sweeps read 0 points / NULL") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 4 docs: scores 2.0+, 1.5+, 0.5-, -1.0+ (3 positives)
    val scored = Seq(
      (1L, Some(2.0), Some(true)), (2L, Some(1.5), Some(true)),
      (3L, Some(0.5), Some(false)), (4L, Some(-1.0), Some(true)))
      .toDF("doc_id", "logit", "actual")
    val sweep = Curation.thresholdSweep(scored, Seq(-2.0, 0.0, 1.0, 3.0))
    val got = Curation.averagePrecision(sweep)
      .as[(Long, Option[Double])].head()
    // t desc: 3.0 keeps nothing (precision NULL -> excluded);
    // 1.0: P=1, R=2/3; 0.0: P=2/3... wait kept {2.0,1.5} -> P=1 R=2/3;
    // t=0.0 kept {2.0,1.5,0.5}: P=2/3 R=2/3; t=-2.0 kept all: P=3/4 R=1
    val r23 = r6(2.0 / 3.0)
    val p34 = r6(3.0 / 4.0)
    val expected = BigDecimal(r6((r23 - 0.0) * 1.0)) +
      BigDecimal(r6((r23 - r23) * r6(2.0 / 3.0))) +
      BigDecimal(r6((1.0 - r23) * p34))
    assert(got._1 === 3L)
    assert(got._2 === Some(expected.toDouble))
    // a sweep where nothing is ever kept: zero points, NULL AP
    val none = Curation.averagePrecision(
      Curation.thresholdSweep(scored, Seq(9.0)))
      .as[(Long, Option[Double])].head()
    assert(none === ((0L, None)))
  }

  test("operatingPointCertified: selected on val, certified on disjoint test; the sel/cert gap is real; empty when nothing qualifies") {
    val scored = Seq(
      (1L, 2.0, true, "val"), (2L, 1.5, true, "val"),
      (3L, 0.5, false, "val"), (4L, -1.0, true, "val"),
      (5L, 2.0, true, "test"), (6L, 0.5, true, "test"), (7L, 0.8, false, "test"),
      // rows outside the two splits must be ignored by BOTH sides
      (8L, 9.0, false, "train"))
      .toDF("doc_id", "logit", "actual", "split")
    val grid = Seq(-2.0, 0.0, 1.0, 3.0)
    // val sweep: t=-2 keeps all 4 (P=.75, R=1, F1=.857143) and beats
    // t=1 (P=1, R=.666667, F1=.8) — the winner the optimizer sees
    val mf = Curation.operatingPointCertified(scored, grid)
      .as[(String, Double, Option[Double], Option[Double], Option[Double],
        Long, Long, Long, Option[Double], Option[Double], Option[Double])].collect()
    assert(mf.length === 1)
    val r = mf.head
    assert(r._1 === "max_f1" && r._2 === -2.0)
    assert(r._5 === Some(0.857143), s"selection f1: $r")
    // certified on test at t=-2: kept 3, tp 2, n_pos 2 -> P=.666667,
    // R=1, F1=.8 — the honest number is BELOW the selection's .857143
    assert((r._6, r._7, r._8) === ((3L, 2L, 2L)))
    assert(r._9 === Some(0.666667) && r._10 === Some(1.0) && r._11 === Some(0.8),
      s"certified metrics must come from the disjoint split: $r")
    // precision floor 1.0: only t=1 qualifies on val; certified at t=1
    // the test slice keeps doc 5 alone (P=1, R=.5, F1=.666667)
    val pf = Curation.operatingPointCertified(scored, grid,
        Curation.OpObjective.PrecisionFloor(1.0))
      .as[(String, Double, Option[Double], Option[Double], Option[Double],
        Long, Long, Long, Option[Double], Option[Double], Option[Double])].head()
    assert(pf._1 === "precision_floor" && pf._2 === 1.0)
    assert((pf._6, pf._7, pf._8) === ((1L, 2L, 1L)) && pf._11 === Some(0.666667))
    // nothing qualifies on the selection split -> empty, never a fallback
    assert(Curation.operatingPointCertified(scored, Seq(9.0)).count() === 0L)
    // selecting and certifying on the same split is the hole this
    // face exists to close — loud contract error
    intercept[IllegalArgumentException](Curation.operatingPointCertified(
      scored, grid, selectSplit = "test", certifySplit = "test"))
  }

  test("averagePrecisionBy: per-group step AP walks independently; the global face rejects grouped input") {
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // g1: the averagePrecision fixture; g2: a clean separator
    val scored = Seq(
      ("g1", 1L, Some(2.0), Some(true)), ("g1", 2L, Some(1.5), Some(true)),
      ("g1", 3L, Some(0.5), Some(false)), ("g1", 4L, Some(-1.0), Some(true)),
      ("g2", 5L, Some(2.0), Some(true)), ("g2", 6L, Some(-1.0), Some(false)))
      .toDF("grp", "doc_id", "logit", "actual")
    val grid = Seq(-2.0, 0.0, 1.0, 3.0)
    val sweep = Curation.thresholdSweepBy(scored, grid, "grp")
    val got = Curation.averagePrecisionBy(sweep, "grp")
      .as[(String, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // each group's walk equals the global face on that group's slice
    val g1 = Curation.averagePrecision(Curation.thresholdSweep(
        scored.filter(col("grp") === "g1").drop("grp"), grid))
      .as[(Long, Option[Double])].head()
    assert(got("g1") === ((g1._1, g1._2)))
    // g2 hand walk (t desc): 3.0 keeps nothing (excluded); 1.0 P=1 R=1
    // -> term 1; 0.0 P=1 R=1 -> 0; -2.0 P=1/2 R=1 -> 0. AP = 1.0
    assert(got("g2") === ((3L, Some(r6(1.0)))))
    // grouped input into the GLOBAL face fails loudly instead of
    // interleaving the groups' recall walks into a meaningless number
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    val err = intercept[Exception](Curation.averagePrecision(sweep).collect())
    assert(chain(err).contains("averagePrecisionBy"), chain(err))
  }

  test("classifierScoreBiased: an operatingPointsBy output binds its threshold by NAME; a non-numeric positional bias is rejected") {
    val uniform = SparkSpec.spark.range(16).select(col("id").as("b"),
      lit(BigDecimal(1.0)).cast("decimal(18,6)").as("w"))
    val d = Seq(("g1", 10L, "alpha beta gamma"), ("g1", 11L, "solo"))
      .toDF("grp", "doc_id", "text")
    // the documented producer's shape: (grp, objective, threshold, …) —
    // positional binding would cast 'max_f1' to NULL and gate everything
    val points = Seq(("g1", "max_f1", 3.0, 1L))
      .toDF("grp", "objective", "threshold", "n_kept")
    val got = Curation.classifierScoreBiased(d, uniform, points, "grp", buckets = 16)
      .select("doc_id", "bias", "keep").as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(10L)._2 === 3.0 && got(10L)._3 === true)  // logit 5 >= 3
    assert(got(11L)._2 === 3.0 && got(11L)._3 === false) // logit 1 < 3
    // an anonymous two-column table with a STRING second column is a
    // loud contract error, not a silent NULL-bias drop-everything gate
    val bad = Seq(("g1", "oops")).toDF("grp", "label")
    val err = intercept[IllegalArgumentException](
      Curation.classifierScoreBiased(d, uniform, bad, "grp", buckets = 16))
    assert(err.getMessage.contains("numeric"), err.getMessage)
  }

  test("manifestDiff: added/removed/moved/unchanged row-exact; self-diff is all unchanged") {
    val a = Seq((1L, "train"), (2L, "val"), (3L, "test")).toDF("doc_id", "split")
    val b = Seq((1L, "train"), (2L, "train"), (4L, "test")).toDF("doc_id", "split")
    val got = Curation.manifestDiff(a, b)
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, "unchanged", Some("train"), Some("train"))))
    assert(got(2L) === ((2L, "moved", Some("val"), Some("train"))))
    assert(got(3L) === ((3L, "removed", Some("test"), None)))
    assert(got(4L) === ((4L, "added", None, Some("test"))))
    // re-running the identical chain diffs to all-unchanged — the
    // determinism certificate a pipeline re-run publishes
    val m = Curation.curate(docs, evalDocs, rates = rates)
    val self = Curation.manifestDiff(m, Curation.curate(docs, evalDocs, rates = rates))
    assert(self.filter(col("status") =!= "unchanged").count() === 0L)
  }

  test("operatingPointsCertifiedBy: each group selects on val and certifies on disjoint test; parity with the global certified face per group") {
    val scored = Seq(
      ("g1", 1L, 2.0, true, "val"), ("g1", 2L, 1.5, true, "val"),
      ("g1", 3L, 0.5, false, "val"), ("g1", 4L, -1.0, true, "val"),
      ("g1", 5L, 2.0, true, "test"), ("g1", 6L, 0.5, true, "test"),
      ("g1", 7L, 0.8, false, "test"),
      ("g2", 8L, 2.0, true, "val"), ("g2", 9L, -1.0, false, "val"),
      ("g2", 10L, 0.5, true, "test"), ("g2", 11L, -0.5, false, "test"))
      .toDF("grp", "doc_id", "logit", "actual", "split")
    val grid = Seq(-2.0, 0.0, 1.0, 3.0)
    val got = Curation.operatingPointsCertifiedBy(scored, grid, "grp")
      .as[(String, String, Double, Option[Double], Option[Double], Option[Double],
        Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("g1", "g2"))
    // each group's row equals the GLOBAL certified face on its slice
    Seq("g1", "g2").foreach { g =>
      val alone = Curation.operatingPointCertified(
          scored.filter(col("grp") === g).drop("grp"), grid)
        .as[(String, Double, Option[Double], Option[Double], Option[Double],
          Long, Long, Long, Option[Double], Option[Double], Option[Double])].head()
      val r = got(g)
      assert((r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10, r._11, r._12) ===
        ((alone._1, alone._2, alone._3, alone._4, alone._5, alone._6, alone._7,
          alone._8, alone._9, alone._10, alone._11)), g)
    }
    // a group with no certification slice is ABSENT, never fabricated
    val noTest = scored.filter(!(col("grp") === "g2" && col("split") === "test"))
    assert(Curation.operatingPointsCertifiedBy(noTest, grid, "grp")
      .select("grp").as[String].collect().toSet === Set("g1"))
  }

  test("SQL surface: EXPLAIN of graft_operating_point_certified runs no job") {
    graft.plans.GraftExtensions.install(spark)
    Seq((1L, 2.0, true, "val"), (2L, -1.0, false, "val"), (3L, 0.5, true, "test"),
      (4L, 1.5, false, "test")).toDF("doc_id", "logit", "actual", "split")
      .createOrReplaceTempView("opc_scored")
    val (_, jobs, _) = jobsAndTasks(spark.sql(
      "EXPLAIN SELECT * FROM graft_operating_point_certified('opc_scored', '-2,0,1,3')").collect())
    assert(jobs === 0, "EXPLAIN of the TVF must not run a Spark job")
  }

  test("SQL surface: the selection-loop TVFs match the Column API (average precision, certified point, explained diff, drift signals)") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val scored = Seq(
      ("g1", 1L, 2.0, true, "val"), ("g1", 2L, 1.5, true, "val"),
      ("g1", 3L, 0.5, false, "val"), ("g1", 4L, -1.0, true, "val"),
      ("g1", 5L, 2.0, true, "test"), ("g1", 6L, 0.5, true, "test"),
      ("g1", 7L, 0.8, false, "test"))
      .toDF("grp", "doc_id", "logit", "actual", "split")
    scored.createOrReplaceTempView("sel_scored")
    val grid = Seq(-2.0, 0.0, 1.0, 3.0)
    val csv = "-2,0,1,3"
    assert(SparkSpec.spark.sql(
        s"SELECT * FROM graft_average_precision('sel_scored', '$csv')")
      .collect().toSeq ===
      Curation.averagePrecision(Curation.thresholdSweep(scored, grid)).collect().toSeq)
    assert(SparkSpec.spark.sql(
        s"SELECT * FROM graft_average_precision('sel_scored', '$csv', 'grp')")
      .collect().toSet ===
      Curation.averagePrecisionBy(
        Curation.thresholdSweepBy(scored, grid, "grp"), "grp").collect().toSet)
    assert(SparkSpec.spark.sql(
        s"SELECT * FROM graft_operating_point_certified('sel_scored', '$csv')")
      .collect().toSeq ===
      Curation.operatingPointCertified(scored, grid).collect().toSeq)
    assert(SparkSpec.spark.sql(
        s"SELECT * FROM graft_operating_point_certified('sel_scored', '$csv', 1.0)")
      .collect().toSeq ===
      Curation.operatingPointCertified(scored, grid,
        Curation.OpObjective.PrecisionFloor(1.0)).collect().toSeq)
    val ma = Seq((1L, "train"), (3L, "test")).toDF("doc_id", "split")
    val mb = Seq((1L, "train"), (4L, "test")).toDF("doc_id", "split")
    val da = Seq((4L, 6, "mixture")).toDF("doc_id", "stage_idx", "stage")
    val db = Seq((3L, 5, "decontaminate")).toDF("doc_id", "stage_idx", "stage")
    ma.createOrReplaceTempView("mde_a"); mb.createOrReplaceTempView("mde_b")
    da.createOrReplaceTempView("mde_da"); db.createOrReplaceTempView("mde_db")
    assert(SparkSpec.spark.sql(
        "SELECT * FROM graft_manifest_diff_explained('mde_a', 'mde_b', 'mde_da', 'mde_db')")
      .collect().toSet === Curation.manifestDiffExplained(ma, mb, da, db).collect().toSet)
    val before = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "source")
    val after = Seq((1L, "a")).toDF("doc_id", "source")
    before.createOrReplaceTempView("cds_in"); after.createOrReplaceTempView("cds_out")
    assert(SparkSpec.spark.sql(
        "SELECT * FROM graft_classifier_drift('cds_in', 'cds_out')")
      .collect().toSet === Curation.classifierDriftSignals(before, after).collect().toSet)
    assert(SparkSpec.spark.sql(
        "SELECT * FROM graft_classifier_drift('cds_in', 'cds_out', 'source')")
      .collect().toSet === Curation.classifierDriftSignals(before, after).collect().toSet)
  }

  test("classifierDriftSignals: per-source drop rates; wiped-out sources read 1.0; NULL sources drop") {
    val before = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
      (6L, null.asInstanceOf[String])).toDF("doc_id", "source")
    val after = Seq((1L, "a"), (2L, "a"), (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "source")
    val got = Curation.classifierDriftSignals(before, after)
      .as[(String, String, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      "classifier:a" -> (("drop_rate", 0.333333)),
      "classifier:b" -> (("drop_rate", 1.0))),
      s"hand rates must match: $got")
  }

  test("dropAttribution: every dropped doc carries its first-failing stage; manifestDiffExplained names the rerouting stage per row") {
    // the designed corpus: attribution must cover EVERY drop, numbered
    // exactly as funnel reports the stages
    val dropsMap = Curation.dropAttribution(docs, evalDocs, rates = rates)
      .as[(Long, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(dropsMap === Map(
      2L -> ((2, "quality")), 3L -> ((3, "language")),
      42L -> ((4, "near_dedup")), 5L -> ((5, "decontaminate")),
      6L -> ((6, "mixture"))))
    // the combined face: one chain computation feeds manifest + drops
    val ra = Curation.curateWithFunnel(docs, evalDocs, rates = rates,
      attribution = true)
    assert(ra.drops.get.as[(Long, Int, String)].collect().toSet ===
      dropsMap.map { case (id, (i, st)) => (id, i, st) }.toSet)
    // run B lifts src2's mixture rate to 1.0: doc 6 flips to ADDED and
    // the diff names run A's mixture stage as the decider; survivors
    // common to both runs carry no stage
    val rb = Curation.curateWithFunnel(docs, evalDocs,
      rates = Map("src2" -> 1.0), attribution = true)
    val ex = Curation.manifestDiffExplained(
        ra.manifest, rb.manifest, ra.drops.get, rb.drops.get)
      .as[(Long, String, Option[String], Option[String], Option[Int], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(ex(6L)._2 === "added" && ex(6L)._5 === Some(6) &&
      ex(6L)._6 === Some("mixture"),
      s"the added doc must name run A's drop stage: ${ex(6L)}")
    assert(ex(1L)._2 === "unchanged" && ex(1L)._5 === None && ex(1L)._6 === None)
    assert(ex.keySet === Set(1L, 41L, 6L))
  }

  test("classifier-gated curate: sweep -> operating point -> gate; funnel carries the classifier stage's docs AND tokens") {
    // weight table that loves astronomy words and hates spam words —
    // trained on designed corpora so the gate's behavior is known
    val pos = Seq(
      (900L, "astronomy telescope galaxy nebula observation"),
      (901L, "telescope observation of the galaxy and nebula")).toDF("doc_id", "text")
    val neg = Seq(
      (902L, "buy cheap pills now click here buy now"),
      (903L, "click here now cheap pills buy cheap")).toDF("doc_id", "text")
    val w = Curation.classifierWeights(pos, neg, buckets = 256)
    // corpus: doc 1 passes everything; doc 7 is quality/language-clean
    // ENGLISH SPAM the heuristic gates cannot catch — the classifier
    // stage is the only stage that drops it
    val spamText = "the cheap pills click here now and buy the cheap pills here now"
    val d = docs.unionByName(Seq((7L, spamText, "src0")).toDF("doc_id", "text", "source"))
    // validated operating point from a labeled holdout
    val labeled = Curation.classifierScore(
        Seq((910L, en1), (911L, spamText)).toDF("doc_id", "text"), w, buckets = 256)
      .join(Seq((910L, true), (911L, false)).toDF("doc_id", "actual"), Seq("doc_id"))
    val bias = Curation.operatingPointBias(
      Curation.thresholdSweep(labeled, Seq(-5.0, 0.0, 5.0))).get
    val gate = Curation.ClassifierGate(w, buckets = 256, bias = bias)
    val r = Curation.curateWithFunnel(d, evalDocs, rates = rates,
      classifier = Some(gate), samples = 5)
    // the spam doc is gone from the manifest; doc 1 survives
    val kept = r.manifest.select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(7L), "classifier stage must drop the clean-English spam doc")
    assert(kept.contains(1L))
    // funnel: classifier is stage 4 (no blocklist), its doc AND token
    // drop equal the spam doc's footprint exactly
    val funnel = r.funnel.as[(Int, String, Long, Long)].collect()
      .map(x => x._2 -> ((x._1, x._3, x._4))).toMap
    assert(funnel.keySet === Set("ingest", "quality", "language", "classifier",
      "near_dedup", "decontaminate", "mixture"))
    assert(funnel("classifier")._1 === 4)
    assert(funnel("near_dedup")._1 === 5 && funnel("mixture")._1 === 7,
      "downstream stages renumber sequentially after the inserted stage")
    val spamTokens = spamText.split(" ").length.toLong
    assert(funnel("language")._2 - funnel("classifier")._2 === 1L,
      "exactly the spam doc drops at the classifier stage")
    assert(funnel("language")._3 - funnel("classifier")._3 === spamTokens,
      "the funnel must account the classifier stage in TOKENS, not docs alone")
    // samples attribute the drop to the classifier stage by name
    val attributed = r.samples.get
      .filter(col("stage") === "classifier").select("doc_id").as[Long].collect().toSet
    assert(attributed === Set(7L))
    // parity: standalone funnel/curate with the same gate agree
    val fAlone = Curation.funnel(d, evalDocs, rates = rates, classifier = Some(gate))
      .as[(Int, String, Long, Long)].collect().sortBy(_._1)
    assert(fAlone.toSeq === r.funnel.as[(Int, String, Long, Long)].collect().sortBy(_._1).toSeq)
    val mAlone = Curation.curate(d, evalDocs, rates = rates, classifier = Some(gate))
      .select("doc_id").as[Long].collect().toSet
    assert(mAlone === kept)
    // without the gate the spam doc sails through every other stage —
    // proof the classifier stage is the one doing this work
    assert(Curation.curate(d, evalDocs, rates = rates)
      .select("doc_id").as[Long].collect().toSet.contains(7L))
  }
}
