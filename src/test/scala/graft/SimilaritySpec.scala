package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ops.Similarity
import SparkSpec.spark.implicits._

class SimilaritySpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine desc with vec_id tiebreak") {
    val corpus = vecs(
      1L -> Seq(1f, 0f), 2L -> Seq(0.9f, 0.1f), 3L -> Seq(0f, 1f), 4L -> Seq(-1f, 0f))
    val q = vecs(1L -> Seq(1f, 0f))
    val got = Similarity.bruteForceTopK(q, corpus, 2)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1), (1L, 3L, 2)))
  }

  test("cosine of identical vectors is 1.0 after rounding") {
    val corpus = vecs(1L -> Seq(0.3f, 0.4f, 0.5f), 2L -> Seq(0.3f, 0.4f, 0.5f))
    val got = Similarity.bruteForceTopK(vecs(1L -> Seq(0.3f, 0.4f, 0.5f)), corpus, 1)
      .select("cos").as[Double].head()
    assert(got === 1.0)
  }

  test("lshBucketTopK only scores same-bucket candidates") {
    // bits=2 buckets on sign of first two coords: (+,+)=3, (-,+)=2, (+,-)=1
    val corpus = vecs(
      1L -> Seq(1f, 1f), 2L -> Seq(2f, 3f), 3L -> Seq(-1f, 1f), 4L -> Seq(1f, -1f))
    val got = Similarity.lshBucketTopK(vecs(1L -> Seq(1f, 1f)), corpus, 10, bits = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got === Set(2L)) // only doc 2 shares bucket (+,+)
  }

  test("ivfTopK with nprobe >= #cells equals brute force") {
    val rnd = new scala.util.Random(11)
    val corpus = vecs((1L to 300L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 100 === 0)
    // FixedK(3) -> exactly 3 cells; nprobe=3 probes them all, so every
    // corpus vector is a candidate for every query
    val ivf = graft.ops.Similarity.ivfTopK(queries, corpus, 5, nprobe = 3,
      seed = Similarity.CentroidSeed.FixedK(3))
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val brute = graft.ops.Similarity.bruteForceTopK(queries, corpus, 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf === brute)
  }

  test("ivfTopK probes fewer candidates with small nprobe (recall < 1 allowed)") {
    val rnd = new scala.util.Random(12)
    val corpus = vecs((1L to 300L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 100 === 0)
    val got = graft.ops.Similarity.ivfTopK(queries, corpus, 5, nprobe = 1).collect()
    assert(got.nonEmpty && got.length <= queries.count() * 5)
  }

  test("ANN ranking never plans a Window sort (bounded-heap aggregate only)") {
    val rnd = new scala.util.Random(21)
    val corpus = vecs((1L to 300L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 100 === 0)
    Seq(
      "bruteForce" -> Similarity.bruteForceTopK(queries, corpus, 5),
      "lsh" -> Similarity.lshBucketTopK(queries, corpus, 5),
      "ivf" -> Similarity.ivfTopK(queries, corpus, 5, nprobe = 2)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name plans a Window sort:\n$plan")
      assert(plan.contains("graft_top_k"), s"$name lost the bounded-heap aggregate:\n$plan")
    }
  }

  test("zero-norm vectors never rank (no NaN poisoning the heap)") {
    val corpus = vecs(
      1L -> Seq(1f, 0f), 2L -> Seq(0.9f, 0.1f),
      3L -> Seq(0f, 0f)) // zero vector: cos would be 0/0
    val got = Similarity.bruteForceTopK(vecs(1L -> Seq(1f, 0f)), corpus, 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.contains(3L), s"zero vector ranked: $got")
    assert(got === Set(2L))
    // and as a query: a zero-norm query simply returns no neighbors
    val asQuery = Similarity.bruteForceTopK(vecs(9L -> Seq(0f, 0f)), corpus, 3)
    assert(asQuery.count() === 0)
  }

  test("labelCentroids: flat per-dimension means, exact") {
    val df = Seq(
      ("a", Seq(1f, 2f)), ("a", Seq(3f, 6f)), ("b", Seq(10f, 0f))
    ).toDF("label", "embedding")
    val got = Similarity.labelCentroids(df)
      .as[(String, Int, Long, Double)].collect().toSet
    assert(got === Set(
      ("a", 1, 2L, 2.0), ("a", 2, 2L, 4.0), ("b", 1, 1L, 10.0), ("b", 2, 1L, 0.0)))
  }

  test("quantizeInt8: codes, scale, and reconstruction-error bound") {
    val got = Similarity.quantizeInt8(vecs(
        1L -> Seq(1f, -0.5f, 0f), 2L -> Seq(0f, 0f, 0f)))
      .select("vec_id", "pos", "code", "abs_err")
      .as[(Long, Int, Int, Double)].collect()
    val codes = got.map(r => (r._1, r._2) -> r._3).toMap
    // vec 1: scale = 1/127 → codes 127, -64 (round half away), 0
    assert(codes === Map((1L, 1) -> 127, (1L, 2) -> -64, (1L, 3) -> 0,
      (2L, 1) -> 0, (2L, 2) -> 0, (2L, 3) -> 0))
    // reconstruction error never exceeds half a quantization step
    assert(got.forall(_._4 <= 0.5 / 127 + 1e-9), got.mkString(","))
  }

  test("pqCodes: m codes per vector, identical vectors share codes, valid cells") {
    val rnd = new scala.util.Random(47)
    val base = (1L to 40L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1))
    // vector 40 duplicates vector 2 exactly
    val corpus = vecs(base.map { case (i, v) => if (i == 40L) i -> base(1)._2 else i -> v }: _*)
    val codes = graft.ops.Similarity.pqCodes(corpus, m = 4,
      seed = Similarity.CentroidSeed.Modulo(10))
      .select("vec_id", "subspace", "code", "d2")
      .as[(Long, Int, Long, Double)].collect()
    // exactly m codes per vector, one per subspace
    assert(codes.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(0, 1, 2, 3)))
    // identical vectors quantize identically
    val byVec = codes.groupBy(_._1).view.mapValues(_.map(c => c._2 -> c._3).toMap)
    assert(byVec(40L) === byVec(2L))
    // codes reference trained codebook cells; residuals are non-negative
    val cells = graft.ops.Similarity.pqCodebooks(corpus, m = 4,
      seed = Similarity.CentroidSeed.Modulo(10))
      .select("subspace", "cell_id").as[(Int, Long)].collect().toSet
    assert(codes.forall(c => cells.contains((c._2, c._3))), "code not in codebook")
    assert(codes.forall(_._4 >= -1e-9))
  }

  test("pq rejects a dimension not divisible by m (no silent tail truncation)") {
    val corpus = vecs((1L to 20L).map(i => i -> Seq.fill(10)(0.5f)): _*)
    val e = intercept[Exception] {
      graft.ops.Similarity.pqCodes(corpus, m = 4,
        seed = Similarity.CentroidSeed.Modulo(10)).collect()
    }
    assert(e.getMessage.contains("not divisible"), e.getMessage)
  }

  test("pqTopK: exact duplicates rank first, k per query, no Window sort") {
    val rnd = new scala.util.Random(53)
    val base = (1L to 200L).map(i => i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)).toMap
    // 100 and 200 are exact duplicates of the two query vectors
    val corpus = vecs(base.map {
      case (100L, _) => 100L -> base(10L)
      case (200L, _) => 200L -> base(20L)
      case kv => kv
    }.toSeq: _*)
    val queries = corpus.filter($"vec_id" === 10L || $"vec_id" === 20L)
    val df = graft.ops.Similarity.pqTopK(queries, corpus, 5, m = 4,
      seed = Similarity.CentroidSeed.Modulo(50))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("graft_top_k"), plan)
    val got = df.select("query_id", "neighbor_id", "adc", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.count(_._1 == 10L) === 5 && got.count(_._1 == 20L) === 5)
    // a duplicate shares the query's codes exactly -> minimal ADC. Other
    // vectors can TIE (same codes -> same table sum) and lower ids win
    // ties, so assert the dup is in the top-k at the minimum distance.
    def minAdc(q: Long) = got.filter(_._1 == q).map(_._3).min
    val dup10 = got.find(r => r._1 == 10L && r._2 == 100L)
    val dup20 = got.find(r => r._1 == 20L && r._2 == 200L)
    assert(dup10.exists(_._3 == minAdc(10L)), got.sortBy(r => (r._1, r._4)).mkString(","))
    assert(dup20.exists(_._3 == minAdc(20L)), got.sortBy(r => (r._1, r._4)).mkString(","))
  }

  test("kmeans: separable clusters converge to their true centers") {
    // two tight clusters around (1,0) and (0,1); ids chosen so the
    // modulo-100 init picks one seed (vec_id=1, in cluster A) — after 2
    // Lloyd rounds with the surviving cell, every vector assigns there,
    // so engineer TWO seeds: 1 (cluster A) and 101 (cluster B)
    val a = (1L to 50L).map(i => i -> Seq(1f + (i % 5) * 0.01f, (i % 3) * 0.01f))
    val b = (101L to 150L).map(i => i -> Seq((i % 3) * 0.01f, 1f + (i % 5) * 0.01f))
    val corpus = vecs((a ++ b): _*)
    val assign = graft.ops.Similarity.kmeansAssignments(corpus, iterations = 2,
      seed = Similarity.CentroidSeed.Modulo(100))
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    // every A vector lands in cell 1, every B vector in cell 101
    assert(a.forall { case (i, _) => assign(i) == 1L }, assign.toString)
    assert(b.forall { case (i, _) => assign(i) == 101L }, assign.toString)
    // centroids are the per-dimension means of their clusters
    val cents = graft.ops.Similarity.kmeansCentroids(corpus, iterations = 2,
      seed = Similarity.CentroidSeed.Modulo(100))
      .as[(Long, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val expA1 = a.map(_._2(0).toDouble).sum / a.size
    assert(math.abs(cents((1L, 1)) - expA1) < 1e-6, s"${cents((1L, 1))} vs $expA1")
  }

  test("ivfTopK with kmeans centroids: recall >= modulo-sample centroids") {
    // clustered corpus (8 gaussian-ish blobs): the modulo sample lands
    // centroids arbitrarily; 2 Lloyd rounds move them to blob centers,
    // so nprobe=2 probing must recover at least as many true neighbors
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(8)(Array.fill(8)(rnd.nextDouble() * 2 - 1))
    val corpus = vecs((1L to 400L).map { i =>
      val c = centers(((i - 1) % 8).toInt)
      i -> c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq
    }: _*)
    val queries = corpus.filter($"vec_id" % 100 === 0)
    val truth = Similarity.bruteForceTopK(queries, corpus, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val learned = Similarity.kmeans(corpus, iterations = 2,
      seed = Similarity.CentroidSeed.Modulo(50)).select("cell_id", "cv")
    val rModulo = recall(Similarity.ivfTopK(queries, corpus, 10, nprobe = 2,
      seed = Similarity.CentroidSeed.Modulo(50)))
    val rKmeans = recall(Similarity.ivfTopK(queries, corpus, 10, nprobe = 2,
      centroids = Some(learned)))
    assert(rKmeans >= rModulo, s"kmeans recall $rKmeans < modulo recall $rModulo")
    assert(rKmeans > 0.5, s"kmeans recall unexpectedly low: $rKmeans")
  }

  test("FixedK seeding: cell count is corpus-size-independent (the 100x-scale property)") {
    val rnd = new scala.util.Random(61)
    def corpus(n: Int) = vecs((1L to n.toLong).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val seed = Similarity.CentroidSeed.FixedK(8)
    def cells(df: DataFrame): Long =
      Similarity.kmeansCentroids(df, iterations = 2, seed = seed)
        .select("cell_id").distinct().count()
    val small = cells(corpus(120))
    val big = cells(corpus(480))
    assert(small === big, s"cell count grew with the corpus: $small -> $big")
    assert(small === 8L, s"expected the 8 seeded cells, got $small")
    // legacy Modulo grows with the corpus — the coupling FixedK removes
    def modCells(df: DataFrame): Long =
      Similarity.kmeansCentroids(df, iterations = 1,
        seed = Similarity.CentroidSeed.Modulo(30))
        .select("cell_id").distinct().count()
    assert(modCells(corpus(480)) > modCells(corpus(120)))
  }

  test("FixedK seed selection is a bounded heap, not a global sort") {
    val rnd = new scala.util.Random(67)
    val corpus = vecs((1L to 300L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 100 === 0)
    // ivfTopK seeds inline (no materialization), so the seed subplan is
    // visible: TakeOrderedAndProject = per-partition heap + driver merge
    val plan = Similarity.ivfTopK(queries, corpus, 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("pqSearch over stored artifacts matches pqTopK and never retrains") {
    val rnd = new scala.util.Random(71)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 50 === 0)
    val inline = Similarity.pqTopK(queries, corpus, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    // train once, store, read back — the serving pattern
    val dir = tempDir("graft-pq-")
    Similarity.pqCodebooks(corpus).write.parquet(s"$dir/codebooks")
    Similarity.pqCodes(corpus).write.parquet(s"$dir/codes")
    val searched = Similarity.pqSearch(queries,
      spark.read.parquet(s"$dir/codebooks"), spark.read.parquet(s"$dir/codes"), 5)
    val plan = searched.queryExecution.executedPlan.toString
    // the Lloyd M-step's DECIMAL(28,12) accumulation must be absent:
    // search reads artifacts, it does not train
    assert(!plan.contains("28,12"), plan)
    assert(!plan.contains("Window"), plan)
    assert(searched.as[(Long, Long, Double, Int)].collect().toSet === inline)
  }

  test("pqSearch raises when m disagrees with the stored artifacts (no silent partial sums)") {
    val rnd = new scala.util.Random(83)
    val corpus = vecs((1L to 100L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 50 === 0)
    val (codebooks, codes) = Similarity.pqModel(corpus, m = 4)
    // m=8 splits queries into more subspaces than the codes carry: the
    // (s, cell) join drops the unmatched ones — must raise, not rank
    // over a partial sum
    val tooMany = intercept[Exception] {
      Similarity.pqSearch(queries, codebooks, codes, 5, m = 8).collect()
    }
    assert(tooMany.getMessage.contains("sub-distances"), tooMany.getMessage)
    // m=2 matches per-subspace row counts but not sub-vector lengths
    // (dim 4 queries vs dim 2 codebooks -> NULL dots): the NULL-sum
    // fingerprint must also raise
    val wrongDim = intercept[Exception] {
      Similarity.pqSearch(queries, codebooks, codes, 5, m = 2).collect()
    }
    assert(wrongDim.getMessage.contains("sub-distances"), wrongDim.getMessage)
    // and the correct m still searches clean
    assert(Similarity.pqSearch(queries, codebooks, codes, 5, m = 4).count() > 0)
  }

  test("residual encoding: recall >= raw IVF+PQ at equal (nprobe, m)") {
    // clustered corpus — the regime residual encoding exists for: the
    // coarse centroid explains each vector's magnitude, so PQ only has
    // to encode the small remainder. More clusters than sub-centroids
    // (40 > 32) keeps RAW PQ from just memorizing the offsets.
    val rnd = new scala.util.Random(97)
    val centers = IndexedSeq.fill(40)(IndexedSeq.fill(16)(rnd.nextGaussian() * 10))
    val rows = (1L to 320L).map { i =>
      val c = centers(((i - 1) % 40).toInt)
      i -> c.map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    }
    val corpus = vecs(rows: _*)
    val queries = corpus.filter($"vec_id" % 40 === 0) // 8 queries
    // exact L2 ground truth (driver-side; test-only)
    val all = rows.toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => val d = x.toDouble - y.toDouble; d * d }.sum
    val truth: Map[Long, Set[Long]] = rows.collect {
      case (qid, qv) if qid % 40 == 0 =>
        qid -> rows.filter(_._1 != qid)
          .map { case (nid, nv) => (l2(qv, nv), nid) }
          .sortBy(identity).take(10).map(_._2).toSet
    }.toMap
    def recall(result: DataFrame): Double = {
      val got = result.select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      truth.map { case (qid, t) =>
        got.getOrElse(qid, Set.empty[Long]).count(t).toDouble / t.size
      }.sum / truth.size
    }
    val raw = recall(Similarity.ivfpqTopK(queries, corpus, 10,
      nprobe = 8, coarseIterations = 2))
    val res = recall(Similarity.ivfpqResidualTopK(queries, corpus, 10,
      nprobe = 8, coarseIterations = 2))
    info(s"recall@10: raw=$raw residual=$res")
    assert(res >= raw, s"residual recall $res must be >= raw recall $raw")
    assert(res > 0.5, s"residual recall $res suspiciously low — broken search?")
  }

  test("SQL surface: graft_ann_search TVF matches the Column API ivfpqSearch") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val rnd = new scala.util.Random(101)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 50 === 0)
    val (coarse, assign) = Similarity.kmeansModel(corpus)
    val (codebooks, codes) = Similarity.pqModel(corpus)
    queries.createOrReplaceTempView("ann_q")
    coarse.createOrReplaceTempView("ann_coarse")
    assign.createOrReplaceTempView("ann_assign")
    codebooks.createOrReplaceTempView("ann_cb")
    codes.createOrReplaceTempView("ann_codes")
    val api = Similarity.ivfpqSearch(queries, coarse, assign, codebooks, codes,
      10, nprobe = 8).as[(Long, Long, Double, Int)].collect().toSet
    val sql = SparkSpec.spark.sql(
      "SELECT * FROM graft_ann_search('ann_q', 'ann_coarse', 'ann_assign', " +
        "'ann_cb', 'ann_codes', 10, 8, 4)")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(sql === api)
    assert(sql.nonEmpty)
    // default-knob arity plans the same search with (10, 4, 4)
    val dflt = SparkSpec.spark.sql(
      "SELECT * FROM graft_ann_search('ann_q', 'ann_coarse', 'ann_assign', " +
        "'ann_cb', 'ann_codes')")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(dflt === Similarity.ivfpqSearch(queries, coarse, assign, codebooks,
      codes, 10, nprobe = 4).as[(Long, Long, Double, Int)].collect().toSet)
    // non-literal arguments fail loudly, not silently
    val err = intercept[Exception] {
      SparkSpec.spark.sql("SELECT * FROM graft_ann_search(vec_id)").collect()
    }
    assert(err.getMessage.contains("graft_ann_search") ||
      err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
  }

  test("kmeansModel/pqModel emit the same artifacts as the single-artifact entry points") {
    val rnd = new scala.util.Random(84)
    val corpus = vecs((1L to 120L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val (coarse, assign) = Similarity.kmeansModel(corpus)
    assert(coarse.collect().toSet ===
      Similarity.kmeansCentroids(corpus).collect().toSet)
    assert(assign.collect().toSet ===
      Similarity.kmeansAssignments(corpus).collect().toSet)
    val (codebooks, codes) = Similarity.pqModel(corpus)
    assert(codebooks.collect().toSet ===
      Similarity.pqCodebooks(corpus).collect().toSet)
    assert(codes.collect().toSet === Similarity.pqCodes(corpus).collect().toSet)
  }

  test("ivfpqTopK with nprobe >= #coarse cells equals pqTopK (no Window)") {
    val rnd = new scala.util.Random(81)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 50 === 0)
    // FixedK(3) -> at most 3 coarse cells; nprobe=3 probes them all, so
    // the IVF restriction admits every corpus vector and the composed
    // result must equal flat PQ ADC with the same training parameters
    val ivfpq = Similarity.ivfpqTopK(queries, corpus, 5, nprobe = 3,
      coarseSeed = Similarity.CentroidSeed.FixedK(3))
    assert(!ivfpq.queryExecution.executedPlan.toString.contains("Window"))
    val got = ivfpq.as[(Long, Long, Double, Int)].collect().toSet
    val flat = Similarity.pqTopK(queries, corpus, 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === flat)
  }

  test("ivfpqSearch over stored artifacts matches ivfpqTopK and never retrains") {
    val rnd = new scala.util.Random(82)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 50 === 0)
    val inline = Similarity.ivfpqTopK(queries, corpus, 5, nprobe = 2,
        coarseIterations = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    // train once, store all four artifacts, read back — the serving
    // pattern at billion-vector scale (training jobs run rarely; the
    // search tier only ever reads centroids, lists, codebooks, codes)
    val dir = tempDir("graft-ivfpq-")
    Similarity.kmeansCentroids(corpus).write.parquet(s"$dir/coarse")
    Similarity.kmeansAssignments(corpus).write.parquet(s"$dir/assign")
    Similarity.pqCodebooks(corpus).write.parquet(s"$dir/codebooks")
    Similarity.pqCodes(corpus).write.parquet(s"$dir/codes")
    val searched = Similarity.ivfpqSearch(queries,
      spark.read.parquet(s"$dir/coarse"), spark.read.parquet(s"$dir/assign"),
      spark.read.parquet(s"$dir/codebooks"), spark.read.parquet(s"$dir/codes"),
      5, nprobe = 2)
    val plan = searched.queryExecution.executedPlan.toString
    // no Lloyd E/M-step may survive into the serving plan: the
    // M-step's DECIMAL(28,12) accumulation and any Window sort are the
    // training fingerprints
    assert(!plan.contains("28,12"), plan)
    assert(!plan.contains("Window"), plan)
    assert(searched.as[(Long, Long, Double, Int)].collect().toSet === inline)
  }

  test("ivfpqTopKFromStore: parity with ivfpqSearch; the cells scan prunes to <= nprobe directories") {
    val rnd = new scala.util.Random(83)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" === 50L)
    val (coarse, assign) = Similarity.kmeansModel(corpus)
    val (codebooks, codes) = Similarity.pqModel(corpus)
    val want = Similarity.ivfpqSearch(queries, coarse, assign, codebooks, codes,
      5, nprobe = 2).as[(Long, Long, Double, Int)].collect().toSet
    val dir = tempDir("graft-annstore-")
    Similarity.saveAnnStore(coarse, assign, codebooks, codes, s"$dir/ann")
    val served = Similarity.ivfpqTopKFromStore(spark, s"$dir/ann", queries,
      5, nprobe = 2)
    assert(served.as[(Long, Long, Double, Int)].collect().toSet === want,
      "the store-served search must be row-identical to the stored-table search")
    // the scale property the cell layout exists for: every scan of the
    // cells table carries a cell_id partition filter, and executes over
    // at most nprobe directories (one file per directory by the
    // repartition-before-write) — never the corpus
    val qe = Similarity.ivfpqTopKFromStore(spark, s"$dir/ann", queries,
      5, nprobe = 2).queryExecution
    qe.toRdd.count()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val cellScans = scans(qe.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("cells")))
    assert(cellScans.nonEmpty, "expected scans over the cells store")
    cellScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        s"cells scan must prune by cell_id partition: $sc")
      assert(sc.metrics("numFiles").value <= 2L,
        s"a cells scan read ${sc.metrics("numFiles").value} files — " +
          "pruning must bound it at nprobe directories per query")
    }
  }

  test("ivfpqResidualTopKFromStore: parity with ivfpqResidualSearch over the cell store") {
    val rnd = new scala.util.Random(84)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 50 === 0)
    val (coarse, assign, books, codes) = Similarity.ivfpqResidualModel(corpus)
    val want = Similarity.ivfpqResidualSearch(queries, coarse, assign, books,
      codes, 5, nprobe = 2).as[(Long, Long, Double, Int)].collect().toSet
    val dir = tempDir("graft-annstore-res-")
    Similarity.saveAnnStore(coarse, assign, books, codes, s"$dir/ann")
    assert(Similarity.ivfpqResidualTopKFromStore(spark, s"$dir/ann", queries,
        5, nprobe = 2).as[(Long, Long, Double, Int)].collect().toSet === want,
      "the residual store-served search must equal the stored-table search")
  }

  test("cosineDupPairs finds in-bucket near-duplicates only") {
    val corpus = vecs(
      1L -> Seq(1f, 1f, 0f), 2L -> Seq(1.01f, 1f, 0f), 3L -> Seq(1f, -1f, 0f))
    val got = Similarity.cosineDupPairs(corpus, threshold = 0.99, bits = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("cosineDupPairs materializes the bucketed table once (both strategies)") {
    import graft.core.Materialize
    val rnd = new scala.util.Random(31)
    val corpus = vecs((1L to 50L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val viaCheckpoint = Similarity.cosineDupPairs(corpus, threshold = 0.5)
    val viaPersist = Materialize.using(Materialize.Persist) {
      Similarity.cosineDupPairs(corpus, threshold = 0.5)
    }
    try {
      // localCheckpoint: both self-join sides scan the checkpointed RDD;
      // the per-row norm (sqrt) / bucket pipeline is gone from the plan —
      // only the pair-level dot survives downstream of the join
      val cpPlan = viaCheckpoint.queryExecution.executedPlan.toString
      assert(cpPlan.contains("Scan ExistingRDD"), cpPlan)
      assert(!cpPlan.toLowerCase.contains("sqrt"), cpPlan)
      // persist: the cache manager substitutes the cached relation into
      // BOTH join sides — the embedding subplan executes once
      val persistRows = viaPersist.as[(Long, Long, Double)].collect().toSet
      val pPlan = viaPersist.queryExecution.executedPlan.toString
      assert("InMemoryTableScan".r.findAllMatchIn(pPlan).size >= 2, pPlan)
      assert(persistRows === viaCheckpoint.as[(Long, Long, Double)].collect().toSet)
    } finally {
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("semanticDupPairs pairs within a learned cluster only") {
    // every vector is its own FixedK centroid (k >= n), so identical
    // vectors tie on cosine and land in the LOWEST cell together, while
    // the orthogonal pair stays separated — the minimal blocking check
    val corpus = vecs(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(1f, 0f, 0f),
      3L -> Seq(0f, 1f, 0f), 4L -> Seq(0f, 0f, 1f))
    val got = Similarity.semanticDupPairs(corpus, threshold = 0.99,
      seed = Similarity.CentroidSeed.FixedK(4))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("semanticContaminatedIds flags train vectors near an eval vector, with evidence") {
    // train: t1 aligned with eval e100, t2 orthogonal to everything,
    // t3 ALSO aligned with e100 (two train docs leaked from one eval
    // doc). k=2 so t1 and t3 share a learned cell (seeds by md5 order
    // are vec_ids 1 and 2); eval vectors encode against the frozen
    // centroids — e100 joins t1/t3's cell, orthogonal e101 ties to the
    // lowest cell at cos 0 and pairs below threshold
    val train = vecs(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f), 3L -> Seq(0.99f, 0.01f, 0f))
    val eval = vecs(100L -> Seq(1f, 0f, 0f), 101L -> Seq(0f, 0f, 1f))
    val got = Similarity.semanticContaminatedIds(train, eval, threshold = 0.9,
      seed = Similarity.CentroidSeed.FixedK(2))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === Set(1L, 3L), s"orthogonal t2 must not be flagged: $got")
    assert(got(1L) === ((1L, 1.0)))                 // exactly e100, cos 1
    assert(got(3L)._1 === 1L)                       // one eval hit
    assert(got(3L)._2 > 0.9 && got(3L)._2 < 1.0)
    // the survivor filter is the anti-join of the same evidence
    val kept = Similarity.decontaminateSemantic(train, eval, threshold = 0.9,
      seed = Similarity.CentroidSeed.FixedK(2))
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(2L))
  }

  test("recallAtK: exact on hand-built tables; full-probe IVF recalls 1.0 vs brute force") {
    import SparkSpec.spark.implicits._
    // truth: q1 -> {a,b,c}; q2 -> {a,b}; approx hits 2/3 and 0/2
    val exact = Seq((1L, 101L, 1), (1L, 102L, 2), (1L, 103L, 3),
      (2L, 101L, 1), (2L, 102L, 2)).toDF("query_id", "neighbor_id", "rank")
    val approx = Seq((1L, 101L, 1), (1L, 103L, 2), (1L, 999L, 3),
      (2L, 888L, 1), (2L, 889L, 2)).toDF("query_id", "neighbor_id", "rank")
    val got = graft.ops.Similarity.recallAtK(approx, exact, 3)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 2L, 0.666667)))
    assert(got(2L) === ((2L, 2L, 0L, 0.0)))
    // only ranks <= k count on both sides
    val gotK1 = graft.ops.Similarity.recallAtK(approx, exact, 1)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(gotK1 === Map(1L -> 1.0, 2L -> 0.0))
    // end-to-end: probing every cell makes IVF exhaustive -> recall 1.0
    val rnd = new scala.util.Random(106)
    val corpus = vecs((1L to 160L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val q = corpus.filter($"vec_id" % 40 === 0)
    val rec = graft.ops.Similarity.recallAtK(
      Similarity.ivfTopK(q, corpus, 5, nprobe = 1000,
        seed = Similarity.CentroidSeed.Modulo(40)),
      Similarity.bruteForceTopK(q, corpus, 5), 5)
    assert(rec.count() === 4)
    assert(rec.filter($"recall" =!= 1.0).count() === 0)
  }

  test("SQL surface: graft_semantic_decontaminate TVF matches the Column API") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val rnd = new scala.util.Random(105)
    val all = vecs((1L to 120L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val train = all.filter($"vec_id" % 10 =!= 0)
    val eval = all.filter($"vec_id" % 10 === 0)
    train.createOrReplaceTempView("sdc_train")
    eval.createOrReplaceTempView("sdc_eval")
    try {
      val api = Similarity.semanticContaminatedIds(train, eval, threshold = 0.35)
        .as[(Long, Long, Double)].collect().toSet
      val sql = SparkSpec.spark.sql(
        "SELECT * FROM graft_semantic_decontaminate('sdc_train', 'sdc_eval', 0.35)")
        .as[(Long, Long, Double)].collect().toSet
      assert(sql === api)
      assert(sql.nonEmpty, "the random corpus should produce at least one 0.35-cosine hit")
    } finally {
      SparkSpec.spark.sharedState.cacheManager.clearCache()
    }
  }

  test("encodeWithModel through stored artifacts reproduces the trained-inline tables") {
    val rnd = new scala.util.Random(102)
    val corpus = vecs((1L to 150L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    // both reassemblies are lossless (values rounded before flattening),
    // so serving-side encode of the TRAINING corpus is row-identical to
    // the trained-inline assignment/code tables
    val viaStored = Similarity.assignWithCentroids(corpus, Similarity.kmeansCentroids(corpus))
      .as[(Long, Long, Double)].collect().toSet
    assert(viaStored === Similarity.kmeansAssignments(corpus)
      .as[(Long, Long, Double)].collect().toSet)
    val codesViaStored = Similarity.pqEncodeWithCodebooks(corpus, Similarity.pqCodebooks(corpus))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(codesViaStored === Similarity.pqCodes(corpus)
      .as[(Long, Int, Long, Double)].collect().toSet)
  }

  test("ivfpqResidualSearch over stored artifacts matches ivfpqResidualTopK") {
    val rnd = new scala.util.Random(104)
    val corpus = vecs((1L to 200L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    val queries = corpus.filter($"vec_id" % 50 === 0)
    val (coarse, assign, books, codes) = Similarity.ivfpqResidualModel(corpus)
    val served = Similarity.ivfpqResidualSearch(queries, coarse, assign, books, codes,
      10, nprobe = 8).as[(Long, Long, Double, Int)].collect().toSet
    val inline = Similarity.ivfpqResidualTopK(queries, corpus, 10, nprobe = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served === inline)
    assert(served.nonEmpty)
    // residualEncodeWithModel of the training corpus reproduces the
    // model's own assignment/code tables (lossless reassemblies)
    val (encAssign, encCodes) = Similarity.residualEncodeWithModel(corpus, coarse, books)
    assert(encAssign.as[(Long, Long, Double)].collect().toSet ===
      assign.as[(Long, Long, Double)].collect().toSet)
    assert(encCodes.as[(Long, Int, Long, Double)].collect().toSet ===
      codes.as[(Long, Int, Long, Double)].collect().toSet)
  }

  test("SQL surface: graft_semantic_dups TVF matches the Column API (decimal literal)") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val rnd = new scala.util.Random(103)
    val corpus = vecs((1L to 120L).map(i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2 - 1)): _*)
    corpus.createOrReplaceTempView("sem_emb")
    try {
      val api = Similarity.semanticDupPairs(corpus, threshold = 0.35)
        .as[(Long, Long, Long, Double)].collect().toSet
      // SQL `0.35` parses as a DECIMAL literal — the extractor must take it
      val sql = SparkSpec.spark.sql(
        "SELECT * FROM graft_semantic_dups('sem_emb', 0.35)")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(sql === api)
      assert(sql.nonEmpty)
      // non-literal threshold fails loudly
      val err = intercept[Exception] {
        SparkSpec.spark.sql("SELECT * FROM graft_semantic_dups('sem_emb', vec_id)").collect()
      }
      assert(err.getMessage.contains("graft_semantic_dups") ||
        err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
    } finally {
      SparkSpec.spark.sharedState.cacheManager.clearCache()
    }
  }

  test("dropSemanticDuplicates keeps the minimum vec_id per connected component") {
    // A~B and B~C above threshold but A~C below it: non-transitive
    // chain — the component must drop BOTH B and C, not just B
    val a = Seq(1f, 0f)
    val b = Seq(math.cos(0.5).toFloat, math.sin(0.5).toFloat) // cos(A,B)=.878
    val c = Seq(math.cos(1.0).toFloat, math.sin(1.0).toFloat) // cos(B,C)=.878, cos(A,C)=.540
    val corpus = vecs(1L -> a, 2L -> b, 3L -> c, 4L -> Seq(0f, -1f))
    val kept = Similarity.dropSemanticDuplicates(corpus, threshold = 0.8,
      seed = Similarity.CentroidSeed.FixedK(1)) // one cell: blocking can't hide pairs
      .select("vec_id").as[Long].collect().toSet
    assert(kept === Set(1L, 4L))
  }

  test("marginMine == a plain-Scala ratio-margin reference on seeded random corpora") {
    val rnd = new scala.util.Random(99)
    def rv() = Seq.fill(4)(rnd.nextFloat() * 2 - 1)
    val xs = (0L until 12L by 2).map(i => i -> rv())
    val ys = (1L until 13L by 2).map(i => i -> rv())
    val (k, threshold) = (2, 1.0)
    // reference: same arithmetic contract — 6dp-rounded cosines,
    // exact-decimal neighborhood sums, 6dp-rounded margin
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    def cos(a: Seq[Float], b: Seq[Float]) = {
      val (d, na, nb) = (a.zip(b).map(p => p._1.toDouble * p._2).sum,
        math.sqrt(a.map(v => v.toDouble * v).sum), math.sqrt(b.map(v => v.toDouble * v).sum))
      r6(d / (na * nb))
    }
    def topK(from: Seq[(Long, Seq[Float])], to: Seq[(Long, Seq[Float])]) =
      from.map { case (qid, qv) =>
        qid -> to.map { case (nid, nv) => (nid, cos(qv, nv)) }
          .sortBy { case (nid, c) => (-c, nid) }.take(k)
      }.toMap
    val fwd = topK(xs, ys)
    val bwd = topK(ys, xs)
    def avg(nns: Seq[(Long, Double)]) =
      nns.map(p => BigDecimal(p._2).setScale(6)).sum.toDouble / k
    val want = fwd.flatMap { case (x, nns) =>
      val cands = nns.map { case (y, c) =>
        (y, r6(c * 2.0 / (avg(fwd(x)) + avg(bwd(y)))))
      }.filter(_._2 >= threshold)
      if (cands.isEmpty) None
      else { val best = cands.minBy { case (y, m) => (-m, y) }; Some(x -> best) }
    }
    val got = Similarity.marginMine(vecs(xs: _*), vecs(ys: _*), k, threshold)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === want, s"got $got\nwant $want")
    // precomputed-table face is identical (the ANN plug-in contract)
    val viaFrom = Similarity.marginMineFrom(
      Similarity.bruteForceTopK(vecs(xs: _*), vecs(ys: _*), k),
      Similarity.bruteForceTopK(vecs(ys: _*), vecs(xs: _*), k), k, threshold)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(viaFrom === got)
    // SQL surface parity, both arities
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    vecs(xs: _*).createOrReplaceTempView("mm_x")
    vecs(ys: _*).createOrReplaceTempView("mm_y")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_margin_mine('mm_x', 'mm_y', 2, 1.0)")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap === got)
    assert(SparkSpec.spark.sql("SELECT * FROM graft_margin_mine('mm_x', 'mm_y')")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap ===
      Similarity.marginMine(vecs(xs: _*), vecs(ys: _*))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap)
  }

  test("embeddingOutliers flags the vector far from its label's centroid, per label") {
    // label 0: a tight cluster near e1 plus one vector along e2 — the
    // outlier; label 1: a tight cluster near e2 (its own frame, so the
    // e2 direction is NOT an outlier there)
    val emb = Seq(
      (1L, Seq(1.00f, 0.01f), 0), (2L, Seq(0.99f, 0.02f), 0),
      (3L, Seq(1.01f, 0.00f), 0), (4L, Seq(0.98f, 0.01f), 0),
      (5L, Seq(1.00f, 0.02f), 0), (6L, Seq(0.01f, 1.00f), 0),  // ← the stray
      // label 1: two exact duplicate pairs → every member's deviation
      // EQUALS the MAD, safely under the 3·1.4826 cut (a 3-point label
      // would make the MAD degenerate — that's the caller's k to tune)
      (7L, Seq(0.00f, 1.00f), 1), (8L, Seq(0.00f, 1.00f), 1),
      (9L, Seq(0.02f, 1.00f), 1), (10L, Seq(0.02f, 1.00f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingOutliers(emb)
      .select("vec_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(got(6L), "the cross-cluster stray must flag")
    assert((got - 6L).values.forall(!_), s"tight-cluster members must not flag: $got")
    // distances are honest: the stray's distance dwarfs its label median
    val stray = Similarity.embeddingOutliers(emb)
      .where($"vec_id" === 6L).select("cos_dist", "med").as[(Double, Double)].head()
    assert(stray._1 > 0.5 && stray._2 < 0.05)
    // SQL surface parity, explicit-k_mad arity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    emb.createOrReplaceTempView("eo_emb")
    assert(SparkSpec.spark.sql("SELECT vec_id, is_outlier FROM graft_emb_outliers('eo_emb', 3.0)")
      .as[(Long, Boolean)].collect().toMap === got)
  }

  test("embeddingOutliers: a zero-norm vector pins to max distance and flags") {
    // the archetypal encoder failure — a NULL cosine would silently
    // drop it from where(is_outlier); the sentinel keeps it visible
    val emb = Seq(
      (1L, Seq(1.00f, 0.01f), 0), (2L, Seq(0.99f, 0.02f), 0),
      (3L, Seq(1.01f, 0.00f), 0), (4L, Seq(0.98f, 0.01f), 0),
      (5L, Seq(1.00f, 0.02f), 0),
      (6L, Seq(0.00f, 0.00f), 0)  // ← dead encoder output
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingOutliers(emb)
      .select("vec_id", "cos_dist", "is_outlier")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(6L)._1 === 2.0)
    assert(got(6L)._2, "zero-norm vector must flag as an outlier")
    assert((got - 6L).values.forall(!_._2), s"healthy members must not flag: $got")
  }
  test("cellSeedFor + semanticDupPairsAuto: k grows with n at constant cell size; auto == explicit") {
    import graft.ops.Similarity
    assert(Similarity.cellSeedFor(0) === Similarity.CentroidSeed.FixedK(1))
    assert(Similarity.cellSeedFor(1000, 100) === Similarity.CentroidSeed.FixedK(10))
    assert(Similarity.cellSeedFor(1001, 100) === Similarity.CentroidSeed.FixedK(11))
    assert(Similarity.cellSeedFor(5000000000L, 100000) ===
      Similarity.CentroidSeed.FixedK(50000)) // the SemDeDup paper's point
    val corpus = vecs((1L to 16L).map { i =>
      i -> Seq((i % 4).toFloat + 1f, (i % 3).toFloat, (i % 5).toFloat)
    }: _*)
    val auto = Similarity.semanticDupPairsAuto(corpus, threshold = 0.9, targetCellSize = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val explicit = Similarity.semanticDupPairs(corpus, threshold = 0.9,
        seed = Similarity.cellSeedFor(16, 4))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(auto === explicit)
    assert(auto.nonEmpty)
  }

  // ---- JL sign random projection ------------------------------------------

  /** Plain-Scala reference of the hash-seeded projection. */
  private def refJl(x: Seq[Float], r: Int): Seq[Double] = {
    def sign(i: Int, j: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"jl|$i|$j".getBytes("UTF-8"))
      val hex = h.take(4).map(b => f"${b & 0xff}%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
    (1 to r).map { j =>
      x.zipWithIndex.foldLeft(0.0) { case (acc, (v, i0)) =>
        acc + v.toDouble * sign(i0 + 1, j)
      } / math.sqrt(r.toDouble)
    }
  }

  test("jlProject matches the plain-Scala reference bit-for-bit") {
    val x = Seq(0.25f, -1.5f, 3f, 0.125f, -0.75f, 2f)
    val got = vecs(1L -> x)
      .select(Similarity.jlProject(col("embedding"), 6, 4))
      .as[Seq[Double]].head()
    assert(got == refJl(x, 4))
  }

  test("jlProjected publishes 1-based exploded rows, 6dp") {
    val rows = Similarity.jlProjected(vecs(7L -> Seq(1f, 2f, 3f)), 3, 2)
      .as[(Long, Int, Double)].collect().sortBy(_._2)
    assert(rows.map(_._2).toSeq == Seq(1, 2))
    val exp = refJl(Seq(1f, 2f, 3f), 2)
    rows.zip(exp).foreach { case ((id, _, y), e) =>
      assert(id == 7L)
      assert(y == java.math.BigDecimal.valueOf(e)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    }
  }

  test("jlTopK ranks in the projected space; distortion shrinks with outDim") {
    // structured corpus: two tight clusters -> projection keeps them apart
    val base = (1L to 20L).map { i =>
      val c = if (i <= 10) Seq(5f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
              else Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 5f)
      i -> c.zipWithIndex.map { case (v, d) => v + ((i * 7 + d) % 5) * 0.1f }
    }
    val corpus = vecs(base: _*)
    val q = vecs(1L -> base.head._2)
    val top = Similarity.jlTopK(q, corpus, 5, 8, 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert(top.forall(_ <= 10L), s"cluster escaped: $top") // same-cluster neighbors
    val d16 = Similarity.jlDistortion(q, corpus, 8, 4)
      .select("mean_err").as[Double].head()
    val d64 = Similarity.jlDistortion(q, corpus, 8, 8)
      .select("mean_err").as[Double].head()
    assert(d64 <= d16, s"distortion did not shrink: r4=$d16 r8=$d64")
  }

  test("jlTopK plans broadcast + bounded heap, never a Window") {
    val corpus = vecs((1L to 30L).map(i => i -> Seq(i.toFloat, 1f, 2f, 3f)): _*)
    val plan = Similarity.jlTopK(vecs(1L -> Seq(1f, 1f, 2f, 3f)), corpus, 3, 4, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }
}
