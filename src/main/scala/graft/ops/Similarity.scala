package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings.parquet`: `vec_id, embedding: array<float>, label`).
  *
  * Two tiers:
  *   - `bruteForceTopK`: exact cosine top-k of a (small) query set vs the
  *     corpus — broadcast the queries, scan the corpus once. The
  *     baseline and the verifier for the ANN tier.
  *   - `lshBucketTopK`: sign-LSH bucketed search — candidates must share
  *     a signature bucket with the query, so the scan shrinks by ~2^bits.
  *     The 100 TB path: bucket is a shuffle key, each bucket's work is
  *     independent.
  *
  * Ranking: every top-k/top-1 selection uses the bounded-heap aggregate
  * [[graft.functions.TopKByScore]] (double scores) or a `max_by` — never
  * a `row_number` window. The window formulation shuffles and fully
  * SORTS every candidate of every query; the aggregate forwards at most
  * k rows per query per map task into the shuffle and sorts nothing.
  * At a 100 TB corpus with large query batches that is the difference
  * between an exchange carrying k·|queries| rows and one carrying every
  * scored candidate.
  *
  * Determinism: dot products fold the arrays sequentially in double
  * precision (functions.aggregate = ordered fold, not a parallel sum),
  * and scores are rounded to 6 decimals before ranking, with `vec_id`
  * tiebreaks — so an independent engine reproduces rank-for-rank.
  */
object Similarity {

  /** Centroid seeding for the Lloyd training loops ([[kmeans]], the PQ
    * codebook loop) and [[ivfTopK]]'s default coarse quantizer.
    *
    * [[CentroidSeed.FixedK]] is the default and the 100 TB-safe choice:
    * the k corpus vectors with the smallest `md5(vec_id)` — a
    * deterministic uniform sample whose SIZE does not grow with the
    * corpus, so the broadcast centroid table stays k rows and the
    * E-step stays linear in n at any scale. The selection itself is a
    * bounded heap (`orderBy(md5).limit(k)` plans as
    * TakeOrderedAndProject — k rows per map task into the driver merge,
    * no global sort). An independent engine reproduces the sample:
    * `ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT k`.
    *
    * [[CentroidSeed.Modulo]] is the legacy sample (every vector with
    * `vec_id % mod == 1`): #cells ≈ n/mod grows WITH the corpus, which
    * couples training cost superlinearly to corpus size (measured:
    * pq_topk 2.1 s at sf0.1 → 24.9 s at sf1, 12× for 10× data). Keep it
    * only when corpus-proportional cell counts are the point.
    */
  sealed trait CentroidSeed
  object CentroidSeed {
    /** k smallest-md5(vec_id) vectors — corpus-size-independent. */
    final case class FixedK(k: Int) extends CentroidSeed {
      require(k >= 1, s"FixedK(k=$k) must be >= 1")
    }
    /** Legacy: vectors with vec_id % mod == 1 — #cells grows with n. */
    final case class Modulo(mod: Int) extends CentroidSeed {
      require(mod >= 1, s"Modulo(mod=$mod) must be >= 1")
    }
  }

  /** The default seed: 32 cells regardless of corpus size — sized for
    * the driver fixtures; production tunes k to the corpus (e.g. 2^12+
    * at billion-vector scale). */
  val DefaultSeed: CentroidSeed = CentroidSeed.FixedK(32)

  /** The SemDeDup k-grows-with-n recipe made executable (it was a
    * SURVEY §8 paragraph; nothing connected it to the parameter a user
    * passes): within-cell pair work is Σ_c n_c² ≈ n · cellSize under
    * balanced cells, so holding CELL SIZE constant — not k — keeps the
    * blocked-pair stage linear in the corpus. k = ceil(n /
    * targetCellSize), floored at 1. The paper's own operating point
    * (50k clusters for 5B embeddings) is targetCellSize = 100k;
    * the right value is "n_c vectors fit one executor's pairwise
    * pass". Pass the result anywhere a [[CentroidSeed]] goes. */
  def cellSeedFor(nVectors: Long, targetCellSize: Int = 1024): CentroidSeed = {
    require(nVectors >= 0, s"nVectors=$nVectors must be >= 0")
    require(targetCellSize >= 1, s"targetCellSize=$targetCellSize must be >= 1")
    val k = math.max(1L, (nVectors + targetCellSize - 1) / targetCellSize)
    require(k <= Int.MaxValue,
      s"k=$k cells (n=$nVectors / cell=$targetCellSize) exceeds Int range — raise targetCellSize")
    CentroidSeed.FixedK(k.toInt)
  }

  /** [[semanticDupPairs]] with the cell count AUTO-SIZED from the
    * corpus ([[cellSeedFor]] — one count job, then the same pipeline):
    * the call to use when the corpus size is not known ahead; the
    * fixed-seed form remains for stored-artifact serving, where k must
    * match the trained tables. */
  def semanticDupPairsAuto(
      corpus: DataFrame,
      threshold: Double = 0.95,
      targetCellSize: Int = 1024,
      iterations: Int = 2): DataFrame =
    semanticDupPairs(corpus, threshold, iterations,
      cellSeedFor(corpus.count(), targetCellSize))

  /** Sequential-fold dot product of two double arrays — the native
    * codegen'd [[graft.functions.DotProduct]] expression (the HOF
    * formulation `aggregate(zip_with(...))` is interpreted; the native
    * expression is the same index-order fold inside whole-stage
    * codegen, so values are bit-identical). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotp(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a, b), rounded to 6 decimals (kills cross-engine 1-ulp
    * noise; see module doc); NULL when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column =
    safeCos(dot(a, b), norm(a) * norm(b))

  /** Cosine from a precomputed dot and norm product — NULL when the
    * norm product is zero. 0/0 would be NaN, and NaN outranks every
    * real score through the heap's sortable key; a NULL score instead
    * is skipped by TopKByScore, fails threshold filters, and loses
    * max_by comparisons, so zero vectors drop out of every ranking
    * rather than topping all of them. */
  private def safeCos(dotC: Column, normProd: Column): Column =
    when(normProd > 0, round(dotC / normProd, 6))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Bounded-heap ranking of scored candidates: top `k` per query by
    * (cos desc, neighbor_id asc), emitted with a dense 1..k `rank` —
    * row-identical to the `row_number` window formulation, without ever
    * sorting a candidate set. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(col("cos"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("query_id"), col("e.id").as("neighbor_id"), col("e.score").as("cos"),
        (col("i") + 1).cast("int").as("rank"))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param queries  (vec_id, embedding) — SMALL (broadcast)
    * @param corpus   (vec_id, embedding) — arbitrarily large
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms are per-vector, not per-pair: materialize once on each side
    // (row-linear) so the pair-level work is a single dot + division —
    // same doubles as cosine() since qn*cn ≡ sqrt(dot(q,q))*sqrt(dot(c,c)).
    val q = broadcast(
      queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
        .select(col("query_id"), col("qv"), norm(col("qv")).as("qn")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"))
      .select(col("neighbor_id"), col("cv"), norm(col("cv")).as("cn"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCos(dot(col("qv"), col("cv")), col("qn") * col("cn")).as("cos"))
    rankTopK(scored, k)
  }

  /** Johnson–Lindenstrauss sign random projection — the
    * dimensionality-REDUCTION preprocessing step the bucketing paths
    * (sign-LSH, IVF, PQ) don't give: map `inDim`-d embeddings to
    * `outDim`-d with a deterministic ±1 matrix
    * ([[graft.functions.JlProject]]; Achlioptas '03 guarantees the
    * Gaussian-JL distance bound for the sign matrix). At 100 TB this
    * is the cheap first stage: a 64→16 projection cuts every
    * downstream dot product 4×, and because the matrix is hash-seeded
    * the projection is reproducible across runs AND engines — stored
    * projected tables are exact artifacts, not snapshots of an RNG. */
  def jlProject(emb: Column, inDim: Int, outDim: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.JlProject(
        org.apache.spark.sql.GraftSqlBridge.expression(asDouble(emb)), inDim, outDim))

  /** Publication face of [[jlProject]]: the projected corpus as
    * exploded `(vec_id, j, y)` rows (1-based j, 6dp y) — the storable
    * reduced-embedding table. One scan, row-parallel, no shuffle. */
  def jlProjected(vecs: DataFrame, inDim: Int, outDim: Int): DataFrame =
    graft.core.Parallelism.ensure(vecs)
      .select(col("vec_id"),
        posexplode(jlProject(col("embedding"), inDim, outDim)).as(Seq("j0", "y")))
      .select(col("vec_id"), (col("j0") + 1).cast("int").as("j"),
        round(col("y"), 6).as("y"))

  /** Exact top-k cosine search in the PROJECTED space — the JL scale
    * path: same plan shape as [[bruteForceTopK]] (broadcast queries,
    * bounded-heap ranking, no window) but every pair costs `outDim`
    * multiply-adds instead of `inDim`. Recall vs the full-dimension
    * search is measured by [[recallAtK]] (q_jl_recall).
    *
    * What JL does and does not price: the theory bounds DISTANCE
    * distortion (~1/sqrt(outDim) cosine error — [[jlDistortion]]
    * measures it), not top-k membership. On a corpus with strong
    * cluster structure the two coincide; on a near-ISOTROPIC cloud
    * (the synthetic fixture: median pairwise cosine ~0) exact top-k is
    * decided by gaps smaller than any affordable distortion, so
    * projected recall is structurally low there — that is the fixture
    * being adversarial, not the operator failing, and q_jl_distortion
    * is the claim the operator actually makes. Production use: JL as
    * the candidate-generation stage (shortlist at outDim, re-rank the
    * shortlist at inDim), where the distortion bound is what sizes the
    * shortlist. */
  def jlTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      inDim: Int, outDim: Int): DataFrame = {
    val q = broadcast(
      queries.select(col("vec_id").as("query_id"),
        jlProject(col("embedding"), inDim, outDim).as("qv"))
        .select(col("query_id"), col("qv"), norm(col("qv")).as("qn")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      jlProject(col("embedding"), inDim, outDim).as("cv"))
      .select(col("neighbor_id"), col("cv"), norm(col("cv")).as("cn"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCos(dot(col("qv"), col("cv")), col("qn") * col("cn")).as("cos"))
    rankTopK(scored, k)
  }

  /** JL distortion audit — the claim the projection actually makes:
    * per query, the absolute error between projected and
    * full-dimension cosine over every corpus pair, as
    * `(query_id, n_pairs, mean_err, max_err)`. JL theory prices
    * `mean_err ~ 1/sqrt(outDim)`; a stored projected table whose
    * audit drifts past that was built against the wrong inDim or a
    * corrupted sign seed. Determinism: both cosines arrive 6dp-rounded
    * (the [[cosine]] recipe), the error mean is an exact DECIMAL sum
    * over 6dp terms divided last. Same keyed plan shape as
    * [[bruteForceTopK]] — broadcast queries, one combinable per-query
    * aggregate, no window, no all-pairs shuffle. */
  def jlDistortion(
      queries: DataFrame, corpus: DataFrame,
      inDim: Int, outDim: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val q = broadcast(
      queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qf"),
        jlProject(col("embedding"), inDim, outDim).as("qp"))
        .select(col("query_id"), col("qf"), col("qp"),
          norm(col("qf")).as("qfn"), norm(col("qp")).as("qpn")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cf"),
      jlProject(col("embedding"), inDim, outDim).as("cp"))
      .select(col("neighbor_id"), col("cf"), col("cp"),
        norm(col("cf")).as("cfn"), norm(col("cp")).as("cpn"))
    c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        abs(safeCos(dot(col("qp"), col("cp")), col("qpn") * col("cpn"))
          - safeCos(dot(col("qf"), col("cf")), col("qfn") * col("cfn")))
          .cast(DecimalType(18, 6)).as("err"))
      // a zero-norm vector (or a projection that lands exactly on 0)
      // has no cosine — drop the pair on BOTH count and sum, so
      // mean_err stays a mean over COMPARABLE pairs (the twin filters
      // the same pairs by their norm products)
      .where(col("err").isNotNull)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_pairs"),
        // exact decimal sum -> double, divided LAST (both engines'
        // decimal division scales differ; double/int does not)
        round(sum(col("err")).cast("double") / count(lit(1)), 6).as("mean_err"),
        max(col("err")).cast("double").as("max_err"))
  }

  /** Sign-LSH bucket key: the sign bits of `bits` fixed coordinates
    * (axis-aligned random hyperplanes — deterministic, engine-agnostic;
    * coordinate j of the bucket = 1 iff embedding[j] > 0).
    * With zero-mean embeddings each bit is ~balanced, so buckets hold
    * ~n/2^bits vectors.
    */
  def lshBucket(emb: Column, bits: Int): Column =
    (0 until bits).map { j =>
      when(element_at(emb, j + 1) > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** ANN top-k: only corpus vectors in the query's bucket are scored.
    * Recall < 1 by construction (that is the ANN trade); the bucket join
    * keys the shuffle so no executor ever sees the whole corpus.
    */
  def lshBucketTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 8): DataFrame = {
    val q = broadcast(
      queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"),
        lshBucket(col("embedding"), bits).as("bucket"))
        .select(col("query_id"), col("qv"), col("bucket"), norm(col("qv")).as("qn")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("cv"),
      lshBucket(col("embedding"), bits).as("bucket"))
      .select(col("neighbor_id"), col("cv"), col("bucket"), norm(col("cv")).as("cn"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCos(dot(col("qv"), col("cv")), col("qn") * col("cn")).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) ANN — the other scale path beside sign-LSH:
    * coarse-quantize the corpus into cells around a deterministic
    * centroid sample (the fixed-k md5 sample by default, see
    * [[CentroidSeed]] — or pass `centroids` learned by [[kmeans]],
    * which is Lloyd iterations of this same assignment join), keep an
    * inverted list per cell, and probe only the `nprobe` cells nearest
    * each query.
    *
    * Plan shape: centroids are a broadcast dim on BOTH the assignment
    * join and the probe join; the candidate join shuffles on cell_id —
    * every stage is keyed, nothing is all-pairs, and recall/cost is the
    * (nprobe / #cells) knob. No stage sorts: cell assignment is a
    * `max_by` argmax aggregate, probe selection and final ranking are
    * bounded-heap top-k. Determinism: cosines rounded to 6, all ranks
    * tie-broken by id, cell assignment tie-broken by lowest cell_id.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nprobe: Int = 4,
      seed: CentroidSeed = DefaultSeed,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cent = broadcast(centroids match {
      // learned centroids (cell_id, cv: array<double>) — e.g. [[kmeans]]
      // output; better cells than the seed sample ⇒ better recall at
      // the same nprobe (pinned by SimilaritySpec's recall comparison)
      case Some(c) => c.select(col("cell_id"), col("cv"), norm(col("cv")).as("cn"))
      case None => seedCells(corpusVN(corpus), seed)
    })
    val corp = corpus.select(col("vec_id").as("neighbor_id"), asDouble(col("embedding")).as("v"))
      .select(col("neighbor_id"), col("v"), norm(col("v")).as("n"))
    // nearest cell per corpus vector (the inverted lists): an argmax over
    // (ccos desc, cell_id asc) — max_by on the lexicographic struct
    // (ccos, -cell_id), partial-aggregated map-side, never sorted
    val assign = corp.join(cent)
      .select(col("neighbor_id"), col("v"), col("n"), col("cell_id"),
        safeCos(dot(col("v"), col("cv")), col("n") * col("cn")).as("ccos"))
      .groupBy("neighbor_id")
      .agg(max_by(
        struct(col("cell_id"), col("v"), col("n")),
        struct(col("ccos"), (-col("cell_id")).as("neg_cell"))).as("best"))
      .select(col("best.cell_id").as("cell_id"), col("neighbor_id"),
        col("best.v").as("v"), col("best.n").as("n"))
    // nprobe nearest cells per query (bounded heap over the broadcast
    // centroid dim), then re-attach the query vector for scoring
    val q = queries.select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
      .select(col("query_id"), col("qv"), norm(col("qv")).as("qn"))
    val probes = q.join(cent)
      .select(col("query_id"), col("cell_id"),
        safeCos(dot(col("qv"), col("cv")), col("qn") * col("cn")).as("pcos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(col("pcos"), col("cell_id"), nprobe).as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("cell_id"))
      .join(broadcast(q), Seq("query_id"))
    // score candidates in probed cells only
    val scored = probes.join(assign, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCos(dot(col("qv"), col("v")), col("qn") * col("n")).as("cos"))
    rankTopK(scored, k)
  }

  /** Per-label embedding centroids, emitted FLAT — one row per (label,
    * dimension) with the mean of that coordinate — the shape a
    * class-prototype / cluster-quality job consumes (and the shape a
    * k-means update step is made of: this IS the M-step over a fixed
    * assignment).
    *
    * Determinism: coordinates accumulate in DECIMAL(28,12) (exact,
    * order-independent — the moneySum treatment), divide once in double,
    * round to 6. Plan: one explode + one hash aggregation keyed by
    * (label, pos); partial aggregation compresses each map task to
    * labels×dims rows before the shuffle.
    */
  def labelCentroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label"),
        posexplode(col("embedding").cast("array<decimal(28,12)>")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vectors"),
        round(sum("v").cast("double") / count(lit(1)), 6).as("centroid_v"))
      .select(col("label"), (col("pos") + 1).cast("int").as("pos"),
        col("n_vectors"), col("centroid_v"))

  /** Lloyd (spherical) k-means over the embedding corpus — the learning
    * loop the IVF coarse quantizer wants: E-step = the same broadcast
    * argmax-cosine assignment join [[ivfTopK]] builds its inverted
    * lists with; M-step = [[labelCentroids]]' exact per-dimension mean
    * (DECIMAL(28,12) accumulation, divide once, round 6). Initial
    * centroids come from [[CentroidSeed]] (fixed-k md5 sample by
    * default, so codebook size is corpus-independent); cell ids are
    * stable seed vector ids across iterations.
    *
    * Determinism contract (what makes this oracle-checkable in an
    * independent engine): cosines round to 6 before the argmax, ties
    * break to the lowest cell_id, means accumulate order-independently
    * in DECIMAL and round to 6 — N iterations reproduce cell-for-cell.
    * The fixed-k seed is itself engine-agnostic (md5 of the decimal
    * vec_id string, full-hash order with id tiebreak).
    *
    * Scale shape: per iteration one broadcast join + one argmax
    * aggregate + one (cell, dim)-keyed mean — centroid tables are tiny
    * (k rows) and materialized per round with the iterate-release
    * pattern of [[Dedup.clusters]]; the corpus (vec, norm) projection
    * is materialized ONCE and reused by every E-step. A cell that
    * attracts no vectors drops out (standard Lloyd behavior).
    *
    * Fixed iteration count, no convergence probe: k-means quality
    * improves monotonically and the driver-facing contract needs a
    * deterministic row set, not a fixpoint (unlike connected
    * components, where stopping early is WRONG rather than coarser).
    *
    * @return centroids (cell_id, cv: array<double>, cn) after
    *   `iterations` rounds — feed `.select("cell_id", "cv")` to
    *   [[ivfTopK]]'s `centroids` parameter.
    */
  def kmeans(
      emb: DataFrame,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val (corp, cent) = kmeansLoop(emb, iterations, seed)
    // the returned centroid table is materialized independently, so the
    // corpus projection is dead here (under Persist it would otherwise
    // leak one cached table per call); kmeansAssignments keeps it —
    // its returned plan still reads it
    graft.core.Materialize.release(corp)
    cent
  }

  /** The corpus projection every E-step reuses: (vec_id, v, n). */
  private def corpusVN(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), norm(col("v")).as("n"))

  /** Initial centroid table (cell_id, cv, cn) from a (vec_id, v, n)
    * corpus projection — see [[CentroidSeed]] for the scale rationale.
    * FixedK plans as TakeOrderedAndProject: a bounded heap of k rows
    * per map task merged on the driver, never a global sort. */
  private def seedCells(corp: DataFrame, seed: CentroidSeed): DataFrame = seed match {
    case CentroidSeed.Modulo(mod) =>
      corp.filter(col("vec_id") % mod === 1)
        .select(col("vec_id").as("cell_id"), col("v").as("cv"), col("n").as("cn"))
    case CentroidSeed.FixedK(k) =>
      corp.select(col("vec_id").as("cell_id"), col("v").as("cv"), col("n").as("cn"),
          md5(col("vec_id").cast("string").cast("binary")).as("h"))
        .orderBy(col("h"), col("cell_id"))
        .limit(k)
        .select("cell_id", "cv", "cn")
  }

  /** E-step: nearest cell per vector — ROW-LOCAL argmax over the
    * collected centroid array ([[graft.functions.NearestCentroid]],
    * r19): the vector never fans out k ways and never enters an
    * exchange; the former join-explode + max_by aggregate shuffled
    * every embedding once per E-step just to re-attach `v` to its own
    * argmax (guide §2.3 — shuffle keys, not payloads). Same scores
    * (index-order dot, round 6, safeCos null on zero norms), same
    * (ccos desc, cell_id asc) total order, same output columns; the
    * centroid array is one broadcast row bounded by the model size. */
  private def assignToCells(corp: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.agg(collect_list(struct(col("cell_id"), col("cv"), col("cn"))).as("cs"))
    corp.join(broadcast(cs))
      .select(col("vec_id"), col("v"),
        graft.functions.NearestCentroid.cosine(col("v"), col("n"), col("cs")).as("best"))
      .where(col("best").isNotNull) // empty model ≡ the join form's no-match
      .select(col("vec_id"), col("best.cell_id").as("cell_id"),
        col("v"), col("best.score").as("cos"))
  }

  /** Shared Lloyd M-step (k-means AND per-subspace PQ): exact
    * DECIMAL(28,12) per-dimension means of `vecCol` keyed by
    * `groupCols`, reassembled in dimension order and rounded to 6 —
    * the determinism contract both DuckDB oracle families mirror, kept
    * in ONE place so it cannot drift between them. */
  private def meanStep(assigned: DataFrame, groupCols: Seq[String], vecCol: String): DataFrame = {
    val gc = groupCols.map(col)
    assigned
      .select(gc :+ posexplode(col(vecCol).cast("array<decimal(28,12)>")).as(Seq("pos", "x")): _*)
      .groupBy((groupCols :+ "pos").map(col): _*)
      .agg(round(sum("x").cast("double") / count(lit(1)), 6).as("cv_i"))
      .groupBy(gc: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("cv_i")))).as("ps"))
      .select(gc :+ transform(col("ps"), p => p.getField("cv_i")).as("cv"): _*)
  }

  private def kmeansLoop(
      emb: DataFrame,
      iterations: Int,
      seed: CentroidSeed): (DataFrame, DataFrame) = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    val corp = graft.core.Materialize(corpusVN(emb))
    // the seed is NOT materialized on its own: iteration 1 inlines it as
    // a broadcast subplan, so seeding costs no separate driver action
    var cent = seedCells(corp, seed)
    var it = 0
    while (it < iterations) {
      val next = graft.core.Materialize.small(
        meanStep(assignToCells(corp, cent), Seq("cell_id"), "v")
          .select(col("cell_id"), col("cv"), norm(col("cv")).as("cn")))
      graft.core.Materialize.release(cent)
      cent = next
      it += 1
    }
    (corp, cent)
  }

  /** The flat stored-centroid projection (cell_id, pos, centroid_v)
    * shared by [[kmeansCentroids]] and [[kmeansModel]] — pos 1-based
    * like [[labelCentroids]]. */
  private def flatCentroids(cent: DataFrame): DataFrame =
    cent
      .select(col("cell_id"), posexplode(col("cv")).as(Seq("pos", "centroid_v")))
      .select(col("cell_id"), (col("pos") + 1).cast("int").as("pos"), col("centroid_v"))

  /** [[kmeans]] centroids in the flat oracle shape (cell_id, pos,
    * centroid_v) — one row per coordinate, pos 1-based like
    * [[labelCentroids]]. */
  def kmeansCentroids(
      emb: DataFrame,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed): DataFrame =
    flatCentroids(kmeans(emb, iterations, seed))

  /** Final cluster assignment against the learned centroids —
    * (vec_id, cell_id, cos), one E-step past the last M-step. */
  def kmeansAssignments(
      emb: DataFrame,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val (corp, cent) = kmeansLoop(emb, iterations, seed)
    assignToCells(corp, cent).select(col("vec_id"), col("cell_id"), col("cos"))
  }

  /** BOTH coarse-quantizer artifacts — ([[kmeansCentroids]]' flat
    * centroid table, [[kmeansAssignments]]' assignment table) — from
    * ONE Lloyd training run. A training job that emits the full
    * serving model (and the q_ivfpq_search oracle) needs both; calling
    * the two single-artifact entry points would pay the E/M iterations
    * twice and hold two materialized corpus projections. */
  def kmeansModel(
      emb: DataFrame,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed)
      : (DataFrame, DataFrame) = {
    val (corp, cent) = kmeansLoop(emb, iterations, seed)
    (flatCentroids(cent),
      assignToCells(corp, cent).select(col("vec_id"), col("cell_id"), col("cos")))
  }

  /** Product quantization (Jégou et al., PAMI '11) — the codebook
    * compression the IVF+PQ stack ships at billion-vector scale: split
    * each vector into `m` equal sub-vectors, k-means a codebook PER
    * SUBSPACE (all m codebooks train in ONE plan — subspace rides as a
    * grouping key through the same E/M steps [[kmeans]] uses), and
    * store each vector as m small centroid ids. Assignment metric is
    * L2 (argmin ||x−c||², the PQ standard), computed as
    * `(x·x − 2·x·c) + c·c` with the norms precomputed per side and the
    * result rounded to 6 — fixed operation order, so an independent
    * engine reproduces code-for-code. Ties to the lowest cell id.
    *
    * Scale shape: the sub-vector table is materialized once and reused
    * by every E-step; codebooks are broadcast (m × k rows); one keyed
    * argmin aggregate per iteration. Requires the embedding dimension
    * to be divisible by `m` (sub-slices are computed per row from
    * `size(v)/m`).
    */
  /** (id, s, sv, xx): per-subspace sub-vectors with precomputed
    * self-dots — the shape both the PQ training corpus and ADC queries
    * reduce to. RAISES at execution when the embedding dimension is
    * not divisible by m: silently truncating the tail (what the
    * integer slice bound alone would do) corrupts every code with no
    * error. */
  private def subVectors(df: DataFrame, idCol: String, outId: String, m: Int): DataFrame =
    subSplit(
      df.select(col(idCol).as(outId), asDouble(col("embedding")).as("v")),
      Seq(outId), m)

  /** The sub-splitting core of [[subVectors]] over a pre-projected
    * (keys…, v: array<double>) table — keyed by ANY column set, so the
    * residual search path can split per-(query, probed cell) residual
    * vectors with the same divisibility guard. */
  private def subSplit(df: DataFrame, keys: Seq[String], m: Int): DataFrame = {
    val kc = keys.map(col)
    val guarded = when(size(col("v")) % m === 0, col("v"))
      .otherwise(raise_error(concat(
        lit("pq: embedding dimension "), size(col("v")).cast("string"),
        lit(s" is not divisible by m=$m"))))
    val dsub = (size(col("v")) / m).cast("int")
    df.select(kc :+ explode(sequence(lit(0), lit(m - 1))).as("s") :+ guarded.as("v"): _*)
      .select(kc :+ col("s") :+ slice(col("v"), col("s") * dsub + 1, dsub).as("sv"): _*)
      .select(kc :+ col("s") :+ col("sv") :+ dot(col("sv"), col("sv")).as("xx"): _*)
  }

  /** Initial per-subspace codebooks from a materialized sub-vector
    * table — the same [[CentroidSeed]] contract as [[seedCells]]; the
    * FixedK sample picks k VECTOR ids (subspace 0 carries one row per
    * vector, so the heap never sees the m-way blow-up) and takes all m
    * of their sub-vectors. */
  private def pqSeedCells(sub: DataFrame, seed: CentroidSeed): DataFrame = seed match {
    case CentroidSeed.Modulo(mod) =>
      sub.filter(col("vec_id") % mod === 1)
        .select(col("s"), col("vec_id").as("cell_id"), col("sv").as("cv"), col("xx").as("cc"))
    case CentroidSeed.FixedK(k) =>
      val ids = sub.filter(col("s") === 0)
        .select(col("vec_id"), md5(col("vec_id").cast("string").cast("binary")).as("h"))
        .orderBy(col("h"), col("vec_id")).limit(k).select("vec_id")
      sub.join(broadcast(ids), Seq("vec_id"))
        .select(col("s"), col("vec_id").as("cell_id"), col("sv").as("cv"), col("xx").as("cc"))
  }

  private def pqLoop(
      emb: DataFrame,
      m: Int,
      iterations: Int,
      seed: CentroidSeed): (DataFrame, DataFrame) = {
    require(m >= 1 && iterations >= 1, s"m=$m and iterations=$iterations must be >= 1")
    val sub = graft.core.Materialize(subVectors(emb, "vec_id", "vec_id", m))
    // seed inlined into iteration 1's broadcast; per-round codebooks are
    // model-sized (m·k rows) → driver LocalRelation under the eager
    // strategy (see [[materializeModel]])
    var cent = pqSeedCells(sub, seed)
    var it = 0
    while (it < iterations) {
      val next = graft.core.Materialize.small(
        meanStep(pqAssign(sub, cent), Seq("s", "cell_id"), "sv")
          .select(col("s"), col("cell_id"), col("cv"), dot(col("cv"), col("cv")).as("cc")))
      graft.core.Materialize.release(cent)
      cent = next
      it += 1
    }
    (sub, cent)
  }

  /** PQ E-step: nearest sub-centroid per (vector, subspace) by L2 —
    * the same ROW-LOCAL argbest as [[assignToCells]] (r19,
    * [[graft.functions.NearestCentroid]] in min/L2 mode): sub-vectors
    * never fan out k ways or cross an exchange; the per-subspace
    * codebook arrays ride one m-row broadcast. Same rounded expanded-L2
    * scores, same (d2 asc, cell_id asc) total order, same columns. */
  private def pqAssign(sub: DataFrame, cent: DataFrame): DataFrame = {
    val cs = cent.groupBy("s")
      .agg(collect_list(struct(col("cell_id"), col("cv"), col("cc"))).as("cs"))
    sub.join(broadcast(cs), Seq("s"))
      .select(col("vec_id"), col("s"), col("sv"),
        graft.functions.NearestCentroid.l2(col("sv"), col("xx"), col("cs")).as("best"))
      .where(col("best").isNotNull) // a subspace with an empty codebook
      .select(col("vec_id"), col("s"),
        col("best.cell_id").as("cell_id"), col("sv"), col("best.score").as("d2"))
  }

  /** PQ codes: (vec_id, subspace, code, d2) — each vector's m nearest
    * sub-centroid ids against the trained codebooks, with the rounded
    * residual L2. */
  def pqCodes(
      emb: DataFrame,
      m: Int = 4,
      iterations: Int = 1,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val (sub, cent) = pqLoop(emb, m, iterations, seed)
    pqAssign(sub, cent)
      .select(col("vec_id"), col("s").as("subspace"), col("cell_id").as("code"), col("d2"))
  }

  /** The flat stored-codebook projection (subspace, cell_id, pos,
    * centroid_v) shared by [[pqCodebooks]] and [[pqModel]] — pos
    * 1-based within the subspace. */
  private def flatPqCodebooks(cent: DataFrame): DataFrame =
    cent.select(col("s").as("subspace"), col("cell_id"),
        posexplode(col("cv")).as(Seq("pos", "centroid_v")))
      .select(col("subspace"), col("cell_id"),
        (col("pos") + 1).cast("int").as("pos"), col("centroid_v"))

  /** The trained PQ codebooks, flat: (subspace, cell_id, pos,
    * centroid_v) — pos 1-based within the subspace. */
  def pqCodebooks(
      emb: DataFrame,
      m: Int = 4,
      iterations: Int = 1,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val (sub, cent) = pqLoop(emb, m, iterations, seed)
    // the codebooks are materialized independently — the sub-vector
    // table is dead here (Persist would otherwise cache-leak per call);
    // pqCodes/pqTopK keep it, their returned plans still read it
    graft.core.Materialize.release(sub)
    flatPqCodebooks(cent)
  }

  /** BOTH PQ artifacts — ([[pqCodebooks]]' flat codebook table,
    * [[pqCodes]]' code table) — from ONE training run; the PQ half of
    * the [[kmeansModel]] rationale. */
  def pqModel(
      emb: DataFrame,
      m: Int = 4,
      iterations: Int = 1,
      seed: CentroidSeed = DefaultSeed)
      : (DataFrame, DataFrame) = {
    val (sub, cent) = pqLoop(emb, m, iterations, seed)
    (flatPqCodebooks(cent),
      pqAssign(sub, cent)
        .select(col("vec_id"), col("s").as("subspace"), col("cell_id").as("code"), col("d2")))
  }

  /** PQ asymmetric-distance (ADC) top-k — the search half of IVF+PQ:
    * each query computes an m × k lookup table of sub-distances to the
    * codebook centroids, and every corpus vector's approximate L2 is
    * the sum of the m table entries its codes select. The corpus text
    * of this search is the CODES (m small ints per vector), not the
    * vectors — the scan that matters at 10⁹ vectors is 8-32 bytes/row.
    *
    * Plan shape: codebooks+LUT broadcast (m·k·|queries| rows), one
    * keyed join codes⋈LUT on (subspace, cell), one (query, neighbor)
    * aggregation, bounded-heap ranking (no Window). Determinism:
    * sub-distances round to 6 and accumulate as DECIMAL(18,6) — the
    * m-way sum is order-independent, so ranks reproduce exactly
    * cross-engine (ranking ascends by distance, ties to lowest id).
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int = 4,
      iterations: Int = 1,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val (sub, cent) = pqLoop(corpus, m, iterations, seed)
    val codes = pqAssign(sub, cent)
      .select(col("vec_id").as("neighbor_id"), col("s"), col("cell_id"))
    adcRank(queries, cent, codes, k, m)
  }

  /** PQ search over PRETRAINED artifacts — the 100 TB usage is
    * train-once / search-many, so search must never re-run the Lloyd
    * loop: pass [[pqCodebooks]]' and [[pqCodes]]' (stored) outputs and
    * only the tiny codebook reassembly, the query LUT, and the
    * codes-only scan execute. Results are row-identical to [[pqTopK]]
    * with the same training parameters (the flat codebook explode is
    * lossless: values were rounded BEFORE flattening).
    *
    * @param codebooks (subspace, cell_id, pos, centroid_v) — [[pqCodebooks]] output
    * @param codes     (vec_id, subspace, code, d2) — [[pqCodes]] output
    * @param m         subspace count the artifacts were trained with
    */
  def pqSearch(
      queries: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      k: Int,
      m: Int = 4): DataFrame =
    adcRank(queries, reassemblePqCodebooks(codebooks), storedCodes(codes), k, m)

  /** Reassemble the internal (s, cell_id, cv, cc) codebook shape from
    * [[pqCodebooks]]' flat stored form — m·k·d rows, a driver-trivial
    * aggregation. Lossless: centroid values were rounded to 6 BEFORE
    * flattening, so `cc` reproduces the trained-inline self-dot. */
  private def reassemblePqCodebooks(codebooks: DataFrame): DataFrame =
    codebooks
      .groupBy(col("subspace").as("s"), col("cell_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid_v")))).as("ps"))
      .select(col("s"), col("cell_id"),
        transform(col("ps"), p => p.getField("centroid_v")).as("cv"))
      .select(col("s"), col("cell_id"), col("cv"), dot(col("cv"), col("cv")).as("cc"))

  /** [[pqCodes]]' stored shape → [[adcRank]]'s internal code shape. */
  private def storedCodes(codes: DataFrame): DataFrame =
    codes.select(col("vec_id").as("neighbor_id"),
      col("subspace").as("s"), col("code").as("cell_id"))

  /** IVF+PQ end-to-end — the billion-vector serving stack both tiers
    * were built for: a coarse quantizer (Lloyd-trained cells,
    * [[kmeans]]) restricts WHICH vectors are scored, and PQ ADC scores
    * them off codes (m small ints/vector), never the raw embeddings.
    * Per query the scan cost is (nprobe / #coarse cells) of the code
    * table — both knobs corpus-independent under the FixedK seeds.
    *
    * Plan shape: coarse centroids and codebooks broadcast; the
    * inverted lists and the code table shuffle once each on their
    * keys (coarse_cell, neighbor_id); every ranking is a bounded heap.
    * Each corpus vector belongs to exactly ONE coarse cell (argmax),
    * so candidate (query, neighbor) pairs are unique by construction.
    * With nprobe >= #coarse cells the result equals [[pqTopK]] with
    * the same PQ parameters (pinned by spec).
    *
    * Determinism: every stage reuses the contracts already pinned by
    * the kmeans and PQ oracles (rounded cosines, lowest-cell ties,
    * DECIMAL ADC sums, id tiebreaks) — reproduced in DuckDB as the
    * q_ivfpq twin.
    */
  def ivfpqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nprobe: Int = 4,
      coarseIterations: Int = 1,
      m: Int = 4,
      pqIterations: Int = 1,
      coarseSeed: CentroidSeed = DefaultSeed,
      pqSeed: CentroidSeed = DefaultSeed)
      : DataFrame = {
    // the coarse quantizer and the PQ codebooks both train on the raw
    // corpus and share no state — overlap their training loops'
    // eager materializations (guide §2.6 back-fill)
    val ((corp, coarse), (sub, cent)) = graft.core.Par.both(
      kmeansLoop(corpus, coarseIterations, coarseSeed),
      pqLoop(corpus, m, pqIterations, pqSeed))
    // inverted lists: each corpus vector's single nearest coarse cell
    val lists = assignToCells(corp, coarse)
      .select(col("cell_id").as("coarse_cell"), col("vec_id").as("neighbor_id"))
    val codes = pqAssign(sub, cent)
      .select(col("vec_id").as("neighbor_id"), col("s"), col("cell_id"))
    // corp/coarse/sub/cent stay materialized: the returned plan reads
    // them (same lifecycle as pqTopK; Persist callers clear the cache)
    ivfpqRank(queries, coarse, lists, cent, codes, k, nprobe, m)
  }

  /** IVF+PQ search over PRETRAINED, stored artifacts — the serving
    * path: [[ivfpqTopK]] welds training to search (right for a
    * one-shot batch job, wrong for train-once / search-many), this is
    * the same search fed by the four stored tables the training jobs
    * emit. Only the tiny codebook/centroid reassembly, the probe
    * stage, and the codes-only candidate scan execute — no Lloyd
    * E/M-step, no raw-corpus scan (pinned by spec: the plan contains
    * no DECIMAL(28,12) accumulation and no Window).
    *
    * Results are row-identical to [[ivfpqTopK]] with the same training
    * parameters — one DuckDB twin (q_ivfpq / q_ivfpq_search) pins both
    * paths.
    *
    * @param coarseCentroids (cell_id, pos, centroid_v) — [[kmeansCentroids]] output
    * @param assignments     (vec_id, cell_id, …) — [[kmeansAssignments]] output
    *                        (the inverted lists: each vector's single coarse cell)
    * @param codebooks       (subspace, cell_id, pos, centroid_v) — [[pqCodebooks]] output
    * @param codes           (vec_id, subspace, code, d2) — [[pqCodes]] output
    * @param m               subspace count the PQ artifacts were trained with
    */
  def ivfpqSearch(
      queries: DataFrame,
      coarseCentroids: DataFrame,
      assignments: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      k: Int,
      nprobe: Int = 4,
      m: Int = 4): DataFrame = {
    val lists = assignments
      .select(col("cell_id").as("coarse_cell"), col("vec_id").as("neighbor_id"))
    ivfpqRank(queries, reassembleCoarse(coarseCentroids), lists,
      reassemblePqCodebooks(codebooks), storedCodes(codes), k, nprobe, m)
  }

  /** Flat stored coarse-centroid form (cell_id, pos, centroid_v) →
    * the internal (cell_id, cv, cn) shape — the coarse twin of
    * [[reassemblePqCodebooks]]; lossless (coordinates were rounded to
    * 6 BEFORE flattening). */
  private def reassembleCoarse(coarseCentroids: DataFrame): DataFrame =
    coarseCentroids
      .groupBy("cell_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("centroid_v")))).as("ps"))
      .select(col("cell_id"), transform(col("ps"), p => p.getField("centroid_v")).as("cv"))
      .select(col("cell_id"), col("cv"), norm(col("cv")).as("cn"))

  /** Serving-side ENCODE of new vectors against the STORED artifacts —
    * no training step: coarse cell assignment vs the fixed centroid
    * table + PQ codes vs the fixed codebooks. This is the per-batch
    * operation of an online index maintainer
    * ([[graft.streaming.EmbeddingIndexer]]): arriving vectors extend
    * the assignment and code tables that [[ivfpqSearch]] serves from,
    * while the quantizers stay frozen (the production regime —
    * retraining shifts every stored code, so it is a separate offline
    * rebuild, not an ingest-path step).
    *
    * Emits exactly the stored shapes the search consumes:
    * assignments (vec_id, cell_id, cos) and codes (vec_id, subspace,
    * code, d2). Both reassemblies are lossless, so encoding the
    * TRAINING corpus through this path reproduces
    * [[kmeansAssignments]] / [[pqCodes]] row-for-row (pinned by spec
    * and by the q_encode_assign / q_encode_codes oracle rows, which
    * reuse those queries' DuckDB twins verbatim).
    *
    * Scale shape: both centroid tables broadcast (k and m·k rows,
    * corpus-independent); one argmax aggregate per tier over the new
    * vectors only — per-batch cost is linear in the batch, zero in
    * the accumulated corpus. */
  def encodeWithModel(
      emb: DataFrame,
      coarseCentroids: DataFrame,
      codebooks: DataFrame,
      m: Int = 4): (DataFrame, DataFrame) =
    (assignWithCentroids(emb, coarseCentroids),
      pqEncodeWithCodebooks(emb, codebooks, m))

  /** The coarse half of [[encodeWithModel]]: assign vectors to the
    * STORED centroid table — (vec_id, cell_id, cos), the
    * [[kmeansAssignments]] shape without the training run. */
  def assignWithCentroids(emb: DataFrame, coarseCentroids: DataFrame): DataFrame =
    assignToCells(corpusVN(emb), reassembleCoarse(coarseCentroids))
      .select(col("vec_id"), col("cell_id"), col("cos"))

  /** The PQ half of [[encodeWithModel]]: code vectors against the
    * STORED codebooks — (vec_id, subspace, code, d2), the [[pqCodes]]
    * shape without the training run. */
  def pqEncodeWithCodebooks(emb: DataFrame, codebooks: DataFrame, m: Int = 4): DataFrame =
    pqAssign(subVectors(emb, "vec_id", "vec_id", m), reassemblePqCodebooks(codebooks))
      .select(col("vec_id"), col("s").as("subspace"), col("cell_id").as("code"), col("d2"))

  /** Persist the IVF+PQ serving artifacts as a CELL-PARTITIONED store
    * — the layout [[ivfpqTopKFromStore]] prunes: a per-query read must
    * touch only the `nprobe` probed cells' lists, which a table
    * partitioned by ingest batch (the [[graft.streaming
    * .EmbeddingIndexer]] accumulation layout) cannot deliver — every
    * probe there scans every batch partition. Layout under `path`:
    *
    *   - `coarse_centroids` / `codebooks` — the two trained quantizer
    *     tables, verbatim (KB-sized; one file each)
    *   - `cells/cell_id=N/` — one partition directory PER COARSE CELL,
    *     holding that cell's inverted list fused with its ADC codes:
    *     (vec_id, subspace, code), m rows per member vector. Fusing
    *     list+codes into one table means a probe's directory read
    *     yields everything ADC scoring needs — no second corpus-sized
    *     codes join.
    *
    * The write repartitions by cell so each directory is one file
    * (writers never fan out across all cells), and the join keying it
    * is the store-build cost: one shuffle each side, paid at EXPORT
    * time, never per query — the [[graft.index.IndexStore
    * .saveSearchPageStore]] discipline for the semantic arm.
    *
    * Inputs are the four stored shapes the training jobs emit
    * ([[kmeansModel]] / [[pqModel]] or [[graft.streaming
    * .EmbeddingIndexer]]'s accumulated dirs — see
    * [[graft.streaming.EmbeddingIndexer.exportAnnStore]]). */
  def saveAnnStore(
      coarseCentroids: DataFrame,
      assignments: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      path: String): Unit = {
    // three independent artifact writes — overlap them (guide §2.6);
    // the cells write pre-sorts by its partition column so the
    // partitioned writer needs no extra sort of its own
    graft.core.Par.all(
      () => coarseCentroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/coarse_centroids"),
      () => codebooks.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/codebooks"),
      () => assignments.select(col("vec_id"), col("cell_id"))
        .join(codes.select(col("vec_id"), col("subspace"), col("code")), Seq("vec_id"))
        .repartition(col("cell_id"))
        .sortWithinPartitions("cell_id", "vec_id", "subspace")
        .write.mode("overwrite").partitionBy("cell_id").parquet(s"$path/cells"))
  }

  /** IVF+PQ search SERVED from a [[saveAnnStore]] store, reading ONLY
    * the probed cells' partition directories — the per-query face
    * [[ivfpqSearch]] is not: that form joins the probe output against
    * the FULL assignment and code tables (corpus-sized scans per call,
    * fine for a batch of many queries, wrong for one query against
    * 100 TB). Here the probe stage runs first over the broadcast
    * centroid table alone, its (query, cell) pairs are COLLECTED
    * (|queries|·nprobe rows — policy-sized by construction, the
    * operating-point-bias convention), and the probed cell ids become
    * a LITERAL `cell_id isin` on the cells read — partition pruning
    * bounds the scan at `nprobe` directories per query regardless of
    * corpus size (spec-pinned via the scan's numFiles metric).
    *
    * Same probe code, same candidate expansion, same [[adcRank]] tail
    * as [[ivfpqSearch]] → row-identical results on the same artifacts
    * (one oracle pins store, stored-table, and trained-inline paths).
    * Note the collect makes this face EAGER: the probe job runs when
    * the method is called, the returned plan reads only the pruned
    * cells. */
  def ivfpqTopKFromStore(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      m: Int = 4): DataFrame = {
    val (_, probes, cells) = probeStore(spark, path, queries, nprobe)
    val cent = reassemblePqCodebooks(spark.read.parquet(s"$path/codebooks"))
    val candidates = probes.join(storeLists(cells), Seq("coarse_cell"))
      .select("query_id", "neighbor_id")
    adcRank(queries, cent, storeCodes(cells), k, m, Some(candidates))
  }

  /** RESIDUAL-encoded IVF+PQ search from a [[saveAnnStore]] store —
    * [[ivfpqTopKFromStore]] for artifacts trained by
    * [[ivfpqResidualModel]]: the same external probe prunes the cells
    * read to ≤ nprobe partition directories, then
    * [[ivfpqResidualRank]]'s own probe stage (identical centroid math
    * over the same broadcast table → identical probed set) re-expresses
    * each query in its probed cells' residual frames and ADC-scores the
    * pruned codes. Row-identical to [[ivfpqResidualSearch]] on the same
    * artifacts; the `residual` flag must match how the stored artifacts
    * were trained — the [[graft.streaming.EmbeddingIndexer]] contract. */
  def ivfpqResidualTopKFromStore(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int = 4,
      m: Int = 4)
      : DataFrame = {
    val (coarse, _, cells) = probeStore(spark, path, queries, nprobe)
    val cent = reassemblePqCodebooks(spark.read.parquet(s"$path/codebooks"))
    ivfpqResidualRank(queries, coarse, storeLists(cells), cent,
      storeCodes(cells), k, nprobe, m)
  }

  /** The shared store-probe: run the coarse probe over the broadcast
    * centroid table alone, COLLECT the (query, cell) pairs
    * (|queries|·nprobe rows — policy-sized), and return (the
    * reassembled centroids, the probes as a local relation, the cells
    * table pruned by a LITERAL `cell_id isin` — ≤ nprobe partition
    * directories per query). */
  private def probeStore(
      spark: SparkSession, path: String, queries: DataFrame, nprobe: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val coarse = reassembleCoarse(spark.read.parquet(s"$path/coarse_centroids"))
    val q = corpusVN(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
    val probeF = q.join(broadcast(coarse))
      .select(col("query_id"), col("cell_id"),
        safeCos(dot(col("qv"), col("cv")), col("qn") * col("cn")).as("pcos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(col("pcos"), col("cell_id"), nprobe).as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("coarse_cell"))
    val probedRows = probeF.collect()
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probedRows: _*), probeF.schema)
    val probedCells = probedRows.map(_.get(1)).distinct.toSeq
    (coarse, probes,
      spark.read.parquet(s"$path/cells")
        .filter(col("cell_id").isin(probedCells: _*)))
  }

  /** The pruned cells table as inverted lists: each member vector
    * carries exactly one subspace-0 row, so the list is a filter, not
    * a distinct (no shuffle). */
  private def storeLists(cells: DataFrame): DataFrame =
    cells.filter(col("subspace") === 0)
      .select(col("cell_id").cast("long").as("coarse_cell"),
        col("vec_id").as("neighbor_id"))

  /** The pruned cells table in [[adcRank]]'s internal code shape. */
  private def storeCodes(cells: DataFrame): DataFrame =
    cells.select(col("vec_id").as("neighbor_id"),
      col("subspace").as("s"), col("code").as("cell_id"))

  /** The IVF restriction + ADC search shared by [[ivfpqTopK]] and
    * [[ivfpqSearch]]: probe the `nprobe` nearest coarse cells per
    * query (bounded heap over the broadcast centroid dim — ivfTopK's
    * probe stage), expand to candidates through the inverted lists
    * (a keyed join on coarse_cell), then ADC-score candidates only. */
  private def ivfpqRank(
      queries: DataFrame,
      coarse: DataFrame,
      lists: DataFrame,
      cent: DataFrame,
      codes: DataFrame,
      k: Int,
      nprobe: Int,
      m: Int): DataFrame = {
    val q = corpusVN(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n").as("qn"))
    val probes = q.join(broadcast(coarse))
      .select(col("query_id"), col("cell_id"),
        safeCos(dot(col("qv"), col("cv")), col("qn") * col("cn")).as("pcos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(col("pcos"), col("cell_id"), nprobe).as("tk"))
      .select(col("query_id"), explode(col("tk.id")).as("coarse_cell"))
    val candidates = probes.join(lists, Seq("coarse_cell"))
      .select("query_id", "neighbor_id")
    adcRank(queries, cent, codes, k, m, Some(candidates))
  }

  /** Residual-encoded IVF+PQ (Jégou et al., PAMI '11 §IV-A) — the
    * production variant of [[ivfpqTopK]]: PQ trains on the RESIDUALS
    * `x − centroid(cell(x))` instead of the raw vectors. The coarse
    * quantizer already explains most of each vector's magnitude, so
    * the codebooks spend their m·k cells on the (much smaller, nearly
    * centered) remainder — where most of the recall at fixed m comes
    * from. The search re-expresses each query in every PROBED cell's
    * residual frame (`q − centroid(cell)`) and builds one ADC lookup
    * table per (query, probed cell); candidate scoring is otherwise
    * identical to [[ivfpqTopK]]'s codes-only scan.
    *
    * Scale shape vs the raw variant: the LUT grows by the factor
    * `nprobe` (|queries|·nprobe·m·k rows, still broadcast — queries
    * are the small side by contract) and the candidate join gains
    * coarse_cell in its key; everything else — bounded-heap probe and
    * rank, keyed candidate join, codes-only scan — is unchanged, so
    * the corpus-side cost is identical at any scale.
    *
    * Determinism: the residual subtraction is exact IEEE column
    * algebra over the already-pinned rounded-6 centroids; every
    * downstream contract (rounded sub-distances, DECIMAL sums, id
    * ties) is shared with the raw path — reproduced in DuckDB as the
    * q_ivfpq_residual twin.
    */
  def ivfpqResidualTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nprobe: Int = 4,
      coarseIterations: Int = 1,
      m: Int = 4,
      pqIterations: Int = 1,
      coarseSeed: CentroidSeed = DefaultSeed,
      pqSeed: CentroidSeed = DefaultSeed)
      : DataFrame = {
    val (corp, coarse) = kmeansLoop(corpus, coarseIterations, coarseSeed)
    val assigned = assignToCells(corp, coarse)
    val lists = assigned
      .select(col("cell_id").as("coarse_cell"), col("vec_id").as("neighbor_id"))
    // the residual corpus: each vector minus its own cell's centroid
    // (exact double subtraction over materialized attributes)
    val resid = assigned
      .join(broadcast(coarse.select(col("cell_id"), col("cv"))), Seq("cell_id"))
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("embedding"))
    val (sub, cent) = pqLoop(resid, m, pqIterations, pqSeed)
    val codes = pqAssign(sub, cent)
      .select(col("vec_id").as("neighbor_id"), col("s"), col("cell_id"))
    ivfpqResidualRank(queries, coarse, lists, cent, codes, k, nprobe, m)
  }

  /** ALL FOUR residual-IVF+PQ artifacts from one training run — the
    * residual twin of pairing [[kmeansModel]] with [[pqModel]], which
    * cannot produce these: the PQ tier must train on the RESIDUALS
    * `x − centroid(cell(x))`, so its corpus depends on the coarse
    * tier's assignment. Returns (coarse centroids flat, assignments,
    * residual codebooks flat, residual codes) — exactly the shapes
    * [[ivfpqResidualSearch]] consumes. */
  def ivfpqResidualModel(
      corpus: DataFrame,
      coarseIterations: Int = 1,
      m: Int = 4,
      pqIterations: Int = 1,
      coarseSeed: CentroidSeed = DefaultSeed,
      pqSeed: CentroidSeed = DefaultSeed)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (corp, coarse) = kmeansLoop(corpus, coarseIterations, coarseSeed)
    val assigned = assignToCells(corp, coarse)
    val resid = assigned
      .join(broadcast(coarse.select(col("cell_id"), col("cv"))), Seq("cell_id"))
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("embedding"))
    val (sub, cent) = pqLoop(resid, m, pqIterations, pqSeed)
    val codes = pqAssign(sub, cent)
      .select(col("vec_id"), col("s").as("subspace"), col("cell_id").as("code"), col("d2"))
    (flatCentroids(coarse),
      assigned.select(col("vec_id"), col("cell_id"), col("cos")),
      flatPqCodebooks(cent),
      codes)
  }

  /** Residual IVF+PQ search over PRETRAINED, stored artifacts — the
    * serving path of [[ivfpqResidualTopK]], exactly as [[ivfpqSearch]]
    * serves [[ivfpqTopK]]: only the tiny reassemblies, the probe
    * stage, and the codes-only candidate scan execute — no Lloyd
    * E/M-step, no raw-corpus scan. Results are row-identical to
    * [[ivfpqResidualTopK]] at the same training parameters (the
    * q_ivfpq_residual / q_ivfpq_residual_search oracle rows share one
    * DuckDB twin).
    *
    * @param codebooks (subspace, cell_id, pos, centroid_v) trained on
    *   RESIDUALS — [[ivfpqResidualModel]]'s third output; feeding raw
    *   [[pqCodebooks]] here would silently score the wrong frame,
    *   which is why the residual artifacts come from ONE model call
    *   rather than mix-and-match entry points. */
  def ivfpqResidualSearch(
      queries: DataFrame,
      coarseCentroids: DataFrame,
      assignments: DataFrame,
      codebooks: DataFrame,
      codes: DataFrame,
      k: Int,
      nprobe: Int = 4,
      m: Int = 4)
      : DataFrame = {
    val lists = assignments
      .select(col("cell_id").as("coarse_cell"), col("vec_id").as("neighbor_id"))
    ivfpqResidualRank(queries, reassembleCoarse(coarseCentroids), lists,
      reassemblePqCodebooks(codebooks), storedCodes(codes), k, nprobe, m)
  }

  /** Residual twin of [[encodeWithModel]] — the streaming indexer's
    * per-batch op when the stored artifacts are residual-trained:
    * assign each new vector to its coarse cell, subtract that cell's
    * centroid, code the REMAINDER against the residual codebooks.
    * Encoding the training corpus reproduces [[ivfpqResidualModel]]'s
    * assignment and code tables row-for-row (lossless reassemblies;
    * pinned by spec). */
  def residualEncodeWithModel(
      emb: DataFrame,
      coarseCentroids: DataFrame,
      codebooks: DataFrame,
      m: Int = 4): (DataFrame, DataFrame) = {
    val coarse = reassembleCoarse(coarseCentroids)
    val assigned = assignToCells(corpusVN(emb), coarse)
    val resid = assigned
      .join(broadcast(coarse.select(col("cell_id"), col("cv"))), Seq("cell_id"))
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("embedding"))
    val codes = pqAssign(subVectors(resid, "vec_id", "vec_id", m),
        reassemblePqCodebooks(codebooks))
      .select(col("vec_id"), col("s").as("subspace"), col("cell_id").as("code"), col("d2"))
    (assigned.select(col("vec_id"), col("cell_id"), col("cos")), codes)
  }

  /** The residual-frame search: probe nprobe coarse cells per query
    * (identical to [[ivfpqRank]]'s probe stage — same cells probed, so
    * recall differences vs the raw path isolate PQ quantization
    * quality), re-express the query per probed cell, LUT keyed by
    * (query, coarse_cell, subspace, cell), candidates keyed by
    * (query, coarse_cell, neighbor). The probe table feeds both the
    * LUT and the candidate expansion — materialized once. */
  private def ivfpqResidualRank(
      queries: DataFrame,
      coarse: DataFrame,
      lists: DataFrame,
      cent: DataFrame,
      codes: DataFrame,
      k: Int,
      nprobe: Int,
      m: Int): DataFrame = {
    val q = corpusVN(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qfull"), col("n").as("qn"))
    val probes = graft.core.Materialize(
      q.join(broadcast(coarse))
        .select(col("query_id"), col("cell_id"),
          safeCos(dot(col("qfull"), col("cv")), col("qn") * col("cn")).as("pcos"))
        .groupBy("query_id")
        .agg(graft.functions.TopKByScore.topK(col("pcos"), col("cell_id"), nprobe).as("tk"))
        .select(col("query_id"), explode(col("tk.id")).as("coarse_cell")))
    val qres = probes
      .join(q.select(col("query_id"), col("qfull")), Seq("query_id"))
      .join(broadcast(coarse.select(col("cell_id").as("coarse_cell"), col("cv"))),
        Seq("coarse_cell"))
      .select(col("query_id"), col("coarse_cell"),
        zip_with(col("qfull"), col("cv"), (a, b) => a - b).as("v"))
    val qsub = subSplit(qres, Seq("query_id", "coarse_cell"), m)
      .withColumnRenamed("sv", "qv").withColumnRenamed("xx", "qq")
    val lut = qsub.join(broadcast(cent), Seq("s"))
      .select(col("query_id"), col("coarse_cell"), col("s"), col("cell_id"),
        round(col("qq") - lit(2.0) * dot(col("qv"), col("cv")) + col("cc"), 6)
          .cast("decimal(18,6)").as("pd"))
    val cand = probes.join(lists, Seq("coarse_cell"))
      .select("query_id", "coarse_cell", "neighbor_id")
    val joined = codes.join(cand, Seq("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "coarse_cell", "s", "cell_id"))
    guardedAdcRank(joined, k, m)
  }

  /** The ADC search half shared by [[pqTopK]], [[pqSearch]] and
    * [[ivfpqTopK]]: query LUT against the (s, cell_id, cv, cc)
    * codebooks, codes⋈LUT keyed join, DECIMAL-exact m-way sums,
    * bounded-heap rank. With `candidates` (query_id, neighbor_id) set,
    * only those pairs are scored — the IVF restriction: codes join the
    * candidate list on neighbor_id (a keyed shuffle, never all-pairs)
    * before the broadcast LUT attaches per-query sub-distances.
    *
    * m-mismatch guard: every scored pair must have aggregated exactly
    * `m` sub-distances. A caller whose `m` disagrees with the m the
    * stored codebooks/codes were trained with would otherwise get
    * silently-partial sums — the (s, cell_id) join just drops the
    * unmatched subspaces — so the aggregate RAISES on any other count. */
  private def adcRank(
      queries: DataFrame,
      cent: DataFrame,
      codes: DataFrame,
      k: Int,
      m: Int,
      candidates: Option[DataFrame] = None): DataFrame = {
    val qsub = subVectors(queries, "vec_id", "query_id", m)
      .withColumnRenamed("sv", "qv").withColumnRenamed("xx", "qq")
    val lut = qsub.join(broadcast(cent), Seq("s"))
      .select(col("query_id"), col("s"), col("cell_id"),
        round(col("qq") - lit(2.0) * dot(col("qv"), col("cv")) + col("cc"), 6)
          .cast("decimal(18,6)").as("pd"))
    val joined = candidates match {
      case Some(cand) =>
        codes.join(cand.select("query_id", "neighbor_id"), Seq("neighbor_id"))
          .join(broadcast(lut), Seq("query_id", "s", "cell_id"))
      case None => codes.join(broadcast(lut), Seq("s", "cell_id"))
    }
    guardedAdcRank(joined, k, m)
  }

  /** The ADC tail shared by [[adcRank]] and [[ivfpqResidualRank]]:
    * DECIMAL-exact m-way sums, the m-mismatch guard, bounded-heap
    * rank. `joined` carries (query_id, neighbor_id, pd) rows — one per
    * matched (pair, subspace). */
  private def guardedAdcRank(joined: DataFrame, k: Int, m: Int): DataFrame = {
    val scored = joined
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("pd").cast("double").as("adc"), count(col("pd")).as("n_sub"))
      // n_sub counts NON-NULL sub-distances, which makes the guard
      // airtight: a pair mixing NULL and non-NULL pd (length-mismatched
      // sub-vectors) under-counts and raises rather than passing a
      // silently-partial sum, and n_sub === m alone already implies the
      // sum is non-null (no separate isNotNull fingerprint needed)
      .select(col("query_id"), col("neighbor_id"),
        when(col("n_sub") === m, col("adc"))
          .otherwise(raise_error(concat(
            lit(s"pq: expected $m non-null sub-distances per (query, neighbor) pair, got "),
            col("n_sub").cast("string"),
            lit(" — m disagrees with the m the codebooks/codes were trained with")))
        ).as("adc"))
    scored
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(-col("adc"), col("neighbor_id"), k).as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("query_id"), col("e.id").as("neighbor_id"), (-col("e.score")).as("adc"),
        (col("i") + 1).cast("int").as("rank"))
  }

  /** Symmetric per-vector int8 quantization — the storage format a
    * 100 TB embedding store actually ships (4x smaller than float32,
    * 8x smaller than the double working form): scale = max|v| / 127,
    * code_i = round(v_i / scale) ∈ [-127, 127]. Emitted FLAT
    * (vec_id, pos, code, abs_err, scale) so the oracle hash-checks the
    * exact codes AND the reconstruction error |v_i − code_i·scale|.
    *
    * Determinism: scale is one IEEE division off an exact float-derived
    * max; round-half-away-from-zero matches across engines; errors
    * round to 6. Zero vectors quantize to all-zero codes (scale 0
    * guard). Pure row-parallel column algebra — no shuffle at any
    * scale; the lambda iterates a materialized array attribute only.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"),
        (array_max(transform(col("v"), x => abs(x))) / 127.0).as("scale"))
      .select(col("vec_id"), col("scale"), posexplode(col("v")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("pos"),
        when(col("scale") > 0, round(col("x") / col("scale"), 0).cast("int"))
          .otherwise(0).as("code"),
        col("scale"), col("x"))
      .select(col("vec_id"), col("pos"), col("code"),
        round(abs(col("x") - col("code") * col("scale")), 6).as("abs_err"),
        round(col("scale"), 9).as("scale"))

  /** Embedding-cosine near-duplicate pairs: bucket by sign-LSH, compare
    * within buckets only, keep pairs above the threshold. The dedup
    * variant of ANN (symmetric, a < b).
    *
    * The (vec_id, v, bucket, n) table is materialized ONCE before the
    * self-join (strategy pluggable, [[graft.core.Materialize]]):
    * DeduplicateRelations re-aliases the two sides, so without it the
    * embedding scan + per-row norm/bucket pipeline would execute twice —
    * at a 100 TB embedding table that is 2x the dominant I/O of the job.
    * Same criterion as [[graft.ops.Dedup.simhashPairs]].
    */
  def cosineDupPairs(
      corpus: DataFrame,
      threshold: Double = 0.95,
      bits: Int = 8): DataFrame = {
    val c = graft.core.Materialize(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"),
        lshBucket(col("embedding"), bits).as("bucket"))
        .select(col("vec_id"), col("v"), col("bucket"), norm(col("v")).as("n")))
    val l = c.select(col("bucket"), col("vec_id").as("doc_a"), col("v").as("va"), col("n").as("na"))
    val r = c.select(col("bucket"), col("vec_id").as("doc_b"), col("v").as("vb"), col("n").as("nb"))
    l.join(r, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        safeCos(dot(col("va"), col("vb")), col("na") * col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic duplicate pairs (Abbas et al., 2023,
    * arXiv:2303.09540): k-means the embedding corpus ([[kmeans]], same
    * FixedK-seeded Lloyd loop the IVF tier trains), then compare
    * vectors pairwise ONLY within a cluster and keep pairs at or above
    * the cosine threshold. Output: (cell_id, doc_a, doc_b, cos) with
    * doc_a < doc_b.
    *
    * vs [[cosineDupPairs]] (sign-LSH buckets): the blocking key here is
    * LEARNED from the data, so semantically close vectors that straddle
    * a random hyperplane still land in one block — the trade the paper
    * makes for a k-means pass over the corpus. Both are approximations
    * of the O(n²) all-pairs join; they differ only in recall per block
    * size.
    *
    * Scale shape: the clustered corpus table is materialized ONCE
    * before the self-join (DeduplicateRelations would otherwise run the
    * k-means assignment plan twice); the join shuffles on `cell_id`, so
    * per-partition work is bounded by the largest cluster — at 100 TB
    * pick `k` so n/k vectors fit an executor (the paper runs 50k
    * clusters for 5B embeddings). No window, no driver collect; the
    * centroid table stays k rows at any corpus size.
    */
  def semanticDupPairs(
      corpus: DataFrame,
      threshold: Double = 0.95,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val assign = kmeansAssignments(corpus, iterations, seed)
      .select(col("vec_id"), col("cell_id"))
    val c = graft.core.Materialize(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .join(assign, Seq("vec_id"))
        .select(col("vec_id"), col("v"), col("cell_id"), norm(col("v")).as("n")))
    val l = c.select(col("cell_id"), col("vec_id").as("doc_a"), col("v").as("va"), col("n").as("na"))
    val r = c.select(col("cell_id"), col("vec_id").as("doc_b"), col("v").as("vb"), col("n").as("nb"))
    l.join(r, Seq("cell_id"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("cell_id"), col("doc_a"), col("doc_b"),
        safeCos(dot(col("va"), col("vb")), col("na") * col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** End-to-end semantic dedup: [[semanticDupPairs]] →
    * [[graft.ops.Dedup.clusters]] (connected components, min-id
    * canonical) → anti-join, keeping one representative per
    * semantic-dup group — the embedding-space twin of
    * [[graft.ops.Dedup.dropNearDuplicates]], with the same keep
    * convention (smallest vec_id survives). Returns the surviving rows
    * of `corpus` unchanged.
    *
    * Components rather than per-pair drops because cosine-near is not
    * transitive: A≈B and B≈C with A<B<C must not keep C just because
    * (A,C) missed the threshold — the group keeps exactly its minimum.
    */
  def dropSemanticDuplicates(
      corpus: DataFrame,
      threshold: Double = 0.95,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val losers = graft.ops.Dedup.clusters(
      semanticDupPairs(corpus, threshold, iterations, seed)
        .select(col("doc_a"), col("doc_b")))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    corpus.join(losers, corpus("vec_id") === losers("doc_id"), "left_anti")
  }

  /** Semantic decontamination — [[graft.ops.Dedup.decontaminate]]'s
    * rule lifted to embedding space: a TRAINING vector is contaminated
    * if some EVAL vector in its k-means cell has cosine ≥ `threshold`
    * (the paraphrased-benchmark leak an n-gram filter cannot see).
    * Returns per contaminated training doc the evidence a leak report
    * needs: `(vec_id, n_hits, max_cos)` — how many eval docs matched
    * and the tightest match.
    *
    * Blocking: the quantizer trains on the TRAINING corpus only
    * ([[kmeansModel]]); eval vectors are then encoded against the
    * FROZEN centroids ([[assignWithCentroids]]) — the eval set never
    * reshapes the blocking structure, so adding a benchmark cannot
    * move training vectors between cells (and the same stored-model
    * path serves ongoing decontamination as benchmarks are added).
    * Approximation contract, same as [[semanticDupPairs]]: a
    * cross-cell near-pair is missed by design; the oracle replays the
    * blocking exactly, so the claim that is gated is the composed
    * rule, not brute-force recall.
    *
    * Scale shape: centroid count is corpus-independent (FixedK seed),
    * both assignment passes are broadcast argmax joins linear in their
    * corpus, and the only pairwise work is train×eval WITHIN a cell —
    * the eval side is benchmark-sized, so each cell's join fan-out is
    * bounded by its eval occupancy, not by the training corpus.
    */
  def semanticContaminatedIds(
      corpus: DataFrame,
      evalCorpus: DataFrame,
      threshold: Double = 0.95,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed): DataFrame = {
    val (cent, trainAssign) = kmeansModel(corpus, iterations, seed)
    val t = corpusVN(corpus)
      .join(trainAssign.select(col("vec_id"), col("cell_id")), Seq("vec_id"))
    val e = corpusVN(evalCorpus)
      .join(assignWithCentroids(evalCorpus, cent).select(col("vec_id"), col("cell_id")),
        Seq("vec_id"))
      .select(col("cell_id"), col("v").as("ev"), col("n").as("en"))
    t.join(e, Seq("cell_id"))
      .select(col("vec_id"),
        safeCos(dot(col("v"), col("ev")), col("n") * col("en")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
  }

  /** Recall@k of an approximate neighbor table against the exact one —
    * the measurement every ANN deployment tunes on ("is nprobe=4 good
    * enough?"), usable with ANY two ranked result tables of this
    * module's shared shape (`query_id, neighbor_id, rank`):
    * [[ivfTopK]] / [[lshBucketTopK]] / [[pqTopK]] / [[ivfpqSearch]] vs
    * [[bruteForceTopK]] ground truth.
    *
    * Output: one row per query —
    * `(query_id, n_exact, n_hit, recall)` with
    * `recall = n_hit / n_exact` over ranks ≤ k (6dp; n_exact can be
    * < k when the corpus is small, so the denominator is the truth
    * size, not k; queries the approx table missed entirely still
    * report with n_hit = 0). The ratio's denominator is ≤ k, so its
    * decimal expansion either terminates well before 6dp or repeats —
    * a 6dp rounding tie is impossible and the value is
    * engine-portable.
    *
    * Plan at 100 TB: both inputs are k-rows-per-query tables; the
    * intersection is one keyed left join on (query_id, neighbor_id)
    * and one combinable groupBy(query_id) — cost is the size of the
    * result tables, never the corpus. Ground truth on a SAMPLE of
    * queries (the q_ann_recall shape: brute-force only the sampled
    * queries) keeps the exact side affordable at any corpus size.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
  }

  /** Margin-based candidate-pair mining from PRECOMPUTED ranked
    * neighbor tables (Artetxe & Schwenk 2019's ratio margin — the
    * standard bitext/parallel-pair miner, re-expressed over any
    * `(query_id, neighbor_id, cos, rank)` tables):
    *
    *   margin(x, y) = cos(x, y) / (½·(avgₖ cos(x, NNₖ(x→Y)) +
    *                                  avgₖ cos(y, NNₖ(y→X))))
    *
    * A raw cosine threshold over-selects hubs (vectors close to
    * everything); dividing by both sides' neighborhood averages keeps
    * only pairs that are close RELATIVE to everything else they are
    * close to. Candidates are the forward top-k pairs; each source
    * keeps its best target by (margin desc, id asc) when the margin
    * clears `threshold`.
    *
    * Determinism: input cosines arrive 6dp-rounded (every ranked
    * producer here emits them so); neighborhood averages are exact
    * DECIMAL sums divided by k; the margin is rounded to 6dp.
    * Scale: two combinable per-query aggregates + two broadcastable
    * (queries-sized) average tables + a bounded-heap best-per-source —
    * cost rides entirely on the kNN producer, which is the point:
    * feed [[bruteForceTopK]] for exactness or [[ivfpqSearch]]-style
    * ANN output at 100 TB (recall measured by [[recallAtK]]).
    */
  def marginMineFrom(
      fwd: DataFrame, bwd: DataFrame, k: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1, s"k=$k must be >= 1")
    def avgOf(t: DataFrame, out: String) = t.filter(col("rank") <= k)
      .groupBy("query_id")
      .agg((sum(col("cos").cast(DecimalType(18, 6))).cast("double") / k).as(out))
    val ax = avgOf(fwd, "avg_x")
    val ay = avgOf(bwd, "avg_y").withColumnRenamed("query_id", "neighbor_id")
    fwd.filter(col("rank") <= k)
      .join(ax, Seq("query_id"))
      .join(ay, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos") * 2.0 / (col("avg_x") + col("avg_y")), 6).as("margin"))
      .where(col("margin") >= threshold)
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore.topK(col("margin"), col("neighbor_id"), 1).as("tk"))
      .select(col("query_id").as("src_id"),
        element_at(col("tk.id"), 1).as("tgt_id"),
        element_at(col("tk.score"), 1).as("margin"))
  }

  /** [[marginMineFrom]] over exact [[bruteForceTopK]] neighbors in
    * both directions — the oracle/baseline shape (O(|X|·|Y|) scoring;
    * swap in an ANN producer at scale). `x` and `y` are
    * `(vec_id, embedding)` corpora with DISJOINT id spaces. */
  def marginMine(
      x: DataFrame, y: DataFrame, k: Int = 4, threshold: Double = 1.0): DataFrame =
    marginMineFrom(bruteForceTopK(x, y, k), bruteForceTopK(y, x, k), k, threshold)

  /** Embedding-space outlier scoring — the OOD screen a curated corpus
    * runs per label/source bucket: each vector's cosine distance to
    * its own label centroid, robust-z-scored against the label's
    * distance distribution (median + MAD, the
    * [[graft.ops.TextAnalysis.lengthOutliers]] discipline — mean/stddev
    * would let the outliers move their own threshold). Flags vectors
    * whose embedding sits far from everything sharing their label:
    * mislabeled items, encoder failures, or genuinely novel content.
    *
    * Determinism: centroids are [[labelCentroids]]' DECIMAL-accumulated
    * round-6 means assembled into arrays; cosine rounds to 6 (the
    * module contract); median/MAD are exact interpolated percentiles
    * (the `quantile_cont` parity); the flag compares with the same
    * association both engines use.
    *
    * Scale shape: centroid and per-label stat tables are label-count-
    * sized broadcasts; the distance table is MATERIALIZED once (three
    * consumers — the two percentile stages and the output — would
    * otherwise each re-run the dot products over the corpus) and the
    * corpus pays one scan for it plus one label-keyed percentile
    * aggregate. Exact grouped percentiles collect each group's
    * distances onto one reducer — fine while any single label's rows
    * fit an executor (labels number in the dozens to thousands); at
    * extreme per-label cardinality swap the stat stage to
    * `approx_percentile` and give up the oracle twin.
    *
    * @return (vec_id, label, cos_dist, med, mad, is_outlier)
    */
  def embeddingOutliers(
      emb: DataFrame, kMad: Double = 3.0): DataFrame = {
    require(kMad > 0.0, s"kMad=$kMad must be positive")
    val centroids = labelCentroids(emb)
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid_v")))),
        e => e.getField("centroid_v")).as("cv"))
    // zero-norm vectors (the archetypal encoder failure this screen
    // exists to catch) have no cosine — safeCos yields NULL — and a
    // NULL distance would silently drop them from every
    // `where(is_outlier)`. Pin them to the MAX cosine distance (2.0)
    // instead: maximally far from any centroid, so they flag as
    // outliers whenever the label's spread is sane, and the med/mad
    // stats see a well-defined value in every engine.
    val dists = graft.core.Materialize(emb
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .join(broadcast(centroids), Seq("label"))
      .select(col("vec_id"), col("label"),
        coalesce(round(lit(1) - cosine(col("v"), col("cv")), 6), lit(2.0))
          .as("cos_dist")))
    val meds = dists.groupBy("label")
      .agg(expr("percentile(cos_dist, 0.5)").as("med"))
    val mads = dists.join(broadcast(meds), Seq("label"))
      .groupBy("label")
      .agg(expr("percentile(abs(cos_dist - med), 0.5)").as("mad"))
    dists
      .join(broadcast(meds), Seq("label"))
      .join(broadcast(mads), Seq("label"))
      .select(col("vec_id"), col("label"), col("cos_dist"), col("med"), col("mad"),
        (abs(col("cos_dist") - col("med")) > lit(kMad) * lit(1.4826) * col("mad"))
          .as("is_outlier"))
  }

  /** The surviving training corpus after [[semanticContaminatedIds]] —
    * the embedding-space [[graft.ops.Dedup.decontaminate]]. */
  def decontaminateSemantic(
      corpus: DataFrame,
      evalCorpus: DataFrame,
      threshold: Double = 0.95,
      iterations: Int = 2,
      seed: CentroidSeed = DefaultSeed): DataFrame =
    corpus.join(
      semanticContaminatedIds(corpus, evalCorpus, threshold, iterations, seed)
        .select("vec_id"),
      Seq("vec_id"), "left_anti")
}
