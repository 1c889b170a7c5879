package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TextNorm

/** Deduplication suite for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup — each over the `documents`
  * table, each a pure Catalyst plan (no UDFs, no driver-side state).
  *
  * Determinism contract: every hash is md5 (identical hex in any
  * engine), every tie is broken by `doc_id`, so results are
  * reproducible cell-for-cell in an independent SQL engine — that is
  * what the DuckDB oracle checks.
  *
  * Scale design: all candidate generation is bucket-join shaped
  * (group/join on a hash key, one shuffle each); nothing ever compares
  * all pairs. At 100 TB the shingle/signature explosion factor is the
  * knob: k and band width below trade recall for shuffle volume.
  *
  * Evaluation-cost design: higher-order functions (transform/filter)
  * are interpreted (CodegenFallback), and a lambda re-evaluates its
  * argument subtree per iteration. So every stage materializes its
  * input (tokens, then shingles) as an attribute in its OWN projection
  * before any lambda iterates over it — CollapseProject keeps non-cheap
  * expressions referenced more than once from being inlined back. The
  * round-1 formulation inlined the double-regex tokenizer into the
  * shingle lambda and paid the regex ~#shingles times per row.
  */
object Dedup {

  /** (doc_id, ts): the token array materialized once per document.
    * Scan-parallelism guarded: the tokenizer + everything stacked on it
    * is the expensive narrow stage (see [[graft.core.Parallelism]]).
    * `tok` is the pipeline family's tokenizer dial: the §2-parity
    * ASCII [[TextNorm.tokens]] by default,
    * [[TextNorm.tokensUnicode]] for multilingual corpora (non-Latin
    * text tokenizes to NOTHING under the default and silently passes
    * every dedup gate). */
  private[ops] def tokenized(
      docs: DataFrame,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), tok(col("text")).as("ts"))

  /** w-token shingles from a MATERIALIZED token-array column.
    * `slice` + `concat_ws` over the array — cheap per-iteration work. */
  def shinglesFromTokens(ts: Column, w: Int): Column =
    when(size(ts) >= w,
      transform(
        sequence(lit(1), size(ts) - lit(w - 1)),
        i => concat_ws(" ", slice(ts, i, lit(w)))
      )
    ).otherwise(array(concat_ws(" ", ts))) // short doc → one shingle

  /** (doc_id, shl): shingle array per document, one projection per
    * stage (tokens → shingles) so neither is recomputed inside lambdas. */
  private[ops] def shingled(
      docs: DataFrame,
      w: Int,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    tokenized(docs, tok).select(col("doc_id"), shinglesFromTokens(col("ts"), w).as("shl"))

  /** Back-compat shape: shingles straight from the text column. */
  def shingleCol(textCol: Column, w: Int): Column =
    shinglesFromTokens(TextNorm.tokens(textCol), w)

  /** Exact dedup: md5 over the normalized text; the canonical document
    * of a group is its minimum doc_id. One shuffle (groupBy hash).
    * Window-free formulation: aggregate per hash then rejoin would be
    * two shuffles; a min-over-window is one.
    */
  def exact(docs: DataFrame,
      norm: Column => Column = TextNorm.normalize): DataFrame = {
    // `norm` is the pipeline normalizer dial: the default strips every
    // non-ASCII letter, so on a multilingual corpus ALL non-Latin docs
    // hash to md5("") and false-dup each other across scripts — pass
    // TextNorm.normalizeUnicode there (the tokensUnicode concern at
    // whole-document granularity)
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy("text_hash")
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), md5(norm(col("text"))).as("text_hash"))
      .withColumn("canonical_id", min(col("doc_id")).over(byHash))
      .withColumn("is_dup", col("doc_id") =!= col("canonical_id"))
      .select("doc_id", "text_hash", "canonical_id", "is_dup")
  }

  /** Duplication spectrum — the corpus-health histogram every dedup run
    * should be judged by: for each exact-duplicate group size
    * `n_copies` (same normalized-text hash as [[exact]]), how many
    * groups have that size, how many documents they hold, and the
    * fraction of the corpus they are. A healthy crawl has almost all
    * mass at n_copies = 1; a heavy tail (boilerplate farms, mirrored
    * sites) says what an exact pass will reclaim BEFORE paying for it,
    * and how much work is left for the near-dup pass after.
    *
    * Plan: one corpus-sized combinable groupBy on the hash (the same
    * exchange [[exact]] pays), then a group-count-sized groupBy and a
    * broadcast one-row total — output is at most `max group size`
    * rows, so everything after the first aggregate is free at 100 TB.
    */
  def duplicationSpectrum(docs: DataFrame,
      norm: Column => Column = TextNorm.normalize): DataFrame = {
    val groups = graft.core.Parallelism.ensure(docs)
      .select(md5(norm(col("text"))).as("text_hash"))
      .groupBy("text_hash").agg(count(lit(1)).as("n_copies"))
    val spectrum = groups.groupBy("n_copies").agg(count(lit(1)).as("n_groups"))
    val total = spectrum.agg(sum(col("n_copies") * col("n_groups")).as("tot"))
    spectrum.crossJoin(broadcast(total))
      .select(col("n_copies"), col("n_groups"),
        (col("n_copies") * col("n_groups")).as("n_docs"),
        round((col("n_copies") * col("n_groups")).cast("double") / col("tot"), 6)
          .as("frac_docs"))
  }

  /** Winnowing-fingerprint candidate pairs — the MOSS
    * (plagiarism-detection) family beside MinHash-banding and
    * SimHash-Hamming: pairs of docs sharing at least `minShared`
    * window-min fingerprints ([[TextAnalysis.fingerprints]] with
    * k-GRAM hashes — the full Schleimer/Wilkerson/Aiken winnowing
    * scheme; unigram hashes are rejected, see the require, because
    * their window-min collapses to the vocabulary's smallest-hash
    * tokens and pairs on vocabulary, not content). Where a shared band
    * says "these docs are globally similar", a shared fingerprint says
    * "these docs contain the same LOCAL w-token region" — so this
    * family surfaces partial overlap (a copied paragraph inside an
    * otherwise-different page) that whole-doc MinHash dilutes away,
    * without paying [[duplicateSpans]]' position machinery when only
    * the pairing is wanted.
    *
    * Scale shape (the minhash discipline): the fingerprint table
    * materializes ONCE (self-join sides re-derive otherwise);
    * fingerprints in more than `maxDf` docs are dropped BEFORE pairing
    * — an over-shared region is boilerplate, and its C(df, 2) pair
    * blow-up would both flood the output and concentrate one key's
    * work in one task. Join work is bounded by Σ C(df, 2) over kept
    * fingerprints ≤ n_fp · maxDf² — fingerprint-keyed, never
    * all-pairs. Output: `(doc_a, doc_b, n_shared)`, doc_a < doc_b.
    */
  def fingerprintPairs(
      docs: DataFrame,
      w: Int = 4,
      k: Int = 3,
      minShared: Int = 2,
      maxDf: Int = 64,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    require(maxDf >= 2, s"maxDf=$maxDf must be >= 2 (df-1 docs pair per fingerprint)")
    require(k >= 2, s"k=$k must be >= 2: unigram fingerprints collapse to the " +
      "globally-smallest-hash tokens and pair on vocabulary, not content")
    val fp = graft.core.Materialize(TextAnalysis.fingerprints(docs, w, k, tok))
    val kept = fp.join(
      fp.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp"),
      Seq("fp"))
    kept.as("l")
      .join(kept.as("r"),
        col("l.fp") === col("r.fp") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** MinHash signatures, WIDE form: one row per doc_id with columns
    * sig0..sig{k-1}. Each signature simulates an independent hash
    * function as `min(md5(seed || ':' || shingle))` — the lexicographic
    * minimum of a uniform hex hash is a valid minwise permutation
    * sample.
    *
    * Since round 12 this is a ROW-PARALLEL projection over the native
    * [[graft.functions.MinHashSigs]] expression: one pass per doc
    * computes all k minima, so the exploded shingle stream and the
    * groupBy(doc_id) SHUFFLE of the aggregate formulation (one row per
    * shingle OCCURRENCE into the exchange) are gone from every MinHash
    * consumer. Value-identical by the parity spec; the expression is
    * PlanSeal-ed so multi-field consumers evaluate it once.
    */
  def minhashSignaturesWide(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        graft.functions.PlanSeal.seal(
          graft.functions.MinHashSigs.of(tok(col("text")), w, k)).as("mh"))
      // null text → null tokens → null struct. The aggregate formulation
      // EXCLUDED such docs (no shingle rows → no group); keeping them as
      // all-null sig rows would give every null-text doc the identical
      // md5('') band key (concat_ws skips nulls) and near-dup them against
      // each other unverified — the simhash isNotNull parity concern.
      .where(col("mh").isNotNull)
      .select(col("doc_id") +:
        (0 until k).map(s => col("mh.sigs").getItem(s).as(s"sig$s")): _*)

  /** MinHash signatures, LONG form (doc_id, seed, sig) — the wide form
    * unpivoted; kept as the interoperable representation. */
  def minhashSignatures(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    minhashSignaturesWide(docs, w, k, tok)
      .select(col("doc_id"), explode(array((0 until k).map { s =>
        struct(lit(s).as("seed"), col(s"sig$s").as("sig"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.seed").as("seed"), col("e.sig").as("sig"))

  /** LSH banding over the minhash signatures: b bands of r = k/b rows;
    * band key = md5 of the band's '|'-joined signatures (seed order).
    * Docs sharing any band key are near-dup candidates. Band keys are
    * plain column expressions over the wide signature row — no second
    * aggregation.
    */
  def minhashBands(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    bandsFromWide(minhashSignaturesWide(docs, w, k, tok), k, bands)

  /** Band projection over an existing wide signature table (so a caller
    * that already materialized signatures doesn't recompute them). */
  private def bandsFromWide(wide: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0,
      s"k=$k signatures must divide evenly into bands=$bands (trailing " +
        "signatures would silently drop out of every band key)")
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws("|", (b * r until (b + 1) * r).map(s => col(s"sig$s")): _*)).as("band_key"))
    }
    wide
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.band_key").as("band_key"))
  }

  /** Candidate near-dup pairs, HYBRID plan: group the band table by
    * (band, band_key) and emit each bucket's unordered doc pairs
    * (a < b):
    *
    *   - buckets with ≤ `bucketCap` docs pair IN-GROUP (one interpreted
    *     lambda over the collected array — cheap when the array is
    *     small, and the dominant case: near-dup band buckets are tiny);
    *   - buckets larger than the cap are exploded back to rows and
    *     paired by a streaming self-JOIN on the bucket key, so a
    *     dup-dense corpus (n docs sharing one band bucket) streams its
    *     C(n,2) pairs through the join operator instead of
    *     materializing them as one array struct in one task's memory.
    *
    * This is the same group-size criterion the other dedup operators
    * follow (jaccard's maxDf cap, simhash's join-only blocks): in-group
    * pairing is only safe when group size is bounded. The bucket table
    * is materialized once (strategy pluggable, see
    * [[graft.core.Materialize]]) so the signature/band pipeline executes
    * exactly once across the three references (small filter, big filter,
    * join sides). Never all-pairs: work per bucket stays C(|bucket|, 2),
    * now also bounded per-task.
    *
    * `sizeRatioFloor` (default 0 = off) enables the length-ratio
    * prefilter: pairs whose smaller distinct-shingle set is under
    * `floor` × the larger are cut before the distinct/cluster stages,
    * since J ≤ min/max bounds their Jaccard below `floor`. Set it to
    * the similarity level the banding scheme targets (r rows/band ⇒
    * threshold ≈ (1/b)^(1/r); the default k=8,b=2 targets ≈0.84) —
    * at that setting the pruned collisions are ones that could never
    * verify at the target similarity. 0 keeps the historical
    * behavior: every band collision is an edge. */
  def minhashCandidatePairs(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2,
      bucketCap: Int = 64,
      sizeRatioFloor: Double = 0.0,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    if (sizeRatioFloor <= 0.0)
      pairsFromBands(minhashBands(docs, w, k, bands, tok), bucketCap)
    else {
      require(sizeRatioFloor <= 1.0,
        s"sizeRatioFloor=$sizeRatioFloor must be in (0, 1] (it is a min/max set-size ratio)")
      pairsFromBandsWithSize(
        bandsFromWideWithSize(wideWithSize(docs, w, k, tok), k, bands),
        bucketCap, sizeRatioFloor)
    }

  /** [[minhashSignaturesWide]] plus each doc's DISTINCT shingle-set
    * size — the quantity the length-ratio prefilter bounds Jaccard
    * with. The native expression computes both in the same row-local
    * pass (its `n_sh` field IS the distinct count), so this too is
    * shuffle-free. */
  private def wideWithSize(
      docs: DataFrame, w: Int, k: Int,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        graft.functions.PlanSeal.seal(
          graft.functions.MinHashSigs.of(tok(col("text")), w, k)).as("mh"))
      .where(col("mh").isNotNull) // null-text exclusion — see minhashSignaturesWide
      .select(col("doc_id") +: col("mh.n_sh").as("n_sh") +:
        (0 until k).map(s => col("mh.sigs").getItem(s).as(s"sig$s")): _*)

  /** [[bandsFromWide]] with the n_sh column riding along. */
  private def bandsFromWideWithSize(wide: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0,
      s"k=$k signatures must divide evenly into bands=$bands (trailing " +
        "signatures would silently drop out of every band key)")
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws("|", (b * r until (b + 1) * r).map(s => col(s"sig$s")): _*)).as("band_key"))
    }
    wide
      .select(col("doc_id"), col("n_sh"), explode(array(bandStructs: _*)).as("e"))
      .select(col("doc_id"), col("n_sh"), col("e.band").as("band"), col("e.band_key").as("band_key"))
  }

  /** [[pairsFromBands]] with the length-ratio prefilter: a pair whose
    * smaller shingle set is less than `floor` of its larger can have
    * Jaccard at most `floor` (J = |A∩B|/|A∪B| ≤ min/max), so when the
    * banding scheme targets similarity ≥ `floor` the pruned pairs are
    * exactly the band collisions that could never verify — they are cut
    * BEFORE the distinct and the cluster propagation ever see them.
    * Both pairing paths apply the same predicate: the in-group lambda
    * path filters the exploded struct pairs; the streaming-join path
    * puts it in the join filter so over-cap buckets shrink in flight. */
  private def pairsFromBandsWithSize(
      bandTable: DataFrame,
      bucketCap: Int,
      floor: Double): DataFrame = {
    val buckets = graft.core.Materialize(
      bandTable
        .groupBy("band", "band_key")
        .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(col("band"), col("band_key"), array_sort(col("ds")).as("ds")))
    val keepPair =
      least(col("n_a"), col("n_b")).cast("double") >=
        lit(floor) * greatest(col("n_a"), col("n_b")).cast("double")
    val smallPairs = buckets
      .filter(size(col("ds")) <= bucketCap)
      .select(explode(pairCombinationsWithSize(col("ds"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .filter(keepPair)
      .select(col("doc_a"), col("doc_b"))
    val bigRows = buckets
      .filter(size(col("ds")) > bucketCap)
      .select(col("band"), col("band_key"), explode(col("ds")).as("d"))
      .select(col("band"), col("band_key"),
        col("d.doc_id").as("doc_id"), col("d.n_sh").as("n_sh"))
    val bigPairs = bigRows
      .select(col("band"), col("band_key"), col("doc_id").as("doc_a"), col("n_sh").as("n_a"))
      .join(bigRows.select(col("band"), col("band_key"),
        col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b") && keepPair)
      .select(col("doc_a"), col("doc_b"))
    smallPairs.unionByName(bigPairs).distinct()
  }

  /** The hybrid pair generator over any (doc_id, band, band_key) table —
    * see [[minhashCandidatePairs]] for the plan rationale. */
  private def pairsFromBands(
      bandTable: DataFrame,
      bucketCap: Int): DataFrame = {
    val buckets = graft.core.Materialize(
      bandTable
        .groupBy("band", "band_key")
        .agg(collect_list(col("doc_id")).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(col("band"), col("band_key"), array_sort(col("ds")).as("ds")))
    val smallPairs = buckets
      .filter(size(col("ds")) <= bucketCap)
      .select(explode(pairCombinations(col("ds"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    val bigRows = buckets
      .filter(size(col("ds")) > bucketCap)
      .select(col("band"), col("band_key"), explode(col("ds")).as("doc_id"))
    val bigPairs = bigRows.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
      .join(bigRows.select(col("band"), col("band_key"), col("doc_id").as("doc_b")),
        Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    smallPairs.unionByName(bigPairs).distinct()
  }

  /** All unordered pairs (doc_a < doc_b) from a sorted array column —
    * the in-bucket pair generator: for element i, pair it with every
    * later element. Lambdas iterate over the materialized array
    * attribute only. */
  private def pairCombinations(ds: Column): Column =
    flatten(transform(ds, (a, i) =>
      transform(slice(ds, i + lit(2), size(ds) - i - lit(1)),
        b => struct(a.as("doc_a"), b.as("doc_b")))))

  /** Pair generator over (doc_id, n_sh) structs: also carries each
    * side's shingle-set size so Jaccard needs no size join. */
  private def pairCombinationsWithSize(ds: Column): Column =
    flatten(transform(ds, (a, i) =>
      transform(slice(ds, i + lit(2), size(ds) - i - lit(1)),
        b => struct(
          a.getField("doc_id").as("doc_a"), a.getField("n_sh").as("n_a"),
          b.getField("doc_id").as("doc_b"), b.getField("n_sh").as("n_b")))))

  /** n-gram Jaccard similarity over candidate pairs that share at least
    * one (rare) shingle. df-capped inverted-index grouping: shingles
    * occurring in more than `maxDf` docs are dropped from candidate
    * generation (they'd contribute quadratic pairs; a shingle that
    * common is useless evidence of duplication anyway — this is the
    * standard guard that keeps the work linear at scale).
    *
    * Semantics under the cap — be precise: the reported score is
    * |A∩B restricted to df≤maxDf shingles| / (|A|+|B|−that), a LOWER
    * BOUND of true Jaccard (common shared shingles count toward the
    * sizes but not the intersection), and a cluster duplicated MORE
    * than maxDf times has every shingle capped away and yields no pairs
    * at all. That is the deliberate trade: this operator measures
    * rare-evidence overlap at bounded cost; saturation-scale duplicate
    * cliques are exactly what [[exact]] and [[minhashCandidatePairs]]
    * (whose band buckets have no df cap) are for.
    *
    * Plan shape: per-doc distinct shingle sets are computed WITHOUT a
    * shuffle (`array_distinct` before explode; set sizes ride along as a
    * column), then one groupBy(shingle) collects each rare shingle's
    * (doc, n_sh) list and pairs are generated inside the group
    * (≤ maxDf² per shingle) — no self-join, no df window sort, no size
    * joins (each pair carries both set sizes). The whole operator is the
    * corpus scan + two hash aggregations. Round 1 spent ~30 s here on a
    * distinct + window + self-join + two-join chain.
    */
  def ngramJaccardPairs(
      docs: DataFrame, w: Int = 3, maxDf: Int = 50, minJaccard: Double = 0.2,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    val base = shingled(docs, w, tok).select(col("doc_id"), array_distinct(col("shl")).as("shl"))
    val byShingle = base
      .select(col("doc_id"), size(col("shl")).as("n_sh"), explode(col("shl")).as("shingle"))
      .groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
      .select(array_sort(col("ds")).as("ds")) // materialize sorted before lambdas
    byShingle
      .select(explode(pairCombinationsWithSize(col("ds"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      // length-ratio prefilter — PROVABLY lossless here: the final
      // filter keeps jaccard >= minJaccard, and J = i/(n_a+n_b-i) is
      // maximized at i = min(n_a,n_b), i.e. J <= min/max — so a pair
      // whose smaller set is under minJaccard of its larger can never
      // survive. Cutting it before the groupBy shrinks the pair-count
      // shuffle (the per-occurrence rows) instead of the final output.
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(minJaccard) * greatest(col("n_a"), col("n_b")).cast("double"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"), min("n_a").as("n_a"), min("n_b").as("n_b"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
  }

  /** Exact shingle-set CONTAINMENT per candidate pair — the asymmetric
    * companion to [[ngramJaccardPairs]]: containment_a = |A∩B| / |A|
    * (how much of A lives inside B). Jaccard misses the quote/excerpt
    * relationship — a paragraph wholly lifted into a much longer
    * document scores near-zero Jaccard but containment_a = 1 — and
    * that asymmetry is the signal eval-contamination and
    * quote-detection actually want.
    *
    * Same candidate machinery as Jaccard (df-capped shingle buckets,
    * one pair aggregate) with one deliberate difference: NO
    * length-ratio prefilter. That prefilter is lossless for Jaccard
    * (J ≤ min/max) but would erase exactly the small-inside-large
    * pairs containment exists to find. The df cap `maxDf` remains the
    * boilerplate/scale guard. Keeps pairs where EITHER side's
    * containment clears `minContainment`.
    */
  def containmentPairs(
      docs: DataFrame, w: Int = 3, maxDf: Int = 50,
      minContainment: Double = 0.5): DataFrame = {
    require(minContainment > 0.0 && minContainment <= 1.0,
      s"minContainment=$minContainment must be in (0, 1]")
    val base = shingled(docs, w).select(col("doc_id"), array_distinct(col("shl")).as("shl"))
    val byShingle = base
      .select(col("doc_id"), size(col("shl")).as("n_sh"), explode(col("shl")).as("shingle"))
      .groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
      .select(array_sort(col("ds")).as("ds"))
    byShingle
      .select(explode(pairCombinationsWithSize(col("ds"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"), min("n_a").as("n_a"), min("n_b").as("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double") / col("n_a")).as("containment_a"),
        (col("n_inter").cast("double") / col("n_b")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= minContainment)
  }

  /** SimHash (Charikar '02), `bits`-bit variant: per token-hash bit j,
    * weight_j = Σ_tokens (bit_j ? +1 : −1); signature bit j = weight_j>0.
    * Token hash bits come from the md5 hex prefix (4 bits per hex char)
    * so any engine reproduces them. Emits (doc_id, simhash) with the
    * signature as a bigint. One groupBy shuffle.
    *
    * Token-less documents (empty / all-punctuation text) are EXCLUDED —
    * a signature over zero tokens carries no similarity signal, and
    * pairing all empty docs would only manufacture hamming-0 cliques;
    * they deduplicate via [[exact]] (shared empty normalized hash).
    * The DuckDB twin drops them identically (unnest of an empty list).
    */
  def simhash(
      docs: DataFrame, bits: Int = 16,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    require(bits % 4 == 0, s"bits=$bits must be a multiple of 4 (hex digits)")
    // row-local since round 12: the native [[graft.functions
    // .SimHashSig]] expression folds the per-token ±1 bit votes inside
    // one pass per doc — the exploded token stream and the per-bit
    // groupBy SHUFFLE of the aggregate formulation are gone
    // (value-identical by the parity spec). Token-less docs surface as
    // NULL and are filtered, reproducing the aggregate form's
    // no-group exclusion.
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        graft.functions.SimHashSig.of(tok(col("text")), bits).as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** SimHash near-dup pairs, Hamming-LSH blocking: split the signature
    * into maxHamming+1 equal segments; by pigeonhole, any pair within
    * Hamming distance ≤ maxHamming has at most maxHamming differing
    * segments, hence AT LEAST ONE identical segment — so blocking on
    * every segment has perfect recall. (Round-1 version blocked on 2
    * halves with maxHamming=3, which only guarantees recall for
    * distance ≤ 1 — round-1 ADVICE.) Then verify
    * `bit_count(xor) <= maxHamming`. Bucket join, no all-pairs.
    */
  def simhashPairs(
      docs: DataFrame,
      bits: Int = 16,
      maxHamming: Int = 3,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    hammingPairs(simhash(docs, bits, tok).withColumnRenamed("simhash", "sig"),
      bits, maxHamming)

  /** Hamming-near pairs over ANY `(doc_id, sig)` bigint-signature table
    * — the segment-blocking engine behind [[simhashPairs]], exposed so
    * other signature families (image perceptual hashes,
    * [[Multimodal.imageDupPairs]]) ride the same machinery. Split the
    * signature into maxHamming+1 equal segments; by pigeonhole, any
    * pair within Hamming distance ≤ maxHamming has at most maxHamming
    * differing segments, hence AT LEAST ONE identical segment — so
    * blocking on every segment has perfect recall. (Round-1 version
    * blocked on 2 halves with maxHamming=3, which only guarantees
    * recall for distance ≤ 1 — round-1 ADVICE.) Then verify
    * `bit_count(xor) <= maxHamming`. Bucket join, no all-pairs.
    */
  def hammingPairs(
      sigs: DataFrame,
      bits: Int,
      maxHamming: Int = 3): DataFrame = {
    val segs = maxHamming + 1
    require(bits % segs == 0,
      s"bits=$bits must be divisible by maxHamming+1=$segs segments")
    val segBits = bits / segs
    // Materialize the (doc_id, sig) table once: the self-join's two
    // sides get fresh expression ids (DeduplicateRelations), so exchange
    // reuse never fires and the whole upstream pipeline (regex+md5+16
    // aggregates for simhash, image decode for phash) would execute
    // twice. The table is one row per doc — tiny relative to its
    // compute. Strategy is pluggable ([[graft.core.Materialize]]):
    // localCheckpoint on a single node, Persist on a fault-tolerant
    // cluster.
    val s = graft.core.Materialize(sigs.select(col("doc_id"), col("sig")))
    val blocked = s.select(
      col("doc_id"), col("sig"),
      explode(array((0 until segs).map { j =>
        struct(lit(j).as("blk"),
          shiftrightunsigned(col("sig"), j * segBits)
            .bitwiseAND(lit(if (segBits == 64) -1L else (1L << segBits) - 1)).as("key"))
      }: _*)).as("b")
    ).select(col("doc_id"), col("sig"), col("b.blk").as("blk"), col("b.key").as("key"))
    // NOTE plan-shape choice: unlike minhash/jaccard, this stays a
    // self-JOIN. Group-and-pair materializes C(|block|,2) structs per
    // block inside an interpreted lambda; signature blocks hold
    // ~n/2^segBits docs (hundreds+), where the streaming hash join wins
    // — measured 3x faster at sf0.1. Group-and-pair only wins when
    // group size is capped small (jaccard's maxDf, minhash's near-dup
    // bands).
    val l = blocked.select(col("blk"), col("key"), col("doc_id").as("doc_a"), col("sig").as("sim_a"))
    val r = blocked.select(col("blk"), col("key"), col("doc_id").as("doc_b"), col("sig").as("sim_b"))
    l.join(r, Seq("blk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming) // shrink before distinct
      .distinct()
  }

  /** Incremental (cross-corpus) near-dup filter — the daily-crawl
    * pattern: drop every NEW document that shares a minhash band
    * bucket with the EXISTING corpus. The reference side is a band
    * table (`(doc_id, band, band_key)`, the [[minhashBands]] shape)
    * that a production pipeline keeps materialized in storage and only
    * ever APPENDS to — so each increment signs only its own documents;
    * the 100 TB history is never re-scanned, just semi-joined on its
    * precomputed keys.
    *
    * Plan shape: sign the increment (the only text scan), one
    * left-semi join against the reference table — both sides shuffle
    * on (band, band_key); only the build/reference side of a semi join
    * can broadcast, so that happens while the history is still small,
    * and a reference table BUCKETED by its band key on storage elides
    * its exchange entirely (the co-located-join idiom,
    * ScaleIdiomsSpec). Then one anti-join on doc_id.
    * Within-increment duplicates are NOT dropped here — run
    * [[dropNearDuplicates]] on the survivors for that; keeping the two
    * concerns separate lets the history table stay append-only.
    */
  def dropDuplicatesAgainst(
      newDocs: DataFrame,
      refBands: DataFrame,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2): DataFrame =
    dropDuplicatesAgainstBands(newDocs, minhashBands(newDocs, w, k, bands), refBands)

  /** [[dropDuplicatesAgainst]] over a PRECOMPUTED band table of the
    * increment — the shared-signature idiom: a streaming batch signs
    * itself ONCE and feeds the history filter, the within-batch pair
    * graph, and the band append from the same (materialized) band
    * table instead of re-running the tokenize+minhash scan per
    * consumer. `newBands` must be `minhashBands(newDocs, …)` (each
    * doc's signature depends only on its own text, so any id-subset
    * of a band table IS that subset's band table). */
  def dropDuplicatesAgainstBands(
      newDocs: DataFrame,
      newBands: DataFrame,
      refBands: DataFrame): DataFrame = {
    val dupIds = newBands
      .join(refBands.select(col("band"), col("band_key")), Seq("band", "band_key"), "left_semi")
      .select("doc_id").distinct()
    newDocs.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Sub-document exact dedup at chunk granularity (the RefinedWeb/
    * "exact substring" family, suffix-array-free): split each document
    * into NON-OVERLAPPING w-token chunks, hash them, and keep only the
    * corpus-wide FIRST occurrence of each distinct chunk (first =
    * lexicographically smallest (doc_id, chunk_idx)); re-emit per-doc
    * stats and the md5 of the surviving text. Boilerplate repeated
    * across a crawl disappears from every document but one, without
    * dropping whole documents the way [[exact]] does.
    *
    * Plan shape: one explode, one min-over-window keyed by the chunk
    * hash (the only corpus-wide shuffle), one per-doc aggregation. The
    * kept text is reassembled with an in-group sort over each doc's
    * own chunks — bounded by document size, never corpus-wide.
    * Determinism: md5 chunk hashes, struct-min winner, chunk_idx order.
    */
  /** Non-overlapping w-token chunk array from a MATERIALIZED token
    * column — the sub-document unit shared by [[chunkDedup]] and
    * [[boilerplateChunks]]. Empty docs yield an empty array. */
  private def chunksOf(ts: Column, w: Int): Column =
    when(size(ts) >= 1,
      // Column `/` is double division; truncate back to int (floor for
      // the non-negative sizes here) for the inclusive chunk-index bound
      transform(sequence(lit(0), ((size(ts) - 1) / w).cast("int")),
        i => concat_ws(" ", slice(ts, i * w + 1, lit(w))))
    ).otherwise(array().cast("array<string>"))

  def chunkDedup(docs: DataFrame, w: Int = 2,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = chunksOf(col("ts"), w)
    val win = Window.partitionBy("h")
    tokenized(docs, tok)
      .select(col("doc_id"), posexplode_outer(chunks).as(Seq("chunk_idx", "chunk")))
      .withColumn("h", md5(col("chunk")))
      .withColumn("winner", min(struct(col("doc_id"), col("chunk_idx"))).over(win))
      .withColumn("kept", col("chunk").isNotNull &&
        col("winner") === struct(col("doc_id"), col("chunk_idx")))
      .groupBy("doc_id")
      .agg(
        count(col("chunk")).cast("int").as("n_chunks"),
        count(when(col("kept"), 1)).cast("int").as("n_kept"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("kept"),
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")))).as("kept_hash"))
  }

  /** Boilerplate removal at the sub-document level — the RefinedWeb/
    * CCNet repeated-line rule applied to this corpus's unit
    * (non-overlapping w-token chunks; with line-structured text the
    * unit would be the line): a chunk occurring in at least `minDocs`
    * DISTINCT documents is boilerplate (nav text, license headers,
    * cookie banners) and is removed from EVERY document — including
    * the first occurrence, which [[chunkDedup]] would keep. The two
    * rules answer different questions: chunkDedup de-duplicates
    * near-identical content, this removes ubiquitous content.
    *
    * Output: one row per input document
    * `(doc_id, n_chunks, n_kept, kept_hash)` — [[chunkDedup]]'s exact
    * shape (kept_hash = md5 of surviving chunks joined in chunk
    * order), so the two rules are comparable doc by doc.
    *
    * Plan shape (deliberately better than chunkDedup's
    * text-through-window): chunk TEXT never shuffles. Pass 1 reduces
    * every occurrence to `(doc_id, chunk_idx, md5(chunk))`, counts
    * distinct docs per hash (keyed, map-side combinable), semi-joins
    * the occurrence stream against the over-threshold hashes, and
    * folds the removed indexes into one small int-array row per
    * affected doc. Pass 2 re-derives the chunks from the corpus scan
    * (the [[Curation.curate]] re-derive discipline: three cheap scans
    * beat materializing text) and drops the removed indexes
    * row-parallel with an index-aware lambda; the only join is
    * doc_id-keyed against the removed-index table, which AQE
    * broadcasts when boilerplate is sparse.
    */
  def boilerplateChunks(docs: DataFrame, w: Int = 3, minDocs: Int = 5): DataFrame = {
    require(w >= 1, s"w=$w must be >= 1")
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2 (1 would remove every chunk)")
    val occ = tokenized(docs)
      .select(col("doc_id"), posexplode(chunksOf(col("ts"), w)).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk")).as("h"))
    val bad = occ.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("chunk_df"))
      .filter(col("chunk_df") >= minDocs)
      .select("h")
    val removed = occ.join(bad, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("chunk_idx")).as("rm"))
    tokenized(docs)
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), chunksOf(col("ts"), w).as("chunks"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))
      .select(
        col("doc_id"),
        size(col("chunks")).cast("int").as("n_chunks"),
        (size(col("chunks")) - size(col("rm"))).cast("int").as("n_kept"),
        md5(concat_ws(" ",
          filter(col("chunks"), (c, i) => !array_contains(col("rm"), i)))).as("kept_hash"))
  }

  /** Trimmed non-empty paragraph array split at `boundary` — the ONE
    * definition of the paragraph unit, shared by every
    * paragraph-granularity op: batch dedup, the hash history, the
    * incremental faces, and the streaming strip must stay
    * hash-compatible, so the unit (and its normalization) lives here
    * exactly once. */
  private def paraCol(boundary: String): Column =
    filter(transform(split(col("text"), boundary), p => trim(p)),
      p => length(p) > 0)

  /** `(doc_id, para_idx, h)`: each paragraph's index and the md5 of
    * its NORMALIZED token stream — the duplicate-matching key. Since
    * round 13 this explodes the native row-local
    * [[graft.functions.ParaHashes]] array (one scan pass per doc,
    * reused buffers) instead of posexploding paragraphs and paying the
    * regex normalizer + md5 per paragraph ROW — value-identical by the
    * parity spec, and the streaming paragraph stage's dominant cost. */
  private def paraOcc(
      docs: DataFrame, boundary: String, unicode: Boolean = false): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        explode(graft.functions.ParaHashes.of(col("text"), boundary, unicode)).as("e"))
      .select(col("doc_id"), col("e.para_idx").as("para_idx"), col("e.h").as("h"))

  /** Re-derive each doc's paragraph array alongside its dropped-index
    * list (`dropped`: (doc_id, rm array<int>)). */
  private def paraWithDrops(
      docs: DataFrame, dropped: DataFrame, boundary: String): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), paraCol(boundary).as("ps"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))

  /** Natural-boundary sub-document dedup — [[chunkDedup]]'s
    * first-occurrence-wins rule at PARAGRAPH granularity, the unit
    * production pipelines (C4's line rule, RefinedWeb) actually dedup
    * at: fixed w-token windows cut mid-thought and miss reformatted
    * copies, while a quoted or syndicated paragraph is exactly the
    * content unit that repeats across a crawl.
    *
    * Paragraphs = maximal runs split at blank-line boundaries
    * (`\n[ \t]*\n` — a newline pair with optional horizontal
    * whitespace between), trimmed, empties dropped. Two paragraphs
    * are duplicates when their NORMALIZED token streams match
    * (md5 of the space-joined [[graft.core.TextNorm.tokens]]), so
    * re-wrapped/re-punctuated copies still collapse; the canonical
    * copy is the minimum `(doc_id, para_idx)` — exactly one survivor
    * per distinct paragraph, deterministically.
    *
    * Output: one row per input document
    * `(doc_id, n_paras, n_kept, kept_hash)` — [[chunkDedup]]'s shape
    * (kept_hash = md5 of the surviving RAW paragraphs joined with
    * blank lines in paragraph order), so window-dedup and
    * paragraph-dedup are comparable doc by doc.
    *
    * Plan shape (the [[boilerplateChunks]] discipline, not
    * chunkDedup's text-through-window): paragraph TEXT never
    * shuffles. Pass 1 reduces occurrences to
    * `(doc_id, para_idx, h)`, picks each hash's winner over one
    * window partitioned by h, and folds the dropped indexes into one
    * small int-array row per affected doc. Pass 2 re-derives the
    * paragraph array from the corpus scan and drops the removed
    * indexes row-parallel; the only join is doc_id-keyed
    * (AQE-broadcast when duplication is sparse).
    */
  def paragraphDedup(docs: DataFrame, boundary: String = "\\n[ \\t]*\\n",
      unicode: Boolean = false): DataFrame = {
    // boundary is a Java-regex split pattern; the default is the
    // blank-line paragraph convention. Corpora without blank-line
    // structure (single-newline-delimited pages, like this test
    // corpus) pass "\\n+" — the unit becomes the line group, i.e.
    // C4's line-level rule under the same winner machinery.
    val dropped = losingOccurrences(paraOcc(docs, boundary, unicode), "para_idx")
    paraWithDrops(docs, dropped, boundary)
      .select(
        col("doc_id"),
        size(col("ps")).cast("int").as("n_paras"),
        (size(col("ps")) - size(col("rm"))).cast("int").as("n_kept"),
        md5(concat_ws("\n\n",
          filter(col("ps"), (p, i) => !array_contains(col("rm"), i)))).as("kept_hash"))
  }

  /** The normalized-paragraph hash table [[paragraphDedupAgainst]]
    * filters against — one row per DISTINCT paragraph hash in `docs`
    * (column `h`). Append each increment's survivors to an append-only
    * history (the band-table discipline); the history holds hashes
    * only, never text. */
  def paragraphHashes(docs: DataFrame, boundary: String = "\\n[ \\t]*\\n",
      unicode: Boolean = false): DataFrame =
    paraOcc(docs, boundary, unicode).select("h").distinct()

  /** The incremental face of [[paragraphDedup]] — the daily-crawl
    * pattern at paragraph granularity ([[duplicateSpansAgainst]]'s
    * contract): drop every paragraph of `docs` whose NORMALIZED form
    * the accumulated [[paragraphHashes]] history has already seen.
    * The history holds every canonical copy by definition, so every
    * matching increment paragraph is droppable — no canonical
    * exception. Within-increment duplication is [[paragraphDedup]]'s
    * job; run it separately if an increment can self-duplicate.
    *
    * Output: [[paragraphDedup]]'s exact shape
    * `(doc_id, n_paras, n_kept, kept_hash)`.
    *
    * Scale: one paragraph scan over the INCREMENT only, one semi-join
    * on `h` against the history (AQE broadcasts small increments'
    * hash tables), one doc_id-keyed dropped-index fold; increment
    * text never shuffles, history text was never stored. */
  def paragraphDedupAgainst(
      docs: DataFrame, history: DataFrame,
      boundary: String = "\\n[ \\t]*\\n",
      unicode: Boolean = false): DataFrame =
    paraWithDrops(docs, paraDroppedAgainst(docs, history, boundary, unicode), boundary)
      .select(
        col("doc_id"),
        size(col("ps")).cast("int").as("n_paras"),
        (size(col("ps")) - size(col("rm"))).cast("int").as("n_kept"),
        md5(concat_ws("\n\n",
          filter(col("ps"), (p, i) => !array_contains(col("rm"), i)))).as("kept_hash"))

  /** The dropped-index table both incremental faces share: increment
    * paragraphs whose hash the history holds, folded per doc. */
  private def paraDroppedAgainst(
      docs: DataFrame, history: DataFrame, boundary: String,
      unicode: Boolean = false): DataFrame =
    paraOcc(docs, boundary, unicode)
      .join(history.select("h"), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("para_idx")).as("rm"))

  /** The text-REWRITE face of [[paragraphDedupAgainst]]
    * ([[stripDuplicateSpansAgainst]]'s contract at paragraph
    * granularity): cut every paragraph the accumulated
    * [[paragraphHashes]] history has seen out of the increment's
    * documents, keeping the survivors joined by blank lines. Output:
    * `(doc_id, text, n_dropped)` — doc-table-shaped, so the result
    * feeds any downstream stage. Same cost profile as the report
    * face; increment text never shuffles. */
  def stripParagraphsAgainst(
      docs: DataFrame, history: DataFrame,
      boundary: String = "\\n[ \\t]*\\n",
      unicode: Boolean = false): DataFrame =
    paraWithDrops(docs, paraDroppedAgainst(docs, history, boundary, unicode), boundary)
      .select(
        col("doc_id"),
        concat_ws("\n\n",
          filter(col("ps"), (p, i) => !array_contains(col("rm"), i))).as("text"),
        size(col("rm")).cast("int").as("n_dropped"))

  /** [[stripParagraphsAgainst]] FUSED with the history append's hash
    * table — the streaming paragraph stage's one-scan form. The strip
    * needs each increment paragraph's hash (to match the history);
    * the history append needs the SURVIVORS' hashes — and a stripped
    * document's paragraphs are exactly the occurrence rows the history
    * semi-join did NOT match, so both outputs derive from ONE
    * [[paraOcc]] scan (materialized — (doc_id, idx, hash)
    * triples, never text): `newHashes` = the occ rows anti-joined
    * against the history, distinct. Re-deriving the hashes from the
    * stripped text (what the r12 stream did) paid the per-paragraph
    * normalize+md5 pass TWICE per batch.
    *
    * Returns (stripped docs in [[stripParagraphsAgainst]]'s exact
    * shape, the survivors' distinct `h` table ≡
    * `paragraphHashes(stripped)` — the parity spec pins both). */
  def stripParagraphsWithHashes(
      docs: DataFrame, history: DataFrame,
      boundary: String = "\\n[ \\t]*\\n",
      unicode: Boolean = false)
      : (DataFrame, DataFrame) = {
    val occ = graft.core.Materialize(paraOcc(docs, boundary, unicode))
    val dropped = occ
      .join(history.select("h"), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("para_idx")).as("rm"))
    val stripped = paraWithDrops(docs, dropped, boundary)
      .select(
        col("doc_id"),
        concat_ws("\n\n",
          filter(col("ps"), (p, i) => !array_contains(col("rm"), i))).as("text"),
        size(col("rm")).cast("int").as("n_dropped"))
    val newHashes = occ
      .join(history.select("h"), Seq("h"), "left_anti")
      .select("h").distinct()
    (stripped, newHashes)
  }

  /** C4's three-sentence-span rule (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more
    * than once in the data set"), generalized to `span` consecutive
    * sentences — the granularity BETWEEN [[paragraphDedup]] (natural
    * blocks) and [[duplicateSpans]] (arbitrary substrings) that the
    * flagship published pipeline actually shipped.
    *
    * Sentences = trimmed non-empty segments split at terminator runs
    * (`[.!?]+`, [[graft.ops.TextAnalysis.sentenceSignals]]'s unit). A
    * span's duplicate-matching key is the md5 over its `span`
    * NORMALIZED sentence hashes in document order (sentence hash =
    * [[graft.functions.ParaHashes]]' md5 of the normalized token
    * stream — md5 doesn't compose, but matching the hash SEQUENCE is
    * exactly matching the normalized sentence sequence), so
    * re-punctuated/re-wrapped copies still collapse. The canonical
    * occurrence is the global minimum `(doc_id, span_idx)`; every
    * sentence covered by a NON-canonical occurrence is dropped
    * (overlapping drops union sentence-wise — deterministic, and the
    * canonical copy itself survives unless another duplicated span
    * overlaps it, C4's own behavior).
    *
    * Output: [[paragraphDedup]]'s per-doc shape `(doc_id, n_sentences,
    * n_kept, kept_hash)`; kept_hash = md5 of the surviving RAW
    * sentences joined with a single space in order (the split consumes
    * terminators — the hash certifies surviving content + order).
    * Docs with fewer than `span` sentences form no spans and pass
    * untouched.
    *
    * Plan shape (the [[paragraphDedup]] discipline): sentence TEXT
    * never shuffles. Span keys derive ROW-LOCALLY from the native
    * per-doc hash array (one ParaHashes scan — no per-sentence rows, no
    * self-join over positions); occurrences reduce to `(doc_id,
    * span_idx, h)`; one window partitioned by h picks winners; dropped
    * span indexes fold into one small int-array row per affected doc;
    * pass 2 re-derives the sentence array from the corpus scan and
    * drops covered sentences row-parallel. At 100 TB the shuffle
    * volume is one 16-byte key per sentence — proportional to sentence
    * count, never to text.
    */
  def sentenceSpanDedup(docs: DataFrame, span: Int = 3,
      boundary: String = "[.!?]+", unicode: Boolean = false): DataFrame = {
    require(span >= 1, s"span=$span must be >= 1")
    sentencesWithSpanDrops(docs,
      losingOccurrences(sentenceSpanOcc(docs, span, boundary, unicode), "span_idx"),
      span, boundary)
  }

  /** The non-canonical occurrences of `occ` (doc_id, `idx`, h), folded
    * per doc as (doc_id, rm array<int>): each hash's winner is its
    * minimum (doc_id, idx), picked over a window partitioned by `h`, so
    * the occurrence scan is read once and needs no materialization. */
  private def losingOccurrences(occ: DataFrame, idx: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = struct(col("doc_id"), col(idx))
    occ.withColumn("winner", min(key).over(Window.partitionBy("h")))
      .where(col("winner") =!= key)
      .groupBy("doc_id")
      .agg(collect_list(col(idx)).as("rm"))
  }

  /** The distinct span-key table [[sentenceSpanDedupAgainst]] filters
    * against — one row per distinct `span`-sentence key in `docs`
    * (column `h`). Append each increment's keys to an append-only
    * history (the [[paragraphHashes]] discipline); keys only, never
    * text. */
  def sentenceSpanHashes(docs: DataFrame, span: Int = 3,
      boundary: String = "[.!?]+", unicode: Boolean = false): DataFrame =
    sentenceSpanOcc(docs, span, boundary, unicode).select("h").distinct()

  /** The incremental face of [[sentenceSpanDedup]]
    * ([[paragraphDedupAgainst]]'s contract at span granularity): drop
    * every sentence of `docs` covered by a span the accumulated
    * [[sentenceSpanHashes]] history has already seen. Same shape and
    * cost profile as the batch face; one semi-join on `h` against the
    * history, increment text never shuffles. */
  def sentenceSpanDedupAgainst(docs: DataFrame, history: DataFrame,
      span: Int = 3, boundary: String = "[.!?]+",
      unicode: Boolean = false): DataFrame =
    sentencesWithSpanDrops(docs,
      spanDroppedAgainst(docs, history, span, boundary, unicode), span, boundary)

  /** The text-REWRITE face of [[sentenceSpanDedupAgainst]]
    * ([[stripParagraphsAgainst]]'s contract at span granularity): cut
    * every sentence covered by a history-matched span out of the
    * increment's documents. Output: `(doc_id, text, n_dropped)` —
    * doc-table-shaped; n_dropped counts SENTENCES. Survivors rejoin
    * with `". "` — the split consumed the original terminators, and
    * this joiner re-splits to exactly the surviving units, so
    * downstream sentence-granularity ops see a consistent stream.
    * (For the STREAMING strip ladder prefer the substring-level
    * [[stripDuplicateSpansAgainst]] — strictly finer and already
    * fused with its history append; this face is the batch C4 shape.)
    * Same cost profile as the report face; increment text never
    * shuffles. */
  def stripSentenceSpansAgainst(docs: DataFrame, history: DataFrame,
      span: Int = 3, boundary: String = "[.!?]+",
      unicode: Boolean = false): DataFrame =
    sentencesStripWithSpanDrops(docs,
      spanDroppedAgainst(docs, history, span, boundary, unicode), span, boundary)

  /** [[stripSentenceSpansAgainst]] FUSED with the history append's key
    * table — the streaming C4 stage's one-scan form (the
    * [[stripDuplicateSpansWithAnchors]] recipe at sentence-span
    * granularity): the strip needs each increment span's key (to match
    * the history); the history append needs the SURVIVORS' keys — and
    * an UNTOUCHED doc's post-strip spans are exactly its occurrence
    * rows, already computed, while a REWRITTEN doc's windows cross the
    * removal seams, so only the rewritten docs re-scan. Returns
    * (stripped docs in [[stripSentenceSpansAgainst]]'s exact shape,
    * the survivors' distinct `h` table ≡ `sentenceSpanHashes(stripped)`
    * — the parity spec pins both). The stripped frame is materialized
    * INTERNALLY (the rescan branch reads it) — do not stage it again. */
  def stripSentenceSpansWithHashes(
      docs: DataFrame, history: DataFrame,
      span: Int = 3, boundary: String = "[.!?]+",
      unicode: Boolean = false): (DataFrame, DataFrame) = {
    require(span >= 1, s"span=$span must be >= 1")
    val occ = graft.core.Materialize(
      sentenceSpanOcc(docs, span, boundary, unicode))
    val dropped = occ
      .join(history.select("h"), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("span_idx")).as("rm"))
    val stripped = graft.core.Materialize(
      sentencesStripWithSpanDrops(docs, dropped, span, boundary))
    val changed = stripped.filter(col("n_dropped") > 0)
    val newKeys = occ
      .join(changed.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("h")
      .unionByName(
        sentenceSpanOcc(changed.select(col("doc_id"), col("text")),
          span, boundary, unicode).select("h"))
      .distinct()
    (stripped, newKeys)
  }

  /** `(doc_id, span_idx, h)`: every `span`-sentence window's key,
    * derived row-locally from the per-doc ParaHashes array. */
  private def sentenceSpanOcc(docs: DataFrame, span: Int,
      boundary: String, unicode: Boolean): DataFrame = {
    val sh = transform(
      graft.functions.ParaHashes.of(col("text"), boundary, unicode),
      e => e.getField("h"))
    // CaseWhen short-circuits per row, so sequence() never sees a
    // negative stop on short docs; null/short docs explode to no rows
    val spans = when(size(sh) >= span,
      transform(sequence(lit(0), size(sh) - span), i =>
        struct(i.cast("int").as("span_idx"),
          md5(concat_ws("|",
            (0 until span).map(j => element_at(sh, i + j + 1)): _*)).as("h"))))
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), explode(spans).as("e"))
      .select(col("doc_id"), col("e.span_idx").as("span_idx"), col("e.h").as("h"))
  }

  /** The dropped-span table both incremental span faces share:
    * increment spans whose key the history holds, folded per doc. */
  private def spanDroppedAgainst(docs: DataFrame, history: DataFrame,
      span: Int, boundary: String, unicode: Boolean): DataFrame =
    sentenceSpanOcc(docs, span, boundary, unicode)
      .join(history.select("h"), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(collect_list(col("span_idx")).as("rm"))

  /** [[sentencesWithSpanDrops]]' text-rewrite twin: survivors rejoin
    * `". "` into `(doc_id, text, n_dropped)`. */
  private def sentencesStripWithSpanDrops(docs: DataFrame, dropped: DataFrame,
      span: Int, boundary: String): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), paraCol(boundary).as("ps"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))
      .select(col("doc_id"), col("ps"),
        filter(col("ps"), (p, i) =>
          !exists(col("rm"), s => s <= i && i < s + span)).as("kept"))
      .select(col("doc_id"),
        concat_ws(". ", col("kept")).as("text"),
        (size(col("ps")) - size(col("kept"))).cast("int").as("n_dropped"))

  /** Pass 2 both span faces share: re-derive the sentence array and
    * drop every sentence a removed span covers (sentence i drops iff
    * ∃ s ∈ rm: s ≤ i < s + span). */
  private def sentencesWithSpanDrops(docs: DataFrame, dropped: DataFrame,
      span: Int, boundary: String): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .join(dropped, Seq("doc_id"), "left")
      .select(col("doc_id"), paraCol(boundary).as("ps"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))
      .select(col("doc_id"), col("ps"),
        filter(col("ps"), (p, i) =>
          !exists(col("rm"), s => s <= i && i < s + span)).as("kept"))
      .select(col("doc_id"),
        size(col("ps")).cast("int").as("n_sentences"),
        size(col("kept")).cast("int").as("n_kept"),
        md5(concat_ws(" ", col("kept"))).as("kept_hash"))

  /** Benchmark decontamination: drop every training document that shares
    * at least one w-token shingle with the evaluation corpus — the
    * standard n-gram-overlap filter run before training so eval answers
    * don't leak into the training set.
    *
    * Plan shape: both corpora reduce to DISTINCT (doc, shingle) streams;
    * contaminated ids = semi-join of train shingles against the eval
    * shingle set (shuffle keyed on the shingle, eval side typically
    * small → AQE broadcasts it); the final filter is an anti-join on
    * doc_id. The corpus text itself never moves — only shingles and ids.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, w: Int = 3,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    docs.join(contaminatedIds(docs, evalDocs, w, tok), Seq("doc_id"), "left_anti")

  /** The ids [[decontaminate]] removes: training docs sharing at least
    * one w-shingle with the eval corpus. Exposed so composed pipelines
    * ([[Curation.funnel]]) can account the drop set without running the
    * anti-join twice. Per-doc-independent: membership depends only on
    * the doc's own shingles vs the eval set, never on which OTHER
    * training docs are present. */
  def contaminatedIds(docs: DataFrame, evalDocs: DataFrame, w: Int = 3,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    contaminatedIdsAgainst(docs, evalShingles(evalDocs, w, tok), w, tok)

  /** The eval side of [[decontaminate]] as a standalone table: the
    * DISTINCT w-shingles of the eval corpus, `(shingle)`. Compute ONCE
    * per eval suite and store it — a frozen benchmark never re-shingles
    * — then serve any number of corpora (or every streaming batch:
    * [[graft.streaming.CorpusWatcher.startJsonl]]) through
    * [[contaminatedIdsAgainst]]. The train/serve split of the
    * decontamination filter, same discipline as the ANN model tables. */
  def evalShingles(evalDocs: DataFrame, w: Int = 3,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    shingled(evalDocs.select(col("doc_id"), col("text")), w, tok)
      .select(explode(array_distinct(col("shl"))).as("shingle")).distinct()

  /** N-gram novelty vs a reference — the memorization/overlap SCORE
    * the binary [[decontaminate]] rule grows into: the fraction of a
    * document's distinct w-shingles NOT present in a precomputed
    * reference shingle table ([[evalShingles]] output — a frozen eval
    * suite, yesterday's corpus, or any comparison set). novelty 0 =
    * fully contained in the reference (memorized/duplicated);
    * novelty 1 = entirely fresh. Thresholding at < 1 generalizes the
    * any-overlap drop; as a score it feeds audits ("how much of this
    * shard is already in the corpus?") rather than a single verdict.
    *
    * Plan: one distinct (doc, shingle) stream, ONE left join keyed on
    * the shingle (reference is table-sized → AQE broadcasts small
    * ones), one combinable per-doc count — text never shuffles.
    * Output: `(doc_id, n_shingles, n_seen, novelty)` for EVERY doc
    * (shingle-less docs carry their single degenerate shingle, the
    * [[shinglesFromTokens]] contract).
    */
  def noveltyScore(docs: DataFrame, refShingles: DataFrame, w: Int = 3,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    shingled(docs, w, tok)
      .select(col("doc_id"), explode(array_distinct(col("shl"))).as("shingle"))
      .join(refShingles.select(col("shingle")).distinct().withColumn("seen", lit(1)),
        Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("seen")).as("n_seen"))
      .select(col("doc_id"), col("n_shingles"), col("n_seen"),
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6).as("novelty"))

  /** Contamination REPORT — the diagnostic behind [[contaminatedIds]]'
    * drop decision: for each contaminated training doc, WHICH eval
    * docs it overlaps and by how many distinct shared w-shingles.
    * "Drop 233 docs" is an action; "benchmark X leaked into these
    * docs via N n-grams" is the incident report a curation run
    * publishes (and the evidence needed to fix the leak upstream).
    *
    * Output: `(doc_id, eval_doc_id, n_shared)`, one row per
    * contaminated (train, eval) pair. `Σ distinct doc_id` here equals
    * [[contaminatedIds]]' row count by construction.
    *
    * Plan: both sides reduce to DISTINCT (doc, shingle) streams; ONE
    * join keyed on the shingle (eval side is benchmark-sized → AQE
    * broadcasts it) and one combinable pair-keyed count. Since both
    * sides are per-doc-distinct, `count(*)` IS the distinct shared
    * shingle count — no count_distinct shuffle. Text never moves.
    */
  def contaminationReport(docs: DataFrame, evalDocs: DataFrame, w: Int = 3): DataFrame = {
    val trainSh = shingled(docs, w)
      .select(col("doc_id"), explode(array_distinct(col("shl"))).as("shingle"))
    val evalSh = shingled(evalDocs.select(col("doc_id"), col("text")), w)
      .select(col("doc_id").as("eval_doc_id"),
        explode(array_distinct(col("shl"))).as("shingle"))
    trainSh.join(evalSh, Seq("shingle"))
      .groupBy("doc_id", "eval_doc_id")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[contaminatedIds]] against a PRECOMPUTED eval shingle table
    * ([[evalShingles]] output, stored or inline). `w` must equal the
    * width the table was built with — the shingle strings simply won't
    * match otherwise (silent no-op, not an error), so persist `w`
    * alongside the table. Per-batch cost: one shingle pass over `docs`
    * plus one semi-join; the eval side is never recomputed. */
  def contaminatedIdsAgainst(docs: DataFrame, evalShingleTable: DataFrame, w: Int = 3,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    shingled(docs, w, tok)
      .select(col("doc_id"), explode(array_distinct(col("shl"))).as("shingle"))
      .join(evalShingleTable.select("shingle"), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()

  /** [[decontaminate]] with a broadcast Bloom prefilter on the TRAIN
    * side — the 100 TB formulation of the same filter. The exact
    * semi-join above shuffles every distinct (doc, shingle) of the
    * training corpus on the shingle key; at 100 TB that is the
    * dominant shuffle, even though almost no train shingle is actually
    * contaminated. Here the eval side (small: a benchmark suite) is
    * summarized as a Bloom filter over `xxhash64(shingle)` and embedded
    * in the plan as a literal, so the train-side stream is prefiltered
    * MAP-SIDE by a codegen'd [[BloomFilterMightContain]] — no shuffle,
    * no broadcast-join hash table, just a bit-probe per shingle. Only
    * the surviving candidates (true hits + the fpp fraction) reach the
    * exact semi-join that kills false positives.
    *
    * Result contract: Bloom filters have no false negatives, so
    * prefilter + exact confirm ≡ exact confirm — this returns
    * byte-identical rows to [[decontaminate]] at any fpp, and shares
    * its DuckDB oracle. The two jobs on the EVAL side (a count to size
    * the filter, the filter build) are the train-once analogue of
    * centroid training; the train corpus is touched exactly once.
    * Sizing: ~9.6 bits/item at fpp=1e-2 — a 1M-shingle eval suite is a
    * ~1.2 MB plan literal. For eval sets too large to embed, fall back
    * to [[decontaminate]]'s plain semi-join.
    */
  def decontaminateBloom(
      docs: DataFrame,
      evalDocs: DataFrame,
      w: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType

    val evalSh = shingled(evalDocs.select(col("doc_id"), col("text")), w)
      .select(explode(array_distinct(col("shl"))).as("shingle")).distinct()
    val evalKeys = evalSh.select(xxhash64(col("shingle")).as("h"))
    val nEval = math.max(evalKeys.count(), 1L)
    val bloom = evalKeys.stat.bloomFilter("h", nEval, fpp)
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftSqlBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      GraftSqlBridge.expression(xxhash64(col("shingle")))))

    val candidates = shingled(docs, w)
      .select(col("doc_id"), explode(array_distinct(col("shl"))).as("shingle"))
      .where(mightContain)
    val contaminated = candidates
      .join(evalSh, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    docs.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Candidate pairs WITH an estimated Jaccard similarity, read straight
    * off the minhash signatures: est = (matching signature positions)/k.
    * This is the minwise estimator (Broder '97) — E[est] = exact Jaccard
    * — and it prices each candidate WITHOUT re-touching the shingle
    * sets: the signature table is materialized once and reused by the
    * band pipeline and both sides of the pair join (two hash joins keyed
    * by doc id, k small integer comparisons per pair). The downstream
    * dedup decision can then threshold on `est_jaccard` and only run the
    * exact [[ngramJaccardPairs]] verification on the survivors.
    */
  def minhashEstimatedPairs(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2,
      bucketCap: Int = 64,
      minEst: Double = 0.0): DataFrame = {
    val sigs = graft.core.Materialize(minhashSignaturesWide(docs, w, k))
    val pairs = pairsFromBands(bandsFromWide(sigs, k, bands), bucketCap)
    val aSide = sigs.select(col("doc_id").as("doc_a") +:
      (0 until k).map(s => col(s"sig$s").as(s"a$s")): _*)
    val bSide = sigs.select(col("doc_id").as("doc_b") +:
      (0 until k).map(s => col(s"sig$s").as(s"b$s")): _*)
    val matches = (0 until k).map(s =>
      when(col(s"a$s") === col(s"b$s"), 1).otherwise(0)).reduce(_ + _)
    pairs
      .join(aSide, Seq("doc_a"))
      .join(bSide, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(matches.cast("double") / k, 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** End-to-end near-duplicate removal: the whole dedup story as one
    * call — candidate pairs (hybrid LSH) → connected components →
    * drop every non-canonical cluster member. Docs in, surviving docs
    * out; singletons pass through untouched (they never enter the pair
    * graph). The drop set is one column of doc ids — usually tiny
    * relative to the corpus, but a dup-heavy crawl can make it large,
    * so the anti-join strategy is left to AQE (broadcast when it fits,
    * shuffle when it doesn't) rather than hinted.
    */
  def dropNearDuplicates(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2,
      bucketCap: Int = 64,
      sizeRatioFloor: Double = 0.0,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    docs.join(nearDupLosers(docs, w, k, bands, bucketCap, sizeRatioFloor, tok),
      Seq("doc_id"), "left_anti")

  /** Incremental cross-corpus face of [[fingerprintPairs]] — the
    * daily-crawl pattern ([[dropDuplicatesAgainst]]'s contract, the
    * provenance-reporting variant): the increment signs itself with
    * k-gram winnowing fingerprints and joins an APPEND-ONLY
    * `(doc_id, fp)` history table; output names WHICH history doc each
    * arrival shares ≥ `minShared` local regions with. History text is
    * never touched — only its fingerprint table; after admission the
    * caller appends the survivors' own fingerprints.
    *
    * The df cap applies to the HISTORY side (a region fingerprinted in
    * > `maxDf` history docs is boilerplate; joining it would pay its
    * posting list per arrival). The cap's df table is one keyed
    * combinable aggregate over the history fingerprint table per call
    * — at 100 TB maintain it incrementally alongside the history
    * (it is `(fp, df)`-sized) and filter before calling.
    */
  def fingerprintPairsAgainst(
      newDocs: DataFrame,
      refFps: DataFrame,
      w: Int = 4,
      k: Int = 3,
      minShared: Int = 2,
      maxDf: Int = 64): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared must be >= 1")
    require(k >= 2, s"k=$k must be >= 2 (see fingerprintPairs)")
    val inc = TextAnalysis.fingerprints(newDocs, w, k)
    val refKept = refFps.join(
      refFps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp"),
      Seq("fp"))
    inc.join(refKept.withColumnRenamed("doc_id", "ref_doc_id"), Seq("fp"))
      .groupBy("doc_id", "ref_doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Near-dup removal with a QUALITY keep policy: instead of each
    * cluster's minimum doc_id, keep the member maximizing `score`
    * (ties broken by minimum doc_id — a total order, deterministic).
    * This is what production dedup actually wants: when a page exists
    * as a full article and a truncated syndication copy, min-id keeps
    * whichever crawled first; score-keep retains the best copy (pass
    * token count for "longest wins", a [[Curation.classifierScore]]
    * logit for "cleanest wins", …).
    *
    * Scale shape: the cluster graph is the same build as
    * [[dropNearDuplicates]]; `score` is evaluated only for CLUSTERED
    * members (cluster-table-sized join — at production dup rates a few
    * percent of the corpus), and the winner selection is two
    * cluster-sized aggregates. The corpus-sized work is unchanged:
    * candidate generation + one anti-join.
    */
  def dropNearDuplicatesBy(
      docs: DataFrame,
      score: Column,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2,
      bucketCap: Int = 64,
      sizeRatioFloor: Double = 0.0): DataFrame = {
    val cl = clusters(
      minhashCandidatePairs(docs, w, k, bands, bucketCap, sizeRatioFloor))
    // score only the clustered members — docs join cl is keyed and
    // cluster-table-sized (AQE broadcasts the cluster side); the table
    // is referenced three times below (best, winner filter, losers),
    // so it materializes once — id+score rows, never text
    val members = graft.core.Materialize(
      docs.join(cl, Seq("doc_id"))
        .select(col("doc_id"), col("cluster_id"), score.as("_s")))
    // (max score, then min doc_id) via two cluster-sized aggregates —
    // type-generic (no numeric negation trick), trivially twinnable
    val best = members.groupBy("cluster_id").agg(max("_s").as("_smax"))
    val winners = members.join(best, Seq("cluster_id"))
      .filter(col("_s") === col("_smax"))
      .groupBy("cluster_id").agg(min("doc_id").as("keep_id"))
    val losers = members.join(winners, Seq("cluster_id"))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** The ids [[dropNearDuplicates]] removes: non-canonical members of
    * each near-dup cluster (everyone but the minimum doc_id). Exposed
    * so composed pipelines ([[Curation.funnel]]) can account the drop
    * set without a second clustering run. Unlike [[contaminatedIds]]
    * this IS input-set-dependent — pairs form among the docs passed in,
    * so call it on the same filtered corpus the removal runs on. */
  def nearDupLosers(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2,
      bucketCap: Int = 64,
      sizeRatioFloor: Double = 0.0,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    clusters(minhashCandidatePairs(docs, w, k, bands, bucketCap, sizeRatioFloor, tok))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")

  /** [[nearDupLosers]] over a PRECOMPUTED band table (the
    * [[dropDuplicatesAgainstBands]] shared-signature idiom): candidate
    * pairs from the given bands, connected components, non-canonical
    * members out. Value-identical to signing `docs` directly because a
    * doc's bands depend only on its own text. */
  def nearDupLosersFromBands(
      bandTable: DataFrame,
      bucketCap: Int = 64): DataFrame =
    clusters(pairsFromBands(bandTable, bucketCap))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")

  /** Content-defined anchor sites for substring-level dedup: positions
    * `p` where the k-char gram starting at `p` hashes to 0 mod `modP`
    * (Manber-style mod-p sampling — the anchor set depends only on
    * CONTENT, so two copies of a long substring select the same grams
    * regardless of their byte offsets; a fixed-stride grid would miss
    * every unaligned copy). Output: `(doc_id, pos, h)`, one row per
    * selected site; `h` is the 13-hex-digit md5 prefix of the gram
    * (52 bits — the repo's engine-portable hash convention), which is
    * both the sampling key and the global grouping key, so a prefix
    * collision changes Spark and the oracle identically.
    *
    * Scale: anchor selection is entirely map-side (one projection, no
    * shuffle); only the ~1/modP selected sites ever leave the scan, so
    * `modP` is the shuffle-volume dial — at 100 TB, modP=32-64 puts the
    * site table at well under a byte per corpus char. The scan runs on
    * the native [[graft.functions.GramAnchors]] expression (one
    * byte-level pass per doc, no per-position expression
    * interpretation or hex round-trips — the round-12 upgrade of the
    * original higher-order-function formulation, value-identical by
    * the parity spec).
    */
  def anchorSites(docs: DataFrame, k: Int = 24, modP: Int = 8): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"),
        explode(graft.functions.GramAnchors.anchors(col("text"), k, modP)).as("a"))
      .select(col("doc_id"), col("a.pos").as("pos"), col("a.h").as("h"))

  /** Duplicated-substring spans (the ExactSubstr family of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", 2022,
    * re-expressed shuffle-light): find corpus-wide repeated regions and
    * report, per document, the char ranges `[span_start, span_end)`
    * covering every NON-CANONICAL copy. The gram's canonical site is
    * its minimum `(doc_id, pos)` — exactly one copy of every repeated
    * region survives, deterministically.
    *
    * Mechanics: [[anchorSites]] → one combinable groupBy(h) keeping
    * `count` and `min(struct(doc_id, pos))` → sites re-joined on `h`
    * (same key as the groupBy, so the exchange is reused; AQE
    * broadcasts the duplicated-gram table when it is small) → per-doc
    * gaps-and-islands: adjacent droppable anchors ≤ `gap` chars apart
    * merge into one span ending `k` past the last anchor. `gap >= k`
    * is required, which makes emitted spans non-overlapping by
    * construction (next start − prev last > gap ≥ k). Note the merge
    * is deliberately lossy at boundaries: two duplicated anchors from
    * DISTINCT repeated regions ≤ `gap` apart bridge, cutting the
    * unique sliver between them — the standard anti-shredding
    * tradeoff; shrink `gap` toward `k` to keep more unique text at
    * the cost of more, shorter spans.
    *
    * Detection is probabilistic in the span length: a repeated region
    * of length L carries L−k+1 grams, each sampled at rate 1/modP, so
    * the miss probability is (1−1/modP)^(L−k+1) — ~2e-5 for a 100-char
    * region at the defaults, but dominated in practice by the corpus's
    * SHORT-span tail (round-12 [[spanEval]] measured recall 0.571 at
    * modP=8 on the fixture corpus). Don't guess modP: run
    * [[recommendModP]] (or [[spanPlan]] + [[recommendModPFrom]]) on a
    * sample with your recall target and pass its answer here. The
    * window work is per-doc (bounded), the only corpus-scale shuffle
    * carries (h, doc_id, pos) triples, and document TEXT never
    * shuffles.
    */
  def duplicateSpans(
      docs: DataFrame, k: Int = 24, modP: Int = 8, gap: Int = 64): DataFrame = {
    require(gap >= k, s"gap ($gap) must be >= k ($k) so merged spans cannot overlap")
    import org.apache.spark.sql.expressions.Window
    // the anchor scan is the expensive stage (one md5 per char); sites
    // feed both the gram aggregate and the probe side of the join, and
    // DeduplicateRelations would otherwise run that scan once per
    // reference (see Materialize's scaladoc)
    val sites = graft.core.Materialize(anchorSites(docs, k, modP))
    val grams = sites.groupBy("h")
      .agg(count(lit(1)).as("n_sites"),
        min(struct(col("doc_id"), col("pos"))).as("canon"))
      .where(col("n_sites") > 1)
    val droppable = sites.join(grams, "h")
      .where(!(col("doc_id") === col("canon.doc_id") && col("pos") === col("canon.pos")))
      .select(col("doc_id"), col("pos"))
    spansFromDroppable(droppable, k, gap)
  }

  /** Gaps-and-islands over droppable anchor positions: adjacent sites
    * ≤ `gap` apart merge; a span ends `k` past its last anchor. The
    * windows are per-doc (bounded) — no corpus-wide sort anywhere. */
  private def spansFromDroppable(droppable: DataFrame, k: Int, gap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    droppable
      .select(col("doc_id"), col("pos"),
        when(col("pos") - lag("pos", 1).over(byPos) <= gap, lit(0)).otherwise(lit(1)).as("brk"))
      .select(col("doc_id"), col("pos"), sum("brk").over(byPos).as("grp"))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + k).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** The incremental face of [[duplicateSpans]] — the daily-crawl
    * pattern ([[dropDuplicatesAgainst]]'s contract at substring
    * granularity): spans in `docs` covering regions ALREADY PRESENT in
    * an accumulated anchor-history table ([[anchorSites]] output,
    * append-only, column `h`; `k`/`modP` must equal its build
    * parameters). The history holds every canonical copy by
    * definition, so every matching increment site is droppable — no
    * canonical exception, and the history is never re-scanned beyond
    * one semi-join. Within-increment duplication is [[duplicateSpans]]'
    * job; run it separately if the increment can self-duplicate.
    *
    * Scale: one anchor scan over the INCREMENT only (map-side), one
    * semi-join on `h` against the history (AQE broadcasts small
    * increments' site tables), per-doc island windows. Increment text
    * never shuffles; history text was never stored.
    */
  def duplicateSpansAgainst(
      docs: DataFrame, history: DataFrame,
      k: Int = 24, modP: Int = 8, gap: Int = 64): DataFrame = {
    require(gap >= k, s"gap ($gap) must be >= k ($k) so merged spans cannot overlap")
    val droppable = anchorSites(docs, k, modP)
      .join(history.select("h"), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spansFromDroppable(droppable, k, gap)
  }

  /** Cut every [[duplicateSpans]] range out of its document: the
    * corpus with repeated regions removed (one canonical copy kept,
    * per the span semantics). Output: `(doc_id, text, n_spans)` —
    * same doc-table shape, so the result feeds any downstream stage.
    *
    * The cut is a single `aggregate` fold over the doc's sorted span
    * list (spans are non-overlapping by construction): accumulate the
    * kept segment before each span, then the tail. Span lists are
    * per-doc (tiny); the only shuffles are the span computation's own
    * plus one `groupBy(doc_id)` over span rows — never over text.
    */
  def stripDuplicateSpans(
      docs: DataFrame, k: Int = 24, modP: Int = 8, gap: Int = 64): DataFrame =
    spliceOut(docs, duplicateSpans(docs, k, modP, gap))

  /** [[stripDuplicateSpans]] in the incremental frame: cut every
    * [[duplicateSpansAgainst]] range — regions the accumulated anchor
    * history has already seen — out of the increment's documents. The
    * daily-crawl text-rewrite: today's docs keep only what the corpus
    * does not already contain. Same output shape and cost profile as
    * the batch strip; the history contributes one semi-join. */
  def stripDuplicateSpansAgainst(
      docs: DataFrame, history: DataFrame,
      k: Int = 24, modP: Int = 8, gap: Int = 64): DataFrame =
    spliceOut(docs, duplicateSpansAgainst(docs, history, k, modP, gap))

  /** [[stripDuplicateSpansAgainst]] FUSED with the history append's
    * anchor table — the [[stripParagraphsWithHashes]] discipline at
    * substring granularity, with one extra subtlety: stripping REWRITES
    * text, so a rewritten doc's anchors are not a subset of its
    * original sites (positions shift and new k-grams appear at cut
    * seams). The fusion is still exact: docs the strip left untouched
    * (`n_spans = 0` — the dominant case on a real crawl, where most
    * arrivals repeat nothing) contribute their ALREADY-COMPUTED site
    * rows verbatim, and only the rewritten docs are re-scanned. One
    * full anchor scan (materialized — (doc_id, pos, h)
    * triples, never text) plus a rescan proportional to the REWRITTEN
    * text volume, versus two full per-char-md5 scans in the unfused
    * r12 stream.
    *
    * Returns (stripped docs in [[stripDuplicateSpansAgainst]]'s exact
    * shape, the stripped docs' anchor table ≡
    * `anchorSites(stripped, k, modP)` — the parity spec pins both).
    * The stripped frame is materialized (it feeds both the caller and
    * the rescan side). */
  def stripDuplicateSpansWithAnchors(
      docs: DataFrame, history: DataFrame,
      k: Int = 24, modP: Int = 8, gap: Int = 64)
      : (DataFrame, DataFrame) = {
    require(gap >= k, s"gap ($gap) must be >= k ($k) so merged spans cannot overlap")
    val sites = graft.core.Materialize(anchorSites(docs, k, modP))
    val droppable = sites
      .join(history.select("h"), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val stripped = graft.core.Materialize(
      spliceOut(docs, spansFromDroppable(droppable, k, gap)))
    val changed = stripped.filter(col("n_spans") > 0)
    val newAnchors = sites
      .join(changed.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(anchorSites(changed.select(col("doc_id"), col("text")), k, modP))
    (stripped, newAnchors)
  }

  /** Cut `spans` (non-overlapping per doc) out of `docs`: one
    * `aggregate` fold over each doc's sorted span list accumulates the
    * kept segment before each span, then the tail. Span lists are
    * per-doc (tiny); text never shuffles. */
  private def spliceOut(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end")))).as("spans"),
        count(lit(1)).as("n_spans"))
    val cut = aggregate(
      col("spans"),
      struct(lit("").as("acc"), lit(0L).as("from")),
      (acc, s) => struct(
        concat(acc.getField("acc"),
          col("text").substr(acc.getField("from").cast("int") + 1,
            (s.getField("span_start") - acc.getField("from")).cast("int"))).as("acc"),
        s.getField("span_end").as("from")),
      acc => concat(acc.getField("acc"),
        col("text").substr(acc.getField("from").cast("int") + 1,
          length(col("text")) - acc.getField("from").cast("int"))))
    graft.core.Parallelism.ensure(docs)
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text")).otherwise(cut).as("text"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  /** Duplicate CLUSTERS from candidate pairs: the connected components
    * of the undirected graph `pairs(doc_a, doc_b)`. Every endpoint gets
    * one `(doc_id, cluster_id)` row whose `cluster_id` is the smallest
    * id of its component (so the canonical representative of each
    * near-dup group is its minimum id, matching [[exact]]'s
    * convention). Only docs that appear in `pairs` are emitted
    * (singletons are their own cluster trivially).
    *
    * "Smallest" is Spark's ordering for the id type (string ids compare
    * by UTF-8 bytes, not UTF-16 code units). A null endpoint yields one
    * `(null, null)` row and merges nothing; self-loops and repeated
    * edges change nothing. The output schema is the same on both paths
    * below.
    *
    * The pair table is materialized first, then one bounded
    * collect (a single task reading at most [[LocalPairs]] + 1 rows)
    * sizes it.
    *   - Local path (at most [[LocalPairs]] pairs, integral or
    *     binary-collated string ids): union-find on the driver (sorted
    *     ids, an int parent array with path halving, the minimum id as
    *     root), the materialized pairs released, and the labels
    *     returned as a local relation. Reading it runs no job, and its
    *     exact size lets downstream joins against it broadcast at plan
    *     time.
    *   - Distributed path (anything else): iterative hash-to-min label
    *     propagation over the materialized table. Each round is one
    *     join (edge src → current label), one min-agg per node, one
    *     label-of-label pointer jump and a convergence check, so rounds
    *     are O(log diameter); labels are materialized per round (the
    *     iterative lineage would otherwise grow unboundedly), the
    *     superseded round released. `maxIterations` caps the rounds
    *     and applies to this path only: when it is hit before the
    *     labels converge, a warning goes to stderr and a component may
    *     carry several labels (over-split).
    */
  def clusters(
      pairs: DataFrame,
      maxIterations: Int = 20): DataFrame =
    components(pairs, maxIterations, LocalPairs)

  /** The most pairs [[clusters]] labels on the driver. A pair count of
    * its own, independent of the broadcast setting: the collected
    * pairs, the id index and the returned local relation (up to two
    * rows per pair, re-planned by every query that reads it) all stay
    * on the driver, whatever Spark would broadcast. */
  private[graft] val LocalPairs = 100000

  /** [[clusters]] with the local path taken for at most `localPairs`
    * pairs; 0 sends every table down the distributed path. */
  private[graft] def components(
      pairs: DataFrame,
      maxIterations: Int,
      localPairs: Int): DataFrame = {
    // Materialize the PAIR table first, then union: the union's two
    // branches each reference `pairs`, and materializing only after the
    // union would run the whole candidate-generation plan once per
    // branch (round-3 VERDICT — it doubled the dominant stage of the
    // two slowest bench queries). The union over the materialized table
    // is two cheap block reads.
    val p = graft.core.Materialize(pairs.select(col("doc_a"), col("doc_b")))
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val seed = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    val labels = localComponents(p, seed.schema, localPairs) match {
      case Some(rows) => p.sparkSession.createDataFrame(rows, seed.schema)
      case None => hashToMin(edges, seed, maxIterations)
    }
    // the pair table is only needed while labelling; distributed
    // labels keep their own materialization (callers own that one)
    graft.core.Materialize.release(p)
    labels
  }

  /** [[clusters]]' distributed path: hash-to-min rounds over `edges`
    * (both directions of every pair) from the `seed` labels. */
  private def hashToMin(
      edges: DataFrame, seed: DataFrame, maxIterations: Int): DataFrame = {
    var labels = graft.core.Materialize(seed)
    var converged = false
    var it = 0
    var prevRound: DataFrame = labels // superseded round's materialization
    while (!converged && it < maxIterations) {
      val neighborMin = edges
        .join(labels, edges("src") === labels("doc_id"))
        .groupBy(col("dst"))
        .agg(min("cluster_id").as("nmin"))
        .withColumnRenamed("dst", "n_doc_id")
      // hash-to-min (r19): each round also follows the current label
      // ONE hop (label-of-label, a pointer jump over the label table)
      // before materializing. Pure neighbor-min needs DIAMETER rounds
      // — a 9-hop near-dup chain is 9 edge joins + 9 barriers — while
      // the jump halves every label path per round, so convergence is
      // O(log diameter) (Rastogi et al., finding connected components
      // in logarithmic MR rounds). Fixpoint unchanged: a label is
      // always the id of a SAME-COMPONENT node ≤ own id (the jump
      // follows a same-component label, preserving the invariant), and
      // any fixpoint where an edge still crosses two labels would
      // change next round — so converged labels are the component min,
      // exactly as before. Cost per round: one extra label-table-sized
      // join (dup-set-sized — edges dwarf it at any scale).
      val next = graft.core.Materialize(
        labels
          .join(neighborMin, labels("doc_id") === col("n_doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("nmin"), col("cluster_id"))).as("half"),
            col("cluster_id").as("prev"))
          .join(labels.select(col("doc_id").as("j_doc"), col("cluster_id").as("jmin")),
            col("half") === col("j_doc"), "left")
          .select(col("doc_id"),
            least(col("half"), coalesce(col("jmin"), col("half"))).as("cluster_id"),
            (least(col("half"), coalesce(col("jmin"), col("half"))) < col("prev")).as("changed")))
      converged = next.filter(col("changed")).limit(1).count() == 0 // forces `next`
      // the superseded round's cache is dead once `next` is materialized
      // (not the final one — callers consume it); under Persist this
      // keeps executor storage at O(1) tables instead of O(rounds)
      if (prevRound ne next) graft.core.Materialize.release(prevRound)
      prevRound = next
      labels = next.select("doc_id", "cluster_id")
      it += 1
    }
    if (!converged)
      // a graph with diameter > maxIterations (not a dedup shape): the
      // min label hasn't reached every member yet, so one true
      // component may still carry several labels (over-split)
      System.err.println(
        s"[graft] Dedup.clusters: not converged after $maxIterations rounds; " +
          "components may be over-split (raise maxIterations)")
    // `labels` projects the last round: hand back a table the caller's
    // release frees
    graft.core.Materialize.narrow(prevRound, labels)
  }

  /** [[clusters]]' local path: the component rows of the materialized
    * pair table `p` computed on the driver, or None when `p` holds more
    * than `localPairs` pairs (or the id type is one whose Spark equality
    * differs from its value equality). One job: a single task reads at
    * most `localPairs` + 1 rows. */
  private def localComponents(
      p: DataFrame, schema: org.apache.spark.sql.types.StructType, localPairs: Int)
      : Option[java.util.List[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.types._
    val idType = schema("doc_id").dataType
    val localType = idType match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }
    if (localPairs <= 0 || !localType) None
    else {
      val rows = p.select(col("doc_a").cast(idType), col("doc_b").cast(idType))
        .coalesce(1).limit(localPairs + 1).collect()
      if (rows.length <= localPairs) Some(unionFind(rows, idType)) else None
    }
  }

  /** Union-find over collected `(a, b)` id rows of type `idType`: one
    * `(id, component min)` row per distinct non-null id, plus
    * `(null, null)` when any endpoint is null. */
  private def unionFind(
      rows: Array[org.apache.spark.sql.Row], idType: org.apache.spark.sql.types.DataType)
      : java.util.List[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.util.TypeUtils
    // distinct non-null ids in Spark's order: index order is id order,
    // so the minimum index of a component is its minimum id
    val toKey = CatalystTypeConverters.createToCatalystConverter(idType)
    val order = TypeUtils.getInterpretedOrdering(idType)
    val ids: Array[Any] = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .filter(_ != null).distinct.map(v => (toKey(v), v)).toArray
      .sortBy(_._1)(order).map(_._2)
    val index = new java.util.HashMap[Any, Int](ids.length * 2)
    ids.indices.foreach(i => index.put(ids(i), i))
    val parent = Array.range(0, ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var sawNull = false
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) sawNull = true
      else {
        val (a, b) = (find(index.get(r.get(0))), find(index.get(r.get(1))))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length + 1)
    ids.indices.foreach(i => out.add(org.apache.spark.sql.Row(ids(i), ids(find(i)))))
    if (sawNull) out.add(org.apache.spark.sql.Row(null, null))
    out
  }

  /** The banding scheme's S-curve — detection probability as a function
    * of true Jaccard similarity, for `k` minhashes in `bands` bands of
    * r = k/bands rows: P(detect | J=s) = 1 − (1 − s^r)^bands. This is
    * how b and r are CHOSEN before a 100 TB dedup run: pick the curve
    * whose knee (threshold ≈ (1/b)^(1/r)) sits at the similarity level
    * the run should catch. 19 rows (s = 0.05 … 0.95), no corpus scan.
    *
    * Determinism: the powers are unrolled into explicit IEEE
    * multiplications (correctly-rounded in every engine), not
    * `pow`/libm (which may differ in the last ulp across platforms);
    * 6dp rounding then matches hash-exactly.
    */
  def bandingPlan(spark: SparkSession, k: Int = 8, bands: Int = 2): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    def powN(base: Column, n: Int): Column =
      (1 until n).foldLeft(base)((acc, _) => acc * base)
    val s = col("id").cast("double") / lit(20.0)
    val pBand = powN(s, r)
    spark.range(1, 20).select(
      s.as("jaccard"),
      round(pBand, 6).as("p_one_band"),
      round(lit(1.0) - powN(lit(1.0) - pBand, bands), 6).as("p_detect"))
  }

  /** Empirical recall/precision of the MinHash+LSH banding scheme
    * against EXACT n-gram Jaccard, on a deterministic document sample —
    * the measurement that validates [[bandingPlan]]'s theory on the
    * actual corpus before committing a full run (banding recall is
    * distribution-dependent: the S-curve integrates over the corpus's
    * real similarity histogram).
    *
    * Sample = docs whose md5(doc_id) bucket ≡ 0 (mod `sampleMod`) —
    * content-independent, reproducible in any engine. Within the
    * sample, ALL pairs are labeled: exact Jaccard over distinct
    * w-shingle sets (ground truth; no df cap — the sample bounds group
    * sizes, and a df-capped intersection would undercount), detection =
    * sharing ≥ 1 LSH band bucket. One confusion row vs `tau` comes out:
    * `(n_pairs, tp, fp, fn, tn, recall, precision)` — the rates are
    * NULL when their denominator is empty (no positive pairs in the
    * sample / nothing detected), never a divide-by-zero artifact.
    *
    * Scale contract: the pair enumeration is quadratic IN THE SAMPLE,
    * by design — this is a fixed-size diagnostic, not a corpus
    * operator. At 100 TB you raise `sampleMod` to hold the sample at
    * a few thousand docs (the estimate's variance depends on sample
    * size, not corpus size); the corpus-scale path stays
    * [[minhashCandidatePairs]].
    */
  def bandingEval(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 8,
      bands: Int = 2,
      tau: Double = 0.5,
      sampleMod: Int = 16): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau=$tau outside (0,1]")
    require(sampleMod >= 1, s"sampleMod=$sampleMod must be >= 1")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % sampleMod
    val sample = docs.filter(bucket === 0)
    // ground truth: distinct shingle rows → sizes → pairwise intersections
    val sh = shingled(sample, w)
      .select(col("doc_id"), explode(col("shl")).as("shingle")).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("l")
      .join(sh.as("r"),
        col("l.shingle") === col("r.shingle") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    // every sample pair (a < b), zero-intersection ones included — they
    // are the true negatives the precision denominator needs
    val pairs = sizes.as("a")
      .join(sizes.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        (coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L)))).as("jaccard"))
    // detection: the same band keys minhashBands builds for the corpus
    val bd = minhashBands(sample, w, k, bands)
    val detected = bd.as("l")
      .join(bd.as("r"),
        col("l.band") === col("r.band") && col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
      .withColumn("det", lit(true))
    val labeled = pairs.join(detected, Seq("doc_a", "doc_b"), "left")
      .select(col("jaccard"), coalesce(col("det"), lit(false)).as("det"))
    val isPos = col("jaccard") >= tau
    labeled.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(isPos && col("det"), 1L).otherwise(0L)).as("tp"),
      sum(when(!isPos && col("det"), 1L).otherwise(0L)).as("fp"),
      sum(when(isPos && !col("det"), 1L).otherwise(0L)).as("fn"),
      sum(when(!isPos && !col("det"), 1L).otherwise(0L)).as("tn"))
      .select(col("n_pairs"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(col("tp").cast("double") /
          when(col("tp") + col("fn") > 0, col("tp") + col("fn")), 6).as("recall"),
        round(col("tp").cast("double") /
          when(col("tp") + col("fp") > 0, col("tp") + col("fp")), 6).as("precision"))
  }

  /** Empirical char-level recall/precision of [[duplicateSpans]]'
    * anchor-gram approximation against EXACT repeated-substring ground
    * truth, on a deterministic document sample — the [[bandingEval]]
    * counterpart for the span family (the VERDICT-ordered measurement:
    * modP sampling and gap merging are distribution-dependent, so the
    * approximation must be validated on the actual corpus before a
    * full run).
    *
    * Ground truth = [[duplicateSpans]] at `modP = 1, gap = k`: every
    * k-gram is an anchor (sampling rate 1) and islands merge only when
    * their coverage is contiguous, which yields EXACTLY the chars
    * covered by non-canonical copies of duplicated k-grams — no
    * approximation remains. Anchor selection is per-GRAM (`h` depends
    * only on content), so the modP run sees either ALL copies of a
    * gram or none; the canonical site is therefore identical in both
    * runs, and the confusion isolates precisely the two approximations:
    * misses = grams the mod-p sample skipped, false chars = unique
    * slivers bridged by `gap` merging.
    *
    * Output (one row): `(n_docs, truth_chars, det_chars, tp, fp, fn,
    * recall, precision)` — char-level counts over the sample; rates
    * NULL when their denominator is empty.
    *
    * Scale contract: the modP=1 anchor scan is one md5 per sample
    * char — quadratic in NOTHING, but linear work at sampling rate 1,
    * so it runs on the md5-bucket sample only (`sampleMod` dials the
    * sample; variance depends on sample size, not corpus size). The
    * corpus-scale path stays [[duplicateSpans]].
    */
  def spanEval(
      docs: DataFrame,
      k: Int = 24,
      modP: Int = 8,
      gap: Int = 64,
      sampleMod: Int = 4): DataFrame = {
    require(sampleMod >= 1, s"sampleMod=$sampleMod must be >= 1")
    require(gap >= k, s"gap ($gap) must be >= k ($k) so merged spans cannot overlap")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % sampleMod
    // the sample feeds both span runs and the doc count
    val sample = graft.core.Materialize(docs.filter(bucket === 0))
    // ONE modP=1 anchor scan serves BOTH runs: gram selection is
    // per-GRAM (h depends only on content), so the detection run's
    // site table is exactly the `h % modP == 0` subset of the truth
    // run's — re-scanning would pay the dominant per-char md5 cost
    // twice (the round-12 review catch; the DuckDB twin shares its
    // sites CTE the same way)
    val sites = graft.core.Materialize(anchorSites(sample, k, 1))
    def droppableOf(s: DataFrame): DataFrame = {
      val grams = s.groupBy("h")
        .agg(count(lit(1)).as("n_sites"),
          min(struct(col("doc_id"), col("pos"))).as("canon"))
        .where(col("n_sites") > 1)
      s.join(grams, "h")
        .where(!(col("doc_id") === col("canon.doc_id") && col("pos") === col("canon.pos")))
        .select(col("doc_id"), col("pos"))
    }
    // spans are non-overlapping per doc by construction (gap >= k), so
    // the exploded char rows are already distinct
    def chars(spans: DataFrame, flag: String) =
      spans.select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end") - 1)).as("cpos"))
        .withColumn(flag, lit(true))
    val t = chars(spansFromDroppable(droppableOf(sites), k, k), "t")
    val d = chars(spansFromDroppable(droppableOf(sites.where(col("h") % modP === 0)), k, gap), "d")
    val conf = t.join(d, Seq("doc_id", "cpos"), "full")
      .agg(
        count(when(col("t") && col("d"), 1)).as("tp"),
        count(when(col("t") && col("d").isNull, 1)).as("fn"),
        count(when(col("t").isNull && col("d"), 1)).as("fp"))
    conf.crossJoin(broadcast(sample.agg(count(lit(1)).as("n_docs"))))
      .select(col("n_docs"),
        (col("tp") + col("fn")).as("truth_chars"),
        (col("tp") + col("fp")).as("det_chars"),
        col("tp"), col("fp"), col("fn"),
        round(col("tp").cast("double") /
          when(col("tp") + col("fn") > 0, col("tp") + col("fn")), 6).as("recall"),
        round(col("tp").cast("double") /
          when(col("tp") + col("fp") > 0, col("tp") + col("fp")), 6).as("precision"))
  }

  /** The modP DIAL for substring dedup — [[bandingPlan]]'s counterpart
    * for the span family, data-driven where the S-curve is closed-form:
    * mod-p sampling's miss probability depends on the corpus's ACTUAL
    * duplicated-span length distribution (a span of length L carries
    * L−k+1 grams, each sampled at rate 1/modP, so it is missed with
    * probability (1−1/modP)^(L−k+1) — short spans dominate the misses,
    * and only the corpus knows how short its spans are; the round-12
    * [[spanEval]] measured recall 0.571 at modP=8 on this corpus for
    * exactly that reason).
    *
    * Per candidate `modP`, the estimated CHAR-level recall over the
    * exact ground-truth spans of an md5-bucket sample
    * (= [[duplicateSpans]] at modP=1/gap=k, the [[spanEval]] truth):
    * `est_recall = Σ_spans L·(1 − (1−1/modP)^(L−k+1)) / Σ_spans L` —
    * a detected span is counted fully covered (the ~modP-char edge
    * truncation spanEval measures is ignored), so the estimate is an
    * UPPER bound on spanEval's recall at the same parameters; pick the
    * largest modP whose estimate clears the target with margin.
    *
    * Determinism: per-span terms are IEEE pow rounded to 6dp and
    * DECIMAL-summed (order-independent; the [[graft.ops.Sampling
    * .temperatureRates]] pow-then-round precedent), the final ratio
    * one division rounded 6.
    *
    * Output: one row per candidate — `(mod_p, n_spans, truth_chars,
    * est_recall)`; with no duplicated spans in the sample the recall
    * is NULL, never a 0/0 artifact.
    *
    * Scale contract: the modP=1 scan runs on the SAMPLE only (raise
    * `sampleMod` with the corpus — the [[spanEval]] contract); the
    * estimate itself is span-table-sized × |candidates|.
    */
  def spanPlan(
      docs: DataFrame,
      k: Int = 24,
      sampleMod: Int = 4,
      candidates: Seq[Int] = Seq(2, 4, 8, 16, 32, 64)): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(sampleMod >= 1, s"sampleMod=$sampleMod must be >= 1")
    require(candidates.nonEmpty && candidates.forall(_ >= 2),
      s"candidates must all be >= 2, got $candidates")
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % sampleMod
    val sample = docs.filter(bucket === 0)
    val truth = graft.core.Materialize(
      duplicateSpans(sample, k, 1, k)
        .select((col("span_end") - col("span_start")).as("len")))
    val cand = docs.sparkSession
      .createDataFrame(candidates.map(Tuple1.apply)).toDF("mod_p")
    val terms = truth.crossJoin(broadcast(cand))
      .select(col("mod_p"), col("len"),
        round(col("len") *
          (lit(1.0) - pow(lit(1.0) - lit(1.0) / col("mod_p"), col("len") - (k - 1))), 6)
          .cast(DecimalType(28, 6)).as("t"))
    cand.join(
      terms.groupBy("mod_p")
        .agg(count(lit(1)).as("n_spans"), sum("len").as("truth_chars"), sum("t").as("st")),
      Seq("mod_p"), "left")
      .select(col("mod_p"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("truth_chars"), lit(0L)).as("truth_chars"),
        round(col("st").cast("double") /
          when(col("truth_chars") > 0, col("truth_chars")), 6).as("est_recall"))
  }

  /** The modP RECOMMENDATION — the missing wire between [[spanEval]]'s
    * measurement and the parameter a user actually passes to
    * [[duplicateSpans]] / the streaming `spanHistoryDir` chain: from a
    * [[spanPlan]] table, pick the LARGEST candidate (cheapest — anchor
    * volume is ∝ 1/modP) whose estimated char recall clears
    * `targetRecall`. Argmin over the candidate-sized plan table — no
    * corpus scan happens here.
    *
    * Degenerate contracts, in the order they bind: a sample with NO
    * duplicated spans (NULL est_recall) has nothing to miss — the
    * largest candidate wins; when even the smallest candidate misses
    * the target, the answer is `1` (modP=1 keeps every anchor site:
    * exact detection, recall 1 by construction — the only setting that
    * can honor the target). */
  def recommendModPFrom(plan: DataFrame, targetRecall: Double): Int = {
    require(targetRecall > 0 && targetRecall <= 1,
      s"targetRecall=$targetRecall must be in (0, 1]")
    val rows = plan.select(col("mod_p").cast("int"), col("n_spans").cast("long"),
      col("est_recall")).collect()
    require(rows.nonEmpty, "empty spanPlan table")
    if (rows.forall(_.getLong(1) == 0L)) rows.map(_.getInt(0)).max
    else rows.filter(r => !r.isNullAt(2) && r.getDouble(2) >= targetRecall)
      .map(_.getInt(0)).maxOption.getOrElse(1)
  }

  /** [[recommendModPFrom]] with the plan built in — one sample-scan
    * [[spanPlan]] then the argmin. */
  def recommendModP(
      docs: DataFrame,
      targetRecall: Double,
      k: Int = 24,
      sampleMod: Int = 4,
      candidates: Seq[Int] = Seq(2, 4, 8, 16, 32, 64)): Int =
    recommendModPFrom(spanPlan(docs, k, sampleMod, candidates), targetRecall)

  /** Per-SOURCE MinHash signature — the minwise hash of the UNION of a
    * source's shingle sets (min over a union is the min of mins, so
    * grouping the doc-level shingle stream by source IS the union's
    * signature; no per-doc signatures are materialized). One combinable
    * groupBy(source) over the source's DISTINCT shingle set; the
    * result is source-count-sized.
    *
    * Two-stage shape, deliberately: the shingle stream is deduplicated
    * to `(source, shingle)` FIRST (combinable partial dedup, one
    * shuffle), and only then are the k hashes computed and min-folded.
    * Min over the distinct set equals min over the raw stream, and
    * `n_shingles` falls out as a plain count — whereas fusing
    * `countDistinct` into the same aggregate Expands every shingle
    * row into a distinct branch carrying k string buffers per
    * (source, shingle) group (measured 20 s vs 2 s at sf0.1), and the
    * k md5s would be paid per OCCURRENCE instead of per distinct
    * shingle. */
  def sourceSignatures(docs: DataFrame, w: Int = 3, k: Int = 16,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val aggs = (0 until k).map { s =>
      min(md5(concat(lit(s"$s:"), col("shingle")))).as(s"sig$s")
    } :+ count(lit(1)).as("n_shingles")
    graft.core.Parallelism.ensure(docs)
      .select(col("source"), tok(col("text")).as("ts"))
      .select(col("source"), shinglesFromTokens(col("ts"), w).as("shl"))
      .select(col("source"), explode(col("shl")).as("shingle"))
      .distinct()
      .groupBy("source")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Corpus-level inter-source overlap report: for every source pair,
    * the MinHash-estimated Jaccard of their full shingle sets — the
    * "how much does source A duplicate source B" question a mixture
    * designer asks before weighting sources, and the corpus-level
    * contamination screen (an eval suite smuggled into a crawl shows
    * up as an anomalously overlapping source pair).
    *
    * Estimator: matching signature slots / k over the per-source
    * union signatures ([[sourceSignatures]]) — the standard minwise
    * estimator, E[match] = J. k controls estimator stddev
    * (sqrt(J(1-J)/k)), not corpus cost: the corpus pays ONE shingle
    * scan + one combinable groupBy(source) regardless of k.
    *
    * Scale shape: the pair join runs on the source-count-sized
    * signature table (a broadcast self-join on `source_a < source_b`
    * — sources number in the dozens at 100 TB, so the quadratic term
    * is over a table that fits in a cache line, not the corpus). The
    * signature table is MATERIALIZED before the self-join — Catalyst
    * re-executes an un-materialized subtree once per self-join side
    * (DeduplicateRelations), which here would mean scanning the corpus
    * twice. Output: `(source_a, source_b, n_shingles_a, n_shingles_b,
    * est_jaccard)`, est rounded 6.
    */
  def sourceOverlap(
      docs: DataFrame, w: Int = 3, k: Int = 16,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    val sigs = graft.core.Materialize(sourceSignatures(docs, w, k, tok))
    val matches = (0 until k).map { s =>
      when(col(s"a.sig$s") === col(s"b.sig$s"), 1).otherwise(0)
    }.reduce(_ + _)
    sigs.as("a").join(broadcast(sigs.as("b")),
        col("a.source") < col("b.source"))
      .select(
        col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.n_shingles").as("n_shingles_a"),
        col("b.n_shingles").as("n_shingles_b"),
        round(matches.cast("double") / lit(k), 6).as("est_jaccard"))
  }
}
