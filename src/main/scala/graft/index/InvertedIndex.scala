package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.TextNorm

/** The engine's core artifact: a term-frequency inverted index
  * `(word, doc_id, cnt)` over a document corpus — the single query the
  * reference materializes (`SELECT word, document, count(*) ... GROUP BY
  * word, document`, see master/mapper/groupby/reducer pipeline,
  * `master/main.py:135-255`).
  *
  * Canonical representation is the FLAT DataFrame `(word: string,
  * doc_id: long, cnt: long)` — the reference's nested
  * `word → {doc → cnt}` JSON (`master/main.py:107-126`) is an export
  * codec only (`exportNestedJson`). Flat keeps the index
  * shuffle-partitionable by key at any scale; the nested map would cap a
  * word's postings list at executor memory.
  *
  * Scale notes (100 TB design intent):
  *   - build is scan → generate → two-phase hash aggregate: ONE shuffle,
  *     with map-side partial aggregation replacing the reference's
  *     collect-only combiner (`create_json_file/main.py:44-53`).
  *   - merge is union + re-aggregate: one shuffle, no driver-side state
  *     (the reference folds everything into a Python dict on the master,
  *     `master/main.py:82-126` — the exact pattern we must avoid).
  *   - lookup is a filter that pushes `word = w` into the Parquet scan.
  */
object InvertedIndex {

  /** Build the index from a corpus DataFrame.
    *
    * Pipeline (all one Catalyst plan, two stages):
    * normalize (`mapper/main.py:56-57`) → tokenize+explode
    * (`mapper/main.py:60-63`) → groupBy(word, doc).count — which subsumes
    * reference operators #13/#15/#16/#18 (combiner, shuffle merge, hash
    * partitioner, reducer SUM) as one partial+final HashAggregate.
    *
    * @param docs   corpus with an id column and a text column
    * @param idCol  document identity (reference: base filename,
    *               `mapper/main.py:63`; fixtures: `doc_id`)
    */
  def build(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"), explode(TextNorm.tokens(col(textCol))).as("word"))
      .groupBy("word", "doc_id")
      .agg(count(lit(1)).as("cnt"))

  /** Positional variant of [[build]]: `(word, doc_id, positions, cnt)`
    * with `positions` the sorted token indices of every occurrence —
    * the index shape phrase queries need (the reference's
    * count-per-word index cannot answer adjacency). Same single
    * shuffle as [[build]]; `positions` is bounded per (word, doc)
    * by the document's own length, so no postings list ever exceeds a
    * document-sized row.
    */
  def buildPositional(
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col(idCol).as("doc_id"),
        posexplode(TextNorm.tokens(col(textCol))).as(Seq("pos", "word")))
      .groupBy("word", "doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("positions"),
        count(lit(1)).cast("long").as("cnt"))

  /** Exact phrase search over a [[buildPositional]] index: documents
    * containing the query terms at CONSECUTIVE token positions, with
    * occurrence counts and the first match position. The classic
    * shifted-intersection: term i at position p votes for a phrase
    * start at p − i; a start supported by all m distinct term slots is
    * a match (a term repeated in the phrase occupies several slots and
    * must match at each offset — `countDistinct(term_idx)` keeps the
    * vote honest).
    *
    * Plan at scale: the phrase's terms push into the index scan as an
    * `isin` (partition-prunable exactly like [[lookup]]); the exploded
    * vote table is occurrences-of-phrase-terms-sized, never
    * index-sized; both aggregations are combinable; the tiny
    * `(term_idx, word)` table broadcasts. Output: `(doc_id,
    * n_matches, first_pos)`.
    */
  def phraseSearch(posIndex: DataFrame, phrase: String): DataFrame = {
    val terms = TextNorm.queryTerms(phrase) // order matters; no distinct
    require(terms.nonEmpty, s"phrase '$phrase' has no indexable terms")
    val spark = posIndex.sparkSession
    import spark.implicits._
    val termRows = terms.zipWithIndex.map { case (w, i) => (i, w) }.toDF("term_idx", "word")
    posIndex
      .filter(col("word").isin(terms.distinct: _*))
      .join(broadcast(termRows), Seq("word"))
      .select(col("doc_id"), col("term_idx"), explode(col("positions")).as("pos"))
      .select(col("doc_id"), col("term_idx"), (col("pos") - col("term_idx")).as("start"))
      // (doc_id, start, term_idx) is unique by construction — one vote
      // row per (term_idx, p) with start = p − term_idx — so a plain
      // count equals count(DISTINCT term_idx) without the distinct
      // aggregate's extra expansion exchange
      .groupBy("doc_id", "start")
      .agg(count(lit(1)).as("n_terms"))
      .where(col("n_terms") === terms.length)
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_matches"),
        min("start").cast("long").as("first_pos"))
  }

  /** Best-window SNIPPETS over a [[buildPositional]] index — the
    * result-page face the retrieval stack (lookup / boolean / BM25 /
    * phrase) was missing: for each document containing at least one
    * query term, the `window`-token span that maximizes (distinct
    * query terms, then total hits), with its text. Output: `(doc_id,
    * start_pos, n_terms, n_hits, snippet)` — `start_pos` 0-based (the
    * positional index's coordinate), `snippet` the space-joined
    * normalized tokens of `[start_pos, start_pos + window)` (shorter
    * at document end).
    *
    * Window candidates are HIT-ALIGNED: an optimal window can always
    * be shifted right until its left edge sits on a query-term hit
    * without losing a hit, so only hit positions compete — and the
    * deterministic tiebreak (terms desc, hits desc, start asc) is over
    * those candidates. Ranking is engine-exact integer arithmetic.
    *
    * Plan at scale: the query terms push into the index scan as an
    * `isin` (partition-prunable exactly like [[lookup]]); the
    * candidate×hit range join is keyed by doc_id over the
    * query-term-occurrence table — occurrences-sized both sides, never
    * index- or corpus-sized; the per-doc argmax is one combinable
    * `max_by`; and only MATCHED docs are re-tokenized for the snippet
    * text (winner-id semi-join, then one row-local slice — doc text
    * never shuffles).
    *
    * HOT-TERM GUARD (`maxHitsPerTerm`): the window scoring pairs each
    * doc's query-term hits against each other, so its per-doc cost is
    * H² in that doc's hits — a stop-word-ish query term in one very
    * long document (10⁴ hits → 10⁸ in-doc pairs) would make a single
    * hot task at web scale. Each (doc, term)'s positions are therefore
    * capped at the FIRST `maxHitsPerTerm` occurrences (document order
    * — positions are stored sorted) before the pairing, bounding the
    * per-doc intermediate at (cap·|terms|)². Output is IDENTICAL
    * whenever no (doc, term) exceeds the cap; a doc that does competes
    * (and counts `n_hits`) over its capped prefix — for snippet
    * selection the earliest occurrences are where the best windows
    * live anyway. The cap is a row-local `slice` on the stored array,
    * applied before the explode ever widens the row.
    *
    * BEHAVIOR CHANGE NOTE (round 18): the cap's default of 1000 is a
    * SILENT change for pre-r18 callers — any (doc, term) with more
    * than 1000 occurrences now competes and counts `n_hits` over only
    * its first 1000 positions, and the change flows through
    * [[searchPage]] and both served faces
    * ([[graft.index.IndexStore.searchPage]], its TVF). Callers needing
    * exact legacy output on such documents must pass
    * `maxHitsPerTerm = Int.MaxValue` explicitly (and accept the H²
    * hot-task risk that motivated the guard). */
  def snippets(
      posIndex: DataFrame,
      docs: DataFrame,
      query: String,
      window: Int = 10,
      maxHitsPerTerm: Int = 1000): DataFrame = {
    require(window >= 1, s"window=$window must be >= 1")
    require(maxHitsPerTerm >= 1, s"maxHitsPerTerm=$maxHitsPerTerm must be >= 1")
    val terms = TextNorm.queryTerms(query).distinct
    require(terms.nonEmpty, s"query '$query' has no indexable terms")
    // hits is MATERIALIZED (r20): the window-scoring self-join below
    // references it twice, and DeduplicateRelations re-aliases the two
    // sides, so a lazy hits would execute the whole posIndex pipeline —
    // for the in-plan faces a full positional index build — once per
    // side. The table is query-term-occurrences-sized (bounded by
    // maxHitsPerTerm per (doc, term)), never index-sized.
    val hits = graft.core.Materialize(
      posIndex.filter(col("word").isin(terms: _*))
        .select(col("doc_id"), col("word"),
          explode(slice(col("positions"), 1, maxHitsPerTerm)).as("pos")))
    val scored = hits.select(col("doc_id"), col("pos").as("start"))
      .join(hits, Seq("doc_id"))
      .where(col("pos") >= col("start") && col("pos") < col("start") + window)
      .groupBy(col("doc_id"), col("start"))
      .agg(countDistinct(col("word")).as("n_terms"), count(lit(1)).as("n_hits"))
    val best = scored.groupBy(col("doc_id"))
      .agg(max_by(struct(col("start"), col("n_terms"), col("n_hits")),
        struct(col("n_terms"), col("n_hits"), -col("start"))).as("w"))
      .select(col("doc_id"), col("w.start").cast("long").as("start_pos"),
        col("w.n_terms").as("n_terms"), col("w.n_hits").as("n_hits"))
    val matched = docs.join(best.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        graft.functions.PlanSeal.seal(TextNorm.tokens(col("text"))).as("ts"))
    best.join(matched, Seq("doc_id"))
      .select(col("doc_id"), col("start_pos"), col("n_terms"), col("n_hits"),
        array_join(slice(col("ts"), (col("start_pos") + 1).cast("int"), lit(window)), " ")
          .as("snippet"))
  }

  /** The complete RESULT PAGE in one call — [[bm25TopKFromDocs]]
    * composed with [[snippets]]: the top-`k` BM25 documents for the
    * query, each carrying its best `window`-token snippet. Output:
    * `(rank, doc_id, score, start_pos, n_terms, n_hits, snippet)` —
    * what a search frontend renders, from one plan.
    *
    * Composition shape: the ranked id set is k rows, so it SEMI-JOINS
    * (broadcast) into the snippet inputs BEFORE the positional build —
    * snippet work (position explode, window scoring, the one
    * re-tokenize for text) happens for exactly the k result docs,
    * never the full match set. */
  def searchPage(
      docs: DataFrame,
      query: String,
      k: Int,
      window: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxHitsPerTerm: Int = 1000): DataFrame = {
    // ranked is MATERIALIZED (r20): it is referenced twice (the
    // snippet-input semi-join and the final rank join), and
    // DeduplicateRelations re-aliases the references, so a lazy ranked
    // would run the whole BM25 subtree — a full-corpus index build —
    // once per reference. The table is k rows.
    val ranked = graft.core.Materialize(
      bm25TopKFromDocs(docs, query, k, k1, b))
    val pageDocs = docs.join(ranked.select("doc_id"), Seq("doc_id"), "left_semi")
    val snip = snippets(buildPositional(pageDocs), pageDocs, query, window,
      maxHitsPerTerm)
    ranked.join(snip, Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("score"),
        col("start_pos"), col("n_terms"), col("n_hits"), col("snippet"))
  }

  /** Incremental merge, PARITY mode: add delta counts into the old index
    * (`master/main.py:106-121`). Re-indexing a document that is already
    * in the index double-counts it — faithfully kept; see upsertDocs for
    * the corrected semantics. One shuffle, partial-agg'd union.
    */
  def add(oldIndex: DataFrame, delta: DataFrame): DataFrame =
    oldIndex
      .unionByName(delta)
      .groupBy("word", "doc_id")
      .agg(sum("cnt").as("cnt"))

  /** Incremental merge, UPSERT mode: replace all postings of the
    * documents present in the delta, then union. This is the
    * correct-by-document semantics the reference lacks (SURVEY §7.5.1):
    * re-uploading a file replaces its counts instead of doubling them.
    * The anti-join's strategy is left to the planner: a typical delta's
    * doc-id set is broadcast-sized, but the watcher's bulk-load path
    * (first batch = the whole backlog) is not, and a hard broadcast
    * hint there would OOM the driver instead of falling back to a
    * shuffle join.
    */
  def upsertDocs(oldIndex: DataFrame, delta: DataFrame): DataFrame = {
    // schema-driven (not pinned to the flat (word, doc_id, cnt)): the
    // POSITIONAL index upserts through the same call — replace-by-doc
    // semantics need no column arithmetic, so any index shape carrying
    // (word, doc_id) works; old and delta must share the delta's schema
    val cols = delta.columns.toSeq
    val rest = cols.filterNot(Set("word", "doc_id").contains)
    val deltaDocs = delta.select("doc_id").distinct()
    oldIndex
      .join(deltaDocs, Seq("doc_id"), "left_anti")
      .select(cols.map(col): _*)
      .unionByName(delta.select(cols.map(col): _*))
      .select(("word" +: "doc_id" +: rest).map(col): _*)
  }

  /** Point lookup (`main/app.py:72-77`): postings of one word, count
    * descending. The reference leaves tie order undefined (pandas
    * quicksort); we pin `doc_id` ascending for determinism.
    * The equality predicate pushes down into the index scan.
    */
  def lookup(index: DataFrame, word: String): DataFrame = {
    val key = TextNorm.normalizeKey(word)
    index
      .filter(col("word") === lit(key))
      .select(col("doc_id"), col("cnt"))
      .orderBy(col("cnt").desc, col("doc_id"))
  }

  /** Boolean multi-term retrieval over the [[build]] index — the
    * AND/OR query layer between [[lookup]] (one term) and [[bm25TopK]]
    * (scored ranking): documents matching ALL terms (`requireAll`,
    * posting-list intersection) or ANY term (union), ranked by summed
    * term count with doc_id tiebreak. Terms normalize through the
    * shared query preprocessor and de-duplicate, so `AND(x, x)`
    * degrades to `AND(x)` rather than an impossible count.
    *
    * Plan shape: the `isin` pushes into the (word-partitioned, served)
    * index scan like the BM25 term filter — cost is the matched
    * postings, never the index; the intersection is one combinable
    * groupBy(doc_id) (postings are unique per (word, doc), so
    * `count(*) = n_terms` IS set intersection). Output is
    * query-result-sized; the sort is the serving convention
    * ([[lookup]]).
    */
  def booleanSearch(
      index: DataFrame, terms: Seq[String], requireAll: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "booleanSearch needs at least one term")
    val keys = terms.map(TextNorm.normalizeKey).distinct
    val hits = index
      .filter(col("word").isin(keys: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), sum("cnt").as("total_cnt"))
    (if (requireAll) hits.filter(col("n_matched") === keys.size) else hits)
      .select(col("doc_id"), col("n_matched").cast("int").as("n_matched"),
        col("total_cnt").cast("long").as("total_cnt"))
      .orderBy(col("total_cnt").desc, col("doc_id"))
  }

  /** Top-k postings per word — the bounded version of lookup's full sort,
    * for serving at scale: rank within each word partition, keep k.
    * Deterministic tiebreak `doc_id` asc.
    *
    * Window formulation, kept as the built-in reference semantics; see
    * [[topKAggregated]] for the scale path (identical output).
    */
  def topK(index: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("word").orderBy(col("cnt").desc, col("doc_id").asc)
    index
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Top-k postings via the bounded-heap aggregate
    * [[graft.functions.TopKByScore]]: partial aggregation forwards at
    * most k postings per word per map task into the shuffle, and no
    * partition is ever sorted — the window formulation above shuffles
    * and sorts the ENTIRE index. Output is row-identical to [[topK]]
    * (score desc, doc_id asc, dense rank 1..k).
    */
  def topKAggregated(index: DataFrame, k: Int): DataFrame =
    index
      .groupBy("word")
      .agg(graft.functions.TopKByScore.topK(col("cnt"), col("doc_id"), k).as("top"))
      .select(col("word"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("word"), col("e.id").as("doc_id"), col("e.score").as("cnt"),
        (col("i") + 1).cast("int").as("rank"))

  /** TF-IDF scores from the index — the classic extension the reference
    * stops short of (its index IS the tf table; SURVEY §7.6): document
    * frequency is one more aggregation over the index, N arrives as a
    * broadcast scalar, idf = ln((N+1)/(df+1)) (smoothed), score =
    * tf · idf rounded to 6 for engine portability.
    *
    * Plan: df via count-over-window on word — ONE shuffle over index
    * rows and one upstream pass (a groupBy+self-join would execute the
    * index-building pipeline twice), no pass over the corpus text.
    */
  def tfIdf(index: DataFrame, nDocs: Long): DataFrame = {
    val byWord = Window.partitionBy("word")
    index
      .withColumn("df", count(lit(1)).over(byWord))
      .select(col("word"), col("doc_id"), col("cnt"),
        round(col("cnt") * log((lit(nDocs) + 1.0) / (col("df") + 1.0)), 6).as("tfidf"))
  }

  /** Per-document token totals from the index — `(doc_id, dl)` with
    * `dl = Σ cnt`, the length statistic BM25 normalizes by. One
    * combinable groupBy over index rows, no corpus scan. At scale this
    * is a serving artifact: compute once per index snapshot, store
    * alongside it, and pass to [[bm25TopK]] so queries never
    * re-aggregate the index. */
  def docLengths(index: DataFrame): DataFrame =
    index.groupBy("doc_id").agg(sum("cnt").as("dl"))

  /** BM25 ranked retrieval — the multi-term query operator the
    * reference's point [[lookup]] (`main/app.py:72-77`) grows into.
    * Query text goes through the SHARED normalizer
    * ([[graft.core.TextNorm.queryTerms]] — same pipeline as the
    * indexed corpus), then each matching posting contributes the
    * Okapi term (Robertson et al., TREC-3)
    *
    *   idf(t) · cnt·(k1+1) / (cnt + k1·(1−b + b·dl/avgdl)),
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))   (≥ 0 always)
    *
    * and a document's score is the sum over its matched terms. Output:
    * `(doc_id, score, rank)`, rank 1..k by (score desc, doc_id asc).
    *
    * Engine-portable determinism (the q_lm_score recipe): idf is
    * rounded to 6dp BEFORE use, each term contribution is rounded to
    * 6dp and cast DECIMAL(18,6), so the per-doc sum is exact and
    * order-independent — no float-summation drift between engines; the
    * only transcendental (ln) is computed once per TERM, not per row.
    *
    * Plan at 100 TB: the `isin(terms)` predicate pushes into the index
    * scan (partition-prunable exactly like [[lookup]]); `df`/`idf` are
    * a terms-row aggregate that broadcasts; doc lengths come from the
    * stored [[docLengths]] artifact (`docLens`) so the only index-wide
    * work is the matched-postings join onto it, keyed on doc_id; the
    * final ranking is the bounded-heap aggregate — at most k rows per
    * map task cross the shuffle, no global sort. With `docLens` left
    * None the lengths are derived inline (one extra index aggregation
    * — the oracle/ad-hoc shape).
    */
  def bm25TopK(
      index: DataFrame,
      query: String,
      nDocs: Long,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      docLens: Option[DataFrame] = None): DataFrame =
    bm25Ranked(index,
      index.sparkSession.range(1).select(lit(nDocs.toDouble).as("n_docs")),
      query, k, k1, b, docLens)

  /** [[bm25TopK]] straight from a `(doc_id, text)` corpus, with the
    * doc count derived INSIDE the plan (a broadcast one-row aggregate)
    * instead of a caller-supplied literal — the fully-lazy shape the
    * `graft_bm25` SQL surface needs (EXPLAIN must run no job). Builds
    * the index inline; `doc_id` is assumed unique (the corpus-table
    * contract), matching the N the long-form caller would pass. */
  def bm25TopKFromDocs(
      docs: DataFrame,
      query: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Ranked(build(docs),
      docs.agg(count(lit(1)).cast("double").as("n_docs")),
      query, k, k1, b, None)

  /** [[bm25TopK]] over STORED serving artifacts — the form
    * [[graft.index.IndexStore.searchPage]] ranks with: `postings` is
    * the (already term-pruned) stored index slice, `docLens` the
    * stored [[docLengths]] table, and `stats` the one-row save-time
    * aggregate `(n_docs, sum_dl, n_lens)` — so a query recomputes NO
    * corpus-sized aggregate: N and avgdl come from the stats row
    * (`avgdl = sum_dl / n_lens`, the identical long-by-long double
    * division the inline face evaluates), and the only index-wide
    * work left is the matched-postings ⋈ docLens join. */
  def bm25TopKFromStore(
      postings: DataFrame,
      docLens: DataFrame,
      stats: DataFrame,
      query: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Ranked(postings, stats.select(col("n_docs")), query, k, k1, b,
      Some(docLens),
      Some(stats.select((col("sum_dl") / col("n_lens")).as("avgdl"))))

  private def bm25Ranked(
      index: DataFrame,
      nDocsF: DataFrame,
      query: String,
      k: Int,
      k1: Double,
      b: Double,
      docLens: Option[DataFrame],
      avgdlF: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val terms = TextNorm.queryTerms(query).distinct
    require(terms.nonEmpty, s"query '$query' has no indexable terms")
    require(k >= 1, s"k=$k must be >= 1")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val lens = docLens.getOrElse(docLengths(index))
    val avg = avgdlF.getOrElse(lens.agg((sum("dl") / count(lit(1))).as("avgdl")))
    val hits = index.filter(col("word").isin(terms: _*))
    // (word, doc_id) is unique in the index, so df = posting count;
    // N arrives as a broadcast one-row frame (literal or derived)
    val idf = hits.groupBy("word").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocsF))
      .select(col("word"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6).as("idf"))
    hits
      .join(broadcast(idf), Seq("word"))
      .crossJoin(broadcast(avg))
      .join(lens, Seq("doc_id"))
      .select(col("doc_id"),
        round(col("idf") * (col("cnt") * (k1 + 1.0)) /
            (col("cnt") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
          .cast(DecimalType(18, 6)).as("contrib"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("s"))
      .agg(graft.functions.TopKByScore.topK(
        col("s").cast("double"), col("doc_id"), k).as("top"))
      .select(posexplode(col("top")).as(Seq("i", "e")))
      .select(col("e.id").as("doc_id"),
        col("e.score").as("score"),
        (col("i") + 1).cast("int").as("rank"))
  }

  /** Hybrid lexical + semantic retrieval: the BM25 ranking and the
    * exact embedding-cosine ranking for the SAME information need,
    * fused by reciprocal-rank fusion (Cormack, Clarke & Buettcher,
    * SIGIR 2009): `score(d) = Σ_systems 1 / (rrfK + rank_s(d))`,
    * summing only over the systems whose top-`poolK` pool contains
    * `d`. RRF needs no score calibration between the two systems —
    * only ranks cross the fusion boundary, which is exactly why it is
    * the standard first fusion for RAG-style retrieval stacks.
    *
    * Engine-portable determinism: each reciprocal term is rounded to
    * 6dp and cast DECIMAL(18,6) before the (two-term) sum, so fused
    * scores are exact and the final (rrf desc, doc_id asc) order is
    * reproducible on any engine. Both input rankings already carry
    * deterministic ranks (BM25 contributions are DECIMAL-exact; cosine
    * is 6dp-rounded; ties break by doc id).
    *
    * Plan at 100 TB: each arm is its own scale path — BM25 is the
    * partition-prunable index scan + bounded-heap top-k above, the
    * semantic arm is exact top-k here (swap in [[graft.ops.Similarity
    * .ivfTopK]]'s output via [[hybridFromRankings]] when the corpus
    * warrants ANN). Fusion itself touches at most `2·poolK` rows — a
    * driver-sized frame regardless of corpus size, so the final window
    * sort is bounded by construction, not by data.
    *
    * @param docs       (doc_id, text) corpus — the lexical arm
    * @param embeddings (vec_id, embedding) with vec_id ≡ doc_id — the
    *                   semantic arm
    * @param queryText  lexical query
    * @param queryVec   ONE-row (vec_id, embedding) query vector; its
    *                   vec_id is excluded from the semantic pool
    * @return (doc_id, bm25_rank, cos_rank, rrf_score, rank), top `k`
    *         by fused score; a null arm rank means the doc was outside
    *         that system's pool
    */
  def hybridTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      queryText: String,
      queryVec: DataFrame,
      k: Int,
      poolK: Int = 50,
      rrfK: Int = 60): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val lex = bm25TopKFromDocs(docs, queryText, poolK)
      .select(col("doc_id"), col("rank").as("bm25_rank"))
    val sem = graft.ops.Similarity.bruteForceTopK(queryVec, embeddings, poolK)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("cos_rank"))
    hybridFromRankings(lex, sem, k, rrfK)
  }

  /** RRF fusion over two PRE-RANKED pools — the composition face of
    * [[hybridTopK]] (plug an ANN arm, a second index, a reranker...).
    * Inputs carry (doc_id, bm25_rank) / (doc_id, cos_rank); each pool
    * must be bounded (top-`poolK` of its system) — fusion cost is the
    * pool union, never the corpus. */
  def hybridFromRankings(
      lex: DataFrame,
      sem: DataFrame,
      k: Int,
      rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(rrfK >= 0, s"rrfK=$rrfK must be >= 0")
    def recip(rank: Column): Column =
      coalesce(round(lit(1.0) / (lit(rrfK.toDouble) + rank), 6)
        .cast(DecimalType(18, 6)), lit(0).cast(DecimalType(18, 6)))
    val fused = lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        (recip(col("bm25_rank")) + recip(col("cos_rank"))).as("rrf"))
    // ≤ 2·poolK rows reach this window — bounded by construction (see
    // scaladoc); the empty-frame Window partition is deliberate
    fused
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("int"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("bm25_rank"), col("cos_rank"),
        col("rrf").cast("double").as("rrf_score"), col("rank"))
  }

  /** Export in the reference's nested shape `word → {doc → cnt}`
    * (`final_results.json`, `master/main.py:123-126`), one row per word.
    * Postings are sorted by doc_id so the JSON string is deterministic.
    * Kept distributed (row per word) — the reference's single pretty
    * JSON file is a scale bottleneck we only reproduce at the final
    * write boundary (coalesce(1) left to the caller).
    */
  def exportNestedJson(index: DataFrame): DataFrame =
    index
      .groupBy("word")
      .agg(
        map_from_entries(
          array_sort(collect_list(struct(col("doc_id"), col("cnt"))))
        ).as("postings")
      )
      .select(col("word"), to_json(col("postings")).as("postings_json"))

  /** The reference's exact final artifact: ONE pretty-printed JSON file
    * (`final_results.json`, `master/main.py:123-126` — `json.dumps(
    * final_dict, indent=4)` uploaded as a single object) mapping every
    * word to its `{doc → cnt}` postings.
    *
    * Byte shape matches Python's `json.dumps(..., indent=4)` (default
    * `ensure_ascii=True`): 4-space indent, `": "` separators, non-ASCII
    * escaped as `\\uXXXX`, no trailing newline, `{}` when empty. The
    * reference's key order is nondeterministic merge order; we pin words
    * lexicographic and postings by doc_id so the artifact is
    * reproducible byte-for-byte.
    *
    * Scale stance: a single pretty JSON file is inherently a one-writer
    * artifact — the reference's own scale bottleneck, reproduced ONLY at
    * the final write boundary. Grouping and sorting stay distributed;
    * the driver merely streams the ordered per-word fragments to the
    * target filesystem (`toLocalIterator` holds one partition at a
    * time, never the whole index). For an at-scale export use
    * [[exportNestedJson]] (one row per word, any sink) instead.
    */
  def exportSingleFileJson(index: DataFrame, path: String): Unit = {
    val perWord = index
      .groupBy("word")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("cnt")))).as("ps"))
      .orderBy("word") // range-partitioned global sort; iterated in order below
    val spark = index.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(hPath, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      val it = perWord.toLocalIterator()
      var first = true
      if (!it.hasNext) out.write("{}")
      else {
        out.write("{")
        while (it.hasNext) {
          val row = it.next()
          if (!first) out.write(",")
          first = false
          out.write("\n    \"")
          out.write(pyJsonEscape(row.getString(0)))
          out.write("\": {")
          val ps = row.getSeq[org.apache.spark.sql.Row](1)
          var i = 0
          while (i < ps.size) {
            if (i > 0) out.write(",")
            out.write("\n        \"")
            // doc ids may be longs (fixtures) or filenames (the
            // reference's corpus) — either renders as a JSON string key
            out.write(pyJsonEscape(ps(i).get(0).toString))
            out.write("\": ")
            out.write(ps(i).getLong(1).toString)
            i += 1
          }
          out.write("\n    }")
        }
        out.write("\n}")
      }
    } finally out.close()
  }

  /** String escape matching Python `json.dumps` defaults
    * (`ensure_ascii=True`): the two JSON specials, C0 controls short- or
    * `\\uXXXX`-escaped, and everything past 0x7E as `\\uXXXX` (UTF-16
    * code units, surrogate pairs escaped unit-by-unit like CPython). */
  private def pyJsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < 0x20 || c > 0x7e => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Parse a [[exportSingleFileJson]] artifact back into the flat
    * canonical index (the import half of the reference's final file).
    *
    * @param docIdType type to give the JSON's string doc keys: "long"
    *   for the numeric-id fixtures, "string" for the reference's
    *   filename-keyed corpora (a long cast would silently null those).
    */
  def importSingleFileJson(
      spark: SparkSession, path: String, docIdType: String = "long"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    require(docIdType == "long" || docIdType == "string",
      s"docIdType must be long or string, got $docIdType")
    spark.read.option("wholetext", "true").text(path)
      .select(from_json(col("value"),
        MapType(StringType, MapType(StringType, LongType))).as("m"))
      .select(explode(col("m")).as(Seq("word", "postings")))
      .select(col("word"), explode(col("postings")).as(Seq("doc_id", "cnt")))
      .select(col("word"), col("doc_id").cast(docIdType).as("doc_id"), col("cnt"))
  }

  /** Round-trip: parse the nested export back into the flat canonical
    * form. */
  def importNestedJson(rows: DataFrame)(implicit spark: SparkSession): DataFrame =
    rows
      .select(
        col("word"),
        explode(from_json(col("postings_json"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType))).as(Seq("doc_id", "cnt"))
      )
      .select(col("word"), col("doc_id").cast("long").as("doc_id"), col("cnt"))
}
