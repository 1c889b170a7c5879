package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, Decimal, DoubleType, FloatType, IntegerType,
  LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Materialize
import graft.functions.{DotProduct, JlProject, NfcNormalize, PhraseMatch, TopKByScore}
import graft.index.{IndexStore, InvertedIndex}
import graft.ops.{Crawl, Curation, Dedup, Html, Relational, Robots, Sampling, Similarity,
  TextAnalysis}

/** SparkSessionExtensions wiring: exposes the native expressions to the
  * SQL surface (`SELECT graft_dot(a, b)`) in addition to the Column API
  * ([[graft.functions.VectorFunctions]], which needs no registration).
  *
  * Use either
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` at session
  * build time, or [[GraftExtensions.install]] on a live session. Both
  * register every function of [[GraftExtensions]]' one table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.scalarFunctions.foreach(f => ext.injectFunction(f.spec))
    GraftExtensions.tableFunctions.foreach(f => ext.injectTableFunction(f.spec))
    ext.injectPlannerStrategy(_ => AsOfJoin.AsOfStrategy)
  }
}

object GraftExtensions {

  /** One SQL function. `sig` is its SQL signature, e.g.
    * `graft_frontier(pages_table, ranks_table[, per_host_cap])`: the
    * name, then the argument names in order. Each `[…]` group is
    * all-or-nothing and may nest; optional groups trail the required
    * arguments. `owner`'s class name goes into the `ExpressionInfo`. */
  private final class Fn[R](val sig: String, owner: Class[_], body: Args => R) {
    val name: String = sig.takeWhile(_ != '(')
    /** The argument names, and every argument count the signature allows
      * (the names before each `[`, plus all of them). */
    val (params, arities): (Vector[String], Set[Int]) = {
      val inner = sig.slice(sig.indexOf('(') + 1, sig.lastIndexOf(')'))
      val tokens = inner.split("(?=\\[)|[\\],]").map(_.trim).filter(_.nonEmpty)
      val (names, counts) = tokens.foldLeft((Vector.empty[String], Set.empty[Int])) {
        case ((ns, cs), "[") => (ns, cs + ns.size)
        case ((ns, cs), n) => (ns :+ n, cs)
      }
      (names, counts + names.size)
    }

    def spec: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => R) =
      (FunctionIdentifier(name), new ExpressionInfo(owner.getName, name),
        children => body(new Args(this, children)))
  }

  private def scalar(sig: String, owner: Class[_])(body: Args => Expression): Fn[Expression] =
    new Fn(sig, owner, body)

  /** A table-valued function. Its body resolves under the lazy Persist
    * strategy ([[Materialize]]), so resolving (and `EXPLAIN`) runs no
    * job; the cached tables live until `spark.catalog.clearCache()`. */
  private def tvf(sig: String, owner: Class[_])(body: Args => DataFrame): Fn[LogicalPlan] =
    new Fn(sig, owner, a =>
      Materialize.using(Materialize.Persist)(GraftSqlBridge.analyzedPlan(body(a))))

  private val CountWords =
    Vector("zero", "one", "two", "three", "four", "five", "six", "seven", "eight", "nine")

  /** The arguments of one call, read by position. The TVF argument rules
    * live here: every graft TVF argument is a literal (names resolve
    * against the active catalog when the builder runs; arbitrary
    * subqueries belong in the Column API), and a wrong argument count or
    * a wrong literal throws `IllegalArgumentException` naming the
    * function. */
  private final class Args(fn: Fn[_], children: Seq[Expression]) {
    require(fn.arities(children.size),
      s"${fn.sig} takes ${fn.arities.toSeq.sorted.map(CountWords).mkString(" or ")} " +
        s"argument${if (fn.arities == Set(1)) "" else "s"}, got ${children.size}")

    def size: Int = children.size
    def spark: SparkSession = SparkSession.active
    def expr(i: Int): Expression = children(i)

    def bad(i: Int, what: String): Nothing = throw new IllegalArgumentException(
      s"${fn.name}: ${fn.params(i)} must be $what, got ${children(i).sql}")

    def str(i: Int): String = children(i) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case _ => bad(i, "a string literal")
    }
    def int(i: Int): Int = children(i) match {
      case Literal(v: Int, _: IntegerType) => v
      case _ => bad(i, "an integer literal")
    }
    /** Numeric literal: SQL writes `0.95`, `CAST(0.9 AS DOUBLE)` or a
      * plain `1` — the parser types those DECIMAL / DOUBLE / INT, and
      * all deserve the same treatment for a threshold/bias knob. */
    def num(i: Int): Double = children(i) match {
      case Literal(v: Double, _: DoubleType) => v
      case Literal(v: Float, _: FloatType) => v.toDouble
      case Literal(d: Decimal, _) => d.toDouble
      case Literal(v: Int, _: IntegerType) => v.toDouble
      case Literal(v: Long, _: LongType) => v.toDouble
      case _ => bad(i, "a numeric literal")
    }
    def table(i: Int): DataFrame = spark.table(str(i))
    /** A comma-separated list literal, entries trimmed, empties dropped. */
    def csv(i: Int): Seq[String] = str(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq

    def strOr(i: Int, default: String): String = if (i < size) str(i) else default
    def intOr(i: Int, default: Int): Int = if (i < size) int(i) else default
    def numOr(i: Int, default: Double): Double = if (i < size) num(i) else default
  }

  private val scalarFunctions: Seq[Fn[Expression]] = Seq(
    scalar("graft_dot(a, b)", classOf[DotProduct])(a => DotProduct(a.expr(0), a.expr(1))),

    scalar("graft_nfc(text)", classOf[NfcNormalize])(a => NfcNormalize(a.expr(0))),

    /** SQL surface for the JL sign projection:
      * `SELECT graft_jl_project(CAST(embedding AS ARRAY<DOUBLE>), 64, 16)`.
      * Dims must be foldable integer literals (they size the driver-built
      * sign matrix at plan time). */
    scalar("graft_jl_project(vec, in_dim, out_dim)", classOf[JlProject]) { a =>
      val (in, out) = (a.int(1), a.int(2))
      if (in < 1 || out < 1) throw new IllegalArgumentException(
        s"graft_jl_project: dims must be >= 1, got ($in, $out)")
      JlProject(a.expr(0), in, out)
    },

    /** SQL surface for the Aho–Corasick phrase matcher:
      * `SELECT graft_phrase_match(text, array(' a b ', ' c d '))` →
      * `[total_hits, distinct_phrases]`. The pattern array must be
      * foldable (it builds the driver-side automaton at plan time). */
    scalar("graft_phrase_match(text, phrases)", classOf[PhraseMatch]) { a =>
      val pats = a.expr(1) match {
        case e if e.foldable && e.dataType.isInstanceOf[ArrayType] =>
          val ad = e.eval().asInstanceOf[ArrayData]
          (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
        case _ => a.bad(1, "a foldable string array")
      }
      PhraseMatch(a.expr(0), pats)
    },

    /** SQL surface for the bounded-heap top-k aggregate:
      * `SELECT g, graft_top_k(score, id, 3) FROM t GROUP BY g`. The
      * analyzer wraps a registered AggregateFunction in an
      * AggregateExpression itself; `k` must be a foldable integer
      * literal (it sizes the heap at plan time). */
    scalar("graft_top_k(score, id, k)", classOf[TopKByScore]) { a =>
      val k = a.expr(2) match {
        case Literal(v: Long, _: LongType) =>
          // a bigint literal outside Int range must fail loudly, not
          // truncate (k = 2^32+1 would silently become 1)
          if (v < 1 || v > Int.MaxValue) throw new IllegalArgumentException(
            s"graft_top_k: k=$v is outside [1, ${Int.MaxValue}]")
          v.toInt
        case _ => a.int(2)
      }
      if (k < 1) throw new IllegalArgumentException(s"graft_top_k: k=$k must be >= 1")
      TopKByScore(a.expr(0), a.expr(1), k)
    })

  private val tableFunctions: Seq[Fn[LogicalPlan]] = Seq(
    /** SQL surface for the native as-of operator — a table-valued
      * function (FROM-clause callable), since the operator is a whole
      * relation, not a scalar:
      *
      * {{{
      * SELECT * FROM graft_asof(
      *   'purchases', 'clicks',       -- table/view names
      *   'user_id', 'c_user',         -- key columns (CSV for multi-key)
      *   'ts_ns', 'c_ts',             -- time columns
      *   'click_id')                  -- right tie-break column
      * }}}
      *
      * All seven arguments are string LITERALS (names are resolved
      * against the active session's catalog at plan time — the standard
      * TVF argument style; arbitrary subqueries belong in the Column
      * API). Key lists are comma-separated, matched positionally.
      */
    tvf("graft_asof(left_table, right_table, left_keys, right_keys, " +
        "left_time, right_time, right_tie_break)", AsOfJoin.getClass) { a =>
      def keys(i: Int): Seq[String] = a.str(i).split(",").map(_.trim).toSeq
      GraftSqlBridge.ofRows(a.spark, AsOfJoin.buildPlan(a.table(0), a.table(1),
        keys(2), keys(3), a.str(4), a.str(5), a.str(6)))
    },

    /** SQL surface for the MinHash near-dup candidate generator — a
      * whole-relation operator, so a table-valued function:
      *
      * {{{
      * SELECT * FROM graft_minhash_pairs('docs')           -- w=3, k=8, bands=2
      * SELECT * FROM graft_minhash_pairs('docs', 3, 8, 2)  -- explicit knobs
      * }}}
      *
      * The named table/view must carry (doc_id, text); emits (doc_a,
      * doc_b). Resolution builds [[graft.ops.Dedup.minhashCandidatePairs]]'
      * plan under the TVFs' LAZY Persist strategy ([[tvf]]):
      * analysis (including `EXPLAIN`) runs no job; the first execution
      * materializes the band-bucket table into the session cache, where
      * the cache manager dedups by canonicalized plan — re-issuing the
      * same call reuses the entry instead of accumulating one per call.
      * Distinct (table, knobs) combinations do each keep an entry until
      * `spark.catalog.clearCache()` (the release path for a long
      * session). */
    tvf("graft_minhash_pairs(table[, w, k, bands])", Dedup.getClass) { a =>
      Dedup.minhashCandidatePairs(a.table(0), a.intOr(1, 3), a.intOr(2, 8), a.intOr(3, 2))
    },

    /** SQL surface for benchmark decontamination:
      *
      * {{{
      * SELECT * FROM graft_decontaminate('train_docs', 'eval_docs')     -- w=3
      * SELECT * FROM graft_decontaminate('train_docs', 'eval_docs', 3)
      * }}}
      *
      * Emits the surviving training rows (every column of the train
      * table) — training docs sharing no w-token shingle with the eval
      * corpus, [[graft.ops.Dedup.decontaminate]]. */
    tvf("graft_decontaminate(train_table, eval_table[, w])", Dedup.getClass) { a =>
      Dedup.decontaminate(a.table(0), a.table(1), a.intOr(2, 3))
    },

    /** SQL surface for the n-gram novelty score
      * ([[graft.ops.Dedup.noveltyScore]] — the memorization/overlap audit
      * the binary decontaminate rule grows into):
      *
      * {{{
      * SELECT * FROM graft_novelty('docs', 'ref_shingles')     -- w=3
      * SELECT * FROM graft_novelty('docs', 'ref_shingles', 3)
      * }}}
      *
      * `docs` carries (doc_id, text); `ref_shingles` is any stored
      * shingle table (a [[graft.ops.Dedup.evalShingles]] output —
      * `w` must equal the width it was built with, same contract as
      * [[graft.ops.Dedup.contaminatedIdsAgainst]]). Emits
      * (doc_id, n_shingles, n_seen, novelty) for every doc. Fully lazy —
      * the operator materializes nothing, so analysis and EXPLAIN run no
      * job and there is no cache entry to release. */
    tvf("graft_novelty(docs_table, ref_shingles_table[, w])", Dedup.getClass) { a =>
      Dedup.noveltyScore(a.table(0), a.table(1), a.intOr(2, 3))
    },

    /** SQL surface for the generic Hamming-near pairing engine
      * ([[graft.ops.Dedup.hammingPairs]] — the segment-blocked machinery
      * behind text SimHash and image perceptual-hash dedup):
      *
      * {{{
      * SELECT * FROM graft_hamming_pairs('sigs')        -- bits=64, max_hamming=3
      * SELECT * FROM graft_hamming_pairs('sigs', 64, 3)
      * }}}
      *
      * The named table carries `(doc_id, sig)` with the signature as a
      * BIGINT — a stored [[graft.ops.Dedup.simhash]] output, a
      * [[graft.ops.Multimodal.imagePhash]] table projected as
      * `SELECT doc_id, dhash AS sig`, or any other bigint fingerprint.
      * Emits (doc_a, doc_b, hamming). `bits` must be divisible by
      * max_hamming+1 (the pigeonhole segment count). Lazy Persist
      * materialization for the signature table (the self-join reads it
      * twice): EXPLAIN runs no job; the first execution populates the
      * session cache. */
    tvf("graft_hamming_pairs(sigs_table[, bits, max_hamming])", Dedup.getClass) { a =>
      Dedup.hammingPairs(a.table(0), a.intOr(1, 64), a.intOr(2, 3))
    },

    /** SQL surface for Unicode writing-system detection
      * ([[graft.ops.TextAnalysis.scriptSignals]]):
      *
      * {{{
      * SELECT * FROM graft_script('docs')
      * }}}
      *
      * The named table carries (doc_id, text); emits per-doc script-block
      * counts/fractions + dominant_script. Fully lazy — no cache entry. */
    tvf("graft_script(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.scriptSignals(a.table(0))),

    /** SQL surface for script-first language routing
      * ([[graft.ops.TextAnalysis.languageRoute]]):
      *
      * {{{
      * SELECT * FROM graft_lang_route('docs')
      * }}}
      *
      * Emits (doc_id, dominant_script, pred_lang, route) — the dispatch
      * key of a multilingual pipeline. Fully lazy — no cache entry. */
    tvf("graft_lang_route(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.languageRoute(a.table(0))),

    /** SQL face of the C4-style blocklist gate:
      * {{{
      * SELECT * FROM graft_blocklist('docs')            -- default list
      * SELECT * FROM graft_blocklist('docs', 'terms')   -- (term) table
      * }}}
      * One-arg uses [[graft.ops.Blocklist.default]]; two-arg routes
      * through the broadcast-table face. Fully lazy — no cache entry. */
    tvf("graft_blocklist(docs_table[, terms_table])", TextAnalysis.getClass) { a =>
      if (a.size == 1) TextAnalysis.blocklistSignals(a.table(0))
      else TextAnalysis.blocklistSignalsFrom(a.table(0), a.table(1))
    },

    /** SQL face of the PII signal pass:
      * `SELECT * FROM graft_pii('docs')` — per-doc IPv4/SSN/phone counts
      * plus the ordered-redaction hash. Fully lazy. */
    tvf("graft_pii(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.piiSignals(a.table(0))),

    /** SQL face of encoding-damage detection:
      * `SELECT * FROM graft_mojibake('docs')` — the four mojibake
      * signature counts + the composite flag. Fully lazy. */
    tvf("graft_mojibake(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.mojibakeSignals(a.table(0))),

    /** SQL face of code-vs-prose routing:
      * `SELECT * FROM graft_code_detect('docs')` — symbol density,
      * keyword hits, indentation evidence + the composite flag. Fully
      * lazy. */
    tvf("graft_code_detect(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.codeSignals(a.table(0))),

    /** SQL face of sentence segmentation:
      * `SELECT * FROM graft_sentences('docs')`. Fully lazy. */
    tvf("graft_sentences(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.sentenceSignals(a.table(0))),

    /** SQL face of RAG passage chunking:
      * `SELECT * FROM graft_passages('docs')` — default window 64,
      * stride 32. Fully lazy. */
    tvf("graft_passages(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.passages(a.table(0))),

    /** SQL face of winnowing-fingerprint pairing:
      * `SELECT * FROM graft_fingerprint_pairs('docs')` — default
      * (w=4, k=3, minShared=2, maxDf=64). Fully lazy. */
    tvf("graft_fingerprint_pairs(docs_table)", Dedup.getClass)(a =>
      Dedup.fingerprintPairs(a.table(0))),

    /** SQL face of the duplicate-group-size histogram:
      * `SELECT * FROM graft_dup_spectrum('docs')`. Fully lazy. */
    tvf("graft_dup_spectrum(docs_table)", Dedup.getClass)(a =>
      Dedup.duplicationSpectrum(a.table(0))),

    /** SQL surface for the leakage-safe split
      * ([[graft.ops.Sampling.leakageSafeSplit]]):
      *
      * {{{
      * SELECT * FROM graft_split_safe('docs', 'clusters')         -- 80/10
      * SELECT * FROM graft_split_safe('docs', 'clusters', 90, 5)
      * }}}
      *
      * `docs` carries doc_id (any other columns pass through);
      * `clusters` is a stored `(doc_id, cluster_id)` table
      * ([[graft.ops.Dedup.clusters]] output). Emits docs + split_key +
      * split. Fully lazy — no cache entry. */
    tvf("graft_split_safe(docs_table, clusters_table[, train_pct, val_pct])",
        Sampling.getClass) { a =>
      Sampling.leakageSafeSplit(a.table(0), a.table(1),
        trainPct = a.intOr(2, 80), valPct = a.intOr(3, 10))
    },

    /** SQL surface for the split-leakage audit
      * ([[graft.ops.Sampling.splitLeakageAudit]]):
      *
      * {{{
      * SELECT * FROM graft_split_audit('split_docs', 'clusters')
      * }}}
      *
      * `split_docs` carries (doc_id, split) — any split assignment;
      * `clusters` is the stored cluster table. Emits ONE row
      * (n_clusters, n_straddling, n_docs_in_straddling); a leakage-safe
      * assignment audits to zero straddling. Fully lazy. */
    tvf("graft_split_audit(split_docs_table, clusters_table)", Sampling.getClass)(a =>
      Sampling.splitLeakageAudit(a.table(0), a.table(1))),

    /** SQL surface for the corpus-level inter-source overlap report
      * ([[graft.ops.Dedup.sourceOverlap]]):
      *
      * {{{
      * SELECT * FROM graft_source_overlap('docs')        -- w=3, k=16
      * SELECT * FROM graft_source_overlap('docs', 3, 64) -- tighter estimator
      * }}}
      *
      * Emits (source_a, source_b, n_shingles_a, n_shingles_b,
      * est_jaccard). Persist strategy so the TVF stays lazy (EXPLAIN
      * runs no job) while the signature table still computes once. */
    tvf("graft_source_overlap(docs_table[, w, k])", Dedup.getClass) { a =>
      Dedup.sourceOverlap(a.table(0), a.intOr(1, 3), a.intOr(2, 16))
    },

    /** SQL surface for the generic column profiler
      * ([[graft.ops.Relational.profile]]):
      *
      * {{{
      * SELECT * FROM graft_profile('any_table')
      * }}}
      *
      * One row per column: (col_name, dtype, n_rows, n_nulls,
      * n_distinct, min_num, max_num, min_str, max_str). Fully lazy. */
    tvf("graft_profile(table)", Relational.getClass)(a => Relational.profile(a.table(0))),

    /** SQL surface for the fixed-context packing plan
      * ([[graft.ops.Sampling.contextPlan]]):
      *
      * {{{
      * SELECT * FROM graft_context_plan('docs', 2048)      -- buckets=32
      * SELECT * FROM graft_context_plan('docs', 2048, 64)
      * }}}
      *
      * Emits (doc_id, n_tokens, pack_bucket, start_ctx, end_ctx,
      * n_contexts, head_offset). Fully lazy. */
    tvf("graft_context_plan(docs_table, ctx_len[, buckets])", Sampling.getClass)(a =>
      Sampling.contextPlan(a.table(0), a.int(1).toLong, a.intOr(2, 32))),

    /** SQL surface for the per-label embedding outlier screen
      * ([[graft.ops.Similarity.embeddingOutliers]]):
      *
      * {{{
      * SELECT * FROM graft_emb_outliers('emb')        -- k_mad=3.0
      * SELECT * FROM graft_emb_outliers('emb', 4.5)
      * }}}
      *
      * `emb` carries (vec_id, embedding, label); emits (vec_id, label,
      * cos_dist, med, mad, is_outlier). Persist strategy so the TVF
      * stays lazy while the distance table still computes once. */
    tvf("graft_emb_outliers(emb_table[, k_mad])", Similarity.getClass)(a =>
      Similarity.embeddingOutliers(a.table(0), a.numOr(1, 3.0))),

    /** SQL surface for asymmetric shingle containment
      * ([[graft.ops.Dedup.containmentPairs]]):
      *
      * {{{
      * SELECT * FROM graft_containment('docs')             -- w=3, maxDf=50, min=0.5
      * SELECT * FROM graft_containment('docs', 3, 50, 0.8)
      * }}}
      *
      * Emits (doc_a, doc_b, n_inter, containment_a, containment_b).
      * Fully lazy. */
    tvf("graft_containment(docs_table[, w, max_df, min_containment])", Dedup.getClass)(a =>
      Dedup.containmentPairs(a.table(0), a.intOr(1, 3), a.intOr(2, 50), a.numOr(3, 0.5))),

    /** SQL surface for the fixed-width histogram
      * ([[graft.ops.Relational.histogram]]):
      *
      * {{{
      * SELECT * FROM graft_histogram('events', 'value', 0, 500, 20)
      * }}}
      *
      * Emits sparse (bucket, lo_edge, hi_edge, n) with −1/bins
      * under/overflow rows. Fully lazy. */
    tvf("graft_histogram(table, value_col, lo, hi, bins)", Relational.getClass)(a =>
      Relational.histogram(a.table(0), a.str(1), a.num(2), a.num(3), a.int(4))),

    /** SQL surface for Flesch/Flesch-Kincaid readability
      * ([[graft.ops.TextAnalysis.readability]]):
      * `SELECT * FROM graft_readability('docs')`. Fully lazy. */
    tvf("graft_readability(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.readability(a.table(0))),

    /** SQL surface for the per-source health report
      * ([[graft.ops.TextAnalysis.corpusHealth]]):
      * `SELECT * FROM graft_corpus_health('docs')`. Fully lazy. */
    tvf("graft_corpus_health(docs_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.corpusHealth(a.table(0))),

    /** SQL surface for the IVF+PQ serving call — ANN search over the
      * four STORED artifact tables the training jobs emit
      * ([[graft.ops.Similarity.ivfpqSearch]]; train-once / search-many,
      * so the TVF never touches raw corpus embeddings):
      *
      * {{{
      * SELECT * FROM graft_ann_search(                 -- k=10, nprobe=4, m=4
      *   'queries', 'coarse_centroids', 'assignments', 'codebooks', 'codes')
      * SELECT * FROM graft_ann_search(
      *   'queries', 'coarse_centroids', 'assignments', 'codebooks', 'codes',
      *   10, 8, 4)                                     -- explicit k, nprobe, m
      * }}}
      *
      * Table shapes: queries (vec_id, embedding); the other four are the
      * outputs of [[graft.ops.Similarity.kmeansModel]] /
      * [[graft.ops.Similarity.pqModel]] (coarse_centroids: cell_id/pos/
      * centroid_v; assignments: vec_id/cell_id; codebooks: subspace/
      * cell_id/pos/centroid_v; codes: vec_id/subspace/code). Emits
      * (query_id, neighbor_id, adc, rank). A mis-specified `m` raises
      * through the ADC guard instead of returning partial sums. */
    tvf("graft_ann_search(queries_table, coarse_centroids_table, assignments_table, " +
        "codebooks_table, codes_table[, k, nprobe, m])", Similarity.getClass) { a =>
      Similarity.ivfpqSearch(a.table(0), a.table(1), a.table(2), a.table(3), a.table(4),
        a.intOr(5, 10), a.intOr(6, 4), a.intOr(7, 4))
    },

    /** SQL surface for SemDeDup-style semantic duplicate pairs
      * ([[graft.ops.Similarity.semanticDupPairs]]):
      *
      * {{{
      * SELECT * FROM graft_semantic_dups('embeddings')         -- threshold=0.95
      * SELECT * FROM graft_semantic_dups('embeddings', 0.35)   -- explicit
      * }}}
      *
      * The named table must carry (vec_id, embedding); emits (cell_id,
      * doc_a, doc_b, cos). Threshold accepts DECIMAL (`0.35`) or DOUBLE
      * (`0.35E0`) literals. Like `graft_minhash_pairs`, the blocked
      * corpus materializes via the LAZY Persist strategy: analysis and
      * EXPLAIN run no job; the session cache dedups repeated calls by
      * canonicalized plan. */
    tvf("graft_semantic_dups(table[, threshold])", Similarity.getClass)(a =>
      Similarity.semanticDupPairs(a.table(0), a.numOr(1, 0.95))),

    /** SQL surface for sub-document boilerplate removal
      * ([[graft.ops.Dedup.boilerplateChunks]]):
      *
      * {{{
      * SELECT * FROM graft_boilerplate('docs')        -- w=3, minDocs=5
      * SELECT * FROM graft_boilerplate('docs', 3, 5)  -- explicit knobs
      * }}}
      *
      * The named table must carry (doc_id, text); emits (doc_id,
      * n_chunks, n_kept, kept_hash). Fully lazy — the operator
      * materializes nothing (chunks re-derive from the scan), so
      * analysis and EXPLAIN run no job and there is no cache entry to
      * release. */
    tvf("graft_boilerplate(table[, w, min_docs])", Dedup.getClass)(a =>
      Dedup.boilerplateChunks(a.table(0), a.intOr(1, 3), a.intOr(2, 5))),

    /** SQL surface for embedding-space decontamination
      * ([[graft.ops.Similarity.semanticContaminatedIds]]):
      *
      * {{{
      * SELECT * FROM graft_semantic_decontaminate('train_emb', 'eval_emb')        -- 0.95
      * SELECT * FROM graft_semantic_decontaminate('train_emb', 'eval_emb', 0.35)
      * }}}
      *
      * Both tables carry (vec_id, embedding); emits (vec_id, n_hits,
      * max_cos) — the contaminated TRAINING vectors with their eval-hit
      * evidence. Threshold accepts any numeric literal. The
      * k-means blocking model materializes via the LAZY Persist strategy
      * (the `graft_semantic_dups` contract: EXPLAIN runs no job, the
      * session cache dedups repeated calls). */
    tvf("graft_semantic_decontaminate(train_table, eval_table[, threshold])",
        Similarity.getClass) { a =>
      Similarity.semanticContaminatedIds(a.table(0), a.table(1), a.numOr(2, 0.95))
    },

    /** SQL surface for the corpus drift monitor
      * ([[graft.ops.TextAnalysis.tokenDrift]]):
      *
      * {{{
      * SELECT * FROM graft_token_drift('today', 'baseline')        -- 1024 buckets
      * SELECT * FROM graft_token_drift('today', 'baseline', 4096)
      * }}}
      *
      * Both named tables carry a `text` column; emits ONE row
      * `(n_tokens_a, n_tokens_b, kl_ab, kl_ba, js)`. Fully lazy — the
      * operator materializes nothing, so analysis and EXPLAIN run no job
      * and there is no cache entry to release. */
    tvf("graft_token_drift(table_a, table_b[, buckets])", TextAnalysis.getClass)(a =>
      TextAnalysis.tokenDrift(a.table(0), a.table(1), a.intOr(2, 1024))),

    /** SQL surface for the model-based quality classifier's serving call
      * ([[graft.ops.Curation.classifierScore]]):
      *
      * {{{
      * SELECT * FROM graft_classifier_score('docs', 'weights')             -- 1024, bias 0
      * SELECT * FROM graft_classifier_score('docs', 'weights', 1024, 0.5)
      * }}}
      *
      * `docs` carries (doc_id, text); `weights` is any `(b, w)` table
      * hashed with the library's bucket recipe (e.g. a stored
      * `classifierWeights` output) — `buckets` MUST equal its domain
      * size. Bias accepts any numeric literal. Fully lazy. */
    tvf("graft_classifier_score(docs_table, weights_table[, buckets, bias])",
        Curation.getClass) { a =>
      Curation.classifierScore(a.table(0), a.table(1), a.intOr(2, 1024), a.numOr(3, 0.0))
    },

    /** SQL surface for the flagship curation composition
      * ([[graft.ops.Curation.curate]] — quality → language → near-dedup
      * → decontaminate → mixture → split, the chain a production corpus
      * run is):
      *
      * {{{
      * SELECT * FROM graft_curate('docs', 'eval')               -- en, min_tokens=10
      * SELECT * FROM graft_curate('docs', 'eval', 10, 'en,de')  -- explicit knobs
      * }}}
      *
      * `docs` must carry (doc_id, text, source). The second argument is
      * either an eval CORPUS (doc_id, text) — shingled in-plan — or a
      * STORED shingle table ([[graft.ops.Dedup.evalShingles]] output,
      * recognized by its `(shingle)` schema): a standing benchmark suite
      * shingles once and every curate call after serves the artifact,
      * never re-reading the eval text. Emits the kept manifest (doc_id,
      * source, pred_lang, split).
      * Mixture rates and split percentages stay at the API defaults — a
      * per-source rates MAP is not a SQL literal; use the Column API for
      * those. Derived dedup tables use the Persist strategy (release via
      * `spark.catalog.clearCache()`). NOTE: unlike the scan-shaped TVFs
      * (graft_novelty etc.), planning this one is not job-free — the
      * near-dedup stage's cluster propagation is an iterative fixpoint
      * ([[graft.ops.Dedup.clusters]]), so resolving the table function
      * (including under EXPLAIN) runs that bounded, survivor-sized loop;
      * the cached tables make the subsequent execution cheap. */
    tvf("graft_curate(docs_table, eval_table[, min_tokens, keep_langs_csv])",
        Curation.getClass) { a =>
      // schema sniff is plan-time metadata only — no job
      val evalT = a.table(1)
      val stored = evalT.columns.contains("shingle") && !evalT.columns.contains("text")
      Curation.curate(a.table(0), evalT,
        keepLangs = if (a.size == 4) a.csv(3) else Seq("en"), minTokens = a.intOr(2, 10),
        evalShingles = if (stored) Some(evalT) else None)
    },

    /** SQL surface for DSIR importance resampling
      * ([[graft.ops.Curation.importanceWeights]] /
      * [[graft.ops.Curation.importanceTopK]]):
      *
      * {{{
      * SELECT * FROM graft_dsir('raw', 'target')            -- per-doc weights, 1024 buckets
      * SELECT * FROM graft_dsir('raw', 'target', 4096)      -- explicit buckets
      * SELECT * FROM graft_dsir('raw', 'target', 1024, 100) -- top-k selection
      * }}}
      *
      * Both named tables carry (doc_id, text). Two/three args emit the
      * weight table (doc_id, n_feats, log_weight); four args emit the
      * k most target-like raw docs (doc_id, log_weight, rank). Lazy
      * Persist materialization for the hashed-bigram model tables. */
    tvf("graft_dsir(raw_table, target_table[, buckets[, k]])", Curation.getClass) { a =>
      if (a.size == 4)
        Curation.importanceTopK(a.table(0), a.table(1), a.int(3), a.int(2))
      else
        Curation.importanceWeights(a.table(0), a.table(1), a.intOr(2, 1024))
    },

    /** SQL surface for BM25 ranked retrieval
      * ([[graft.index.InvertedIndex.bm25TopKFromDocs]]):
      *
      * {{{
      * SELECT * FROM graft_bm25('docs', 'spark shuffle join')      -- top 20
      * SELECT * FROM graft_bm25('docs', 'spark shuffle join', 5)   -- top k
      * }}}
      *
      * The named table carries (doc_id, text); emits (doc_id, score,
      * rank) for the k best BM25 matches. The index, doc lengths, and
      * the corpus size N are all derived inside the plan (N is a
      * broadcast one-row aggregate), so the function is fully lazy —
      * EXPLAIN runs no job. */
    tvf("graft_bm25(docs_table, query[, k])", InvertedIndex.getClass)(a =>
      InvertedIndex.bm25TopKFromDocs(a.table(0), a.str(1), a.intOr(2, 20))),

    /** SQL surface for hybrid lexical+semantic retrieval
      * ([[graft.index.InvertedIndex.hybridTopK]] — BM25 ⊕ exact cosine,
      * reciprocal-rank fused):
      *
      * {{{
      * SELECT * FROM graft_hybrid('docs', 'emb', 'spark join', 0)        -- k=20, poolK=50
      * SELECT * FROM graft_hybrid('docs', 'emb', 'spark join', 0, 5, 30) -- explicit knobs
      * }}}
      *
      * `docs` carries (doc_id, text), `emb` carries (vec_id, embedding)
      * with vec_id ≡ doc_id; the fourth argument names the query VECTOR
      * by vec_id (a one-row filter on `emb` — the TVF surface stays
      * literal-only). Emits (doc_id, bm25_rank, cos_rank, rrf_score,
      * rank). Fully lazy — EXPLAIN runs no job. */
    tvf("graft_hybrid(docs_table, emb_table, query, query_vec_id[, k, pool_k])",
        InvertedIndex.getClass) { a =>
      val emb = a.table(1)
      InvertedIndex.hybridTopK(a.table(0), emb, a.str(2), emb.filter(col("vec_id") === a.int(3)),
        a.intOr(4, 20), a.intOr(5, 50))
    },

    /** SQL surface for margin-based pair mining
      * ([[graft.ops.Similarity.marginMine]]):
      *
      * {{{
      * SELECT * FROM graft_margin_mine('x_emb', 'y_emb')            -- k=4, threshold=1.0
      * SELECT * FROM graft_margin_mine('x_emb', 'y_emb', 4, 1.05)   -- explicit knobs
      * }}}
      *
      * Both named tables carry (vec_id, embedding) with disjoint id
      * spaces; emits (src_id, tgt_id, margin) — each source's best
      * target by ratio margin. Exact brute-force neighborhoods (the
      * baseline shape; the Column API's `marginMineFrom` takes ANN
      * tables at scale). Fully lazy — EXPLAIN runs no job. */
    tvf("graft_margin_mine(x_table, y_table[, k, threshold])", Similarity.getClass)(a =>
      Similarity.marginMine(a.table(0), a.table(1), a.intOr(2, 4), a.numOr(3, 1.0))),

    /** SQL surface for exact phrase search
      * ([[graft.index.InvertedIndex.phraseSearch]]):
      *
      * {{{
      * SELECT * FROM graft_phrase('docs', 'data slow')
      * }}}
      *
      * The named table carries (doc_id, text); emits (doc_id, n_matches,
      * first_pos) for documents containing the phrase's terms at
      * consecutive token positions. The positional index is built inside
      * the plan — fully lazy, EXPLAIN runs no job. */
    tvf("graft_phrase(docs_table, phrase)", InvertedIndex.getClass)(a =>
      InvertedIndex.phraseSearch(InvertedIndex.buildPositional(a.table(0)), a.str(1))),

    /** SQL surface for substring-level dedup
      * ([[graft.ops.Dedup.duplicateSpans]]):
      *
      * {{{
      * SELECT * FROM graft_dup_spans('docs')             -- k=24, mod_p=8, gap=64
      * SELECT * FROM graft_dup_spans('docs', 16, 4, 32)  -- explicit knobs
      * }}}
      *
      * The named table carries (doc_id, text); emits (doc_id,
      * span_start, span_end) — the char ranges of every non-canonical
      * copy of a corpus-wide repeated region. The anchor-site table
      * materializes via the LAZY Persist strategy (the
      * `graft_semantic_dups` contract: EXPLAIN runs no job, the session
      * cache dedups repeated calls). */
    tvf("graft_dup_spans(docs_table[, k, mod_p, gap])", Dedup.getClass) { a =>
      Dedup.duplicateSpans(a.table(0), a.intOr(1, 24), a.intOr(2, 8), a.intOr(3, 64))
    },

    /** SQL surface for substring-level strip
      * ([[graft.ops.Dedup.stripDuplicateSpans]]):
      *
      * {{{
      * SELECT * FROM graft_dup_strip('docs')             -- k=24, mod_p=8, gap=64
      * SELECT * FROM graft_dup_strip('docs', 16, 4, 32)  -- explicit knobs
      * }}}
      *
      * The named table carries (doc_id, text); emits the doc-shaped
      * (doc_id, text, n_spans) with every duplicated span cut out (one
      * canonical copy survives corpus-wide) — the rewrite face of
      * `graft_dup_spans`, same lazy Persist materialization. */
    tvf("graft_dup_strip(docs_table[, k, mod_p, gap])", Dedup.getClass) { a =>
      Dedup.stripDuplicateSpans(a.table(0), a.intOr(1, 24), a.intOr(2, 8), a.intOr(3, 64))
    },

    /** SQL surface for natural-boundary sub-document dedup
      * ([[graft.ops.Dedup.paragraphDedup]]):
      *
      * {{{
      * SELECT * FROM graft_para_dedup('docs')          -- blank-line units
      * SELECT * FROM graft_para_dedup('docs', '\n+')   -- line groups (C4 rule)
      * }}}
      *
      * Emits (doc_id, n_paras, n_kept, kept_hash) — first occurrence of
      * each normalized paragraph wins corpus-wide. */
    tvf("graft_para_dedup(docs_table[, boundary_regex])", Dedup.getClass)(a =>
      Dedup.paragraphDedup(a.table(0), a.strOr(1, "\\n[ \\t]*\\n"))),

    /** SQL surface for C4's three-sentence-span rule
      * ([[graft.ops.Dedup.sentenceSpanDedup]]):
      *
      * {{{
      * SELECT * FROM graft_sentence_spans('docs')      -- span=3 (C4)
      * SELECT * FROM graft_sentence_spans('docs', 2)   -- span dial
      * }}}
      *
      * Emits (doc_id, n_sentences, n_kept, kept_hash). Fully lazy. */
    tvf("graft_sentence_spans(docs_table[, span])", Dedup.getClass)(a =>
      Dedup.sentenceSpanDedup(a.table(0), a.intOr(1, 3))),

    /** SQL surface for C4's line-level cleaning rules
      * ([[graft.ops.TextAnalysis.c4LineStats]] /
      * [[graft.ops.TextAnalysis.c4Clean]]) at the paper defaults:
      *
      * {{{
      * SELECT * FROM graft_c4_stats('docs')        -- per-page line stats + keep
      * SELECT * FROM graft_c4_stats('docs', 5)     -- min words/line dial
      * SELECT * FROM graft_c4_clean('docs')        -- surviving pages, rewritten
      * }}}
      *
      * Row-local (no shuffle at any size) — both faces stay fully lazy. */
    tvf("graft_c4_stats(docs_table[, min_words_per_line])", TextAnalysis.getClass)(a =>
      TextAnalysis.c4LineStats(a.table(0), a.intOr(1, 3))),

    tvf("graft_c4_clean(docs_table[, min_words_per_line])", TextAnalysis.getClass)(a =>
      TextAnalysis.c4Clean(a.table(0), a.intOr(1, 3))),

    /** SQL surface for the HTML extraction pair ([[graft.ops.Html]]):
      *
      * {{{
      * SELECT * FROM graft_html_text('pages')      -- markup stripped
      * SELECT * FROM graft_html_signals('pages')   -- link density & friends
      * }}}
      *
      * Row-local; both faces fully lazy. */
    tvf("graft_html_text(docs_table)", Html.getClass)(a => Html.htmlToText(a.table(0))),

    tvf("graft_html_signals(docs_table)", Html.getClass)(a => Html.htmlSignals(a.table(0))),

    /** SQL surface for the visual-line boilerplate pair
      * ([[graft.ops.Html.htmlLines]] / [[graft.ops.Html.htmlMainText]]):
      *
      * {{{
      * SELECT * FROM graft_html_lines('pages')   -- per-line class report
      * SELECT * FROM graft_html_main('pages')    -- content lines only
      * }}} */
    tvf("graft_html_lines(docs_table)", Html.getClass)(a => Html.htmlLines(a.table(0))),

    tvf("graft_html_main(docs_table)", Html.getClass)(a => Html.htmlMainText(a.table(0))),

    /** SQL surface for the span-dedup approximation measurement
      * ([[graft.ops.Dedup.spanEval]]):
      *
      * {{{
      * SELECT * FROM graft_span_eval('docs')                 -- defaults
      * SELECT * FROM graft_span_eval('docs', 24, 8, 64, 4)   -- k, mod_p, gap, sample_mod
      * }}}
      *
      * One confusion row: char-level recall/precision of the production
      * anchor-gram chain vs exact repeated-substring ground truth on an
      * md5-bucket document sample. */
    tvf("graft_span_eval(docs_table[, k, mod_p, gap, sample_mod])", Dedup.getClass) { a =>
      Dedup.spanEval(a.table(0), a.intOr(1, 24), a.intOr(2, 8), a.intOr(3, 64), a.intOr(4, 4))
    },

    /** SQL surface for the span-dedup sampling-rate dial
      * ([[graft.ops.Dedup.spanPlan]]):
      *
      * {{{
      * SELECT * FROM graft_span_plan('docs')           -- k=24, sample_mod=4
      * SELECT * FROM graft_span_plan('docs', 24, 4)
      * }}}
      *
      * Per candidate modP: estimated char recall from the sample's exact
      * span-length distribution (upper bound on graft_span_eval's
      * measurement at the same parameters). */
    tvf("graft_span_plan(docs_table[, k, sample_mod])", Dedup.getClass)(a =>
      Dedup.spanPlan(a.table(0), a.intOr(1, 24), a.intOr(2, 4))),

    /** SQL surface for the crawl-graph family ([[graft.ops.Crawl]]):
      *
      * {{{
      * SELECT * FROM graft_url_canon('pages')           -- + canon_url/host/domain
      * SELECT * FROM graft_url_dedup('pages')           -- (doc_id, url_key, keep)
      * SELECT * FROM graft_link_edges('pages')          -- host graph (src, dst, n_links)
      * SELECT * FROM graft_rank_prior('docs', 'ranks')  -- stored-rank join, 0.0 unranked
      * SELECT * FROM graft_corpus_diff('old', 'new')    -- added/removed/changed/unchanged
      * }}}
      *
      * All five stay fully lazy. [[graft.ops.Crawl.domainRank]] itself is
      * Scala-API-only (an iterative materialize/release loop cannot be a
      * lazy TVF body — the [[graft.ops.Dedup.clusters]] stance); its
      * output is the stored table `graft_rank_prior` consumes. */
    tvf("graft_url_canon(pages_table)", Crawl.getClass)(a => Crawl.urlCanon(a.table(0))),

    tvf("graft_url_dedup(pages_table)", Crawl.getClass)(a => Crawl.urlDuplicates(a.table(0))),

    tvf("graft_link_edges(pages_table)", Crawl.getClass)(a => Crawl.linkHostEdges(a.table(0))),

    tvf("graft_rank_prior(docs_table, ranks_table)", Crawl.getClass)(a =>
      Crawl.rankPrior(a.table(0), a.table(1))),

    tvf("graft_url_signals(pages_table)", Crawl.getClass)(a => Crawl.urlSignals(a.table(0))),

    /** `SELECT * FROM graft_frontier('pages', 'ranks'[, per_host_cap])`
      * — unseen link targets, ref-counted, rank-joined, host-capped.
      * `ranks` is a stored [[graft.ops.Crawl.domainRank]] output. */
    tvf("graft_frontier(pages_table, ranks_table[, per_host_cap])", Crawl.getClass)(a =>
      Crawl.crawlFrontier(a.table(0), a.table(1), perHostCap = a.intOr(2, 10))),

    tvf("graft_anchor_texts(pages_table)", Crawl.getClass)(a => Crawl.anchorTexts(a.table(0))),

    tvf("graft_anchor_index(pages_table)", Crawl.getClass)(a => Crawl.anchorIndex(a.table(0))),

    tvf("graft_sitemap_urls(sitemaps_table)", Crawl.getClass)(a =>
      Crawl.sitemapUrls(a.table(0))),

    /** `SELECT * FROM graft_polite_frontier('pages', 'ranks', 'rules',
      * 'delays'[, per_host_cap[, default_delay]])` — the crawl loop's
      * one-call output from stored rank/rules/delay artifacts;
      * `default_delay` (seconds) schedules `fetch_offset` for hosts
      * that declare no `Crawl-delay`. Fully lazy. */
    tvf("graft_polite_frontier(pages_table, ranks_table, rules_table, delays_table" +
        "[, per_host_cap[, default_delay]])", Crawl.getClass) { a =>
      Crawl.politeFrontier(a.table(0), a.table(1), a.table(2), a.table(3),
        perHostCap = a.intOr(4, 10), defaultDelay = a.numOr(5, 1.0))
    },

    /** SQL surface for adaptive recrawl scheduling
      * ([[graft.ops.Crawl.recrawlPolicy]]):
      *
      * {{{
      * SELECT * FROM graft_recrawl_policy('fetch_log')                 -- 1d base, 30d cap
      * SELECT * FROM graft_recrawl_policy('fetch_log', 3600, 604800)   -- 1h base, 7d cap
      * }}}
      *
      * The named table/view must carry (url, fetch_ts, content_hash);
      * emits one policy row per URL — filter `next_fetch_at <= now`
      * for the due list. */
    tvf("graft_recrawl_policy(fetch_log_table[, base_interval_sec[, max_interval_sec]])",
        Crawl.getClass) { a =>
      Crawl.recrawlPolicy(a.table(0), baseInterval = a.numOr(1, 86400).toLong,
        maxInterval = a.numOr(2, 30 * 86400).toLong)
    },

    /** SQL surface for crawl-trap template mining
      * ([[graft.ops.Crawl.urlTemplates]]):
      * `SELECT * FROM graft_url_templates('pages')` → per-(host,
      * template) page/URL counts and host share; filter high `n_urls`
      * for the trap list. Persist (lazy) materialization — the TVF
      * stance. */
    tvf("graft_url_templates(pages_table)", Crawl.getClass)(a =>
      Crawl.urlTemplates(a.table(0))),

    /** SQL surface for rank-proportional fetch budgets
      * ([[graft.ops.Crawl.crawlBudget]]):
      * `SELECT * FROM graft_crawl_budget('ranks', 100000)` or the
      * 4-arg form with min/max per-host clamps. */
    tvf("graft_crawl_budget(ranks_table, total[, min_per_host[, max_per_host]])",
        Crawl.getClass) { a =>
      Crawl.crawlBudget(a.table(0), total = a.num(1).toLong,
        minPerHost = a.numOr(2, 1).toLong,
        maxPerHost = if (a.size == 4) a.num(3).toLong else Long.MaxValue)
    },

    /** SQL surface for robots `Sitemap:` discovery
      * ([[graft.ops.Robots.sitemapDirectives]]):
      * `SELECT * FROM graft_robots_sitemaps('robots_bodies')` over a
      * `(host, robots_txt)` table → one row per declared sitemap. */
    tvf("graft_robots_sitemaps(robots_table)", Robots.getClass)(a =>
      Robots.sitemapDirectives(a.table(0))),

    tvf("graft_crawl_delays(robots_table)", Robots.getClass)(a =>
      Robots.crawlDelays(a.table(0))),

    tvf("graft_host_summary(pages_table)", Crawl.getClass)(a => Crawl.hostSummary(a.table(0))),

    tvf("graft_robots_rules(robots_table)", Robots.getClass)(a =>
      Robots.robotsRules(a.table(0))),

    /** `SELECT * FROM graft_robots_filter('urls', 'rules')` — RFC 9309
      * longest-match decision per URL row; `rules` is a stored
      * [[graft.ops.Robots.robotsRules]] output. */
    tvf("graft_robots_filter(urls_table, rules_table)", Robots.getClass)(a =>
      Robots.robotsFilter(a.table(0), a.table(1))),

    tvf("graft_corpus_diff(old_table, new_table)", Crawl.getClass)(a =>
      Crawl.corpusDiff(a.table(0), a.table(1))),

    /** SQL surface for trigram stupid-backoff LM scoring
      * ([[graft.ops.TextAnalysis.lm3ScoreAgainst]]):
      *
      * {{{
      * SELECT * FROM graft_lm3_score('docs', 'reference_docs')
      * }}}
      *
      * Trains the trigram model on the reference table, scores every doc
      * in the first: (doc_id, n_trigrams, n_bo, n_oov, avg_logprob). */
    tvf("graft_lm3_score(docs_table, reference_table)", TextAnalysis.getClass)(a =>
      TextAnalysis.lm3ScoreAgainst(a.table(0), a.table(1))),

    /** SQL surface for n-gram stupid-backoff LM scoring at a chosen
      * order ([[graft.ops.TextAnalysis.lmnModel]] +
      * [[graft.ops.TextAnalysis.lmnScoreWith]]):
      *
      * {{{
      * SELECT * FROM graft_lmn_score('docs', 'reference_docs', 5)
      * }}}
      *
      * Trains an order-n model on the reference table, scores every doc
      * in the first: (doc_id, n_ngrams, n_bo, n_oov, avg_logprob). */
    tvf("graft_lmn_score(docs_table, reference_table, order)", TextAnalysis.getClass)(a =>
      TextAnalysis.lmnScoreWith(a.table(0), TextAnalysis.lmnModel(a.table(1), a.int(2)))),

    /** SQL surface for interpolated Kneser-Ney scoring
      * ([[graft.ops.TextAnalysis.knScoreWith]] over a model trained
      * in-plan — the ARPA-backoff KenLM fidelity rung):
      *
      * {{{
      * SELECT * FROM graft_kn_score('docs', 'ref')      -- order 3, D=0.75
      * SELECT * FROM graft_kn_score('docs', 'ref', 5)   -- the KenLM order
      * }}}
      *
      * Emits (doc_id, n_ngrams, n_bo, n_oov, avg_logprob). */
    tvf("graft_kn_score(docs_table, reference_table[, order])", TextAnalysis.getClass)(a =>
      TextAnalysis.knScoreWith(a.table(0), TextAnalysis.knModel(a.table(1), a.intOr(2, 3)))),

    /** SQL surface for the shard-layout manifest
      * ([[graft.ops.Sampling.shardManifest]]):
      *
      * {{{
      * SELECT * FROM graft_shard_manifest('docs', 512)      -- buckets=32
      * SELECT * FROM graft_shard_manifest('docs', 512, 8)
      * }}}
      *
      * Per shard of the packShards layout: doc/token counts and the
      * doc_id-ordered content checksum writeShards certifies on disk. */
    tvf("graft_shard_manifest(docs_table, token_budget[, buckets])", Sampling.getClass)(a =>
      Sampling.shardManifest(a.table(0), a.int(1).toLong, a.intOr(2, 32))),

    /** SQL surface for training-sequence packing
      * ([[graft.ops.Sampling.packSequences]]):
      *
      * {{{
      * SELECT * FROM graft_pack_sequences('docs', 2048, 64)      -- buckets=32
      * SELECT * FROM graft_pack_sequences('docs', 2048, 64, 8)
      * }}}
      *
      * Whole-context chunking + length-bucketed sequence fill; the
      * assignment a training loader materializes. */
    tvf("graft_pack_sequences(docs_table, context, bin_width[, buckets])",
        Sampling.getClass)(a =>
      Sampling.packSequences(a.table(0), a.int(1), a.int(2), a.intOr(3, 32))),

    /** SQL surface for sliding token-window chunking
      * ([[graft.ops.TextAnalysis.chunkByTokens]]):
      *
      * {{{
      * SELECT * FROM graft_chunk_tokens('docs', 256, 192)
      * }}}
      *
      * Fixed windows every `stride` tokens — the retrieval/embedding
      * splitter. */
    tvf("graft_chunk_tokens(docs_table, chunk_size, stride)", TextAnalysis.getClass)(a =>
      TextAnalysis.chunkByTokens(a.table(0), a.int(1), a.int(2))),

    /** SQL surface for classifier reliability
      * ([[graft.ops.Curation.calibrationReport]]):
      *
      * {{{
      * SELECT * FROM graft_calibration('scored')   -- needs logit + actual cols
      * }}}
      */
    tvf("graft_calibration(scored_table)", Curation.getClass)(a =>
      Curation.calibrationReport(a.table(0))),

    /** SQL surface for the operating-point sweep —
      *
      * {{{
      * SELECT * FROM graft_threshold_sweep('scored', '-2,-1,0,1,2')
      * }}}
      *
      * The named table needs `logit` + `actual` columns (the
      * [[graft.ops.Curation.thresholdSweep]] contract); thresholds are a
      * CSV literal, the policy list. */
    tvf("graft_threshold_sweep(scored_table, thresholds_csv)", Curation.getClass)(a =>
      Curation.thresholdSweep(a.table(0), a.csv(1).map(_.toDouble))),

    /** SQL surface for operating-point SELECTION —
      *
      * {{{
      * SELECT * FROM graft_operating_point('scored', '-2,-1,0,1,2')       -- max-F1
      * SELECT * FROM graft_operating_point('scored', '-2,-1,0,1,2', 0.9)  -- precision floor
      * }}}
      *
      * Sweeps the scored table at the CSV thresholds, then picks the
      * winner under the objective (third arg = the precision floor;
      * absent = max-F1). Empty when nothing qualifies — the
      * [[graft.ops.Curation.operatingPoint]] contract. */
    tvf("graft_operating_point(scored_table, thresholds_csv[, min_precision])",
        Curation.getClass) { a =>
      Curation.operatingPoint(Curation.thresholdSweep(a.table(0), a.csv(1).map(_.toDouble)),
        if (a.size == 2) Curation.OpObjective.MaxF1
        else Curation.OpObjective.PrecisionFloor(a.num(2)))
    },

    /** SQL surface for snippet extraction —
      *
      * {{{
      * SELECT * FROM graft_snippets('docs', 'cat dog')      -- window 10
      * SELECT * FROM graft_snippets('docs', 'cat dog', 8)   -- explicit window
      * }}}
      *
      * The named table needs `(doc_id, text)`; the positional index is
      * built in-plan (store [[graft.index.InvertedIndex.buildPositional]]
      * and use the Column API to serve from an artifact instead). */
    tvf("graft_snippets(docs_table, query[, window])", InvertedIndex.getClass) { a =>
      val docs = a.table(0)
      InvertedIndex.snippets(InvertedIndex.buildPositional(docs), docs, a.str(1),
        a.intOr(2, 10))
    },

    /** SQL surface for the one-call result page —
      *
      * {{{
      * SELECT * FROM graft_search_page('docs', 'cat dog', 20)     -- window 10
      * SELECT * FROM graft_search_page('docs', 'cat dog', 20, 8)  -- explicit window
      * }}}
      */
    tvf("graft_search_page(docs_table, query, k[, window])", InvertedIndex.getClass)(a =>
      InvertedIndex.searchPage(a.table(0), a.str(1), a.int(2), a.intOr(3, 10))),

    /** SQL surface for manifest diffing —
      *
      * {{{
      * SELECT * FROM graft_manifest_diff('manifest_v1', 'manifest_v2')
      * }}}
      *
      * Both tables need `(doc_id, split)`; emits the
      * added/removed/moved/unchanged detail rows. */
    tvf("graft_manifest_diff(table_a, table_b)", Curation.getClass)(a =>
      Curation.manifestDiff(a.table(0), a.table(1))),

    /** SQL surface for UniMax budget allocation
      * ([[graft.ops.Sampling.unimaxPlan]]):
      *
      * {{{
      * SELECT * FROM graft_unimax('docs', 'source', 40000)       -- maxEpochs=4
      * SELECT * FROM graft_unimax('docs', 'source', 40000, 2)
      * }}}
      *
      * Weights-free waterfilling: per source, available/capacity/alloc
      * tokens, epochs, and the capped bit. (Integer maxEpochs at the
      * SQL surface; call the Scala API for fractional caps.) */
    tvf("graft_unimax(docs_table, source_col, token_budget[, max_epochs])",
        Sampling.getClass)(a =>
      Sampling.unimaxPlan(a.table(0), a.str(1), a.int(2).toLong, a.intOr(3, 4).toDouble)),

    /** SQL surface for average precision —
      *
      * {{{
      * SELECT * FROM graft_average_precision('scored', '-2,-1,0,1,2')          -- global
      * SELECT * FROM graft_average_precision('scored', '-2,-1,0,1,2', 'lang')  -- per group
      * }}}
      *
      * Sweeps the scored table (`logit` + `actual`; plus the group
      * column in the 3-arg form) at the CSV thresholds, then walks the
      * step AP — [[graft.ops.Curation.averagePrecision]] /
      * [[graft.ops.Curation.averagePrecisionBy]]. */
    tvf("graft_average_precision(scored_table, thresholds_csv[, group_col])",
        Curation.getClass) { a =>
      val ths = a.csv(1).map(_.toDouble)
      if (a.size == 2) Curation.averagePrecision(Curation.thresholdSweep(a.table(0), ths))
      else Curation.averagePrecisionBy(
        Curation.thresholdSweepBy(a.table(0), ths, a.str(2)), a.str(2))
    },

    /** SQL surface for HOLDOUT-disciplined operating-point selection —
      *
      * {{{
      * SELECT * FROM graft_operating_point_certified('scored', '-2,-1,0,1,2')       -- max-F1
      * SELECT * FROM graft_operating_point_certified('scored', '-2,-1,0,1,2', 0.9)  -- precision floor
      * }}}
      *
      * The named table needs `logit`, `actual` AND `split` (stamp with
      * [[graft.ops.Sampling.splitCol]]); selects on `val`, certifies on
      * `test` — [[graft.ops.Curation.operatingPointCertified]]. */
    tvf("graft_operating_point_certified(scored_table, thresholds_csv[, min_precision])",
        Curation.getClass) { a =>
      Curation.operatingPointCertified(a.table(0), a.csv(1).map(_.toDouble),
        if (a.size == 2) Curation.OpObjective.MaxF1
        else Curation.OpObjective.PrecisionFloor(a.num(2)))
    },

    /** SQL surface for the stage-attributed manifest diff —
      *
      * {{{
      * SELECT * FROM graft_manifest_diff_explained('ma', 'mb', 'drops_a', 'drops_b')
      * }}}
      *
      * Manifests need `(doc_id, split)`; drop tables `(doc_id,
      * stage_idx, stage)` — [[graft.ops.Curation.dropAttribution]] /
      * `curateWithFunnel(attribution = true)` outputs. */
    tvf("graft_manifest_diff_explained(table_a, table_b, drops_a, drops_b)",
        Curation.getClass)(a =>
      Curation.manifestDiffExplained(a.table(0), a.table(1), a.table(2), a.table(3))),

    /** SQL surface for classifier drift measurement —
      *
      * {{{
      * SELECT * FROM graft_classifier_drift('gate_in', 'gate_out')           -- key 'source'
      * SELECT * FROM graft_classifier_drift('gate_in', 'gate_out', 'lang')   -- explicit key
      * }}}
      *
      * Emits `classifier:<key>` / `drop_rate` refresh-signal rows —
      * [[graft.ops.Curation.classifierDriftSignals]]. */
    tvf("graft_classifier_drift(before_table, after_table[, key_col])", Curation.getClass)(a =>
      Curation.classifierDriftSignals(a.table(0), a.table(1), a.strOr(2, "source"))),

    /** SQL surface for the STORED-artifact result page —
      *
      * {{{
      * SELECT * FROM graft_search_page_served('/store', '/docs', 'cat dog', 20)
      * SELECT * FROM graft_search_page_served('/store', '/docs', 'cat dog', 20, 8)
      * }}}
      *
      * Unlike the other TVFs the first two arguments are PATHS (the
      * [[graft.index.IndexStore.saveSearchPageStore]] root and the
      * doc-store parquet), not table names — the point of the served
      * face is answering from artifacts no session has registered.
      * The store was laid out when it was created; the read uses the
      * layout its `_GRAFT_LAYOUT` marker records, and a store without a
      * marker raises. */
    tvf("graft_search_page_served(store_path, docs_path, query, k[, window])",
        IndexStore.getClass) { a =>
      IndexStore.searchPage(a.spark, a.str(0), a.str(1), a.str(2), a.int(3), a.intOr(4, 10))
    },

    /** SQL surface for the STORED-lexical-arm hybrid query —
      *
      * {{{
      * SELECT * FROM graft_hybrid_served('/store', 'emb', 'cat dog', 0)
      * SELECT * FROM graft_hybrid_served('/store', 'emb', 'cat dog', 0, 20, 50)
      * }}}
      *
      * First argument is the [[graft.index.IndexStore.saveSearchPageStore]]
      * PATH, read under the layout its marker records; the embedding arm
      * stays a registered table. [[graft.index.IndexStore.hybridTopK]]. */
    tvf("graft_hybrid_served(store_path, emb_table, query, query_vec_id[, k, pool_k])",
        IndexStore.getClass) { a =>
      val emb = a.table(1)
      IndexStore.hybridTopK(a.spark, a.str(0), emb, a.str(2),
        emb.filter(col("vec_id") === a.int(3)), a.intOr(4, 20), a.intOr(5, 50))
    },

    /** SQL surface for the FULLY-served hybrid query — BOTH arms from
      * stored, pruned artifacts ([[graft.index.IndexStore.hybridTopKAnn]]):
      *
      * {{{
      * SELECT * FROM graft_hybrid_served_ann('/store', '/ann', 'emb', 'cat dog', 0)
      * SELECT * FROM graft_hybrid_served_ann('/store', '/ann', 'emb', 'cat dog', 0, 20, 50, 8, 4)
      * }}}
      *
      * The first two arguments are the search-page-store and
      * [[graft.ops.Similarity.saveAnnStore]] PATHS; the embedding table
      * supplies only the query vector (by id) — the corpus side answers
      * from the cell-partitioned store, and the lexical arm reads under
      * the layout the store's marker records. Optional tail: k, pool_k,
      * nprobe, m. */
    tvf("graft_hybrid_served_ann(store_path, ann_path, emb_table, query, query_vec_id" +
        "[, k, pool_k, nprobe, m])", IndexStore.getClass) { a =>
      IndexStore.hybridTopKAnn(a.spark, a.str(0), a.str(1), a.str(3),
        a.table(2).filter(col("vec_id") === a.int(4)), a.intOr(5, 20), a.intOr(6, 50),
        nprobe = a.intOr(7, 4), m = a.intOr(8, 4))
    })

  /** Register the SQL functions + planner strategies on an
    * already-built session (idempotent). Strategies go through the
    * PUBLIC `spark.experimental.extraStrategies` hook. */
  def install(spark: SparkSession): Unit = {
    scalarFunctions.map(_.spec).foreach { case (id, info, builder) =>
      GraftSqlBridge.registerFunction(spark, id, info, builder)
    }
    tableFunctions.map(_.spec).foreach { case (id, info, builder) =>
      GraftSqlBridge.registerTableFunction(spark, id, info, builder)
    }
    if (!spark.experimental.extraStrategies.contains(AsOfJoin.AsOfStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoin.AsOfStrategy
    }
  }
}
