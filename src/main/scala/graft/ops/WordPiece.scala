package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Materialize, TextNorm}

/** Trained WordPiece tokenizer (Schuster & Nakajima, ICASSP '12 — the
  * BERT tokenizer family; trainer semantics per the published
  * HuggingFace `tokenizers` WordPiece trainer) — the THIRD dominant
  * subword family next to [[Bpe]] (merge by raw pair frequency) and
  * [[Unigram]] (prune by Viterbi likelihood): WordPiece merges
  * bottom-up like BPE but scores a candidate pair by the LIKELIHOOD
  * GAIN `count(ab) / (count(a) · count(b))` instead of the raw count,
  * so a merge must beat the independence baseline of its parts — rare
  * symbols that always co-occur merge early, frequent-but-independent
  * neighbors never do.
  *
  * Symbolization carries the WordPiece continuation marker: a word's
  * initial symbol is its bare first character, every later symbol is
  * `"##" + char`, and merging `(a, b)` yields `a + strip##(b)` — the
  * marker of the LEFT element survives, so word-initial and
  * word-internal pieces stay distinct vocabulary entries (the property
  * the greedy server depends on).
  *
  * Determinism (the [[Unigram]] discipline): pair and symbol counts
  * are exact integer aggregates; the selection score quantizes to 6dp
  * DECIMAL(18,6) as `round(ln c − ln c_a − ln c_b, 6)` — the log form
  * of the published ratio (argmax-equivalent up to the quantization,
  * overflow-free where `c_a · c_b` would not be at corpus scale, and
  * the one transcendental the engines compute identically — the
  * [[TextAnalysis]] LM-score recipe). Ties break by (score desc,
  * lhs asc, rhs asc), exact on ASCII. The 6dp quantization is a
  * DOCUMENTED approximation of the exact-rational argmax: two pairs
  * whose true ratios differ by < 1e-6 in log space tie and fall to the
  * lexicographic break — in exchange every engine (this trainer, the
  * distributed fallback, the DuckDB twin) picks byte-identical merges.
  *
  * Training scale shape = [[Bpe.trainMerges]]'s exactly: ONE corpus
  * scan for the word-frequency table (vocabulary-sized), then either
  * the driver-local incremental loop (default when the vocabulary fits
  * under `maxLocalVocab` — only words CONTAINING the chosen pair are
  * re-counted per merge) or the distributed per-merge loop (one
  * pair-count aggregate + one symbol-count aggregate + argmax + a
  * row-parallel replace per merge, state re-materialized so lineage
  * stays flat). Both paths produce IDENTICAL merges (the spec pins
  * parity).
  *
  * Serving is [[encodeFast]]: greedy longest-match-first under the
  * final vocabulary (base symbols + merged tokens), whole-word
  * `"[UNK]"` when any position fails — the published no-backtracking
  * BERT semantics ([[graft.functions.WordPieceEncoder]] pins the
  * contract). One corpus scan, combinable aggregates, the vocabulary
  * riding into tasks as one plan-reference object.
  */
object WordPiece {

  /** The whole-word unknown token (the BERT literal). Outside the
    * `[a-z0-9]` token alphabet, so it can never collide with a real
    * piece. */
  val Unk = "[UNK]"

  /** One learned merge: rank, the two symbols, the joined symbol
    * (continuation marker of the RIGHT element stripped), their joint
    * count and 6dp log-likelihood-gain score at selection time. */
  final case class Merge(merge_idx: Int, lhs: String, rhs: String,
      merged: String, pair_count: Long, score: Double)

  private def strip(b: String): String =
    if (b.startsWith("##")) b.substring(2) else b

  /** 6dp-quantized selection score as an exact micro-Long:
    * `round(ln c − ln c_a − ln c_b, 6) · 1e6`. HALF_UP on
    * `BigDecimal.valueOf` is bit-for-bit what Spark's `round(double,
    * 6)` and DuckDB's `round(x, 6)` produce on the same IEEE input. */
  private def scoreMicro(c: Long, ca: Long, cb: Long): Long =
    java.math.BigDecimal
      .valueOf(math.log(c.toDouble) - math.log(ca.toDouble) - math.log(cb.toDouble))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** WordPiece initial symbolization in the [[Bpe]] space-wrapped
    * algebra: `"low"` → `" l  ##o  ##w "` — symbols are space-free, so
    * merge `(a, b) → a + strip##(b)` is exactly one `replace`. */
  private def wpSyms(word: Column): Column =
    concat(lit(" "), word.substr(lit(1), lit(1)), lit(" "),
      regexp_replace(word.substr(lit(2), length(word)), "(.)", " ##$1 "))

  private def pieces(syms: Column): Column = split(trim(syms), "  ")

  /** Learn up to `numMerges` merges; stops early when no remaining
    * pair reaches `minFrequency` (the likelihood score of singleton
    * evidence is noise regardless of its ratio). Driver-local under
    * `maxLocalVocab`, distributed above it — identical output. */
  def trainMerges(
      docs: DataFrame,
      numMerges: Int,
      minFrequency: Long = 2L,
      maxLocalVocab: Long = 1000000L,
      tok: Column => Column = TextNorm.tokens): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges=$numMerges must be >= 1")
    require(minFrequency >= 1, s"minFrequency=$minFrequency must be >= 1")
    val cap = math.min(maxLocalVocab, Int.MaxValue - 2L).toInt
    val probe = Bpe.wordCounts(docs, tok).limit(cap + 1).collect()
    if (probe.length <= cap)
      trainMergesLocal(probe.map(r => (r.getString(0), r.getLong(1))), numMerges,
        minFrequency)
    else trainMergesDistributed(docs, numMerges, minFrequency, tok)
  }

  /** Driver-local exact WordPiece refinement with incremental pair AND
    * symbol count maintenance: per merge only the words CONTAINING the
    * chosen pair are re-counted (subtract their pair and symbol
    * contributions, apply the leftmost-greedy merge, add the new
    * ones). Same quantized-score argmax and tie-break as the
    * distributed loop, so the merge sequences are identical by
    * construction. */
  private[graft] def trainMergesLocal(
      words: Array[(String, Long)],
      numMerges: Int,
      minFrequency: Long): Seq[Merge] = {
    import scala.collection.mutable
    val syms = new Array[mutable.ArrayBuffer[String]](words.length)
    val cnts = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      val (w, c) = words(i)
      val buf = new mutable.ArrayBuffer[String](w.length)
      var ci = 0
      while (ci < w.length) {
        val cp = w.codePointAt(ci)
        val s = new String(Character.toChars(cp))
        buf += (if (ci == 0) s else "##" + s)
        ci += Character.charCount(cp)
      }
      syms(i) = buf; cnts(i) = c
      i += 1
    }
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val symCount = mutable.HashMap.empty[String, Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def contribute(wi: Int, sign: Long): Unit = {
      val s = syms(wi)
      var j = 0
      while (j < s.length) {
        val sv = symCount.getOrElse(s(j), 0L) + sign * cnts(wi)
        if (sv == 0L) symCount.remove(s(j)) else symCount.update(s(j), sv)
        if (j < s.length - 1) {
          val p = (s(j), s(j + 1))
          val nv = pairCount.getOrElse(p, 0L) + sign * cnts(wi)
          if (nv == 0L) pairCount.remove(p) else pairCount.update(p, nv)
          if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
        }
        j += 1
      }
    }
    i = 0
    while (i < words.length) { contribute(i, 1L); i += 1 }
    val out = mutable.ListBuffer.empty[Merge]
    var done = false
    while (out.size < numMerges && !done) {
      // argmax over pairs with count >= minFrequency by
      // (6dp log-gain desc, lhs asc, rhs asc)
      var best: (String, String) = null
      var bs = 0L
      var bc = 0L
      pairCount.foreach { case (p, c) =>
        if (c >= minFrequency) {
          val sc = scoreMicro(c, symCount(p._1), symCount(p._2))
          if (best == null || sc > bs ||
            (sc == bs && (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bs = sc; bc = c
          }
        }
      }
      if (best == null) done = true
      else {
        val m = best._1 + strip(best._2)
        out += Merge(out.size + 1, best._1, best._2, m, bc, bs.toDouble / 1e6)
        // pairWords entries go stale lazily (a word may have lost the
        // pair to an earlier merge); contribute(-1)/merge/contribute(+1)
        // is a no-op for those, so staleness costs time, never truth
        val affected = pairWords.remove(best).map(_.toArray).getOrElse(Array.empty)
        java.util.Arrays.sort(affected)
        affected.foreach { wi =>
          contribute(wi, -1L)
          val s = syms(wi)
          val merged = new mutable.ArrayBuffer[String](s.length)
          var rp = 0
          while (rp < s.length) {
            if (rp < s.length - 1 && s(rp) == best._1 && s(rp + 1) == best._2) {
              merged += m; rp += 2
            } else { merged += s(rp); rp += 1 }
          }
          syms(wi) = merged
          contribute(wi, 1L)
        }
        pairCount.remove(best)
      }
    }
    out.toList
  }

  /** The distributed per-merge refinement loop — one symbol-count
    * aggregate, one pair-count aggregate, a single-row scored argmax
    * and a row-parallel replace per merge. Exact twin of
    * [[trainMergesLocal]]; used when the vocabulary exceeds
    * `maxLocalVocab`. Both count tables are vocabulary-sized, so the
    * score join broadcasts. */
  private[graft] def trainMergesDistributed(
      docs: DataFrame,
      numMerges: Int,
      minFrequency: Long,
      tok: Column => Column = TextNorm.tokens): Seq[Merge] = {
    var words = Materialize(
      Bpe.wordCounts(docs, tok).select(wpSyms(col("word")).as("syms"), col("cnt")))
    val out = scala.collection.mutable.ListBuffer.empty[Merge]
    var done = false
    while (out.size < numMerges && !done) {
      val ps = words.select(pieces(col("syms")).as("ps"), col("cnt"))
      val symCnt = ps
        .select(explode(col("ps")).as("sym"), col("cnt"))
        .groupBy("sym").agg(sum("cnt").as("sc"))
      val best = ps
        .where(size(col("ps")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ps")) - 1),
          j => struct(element_at(col("ps"), j).as("a"),
            element_at(col("ps"), j + 1).as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
        .where(col("c") >= minFrequency)
        .join(broadcast(symCnt.select(col("sym").as("a"), col("sc").as("ca"))), Seq("a"))
        .join(broadcast(symCnt.select(col("sym").as("b"), col("sc").as("cb"))), Seq("b"))
        .select(col("a"), col("b"), col("c"),
          round(log(col("c").cast("double")) - log(col("ca").cast("double"))
            - log(col("cb").cast("double")), 6)
            .cast(DecimalType(18, 6)).as("score"))
        .orderBy(col("score").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val sc = best(0).getDecimal(3)
        val m = a + strip(b)
        out += Merge(out.size + 1, a, b, m, c, sc.doubleValue())
        val next = Materialize(
          words.select(
            replace(col("syms"), lit(s" $a  $b "), lit(s" $m ")).as("syms"),
            col("cnt")))
        Materialize.release(words)
        words = next
      }
    }
    Materialize.release(words)
    out.toList
  }

  /** [[trainMerges]] as a DataFrame — the storable model table:
    * `(merge_idx, lhs, rhs, merged, pair_count, score)`. */
  def train(
      docs: DataFrame,
      numMerges: Int,
      minFrequency: Long = 2L,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    val spark = docs.sparkSession
    spark.createDataFrame(trainMerges(docs, numMerges, minFrequency, tok = tok))
      .select("merge_idx", "lhs", "rhs", "merged", "pair_count", "score")
  }

  /** The servable vocabulary: every base symbol of the training word
    * table (bare first characters and `##`-marked continuations) plus
    * every merged token — the vocab file a WordPiece tokenizer ships.
    * Distinct because two merge chains can join to the same string
    * (`l + ##ow` and `lo + ##w`). Vocabulary-sized end to end: the one
    * corpus scan is inside [[Bpe.wordCounts]]. */
  def vocab(
      docs: DataFrame, merges: Seq[Merge],
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    val base = Bpe.wordCounts(docs, tok)
      .select(explode(pieces(wpSyms(col("word")))).as("piece"))
      .distinct()
    val spark = docs.sparkSession
    import spark.implicits._
    val merged = merges.map(_.merged).toDF("piece")
    base.unionByName(merged).distinct()
  }

  /** Order a stored vocab table into the servable piece list. */
  def collectVocab(vocabDf: DataFrame): Seq[String] =
    vocabDf.select("piece").collect().map(_.getString(0)).sorted.toSeq

  /** Production encode path: the native greedy longest-match
    * expression — one plan node, O(len · maxPieceLen) per word,
    * whole-stage-codegen friendly
    * ([[graft.functions.WordPieceEncode]]). */
  def encodeFast(word: Column, vocab: Seq[String]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.WordPieceEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(word), vocab, Unk))

  /** True subword token counts per document under a trained
    * vocabulary: `(doc_id, n_wordpiece_tokens)`, token-less docs 0 —
    * the WordPiece face of [[Bpe.tokenCounts]]; an UNK word counts as
    * its single unknown token. One corpus scan, combinable. */
  def tokenCounts(
      docs: DataFrame, vocab: Seq[String],
      tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), explode_outer(tok(col("text"))).as("word"))
      .select(col("doc_id"),
        when(col("word").isNull, lit(0L))
          .otherwise(size(encodeFast(col("word"), vocab)).cast("long")).as("n"))
      .groupBy("doc_id").agg(sum("n").cast("long").as("n_wordpiece_tokens"))

  /** Tokenizer fertility per source under the WordPiece vocabulary —
    * the third column of the family comparison ([[Bpe.fertility]],
    * [[Unigram.fertility]]): run all three over one corpus and the
    * per-source deltas say which family fits which domain.
    * Output `(source, n_words, n_wordpiece_tokens, fertility)`. */
  def fertility(
      docs: DataFrame, vocab: Seq[String],
      sourceCol: String = "source"): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col(sourceCol).as("source"),
        explode_outer(TextNorm.tokens(col("text"))).as("word"))
      .select(col("source"),
        when(col("word").isNull, lit(0L)).otherwise(lit(1L)).as("nw"),
        when(col("word").isNull, lit(0L))
          .otherwise(size(encodeFast(col("word"), vocab)).cast("long")).as("np"))
      .groupBy("source")
      .agg(sum("nw").as("n_words"), sum("np").as("n_wordpiece_tokens"))
      .select(col("source"), col("n_words"), col("n_wordpiece_tokens"),
        when(col("n_words") > 0,
          round(col("n_wordpiece_tokens").cast("double") / col("n_words"), 6))
          .as("fertility"))

  /** Out-of-vocabulary rate per source — the diagnostic WordPiece adds
    * that the other two families structurally cannot (BPE's alphabet
    * fallback and unigram's unknown-char score always segment; greedy
    * WordPiece REJECTS a word the vocab can't cover): the fraction of
    * word occurrences decoding to the whole-word `[UNK]`. High
    * `unk_rate` flags a domain the vocabulary never saw — the signal
    * that routes a source to tokenizer retraining before its token
    * counts (all 1 per UNK word) silently corrupt shard budgeting.
    * Output `(keyCol, n_words, n_unk, unk_rate)` — `keyCol` is the
    * routing grain (`source` for corpus health, `doc_id` for per-doc
    * gating); rate NULL for a wordless key. One scan, combinable. */
  def unkSignals(
      docs: DataFrame, vocab: Seq[String],
      keyCol: String = "source",
      tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col(keyCol), explode_outer(tok(col("text"))).as("word"))
      .select(col(keyCol),
        when(col("word").isNull, lit(0L)).otherwise(lit(1L)).as("nw"),
        when(col("word").isNull, lit(0L))
          .otherwise((element_at(encodeFast(col("word"), vocab), 1) === lit(Unk))
            .cast("long")).as("nu"))
      .groupBy(keyCol)
      .agg(sum("nw").as("n_words"), sum("nu").as("n_unk"))
      .select(col(keyCol), col("n_words"), col("n_unk"),
        when(col("n_words") > 0,
          round(col("n_unk").cast("double") / col("n_words"), 6)).as("unk_rate"))

  /** [[tokenCounts]] serving a stored vocab TABLE — the train/serve
    * convention ([[Bpe.tokenCountsFromModel]]). */
  def tokenCountsFromModel(docs: DataFrame, vocabDf: DataFrame): DataFrame =
    tokenCounts(docs, collectVocab(vocabDf))
}
