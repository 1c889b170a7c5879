package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Materialize, TextNorm}

/** Trained byte-pair-encoding tokenizer (Sennrich et al., ACL '16 —
  * "Neural Machine Translation of Rare Words with Subword Units"),
  * train/serve split like the ANN stack: [[train]] learns a bounded
  * merge table from the corpus, [[tokenCounts]]/[[encodeCol]] serve it
  * over any corpus after.
  *
  * Representation — the whole algorithm is string algebra over a
  * SPACE-WRAPPED symbolization: a word's symbol sequence is the concat
  * of `" s "` for each symbol (`"low"` → `" l  o  w "`). Symbols are
  * drawn from [[TextNorm.tokens]]' alphabet (`[a-z0-9]`) — or, in the
  * opt-in BYTE-LEVEL mode, from the fixed 256 uppercase hex pairs of
  * the word's UTF-8 bytes ([[byteSyms]] — the GPT-2-family coverage
  * guarantee for out-of-alphabet text) — so in either mode the
  * spaces can never collide with symbol content, and applying merge
  * (a, b) → ab is exactly `replace(syms, " a  b ", " ab ")`: each
  * symbol carries its OWN leading and trailing space, so matches can
  * never share a boundary character and the engine's left-to-right
  * non-overlapping replace IS greedy leftmost BPE merging (`"aaaa"`
  * with merge (a,a) → `"aa aa"`, `"aaa"` → `"aa a"`). The same
  * `replace` semantics hold in DuckDB, which is what makes the trainer
  * and the server oracle-twinnable as pure SQL.
  *
  * Training scale shape (the 100 TB stance): the corpus is scanned
  * ONCE, for the word-frequency table — a groupBy(word) whose result
  * is vocabulary-sized, not corpus-sized. Refinement then runs on that
  * table, in one of two EXACTLY-equivalent forms (the spec pins
  * parity):
  *
  *  - **Driver-local** (the default whenever the vocabulary fits,
  *    guarded by `maxLocalVocab`): collect the word-frequency table —
  *    it is model-sized state, like a tokenizer file — and run the
  *    merge loop in memory with incremental pair-count maintenance
  *    (only words containing the chosen pair are touched per step).
  *    This is how every production BPE trainer works, and it turns
  *    30k merges from 30k sequential Spark jobs into one job plus an
  *    in-memory loop.
  *  - **Distributed** (the fallback for a vocabulary too large to
  *    collect): per merge, one explode of adjacent symbol pairs
  *    weighted by word count, one combinable groupBy(pair) aggregate,
  *    a single-row argmax, one row-parallel replace; state
  *    re-materialized per iteration (strategy pluggable) so lineage
  *    stays flat — the [[Dedup.clusters]] iteration discipline.
  *
  * Driver loop length = `numMerges`, a model hyper-parameter, never a
  * function of corpus size.
  *
  * Serving — two equivalent forms, one per operating depth:
  *
  *  - [[encodeCol]], the executable spec: the merge table folded into
  *    a chain of `numMerges` nested codegen'd `replace` calls. Also
  *    the shape of the DuckDB oracle twin. Fine at oracle depth;
  *    structurally cannot reach a production 30k-merge vocab (the
  *    expression tree is `numMerges` deep).
  *  - [[encodeFast]], the production path the serve functions use: a
  *    native Catalyst expression ([[graft.functions.BpeEncode]])
  *    around the iterative min-rank encoder — O(len²) per word,
  *    independent of vocabulary size, merges riding into tasks as one
  *    plan-reference object. The corpus is scanned once and the only
  *    shuffle is the final combinable groupBy.
  *
  * Determinism: ties in the pair argmax break by (count desc, left
  * asc, right asc) — exact on longs and ASCII strings in both engines.
  */
object Bpe {

  /** One learned merge: rank, the two symbols joined, their joint
    * count at selection time. */
  final case class Merge(merge_idx: Int, lhs: String, rhs: String, merged: String, pair_count: Long)

  /** Initial symbolization: every character wrapped in its own space
    * pair — `"low"` → `" l  o  w "`. */
  private def charSyms(word: Column): Column =
    regexp_replace(word, "(.)", " $1 ")

  /** BYTE-LEVEL initial symbolization — the GPT-2-family coverage
    * guarantee: the word's UTF-8 bytes, each as a two-digit uppercase
    * hex symbol (`"ab"` → `" 61  62 "`). The base alphabet is the
    * FIXED 256 hex pairs, so any text in any script decomposes — no
    * character can ever be out-of-vocabulary, and served token counts
    * stop under-counting exactly on the out-of-domain text where shard
    * budgeting matters. Hex is uppercase in Spark's `hex()` and
    * DuckDB's alike (twin-checked); symbols stay space-free, so the
    * wrapped-replace merge algebra is unchanged. */
  private def byteSyms(word: Column): Column =
    regexp_replace(hex(encode(word, "UTF-8")), "(..)", " $1 ")

  /** The mode dial: [[byteSyms]] when byte-level, [[charSyms]] else. */
  private def syms0(word: Column, byteLevel: Boolean): Column =
    if (byteLevel) byteSyms(word) else charSyms(word)

  /** Back from wrapped symbolization to the symbol array. */
  private def pieces(syms: Column): Column = split(trim(syms), "  ")

  /** Corpus word-frequency table — the single corpus-sized scan of
    * training. `tok` is the pipeline tokenizer dial
    * ([[TextNorm.tokensUnicode]] for multilingual corpora). */
  def wordCounts(docs: DataFrame, tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(explode(tok(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Learn up to `numMerges` merges; stops early when the best
    * remaining pair's count falls under `minFrequency` (merging
    * singleton evidence learns noise). Returns the ordered merge list
    * (driver-side — it IS the model).
    *
    * When the word-frequency table holds at most `maxLocalVocab`
    * distinct words it is collected and refined driver-local (the
    * model-sized-state convention — the merge list was always going to
    * live on the driver); otherwise the distributed per-merge loop
    * runs. Both paths produce IDENTICAL merges (the spec pins parity),
    * so the guard is purely an execution-cost dial. */
  def trainMerges(
      docs: DataFrame,
      numMerges: Int,
      minFrequency: Long = 2L,
      maxLocalVocab: Long = 1000000L,
      byteLevel: Boolean = false,
      tok: Column => Column = TextNorm.tokens): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges=$numMerges must be >= 1")
    require(minFrequency >= 1, s"minFrequency=$minFrequency must be >= 1")
    // one probe job: fetch at most maxLocalVocab+1 rows — if that was
    // all of them, they ARE the vocabulary and refinement runs local
    val cap = math.min(maxLocalVocab, Int.MaxValue - 2L).toInt
    val probe = wordCounts(docs, tok).limit(cap + 1).collect()
    if (probe.length <= cap)
      trainMergesLocal(probe.map(r => (r.getString(0), r.getLong(1))), numMerges,
        minFrequency, byteLevel)
    else trainMergesDistributed(docs, numMerges, minFrequency, byteLevel, tok)
  }

  /** Driver-local exact BPE refinement over the collected
    * word-frequency table, with incremental pair-count maintenance:
    * per merge, only the words CONTAINING the chosen pair are
    * re-counted (subtract their old adjacent-pair contributions, apply
    * the leftmost-greedy merge, add the new ones). Same argmax and
    * tie-break ((count desc, lhs asc, rhs asc) — exact on longs and
    * ASCII) as the distributed loop, so the merge sequences are
    * identical by construction. */
  private[graft] def trainMergesLocal(
      words: Array[(String, Long)],
      numMerges: Int,
      minFrequency: Long,
      byteLevel: Boolean = false): Seq[Merge] = {
    import scala.collection.mutable
    // symbol sequences, one per distinct word: code-point split (the
    // charSyms twin) or uppercase-hex UTF-8 bytes (the byteSyms twin)
    val syms = new Array[mutable.ArrayBuffer[String]](words.length)
    val cnts = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      val (w, c) = words(i)
      val buf = new mutable.ArrayBuffer[String](w.length)
      if (byteLevel) {
        w.getBytes("UTF-8").foreach(b => buf += f"${b & 0xff}%02X")
      } else {
        var ci = 0
        while (ci < w.length) {
          val cp = w.codePointAt(ci)
          buf += new String(Character.toChars(cp))
          ci += Character.charCount(cp)
        }
      }
      syms(i) = buf; cnts(i) = c
      i += 1
    }
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def contribute(wi: Int, sign: Long): Unit = {
      val s = syms(wi)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val nv = pairCount.getOrElse(p, 0L) + sign * cnts(wi)
        if (nv == 0L) pairCount.remove(p) else pairCount.update(p, nv)
        if (sign > 0) pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
        j += 1
      }
    }
    i = 0
    while (i < words.length) { contribute(i, 1L); i += 1 }
    val out = mutable.ListBuffer.empty[Merge]
    var done = false
    while (out.size < numMerges && !done) {
      // argmax by (count desc, lhs asc, rhs asc)
      var best: (String, String) = null
      var bc = 0L
      pairCount.foreach { case (p, c) =>
        if (best == null || c > bc ||
          (c == bc && (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
          best = p; bc = c
        }
      }
      if (best == null || bc < minFrequency) done = true
      else {
        out += Merge(out.size + 1, best._1, best._2, best._1 + best._2, bc)
        val ab = best._1 + best._2
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
              merged += ab; rp += 2
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

  /** The distributed per-merge refinement loop — one pair-count
    * aggregate + argmax + row-parallel replace per merge. Exact twin of
    * [[trainMergesLocal]]; used when the vocabulary exceeds
    * `maxLocalVocab`. */
  private[graft] def trainMergesDistributed(
      docs: DataFrame,
      numMerges: Int,
      minFrequency: Long,
      byteLevel: Boolean = false,
      tok: Column => Column = TextNorm.tokens): Seq[Merge] = {
    var words = Materialize(
      wordCounts(docs, tok).select(syms0(col("word"), byteLevel).as("syms"), col("cnt")))
    val out = scala.collection.mutable.ListBuffer.empty[Merge]
    var done = false
    while (out.size < numMerges && !done) {
      val best = words
        .select(pieces(col("syms")).as("ps"), col("cnt"))
        .where(size(col("ps")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ps")) - 1),
          j => struct(element_at(col("ps"), j).as("a"),
            element_at(col("ps"), j + 1).as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty || best(0).getLong(2) < minFrequency) done = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += Merge(out.size + 1, a, b, a + b, c)
        val next = Materialize(
          words.select(
            replace(col("syms"), lit(s" $a  $b "), lit(s" $a$b ")).as("syms"),
            col("cnt")))
        Materialize.release(words)
        words = next
      }
    }
    Materialize.release(words)
    out.toList
  }

  /** [[trainMerges]] as a DataFrame — the storable/servable model
    * table: `(merge_idx, lhs, rhs, merged, pair_count)`. */
  def train(
      docs: DataFrame,
      numMerges: Int,
      minFrequency: Long = 2L,
      byteLevel: Boolean = false,
      tok: Column => Column = TextNorm.tokens): DataFrame = {
    val spark = docs.sparkSession
    spark.createDataFrame(trainMerges(docs, numMerges, minFrequency,
        byteLevel = byteLevel, tok = tok))
      .select("merge_idx", "lhs", "rhs", "merged", "pair_count")
  }

  /** Encode one word column with an ordered merge list: the wrapped
    * symbolization folded through one `replace` per merge, then split
    * back to the piece array. Pure codegen'd column algebra — the
    * EXECUTABLE SPEC of the encode semantics and the shape of the
    * DuckDB oracle twin, usable to oracle depth (~64 merges; the
    * expression tree is one `replace` deep per merge). Production
    * serving goes through [[encodeFast]]. */
  def encodeCol(
      word: Column, merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column =
    pieces(merges.foldLeft(syms0(word, byteLevel)) { case (s, (a, b)) =>
      replace(s, lit(s" $a  $b "), lit(s" $a$b "))
    })

  /** Production encode path: the native iterative min-rank encoder
    * ([[graft.functions.BpeEncode]]) — one plan node at ANY vocabulary
    * depth, O(len²) per word independent of merge-list size, still
    * inside whole-stage codegen. Bit-identical to [[encodeCol]] on
    * trained merge lists (the parity spec pins it; see the equivalence
    * contract on [[graft.functions.BpeEncoder]]). */
  def encodeFast(
      word: Column, merges: Seq[(String, String)],
      byteLevel: Boolean = false): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.BpeEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(word), merges, byteLevel))

  /** True subword token counts per document under a trained merge
    * list: `(doc_id, n_bpe_tokens)`, token-less docs 0 — the counts
    * [[Sampling.epochPlan]]/[[Sampling.packShards]] should budget with
    * when a real tokenizer is in play. One corpus scan, the encode
    * chain row-parallel over the exploded token stream, one combinable
    * groupBy(doc_id). */
  def tokenCounts(
      docs: DataFrame, merges: Seq[(String, String)],
      byteLevel: Boolean = false,
      tok: Column => Column = TextNorm.tokens): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col("doc_id"), explode_outer(tok(col("text"))).as("word"))
      .select(col("doc_id"),
        when(col("word").isNull, lit(0L))
          .otherwise(size(encodeFast(col("word"), merges, byteLevel)).cast("long")).as("n"))
      .groupBy("doc_id").agg(sum("n").cast("long").as("n_bpe_tokens"))

  /** The served tokenizer's symbol inventory over a corpus — the vocab
    * file a tokenizer ships alongside its merges: apply the merge list
    * to the word-frequency table (vocabulary-sized, ONE corpus scan
    * inside [[wordCounts]]) and count each final piece's usage.
    * Output: `(piece, n_words, total_count)` — distinct vocab words
    * containing the piece, and the corpus-weighted occurrence total.
    * `Σ total_count` equals the corpus' served token count
    * ([[tokenCounts]] summed), a cross-check the spec pins.
    */
  def vocab(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    wordCounts(docs)
      .select(col("word"), col("cnt"),
        explode(encodeFast(col("word"), merges)).as("piece"))
      .groupBy("piece")
      .agg(countDistinct("word").as("n_words"),
        sum("cnt").as("total_count"))

  /** Tokenizer fertility per source: subword pieces emitted per
    * whitespace word — the standard tokenizer-fit diagnostic (a
    * fertility near 1 means the vocab covers the domain; high
    * fertility flags a domain the merges never saw, where every word
    * shatters into characters). One tokenize scan + one combinable
    * groupBy(source); word text joins only the vocabulary-sized
    * symbolization table. Output: `(source, n_words, n_bpe_tokens,
    * fertility)`, fertility NULL for a wordless source. */
  def fertility(
      docs: DataFrame, merges: Seq[(String, String)],
      sourceCol: String = "source"): DataFrame =
    graft.core.Parallelism.ensure(docs)
      .select(col(sourceCol).as("source"),
        explode_outer(TextNorm.tokens(col("text"))).as("word"))
      .select(col("source"),
        when(col("word").isNull, lit(0L)).otherwise(lit(1L)).as("nw"),
        when(col("word").isNull, lit(0L))
          .otherwise(size(encodeFast(col("word"), merges)).cast("long")).as("np"))
      .groupBy("source")
      .agg(sum("nw").as("n_words"), sum("np").as("n_bpe_tokens"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        when(col("n_words") > 0,
          round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)).as("fertility"))

  /** [[tokenCounts]] serving a stored merge TABLE (the
    * [[graft.ops.Curation.classifierScore]] train/serve convention):
    * the table is model-sized, so collecting it to build the plan is
    * the broadcast, not a driver-side data loop. */
  def tokenCountsFromModel(docs: DataFrame, merges: DataFrame): DataFrame =
    tokenCounts(docs, collectMerges(merges))

  /** Order a stored merge table back into the servable list. */
  def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges.select("merge_idx", "lhs", "rhs").collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
}
