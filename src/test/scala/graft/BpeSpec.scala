package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Bpe, Sampling}
import SparkSpec.spark.implicits._

class BpeSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // Sennrich-style corpus: low×3 lower×2 newest×5 widest×3.
  // Hand-computed merge order under (count desc, lhs asc, rhs asc):
  //  1. (e,s)  count 8 (ties (s,t) 8; "e" < "s")
  //  2. (es,t) count 8
  //  3. (e,w)  count 5 (five-way tie at 5; "e" smallest lhs)
  //  4. (ew,est) count 5 (tie at 5; "ew" < "l" < "n" < "o")
  private val sennrich = docs(
    1L -> "low low low lower lower",
    2L -> "newest newest newest newest newest widest widest widest")

  test("trainMerges: golden merge order on the Sennrich corpus") {
    val merges = Bpe.trainMerges(sennrich, numMerges = 4)
    assert(merges.map(m => (m.lhs, m.rhs)) ===
      Seq(("e", "s"), ("es", "t"), ("e", "w"), ("ew", "est")))
    assert(merges.map(_.merge_idx) === Seq(1, 2, 3, 4))
    assert(merges.head.pair_count === 8L)
    assert(merges.map(_.merged) === Seq("es", "est", "ew", "ewest"))
  }

  test("trainMerges: minFrequency early-stops on singleton evidence") {
    // (a,b) appears twice, (c,d) once — floor 3 learns nothing
    val d = docs(1L -> "ab ab cd")
    assert(Bpe.trainMerges(d, numMerges = 5, minFrequency = 3L).isEmpty)
    // floor 2 learns exactly the one supported merge then stops
    val one = Bpe.trainMerges(d, numMerges = 5, minFrequency = 2L)
    assert(one.map(m => (m.lhs, m.rhs)) === Seq(("a", "b")))
  }

  test("encodeCol: greedy leftmost non-overlapping merge application") {
    val got = Seq("aaaa", "aaa", "aaaaa", "b").toDF("word")
      .select(col("word"), Bpe.encodeCol(col("word"), Seq(("a", "a"))).as("ps"))
      .as[(String, Seq[String])].collect().toMap
    assert(got("aaaa") === Seq("aa", "aa"))
    assert(got("aaa") === Seq("aa", "a"))
    assert(got("aaaaa") === Seq("aa", "aa", "a"))
    assert(got("b") === Seq("b"))
  }

  test("encodeCol: merged symbols merge again in later ranks") {
    val merges = Seq(("e", "s"), ("es", "t"), ("e", "w"), ("ew", "est"))
    val got = Seq("newest", "widest", "low").toDF("word")
      .select(col("word"), Bpe.encodeCol(col("word"), merges).as("ps"))
      .as[(String, Seq[String])].collect().toMap
    assert(got("newest") === Seq("n", "ewest"))
    assert(got("widest") === Seq("w", "i", "d", "est"))
    assert(got("low") === Seq("l", "o", "w"))
  }

  /** Plain-Scala sequential encode — the naive O(merges·len) direct
    * transcription of encodeCol's replace-chain semantics (one greedy
    * leftmost pass per merge, in rank order). The independent reference
    * both fast paths are judged against, runnable at ANY depth. */
  private def seqEncode(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms = word.map(String.valueOf(_)).toVector
    merges.foreach { case (a, b) =>
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms
  }

  test("encodeFast: parity with encodeCol and seqEncode at oracle depth on trained merges") {
    val merges = Bpe.trainMerges(sennrich, numMerges = 4).map(m => (m.lhs, m.rhs))
    val words = Seq("newest", "widest", "low", "lower", "aaaa", "ewestewest", "x")
    val got = words.toDF("word")
      .select(col("word"),
        Bpe.encodeCol(col("word"), merges).as("spec"),
        Bpe.encodeFast(col("word"), merges).as("fast"))
      .as[(String, Seq[String], Seq[String])].collect()
    got.foreach { case (w, spec, fast) =>
      assert(fast === spec, s"word=$w")
      assert(fast === seqEncode(w, merges), s"word=$w vs seqEncode")
    }
  }

  test("encodeFast: production depth — parity with seqEncode at >=1000 trained merges") {
    // a corpus whose vocabulary supports a deep merge table: many
    // distinct multi-char words; minFrequency=1 admits singleton merges
    val rnd = new scala.util.Random(42)
    val lexicon = (1 to 1200).map(_ => (1 to (6 + rnd.nextInt(8)))
      .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val corpus = docs(lexicon.zipWithIndex.map { case (w, i) =>
      (i.toLong, (w + " ") * (1 + i % 3)) }: _*)
    val merges = Bpe.trainMerges(corpus, numMerges = 1500, minFrequency = 1L)
      .map(m => (m.lhs, m.rhs))
    assert(merges.size >= 1000, s"only ${merges.size} merges learned")
    // encodeCol structurally can't run here; seqEncode is the judge
    val sample = lexicon.take(80) ++ Seq("zzzz", "a", "qqqqqqqqqq")
    val got = sample.toDF("word")
      .select(col("word"), Bpe.encodeFast(col("word"), merges).as("fast"))
      .as[(String, Seq[String])].collect().toMap
    sample.foreach { w =>
      assert(got(w) === seqEncode(w, merges), s"word=$w at depth ${merges.size}")
    }
  }

  test("trainMerges: local and distributed refinement produce identical merges") {
    // sennrich golden corpus
    val local = Bpe.trainMergesLocal(
      Bpe.wordCounts(sennrich).as[(String, Long)].collect(), 4, 2L)
    val dist = Bpe.trainMergesDistributed(sennrich, 4, 2L)
    assert(local === dist)
    // a messier random corpus, deeper, singleton merges admitted
    val rnd = new scala.util.Random(7)
    val messy = docs((1L to 40L).map(i =>
      i -> (1 to 12).map(_ => (1 to (2 + rnd.nextInt(5)))
        .map(_ => ('a' + rnd.nextInt(6)).toChar).mkString).mkString(" ")): _*)
    val ml = Bpe.trainMergesLocal(
      Bpe.wordCounts(messy).as[(String, Long)].collect(), 25, 1L)
    val md = Bpe.trainMergesDistributed(messy, 25, 1L)
    assert(ml === md)
    // and the public entry (local path at this vocab size) agrees
    assert(Bpe.trainMerges(messy, 25, 1L) === md)
  }

  test("trainMerges: forced-distributed dispatch below the vocab guard still matches") {
    // maxLocalVocab=1 forces the distributed loop through the public API
    val viaDist = Bpe.trainMerges(sennrich, 4, maxLocalVocab = 1L)
    assert(viaDist === Bpe.trainMerges(sennrich, 4))
  }

  test("tokenCounts: per-doc subword totals; token-less doc is 0") {
    val merges = Seq(("e", "s"), ("es", "t"))
    val d = docs(1L -> "newest low", 2L -> "...", 3L -> "")
    val got = Bpe.tokenCounts(d, merges).as[(Long, Long)].collect().toMap
    // newest → n e w est (4) + low → l o w (3)
    assert(got === Map(1L -> 7L, 2L -> 0L, 3L -> 0L))
  }

  test("vocab: symbol inventory with word/corpus-weighted counts; total cross-checks tokenCounts") {
    val merges = Bpe.trainMerges(sennrich, numMerges = 4).map(m => (m.lhs, m.rhs))
    // encoded vocab: low→l,o,w  lower→l,o,w,e,r  newest→n,ewest
    // widest→w,i,d,est  (word counts 3/2/5/3)
    val v = Bpe.vocab(sennrich, merges).as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(v === Map(
      "l" -> ((2L, 5L)), "o" -> ((2L, 5L)), "w" -> ((3L, 8L)),
      "e" -> ((1L, 2L)), "r" -> ((1L, 2L)),
      "n" -> ((1L, 5L)), "ewest" -> ((1L, 5L)),
      "i" -> ((1L, 3L)), "d" -> ((1L, 3L)), "est" -> ((1L, 3L))))
    // Σ total_count == the corpus' served token total
    val served = Bpe.tokenCounts(sennrich, merges)
      .agg(sum("n_bpe_tokens")).as[Long].head()
    assert(v.values.map(_._2).sum === served)
  }

  test("fertility: pieces per word by source; wordless source is NULL") {
    val merges = Bpe.trainMerges(sennrich, numMerges = 4).map(m => (m.lhs, m.rhs))
    val d = Seq(
      (1L, "low low low lower lower", "a"),
      (2L, "newest newest newest newest newest widest widest widest", "a"),
      (3L, "!!!", "empty")).toDF("doc_id", "text", "source")
    val got = Bpe.fertility(d, merges)
      .as[(String, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    // encoded pieces: low=3, lower=5, newest=2, widest=4 at counts
    // 3/2/5/3 -> 9+10+10+12 = 41 pieces over 13 words
    assert(got("a") === (("a", 13L, 41L, Some(math.rint(41.0 / 13 * 1e6) / 1e6))))
    assert(got("empty") === (("empty", 0L, 0L, None)))
  }

  test("train/collectMerges: stored model table serves identically") {
    val model = Bpe.train(sennrich, numMerges = 4)
    assert(model.columns.toSeq ===
      Seq("merge_idx", "lhs", "rhs", "merged", "pair_count"))
    // shuffle the stored table's row order; collectMerges must restore rank
    val served = Bpe.tokenCountsFromModel(sennrich, model.orderBy(col("rhs")))
    val direct = Bpe.tokenCounts(sennrich, Bpe.trainMerges(sennrich, 4).map(m => (m.lhs, m.rhs)))
    assert(served.as[(Long, Long)].collect().sorted ===
      direct.as[(Long, Long)].collect().sorted)
  }

  test("packShardsCounts: whitespace-count delegate matches packShards; BPE counts plug in") {
    val d = docs((1L to 20L).map(i => i -> s"alpha beta gamma delta word$i text"): _*)
    val viaCounts = Sampling.packShardsCounts(
      d.select(col("doc_id"), size(graft.core.TextNorm.tokens(col("text"))).cast("long").as("n_tokens")),
      tokenBudget = 10L, buckets = 4)
    val direct = Sampling.packShards(d, tokenBudget = 10L, buckets = 4)
    assert(viaCounts.collect().toSet === direct.collect().toSet)

    val bpeCounts = Bpe.tokenCounts(d, Seq(("a", "l"), ("al", "p")))
      .withColumnRenamed("n_bpe_tokens", "n_tokens")
    val packed = Sampling.packShardsCounts(bpeCounts, tokenBudget = 30L, buckets = 2)
    assert(packed.columns.toSeq ===
      Seq("doc_id", "n_tokens", "pack_bucket", "shard_in_bucket"))
    val total = packed.agg(sum("n_tokens")).as[Long].head()
    val bpeTotal = bpeCounts.agg(sum("n_tokens")).as[Long].head()
    assert(total === bpeTotal)
  }
  test("byte-level mode: zero-OOV on out-of-alphabet text; trainer + encoder parity") {
    val tokU = graft.core.TextNorm.tokensUnicode _
    val d = docs(
      1L -> "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u043f\u0440\u0438\u0432\u0435\u0442",
      2L -> "\u5b66\u4e60\u5b66\u4e60\u5b66\u4e60",
      3L -> "abc abc")
    // byte-level training (unicode tokenizer): local ≡ forced-distributed
    val local = Bpe.trainMerges(d, numMerges = 6, byteLevel = true, tok = tokU)
    val dist = Bpe.trainMergesDistributed(d, numMerges = 6, minFrequency = 2L,
      byteLevel = true, tok = tokU)
    assert(local === dist)
    assert(local.nonEmpty)
    // every learned symbol is hex-pair-composed (the fixed 256 alphabet)
    local.foreach { m =>
      assert(m.merged.matches("[0-9A-F]+") && m.merged.length % 2 == 0, m)
    }
    val merges = local.map(m => (m.lhs, m.rhs))
    // zero-OOV pin: a word the trainer NEVER saw — emoji (4-byte UTF-8),
    // Arabic, an unseen CJK char — still decomposes completely: pieces
    // concatenate back to the word's exact UTF-8 hex, nothing vanishes
    def hexOf(w: String): String =
      w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString
    for (unseen <- Seq("\ud83d\ude00", "\u0645\u0631\u062d\u0628\u0627", "\u597d", "caf\u00e9")) {
      val pieces = Seq(unseen).toDF("w")
        .select(Bpe.encodeFast(col("w"), merges, byteLevel = true).as("p"))
        .as[Seq[String]].head()
      assert(pieces.nonEmpty && pieces.forall(_.matches("[0-9A-F]+")), pieces)
      assert(pieces.mkString === hexOf(unseen), s"bytes vanished for $unseen")
      // the executable-spec column chain agrees piece for piece
      val viaCol = Seq(unseen).toDF("w")
        .select(Bpe.encodeCol(col("w"), merges, byteLevel = true).as("p"))
        .as[Seq[String]].head()
      assert(viaCol === pieces)
    }
    // under CHAR mode the same corpus trains symbols outside any fixed
    // alphabet (raw code points) — the contrast the byte mode closes
    val charMerges = Bpe.trainMerges(d, numMerges = 2, tok = tokU)
    assert(charMerges.exists(m => !m.merged.matches("[0-9A-Fa-f]+")))
    // served counts: byte-level totals count EVERY byte of unseen text
    val counts = Bpe.tokenCounts(docs(9L -> "\ud83d\ude00 \u597d"), merges,
      byteLevel = true, tok = tokU)
      .as[(Long, Long)].collect().toMap
    // 4-byte emoji is stripped by the tokenizer keep-set (not a letter),
    // so the doc is the single Han char: 3 bytes, no merges apply
    assert(counts(9L) === 3L)
  }
}
