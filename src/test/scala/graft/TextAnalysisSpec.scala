package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, round}
import graft.ops.TextAnalysis
import SparkSpec.spark.implicits._

class TextAnalysisSpec extends SparkSpec {

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("tokenStats: counts, distinct counts, chars, ratio") {
    val got = TextAnalysis.tokenStats(docs(1L -> "the cat the"))
      .as[(Long, Int, Int, Int, Double)].head()
    assert(got === ((1L, 3, 2, 11, 3.0 / 11)))
  }

  test("bpeTokenEstimate: ceil(len/4) per word") {
    // "hello"(2) + "hi"(1) + "wonderful"(3)
    val got = TextAnalysis.bpeTokenEstimate(docs(1L -> "hello hi wonderful"))
      .as[(Long, Long)].head()
    assert(got === ((1L, 6L)))
  }

  test("qualityScore: keep requires >=10 tokens and a stopword hit") {
    val long = "the quick brown fox jumps over a lazy dog every day" // 11 toks, has 'the'
    val short = "the cat"
    val noStop = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val got = TextAnalysis.qualityScore(docs(1L -> long, 2L -> short, 3L -> noStop))
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("languageId picks the language with most stopword hits") {
    val got = TextAnalysis.languageId(docs(
      1L -> "the cat is in the house and it is warm",
      2L -> "der Hund ist nicht mit der Katze auf dem Sofa",
      3L -> "el perro es un animal y no es la casa"))
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "es"))
  }

  test("scriptSignals routes by writing system; mixed docs pick the majority; no letters -> none") {
    val got = TextAnalysis.scriptSignals(docs(
      1L -> "plain english text",
      2L -> "привет мир это русский текст",          // Cyrillic
      3L -> "τα ελληνικα γραμματα",                  // Greek
      4L -> "هذا نص عربي قصير",                      // Arabic
      5L -> "这是一段中文文本没有空格",                 // Han
      6L -> "ひらがなとカタカナのテキスト",             // Kana
      7L -> "한국어 텍스트 예시",                      // Hangul
      8L -> "mostly latin words here с парой слов",  // latin-majority mix (21 vs 13)
      9L -> "12345 !!! ...",                         // no letters at all
      10L -> ""))                                    // empty
      .select("doc_id", "dominant_script").as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "latin", 2L -> "cyrillic", 3L -> "greek", 4L -> "arabic",
      5L -> "cjk_han", 6L -> "kana", 7L -> "hangul", 8L -> "latin",
      9L -> "none", 10L -> "none"))
    // fractions are exact counts over n_chars and sum to <= 1
    val r2 = TextAnalysis.scriptSignals(docs(2L -> "привет мир"))
      .select("n_chars", "n_cyrillic", "frac_cyrillic").as[(Long, Long, Double)].head()
    assert(r2 === ((10L, 9L, 0.9)))
    // SQL surface parity
    graft.plans.GraftExtensions.install(spark)
    val d = docs(1L -> "plain english", 2L -> "привет мир")
    d.createOrReplaceTempView("script_docs")
    assert(spark.sql("SELECT doc_id, dominant_script FROM graft_script('script_docs')")
      .as[(Long, String)].collect().toMap ===
      TextAnalysis.scriptSignals(d).select("doc_id", "dominant_script")
        .as[(Long, String)].collect().toMap)
  }

  test("repetitionSignals: dup lines and dominant bigrams are measured; clean docs score 0") {
    val d = docs(
      // 4 non-empty lines, 2 distinct -> dup_line_ratio 0.5;
      // tokens: "spam spam spam spam ok" -> bigrams [spam spam]x3, [spam ok]
      1L -> "spam spam spam spam ok\nx\nx\n\n spam spam spam spam ok ",
      2L -> "all tokens here are different words",  // 1 line, all bigrams unique
      3L -> "")                                     // degenerate: no lines, no bigrams
    val got = TextAnalysis.repetitionSignals(d)
      .as[(Long, Int, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._1 === 4)
    assert(got(1L)._2 === 0.5)
    // doc 1 tokens: spam spam spam spam ok x x spam spam spam spam ok ->
    // 11 bigrams, "spam spam" appears 6x -> 6/11
    assert(got(1L)._3 === math.rint(6.0 / 11 * 1e6) / 1e6)
    assert(got(2L) === ((1, 0.0, math.rint(1.0 / 5 * 1e6) / 1e6)))
    assert(got(3L) === ((0, 0.0, 0.0)))
  }

  test("topNgrams: counts corpus-wide, ranks by count desc then ngram asc") {
    val d = docs(
      1L -> "a b a b c",        // bigrams: a b, b a, a b, b c
      2L -> "a b z z")          // bigrams: a b, b z, z z
    val got = TextAnalysis.topNgrams(d, n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("topNgrams plans a bounded TakeOrdered, not a global sort") {
    val plan = TextAnalysis.topNgrams(docs(1L -> "a b c"), 2, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("vocabCoverage: rank by count desc, cumulative fraction of ALL tokens") {
    // corpus: a x6, b x3, c x1 → total 10
    val d = docs(1L -> "a a a b b c", 2L -> "a a a b")
    val got = TextAnalysis.vocabCoverage(d, k = 2)
      .as[(String, Long, Int, Double)].collect().toSeq
    assert(got === Seq(("a", 6L, 1, 0.6), ("b", 3L, 2, 0.9)))
  }

  test("vocabCoverage: TakeOrdered top-k, tokenize+count pipeline executes once") {
    val d = docs((1L to 50L).map(i => i -> s"w$i common words here"): _*)
    val plan = TextAnalysis.vocabCoverage(d, k = 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the count table is materialized once: both branches read the
    // checkpointed RDD, the corpus tokenizer (Generate) is gone
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("scrubStats counts and redacts emails and urls identically") {
    val d = docs(
      1L -> "mail me at jane.doe+x@example.com or visit https://ex.com/a?b=1 now",
      2L -> "no pii here")
    val got = TextAnalysis.scrubStats(d)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 1 && got(1L)._3 === 1)
    assert(got(2L)._2 === 0 && got(2L)._3 === 0)
    // the redacted text is pinned by its md5
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("mail me at <EMAIL> or visit <URL> now".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(got(1L)._4 === expected)
  }

  test("lmBigramScore: hand-computed add-one bigram logprobs") {
    // corpus: d1=[a b a b], d2=[a b], d3=[c] → V=3
    // c(a,b)=3, c(b,a)=1; hist c(a)=3, c(b)=1
    // lp(a,b)=ln(4/6)=-0.405465 (round 6); lp(b,a)=ln(2/4)=-0.693147
    val d = docs(1L -> "a b a b", 2L -> "a b", 3L -> "c")
    val got = TextAnalysis.lmBigramScore(d)
      .select("doc_id", "n_bigrams", "avg_logprob")
      .as[(Long, Long, Option[Double])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // d1: (2·-0.405465 - 0.693147)/3 = -1.504077/3 = -0.501359
    assert(got(1L) === ((3L, Some(-0.501359))))
    assert(got(2L) === ((1L, Some(-0.405465))))
    assert(got(3L) === ((0L, None))) // no bigram → no score
  }

  test("fingerprints: one window-min per full window, deduplicated") {
    val d = docs(1L -> "a b c d e f g") // 7 tokens, w=5 -> 3 windows
    val n = TextAnalysis.fingerprints(d, w = 5).count()
    assert(n >= 1 && n <= 3) // distinct minima of 3 overlapping windows
    // 4 tokens < w -> no full window -> no fingerprints
    assert(TextAnalysis.fingerprints(docs(2L -> "a b c d"), w = 5).count() === 0)
  }

  test("tokenDrift: zero on identical corpora, symmetric, replicates the smoothed formula") {
    val a = docs(1L -> "alpha beta gamma", 2L -> "alpha beta")
    val b = docs(3L -> "alpha delta", 4L -> "epsilon zeta eta")
    // identical corpora: all three metrics exactly 0
    val same = TextAnalysis.tokenDrift(a, a, buckets = 16)
      .as[(Long, Long, Double, Double, Double)].head()
    assert(same === ((5L, 5L, 0.0, 0.0, 0.0)))
    val ab = TextAnalysis.tokenDrift(a, b, buckets = 16)
      .as[(Long, Long, Double, Double, Double)].head()
    val ba = TextAnalysis.tokenDrift(b, a, buckets = 16)
      .as[(Long, Long, Double, Double, Double)].head()
    // symmetry: kl_ab(a,b) == kl_ba(b,a); js symmetric; bounded by ln 2
    assert(ab._3 === ba._4 && ab._4 === ba._3 && ab._5 === ba._5)
    assert(ab._3 > 0 && ab._5 > 0 && ab._5 <= math.log(2))
    // plain-Scala replication of the exact pipeline: md5 bucket, add-one
    // smoothing over all 16 buckets, 12dp-rounded decimal term sums
    def bucket(t: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(md.take(8), 16) % 16).toInt
    }
    val caM = Seq("alpha", "beta", "gamma", "alpha", "beta").groupBy(bucket).view.mapValues(_.size)
    val cbM = Seq("alpha", "delta", "epsilon", "zeta", "eta").groupBy(bucket).view.mapValues(_.size)
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val (na, nb) = (5.0, 5.0)
    var (kab, kba, js2) = (BigDecimal(0), BigDecimal(0), BigDecimal(0))
    for (i <- 0 until 16) {
      val p = (caM.getOrElse(i, 0) + 1.0) / (na + 16)
      val q = (cbM.getOrElse(i, 0) + 1.0) / (nb + 16)
      val m = (p + q) / 2
      kab += r12(p * math.log(p / q)); kba += r12(q * math.log(q / p))
      js2 += r12(p * math.log(p / m)) + r12(q * math.log(q / m))
    }
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ab._3 === r6(kab.toDouble))
    assert(ab._4 === r6(kba.toDouble))
    assert(ab._5 === r6(js2.toDouble * 0.5))
  }

  test("lmScoreWith: stored-model round-trip, OOV backoff tiers, in-corpus parity with lmBigramScore") {
    val ref = docs(
      1L -> "the cat sat on the mat",
      2L -> "the cat ran on the road")
    // stored-model round-trip: write the three tables, read back, serve
    val m0 = TextAnalysis.lmModel(ref)
    val dir = tempDir("graft-lm-").toString
    m0.pairs.write.parquet(s"$dir/pairs")
    m0.backoff.write.parquet(s"$dir/backoff")
    m0.oov.write.parquet(s"$dir/oov")
    val m = TextAnalysis.LmModel(
      spark.read.parquet(s"$dir/pairs"),
      spark.read.parquet(s"$dir/backoff"),
      spark.read.parquet(s"$dir/oov"))
    // "the cat sat": both bigrams in-model, zero OOV; exact value:
    // lp(the,cat) = ln((2+1)/(4+7)), lp(cat,sat) = ln((1+1)/(2+7)),
    // 6dp-rounded decimals, mean rounded 6dp (V=7 distinct ref tokens)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // engine recipe: mean rounded in exact micro-units (ties away from 0)
    def microMean(parts: Seq[BigDecimal]): Double =
      (BigDecimal((parts.sum * 1000000).toLongExact)
        .setScale(0) / parts.length)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1000000.0
    val want = microMean(Seq(r6(math.log(3.0 / 11)), r6(math.log(2.0 / 9))))
    val scored = TextAnalysis.lmScoreWith(
      docs(10L -> "the cat sat",
           11L -> "the zebra runs",   // seen history "the" + unseen pair; zebra->runs = unseen history
           12L -> "xyz"),             // bigram-less
      m).as[(Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(scored(10L) === ((2L, 0L, Some(want))))
    // doc 11: 2 bigrams, both OOV — (the,zebra) backs off on seen "the",
    // (zebra,runs) hits the uniform OOV floor
    assert(scored(11L)._1 === 2L && scored(11L)._2 === 2L)
    val expect11 = microMean(Seq(r6(math.log(1.0 / 11)), r6(math.log(1.0 / 7))))
    assert(scored(11L)._3 === Some(expect11))
    assert(scored(12L) === ((0L, 0L, None)))
    // scoring the reference against its own model reproduces the
    // self-trained operator (zero OOV by construction)
    val self = TextAnalysis.lmScoreWith(ref, m0)
    assert(self.filter($"n_oov" =!= 0).count() === 0)
    assert(self.select("doc_id", "n_bigrams", "avg_logprob")
      .as[(Long, Long, Option[Double])].collect().toSet ===
      TextAnalysis.lmBigramScore(ref)
        .as[(Long, Long, Option[Double])].collect().toSet)
  }

  test("lm3ScoreWith: stupid-backoff tiers hand-computed, round-trip, self-scoring never backs off") {
    val ref = docs(
      1L -> "the cat sat on the mat",
      2L -> "the cat ran on the road")
    // ref counts (N = 12 tokens, V = 7):
    //   tri c123 all 1; c12(the,cat) = 2, c12(on,the) = 2, rest 1
    //   bi  c23(the,cat) = 2, c23(on,the) = 2, rest 1; c2(the) = 4, c2(cat) = 2, c2(sat) = c2(on→2)...
    //   uni c3(the) = 4
    val m0 = TextAnalysis.lm3Model(ref)
    // stored-model round-trip: write the four tables, read back, serve
    val dir = tempDir("graft-lm3-").toString
    m0.tri.write.parquet(s"$dir/tri"); m0.bi.write.parquet(s"$dir/bi")
    m0.uni.write.parquet(s"$dir/uni"); m0.oov.write.parquet(s"$dir/oov")
    val m = TextAnalysis.Lm3Model(
      spark.read.parquet(s"$dir/tri"), spark.read.parquet(s"$dir/bi"),
      spark.read.parquet(s"$dir/uni"), spark.read.parquet(s"$dir/oov"))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def microMean(parts: Seq[BigDecimal]): Double =
      (BigDecimal((parts.sum * 1000000).toLongExact).setScale(0) / parts.length)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1000000.0
    val a = 0.4; val a2 = a * a // the exact lit(alpha)/lit(alpha*alpha) doubles
    val scored = TextAnalysis.lm3ScoreWith(
      docs(10L -> "the cat sat on",   // both trigrams in-model
           11L -> "the cat jumped",   // tri miss → bi miss → OOV unigram floor
           12L -> "cat sat the road", // tri miss → uni tier; tri miss → bi tier
           13L -> "xy z"),            // trigram-less
      m).as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 10: lp3(the,cat,sat) = ln(1/2), lp3(cat,sat,on) = ln(1/1) = 0
    assert(scored(10L) === ((2L, 0L, 0L,
      Some(microMean(Seq(r6(math.log(0.5)), r6(0.0)))))))
    // doc 11: (the,cat,jumped) falls through every tier → ln(α²·1/(N+V))
    assert(scored(11L) === ((1L, 1L, 1L,
      Some(microMean(Seq(r6(math.log(a2 * (1.0 / 19)))))))))
    // doc 12: (cat,sat,the) → unigram tier ln(α²·(4+1)/(N+V));
    //         (sat,the,road) → bigram tier ln(α·c23(the,road)/c2(the)) = ln(α·1/4)
    assert(scored(12L) === ((2L, 2L, 0L,
      Some(microMean(Seq(
        r6(math.log(a2 * (5.0 / 19))),
        r6(math.log(a * (1.0 / 4)))))))))
    assert(scored(13L) === ((0L, 0L, 0L, None)))
    // self-scoring: every ref trigram is in the trigram tier
    val self = TextAnalysis.lm3ScoreWith(ref, m0)
    assert(self.filter($"n_bo" =!= 0 || $"n_oov" =!= 0).count() === 0)
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    ref.createOrReplaceTempView("lm3_ref")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_lm3_score('lm3_ref', 'lm3_ref')")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet ===
      TextAnalysis.lm3ScoreAgainst(ref, ref)
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSet)
  }

  test("lmnModel order 5: four backoff tiers hand-computed; order 3 ≡ lm3Model") {
    val ref = docs(
      1L -> "a b c d e f",
      2L -> "a b c d x y")
    // counts: c5 all 1, h5(a,b,c,d) = 2; c4(a,b,c,d) = 2, h4(b,c,d) = 2;
    // c2(d,e) = 1, h2(d) = 2; unigrams N = 12, V = 8 → N+V = 20, c1(e) = 1
    val m = TextAnalysis.lmnModel(ref, 5)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def microMean(parts: Seq[BigDecimal]): Double =
      (BigDecimal((parts.sum * 1000000).toLongExact).setScale(0) / parts.length)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1000000.0
    val a = 0.4; val a2 = a * a; val a3 = a * a * a; val a4 = a * a * a * a
    val scored = TextAnalysis.lmnScoreWith(
      docs(10L -> "a b c d e",    // 5-gram tier: ln(1/2)
           11L -> "q a b c d x",  // 4-gram tier ln(α·2/2) then 5-gram tier ln(1/2)
           12L -> "q q q q e",    // falls to the unigram tier ln(α⁴·2/20)
           13L -> "q q q q qq",   // falls through everything → OOV floor
           14L -> "a b c",        // under 5 tokens
           15L -> "q q q d e"),   // bigram tier: ln(α³·1/2)
      m).as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(scored(10L) === ((1L, 0L, 0L, Some(microMean(Seq(r6(math.log(0.5))))))))
    assert(scored(11L) === ((2L, 1L, 0L,
      Some(microMean(Seq(r6(math.log(a * 1.0)), r6(math.log(0.5))))))))
    assert(scored(12L) === ((1L, 1L, 0L,
      Some(microMean(Seq(r6(math.log(a4 * (2.0 / 20)))))))))
    assert(scored(13L) === ((1L, 1L, 1L,
      Some(microMean(Seq(r6(math.log(a4 * (1.0 / 20)))))))))
    assert(scored(14L) === ((0L, 0L, 0L, None)))
    assert(scored(15L) === ((1L, 1L, 0L,
      Some(microMean(Seq(r6(math.log(a3 * (1.0 / 2)))))))))
    // self-scoring never backs off at the full order
    val self = TextAnalysis.lmnScoreWith(ref, m)
    assert(self.filter($"n_bo" =!= 0 || $"n_oov" =!= 0).count() === 0)
    // the order-3 instantiation IS lm3: same scores on a mixed corpus
    val mixed = docs(20L -> "a b c d e f", 21L -> "a b q c d", 22L -> "zz qq a")
    val via3 = TextAnalysis.lm3ScoreWith(mixed, TextAnalysis.lm3Model(ref))
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet
    val viaN = TextAnalysis.lmnScoreWith(mixed, TextAnalysis.lmnModel(ref, 3))
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet
    assert(viaN === via3)
    // SQL surface parity at order 5
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    ref.createOrReplaceTempView("lmn_ref")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_lmn_score('lmn_ref', 'lmn_ref', 5)")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet ===
      TextAnalysis.lmnScoreWith(ref, m)
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSet)
  }

  test("knModel order 2: interpolated Kneser-Ney hand-computed; tiers sum to exactly 1") {
    // ref "a b a b c": bigrams (a,b)x2 (b,a)x1 (b,c)x1; continuation
    // counts cc1(a)=cc1(b)=cc1(c)=1, U=3 distinct bigrams, V=3
    val ref = docs(1L -> "a b a b c")
    val m = TextAnalysis.knModel(ref, 2) // D = 0.75
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def r12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    def microMean(parts: Seq[BigDecimal]): Double =
      (BigDecimal((parts.sum * 1000000).toLongExact).setScale(0) / parts.length)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 1000000.0
    val D = 0.75
    // unigram: p1(w) = max(1−D,0)/3 + (D·3/3)·(1/(3+1)), same for a/b/c
    val p1 = r12(math.max(1 - D, 0.0) / 3 + (D * 3 / 3) * (1.0 / (3 + 1.0)))
    val pUnk = (D * 3 / 3) * (1.0 / (3 + 1.0)) // = 0.1875
    val uni = m.uni.as[(String, java.math.BigDecimal)].collect()
      .map { case (w, lp) => w -> lp.doubleValue }.toMap
    assert(uni.keySet === Set("a", "b", "c"))
    uni.values.foreach(lp => assert(BigDecimal(lp) === r6(math.log(p1))))
    assert(m.unk.as[java.math.BigDecimal].head().doubleValue ===
      r6(math.log(pUnk)).toDouble)
    // top tier: p2(a,b) = (2−D)/2 + (D·1/2)·p1; p2(b,·) = (1−D)/2 + (D·2/2)·p1
    val tier2 = m.tiers.head.as[(String, String, java.math.BigDecimal)].collect()
      .map { case (w1, w2, lp) => (w1, w2) -> lp.doubleValue }.toMap
    val p2ab = r12((2 - D) / 2 + (D * 1 / 2) * p1)
    val p2b_ = r12((1 - D) / 2 + (D * 2 / 2) * p1)
    assert(BigDecimal(tier2(("a", "b"))) === r6(math.log(p2ab)))
    assert(BigDecimal(tier2(("b", "a"))) === r6(math.log(p2b_)))
    assert(BigDecimal(tier2(("b", "c"))) === r6(math.log(p2b_)))
    // backoff weights: λ(a) = D·1/2, λ(b) = D·2/2
    val bows = m.bows.head.as[(String, java.math.BigDecimal)].collect()
      .map { case (w, bo) => w -> bo.doubleValue }.toMap
    assert(BigDecimal(bows("a")) === r6(math.log(D * 1 / 2)))
    assert(BigDecimal(bows("b")) === r6(math.log(D * 2 / 2)))
    // NORMALIZATION — the property stupid backoff lacks. Unigram tier:
    // Σ_vocab p1 + p_unk = 1; context b: stored + λ(b)·(p1(b) + p_unk) = 1
    assert(math.abs(uni.values.map(math.exp).sum + pUnk - 1.0) < 2e-6)
    val givenB = math.exp(tier2(("b", "a"))) + math.exp(tier2(("b", "c"))) +
      math.exp(bows("b")) * (math.exp(uni("b")) + pUnk)
    assert(math.abs(givenB - 1.0) < 2e-6, s"sum p(.|b) = $givenB")
    // serving: stored bigrams, backoff via bow, unseen-context bow=1, OOV floor
    val scored = TextAnalysis.knScoreWith(docs(
      10L -> "a b c",  // (a,b) and (b,c) both stored
      11L -> "b b",    // miss → bo2(b) + lp1(b)
      12L -> "a z",    // OOV → bo2(a) + lp_unk
      13L -> "z b",    // unseen context z: bow = 1 (log 0) → lp1(b)
      14L -> "a"),     // under order
      m).as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(scored(10L) === ((2L, 0L, 0L,
      Some(microMean(Seq(r6(math.log(p2ab)), r6(math.log(p2b_))))))))
    assert(scored(11L) === ((1L, 1L, 0L,
      Some(microMean(Seq(r6(math.log(D * 2 / 2)) + r6(math.log(p1))))))))
    assert(scored(12L) === ((1L, 1L, 1L,
      Some(microMean(Seq(r6(math.log(D * 1 / 2)) + r6(math.log(pUnk))))))))
    assert(scored(13L) === ((1L, 1L, 0L,
      Some(microMean(Seq(r6(math.log(p1))))))))
    assert(scored(14L) === ((0L, 0L, 0L, None)))
  }

  test("knModel orders 3 and 5: self-scoring stays on the top tier; stored-model round-trip") {
    val ref = docs(
      1L -> "the cat sat on the mat",
      2L -> "the cat ran on the road")
    val m3 = TextAnalysis.knModel(ref, 3)
    val self = TextAnalysis.knScoreWith(ref, m3)
    assert(self.filter($"n_bo" =!= 0 || $"n_oov" =!= 0).count() === 0)
    assert(self.filter($"avg_logprob".isNull).count() === 0)
    // backoff path engages on mixed text and still yields finite scores
    val mixed = TextAnalysis.knScoreWith(
      docs(20L -> "the cat sat on a zebra", 21L -> "qq zz ww"), m3)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(mixed(20L)._2 > 0L)                 // some backoffs
    assert(mixed(21L) === ((1L, 1L, 1L)))      // full OOV trigram
    // order 5 is the same parameterized path (the KenLM deployment order)
    val m5 = TextAnalysis.knModel(docs(1L -> "a b c d e f g a b c d e"), 5)
    assert(m5.tiers.size === 4 && m5.bows.size === 4)
    val s5 = TextAnalysis.knScoreWith(docs(30L -> "a b c d e"), m5)
      .as[(Long, Long, Long, Long, Option[Double])].head()
    assert(s5._2 === 1L && s5._3 === 0L && s5._5.isDefined)
    // stored-model round-trip: all 2(N−1)+2 tables through parquet
    val dir = tempDir("graft-kn-").toString
    m3.tiers.zipWithIndex.foreach { case (t, i) => t.write.parquet(s"$dir/t$i") }
    m3.bows.zipWithIndex.foreach { case (b, i) => b.write.parquet(s"$dir/b$i") }
    m3.uni.write.parquet(s"$dir/uni"); m3.unk.write.parquet(s"$dir/unk")
    val back = TextAnalysis.KnModel(3,
      m3.tiers.indices.map(i => spark.read.parquet(s"$dir/t$i")),
      spark.read.parquet(s"$dir/uni"),
      m3.bows.indices.map(i => spark.read.parquet(s"$dir/b$i")),
      spark.read.parquet(s"$dir/unk"))
    val viaStored = TextAnalysis.knScoreWith(ref, back)
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet
    assert(viaStored === TextAnalysis.knScoreWith(ref, m3)
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet)
    // SQL surface parity, both arities
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    ref.createOrReplaceTempView("kn_ref")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_kn_score('kn_ref', 'kn_ref')")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet ===
      TextAnalysis.knScoreWith(ref, m3)
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSet)
    assert(SparkSpec.spark.sql("SELECT * FROM graft_kn_score('kn_ref', 'kn_ref', 2)")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet ===
      TextAnalysis.knScoreWith(ref, TextAnalysis.knModel(ref, 2))
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSet)
  }

  test("gopherQuality: each rule trips on its engineered doc; good prose keeps") {
    val good = (1 to 10).map(_ => "the quick brown fox jumps over that lazy dog")
      .mkString(" ") // 90 words, stopword-rich, all-alpha
    val d = docs(
      1L -> good,
      2L -> "short text with the and of",                       // word count
      3L -> (Seq.fill(60)("floccinaucinihilipilification").mkString(" ") + " the of"), // word len
      4L -> (good + " " + Seq.fill(20)("#").mkString(" ")),     // symbols
      5L -> "- the first\n- the second\n- the third",           // bullets
      6L -> "the start...\nthe middle…\nthe end...",            // ellipses
      7L -> (Seq.fill(60)("12345").mkString(" ") + " the of"),  // alpha frac
      8L -> Seq.fill(60)("nostopwords here today").mkString(" "), // stopwords
      9L -> "")                                                  // degenerate
    val got = TextAnalysis.gopherQuality(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("r_word_count"))
    assert(!got(3L).getAs[Boolean]("r_word_len") && got(3L).getAs[Boolean]("r_word_count"))
    assert(!got(4L).getAs[Boolean]("r_symbol") && got(4L).getAs[Boolean]("r_stop"))
    assert(!got(5L).getAs[Boolean]("r_bullet") && got(5L).getAs[Double]("bullet_line_frac") === 1.0)
    assert(!got(6L).getAs[Boolean]("r_ellipsis") && got(6L).getAs[Double]("ellipsis_line_frac") === 1.0)
    assert(!got(7L).getAs[Boolean]("r_alpha") && got(7L).getAs[Boolean]("r_word_count"))
    assert(!got(8L).getAs[Boolean]("r_stop") && got(8L).getAs[Long]("n_stop") === 0L)
    // doc 9: wordless — null word stats, word rules false, line fracs 0
    assert(got(9L).getAs[Long]("n_words") === 0L)
    assert(got(9L).isNullAt(got(9L).fieldIndex("mean_word_len")))
    assert(!got(9L).getAs[Boolean]("r_word_count") && !got(9L).getAs[Boolean]("r_alpha"))
    assert(got(9L).getAs[Double]("bullet_line_frac") === 0.0)
    assert(!got(9L).getAs[Boolean]("keep"))
  }

  test("SQL surface: graft_token_drift TVF matches the Column API, both arities") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    val a = docs(1L -> "alpha beta gamma", 2L -> "alpha beta")
    val b = docs(3L -> "alpha delta", 4L -> "epsilon zeta eta")
    a.createOrReplaceTempView("drift_a")
    b.createOrReplaceTempView("drift_b")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_token_drift('drift_a', 'drift_b', 16)")
      .as[(Long, Long, Double, Double, Double)].head() ===
      TextAnalysis.tokenDrift(a, b, buckets = 16)
        .as[(Long, Long, Double, Double, Double)].head())
    // default arity = 1024 buckets
    assert(SparkSpec.spark.sql("SELECT * FROM graft_token_drift('drift_a', 'drift_b')")
      .as[(Long, Long, Double, Double, Double)].head() ===
      TextAnalysis.tokenDrift(a, b)
        .as[(Long, Long, Double, Double, Double)].head())
    // non-literal buckets rejected loudly at plan time
    val err = intercept[Exception](
      SparkSpec.spark.sql("SELECT * FROM graft_token_drift('drift_a', 'drift_b', 8 + 8)"))
    assert(err.getMessage.contains("integer literal") ||
      err.getMessage.toLowerCase.contains("unresolved"), err.getMessage)
  }

  test("perplexityBuckets: per-source terciles follow score order; stored thresholds serve; unscorable -> tail") {
    val ref = docs(
      100L -> "the cat sat on the mat and the cat sat again",
      101L -> "the dog ran to the park and the dog ran back")
    val model = TextAnalysis.lmModel(ref)
    // one source, six docs spanning reference-like to gibberish, plus
    // a doc with no bigrams (unscorable)
    val d = Seq(
      (1L, "the cat sat on the mat", "src0"),
      (2L, "the dog ran to the park", "src0"),
      (3L, "the cat ran to the mat", "src0"),
      (4L, "mat the on sat cat the", "src0"),
      (5L, "zz qq ww ee rr tt", "src0"),
      (6L, "totally unseen gibberish tokens here", "src0"),
      (7L, "solo", "src0")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.perplexityBuckets(d, model)
      .as[(Long, String, Option[Double], String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(7L) === ((None, "tail")), "no bigrams -> tail")
    // buckets must be monotone in the score: every head score >= every
    // middle score >= every tail score (within the one source)
    val byBucket = got.collect { case (_, (Some(s), b)) => b -> s }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for (h <- byBucket.getOrElse("head", Nil); m <- byBucket.getOrElse("middle", Nil))
      assert(h >= m, s"head $h < middle $m")
    for (m <- byBucket.getOrElse("middle", Nil); t <- byBucket.getOrElse("tail", Nil))
      assert(m >= t, s"middle $m < tail $t")
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    // serving from a stored threshold artifact is row-identical
    val storedTh = TextAnalysis.lmScoreWith(d, model)
      .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      .where(col("avg_logprob").isNotNull)
      .groupBy("source")
      .agg(round(expr("percentile(avg_logprob, 0.67)"), 6).as("t_head"),
        round(expr("percentile(avg_logprob, 0.33)"), 6).as("t_mid"))
      .cache()
    val served = TextAnalysis.perplexityBuckets(d, model, thresholds = Some(storedTh))
      .as[(Long, String, Option[Double], String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(served === got)
    storedTh.unpersist()
    ()
  }

  test("perplexityBucketsN: order-3 instantiation ≡ perplexityBuckets3; order-5 buckets monotone") {
    val ref = docs(
      100L -> "the cat sat on the mat and the cat sat again today",
      101L -> "the dog ran to the park and the dog ran back today")
    val d = Seq(
      (1L, "the cat sat on the mat and the cat", "src0"),
      (2L, "the dog ran to the park and the dog", "src0"),
      (3L, "mat the on sat cat the park to ran", "src0"),
      (4L, "zz qq ww ee rr tt yy uu ii", "src0"),
      (5L, "tiny", "src0")).toDF("doc_id", "text", "source")
    val via3 = TextAnalysis.perplexityBuckets3(d, TextAnalysis.lm3Model(ref))
      .as[(Long, String, Option[Double], String)].collect().toSet
    val viaN = TextAnalysis.perplexityBucketsN(d, TextAnalysis.lmnModel(ref, 3))
      .as[(Long, String, Option[Double], String)].collect().toSet
    assert(viaN === via3)
    val got5 = TextAnalysis.perplexityBucketsN(d, TextAnalysis.lmnModel(ref, 5))
      .as[(Long, String, Option[Double], String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got5(5L) === ((None, "tail")), "sub-order doc -> tail")
    val byBucket = got5.values.collect { case (Some(s), b) => b -> s }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for (h <- byBucket.getOrElse("head", Nil); m <- byBucket.getOrElse("middle", Nil))
      assert(h >= m, s"head $h < middle $m")
    for (m <- byBucket.getOrElse("middle", Nil); t <- byBucket.getOrElse("tail", Nil))
      assert(m >= t, s"middle $m < tail $t")
  }

  test("perplexityBucketsKn: KN scores drive the same tercile rule; stored thresholds serve") {
    val ref = docs(
      100L -> "the cat sat on the mat and the cat sat again today",
      101L -> "the dog ran to the park and the dog ran back today")
    val d = Seq(
      (1L, "the cat sat on the mat and the cat", "src0"),
      (2L, "the dog ran to the park and the dog", "src0"),
      (3L, "mat the on sat cat the park to ran", "src0"),
      (4L, "zz qq ww ee rr tt yy uu ii", "src0"),
      (5L, "tiny", "src0")).toDF("doc_id", "text", "source")
    val m = TextAnalysis.knModel(ref, 3)
    val got = TextAnalysis.perplexityBucketsKn(d, m)
      .as[(Long, String, Option[Double], String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(5L) === ((None, "tail")), "sub-order doc -> tail")
    // scores are the KN scorer's, buckets monotone in them
    val scores = TextAnalysis.knScoreWith(d, m)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r._5).toMap
    got.foreach { case (id, (s, _)) => assert(s === scores(id)) }
    val byBucket = got.values.collect { case (Some(s), b) => b -> s }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    for (h <- byBucket.getOrElse("head", Nil); m0 <- byBucket.getOrElse("middle", Nil))
      assert(h >= m0, s"head $h < middle $m0")
    for (m0 <- byBucket.getOrElse("middle", Nil); t <- byBucket.getOrElse("tail", Nil))
      assert(m0 >= t, s"middle $m0 < tail $t")
    // the train/serve split: a stored thresholds table reproduces the
    // inline buckets exactly
    val th = TextAnalysis.perplexityBucketsKn(d, m)
      .where($"avg_logprob".isNotNull).groupBy("source")
      .agg(round(expr("percentile(avg_logprob, 0.67)"), 6).as("t_head"),
        round(expr("percentile(avg_logprob, 0.33)"), 6).as("t_mid"))
    val served = TextAnalysis.perplexityBucketsKn(d, m, thresholds = Some(th))
      .as[(Long, String, Option[Double], String)].collect().toSet
    assert(served === TextAnalysis.perplexityBucketsKn(d, m)
      .as[(Long, String, Option[Double], String)].collect().toSet)
  }

  test("entropySignals: hand-computed char entropy; degenerate and uniform extremes") {
    val d = docs(
      1L -> "aaaa",   // one symbol: H = 0
      2L -> "abab",   // two symbols, uniform: H = 1 bit
      3L -> "abcd",   // four symbols, uniform: H = 2 bits
      4L -> "aab")    // H = 2/3·log2(3/2) + 1/3·log2(3) ≈ 0.918295
    val got = TextAnalysis.entropySignals(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 1L, 0.0)))
    assert(got(2L) === ((2L, 4L, 2L, 1.0)))
    assert(got(3L) === ((3L, 4L, 4L, 2.0)))
    assert(got(4L)._3 === 2L)
    // 6dp-rounded terms: 0.389975 + 0.528321
    assert(math.abs(got(4L)._4 - 0.918296) < 1e-9, got(4L)._4.toString)
  }

  test("compressionSignals: repetitive text compresses far below varied text; ratio bounds") {
    val rep = "spam spam spam " * 50
    val varied = (0 until 150).map(i => f"w${(i * 7919) % 99991}%05dx").mkString(" ")
    val d = docs(1L -> rep, 2L -> varied)
    val got = TextAnalysis.compressionSignals(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === rep.length.toLong) // ASCII: bytes == chars
    assert(got(1L)._4 < 0.1, s"repetitive ratio ${got(1L)._4} should be tiny")
    assert(got(2L)._4 > got(1L)._4 * 3, "varied text must compress much worse")
    assert(got(2L)._4 <= 1.1 && got(1L)._4 > 0.0)
    // deterministic: same bytes -> same deflated size on re-run
    val again = TextAnalysis.compressionSignals(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("compressionProxy orders text shapes like real DEFLATE; exact counts; short docs 0") {
    val rep = "spam spam spam " * 50        // boilerplate loop
    // natural-ish prose with recurring phrases but varying content —
    // some 8-grams repeat (function words), most don't
    val natural = (1 to 40).map(i =>
      s"the cat number $i sat on the mat and looked at the open door").mkString(" ")
    val rnd = new scala.util.Random(7)
    val random = (1 to 300).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val d = docs(1L -> rep, 2L -> natural, 3L -> random, 4L -> "tiny")
    val proxy = TextAnalysis.compressionProxy(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // exact gram accounting: the repeated text is globally 5-periodic
    // ("spam "), so every 8-gram equals one of the 5 phase-distinct grams
    assert(proxy(1L)._2 === (rep.length - 7).toLong)
    assert(proxy(1L)._3 === 5L)
    // below-k docs: no gram positions, ratio 0 by convention
    assert(proxy(4L) === ((4L, 0L, 0L, 0.0)))
    // ordering agreement with the spec-gated DEFLATE signal
    val deflate = TextAnalysis.compressionSignals(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._4).toMap
    assert(proxy(1L)._4 < proxy(2L)._4 && proxy(2L)._4 < proxy(3L)._4)
    assert(deflate(1L) < deflate(2L) && deflate(2L) < deflate(3L))
    // random text: nearly all grams distinct
    assert(proxy(3L)._4 > 0.95)
  }

  test("cmsTopTokens: wide sketch is exact and totally ordered; narrow never undercounts") {
    val d = docs(1L -> "aa bb aa cc", 2L -> "aa bb dd", 3L -> "aa xx yy zz")
    val wide = TextAnalysis.cmsTopTokens(d, depth = 4, width = 4096, k = 10).collect()
    assert(wide.length === 7)
    wide.foreach(r => assert(r.getAs[Long]("est") === r.getAs[Long]("exact")))
    assert(wide.head.getAs[String]("word") === "aa") // 4 occurrences
    assert(wide.head.getAs[Long]("est") === 4L)
    assert(wide(1).getAs[String]("word") === "bb") // 2, then the five 1s by word asc
    assert(wide.drop(2).map(_.getAs[String]("word")).toSeq ===
      Seq("cc", "dd", "xx", "yy", "zz"))
    assert(wide.map(_.getAs[Long]("rank")).toSeq === (1L to 7L))
    // 7 tokens into 2x2 counters MUST collide for at least 3 tokens
    // (at most one singleton bucket per row per side of the min)
    val narrow = TextAnalysis.cmsTopTokens(d, depth = 2, width = 2, k = 10).collect()
    narrow.foreach(r => assert(r.getAs[Long]("est") >= r.getAs[Long]("exact")))
    assert(narrow.count(_.getAs[Long]("overcount") > 0) >= 3)
  }

  test("cmsCounters: fixed table size, total mass = token occurrences per row") {
    val d = docs(1L -> "aa bb aa cc", 2L -> "aa bb dd")
    val c = TextAnalysis.cmsCounters(d, depth = 3, width = 8)
    assert(c.count() <= 3 * 8)
    val perRow = c.groupBy("r").agg(expr("sum(c)").as("m")).as[(Int, Long)]
      .collect().toMap
    assert(perRow === Map(0 -> 7L, 1 -> 7L, 2 -> 7L)) // every row sees all 7 occurrences
  }

  test("lengthOutliers: MAD = 0 edge — any deviation from the median flags") {
    val d = docs(1L -> "a a", 2L -> "b b", 3L -> "c c", 4L -> "d d",
      5L -> ("x " * 50).trim)
    val got = TextAnalysis.lengthOutliers(d).as[(Long, Int, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 === 2.0 && got(1L)._4 === 0.0)
    assert((1L to 4L).forall(i => !got(i)._5))
    assert(got(5L)._5)
  }

  test("lengthOutliers: exact median/MAD and the 3-sigma-equivalent cut") {
    // lengths 2,4,6,8,40: med=6, |dev| sorted [0,2,2,4,34] -> mad=2,
    // cut = 3*1.4826*2 = 8.8956 -> only the 40-token doc flags
    val d = docs(1L -> "a a", 2L -> ("b " * 4).trim, 3L -> ("c " * 6).trim,
      4L -> ("d " * 8).trim, 5L -> ("e " * 40).trim)
    val got = TextAnalysis.lengthOutliers(d).as[(Long, Int, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 === 6.0 && got(1L)._4 === 2.0)
    assert(got.values.count(_._5) === 1 && got(5L)._5)
  }

  test("blocklistSignals: counts, fraction, C4 any-hit drop; tokenless doc keeps") {
    val d = docs(
      1L -> "win the lottery now visit our casino today",   // 2 of 8 blocked
      2L -> "a perfectly ordinary document about cats",
      3L -> "!!! ...")                                      // tokenless
    val got = TextAnalysis.blocklistSignals(d)
      .as[(Long, Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 8L, 2L, 0.25, false)))
    assert(got(2L) === ((2L, 6L, 0L, 0.0, true)))
    assert(got(3L) === ((3L, 0L, 0L, 0.0, true)))
  }

  test("blocklistSignals: list entries match normalized tokens (case/punct-folded text)") {
    // "CASINO!" normalizes to token "casino"
    val d = docs(1L -> "CASINO! Jackpot?")
    val got = TextAnalysis.blocklistSignals(d)
      .as[(Long, Long, Long, Double, Boolean)].head()
    assert(got === ((1L, 2L, 2L, 1.0, false)))
  }

  test("blocklistSignalsFrom: table face is identical to the literal face") {
    val d = docs(
      1L -> "win the lottery now visit our casino today",
      2L -> "a perfectly ordinary document about cats",
      3L -> "!!! ...",
      4L -> "spam spam spam eggs")
    val termDf = graft.ops.Blocklist.default.toDF("term")
    val lit = TextAnalysis.blocklistSignals(d).orderBy("doc_id").collect().toSeq
    val tab = TextAnalysis.blocklistSignalsFrom(d, termDf).orderBy("doc_id").collect().toSeq
    assert(lit === tab)
  }

  test("piiSignals: engineered matches with the exact redaction hash") {
    val text = "Call (555) 123-4567 or 555-123-4567. SSN 123-45-6789, host 10.0.0.1."
    val redacted = "Call <PHONE> or <PHONE>. SSN <SSN>, host <IP>."
    val got = TextAnalysis.piiSignals(docs(1L -> text))
      .as[(Long, Int, Int, Int, String)].head()
    val wantHash = java.security.MessageDigest.getInstance("MD5")
      .digest(redacted.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === ((1L, 1, 1, 2, wantHash)))
  }

  test("piiSignals: no false positives on versions, dates, and long digit runs") {
    val d = docs(1L -> "v1.2.3 released 2024-10-05; build 12345.6789.0.1234; range 100-2000-4000")
    val got = TextAnalysis.piiSignals(d).as[(Long, Int, Int, Int, String)].head()
    assert((got._2, got._3, got._4) === ((0, 0, 0)))
  }

  test("mojibakeSignals: damaged fixtures count, clean text is all-zero") {
    val latin1Damaged = new String("Caf\u00e9 d\u00e9j\u00e0 vu".getBytes("UTF-8"), "ISO-8859-1")
    val cp1252Damaged = new String("don\u2019t \u2014 \u201cquoted\u201d".getBytes("UTF-8"), "windows-1252")
    val d = docs(1L -> latin1Damaged, 2L -> cp1252Damaged,
      3L -> "clean caf\u00e9 na\u00efve text", 4L -> ("broken \uFFFD char"))
    val got = TextAnalysis.mojibakeSignals(d)
      .as[(Long, Int, Int, Int, Int, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === 3 && got(1L)._6)           // three A-tilde pairs
    assert(got(2L)._3 >= 3 && got(2L)._6)            // three cp1252 'a-circ euro' pairs
    assert(got(3L) === ((3L, 0, 0, 0, 0, false)))
    assert(got(4L)._5 === 1 && got(4L)._6)
  }

  test("fixMojibake: repairs latin1- and cp1252-misdecoded text, leaves clean and unrepairable text alone") {
    val cafe = "Caf\u00e9 d\u00e9j\u00e0 vu"
    val quotes = "don\u2019t \u2014 \u201cquoted\u2019"
    val latin1Damaged = new String(cafe.getBytes("UTF-8"), "ISO-8859-1")
    val cp1252Damaged = new String(quotes.getBytes("UTF-8"), "windows-1252")
    val clean = "clean caf\u00e9 na\u00efve text"
    val unrepairable = "flagged \u00c3\u00a9 but also \u4e2d\u6587" // >U+00FF chars, bytes unrecoverable
    // U+201D's UTF-8 tail byte 0x9D is an UNDEFINED cp1252 slot: Java's
    // decoder yields U+FFFD, the byte is gone, and the guard must refuse
    val lostByte = new String("closing \u201d quote".getBytes("UTF-8"), "windows-1252")
    val d = docs(1L -> latin1Damaged, 2L -> cp1252Damaged, 3L -> clean, 4L -> unrepairable,
      5L -> lostByte)
    val got = d.select(col("doc_id"), TextAnalysis.fixMojibake(col("text")).as("t"))
      .as[(Long, String)].collect().map(r => r._1 -> r._2).toMap
    assert(got(1L) === cafe)
    assert(got(2L) === quotes)
    assert(got(3L) === clean)
    assert(got(4L) === unrepairable)
    assert(got(5L) === lostByte)
  }

  test("SQL surface: graft_blocklist / graft_pii / graft_mojibake TVFs match the Column API") {
    graft.plans.GraftExtensions.install(spark)
    val d = docs(
      1L -> "win the lottery now visit our casino today",
      2L -> "Call (555) 123-4567, SSN 123-45-6789",
      3L -> new String("Caf\u00e9".getBytes("UTF-8"), "ISO-8859-1"))
    d.createOrReplaceTempView("tvf_docs")
    graft.ops.Blocklist.default.toDF("term").createOrReplaceTempView("tvf_terms")
    assert(spark.sql("SELECT * FROM graft_blocklist('tvf_docs')").collect().toSet ===
      TextAnalysis.blocklistSignals(d).collect().toSet)
    assert(spark.sql("SELECT * FROM graft_blocklist('tvf_docs', 'tvf_terms')").collect().toSet ===
      TextAnalysis.blocklistSignalsFrom(d, graft.ops.Blocklist.default.toDF("term")).collect().toSet)
    assert(spark.sql("SELECT * FROM graft_pii('tvf_docs')").collect().toSet ===
      TextAnalysis.piiSignals(d).collect().toSet)
    assert(spark.sql("SELECT * FROM graft_mojibake('tvf_docs')").collect().toSet ===
      TextAnalysis.mojibakeSignals(d).collect().toSet)
    assert(spark.sql("SELECT * FROM graft_code_detect('tvf_docs')").collect().toSet ===
      TextAnalysis.codeSignals(d).collect().toSet)
    assert(spark.sql("SELECT * FROM graft_sentences('tvf_docs')").collect().toSet ===
      TextAnalysis.sentenceSignals(d).collect().toSet)
    assert(spark.sql("SELECT * FROM graft_passages('tvf_docs')").collect().toSet ===
      TextAnalysis.passages(d).collect().toSet)
  }

  test("codeSignals: symbol-dense and keyword+indent code flag; prose and empty docs do not") {
    val cCode = "int main() { int x = f(a[i]); if (x > 0) { return g(x); } }"
    val pyCode = "def load(path):\n  import json\n  data = read(path)\n  return data\nclass Loader:\n  def run(self):\n    return self.load"
    val prose = "the meeting ran long and the committee agreed to continue the discussion next week"
    val d = docs(1L -> cCode, 2L -> pyCode, 3L -> prose, 4L -> "")
    val got = TextAnalysis.codeSignals(d)
      .as[(Long, Int, Long, Double, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L)._7, s"C-style snippet should flag: ${got(1L)}")
    assert(got(1L)._4 >= 0.03)                       // symbol-dense route
    assert(got(2L)._7, s"Python-style snippet should flag: ${got(2L)}")
    assert(got(2L)._5 >= 2 && got(2L)._6 >= 2)       // keyword+indent route
    assert(!got(3L)._7 && got(3L)._3 === 0L)
    assert(got(4L) === ((4L, 0, 0L, 0.0, 0L, 0L, false)))
  }

  test("passages: hand-computed sliding windows, short tails covered, tokenless docs empty") {
    val d = docs(1L -> "a b c d e", 2L -> "x y", 3L -> "!!!")
    val got = TextAnalysis.passages(d, window = 3, stride = 2)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    def h(ws: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(ws.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    // doc 1: n=5, kmax=ceil((5-3)/2)=1 -> windows [a b c], [c d e]
    // doc 2: n=2 <= window -> one short window [x y]; doc 3: tokenless -> none
    assert(got.toSeq === Seq(
      (1L, 0L, 1L, 3L, h("a b c")),
      (1L, 1L, 3L, 3L, h("c d e")),
      (2L, 0L, 1L, 2L, h("x y"))))
    // stride == window degenerates to non-overlapping chunks
    val chunks = TextAnalysis.passages(d, window = 2, stride = 2)
      .filter(col("doc_id") === 1L).as[(Long, Long, Long, Long, String)]
      .collect().sortBy(_._2)
    assert(chunks.map(r => (r._3, r._4)).toSeq === Seq((1L, 2L), (3L, 2L), (5L, 1L)))
  }

  test("sentenceSignals: segment counting, mean length, and the truncation tell") {
    val d = docs(
      1L -> "First sentence here. Second one! A third?",   // 3 sentences, ends clean
      2L -> "A page cut off mid sentence with no",          // 1 fragment, truncated
      3L -> "Ellipsis... then more words. trailing  ",      // "..." is ONE terminator run
      4L -> "12345 !!! ???",                                // no letter-bearing segments
      5L -> "")
    val got = TextAnalysis.sentenceSignals(d)
      .as[(Long, Long, Long, Option[Double], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 7L, 3L, Some(math.rint(7.0 / 3 * 1e6) / 1e6), true)))
    assert(got(2L) === ((2L, 8L, 1L, Some(8.0), false)))
    assert(got(3L)._3 === 3L && got(3L)._5 === false)       // trailing spaces after no terminator
    assert(got(4L) === ((4L, 1L, 0L, None, true)))          // punct strips to 1 token, "???" ends the text
    assert(got(5L) === ((5L, 0L, 0L, None, false)))
  }

  test("unicodeNorm: combining marks compose, NFC is idempotent, SQL scalar matches") {
    val decomposed = "cafe\u0301 and more"     // e + combining acute
    val precomposed = "caf\u00e9 and more"     // precomposed e-acute
    val d = docs(1L -> decomposed, 2L -> precomposed, 3L -> "plain ascii")
    val got = TextAnalysis.unicodeNorm(d)
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> r).toMap
    // the two spellings hash identically after NFC; only the
    // decomposed one was CHANGED by normalization
    assert(got(1L)._2 === got(2L)._2)
    assert(got(1L)._3 && !got(2L)._3 && !got(3L)._3)
    // direct column face: composition + idempotence
    val n = d.filter(col("doc_id") === 1L)
      .select(TextAnalysis.nfc(col("text")).as("n1"),
        TextAnalysis.nfc(TextAnalysis.nfc(col("text"))).as("n2"))
      .as[(String, String)].head()
    assert(n._1 === precomposed && n._2 === precomposed)
    // SQL scalar parity through the registered function
    graft.plans.GraftExtensions.install(spark)
    d.createOrReplaceTempView("nfc_docs")
    assert(spark.sql("SELECT doc_id, md5(graft_nfc(text)) AS h FROM nfc_docs")
      .as[(Long, String)].collect().toMap ===
      TextAnalysis.unicodeNorm(d).select("doc_id", "nfc_hash")
        .as[(Long, String)].collect().toMap)
  }

  test("readability: hand-checked Flesch / FK on a two-sentence doc; degenerate docs NULL") {
    // "the cat sat. it ran fast." → tokens 6, sentences 2, syllables:
    // the(1) cat(1) sat(1) it(1) ran(1) fast(1) = 6 → wps=3, spw=1
    val got = TextAnalysis.readability(docs(
      1L -> "the cat sat. it ran fast.",
      2L -> "12 34. 56!",        // letterless segments → 0 sentences
      3L -> ""))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) === ((6L, 2L, 6L)))
    assert(r1.getDouble(4) === math.rint((206.835 - 1.015 * 3.0 - 84.6 * 1.0) * 1e6) / 1e6)
    assert(r1.getDouble(5) === math.rint((0.39 * 3.0 + 11.8 * 1.0 - 15.59) * 1e6) / 1e6)
    assert(got(2L).isNullAt(4) && got(2L).isNullAt(5))  // no sentences → NULL scores
    assert(got(3L).isNullAt(4) && got(3L).getLong(3) === 0L)
    // multi-vowel-group + vowelless words: "beautiful" eau+i+u? groups
    // are RUNS: b-eau-t-i-f-u-l → 3; "rhythm" has y → 1; "zzz" min-1
    val r4 = TextAnalysis.readability(docs(4L -> "beautiful rhythm zzz."))
      .select("n_syllables").as[Long].head()
    assert(r4 === 5L)
  }

  test("corpusHealth: per-source volume, truncation, and dup pressure") {
    val d = Seq(
      (1L, "alpha beta gamma.", "a"),
      (2L, "alpha beta gamma.", "a"),     // exact dup of 1
      (3L, "Alpha, beta... GAMMA", "a"),  // normalizes to the same text
      (4L, "mid sentence cut", "a"),      // no trailing terminator
      (5L, "", "b")                       // empty doc
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.corpusHealth(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert((a.getLong(1), a.getLong(2), a.getLong(3)) === ((4L, 0L, 12L)))
    assert(a.getDouble(4) === 3.0)            // mean tokens
    assert(a.getDouble(5) === 0.5)            // 2 of 4 end with a terminator
    assert(a.getLong(6) === 2L)               // 3 texts collapse to 2 normal forms
    assert(a.getDouble(7) === 0.5)            // dup_frac = 1 - 2/4
    val b = got("b")
    assert((b.getLong(1), b.getLong(2), b.getLong(3), b.getLong(6)) === ((1L, 1L, 0L, 1L)))
    assert(b.getDouble(7) === 0.0)
    // SQL surfaces
    graft.plans.GraftExtensions.install(spark)
    d.createOrReplaceTempView("ch_docs")
    assert(spark.sql("SELECT * FROM graft_corpus_health('ch_docs')")
      .collect().map(_.toSeq).toSet ===
      TextAnalysis.corpusHealth(d).collect().map(_.toSeq).toSet)
    assert(spark.sql("SELECT * FROM graft_readability('ch_docs')")
      .collect().map(_.toSeq).toSet ===
      TextAnalysis.readability(d).collect().map(_.toSeq).toSet)
  }
  test("languageRoute: script-first dispatch, langId only inside latin; one scan, no join") {
    val d = Seq(
      (1L, "the quick brown fox and the lazy dog", "s"),
      (2L, "der schnelle braune fuchs und der hund", "s"),
      (3L, "\u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u044d\u0442\u043e \u0442\u0435\u0441\u0442", "s"),
      (4L, "\u673a\u5668\u5b66\u4e60\u5f88\u597d", "s"),
      (5L, "12345 !!!", "s")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.languageRoute(d)
      .as[(Long, String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    assert(got(1L) === (("latin", "en")))
    assert(got(2L) === (("latin", "de")))
    assert(got(3L) === (("cyrillic", "cyrillic")))
    assert(got(4L) === (("cjk_han", "cjk_han")))
    assert(got(5L) === (("none", "none")))
    // dominant_script agrees with scriptSignals; pred_lang with languageId
    val viaSig = TextAnalysis.scriptSignals(d)
      .select("doc_id", "dominant_script").as[(Long, String)].collect().toMap
    val viaLang = TextAnalysis.languageId(d)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    TextAnalysis.languageRoute(d).as[(Long, String, String, String)].collect()
      .foreach { r =>
        assert(r._2 === viaSig(r._1)); assert(r._3 === viaLang(r._1))
      }
    // single-scan plan: no Join, no Exchange
    val plan = TextAnalysis.languageRoute(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    d.createOrReplaceTempView("route_docs")
    assert(SparkSpec.spark.sql("SELECT * FROM graft_lang_route('route_docs')")
      .as[(Long, String, String, String)].collect().toSet ===
      TextAnalysis.languageRoute(d).as[(Long, String, String, String)].collect().toSet)
  }
  test("lmnModel unicode tokenizer: CJK char-level LM scores; ASCII tokenizer sees nothing") {
    val tokU = graft.core.TextNorm.tokensUnicode _
    val ref = docs(1L -> "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u9700\u8981\u5927\u91cf\u6570\u636e\u673a\u5668\u5b66\u4e60\u6a21\u578b\u9700\u8981\u5927\u91cf\u6570\u636e")
    val d = docs(10L -> "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u9700\u8981\u5927\u91cf\u6570\u636e")
    // ASCII: zero tokens anywhere -> no n-grams, NULL scores
    val ascii = TextAnalysis.lmnScoreWith(d, TextAnalysis.lmnModel(ref, 3))
      .as[(Long, Long, Long, Long, Option[Double])].head()
    assert(ascii === ((10L, 0L, 0L, 0L, None)))
    // unicode: char trigrams from the training text score, never back off
    val uni = TextAnalysis.lmnScoreWith(d,
      TextAnalysis.lmnModel(ref, 3, tok = tokU), tok = tokU)
      .as[(Long, Long, Long, Long, Option[Double])].head()
    assert(uni._2 === 10L) // 12 char tokens -> 10 trigrams
    assert(uni._3 === 0L && uni._4 === 0L) // all in the trigram tier
    assert(uni._5.nonEmpty)
  }
  test("LmnModel: stored parquet tables round-trip and serve identically") {
    val ref = docs(
      1L -> "a b c d e f g h",
      2L -> "a b c d x y z w")
    val m0 = TextAnalysis.lmnModel(ref, 5)
    val dir = tempDir("graft-lmn-").toString
    m0.tiers.zipWithIndex.foreach { case (t, i) => t.write.parquet(s"$dir/tier$i") }
    m0.uni.write.parquet(s"$dir/uni"); m0.oov.write.parquet(s"$dir/oov")
    val m = TextAnalysis.LmnModel(5,
      m0.tiers.indices.map(i => spark.read.parquet(s"$dir/tier$i")),
      spark.read.parquet(s"$dir/uni"), spark.read.parquet(s"$dir/oov"))
    val mixed = docs(10L -> "a b c d e f", 11L -> "q a b c d", 12L -> "zz qq a b c")
    assert(TextAnalysis.lmnScoreWith(mixed, m)
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet ===
      TextAnalysis.lmnScoreWith(mixed, m0)
        .as[(Long, Long, Long, Long, Option[Double])].collect().toSet)
  }

  // ---- C4 line-level cleaning rules (Raffel et al. 2020 §2.2) ----

  private val c4Page = Seq(
    "The quick brown fox jumps over the lazy dog.",
    "A second full sentence keeps this page alive!",
    "Does a question mark count as terminal?",
    "\tAn indented line with a tab survives trimming.\r",
    "Too short.",
    "this line has no terminal punctuation at all",
    "Please enable javascript to view the page.",
    "Read our privacy policy before continuing.",
    "Closing sentence number five stands right here.",
    "And a sixth sentence finishes off the page.").mkString("\n")

  test("c4LineStats: every line rule attributed on one page; keeper survives") {
    val got = TextAnalysis.c4LineStats(docs(1L -> c4Page))
      .select("n_lines", "n_kept", "n_drop_short", "n_drop_punct",
        "n_drop_js", "n_drop_policy", "n_sentences", "has_lorem",
        "has_brace", "keep")
      .as[(Long, Long, Long, Long, Long, Long, Long, Boolean, Boolean, Boolean)]
      .head()
    assert(got === ((10L, 6L, 1L, 1L, 1L, 1L, 6L, false, false, true)))
  }

  test("c4Clean: kept lines rejoin with newline, trimmed (tab/CR pin); page gates drop whole docs") {
    val lorem = "A first fine sentence sits here. Lorem Ipsum dolor sit amet fills out the rest."
    val brace = "A good sentence sits here.\nfunction demo() { return 1; }"
    val floor = "Just one single sentence lives here."
    val out = TextAnalysis.c4Clean(docs(
        1L -> c4Page, 2L -> lorem, 3L -> brace, 4L -> floor))
      .as[(Long, String)].collect().toMap
    assert(out.keySet === Set(1L))
    val lines = out(1L).split("\n").toSeq
    assert(lines.size === 6)
    // the indented CRLF line came through trimmed, in original order
    assert(lines(3) === "An indented line with a tab survives trimming.")
    assert(lines.head === "The quick brown fox jumps over the lazy dog.")
  }

  test("c4LineStats: independent reason counts — one line can carry several reasons") {
    // 2 words, unterminated, javascript AND a policy phrase
    val l = "javascript cookie-policy"
    val got = TextAnalysis.c4LineStats(docs(1L -> (l + "\nuse cookies")))
      .select("n_drop_short", "n_drop_punct", "n_drop_js", "n_drop_policy", "n_kept")
      .as[(Long, Long, Long, Long, Long)].head()
    // line1: short+punct+js; line2 "use cookies": short+punct+policy
    assert(got === ((2L, 2L, 1L, 1L, 0L)))
  }

  test("c4 dials: minWordsPerLine, minSentences, empty policy list, end-quote mark") {
    val quotePage = Seq(
      "He said \"the quoted words end this line.\"",
      "Read our privacy policy before continuing.",
      "A third sentence adds some weight.").mkString("\n")
    // default: policy line dropped, floor 5 not met
    assert(TextAnalysis.c4Clean(docs(1L -> quotePage)).count() === 0)
    // policy list emptied + floor 3: the end-quote line must count as terminated
    val kept = TextAnalysis.c4Clean(docs(1L -> quotePage),
        minSentences = 3, policyPhrases = Seq.empty)
      .as[(Long, String)].head()._2
    assert(kept.split("\n").length === 3)
    // raising minWordsPerLine past the longest line (8 words) drops all
    val strict = TextAnalysis.c4LineStats(docs(1L -> quotePage),
        minWordsPerLine = 9)
      .select("n_kept").as[Long].head()
    assert(strict === 0L)
  }

  test("c4LineStats: null text is the empty page — keep false, no NULL flags") {
    val got = TextAnalysis.c4LineStats(
        Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text"))
      .select("doc_id", "n_lines", "n_kept", "has_lorem", "keep")
      .as[(Long, Long, Long, Boolean, Boolean)].collect().toSet
    assert(got === Set((1L, 1L, 0L, false, false), (2L, 1L, 0L, false, false)))
  }

  test("graft_c4_stats / graft_c4_clean TVF parity, both arities") {
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    docs(1L -> c4Page, 2L -> "Too few sentences here.")
      .createOrReplaceTempView("c4_docs")
    val want = TextAnalysis.c4LineStats(SparkSpec.spark.table("c4_docs"))
      .collect().toSet
    assert(SparkSpec.spark.sql("SELECT * FROM graft_c4_stats('c4_docs')")
      .collect().toSet === want)
    val clean = SparkSpec.spark.sql("SELECT * FROM graft_c4_clean('c4_docs')")
      .as[(Long, String)].collect().toMap
    assert(clean.keySet === Set(1L) && clean(1L).split("\n").length === 6)
    // dial arity: a min-words floor past every line keeps nothing
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_c4_clean('c4_docs', 20)").count() === 0)
  }

  test("c4 unicode dial: CJK/Cyrillic pages survive; ASCII mode is the documented blind spot") {
    // five Han sentences, one per line, CJK full stops
    val han = Seq(
      "\u673a\u5668\u5b66\u4e60\u6a21\u578b\u9700\u8981\u5927\u91cf\u8bad\u7ec3\u6570\u636e\u3002",
      "\u6570\u636e\u6e05\u6d17\u5f88\u91cd\u8981\u3002",
      "\u91cd\u590d\u7f51\u9875\u5fc5\u987b\u5220\u9664\u3002",
      "\u8bed\u8a00\u8bc6\u522b\u51b3\u5b9a\u5904\u7406\u65b9\u5f0f\u3002",
      "\u8bed\u6599\u5e93\u8d28\u91cf\u51b3\u5b9a\u80fd\u529b\u3002").mkString("\n")
    // five Cyrillic sentences on one line, ASCII periods
    val cyr = "\u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u0441\u0435\u0433\u043e\u0434\u043d\u044f. " +
      "\u042d\u0442\u043e \u0442\u0435\u0441\u0442 \u0434\u043e\u043a\u0443\u043c\u0435\u043d\u0442. " +
      "\u041c\u044b \u043f\u0440\u043e\u0432\u0435\u0440\u044f\u0435\u043c \u043f\u0440\u0430\u0432\u0438\u043b\u0430. " +
      "\u041e\u0447\u0438\u0441\u0442\u043a\u0430 \u0434\u0430\u043d\u043d\u044b\u0445 \u0432\u0430\u0436\u043d\u0430. " +
      "\u041c\u043e\u0434\u0435\u043b\u044c \u0431\u0443\u0434\u0435\u0442 \u043b\u0443\u0447\u0448\u0435."
    val d = docs(1L -> han, 2L -> cyr)
    // unicode dial: both keep (Han words count per character; \p{L}
    // sees Cyrillic letters in the sentence floor)
    val uni = TextAnalysis.c4LineStats(d, unicode = true)
      .select("doc_id", "n_kept", "n_sentences", "keep")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(uni(1L) === ((1L, 5L, 5L, true)))
    assert(uni(2L) === ((2L, 1L, 5L, true)))
    // ASCII mode empties both: the CJK terminator is not in the ASCII
    // terminal set, and [A-Za-z] sees no Cyrillic letters
    val ascii = TextAnalysis.c4LineStats(d)
      .select("doc_id", "n_kept", "n_sentences", "keep")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(ascii(1L)._4 === false && ascii(1L)._2 === 0L)
    assert(ascii(2L)._4 === false && ascii(2L)._3 === 0L)
    // the rewrite face under the dial: Han page intact, order kept
    val kept = TextAnalysis.c4Clean(d, unicode = true)
      .as[(Long, String)].collect().toMap
    assert(kept(1L) === han && kept(2L) === cyr)
  }

  test("chunkByTokens: stride windows cover every token with declared overlap; short docs emit one chunk") {
    val text = (1 to 12).map(i => s"t$i").mkString(" ")
    val got = TextAnalysis.chunkByTokens(Seq((1L, text)).toDF("doc_id", "text"),
        chunkSize = 5, stride = 3)
      .as[(Long, Int, Int, Long, String)].collect().sortBy(_._2)
    assert(got.map(r => (r._2, r._3, r._4)).toSeq === Seq(
      (0, 1, 5L), (1, 4, 5L), (2, 7, 5L), (3, 10, 3L)))
    assert(got.head._5 === "t1 t2 t3 t4 t5")
    assert(got(1)._5 === "t4 t5 t6 t7 t8", "stride 3 overlaps 2 tokens")
    assert(got.last._5 === "t10 t11 t12")
    // every token appears in at least one chunk
    assert(got.flatMap(_._5.split(" ")).toSet === (1 to 12).map(i => s"t$i").toSet)
    // a doc shorter than the window is one short chunk; empty emits none
    val short = TextAnalysis.chunkByTokens(
      Seq((2L, "a b c"), (3L, "")).toDF("doc_id", "text"), 5, 3)
      .as[(Long, Int, Int, Long, String)].collect()
    assert(short.toSeq === Seq((2L, 0, 1, 3L, "a b c")))
    // SQL surface parity
    graft.plans.GraftExtensions.install(SparkSpec.spark)
    Seq((1L, text)).toDF("doc_id", "text").createOrReplaceTempView("ct_docs")
    assert(SparkSpec.spark
      .sql("SELECT * FROM graft_chunk_tokens('ct_docs', 5, 3)")
      .as[(Long, Int, Int, Long, String)].collect().sortBy(_._2).toSeq === got.toSeq)
  }

  test("refreshDue / refreshPlan: thresholds decide per metric; unmeasured metrics never churn; unk signals route per source") {
    val signals = Seq(("index", "js", 0.12), ("index", "kl_ab", 0.4))
      .toDF("artifact", "metric", "value")
    val thr = Seq(("index", "js", 0.05), ("index", "kl_ab", 1.0),
      ("classifier", "auc_drop", 0.05)).toDF("artifact", "metric", "threshold")
    val due = TextAnalysis.refreshDue(signals, thr)
      .as[(String, String, Option[Double], Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._5))).toMap
    assert(due(("index", "js")) === ((Some(0.12), true)))
    assert(due(("index", "kl_ab")) === ((Some(0.4), false)))
    assert(due(("classifier", "auc_drop")) === ((None, false)),
      "no measurement must decide false, not churn")
    val plan = TextAnalysis.refreshPlan(signals, thr)
      .as[(String, Boolean, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(plan("index") === (("index", true, 1L, 2L)))
    assert(plan("classifier") === (("classifier", false, 0L, 1L)))
    // unkSignals -> per-source tokenizer artifacts (the retrain trigger)
    val unk = graft.ops.WordPiece.unkSignals(
      Seq(("srcA", "known words only"), ("srcB", "zzzzqqq unknowable")).toDF("source", "text"),
      vocab = Seq("[UNK]", "known", "words", "only"))
    val us = TextAnalysis.unkRefreshSignals(unk)
      .as[(String, String, Option[Double])].collect().map(r => r._1 -> r._3).toMap
    assert(us("tokenizer:srcA") === Some(0.0))
    assert(us("tokenizer:srcB") === Some(1.0))
    val unkThr = Seq(("tokenizer:srcA", "unk_rate", 0.2), ("tokenizer:srcB", "unk_rate", 0.2))
      .toDF("artifact", "metric", "threshold")
    val unkPlan = TextAnalysis.refreshPlan(TextAnalysis.unkRefreshSignals(unk), unkThr)
      .as[(String, Boolean, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(unkPlan === Map("tokenizer:srcA" -> false, "tokenizer:srcB" -> true))
    // duplicate (artifact, metric) signal rows — a caller feeding
    // accumulated multi-window signals — fold to the WORST value:
    // exactly ONE decision per declared threshold, max-driven
    val dupSignals = Seq(("index", "js", 0.01), ("index", "js", 0.12),
      ("index", "js", 0.03)).toDF("artifact", "metric", "value")
    val dupDue = TextAnalysis.refreshDue(dupSignals, thr)
      .as[(String, String, Option[Double], Double, Boolean)].collect()
    assert(dupDue.length === 3, "one row per declared threshold, never a fan-out")
    val js = dupDue.find(r => r._1 == "index" && r._2 == "js").get
    assert(js._3 === Some(0.12) && js._5 === true,
      "the worst window's measurement drives the decision")
  }
}
