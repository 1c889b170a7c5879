package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Dedup, Sampling, TextAnalysis}
import SparkSpec.spark.implicits._

/** Seeded randomized cross-validation: each test drives an operator
  * over several generated corpora and checks it against an independent
  * plain-Scala reference implementation (or an algebraic invariant).
  * Deterministic seeds — these are tables of properties, not flaky
  * fuzzing; a failure always reproduces.
  */
class PropertySpec extends SparkSpec {

  test("clusters == plain union-find components on random pair graphs") {
    // both paths: driver-side union-find (these graphs are far below
    // the local cap), hash-to-min rounds with the local path off
    def check(path: String, localPairs: Int): Unit = for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(30)
      val edges = (0 until n).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        // reference: textbook DSU with min-id representatives
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(x => x -> find(x)).toMap
        val got = Dedup.components(edges.toDF("doc_a", "doc_b"), 20, localPairs)
          .as[(Long, Long)].collect().toMap
        assert(got === want, s"$path seed=$seed edges=$edges")
      }
    }
    check("local", Dedup.LocalPairs)
    check("distributed", 0)
  }

  test("clusters: local and distributed paths agree on string ids, nulls, self-loops, repeated edges, both strategies") {
    import graft.core.Materialize
    // U+FF61 is the smaller id in UTF-8 bytes (EF BD A1 < F0 9F 98 80),
    // the larger in UTF-16 code units (FF61 > D83D): Spark's order, and
    // so the component min, is the byte order
    val (bmp, astral) = ("\uFF61", "\uD83D\uDE00")
    val strings = Seq[(String, String)]((astral, bmp), ("b", "a"), ("c", "b"), ("c", "b"),
      ("c", "c"), ("z", "z"), ("x", null), (null, "y"), (null, null)).toDF("doc_a", "doc_b")
    val wantStrings = Map[Any, Any](astral -> bmp, bmp -> bmp, "a" -> "a", "b" -> "a",
      "c" -> "a", "z" -> "z", "x" -> "x", "y" -> "y", (null, null))
    val longs = Seq[(java.lang.Long, java.lang.Long)]((5L, 3L), (3L, 3L), (5L, 3L),
      (7L, null), (null, 9L), (9L, 11L)).toDF("doc_a", "doc_b")
    val wantLongs = Map[Any, Any](3L -> 3L, 5L -> 3L, 7L -> 7L, 9L -> 9L, 11L -> 9L, (null, null))
    def labels(df: DataFrame): (Seq[(Any, Any)], org.apache.spark.sql.types.StructType) =
      (df.collect().toSeq.map(r => r.get(0) -> r.get(1)), df.schema)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    for (mat <- Seq(Materialize.LocalCheckpoint, Materialize.Persist);
         (pairs, want) <- Seq(strings -> wantStrings, longs -> wantLongs)) Materialize.using(mat) {
      val (local, localSchema) = labels(Dedup.clusters(pairs))
      val distLabels = Dedup.components(pairs, 20, localPairs = 0)
      val (dist, distSchema) = labels(distLabels)
      Materialize.release(distLabels)
      assert(local.size === want.size && local.toMap === want, s"local, $mat")
      assert(dist.size === want.size && dist.toMap === want, s"distributed, $mat")
      assert(localSchema === distSchema, s"$mat")
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty,
      "released labels left a persistent RDD behind")
  }

  test("entropySignals == plain-Scala entropy under the same 6dp-term recipe") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val texts = (1L to 20L).map { id =>
        val alphabet = "abcdefgh  " // biased toward spaces + 8 letters
        id -> (0 until (5 + rnd.nextInt(60)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      def ref(t: String): (Long, Double) = {
        val n = t.length.toDouble
        val byCh = t.groupBy(identity).map { case (_, g) => g.length }
        val h = byCh.map { c =>
          BigDecimal(math.rint((c / n) * (math.log(n / c) / math.log(2.0)) * 1e6) / 1e6)
            .setScale(6)
        }.sum
        (byCh.size.toLong, h.toDouble)
      }
      val got = TextAnalysis.entropySignals(texts.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._3, r._4))).toMap
      texts.foreach { case (id, t) =>
        assert(got(id) === ref(t), s"seed=$seed doc=$id text='$t'")
      }
    }
  }

  test("BPE encode: pieces always concatenate back to the word, at any merge depth") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(200 + seed)
      val words = Seq("low", "lower", "lowest", "newest", "widest", "wide", "new")
      val docs = (1L to 12L).map(id =>
        id -> (0 until (3 + rnd.nextInt(10))).map(_ => words(rnd.nextInt(words.length)))
          .mkString(" ")).toDF("doc_id", "text")
      for (depth <- Seq(1, 4, 9)) {
        val merges = Bpe.trainMerges(docs, numMerges = depth, minFrequency = 1L)
          .map(m => (m.lhs, m.rhs))
        val bad = docs
          .select(explode(graft.core.TextNorm.tokens(col("text"))).as("word"))
          .distinct()
          .select(col("word"),
            concat_ws("", Bpe.encodeCol(col("word"), merges)).as("glued"))
          .filter(col("word") =!= col("glued"))
          .collect()
        assert(bad.isEmpty, s"seed=$seed depth=$depth lossy encodings: ${bad.toSeq}")
      }
    }
  }

  test("stripDuplicateSpans: char accounting is exact; unique random corpora never span") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(300 + seed)
      def randText(len: Int): String =
        (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      // unique random texts: no 16-gram repeats at these sizes
      val unique = (1L to 10L).map(id => id -> randText(80 + rnd.nextInt(120)))
      assert(Dedup.duplicateSpans(unique.toDF("doc_id", "text"),
        k = 16, modP = 2, gap = 32).count() === 0L, s"seed=$seed false duplicate")
      // inject a shared region into half the docs: removed chars must
      // equal the span table's total span length, doc by doc
      val shared = randText(150)
      val mixed = unique.map { case (id, t) =>
        id -> (if (id % 2 == 0) t.take(40) + shared + t.drop(40) else t)
      }.toDF("doc_id", "text")
      val spanLen = Dedup.duplicateSpans(mixed, k = 16, modP = 2, gap = 32)
        .groupBy("doc_id").agg(sum(col("span_end") - col("span_start")).as("cut"))
        .as[(Long, Long)].collect().toMap
      val lens = mixed.select(col("doc_id"), length(col("text")).cast("long"))
        .as[(Long, Long)].collect().toMap
      val stripped = Dedup.stripDuplicateSpans(mixed, k = 16, modP = 2, gap = 32)
        .select(col("doc_id"), length(col("text")).cast("long"), col("n_spans"))
        .as[(Long, Long, Long)].collect()
      stripped.foreach { case (id, strippedLen, nSpans) =>
        assert(strippedLen === lens(id) - spanLen.getOrElse(id, 0L),
          s"seed=$seed doc=$id: stripped $strippedLen orig ${lens(id)} cut ${spanLen.get(id)}")
        assert((nSpans > 0) === spanLen.contains(id))
      }
    }
  }

  test("histogram: buckets conserve the non-null count and edges tile the range, random data") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 200 + rnd.nextInt(300)
      val vals = (0 until n).map(_ =>
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble() * 200 - 50))
      val bins = 1 + rnd.nextInt(12)
      val rows = graft.ops.Relational.histogram(vals.toDF("v"), "v", 0.0, 100.0, bins)
        .collect()
      assert(rows.map(_.getLong(3)).sum === vals.count(_.isDefined).toLong,
        s"seed=$seed: every non-null value lands in exactly one bucket")
      rows.filter(r => !r.isNullAt(1)).foreach { r =>
        val (b, lo, hi) = (r.getInt(0), r.getDouble(1), r.getDouble(2))
        val w = 100.0 / bins
        // compare against the exact construction (lo + k*w), not the
        // fp-naive hi - lo === w, which fails by one ulp at w = 100/6
        assert(b >= 0 && b < bins && lo === b * w && hi === (b + 1) * w)
      }
      assert(rows.map(_.getInt(0)).distinct.length === rows.length, "buckets unique")
    }
  }

  test("paragraphDedup: kept counts conserve; a corpus with unique paragraphs loses nothing") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(200 + seed)
      val vocab = (0 until 40).map(i => s"pw$i$seed")
      def para(): String =
        Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // half the docs repeat a shared paragraph, half are all-fresh
      val shared = para()
      val d = (1L to 10L).map { id =>
        val ps = Seq.fill(1 + rnd.nextInt(3))(para()) ++
          (if (id % 2 == 0) Seq(shared) else Nil)
        (id, ps.mkString("\n\n"))
      }.toDF("doc_id", "text")
      val rows = Dedup.paragraphDedup(d).as[(Long, Int, Int, String)].collect()
      rows.foreach { case (id, n, kept, _) =>
        assert(kept >= 0 && kept <= n, s"seed=$seed doc=$id")
      }
      // exactly one copy of every duplicated paragraph survives: total
      // kept == total distinct normalized paragraphs in the corpus
      val distinctParas = d.as[(Long, String)].collect()
        .flatMap(_._2.split("\n\n")).map(_.trim).filter(_.nonEmpty)
        .map(_.toLowerCase.replaceAll("[^a-z0-9 ]", "").split("\\s+").mkString(" "))
        .distinct.length
      assert(rows.map(_._3).sum === distinctParas, s"seed=$seed")
    }
  }

  test("unimaxPlan: allocations respect caps, budget, and equal uncapped shares") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(300 + seed)
      val d = ('A' to ('A' + 5 + rnd.nextInt(4)).toChar).map { s =>
        (s.toString, Seq.fill(1 + rnd.nextInt(80))("x").mkString(" "))
      }.toDF("source", "text")
      val budget = 50L + rnd.nextInt(300)
      val got = Sampling.unimaxPlan(d, "source", budget, maxEpochs = 2.0)
        .as[(String, Long, Long, Long, Double, Boolean)].collect()
      got.foreach { case (s, avail, cap, alloc, epochs, capped) =>
        assert(alloc <= cap, s"seed=$seed $s alloc=$alloc cap=$cap")
        assert(cap === math.floor(avail * 2.0).toLong, s"seed=$seed $s")
        if (capped) assert(alloc === cap, s"seed=$seed $s")
      }
      assert(got.map(_._4).sum <= budget, s"seed=$seed")
      // uncapped sources all receive the identical share
      val shares = got.filter(!_._6).map(_._4).distinct
      assert(shares.length <= 1, s"seed=$seed shares=${shares.toSeq}")
      // and if anything is uncapped, the budget is (near-)exhausted:
      // undershoot only by the flooring, bounded by the source count
      if (shares.nonEmpty)
        assert(budget - got.map(_._4).sum < got.length, s"seed=$seed")
    }
  }

  test("containmentPairs: ratios in (0,1], symmetric corpus gives symmetric ratios") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 30).map(i => s"tok$i")
      val d = (1L to 12L).map { id =>
        val len = 5 + rnd.nextInt(20)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      Dedup.containmentPairs(d, minContainment = 0.01)
        .as[(Long, Long, Long, Double, Double)].collect().foreach {
          case (a, b, inter, ca, cb) =>
            assert(a < b, "pair ordering")
            assert(inter > 0 && ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0,
              s"seed=$seed pair ($a,$b): inter=$inter ca=$ca cb=$cb")
        }
    }
  }

  test("HLL: merge of any random partition equals the sketch of the union") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val vals = (1 to 500 + rnd.nextInt(500)).map(_ => rnd.nextInt(400).toLong)
      val parts = vals.map(v => (rnd.nextInt(5), v)).toDF("p", "v")
      val merged = graft.ops.Hll.merge(
        graft.ops.Hll.sketch(parts, col("v"), Seq(col("p"))), Seq.empty)
        .as[(Long, Int)].collect().toMap
      val direct = graft.ops.Hll.sketch(parts, col("v"), Seq.empty)
        .as[(Long, Int)].collect().toMap
      assert(merged === direct, s"seed=$seed")
    }
  }

  test("DDSketch: merge identity AND the relative-error bound on random data") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val vals = (1 to 800).map(_ => math.exp(rnd.nextGaussian()) * 10.0)
      val parts = vals.map(v => (rnd.nextInt(4), v)).toDF("p", "v")
      val merged = graft.ops.DdSketch.merge(
        graft.ops.DdSketch.sketch(parts, col("v"), Seq(col("p"))), Seq.empty)
        .as[(Int, Long, Long)].collect().toSet
      val direct = graft.ops.DdSketch.sketch(parts, col("v"), Seq.empty)
        .as[(Int, Long, Long)].collect().toSet
      assert(merged === direct, s"seed=$seed")
      val est = graft.ops.DdSketch.quantiles(
        graft.ops.DdSketch.sketch(parts, col("v"), Seq(lit(1).as("g"))),
        Seq("g"), Seq(0.5, 0.99))
        .as[(Int, Double, Double)].collect().map(r => r._2 -> r._3).toMap
      val sorted = vals.sorted
      Seq(0.5, 0.99).foreach { q =>
        val exact = sorted(math.floor(q * (vals.length - 1)).toInt)
        assert(math.abs(est(q) - exact) / exact <= 0.0101,
          s"seed=$seed q=$q est=${est(q)} exact=$exact")
      }
    }
  }

  test("WordPiece encoder is total: every word is [UNK] or reconstructs exactly") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val words = (1 to 60).map(_ =>
        (1 to 1 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val ms = graft.ops.WordPiece.trainMerges(docs, 6, minFrequency = 2L)
      val vocab = graft.ops.WordPiece.collectVocab(graft.ops.WordPiece.vocab(docs, ms))
      val enc = new graft.functions.WordPieceEncoder(vocab, graft.ops.WordPiece.Unk)
      words.foreach { w =>
        val ps = enc.encode(w)
        if (ps.toSeq != Seq(graft.ops.WordPiece.Unk)) {
          val rebuilt = ps.head + ps.tail.map(_.stripPrefix("##")).mkString
          assert(rebuilt == w, s"seed=$seed word=$w pieces=${ps.toSeq}")
          assert(ps.tail.forall(_.startsWith("##")), s"continuation marks: ${ps.toSeq}")
        }
      }
    }
  }

  test("JL projection scales exactly under powers of two (every FP op scales exactly)") {
    val p = new graft.functions.JlProjector(8, 4)
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val x = Array.fill[Any](8)(rnd.nextGaussian())
      val x2 = x.map(v => (v.asInstanceOf[Double] * 2.0): Any)
      val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(x)
      val ad2 = new org.apache.spark.sql.catalyst.util.GenericArrayData(x2)
      val (y, y2) = (p.project(ad), p.project(ad2))
      (0 until 4).foreach(j =>
        assert(y2.getDouble(j) === 2.0 * y.getDouble(j), s"seed=$seed j=$j"))
    }
  }

  test("PhraseMatch equals the naive scan on random texts and dictionaries") {
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val alpha = "ab "
      def rs(n: Int) = (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val pats = (1 to 6).map(_ => rs(1 + rnd.nextInt(4))).filter(_.nonEmpty)
      val text = rs(200)
      val ac = new graft.functions.AhoCorasick(pats)
      val ds = pats.filter(_.nonEmpty).distinct
      val per = ds.map(p =>
        (0 to text.length - p.length).count(i => text.regionMatches(i, p, 0, p.length)))
      assert(ac.count(text) === ((per.map(_.toLong).sum, per.count(_ > 0))),
        s"seed=$seed pats=$pats")
    }
  }
}
