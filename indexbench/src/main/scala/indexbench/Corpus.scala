package indexbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

/** Seeded corpus generator. The same seed always yields the same bytes;
  * the program under test only ever sees the files written here.
  *
  * Vocabulary: `size` words ranked by a Zipf law (s = 1.1). English
  * stopwords hold the top ranks; the other words are pronounceable
  * letter strings whose FIRST letters follow English word-initial
  * frequencies, because the store partitions postings by first
  * character. No vocabulary word is a German, Spanish, French or
  * pinyin stopword, so generated prose is always identified as English.
  */
final class Vocab(seed: Long, size: Int = 50000) {
  import Vocab._

  val words: Array[String] = {
    val rng = new Random(seed)
    val seen = mutable.LinkedHashSet[String](english: _*)
    while (seen.size < size) {
      val w = pseudoWord(rng)
      if (!banned(w)) seen += w
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val ws = Array.tabulate(size)(r => math.pow(r + 1.0, -1.1))
    val total = ws.sum
    var acc = 0.0
    ws.map { w => acc += w / total; acc }
  }

  /** A Zipf-distributed rank, 0 = most frequent. */
  def rank(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, size - 1)
  }
  def draw(rng: Random): String = words(rank(rng))
}

object Vocab {
  /** English function words, most frequent first. */
  val english: Seq[String] = Seq(
    "the", "of", "and", "to", "a", "in", "is", "it", "that", "for", "was", "on",
    "are", "as", "with", "his", "they", "at", "be", "this", "from", "i", "have",
    "or", "by", "one", "had", "not", "but", "what", "all", "were", "when", "we",
    "there", "can", "an", "your", "which", "their", "said", "if", "do", "will",
    "each", "about", "how", "up", "out", "them", "then", "she", "many", "some",
    "so", "these", "would", "other", "into", "has", "more", "her", "two", "like")

  /** Stopwords of the other languages the library's language-ID knows. */
  private val foreign: Set[String] = Set(
    "der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu",
    "el", "la", "de", "que", "y", "en", "un", "es", "no", "por",
    "le", "et", "est", "pas", "pour", "dans")

  def banned(w: String): Boolean = foreign(w) || english.contains(w)

  /** English word-initial letter frequencies (percent). */
  private val initials: Seq[(Char, Double)] = Seq(
    'a' -> 11.7, 'b' -> 4.4, 'c' -> 5.2, 'd' -> 3.2, 'e' -> 2.8, 'f' -> 4.0,
    'g' -> 1.6, 'h' -> 4.2, 'i' -> 7.3, 'j' -> 0.51, 'k' -> 0.86, 'l' -> 2.4,
    'm' -> 3.8, 'n' -> 2.3, 'o' -> 7.6, 'p' -> 4.3, 'q' -> 0.22, 'r' -> 2.8,
    's' -> 6.7, 't' -> 16.0, 'u' -> 1.2, 'v' -> 0.82, 'w' -> 5.5, 'x' -> 0.045,
    'y' -> 0.76, 'z' -> 0.045)
  private val initialCdf: Array[Double] = {
    val total = initials.map(_._2).sum
    var acc = 0.0
    initials.map { case (_, p) => acc += p / total; acc }.toArray
  }
  private val vowels = "aeiouy"
  private val consonants = "bcdfghklmnprstvwz"

  def pseudoWord(rng: Random): String = {
    val i = java.util.Arrays.binarySearch(initialCdf, rng.nextDouble())
    val first = initials(math.min(if (i >= 0) i else -i - 1, initials.size - 1))._1
    val len = 3 + rng.nextInt(4) + rng.nextInt(4)
    val b = new StringBuilder().append(first)
    var vowel = !vowels.contains(first)
    while (b.length < len) {
      b.append(if (vowel) vowels(rng.nextInt(vowels.length)) else consonants(rng.nextInt(consonants.length)))
      vowel = !vowel
    }
    b.toString
  }
}

/** Renders token sequences as messy prose, and generates whole corpora. */
final class Corpus(val seed: Long) {
  val vocab = new Vocab(seed)

  private def lognormalLength(rng: Random, median: Int, sigma: Double, lo: Int, hi: Int): Int =
    math.max(lo, math.min(hi, math.round(median * math.exp(sigma * rng.nextGaussian())).toInt))

  /** Plain token draws (Zipf over the vocabulary, some numbers). */
  def tokens(rng: Random, n: Int): Vector[String] = Vector.fill(n) {
    if (rng.nextDouble() < 0.02) (1 + rng.nextInt(2025)).toString else vocab.draw(rng)
  }

  /** Prose for a token sequence: capitalised sentences, punctuation,
    * line breaks, tabs and no-break spaces between words, and non-ASCII
    * or punctuation characters inside words, which the normalizer
    * deletes without splitting the word. */
  def render(rng: Random, toks: Seq[String]): String = {
    val b = new StringBuilder
    var sentence = 0
    toks.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) b.append(rng.nextInt(100) match {
        case 0 => "\t"
        case 1 => " "
        case 2 => "  "
        case 3 => "\u00a0"
        case _ => if (sentence == 0) (if (rng.nextInt(3) == 0) "\n" else " ") else " "
      })
      var w = if (sentence == 0 && t.head.isLetter) t.head.toUpper.toString + t.tail else t
      if (w.length > 2) rng.nextInt(60) match {
        case 0 => w = w.take(2) + "ï" + w.drop(2)
        case 1 => w = w.take(1) + "'" + w.drop(1)
        case 2 => w = w.take(2) + "-" + w.drop(2)
        case 3 => w = "“" + w + "”"
        case 4 => w = "(" + w + ")"
        case 5 => w = w + "é"
        case _ =>
      }
      b.append(w)
      if (rng.nextInt(80) == 0) b.append(" — 日本")
      sentence += 1
      if (sentence >= 6 && rng.nextInt(10) == 0) {
        b.append(".!?".charAt(rng.nextInt(3)))
        sentence = 0
      } else if (rng.nextInt(12) == 0) b.append(',')
    }
    b.append('.').toString
  }

  def document(rng: Random, median: Int, lo: Int = 12, hi: Int = 2000): String =
    render(rng, tokens(rng, lognormalLength(rng, median, 0.6, lo, hi)))

  /** `n` file-per-document texts named `d000123.txt`, written to `dir`;
    * returns (doc_id, text) pairs. */
  def writeFiles(dir: Path, n: Int, median: Int, stream: Long): Seq[(String, String)] = {
    Files.createDirectories(dir)
    val rng = new Random(seed * 1000003L + stream)
    (0 until n).map { i =>
      val name = f"d$i%06d.txt"
      val text = document(rng, median)
      Files.write(dir.resolve(name), text.getBytes(UTF_8))
      name -> text
    }
  }

  /** The unique marker token of upload `i` (lowercase alphanumerics, so
    * it normalizes to itself; no vocabulary word holds a digit). */
  def marker(kind: Char, i: Int): String = s"mk${seed}$kind$i"

  /** A short upload text carrying its marker once. */
  def upload(rng: Random, markerTok: String, median: Int): String = {
    val toks = tokens(rng, lognormalLength(rng, median, 0.4, 8, 400))
    val at = rng.nextInt(toks.size + 1)
    render(rng, (toks.take(at) :+ markerTok) ++ toks.drop(at))
  }
}

/** A curation corpus with planted structure, written as JSONL. */
final case class CurateCorpus(
    docs: Vector[(Long, String, String)], // (doc_id, text, source)
    eval: Vector[(Long, String)],
    exactPairs: Vector[(Long, Long)],
    contaminated: Set[Long]) {
  def ids: Set[Long] = docs.iterator.map(_._1).toSet
  def textBytes: Long = docs.iterator.map(_._2.getBytes(UTF_8).length.toLong).sum
}

object CurateCorpus {
  /** `n` training docs, of which a share are planted exact duplicates,
    * near-duplicates (two words changed) and contaminated copies (an
    * eight-word span of an eval document inserted). Eval documents use
    * their own words — letters followed by two digits — which no
    * training word can equal, so an unplanted doc shares no w = 3
    * shingle with the eval set. Unplanted docs hold at least 20 tokens
    * and an English stopword, so they pass the quality and language
    * gates. */
  def generate(c: Corpus, n: Int, stream: Long, plantedShare: Double = 0.03): CurateCorpus = {
    val rng = new Random(c.seed * 7919L + stream)
    val evalWords = Vector.fill(2000)(Vocab.pseudoWord(rng) + f"${rng.nextInt(100)}%02d")
    val eval = Vector.tabulate(60)(i => (i.toLong + 1, Vector.fill(30)(evalWords(rng.nextInt(evalWords.size)))))
    val planted = math.max(1, (n * plantedShare).toInt)
    val nBase = n - 3 * planted
    val bases = Vector.fill(nBase) {
      val toks = c.tokens(rng, math.max(20, math.round(80 * math.exp(0.5 * rng.nextGaussian())).toInt))
      if (toks.exists(t => Vocab.english.take(10).contains(t))) toks
      else toks.updated(rng.nextInt(toks.size), "the")
    }
    val ids = rng.shuffle((1L to n.toLong).toVector)
    val sources = Vector("web", "books", "news")
    val texts = bases.map(c.render(rng, _))
    val out = Vector.newBuilder[(Long, String, String)]
    bases.indices.foreach(i => out += ((ids(i), texts(i), sources(i % 3))))
    val picks = rng.shuffle(bases.indices.toVector).take(3 * planted)
    val exact = picks.take(planted).zipWithIndex.map { case (b, j) =>
      val id = ids(nBase + j)
      out += ((id, texts(b), "web"))
      (ids(b), id)
    }
    picks.slice(planted, 2 * planted).zipWithIndex.foreach { case (b, j) =>
      val id = ids(nBase + planted + j)
      val t = bases(b)
      val edited = (0 until 2).foldLeft(t)((acc, _) => acc.updated(rng.nextInt(acc.size), c.vocab.draw(rng)))
      out += ((id, c.render(rng, edited), "books"))
    }
    val contam = picks.slice(2 * planted, 3 * planted).zipWithIndex.map { case (b, j) =>
      val id = ids(nBase + 2 * planted + j)
      val src = eval(rng.nextInt(eval.size))._2
      val from = rng.nextInt(src.size - 8)
      val t = bases(b)
      val at = rng.nextInt(t.size + 1)
      out += ((id, c.render(rng, (t.take(at) ++ src.slice(from, from + 8)) ++ t.drop(at)), "news"))
      id
    }
    val docs = out.result()
    CurateCorpus(docs, eval.map { case (id, t) => id -> t.mkString(" ") }, exact, contam.toSet)
  }

  def writeJsonl(path: Path, rows: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try rows.foreach { r => w.write(r); w.write('\n') } finally w.close()
  }

  def write(cc: CurateCorpus, docsPath: Path, evalPath: Path): Unit = {
    writeJsonl(docsPath, cc.docs.iterator.map { case (id, t, s) =>
      Json.render(Json.Obj(Seq("doc_id" -> id, "text" -> t, "source" -> s)))
    })
    writeJsonl(evalPath, cc.eval.iterator.map { case (id, t) =>
      Json.render(Json.Obj(Seq("doc_id" -> id, "text" -> t)))
    })
  }
}
