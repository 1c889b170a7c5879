package indexbench

import scala.collection.mutable

/** An independent plain-Scala statement of the reference tokenizer
  * (`mapper/main.py:56-57`, then `str.split()`): every run of Python
  * whitespace is a separator, each character is lowercased, and
  * whatever is not `[a-z0-9]` is deleted without splitting the word it
  * sits in ("don't" -> "dont"). It shares no code with the library, so
  * the benchmark's output checks do not inherit a library bug.
  */
object Reference {

  /** Python's `str.isspace()` set — what `re`'s Unicode `\s` matches. */
  def isSpace(cp: Int): Boolean = cp match {
    case 0x09 | 0x0a | 0x0b | 0x0c | 0x0d | 0x20 => true
    case c if c >= 0x1c && c <= 0x1f => true
    case 0x85 | 0xa0 | 0x1680 | 0x2028 | 0x2029 | 0x202f | 0x205f | 0x3000 => true
    case c if c >= 0x2000 && c <= 0x200a => true
    case _ => false
  }

  def tokens(text: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder
    def flush(): Unit = if (cur.length > 0) { out += cur.toString; cur.setLength(0) }
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      i += Character.charCount(cp)
      if (isSpace(cp)) flush()
      else {
        val low = new String(Character.toChars(cp)).toLowerCase(java.util.Locale.ROOT)
        low.foreach(c => if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) cur.append(c))
      }
    }
    flush()
    out.result()
  }

  /** Term counts of one document. */
  def counts(text: String): Map[String, Long] =
    tokens(text).groupMapReduce(identity)(_ => 1L)(_ + _)

  /** An order-independent digest of a set of `(word, doc_id, cnt)` rows:
    * the row count plus two wrapping sums of per-row hashes. */
  final case class Digest(rows: Long, h1: Long, h2: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, h1 + o.h1, h2 + o.h2)
  }
  object Digest {
    val empty: Digest = Digest(0, 0, 0)
    def row(word: String, doc: String, cnt: Long): Digest = {
      val s = s"$word\u0000$doc\u0000$cnt"
      Digest(1, scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong,
        scala.util.hashing.MurmurHash3.stringHash(s, 0x1dea).toLong << 32)
    }
  }

  /** The expected index of a set of documents (doc_id -> text). */
  final class Index(docs: Seq[(String, String)]) {
    val perDoc: Map[String, Map[String, Long]] = docs.map { case (d, t) => d -> counts(t) }.toMap
    val digest: Digest = perDoc.foldLeft(Digest.empty) { case (acc, (d, m)) =>
      m.foldLeft(acc) { case (a, (w, c)) => a + Digest.row(w, d, c) }
    }
    /** Postings of each word in the served order: cnt desc, doc_id asc. */
    lazy val postings: Map[String, Vector[(String, Long)]] = {
      val acc = mutable.HashMap.empty[String, mutable.ArrayBuffer[(String, Long)]]
      perDoc.foreach { case (d, m) => m.foreach { case (w, c) =>
        acc.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += (d -> c)
      } }
      acc.iterator.map { case (w, ps) =>
        w -> ps.sortBy { case (d, c) => (-c, d) }.toVector
      }.toMap
    }
    def words: Set[String] = postings.keySet
    def docHasAny(doc: String, terms: Seq[String]): Boolean =
      perDoc.get(doc).exists(m => terms.exists(m.contains))
  }
}
