package perfbench

import java.text.Normalizer
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Seeded synthetic text: a Zipf-distributed lexicon of ~5x10^4 word types,
  * a bank of recurring stock phrases (so multi-word n-grams repeat across
  * documents, as they do in real text), long-tailed document lengths, and a
  * renderer that turns canonical tokens into raw text the normalizer has to
  * undo (mixed case, punctuation, NFD-decomposed letters, odd whitespace).
  *
  * Canonical tokens are exactly what `normalize` must recover: lowercase,
  * NFC, made only of `\w` characters, so the generator's token lists are the
  * ground truth every output check is computed from.
  */
final class TextGen(seed: Long) {
  private val NTypes = 50000
  private val ZipfS = 1.05
  private val NStockPhrases = 20000
  private val PhraseS = 0.7
  private val PhraseRate = 0.03
  private val MaxLength = 3000

  private val Cons = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"
  private val Accented = Array("é", "è", "ü", "ö", "å", "ø", "ñ", "ç")

  val words: Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5851F42D4C957F2DL)
    val seen = mutable.HashSet[String]()
    val out = new Array[String](NTypes)
    var rank = 0
    while (rank < NTypes) {
      var extra = 0
      var w = ""
      while ({ w = makeWord(r, rank, extra); !seen.add(w) }) extra += 1
      out(rank) = w
      rank += 1
    }
    out
  }

  private def makeWord(r: SplittableRandom, rank: Int, extra: Int): String = {
    val base = if (rank < 60) 1 else if (rank < 2000) 2 else 3
    val syl = base + r.nextInt(2) + extra / 8
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < syl) {
      sb.append(Cons.charAt(r.nextInt(Cons.length)))
      if (r.nextInt(16) == 0) sb.append(Accented(r.nextInt(Accented.length)))
      else sb.append(Vowels.charAt(r.nextInt(Vowels.length)))
      i += 1
    }
    if (r.nextInt(3) == 0) sb.append(Cons.charAt(r.nextInt(Cons.length)))
    sb.toString
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def drawRank(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) > u) hi = mid else lo = mid + 1
    }
    lo
  }

  private val wordCdf = zipfCdf(NTypes, ZipfS)
  private val phraseCdf = zipfCdf(NStockPhrases, PhraseS)

  def drawWord(r: SplittableRandom): Int = drawRank(wordCdf, r)

  /** Recurring multi-word phrases (2-5 tokens), drawn by a flat Zipf law
    * (a steep head would put the same phrase in most documents and make
    * every pair of documents a near-duplicate candidate). */
  val stockPhrases: Array[Array[Int]] = {
    val r = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    Array.fill(NStockPhrases)(Array.fill(2 + r.nextInt(4))(drawWord(r)))
  }

  /** Long-tailed document length in tokens (log-normal, median ~110). */
  def drawLength(r: SplittableRandom, min: Int = 8): Int = {
    val l = math.exp(math.log(110.0) + 0.9 * r.nextGaussian()).round.toInt
    math.min(MaxLength, math.max(min, l))
  }

  /** Canonical token ids of one document of `len` tokens. */
  def drawDoc(r: SplittableRandom, len: Int): Array[Int] = {
    val out = new Array[Int](len)
    var i = 0
    while (i < len) {
      if (r.nextDouble() < PhraseRate) {
        val p = stockPhrases(drawRank(phraseCdf, r))
        var j = 0
        while (j < p.length && i < len) { out(i) = p(j); i += 1; j += 1 }
      } else { out(i) = drawWord(r); i += 1 }
    }
    out
  }

  private val Punct = Array(",", ".", ";", ":", "!", "?")

  private def hasAccent(w: String): Boolean = w.exists(_ > 127)

  /** One raw rendering of a canonical token. Case changes are only applied
    * where lowercasing undoes them exactly (true for this alphabet). */
  def renderToken(w: String, r: SplittableRandom): String = {
    var s = w
    val c = r.nextInt(100)
    if (c < 8) s = s.substring(0, 1).toUpperCase(Locale.ROOT) + s.substring(1)
    else if (c < 9) s = s.toUpperCase(Locale.ROOT)
    if (hasAccent(w) && r.nextInt(3) == 0) s = Normalizer.normalize(s, Normalizer.Form.NFD)
    val p = r.nextInt(100)
    if (p < 6) s + Punct(r.nextInt(Punct.length))
    else if (p == 6) "(" + s + ")"
    else if (p == 7) "«" + s + "»"
    else s
  }

  /** Raw text for canonical tokens `toks` (strings). */
  def render(toks: Array[String], r: SplittableRandom): String = {
    val sb = new java.lang.StringBuilder(toks.length * 8)
    var i = 0
    while (i < toks.length) {
      if (i > 0) {
        val g = r.nextInt(200)
        sb.append(if (g < 4) "  " else if (g < 6) "\n" else if (g < 8) " — " else " ")
      }
      val t = toks(i)
      // pseudo-tokens are emitted verbatim, as the reference's corpora carry them
      sb.append(if (t.startsWith("nferdoccount_")) t else renderToken(t, r))
      i += 1
    }
    sb.toString
  }
}

object TextGen {
  /** Canonical text: the normalizer's expected output for a document. */
  def canonical(toks: Array[String]): String = toks.mkString(" ")
}
