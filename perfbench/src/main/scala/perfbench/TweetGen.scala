package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded generator of tweet-like envelope files: one JSON envelope
  * `{"message": ...}` per line, the producer's wire format.
  *
  * Words are drawn Zipf-style (exponent 1) over the ranks of the
  * model's vocabulary, which the fixture stores in frequency order;
  * around them sit out-of-vocabulary words, URLs, @mentions,
  * #hashtags, upper-cased and capitalised words, trailing commas,
  * accented letters and non-BMP emoji. A fixed share of documents are
  * exact copies of an earlier one in the same file (retweets) and a
  * fixed share of lines are malformed envelopes, which decode to a
  * null message and are dropped by the pipeline.
  *
  * Every file draws from its own generator seeded by (seed, stream,
  * file index), so the bytes depend on nothing but those three
  * numbers: not on thread scheduling, not on which files are made. */
final class TweetGen(vocab: Array[String], seed: Long) {
  import TweetGen._

  private val cdf: Array[Double] = {
    val c = new Array[Double](vocab.length)
    var acc = 0.0
    var r = 0
    while (r < c.length) { acc += 1.0 / (r + 1); c(r) = acc; r += 1 }
    var i = 0
    while (i < c.length) { c(i) /= acc; i += 1 }
    c
  }

  private def zipfRank(rng: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** One file of `docs` lines for `stream` (a small tag separating the
    * backlog, the live feed and warm-up inputs). */
  def file(stream: Int, index: Int, docs: Int): GenFile = {
    val rng = new java.util.SplittableRandom(mix(seed, stream, index))
    val out = new java.io.ByteArrayOutputStream(docs * 160)
    val st = new GenStats
    val texts = new java.util.ArrayList[String](docs)
    var d = 0
    while (d < docs) {
      val u = rng.nextDouble()
      val line =
        if (u < MalformedShare) {
          st.malformed += 1
          malformed(rng, d)
        } else if (u < MalformedShare + DuplicateShare && !texts.isEmpty) {
          st.duplicates += 1
          val t = texts.get(rng.nextInt(texts.size()))
          st.countAgain(t)
          envelope(t)
        } else {
          val t = text(rng, st)
          texts.add(t)
          envelope(t)
        }
      out.write(line.getBytes(UTF_8))
      out.write('\n')
      d += 1
    }
    st.lines = docs
    val bytes = out.toByteArray
    st.bytes = bytes.length
    GenFile(bytes, st)
  }

  private def text(rng: java.util.SplittableRandom, st: GenStats): String = {
    val n = MinTokens + rng.nextInt(MaxTokens - MinTokens + 1)
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    var words = 0
    var inVocab = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val u = rng.nextDouble()
      if (u < 0.80) {
        val r = zipfRank(rng)
        val w = vocab(r)
        words += 1
        val v = rng.nextDouble()
        if (v < 0.05) sb.append(w.toUpperCase(java.util.Locale.ROOT))
        else if (v < 0.10) sb.append(capitalise(w))
        else if (v < 0.14) sb.append(w).append(',')
        else if (v < 0.16) sb.append(accent(w))
        else sb.append(w)
        if (v >= 0.14 && v < 0.16) () else { inVocab += 1; st.distinctRanks.set(r) }
      } else if (u < 0.86) {
        words += 1
        sb.append(letters(rng, 3 + rng.nextInt(6)))
      } else if (u < 0.89) {
        if (rng.nextBoolean()) sb.append("http://t.co/").append(alnum(rng, 8))
        else sb.append("www.site").append(rng.nextInt(1000)).append(".com/").append(alnum(rng, 4))
      } else if (u < 0.92) {
        sb.append('@').append(letters(rng, 4 + rng.nextInt(5))).append(rng.nextInt(100))
      } else if (u < 0.95) {
        sb.append('#').append(vocab(zipfRank(rng)))
      } else if (u < 0.97) {
        sb.appendCodePoint(Emoji(rng.nextInt(Emoji.length)))
      } else {
        sb.append(Punct(rng.nextInt(Punct.length)))
      }
      i += 1
    }
    st.tokens += n
    st.words += words
    st.vocabWords += inVocab
    sb.toString
  }
}

object TweetGen {
  /** Tokens per document, uniform. The range makes the JSON sink
    * write about 230 bytes a row, as the reference's recorded batch
    * did (493,220 bytes for 2,158 rows, BASELINE.md). */
  val MinTokens = 4
  val MaxTokens = 15
  /** Share of lines that are malformed envelopes (recorded per file).
    * Assumed: the repository records no such share of a real feed. */
  val MalformedShare = 0.01
  /** Share of lines that repeat an earlier document of the file.
    * Assumed, like the token mix and the Zipf exponent. */
  val DuplicateShare = 0.05

  /** Stream tags: inputs of different purposes never share bytes. */
  val Backlog = 1
  val Live = 2
  val WarmBacklog = 3
  val WarmLive = 4
  val Increment = 5

  private val Emoji: Array[Int] =
    Array(0x1F600, 0x1F602, 0x1F60D, 0x1F622, 0x1F621, 0x1F44D, 0x1F525, 0x1F389, 0x1F680, 0x1F914)
  private val Punct: Array[String] = Array("!!", "...", "?", "123", "2024", ":)", "&amp;", "--")
  private val Accents: Map[Char, Char] =
    Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ö', 'u' -> 'ü', 'n' -> 'ñ', 'c' -> 'ç')

  final case class GenFile(bytes: Array[Byte], stats: GenStats)

  /** Input properties, summed over files with [[GenStats.add]]. */
  final class GenStats {
    var lines = 0L
    var duplicates = 0L
    var malformed = 0L
    var bytes = 0L
    var tokens = 0L
    var words = 0L
    var vocabWords = 0L
    val distinctRanks = new java.util.BitSet()
    /** A retweet repeats its tokens; count them again. */
    def countAgain(t: String): Unit = tokens += t.split(' ').length
    def wellFormed: Long = lines - malformed
    def add(o: GenStats): Unit = {
      lines += o.lines; duplicates += o.duplicates
      malformed += o.malformed; bytes += o.bytes; tokens += o.tokens
      words += o.words; vocabWords += o.vocabWords
      distinctRanks.or(o.distinctRanks)
    }
    def toMap: Seq[(String, Any)] = Seq(
      "lines" -> lines, "well_formed" -> wellFormed, "malformed" -> malformed,
      "duplicates" -> duplicates, "bytes" -> bytes,
      "bytes_per_doc" -> bytes.toDouble / math.max(1L, lines),
      "tokens_per_doc" -> tokens.toDouble / math.max(1L, wellFormed),
      "distinct_vocab_terms" -> distinctRanks.cardinality(),
      "vocab_hit_ratio" -> vocabWords.toDouble / math.max(1L, words))
  }

  def mix(seed: Long, stream: Int, index: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + index * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The producer's envelope: JSON-encode the text as `message`. */
  def envelope(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length + 16)
    sb.append("{\"message\": \"")
    var i = 0
    while (i < text.length) {
      text.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append("\"}").toString
  }

  /** Lines that do not decode to a message: truncated JSON, plain
    * text, a null message and a wrong field name. */
  private def malformed(rng: java.util.SplittableRandom, d: Int): String = (d % 4) match {
    case 0 => "{\"message\": \"cut off " + letters(rng, 6)
    case 1 => "not json at all " + letters(rng, 6)
    case 2 => "{\"message\": null}"
    case _ => "{\"text\": \"" + letters(rng, 6) + "\"}"
  }

  private def capitalise(w: String): String =
    if (w.isEmpty) w else w.substring(0, 1).toUpperCase(java.util.Locale.ROOT) + w.substring(1)

  private def accent(w: String): String = {
    val i = w.indexWhere(Accents.contains)
    if (i < 0) w + "é" else w.substring(0, i) + Accents(w.charAt(i)) + w.substring(i + 1)
  }

  private def letters(rng: java.util.SplittableRandom, n: Int): String = {
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = ('a' + rng.nextInt(26)).toChar; i += 1 }
    new String(cs)
  }

  private def alnum(rng: java.util.SplittableRandom, n: Int): String = {
    val a = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = a.charAt(rng.nextInt(a.length)); i += 1 }
    new String(cs)
  }
}
