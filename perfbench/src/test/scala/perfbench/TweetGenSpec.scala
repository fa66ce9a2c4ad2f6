package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class TweetGenSpec extends AnyFunSuite {
  private val vocab = (0 until 5000).map(i => s"w${Integer.toString(i, 26)}").toArray

  test("same seed, same bytes; another seed, other bytes") {
    val a = new TweetGen(vocab, 7).file(TweetGen.Backlog, 3, 500).bytes
    val b = new TweetGen(vocab, 7).file(TweetGen.Backlog, 3, 500).bytes
    val c = new TweetGen(vocab, 8).file(TweetGen.Backlog, 3, 500).bytes
    assert(java.util.Arrays.equals(a, b))
    assert(!java.util.Arrays.equals(a, c))
  }

  test("a file's bytes do not depend on which other files were made, or in which order") {
    val g1 = new TweetGen(vocab, 11)
    val alone = g1.file(TweetGen.Live, 5, 200).bytes
    val g2 = new TweetGen(vocab, 11)
    (0 until 5).reverse.foreach(i => g2.file(TweetGen.Live, i, 200))
    assert(java.util.Arrays.equals(alone, g2.file(TweetGen.Live, 5, 200).bytes))
    // streams and file indices never share bytes
    assert(!java.util.Arrays.equals(alone, g2.file(TweetGen.Backlog, 5, 200).bytes))
    assert(!java.util.Arrays.equals(alone, g2.file(TweetGen.Live, 6, 200).bytes))
  }

  test("lines are envelopes, except the recorded malformed share; retweets are recorded") {
    val f = new TweetGen(vocab, 3).file(TweetGen.Backlog, 0, 20000)
    val lines = new String(f.bytes, UTF_8).split("\n").toSeq
    assert(lines.size == 20000 && f.stats.lines == 20000)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val messages = lines.map(l => scala.util.Try(
      (org.json4s.jackson.JsonMethods.parse(l) \ "message").extract[String]).toOption.flatMap(Option(_)))
    assert(messages.count(_.isEmpty) == f.stats.malformed)
    assert(math.abs(f.stats.malformed / 20000.0 - TweetGen.MalformedShare) < 0.005)
    assert(math.abs(f.stats.duplicates / 20000.0 - TweetGen.DuplicateShare) < 0.01)
    val texts = messages.flatten
    assert(texts.size - texts.distinct.size >= f.stats.duplicates * 0.9)
    // the content mix the cleaner and scorer must handle
    assert(texts.exists(_.contains("http://t.co/")))
    assert(texts.exists(_.contains("@")) && texts.exists(_.contains("#")))
    assert(texts.exists(t => t.codePoints().anyMatch(Character.isSupplementaryCodePoint(_))))
    assert(texts.exists(_.exists(c => c >= 'A' && c <= 'Z')))
    assert(texts.exists(_.contains(",")) && texts.exists(_.exists(c => c > 0x7f && c < 0x2000)))
  }

  test("input properties are recorded") {
    val st = new TweetGen(vocab, 5).file(TweetGen.Backlog, 1, 5000).stats
    val m = st.toMap.toMap
    assert(m("bytes").asInstanceOf[Long] > 0)
    val tpd = m("tokens_per_doc").asInstanceOf[Double]
    assert(tpd >= TweetGen.MinTokens && tpd <= TweetGen.MaxTokens)
    val hit = m("vocab_hit_ratio").asInstanceOf[Double]
    assert(hit > 0.8 && hit < 1.0)
    assert(m("distinct_vocab_terms").asInstanceOf[Int] > 100)
  }

  test("word ranks are Zipf-skewed: rank 1 is drawn far more often than rank 1000") {
    val texts = new String(new TweetGen(vocab, 9).file(TweetGen.Backlog, 0, 5000).bytes, UTF_8)
    val words = texts.split("[^a-z0-9]+").toSeq
    assert(words.count(_ == vocab(0)) > 20 * math.max(1, words.count(_ == vocab(999))))
  }
}
