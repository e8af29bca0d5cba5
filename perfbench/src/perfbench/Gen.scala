package perfbench

import java.util.SplittableRandom

/** Seeded inputs for every workload. Each document and prompt is a pure
  * function of (seed, its own id), so the same seed gives the same inputs
  * in any order and the program under test sees only the generated rows.
  *
  * Words are synthetic: rank r of a Zipf vocabulary spells r in a
  * bijective base-70 consonant-vowel syllable alphabet, so every word is
  * one `\w+` token and one whitespace token, and distinct ranks are
  * distinct words. The prompt vocabulary (5k topic words) fits in the
  * embedder's 65,536-word memo; `Corpus` says whether the documents'
  * vocabulary does.
  *
  * Documents and prompts have one of `Topics` topics, the way books are
  * on a subject: a `topicalShare` of a document's tokens come from its
  * topic's own Zipf vocabulary of `TopicWords` words (ranks past the
  * 200 most common words whose residue mod `Topics` is the topic), the
  * rest from the global vocabulary. This gives the vectors the cluster
  * structure an IVF index relies on. */
final class Gen(seed: Long, val corpus: Corpus) {
  import Gen._

  private val cdf = zipfCdf(corpus.vocab, corpus.zipfExponent)
  private val topicCdf = zipfCdf(TopicWords, 1.0)

  private def rng(stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(stream * 0x9E3779B97F4A7C15L + id)))

  private def zipfRank(c: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(c, r.nextDouble())
    if (i >= 0) i else math.min(-i - 1, c.length - 1)
  }

  private def topicWord(j: Int, topic: Int): String = word(SharedWords + j * Topics + topic)

  /** Document `id` with a token count uniform in [minTokens, maxTokens]. */
  def doc(id: Long, minTokens: Int, maxTokens: Int): Doc = {
    val r = rng(1, id)
    val topic = r.nextInt(Topics)
    val n = minTokens + r.nextInt(maxTokens - minTokens + 1)
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(
        if (r.nextDouble() < corpus.topicalShare) topicWord(zipfRank(topicCdf, r), topic)
        else word(zipfRank(cdf, r)))
      i += 1
    }
    Doc(id, s"Book $seed-$id", Authors(r.nextInt(Authors.length)),
      (1900 + r.nextInt(125)).toString, sb.toString)
  }

  /** Prompt `id`: 6 to 14 words drawn uniformly from the first
    * `PromptVocab / Topics` words of one topic — shared with the
    * documents, and few enough in all for the memo. */
  def prompt(id: Long): String = {
    val r = rng(2, id)
    val topic = r.nextInt(Topics)
    Seq.fill(6 + r.nextInt(9))(topicWord(r.nextInt(PromptVocab / Topics), topic)).mkString(" ")
  }

  /** Size of appended book `id` in documents (1 to 3). */
  def bookDocs(id: Long): Int = 1 + rng(3, id).nextInt(3)
}

final case class Doc(id: Long, title: String, author: String, year: String, text: String)

/** Shape of a generated corpus: global vocabulary size, its Zipf
  * exponent, and the share of tokens drawn from the document's topic. */
final case class Corpus(vocab: Int, zipfExponent: Double, topicalShare: Double)

object Gen {
  val PromptVocab = 5000
  val Topics = 8
  val TopicWords = 2000
  val SharedWords = 200

  /** The ingest corpus: a flat Zipf over 200k words, so one run imports
    * more distinct words than the embedder's memo holds. */
  val IngestCorpus = Corpus(200000, 0.8, 0.3)
  /** The serving stores: 20k words, strongly topical. */
  val ServeCorpus = Corpus(20000, 1.0, 0.8)
  /** `graft.functions.Embedding`'s memo bound, recorded beside the
    * vocabulary sizes in every run record. */
  val EmbeddingMemoWords = 65536

  private val Authors = Array("Ann Vale", "Bo Reyes", "Cy Moor", "Di Shaw",
    "Ed Lunn", "Fay Oakes", "Gil Hart", "Hal Penn")

  private val Syllables: Array[String] =
    for (c <- "bcdfghjklmnprstvz".toArray.take(14); v <- "aeiou".toArray)
      yield s"$c$v"

  private def zipfCdf(n: Int, exponent: Double): Array[Double] = {
    val c = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += math.pow(r + 1.0, -exponent); c(r) = acc; r += 1 }
    r = 0
    while (r < n) { c(r) /= acc; r += 1 }
    c
  }

  def word(rank: Int): String = {
    val sb = new java.lang.StringBuilder
    var n = rank.toLong + 1
    while (n > 0) {
      n -= 1
      sb.append(Syllables((n % Syllables.length).toInt))
      n /= Syllables.length
    }
    sb.toString
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
