package perfbench

import java.util.SplittableRandom

/** Seeded generator for the reference app's inputs: items shaped
  * `{id, body: "Title: … Content: …"}`, short query texts, and edit
  * batches. Each document belongs to a topic, and each topic to one of
  * [[Families]] families; its words are drawn from the family's words,
  * the topic's words (both skewed) and background words. The words of
  * families and topics do not depend on the seed, so nearest neighbours
  * under the hashing embedder are topical and pivots learned on one
  * seed's documents fit every seed's. Same seed, same inputs.
  */
final class Corpus(seed: Long) extends Serializable {
  import Corpus._

  private val (familyWords, topicWords) = {
    val r = new SplittableRandom(VocabSeed)
    def words() = Array.fill(CoreWords)(Vocab(r.nextInt(Vocab.length)))
    (Array.fill(Families)(words()), Array.fill(Topics)(words()))
  }

  // squared uniform: a few words of each list dominate, as in real text
  private def skewed(r: SplittableRandom, words: Array[String]): String = {
    val u = r.nextDouble()
    words((u * u * words.length).toInt)
  }

  private def coreWord(r: SplittableRandom, t: Int): String = skewed(r, topicWords(t))

  private def text(r: SplittableRandom, t: Int, words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      val u = r.nextDouble()
      sb.append(
        if (u < 0.45) skewed(r, familyWords(t % Families))
        else if (u < 0.8) coreWord(r, t)
        else Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Body of document `n`; a pure function of (seed, n, revision). */
  def body(n: Long, revision: Int = 0): String = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + n * 31 + revision)
    val t = r.nextInt(Topics)
    val title = text(r, t, 2)
    val content = text(r, t, 25 + r.nextInt(20))
    if (revision == 0) s"Title: $title Content: $content"
    else s"Title: $title Content: $content rev$revision"
  }

  /** A short topical query, like the reference demo's "city in germany". */
  def query(r: SplittableRandom): String = text(r, r.nextInt(Topics), 4)

  /** A selective Mango `$regex` operand: one topic word, whole-word. */
  def findWord(r: SplittableRandom): String = coreWord(r, r.nextInt(Topics))
}

object Corpus {
  val Topics = 100
  val Families = 5
  val CoreWords = 40
  private val VocabSeed = 7L
  /** Seed of the documents the index pivots are learned on. */
  val TrainingSeed = 0L

  /** Fixed pseudo-word vocabulary built from syllables (seed-independent). */
  val Vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ren", "tu", "sa", "vor", "ne", "pi", "dal",
      "qu", "est", "bra", "on", "ti", "gu", "ze", "har", "lin", "mo")
    val r = new SplittableRandom(VocabSeed)
    Array.fill(4000) {
      val n = 2 + r.nextInt(2)
      (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
    }.distinct
  }

  def id(n: Long): String = f"$n%08d"
}
