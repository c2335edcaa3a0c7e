package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every row is a pure function of
  * (seed, stream, row index): the same seed yields the same rows
  * whatever the number of Spark tasks that later writes them, and two
  * seeds give two different inputs.
  */
object Gen {
  val DayUs: Long = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z: the first day of every generated event log. */
  val EpochUs: Long = 1704067200L * 1000000L

  /** Independent generator for row `i` of `stream` under `seed`. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L +
      i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 31)) * 0xD6E8FEB86659FD93L
    new SplittableRandom(z ^ (z >>> 32))
  }

  /** Power-law key draw over [0, nKeys): P(key < k) = (k/nKeys)^(1/3).
    * Key 0 holds about (1/nKeys)^(1/3) of all draws (3.7% at 20k keys),
    * so hot keys carry thousands of events per 30-day window.
    */
  def skewedKey(r: SplittableRandom, nKeys: Int): Long =
    math.min(nKeys - 1L, (nKeys * math.pow(r.nextDouble(), 3.0)).toLong)

  val EventTypes: Array[String] = Array("view", "click", "purchase")

  /** One event: `arrivalDay` is the day its delta carries it, equal to
    * the event's own day except for late rows.
    */
  final case class Event(userId: Long, tsUs: Long, amount: Double,
      eventType: String, category: String, arrivalDay: Int)

  /** Row `i` of a log of `total` events over `days` days. Timestamps
    * are unique across the log (slot × total + i), so as-of lookups
    * never meet ties. `lateFrac` of the rows arrive 1 to 3 days late.
    */
  def event(seed: Long, i: Long, total: Long, days: Int, nKeys: Int,
      lateFrac: Double): Event = {
    val r = rng(seed, 1, i)
    val slots = days.toLong * DayUs / total
    val tsUs = EpochUs + (r.nextDouble() * slots).toLong * total + i
    val day = ((tsUs - EpochUs) / DayUs).toInt
    val late = if (r.nextDouble() < lateFrac) 1 + r.nextInt(3) else 0
    Event(skewedKey(r, nKeys), tsUs, (100 + r.nextInt(99900)) / 100.0,
      EventTypes(r.nextInt(EventTypes.length)), "c" + r.nextInt(12),
      day + late)
  }

  /** One observation row: about half the rows of a spine repeat an
    * earlier (user_id, obs_ts) pair, as spines built from impression
    * logs do.
    */
  final case class Obs(rowId: Long, userId: Long, obsTsUs: Long,
      obsValue: Double)

  def obs(seed: Long, build: Int, j: Long, rows: Long, nKeys: Int,
      fromDay: Int, untilDay: Int): Obs = {
    val pairs = math.max(1L, rows / 2)
    val pair = if (j < pairs) j else (rng(seed, 100 + build, j).nextDouble() * pairs).toLong
    val r = rng(seed, 200 + build, pair)
    val span = (untilDay - fromDay).toLong * DayUs
    Obs(j, skewedKey(r, nKeys), EpochUs + fromDay * DayUs + (r.nextDouble() * span).toLong,
      rng(seed, 300 + build, j).nextInt(1000) / 10.0)
  }

  // ------------------------------------------------------------ corpus

  private val Consonants = "bcdfghjklmnpqrstvwxz"
  private val Vowels = "aeiou"

  /** Word `i` of the vocabulary: `i` in base 20, every digit spelled as
    * a consonant plus a vowel, at a fixed width, so distinct indices
    * always give distinct words (checked by [[vocabulary]]).
    */
  def word(i: Int, width: Int): String = {
    val sb = new StringBuilder
    var v = i
    for (_ <- 0 until width) {
      val d = v % 20
      sb.append(Consonants(d)).append(Vowels(d % 5))
      v /= 20
    }
    require(v == 0, s"word index $i does not fit width $width")
    sb.toString
  }

  val Stopwords: Array[String] =
    Array("the", "of", "and", "to", "in", "is", "that", "with", "for", "on")

  /** The corpus vocabulary, asserted injective: a generator whose word
    * map collapsed two indices would plant near-duplicates nobody
    * declared.
    */
  def vocabulary(size: Int): Array[String] = {
    val width = math.max(1, math.ceil(math.log(size.toDouble) / math.log(20)).toInt)
    val ws = Array.tabulate(size)(word(_, width))
    require(ws.distinct.length == ws.length, "vocabulary word map is not injective")
    require(!ws.exists(Stopwords.contains), "vocabulary collides with a stopword")
    ws
  }

  /** Kind of a planted document. */
  object Kind {
    val Clean = 0; val NearDup = 1; val ExactDup = 2; val LowQuality = 3
  }

  /** Kind of document `id`: about 70% clean, 15% planted
    * near-duplicates, 5% exact duplicates, 10% low quality. The first
    * 64 ids are clean, so every duplicate has an earlier clean base.
    */
  def kind(seed: Long, id: Long): Int =
    if (id < 64) Kind.Clean
    else {
      val u = rng(seed, 10, id).nextDouble()
      if (u < 0.15) Kind.NearDup else if (u < 0.20) Kind.ExactDup
      else if (u < 0.30) Kind.LowQuality else Kind.Clean
    }

  /** The clean document a duplicate `id` copies: a smaller id, so the
    * ordered near-dup drop removes the copy and keeps the base.
    */
  def baseOf(seed: Long, id: Long): Long = {
    val r = rng(seed, 11, id)
    var b = (r.nextDouble() * id).toLong
    while (kind(seed, b) != Kind.Clean) b = (r.nextDouble() * id).toLong
    b
  }

  /** A clean document: 80 to 319 words, a stopword every 8th position
    * (the quality rule wants stopwords; isolated ones add no repeated
    * bigram), content words drawn from `vocab`.
    */
  def cleanText(seed: Long, id: Long, vocab: Array[String]): String = {
    val r = rng(seed, 12, id)
    val len = 80 + r.nextInt(240)
    (0 until len).map { p =>
      if (p % 8 == 3) Stopwords(r.nextInt(Stopwords.length))
      else vocab(r.nextInt(vocab.length))
    }.mkString(" ")
  }

  /** The replica suffix of near-duplicate `id`: two words spelling the
    * id in base |vocab|, so distinct replicas of one base are distinct
    * texts. Word 5-shingle Jaccard to the base stays above 0.97 for any
    * clean length, far above the drop threshold.
    */
  def replicaSuffix(id: Long, vocab: Array[String]): String = {
    val v = vocab.length.toLong
    require(id < v * v, s"replica id $id exceeds the injective suffix range")
    s"${vocab((id % v).toInt)} ${vocab((id / v).toInt)}"
  }

  /** Low-quality text: too short for the quality rule, or a repeated
    * phrase the repetition rule rejects.
    */
  def lowQualityText(seed: Long, id: Long, vocab: Array[String]): String = {
    val r = rng(seed, 13, id)
    if (r.nextBoolean())
      (0 until 20).map(_ => vocab(r.nextInt(vocab.length))).mkString(" the ")
    else {
      val phrase = (0 until 4).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")
      (0 until 30).map(_ => phrase).mkString(" and ")
    }
  }

  final case class Doc(docId: Long, text: String, kind: Int)

  def doc(seed: Long, id: Long, vocab: Array[String]): Doc = kind(seed, id) match {
    case Kind.Clean => Doc(id, cleanText(seed, id, vocab), Kind.Clean)
    case Kind.LowQuality => Doc(id, lowQualityText(seed, id, vocab), Kind.LowQuality)
    case Kind.ExactDup => Doc(id, cleanText(seed, baseOf(seed, id), vocab), Kind.ExactDup)
    case k => Doc(id, cleanText(seed, baseOf(seed, id), vocab) + " " +
      replicaSuffix(id, vocab), k)
  }
}
