package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Each generator also computes the oracle: the
  * answer the program must give for the inputs it just produced. The
  * program under test only ever sees the generated files. */
object Gen {

  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup")
  private val TypeWeights = Array(50, 30, 15, 5)
  val BaseEpochHour: Long = 492000L // 2026-02-15T00:00Z, hours since epoch
  val CentsLimit: Long = 500000L    // the gate's check: amount_cents <= 5000.00
  val Segments: Array[String] = Array("bronze", "silver", "gold", "platinum", "staff", "trial", "partner")

  def segmentOf(userId: Long): String = Segments((userId % Segments.length).toInt)

  /** One valid event as the oracle sees it (after the pipeline's cleaning). */
  final case class Event(eventId: Long, userId: Long, tpe: Int, cents: Long, epochHour: Long)

  /** Oracle of one upload. `lines` is the raw JSON payload. */
  final case class Upload(
      name: String,
      lines: Array[String],
      valid: Array[Event],
      invalid: Int,
      malformed: Int,
      gateScore: Double) {
    def passes: Boolean = gateScore > 0.8
    def inputBytes: Long = lines.iterator.map(_.length + 1L).sum
  }

  private def pickType(r: SplittableRandom): Int = {
    var x = r.nextInt(100)
    var i = 0
    while (x >= TypeWeights(i)) { x -= TypeWeights(i); i += 1 }
    i
  }

  /** Skewed user ids in 1..users: a quarter of the events come from the
    * first 1 % of users, so the top-k query has a real head. */
  private def pickUser(r: SplittableRandom, users: Int): Long =
    if (r.nextInt(4) == 0) 1L + r.nextInt(math.max(1, users / 100))
    else 1L + r.nextInt(users)

  private def isoHour(epochHour: Long, secOfHour: Int): String =
    java.time.Instant.ofEpochSecond(epochHour * 3600L + secOfHour).toString

  /** An upload of `n` records with event ids from `firstId`. Its rows fall
    * into `hours` consecutive hours starting at `firstHour`. Planted
    * defects, always present: about 1 % malformed lines and 3 % rows that
    * break a validation rule. `overLimitShare` of the valid rows exceed the
    * quality check's limit, which sets the gate score exactly. */
  def upload(name: String, r: SplittableRandom, n: Int, firstId: Long,
             firstHour: Long, hours: Int, users: Int,
             overLimitShare: Double): Upload = {
    val lines = new Array[String](n)
    val kinds = new Array[Byte](n) // 0 valid, 1 rule-breaking, 2 malformed
    val nMalformed = math.max(1, n / 100)
    val nInvalid = math.max(1, (n * 3) / 100)
    // choose the defect positions without replacement
    val order = (0 until n).toArray
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    (0 until nMalformed).foreach(k => kinds(order(k)) = 2)
    (nMalformed until nMalformed + nInvalid).foreach(k => kinds(order(k)) = 1)
    val nValid = n - nMalformed - nInvalid
    val nOver = math.round(nValid * overLimitShare).toInt
    // the first nOver valid positions, in shuffled order, are over the limit
    val over = new Array[Boolean](n)
    var picked = 0
    i = nMalformed + nInvalid
    while (picked < nOver) { over(order(i)) = true; picked += 1; i += 1 }

    val valid = new Array[Event](nValid)
    var v = 0
    val sb = new java.lang.StringBuilder(160)
    i = 0
    while (i < n) {
      val id = firstId + i
      val hour = firstHour + r.nextInt(hours)
      val sec = r.nextInt(3600)
      val tpe = pickType(r)
      val user = pickUser(r, users)
      val cents =
        if (over(i)) CentsLimit + 1 + r.nextInt(400000)
        else 1L + r.nextInt(CentsLimit.toInt)
      // raw spellings exercise the transform's whitespace cleaning
      val rawType = r.nextInt(8) match {
        case 0 => s" ${EventTypes(tpe)}"
        case 1 => s"${EventTypes(tpe)}  "
        case _ => EventTypes(tpe)
      }
      sb.setLength(0)
      kinds(i) match {
        case 2 =>
          if (r.nextBoolean()) sb.append("{\"event_id\": ").append(id).append(", \"user_id\": ")
          else sb.append("event ").append(id).append(" ### not json")
        case 1 =>
          // one broken rule per row: negative amount, unknown type or no user
          val rule = r.nextInt(3)
          sb.append("{\"event_id\":").append(id)
            .append(",\"user_id\":").append(if (rule == 2) "null" else user.toString)
            .append(",\"event_type\":\"").append(if (rule == 1) "refund" else rawType)
            .append("\",\"amount\":").append(if (rule == 0) "-" else "").append(cents / 100).append('.')
          val c = cents % 100; if (c < 10) sb.append('0'); sb.append(c)
          sb.append(",\"ts\":\"").append(isoHour(hour, sec)).append("\",\"device\":\"ios\"}")
        case _ =>
          sb.append("{\"event_id\":").append(id)
            .append(",\"user_id\":").append(user)
            .append(",\"event_type\":\"").append(rawType)
            .append("\",\"amount\":").append(cents / 100).append('.')
          val c = cents % 100; if (c < 10) sb.append('0'); sb.append(c)
          sb.append(",\"ts\":\"").append(isoHour(hour, sec))
            .append("\",\"device\":\"").append(if (r.nextBoolean()) "ios" else "android").append("\"}")
          valid(v) = Event(id, user, tpe, cents, hour); v += 1
      }
      lines(i) = sb.toString
      i += 1
    }
    val score = if (nValid == 0) 0.0 else (nValid - nOver).toDouble / nValid
    Upload(name, lines, valid, nInvalid, nMalformed, score)
  }

  def writeLines(path: Path, lines: Array[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // ---------------------------------------------------------------- corpus

  final case class Corpus(
      docs: Array[(Long, String)],
      planted: Array[(Long, Long)],
      batch: Array[(Long, String)],
      batchSurvivors: Set[Long])

  /** Distinct word 3-gram shingles, as the program defines them for
    * lowercase single-spaced text. */
  def shingles(text: String): Set[String] = {
    val t = text.split(" ")
    (0 until math.max(0, t.length - 2)).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** A corpus of `n` documents with planted near-duplicate pairs
    * (Jaccard >= 0.7) and a boilerplate head: `boilerplate` documents open
    * with one shared sentence, so its shingles' document frequency exceeds
    * the dedup index's df cap. Also a new batch for incremental dedup:
    * exact copies of corpus documents, in-batch exact duplicates and
    * fresh documents, with the expected survivors. */
  def corpus(r: SplittableRandom, n: Int, pairs: Int, boilerplate: Int): Corpus = {
    val vocab = Array.tabulate(6000)(i => "w" + Integer.toString(i * 7919 % 104729, 36))
    def words(len: Int): Array[String] = Array.fill(len)(vocab(r.nextInt(vocab.length)))
    val boiler = "this page is part of the public archive and may be reused under the usual terms".split(" ")
    val docs = new Array[(Long, String)](n)
    var i = 0
    while (i < n) {
      val body = words(40 + r.nextInt(40))
      val text = (if (i < boilerplate) boiler ++ body else body).mkString(" ")
      docs(i) = (i.toLong + 1, text)
      i += 1
    }
    // plant: a later document becomes an edited copy of an earlier one
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    val used = mutable.HashSet.empty[Int]
    while (planted.size < pairs) {
      val a = r.nextInt(n / 2)
      val b = n / 2 + r.nextInt(n - n / 2)
      if (!used(a) && !used(b)) {
        used += a; used += b
        val src = docs(a)._2.split(" ")
        var edits = 1 + r.nextInt(3)
        var copy = src.clone()
        def editOnce(): Unit = { copy(r.nextInt(copy.length)) = vocab(r.nextInt(vocab.length)) }
        (0 until edits).foreach(_ => editOnce())
        while (jaccard(shingles(src.mkString(" ")), shingles(copy.mkString(" "))) < 0.7 && edits > 0) {
          copy = src.clone(); edits -= 1; (0 until edits).foreach(_ => editOnce())
        }
        docs(b) = (docs(b)._1, copy.mkString(" "))
        planted += ((docs(a)._1, docs(b)._1))
      }
    }
    // incremental batch: ids above the corpus range
    val batchN = math.max(20, n / 5)
    val batch = new Array[(Long, String)](batchN)
    i = 0
    while (i < batchN) {
      val id = 1000000L + i
      val text = r.nextInt(10) match {
        case 0 => docs(r.nextInt(n))._2                            // already ingested
        case 1 if i > 0 => batch(r.nextInt(i))._2                   // in-batch duplicate
        case _ => words(30 + r.nextInt(30)).mkString(" ")           // fresh
      }
      batch(i) = (id, text)
      i += 1
    }
    val history = docs.iterator.map(_._2).toSet
    val firstPerText = batch.groupBy(_._2).map { case (_, g) => g.map(_._1).min }.toSet
    val survivors = batch.filter { case (id, t) => !history(t) && firstPerText(id) }.map(_._1).toSet
    Corpus(docs, planted.toArray, batch, survivors)
  }
}
