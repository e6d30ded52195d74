// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input is a pure function of the seed
  * (a note, of the seed and its id), so the same seed always yields the
  * same rows, and the generator knows the expected answers: the planted PII
  * strings of each note, the live NoteID set after each CDC batch, and
  * the planted duplicate groups of the corpus.
  */
object Gen {

  // Gazetteer entries and formats the NER recogniser is meant to catch;
  // each use is planted PII that must not survive pseudonymisation.
  private val Given = Vector("John", "Mary", "James", "Sarah", "David",
    "Emma", "Peter", "Laura", "George", "Alice", "Henry", "Grace",
    "Oliver", "Lucy", "Samuel", "Rachel")
  private val Surnames = Vector("Smith", "Jones", "Taylor", "Brown",
    "Wilson", "Evans", "Walker", "Wright", "Clark", "Turner", "Morgan",
    "Cooper")
  private val Places = Vector("London", "Manchester", "Leeds", "Bristol",
    "Glasgow", "Cardiff", "Dublin", "Paris", "Berlin", "Madrid", "Oxford",
    "Cambridge")
  private val Weekdays = Vector("Monday", "Tuesday", "Wednesday",
    "Thursday", "Friday", "Saturday", "Sunday")
  // clinical vocabulary the health annotator tags
  private val Symptoms = Vector("headache", "nausea", "fatigue",
    "dizziness", "fever", "cough", "pain", "anxiety", "insomnia", "tremor")
  private val Qualifiers = Vector("mild", "moderate", "severe", "chronic",
    "acute", "slightly")
  private val Medications = Vector("paracetamol", "ibuprofen", "aspirin",
    "metformin", "sertraline", "diazepam", "insulin")
  private val Diagnoses = Vector("diabetes", "hypertension", "asthma",
    "depression", "migraine")
  private val Remarks = Vector("Observations stable", "Bloods requested",
    "Reviewed medication chart", "Discussed care plan",
    "Alert and orientated", "Fluid intake reduced", "Appetite unchanged",
    "Mobilising with frame", "Skin intact", "No new concerns raised")

  final case class Note(id: Long, text: String, userId: Long,
      appointment: Timestamp, pii: Vector[String])

  private val Epoch2023 = 1672531200000L // 2023-01-01T00:00:00Z
  private val TwoYearsS = 2L * 365 * 24 * 3600

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T =
    xs(r.nextInt(xs.size))

  private def date(r: SplittableRandom): String = {
    val (y, m, d) = (2022 + r.nextInt(3), 1 + r.nextInt(12), 1 + r.nextInt(28))
    if (r.nextBoolean()) f"$y%04d-$m%02d-$d%02d" else f"$d%02d/$m%02d/$y%04d"
  }

  /** One note: 2 to 14 sentences, so text length varies roughly from
    * 60 to 900 characters.
    */
  def note(seed: Long, id: Long): Note = {
    val r = new SplittableRandom(seed ^ (id * 0x9E3779B97F4A7C15L))
    val pii = Vector.newBuilder[String]
    val sentences = (0 until 2 + r.nextInt(13)).map { _ =>
      r.nextInt(7) match {
        case 0 =>
          val (name, place, d) =
            (s"${pick(r, Given)} ${pick(r, Surnames)}", pick(r, Places), date(r))
          pii += name += place += d
          s"Seen by $name at the $place clinic on $d."
        case 1 =>
          val day = pick(r, Weekdays)
          pii += day
          s"Reports ${pick(r, Qualifiers)} ${pick(r, Symptoms)} since $day."
        case 2 =>
          val email = s"${pick(r, Given).toLowerCase}.${pick(r, Surnames)
            .toLowerCase}${r.nextInt(100)}@example.org"
          val phone = s"0${20 + r.nextInt(80)} ${1000 + r.nextInt(9000)} " +
            s"${1000 + r.nextInt(9000)}"
          pii += email += phone
          s"Contact $email or $phone for follow-up."
        case 3 =>
          s"Prescribed ${pick(r, Medications)} for ${pick(r, Diagnoses)}, " +
            s"review in ${2 + r.nextInt(10)} weeks."
        case 4 =>
          val (name, place) = (pick(r, Given), pick(r, Places))
          pii += name += place
          s"Visited by $name from $place."
        case 5 =>
          s"${pick(r, Remarks)} with ${pick(r, Qualifiers)} ${pick(r, Symptoms)}."
        case _ =>
          val (d, t) = (date(r), f"${8 + r.nextInt(10)}%d:${r.nextInt(4) * 15}%02d")
          pii += d += t
          s"Next appointment $d at $t."
      }
    }
    Note(id, sentences.mkString(" "), 1L + r.nextInt(100000),
      new Timestamp(Epoch2023 + r.nextLong(TwoYearsS) * 1000L), pii.result())
  }

  /** One CDC batch against bronze: new notes and deleted NoteIDs. */
  final case class Batch(index: Int, inserts: Vector[Long], deletes: Vector[Long]) {
    def changedRows: Long = inserts.size + deletes.size
  }

  /** Batch sizes of one cycle: mostly small batches (which take the
    * annotator's small path) and one large one. Each cycle runs them in
    * a seeded order, so any run of whole cycles has the same size mix.
    */
  val CycleInserts: Vector[Int] = Vector(8, 12, 16, 20, 25, 30, 40, 1200)

  /** The incremental CDC stream after an initial load of `initial`
    * notes (ids 1..initial). Deletes target live keys only, skewed
    * toward the most recently inserted ones; ids are never reused.
    */
  final class NoteStream(seed: Long, initial: Int) {
    private val r = new SplittableRandom(seed * 31 + 7)
    private val live = ArrayBuffer.tabulate(initial)(i => i + 1L)
    private var nextId = initial + 1L
    private var batches = 0
    private var cycle = Vector.empty[Int]

    def liveIds: Set[Long] = live.toSet
    def randomLive(q: SplittableRandom): Long = live(q.nextInt(live.size))

    def next(): Batch = {
      if (cycle.isEmpty) cycle = shuffle(CycleInserts)
      val n = cycle.head
      cycle = cycle.tail
      val deletes = Vector.fill(math.max(1, n / 8)) {
        val u = r.nextDouble()
        // quartic skew: most deletes hit the newest tenth of the table
        live.remove(live.size - 1 - (live.size * u * u * u * u).toInt)
      }
      val inserts = Vector.tabulate(n)(i => nextId + i)
      nextId += n
      live ++= inserts
      batches += 1
      Batch(batches, inserts, deletes)
    }

    /** True when the next batch starts a new cycle. */
    def atCycleStart: Boolean = cycle.isEmpty

    private def shuffle(xs: Vector[Int]): Vector[Int] = {
      val a = xs.toArray
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toVector
    }
  }

  /** Dedup corpus in the `documents` schema of the repository's test data. */
  final case class Doc(id: Long, text: String)
  final case class Corpus(docs: Vector[Doc], exactGroups: Vector[Vector[Long]],
      nearGroups: Vector[Vector[Long]]) {
    lazy val distinctTexts: Int = docs.map(_.text).distinct.size
  }

  private def word(k: Int): String = {
    val syl = Vector("ka", "lo", "mi", "ne", "tu", "ra", "shi", "po", "ve",
      "da", "gor", "fen", "bal", "tri", "qua", "zel")
    val b = new StringBuilder
    var x = k + 16
    while (x > 0) { b ++= syl(x % 16); x /= 16 }
    b.toString
  }
  private val Vocabulary = Vector.tabulate(6000)(word)

  /** `n` documents: ~10% in exact-duplicate groups (2 to 4 identical
    * copies), ~10% in near-duplicate groups (a base plus 1 to 3 copies
    * with ~4% of words substituted, at least one), the rest unique.
    * Doc ids are a seeded permutation, so groups are scattered. Text
    * lengths are spread evenly like those of the repository's
    * `documents` test data (44 to 577 characters, mean 297, at sf0.1).
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed * 131 + 17)
    def fresh(): Vector[String] =
      Vector.fill(6 + r.nextInt(65)) {
        val u = r.nextDouble()
        Vocabulary((Vocabulary.size * u * u).toInt)
      }
    def edited(words: Vector[String]): Vector[String] = {
      val forced = r.nextInt(words.size)
      words.zipWithIndex.map { case (w, i) =>
        if (i == forced || r.nextDouble() < 0.04) {
          var s = w
          while (s == w) s = Vocabulary(r.nextInt(Vocabulary.size))
          s
        } else w
      }
    }
    val ids = {
      val a = Array.tabulate(n)(_.toLong)
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    var used = 0
    val docs = Vector.newBuilder[Doc]
    def take(texts: Seq[Vector[String]]): Vector[Long] =
      texts.map { t =>
        val id = ids(used); used += 1
        docs += Doc(id, t.mkString(" "))
        id
      }.toVector
    val exact = Vector.newBuilder[Vector[Long]]
    val near = Vector.newBuilder[Vector[Long]]
    while (used < n / 10) {
      val base = fresh()
      exact += take(Seq.fill(math.min(2 + r.nextInt(3), n - used))(base))
    }
    while (used < n / 5) {
      val base = fresh()
      near += take(base +: Seq.fill(math.min(1 + r.nextInt(3), n - used - 1))(edited(base)))
    }
    while (used < n) take(Seq(fresh()))
    Corpus(docs.result().sortBy(_.id), exact.result().filter(_.size > 1),
      near.result().filter(_.size > 1))
  }

  /** Hex SHA-256 over a sequence of canonical row encodings. */
  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def noteLine(n: Note): String =
    s"${n.id}\t${n.userId}\t${n.appointment.getTime}\t${n.text}"
}
