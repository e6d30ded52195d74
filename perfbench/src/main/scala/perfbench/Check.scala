// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.functions.{HealthAnnotator, Ner}
import graft.lake.MiniLake

/** Output checks for the notes pipeline. Every failed check is a
  * violation in the report, which makes the run incorrect.
  */
final class NotesCheck(spark: SparkSession, seed: Long, val report: Report) {
  import spark.implicits._

  // the low 32 bits of Spark's xxhash64, so the sum cannot overflow
  private def fingerprint(ids: Iterable[Long]): (Long, Long, Long) =
    ids.foldLeft((0L, 0L, 0L)) { case ((n, s, h), id) =>
      (n + 1, s + id, h + (XXH64.hashLong(id, 42L) & 0xFFFFFFFFL))
    }

  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum($"NoteID"), lit(0L)),
      coalesce(sum(xxhash64($"NoteID").bitwiseAND(0xFFFFFFFFL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Cheap per-batch check: silver and gold hold exactly the expected
    * key multiset (count, sum and hash-sum of NoteID).
    */
  def keys(silver: String, gold: String, expected: Iterable[Long]): Boolean = {
    val want = fingerprint(expected)
    Seq("silver" -> silver, "gold" -> gold).forall { case (zone, path) =>
      val got = fingerprint(MiniLake(spark, path).snapshot())
      val ok = got == want
      if (!ok) report.violation(s"$zone NoteID fingerprint $got != expected $want")
      ok
    }
  }

  /** The full check of one silver/gold state against the generator. */
  def full(silver: String, gold: String, expected: Set[Long],
      sample: Int = 100): Boolean = {
    val before = report.violations.size
    val s = MiniLake(spark, silver).snapshot()
    val g = MiniLake(spark, gold).snapshot()
    for ((zone, df) <- Seq("silver" -> s, "gold" -> g)) {
      val ids = df.select($"NoteID").as[Long].collect()
      if (ids.length != ids.distinct.length)
        report.violation(s"$zone has duplicate NoteIDs")
      if (ids.toSet != expected)
        report.violation(s"$zone live NoteIDs differ from expected " +
          s"(${ids.toSet.diff(expected).size} extra, " +
          s"${expected.diff(ids.toSet).size} missing)")
      if (df.columns.contains("UserID")) report.violation(s"$zone still has UserID")
      val offHour = df.filter($"AppointmentDate" =!=
        date_trunc("hour", $"AppointmentDate")).count()
      if (offHour > 0)
        report.violation(s"$zone has $offHour AppointmentDate values off the hour")
    }
    if (!g.columns.contains("NoteText_extracted"))
      report.violation("gold lacks NoteText_extracted")

    // no planted PII string survives, in either zone
    val planted = expected.toSeq.flatMap(id =>
      Gen.note(seed, id).pii.distinct.map(p => (id, p))).toDF("NoteID", "pii")
    for ((zone, df) <- Seq("silver" -> s, "gold" -> g)) {
      val leaks = df.join(planted, "NoteID")
        .filter(instr($"NoteText", $"pii") > 0).count()
      if (leaks > 0) report.violation(s"$zone leaks $leaks planted PII strings")
    }

    // a seeded sample recomputed with the program's own functions
    val r = new SplittableRandom(seed + 99)
    val ordered = expected.toVector.sorted
    val picks = Vector.fill(math.min(sample, ordered.size))(
      ordered(r.nextInt(ordered.size))).distinct
    val rows = g.filter($"NoteID".isin(picks: _*)).collect()
    if (rows.length != picks.size)
      report.violation(s"gold sample returned ${rows.length} of ${picks.size} rows")
    rows.foreach { row =>
      val id = row.getAs[Long]("NoteID")
      val note = Gen.note(seed, id)
      val text = Ner.anonymise(note.text)
      if (row.getAs[String]("NoteText") != text)
        report.violation(s"gold NoteText of $id differs from Ner.anonymise")
      else if (extraction(row.getAs[Row]("NoteText_extracted")) !=
          extraction(HealthAnnotator.annotate(text)))
        report.violation(s"gold NoteText_extracted of $id differs from " +
          "HealthAnnotator.annotate")
      val hour = note.appointment.getTime / 3600000L * 3600000L
      if (row.getAs[Timestamp]("AppointmentDate").getTime != hour)
        report.violation(s"gold AppointmentDate of $id is not its hour")
    }
    report.violations.size == before
  }

  /** Gold rows per silver row; 1.0 when extraction neither drops nor
    * multiplies rows.
    */
  def fanout(silver: String, gold: String): Double =
    MiniLake(spark, gold).snapshot().count().toDouble /
      math.max(1L, MiniLake(spark, silver).snapshot().count())

  /** The analyst query's point lookup returned the expected note. */
  def lookup(id: Long, rows: Array[Row]): Boolean = {
    val ok = rows.length == 1 &&
      rows(0).getString(1) == Ner.anonymise(Gen.note(seed, id).text)
    if (!ok) report.violation(s"point lookup of NoteID $id returned ${rows.length} rows " +
      "or the wrong text")
    ok
  }

  private type Flat = (Seq[(String, String, Int, Int, Double)],
    Seq[(String, Seq[(String, String)])])

  private def extraction(e: HealthAnnotator.Extraction): Flat =
    (e.document.entities.map(x => (x.text, x.category, x.offset, x.length,
      x.confidenceScore)),
      e.document.relations.map(r => (r.relationType,
        r.entities.map(x => (x.text, x.category)))))

  private def extraction(row: Row): Flat = {
    val doc = row.getAs[Row]("document")
    (doc.getSeq[Row](0).map(x => (x.getString(0), x.getString(1), x.getInt(2),
      x.getInt(3), x.getDouble(4))),
      doc.getSeq[Row](1).map(r => (r.getString(0),
        r.getSeq[Row](1).map(x => (x.getString(0), x.getString(1))))))
  }
}
