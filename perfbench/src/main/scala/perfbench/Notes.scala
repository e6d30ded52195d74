// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Metrics
import graft.lake.{Catalog, Cdc, MiniLake, Watermark}
import graft.ops.{Extract, Pseudonymise}
import graft.pipeline.{Jobs, PipelineMain}

/** The two medallion workloads: `notes_backfill` (one large load carried
  * bronze → silver → gold) and `notes_incremental` (the weekly CDC
  * cadence: small batches of new and deleted notes, each followed by
  * both jobs and an analyst query on the registered gold view).
  */
object Notes {
  val Table = "Notes"
  /** The reference TableConfig (config.py:44-56), as the program ships it. */
  val Config = PipelineMain.NotesConfig

  /** Notes in the initial load of each workload. */
  val BackfillNotes = 16000
  val IncrementalNotes = 6000
  /** Untimed full passes, each with its queries, before the timed ones. */
  private val WarmPasses = 3

  private val Schema = StructType(Seq(
    StructField("NoteID", LongType, nullable = false),
    StructField("NoteText", StringType),
    StructField("UserID", LongType),
    StructField("AppointmentDate", TimestampType)))

  def frame(spark: SparkSession, seed: Long, ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map { id =>
      val n = Gen.note(seed, id)
      Row(n.id, n.text, n.userId, n.appointment)
    }.asJava, Schema)

  def checksum(seed: Long, ids: Seq[Long]): String =
    Gen.sha256(ids.iterator.map(id => Gen.noteLine(Gen.note(seed, id))))

  private def zones(base: String, bronze: String): Jobs.Zones =
    Jobs.Zones(bronze, s"$base/silver", s"$base/gold", s"$base/internal")
  private def at(zone: String): String = s"$zone/$Table"
  private def lakeDirs(z: Jobs.Zones): Seq[String] = Seq(z.silver, z.gold, z.internal)
  private def parquetBytes(files: Map[String, Long]): Long =
    files.collect { case (p, n) if p.endsWith(".parquet") => n }.sum

  /** bronze → silver → gold once. Untraced it calls the product entry
    * points; traced it makes the same calls `Jobs.runPseudonymisation`
    * and `Jobs.runFeatureExtraction` make, in the same order, with a
    * span around each layer and the UDFs timed at their seams.
    */
  def runPipeline(spark: SparkSession, z: Jobs.Zones, t: Option[Traced]): Unit =
    t match {
      case None =>
        Jobs.runPseudonymisation(spark, z, Config)
        Jobs.runFeatureExtraction(spark, z, Config)
      case Some(t) =>
        val tr = t.tracer
        val config = Config(Table)
        def step(activity: String, from: String, to: String)(
            transform: DataFrame => DataFrame): Unit = {
          Metrics.initializeLogging(activity)
          val wm = Watermark(spark, z.watermarkPath)
          tr.span("watermark.read") {
            wm.lowWatermark(activity, Table); wm.highWatermark(at(from))
          }
          val (upd, nonEmpty) = tr.span("cdc.read") {
            val u = Cdc.readTableUpdate(spark, at(from), wm, activity, Table)
            (u, !u.df.isEmpty)
          }
          if (nonEmpty) {
            val out = transform(upd.df)
            val (ins, del) = tr.span("cdc.write") {
              Cdc.writeTableUpdate(spark, upd.copy(df = out), at(to),
                config.primaryKeys, wm, activity, Table)
            }
            Metrics.rowsUpdated(ins, Table, "insert", activity)
            Metrics.rowsUpdated(del, Table, "delete", activity)
            t.cdcInserted += ins
            t.cdcDeleted += del
          }
        }
        tr.span("pipeline.pseudonymisation") {
          step("pseudonymisation", z.bronze, z.silver) { df =>
            tr.span("ner.plan") {
              Pseudonymise.pseudoTransform(
                df.repartition(math.max(Jobs.TargetPartitions, df.rdd.getNumPartitions)),
                Table, config, Tracer.timedAnonymise(t.udfs))
            }
          }
        }
        tr.span("pipeline.feature_extraction") {
          step("feature_extraction", z.silver, z.gold) { df =>
            tr.span("annotator.plan") {
              Extract.extractFeatures(df, Table, config, 1,
                Tracer.timedAnnotator(t.udfs))
            }
          }
          tr.span("catalog.register") {
            if (MiniLake.exists(at(z.gold)))
              Catalog.registerLakeTable(spark, Table, at(z.gold))
          }
        }
    }

  /** One unit of pipeline work; returns its latency in seconds. A traced
    * unit also records its span tree and the zone files it added.
    */
  private def unit(spark: SparkSession, z: Jobs.Zones, t: Option[Traced],
      name: String, bronzeAdded: Long): Double = t match {
    case None =>
      val t0 = System.nanoTime()
      runPipeline(spark, z, None)
      (System.nanoTime() - t0) / 1e9
    case Some(t) =>
      val w0 = System.nanoTime()
      val before = Tracer.files(lakeDirs(z): _*)
      t.tracer.unit += 1
      val t0 = System.nanoTime()
      t.tracer.span(name)(runPipeline(spark, z, Some(t)))
      val latency = (System.nanoTime() - t0) / 1e9
      val added = Tracer.added(before, Tracer.files(lakeDirs(z): _*))
      t.lakeBytes += added.values.sum
      t.lakeFiles += added.size
      t.commits += added.keys.count(p => p.contains("/_log/") && p.endsWith(".json"))
      t.rewriteBytes += added.collect { case (p, n) if p.contains("/data/") &&
        !p.startsWith(z.internal) => n }.sum
      t.changeBytes += bronzeAdded
      t.unitWalls += (System.nanoTime() - w0) / 1e9
      latency
  }

  /** The analyst query on the registered gold view: an entity-category
    * aggregate and a NoteID point lookup. Returns its latency.
    */
  private def query(spark: SparkSession, t: Option[Traced], id: Long,
      check: NotesCheck, report: Report): Double = {
    def run() = {
      val t0 = System.nanoTime()
      val cats = spark.sql(
        s"""SELECT e.category, count(*) AS n FROM $Table
           |LATERAL VIEW explode(NoteText_extracted.document.entities) x AS e
           |GROUP BY e.category""".stripMargin).collect()
      val hit = spark.sql(s"SELECT NoteID, NoteText FROM $Table WHERE NoteID = $id")
        .collect()
      val s = (System.nanoTime() - t0) / 1e9
      if (cats.isEmpty) report.violation("entity-category aggregate is empty")
      check.lookup(id, hit)
      s
    }
    t match {
      case None => run()
      case Some(t) =>
        t.queries += 1
        t.queryFiles += spark.table(Table).inputFiles.length
        t.tracer.span("query")(run())
    }
  }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def backfill(ctx: Ctx): Outcome = {
    import ctx._
    val ids = (1L to BackfillNotes).toVector
    val check = new NotesCheck(spark, seed, report)
    report.note(s"input_sha256 ${checksum(seed, ids)}")
    report.note(Stats.lengths("notes", ids.map(id => Gen.note(seed, id).text.length)))
    // set-up, several times: generate the load and write bronze
    val prep = (1 to Ctx.SetupReps).map { i =>
      timeS {
        MiniLake(spark, s"${dir(s"prep-$i")}/bronze/$Table").create(frame(spark, seed, ids))
      }
    }
    val bronze = s"${dir(s"prep-${Ctx.SetupReps}")}/bronze"
    val bronzeBytes = parquetBytes(Tracer.files(bronze))
    // warm-up: untimed passes and queries like the timed ones. Pass time
    // keeps falling for many passes while the JIT compiles the
    // driver-side planning and commit code.
    val wq = new SplittableRandom(seed + 4)
    val warmLat = ArrayBuffer.empty[Double]
    val warm = timeS {
      for (i <- 1 to WarmPasses) {
        val z = zones(dir(s"warm-$i"), bronze)
        warmLat += timeS(runPipeline(spark, z, None))
        for (_ <- 1 to 3) query(spark, None, 1L + wq.nextInt(ids.size), check, report)
        MiniLake.deleteRecursively(dir(s"warm-$i"))
      }
    }
    report.note("warm-up latencies " + warmLat.map(v => f"$v%.3f").mkString(" "))
    report.note(f"setup: session $sessionS%.3f s, prepare median " +
      f"${Stats.median(prep)}%.3f s of ${prep.map(v => f"$v%.3f").mkString(",")}, warm-up $warm%.3f s")
    val traced = if (trace) Some(new Traced(spark)) else None
    val q = new SplittableRandom(seed + 5)
    val lat, qs, walls, served, amps = ArrayBuffer.empty[Double]
    var checkedUntraced, checkedTraced = false
    var fan = 0.0
    var filesLive = 0L
    val start = System.nanoTime()
    var k = 0
    while (k < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      val t = traced.filter(_ => k % 2 == 1)
      val base = dir(s"pass-$k")
      val z = zones(base, bronze)
      report.op {
        val s = unit(spark, z, t, "pass", bronzeBytes)
        lat += s
        // a pass gives few latency samples; three lookups per pass steady
        // the query median
        val looked = (1 to 3).map(_ => query(spark, t, 1L + q.nextInt(ids.size), check, report))
        qs ++= looked
        if (t.isEmpty) {
          walls += s
          served += s + looked.sum
          amps += Tracer.files(lakeDirs(z): _*).values.sum.toDouble / bronzeBytes
        }
        val full = if (t.isEmpty) !checkedUntraced else !checkedTraced
        if (full) {
          check.full(at(z.silver), at(z.gold), ids.toSet)
          if (t.isEmpty) checkedUntraced = true else checkedTraced = true
        } else check.keys(at(z.silver), at(z.gold), ids)
        if (k == 0) {
          fan = check.fanout(at(z.silver), at(z.gold))
          if (fan != 1.0) report.violation(s"extract fan-out $fan != 1.0")
          filesLive = MiniLake(spark, at(z.gold)).snapshot().inputFiles.length
        }
      }
      MiniLake.deleteRecursively(base)
      k += 1
    }
    // rows per second of served work: a pass and the queries on its gold
    Outcome(Stats.median(prep) + sessionS + warm, ids.size.toDouble / Stats.median(served.toSeq),
      lat.toSeq, qs.toSeq, Stats.median(amps.toSeq), traced, walls.toSeq, fan, filesLive)
  }

  def incremental(ctx: Ctx): Outcome = {
    import ctx._
    val initial = (1L to IncrementalNotes).toVector
    val check = new NotesCheck(spark, seed, report)
    def writeBatch(bronze: String, b: Gen.Batch): Unit = {
      val lake = MiniLake(spark, at(bronze))
      lake.append(frame(spark, seed, b.inserts))
      lake.deleteVectored(col("NoteID").isin(b.deletes: _*))
    }
    report.note(s"input_sha256 ${checksum(seed, initial)}")
    // set-up, several times: load bronze and seed silver and gold. All
    // but the last copy also run two warm-up batches; the last copy is
    // the one measured, so its stream starts at a cycle boundary.
    var warm = 0.0
    val prep = (1 to Ctx.SetupReps).map { i =>
      val base = dir(s"prep-$i")
      val s = timeS {
        MiniLake(spark, at(s"$base/bronze")).create(frame(spark, seed, initial))
        runPipeline(spark, zones(base, s"$base/bronze"), None)
      }
      if (i < Ctx.SetupReps) {
        val ws = new Gen.NoteStream(seed + i, IncrementalNotes)
        warm += timeS {
          for (_ <- 1 to 2) report.op {
            writeBatch(s"$base/bronze", ws.next())
            runPipeline(spark, zones(base, s"$base/bronze"), None)
          }
          MiniLake.deleteRecursively(base)
        }
      }
      s
    }
    report.note(f"setup: session $sessionS%.3f s, prepare median " +
      f"${Stats.median(prep)}%.3f s of ${prep.map(v => f"$v%.3f").mkString(",")}, warm-up $warm%.3f s")
    val base = dir(s"prep-${Ctx.SetupReps}")
    val z = zones(base, s"$base/bronze")
    val stream = new Gen.NoteStream(seed, IncrementalNotes)
    val traced = if (trace) Some(new Traced(spark)) else None
    val q = new SplittableRandom(seed + 5)
    val lat, qs, walls = ArrayBuffer.empty[Double]
    val rows = ArrayBuffer.empty[Long]
    val lakeStart = Tracer.files(lakeDirs(z): _*)
    val bronzeStart = Tracer.files(z.bronze)
    val start = System.nanoTime()
    var cycles = 0
    def more = !stream.atCycleStart ||
      (System.nanoTime() - start) / 1e9 < seconds || (trace && cycles < 2)
    while (more) {
      if (stream.atCycleStart) cycles += 1
      val t = traced.filter(_ => cycles % 2 == 0)
      val b = stream.next()
      val bronzeBefore = if (t.isDefined) Tracer.files(z.bronze) else Map.empty[String, Long]
      writeBatch(z.bronze, b)
      val bronzeAdded = if (t.isDefined)
        parquetBytes(Tracer.added(bronzeBefore, Tracer.files(z.bronze))) else 0L
      report.op {
        val s = unit(spark, z, t, "batch", bronzeAdded)
        if (t.isEmpty) walls += s
        lat += s
        rows += b.changedRows
        qs += query(spark, t, stream.randomLive(q), check, report)
        check.keys(at(z.silver), at(z.gold), stream.liveIds)
      }
    }
    val lakeAdded = Tracer.added(lakeStart, Tracer.files(lakeDirs(z): _*)).values.sum
    val bronzeAdded = parquetBytes(Tracer.added(bronzeStart, Tracer.files(z.bronze)))
    report.op(check.full(at(z.silver), at(z.gold), stream.liveIds))
    val fan = check.fanout(at(z.silver), at(z.gold))
    if (fan != 1.0) report.violation(s"extract fan-out $fan != 1.0")
    Outcome(Stats.median(prep) + sessionS + warm, rows.sum / lat.sum, lat.toSeq, qs.toSeq,
      lakeAdded.toDouble / bronzeAdded, traced, walls.toSeq, fan,
      MiniLake(spark, at(z.gold)).snapshot().inputFiles.length.toLong)
  }
}
