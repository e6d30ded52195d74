// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload body gets: the session, its inputs' seed, how long
  * to measure, whether this is the traced run, and a scratch directory.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Boolean, work: String, report: Report, sessionS: Double) {
  def dir(name: String): String = s"$work/$name"
}

object Ctx {
  /** Set-up is repeated this many times per run; `setup_s` uses the median. */
  val SetupReps = 3
}

/** What a workload run measured, for the metric assembly below.
  * `latencies` are per batch (`notes_incremental`), per pass
  * (`notes_backfill`) or per clustering pass (`corpus_dedup`);
  * `queries` are per analyst query, or per exact-dedup query.
  */
final case class Outcome(setupS: Double, rowsPerS: Double,
    latencies: Seq[Double], queries: Seq[Double], writeAmp: Double,
    traced: Option[Traced], untracedWalls: Seq[Double], fanout: Double,
    filesLive: Long, extra: Map[String, Double] = Map.empty)

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--traces <dir>] [--cores <n>]`. Prints `#`-prefixed report lines, then
  * `RESULT <json>`; exits 1 when an output check failed.
  */
object Main {
  val Workloads = Seq("notes_backfill", "notes_incremental", "corpus_dedup")

  /** Per-layer metrics, printed by the traced run: name, unit, and the
    * end-to-end metric and workload each is predicted to move, read from
    * the traced baseline in perfbench/README.md. Times and counts are
    * per unit of work (pass) unless the name says otherwise.
    */
  val PerLayer: Seq[(String, String, String)] = {
    // the UDFs run inside the pass (their plans are lazy, so their
    // execution falls in the cdc.write span), at about 0.43 of its
    // task time
    val pass = "batch_p50_s and rows_per_s on notes_backfill"
    val query = "query_p50_s and rows_per_s on notes_backfill"
    val exact = "query_p50_s and rows_per_s on corpus_dedup"
    val cluster = "batch_p50_s and rows_per_s on corpus_dedup"
    Seq(
      ("ner.calls", "count", pass), ("ner.cpu_s", "s", pass),
      ("ner.us_per_call", "us", pass), ("ner.redactions", "count", pass),
      ("annotator.calls", "count", pass), ("annotator.cpu_s", "s", pass),
      ("annotator.us_per_call", "us", pass),
      ("spark.busy_cores", "cores", pass), ("spark.task_s", "s", pass),
      ("spark.gc_s", "s", pass), ("spark.spill_bytes", "bytes", pass),
      ("pipeline.pseudonymisation_s", "s", pass),
      ("pipeline.feature_extraction_s", "s", pass),
      ("cdc.read_s", "s", pass), ("cdc.write_s", "s", pass),
      ("watermark.read_s", "s", pass), ("cdc.rows_read", "count", pass),
      ("cdc.rows_inserted", "count", pass), ("cdc.rows_deleted", "count", pass),
      ("spark.jobs", "count", pass), ("spark.tasks", "count", pass),
      ("lake.commits", "count", pass),
      ("lake.bytes_written", "bytes", pass), ("lake.files_written", "count", pass),
      ("lake.rewrite_ratio", "ratio", pass), ("catalog.register_s", "s", pass),
      ("lake.files_live", "count", query),
      ("query.input_bytes", "bytes", query), ("query.files_scanned", "count", query),
      ("extract.fanout", "ratio", "correct on notes_backfill: must stay 1.0"),
      ("dedup.exact_s", "s", exact), ("dedup.cluster_s", "s", cluster),
      ("dedup.clusters", "count", cluster),
      ("dedup.planted_recall", "ratio", "none: clustering quality on corpus_dedup"),
      ("spark.shuffle_bytes", "bytes", "rows_per_s on corpus_dedup"),
      ("trace.overhead_s", "s", "none: traced minus untraced wall per unit"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(Paths.get(work))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val report = new Report
    val ctx = Ctx(spark, seed, seconds, trace, work, report, sessionS)
    report.note(s"workload $workload seed $seed seconds $seconds trace $trace " +
      s"local[$cores]")
    val wall0 = System.nanoTime()
    try {
      val o = workload match {
        case "notes_backfill" => Notes.backfill(ctx)
        case "notes_incremental" => Notes.incremental(ctx)
        case "corpus_dedup" => CorpusDedup.run(ctx)
      }
      report.note(f"workload wall ${(System.nanoTime() - wall0) / 1e9}%.3f s")
      o.traced match {
        case Some(t) => perLayer(workload, o, t, report,
          opts.getOrElse("traces", s"$work/traces"), seed)
        case None => endToEnd(o, report)
      }
    } catch {
      // an operation that throws ends the run: it is counted as failed
      // (by Report.op, or here when it came from set-up) and the result
      // is printed without metrics
      case e: Exception =>
        if (report.failed == 0) { report.attempted += 1; report.failed += 1 }
        report.violation(s"${e.getClass.getName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))
    }
    println(s"RESULT ${report.json}")
    spark.stop()
    System.exit(if (report.correct) 0 else 1)
  }

  private def endToEnd(o: Outcome, report: Report): Unit = {
    report.metric("setup_s", o.setupS, "s")
    report.metric("rows_per_s", o.rowsPerS, "rows/s")
    report.metric("batch_p50_s", Stats.median(o.latencies), "s")
    report.metric("query_p50_s", Stats.median(o.queries), "s")
    report.note("batch latencies " + o.latencies.map(v => f"$v%.3f").mkString(" "))
    report.note(Stats.describe("batch_tail_s", o.latencies))
    report.note(Stats.describe("query_tail_s", o.queries))
    report.note(f"error_rate ${report.failed.toDouble / math.max(1L, report.attempted)}%.4f " +
      s"(${report.failed} of ${report.attempted} operations)")
    if (o.writeAmp > 0) report.note(f"write_amp ${o.writeAmp}%.3f")
    for ((name, (v, unit)) <- report.metrics) report.note(s"metric $name = $v $unit")
  }

  private def perLayer(workload: String, o: Outcome, t: Traced,
      report: Report, traces: String, seed: Long): Unit = {
    val spans = t.tracer.all
    val units = math.max(1, t.unitWalls.size).toDouble
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val tasks = t.tracer.taskTotals()
    val querySpans = spans.filter(_.name == "query").map(_.id).toSet
    val unitAgg = tasks.collect { case (id, a) if !querySpans(id) => a }
      .foldLeft(Tracer.TaskAgg())(_ + _)
    val queryAgg = tasks.collect { case (id, a) if querySpans(id) => a }
      .foldLeft(Tracer.TaskAgg())(_ + _)
    val unitSeconds = spans.filter(_.parent == -1).filterNot(s => querySpans(s.id))
      .map(_.seconds).sum
    val c = t.udfs
    val queries = math.max(1L, t.queries).toDouble
    val values = Map(
      "ner.calls" -> c.nerCalls.value / units,
      "ner.cpu_s" -> c.nerCpuNs.value / 1e9 / units,
      "ner.us_per_call" -> c.nerCpuNs.value / 1e3 / math.max(1L, c.nerCalls.value),
      "ner.redactions" -> c.nerRedactions.value / units,
      "annotator.calls" -> c.annCalls.value / units,
      "annotator.cpu_s" -> c.annCpuNs.value / 1e9 / units,
      "annotator.us_per_call" -> c.annCpuNs.value / 1e3 / math.max(1L, c.annCalls.value),
      "spark.busy_cores" -> unitAgg.runMs / 1e3 / math.max(1e-9, unitSeconds),
      "spark.task_s" -> unitAgg.runMs / 1e3 / units,
      "spark.gc_s" -> unitAgg.gcMs / 1e3 / units,
      "spark.spill_bytes" -> unitAgg.spillBytes / units,
      "spark.shuffle_bytes" -> unitAgg.shuffleBytes / units,
      "spark.jobs" -> unitAgg.jobs / units,
      "spark.tasks" -> unitAgg.tasks / units,
      "pipeline.pseudonymisation_s" -> total("pipeline.pseudonymisation") / units,
      "pipeline.feature_extraction_s" -> total("pipeline.feature_extraction") / units,
      "cdc.read_s" -> total("cdc.read") / units,
      "cdc.write_s" -> total("cdc.write") / units,
      "watermark.read_s" -> total("watermark.read") / units,
      "catalog.register_s" -> total("catalog.register") / units,
      "cdc.rows_read" -> (t.cdcInserted + t.cdcDeleted) / units,
      "cdc.rows_inserted" -> t.cdcInserted / units,
      "cdc.rows_deleted" -> t.cdcDeleted / units,
      "lake.commits" -> t.commits / units,
      "lake.bytes_written" -> t.lakeBytes / units,
      "lake.files_written" -> t.lakeFiles / units,
      "lake.rewrite_ratio" -> t.rewriteBytes.toDouble / math.max(1L, t.changeBytes),
      "lake.files_live" -> o.filesLive.toDouble,
      "query.input_bytes" -> queryAgg.inputBytes / queries,
      "query.files_scanned" -> t.queryFiles / queries,
      "extract.fanout" -> o.fanout,
      "dedup.exact_s" -> total("dedup.exact") / math.max(1, spans.count(_.name == "dedup.exact")),
      "dedup.cluster_s" -> total("dedup.cluster") / units,
      "trace.overhead_s" ->
        (Stats.median(t.unitWalls.toSeq) - Stats.median(o.untracedWalls))
    ) ++ o.extra
    report.note(f"traced units ${t.unitWalls.size}%d, untraced units " +
      f"${o.untracedWalls.size}%d; tracing overhead ${values("trace.overhead_s")}%.4f s " +
      f"per unit (traced median ${Stats.median(t.unitWalls.toSeq)}%.4f s, " +
      f"untraced median ${Stats.median(o.untracedWalls)}%.4f s)")
    if (c.nerCalls.value + c.annCalls.value > 0)
      report.note(f"UDF share: NER and annotator CPU ${(c.nerCpuNs.value + c.annCpuNs.value) / 1e9 / units}%.3f s " +
        f"of ${unitAgg.runMs / 1e3 / units}%.3f task-s per unit " +
        f"(${(c.nerCpuNs.value + c.annCpuNs.value) / 1e6 / math.max(1L, unitAgg.runMs)}%.3f)")
    // self time per span name, per unit
    val self = t.tracer.selfSeconds
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(s => self(s.id)).sum).foreach {
      case (name, ss) => report.note(f"self $name%-30s ${ss.map(s => self(s.id)).sum / units}%.4f s " +
        f"per unit (${ss.size}%d spans)")
    }
    for ((name, unit, moves) <- PerLayer) {
      val v = values.getOrElse(name, 0.0)
      report.metric(name, v, unit)
      report.note(f"layer $name%-30s $v%14.4f $unit%-6s moves $moves")
    }
    val out = Paths.get(traces, s"$workload-$seed.tsv")
    t.tracer.write(out)
    report.note(s"spans written to $out")
  }
}
