// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator

import graft.functions.{HealthAnnotator, Ner}
import graft.ops.Extract

/** The traced run's instruments. Spans are kept in memory and written
  * out when the run ends; Spark task metrics come from a listener and
  * are attributed to the innermost span open when their job was
  * submitted (the benchmark is one closed-loop client, so exactly one
  * span chain is open at a time); lake byte and file counts come from
  * diffs of the zone directories.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  /** Id of the unit of work (batch or pass) that new spans belong to. */
  var unit: Int = -1

  val tasks = new TaskLog
  spark.sparkContext.addSparkListener(tasks)

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
    try f
    finally {
      open = open.tail
      spans += Span(id, name, parent, unit, t0, System.nanoTime(), ms0,
        System.currentTimeMillis())
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Per span: its duration minus the part its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.end - c.start).sum
      s.id -> (s.end - s.start - covered) / 1e9
    }.toMap
  }

  /** Task totals per span id, by innermost span open at job submission. */
  def taskTotals(): Map[Int, TaskAgg] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val byStart = spans.sortBy(s => (s.startMs, -s.endMs))
    tasks.jobs.toSeq.flatMap { case (job, (submitted, agg)) =>
      // innermost = the latest-starting span still open at submission
      byStart.filter(s => s.startMs <= submitted && submitted <= s.endMs)
        .lastOption.map(_.id -> agg)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Spans as tab-separated lines: id, name, parent, unit, start, end (ns). */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, (Seq("id\tname\tparent\tunit\tstart_ns\tend_ns") ++
      spans.map(s => s"${s.id}\t${s.name}\t${s.parent}\t${s.unit}\t${s.start}\t${s.end}"))
      .asJava)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, unit: Int,
      start: Long, end: Long, startMs: Long, endMs: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  final case class TaskAgg(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0,
      gcMs: Long = 0, spillBytes: Long = 0, shuffleBytes: Long = 0,
      inputBytes: Long = 0) {
    def +(o: TaskAgg): TaskAgg = TaskAgg(jobs + o.jobs, tasks + o.tasks,
      runMs + o.runMs, gcMs + o.gcMs, spillBytes + o.spillBytes,
      shuffleBytes + o.shuffleBytes, inputBytes + o.inputBytes)
  }

  /** Job submission times and task metric totals per job. */
  final class TaskLog extends SparkListener {
    private val stageJob = mutable.Map.empty[Int, Int]
    private val perJob = mutable.Map.empty[Int, (Long, TaskAgg)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      e.stageIds.foreach(stageJob(_) = e.jobId)
      perJob(e.jobId) = (e.time, TaskAgg(jobs = 1))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (job <- stageJob.get(e.stageId); (t, agg) <- perJob.get(job)
           if m != null) {
        perJob(job) = (t, agg + TaskAgg(tasks = 1, runMs = m.executorRunTime,
          gcMs = m.jvmGCTime,
          spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
          shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
          inputBytes = m.inputMetrics.bytesRead))
      }
    }

    def jobs: Map[Int, (Long, TaskAgg)] = synchronized(perJob.toMap)
  }

  /** Regular files under `dirs`, relative path → size. */
  def files(dirs: String*): Map[String, Long] =
    dirs.map(Paths.get(_)).filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toVector
      finally s.close()
    }.toMap

  /** Files in `after` that `before` does not hold. */
  def added(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.filter { case (p, _) => !before.contains(p) }

  /** Counters filled by the timed UDF wrappers. */
  final class UdfCounters(spark: SparkSession) {
    private def acc(name: String): LongAccumulator =
      spark.sparkContext.longAccumulator(name)
    val nerCalls = acc("ner.calls")
    val nerCpuNs = acc("ner.cpu_ns")
    val nerRedactions = acc("ner.redactions")
    val annCalls = acc("annotator.calls")
    val annCpuNs = acc("annotator.cpu_ns")
  }

  private val EntityLabel = "<[A-Z_]+>".r

  /** `Ner.anonymise` behind the `anonymise` injection seam, timed. */
  def timedAnonymise(c: UdfCounters): Column => Column = {
    val (calls, cpu, redactions) = (c.nerCalls, c.nerCpuNs, c.nerRedactions)
    val u = udf { (text: String) =>
      val t0 = cpuNow()
      val out = Ner.anonymise(text)
      cpu.add(cpuNow() - t0)
      calls.add(1)
      if (out != null) redactions.add(
        EntityLabel.findAllIn(out).size - EntityLabel.findAllIn(text).size)
      Option(out)
    }
    (x: Column) => u(x)
  }

  /** `HealthAnnotator.annotate` behind the `annotator` seam, timed. */
  def timedAnnotator(c: UdfCounters): Extract.Annotator = {
    val (calls, cpu) = (c.annCalls, c.annCpuNs)
    val u = udf { (text: String) =>
      val t0 = cpuNow()
      val out = HealthAnnotator.annotate(text)
      cpu.add(cpuNow() - t0)
      calls.add(1)
      out
    }
    (df, column, _) => df.withColumn(column + Extract.ExtractedSuffix, u(col(column)))
  }

  private def cpuNow(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime
}

/** Instruments of a traced run, and what they have counted. */
final class Traced(spark: SparkSession) {
  val tracer = new Tracer(spark)
  val udfs = new Tracer.UdfCounters(spark)
  /** Wall of each traced unit, tracer work included. */
  val unitWalls = ArrayBuffer.empty[Double]
  var cdcInserted, cdcDeleted = 0L
  var lakeBytes, lakeFiles, commits, rewriteBytes, changeBytes = 0L
  var queries, queryFiles = 0L
}
