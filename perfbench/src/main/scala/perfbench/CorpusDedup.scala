// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `corpus_dedup`: a read-only near-duplicate pass over a generated
  * `documents` corpus through the program's query surface —
  * `q40_exact_dedup` (content-hash groups) and `q57_dedup_clusters`
  * (MinHash-LSH pairs → connected components).
  */
object CorpusDedup {
  val Docs = 20000
  /** Untimed passes before the timed ones (the first is the reference). */
  private val WarmPasses = 4
  /** q40 runs per pass. */
  private val ExactRuns = 3

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val Langs = Vector("en", "de", "fr", "es", "zh")

  /** Writes `<dir>/documents.parquet` as one file, like the testdata. */
  def write(spark: SparkSession, c: Gen.Corpus, dir: String): Unit =
    spark.createDataFrame(c.docs.map(d => Row(d.id, d.text,
      Langs((d.id % Langs.size).toInt), s"src${d.id % 7}",
      d.text.length.toLong)).asJava, Schema)
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

  /** What one pass found, reduced to what the checks and metrics need.
    * `exactS` has one latency per q40 run; `hashes` is the first run's
    * answer and `exactStable` says whether the others gave the same.
    */
  private final case class Pass(exactS: Seq[Double], clusterS: Double,
      hashes: Map[String, (Long, Long)], exactStable: Boolean,
      labels: Array[(Long, Long)]) {
    /** A served pass: one exact-dedup query and one clustering pass. */
    def seconds: Double = exactS.head + clusterS
    lazy val labelOf: Map[Long, Long] = labels.toMap
    lazy val checksum: String =
      Gen.sha256(labels.iterator.map { case (d, c) => s"$d\t$c" })
  }

  private def pass(spark: SparkSession, dir: String, t: Option[Traced]): Pass = {
    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = t.fold(f)(_.tracer.span(name)(f))
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // q40 is short and mostly per-job overhead; several runs a pass
    // steady its median, as the three lookups do on notes_backfill
    val exact = (1 to ExactRuns).map { _ =>
      val (rows, s) = timed("dedup.exact") {
        SparkEntry.queries("q40_exact_dedup")(spark, dir).collect()
      }
      (rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap, s)
    }
    val (clusters, clusterS) = timed("dedup.cluster") {
      SparkEntry.queries("q57_dedup_clusters")(spark, dir).collect()
    }
    Pass(exact.map(_._2), clusterS, exact.head._1,
      exact.forall(_._1 == exact.head._1),
      clusters.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Checks one pass against the planted groups; returns the share of
    * planted near-duplicate copies clustered with their base.
    */
  private def check(c: Gen.Corpus, p: Pass, first: Option[Pass],
      report: Report): Double = {
    if (!p.exactStable) report.violation("q40 answers differ within a pass")
    if (p.hashes.size != c.distinctTexts)
      report.violation(s"q40 found ${p.hashes.size} distinct texts, " +
        s"expected ${c.distinctTexts}")
    val text = c.docs.map(d => d.id -> d.text).toMap
    for (g <- c.exactGroups) {
      val got = p.hashes.get(Gen.md5Hex(text(g.head)))
      if (!got.contains((g.min, g.size.toLong)))
        report.violation(s"q40 did not group planted duplicates ${g.mkString(",")}: $got")
    }
    if (p.labels.length != c.docs.size || p.labelOf.size != c.docs.size)
      report.violation(s"q57 labelled ${p.labels.length} rows for ${c.docs.size} docs")
    if (p.labels.exists { case (d, cl) => cl > d })
      report.violation("q57 cluster id above a member's doc id")
    for (g <- c.exactGroups if g.map(p.labelOf.get).distinct.size != 1)
      report.violation(s"q57 split planted duplicates ${g.mkString(",")}")
    for (f <- first if f.checksum != p.checksum)
      report.violation("q57 output differs between passes of one seed")
    val copies = c.nearGroups.flatMap(g => g.tail.map(_ -> g.head))
    copies.count { case (d, base) => p.labelOf.get(d) == p.labelOf.get(base) }
      .toDouble / math.max(1, copies.size)
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    var corpus: Gen.Corpus = null
    // set-up, several times: generate the corpus and write it
    val prep = (1 to Ctx.SetupReps).map { i =>
      val t0 = System.nanoTime()
      corpus = Gen.corpus(seed, Docs)
      write(spark, corpus, dir(s"prep-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    report.note("input_sha256 " +
      Gen.sha256(corpus.docs.iterator.map(d => s"${d.id}\t${d.text}")))
    report.note(Stats.lengths("documents", corpus.docs.map(_.text.length)))
    val corpusDir = dir(s"prep-${Ctx.SetupReps}")
    // warm-up: untimed passes over the corpus
    val t0 = System.nanoTime()
    val reference = pass(spark, corpusDir, None)
    val warmLat = (2 to WarmPasses).map(_ => pass(spark, corpusDir, None).seconds)
    val warm = (System.nanoTime() - t0) / 1e9
    report.note("warm-up latencies " + warmLat.map(v => f"$v%.3f").mkString(" "))
    report.op(check(corpus, reference, None, report))
    report.note(f"setup: session $sessionS%.3f s, prepare median " +
      f"${Stats.median(prep)}%.3f s of ${prep.map(v => f"$v%.3f").mkString(",")}, warm-up $warm%.3f s")
    report.note(s"q57 checksum ${reference.checksum}; planted: " +
      s"${corpus.exactGroups.size} exact groups, ${corpus.nearGroups.size} near groups")

    val traced = if (trace) Some(new Traced(spark)) else None
    val exact, cluster, walls = ArrayBuffer.empty[Double]
    var recall = 0.0
    var clusters = 0L
    val start = System.nanoTime()
    var k = 0
    while (k < 2 || (System.nanoTime() - start) / 1e9 < seconds) {
      val t = traced.filter(_ => k % 2 == 1)
      report.op {
        val p = t match {
          case None => pass(spark, corpusDir, None)
          case Some(t) =>
            t.tracer.unit += 1
            val p = t.tracer.span("pass")(pass(spark, corpusDir, Some(t)))
            // the same served wall as an untraced pass, for trace.overhead_s
            t.unitWalls += p.seconds
            p
        }
        if (t.isEmpty) walls += p.seconds
        exact ++= p.exactS
        cluster += p.clusterS
        recall = check(corpus, p, Some(reference), report)
        clusters = p.labels.groupBy(_._2).count(_._2.length > 1).toLong
      }
      k += 1
    }
    Outcome(Stats.median(prep) + sessionS + warm,
      corpus.docs.size / Stats.median(walls.toSeq), cluster.toSeq, exact.toSeq,
      writeAmp = 0.0, traced, walls.toSeq, fanout = 0.0, filesLive = 0L,
      extra = Map("dedup.clusters" -> clusters.toDouble,
        "dedup.planted_recall" -> recall))
  }
}
