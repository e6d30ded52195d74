// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** What one run measured and found. Human-readable lines go to stdout
  * prefixed with `#`; the result object is printed once, at the end.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val violations = ArrayBuffer.empty[String]
  var attempted = 0L
  /** Operations that threw or whose outputs failed a check. */
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def note(msg: String): Unit = println(s"# $msg")

  def violation(msg: String): Unit = {
    violations += msg
    println(s"# CHECK FAILED: $msg")
  }

  /** One attempted operation: counted as failed if it throws or if a
    * check inside it records a violation.
    */
  def op[T](f: => T): T = {
    attempted += 1
    val before = violations.size
    try {
      val r = f
      if (violations.size > before) failed += 1
      r
    } catch { case e: Throwable => failed += 1; throw e }
  }

  def correct: Boolean = violations.isEmpty && failed == 0

  def json: String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile that still has at least ten samples beyond
    * it: (value, percentile). None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val k = xs.size - 11
      Some((xs.sorted.apply(k), 100.0 * (k + 1) / xs.size))
    }

  /** One line on the inputs' text lengths, to compare with other corpora. */
  def lengths(what: String, chars: Seq[Int]): String = {
    val s = chars.sorted
    def q(p: Double) = s(((s.size - 1) * p).round.toInt)
    f"input: ${s.size}%d $what, text ${s.head}%d-${s.last}%d chars, " +
      f"p5/p50/p95 ${q(0.05)}%d/${q(0.5)}%d/${q(0.95)}%d, mean ${s.sum.toDouble / s.size}%.1f"
  }

  def describe(name: String, xs: Seq[Double]): String = tail(xs) match {
    case Some((v, p)) => f"$name%s = $v%.4f s at p$p%.1f (n=${xs.size}%d, 10 beyond)"
    case None => s"$name: n=${xs.size} is too few for a tail with 10 beyond"
  }
}
