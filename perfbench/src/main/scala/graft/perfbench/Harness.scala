package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation as the harness recorded it. `sec` is None when
  * the operation threw or failed its check: a failed operation is
  * counted, never timed. */
final case class OpRec(kind: String, seq: Int, sec: Option[Double],
    rows: Long, traced: Boolean, ledger: Option[OpLedger],
    spans: Map[String, Double], notes: mutable.Map[String, Double],
    error: Option[String]) {
  def ok: Boolean = sec.isDefined
}

/** A check the workload's output failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)
}

/** The closed-loop measuring harness shared by the workloads: times
  * operations, checks their outputs outside the timed region, books
  * failures, and (when tracing) attributes Spark work and per-layer
  * spans to each operation. */
final class Harness(val spark: SparkSession, val trace: Boolean) {
  val ledger: Option[Ledger] =
    if (trace) Some(new Ledger(spark.sparkContext)) else None
  val recs: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  private var seq = 0
  private var checksRun = 0
  private var checksFailed = 0
  private var spans: mutable.Map[String, Double] = null

  /** Time `body` as a layer span of the current traced operation; jobs
    * it runs carry the span's name for the ledger's call-site booking. */
  def span[A](name: String)(body: => A): A =
    if (spans == null) body
    else {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Ledger.SpanProperty)
      sc.setLocalProperty(Ledger.SpanProperty, name.stripSuffix("_s"))
      val t0 = System.nanoTime()
      try body
      finally {
        spans(name) = spans.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        sc.setLocalProperty(Ledger.SpanProperty, outer)
      }
    }

  /** Run one operation. `body` is timed; `verify` runs after the clock
    * stops, checks the result (throwing [[CheckFailed]] or any other
    * exception on a wrong answer) and returns the rows the operation
    * processed. An operation that throws or fails verification is
    * booked as failed with no time. */
  def op[A](kind: String, traced: Boolean = trace)(body: => A)(
      verify: A => Long): Option[A] = {
    val tr = traced && trace
    val acc = if (tr) Some(new OpLedger) else None
    acc.foreach(a => ledger.foreach(_.begin(a)))
    spans = if (tr) mutable.Map.empty else null
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    val opSpans = if (spans == null) Map.empty[String, Double] else spans.toMap
    spans = null
    if (tr) ledger.foreach(_.end())
    seq += 1
    val checked = result.flatMap(a =>
      try Right((a, verify(a))) catch { case NonFatal(e) => Left(e) })
    val notes = mutable.Map.empty[String, Double]
    acc.foreach(a => notes("spark.driver_only_s") =
      math.max(0.0, sec - a.jobCoveredSec(startMs, endMs)))
    checked match {
      case Right((a, rows)) =>
        System.err.println(f"perfbench: $kind #$seq $sec%.3f s")
        recs += OpRec(kind, seq, Some(sec), rows, tr, acc, opSpans, notes, None)
        Some(a)
      case Left(e) =>
        val what = s"${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"perfbench: $kind #$seq FAILED — $what")
        recs += OpRec(kind, seq, None, 0L, tr, acc, opSpans, notes, Some(what))
        None
    }
  }

  /** Attach a traced measurement (store state after the operation) to
    * the most recent operation record. */
  def note(key: String, value: Double): Unit =
    recs.lastOption.foreach(r => if (r.traced) r.notes(key) = value)

  /** A whole-run correctness check: counted as attempted, and as failed
    * when `body` throws. */
  def check(name: String)(body: => Unit): Boolean = {
    checksRun += 1
    try { body; true }
    catch { case NonFatal(e) =>
      checksFailed += 1
      System.err.println(s"perfbench: check '$name' FAILED — " +
        s"${e.getClass.getSimpleName}: ${e.getMessage}")
      false
    }
  }

  def attempted: Int = recs.size + checksRun
  def failed: Int = recs.count(!_.ok) + checksFailed

  def ok(kind: String): Seq[OpRec] = recs.filter(r => r.kind == kind && r.ok).toSeq
  def secs(kind: String): Seq[Double] = ok(kind).flatMap(_.sec)
}
