package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Everything a workload run needs. `dir` is the run's private scratch
  * directory (stores live under it); `small` shrinks every input for
  * the harness self-test. */
final case class Ctx(spark: SparkSession, h: Harness, seed: Long,
    seconds: Double, dir: String, small: Boolean, setupReps: Int,
    sessionSec: Double)

/** What a workload reports: end-to-end metrics (untraced runs), the
  * workload's own per-layer metrics (traced runs) and a fingerprint of
  * its generated inputs (the self-test asserts seeds change it). */
final case class Outcome(endToEnd: Map[String, Double],
    perLayer: Map[String, Double], inputDigest: String)

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(PortraitDaily, CurationStream)

  /** Hash-derived inputs salted by the seed: the same seed always
    * generates the same bytes, and nothing is drawn from `rand()`. */
  final class Gen(seed: Long) {
    def hash(parts: Column*): Column = xxhash64(lit(seed) +: parts: _*)
    /** A uniform in (0, 1). */
    def uni(parts: Column*): Column =
      (pmod(hash(parts: _*), lit(1000000000L)) + 0.5) / 1e9
    /** The same generator as a SQL fragment (for `transform` lambdas). */
    def hashSql(parts: String*): String =
      s"xxhash64(${seed}L, ${parts.mkString(", ")})"
    def uniSql(parts: String*): String =
      s"((pmod(${hashSql(parts: _*)}, 1000000000) + 0.5) / 1e9)"
  }

  /** Run `build` `reps` times (each into its own directory) and return
    * the median wall time with the last build's result. */
  def setupTimed[A](ctx: Ctx)(build: String => A): (Double, A) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    (1 to ctx.setupReps).foreach { i =>
      val d = s"${ctx.dir}/setup$i"
      val t0 = System.nanoTime()
      last = Some(build(d))
      times += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"perfbench: setup builds ${times.map(t => f"$t%.2f").mkString(", ")} s")
    (Stats.median(times.toSeq), last.get)
  }

  /** The closed loop: call `step(i)` for i = 0, 1, ... while time is
    * left or fewer than `minSteps` steps ran, and while `more(i)`. */
  def loop(ctx: Ctx, minSteps: Int, more: Int => Boolean = _ => true)(
      step: Int => Unit): Double = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while ((elapsed < ctx.seconds || i < minSteps) && more(i)) { step(i); i += 1 }
    elapsed
  }

  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var n = 0L
        s.forEach(f => if (java.nio.file.Files.isRegularFile(f))
          n += java.nio.file.Files.size(f))
        n
      } finally s.close()
    }
  }

  /** Data and metadata files under `dir` (checksum side files excluded). */
  def filesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
        !f.getFileName.toString.endsWith(".crc")).count()
      finally s.close()
    }
  }

  def mb(bytes: Double): Double = bytes / 1e6

  /** Time a store-state read (the manifest resolve a probe pays). */
  def timedSec[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** The end-to-end metrics every workload reports, from its measured
    * operations: `op` (one day / one batch) and `lookup` latencies, the
    * rows the ops processed per second of the measured loop's wall time,
    * and the store size at the schedule's fixed measuring point. */
  def endToEnd(ctx: Ctx, setupSec: Double, loopSec: Double,
      storeBytes: Long): Map[String, Double] = {
    val h = ctx.h
    val main = h.secs("op")
    require(main.nonEmpty, "no operation succeeded — nothing to report")
    val lookups = h.secs("lookup")
    require(lookups.nonEmpty, "no lookup succeeded — nothing to report")
    val tail = Stats.tail(main)
    System.err.println(f"perfbench: ${main.size} ops, p50 ${Stats.median(main)}%.3f s, " +
      f"tail p${tail.percentile}%.1f ${tail.value}%.3f s (${tail.beyond} of ${tail.n} beyond); " +
      f"${lookups.size} lookups")
    Map(
      "setup_s" -> setupSec,
      "op_p50_s" -> Stats.median(main),
      "op_tail_s" -> tail.value,
      "rows_per_s" -> h.ok("op").map(_.rows).sum / loopSec,
      "lookup_p50_s" -> Stats.median(lookups),
      "store_mb" -> mb(storeBytes.toDouble))
  }

  /** Per-layer metrics common to every workload: the Spark ledger of the
    * traced main ops (medians per op), host and JVM conditions of the
    * measured loop, tracing overhead, the error rate, and drift over all
    * main ops. */
  def commonLayers(ctx: Ctx, steal: Double, gc: Double, jit: Double,
      sites: Seq[String]): Map[String, Double] = {
    val h = ctx.h
    val traced = h.ok("op").filter(_.traced)
    val untraced = h.ok("op").filterNot(_.traced)
    def med(f: OpRec => Double): Double =
      if (traced.isEmpty) 0.0 else Stats.median(traced.map(f))
    def led(f: OpLedger => Double): Double = med(r => r.ledger.map(f).getOrElse(0.0))
    def note(k: String): Double = med(_.notes.getOrElse(k, 0.0))
    val wall = traced.flatMap(_.sec).sum
    val taskSec = traced.flatMap(_.ledger).map(_.taskSec).sum
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else Stats.median(traced.flatMap(_.sec)) / Stats.median(untraced.flatMap(_.sec)) - 1
    val siteMetrics = sites.flatMap { s =>
      def per(f: ((Int, Double)) => Double): Double =
        if (traced.isEmpty) 0.0
        else traced.map(_.ledger.flatMap(_.sites.get(s)).map(f).getOrElse(0.0)).sum / traced.size
      Seq(s"spark.callsite.$s.jobs" -> per(_._1.toDouble),
        s"spark.callsite.$s.task_s" -> per(_._2))
    }
    Map(
      "spark.jobs" -> led(_.jobs.toDouble),
      "spark.stages" -> led(_.stages.toDouble),
      "spark.tasks" -> led(_.tasks.toDouble),
      "spark.task_s" -> led(_.taskSec),
      "spark.parallel_eff" -> (if (wall > 0) taskSec / (wall * Host.cores) else 0.0),
      "spark.driver_only_s" -> note("spark.driver_only_s"),
      "spark.shuffle_read_mb" -> led(l => mb(l.shuffleReadBytes.toDouble)),
      "spark.shuffle_write_mb" -> led(l => mb(l.shuffleWriteBytes.toDouble)),
      "spark.spill_mb" -> led(l => mb(l.spillBytes.toDouble)),
      "spark.output_mb" -> led(l => mb(l.outputBytes.toDouble)),
      "spark.output_files" -> note("spark.output_files"),
      "indexstore.resolve_s" -> note("indexstore.resolve_s"),
      "indexstore.versions" -> note("indexstore.versions"),
      "jvm.gc_s" -> gc,
      "jvm.jit_s" -> jit,
      "host.steal_s" -> steal,
      "host.cores" -> Host.cores.toDouble,
      "trace.overhead_frac" -> overhead,
      "error_rate" -> (if (h.attempted == 0) 0.0 else h.failed.toDouble / h.attempted),
      // too noisy over a run of a few ops to carry an end-to-end bound
      "drift" -> (if (h.secs("op").isEmpty) 0.0 else Stats.drift(h.secs("op")))
    ) ++ siteMetrics
  }

  /** Host/JVM counters around the measured loop. */
  final class Conditions {
    private val s0 = Host.stealSec()
    private val g0 = Host.gcSec()
    private val j0 = Host.jitSec()
    def steal: Double = math.max(0.0, Host.stealSec() - s0)
    def gc: Double = math.max(0.0, Host.gcSec() - g0)
    def jit: Double = math.max(0.0, Host.jitSec() - j0)

    /** (steal, GC, JIT) seconds so far, also logged to stderr. */
    def report(): (Double, Double, Double) = {
      val r = (steal, gc, jit)
      System.err.println(f"perfbench: host cores ${Host.cores} steal ${r._1}%.2f s " +
        f"gc ${r._2}%.2f s jit ${r._3}%.2f s")
      r
    }
  }
}
