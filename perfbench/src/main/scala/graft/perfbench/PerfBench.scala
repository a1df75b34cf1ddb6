package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Entry point of the pipeline benchmark (launched by `perfbench/run.py`):
  *
  *   PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --dir <scratch dir> [--trace-file <path>]
  *
  * Builds a `local[<cores>]` session, runs one workload, and prints as
  * its last stdout line one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` — the end-to-end metrics untraced, the
  * per-layer metrics traced. Any failure before a result exists exits
  * non-zero without printing one. */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, dir: String, traceFile: Option[String], small: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }
      .toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--dir"), kv.get("--trace-file"), small = false)
  }

  def session(dir: String): SparkSession = {
    val cores = Host.cores
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // deep enough that a job's stack reaches the graft API entry point
      .config("spark.callstack.depth", "400")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(s)
    s
  }

  /** Run one workload in an existing session. */
  def runWorkload(spark: SparkSession, a: Args, sessionSec: Double,
      setupReps: Int): (Harness, Outcome) = {
    val wl = Workload.all.find(_.name == a.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; " +
        s"known: ${Workload.all.map(_.name).mkString(", ")}"))
    val h = new Harness(spark, a.trace)
    val ctx = Ctx(spark, h, a.seed, a.seconds, s"${a.dir}/${wl.name}", a.small,
      setupReps, sessionSec)
    (h, wl.run(ctx))
  }

  def resultJson(h: Harness, out: Outcome, trace: Boolean): String = {
    val ms = Metrics.complete(if (trace) Metrics.perLayer else Metrics.endToEnd,
      if (trace) out.perLayer else out.endToEnd)
    val body = ms.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, """ +
      s""""failed": ${h.failed}, "metrics": {$body}}"""
  }

  /** The in-memory trace, written when the run ends: one record per
    * operation with its time, spans, notes and Spark ledger. */
  def traceJson(h: Harness): String = h.recs.map { r =>
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    val led = r.ledger.map { l =>
      s""", "jobs": ${l.jobs}, "stages": ${l.stages}, "tasks": ${l.tasks}, """ +
        s""""task_s": ${l.taskSec}, "sites": ${obj(l.sites.map { case (k, v) => k -> v._1.toDouble })}"""
    }.getOrElse("")
    s"""{"kind": "${r.kind}", "seq": ${r.seq}, "sec": ${r.sec.getOrElse("null")}, """ +
      s""""ok": ${r.ok}, "traced": ${r.traced}, "spans": ${obj(r.spans)}, """ +
      s""""notes": ${obj(r.notes)}$led}"""
  }.mkString("[\n", ",\n", "\n]\n")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a.dir)
    // one shuffle so the first timed build does not absorb the
    // session's one-time class loading and codegen start-up
    spark.range(100000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val (h, out) = try runWorkload(spark, a, sessionSec, setupReps = 3)
      finally spark.stop()
    if (a.trace) {
      val sites = h.recs.filter(_.traced).flatMap(_.ledger).flatMap(_.sites)
        .groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2._1).sum, xs.map(_._2._2).sum) }
        .toSeq.sortBy(-_._3)
      sites.foreach { case (s, j, t) =>
        System.err.println(f"perfbench: site $s%-50s jobs $j%5d task_s $t%8.2f") }
    }
    a.traceFile.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p), traceJson(h).getBytes("UTF-8"))
    }
    println(s"perfbench: input digest ${out.inputDigest}")
    println(resultJson(h, out, a.trace))
  }
}
