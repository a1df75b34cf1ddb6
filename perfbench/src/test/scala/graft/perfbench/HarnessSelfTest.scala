package graft.perfbench

/** Self-test of the measuring harness (`python3 perfbench/run.py
  * --selftest`). Asserts that:
  *  - an operation that throws, or fails its check, is booked as failed
  *    and contributes no time (a failure must never read as fast);
  *  - the tail statistic and drift behave as documented;
  *  - every workload, at a tiny size, generates different inputs for two
  *    seeds, reports exactly the catalog's metric set under both seeds
  *    and in both modes, and passes its own checks.
  * Exits non-zero on the first failed assertion. */
object HarnessSelfTest {

  private def expect(cond: Boolean, msg: String): Unit =
    if (!cond) { System.err.println(s"SELFTEST FAILED: $msg"); sys.exit(1) }

  private def statsCases(): Unit = {
    val five = Seq(5.0, 1.0, 3.0, 2.0, 4.0)
    expect(Stats.median(five) == 3.0, "median of 1..5")
    expect(Stats.tail(five) == Stats.Tail(80.0, 4.0, 1, 5),
      s"a 5-sample tail is its nearest-rank p75: ${Stats.tail(five)}")
    val t21 = Stats.tail((1 to 21).map(_.toDouble))
    expect(t21.beyond == 10 && t21.value == 11.0,
      s"a 21-sample tail keeps 10 beyond: $t21")
    val t12 = Stats.tail((1 to 12).map(_.toDouble))
    expect(t12.value == 9.0 && t12.beyond == 3,
      s"a 12-sample tail is its nearest-rank p75: $t12")
    expect(Stats.drift(Seq(1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0)) == 2.0,
      "drift compares the last quarter with the first")
  }

  private def failureCases(spark: org.apache.spark.sql.SparkSession): Unit = {
    val h = new Harness(spark, trace = true)
    h.op("op")(spark.range(10).count())(n => n)
    h.op[Long]("op")(throw new IllegalStateException("injected"))(n => n)
    h.op("op") { Thread.sleep(5); spark.range(10).count() } { n =>
      Check(n == 11, "injected wrong answer"); n }
    expect(h.recs.size == 3, "three operations recorded")
    expect(h.failed == 2 && h.attempted == 3,
      s"thrown and wrong ops are failed (failed ${h.failed} of ${h.attempted})")
    expect(h.secs("op").size == 1, "failed operations contribute no time")
    expect(h.recs.filterNot(_.ok).forall(r => r.sec.isEmpty && r.error.nonEmpty),
      "failed operations keep their error and no time")
    expect(h.recs.head.ledger.exists(_.jobs >= 1), "the ledger booked the count job")
    expect(!h.check("injected")(throw new CheckFailed("boom")) && h.failed == 3,
      "a failed run check counts as failed")
    val json = PerfBench.resultJson(h, Outcome(Map.empty, Map.empty, ""), trace = false)
    expect(json.contains("\"correct\": false") && json.contains("\"failed\": 3"),
      s"a run with failures is not correct: $json")
  }

  private def seedCases(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    Workload.all.foreach { wl =>
      def once(seed: Long, trace: Boolean) = {
        val a = PerfBench.Args(wl.name, seed, 1.0, trace, s"$dir/s$seed-t$trace",
          None, small = true)
        val (h, out) = PerfBench.runWorkload(spark, a, 0.1, setupReps = 1)
        expect(h.failed == 0, s"${wl.name} seed $seed trace $trace: ${h.failed} failures")
        if (!trace) expect(out.endToEnd.keySet == Metrics.endToEnd.map(_._1).toSet,
          s"${wl.name}: end-to-end metrics ${out.endToEnd.keySet}")
        (out.inputDigest, PerfBench.resultJson(h, out, trace))
      }
      val (d1, j1) = once(1, trace = false)
      val (d2, j2) = once(2, trace = false)
      val (_, j3) = once(2, trace = true)
      expect(d1 != d2, s"${wl.name}: seeds 1 and 2 generated identical inputs")
      def names(j: String) = """"([\w.\-]+)": \{"value"""".r.findAllMatchIn(j).map(_.group(1)).toSeq
      expect(names(j1) == names(j2) && names(j1) == Metrics.endToEnd.map(_._1),
        s"${wl.name}: end-to-end metric sets differ between seeds")
      expect(names(j3) == Metrics.perLayer.map(_._1),
        s"${wl.name}: traced run does not report the per-layer catalog")
      println(s"selftest: ${wl.name} ok")
    }

  def main(argv: Array[String]): Unit = {
    val dir = argv.headOption.getOrElse(sys.error("usage: HarnessSelfTest <scratch dir>"))
    statsCases()
    val spark = PerfBench.session(dir)
    try {
      failureCases(spark)
      println("selftest: harness failure booking ok")
      seedCases(spark, dir)
    } finally spark.stop()
    println("selftest: all passed")
  }
}
