package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{CurationPipeline, GraftOps, IndexStore}

/** `curation_stream`: LLM-data curation against persisted dedup stores.
  * Setup generates a Zipf history corpus (|V| = 3·sqrt(n), 4% planted
  * near-dups) and indexes it with `fingerprintBuild` and
  * `digestIndexBuild`. A closed loop then runs arriving batches — a
  * share of byte-identical re-ingests of history, planted near-dups,
  * in-batch copies and fresh documents — through
  * `curateIncremental(batchId, digestDir)`; every `compactEvery` batches
  * a maintenance op compacts and vacuums both stores. Between batches a
  * single-document lookup probes the digest store.
  *
  * Checks: no survivor is byte-identical to history or to an earlier
  * survivor (or to another survivor of its batch); each lookup answers
  * known/novel correctly; and re-delivering the last committed batch id
  * returns identical survivors and adds no store version. */
object CurationStream extends Workload {
  val name = "curation_stream"

  final case class Cfg(history: Long, batch: Long, reingestPct: Int,
      nearDupPct: Int, inBatchCopyPct: Int, digestBuckets: Int, compactEvery: Int)

  val full = Cfg(history = 2500, batch = 300, reingestPct = 20,
    nearDupPct = 4, inBatchCopyPct = 3, digestBuckets = 16, compactEvery = 3)
  val small = Cfg(history = 300, batch = 40, reingestPct = 20,
    nearDupPct = 4, inBatchCopyPct = 3, digestBuckets = 16, compactEvery = 2)

  private val BatchIdBase = 1000000000L

  /** Zipf token list of length 10..100 for the id in `idExpr`. */
  private def zipfToks(g: Workload.Gen, idExpr: String, v: Int): String =
    s"""transform(sequence(0, 9 + cast(pmod(${g.hashSql(idExpr, "'zl'")}, 91) as int)),
       |  i -> concat('z', cast(cast(exp(ln(cast($v as double)) *
       |    ${g.uniSql(idExpr, "'zt'", "cast(i as string)")}) as int) as string)))"""
      .stripMargin

  /** History text of history id `idExpr`: Zipf tokens, or (4%) a copy of
    * an earlier history document plus one extra token. */
  private def historyText(g: Workload.Gen, idExpr: String, n: Long, v: Int): String = {
    val isDup = s"pmod(${g.hashSql(idExpr, "'hd'")}, 25) = 0"
    val src = s"pmod(${g.hashSql(idExpr, "'hs'")}, $n)"
    s"""CASE WHEN $isDup
       |  THEN array_join(concat(${zipfToks(g, src, v)}, array(concat('x', cast($idExpr as string)))), ' ')
       |  ELSE array_join(${zipfToks(g, idExpr, v)}, ' ') END""".stripMargin
  }

  def vocab(cfg: Cfg): Int = math.ceil(3 * math.sqrt(cfg.history.toDouble)).toInt

  def history(ctx: Ctx, cfg: Cfg): DataFrame = {
    val g = new Workload.Gen(ctx.seed)
    ctx.spark.range(cfg.history).select(col("id").as("doc_id"))
      .withColumn("text", expr(historyText(g, "doc_id", cfg.history, vocab(cfg))))
  }

  /** Batch `i`: re-ingests of history (byte-identical), planted
    * near-dups of history, copies of another document of the same
    * batch, and fresh documents. */
  def batch(ctx: Ctx, cfg: Cfg, i: Int): DataFrame = {
    val g = new Workload.Gen(ctx.seed)
    val v = vocab(cfg)
    val base = BatchIdBase + i * cfg.batch
    val kind = s"pmod(${g.hashSql("doc_id", "'bk'")}, 100)"
    val hsrc = s"pmod(${g.hashSql("doc_id", "'bs'")}, ${cfg.history})"
    val bsrc = s"($base + pmod(${g.hashSql("doc_id", "'bc'")}, ${cfg.batch}))"
    val (r, n, c) = (cfg.reingestPct, cfg.reingestPct + cfg.nearDupPct,
      cfg.reingestPct + cfg.nearDupPct + cfg.inBatchCopyPct)
    ctx.spark.range(cfg.batch).select((col("id") + base).as("doc_id"))
      .withColumn("text", expr(
        s"""CASE WHEN $kind < $r THEN ${historyText(g, hsrc, cfg.history, v)}
           |  WHEN $kind < $n THEN concat(${historyText(g, hsrc, cfg.history, v)},
           |    ' y', cast(doc_id as string))
           |  WHEN $kind < $c THEN array_join(${zipfToks(g, bsrc, v)}, ' ')
           |  ELSE array_join(${zipfToks(g, "doc_id", v)}, ' ') END""".stripMargin))
  }

  private def segments(ctx: Ctx, dir: String): Int =
    IndexStore.resolve(ctx.spark, dir).map(_.tables.values.map(_.size).max).getOrElse(0)

  private def version(ctx: Ctx, dir: String): Int =
    IndexStore.resolve(ctx.spark, dir).map(_.version).getOrElse(0)

  def run(ctx: Ctx): Outcome = {
    val cfg = if (ctx.small) small else full
    val (h, spark) = (ctx.h, ctx.spark)
    val (setupSec, (hist, fDir, dDir)) = Workload.setupTimed(ctx) { d =>
      val hist = history(ctx, cfg).localCheckpoint(true)
      val (fDir, dDir) = (s"$d/fingerprints", s"$d/digests")
      GraftOps.fingerprintBuild(hist, "doc_id", "text", fDir)
      GraftOps.digestIndexBuild(hist, "text", dDir, nBuckets = cfg.digestBuckets)
      (hist, fDir, dDir)
    }
    val histRows = hist.collect().map(r => r.getLong(0) -> r.getString(1))
    val seen = mutable.HashSet(histRows.map(_._2).toSeq: _*)
    val histTexts = histRows.map(_._2)
    val digest = hist.select(bit_xor(xxhash64(col("*")))).head().getLong(0).toString
    val stores = Seq(fDir, dDir)
    var last: Option[(Int, DataFrame, Seq[(Long, String)])] = None
    var docsIn = 0L
    var kept = 0L

    def curate(b: Int, fresh: DataFrame): DataFrame =
      CurationPipeline.curateIncremental(fresh, "doc_id", "text", fDir,
        batchId = Some(b.toLong), digestDir = Some(dDir))

    def survivorsOf(df: DataFrame): Seq[(Long, String)] =
      df.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
        .toSeq.sortBy(_._1)

    def step(b: Int, kind: String, traced: Boolean): Unit = {
      val fresh = batch(ctx, cfg, b).localCheckpoint(true)
      val filesBefore = if (traced && h.trace) stores.map(Workload.filesUnder).sum else 0L
      h.op(kind, traced)(curate(b, fresh)) { out =>
        val sv = survivorsOf(out)
        val lo = BatchIdBase + b * cfg.batch
        Check(sv.forall { case (id, _) => id >= lo && id < lo + cfg.batch },
          s"batch $b returned ids outside the batch")
        Check(sv.map(_._2).distinct.size == sv.size,
          s"batch $b kept two byte-identical documents")
        val stale = sv.count { case (_, t) => seen.contains(t) }
        Check(stale == 0, s"batch $b kept $stale documents byte-identical " +
          "to history or an earlier survivor")
        seen ++= sv.map(_._2)
        last = Some((b, fresh, sv))
        docsIn += cfg.batch
        kept += sv.size
        cfg.batch
      }
      if (traced && h.trace) {
        val (rs, snaps) = Workload.timedSec(stores.map(IndexStore.resolve(spark, _)))
        h.note("indexstore.resolve_s", rs / stores.size)
        h.note("indexstore.versions", snaps.flatten.map(_.version).sum)
        Seq("fingerprint", "digest").zip(snaps).foreach { case (n, snap) =>
          snap.foreach { sn =>
            h.note(s"indexstore.$n.segments", sn.tables.values.map(_.size).max)
            // per-table counts go to the trace only
            sn.tables.foreach { case (t, segs) => h.note(s"indexstore.$n.$t.segments", segs.size) }
          }
        }
        h.note("store_mb", Workload.mb(stores.map(Workload.bytesUnder).sum.toDouble))
        h.note("spark.output_files", stores.map(Workload.filesUnder).sum - filesBefore)
      }
      // point lookup: is this document already in the corpus?
      val known = b % 2 == 0
      val probeText =
        if (known) histTexts(math.abs((ctx.seed * 31 + b).toInt) % histTexts.length)
        else s"novel ${ctx.seed} $b lookup document"
      h.op("lookup") {
        import spark.implicits._
        GraftOps.dedupExactAgainstCorpus(Seq((1L, probeText)).toDF("doc_id", "text"),
          "doc_id", "text", "doc_id", dDir).collect()
      } { rows =>
        Check(rows.length == (if (known) 0 else 1),
          s"lookup of a ${if (known) "known" else "novel"} document returned ${rows.length} rows")
        1L
      }
    }

    val compactMb = mutable.ArrayBuffer.empty[Double]
    def maintenance(kind: String): Unit = {
      h.op(kind) {
        h.span("graftops.compact_s") {
          GraftOps.fingerprintCompact(spark, fDir)
          GraftOps.digestIndexCompact(spark, dDir)
        }
        stores.foreach(GraftOps.indexVacuum(spark, _))
      } { _ =>
        Check(stores.forall(segments(ctx, _) == 1), "compaction left several segments")
        if (h.trace) compactMb += Workload.mb(stores.map { s =>
          Workload.bytesUnder(s"$s/v${"%05d".format(version(ctx, s))}").toDouble
        }.sum)
        0L
      }
    }

    val warm = Workload.timedSec(step(0, "warmup", traced = false))._1
    // re-deliver the warm-up batch (the last committed batch id, the only
    // one a foreachBatch engine replays): same survivors, no new version
    last.foreach { case (b, fresh, sv) =>
      h.check("re-delivered batch is a no-op with identical survivors") {
        val before = stores.map(version(ctx, _))
        val again = survivorsOf(curate(b, fresh))
        Check(again == sv, s"re-delivered batch $b returned ${again.size} " +
          s"survivors, first delivery ${sv.size}")
        val after = stores.map(version(ctx, _))
        Check(after == before, s"re-delivery moved store versions $before -> $after")
      }
    }
    // compact once more so the first measured cycle starts from the same
    // one-segment stores as every later one
    val warmCompact = Workload.timedSec(maintenance("warmup"))._1
    val cond = new Workload.Conditions
    var storeBytes = 0L
    // whole maintenance cycles, so every run has the same mix of fresh
    // and post-compaction batches
    val loopSec = Workload.loop(ctx, minSteps = 1) { c =>
      (1 to cfg.compactEvery).foreach { j =>
        val b = c * cfg.compactEvery + j
        step(b, "op", traced = b % 2 == 1)
      }
      maintenance("maintenance")
      if (storeBytes == 0L) storeBytes = stores.map(Workload.bytesUnder).sum
    }
    val (steal, gc, jit) = cond.report()

    val traced = h.ok("op").filter(_.traced)
    def note(k: String) =
      if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.notes.getOrElse(k, 0.0)))
    val maint = h.ok("maintenance")
    val own = Map(
      "indexstore.fingerprint.segments" -> note("indexstore.fingerprint.segments"),
      "indexstore.digest.segments" -> note("indexstore.digest.segments"),
      "graftops.compact_s" -> (if (maint.isEmpty) 0.0
        else Stats.median(maint.map(_.spans.getOrElse("graftops.compact_s", 0.0)))),
      "graftops.compact_mb_rewritten" -> (if (compactMb.isEmpty) 0.0
        else Stats.median(compactMb.toSeq)),
      "curation.kept_frac" -> (if (docsIn == 0) 0.0 else kept.toDouble / docsIn))
    Outcome(
      Workload.endToEnd(ctx, ctx.sessionSec + setupSec + warm + warmCompact, loopSec,
        storeBytes),
      Workload.commonLayers(ctx, steal, gc, jit, Metrics.callSites) ++ own,
      digest)
  }
}
