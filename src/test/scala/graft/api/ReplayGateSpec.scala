package graft.api

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SparkTestBase

/** Mechanical pin of the IN-COMMIT replay gate (the zombie-writer
  * hole): the outer pre-commit watermark check can pass on a stale
  * read when two drivers replay the same micro-batch, so the gate
  * re-runs inside the commit callback against the base snapshot
  * resolved UNDER the claim. This spec drives that component directly:
  * a callback whose base already records the batchId must abort before
  * writing anything — no manifest version published, the claim
  * released so the chain stays writable — and [[GraftOps.swallowReplay]]
  * must turn the abort into the documented no-op. */
class ReplayGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a commit callback whose base snapshot already records this " +
    "batchId aborts before writing: no version published, claim " +
    "released, the next legitimate commit proceeds") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_").toString
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("id", "txt")
    GraftOps.bm25IndexBuild(docs, "id", "txt", dir, nBuckets = 8)
    GraftOps.bm25IndexAppend(Seq((3L, "c d")).toDF("id", "txt"),
      "id", "txt", dir, batchId = Some(7L))
    val vBefore = IndexStore.resolve(s, dir).get.version
    // the zombie writer's commit: its outer check (not modeled here)
    // passed on a stale snapshot; the in-commit gate sees the
    // authoritative base and must abort
    var reachedWrite = false
    GraftOps.swallowReplay(
      IndexStore.commitWithRetry(s, dir, "replayGateSpec") { (baseOpt, _) =>
        GraftOps.skipIfReplayed(baseOpt.get, Some(7L), "replayGateSpec",
          negate = false)
        reachedWrite = true
        (baseOpt.get.tables, baseOpt.get.props)
      })
    assert(!reachedWrite,
      "the gate must abort the callback before any segment write")
    assert(IndexStore.resolve(s, dir).get.version === vBefore,
      "an aborted replay commit must publish nothing")
    // the claim was released by the commit failure path: the next
    // legitimate batch commits at the very version the abort vacated
    GraftOps.bm25IndexAppend(Seq((4L, "d e")).toDF("id", "txt"),
      "id", "txt", dir, batchId = Some(8L))
    val after = IndexStore.resolve(s, dir).get
    assert(after.version === vBefore + 1, "the chain stays writable")
    assert(after.props("last_batch") === "8")
    // and the retract-side gate takes the separate last_retract key
    GraftOps.bm25IndexRetract(Seq((3L, "c d")).toDF("id", "txt"),
      "id", "txt", dir, batchId = Some(9L))
    val v2 = IndexStore.resolve(s, dir).get.version
    var reachedRetract = false
    GraftOps.swallowReplay(
      IndexStore.commitWithRetry(s, dir, "replayGateSpec") { (baseOpt, _) =>
        GraftOps.skipIfReplayed(baseOpt.get, Some(9L), "replayGateSpec",
          negate = true)
        reachedRetract = true
        (baseOpt.get.tables, baseOpt.get.props)
      })
    assert(!reachedRetract && IndexStore.resolve(s, dir).get.version === v2)
  }

  test("a re-delivered dsirStatsAppend / lmStatsAppend with the same " +
    "batchId is a no-op: counts, totals and the manifest version are " +
    "unchanged") {
    val s = spark
    import s.implicits._
    // every table's rows, order-free: a second summed delta would add a
    // segment (and its rows) to the count and totals tables
    def state(dir: String, tables: Seq[String]) = {
      val snap = IndexStore.resolve(s, dir).get
      (snap.version, tables.map(t => t ->
        IndexStore.readTable(s, dir, snap, t).collect().map(_.toString)
          .sorted.toSeq).toMap)
    }
    val dsir = java.nio.file.Files.createTempDirectory("graft_gate_dsir_")
      .toString
    GraftOps.dsirStatsBuild(Seq((1L, "a b c"), (2L, "b c d"))
        .toDF("id", "txt"), "id", "txt", Seq("a b x").toDF("txt"), "txt",
      dsir, nBuckets = 4)
    val dsirBatch = Seq((3L, "c d e"), (4L, "a a b")).toDF("id", "txt")
    GraftOps.dsirStatsAppend(dsirBatch, "id", "txt", dsir,
      batchId = Some(5L))
    val dsirTables = Seq("raw_counts", "tgt_counts", "totals")
    val dsirBefore = state(dsir, dsirTables)
    GraftOps.dsirStatsAppend(dsirBatch, "id", "txt", dsir,
      batchId = Some(5L))
    assert(state(dsir, dsirTables) === dsirBefore,
      "a replayed dsir append must not sum its counts a second time")

    val lm = java.nio.file.Files.createTempDirectory("graft_gate_lm_")
      .toString
    GraftOps.lmStatsBuild(Seq("aa bb cc aa bb").toDF("txt"), "txt", lm,
      nBuckets = 4)
    val lmBatch = Seq("xx yy zz xx").toDF("txt")
    GraftOps.lmStatsAppend(lmBatch, "txt", lm, batchId = Some(5L))
    val lmTables = Seq("uni_counts", "big_counts", "totals")
    val lmBefore = state(lm, lmTables)
    GraftOps.lmStatsAppend(lmBatch, "txt", lm, batchId = Some(5L))
    assert(state(lm, lmTables) === lmBefore,
      "a replayed lm append must not sum its counts a second time")
    // the next batch still commits
    GraftOps.lmStatsAppend(lmBatch, "txt", lm, batchId = Some(6L))
    assert(IndexStore.resolve(s, lm).get.version === lmBefore._1 + 1)
  }
}
