package graft.api

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SparkTestBase

/** The per-segment schema memo behind [[IndexStore.readSegment]]: a warm
  * read of a published segment builds its DataFrame without a Spark job,
  * segments of one table keep their own column types, and a commit that
  * publishes a new schema is read with it. */
class StoreSchemaMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Jobs started while `body` runs. A marker job after `body` fences
    * the listener bus: events arrive in order, so once the marker's
    * start is seen every earlier start has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"schema-memo-marker-${System.nanoTime}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime + 30000000000L
      while (!starts.contains(marker) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(starts.contains(marker), "the marker job start never arrived")
      starts.toArray.takeWhile(_ != marker).length
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a warm readTable and a warm profileRead launch no Spark job") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_memo_idx_")
    GraftOps.fingerprintBuild(
      Seq((1L, "a b c d"), (2L, "c d e f")).toDF("id", "txt"), "id", "txt",
      dir, nHashes = 8, bands = 4)
    val snap = IndexStore.resolve(s, dir).get
    val cold = jobsDuring(IndexStore.readTable(s, dir, snap, "docs"))
    assert(cold > 0, "the cold read infers the schema with a Spark job")
    assert(jobsDuring(IndexStore.readTable(s, dir, snap, "docs")) === 0)
    assert(jobsDuring(IndexStore.readTableTagged(s, dir, snap, "docs",
      "__seg")) === 0)
    assert(IndexStore.readTable(s, dir, snap, "docs").count() === 2)

    val pdir = tmp("graft_memo_profile_") + "/t"
    PortraitOps.profileUpsert(s, pdir,
      Seq((1L, Seq("x")), (2L, Seq("y"))).toDF("k", "tags"), "k",
      nBuckets = 4)
    PortraitOps.profileRead(s, pdir)
    assert(jobsDuring(PortraitOps.profileRead(s, pdir)) === 0)
    val rows = PortraitOps.profileRead(s, pdir).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows === Map(1L -> Seq("x"), 2L -> Seq("y")))
  }

  test("an int-id build appended with long ids reads every row, widened " +
    "to long") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_memo_widen_")
    GraftOps.fingerprintBuild(
      Seq((1, "a b c d"), (2, "c d e f")).toDF("id", "txt"), "id", "txt",
      dir, nHashes = 8, bands = 4)
    // warm the int segment's schema before the long segment exists
    IndexStore.readTable(s, dir, IndexStore.resolve(s, dir).get, "docs")
      .count()
    GraftOps.fingerprintAppend(
      Seq((3000000000L, "x y z w")).toDF("id", "txt"), "id", "txt", dir)
    for (_ <- 1 to 2) { // cold, then warm, reads of the long segment
      val snap = IndexStore.resolve(s, dir).get
      assert(snap.tables("docs").size === 2)
      val docs = IndexStore.readTable(s, dir, snap, "docs")
      assert(docs.schema("doc_id").dataType === LongType)
      assert(docs.select("doc_id").as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L, 3000000000L))
      val bands = IndexStore.readTableTagged(s, dir, snap, "bands", "__seg")
      assert(bands.schema("doc_id").dataType === LongType)
      assert(bands.select("doc_id").distinct().count() === 3)
    }
  }

  test("a rebuild or a compaction that publishes a new schema is read " +
    "with the new schema") {
    val s = spark
    import s.implicits._
    val dir = tmp("graft_memo_rebuild_")
    GraftOps.fingerprintBuild(
      Seq((1, "a b c d"), (2, "c d e f")).toDF("id", "txt"), "id", "txt",
      dir, nHashes = 8, bands = 4)
    def docs() = IndexStore.readTable(s, dir,
      IndexStore.resolve(s, dir).get, "docs")
    assert(docs().schema("doc_id").dataType !== LongType)
    // rebuild at the same dir with long ids: a new version owns every
    // table, so the next read resolves (and memoizes) the new schema
    GraftOps.fingerprintBuild(
      Seq((7L, "p q r s")).toDF("id", "txt"), "id", "txt",
      dir, nHashes = 8, bands = 4)
    for (_ <- 1 to 2) {
      assert(docs().schema("doc_id").dataType === LongType)
      assert(docs().select("doc_id").as[Long].collect().toSeq === Seq(7L))
    }

    val cdir = tmp("graft_memo_compact_")
    GraftOps.fingerprintBuild(
      Seq((1, "a b c d"), (2, "c d e f")).toDF("id", "txt"), "id", "txt",
      cdir, nHashes = 8, bands = 4)
    GraftOps.fingerprintAppend(
      Seq((3000000000L, "x y z w")).toDF("id", "txt"), "id", "txt", cdir)
    def cdocs() = IndexStore.readTable(s, cdir,
      IndexStore.resolve(s, cdir).get, "docs")
    cdocs().count()
    GraftOps.fingerprintCompact(s, cdir)
    assert(IndexStore.resolve(s, cdir).get.tables("docs").size === 1)
    for (_ <- 1 to 2) {
      assert(cdocs().schema("doc_id").dataType === LongType,
        "the one compacted segment carries the widened type")
      assert(cdocs().select("doc_id").as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L, 3000000000L))
    }
  }
}
