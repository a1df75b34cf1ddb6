package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.PortraitOps

/** `portrait_daily`: the user-portrait tag job, replayed one day at a
  * time over 30 days of events. Each day computes the day's active
  * users' tags (segment rule, balance band, most-frequent event type,
  * purchase recency and RFM segment), upserts them into a 16-bucket
  * versioned profile store, then serves a burst of point lookups.
  *
  * Checks: every lookup returns exactly the profile the days so far
  * imply, and at the end the whole store equals the driver-side fold of
  * the initial profiles and every day's tag rows. */
object PortraitDaily extends Workload {
  val name = "portrait_daily"

  final case class Cfg(customers: Long, users: Long, orders: Long,
      eventsPerDay: Long, days: Int, lookupsPerDay: Int, buckets: Int,
      warmDays: Int, minDays: Int, storePointDay: Int)

  // sf0.1 shapes: 15k customers, 150k orders, 1.5k event users
  val full = Cfg(customers = 15000, users = 1500, orders = 150000,
    eventsPerDay = 3000, days = 30, lookupsPerDay = 3, buckets = 16,
    warmDays = 2, minDays = 4, storePointDay = 4)
  val small = Cfg(customers = 600, users = 60, orders = 3000,
    eventsPerDay = 100, days = 30, lookupsPerDay = 1, buckets = 16,
    warmDays = 1, minDays = 2, storePointDay = 2)

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val EventsEpoch = 1704067200L // 2024-01-01T00:00:00Z
  private val OrdersEpoch = 788918400L  // 1995-01-01T00:00:00Z

  final case class Inputs(customers: DataFrame, orders: DataFrame,
      events: DataFrame)

  def inputs(ctx: Ctx, cfg: Cfg): Inputs = {
    val spark = ctx.spark
    val g = new Workload.Gen(ctx.seed)
    val customers = spark.range(cfg.customers).select(col("id").as("c_custkey"))
      .withColumn("c_mktsegment", element_at(array(Segments.map(lit): _*),
        (pmod(g.hash(lit("seg"), col("c_custkey")), lit(5)) + 1).cast("int")))
      .withColumn("c_acctbal",
        round(g.uni(lit("bal"), col("c_custkey")) * 10999.98 - 999.99, 2))
    val orders = spark.range(cfg.orders).select(col("id").as("o_orderkey"))
      .withColumn("o_custkey",
        pmod(g.hash(lit("oc"), col("o_orderkey")), lit(cfg.customers)))
      .withColumn("o_totalprice",
        round(g.uni(lit("op"), col("o_orderkey")) * 450000 + 900, 2))
      .withColumn("o_orderdate", timestamp_seconds(lit(OrdersEpoch) +
        pmod(g.hash(lit("od"), col("o_orderkey")), lit(2404L)) * 86400L))
    val favourite = pmod(g.hash(lit("fav"), col("user_id")), lit(5))
    val events = spark.range(cfg.eventsPerDay * cfg.days)
      .select(col("id").as("event_id"))
      .withColumn("day", pmod(g.hash(lit("ed"), col("event_id")),
        lit(cfg.days.toLong)).cast("int"))
      .withColumn("user_id", pmod(g.hash(lit("eu"), col("event_id")), lit(cfg.users)))
      .withColumn("ts", timestamp_seconds(lit(EventsEpoch) + col("day") * 86400L +
        pmod(g.hash(lit("es"), col("event_id")), lit(86400L))))
      .withColumn("event_type", element_at(array(EventTypes.map(lit): _*),
        (when(g.uni(lit("ep"), col("event_id")) < 0.6, favourite)
          .otherwise(pmod(g.hash(lit("et"), col("event_id")), lit(5))) + 1)
          .cast("int")))
    Inputs(customers.localCheckpoint(true), orders.localCheckpoint(true),
      events.localCheckpoint(true))
  }

  private def rules(ctx: Ctx, rows: Seq[(String, String)]): DataFrame = {
    import ctx.spark.implicits._
    rows.toDF("rule", "tag")
  }

  /** Rule strings in the reference's `k=v##k=v` tag-metadata format. */
  private def segRules(ctx: Ctx) = rules(ctx,
    Segments.map(s => s"seg=$s" -> s"seg:${s.toLowerCase}"))
  private def balRules(ctx: Ctx) = rules(ctx, Seq(
    "lo=-1000##hi=0" -> "bal:negative", "lo=0##hi=2000" -> "bal:low",
    "lo=2000##hi=5000" -> "bal:mid", "lo=5000##hi=8000" -> "bal:high",
    "lo=8000##hi=10001" -> "bal:top"))

  private def staticTags(ctx: Ctx, cust: DataFrame): DataFrame =
    PortraitOps.ruleMatch(cust, "c_mktsegment", "seg", segRules(ctx))
      .select(col("c_custkey").as("user_id"), col("tag"))
      .unionByName(PortraitOps.rangeBand(cust, "c_acctbal", balRules(ctx))
        .select(col("c_custkey").as("user_id"), col("tag")))

  private def collectTags(tags: DataFrame): DataFrame =
    tags.groupBy("user_id").agg(array_sort(collect_set(col("tag"))).as("tags"))

  /** The initial store: static tags of every customer. */
  def baseProfiles(ctx: Ctx, in: Inputs): DataFrame =
    collectTags(staticTags(ctx, in.customers))

  /** Day `d`'s tags for the users active that day. */
  def dayTags(ctx: Ctx, in: Inputs, d: Int): DataFrame = {
    val dayEv = in.events.filter(col("day") === d)
    val active = dayEv.select("user_id").distinct()
    val cust = in.customers.join(active, col("c_custkey") === col("user_id"))
      .drop("user_id")
    val evt = PortraitOps.mostFrequent(dayEv, "user_id", "event_type")
      .select(col("user_id"), concat(lit("evt:"), col("top_value")).as("tag"))
    val purchases = in.events
      .filter(col("day") <= d && col("event_type") === "purchase")
      .join(active, "user_id")
    val anchor = java.time.LocalDate.of(2024, 1, 1).plusDays(d + 1L).toString
    val rec = PortraitOps.recencyBands(purchases, "user_id", "ts", anchor,
        Seq("rec:hot" -> 1, "rec:warm" -> 7, "rec:cool" -> 14), "rec:cold")
      .select(col("user_id"), col("band").as("tag"))
    val activeOrders = in.orders.join(active,
      col("o_custkey") === col("user_id"), "left_semi")
    val rfm = PortraitOps.rfm(activeOrders, "o_custkey", "o_orderdate",
        "o_totalprice", graft.engine.Tables.OrdersAnchor)
      .select(col("o_custkey").as("user_id"), concat(lit("rfm:"), col("segment")).as("tag"))
    collectTags(staticTags(ctx, cust).unionByName(evt).unionByName(rec)
      .unionByName(rfm))
  }

  private def profiles(df: DataFrame): Map[Long, Set[String]] =
    df.select("user_id", "tags").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap

  private def manifestVersions(store: String): Int = {
    val m = new java.io.File(s"$store/_manifests")
    Option(m.listFiles()).getOrElse(Array.empty[java.io.File])
      .count(_.getName.matches("v\\d{5,}\\.manifest"))
  }

  /** Buckets the newest version directory holds: what the last upsert
    * rewrote (untouched buckets are re-pointed, never rewritten). */
  private def bucketsRewritten(store: String): Int = {
    val vs = Option(new java.io.File(store).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d{5,}"))
    if (vs.isEmpty) 0
    else vs.maxBy(_.getName.stripPrefix("v").toInt).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket="))
  }

  def run(ctx: Ctx): Outcome = {
    val cfg = if (ctx.small) small else full
    val (h, spark) = (ctx.h, ctx.spark)
    val (setupSec, (in, store, fold)) = Workload.setupTimed(ctx) { d =>
      val in = inputs(ctx, cfg)
      val base = baseProfiles(ctx, in).localCheckpoint(true)
      val store = s"$d/profiles"
      PortraitOps.profileUpsert(spark, store, base, "user_id", "tags", cfg.buckets)
      (in, store, mutable.Map(profiles(base).toSeq: _*))
    }
    val digest = Seq(in.customers, in.orders, in.events)
      .map(_.select(bit_xor(xxhash64(col("*")))).head().getLong(0)).mkString("-")

    def day(d: Int, kind: String, traced: Boolean): Unit = {
      val filesBefore = if (traced && h.trace) Workload.filesUnder(store) else 0L
      h.op(kind, traced) {
        val tags = h.span("portraitops.tags_s") {
          dayTags(ctx, in, d).localCheckpoint(true)
        }
        h.span("portraitops.upsert_s") {
          PortraitOps.profileUpsert(spark, store, tags, "user_id", "tags", cfg.buckets)
        }
        tags
      } { tags =>
        val got = profiles(tags)
        Check(got.nonEmpty, s"day $d tagged no users")
        got.foreach { case (u, t) => fold(u) = fold.getOrElse(u, Set.empty) ++ t }
        got.size.toLong
      }
      if (traced && h.trace) {
        val (rs, v) = Workload.timedSec(manifestVersions(store))
        h.note("indexstore.resolve_s", rs)
        h.note("indexstore.versions", v)
        h.note("portraitops.buckets_rewritten", bucketsRewritten(store))
        h.note("spark.output_files", Workload.filesUnder(store) - filesBefore)
        h.note("store_mb", Workload.mb(Workload.bytesUnder(store).toDouble))
      }
      (0 until cfg.lookupsPerDay).foreach { i =>
        val u = math.abs(scala.util.hashing.MurmurHash3.productHash(
          (ctx.seed, d, i)).toLong) % cfg.users
        h.op("lookup") {
          PortraitOps.profileRead(spark, store).filter(col("user_id") === u)
            .select("user_id", "tags").collect()
        } { rows =>
          Check(rows.length == 1, s"lookup of user $u returned ${rows.length} rows")
          val want = fold.getOrElse(u, Set.empty)
          val got = rows(0).getSeq[String](1).toSet
          Check(got == want, s"lookup of user $u: store has $got, days imply $want")
          1L
        }
      }
    }

    // the first days warm the daily path (codegen, JIT, first merges)
    // and count as setup
    val warm = Workload.timedSec((0 until cfg.warmDays).foreach(day(_, "warmup", traced = false)))._1
    val cond = new Workload.Conditions
    var storeBytes = 0L
    val loopSec = Workload.loop(ctx, cfg.minDays, i => cfg.warmDays + i < cfg.days) { i =>
      day(cfg.warmDays + i, "op", traced = i % 2 == 0)
      if (i + 1 == cfg.storePointDay) storeBytes = Workload.bytesUnder(store)
    }
    if (storeBytes == 0L) storeBytes = Workload.bytesUnder(store)
    val (steal, gc, jit) = cond.report()

    h.check("store equals the fold of all days' tags") {
      val got = profiles(PortraitOps.profileRead(spark, store))
      Check(got.size == fold.size, s"store holds ${got.size} users, fold ${fold.size}")
      val bad = fold.count { case (u, t) => !got.get(u).contains(t) }
      Check(bad == 0, s"$bad users' profiles differ from the fold")
    }
    val upserts = h.recs.count(r => r.kind != "lookup") + 1
    h.check("one store version per upsert") {
      val v = manifestVersions(store)
      Check(v == upserts, s"$v manifest versions after $upserts upserts")
    }

    val traced = h.ok("op").filter(_.traced)
    def span(k: String) =
      if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.spans.getOrElse(k, 0.0)))
    def note(k: String) =
      if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.notes.getOrElse(k, 0.0)))
    val lookups = h.ok("lookup").filter(_.traced)
    val own = Map(
      "portraitops.tags_s" -> span("portraitops.tags_s"),
      "portraitops.upsert_s" -> span("portraitops.upsert_s"),
      "portraitops.buckets_rewritten" -> note("portraitops.buckets_rewritten"),
      "portraitops.lookup_jobs" -> (if (lookups.isEmpty) 0.0
        else Stats.median(lookups.map(_.ledger.map(_.jobs.toDouble).getOrElse(0.0)))))
    Outcome(
      Workload.endToEnd(ctx, ctx.sessionSec + setupSec + warm, loopSec, storeBytes),
      Workload.commonLayers(ctx, steal, gc, jit, Metrics.callSites) ++ own,
      digest)
  }
}
