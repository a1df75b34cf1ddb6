package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, parameterized user-portrait operators — the reference's hallmark
  * computations as library functions over caller-supplied frames: rule-driven
  * tag models (rules as DATA, parsed from the reference's `##`/`=` rule
  * strings), RFM-style quintile scoring (exact and approximate), and the
  * BaseModel profile merge + partitioned upsert write path. Same design
  * rules as [[GraftOps]]: deterministic (ntile windows carry the entity key
  * as tiebreaker — ntile is tie-order-sensitive), flat outputs, fixed
  * anchors instead of current_date. */
object PortraitOps {

  // ---------------------------------------------------------------- rules

  /** Parse the reference's rule strings — `##`-separated `k=v` pairs (the
    * 4-level tag metadata format, e.g. `"seg=AUTOMOBILE"` or
    * `"lo=2000##hi=5000"`) — into a `rule_kv` map column. Rules arrive as
    * DATA (any DataFrame with a rule-string column: a JDBC read of the tag
    * metadata table, a CSV, a literal frame), so real tag metadata feeds
    * the same operators the test bindings use. */
  def parseRules(rules: DataFrame, ruleCol: String = "rule"): DataFrame =
    rules.withColumn("rule_kv", str_to_map(col(ruleCol), lit("##"), lit("=")))

  /** Match-type tag model (the Gender/Job shape): rows of `df` whose
    * `attrCol` equals a rule's value for `ruleKey` pick up that rule row's
    * remaining columns (tag id, tag name, …). The rule table is tiny tag
    * metadata — broadcast; the fact side streams. */
  def ruleMatch(df: DataFrame, attrCol: String, ruleKey: String,
      rules: DataFrame, ruleCol: String = "rule"): DataFrame = {
    val parsed = parseRules(rules, ruleCol)
      .withColumn("__match_v", element_at(col("rule_kv"), lit(ruleKey)))
      .filter(col("__match_v").isNotNull)
      .drop("rule_kv", ruleCol)
    df.join(broadcast(parsed), col(attrCol) === col("__match_v"))
      .drop("__match_v")
  }

  /** Band-type tag model (the age-range shape): rules carry `lo`/`hi`
    * bounds (`"lo=0##hi=2000"`); a row matches when
    * `lo <= valCol < hi`. Broadcast band join — the band table is metadata,
    * never the fact side. */
  def rangeBand(df: DataFrame, valCol: String,
      rules: DataFrame, ruleCol: String = "rule"): DataFrame = {
    val parsed = parseRules(rules, ruleCol)
      .withColumn("__lo", element_at(col("rule_kv"), lit("lo")).cast("double"))
      .withColumn("__hi", element_at(col("rule_kv"), lit("hi")).cast("double"))
      .filter(col("__lo").isNotNull && col("__hi").isNotNull)
      .drop("rule_kv", ruleCol)
    df.join(broadcast(parsed),
        col(valCol) >= col("__lo") && col(valCol) < col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Mode tag (most-frequent value, the payment-type model shape): per
    * entity the most frequent `valCol` with (count desc, value asc)
    * tiebreak — two-level aggregation, then a per-entity rank. Emits
    * (keyCol, top_value, cnt). */
  def mostFrequent(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("cnt").desc, col(valCol).asc)
    df.groupBy(keyCol, valCol).agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(keyCol), col(valCol).as("top_value"), col("cnt"))
  }

  /** Recency-cycle tag: days from each entity's latest `dateCol` to
    * `anchor` (ISO date literal), banded by ascending (name, maxDays)
    * thresholds with `elseName` past the last. Emits
    * (keyCol, days_since, band). */
  def recencyBands(df: DataFrame, keyCol: String, dateCol: String,
      anchor: String, bands: Seq[(String, Int)], elseName: String): DataFrame = {
    require(bands.nonEmpty && bands.map(_._2) == bands.map(_._2).sorted,
      "bands must be (name, maxDays) in ascending maxDays order")
    val banded = bands.reverse.foldLeft(lit(elseName): Column) {
      case (rest, (nm, hi)) => when(col("days_since") <= hi, nm).otherwise(rest)
    }
    df.groupBy(keyCol)
      .agg(datediff(lit(anchor).cast("date"), max(to_date(col(dateCol))))
        .cast("long").as("days_since"))
      .withColumn("band", banded)
  }

  /** Sequential conversion funnel (the behavior-analysis model shape): for
    * the ordered `steps` values of `typeCol`, each entity's time of the
    * FIRST occurrence of step i STRICTLY AFTER its step i−1 time, plus
    * `level` = how deep the entity converted. k steps cost k (join +
    * min-aggregation) passes, every shuffle on the entity key — no
    * per-entity event collection, no window over the full stream. Emits
    * (keyCol, step0_ts … stepN_ts, level); step times are whatever type
    * `tsCol` is (nulls past the conversion depth). */
  def funnelSteps(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.select(col(keyCol), col(typeCol).as("__t"), col(tsCol).as("__ts"))
    var acc = ev.select(col(keyCol)).distinct()
    steps.zipWithIndex.foreach { case (st, i) =>
      val source =
        if (i == 0) ev.filter(col("__t") === st)
        else ev.filter(col("__t") === st)
          .join(acc.select(col(keyCol), col(s"step${i - 1}_ts")), Seq(keyCol))
          .filter(col("__ts") > col(s"step${i - 1}_ts"))
      acc = acc.join(
        source.groupBy(keyCol).agg(min("__ts").as(s"step${i}_ts")),
        Seq(keyCol), "left")
    }
    acc.withColumn("level",
      steps.indices.map(i => col(s"step${i}_ts").isNotNull.cast("int"))
        .reduce(_ + _))
  }

  /** PSM price-sensitivity model (the reference's hallmark mining tag next
    * to RFM): rolls per-ORDER discount structure up to the entity —
    * tdonr = discounted-order ratio, adar = mean per-order
    * discount-amount ratio, tdar = total-discount ratio (exact: the
    * per-order doubles re-enter DECIMAL so the totals ratio carries no
    * float accumulation error) — sums them into the psm score (4dp) and
    * bands it. `perOrder` must carry one row per (entity, order) with a
    * 0/1 discounted flag, the order's discount amount, and its gross.
    * Bands are ascending (name, upper-bound) pairs; `elseName` past the
    * last. */
  def psmScores(perOrder: DataFrame, keyCol: String, hasDiscCol: String,
      discAmtCol: String, grossCol: String,
      bands: Seq[(String, Double)] = Seq("insensitive" -> 0.9, "low" -> 1.0,
        "mid" -> 1.05, "high" -> 1.1),
      elseName: String = "very_high"): DataFrame = {
    require(bands.nonEmpty && bands.map(_._2) == bands.map(_._2).sorted,
      "bands must be (name, upperBound) in ascending bound order")
    // unscorable entities (null psm — e.g. every order's gross is 0 or
    // null) band as NULL: the fold's else-branch would otherwise label
    // them the TOP band, the worst possible silent default
    val banded = when(col("psm").isNull, lit(null).cast("string"))
      .otherwise(bands.reverse.foldLeft(lit(elseName): Column) {
        case (rest, (nm, hi)) => when(col("psm") < hi, nm).otherwise(rest)
      })
    perOrder.groupBy(keyCol).agg(
        (sum(col(hasDiscCol)) / count(lit(1))).as("tdonr_raw"),
        avg(col(discAmtCol) / col(grossCol)).as("adar_raw"),
        (sum(col(discAmtCol).cast("decimal(18,4)")).cast("double") /
          sum(col(grossCol).cast("decimal(18,2)")).cast("double")).as("tdar_raw"))
      .withColumn("psm",
        round(col("tdonr_raw") + col("adar_raw") + col("tdar_raw"), 4))
      .withColumn("psm_band", banded)
  }

  /** Batch sessionization (lag-gap/cumsum form): events within
    * `gap` of the previous event of the same entity share a session; a
    * larger gap starts a new one. Two window passes over one shuffle on
    * the entity key. `tsCol` must be a numeric time (any unit — `gap` is
    * in the same unit); `tieCol` breaks equal-timestamp ordering. Emits
    * one row per event: (all input columns, session_id) with session ids
    * numbered 1.. per entity. The streaming twin is
    * [[graft.streaming.StreamOps.sessionize]]. */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gap: Long): DataFrame = {
    val wOrd = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev_ts", lag(tsCol, 1).over(wOrd))
      .withColumn("__is_new",
        when(col("__prev_ts").isNull ||
          col(tsCol) - col("__prev_ts") > gap, 1).otherwise(0))
      .withColumn("session_id", sum("__is_new").over(wCum))
      .drop("__prev_ts", "__is_new")
  }

  /** Retention cohorts (the second behavior-analysis staple next to
    * [[funnelSteps]]): entities cohort by their FIRST active day (aligned
    * to `periodDays`-wide periods on the 1970-01-01 epoch grid), and each
    * (cohort, period-offset) cell counts the distinct entities active in
    * that period. Two distinct-aggregations and one broadcast-size join —
    * the cohort table is one row per cohort. Emits (cohort_start, offset,
    * active_users, cohort_size, retention); offset 0 always has
    * retention 1.0. */
  def retentionCohorts(events: DataFrame, keyCol: String, tsCol: String,
      periodDays: Int = 7): DataFrame = {
    require(periodDays >= 1, "periodDays must be positive")
    val perUser = events.groupBy(keyCol)
      .agg(min(to_date(col(tsCol))).as("first_day"))
      .withColumn("cohort_start", date_sub(col("first_day"),
        pmod(datediff(col("first_day"), lit("1970-01-01").cast("date")),
          lit(periodDays)).cast("int")))
      .select(col(keyCol), col("cohort_start"))
    val sizes = perUser.groupBy("cohort_start")
      .agg(countDistinct(keyCol).as("cohort_size"))
    val activity = events.select(col(keyCol), to_date(col(tsCol)).as("day")).distinct()
    activity.join(perUser, Seq(keyCol))
      .withColumn("offset",
        expr(s"datediff(day, cohort_start) div $periodDays").cast("int"))
      .groupBy("cohort_start", "offset")
      .agg(countDistinct(keyCol).as("active_users"))
      .join(broadcast(sizes), Seq("cohort_start"))
      // raw double ratio, NOT rounded: active/size is an exact small-int
      // ratio, and rounding exact ties diverges between HALF_UP and
      // HALF_EVEN engines (Tables.scala parity rules)
      .withColumn("retention",
        col("active_users").cast("double") / col("cohort_size"))
  }

  // -------------------------------------------------------------- scoring

  /** Score metric columns 1–5 by quintile. `specs` rows are
    * (metricCol, scoreCol, higherIsBetter).
    *
    *  - `exact = false` (the DEFAULT — the 100 TB path): quintile
    *    boundaries from one `percentile_approx` pass, then scores are a
    *    pure projection — no global sort, no single-partition stage.
    *    Scores can differ from exact ntile by ±1 near quintile
    *    boundaries — and on HEAVILY TIED metrics the divergence is
    *    structural, not ±1: when several boundaries collapse onto one
    *    repeated value (e.g. a frequency metric where most entities are
    *    1), the strict boundary test can make middle scores unreachable
    *    while exact ntile spreads the ties 1–5 by id. Prefer
    *    `exact = true` for low-cardinality/discrete metrics.
    *  - `exact = true` (the reference/oracle semantics): global `ntile(5)`
    *    with the entity key as tiebreaker — bit-deterministic, but each
    *    window is a single-partition sort of ALL entities. Fine into the
    *    10^8-entity range; opt in when bit-exact quintiles matter more
    *    than the single-reducer sort (the driver's oracle bindings do).
    */
  def quintileScores(base: DataFrame, keyCol: String,
      specs: Seq[(String, String, Boolean)], exact: Boolean = false): DataFrame =
    if (exact) {
      specs.foldLeft(base) { case (df, (metric, score, hib)) =>
        // null metrics sort to the FRONT on both orderings, so an
        // unscorable entity always lands in tile 1 (the worst score) —
        // the desc default (nulls last) would score it 5/best
        val ord = if (hib) col(metric).asc_nulls_first
          else col(metric).desc_nulls_first
        df.withColumn(score,
          ntile(5).over(Window.orderBy(ord, col(keyCol).asc)))
      }
    } else {
      val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
      val aggs = specs.map { case (metric, score, _) =>
        percentile_approx(col(metric), qs, lit(10000)).as(s"__b_$score")
      }
      // the 1-row bounds frame joins as an explicit broadcast cross join —
      // a constant equi-key would be folded away by Catalyst and re-planned
      // as a nested loop anyway, so say what it is
      val bounds = base.agg(aggs.head, aggs.tail: _*)
      val joined = base.crossJoin(broadcast(bounds))
      specs.foldLeft(joined) { case (df, (metric, score, hib)) =>
        val b = col(s"__b_$score")
        def beats(i: Int): Column =
          if (hib) (col(metric) > b(i)).cast("int")
          else (col(metric) < b(i)).cast("int")
        // coalesce: a null metric propagates null through the boundary
        // sums — score it 1 (worst), matching the exact path's
        // nulls-first tile
        df.withColumn(score, coalesce(
          ((0 until 4).map(beats).reduce(_ + _) + lit(1)).cast("int"),
          lit(1)))
      }.drop(specs.map(s => s"__b_${s._2}"): _*)
    }

  /** RFM scoring: per `keyCol` entity compute R = days from last `dateCol`
    * to `anchor` (an ISO date literal), F = row count, M = exact
    * DECIMAL-summed `amountCol`; score each 1–5 by quintile (R inverted:
    * fresher = higher) via [[quintileScores]] — `exact` defaults to the
    * approx-boundary scale path; pass `exact = true` for bit-exact ntiles. */
  def rfmScored(orders: DataFrame, keyCol: String, dateCol: String,
      amountCol: String, anchor: String, exact: Boolean = false): DataFrame = {
    val base = orders.groupBy(keyCol).agg(
      datediff(lit(anchor).cast("date"), max(to_date(col(dateCol))))
        .cast("long").as("r_days"),
      count(lit(1)).as("f"),
      graft.engine.Tables.decSum(col(amountCol)).as("m"))
    quintileScores(base, keyCol, Seq(
      ("r_days", "r_score", false), ("f", "f_score", true),
      ("m", "m_score", true)), exact)
  }

  /** Full RFM model: scores plus the composite 100r+10f+m code and the
    * value-segment banding. */
  def rfm(orders: DataFrame, keyCol: String, dateCol: String,
      amountCol: String, anchor: String, exact: Boolean = false): DataFrame =
    rfmScored(orders, keyCol, dateCol, amountCol, anchor, exact)
      .withColumn("rfm",
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).cast("int"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4, "champion")
          .when(col("r_score") >= 3 && col("f_score") >= 3, "loyal")
          .when(col("r_score") >= 3, "potential")
          .when(col("f_score") >= 3 || col("m_score") >= 3, "at_risk")
          .otherwise("hibernating"))
      .select(col(keyCol), col("r_days"), col("f"), col("m"),
        col("r_score"), col("f_score"), col("m_score"), col("rfm"), col("segment"))
      .orderBy(keyCol)

  // -------------------------------------------------------------- profile

  /** Tag-array merge, array-valued (the reusable core of the BaseModel
    * upsert): full-outer-join old and new per-entity tag arrays, union,
    * dedupe, sort. Idempotent and commutative; null-safe on either side.
    * Both inputs: (`keyCol`, `tagsCol`: array<string>). */
  def profileMergeTags(oldTags: DataFrame, newTags: DataFrame, keyCol: String,
      tagsCol: String = "tags"): DataFrame = {
    val old = oldTags.select(col(keyCol), col(tagsCol).as("__old_tags"))
    val neu = newTags.select(col(keyCol), col(tagsCol).as("__new_tags"))
    neu.join(old, Seq(keyCol), "full")
      .select(col(keyCol),
        array_sort(array_distinct(concat(
          coalesce(col("__old_tags"), array()),
          coalesce(col("__new_tags"), array())))).as(tagsCol))
  }

  /** Profile merge (the reference's BaseModel upsert, compute half):
    * [[profileMergeTags]] emitted as the comma-joined profile string. */
  def profileMerge(oldTags: DataFrame, newTags: DataFrame, keyCol: String,
      tagsCol: String = "tags"): DataFrame =
    profileMergeTags(oldTags, newTags, keyCol, tagsCol)
      .select(col(keyCol), array_join(col(tagsCol), ",").as("profile"))
      .orderBy(keyCol)

  /** Day-over-day profile upsert — the WRITE half of the BaseModel cycle,
    * committed through a VERSIONED-SNAPSHOT protocol (Delta/Iceberg-style
    * manifest flip, self-contained on any Hadoop filesystem with atomic
    * exclusive-create and `rename` — HDFS, ABFS; on `file:` the claim
    * uses NIO O_EXCL because Hadoop's LocalFileSystem fakes exclusive
    * create as check-then-act ([[IndexStore.exclusiveCreate]]). A plain
    * object store without atomic exclusive-create (s3a) cannot enforce
    * the claim gate by itself: serialize writers there with an external
    * lock or an S3-committer-style layer):
    *
    * Layout under `tableDir`:
    *  - `vNNNNN/bucket=<b>/...parquet` — immutable snapshot directories;
    *    version N's dir holds ONLY the buckets that upsert N rewrote.
    *  - `_manifests/vNNNNN.manifest` — the commit record: one
    *    `bucket → version-dir` line per live bucket. The LATEST manifest
    *    IS the table; a bucket untouched by an upsert is re-POINTED at
    *    the older version dir that already holds it, never rewritten.
    *  - `_manifests/vNNNNN.CLAIM` — the writer's exclusive version claim.
    *
    * An upsert: (1) resolves the latest manifest, (2) CLAIMS version N+1
    * by exclusive create — a second concurrent writer fails LOUDLY here
    * ([[ConcurrentProfileWriteException]]), before any work, instead of
    * interleaving partition swaps — (3) merges the incoming tag arrays
    * with the existing rows of ONLY the touched buckets (the rest of the
    * table is never read), (4) writes the merged buckets to the new
    * immutable `vNNNNN` dir, and (5) PUBLISHES by renaming the manifest
    * into place — one atomic metadata operation. A reader (profileRead)
    * resolving manifests concurrently sees the old snapshot or the new
    * one, never a mix: data dirs land fully before the manifest appears,
    * and old version dirs are immutable until [[profileVacuum]].
    *
    * A writer that crashes after claiming leaves `vNNNNN.CLAIM` residue;
    * the next upsert fails loudly naming the file (delete it after
    * confirming the writer is dead — its data dir, if any, is
    * unreferenced and vacuumable). A writer that FAILS (rather than
    * crashes) before publishing releases its own claim and deletes its
    * partial data dir on the way out, so only a hard process death
    * leaves residue. Between resolving the latest manifest and claiming
    * there is a window in which another writer can commit AND release;
    * the claim is therefore RE-VERIFIED against the manifest chain right
    * after creation (still exactly latest+1, else release and fail
    * loudly) — the loser can never clobber or duplicate a published
    * version. Version numbers therefore form an unbroken chain and every
    * upsert merges from its immediate predecessor — no lost updates, by
    * construction. Empty upserts are rejected BEFORE any claim is taken.
    *
    * `nBuckets` is fixed at table creation (it is the hash layout; the
    * manifest records it implicitly through the bucket ids). Returns the
    * read-back NEW snapshot (keyCol, tagsCol, bucket). */
  def profileUpsert(spark: SparkSession, tableDir: String, newTags: DataFrame,
      keyCol: String, tagsCol: String = "tags", nBuckets: Int = 16): DataFrame = {
    def bucketOf(c: Column): Column = profileBucket(c, nBuckets)
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(manifestDir(tableDir)))
    // Normalize the incoming batch BEFORE anything else: null keys fail
    // loudly (a null can never merge — it would accumulate one orphan
    // row per upsert forever), and in-batch duplicate keys pre-aggregate
    // to one row (the full-outer merge join would otherwise MULTIPLY a
    // duplicated key's rows on every later upsert). The normalized frame
    // has two consumers (the touched-bucket collect and the merge/write
    // job), so it materializes once — lazy local checkpoint, the curate
    // fan-out contract (blocks are not rebuilt on executor loss; the
    // caller retries the upsert).
    val neu = newTags.select(
        when(col(keyCol).isNull, raise_error(lit(
          s"profileUpsert: null profile key '$keyCol'")))
          .otherwise(col(keyCol)).as(keyCol),
        col(tagsCol))
      .groupBy(col(keyCol))
      .agg(array_sort(array_distinct(flatten(collect_list(col(tagsCol)))))
        .as(tagsCol))
      .localCheckpoint(false)
    // touched bucket ids: O(nBuckets) driver-side metadata, like the IVF
    // centroid collects — never O(data). Computed (and the empty-upsert
    // case rejected) BEFORE any claim, so a rejected upsert leaves no
    // CLAIM residue for later writers to trip over.
    val touched = neu.select(bucketOf(col(keyCol)).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    require(touched.nonEmpty, "profileUpsert: empty upsert — nothing to commit")
    val base = latestManifest(spark, tableDir)
    // the manifest records the bucket layout; a mismatched nBuckets would
    // hash keys into the wrong dirs and silently duplicate them
    base.flatMap(_._2).foreach(nb => require(nb == nBuckets,
      s"profileUpsert: table $tableDir was created with nBuckets=$nb, " +
        s"called with $nBuckets — the layouts are incompatible"))
    val newMap = commitProfileVersion(spark, tableDir, "profileUpsert",
        nBuckets, base) { vname =>
      val oldTouched = base.map(_._3.filter(kv => touched(kv._1)))
        .getOrElse(Map.empty[Int, String])
      val merged =
        if (oldTouched.isEmpty) neu // already key-unique, sorted, distinct
        else
          profileMergeTags(
            readBuckets(spark, tableDir, oldTouched).drop("bucket"),
            neu, keyCol, tagsCol)
      merged.withColumn("bucket", bucketOf(col(keyCol)))
        .write.partitionBy("bucket").parquet(s"$tableDir/$vname")
      base.map(_._3).getOrElse(Map.empty[Int, String]) ++
        touched.map(_ -> vname)
    }
    readBuckets(spark, tableDir, newMap)
  }

  /** The COMMIT GATE shared by the profile-table mutations
    * ([[profileUpsert]] / [[profileDelete]]) — claim → TOCTOU re-check
    * → data jobs → manifest publish → cleanup, exactly the sequence
    * profileUpsert always ran (factored, not changed):
    *  - exclusive create of the claim serializes writers on the version
    *    chain; the loser learns immediately and loudly. Atomic even on
    *    `file:` — Hadoop LocalFileSystem's create(overwrite = false) is
    *    check-then-act, so the claim goes through NIO O_EXCL there
    *    ([[IndexStore.exclusiveCreate]]; the suite's two-thread race
    *    test caught the local-fs hole);
    *  - TOCTOU re-check: between the caller's manifest resolve and the
    *    claim create, another writer can claim, COMMIT and release this
    *    very version — its claim file is gone, so our create succeeds
    *    even though the version is published. Verify the chain still
    *    ends at next−1; otherwise fail loudly (the finally releases our
    *    claim);
    *  - `write` runs the data jobs into `tableDir/<vname>` and returns
    *    the NEW complete bucket → version-dir map to record;
    *  - PUBLISH: write the manifest beside its final name, then one
    *    rename. The claim makes the final name unique, so the rename
    *    cannot collide; readers list only *.manifest and never see a
    *    partial commit;
    *  - a writer that FAILS before publishing drops its partial data
    *    dir (never another writer's: wroteData guards the TOCTOU path,
    *    where the version's data belongs to the committed winner) and
    *    releases the claim so the chain stays writable. */
  private def commitProfileVersion(spark: SparkSession, tableDir: String,
      op: String, nBuckets: Int,
      base: Option[(Int, Option[Int], Map[Int, String])])(
      write: String => Map[Int, String]): Map[Int, String] = {
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next = base.map(_._1).getOrElse(0) + 1
    val vname = f"v$next%05d"
    val claim = new org.apache.hadoop.fs.Path(
      s"${manifestDir(tableDir)}/$vname.CLAIM")
    try IndexStore.exclusiveCreate(fs, claim)
    catch { case e: java.io.IOException =>
      throw new ConcurrentProfileWriteException(
        s"$op: version $vname of $tableDir is already claimed " +
          s"($claim exists) — another writer is in flight, or a crashed " +
          "writer left residue (delete the CLAIM file once you have " +
          s"confirmed it is dead). Underlying: ${e.getMessage}")
    }
    var published = false
    var wroteData = false
    try {
      if (latestManifest(spark, tableDir).map(_._1).getOrElse(0) != next - 1)
        throw new ConcurrentProfileWriteException(
          s"$op: version $vname of $tableDir was published by a " +
            "concurrent writer between manifest resolve and claim — rerun " +
            "against the new snapshot")
      wroteData = true
      val newMap = write(vname)
      val tmp = new org.apache.hadoop.fs.Path(
        s"${manifestDir(tableDir)}/.$vname.manifest.tmp")
      val out = fs.create(tmp, true)
      out.write((s"version $next nbuckets $nBuckets\n" + newMap.toSeq.sorted
        .map { case (b, v) => s"$b $v" }.mkString("\n") + "\n").getBytes("UTF-8"))
      out.close()
      val fin = new org.apache.hadoop.fs.Path(
        s"${manifestDir(tableDir)}/$vname.manifest")
      if (!fs.rename(tmp, fin))
        throw new ConcurrentProfileWriteException(s"$op: failed to publish $fin")
      published = true
      fs.delete(claim, false)
      newMap
    } finally if (!published) {
      if (wroteData)
        fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/$vname"), true)
      fs.delete(claim, false)
    }
  }

  /** DELETE profiles (by key) from a [[profileUpsert]] table — the
    * right-to-be-forgotten half of the profile lifecycle, and the
    * profile store's member of the round's erasure family
    * ([[GraftOps.digestIndexRetract]] and twins forget corpus content;
    * this forgets USERS). No tombstones here — the profile store's unit
    * of ownership is the BUCKET (a bucket lives in exactly one version,
    * reads never union), so deletion is its NATIVE shape: rewrite only
    * the touched buckets minus the deleted keys and re-point the rest,
    * exactly an upsert's write pattern. A bucket whose rows all delete
    * leaves the manifest entirely (readers stop visiting it). Deleting
    * keys the table does not hold is a committed NO-OP — no version
    * churn (erasure requests repeat; idempotent by design). Null keys
    * fail loudly (profileUpsert's stance). Same commit gate as upsert
    * ([[commitProfileVersion]]): loud concurrent-writer failure,
    * TOCTOU-safe, crash leaves only CLAIM residue; [[profileVacuum]]
    * then reclaims the superseded versions — after which the deleted
    * rows' BYTES are gone too, completing the erasure (until then they
    * exist only in superseded snapshots, exactly Delta/Iceberg's
    * delete-then-vacuum story). Returns the new snapshot (empty if the
    * table emptied). */
  def profileDelete(spark: SparkSession, tableDir: String, keys: DataFrame,
      keyCol: String, tagsCol: String = "tags"): DataFrame = {
    val base = latestManifest(spark, tableDir).getOrElse(
      throw new IllegalStateException(
        s"profileDelete: no committed profile snapshot at $tableDir"))
    val (_, nbOpt, baseMap) = base
    val nBuckets = nbOpt.getOrElse(throw new IllegalStateException(
      s"profileDelete: table $tableDir has no recorded bucket layout " +
        "(pre-layout-stamp manifest) — upsert once with this release " +
        "to stamp it first"))
    def bucketOf(c: Column): Column = profileBucket(c, nBuckets)
    val ks = keys.select(
        when(col(keyCol).isNull, raise_error(lit(
          s"profileDelete: null profile key '$keyCol'")))
          .otherwise(col(keyCol)).as(keyCol))
      .distinct().localCheckpoint(false)
    // deleting from an ALREADY-EMPTIED table must stay a no-op — the
    // idempotence contract is exactly for repeated erasure requests
    // (job replay, duplicate ticket), and the retry of a successful
    // full erasure is its most common instance. No live version dir
    // exists to read a schema from, so the empty frame is fabricated:
    // the caller's key type + the store's (tagsCol, bucket) — tagsCol
    // parameterized to match profileUpsert's signature, or a table
    // created with a custom tags column would get a schema-mismatched
    // empty result on this full-erasure retry path
    if (baseMap.isEmpty)
      return ks.limit(0)
        .withColumn(tagsCol, lit(null).cast("array<string>"))
        .withColumn("bucket", lit(null).cast("int"))
    // touched buckets: O(nBuckets) driver metadata (the upsert's
    // budget); buckets the manifest does not hold can hold no key
    val touched = ks.select(bucketOf(col(keyCol)).as("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet.intersect(baseMap.keySet)
    // the no-op returns read the CURRENT snapshot
    if (touched.isEmpty) return readBuckets(spark, tableDir, baseMap)
    val existing = readBuckets(spark, tableDir,
      baseMap.filter(kv => touched(kv._1)))
    // pinned once: the no-op probe, the per-bucket survivor counts, and
    // the write all read this frame (curate's fan-out contract)
    val remaining = existing.join(ks, Seq(keyCol), "left_anti")
      .localCheckpoint(false)
    if (existing.join(ks, Seq(keyCol), "left_semi").isEmpty)
      return readBuckets(spark, tableDir, baseMap) // absent — committed no-op
    val live = remaining.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val emptied = touched.filter(b => live.getOrElse(b, 0L) == 0L)
    val newMap = commitProfileVersion(spark, tableDir, "profileDelete",
        nBuckets, Some(base)) { vname =>
      remaining.write.partitionBy("bucket").parquet(s"$tableDir/$vname")
      baseMap -- emptied ++
        touched.diff(emptied).map(_ -> vname)
    }
    if (newMap.isEmpty) remaining // zero rows, correct schema
    else readBuckets(spark, tableDir, newMap)
  }

  /** Read the CURRENT committed snapshot of a [[profileUpsert]] table:
    * resolve the latest manifest, then union per-version bucket reads —
    * each carrying a `bucket IN (...)` filter, so partition pruning holds
    * and a bucket is only ever read from the one version dir that owns
    * it. Snapshot-isolated against a concurrent upsert by construction
    * (the manifest is the atomic commit point). */
  def profileRead(spark: SparkSession, tableDir: String): DataFrame =
    readBuckets(spark, tableDir,
      latestManifest(spark, tableDir).getOrElse(throw new IllegalStateException(
        s"profileRead: no committed profile snapshot at $tableDir"))._3)

  /** Drop everything the RETAINED manifests no longer reference:
    * version dirs AT-OR-BELOW the latest version that own no live
    * bucket of any retained manifest, non-retained superseded
    * manifests, and orphaned CLAIM residue of versions at-or-below the
    * latest. `keepVersions = N` retains the newest N manifests and
    * every version dir their bucket maps point at — the reader-horizon
    * knob, [[IndexStore.vacuum]]'s exactly: a [[profileRead]] that
    * resolved its snapshot up to N−1 upserts ago still reads
    * consistently after the vacuum; an older reader fails loudly at
    * read time (missing version dir). The default 1 matches readers
    * that resolve-then-read promptly (a reader is only exposed
    * mid-query). Versions ABOVE the latest manifest are an in-flight
    * (or crashed) writer's territory — its CLAIM file AND its data dir
    * are both left untouched, so a vacuum racing an upsert can never
    * delete parquet parts out from under a writer that goes on to
    * publish. (Crashed-writer residue above the latest is reclaimed on
    * a later vacuum, once a successful upsert has moved the latest
    * version past it.) Returns the paths it deleted. */
  def profileVacuum(spark: SparkSession, tableDir: String,
      keepVersions: Int = 1): Seq[String] = {
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    val (latest, _, _) = latestManifest(spark, tableDir)
      .getOrElse(return Nil)
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(manifestDir(tableDir))
    val kept = fs.listStatus(mdir).map(_.getPath)
      .filter(_.getName.matches("v\\d{5,}\\.manifest"))
      .sortBy(p => -versionOf(p.getName)).take(keepVersions)
    val keptVers = kept.map(p => versionOf(p.getName)).toSet
    val live = kept.flatMap(p => parseManifest(fs, p)._3.values).toSet
    val gone = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(new org.apache.hadoop.fs.Path(tableDir)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.matches("v\\d{5,}") && !live(n) &&
          versionOf(n) <= latest) {
        fs.delete(st.getPath, true); gone += n
      }
    }
    fs.listStatus(new org.apache.hadoop.fs.Path(manifestDir(tableDir)))
      .foreach { st =>
        val n = st.getPath.getName
        val stale =
          (n.endsWith(".manifest") && versionOf(n) < latest &&
            !keptVers(versionOf(n))) ||
            (n.endsWith(".CLAIM") && versionOf(n) <= latest)
        if (stale) { fs.delete(st.getPath, false); gone += n }
      }
    gone.toSeq
  }

  /** The store's key → bucket hash, shared by BOTH mutations: the
    * bucket layout is the correctness-critical invariant (a mismatched
    * hash would make deletes miss rows the upserts placed), so exactly
    * one definition exists. */
  private def profileBucket(c: Column, nBuckets: Int): Column =
    pmod(xxhash64(c), lit(nBuckets)).cast("int")

  private def manifestDir(tableDir: String): String = s"$tableDir/_manifests"

  private def versionOf(name: String): Int =
    name.stripPrefix("v").takeWhile(_.isDigit).toInt

  /** Latest committed manifest as (version, recorded nBuckets — None on
    * pre-layout-stamp manifests — and bucket → version-dir). */
  private def latestManifest(spark: SparkSession, tableDir: String)
      : Option[(Int, Option[Int], Map[Int, String])] = {
    val dir = new org.apache.hadoop.fs.Path(manifestDir(tableDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val manifests = fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.matches("v\\d{5,}\\.manifest"))
    if (manifests.isEmpty) return None
    Some(parseManifest(fs, manifests.maxBy(p => versionOf(p.getName))))
  }

  /** One manifest file parsed to (version, recorded nBuckets, bucket →
    * version-dir). */
  private def parseManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): (Int, Option[Int], Map[Int, String]) = {
    val in = fs.open(path)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val head = lines.head.split(" ")
    val ver = head(1).toInt
    val nb = if (head.length >= 4 && head(2) == "nbuckets")
      Some(head(3).toInt) else None
    val buckets = lines.tail.map { l =>
      val Array(b, v) = l.split(" ", 2)
      b.toInt -> v
    }.toMap
    (ver, nb, buckets)
  }

  /** Union of per-version bucket reads for one manifest bucket map. An
    * EMPTY map (a [[profileDelete]] erased every profile) fails loudly:
    * with no live version dir there is no schema to produce an empty
    * frame from — drop the table dir, or upsert to restart the chain
    * (the next upsert writes fresh buckets as day 0). Every map passed
    * here comes from a published manifest, so each version dir's schema
    * resolves once per session ([[IndexStore.readSegment]]'s memo and
    * contract — a dropped table dir restarted within one session
    * reuses version numbers, which that contract excludes). */
  private def readBuckets(spark: SparkSession, tableDir: String,
      buckets: Map[Int, String]): DataFrame = {
    if (buckets.isEmpty) throw new IllegalStateException(
      s"profile table $tableDir holds no live buckets (every profile " +
        "was deleted) — drop the table directory, or upsert to restart")
    buckets.groupBy(_._2).toSeq.sortBy(_._1).map { case (vdir, bs) =>
      IndexStore.readSegment(spark, tableDir, vdir, "")
        .filter(col("bucket").isin(bs.keys.toSeq: _*))
    }.reduce(_.unionByName(_))
  }
}

/** A [[PortraitOps.profileUpsert]] lost the exclusive version claim: a
  * concurrent writer is in flight (or a crashed one left CLAIM residue).
  * The losing upsert has done no work and written no data — rerun it
  * after the winner commits. */
final class ConcurrentProfileWriteException(msg: String)
  extends IllegalStateException(msg)
