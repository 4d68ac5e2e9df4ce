package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types._

/** Structured Streaming over the events stream (TESTDATA events shape).
  *
  * The reference has no streaming at all (SURVEY.md §2.8) — its closest
  * analogue is the manual per-date batch ingest. This module is the
  * Spark-first extension: the same transforms run as `readStream` →
  * watermarked aggregation → `writeStream`, and `Trigger.AvailableNow`
  * degrades gracefully to the reference's batch-ingest semantics
  * (process everything that has landed, then stop).
  *
  * Scale notes: windowed aggregates are partial-aggregated before the
  * shuffle on (window, key); state store size is bounded by the
  * watermark horizon; sessionization uses the built-in session_window
  * where the gap rule fits, and mapGroupsWithState only for genuinely
  * custom state (running per-user totals) — state is per-key and
  * partitioned, so a 1000-executor cluster shards it linearly.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** File-source stream over a directory of event parquet files. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", "8")
      .parquet(path)

  /** Watermarked tumbling-window aggregate per event_type: counts and
    * exact decimal sums (same decimal discipline as the batch catalog).
    */
  def windowedCounts(events: DataFrame,
      windowLen: String = "1 hour", watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** Gap-based sessionization via the built-in session_window. */
  def sessions(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("session_value"))
      .select(col("sw.start").as("s_start"), col("sw.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exact dedup: drop events whose key was already seen
    * within the watermark horizon — the streaming form of the batch
    * hash-groupBy dedup (state store holds one entry per key, expired
    * by the watermark, so state is bounded at any corpus rate).
    */
  def deduplicated(events: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click paired with every view by
    * the same user in the preceding hour. The watermark on BOTH sides
    * plus the time-range predicate is what bounds the join state: the
    * engine can drop buffered views once the click-side watermark has
    * passed v_ts + 1h, so state holds one hour of views per user
    * however long the streams run — the unbounded-state trap of an
    * unconstrained stream-stream join is exactly what the interval
    * condition exists to prevent. Works identically on a batch frame
    * (same code path, no watermark needed) — StreamingSpec pins
    * stream == batch.
    */
  def clicksWithPriorView(events: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermarkDelay)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermarkDelay)
    clicks.join(views, expr(
      "c_user = v_user AND v_ts <= c_ts AND v_ts >= c_ts - INTERVAL 1 HOUR"))
      .select(col("click_id"), col("c_user").as("user_id"), col("c_ts"),
        col("view_id"), col("v_ts"))
  }

  /** Exactly-once streaming ingest into a Warehouse table: foreachBatch
    * + keyed upsert. The standard Spark recipe — the checkpoint makes
    * redelivery AT-LEAST-once with a stable batchId, and the keyed
    * upsert makes re-applying a batch a no-op (same keys → same merged
    * rows), so the composition is exactly-once in effect. Each
    * micro-batch commit is one snapshot-pointer flip (object-store
    * safe), and a crashed batch re-runs against the last committed
    * snapshot.
    *
    * `partitionCols` scope each micro-batch's merge to the partitions
    * it touches (the S8 partition-scoped upsert) — at a real event rate
    * a batch lands in one or two time partitions, so the merge cost
    * tracks batch size, not table size.
    */
  /** Adaptive time-partition grain for a streaming sink, chosen from
    * the FIRST batch's observed shape and STICKY thereafter (persisted
    * as a table prop — a hive layout must never mix day and month
    * values in one partition column, and a key whose partition value
    * changed between batches would dodge the scoped merge and
    * duplicate). The cost driver is DIRECTORIES TOUCHED PER BATCH:
    * each day-dir a batch spans costs a publish directory and a
    * scoped-merge partition, so day-graining is safe exactly when
    * batches are time-LOCAL — a live stream's head spans 1-2 days
    * however dense it is, while a backfill (AvailableNow over
    * history) spans its whole range and must coarsen to month. The
    * round-10/11 measurements picked the bound: the 30-day bench
    * corpus at day grain tripled the streaming queries on small-file
    * write amplification (30 dirs × every batch), so day is chosen
    * only when the first batch spans ≤ `maxDirsPerBatch` (default 8 —
    * comfortably above a live head, far below any backfill) AND fills
    * its dirs (`minRowsPerDir`); anything wider or sparser partitions
    * by month.
    */
  /** Shared day-grain qualification thresholds — the first-batch
    * decision and the re-grain observation must agree on what "a
    * day-grainable batch" means.
    */
  val DefaultMinRowsPerDir: Long = 100
  val DefaultMaxDirsPerBatch: Long = 8

  def timeGrain(wh: graft.sources.Warehouse, table: String, batch: DataFrame,
      timeCol: String, minRowsPerDir: Long = DefaultMinRowsPerDir,
      maxDirsPerBatch: Long = DefaultMaxDirsPerBatch): String = {
    val key = s"grain_$timeCol"
    wh.tableProp(table, key).getOrElse {
      val a = batch.agg(count(lit(1)),
        countDistinct(to_date(col(timeCol)))).head
      val rows = a.getLong(0)
      val days = math.max(1L, a.getLong(1))
      val g = if (days <= maxDirsPerBatch && rows / days >= minRowsPerDir)
        "day" else "month"
      wh.setTableProp(table, key, g)
      g
    }
  }

  /** `batch` + its grain-formatted partition column; returns the
    * augmented frame and the partition column's name.
    */
  def withTimePartition(wh: graft.sources.Warehouse, table: String,
      batch: DataFrame, timeCol: String): (DataFrame, String) = {
    val fmt = if (timeGrain(wh, table, batch, timeCol) == "day") "yyyy-MM-dd"
      else "yyyy-MM"
    val c = s"p_$timeCol"
    (batch.withColumn(c, date_format(col(timeCol), fmt)), c)
  }

  /** Maintain-time RE-GRAIN for an adaptive sink — closes the
    * "first-batch-sticky forever" gap in BOTH directions: a table
    * bootstrapped by a month-wide backfill then served by a live
    * stream stayed month-grained for life (giving up day-grain
    * pruning), and one bootstrapped by a live stream then fed wide
    * backfills stayed day-grained (paying the 30-dirs-per-batch write
    * amplification the grain valve exists to avoid). Decision
    * evidence is the qualification STREAK pair `upsertByTime`
    * maintains: each month-grain batch records whether it would have
    * qualified for day grain (`grain_obs_<timeCol>`), each day-grain
    * batch whether it would NOT have (`grain_coarse_obs_<timeCol>`) —
    * measured by the very aggregation whose result the scoped upsert
    * needs anyway (the touched-partitions probe — net zero extra
    * jobs on the hot path). Once `lastK` consecutive month-grain
    * batches qualified (or `2×lastK` day-grain batches did not — the
    * hysteresis), maintenance rewrites the table at the other grain —
    * a full rewrite is exactly a compaction publish, the same job
    * class `maintain` already is — and flips the sticky prop.
    *
    * Concurrency: the rewrite is a captured-base publish, so a
    * micro-batch landing inside the read→publish window makes the CAS
    * abort loudly and the re-grain simply retries at the next
    * maintenance window (returns false); a micro-batch that read the
    * OLD grain prop and lost the race re-enters `upsertByTime` via the
    * sink's retry loop and re-reads the flipped prop. A crash between
    * publish and prop flip leaves prop=month over a day-grained table;
    * this method repairs that at entry (the TABLE's layout is truth),
    * so re-running maintenance converges.
    */
  def maintainGrain(wh: graft.sources.Warehouse, table: String,
      timeCol: String, lastK: Int = 4): Boolean = {
    val key = s"grain_$timeCol"
    val obsKey = s"grain_obs_$timeCol"
    val coarseKey = s"grain_coarse_obs_$timeCol"
    val pc = s"p_$timeCol"
    val prop = wh.tableProp(table, key).getOrElse(return false)
    if (prop != "month" && prop != "day") return false
    val base = wh.currentSnapshotId(table)
    val cur = wh.read(table)
    if (!cur.columns.contains(pc) || !cur.columns.contains(timeCol))
      return false
    // crash repair, answered from MANIFEST partition values (a prior
    // re-grain published its rewrite but died before the prop flip —
    // the TABLE's layout is truth): day values are length 10, month
    // length 7; other segments (the hive null dir for null-timestamp
    // rows) say nothing about grain and are ignored. No data file is
    // opened for this metadata question — the old one-arbitrary-row
    // length() probe both read data and NPE'd on a null row.
    val lens = wh.snapshotPartitionValues(table, pc)
      .map(_.length).filter(l => l == 7 || l == 10).distinct
    val layout = lens match {
      case Seq(10) => Some("day")
      case Seq(7)  => Some("month")
      case _       => None // empty or mixed mid-crash debris: leave as-is
    }
    if (layout.exists(_ != prop)) {
      wh.setTableProp(table, key, layout.get)
      return true
    }
    def streak(k: String): Long =
      wh.tableProp(table, k).flatMap(_.toLongOption).getOrElse(0L)
    def rewrite(fmt: String, to: String): Boolean =
      try {
        val re = cur.drop(pc)
          .withColumn(pc, date_format(col(timeCol), fmt))
        // data-neutral: same rows, re-derived partition grain — label
        // it "optimize" so the change feed skips the rewrite churn.
        // CONTRACT NOTE (documented on Warehouse.changes /
        // readChangesStream): the p_<timeCol> value every row flips
        // here (yyyy-MM ↔ yyyy-MM-dd) is LAYOUT metadata under the
        // hidden-partitioning stance, not data — a CDC consumer must
        // re-derive its own grain from timeCol, never materialize p_*
        wh.atomicPublish(table, re, Seq(pc), expectedBase = Some(base),
          op = "optimize")
        wh.setTableProp(table, key, to)
        wh.setTableProp(table, obsKey, "0")
        wh.setTableProp(table, coarseKey, "0")
        true
      } catch {
        case _: java.util.ConcurrentModificationException => false
      }
    if (prop == "month") {
      if (streak(obsKey) < lastK) false
      else rewrite("yyyy-MM-dd", "day")
    } else {
      // day → month COARSEN (closes the reverse gap: a table
      // bootstrapped by a live stream that later serves wide
      // backfills paid day-grain write amplification forever), with
      // HYSTERESIS: coarsening demands a 2×-longer streak than
      // refining did, so an alternating live/backfill workload
      // settles at whichever grain it last earned instead of
      // thrashing full rewrites every swing.
      if (streak(coarseKey) < 2L * lastK) false
      else rewrite("yyyy-MM", "month")
    }
  }

  /** The foreachBatch body for an adaptive-grain sink: partition the
    * batch at the table's time grain and scoped-upsert it. The grain
    * probe is ONE extra aggregation over the first-ever batch of the
    * table (every later batch reads the persisted prop) — measured
    * cheaper than persisting the deciding batch around the probe
    * (caching a stream-stream join's first output cost m33 ~0.4 s
    * more than just recomputing it once).
    */
  def upsertByTime(wh: graft.sources.Warehouse, table: String,
      batch0: DataFrame, timeCol: String, keyCols: Seq[String]): Unit = {
    val key = s"grain_$timeCol"
    val obsKey = s"grain_obs_$timeCol"
    val coarseKey = s"grain_coarse_obs_$timeCol"
    val c = s"p_$timeCol"
    // Captured-base CAS expectation, taken BEFORE the grain-prop read:
    // a maintenance re-grain that publishes its rewrite AND flips the
    // prop entirely inside the prop-read → upsert-resolve window would
    // otherwise race this batch with NO CAS conflict (the upsert would
    // resolve the regrained snapshot and commit month values into the
    // day layout). Ordered this way, the re-grain either lands before
    // the capture (we read the flipped prop) or after it (the upsert
    // aborts loudly on the stale base and the sink's retry loop
    // re-enters here, re-reading the flipped prop).
    val expectedBase: Option[Option[String]] =
      if (wh.exists(table)) Some(wh.currentSnapshotId(table))
      else None
    // PERSIST the micro-batch (Spark's documented foreachBatch rule for
    // multi-action bodies): a batch DataFrame re-executes its whole
    // lineage per action, and for a stream-stream join sink that is
    // the join itself — the round-11 m33 cost trend decomposed (by
    // per-phase timing) into exactly those re-executions: ~1.4 s
    // first-batch grain probe + ~1.0 s per-batch partition probe, with
    // the suspected commit machinery at single-digit MILLISECONDS.
    // With the cache, the lineage runs once; probe and merge read it.
    val batch = batch0.persist()
    try {
      // ONE probe per batch, grouped at DAY grain — it feeds all three
      // consumers at once: the first-batch grain decision (day count +
      // density), the month-grain re-grain observation streak, and the
      // scoped upsert's touched-partition hint (day values roll up to
      // months exactly, so either grain's partition set derives from
      // the same rows).
      val dayProbe = batch.groupBy(date_format(col(timeCol), "yyyy-MM-dd").as("_day"))
        .agg(count(lit(1)).as("_n")).limit(10001).collect()
      val bounded = dayProbe.length <= 10000
      // null-guard (advisor find): a null timeCol row forms a null
      // _day group. It still counts as a touched DIRECTORY (the hive
      // null partition) for the density math, but its value cannot
      // feed the prune hint — the old unconditional getString NPE'd
      // here, and the sink's retry re-failed identically, wedging the
      // stream on a single bad row.
      val hasNullDay = dayProbe.exists(_.isNullAt(0))
      val rows = dayProbe.map(_.getLong(1)).sum
      val days = math.max(1L, dayProbe.length.toLong)
      val qualifies = bounded && days <= DefaultMaxDirsPerBatch &&
        rows / days >= DefaultMinRowsPerDir
      val grain = wh.tableProp(table, key).getOrElse {
        val g = if (qualifies) "day" else "month"
        wh.setTableProp(table, key, g)
        g
      }
      val b = batch.withColumn(c,
        date_format(col(timeCol), if (grain == "day") "yyyy-MM-dd" else "yyyy-MM"))
      val hint: Option[Seq[Any]] =
        if (!bounded || hasNullDay) None
        else if (grain == "day") Some(dayProbe.map(_.getString(0)).toSeq)
        else Some(dayProbe.map(_.getString(0).take(7)).distinct.toSeq)
      wh.upsert(table, b, keyCols, Seq(c), touchedValsHint = hint,
        expectedBase = expectedBase)
      // re-grain observation streaks, BOTH directions (see
      // maintainGrain): month-grain batches record would-qualify-for-
      // day, day-grain batches record would-NOT-qualify. Updated only
      // after the upsert commits, so a retried batch counts once;
      // steady-state batches with streak 0 write nothing — a prop
      // only moves on progress or a reset.
      val (sKey, progress) =
        if (grain == "month") (obsKey, qualifies) else (coarseKey, !qualifies)
      val prev = wh.tableProp(table, sKey).flatMap(_.toLongOption).getOrElse(0L)
      if (progress) wh.setTableProp(table, sKey, (prev + 1).toString)
      else if (prev != 0L) wh.setTableProp(table, sKey, "0")
    } finally {
      batch.unpersist()
      ()
    }
  }

  def sinkToWarehouse(df: DataFrame, wh: graft.sources.Warehouse, table: String,
      keyCols: Seq[String], checkpoint: String,
      partitionCols: Seq[String] = Nil,
      commitRetries: Int = 2,
      timeCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        // timeCol mode: partition by the ADAPTIVE day/month grain of
        // the event-time column (see timeGrain) instead of a
        // caller-precomputed constant
        // A concurrent publisher (e.g. a maintenance compact) racing
        // this micro-batch makes the upsert's commit CAS abort loudly;
        // the upsert is key-idempotent and re-resolves the fresh
        // snapshot on entry, so a bounded retry is safe and keeps the
        // stream alive through routine maintenance. Past the budget
        // the loss propagates: the query fails, the batch stays
        // uncommitted in the checkpoint, and a restart re-delivers it.
        var attempt = 0
        var done = false
        while (!done) {
          try {
            timeCol match {
              case Some(tc) => upsertByTime(wh, table, batch0, tc, keyCols)
              case None => wh.upsert(table, batch0, keyCols, partitionCols)
            }
            done = true
          }
          catch {
            case e: java.util.ConcurrentModificationException =>
              if (attempt >= commitRetries) throw e
              attempt += 1
          }
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  case class UserState(nEvents: Long, total: Double)
  case class UserTotal(user_id: Long, n_events: Long, total: Double)

  /** Custom keyed state: running per-user event counts/totals via
    * mapGroupsWithState — the pattern for state no built-in aggregate
    * expresses (here deliberately simple and deterministic).
    *
    * State is BOUNDED: each update arms a processing-time timeout
    * (`stateTtl`); a user idle past the TTL emits one final flush row
    * and its state is removed — without this, per-user state grows
    * with the all-time user count at a real event rate. A returning
    * user restarts from zero (the flush row is the handoff point).
    */
  def runningUserTotals(events: Dataset[Event],
      stateTtl: String = "30 minutes"): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserTotal](GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val last = state.getOption.getOrElse(UserState(0L, 0.0))
            state.remove()
            UserTotal(userId, last.nEvents, last.total)
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0.0))
            // deterministic accumulation: order within a batch does not
            // matter for count, and totals are summed in event_id order
            val evs = batch.toSeq.sortBy(_.event_id)
            val next = UserState(prev.nEvents + evs.size,
              prev.total + evs.map(_.value).sum)
            state.update(next)
            state.setTimeoutDuration(stateTtl)
            UserTotal(userId, next.nEvents, next.total)
          }
      }
  }
}
