package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStream

/** Stream/batch equivalence on the sf0.001 events table: the streaming
  * windowed aggregate with Trigger.AvailableNow must produce exactly
  * the batch groupBy result (complete output mode, all data on time).
  */
class StreamingSpec extends SparkSpec {

  private lazy val eventsDir: String = {
    // materialize events (nanos→micros fixed by Tables.load) as a
    // multi-file parquet dir so the file source has several triggers
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed counts: streaming AvailableNow == batch groupBy") {
    val stream = EventStream.read(spark, eventsDir)
    val q = EventStream.windowedCounts(stream)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("win_counts")
      .orderBy("w_start", "event_type").collect()
    val batch = EventStream.windowedCounts(
        spark.read.schema(EventStream.eventSchema).parquet(eventsDir))
      .orderBy("w_start", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("sessionization: session_window stream matches batch") {
    val stream = EventStream.read(spark, eventsDir)
    val q = EventStream.sessions(stream)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("sessions")
      .orderBy("user_id", "s_start").collect()
    val batch = EventStream.sessions(
        spark.read.schema(EventStream.eventSchema).parquet(eventsDir))
      .orderBy("user_id", "s_start").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    // duplicate the event stream on disk: same event_ids twice
    val dupDir = java.nio.file.Files.createTempDirectory("graft-dup-events").toString
    val base = spark.read.schema(EventStream.eventSchema).parquet(eventsDir)
    base.coalesce(1).write.mode("overwrite").parquet(dupDir)
    base.coalesce(1).write.mode("append").parquet(dupDir)

    val q = EventStream.deduplicated(EventStream.read(spark, dupDir))
      .groupBy().count()
      .writeStream.format("memory").queryName("dedup_count")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.table("dedup_count").collect().head.getLong(0)
    assert(n === base.count())
  }

  test("mapGroupsWithState running totals converge to batch totals") {
    import spark.implicits._
    val stream = EventStream.read(spark, eventsDir).as[EventStream.Event]
    val q = EventStream.runningUserTotals(stream)
      .writeStream.format("memory").queryName("user_totals")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // last update per user == batch aggregate
    val streamed = spark.table("user_totals")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.total"))
      .as[(Long, Long, Double)].collect().map { case (u, n, t) => u -> (n, t) }.toMap
    val batch = spark.read.schema(EventStream.eventSchema).parquet(eventsDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("t"))
      .as[(Long, Long, Double)].collect().map { case (u, n, t) => (u, (n, t)) }.toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (u, (n, t)) =>
      assert(n === batch(u)._1, s"count mismatch user $u")
      assert(math.abs(t - batch(u)._2) < 1e-6, s"total mismatch user $u")
    }
  }

  test("stream-stream interval join (clicks x prior views) matches batch") {
    val stream = EventStream.read(spark, eventsDir)
    val q = EventStream.clicksWithPriorView(stream)
      .writeStream.format("memory").queryName("click_views")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("click_views")
      .orderBy("click_id", "view_id").collect()
    val batch = EventStream.clicksWithPriorView(
        spark.read.schema(EventStream.eventSchema).parquet(eventsDir))
      .orderBy("click_id", "view_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streaming sink into the manifest warehouse is exactly-once in effect") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-wh").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val ckpt = s"$tmp/ckpt"
    def runOnce(): Unit = {
      val q = EventStream.sinkToWarehouse(
        EventStream.read(spark, eventsDir), wh, "events", Seq("event_id"), ckpt)
      q.awaitTermination(120000)
    }
    runOnce()
    val expected = spark.read.schema(EventStream.eventSchema).parquet(eventsDir)
      .select($"event_id").distinct().count()
    assert(wh.read("events").count() === expected)
    // a second run over the same checkpoint re-delivers nothing new and
    // the keyed upsert keeps the table identical — exactly-once in
    // effect even if a batch WERE re-run
    runOnce()
    assert(wh.read("events").count() === expected)
    assert(wh.read("events").select($"event_id").distinct().count() === expected)
  }

  test("partition-scoped streaming sink: a micro-batch merge reads only the partitions it touches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-scope").toString
    val src = s"$tmp/src"
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val all = spark.read.schema(EventStream.eventSchema).parquet(eventsDir)
      .withColumn("e_date", date_format($"ts", "yyyy-MM-dd"))
    val dates = all.select($"e_date").distinct().as[String].collect().sorted
    assert(dates.length >= 2, s"need ≥2 event dates, saw ${dates.toSeq}")
    val (oldDate, newDate) = (dates.head, dates.last)

    def withDate(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("e_date", date_format($"ts", "yyyy-MM-dd"))

    // wave 1: both dates land (the sink table's history)
    all.filter($"e_date".isin(oldDate, newDate)).drop("e_date")
      .write.mode("overwrite").parquet(src)
    EventStream.sinkToWarehouse(withDate(EventStream.read(spark, src)), wh, "ev",
        Seq("event_id"), s"$tmp/ckpt1", partitionCols = Seq("e_date"))
      .awaitTermination(120000)
    val before = wh.read("ev").groupBy($"e_date").count()
      .as[(String, Long)].collect().toMap

    // corrupt the OLD date's data PAGES (head bytes), keeping footers
    // valid so schema inference still works: if the next micro-batch's
    // merge DECODES anything outside the partitions it touches, the
    // scan fails on the garbage pages — success IS the proof of scoping
    var corrupted = 0
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/wh/ev"))
      .filter(p => p.toString.contains(s"e_date=$oldDate") &&
        p.toString.endsWith(".parquet"))
      .forEach { p =>
        val bytes = java.nio.file.Files.readAllBytes(p)
        java.util.Arrays.fill(bytes, 0, math.min(100, bytes.length / 2), 0xFF.toByte)
        java.nio.file.Files.write(p, bytes)
        corrupted += 1
      }
    assert(corrupted > 0, "no old-partition files found to corrupt")

    // wave 2: a batch touching ONLY the new date merges clean
    val wave2 = all.filter($"e_date" === newDate)
      .withColumn("value", $"value" + 1.0).drop("e_date")
    wave2.write.mode("overwrite").parquet(s"$tmp/src2")
    EventStream.sinkToWarehouse(withDate(EventStream.read(spark, s"$tmp/src2")),
        wh, "ev", Seq("event_id"), s"$tmp/ckpt2", partitionCols = Seq("e_date"))
      .awaitTermination(120000)
    val after = wh.read("ev").filter($"e_date" === newDate)
      .groupBy($"e_date").count().as[(String, Long)].collect().toMap
    assert(after(newDate) === before(newDate), "scoped merge lost rows")

    // control: the corruption was real — decoding the old partition
    // must fail (otherwise wave 2's success proved nothing)
    intercept[org.apache.spark.SparkException] {
      wh.read("ev").filter($"e_date" === oldDate).select(sum($"value")).collect()
    }
  }

  test("adaptive sink grain: dense head picks day, sparse wide stream picks month — sticky, scoped") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-grain").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    def events(n: Int, days: Int, idOffset: Long) =
      spark.range(0, n).select(
        ($"id" + idOffset).as("event_id"),
        ($"id" % 50).as("user_id"),
        lit("view").as("event_type"),
        (to_timestamp(lit("2024-03-01 00:00:00")).cast("long")
          + ($"id" % (days * 24)) * 3600L).cast("timestamp").as("ts"),
        lit(1.0).as("value"))

    // DENSE HEAD: 4000 rows across 2 days → ≥100 rows per day dir and
    // ≤31 dirs per batch → day grain
    events(4000, 2, 0).write.mode("overwrite").parquet(s"$tmp/dense")
    EventStream.sinkToWarehouse(EventStream.read(spark, s"$tmp/dense"),
        wh, "dense", Seq("event_id"), s"$tmp/ck1", timeCol = Some("ts"))
      .awaitTermination(120000)
    assert(wh.tableProp("dense", "grain_ts") === Some("day"))
    assert(wh.read("dense").select($"p_ts").distinct().as[String].collect()
      .forall(_.matches("\\d{4}-\\d{2}-\\d{2}")), "day grain partitions")
    assert(wh.read("dense").count() === 4000)

    // SPARSE/WIDE: 500 rows across ~90 days → too many near-empty day
    // dirs per batch → month grain
    events(500, 90, 100000).write.mode("overwrite").parquet(s"$tmp/sparse")
    EventStream.sinkToWarehouse(EventStream.read(spark, s"$tmp/sparse"),
        wh, "sparse", Seq("event_id"), s"$tmp/ck2", timeCol = Some("ts"))
      .awaitTermination(120000)
    assert(wh.tableProp("sparse", "grain_ts") === Some("month"))
    assert(wh.read("sparse").select($"p_ts").distinct().as[String].collect()
      .forall(_.matches("\\d{4}-\\d{2}")), "month grain partitions")
    assert(wh.read("sparse").count() === 500)

    // STICKY: a later sparse-looking batch into the dense table keeps
    // the day grain (mixing grains in one hive column would let moved
    // keys dodge the scoped merge) — and the scoped-merge property
    // itself still holds at the chosen grain
    events(20, 60, 200000).write.mode("overwrite").parquet(s"$tmp/dense2")
    EventStream.sinkToWarehouse(EventStream.read(spark, s"$tmp/dense2"),
        wh, "dense", Seq("event_id"), s"$tmp/ck3", timeCol = Some("ts"))
      .awaitTermination(120000)
    assert(wh.tableProp("dense", "grain_ts") === Some("day"), "grain must stay sticky")
    assert(wh.read("dense").count() === 4020)
    assert(wh.read("dense").select($"p_ts").distinct().as[String].collect()
      .forall(_.matches("\\d{4}-\\d{2}-\\d{2}")), "no mixed grains in the layout")
  }

  test("re-grain: backfill-then-live table converges to day grain at maintenance, scoped merge preserved") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-regrain").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    def events(n: Int, day0: Int, days: Int, idOffset: Long) =
      spark.range(0, n).select(
        ($"id" + idOffset).as("event_id"),
        ($"id" % 50).as("user_id"),
        lit("view").as("event_type"),
        (to_timestamp(lit("2024-03-01 00:00:00")).cast("long")
          + day0 * 86400L + ($"id" % (days * 24)) * 3600L)
          .cast("timestamp").as("ts"),
        lit(1.0).as("value"))

    // BACKFILL bootstrap: 500 rows across ~90 days → month grain
    EventStream.upsertByTime(wh, "t", events(500, 0, 90, 0), "ts", Seq("event_id"))
    assert(wh.tableProp("t", "grain_ts") === Some("month"))

    // insufficient evidence: after only 2 live batches the re-grain
    // must NOT fire (lastK = 4 needs 4 day-local batches)
    EventStream.upsertByTime(wh, "t", events(300, 90, 1, 10000), "ts", Seq("event_id"))
    EventStream.upsertByTime(wh, "t", events(300, 91, 1, 20000), "ts", Seq("event_id"))
    assert(!EventStream.maintainGrain(wh, "t", "ts"),
      "two live batches are not enough evidence against a backfill bootstrap")
    assert(wh.tableProp("t", "grain_ts") === Some("month"))

    // LIVE phase: two more dense 1-day batches → the last 4 committed
    // versions are all day-local → maintenance re-grains to day
    EventStream.upsertByTime(wh, "t", events(300, 92, 1, 30000), "ts", Seq("event_id"))
    EventStream.upsertByTime(wh, "t", events(300, 93, 1, 40000), "ts", Seq("event_id"))
    assert(EventStream.maintainGrain(wh, "t", "ts"), "drifted table must re-grain")
    assert(wh.tableProp("t", "grain_ts") === Some("day"))
    assert(wh.read("t").count() === 500 + 4 * 300)
    assert(wh.read("t").select($"p_ts").distinct().as[String].collect()
      .forall(_.matches("\\d{4}-\\d{2}-\\d{2}")),
      "the rewrite must leave a single day-grained layout")

    // scoped-merge property survives the re-grain: an overlapping live
    // batch updates in place (no duplicates), new keys insert
    EventStream.upsertByTime(wh, "t",
      events(300, 93, 1, 40000).withColumn("value", lit(2.0)), "ts", Seq("event_id"))
    assert(wh.read("t").count() === 500 + 4 * 300, "upsert must not duplicate")
    assert(wh.read("t").filter($"event_id" >= 40000 && $"event_id" < 40300)
      .agg(min($"value")).head.getDouble(0) === 2.0, "update applied")
    // idempotent: a second maintenance pass is a no-op
    assert(!EventStream.maintainGrain(wh, "t", "ts"))

    // a table at day grain with no coarsen evidence never re-grains
    EventStream.upsertByTime(wh, "d", events(4000, 0, 2, 0), "ts", Seq("event_id"))
    assert(wh.tableProp("d", "grain_ts") === Some("day"))
    assert(!EventStream.maintainGrain(wh, "d", "ts"))
  }

  test("coarsen: live-then-backfill table converges to month grain, with hysteresis") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-coarsen").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    def events(n: Int, day0: Int, days: Int, idOffset: Long) =
      spark.range(0, n).select(
        ($"id" + idOffset).as("event_id"),
        (to_timestamp(lit("2024-03-01 00:00:00")).cast("long")
          + day0 * 86400L + ($"id" % (days * 24)) * 3600L)
          .cast("timestamp").as("ts"),
        lit(1.0).as("value"))

    // LIVE bootstrap: one dense day → day grain
    EventStream.upsertByTime(wh, "t", events(400, 0, 1, 0), "ts", Seq("event_id"))
    assert(wh.tableProp("t", "grain_ts") === Some("day"))

    // BACKFILL phase: wide sparse batches (90 days each — would never
    // qualify for day). Hysteresis: coarsening needs 2×lastK = 8
    // consecutive non-qualifying batches, so after 7 maintenance must
    // NOT rewrite...
    (1 to 7).foreach { i =>
      EventStream.upsertByTime(wh, "t",
        events(300, 1, 90, 10000L * i), "ts", Seq("event_id"))
    }
    assert(!EventStream.maintainGrain(wh, "t", "ts"),
      "7 wide batches are under the 2x-lastK hysteresis bar")
    assert(wh.tableProp("t", "grain_ts") === Some("day"))
    // ...and a single qualifying live batch RESETS the streak (the
    // alternating workload that must not thrash full rewrites)
    EventStream.upsertByTime(wh, "t", events(400, 0, 1, 90000), "ts", Seq("event_id"))
    (1 to 7).foreach { i =>
      EventStream.upsertByTime(wh, "t",
        events(300, 1, 90, 100000L + 10000L * i), "ts", Seq("event_id"))
    }
    assert(!EventStream.maintainGrain(wh, "t", "ts"),
      "the qualifying batch must have reset the coarsen streak")

    // one more wide batch completes a fresh streak of 8 → coarsen
    EventStream.upsertByTime(wh, "t", events(300, 1, 90, 200000), "ts", Seq("event_id"))
    assert(EventStream.maintainGrain(wh, "t", "ts"), "sustained backfill must coarsen")
    assert(wh.tableProp("t", "grain_ts") === Some("month"))
    assert(wh.read("t").select($"p_ts").distinct().as[String].collect()
      .forall(_.matches("\\d{4}-\\d{2}")),
      "the rewrite must leave a single month-grained layout")
    // nothing lost in the rewrite, scoped merges still work
    val n0 = wh.read("t").count()
    EventStream.upsertByTime(wh, "t",
      events(300, 1, 90, 200000).withColumn("value", lit(2.0)), "ts", Seq("event_id"))
    assert(wh.read("t").count() === n0, "post-coarsen upsert must not duplicate")
    // idempotent: a second maintenance pass is a no-op
    assert(!EventStream.maintainGrain(wh, "t", "ts"))
  }

  test("crash repair reads the manifest layout, both directions, null-partition tolerant") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-repair").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    def ev(n: Int, idOffset: Long) =
      spark.range(0, n).select(
        ($"id" + idOffset).as("event_id"),
        when($"id" % 97 === 0, lit(null).cast("timestamp"))
          .otherwise((to_timestamp(lit("2024-03-01 00:00:00")).cast("long")
            + ($"id" % 24) * 3600L).cast("timestamp")).as("ts"),
        lit(1.0).as("value"))
    // day-grained table (some null timestamps → hive null partition)
    EventStream.upsertByTime(wh, "t", ev(400, 0), "ts", Seq("event_id"))
    assert(wh.tableProp("t", "grain_ts") === Some("day"))
    // simulate "published the rewrite, died before the prop flip" in
    // the COARSEN direction: layout is day, prop says month — the
    // repair must trust the layout and flip the prop back, from the
    // manifest's partition values alone (the old data-row length()
    // probe would NPE on the null-partition row it might sample)
    wh.setTableProp("t", "grain_ts", "month")
    assert(EventStream.maintainGrain(wh, "t", "ts"), "repair must fire")
    assert(wh.tableProp("t", "grain_ts") === Some("day"))
    // and the refine direction: month layout under a day prop
    val re = wh.read("t").drop("p_ts")
      .withColumn("p_ts", date_format($"ts", "yyyy-MM"))
    wh.atomicPublish("t", re, Seq("p_ts"))
    wh.setTableProp("t", "grain_ts", "day")
    assert(EventStream.maintainGrain(wh, "t", "ts"), "repair must fire")
    assert(wh.tableProp("t", "grain_ts") === Some("month"))
  }

  test("null time column: the sink neither wedges nor loses null-partition rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nullts").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    def ev(ids: Seq[Long], nullIds: Set[Long]) =
      ids.map(i => (i, if (nullIds(i)) None else Some(
          new java.sql.Timestamp(1709251200000L + i * 3600000L)), 1.0))
        .toDF("event_id", "ts", "value")
    // month-grained bootstrap with TWO null-ts rows (advisor find: the
    // month-grain hint path NPE'd on the null probe group, and the
    // sink's retry re-failed identically — a wedged stream)
    EventStream.upsertByTime(wh, "t",
      ev(0L until 2000L, Set(7L, 13L)), "ts", Seq("event_id"))
    assert(wh.tableProp("t", "grain_ts") === Some("month"))
    assert(wh.read("t").count() === 2000)
    assert(wh.read("t").filter($"ts".isNull).count() === 2)
    // a later batch updates ONE of the null rows: the scoped merge
    // must keep the OTHER pre-existing null-partition row — the plain
    // equi-semi-join dropped all base null rows from the merge and the
    // partition swap then lost them (the round-13 null-safe <=> fix)
    EventStream.upsertByTime(wh, "t",
      ev(Seq(7L), Set(7L)).withColumn("value", lit(9.0)), "ts", Seq("event_id"))
    assert(wh.read("t").count() === 2000, "null-partition rows must survive the merge")
    assert(wh.read("t").filter($"ts".isNull).count() === 2)
    assert(wh.read("t").filter($"event_id" === 7L).head.getDouble(2) === 9.0)
    assert(wh.read("t").filter($"event_id" === 13L).head.getDouble(2) === 1.0)
    // day-grain table with nulls: same contract on the day hint path
    EventStream.upsertByTime(wh, "d",
      ev(0L until 200L, Set(5L)).withColumn("ts",
        when($"event_id" === 5L, lit(null).cast("timestamp"))
          .otherwise(to_timestamp(lit("2024-03-01 12:00:00")))),
      "ts", Seq("event_id"))
    assert(wh.tableProp("d", "grain_ts") === Some("day"))
    assert(wh.read("d").count() === 200)
    assert(wh.read("d").filter($"ts".isNull).count() === 1)
  }

  test("manifest commit CAS linearizes a compaction racing the streaming sink") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-race").toString
    val src = s"$tmp/src"
    val ckpt = s"$tmp/ckpt"
    val whSink = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val whMaint = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val all = spark.read.schema(EventStream.eventSchema).parquet(eventsDir)
    // commitRetries = 0: prove the LOUD-loss path (the default bounded
    // retry would absorb the race — covered by the next test)
    def runSink(): Unit =
      EventStream.sinkToWarehouse(
        EventStream.read(spark, src), whSink, "events", Seq("event_id"), ckpt,
        commitRetries = 0)
        .awaitTermination(120000)
    // wave 1 lands normally
    all.filter($"event_id" % 2 === 0).write.mode("overwrite").parquet(src)
    runSink()
    val wave1 = whSink.read("events").count()
    assert(wave1 > 0)
    // arm: a maintenance compaction commits INSIDE wave 2's upsert
    // commit window (after its manifest write, before the pointer CAS)
    // — the exact interleaving where a last-PUT-wins pointer would
    // silently drop either the compaction or the micro-batch
    var fired = false
    whSink.commitTestHook = _ => if (!fired) { fired = true; whMaint.compact("events") }
    all.filter($"event_id" % 2 === 1).write.mode("append").parquet(src)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] { runSink() }
    whSink.commitTestHook = _ => ()
    assert(e.getCause.toString.contains("ConcurrentModification") ||
      e.toString.contains("concurrent commit"),
      s"sink must lose the race LOUDLY, got: $e")
    // the losing micro-batch never committed: the compaction's snapshot
    // is intact and complete
    assert(whSink.read("events").count() === wave1)
    // restart over the same checkpoint: the failed batch re-delivers,
    // the keyed upsert applies it idempotently on top of the compacted
    // snapshot — exactly-once in effect across the injected compaction
    runSink()
    val expected = all.select($"event_id").distinct().count()
    assert(whSink.read("events").count() === expected)
    assert(whSink.read("events").select($"event_id").distinct().count() === expected)
  }

  test("sink's bounded retry absorbs a racing compaction without losing rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-retry").toString
    val src = s"$tmp/src"
    val whSink = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val whMaint = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val all = spark.read.schema(EventStream.eventSchema).parquet(eventsDir)
    all.filter($"event_id" % 2 === 0).write.mode("overwrite").parquet(src)
    EventStream.sinkToWarehouse(EventStream.read(spark, src), whSink, "events",
      Seq("event_id"), s"$tmp/ckpt").awaitTermination(120000)
    // same injected race as above, but the DEFAULT commitRetries=2
    // absorbs it: first attempt loses the CAS, the retry re-resolves
    // the compacted snapshot and lands — the stream stays alive
    var fired = false
    whSink.commitTestHook = _ => if (!fired) { fired = true; whMaint.compact("events") }
    all.filter($"event_id" % 2 === 1).write.mode("append").parquet(src)
    EventStream.sinkToWarehouse(EventStream.read(spark, src), whSink, "events",
      Seq("event_id"), s"$tmp/ckpt").awaitTermination(120000)
    whSink.commitTestHook = _ => ()
    assert(fired, "the compaction must actually have raced the commit")
    val expected = all.select($"event_id").distinct().count()
    assert(whSink.read("events").count() === expected)
    assert(whSink.read("events").select($"event_id").distinct().count() === expected)
  }

  test("mapGroupsWithState: idle user state times out and is removed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, user: Long): EventStream.Event =
      EventStream.Event(id, new java.sql.Timestamp(1700000000000L + id), user, "view", 1.0, "{}")

    val input = MemoryStream[EventStream.Event]
    val q = EventStream.runningUserTotals(input.toDS(), stateTtl = "500 milliseconds")
      .writeStream.format("memory").queryName("ttl_totals")
      .outputMode("update").start()
    // with processing-time timeouts the engine self-triggers to fire
    // expirations, so processAllAvailable can livelock — poll the sink
    def rows(): Seq[(Long, Long)] = spark.table("ttl_totals")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    def awaitSink(deadlineMs: Long)(pred: Seq[(Long, Long)] => Boolean): Boolean = {
      val end = System.currentTimeMillis() + deadlineMs
      while (System.currentTimeMillis() < end && !pred(rows())) Thread.sleep(200)
      pred(rows())
    }
    try {
      input.addData(ev(1, 7), ev(2, 7))
      assert(awaitSink(30000)(_.contains((7L, 2L))), s"no first update: ${rows()}")
      Thread.sleep(1500) // let user 7's processing-time TTL lapse
      input.addData(ev(3, 8)) // ensure a trigger fires timeout processing
      // timeout flush emits a SECOND (7, 2) row
      assert(awaitSink(30000)(_.count(_ == (7L, 2L)) >= 2),
        s"no timeout flush: ${rows()}")
      input.addData(ev(4, 7)) // user 7 returns AFTER expiry
      // post-expiry return starts from FRESH state: (7, 1), never (7, 3)
      assert(awaitSink(30000)(_.contains((7L, 1L))),
        s"state not removed on timeout: ${rows()}")
      assert(!rows().contains((7L, 3L)), s"state survived the timeout: ${rows()}")
    } finally q.stop()
  }

  test("dedup-gated streaming ingest: probe matches batch decision, index stays fresh, redelivery idempotent") {
    import spark.implicits._
    import graft.queries.Dedup
    import graft.streaming.StreamingDedup
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val corpus = d.filter($"doc_id" < 400)
    wh.atomicPublish("corpus", corpus)
    wh.atomicPublish("lsh_index", Dedup.buildLshIndex(corpus))
    // one file → one micro-batch, so the streamed decision is
    // comparable to the one-shot batch decision below
    val incoming = s"$tmp/incoming"
    val batch = d.filter($"doc_id" >= 400)
    batch.coalesce(1).write.parquet(incoming)
    val src = spark.readStream.schema(batch.schema).parquet(incoming)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    StreamingDedup.dedupIngest(src, wh, "corpus", "lsh_index", 0.5, s"$tmp/ckpt")
      .awaitTermination(120000)
    // the per-batch cache drain must leave no persisted intermediates
    // behind — a continuous stream would otherwise leak cache per batch
    val leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !cachedBefore(id) }
      .filter { case (_, rdd) => rdd.getStorageLevel.useMemory ||
        rdd.getStorageLevel.useDisk }
    assert(leaked.isEmpty, s"leaked cached RDDs: ${leaked.keySet}")
    val expected = StreamingDedup
      .acceptedOf(batch, Dedup.buildLshIndex(corpus), 0.5)
      .select($"doc_id").as[Long].collect().toSet
    val admitted = wh.read("corpus").select($"doc_id").as[Long].collect().toSet --
      corpus.select($"doc_id").as[Long].collect().toSet
    assert(admitted === expected, "streamed admit set must equal the batch decision")
    // near-dups of the seeded corpus must actually be rejected here —
    // an always-admit bug would still pass an equality check alone
    assert(admitted.size < batch.count(), "no batch doc was rejected; corpus has near-dups")
    // the index covers exactly the corpus: the next batch probes
    // admitted docs without any rescan
    assert(wh.read("lsh_index").count() === wh.read("corpus").count())
    // full redelivery (fresh checkpoint, same input): keyed upserts +
    // an id-only accept rule converge to the same tables
    StreamingDedup.dedupIngest(
      spark.readStream.schema(batch.schema).parquet(incoming),
      wh, "corpus", "lsh_index", 0.5, s"$tmp/ckpt2")
      .awaitTermination(120000)
    assert(wh.read("corpus").select($"doc_id").as[Long].collect().toSet
      === (admitted ++ corpus.select($"doc_id").as[Long].collect().toSet))
    assert(wh.read("lsh_index").count() === wh.read("corpus").count())
  }

  test("streaming dedup fuzz: random batch splits replay to the sequential fold") {
    import spark.implicits._
    import graft.queries.Dedup
    import graft.streaming.StreamingDedup
    // Model-based: split the incoming docs into RANDOM micro-batches
    // (sizes and membership drawn from a pinned seed), run the real
    // gated ingest one file per trigger, and replay the SAME batches
    // through a sequential fold of the batch-side decision — the
    // streamed admit set must match the fold EXACTLY. This pins the
    // plumbing a single-batch test can't: cross-batch near-dup chains
    // (a doc admitted in batch 1 must reject its near-dups in batch
    // 3), index freshness between triggers, and order stability.
    val rnd = new scala.util.Random(20260814)
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup-fuzz").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val seed = d.filter($"doc_id" < 300)
    wh.atomicPublish("corpus", seed)
    wh.atomicPublish("lsh_index", Dedup.buildLshIndex(seed))
    val incomingIds = rnd.shuffle(d.filter($"doc_id" >= 300)
      .select($"doc_id").as[Long].collect().toSeq)
    // 4 random-sized contiguous cuts of the shuffled ids
    val cutsRaw = Seq.fill(3)(rnd.nextInt(incomingIds.size)).sorted.distinct
    val bounds = (0 +: cutsRaw :+ incomingIds.size).distinct.sorted
    val chunks = bounds.sliding(2).map { case Seq(a, b) =>
      incomingIds.slice(a, b).toSet }.filter(_.nonEmpty).toSeq
    // one parquet file per chunk, mtimes forced ascending so the file
    // source's (modTime, path) order IS the model's fold order
    val incoming = s"$tmp/incoming"
    val fs = new org.apache.hadoop.fs.Path(incoming)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    chunks.zipWithIndex.foreach { case (ids, i) =>
      d.filter($"doc_id".isin(ids.toSeq: _*)).coalesce(1)
        .write.mode("append").parquet(incoming)
      val t = 1700000000000L + i * 60000L
      fs.listStatus(new org.apache.hadoop.fs.Path(incoming))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .filter(_.getModificationTime > t)
        .foreach(st => fs.setTimes(st.getPath, t, t))
    }
    val src = spark.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    StreamingDedup.dedupIngest(src, wh, "corpus", "lsh_index", 0.5, s"$tmp/ckpt")
      .awaitTermination(180000)
    // the sequential fold: same chunks, same order, same decision fn —
    // admitted ids MATERIALIZED per step (re-deriving the corpus from
    // `d` by id keeps the plan shallow; folding unions of LSH joins
    // grows an unresolved tree that OOMs the driver's analyzer)
    var modelIds = seed.select($"doc_id").as[Long].collect().toSet
    chunks.foreach { ids =>
      val corpusDf = d.filter($"doc_id".isin(modelIds.toSeq: _*))
      val batch = d.filter($"doc_id".isin(ids.toSeq: _*))
      modelIds ++= StreamingDedup.acceptedOf(batch,
        Dedup.buildLshIndex(corpusDf), 0.5)
        .select($"doc_id").as[Long].collect().toSet
    }
    val want = modelIds
    val got = wh.read("corpus").select($"doc_id").as[Long].collect().toSet
    assert(got === want,
      s"streamed corpus diverged from the sequential fold " +
      s"(extra=${(got -- want).take(5)}, missing=${(want -- got).take(5)})")
    assert(wh.read("lsh_index").count() === wh.read("corpus").count())
    // some cross-batch rejection actually happened, or the fuzz is vacuous
    assert(got.size < 300 + incomingIds.size, "no doc was rejected")
    // full redelivery (fresh checkpoint, same files): idempotent
    StreamingDedup.dedupIngest(
      spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1").parquet(incoming),
      wh, "corpus", "lsh_index", 0.5, s"$tmp/ckpt2")
      .awaitTermination(180000)
    assert(wh.read("corpus").select($"doc_id").as[Long].collect().toSet === want)
    assert(wh.read("lsh_index").count() === wh.read("corpus").count())
  }

  test("streaming IVF indexer: streamed postings == batch assignment; redelivery converges") {
    import spark.implicits._
    import graft.operators.IvfCodebook
    import graft.streaming.StreamingIndex
    import graft.functions.NativeExprs
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding")
    val normed = e.withColumn("nrm",
      sqrt(NativeExprs.dot(spark, $"embedding", $"embedding")))
    val seed = normed.filter($"vec_id" < 300)
    val cents = IvfCodebook.train(seed,
      seed.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("c_id"), $"embedding".as("c_emb"), $"nrm".as("c_nrm")), 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-ivf").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    wh.atomicPublish("centroids", cents)
    wh.atomicPublish("vectors", seed.drop("nrm"))
    wh.atomicPublish("postings", IvfCodebook.assign(seed, cents))

    val incoming = s"$tmp/incoming"
    val batch = e.filter($"vec_id" >= 300)
    batch.coalesce(1).write.parquet(incoming)
    StreamingIndex.indexIngest(
      spark.readStream.schema(batch.schema).parquet(incoming),
      wh, "vectors", "postings", "centroids", s"$tmp/ckpt")
      .awaitTermination(120000)

    // streamed postings for the new vectors == the one-shot assignment
    val got = wh.read("postings").filter($"vec_id" >= 300)
      .as[(Long, Long)].collect().toMap
    val expect = StreamingIndex.postingsOf(batch, cents)
      .as[(Long, Long)].collect().toMap
    assert(got === expect, "streamed assignment must equal the batch decision")
    // every vector is searchable: postings cover exactly the vectors
    assert(wh.read("postings").count() === wh.read("vectors").count())

    // full redelivery (fresh checkpoint, same input): keyed upserts on
    // a frozen codebook converge to the identical index
    StreamingIndex.indexIngest(
      spark.readStream.schema(batch.schema).parquet(incoming),
      wh, "vectors", "postings", "centroids", s"$tmp/ckpt2")
      .awaitTermination(120000)
    assert(wh.read("postings").filter($"vec_id" >= 300)
      .as[(Long, Long)].collect().toMap === expect)
    assert(wh.read("postings").count() === wh.read("vectors").count())
  }

  test("streaming index maintenance: CDC upserts+deletes converge to the batch-built index") {
    import spark.implicits._
    import graft.operators.IvfCodebook
    import graft.streaming.StreamingIndex
    import graft.functions.NativeExprs
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", $"embedding")
    val normed = e.withColumn("nrm",
      sqrt(NativeExprs.dot(spark, $"embedding", $"embedding")))
    val seed = normed.filter($"vec_id" < 300)
    val cents = IvfCodebook.train(seed,
      seed.filter($"vec_id" % 50 === 0)
        .select($"vec_id".as("c_id"), $"embedding".as("c_emb"), $"nrm".as("c_nrm")), 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-cdc").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    wh.atomicPublish("centroids", cents)
    wh.atomicPublish("vectors", seed.drop("nrm"))
    wh.atomicPublish("postings", IvfCodebook.assign(seed, cents))

    // change stream: new vectors 300+ arrive AND every vec_id % 5 == 1
    // is deleted (spanning both the seeded index and the new arrivals);
    // one key (301) gets both an upsert and a delete — tombstone wins
    val incoming = s"$tmp/incoming"
    val ups = e.filter($"vec_id" >= 300)
      .select($"vec_id", $"embedding", lit("u").as("op"))
    val dels = e.filter($"vec_id" % 5 === 1)
      .select($"vec_id", $"embedding", lit("d").as("op"))
    ups.unionByName(dels).coalesce(1).write.parquet(incoming)
    StreamingIndex.indexMaintain(
      spark.readStream.schema(ups.schema).parquet(incoming),
      wh, "vectors", "postings", "centroids", s"$tmp/ckpt")
      .awaitTermination(120000)

    // the maintained index == a from-scratch build on the surviving set
    val survivors = normed.filter($"vec_id" % 5 =!= 1)
    val expectPost = IvfCodebook.assign(survivors, cents)
      .as[(Long, Long)].collect().toMap
    assert(wh.read("postings").as[(Long, Long)].collect().toMap === expectPost,
      "maintained postings must equal a fresh assignment of the survivors")
    assert(wh.read("vectors").select($"vec_id").as[Long].collect().sorted.toSeq
      === survivors.select($"vec_id").as[Long].collect().sorted.toSeq)
    // no deleted id is ever served: probe the maintained index
    val queries = survivors.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val served = IvfCodebook.topk(
      wh.read("vectors").withColumn("nrm",
        sqrt(NativeExprs.dot(spark, $"embedding", $"embedding"))),
      queries, wh.read("centroids"), wh.read("postings"), 8, 10)
    assert(served.filter($"vec_id" % 5 === 1).count() === 0,
      "a deleted vector surfaced from the maintained index")
    // redelivery (fresh checkpoint, same changes): converges, no drift
    StreamingIndex.indexMaintain(
      spark.readStream.schema(ups.schema).parquet(incoming),
      wh, "vectors", "postings", "centroids", s"$tmp/ckpt2")
      .awaitTermination(120000)
    assert(wh.read("postings").as[(Long, Long)].collect().toMap === expectPost)
  }

  test("change-feed source: live stream serves commits as they land; restart resumes from checkpoint") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-live").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 20).toDF("k"))                // v1
    wh.setSnapshotRetention("t", 10)
    val chk = java.nio.file.Files.createTempDirectory("graft-cdc-chk").toString
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    def collector(buf: scala.collection.mutable.ArrayBuffer[(Long, String, Long)])
        : (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => {
        val rows = b.select($"_commit_version", $"_change_type", $"k")
          .as[(Long, String, Long)].collect()
        buf.synchronized { buf ++= rows; () }
      }
    val v1set = (0L until 20L).map(k => (1L, "insert", k)).toSet
    val q = wh.readChangesStream("t", startingVersion = Some(1L))
      .writeStream.foreachBatch(collector(got))
      .option("checkpointLocation", chk)
      .start()
    try {
      q.processAllAvailable()
      assert(got.synchronized(got.toSet) === v1set,
        "startingVersion=1 must replay the initial publish as inserts")
      // commits land WHILE the stream runs — the next poll serves
      // exactly the delta, one commit-window per micro-batch
      wh.append("t", spark.range(20, 25).toDF("k"))                    // v2
      wh.deleteRows("t", col("k") === 3L)                              // v3
      q.processAllAvailable()
      val expect2 = v1set ++
        (20L until 25L).map(k => (2L, "insert", k)) + ((3L, "delete", 3L))
      assert(got.synchronized(got.toSet) === expect2,
        "commit-while-streaming deltas must arrive exactly once")
    } finally q.stop()
    // restart on the same checkpoint: nothing is re-served, only the
    // commit that landed while the stream was down (the offset — the
    // committed snapshot version — lives in the checkpoint; the
    // fresh source's default startingVersion is ignored)
    wh.append("t", spark.range(25, 30).toDF("k"))                      // v4
    val got2 = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val q2 = wh.readChangesStream("t")
      .writeStream.foreachBatch(collector(got2))
      .option("checkpointLocation", chk)
      .start()
    try {
      q2.processAllAvailable()
      assert(got2.synchronized(got2.toSet) ===
        (25L until 30L).map(k => (4L, "insert", k)).toSet,
        "a checkpointed restart must resume exactly after the last served version")
    } finally q2.stop()
    // the short name resolves through the DataSourceRegister service
    val viaName = spark.readStream.format("graft-changes")
      .option("root", tmp).option("table", "t").load()
    assert(viaName.isStreaming &&
      viaName.schema.fieldNames.takeRight(3).toSeq ===
        Seq("_change_type", "_commit_version", "_commit_timestamp"))
  }

  test("change-feed source: batch-0 replay after a crash is deterministic (initial offset persisted)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-replay").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 5).toDF("k"))                 // v1
    wh.setSnapshotRetention("t", 10)
    val meta = java.nio.file.Files.createTempDirectory("graft-cdc-meta").toString
    // first construction: the default startingVersion resolves to
    // current+1 = 2 and is PERSISTED under metadataPath
    val s1 = new graft.streaming.ChangeFeedSource(spark, meta,
      Map("root" -> tmp, "table" -> "t"))
    // commits land during the (about-to-crash) first trigger
    wh.append("t", spark.range(5, 10).toDF("k"))                       // v2
    wh.append("t", spark.range(10, 15).toDF("k"))                      // v3
    val end0 = s1.getOffset.get
    // crash before offset 0 commits: Spark replays getBatch(None, end0)
    // on a FRESH source over the same metadataPath. The restarted
    // source must serve the window the lost batch covered (v2..v3) —
    // re-resolving "current+1" from the now-advanced table would skip
    // those commits silently (exactly-once violation)
    val s2 = new graft.streaming.ChangeFeedSource(spark, meta,
      Map("root" -> tmp, "table" -> "t"))
    val replay = org.apache.spark.sql.graft.BatchAsStream.unstamp(
      s2.getBatch(None, end0))
      .select($"_commit_version", $"_change_type", $"k")
      .as[(Long, String, Long)].collect().toSet
    val expect = (5L until 10L).map(k => (2L, "insert", k)).toSet ++
      (10L until 15L).map(k => (3L, "insert", k))
    assert(replay === expect,
      "a replayed batch 0 must cover the original first trigger's window")
  }

  test("change-feed source: a table rebuilt under the same checkpoint serves a batch ending at an old committed offset") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-rebuild").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    val chk = java.nio.file.Files.createTempDirectory("graft-cdc-rbchk").toString
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    def run(body: => Unit): Unit = {
      val q = wh.readChangesStream("t", startingVersion = Some(1L))
        .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.select($"_commit_version", $"_change_type", $"k")
            .as[(Long, String, Long)].collect()
          got.synchronized { got ++= rows; () }
        }.option("checkpointLocation", chk).start()
      try { q.processAllAvailable(); body; q.processAllAvailable() }
      finally q.stop()
    }
    def build(base: Long): Unit = {
      wh.atomicPublish("t", spark.range(base, base + 5).toDF("k"))       // v1
      wh.setSnapshotRetention("t", 10)
    }
    def more(base: Long): Unit = {
      wh.append("t", spark.range(base + 10, base + 15).toDF("k"))        // v2
      wh.append("t", spark.range(base + 20, base + 25).toDF("k"))        // v3
    }
    build(0L)
    run(more(0L)) // committed batches end at offsets 1 and 3
    wh.dropTable("t")
    build(100L)
    got.synchronized(got.clear())
    // the restart re-fetches the last committed batch (ending at 3) and
    // discards it; the rebuilt table then commits v2 and v3 again, so a
    // new data batch ends at offset 3 — an offset an older committed
    // batch ended at — and must carry its rows
    run(more(100L))
    val expect = (110L until 115L).map(k => (2L, "insert", k)).toSet ++
      (120L until 125L).map(k => (3L, "insert", k))
    assert(got.synchronized(got.toSet) === expect,
      "only the restart re-fetch of the last committed batch may be served empty")
  }

  test("change-feed source: an explicit startingVersion beyond current+1 is rejected") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-future").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 5).toDF("k"))                 // v1
    val meta = java.nio.file.Files.createTempDirectory("graft-cdc-fmeta").toString
    val e = intercept[IllegalArgumentException] {
      new graft.streaming.ChangeFeedSource(spark, meta,
        Map("root" -> tmp, "table" -> "t", "startingVersion" -> "7"))
    }
    assert(e.getMessage.contains("beyond the table's current version"))
    // current+1 itself is the documented default and must stay legal
    new graft.streaming.ChangeFeedSource(spark, meta,
      Map("root" -> tmp, "table" -> "t", "startingVersion" -> "2"))
  }

  test("change-feed source: a checkpointed stream crosses a schema-evolution commit") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-evo").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 5).toDF("k"))                 // v1
    wh.setSnapshotRetention("t", 10)
    val chk = java.nio.file.Files.createTempDirectory("graft-cdc-evochk").toString
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Option[String])]()
    val cols = scala.collection.mutable.Set[String]()
    def run(): Unit = {
      val feed = wh.readChangesStream("t", startingVersion = Some(1L))
      val q = feed.writeStream.foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          cols.synchronized { cols ++= b.columns; () }
          val rows =
            if (b.columns.contains("v"))
              b.select($"_commit_version", $"_change_type", $"k",
                $"v".cast("string"))
                .as[(Long, String, Long, Option[String])].collect().toSeq
            else b.select($"_commit_version", $"_change_type", $"k")
              .as[(Long, String, Long)].collect().toSeq
              .map { case (cv, ct, k) => (cv, ct, k, None: Option[String]) }
          got.synchronized { got ++= rows; () }
      }.option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run() // drains v1 under the pinned pre-evolution schema (k only)
    assert(cols.synchronized(!cols.contains("v")))
    // the evolution commit: an append carrying a NEW column, plus one
    // more commit behind it — both consumed by a RESTARTED stream
    wh.append("t", Seq((100L, "x")).toDF("k", "v"))                    // v2
    wh.deleteRows("t", col("k") === 0L)                                // v3
    run() // fresh source pins the EVOLVED schema; offset resumes at v1
    assert(cols.synchronized(cols.contains("v")),
      "the restarted stream must expose the evolved column")
    val expect = Set(
      (1L, "insert", 0L, None), (1L, "insert", 1L, None),
      (1L, "insert", 2L, None), (1L, "insert", 3L, None),
      (1L, "insert", 4L, None),
      (2L, "insert", 100L, Some("x")),
      // v3 deletes a PRE-EVOLUTION row: its file has no `v`, so the
      // evolved feed serves it null-filled — the documented alignment
      (3L, "delete", 0L, None))
    assert(got.synchronized(got.toSet) === expect)
  }

  test("change-feed source: a reap inside the pending window refuses loudly; a fresh start recovers") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-reap").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 5).toDF("k"))                 // v1
    wh.setSnapshotRetention("t", 2)
    val meta = java.nio.file.Files.createTempDirectory("graft-cdc-rmeta").toString
    val src = new graft.streaming.ChangeFeedSource(spark, meta,
      Map("root" -> tmp, "table" -> "t", "startingVersion" -> "1"))
    val off1 = src.getOffset.get                                       // v1
    // commits land between this stream's getOffset and its getBatch;
    // retention 2 means the commit-time GC reaps v1..v3 — part of the
    // stream's pending window
    (1 to 4).foreach(i =>
      wh.append("t", spark.range(i * 5L, i * 5L + 5L).toDF("k")))      // v2..v5
    val off2 = src.getOffset.get
    val e = intercept[IllegalArgumentException] {
      // the refusal fires at PLAN TIME (the chain walk touches every
      // manifest in the window before composing anything) — a partial
      // feed is never served
      src.getBatch(Some(off1), off2)
    }
    assert(e.getMessage.contains("retention"),
      s"expected the loud retention refusal, got: ${e.getMessage}")
    // recovery: a FRESH checkpoint + default startingVersion follows
    // commits from current+1 — the operator's documented path after
    // falling behind retention
    val meta2 = java.nio.file.Files.createTempDirectory("graft-cdc-rmeta2").toString
    val src2 = new graft.streaming.ChangeFeedSource(spark, meta2,
      Map("root" -> tmp, "table" -> "t"))
    wh.append("t", spark.range(100, 103).toDF("k"))                    // v6
    val recovered = org.apache.spark.sql.graft.BatchAsStream.unstamp(
      src2.getBatch(None, src2.getOffset.get))
      .select($"_commit_version", $"_change_type", $"k")
      .as[(Long, String, Long)].collect().toSet
    assert(recovered === (100L until 103L).map(k => (6L, "insert", k)).toSet)
  }

  // ---- graft-table sink: exactly-once writeStream into the warehouse --

  test("graft-table sink: append stream lands exactly-once across checkpoint restarts") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-a").toString
    val src = java.nio.file.Files.createTempDirectory("graft-sink-asrc").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-sink-achk").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    spark.range(0, 50).toDF("k").coalesce(1).write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream.schema("k BIGINT").parquet(src)
        .writeStream.format("graft-table")
        .option("root", tmp).option("table", "t")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    assert(wh.read("t").count() === 50L)
    // no new files: the restart has nothing to serve, no commit happens
    val v1 = wh.currentVersion("t")
    drain()
    assert(wh.currentVersion("t") === v1, "an empty restart must not commit")
    assert(wh.read("t").count() === 50L)
    // new file: only the delta lands, exactly once
    spark.range(50, 80).toDF("k").coalesce(1).write.mode("append").parquet(src)
    drain()
    assert(wh.read("t").as[Long].collect().toSet === (0L until 80L).toSet)
  }

  test("graft-table sink: a replayed epoch is skipped (header txn label), marker crash heals") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-r").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    val sink = new graft.streaming.GraftTableSink(spark.sqlContext,
      Map("root" -> tmp, "table" -> "t", "txnAppId" -> "app-1"), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0, spark.range(0, 10).toDF("k"))
    sink.addBatch(0, spark.range(0, 10).toDF("k"))   // crash replay
    assert(wh.read("t").count() === 10L)
    sink.addBatch(1, spark.range(10, 20).toDF("k"))
    // crash window: the fast-path marker write was lost — the header
    // label on the retained chain must still dedup the replay
    val markers = new java.io.File(s"$tmp/t").listFiles()
      .filter(_.getName.startsWith("_txn_"))
    assert(markers.nonEmpty)
    markers.foreach(_.delete())
    assert(wh.lastTxnEpoch("t", "app-1") === Some(1L))
    sink.addBatch(1, spark.range(10, 20).toDF("k"))  // replay, no marker
    assert(wh.read("t").count() === 20L)
    // distinct appId is an independent lineage: same epoch number runs
    val sink2 = new graft.streaming.GraftTableSink(spark.sqlContext,
      Map("root" -> tmp, "table" -> "t", "txnAppId" -> "app-2"), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink2.addBatch(1, spark.range(20, 25).toDF("k"))
    assert(wh.read("t").count() === 25L)
  }

  test("graft-table sink: upsert mode merges each micro-batch by key, exactly-once") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-u").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    val sink = new graft.streaming.GraftTableSink(spark.sqlContext,
      Map("root" -> tmp, "table" -> "t", "txnAppId" -> "cdc",
        "mode" -> "upsert", "keys" -> "k"), Nil,
      org.apache.spark.sql.streaming.OutputMode.Update())
    sink.addBatch(0, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    sink.addBatch(1, Seq((2L, "b2"), (3L, "c")).toDF("k", "v"))
    sink.addBatch(1, Seq((2L, "XX"), (3L, "XX")).toDF("k", "v")) // replay: skipped
    assert(wh.read("t").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2"), (3L, "c")))
  }

  test("graft-table sink: complete mode replaces the snapshot per trigger (streaming agg)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-c").toString
    val src = java.nio.file.Files.createTempDirectory("graft-sink-csrc").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-sink-cchk").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    spark.range(0, 40).select(($"id" % 4).as("g"))
      .coalesce(1).write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream.schema("g BIGINT").parquet(src)
        .groupBy($"g").agg(count(lit(1)).as("n"))
        .writeStream.format("graft-table").outputMode("complete")
        .option("root", tmp).option("table", "agg")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    assert(wh.read("agg").as[(Long, Long)].collect().toSet ===
      (0L until 4L).map((_, 10L)).toSet)
    spark.range(0, 8).select(($"id" % 4).as("g"))
      .coalesce(1).write.mode("append").parquet(src)
    drain()
    // the FULL refreshed aggregate replaced the snapshot, not appended
    assert(wh.read("agg").as[(Long, Long)].collect().toSet ===
      (0L until 4L).map((_, 12L)).toSet)
  }

  test("graft-table sink: cdc mode replicates a table through the change feed, exactly-once") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-cdc").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-sink-cdchk").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    wh.atomicPublish("a",
      spark.range(0, 100).toDF("k").withColumn("v", $"k" * 2))       // v1
    wh.setSnapshotRetention("a", 16)
    wh.deleteRows("a", $"k" % 10 === 0)                              // v2
    wh.updateRows("a", $"k" % 7 === 0, Map("v" -> ($"v" + 1L)))      // v3
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("root", tmp).option("table", "a")
        .option("startingVersion", "1").load()
        .writeStream.format("graft-table")
        .option("root", tmp).option("table", "b")
        .option("mode", "cdc").option("keys", "k")
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain() // one batch spanning v1..v3: bootstrap from net inserts
    def rows(t: String) = wh.read(t).as[(Long, Long)].collect().toSet
    assert(rows("b") === rows("a"))
    assert(rows("b").nonEmpty)
    // live mutations, second drain applies as ONE merge commit
    wh.append("a", Seq((1000L, 1L), (1001L, 2L)).toDF("k", "v"))     // v4
    wh.deleteRows("a", $"k" === 3L)                                  // v5
    wh.updateRows("a", $"k" === 5L, Map("v" -> lit(-5L)))            // v6
    drain()
    assert(rows("b") === rows("a"))
    // replay of the last epoch (same appId = checkpoint path) with
    // poison rows: skipped, replica unchanged
    val sink = new graft.streaming.GraftTableSink(spark.sqlContext,
      Map("root" -> tmp, "table" -> "b", "txnAppId" -> chk,
        "mode" -> "cdc", "keys" -> "k"), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(1, Seq((-1L, -1L, "insert", 99L)).toDF(
      "k", "v", "_change_type", "_commit_version"))
    assert(rows("b") === rows("a"))
  }

  test("graft-table sink: refusal shapes are loud") {
    val p = new graft.streaming.GraftTableSinkProvider
    def mk(opts: Map[String, String]) = intercept[IllegalArgumentException] {
      p.createSink(spark.sqlContext, opts, Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    }
    assert(mk(Map("table" -> "t")).getMessage.contains("'root'"))
    assert(mk(Map("root" -> "/x")).getMessage.contains("'table'"))
    // no checkpointLocation and no txnAppId: identity cannot default
    assert(mk(Map("root" -> "/x", "table" -> "t"))
      .getMessage.contains("txnAppId"))
    assertThrows[IllegalArgumentException] { // upsert without keys
      p.createSink(spark.sqlContext,
        Map("root" -> "/x", "table" -> "t", "txnAppId" -> "a",
          "mode" -> "upsert"), Nil,
        org.apache.spark.sql.streaming.OutputMode.Update())
    }
  }
}
