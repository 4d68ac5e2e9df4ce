package graft

import graft.sources.Warehouse
import org.apache.spark.sql.functions._

/** Data-layout features of the manifest Warehouse: footer-stats data
  * skipping (file pruning by column min/max). Correctness contract
  * under test: pruning NEVER changes results (readSkipping ==
  * full-scan filter) and on a range-clustered layout it actually
  * prunes (kept ≪ total).
  */
class LayoutSpec extends SparkSpec {

  private def mk(tmpName: String): (Warehouse, String) = {
    val tmp = java.nio.file.Files.createTempDirectory(tmpName).toString
    (new Warehouse(spark, tmp), tmp)
  }

  /** 10k rows clustered into 8 contiguous-range files on k (long),
    * with string/double columns clustered the same way.
    */
  private def clustered() = {
    import spark.implicits._
    spark.range(0, 10000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k"))
      .withColumn("d", $"k".cast("double") / 100.0)
      .withColumn("tag", ($"k" % 7).cast("int"))
      .repartitionByRange(8, $"k")
      .sortWithinPartitions($"k")
  }

  test("data skipping: narrow long range prunes most files, result exact") {
    import spark.implicits._
    val (wh, _) = mk("graft-skip1")
    wh.atomicPublish("t", clustered())

    val (kept, total) = wh.pruneFiles("t", "k", Some(1500L), Some(1700L))
    assert(total === 8, s"expected 8 data files, saw $total")
    assert(kept.size <= 2, s"range [1500,1700] spans ≤2 of 8 range files, kept ${kept.size}")

    val got = wh.readSkipping("t", "k", Some(1500L), Some(1700L))
      .orderBy("k").select("k").as[Long].collect()
    assert(got === (1500L to 1700L).toArray, "pruned scan must equal exact filter")
  }

  test("data skipping: string and double columns prune; unsupported keeps all") {
    val (wh, _) = mk("graft-skip2")
    wh.atomicPublish("t", clustered())

    val (ks, _) = wh.pruneFiles("t", "s", Some("s02000"), Some("s02500"))
    assert(ks.size <= 2, s"string range should prune to ≤2 files, kept ${ks.size}")
    assert(wh.readSkipping("t", "s", Some("s02000"), Some("s02500")).count() === 501)

    val (kd, _) = wh.pruneFiles("t", "d", Some(95.0), Some(96.0))
    assert(kd.size <= 2, s"double range should prune to ≤2 files, kept ${kd.size}")
    assert(wh.readSkipping("t", "d", Some(95.0), Some(96.0)).count() === 101)

    // tag cycles 0..6 in every file — min/max overlap everywhere: stats
    // exist but can prove nothing, so nothing may be pruned
    val (kt, tot) = wh.pruneFiles("t", "tag", Some(3), Some(3))
    assert(kt.size === tot, "unclustered column must not prune")

    // open bounds: lower-only keeps only the tail files
    val (ko, _) = wh.pruneFiles("t", "k", Some(9000L), None)
    assert(ko.size <= 2, s"lower-only bound keeps the tail, kept ${ko.size}")

    // fully out-of-range → zero files survive, read is empty not an error
    val (kz, _) = wh.pruneFiles("t", "k", Some(50000L), None)
    assert(kz.isEmpty)
    assert(wh.readSkipping("t", "k", Some(50000L), None).count() === 0)
  }

  test("data skipping: appends keep per-version sidecars; snapshot prunes across versions") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-skip3")
    wh.atomicPublish("t", clustered()) // _v1: k ∈ [0, 10000)
    wh.append("t",
      spark.range(20000, 30000).toDF("k")
        .withColumn("s", format_string("s%05d", $"k"))
        .withColumn("d", $"k".cast("double") / 100.0)
        .withColumn("tag", ($"k" % 7).cast("int"))
        .repartitionByRange(4, $"k").sortWithinPartitions($"k")) // _v2

    val (kept, total) = wh.pruneFiles("t", "k", Some(20500L), Some(20600L))
    assert(total === 12, s"8 + 4 files expected, saw $total")
    assert(kept.size <= 2 && kept.forall(_.startsWith("_v2/")),
      s"only _v2 files can hold k≈20500, kept $kept")
    assert(wh.readSkipping("t", "k", Some(20500L), Some(20600L)).count() === 101)

    // both versions carry their own sidecar; manifests never list it
    assert(new java.io.File(s"$tmp/t/_v1/_stats").isFile)
    assert(new java.io.File(s"$tmp/t/_v2/_stats").isFile)
    assert(wh.read("t").count() === 20000)
  }

  test("point pruning: legacy root files in a flat manifest are kept, even for an empty IN") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-legacy-in")
    // a pre-manifest table: one parquet file at the table root, no sidecars
    Seq(1L, 2L).toDF("k").coalesce(1).write.parquet(s"$tmp/t")
    // the first commit lists the root file next to its own _v1 file
    wh.append("t", Seq(10L, 11L).toDF("k").coalesce(1))
    val (none, total) = wh.pruneFilesEquals("t", "k", Seq.empty)
    assert(total === 2, s"root file + _v1 file expected, saw $total")
    // no metadata proves the root file empty, whatever the probe; the
    // _v1 file's stats rule out every value of an empty IN
    assert(none.size === 1 && !none.head.startsWith("_v"), s"kept $none")
    assert(wh.pruneFilesEquals("t", "k", Seq(99L))._1 === none)
    assert(wh.pruneFilesEquals("t", "k", Seq(10L))._1.size === 2)
    assert(wh.readEquals("t", "k", Seq.empty).count() === 0)
    assert(wh.readEquals("t", "k", Seq(1L, 10L)).count() === 2)
  }

  test("statsMinMax: exact metadata-only min/max, None when stats incomplete") {
    import spark.implicits._
    val (wh, _) = mk("graft-mm")
    wh.atomicPublish("t", clustered())
    assert(wh.statsMinMax("t", "k") === Some((0L, 9999L)))
    assert(wh.statsMinMax("t", "d") === Some((0.0, 99.99)))
    assert(wh.statsMinMax("t", "s") === Some(("s00000", "s09999")))
    // a column parquet carries no usable top-level stats for → None
    wh.append("t", Seq((-5L, "a00001", -1.5, 1)).toDF("k", "s", "d", "tag"))
    assert(wh.statsMinMax("t", "k") === Some((-5L, 9999L)))
    assert(wh.statsMinMax("t", "nope") === None)
  }

  test("z-order: BOTH clustered columns prune; linear layout prunes only its own") {
    import spark.implicits._
    val (wh, _) = mk("graft-zorder")
    // independent dimensions: a 100×100 grid, one row per cell
    val grid = spark.range(0, 10000).toDF("id")
      .withColumn("a", ($"id" / 100).cast("long"))
      .withColumn("b", ($"id" % 100).cast("long"))

    wh.atomicPublish("z", sources.ZOrder.cluster(grid, Seq("a", "b"), 16))
    wh.atomicPublish("lin",
      grid.repartitionByRange(16, $"a").sortWithinPartitions($"a"))

    // a 16%-of-range box on either dimension: z-order keeps ≤ half the
    // files on BOTH; the linear layout keeps ~1/6 on `a` but is useless
    // on `b` (every file spans all of b)
    val (za, zt) = wh.pruneFiles("z", "a", Some(10L), Some(25L))
    val (zb, _)  = wh.pruneFiles("z", "b", Some(10L), Some(25L))
    assert(zt === 16)
    assert(za.size <= 8, s"z-order must prune on a: kept ${za.size}/16")
    assert(zb.size <= 8, s"z-order must prune on b: kept ${zb.size}/16")

    val (la, lt) = wh.pruneFiles("lin", "a", Some(10L), Some(25L))
    val (lb, _)  = wh.pruneFiles("lin", "b", Some(10L), Some(25L))
    assert(la.size <= 4, s"linear layout prunes its own key: kept ${la.size}/$lt")
    assert(lb.size === lt, "linear layout cannot prune the other column")

    // pruning never changes results
    val zr = wh.readSkipping("z", "b", Some(10L), Some(25L))
    assert(zr.count() === 1600)
    assert(zr.agg(sum($"a" * 1000 + $"b")).as[Long].head() ===
      grid.filter($"b".between(10, 25)).agg(sum($"a" * 1000 + $"b")).as[Long].head())
  }

  test("z-order: STRING columns cluster and prune on both dimensions") {
    import spark.implicits._
    val (wh, _) = mk("graft-zorder-str")
    // two independent string dimensions — a (lang, url_host)-shaped
    // layout: 100×100 grid of l00..l99 × h00..h99
    val grid = spark.range(0, 10000).toDF("id")
      .withColumn("lang", format_string("l%02d", ($"id" / 100).cast("int")))
      .withColumn("host", format_string("h%02d", ($"id" % 100).cast("int")))
    wh.atomicPublish("zs", sources.ZOrder.cluster(grid, Seq("lang", "host"), 16))
    // a 16%-of-range box on EITHER string column prunes ≥ half the
    // files — byte-order bucketing must agree with the byte-order
    // footer stats the pruner compares against
    val (za, zt) = wh.pruneFiles("zs", "lang", Some("l10"), Some("l25"))
    val (zb, _)  = wh.pruneFiles("zs", "host", Some("h10"), Some("h25"))
    assert(zt === 16)
    assert(za.size <= 8, s"string z-order must prune on lang: kept ${za.size}/16")
    assert(zb.size <= 8, s"string z-order must prune on host: kept ${zb.size}/16")
    // pruning never changes results
    val zr = wh.readSkipping("zs", "host", Some("h10"), Some("h25"))
    assert(zr.count() === 1600)
    assert(zr.agg(sum($"id")).as[Long].head() ===
      grid.filter($"host".between("h10", "h25")).agg(sum($"id")).as[Long].head())
  }

  test("partition pruning types from the caller's bounds, not the value's looks") {
    import spark.implicits._
    val (wh, _) = mk("graft-ptype")
    // STRING partition column whose values LOOK numeric: '9' with
    // string bounds ['10','95'] is IN range lexicographically ('9' >
    // '1') — a numeric guess (9 < 10) would wrongly prune the file and
    // silently drop rows (the r6 advice scenario)
    val df = Seq((1L, "9"), (2L, "50"), (3L, "abc")).toDF("k", "part")
    wh.upsert("t", df, Seq("k"), Seq("part"))
    val got = wh.readSkipping("t", "part", Some("10"), Some("95"))
      .select($"k").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L),
      "value '9' is inside the STRING range ['10','95'] and must survive pruning")
    // numeric bounds against a STRING column are an ill-typed query
    // under ANSI: an unpruned scan throws CAST_INVALID_INPUT on 'abc'.
    // Pruning must not MASK that error — the unparseable partition is
    // kept (toLongOption=None ⇒ keep), so the pruned scan throws the
    // same ANSI error instead of silently returning a subset.
    val e = intercept[Exception] {
      wh.readSkipping("t", "part", Some(10L), Some(95L)).collect()
    }
    assert(e.getMessage.contains("CAST_INVALID_INPUT"),
      s"pruned scan must surface the same ANSI error as unpruned: $e")
  }

  test("statsMinMax: string order is code-point order, not UTF-16 units") {
    import spark.implicits._
    val (wh, _) = mk("graft-utf")
    // U+E000 (private use, one UTF-16 unit 0xE000) vs U+1F600 (emoji,
    // surrogate pair led by 0xD83D): UTF-16 code-unit order says the
    // EMOJI is smaller; code-point/UTF-8-byte order (parquet's stat
    // order, Spark's string order) says it is LARGER. The cross-file
    // fold must agree with the per-file parquet order or a non-extreme
    // value surfaces (the r6 advice scenario) — one value per file so
    // the fold across files is what's exercised.
    wh.atomicPublish("t", Seq((1L, "")).toDF("k", "s"))
    wh.append("t", Seq((2L, "😀")).toDF("k", "s"))
    wh.append("t", Seq((3L, "aaa")).toDF("k", "s"))
    val mm = wh.statsMinMax("t", "s")
    assert(mm === Some(("aaa", "😀")),
      s"max must be the emoji in code-point order, got $mm")
  }

  test("data skipping: hive partition column prunes from the path, not footer stats") {
    import spark.implicits._
    val (wh, _) = mk("graft-skip4")
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("fy", lit(2020L) + $"k" % 5)
      .withColumn("v", $"k" * 2)
    wh.atomicPublish("t", df, partitionCols = Seq("fy"))

    // the partition column is not IN the parquet files — only the
    // path segment can prune it
    val (kept, total) = wh.pruneFiles("t", "fy", Some(2021L), Some(2021L))
    assert(kept.nonEmpty && kept.forall(_.contains("fy=2021")),
      s"only fy=2021 files may survive: $kept")
    assert(kept.size < total)
    assert(wh.readSkipping("t", "fy", Some(2021L), Some(2021L)).count() === 200)

    // a data column still prunes by footer stats inside the partitions
    val (kv, _) = wh.pruneFiles("t", "v", Some(5000L), None)
    assert(wh.readSkipping("t", "v", Some(5000L), None).count() ===
      df.filter($"v" >= 5000).count())
    assert(kv.size <= total)
  }

  test("data skipping: encoded types (decimal/timestamp/date) never prune — and never lie") {
    import spark.implicits._
    val (wh, _) = mk("graft-skip5")
    // decimal(9,2) is stored UNSCALED in parquet (5.00 → 500): footer
    // stats must not be recorded for it, else a raw bound would
    // wrongly prune (500 > upper 50 though the value 5 ≤ 50)
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("dec", ($"k".cast("double") / 100.0).cast("decimal(9,2)"))
      .withColumn("ts", expr("timestamp_seconds(1700000000 + k)"))
      .withColumn("dt", expr("date_add(date'2020-01-01', CAST(k AS INT))"))
      .repartitionByRange(8, $"k").sortWithinPartitions($"k")
    wh.atomicPublish("t", df)
    for (c <- Seq("dec", "ts", "dt")) {
      val (kept, total) = wh.pruneFiles("t", c, Some(50), Some(50))
      assert(kept.size === total, s"encoded column $c must never prune")
    }
    // the exact residual predicate still applies on top
    assert(wh.readSkipping("t", "dec", Some(java.math.BigDecimal.valueOf(1.00)),
      Some(java.math.BigDecimal.valueOf(2.00))).count() === 101)
  }

  test("FileStats: distributed footer reads == driver-side reads") {
    import graft.sources.FileStats
    val (wh, tmp) = mk("graft-dist")
    wh.atomicPublish("t", clustered())
    val vdir = s"$tmp/t/_v1"
    val files = new java.io.File(vdir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq
    val driver = FileStats.collect(spark, vdir, files)
    // threshold 0 forces the executor path (conf rebuilt from
    // broadcast entries) — must agree byte-for-byte with driver reads
    val dist = FileStats.collect(spark, vdir, files, distributedThreshold = 0)
    assert(dist === driver)
    assert(driver.nonEmpty && driver.values.forall(_.contains("k")))
  }

  test("fsck: healthy after publish/upsert; reports a deleted data file") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-fsck")
    wh.atomicPublish("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    wh.upsert("t", Seq((2L, "B")).toDF("k", "v"), Seq("k"))
    assert(wh.fsck("t") === Nil)

    // simulate partial data loss: remove a parquet file of the CURRENT
    // snapshot (the highest version dir — the GC'd-previous _v1 is not
    // referenced by the current manifest and wouldn't be flagged)
    val dead = new java.io.File(s"$tmp/t").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("_v\\d+"))
      .maxBy(_.getName.drop(2).toInt)
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(dead.delete())
    val issues = wh.fsck("t")
    assert(issues.exists(_.startsWith("missing data file:")), s"got: $issues")
  }

  test("diffVersions: per-publish changelog — update = remove(old) + add(new)") {
    import spark.implicits._
    val (wh, _) = mk("graft-diff")
    wh.atomicPublish("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // _v1
    wh.upsert("t", Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k")) // _v2
    val (added, removed) = wh.diffVersions("t", 1, 2)
    assert(added.orderBy("k").as[(Long, String)].collect()
      === Array((2L, "B"), (3L, "c")))
    assert(removed.as[(Long, String)].collect() === Array((2L, "b")))
  }

  test("_rows sidecar: metadata-only count(*) and null counts read no data files") {
    import spark.implicits._
    val (wh, dir) = mk("graft-rows")
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", when($"id" % 3 === 0, lit(null).cast("string"))
        .otherwise(format_string("s%04d", $"id")))
      .repartition(4)
    wh.atomicPublish("t", df)
    assert(wh.statsRowCount("t") === Some(1000L))
    assert(wh.statsNullCount("t", "v") === Some(334L)) // ids 0,3,…,999
    assert(wh.statsNullCount("t", "id") === Some(0L))
    assert(wh.tableHealth("t").rows === Some(1000L))
    // overwrite every data file with garbage: the metadata-only
    // answers must be unchanged — proof the path opened ZERO data
    // files (an actual scan would now fail on the magic bytes)
    new java.io.File(s"$dir/t/_v1").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val w = new java.io.FileOutputStream(f)
        try w.write("not parquet".getBytes("UTF-8")) finally w.close()
      }
    assert(wh.statsRowCount("t") === Some(1000L))
    assert(wh.statsNullCount("t", "v") === Some(334L))
    assert(wh.statsNullCount("t", "missing_col") === None,
      "unknown column must be unknown, never zero")
  }

  test("IS NULL skipping: files proven null-free never enter the scan") {
    import spark.implicits._
    val (wh, dir) = mk("graft-nullskip")
    // version 1: 100 of 500 rows null; version 2: null-free
    val withNulls = spark.range(0, 500).toDF("id")
      .withColumn("v", when($"id" < 100, lit(null).cast("string"))
        .otherwise(format_string("a%04d", $"id")))
      .coalesce(1)
    val noNulls = spark.range(500, 800).toDF("id")
      .withColumn("v", format_string("b%04d", $"id")).coalesce(1)
    wh.atomicPublish("t", withNulls)
    wh.append("t", noNulls)
    assert(wh.readSkippingIsNull("t", "v", isNull = true).count() === 100)
    assert(wh.readSkippingIsNull("t", "v", isNull = false).count() === 700)
    // corrupt the null-free version's data: an IS NULL scan must
    // still succeed — that file is pruned from the plan entirely
    new java.io.File(s"$dir/t/_v2").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val w = new java.io.FileOutputStream(f)
        try w.write("not parquet".getBytes("UTF-8")) finally w.close()
      }
    assert(wh.readSkippingIsNull("t", "v", isNull = true).count() === 100)
  }

  test("tableHealth: metadata-only layout report drives compaction") {
    val (wh, _) = mk("graft-health")
    wh.atomicPublish("t", clustered())          // 8 files
    wh.append("t", clustered())                 // + 8 files
    val h = wh.tableHealth("t")
    assert(h.files === 16 && h.versions === 2)
    assert(h.smallFiles === 16, "tiny test files all count as small")
    assert(h.totalBytes > 0 && h.minBytes > 0 && h.maxBytes >= h.minBytes)

    wh.compact("t", numFiles = 1)
    val h2 = wh.tableHealth("t")
    assert(h2.files === 1, s"compaction must collapse the layout: $h2")
    assert(h2.totalBytes > 0)
  }

  test("compactZOrder: un-prunable table becomes prunable in place, data identical") {
    import spark.implicits._
    val (wh, _) = mk("graft-optz")
    val grid = spark.range(0, 10000).toDF("id")
      .withColumn("a", ($"id" / 100).cast("long"))
      .withColumn("b", ($"id" % 100).cast("long"))
    // round-robin layout: every file spans all of a AND all of b
    wh.atomicPublish("t", grid.repartition(16))
    val (k0, t0) = wh.pruneFiles("t", "a", Some(10L), Some(25L))
    assert(k0.size === t0, "round-robin layout must not prune")

    wh.compactZOrder("t", Seq("a", "b"), 16)
    val (ka, _) = wh.pruneFiles("t", "a", Some(10L), Some(25L))
    val (kb, _) = wh.pruneFiles("t", "b", Some(10L), Some(25L))
    assert(ka.size <= 8 && kb.size <= 8,
      s"optimized layout must prune both dims: a=${ka.size} b=${kb.size} of 16")
    assert(wh.read("t").agg(sum($"id")).as[Long].head() ===
      grid.agg(sum($"id")).as[Long].head(), "rewrite must preserve the data")
  }

  test("bloom skipping: hash-spread keys prune where min/max cannot") {
    import spark.implicits._
    val (wh, _) = mk("graft-bloom1")
    // hash-spread on k: every file's [min,max] spans the domain
    wh.atomicPublish("t", clustered().repartition(16, $"k"))

    val (k0, t0) = wh.pruneFilesEquals("t", "k", Seq(4242L))
    assert(t0 === 16 && k0.size === 16,
      s"min/max can prove nothing on a hash layout, kept ${k0.size}")

    wh.buildBloom("t", "k")
    val (k1, _) = wh.pruneFilesEquals("t", "k", Seq(4242L))
    assert(k1.size <= 3, s"bloom should keep ~1 of 16 files, kept ${k1.size}")

    // zero false negatives: every key must come back, rows exact
    val got = wh.readEquals("t", "k", Seq(0L, 4242L, 9999L))
      .orderBy($"k").select($"k", $"s").as[(Long, String)].collect()
    assert(got === Array((0L, "s00000"), (4242L, "s04242"), (9999L, "s09999")))
  }

  test("bloom skipping: absent key prunes everything; no index prunes nothing") {
    import spark.implicits._
    val (wh, _) = mk("graft-bloom2")
    wh.atomicPublish("t", clustered().repartition(16, $"k"))
    // no buildBloom yet: correct, unpruned
    assert(wh.readEquals("t", "k", Seq(123L)).count() === 1)

    // "s05000x" sorts INSIDE every file's [min,max] (hash layout), so
    // only the bloom can prove it absent — min/max alone keeps all 16
    wh.buildBloom("t", "s")
    val (kept, total) = wh.pruneFilesEquals("t", "s", Seq("s05000x"))
    assert(kept.size < total,
      s"bloom must prune an absent in-range key, kept ${kept.size}/$total")
    assert(wh.readEquals("t", "s", Seq("s05000x")).count() === 0)
  }

  test("bloom skipping: files appended after the build stay unpruned and correct") {
    import spark.implicits._
    val (wh, _) = mk("graft-bloom3")
    wh.atomicPublish("t", clustered().repartition(8, $"k"))
    wh.buildBloom("t", "k")
    // append rows 10000..10999 — the new version has NO bloom sidecar
    wh.append("t", spark.range(10000, 11000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k"))
      .withColumn("d", $"k".cast("double") / 100.0)
      .withColumn("tag", ($"k" % 7).cast("int"))
      .repartition(4, $"k"))

    val got = wh.readEquals("t", "k", Seq(5L, 10500L))
      .orderBy($"k").select($"k").as[Long].collect()
    assert(got === Array(5L, 10500L),
      "a post-build append must stay visible (absence of bloom = keep)")

    // re-running the build covers the appended version too
    wh.buildBloom("t", "k")
    val (kept, total) = wh.pruneFilesEquals("t", "k", Seq(10500L))
    assert(kept.size < total, s"rebuilt index must prune, kept ${kept.size}/$total")
  }

  test("partition evolution: flat + hive vintages serve one snapshot; evolved files prune by path") {
    import spark.implicits._
    val (wh, _) = mk("graft-pevo")
    val df = clustered()
    wh.atomicPublish("t", df.filter($"k" < 5000))            // flat vintage
    wh.appendEvolved("t", df.filter($"k" >= 5000), Seq("tag")) // evolved vintage
    assert(wh.read("t").count() === 10000,
      "one snapshot must serve both physical layouts")

    val expected3 = df.filter($"tag" === 3).count()
    assert(wh.read("t").filter($"tag" === 3).count() === expected3,
      "the partition column must read identically from data and from path")

    val (kept, total) = wh.pruneFiles("t", "tag", Some(3), Some(3))
    assert(kept.size < total,
      s"evolved vintage must prune by partition path, kept ${kept.size}/$total")
    assert(wh.readSkipping("t", "tag", Some(3), Some(3)).count() === expected3,
      "pruned mixed-layout scan must equal the exact filter")
  }

  test("ndv sketch: metadata-only distinct count within tolerance; partial coverage = None") {
    import spark.implicits._
    val (wh, _) = mk("graft-ndv")
    wh.atomicPublish("t", clustered().repartition(8, $"k"))
    assert(wh.statsApproxNdv("t", "k").isEmpty, "no sketch yet ⇒ unknown")

    wh.buildNdv("t", "k")
    val est = wh.statsApproxNdv("t", "k")
    assert(est.isDefined)
    assert(math.abs(est.get - 10000L) <= 500,
      s"10k distinct keys must estimate within 5%, got ${est.get}")
    // low-cardinality column: tag has 7 distinct values — the
    // small-range linear-counting regime must be near-exact
    wh.buildNdv("t", "tag")
    assert(wh.statsApproxNdv("t", "tag").contains(7L))

    // append without rebuilding: the commit MAINTAINS coverage by
    // sketching its own new files at the base's precision — no manual
    // re-run needed (round-12: maintainNdvSidecars)
    wh.append("t", clustered().repartition(2, $"k"))
    val est2 = wh.statsApproxNdv("t", "k")
    // the appended rows are the same 10k keys: merged NDV unchanged
    assert(est2.isDefined && math.abs(est2.get - 10000L) <= 500,
      s"append must keep coverage and the merged estimate, got $est2")
    assert(wh.statsApproxNdv("t", "tag").contains(7L),
      "every covered column is maintained, not just one")
  }

  test("ndv maintenance: deleteRows then buildNdv keeps rows deleted (DV carry on metadata recommit)") {
    import spark.implicits._
    val (wh, _) = mk("graft-ndv-dv")
    val data = (0L until 1000L).map(k => (k, s"t${k % 7}")).toDF("k", "tag")
    wh.atomicPublish("t", data.repartition(4, $"k"))
    assert(wh.deleteRows("t", $"k" < 100) === 100)
    assert(wh.read("t").count() === 900)
    // buildNdv's metadata-only recommit preserves the same physical
    // files — the base's deletion vector must ride along or the 100
    // GDPR-deleted rows silently resurrect (the r12 advice-high find)
    wh.buildNdv("t", "k")
    assert(wh.read("t").count() === 900,
      "buildNdv must not resurrect deleted rows")
    assert(wh.read("t").agg(min($"k")).head.getLong(0) === 100L)
    // and the skipping surface agrees (MOR applies on pruned reads)
    assert(wh.readSkipping("t", "k", Some(0L), Some(199L)).count() === 100)
  }

  test("vacuumOrphans: reaps crashed-writer debris, keeps snapshots and fresh in-flight work") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-vac")
    wh.atomicPublish("t", clustered())   // v1
    wh.append("t", clustered())          // v2 (current); v1 = previous
    val root = new org.apache.hadoop.fs.Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant crashed-writer debris: an unreferenced version dir with a
    // STALE marker, a bare stale marker, and an orphan old manifest
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_v90"))
    fs.create(new org.apache.hadoop.fs.Path(root, "_inflight_v90"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(root, "_inflight_v91"), true).close()
    val old = System.currentTimeMillis() - 60L * 60 * 1000
    fs.setTimes(new org.apache.hadoop.fs.Path(root, "_inflight_v90"), old, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(root, "_inflight_v91"), old, -1)
    // and a FRESH in-flight claim — a live writer mid-write
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, "_v95"))
    fs.create(new org.apache.hadoop.fs.Path(root, "_inflight_v95"), true).close()

    val deleted = wh.vacuumOrphans("t")
    assert(deleted.toSet === Set("_v90", "_inflight_v91"),
      s"vacuum must reap exactly the stale debris, got $deleted")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_inflight_v90")),
      "the reaped dir's marker goes with it")
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_v95")),
      "a fresh in-flight claim must survive vacuum")
    // snapshots intact: current readable, time travel to previous works
    assert(wh.read("t").count() === 20000)
    assert(wh.readVersion("t", 1).count() === 10000)
    assert(wh.fsck("t").isEmpty)
  }

  test("bloom sidecar: torn/malformed lines never cause a wrong prune") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-bloom4")
    wh.atomicPublish("t", clustered().repartition(8, $"k"))
    wh.buildBloom("t", "k")
    // corrupt the sidecar: truncate one line mid-base64 and garbage another
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val side = new org.apache.hadoop.fs.Path(s"$tmp/t/_v1/_bloom_k")
    val in = fs.open(side)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val lines = txt.split('\n').filter(_.nonEmpty)
    val mangled = (lines.head.take(lines.head.length / 2) +:
      "garbage line without tabs" +: lines.tail.drop(1)).mkString("\n")
    val out = fs.create(side, true)
    try out.write(mangled.getBytes("UTF-8")) finally out.close()

    // every key still found: the mangled entries fall back to keep
    val got = wh.readEquals("t", "k", Seq(1L, 2500L, 7777L))
      .orderBy($"k").select($"k").as[Long].collect()
    assert(got === Array(1L, 2500L, 7777L),
      "malformed sidecar lines must degrade to no-prune, never wrong rows")
  }

  test("rollback: metadata-only restore — no data rewrite, history intact, GC'd targets refuse") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-rollback")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = spark.range(0, 100).toDF("k")
    wh.atomicPublish("t", v1)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k")
      .withColumn("k", $"k" + 1000)) // the bad publish
    wh.rollback("t", 1)

    // restored read == v1 exactly
    assert(wh.read("t").orderBy($"k").as[Long].collect()
      === (0L until 100L).toArray)
    // metadata-only: the restore allocated a version NUMBER but wrote
    // no _v3 data dir; the new manifest references v1's files
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/t/_v3")),
      "rollback must not rewrite data files")
    val mf3 = new org.apache.hadoop.fs.Path(s"$tmp/t/_manifest_v3")
    assert(fs.exists(mf3), "rollback commits a new manifest version")
    // history: the bad vintage stays time-travel readable (GC grace)
    assert(wh.readVersion("t", 2).agg(min($"k")).as[Long].head() === 1000L)

    // a target past GC's reach refuses loudly instead of resurrecting
    // a dangling file list: age out v1 with two more publishes
    wh.atomicPublish("t", spark.range(0, 5).toDF("k"))
    wh.atomicPublish("t", spark.range(5, 9).toDF("k"))
    val ex = intercept[IllegalArgumentException] { wh.rollback("t", 1) }
    assert(ex.getMessage.contains("not available"))
  }

  test("WAP branches: staged data invisible, survives main-line GC, promote is metadata-only") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-wap")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))
    wh.publishBranch("t", "audit", spark.range(0, 100).toDF("k"))

    // invisible to table readers; visible on the branch
    assert(wh.read("t").count() === 10)
    assert(wh.readBranch("t", "audit").count() === 100)

    // a main-line publish while the branch is open must NOT reap the
    // staged version (the kept in-flight marker is the GC shield)
    wh.atomicPublish("t", spark.range(0, 20).toDF("k"))
    assert(wh.readBranch("t", "audit").count() === 100,
      "main-line GC reaped an open branch")

    // promote: branch becomes the table, no data rewrite (the new
    // manifest references the branch's _v dir)
    wh.promoteBranch("t", "audit")
    assert(wh.read("t").count() === 100)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/t/_BRANCH_audit")))

    // abandon: staged work fully removed, table untouched
    wh.publishBranch("t", "reject", spark.range(0, 5).toDF("k"))
    val mf = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t"))
      .map(_.getPath.getName).count(_.startsWith("_manifest"))
    wh.abandonBranch("t", "reject")
    assert(wh.read("t").count() === 100)
    val mfAfter = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t"))
      .map(_.getPath.getName).count(_.startsWith("_manifest"))
    assert(mfAfter === mf - 1, "abandon must remove the staged manifest")

    // branching a pointerless table refuses: a branch forks from a
    // current snapshot
    val ex = intercept[IllegalArgumentException] {
      wh.publishBranch("fresh", "b", spark.range(0, 3).toDF("k"))
    }
    assert(ex.getMessage.contains("current snapshot"))
  }

  test("deletion vectors: accumulate, rewrite nothing, reset on republish") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-dv")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").repartition(4))
    def dataFileMtimes = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/t/_v1"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    val before = dataFileMtimes

    assert(wh.deleteRows("t", $"k" < 10) === 10)
    assert(wh.deleteRows("t", $"k" % 50 === 0) === 11) // accumulates; overlap k=0 deduped
    assert(wh.read("t").count() === 89,
      "read IS merge-on-read: every surface sees deletes")
    // the delete is an overlay: the base files physically keep every row
    assert(spark.read.parquet(s"$tmp/t/_v1").count() === 100,
      "base files must still hold every row")
    assert(dataFileMtimes === before, "a DV delete must not touch data files")

    // compaction materializes: republish the MOR view, DV lineage resets
    wh.atomicPublish("t", wh.read("t"))
    assert(wh.read("t").count() === 89, "fresh snapshot starts with no DV")
  }

  test("WAP promote racing a main-line publish aborts loudly and retries clean") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-wap-race")
    val whB = new Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))
    wh.publishBranch("t", "audit", spark.range(100, 150).toDF("k"))

    // a main-line publish lands in promote's check-then-flip window
    // (the casTestHook seam): the promote's CAS must observe the moved
    // pointer and abort rather than silently clobber the publish
    var fired = false
    wh.casTestHook = _ => if (!fired) {
      fired = true
      whB.atomicPublish("t", spark.range(0, 20).toDF("k"))
    }
    val ex = intercept[java.util.ConcurrentModificationException] {
      wh.promoteBranch("t", "audit")
    }
    wh.casTestHook = _ => ()
    assert(ex.getMessage.contains("concurrent commit"))

    // the abort must leave the branch fully intact — promote is
    // retryable, and the retry wholesale-promotes over the interloper
    // (snapshot-level WAP semantics: the audit gate owns the decision)
    assert(wh.readBranch("t", "audit").count() === 50)
    wh.promoteBranch("t", "audit")
    assert(wh.read("t").count() === 50)
  }

  test("branch shield: pointer outlives the in-flight grace through main-line GC; dangling pointers vacuum clean") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-branch-shield")
    val root = new org.apache.hadoop.fs.Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))
    wh.publishBranch("t", "audit", spark.range(0, 77).toDF("k"))

    // age the branch's in-flight marker and manifest PAST the grace —
    // the pre-fix GC keyed the shield on marker freshness and would
    // reap the staged snapshot here, leaving the pointer dangling
    val aged = System.currentTimeMillis() - 30L * 60 * 1000
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_inflight_") || n.startsWith("_manifest_"))
        fs.setTimes(st.getPath, aged, aged)
    }
    wh.atomicPublish("t", spark.range(0, 20).toDF("k"))
    wh.atomicPublish("t", spark.range(0, 30).toDF("k"))
    assert(wh.readBranch("t", "audit").count() === 77,
      "an open branch must survive main-line GC however old — the " +
      "_BRANCH_ pointer is the intent record, not the marker's age")
    assert(wh.vacuumOrphans("t").forall(!_.contains("_BRANCH_")))
    assert(wh.readBranch("t", "audit").count() === 77, "and survive vacuum")

    // staged ≠ history: the branch manifest (highest-numbered) must not
    // appear as a history row, and rollback must refuse to restore it
    val branchMf = {
      val in = fs.open(new org.apache.hadoop.fs.Path(root, "_BRANCH_audit"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val branchV = branchMf.stripPrefix("_manifest_v").toLong
    assert(!wh.history("t").exists(_._1 == branchV),
      "a staged branch manifest is not committed history")
    val ex = intercept[IllegalArgumentException] { wh.rollback("t", branchV) }
    assert(ex.getMessage.contains("staged on open branch"))

    // dangling pointer (pre-shield debris): manifest deleted out from
    // under the pointer — reads diagnose instead of raw IO error, and
    // vacuum removes the pointer so it stops poisoning shield reads
    fs.delete(new org.apache.hadoop.fs.Path(root, branchMf), false)
    val ex2 = intercept[IllegalArgumentException] { wh.readBranch("t", "audit") }
    assert(ex2.getMessage.contains("dangling"))
    assert(wh.vacuumOrphans("t").contains("_BRANCH_audit"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_BRANCH_audit")))
  }

  test("history: above-current debris excluded; missing row sidecar is None, never a partial sum") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-hist-edge")
    val root = new org.apache.hadoop.fs.Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.atomicPublish("t", spark.range(0, 50).toDF("k"))
    wh.append("t", spark.range(50, 80).toDF("k"))

    // an aborted/not-yet-current commit's manifest above the pointer is
    // not history (a caller's lastOption must be the CURRENT snapshot)
    val debris = fs.create(new org.apache.hadoop.fs.Path(root, "_manifest_v99"), false)
    try debris.write("_v1/nonexistent.parquet\n".getBytes("UTF-8"))
    finally debris.close()
    val h = wh.history("t")
    assert(h.nonEmpty && h.forall(_._1 <= 2), s"debris v99 listed: $h")
    assert(h.last._3 === Some(80L))
    fs.delete(new org.apache.hadoop.fs.Path(root, "_manifest_v99"), false)

    // unknown row counts flag as None — a -1 sentinel could partially
    // cancel against real counts into a plausible-looking total
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/t/_v1/_rows"), false)
    assert(wh.history("t").last._3 === None)
  }

  test("publishChecked: empty batch is vacuously valid — no NPE, gate still rejects bad rows") {
    import spark.implicits._
    val (wh, _) = mk("graft-chk-empty")
    val df = spark.range(0, 100).toDF("k")
    val checks = Seq("k_nonneg" -> ($"k" >= 0))
    wh.publishChecked("t", df, checks)
    // empty batch: the violation SUMs are null — the pre-fix gate NPE'd
    // on getLong; the contract is publish-or-loud-refuse, never a crash
    wh.publishChecked("t", df.filter($"k" < 0), checks)
    intercept[IllegalStateException] {
      wh.publishChecked("t", df.withColumn("k", -$"k" - 1), checks)
    }
  }

  test("chunked manifest: header answers counts, narrow ranges open only matching chunks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunked").toString
    // chunk every 8 entries: 64 range-clustered files → 8 chunks
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 8)
    wh.atomicPublish("t", spark.range(0, 10000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k"))
      .repartitionByRange(64, $"k").sortWithinPartitions($"k"))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val chunkFiles = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t"))
      .map(_.getPath.getName).filter(_.startsWith("_mchunk_"))
    assert(chunkFiles.length === 8, s"64 files / 8 per chunk: $chunkFiles")

    // metadata-only count + min/max: HEADER alone, zero chunk files opened
    wh.chunkOpens = 0
    assert(wh.statsRowCount("t") === Some(10000L))
    assert(wh.statsMinMax("t", "k") === Some((0L, 9999L)))
    assert(wh.statsMinMax("t", "s") === Some(("s00000", "s09999")))
    assert(wh.statsMinMax("t", "no_such_col") === None)
    assert(wh.statsNullCount("t", "k") === Some(0L))
    assert(wh.statsNullCount("t", "no_such_col") === None,
      "unknown column must be unknown, never zero")
    assert(wh.chunkOpens === 0L, "counts, min/max and null counts must come from the manifest header")

    // IS NULL skipping at chunk level: zero header nulls ⇒ chunks for
    // an IS NULL scan are skipped unopened (only the empty-result
    // schema read touches the listing)
    wh.chunkOpens = 0
    val nullScan = wh.readSkippingIsNull("t", "k", isNull = true)
    assert(wh.chunkOpens <= 8, "pruning itself must not open chunks for a proven-null-free table")
    assert(nullScan.count() === 0)

    // narrow range: chunk-level stats skip 7 of 8 chunks unopened
    wh.chunkOpens = 0
    val (kept, total) = wh.pruneFiles("t", "k", Some(1500L), Some(1700L))
    assert(total === 64)
    assert(wh.chunkOpens <= 2, s"[1500,1700] spans ≤2 of 8 chunks, opened ${wh.chunkOpens}")
    assert(kept.size <= 3, s"kept ${kept.size} files")
    // ...and the pruned read stays EXACT (the correctness boundary)
    assert(wh.readSkipping("t", "k", Some(1500L), Some(1700L))
      .orderBy("k").select("k").as[Long].collect() === (1500L to 1700L).toArray)

    // string column prunes at the chunk level too (same clustering)
    wh.chunkOpens = 0
    wh.pruneFiles("t", "s", Some("s02000"), Some("s02500"))
    assert(wh.chunkOpens <= 2, s"string range opened ${wh.chunkOpens} chunks")

    // append on a chunked table: the full-list path still composes
    wh.append("t", spark.range(10000, 10100).toDF("k")
      .withColumn("s", format_string("s%05d", $"k")))
    assert(wh.read("t").count() === 10100)
    assert(wh.statsRowCount("t") === Some(10100L))
    // time travel to the pre-append snapshot resolves through its chunks
    assert(wh.readVersion("t", 1).count() === 10000)

    // GC: chunk files die with their manifest (one-publish grace)
    wh.atomicPublish("t", spark.range(0, 50).toDF("k")
      .withColumn("s", format_string("s%05d", $"k")))
    wh.atomicPublish("t", spark.range(0, 60).toDF("k")
      .withColumn("s", format_string("s%05d", $"k")))
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t"))
      .map(_.getPath.getName).filter(n => n.startsWith("_mchunk_v1_") ||
        n.startsWith("_mchunk_v2_"))
    assert(leftover.isEmpty, s"reaped manifests must take their chunks: ${leftover.toSeq}")
  }

  test("partition values with '+' and escaped chars never wrong-prune (URL-decode trap)") {
    import spark.implicits._
    val (wh, _) = mk("graft-plus")
    // 'a+b' is written LITERALLY by Spark's path escaping; URLDecoder
    // would read it back as 'a b' and a typed compare against the
    // corrupted value pruned the matching file — silently empty result.
    // 'x y' round-trips through a real %20 escape; 'p%q' through %25.
    val df = Seq((1L, "a+b"), (2L, "x y"), (3L, "p%q")).toDF("k", "part")
    wh.upsert("t", df, Seq("k"), Seq("part"))
    for ((v, k) <- Seq(("a+b", 1L), ("x y", 2L), ("p%q", 3L))) {
      val got = wh.readEquals("t", "part", Seq(v)).select($"k").as[Long].collect()
      assert(got.toSeq === Seq(k), s"value '$v' must survive partition pruning")
    }
    // and the same through a CHUNKED manifest's pstring stats
    val tmp = java.nio.file.Files.createTempDirectory("graft-plus-chunked").toString
    val whc = new Warehouse(spark, tmp, manifestChunkSize = 1)
    whc.upsert("t", df, Seq("k"), Seq("part"))
    for ((v, k) <- Seq(("a+b", 1L), ("x y", 2L), ("p%q", 3L))) {
      val got = whc.readEquals("t", "part", Seq(v)).select($"k").as[Long].collect()
      assert(got.toSeq === Seq(k), s"value '$v' must survive chunk-level pruning")
    }
  }

  test("partition-value escape round-trip: nasty characters probe exactly through flat and chunked prunes") {
    import spark.implicits._
    // every ASCII character class Spark's path escaping handles
    // differently: literal-on-disk ('+', ' ', ':', '*') and
    // %XX-escaped ('/', '=', '#', '%', tab, newline). Each must
    // round-trip through write → path → decode → typed probe with
    // EXACTLY its own row coming back — a wrong decode either
    // wrong-prunes (silent empty) or wrong-keeps another value's row.
    // (Non-ASCII partition values are excluded HERE only because this
    // sandbox JVM's sun.jnu.encoding cannot create such paths at the
    // filesystem layer — the decode path itself is byte-oriented
    // UTF-8 and agnostic.)
    val nasty = Seq("a/b", "a=b", "a#b", "a%b", "a+b", "a b", "a:b",
      "a*b", "100%", "a\tb", "a\nb")
    val df = nasty.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("k", "part")
    val (wh, _) = mk("graft-nasty")
    wh.upsert("t", df, Seq("k"), Seq("part"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-nasty-chunked").toString
    val whc = new Warehouse(spark, tmp, manifestChunkSize = 1)
    whc.upsert("t", df, Seq("k"), Seq("part"))
    for ((v, i) <- nasty.zipWithIndex; w <- Seq(wh, whc)) {
      val got = w.readEquals("t", "part", Seq(v)).select($"k").as[Long].collect()
      assert(got.toSeq === Seq(i.toLong),
        s"value ${v.map(c => f"\\u${c.toInt}%04x").mkString} must probe to exactly its row")
    }
    // the tab/newline values also stress the chunk-entry and header
    // wire formats (tab-separated, line-oriented): sizes and counts
    // must still answer from the header with escaped paths in play
    assert(whc.statsRowCount("t") === Some(nasty.size.toLong))
    assert(whc.tableHealth("t").files === nasty.size)
  }

  test("chunked manifest: tableHealth answers from chunk-entry sizes — zero per-file stat RPCs") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunked-health").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 8)
    wh.atomicPublish("t", spark.range(0, 10000).toDF("k")
      .repartitionByRange(64, $"k"))
    val th = wh.tableHealth("t")
    assert(th.files === 64 && th.rows === Some(10000L) && th.totalBytes > 0)
    assert(th.smallFiles === 64, "64 tiny files are all under the default threshold")

    // proof there is no per-file stat: delete a data file behind the
    // warehouse's back — a getFileStatus-per-file health would throw
    // FileNotFoundException; the chunk-entry sizes still answer, and
    // the totals are unchanged (commit-time truth)
    val victim = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$tmp/t/_v1"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.delete(victim)
    val th2 = wh.tableHealth("t")
    assert(th2.files === 64 && th2.totalBytes === th.totalBytes,
      "health must come from commit-time chunk entries, not live stats")
  }

  test("chunked manifest: partition typing trap — numeric-looking values never numerically prune string bounds") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunked-trap").toString
    // chunk size 1: every file is its own chunk, so the lone-'9'
    // partition gets its own plong [9,9] chunk stat — the exact shape
    // where a caller-blind numeric compare would prune a
    // lexicographically-matching file (the r6 trap at chunk level)
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 1)
    val df = Seq((1L, "9"), (2L, "50"), (3L, "abc")).toDF("k", "part")
    wh.upsert("t", df, Seq("k"), Seq("part"))
    val got = wh.readSkipping("t", "part", Some("10"), Some("95"))
      .select($"k").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 2L),
      "'9' is inside the STRING range ['10','95'] — a plong chunk stat " +
      "compared numerically would silently drop it")
    // numeric bounds: the unparseable 'abc' partition keeps its chunk,
    // so the pruned scan surfaces the same ANSI cast error as unpruned
    val e = intercept[Exception] {
      wh.readSkipping("t", "part", Some(10L), Some(95L)).collect()
    }
    assert(e.getMessage.contains("CAST_INVALID_INPUT"))
    // and metadata min/max refuses partition-derived p-stats (they are
    // path values typed by parse, not footer values typed as stored)
    assert(wh.statsMinMax("t", "part") === None)
  }

  test("chunked manifest: racing appends rebase clean — winner's chunks intact, orphans vacuumed") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunked-race").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    val whB = new Warehouse(spark, tmp, manifestChunkSize = 4)
    wh.atomicPublish("t", spark.range(0, 1000).toDF("k").repartition(16))

    // B commits inside A's append window (manifest written, CAS
    // pending): A loses, rebases its already-written version under a
    // fresh chunked manifest. Chunk attempts carry unique tags, so
    // A's abort can only delete A's own chunk files — B's committed
    // chunks must survive byte-for-byte.
    var fired = false
    wh.commitTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", spark.range(2000, 2100).toDF("k").repartition(4))
    }
    wh.append("t", spark.range(1000, 1100).toDF("k").repartition(4))
    wh.commitTestHook = _ => ()
    assert(wh.read("t").count() === 1200, "both appends must land")
    assert(wh.read("t").select(sum($"k")).head.getLong(0) ===
      (0L until 1000).sum + (1000L until 1100).sum + (2000L until 2100).sum)

    // after vacuum, every surviving chunk file is referenced by a
    // retained manifest (no crash-attempt orphans linger)
    whB.vacuumOrphans("t")
    assert(whB.read("t").count() === 1200)
    assert(whB.statsRowCount("t") === Some(1200L))
  }

  test("chunked manifest: hive partition values prune chunks for point lookups") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-chunked-part").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    // 32 partitions × 1 file, chunked by 4 → 8 chunks clustered by the
    // partition path; a single-date probe must open exactly one chunk
    val df = spark.range(0, 3200).toDF("id")
      .withColumn("d", format_string("2024-%02d", $"id" % 32 + 1))
      .repartition($"d")
    wh.atomicPublish("t", df, partitionCols = Seq("d"))
    wh.chunkOpens = 0
    val (kept, total) = wh.pruneFilesEquals("t", "d", Seq("2024-07"))
    assert(wh.chunkOpens <= 1, s"one partition value = one chunk, opened ${wh.chunkOpens}")
    assert(kept.forall(_.contains("d=2024-07")), s"kept: $kept")
    assert(wh.readEquals("t", "d", Seq("2024-07")).count() === 100)

    // the partition-scoped upsert rides the same chunk pruning
    wh.chunkOpens = 0
    wh.upsert("t",
      df.filter($"d" === "2024-07").withColumn("id", $"id" + 100000),
      Seq("id"), partitionCols = Seq("d"))
    assert(wh.read("t").count() === 3200 + 100)
  }

  test("chunked pruning fuzz: random ranges and probes — pruned results always equal exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // draws for the null and OR probes, apart so the range and point
    // probes see the same sequence as ever
    val rnd2 = new scala.util.Random(11)
    // unpartitioned, range-clustered on long + string, 32 files; `n` is
    // all-null below k = 2000, null-free up to 6000 and null on every
    // fifth k above, so IS NULL and IS NOT NULL both prune
    val base = spark.range(0, 10000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k"))
      .withColumn("n", when($"k" < 2000L || $"k" >= 6000L && $"k" % 5 === 0L,
        lit(null).cast("long")).otherwise($"k"))
      .repartitionByRange(32, $"k").sortWithinPartitions($"k")
      .persist()
    // partitioned by a string date over 16 values, 1 file each
    val parts = spark.range(0, 3200).toDF("id")
      .withColumn("d", format_string("2024-%02d", $"id" % 16 + 1))
      .repartition($"d")
    // both layouts in both manifest formats: chunked (8 chunks of 4
    // files, 16 chunks of one) and flat at the default chunk size — the
    // prune must not depend on the format
    def publish(chunk1: Option[Int], chunk2: Option[Int]): (Warehouse, Warehouse) = {
      def mkWh(tag: String, chunk: Option[Int]) = {
        val tmp = java.nio.file.Files.createTempDirectory(tag).toString
        chunk.fold(new Warehouse(spark, tmp))(c =>
          new Warehouse(spark, tmp, manifestChunkSize = c))
      }
      val wh1 = mkWh("graft-fuzz1", chunk1)
      wh1.atomicPublish("t", base)
      val wh2 = mkWh("graft-fuzz2", chunk2)
      wh2.atomicPublish("t", parts, partitionCols = Seq("d"))
      (wh1, wh2)
    }
    val (c1, c2) = publish(Some(4), Some(1))
    val (f1, f2) = publish(None, None)
    for (i <- 1 to 25) {
      val lo = rnd.nextInt(11000) - 500L // ranges beyond both edges too
      val hi = lo + rnd.nextInt(4000)
      val exactK = base.filter($"k" >= lo && $"k" <= hi).count()
      val (sl, sh) = (f"s${math.max(lo, 0)}%05d", f"s${math.max(hi, 0)}%05d")
      val exactS = base.filter($"s" >= sl && $"s" <= sh).count()
      // point probes on the partitioned layout, present and absent
      val probe = f"2024-${rnd.nextInt(20) + 1}%02d" // months 17-20 absent
      val exactP = if (probe > "2024-16") 0L else 200L
      val isNull = rnd2.nextBoolean()
      val nullCol = if (rnd2.nextInt(4) == 0) "s" else "n"
      val exactN = base.filter(if (isNull) col(nullCol).isNull else col(nullCol).isNotNull).count()
      val orK = $"k" < lo || $"k" > hi
      val exactOrK = base.filter(orK).count()
      val orS = $"s" === sl || $"s" > sh || $"s".isNull
      val exactOrS = base.filter(orS).count()
      val orD = $"d" < probe || $"d" === "2024-16"
      val exactOrD = parts.filter(orD).count()
      for ((wh1, wh2, fmt) <- Seq((c1, c2, "chunked"), (f1, f2, "flat"))) {
        assert(wh1.readSkipping("t", "k", Some(lo), Some(hi)).count() === exactK,
          s"iter $i long range [$lo,$hi]")
        assert(wh1.readSkipping("t", "s", Some(sl), Some(sh)).count() === exactS,
          s"iter $i string range [$sl,$sh]")
        assert(wh2.readEquals("t", "d", Seq(probe)).count() === exactP,
          s"iter $i partition probe $probe")
        assert(wh1.readSkippingIsNull("t", nullCol, isNull).count() === exactN,
          s"iter $i $fmt $nullCol IS ${if (isNull) "" else "NOT "}NULL")
        assert(wh1.read("t").where(orK).count() === exactOrK,
          s"iter $i $fmt k < $lo OR k > $hi")
        assert(wh1.read("t").where(orS).count() === exactOrS,
          s"iter $i $fmt s = $sl OR s > $sh OR s IS NULL")
        assert(wh2.read("t").where(orD).count() === exactOrD,
          s"iter $i $fmt d < $probe OR d = 2024-16")
      }
    }
    base.unpersist()
  }

  test("commit sweep: a commit landing between another commit's CAS and its sweep survives") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-sweep-race")
    val whB = new Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k"))
    // B commits after A's pointer CAS and marker release, right before
    // A's sweep: B's manifest sits above A's with no marker left, and
    // A's sweep must not reap it, its version dir or its chunks
    var fired = false
    wh.sweepTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", spark.range(200, 250).toDF("k"))
    }
    try wh.append("t", spark.range(100, 150).toDF("k"))
    finally wh.sweepTestHook = _ => ()
    assert(fired)
    assert(wh.fsck("t").isEmpty, s"fsck: ${wh.fsck("t")}")
    assert(wh.read("t").select(sum($"k")).head.getLong(0) ===
      (0L until 150).sum + (200L until 250).sum, "B's rows must read back")
    // the same window through vacuumOrphans: nothing of B's is debris
    assert(whB.vacuumOrphans("t").isEmpty)
    assert(wh.read("t").count() === 200)
  }

  test("maintain: small-file pressure triggers one compaction + vacuum; healthy tables untouched") {
    import spark.implicits._
    val (wh, _) = mk("graft-maintain")
    // streaming-append shape: a dozen tiny publishes → 12+ small files
    wh.atomicPublish("t", spark.range(0, 100).toDF("k"))
    (1 to 12).foreach(i => wh.append("t", spark.range(i * 100L, i * 100L + 100).toDF("k")))
    val pressure = wh.tableHealth("t")
    assert(pressure.smallFiles > 8, s"setup: expected small-file pressure, got $pressure")

    val (before, ran, after) = wh.maintain("t", smallFileLimit = 8)
    assert(ran, "threshold crossed — compaction must trigger")
    assert(before.smallFiles === pressure.smallFiles)
    assert(after.files < before.files, s"no layout recovery: $before -> $after")
    assert(after.rows === Some(1300L), "compaction must preserve every row")
    assert(wh.read("t").agg(sum($"k")).head.getLong(0) ===
      (0L until 1300L).sum, "content must be byte-for-byte preserved")

    // idempotent: the recovered layout is healthy — a blind re-run
    // must be a no-op (no churn publish, no version burn)
    val versionsAfter = wh.tableHealth("t").versions
    val (_, ranAgain, _) = wh.maintain("t", smallFileLimit = 8)
    assert(!ranAgain, "healthy table must not re-compact")
    assert(wh.tableHealth("t").versions === versionsAfter)
  }

  test("deletion vectors: orphan staged dirs never block or corrupt; age-gated reaping") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-dv-orphan")
    val root = new org.apache.hadoop.fs.Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").repartition(4))
    assert(wh.deleteRows("t", $"k" < 10) === 10) // commits _manifest_v2

    // a crashed deleteRows' never-committed staged vector, named under
    // the manifest number the NEXT delete will claim (delete-as-commit
    // protocol): unique uuid tags mean no retry can collide with it,
    // and the pointer install never saw it — reads and further deletes
    // are unaffected
    val orphan = new org.apache.hadoop.fs.Path(root, "_dv__manifest_v3_deadbeef")
    spark.range(0, 100).selectExpr("'_v1/bogus' AS _file", "id AS _pos")
      .coalesce(1).write.parquet(orphan.toString)
    assert(wh.deleteRows("t", $"k" === 50) === 11) // commits _manifest_v3
    assert(wh.read("t").count() === 89)
    assert(fs.exists(orphan), "an orphan under a LIVE lineage's name must " +
      "survive the commit sweep (only the pointed vector is load-bearing)")

    // aged past the grace it is debris: vacuum reaps it but never the
    // pointed vector, and the MOR read still resolves
    val aged = System.currentTimeMillis() - 30L * 60 * 1000
    fs.setTimes(orphan, aged, aged)
    val reaped = wh.vacuumOrphans("t")
    assert(reaped.contains("_dv__manifest_v3_deadbeef"), s"vacuum said: $reaped")
    assert(wh.read("t").count() === 89,
      "vacuum must never reap the pointer-resolved vector")
    // a DEAD lineage's vector dir goes at the next commit outright —
    // no age gate needed: stagings only ever happen under a freshly
    // created manifest's name, shielded by its in-flight marker
    val deadDir = fs.listStatus(root).map(_.getPath.getName)
      .find(_.startsWith("_dv__manifest_v2_"))
    wh.append("t", spark.range(200, 210).toDF("k")) // v4: keeps {v4, v3}
    deadDir.foreach { d =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(root, d)),
        "superseded lineage v2's vector must be swept by the v4 commit")
    }
    assert(wh.read("t").count() === 99)
  }

  test("incremental commits: append writes one new chunk, reads no untouched sidecar") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr-append").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    // 16 hive partitions, ~2 files each → ~32 files / ~8 chunks
    wh.atomicPublish("t",
      spark.range(0, 3200).toDF("id")
        .withColumn("d", format_string("2024-%02d", $"id" % 16 + 1))
        .withColumn("h", $"id" % 2)
        .repartition($"d", $"h").drop("h"),
      partitionCols = Seq("d"))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def chunksOnDisk() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t"))
      .map(_.getPath.getName).filter(_.startsWith("_mchunk_")).toSet
    val before = chunksOnDisk()
    assert(before.size >= 4, s"expected a multi-chunk base, got $before")

    // a pure append must write exactly the delta's chunks (one here),
    // re-reference every existing chunk untouched, and open no
    // sidecar of any pre-existing version dir
    wh.chunkWrites = 0
    wh.append("t", spark.range(100000, 100050).toDF("id")
      .withColumn("d", lit("2024-07")).coalesce(1))
    assert(wh.chunkWrites === 1L,
      s"append of one small batch must write 1 chunk, wrote ${wh.chunkWrites}")
    assert(wh.lastCommitSidecarDirs === Set("_v2"),
      s"append must touch only its own version dir's metadata, touched ${wh.lastCommitSidecarDirs}")
    assert(before.subsetOf(chunksOnDisk()),
      "every pre-append chunk must survive (reused by reference)")
    assert(wh.read("t").count() === 3250)
    assert(wh.statsRowCount("t") === Some(3250L))
    assert(wh.readEquals("t", "d", Seq("2024-07")).count() === 250)

    // reused chunks outlive their ORIGINAL manifest number: after two
    // more publishes the v1 manifest is GC'd, but v1-numbered chunks
    // referenced by the current manifest must survive both commit-time
    // GC and an explicit vacuum
    wh.append("t", spark.range(200000, 200010).toDF("id")
      .withColumn("d", lit("2024-03")).coalesce(1))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/t/_manifest_v1")),
      "v1 manifest should be GC'd (older than previous)")
    assert(chunksOnDisk().exists(_.startsWith("_mchunk_v1_")),
      "v1-numbered chunks referenced by newer manifests must survive GC")
    wh.vacuumOrphans("t")
    assert(chunksOnDisk().exists(_.startsWith("_mchunk_v1_")),
      "vacuum is reference-counted: reused chunks stay")
    assert(wh.read("t").count() === 3260)
    assert(wh.statsRowCount("t") === Some(3260L))
  }

  test("incremental commits: partition-scoped upsert rewrites only the touched partition's chunks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr-upsert").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    val base = spark.range(0, 3200).toDF("id")
      .withColumn("d", format_string("2024-%02d", $"id" % 16 + 1))
      .withColumn("v", $"id" * 10)
    wh.atomicPublish("t", base.repartition($"d"), partitionCols = Seq("d"))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def chunksOnDisk() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t"))
      .map(_.getPath.getName).filter(_.startsWith("_mchunk_")).toSet
    val nBefore = chunksOnDisk().size

    // upsert into ONE partition: the delta removes d=2024-05's old
    // files and adds its merged replacement — at most the touched
    // chunk is rewritten plus one fresh chunk for the added files
    wh.chunkWrites = 0
    wh.upsert("t",
      base.filter($"d" === "2024-05").withColumn("v", $"v" + 1),
      Seq("id"), partitionCols = Seq("d"))
    // the merged partition republishes as _v2: its own files chunk
    // freshly (ceil(added/4)), plus at most 2 rewritten chunks that
    // spanned d=2024-05 — a full rebuild would rewrite ~all 8+
    val added = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t/_v2/d=2024-05"))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
    assert(wh.chunkWrites <= (added + 3) / 4 + 2,
      s"one touched partition: wrote ${wh.chunkWrites} chunks for $added added files")
    assert(wh.read("t").count() === 3200)
    assert(wh.read("t").filter($"d" === "2024-05")
      .select(sum($"v")).head.getLong(0) ===
      base.filter($"d" === "2024-05").select(sum($"v" + 1)).head.getLong(0))
    // untouched partitions still served by the ORIGINAL chunk files
    assert(chunksOnDisk().size <= nBefore + 2)
  }

  test("incremental commits: rollback and promote write zero chunk files") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr-meta").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    wh.atomicPublish("t", spark.range(0, 1000).toDF("k").repartition(16))
    wh.append("t", spark.range(1000, 1100).toDF("k").repartition(4))
    // rollback to v1: the restored manifest REUSES v1's chunks by
    // reference — a 10^6-file restore writes one header and no chunks
    wh.chunkWrites = 0
    wh.rollback("t", 1)
    assert(wh.chunkWrites === 0L,
      s"rollback is metadata-only: zero chunk writes, wrote ${wh.chunkWrites}")
    assert(wh.read("t").count() === 1000)
    assert(wh.statsRowCount("t") === Some(1000L))

    // WAP promote likewise reuses the branch manifest's chunks
    wh.publishBranch("t", "audit", spark.range(0, 500).toDF("k").repartition(8))
    wh.chunkWrites = 0
    wh.promoteBranch("t", "audit")
    assert(wh.chunkWrites === 0L,
      s"promote is metadata-only: zero chunk writes, wrote ${wh.chunkWrites}")
    assert(wh.read("t").count() === 500)
  }

  test("incremental commits: chunk-count drift triggers the amortized compaction") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr-compact").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    wh.atomicPublish("t", spark.range(0, 3200).toDF("k").repartition(32))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // header chunk count of the CURRENT manifest (disk may also hold
    // the previous manifest's chunks — the one-publish grace)
    def headerChunks(): Int = {
      val cur = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/t"))
        .map(_.getPath.getName).filter(_.startsWith("_manifest_v"))
        .maxBy(_.stripPrefix("_manifest_v").toLong)
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$tmp/t/$cur"))
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split('\n').count(_.startsWith("chunk\t"))
    }
    // 1-file appends drift the chunk count up (one half-empty chunk
    // each); the pre-commit check folds the layout back to ideal the
    // moment it would pass 2× — so the invariant holds at EVERY step
    var rebuilt = false
    (1 to 20).foreach { i =>
      wh.append("t", spark.range(100L * i, 100L * i + 10).toDF("k").coalesce(1))
      val files = 32 + i
      val bound = math.max(8, 2 * ((files + 3) / 4))
      val hc = headerChunks()
      assert(hc <= bound, s"after $i appends: $hc chunks for $files files (bound $bound)")
      if (hc <= (files + 3) / 4 + 1 && i > 5) rebuilt = true
    }
    assert(rebuilt, "the amortized rebuild should have folded the layout at least once")
    assert(wh.read("t").count() === 3200 + 20 * 10)
    assert(wh.statsRowCount("t") === Some(3200L + 20 * 10))
  }

  test("chunked manifest: NDV answers header-only after buildNdv; appends void it loudly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr-ndv").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    wh.atomicPublish("t", spark.range(0, 10000).toDF("k")
      .withColumn("g", $"k" % 500)
      .repartitionByRange(32, $"k").sortWithinPartitions($"k"))
    wh.buildNdv("t", "g")
    wh.chunkOpens = 0
    val est = wh.statsApproxNdv("t", "g")
    assert(wh.chunkOpens === 0L,
      "NDV must answer from the header's merged registers — zero chunk opens")
    assert(est.isDefined && math.abs(est.get - 500L) <= 25,
      s"HLL estimate $est should be within ~5% of 500")
    // an append MAINTAINS coverage: the commit sketches its own new
    // files (cost ∝ the batch) and the new chunk's header carries the
    // merged register — still header-only, still no manual re-run
    wh.append("t", spark.range(20000, 20100).toDF("k").withColumn("g", $"k")
      .coalesce(1))
    wh.chunkOpens = 0
    val est2 = wh.statsApproxNdv("t", "g")
    assert(wh.chunkOpens === 0L,
      "maintained NDV must still answer header-only after an append")
    assert(est2.isDefined && est2.get > 500L,
      s"maintained estimate $est2 must cover the appended distinct values")
    // a column the appended batch cannot know (never sketched) stays
    // None — maintenance never invents coverage
    assert(wh.statsApproxNdv("t", "k") === None)
    // delete-as-commit reuses the base's chunks by reference, so a
    // row-level delete keeps NDV header-served too (the estimate
    // ignores deleted rows — a safe overcount, never an undercount)
    wh.deleteRows("t", $"g" === 3L)
    wh.chunkOpens = 0
    val est3 = wh.statsApproxNdv("t", "g")
    assert(wh.chunkOpens === 0L, "NDV must stay header-only across deletes")
    assert(est3.isDefined && est3.get > 500L)
    // a compaction legitimately resets the lineage (full rewrite) but
    // MAINTENANCE restores coverage itself: after maintain triggers,
    // statsApproxNdv must answer again with no manual buildNdv
    val (_, compacted, _) = wh.maintain("t", smallFileLimit = 2,
      smallBytes = 1024 * 1024, targetFileBytes = 4L * 1024 * 1024)
    assert(compacted, "the 33-file table must trigger compaction")
    val est4 = wh.statsApproxNdv("t", "g")
    assert(est4.isDefined && est4.get > 450L,
      s"maintain must restore NDV coverage after its own compaction, got $est4")
  }

  test("pruned reads parse only the probed partitions' sidecar shards") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-shard-prune").toString
    // chunked manifest: chunk-level pruning narrows to 1-2 chunks
    // FIRST; the per-file pass inside the survivors then touches <= 4
    // partitions — exactly the shape whose stats should come from
    // partition shards, never the whole version's sidecar
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    // partitioned version → writeVersion writes per-partition shards
    // k CLUSTERS with the partition (ids 0..199 → d=01, …), so footer
    // k-ranges are disjoint per partition and a narrow range is
    // prunable — the point under test is WHERE the stats come from
    wh.atomicPublish("t", spark.range(0, 3200).toDF("id")
      .withColumn("d", format_string("2024-%02d", ($"id" / 200).cast("int") + 1))
      .withColumn("k", $"id" * 3)
      .repartition($"d"), partitionCols = Seq("d"))
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tmp/t/_v1/_stats_p")),
      "partitioned versions must carry per-partition stat shards")
    // remove the MONOLITHIC sidecar: a narrow probe must still prune —
    // proof it reads the probed partition's SHARD, not the whole file
    fs.delete(new org.apache.hadoop.fs.Path(s"$tmp/t/_v1/_stats"), false)
    val (kept, total) = wh.pruneFiles("t", "k", Some(300L), Some(330L))
    assert(total === 16)
    assert(kept.size < total, s"shard stats must prune: kept ${kept.size}/$total")
    // the exact residual still holds on the survivors
    assert(wh.readSkipping("t", "k", Some(300L), Some(330L))
      .agg(count(lit(1))).head.getLong(0) ===
      (300L to 330L).count(_ % 3 == 0))
    // a WIDE probe (all partitions) skips the shard path; with the
    // monolithic file gone it degrades to keep-all — conservative,
    // never wrong, never a crash
    val (keptWide, _) = wh.pruneFiles("t", "k", Some(0L), Some(100000L))
    assert(keptWide.size === total)
  }

  test("sidecar shards answer exactly what the whole-version sidecars answer") {
    import org.apache.hadoop.fs.Path
    import org.scalacheck.Gen
    import spark.implicits._
    // hive-escaped values (%XX, a literal '+', '/', '='), non-ASCII
    // values, the null partition (__HIVE_DEFAULT_PARTITION__) and an
    // unpartitioned version among the generated layouts
    val pvals = Gen.oneOf[Option[String]](Some("a"), Some("b+c"), Some("50%"),
      Some("x%2Fy"), Some("p/q"), Some("k=v"), Some("a b"), Some("2024-01-31"),
      Some("é ü"), Some("トヨタ自動車株式会社"), None)
    val rowGen = for {
      id <- Gen.chooseNum(-1000L, 1000L)
      s <- Gen.option(Gen.alphaStr.map(_.take(6)))
      p <- pvals
      q <- Gen.chooseNum(0, 6)
    } yield (id, s, p, q)
    val caseGen = for {
      parts <- Gen.oneOf(Seq.empty[String], Seq("p"), Seq("p", "q"))
      rows <- Gen.choose(1, 40).flatMap(Gen.listOfN(_, rowGen))
      spread <- Gen.choose(1, 4)
    } yield (parts, rows, spread)
    val cases = Gen.listOfN(8, caseGen)
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20261019L))
    val fs = new Path(System.getProperty("java.io.tmpdir"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var shardedCases = 0
    cases.zipWithIndex.foreach { case ((parts, rows, spread), i) =>
      val (wh, tmp) = mk(s"graft-shard-eq-$i")
      wh.atomicPublish("t", rows.toDF("id", "s", "p", "q").repartition(spread),
        partitionCols = parts)
      val root = new Path(s"$tmp/t")
      val src = scala.io.Source.fromFile(s"$tmp/t/_manifest_v${wh.currentVersion("t").get}", "UTF-8")
      val files = try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).toList
        finally src.close()
      val sharded = fs.exists(new Path(root, "_v1/_stats_p"))
      if (sharded) shardedCases += 1
      // one file per request: a single segment, so a sharded version
      // serves it from its shard
      val fromShards = new graft.sources.FileStats.Sidecars(fs, root)
      val shardRows = files.map(f => f -> fromShards.rows(Seq(f)).get(f)).toMap
      val shardStats = files.map(f => f -> fromShards.stats(Seq(f)).get(f)).toMap
      // without the shards every request reads the whole-version files
      fs.delete(new Path(root, "_v1/_stats_p"), true)
      fs.delete(new Path(root, "_v1/_rows_p"), true)
      val whole = new graft.sources.FileStats.Sidecars(fs, root)
      val wholeRows = whole.rows(files)
      val wholeStats = whole.stats(files)
      val ctx = s"case $i parts=$parts rows=${rows.size} files=${files.size} sharded=$sharded"
      assert(files.forall(wholeRows.contains), s"$ctx: every file has a row record")
      assert(files.map(wholeRows(_).numRows).sum === rows.size.toLong, ctx)
      assert(files.forall(f => wholeStats.get(f).exists(_.contains("id"))), ctx)
      files.foreach { f =>
        assert(shardRows(f) === wholeRows.get(f), s"$ctx: rows of $f")
        assert(shardStats(f) === wholeStats.get(f), s"$ctx: stats of $f")
      }
    }
    assert(shardedCases > 0, "some generated version must carry shards")
  }

  test("lifecycle fuzz: random publish/append/upsert/delete/rollback/compact/vacuum always equals the model") {
    import spark.implicits._
    // Model-based randomized check over the WHOLE round-11 commit
    // machinery at once: delta commits with chunk reuse, ref-counted
    // chunk GC, per-partition sidecar shards, deletion vectors,
    // header-only rollback, amortized chunk rebuild — interleaved in
    // random orders that no hand-written scenario covers. After every
    // op the table must equal an in-memory Map; after every committing
    // op the new version's snapshot is recorded so rollbacks and
    // time-travel reads are checked against the model's own history.
    val rnd = new scala.util.Random(1123)
    val tmp = java.nio.file.Files.createTempDirectory("graft-lifefuzz").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 3)
    def pOf(k: Long): String = s"p${k % 3}"
    def df(rows: Seq[(Long, Long)]) =
      rows.map { case (k, v) => (k, v, pOf(k)) }.toDF("k", "v", "p")

    var model = Map.empty[Long, Long] // k -> v (p derived)
    var snaps = Map.empty[Long, Map[Long, Long]] // committed version -> model
    def liveVersions: Seq[Long] = wh.history("t").map(_._1)
    def recordCommit(): Unit = { snaps += (liveVersions.last -> model) }

    wh.atomicPublish("t", df((0L until 60L).map(k => k -> k * 10)),
      partitionCols = Seq("p"))
    model = (0L until 60L).map(k => k -> k * 10).toMap
    recordCommit()

    def check(ctx: String): Unit = {
      val got = wh.read("t").select("k", "v", "p")
        .as[(Long, Long, String)].collect().toSet
      val want = model.map { case (k, v) => (k, v, pOf(k)) }.toSet
      assert(got === want, s"$ctx: table diverged from model " +
        s"(extra=${(got -- want).take(3)}, missing=${(want -- got).take(3)})")
    }

    var nextKey = 60L
    for (i <- 1 to 26) {
      val op = rnd.nextInt(100)
      if (op < 22) { // append a fresh batch (Delta commit, chunk reuse)
        val batch = (nextKey until nextKey + 8 + rnd.nextInt(12)).map(k => k -> k * 10)
        nextKey = batch.last._1 + 1
        wh.append("t", df(batch)); model ++= batch; recordCommit()
        check(s"op$i append")
      } else if (op < 48) { // upsert: update existing + insert new keys
        val upd = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(6))
          .map(k => k -> (model(k) + 1))
        val ins = (nextKey until nextKey + rnd.nextInt(5)).map(k => k -> k * 10)
        nextKey += ins.size
        val rows = upd ++ ins
        if (rows.nonEmpty) {
          wh.upsert("t", df(rows), keyCols = Seq("k"), partitionCols = Seq("p"))
          model ++= rows; recordCommit()
        }
        check(s"op$i upsert")
      } else if (op < 64) { // deleteRows via deletion vectors
        val which = rnd.nextInt(3)
        if (which == 0 && model.nonEmpty) {
          val ks = model.keys.toSeq.sorted
          val a = ks(rnd.nextInt(ks.size)); val b = a + 1 + rnd.nextInt(20)
          wh.deleteRows("t", $"k" >= a && $"k" < b)
          model = model.filter { case (k, _) => !(k >= a && k < b) }
        } else if (which == 1) {
          val pv = s"p${rnd.nextInt(3)}"
          wh.deleteRows("t", $"p" === pv && $"v" % 20 === 0)
          model = model.filter { case (k, v) => !(pOf(k) == pv && v % 20 == 0) }
        } else {
          wh.deleteRows("t", $"v" < 0) // matches nothing — still commits
        }
        recordCommit()
        check(s"op$i delete")
      } else if (op < 76) { // rollback to a random still-live version
        val candidates = liveVersions.dropRight(1).filter(snaps.contains)
        if (candidates.nonEmpty) {
          val to = candidates(rnd.nextInt(candidates.size))
          wh.rollback("t", to); model = snaps(to); recordCommit()
          check(s"op$i rollback->v$to")
        }
      } else if (op < 80) { // compaction under small-file pressure
        wh.maintain("t", smallFileLimit = 6)
        snaps = snaps.filter { case (v, _) => liveVersions.contains(v) }
        if (!snaps.contains(liveVersions.last)) recordCommit()
        check(s"op$i maintain")
      } else if (op < 84) { // buildNdv: file-preserving metadata
        // recommit — must carry any live deletion vector (the r12
        // advice-high find: dropping it resurrected deleted rows)
        wh.buildNdv("t", "k")
        if (!snaps.contains(liveVersions.last)) recordCommit()
        check(s"op$i buildNdv")
      } else if (op < 92) { // WAP: stage a full rewrite, audit, promote/abandon
        val staged = model.map { case (k, v) => k -> (v + 5) }
        wh.publishBranch("t", "audit", df(staged.toSeq),
          partitionCols = Seq("p"))
        assert(wh.readBranch("t", "audit").count() === staged.size.toLong,
          s"op$i branch audit")
        if (rnd.nextBoolean()) {
          wh.promoteBranch("t", "audit")
          model = staged; recordCommit()
        } else wh.abandonBranch("t", "audit")
        check(s"op$i wap")
      } else { // GC — content must be untouched, reaped versions forgotten
        // occasionally move the retention knob too: every GC decision
        // downstream must hold at any window size
        if (rnd.nextBoolean())
          wh.setSnapshotRetention("t", 2 + rnd.nextInt(3))
        wh.vacuumOrphans("t")
        snaps = snaps.filter { case (v, _) => liveVersions.contains(v) }
        check(s"op$i vacuum")
      }
      if (i % 5 == 0) { // prune equivalence + time travel + integrity
        val lo = rnd.nextLong(nextKey); val hi = lo + rnd.nextInt(40)
        assert(wh.readSkipping("t", "k", Some(lo), Some(hi)).count() ===
          model.keys.count(k => k >= lo && k <= hi).toLong, s"op$i prune probe")
        val tv = liveVersions.filter(snaps.contains)
        if (tv.nonEmpty) {
          val v = tv(rnd.nextInt(tv.size))
          assert(wh.readVersion("t", v).select("k", "v")
            .as[(Long, Long)].collect().toSet === snaps(v).toSet,
            s"op$i time travel v$v")
        }
        val issues = wh.fsck("t")
        assert(issues.isEmpty, s"op$i fsck: $issues")
        // change-feed replay: the feed between two live committed
        // versions, applied onto the older snapshot, must reproduce
        // the newer one — across every op mix the fuzz just drew
        // (appends, scoped upserts, DV deletes, rollbacks, WAP
        // promotes; maintain/buildNdv must emit nothing). The chain
        // walk must also step OVER non-committed manifest numbers
        // (open WAP branches stage numerically-interleaved manifests).
        val cv = liveVersions.filter(snaps.contains)
        if (cv.size >= 2) {
          val a = cv(rnd.nextInt(cv.size - 1))
          val b = cv.last
          val feed = wh.changes("t", a, b)
            .select($"_commit_version", $"_change_type", $"k", $"v")
            .as[(Long, String, Long, Long)].collect()
          var state = snaps(a).toSet
          feed.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, rows) =>
            val del = rows.filter(_._2 == "delete").map(r => (r._3, r._4)).toSet
            val ins = rows.filter(_._2 == "insert").map(r => (r._3, r._4)).toSet
            assert(del.subsetOf(state),
              s"op$i feed replay v$a->v$b: delete of absent rows ${(del -- state).take(3)}")
            state = state -- del ++ ins
          }
          assert(state === snaps(b).toSet,
            s"op$i feed replay v$a->v$b diverged: " +
            s"extra=${(state -- snaps(b).toSet).take(3)}, " +
            s"missing=${(snaps(b).toSet -- state).take(3)}")
        }
      }
    }
  }

  test("deletion vectors survive every file-preserving commit") {
    import spark.implicits._
    // The round-11 wrong-results find: DVs were keyed to the manifest
    // that was current at delete time and silently DROPPED by every
    // later commit — an append after a GDPR delete resurrected the
    // deleted rows, and pruned reads bypassed the vector entirely.
    // This pins the fixed contract: carry across append / scoped
    // upsert / rollback, DV-aware pruned surfaces, materialization on
    // full rewrite.
    val (wh, tmp) = mk("graft-dv-carry")
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def df(ks: Range) = ks.map(k => (k.toLong, k.toLong * 10, s"p${k % 2}"))
      .toDF("k", "v", "p")
    wh.atomicPublish("t", df(0 until 100), partitionCols = Seq("p"))
    assert(wh.deleteRows("t", $"k" < 20) === 20)

    // 1. APPEND carries: no resurrect, and the carry is a byte-copy
    //    (pure-add delta) visible as a pointer for the new manifest
    wh.append("t", df(100 until 110))
    assert(wh.read("t").count() === 90)
    assert(wh.read("t").filter($"k" < 20).count() === 0,
      "append after delete must not resurrect deleted rows")
    // 2. PRUNED surfaces subtract the same vector
    assert(wh.readSkipping("t", "k", Some(0L), Some(30L)).count() === 11)
    assert(wh.readEquals("t", "k", Seq(5L, 25L)).count() === 1)
    assert(wh.readSkippingIsNull("t", "v", isNull = false)
      .filter($"k" < 20).count() === 0)
    // 3. SCOPED upsert: touched partition rewrites DV-subtracted
    //    (materializes its deletes), untouched partition's entries
    //    carry — deleted rows reappear in NEITHER
    wh.upsert("t", Seq((20L, 999L, "p0"), (21L, 998L, "p1")).toDF("k", "v", "p"),
      keyCols = Seq("k"), partitionCols = Seq("p"))
    assert(wh.read("t").count() === 90)
    assert(wh.read("t").filter($"k" < 20).count() === 0,
      "scoped upsert must neither resurrect rewritten-partition deletes " +
      "(materialized) nor drop untouched-partition ones (carried)")
    assert(wh.read("t").filter($"k" === 20L && $"v" === 999L).count() === 1)
    // 4. TIME TRAVEL + ROLLBACK: each retained snapshot reads with its
    //    own carried vector, so a restore shows the restored state
    //    as it last read — deletes included
    val versions = wh.history("t").map(_._1)
    val prev = versions.dropRight(1).last
    assert(wh.readVersion("t", prev).filter($"k" < 20).count() === 0)
    wh.rollback("t", prev)
    assert(wh.read("t").count() === 90)
    assert(wh.read("t").filter($"k" < 20).count() === 0,
      "rollback must carry the restored snapshot's vector")
    // 5. COMPACT materializes: content identical, lineage reset
    wh.compact("t")
    assert(wh.read("t").count() === 90)
    val cur = wh.history("t").map(_._1).last
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$tmp/t/_DVPTR__manifest_v$cur")),
      "a full rewrite materializes deletes and resets the DV lineage")
  }

  test("bloom-pruned point lookups subtract the deletion vector") {
    import spark.implicits._
    // A deleted row's value still sets its file's Bloom bits, so the
    // prune keeps the file — the MOR subtraction on the pruned read is
    // what keeps the lookup honest. Pin the composition.
    val (wh, _) = mk("graft-bloom-dv")
    wh.atomicPublish("t", spark.range(0, 1000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k"))
      .repartition(8, $"k"))
    wh.buildBloom("t", "s")
    assert(wh.readEquals("t", "s", Seq("s00007", "s00500")).count() === 2)
    assert(wh.deleteRows("t", $"k" === 7L) === 1)
    assert(wh.readEquals("t", "s", Seq("s00007", "s00500"))
      .as[(Long, String)].collect().toSet === Set((500L, "s00500")),
      "a bloom-kept file must still subtract its deleted rows")
  }

  test("deletion vectors subtract across mixed evolved vintages") {
    import spark.implicits._
    // The MOR anti-join keys on per-scan `_metadata` addresses; a
    // snapshot mixing a flat vintage, an evolved hive-partitioned
    // vintage, AND a schema-widened vintage reads as a 3-way
    // unionByName — the vector must subtract from exactly the
    // addressed vintage, and carry across an evolution commit.
    val (wh, _) = mk("graft-dv-evolve")
    wh.atomicPublish("t", spark.range(0, 50).toDF("k").repartition(2))
    assert(wh.deleteRows("t", $"k" < 5) === 5)
    // evolution commit AFTER the delete: partition layout changes,
    // old vintage keeps its layout, the vector must carry
    wh.appendEvolved("t",
      spark.range(50, 80).toDF("k").withColumn("part", $"k" % 2),
      partitionCols = Seq("part"))
    // widened vintage: an extra column, null-filled on older rows
    wh.appendEvolved("t",
      spark.range(80, 90).toDF("k").withColumn("part", $"k" % 2)
        .withColumn("w", $"k" * 2),
      partitionCols = Seq("part"))
    assert(wh.read("t").count() === 85)
    assert(wh.read("t").filter($"k" < 5).count() === 0,
      "deletes must survive partition evolution")
    assert(wh.read("t").filter($"w".isNotNull).count() === 10)
    // a second delete spanning ALL THREE vintages in one vector —
    // the return is the CUMULATIVE vector size: 5 carried + 9 new
    assert(wh.deleteRows("t", $"k" % 10 === 7) === 14)
    assert(wh.read("t").count() === 76)
    assert(wh.read("t").filter($"k" % 10 === 7).count() === 0,
      "one vector must subtract from every vintage it addresses")
    assert(wh.fsck("t").isEmpty)
  }

  test("a delete racing a commit's DV carry window is merged in, never lost") {
    import spark.implicits._
    // casTestHook fires between the commit's carry-forward read and
    // its pointer CAS — exactly the window where a concurrent delete
    // lands. Delete-as-commit (round 12): the racer's delete moves
    // _CURRENT, the append LOSES its CAS and REBASES onto the
    // delete's snapshot, carrying its vector — never a silent loss.
    val (wh, tmp) = mk("graft-dv-race-carry")
    val whB = new Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").repartition(4))
    assert(wh.deleteRows("t", $"k" < 10) === 10)
    var fired = false
    wh.casTestHook = _ => if (!fired) {
      fired = true
      whB.deleteRows("t", $"k" === 50)
    }
    try wh.append("t", spark.range(100, 110).toDF("k"))
    finally wh.casTestHook = _ => ()
    assert(fired, "race hook must have fired")
    assert(wh.read("t").count() === 99,
      "the racer's delete must survive into the committed lineage")
    assert(wh.read("t").filter($"k" === 50 || $"k" < 10).count() === 0)
  }

  test("a commit racing an upsert's read-merge window aborts the upsert loudly") {
    import spark.implicits._
    // Read-modify-write strictness: the upsert's merge is computed
    // from the snapshot it READ, so the publish must CAS against that
    // captured manifest. Re-resolving at publish time (the old shape)
    // let a commit landing between read and publish pass the CAS —
    // and its rows in the touched partition were silently clobbered
    // by the stale merge.
    val (wh, tmp) = mk("graft-upsert-race")
    val whB = new Warehouse(spark, tmp)
    def df(rows: Seq[(Long, Long)]) =
      rows.map { case (k, v) => (k, v, s"p${k % 2}") }.toDF("k", "v", "p")
    wh.atomicPublish("t", df((0L until 20L).map(k => k -> k)),
      partitionCols = Seq("p"))
    var fired = false
    wh.upsertTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", df(Seq(100L -> 100L))) // lands in partition p0
    }
    try intercept[java.util.ConcurrentModificationException] {
      wh.upsert("t", df(Seq(0L -> 999L)), keyCols = Seq("k"),
        partitionCols = Seq("p"))
    } finally wh.upsertTestHook = _ => ()
    assert(fired, "race hook must have fired")
    assert(wh.read("t").filter($"k" === 100L).count() === 1,
      "the racer's append must survive the aborted upsert")
    assert(wh.read("t").count() === 21)
    // retry against the fresh snapshot applies cleanly
    wh.upsert("t", df(Seq(0L -> 999L)), keyCols = Seq("k"),
      partitionCols = Seq("p"))
    assert(wh.read("t").filter($"k" === 0L).select("v")
      .as[Long].head() === 999L)
    assert(wh.read("t").count() === 21)
  }

  test("a commit racing a delete's window fails the delete loudly, never silently") {
    import spark.implicits._
    // The mirrored half: a commit that lands inside deleteRows'
    // resolve→commit window moves _CURRENT, so the delete's own
    // commit CAS (delete-as-commit, round 12) fails loudly — a re-run
    // against the fresh snapshot applies cleanly (never a silent
    // loss).
    val (wh, tmp) = mk("graft-dv-race-del")
    val whB = new Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").repartition(4))
    var fired = false
    wh.dvTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", spark.range(100, 110).toDF("k"))
    }
    try intercept[java.util.ConcurrentModificationException] {
      wh.deleteRows("t", $"k" < 10)
    } finally wh.dvTestHook = _ => ()
    assert(fired, "race hook must have fired")
    assert(wh.read("t").count() === 110,
      "the failed delete must leave the committed snapshot untouched")
    assert(wh.deleteRows("t", $"k" < 10) === 10)
    assert(wh.read("t").count() === 100)
  }

  test("tableHealth: flat manifest answers with zero per-file stat RPCs") {
    import spark.implicits._
    val (wh, _) = mk("graft-health-flat")
    wh.atomicPublish("t", spark.range(0, 1000).toDF("k").repartition(16))
    wh.append("t", spark.range(1000, 1100).toDF("k").repartition(4))
    wh.fileStatRpcs = 0
    val h = wh.tableHealth("t")
    assert(h.files === 20 && h.totalBytes > 0 && h.rows === Some(1100L))
    assert(wh.fileStatRpcs === 0L,
      s"flat-layout health must come from per-dir listings, issued ${wh.fileStatRpcs} stat RPCs")
  }

  test("snapshot retention: retain_snapshots extends time travel and rollback to N versions, DV lineages included") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-retention").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    def df(r: Range) = r.map(k => (k.toLong, k.toLong * 10)).toDF("k", "v")
    wh.atomicPublish("t", df(0 until 100).repartition(4))   // v1
    wh.setSnapshotRetention("t", 4)
    wh.append("t", df(100 until 120))                        // v2
    assert(wh.deleteRows("t", $"k" < 10) === 10)             // v3 (delete IS a commit)
    wh.append("t", df(120 until 130))                        // v4
    wh.append("t", df(130 until 140))                        // v5

    // last 4 versions retained: v2 is the oldest survivor, v1 is gone
    assert(wh.readVersion("t", 2).count() === 120)
    assert(wh.readVersion("t", 3).count() === 110,
      "v3 must read with ITS deletion vector applied")
    assert(wh.readVersion("t", 4).count() === 120)
    assert(wh.readVersion("t", 5).count() === 130)
    intercept[IllegalArgumentException](wh.readVersion("t", 1))

    // rollback beyond previous: restore v3 (its DV rides along)
    wh.rollback("t", 3)                                      // v6
    assert(wh.read("t").count() === 110)
    assert(wh.read("t").filter($"k" < 10).count() === 0,
      "the restored snapshot keeps its deletes")
    // vacuum honors the same policy and the table stays healthy
    wh.vacuumOrphans("t")
    assert(wh.fsck("t").isEmpty)
    assert(wh.readVersion("t", 4).count() === 120, "still retained post-vacuum")
    // tightening retention back to 2 reaps old history on next commit
    wh.setSnapshotRetention("t", 2)
    wh.append("t", df(140 until 150))                        // v7: keeps {v7, v6}
    intercept[IllegalArgumentException](wh.readVersion("t", 4))
    assert(wh.read("t").count() === 120)
  }

  test("time-based retention: retain_ms keeps the wall-clock window, in union with the count knob") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-retms").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    def df(r: Range) = r.map(k => (k.toLong, k.toLong * 10)).toDF("k", "v")
    wh.atomicPublish("t", df(0 until 100).repartition(4))   // v1
    // "time travel must work for an hour": with the count knob at its
    // default 2, the TIME knob alone must keep every snapshot made
    // inside the window alive through the per-commit GC
    wh.setSnapshotRetentionMs("t", 3600L * 1000)
    (1 to 4).foreach(i => wh.append("t", df(100 + i * 10 until 110 + i * 10)))
    (1L to 5L).foreach { v =>
      assert(wh.readVersion("t", v).count() === 100 + (v - 1) * 10,
        s"v$v must stay readable inside the retain_ms window")
    }
    // the window composes with retain_snapshots as a UNION: shrinking
    // the time window to ~nothing leaves the count floor in charge
    wh.setSnapshotRetentionMs("t", 1)
    Thread.sleep(50)
    wh.append("t", df(200 until 210))                        // v6: keeps {v6, v5}
    assert(wh.readVersion("t", 5).count() === 140)
    intercept[IllegalArgumentException](wh.readVersion("t", 3))
    // both knobs together: count 3 ∪ tiny window = 3 kept
    wh.setSnapshotRetention("t", 3)
    wh.append("t", df(210 until 220))                        // v7: {v7, v6, v5}
    assert(wh.readVersion("t", 5).count() === 140)
    intercept[IllegalArgumentException](wh.readVersion("t", 4))
    // clearing the time knob is inert (count stays)
    wh.setSnapshotRetentionMs("t", 0)
    wh.append("t", df(220 until 230))                        // v8: {v8, v7, v6}
    assert(wh.readVersion("t", 6).count() === 150)
    assert(wh.fsck("t").isEmpty)
  }

  test("retention skips a crashed writer's orphan manifest: no slot stolen from committed history") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-orphslot").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    def df(r: Range) = r.map(k => (k.toLong, k.toLong * 10)).toDF("k", "v")
    wh.atomicPublish("t", df(0 until 100).repartition(4))   // v1
    wh.append("t", df(100 until 110))                        // v2 (committed)
    // fabricate a crashed writer: its append writes version dir +
    // manifest + in-flight marker, then dies before the pointer CAS —
    // kill -9 leaves exactly this debris, number BELOW the next commit
    wh.casTestHook = _ => throw new RuntimeException("writer crashed pre-CAS")
    intercept[RuntimeException](wh.append("t", df(110 until 120)))  // orphan v3
    wh.casTestHook = _ => ()
    val root = new org.apache.hadoop.fs.Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_manifest_v3")) &&
      fs.exists(new org.apache.hadoop.fs.Path(root, "_inflight_v3")),
      "fabrication must leave the crashed writer's manifest + marker")
    // age the crash past the in-flight grace (a crash 20 min ago)
    val old = System.currentTimeMillis() - 20L * 60 * 1000
    fs.setTimes(new org.apache.hadoop.fs.Path(root, "_inflight_v3"), old, old)
    // next commit's GC: the orphan must NOT occupy a retention slot —
    // keep-set is {v4, v2} (the real previous), not {v4, orphan v3}.
    // The old newest-N-below-current rule silently shrank retained
    // history to {v4} of committed snapshots.
    wh.append("t", df(120 until 130))                        // v4 (current)
    assert(wh.readVersion("t", 2).count() === 110,
      "the committed previous must survive — the orphan stole its slot before")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_manifest_v3")),
      "the stale orphan itself is reaped by the same sweep")
    // the orphan's rows never committed: v2's 110 + v4's 10
    assert(wh.read("t").count() === 120)
    assert(wh.fsck("t").isEmpty)
  }

  test("NDV maintenance bounds its driver staging: oversized commits lapse coverage, never undercount") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndvcap").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    def df(r: Range) = r.map(k => (k.toLong, k.toLong * 10)).toDF("k", "v")
    wh.atomicPublish("t", df(0 until 400).repartition(4))
    wh.buildNdv("t", "k")
    val est0 = wh.statsApproxNdv("t", "k")
    assert(est0.exists(e => math.abs(e - 400) <= 20))
    // a "giant backfill" append past the cap: maintenance must SKIP
    // (O(cap) driver bytes, not O(files)) and coverage must lapse to
    // None — a partial or stale answer would silently undercount
    wh.ndvMaintainMaxSketches = 1L
    wh.append("t", df(400 until 600).repartition(4))
    assert(wh.statsApproxNdv("t", "k").isEmpty,
      "past-cap commit must lapse coverage, not serve a stale estimate")
    // buildNdv restores coverage over the whole snapshot, and commits
    // back under the cap maintain it again
    wh.ndvMaintainMaxSketches = 16384L
    wh.buildNdv("t", "k")
    wh.append("t", df(600 until 700).repartition(2))
    assert(wh.statsApproxNdv("t", "k").exists(e => math.abs(e - 700) <= 35))
  }

  test("multi-process fuzz: forked JVMs race one chunked+DV table; key-space model holds; kill -9 recovers via vacuum") {
    import spark.implicits._
    // The single-process lifecycle fuzz injects races through hooks;
    // this one gets them for real: three separate JVMs (own Spark
    // sessions, shared NOTHING but the table dir + gen-fenced pointer)
    // run random append/upsert/delete/maintain/vacuum schedules over
    // disjoint key ranges, while a fourth is kill -9'd mid-run. Each
    // survivor journals the k→v map its committed ops imply; the final
    // table restricted to a survivor's range must EQUAL its journal —
    // a stale-base clobber, lost DV, or resurrected row anywhere in
    // the cross-process commit protocol shows up as a diff.
    val tmp = java.nio.file.Files.createTempDirectory("graft-mpfuzz").toString
    val wh = new Warehouse(spark, tmp,
      pointerStore = new graft.sources.GenFencedPointerStore,
      manifestChunkSize = 4)
    // bootstrap a partitioned chunked table (worker id 9's range —
    // nobody mutates it, so these rows must survive everything)
    def pOf(k: Long): String = s"p${k % 3}"
    val static = (900000L until 900040L).map(k => (k, k, pOf(k)))
    wh.atomicPublish("t", static.toDF("k", "v", "p"), partitionCols = Seq("p"))
    assert(wh.deleteRows("t", $"k" >= 900000L && $"k" < 900010L) === 10,
      "a live deletion vector rides the whole run")
    // the rollback/WAP ARENA table "r": worker 5 is its SOLE mutator
    // (designated-worker scheme — rollback rewrites state wholesale,
    // so only one model may own it), while the mutators 1-3 run
    // content-preserving compact/vacuum on it concurrently — the
    // chunk ref-count GC under a concurrent rollback is exactly the
    // interleaving this arms. Retention 8 keeps recorded rollback
    // targets alive long enough to actually be restored mid-churn.
    val arenaInit = (500000L until 500020L).map(k => (k, k, pOf(k)))
    wh.atomicPublish("r", arenaInit.toDF("k", "v", "p"), partitionCols = Seq("p"))
    wh.setSnapshotRetention("r", 12)

    val cp = Seq("target/scala-2.13/test-classes",
      "target/scala-2.13/classes", "/opt/spark/jars/*").mkString(":")
    val javaBin = s"${sys.props("java.home")}/bin/java"
    def launch(id: Int, seed: Long, nOps: Int, role: String = "mutator") =
      new ProcessBuilder(
        javaBin, "-Xmx2g", "-cp", cp, "graft.WhFuzzCli",
        tmp, id.toString, seed.toString, nOps.toString, role)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File(s"$tmp/worker_$id.log"))
      .start()
    // seed-pinned by default; a soak run overrides the base seed (and
    // op count) from the environment to walk fresh interleavings
    val seedBase = sys.env.getOrElse("GRAFT_MPFUZZ_SEED", "7000").toLong
    val nOps = sys.env.getOrElse("GRAFT_MPFUZZ_OPS", "8").toInt
    val survivors = Seq(1, 2, 3).map(i => i -> launch(i, seedBase + i, nOps)) ++
      Seq(5 -> launch(5, seedBase + 5, math.max(20, nOps), "arena"),
        // the reader is the LINEARIZABILITY probe: every snapshot it
        // observes while the others churn must be internally
        // consistent (resolvable, duplicate-free, static range exact)
        6 -> launch(6, seedBase + 6, math.max(6, nOps), "reader"))
    val victim = launch(4, seedBase + 4, 60) // long schedule: guaranteed mid-run
    // second victim: killed DURING a vacuum/GC sweep, not mid-commit —
    // its role spends most wall-clock inside vacuumOrphans
    val victimGc = launch(7, seedBase + 7, 200, "vacuumloop")
    Thread.sleep(15000)
    victim.destroyForcibly() // kill -9: mid-op, possibly mid-commit
    victimGc.destroyForcibly() // kill -9: most likely mid-sweep
    victim.waitFor()
    victimGc.waitFor()
    val exits = survivors.map { case (i, p) => i -> p.waitFor() }
    assert(exits.forall(_._2 == 0),
      s"survivors must complete: exits=$exits — see $tmp/worker_<id>.log")

    // recovery: age out the killed process's in-flight shields (the
    // 15-min grace, compressed by backdating mtimes as a crash 15 min
    // ago would look), then vacuum must reap the debris and fsck must
    // come back clean
    val root = new org.apache.hadoop.fs.Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 20L * 60 * 1000
    fs.listStatus(root).foreach { st =>
      if (st.getPath.getName.startsWith("_inflight_v"))
        fs.setTimes(st.getPath, old, old)
    }
    wh.vacuumOrphans("t")
    assert(wh.fsck("t").isEmpty, s"post-crash fsck: ${wh.fsck("t")}")
    // ditto the arena: the GC-sweep victim may have died mid-sweep on
    // either table — recovery must converge from half-reaped debris
    val rroot = new org.apache.hadoop.fs.Path(s"$tmp/r")
    fs.listStatus(rroot).foreach { st =>
      if (st.getPath.getName.startsWith("_inflight_v"))
        fs.setTimes(st.getPath, old, old)
    }
    wh.vacuumOrphans("r")
    assert(wh.fsck("r").isEmpty, s"post-crash arena fsck: ${wh.fsck("r")}")

    // key-space model check per survivor
    val got = wh.read("t").select("k", "v").as[(Long, Long)].collect()
      .groupBy(_._1 / 100000L)
    Seq(1, 2, 3).foreach { i =>
      val journal = scala.io.Source.fromFile(s"$tmp/worker_$i.tsv", "UTF-8")
        .getLines().map { l =>
          val Array(k, v) = l.split("\t"); (k.toLong, v.toLong)
        }.toSet
      val inTable = got.getOrElse(i.toLong, Array.empty).toSet
      assert(inTable === journal,
        s"worker $i diverged: extra=${(inTable -- journal).take(3)}, " +
        s"missing=${(journal -- inTable).take(3)}")
    }
    // arena model check: the final "r" must equal the designated
    // worker's journal EXACTLY — a rollback raced by a compaction
    // restoring the wrong chunk set, a promote clobbered by a stale
    // maintenance commit, or a reaped-chunk read would all diverge
    val arenaJournal = scala.io.Source.fromFile(s"$tmp/worker_5.tsv", "UTF-8")
      .getLines().map { l =>
        val Array(k, v) = l.split("\t"); (k.toLong, v.toLong)
      }.toSet
    val arenaGot = wh.read("r").select("k", "v").as[(Long, Long)]
      .collect().toSet
    assert(arenaGot === arenaJournal,
      s"arena diverged: extra=${(arenaGot -- arenaJournal).take(3)}, " +
      s"missing=${(arenaJournal -- arenaGot).take(3)}")
    // the pinned seed must actually exercise the ops under test — a
    // green run that happened to draw zero rollbacks/WAP decisions
    // would be vacuous (soak seeds may vary; only the default asserts)
    if (!sys.env.contains("GRAFT_MPFUZZ_SEED")) {
      val log5 = scala.io.Source.fromFile(s"$tmp/worker_5.log", "UTF-8")
        .getLines().mkString("\n")
      val cov = "rollbacks=(\\d+) promotes=(\\d+) abandons=(\\d+)".r
        .findFirstMatchIn(log5)
      assert(cov.exists(m =>
        m.group(1).toInt >= 1 && (m.group(2).toInt + m.group(3).toInt) >= 1),
        s"arena coverage too thin at the pinned seed — bump its nOps: " +
        cov.map(_.matched).getOrElse("no coverage line"))
    }
    // the untouched static range: original rows minus the DV'd ones —
    // any resurrect or loss under cross-process churn fails here
    val staticGot = got.getOrElse(9L, Array.empty).toSet
    assert(staticGot === (900010L until 900040L).map(k => (k, k)).toSet,
      "static range must keep its deletion vector and nothing else")
    // the victim's rows: unknown prefix, but every row must be one its
    // op schedule could have written (k in range, v = k + small bump)
    val victimRows = got.getOrElse(4L, Array.empty)
    assert(victimRows.forall { case (k, v) =>
      k >= 400000L && k < 500000L && v >= k && v - k <= 60 },
      s"victim debris rows are torn: ${victimRows.filterNot { case (k, v) =>
        k >= 400000L && k < 500000L && v >= k && v - k <= 60 }.take(3).toSeq}")
  }

  // ==== change data feed (r14): commit labels, feed semantics, retention

  test("commit kinds: every commit path labels its manifest; pre-label manifests lapse to None") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-cdk")
    wh.atomicPublish("t",
      spark.range(0, 100).toDF("k").withColumn("v", $"k" * 2))         // v1
    wh.setSnapshotRetention("t", 10)
    wh.append("t", spark.range(100, 120).toDF("k")
      .withColumn("v", $"k" * 2))                                      // v2
    wh.upsert("t", spark.range(0, 10).toDF("k").withColumn("v", lit(-1L)),
      Seq("k"))                                                        // v3
    wh.deleteRows("t", col("k") === 5L)                                // v4
    wh.compact("t", numFiles = 1)                                      // v5
    wh.rollback("t", 3)                                                // v6
    assert(wh.commitKind("t", 1) === Some("overwrite"))
    assert(wh.commitKind("t", 2) === Some("append"))
    assert(wh.commitKind("t", 3) === Some("upsert"))
    assert(wh.commitKind("t", 4) === Some("delete"))
    assert(wh.commitKind("t", 5) === Some("optimize"))
    assert(wh.commitKind("t", 6) === Some("restore"))
    assert(wh.commitParent("t", 1) === Some("-"))
    assert(wh.commitParent("t", 2) === Some("_manifest_v1"))
    assert(wh.commitParent("t", 6) === Some("_manifest_v5"))

    // mixed-version: rewrite v6's manifest the way PRE-LABEL code wrote
    // it (metadata lines stripped) — kind/parent lapse to None and
    // every read path still serves the old wire format
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(tmp, "t/_manifest_v6")
    val txt = {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val stripped = txt.split('\n')
      .filterNot(l => l.startsWith("#op\t") || l.startsWith("#prev\t") ||
        l.startsWith("op\t") || l.startsWith("prev\t"))
      .mkString("\n")
    fs.delete(mf, false)
    val out = fs.create(mf, false)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    assert(wh.commitKind("t", 6) === None)
    assert(wh.commitParent("t", 6) === None)
    assert(wh.read("t").count() === 120) // v3 state via the stripped manifest
  }

  test("change feed: each commit emits exactly its row deltas; optimize nothing; restore reverses") {
    import spark.implicits._
    val (wh, _) = mk("graft-cdf")
    wh.atomicPublish("t",
      spark.range(0, 100).toDF("k").withColumn("v", $"k" % 10))        // v1
    wh.setSnapshotRetention("t", 10)
    wh.append("t", spark.range(100, 130).toDF("k")
      .withColumn("v", lit(1L)))                                       // v2
    wh.upsert("t", spark.range(0, 100).filter($"id" % 10 === 0)
      .toDF("k").withColumn("v", lit(99L)), Seq("k"))                  // v3
    wh.deleteRows("t", col("k") % 7 === 0)                             // v4
    wh.compact("t", numFiles = 1)                                      // v5
    wh.rollback("t", 3)                                                // v6

    val modelV1 = (0L until 100L).map(k => (k, k % 10))
    val modelApp = (100L until 130L).map(k => (k, 1L))
    val updKeys = (0L until 100L).filter(_ % 10 == 0)
    val v3state = modelV1.map { case (k, v) =>
      (k, if (k % 10 == 0) 99L else v) } ++ modelApp
    val delRows = v3state.filter(_._1 % 7 == 0)

    val feed = wh.changes("t", 0, 6)
      .select($"_commit_version", $"_change_type", $"k", $"v")
      .as[(Long, String, Long, Long)].collect().toSeq.sorted
    val expect = (
      modelV1.map { case (k, v) => (1L, "insert", k, v) } ++
      modelApp.map { case (k, v) => (2L, "insert", k, v) } ++
      updKeys.map(k => (3L, "delete", k, 0L)) ++
      updKeys.map(k => (3L, "insert", k, 99L)) ++
      delRows.map { case (k, v) => (4L, "delete", k, v) } ++
      delRows.map { case (k, v) => (6L, "insert", k, v) }
    ).sorted
    assert(feed === expect)
  }

  test("change feed: empty window keeps schema; reaped window is loud; window bound enforced") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-cdw")
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))                // v1
    wh.append("t", spark.range(10, 20).toDF("k"))                      // v2
    val empty = wh.changes("t", 2, 2)
    assert(empty.count() === 0)
    assert(empty.columns.toSeq ===
      Seq("k", "_change_type", "_commit_version", "_commit_timestamp"))

    // the window bound is a constructor property (round-15; the former
    // mutable var let any caller silently widen the guard under other
    // readers) — a narrow-window instance over the same root pins the
    // refusal without composing a 256-commit history
    val whNarrow = new Warehouse(spark, tmp,
      changesMaxWindow = 1L)
    val eWin = intercept[IllegalArgumentException] { whNarrow.changes("t", 0, 2) }
    assert(eWin.getMessage.contains("readChangesStream"))
    assert(wh.changes("t", 0, 2).count() === 20,
      "the default-window instance over the same root must stay unaffected")

    wh.append("t", spark.range(20, 30).toDF("k"))  // v3: GC reaps v1 (retention 2)
    val eGone = intercept[IllegalArgumentException] { wh.changes("t", 1, 3) }
    assert(eGone.getMessage.contains("retention"))
  }

  test("change feed: a present-but-unparseable prev label refuses loudly") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-cdm")
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))                // v1
    wh.setSnapshotRetention("t", 10)
    wh.append("t", spark.range(10, 20).toDF("k"))                      // v2
    // corrupt v2's prev label IN PLACE (a truncated header write): the
    // walk must throw, never fall back to v−1 stepping — a guessed
    // parent could pair the wrong base snapshot and emit a wrong delta
    // rewrite through the Hadoop FS (not a raw file edit) so the local
    // filesystem's .crc sidecar is regenerated with the corruption
    val mfPath = new org.apache.hadoop.fs.Path(s"$tmp/t/_manifest_v2")
    val fs = mfPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val content = {
      val in = fs.open(mfPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(content.contains("#prev\t_manifest_v1"), "flat-manifest label expected")
    val out = fs.create(mfPath, true)
    try out.write(content.replace("#prev\t_manifest_v1", "#prev\t_manifest_v")
      .getBytes("UTF-8"))
    finally out.close()
    val e = intercept[IllegalStateException] { wh.changes("t", 1, 2) }
    assert(e.getMessage.contains("unparseable prev label"))
  }

  test("graft_changes TVF: the change feed at the SQL surface") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-tvf")
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))                // v1
    wh.setSnapshotRetention("t", 10)
    wh.append("t", spark.range(10, 15).toDF("k"))                      // v2
    wh.deleteRows("t", col("k") === 3L)                                // v3
    graft.sources.ChangesTvf.register(spark)
    val rows = spark.sql(
      s"""SELECT _commit_version, _change_type, k
          FROM graft_changes('$tmp', 't', 0, 3)""")
      .as[(Long, String, Long)].collect().toSet
    val expect = (0L until 10L).map(k => (1L, "insert", k)).toSet ++
      (10L until 15L).map(k => (2L, "insert", k)) + ((3L, "delete", 3L))
    assert(rows === expect)
    // the feed composes with ordinary SQL on top — one optimized plan
    val agg = spark.sql(
      s"""SELECT _change_type, count(*) AS n
          FROM graft_changes('$tmp', 't', 0, 3) GROUP BY 1 ORDER BY 1""")
      .as[(String, Long)].collect().toSeq
    assert(agg === Seq(("delete", 1L), ("insert", 15L)))
    // 3-arg form: toV defaults to the CURRENT version at analysis
    val toNow = spark.sql(
      s"SELECT k FROM graft_changes('$tmp', 't', 1)")
      .as[Long].collect().toSet
    assert(toNow === (10L until 15L).toSet + 3L,
      "graft_changes(root, table, fromV) must read through current")
    // argument validation is loud at analysis time
    val eArgs = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_changes('$tmp', 't')").collect()
    }
    assert(eArgs.getMessage.contains("3 or 4 arguments"))
  }

  test("change feed: a 50-commit window composes correctly") {
    import spark.implicits._
    val (wh, _) = mk("graft-cdl")
    wh.atomicPublish("t", Seq(0L).toDF("k"))
    wh.setSnapshotRetention("t", 60)
    (1L until 50L).foreach(i => wh.append("t", Seq(i).toDF("k")))
    val feed = wh.changes("t", 0, 50)
    assert(feed.count() === 50)
    assert(feed.where($"_change_type" === "insert").count() === 50)
    assert(feed.agg(sum($"k")).as[Long].head() === 1225L)
    assert(feed.select($"_commit_version").distinct().count() === 50)
  }

  test("change feed: the committed-chain walk steps over reaped orphan numbers") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-cdg")
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))                // v1
    wh.setSnapshotRetention("t", 10)
    wh.append("t", spark.range(10, 20).toDF("k"))                      // v2
    // fake a crashed writer that claimed number 3 and wrote its
    // manifest but died before its pointer CAS — an orphan occupying
    // a version number that later GC reaps (numbers legitimately GAP)
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(tmp, "t/_manifest_v3")
    val out = fs.create(orphan, false)
    try out.write("#op\twrite\n#prev\t_manifest_v2\n_v1/bogus.parquet\n"
      .getBytes("UTF-8"))
    finally out.close()
    val marker = new org.apache.hadoop.fs.Path(tmp, "t/_inflight_v3")
    fs.create(marker, false).close()
    fs.setTimes(marker, System.currentTimeMillis() - 30L * 60 * 1000, -1)
    wh.append("t", spark.range(20, 30).toDF("k"))                      // v4 (3 burned)
    wh.vacuumOrphans("t")
    assert(!fs.exists(orphan), "the off-chain orphan manifest must be reaped")
    // the feed over the gapped window walks parent links, not integers
    val feed = wh.changes("t", 1, 4)
      .select($"_commit_version", $"k").as[(Long, Long)].collect()
    assert(feed.map(_._1).distinct.sorted.toSeq === Seq(2L, 4L))
    assert(feed.map(_._2).sorted.toSeq === (10L until 30L).toSeq)
    // a burned number is refused loudly as a feed anchor
    val e = intercept[IllegalArgumentException] { wh.changes("t", 3, 4) }
    assert(e.getMessage.contains("never committed") ||
      e.getMessage.contains("committed chain"))
  }

  test("retention: a committed snapshot with a leftover crashed marker survives GC (prev-chain)") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-cdr")
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))                // v1
    wh.append("t", spark.range(10, 20).toDF("k"))                      // v2
    wh.append("t", spark.range(20, 30).toDF("k"))                      // v3
    // fake v2's writer crashing BETWEEN pointer CAS and marker delete,
    // discovered only after the grace expired: a stale marker on a
    // COMMITTED, now-superseded snapshot
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(tmp, "t/_inflight_v2")
    fs.create(marker, false).close()
    fs.setTimes(marker, System.currentTimeMillis() - 30L * 60 * 1000, -1)
    wh.vacuumOrphans("t")
    // v2 is the PREVIOUS snapshot — the retention floor (2) must hold
    assert(wh.readVersion("t", 2).count() === 20,
      "committed-with-leftover-marker snapshot was reaped — retention floor violated")
    assert(wh.readVersion("t", 3).count() === 30)
  }

  test("commit CAS clears the superseded manifest's stale leftover marker") {
    import spark.implicits._
    val (wh, tmp) = mk("graft-cdm")
    wh.atomicPublish("t", spark.range(0, 10).toDF("k"))                // v1
    wh.append("t", spark.range(10, 20).toDF("k"))                      // v2
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(tmp, "t/_inflight_v2")
    fs.create(marker, false).close()
    fs.setTimes(marker, System.currentTimeMillis() - 30L * 60 * 1000, -1)
    wh.append("t", spark.range(20, 30).toDF("k"))                      // v3
    assert(!fs.exists(marker),
      "a successful commit must clear its superseded base's stale marker")
  }

  test("one sweep: a commit reaps a dangling branch pointer and an aged unpointed DV dir; vacuum then finds nothing") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val (wh, tmp) = mk("graft-one-sweep")
    val root = new Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").repartition(4)) // v1
    assert(wh.deleteRows("t", $"k" < 10) === 10) // v2: a live DV lineage
    // debris: a branch pointer whose manifest is gone, and a vector dir
    // of the live lineage that its pointer does not name, aged past the
    // in-flight grace
    val dangling = new Path(root, "_BRANCH_x")
    val out = fs.create(dangling, false)
    try out.write("_manifest_v77".getBytes("UTF-8")) finally out.close()
    val superseded = new Path(root, "_dv__manifest_v2_deadbeef")
    spark.range(0, 5).selectExpr("'_v1/bogus' AS _file", "id AS _pos")
      .coalesce(1).write.parquet(superseded.toString)
    val aged = System.currentTimeMillis() - 30L * 60 * 1000
    fs.setTimes(superseded, aged, aged)

    wh.append("t", spark.range(100, 110).toDF("k")) // v3
    assert(!fs.exists(dangling), "the commit must drop the dangling branch pointer")
    assert(!fs.exists(superseded), "the commit must reap the aged unpointed vector dir")
    assert(wh.vacuumOrphans("t") === Nil,
      "a vacuum right after a commit must find nothing left to reap")
    assert(wh.read("t").count() === 100)
    assert(wh.readVersion("t", 2).count() === 90)
    assert(wh.fsck("t").isEmpty)
  }

  test("maintain: the compaction's own commit sweep leaves vacuumOrphans nothing to reap") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val (wh, tmp) = mk("graft-maintain-sweep")
    val root = new Path(s"$tmp/t")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k"))
    (1 to 12).foreach(i => wh.append("t", spark.range(i * 100L, i * 100L + 100).toDF("k")))
    // sketch coverage: maintain restores it with a commit after compacting
    wh.buildNdv("t", "k")
    // crashed-writer debris: an unreferenced dir with a stale marker and
    // a bare stale marker
    fs.mkdirs(new Path(root, "_v90"))
    Seq("_inflight_v90", "_inflight_v91").foreach { m =>
      fs.create(new Path(root, m), true).close()
      fs.setTimes(new Path(root, m), System.currentTimeMillis() - 60L * 60 * 1000, -1)
    }
    val (_, ran, _) = wh.maintain("t", smallFileLimit = 8)
    assert(ran, "threshold crossed — compaction must trigger")
    Seq("_v90", "_inflight_v90", "_inflight_v91").foreach { d =>
      assert(!fs.exists(new Path(root, d)), s"$d survived the compaction's sweep")
    }
    assert(wh.vacuumOrphans("t") === Nil, "maintain needs no trailing vacuum")
    assert(wh.read("t").agg(sum($"k")).head.getLong(0) === (0L until 1300L).sum)
  }

  test("atomicPublishAll: a failing table propagates its own error and leaves no live pool thread") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val (wh, _) = mk("graft-puball")
    // threads of a default-factory executor, as the publish pool uses
    def poolThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.matches("pool-\\d+-thread-\\d+") && t.isAlive)
    val before = poolThreads()
    val boom = udf((k: Long) => { if (k == 3L) throw new IllegalStateException("boom-publish"); k })
    // the sibling publish is still running its job when the failure lands
    val slow = udf((k: Long) => { Thread.sleep(15000); k })
    val e = intercept[Throwable] {
      wh.atomicPublishAll(Seq(
        "bad" -> spark.range(0, 10).select(boom($"id").as("k")),
        "slow" -> spark.range(0, 1, 1, 1).select(slow($"id").as("k"))))
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException],
      "the task's own error must surface, not the pool's wrapper")
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("boom-publish"))), e)
    val deadline = System.nanoTime() + 5000000000L
    while ((poolThreads() -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert((poolThreads() -- before).isEmpty,
      "the pool must be shut down now, its running sibling interrupted")
  }
}
