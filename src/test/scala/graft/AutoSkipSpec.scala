package graft

import graft.plans.PrunedFileIndex
import graft.sources.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Automatic predicate-driven data skipping (graft.plans.AutoSkip):
  * `read(t).where(...)` must plan a file-pruned scan — without the
  * caller invoking readSkipping/readEquals — and the pruned plan must
  * return EXACTLY what the unpruned plan returns, deletes included.
  */
class AutoSkipSpec extends SparkSpec {

  private def mk(tag: String): Warehouse = {
    val tmp = java.nio.file.Files.createTempDirectory(tag).toString
    new Warehouse(spark, tmp)
  }

  /** 10k rows in 8 contiguous-range files on k. */
  private def clustered() = {
    import spark.implicits._
    spark.range(0, 10000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k"))
      .withColumn("d", $"k".cast("double") / 100.0)
      .repartitionByRange(8, $"k")
      .sortWithinPartitions($"k")
  }

  /** (keptFiles, totalFiles) summed over every pruned scan in the
    * OPTIMIZED plan; (-1, -1) when no scan was pruned.
    */
  private def prunedCounts(df: DataFrame): (Int, Int) = {
    val hits = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case hfs: HadoopFsRelation => hfs.location match {
          case p: PrunedFileIndex =>
            Some((p.inputFiles.length, p.orig.inputFiles.length))
          case _ => None
        }
        case _ => None
      }
    }.flatten
    if (hits.isEmpty) (-1, -1)
    else (hits.map(_._1).sum, hits.map(_._2).sum)
  }

  test("auto-skip: narrow range on read().where prunes most files, result exact") {
    import spark.implicits._
    val wh = mk("graft-autoskip1")
    wh.atomicPublish("t", clustered())

    val q = wh.read("t").where($"k" >= 1500L && $"k" <= 1700L)
    val (kept, total) = prunedCounts(q)
    assert(total === 8, s"expected 8-file scan, saw total=$total")
    assert(kept <= 2, s"[1500,1700] spans ≤2 of 8 range files, kept $kept")
    assert(q.orderBy("k").select("k").as[Long].collect()
      === (1500L to 1700L).toArray)
  }

  test("auto-skip: equality and IN prune; pruned result equals unpruned") {
    import spark.implicits._
    val wh = mk("graft-autoskip2")
    wh.atomicPublish("t", clustered())

    val eq = wh.read("t").where($"s" === "s02345")
    val (ke, te) = prunedCounts(eq)
    assert(te === 8 && ke <= 1, s"point probe kept $ke of $te")
    assert(eq.select("k").as[Long].collect() === Array(2345L))

    // IN across two distant files: both must survive, others pruned
    val in = wh.read("t").where($"k".isin(10L, 9990L))
    val (ki, ti) = prunedCounts(in)
    assert(ti === 8 && ki <= 2, s"2-point IN kept $ki of $ti")
    assert(in.orderBy("k").select("k").as[Long].collect()
      === Array(10L, 9990L))
  }

  test("auto-skip: merge-on-read deletes survive pruning") {
    import spark.implicits._
    val wh = mk("graft-autoskip3")
    wh.atomicPublish("t", clustered())
    wh.deleteRows("t", col("k") % 10 === 0)

    val q = wh.read("t").where($"k" >= 1500L && $"k" <= 1700L)
    val (kept, total) = prunedCounts(q)
    assert(total === 8 && kept <= 2, s"kept $kept of $total")
    val want = (1500L to 1700L).filter(_ % 10 != 0).toArray
    assert(q.orderBy("k").select("k").as[Long].collect() === want,
      "pruning must not disturb the DV anti-join")
  }

  test("auto-skip: unsupported predicates leave the plan alone") {
    import spark.implicits._
    val wh = mk("graft-autoskip4")
    wh.atomicPublish("t", clustered())

    // modulo over the column — not a range/equality conjunct
    val m = wh.read("t").where($"k" % 100 === 0)
    assert(prunedCounts(m) === ((-1, -1)), "no extractable conjunct ⇒ no rewrite")
    assert(m.count() === 100)

    // single-column range disjunction — unions the two edge files,
    // drops the middle six (the OrPred path)
    val o = wh.read("t").where($"k" < 10L || $"k" > 9990L)
    val (ko, to) = prunedCounts(o)
    assert(to === 8 && ko <= 2, s"range OR kept $ko of $to")
    assert(o.count() === 19)

    // multi-column OR — conservative no-op (per-column stats cannot
    // drop a file for a cross-column disjunction)
    val o2 = wh.read("t").where($"k" < 10L || $"s" > "s09990")
    assert(prunedCounts(o2) === ((-1, -1)), "cross-column OR must not prune")
    assert(o2.count() === 19)

    // a prunable conjunct ANDed with an opaque one still prunes —
    // the opaque part just contributes nothing
    val mixed = wh.read("t").where($"k" <= 300L && ($"k" % 7 === 0))
    val (km, tm) = prunedCounts(mixed)
    assert(tm === 8 && km <= 1, s"kept $km of $tm")
    assert(mixed.count() === 43)
  }

  test("auto-skip: reaches pure-SQL reads through a temp view") {
    val wh = mk("graft-autoskip5")
    wh.atomicPublish("t", clustered())
    wh.read("t").createOrReplaceTempView("autoskip_t")
    val q = spark.sql(
      "SELECT count(*) AS n FROM autoskip_t WHERE k BETWEEN 4000 AND 4100")
    val (kept, total) = prunedCounts(q)
    assert(total === 8 && kept <= 2, s"SQL WHERE kept $kept of $total")
    assert(q.collect().head.getLong(0) === 101L)
  }

  test("auto-skip: hive partition column probe prunes; types stay full-table") {
    import spark.implicits._
    val wh = mk("graft-autoskip6")
    // mixed-width partition values: full-table inference types pd as
    // string ('9' vs '10'); pruning must respect that typing, and the
    // relation schema is fixed before pruning so no type flip can occur
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("pd", when($"id" < 100, lit("9")).otherwise(lit("10")))
      .repartition($"pd")
    wh.atomicPublish("t", df, partitionCols = Seq("pd"))

    val q = wh.read("t").where($"pd" === "9")
    val (kept, total) = prunedCounts(q)
    assert(kept >= 0 && kept < total, s"partition probe kept $kept of $total")
    assert(q.count() === 100)
    assert(q.schema("pd").dataType ===
      wh.read("t").schema("pd").dataType, "schema must not re-infer")
  }

  test("auto-skip: off-switch keeps plans untouched") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-autoskip7").toString
    val wh = new Warehouse(spark, tmp, autoSkip = false)
    wh.atomicPublish("t", clustered())
    val q = wh.read("t").where($"k" <= 100L)
    assert(prunedCounts(q) === ((-1, -1)), "autoSkip=false must not register scans")
    assert(q.count() === 101)
  }

  test("auto-skip: prefix, OR-as-IN and IS NULL forms prune") {
    import spark.implicits._
    val wh = mk("graft-autoskip9")
    wh.atomicPublish("t", clustered())

    // LIKE 'sNNN%' → byte range [prefix, successor(prefix)]
    val pre = wh.read("t").where($"s".startsWith("s02"))
    val (kp, tp) = prunedCounts(pre)
    assert(tp === 8 && kp <= 2, s"prefix probe kept $kp of $tp")
    assert(pre.count() === 1000)

    // k = a OR k = b over one column folds to an IN set
    val or = wh.read("t").where($"k" === 10L || $"k" === 9990L)
    val (ko, to) = prunedCounts(or)
    assert(to === 8 && ko <= 2, s"OR-as-IN kept $ko of $to")
    assert(or.count() === 2)

    // IS NULL: only the files that actually hold nulls survive
    val withNulls = spark.range(0, 10000).toDF("k")
      .withColumn("s", when($"k" < 1250L, lit(null).cast("string"))
        .otherwise(format_string("s%05d", $"k")))
      .repartitionByRange(8, $"k").sortWithinPartitions($"k")
    wh.atomicPublish("tn", withNulls)
    val nq = wh.read("tn").where($"s".isNull)
    val (kn, tn) = prunedCounts(nq)
    // range-partitioner boundaries are SAMPLED: the nulls (k < 1250)
    // usually land in one file but can straddle the first boundary
    assert(tn === 8 && kn <= 2, s"IS NULL kept $kn of $tn")
    assert(nq.count() === 1250)
  }

  test("auto-skip: special-character partition values never wrong-prune") {
    import spark.implicits._
    // the listed-vs-raw representation trap: a FileIndex renders a
    // literal space as %20 and a literal % as %25; the manifest (and
    // the prune hook's kept set) carries the raw disk name. A
    // normalization mismatch EMPTIES the scan — silent wrong results,
    // not a missed optimization — so every escaping class Spark's
    // hive path layer produces is pinned here through the rule.
    val nasty = Seq("a/b", "a=b", "a%b", "a+b", "a b", "a:b", "100%")
    val df = nasty.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("k", "part")
    val wh = mk("graft-autoskip-esc")
    wh.upsert("t", df, Seq("k"), Seq("part"))
    for ((v, i) <- nasty.zipWithIndex) {
      val got = wh.read("t").where($"part" === v)
        .select($"k").as[Long].collect()
      assert(got.toSeq === Seq(i.toLong),
        s"value '$v' must survive auto-skip on its partition path")
    }
  }

  test("meta-count: count(*) on a clean table collapses to LocalRelation") {
    import spark.implicits._
    val wh = mk("graft-metacount1")
    wh.atomicPublish("t", clustered())

    val q = wh.read("t").agg(count(lit(1)).as("n"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr
    }
    assert(scans.isEmpty, "count(*) must answer from the _rows sidecars, no scan")
    assert(q.head.getLong(0) === 10000L)
  }

  test("meta-agg: integral min/max collapse; string, double and null-file block") {
    import spark.implicits._
    val wh = mk("graft-metaagg1")
    wh.atomicPublish("t", clustered())

    val q = wh.read("t")
      .agg(min($"k").as("lo"), max($"k").as("hi"), count(lit(1)).as("n"))
    assert(q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty,
      "min/max of an integral column must answer from footer stats")
    val r = q.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, 9999L, 10000L)))

    // string and double stats are not exact enough to be answers
    for (c <- Seq("s", "d")) {
      val nq = wh.read("t").agg(max(col(c)).as("m"))
      assert(nq.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr }.nonEmpty,
        s"max($c) must scan — only integral stats are exact answers")
    }

    // a file that is ALL null for the column has no stat ⇒ no collapse.
    // The all-null rows are their own commit (range-partitioner
    // boundaries are sampled, so a single clustered write can leak a
    // few non-null rows into the "all-null" file and defeat the test)
    wh.atomicPublish("tn", spark.range(0, 1250).toDF("k")
      .withColumn("kn", lit(null).cast("long")).coalesce(1))
    wh.append("tn", spark.range(1250, 10000).toDF("k")
      .withColumn("kn", $"k").coalesce(4))
    val nq = wh.read("tn").agg(min($"kn").as("lo"))
    assert(nq.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.nonEmpty,
      "an all-null file makes the column's stats unknown — must scan")
    assert(nq.head.getLong(0) === 1250L)
  }

  test("meta-count: deletes and filters block the collapse; count(col) answers from null sums") {
    import spark.implicits._
    val wh = mk("graft-metacount2")
    wh.atomicPublish("t", clustered())

    // count over a COLUMN = rows − nulls, both exact in the `_rows`
    // sidecars — collapses, and the answer matches the scan's
    val byCol = wh.read("t").agg(count($"k").as("n"))
    assert(byCol.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty,
      "count(col) with exact null sums collapses to metadata")
    assert(byCol.head.getLong(0) === 10000L)

    // ... and with REAL nulls in play the subtraction is exercised:
    // 10000 rows, 5000 null kn ⇒ count(kn) = 5000, zero files opened
    wh.atomicPublish("tnul", spark.range(0, 10000).toDF("k")
      .withColumn("kn", when($"k" % 2 === 0, $"k")).repartition(4))
    val nn = wh.read("tnul").agg(count($"kn").as("n"))
    assert(nn.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty, "null-count collapse")
    assert(nn.head.getLong(0) === 5000L)

    // a filter above the scan must scan (the residual is the truth)
    val filtered = wh.read("t").where($"k" <= 100L).agg(count(lit(1)).as("n"))
    assert(filtered.head.getLong(0) === 101L)

    // a DV table's count goes through the anti-join — never collapsed
    wh.deleteRows("t", col("k") % 10 === 0)
    val afterDel = wh.read("t").agg(count(lit(1)).as("n"))
    assert(afterDel.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.nonEmpty,
      "merge-on-read count must keep the anti-join plan")
    assert(afterDel.head.getLong(0) === 9000L)
  }

  test("graft_table TVF: SQL reads, time travel, pruning and meta-count compose") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tvf-t").toString
    val wh = new Warehouse(spark, tmp)
    wh.atomicPublish("t", clustered())                               // v1
    graft.sources.TableTvf.register(spark)

    // current read + WHERE prunes through pure SQL
    val q = spark.sql(
      s"SELECT count(*) AS n FROM graft_table('$tmp', 't') WHERE k BETWEEN 2000 AND 2100")
    val (kept, total) = prunedCounts(q)
    assert(total === 8 && kept <= 2, s"TVF WHERE kept $kept of $total")
    assert(q.head.getLong(0) === 101L)

    // unfiltered count(*) collapses to metadata
    val c = spark.sql(s"SELECT count(*) AS n FROM graft_table('$tmp', 't')")
    assert(c.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty, "TVF count must be metadata-only")
    assert(c.head.getLong(0) === 10000L)

    // time travel: v1 still reads after a delete commit
    wh.deleteRows("t", col("k") < 5000L)                             // v2
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$tmp', 't')")
      .head.getLong(0) === 5000L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$tmp', 't', 1)")
      .head.getLong(0) === 10000L)

    // loud arity/argument validation
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table('$tmp')").collect()
    }
    assert(err.getMessage.contains("graft_table"))
  }

  test("graft_stats TVF: metadata-only column statistics, no data scan") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tvf-s").toString
    val wh = new Warehouse(spark, tmp)
    wh.atomicPublish("t", clustered())
    graft.sources.StatsTvf.register(spark)

    val q = spark.sql(
      s"SELECT * FROM graft_stats('$tmp', 't') ORDER BY col_name")
    // the stats frame is a LocalRelation-backed toDF — no file scan
    assert(q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty, "stats must be metadata-only")
    val rows = q.collect().map(r => r.getString(0) ->
      (r.getString(1), r.getString(2), r.getString(3), r.get(4), r.get(6))).toMap
    assert(rows("k") === (("long", "0", "9999", 0L, 10000L)))
    assert(rows("s") === (("string", "s00000", "s09999", 0L, 10000L)))
    assert(rows("d")._1 === "double")
    assert(rows.keySet === Set("k", "s", "d"))
  }

  test("graft_history TVF: metadata ledger — version, op, files, raw rows") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tvf-h").toString
    val wh = new Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").coalesce(1)) // v1
    wh.setSnapshotRetention("t", 8)
    wh.append("t", spark.range(100, 150).toDF("k").coalesce(1))      // v2
    wh.deleteRows("t", col("k") % 2 === 0)                           // v3
    graft.sources.HistoryTvf.register(spark)
    val rows = spark.sql(
      s"SELECT * FROM graft_history('$tmp', 't') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.get(3)))
    assert(rows.toSeq === Seq(
      (1L, "overwrite", 1L, 100L),
      (2L, "append", 2L, 150L),   // raw rows: the DV is not subtracted
      (3L, "delete", 2L, 150L)))
  }

  test("auto-skip: date, timestamp and decimal ranges prune by exact footer stats") {
    import spark.implicits._
    val wh = mk("graft-askip-dt")
    // 800 days of data, clustered into 8 contiguous date-range files —
    // the reference's dominant access shape (a time-range WHERE over a
    // date-ordered fact table)
    val df = spark.range(0, 8000).toDF("k")
      .withColumn("day", date_add(lit("2020-01-01").cast("date"),
        ($"k" / 10).cast("int")))
      .withColumn("at", timestamp_seconds(lit(1577836800L) + $"k" * 3600))
      .withColumn("amt", (($"k" * 100 + 7) / 100.0).cast("decimal(12,2)"))
      .repartitionByRange(8, $"day")
      .sortWithinPartitions($"day")
    wh.atomicPublish("t", df)

    // one month out of ~26: ≤2 of 8 files survive
    val d = wh.read("t").where($"day".between("2020-03-01", "2020-03-31"))
    val (kd, td) = prunedCounts(d)
    assert(td === 8 && kd <= 2, s"date range kept $kd of $td")
    assert(d.count() === 310L) // 31 days × 10 rows
    // equality form (the dashboard point probe)
    val de = wh.read("t").where($"day" === "2021-06-15")
    val (ke, te) = prunedCounts(de)
    assert(te === 8 && ke <= 1, s"date point kept $ke of $te")
    assert(de.count() === 10L)

    // timestamp range rides the same files (at is k-ordered too)
    val ts = wh.read("t").where(
      $"at" >= "2020-02-01 00:00:00" && $"at" < "2020-02-02 00:00:00")
    val (kt, tt) = prunedCounts(ts)
    assert(tt === 8 && kt <= 1, s"ts range kept $kt of $tt")
    assert(ts.count() === 24L)

    // decimal bound (int64-backed decimal(12,2) stats, scale-exact).
    // NB a DOUBLE literal would widen the compare to double (cast
    // around the attribute ⇒ conservative no-op) — a decimal literal
    // keeps the attribute bare, the shape real decimal queries have
    val dc = wh.read("t").where($"amt" < lit(BigDecimal("100.00")))
    val (kc, tc) = prunedCounts(dc)
    assert(tc === 8 && kc <= 1, s"decimal bound kept $kc of $tc")
    assert(dc.count() === 100L)

    // all results equal the unpruned truth by construction above; now
    // the null-safety leg: a file that is ALL null for `day` has no
    // stat and must always survive a date probe
    wh.atomicPublish("tn",
      spark.range(0, 100).toDF("k")
        .withColumn("day", lit(null).cast("date")).coalesce(1))
    wh.append("tn", spark.range(100, 200).toDF("k")
      .withColumn("day", lit("2022-05-05").cast("date")).coalesce(1))
    val nq = wh.read("tn").where($"day" === "1999-01-01")
    assert(nq.count() === 0L)
    val nk = wh.read("tn").where($"day".isNull)
    assert(nk.count() === 100L)
  }

  test("auto-skip: hive DATE partition values prune from the path") {
    import spark.implicits._
    val wh = mk("graft-askip-dpart")
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("day", date_add(lit("2024-01-01").cast("date"),
        ($"k" % 10).cast("int")))
    wh.atomicPublish("t", df, partitionCols = Seq("day"))
    val q = wh.read("t")
      .where($"day" >= "2024-01-03" && $"day" <= "2024-01-04")
    val (kept, total) = prunedCounts(q)
    // several files per partition dir; 2 of 10 day-values survive
    assert(total > 0 && kept <= total / 5,
      s"date partition path kept $kept of $total")
    assert(q.count() === 200L)
  }

  test("auto-skip: date-partition chunk headers skip unopened chunks (pdate)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdate").toString
    val wh = new Warehouse(spark, tmp, manifestChunkSize = 4)
    // 40 day-partitions, one file each → 10 chunks of 4; a 4-day probe
    // must decide chunk membership from the header's pdate stats and
    // OPEN only the 1-2 chunks those days can live in
    val df = spark.range(0, 4000).toDF("k")
      .withColumn("day", date_add(lit("2024-01-01").cast("date"),
        ($"k" % 40).cast("int")))
      .repartition($"day")
    wh.atomicPublish("t", df, partitionCols = Seq("day"))
    val q = wh.read("t")
      .where($"day".between("2024-01-11", "2024-01-14"))
    wh.chunkOpens = 0
    val (kept, total) = prunedCounts(q)
    assert(total > 0 && kept < total, s"kept $kept of $total")
    assert(wh.chunkOpens <= 3,
      s"header skip must bound chunk opens, saw ${wh.chunkOpens}")
    assert(q.count() === 400L)

    // string bounds over the same pdate stats: ISO order is
    // chronological, so the header compare stays exact
    val qs = wh.read("t")
      .where($"day".cast("string") >= "2024-02-05")
    assert(qs.count() === 500L)
  }

  test("meta-agg: date and timestamp min/max collapse to sidecar stats") {
    import spark.implicits._
    val wh = mk("graft-metadt")
    wh.atomicPublish("t", spark.range(0, 3650).toDF("k")
      .withColumn("day", date_add(lit("2015-01-01").cast("date"),
        $"k".cast("int")))
      .withColumn("at", timestamp_seconds(lit(1420070400L) + $"k" * 86400))
      .repartition(4))
    val q = wh.read("t").agg(min($"day").as("lo"), max($"day").as("hi"),
      max($"at").as("tmax"))
    assert(q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty,
      "date/ts min-max must answer from metadata alone")
    val r = q.head
    assert(r.getDate(0).toString === "2015-01-01")
    assert(r.getDate(1).toString === "2024-12-28")
    assert(r.getTimestamp(2).toInstant.getEpochSecond ===
      1420070400L + 3649L * 86400)

    // statsMinMax / graft_stats render the same temporal stats as ISO
    assert(wh.statsMinMax("t", "day") === Some(("2015-01-01", "2024-12-28")))
    val ts = wh.statsMinMax("t", "at")
    assert(ts.exists(_._1.toString.startsWith("2015-01-01T00:00:00")), s"got $ts")
  }

  test("meta-agg: GROUP BY partition column collapses to sidecar sums") {
    import spark.implicits._
    val wh = mk("graft-metagrp")
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("pd", ($"k" % 7).cast("long"))
    wh.atomicPublish("t", df, partitionCols = Seq("pd"))
    val q = wh.read("t").groupBy($"pd").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty,
      "GROUP BY partition column must answer from per-directory sums")
    // hive path inference types pd as int (same as an unpruned read)
    val got = q.collect().map(r =>
      r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    assert(got === (0L to 6L).map(p =>
      p -> (0L until 10000L).count(_ % 7 == p).toLong).toMap)

    // grouping by a NON-partition column must scan
    val q2 = wh.read("t").groupBy($"k").agg(count(lit(1)).as("n"))
    assert(q2.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.nonEmpty,
      "data-column GROUP BY has no metadata answer")

    // ... and a deleted table must scan (raw sums are not the truth)
    wh.deleteRows("t", col("k") % 10 === 0)
    val q3 = wh.read("t").groupBy($"pd").agg(count(lit(1)).as("n"))
    assert(q3.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.nonEmpty,
      "merge-on-read grouping must keep the anti-join plan")
    assert(q3.collect().map(_.getLong(1)).sum === 9000L)

    // null partition: the sentinel directory groups as NULL
    val wh2 = mk("graft-metagrp2")
    wh2.atomicPublish("t", spark.range(0, 100).toDF("k")
      .withColumn("pd", when($"k" < 30, $"k" % 2).cast("long")),
      partitionCols = Seq("pd"))
    val q4 = wh2.read("t").groupBy($"pd").agg(count(lit(1)).as("n"))
    assert(q4.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty)
    val m = q4.collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getAs[Number](0).longValue) -> r.getLong(1)).toMap
    assert(m === Map(-1L -> 70L, 0L -> 15L, 1L -> 15L))
  }

  test("bloom probes never consult decimal keys (conservative keep)") {
    import spark.implicits._
    // write-side blooms key on Spark's cast-to-string of the column
    // ("2.50" for decimal(10,2)); a java.math.BigDecimal probe can
    // render the SAME value differently ("2.5") — consulting the
    // bloom with that string wrong-prunes the file (ADVICE r16). The
    // guard must skip the bloom for decimal probes: footer stats
    // still prune (typed-wrapper compare), the bloom never vetoes.
    val wh = mk("graft-bloomdec")
    wh.atomicPublish("t",
      spark.range(0, 8000).toDF("k")
        .withColumn("d", (($"k" % 40) / lit(4.0)).cast("decimal(10,2)"))
        .repartitionByRange(8, $"k"))
    wh.buildBloom("t", "d")
    val probe = new java.math.BigDecimal("2.5") // stored rendering: 2.50
    val (kept, total) = wh.pruneFilesEquals("t", "d", Seq(probe))
    assert(total === 8 && kept.nonEmpty,
      s"decimal probe must keep candidate files, kept ${kept.size} of $total")
    // end-to-end: the point lookup still finds every matching row
    assert(wh.readEquals("t", "d", Seq(probe)).count() ===
      (0L until 8000L).count(k => k % 40 == 10).toLong)
  }

  test("meta-agg: non-canonical partition renderings merge by decoded value") {
    import spark.implicits._
    // two RAW path renderings (`pd=1`, `pd=01`) that hive inference
    // decodes to ONE int value: a real aggregate sees one group, so
    // the sidecar collapse must merge their counts too (ADVICE r16 —
    // keying groups by the raw segment produced duplicate rows here)
    val wh = mk("graft-metagrp3")
    wh.atomicPublish("t",
      spark.range(0, 60).toDF("k").withColumn("pd", lit("1")).unionByName(
        spark.range(0, 40).toDF("k").withColumn("pd", lit("01"))),
      partitionCols = Seq("pd"))
    val q = wh.read("t").groupBy($"pd").agg(count(lit(1)).as("n"))
    assert(q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty,
      "collapse must still fire on the mixed-rendering layout")
    val rows = q.collect().map(r =>
      r.getAs[Number](0).longValue -> r.getLong(1)).toSeq
    assert(rows === Seq(1L -> 100L),
      s"decoded-equal renderings must merge into one group, got ${rows.toList}")
  }

  test("stats/history TVF freshness: frozen per analysis, refreshed per sql() call") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tvf-fresh").toString
    val wh = new Warehouse(spark, tmp)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").coalesce(1))
    graft.sources.StatsTvf.register(spark)
    graft.sources.HistoryTvf.register(spark)
    val statsSql = s"SELECT rows FROM graft_stats('$tmp', 't') WHERE col_name = 'k'"
    val histSql = s"SELECT count(*) AS c FROM graft_history('$tmp', 't')"
    // analyze ONCE, commit, re-execute: the frozen plan still reports
    // the snapshot as of its analysis — the documented contract
    val frozenStats = spark.sql(statsSql)
    val frozenHist = spark.sql(histSql)
    assert(frozenStats.head.getLong(0) === 100L)
    assert(frozenHist.head.getLong(0) === 1L)
    wh.setSnapshotRetention("t", 8)
    wh.append("t", spark.range(100, 250).toDF("k").coalesce(1))
    assert(frozenStats.head.getLong(0) === 100L, "cached plan = analysis-time snapshot")
    assert(frozenHist.head.getLong(0) === 1L)
    // a NEW sql() call re-analyzes and sees the commit
    assert(spark.sql(statsSql).head.getLong(0) === 250L)
    assert(spark.sql(histSql).head.getLong(0) === 2L)
  }

  test("auto-skip fuzz: random predicates — pruned results always equal unpruned") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // three layouts: flat manifest, chunked manifest, hive-partitioned;
    // the same data published into a rule-enrolled warehouse and an
    // autoSkip=false twin — every random predicate must agree exactly
    val base = spark.range(0, 5000).toDF("k")
      .withColumn("s", format_string("s%04d", $"k"))
      .withColumn("g", ($"k" % 37).cast("long"))
      .withColumn("day", date_add(lit("2020-01-01").cast("date"),
        ($"k" % 400).cast("int")))
      .withColumn("at", timestamp_seconds(lit(1577836800L) + $"k" * 60))
    val dataOf = Map(
      "flat" -> base.repartitionByRange(8, $"k").sortWithinPartitions($"k"),
      "chunked" -> base.repartitionByRange(16, $"k").sortWithinPartitions($"k"),
      "parts" -> base.withColumn("pd", ($"k" / 1000).cast("int")))
    val whs = for ((layout, df) <- dataOf.toSeq) yield {
      val t1 = java.nio.file.Files.createTempDirectory(s"graft-asf-$layout").toString
      val t2 = java.nio.file.Files.createTempDirectory(s"graft-asf2-$layout").toString
      val on = new Warehouse(spark, t1,
        manifestChunkSize = if (layout == "chunked") 4 else 1024)
      val off = new Warehouse(spark, t2, autoSkip = false)
      val pc = if (layout == "parts") Seq("pd") else Nil
      on.atomicPublish("t", df, partitionCols = pc)
      off.atomicPublish("t", df, partitionCols = pc)
      // deletes on both sides: pruning must compose with the DV
      on.deleteRows("t", col("k") % 11 === 0)
      off.deleteRows("t", col("k") % 11 === 0)
      (layout, on, off)
    }
    def randPred(): org.apache.spark.sql.Column = rnd.nextInt(8) match {
      case 0 =>
        val lo = rnd.nextInt(5000).toLong
        col("k") >= lo && col("k") <= lo + rnd.nextInt(800)
      case 1 => col("s") === f"s${rnd.nextInt(5200)}%04d" // sometimes absent
      case 2 => col("k").isin(Seq.fill(3)(rnd.nextInt(5200).toLong): _*)
      case 3 => col("s").startsWith(f"s${rnd.nextInt(50)}%02d")
      case 4 => col("g") === rnd.nextInt(40).toLong // overlaps every file
      case 5 => // single-column range disjunction (the OrPred path)
        val a = rnd.nextInt(2000).toLong
        val b = 3000L + rnd.nextInt(2200)
        col("k") < a || col("k") > b
      case 6 => // date range — the exact int32-days stat family
        val d0 = java.time.LocalDate.of(2020, 1, 1)
          .plusDays(rnd.nextInt(420))
        col("day").between(java.sql.Date.valueOf(d0),
          java.sql.Date.valueOf(d0.plusDays(rnd.nextInt(60))))
      case 7 => // timestamp bound — int64-micros stats
        col("at") >= java.sql.Timestamp.from(java.time.Instant
          .ofEpochSecond(1577836800L + rnd.nextInt(5200) * 60L))
    }
    for (_ <- 1 to 16; (layout, on, off) <- whs) {
      val p = randPred()
      val got = on.read("t").where(p).orderBy("k").select("k")
        .as[Long].collect().toSeq
      val want = off.read("t").where(p).orderBy("k").select("k")
        .as[Long].collect().toSeq
      assert(got === want, s"[$layout] predicate $p diverged under auto-skip")
    }
  }

  test("auto-skip: repeated optimization is stable (fixpoint guard)") {
    import spark.implicits._
    val wh = mk("graft-autoskip8")
    wh.atomicPublish("t", clustered())
    val q = wh.read("t").where($"k" >= 9000L)
    // optimizing twice (fresh Dataset each time) must converge to the
    // same pruned shape, not stack wrappers
    (1 to 2).foreach { _ =>
      val qq = wh.read("t").where($"k" >= 9000L)
      val depth = qq.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case hfs: HadoopFsRelation => hfs.location match {
            case p: PrunedFileIndex =>
              var d = 1; var cur = p.orig
              while (cur.isInstanceOf[PrunedFileIndex]) {
                d += 1; cur = cur.asInstanceOf[PrunedFileIndex].orig
              }
              Some(d)
            case _ => None
          }
          case _ => None
        }
      }.flatten
      assert(depth.forall(_ === 1), s"wrapper depth must stay 1, saw $depth")
    }
    assert(q.count() === 1000)
  }
}
