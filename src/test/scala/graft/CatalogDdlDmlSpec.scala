package graft

import graft.sources.Warehouse
import org.apache.spark.sql.functions._

/** A non-`file:` Hadoop scheme backed by the local disk: pins that the
  * catalog's namespace/discovery layer routes through Hadoop
  * `FileSystem` resolution (HDFS/S3-shaped), never `java.io.File` —
  * with a `file:`-only implementation every op below would see an
  * empty catalog.
  */
class MockHadoopFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}

/** Catalog surface: Hadoop-FS routing, DDL completion (ALTER
  * ADD/DROP/RENAME COLUMN, TBLPROPERTIES with reserved-key guards,
  * partitioned CREATE, TIMESTAMP AS OF on self-contained commit
  * times, RENAME, DROP NAMESPACE) and SQL DML onto the warehouse's
  * row-level commit paths — including the round-18 full MERGE surface
  * (conditional/partial/NOT MATCHED BY SOURCE/schema evolution via
  * Warehouse.mergeRows), correlated-subquery DELETE/UPDATE
  * decorrelation, and the readChangeFeed streaming option.
  */
class CatalogDdlDmlSpec extends SparkSpec {

  private lazy val base: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cat17").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", tmp)
    tmp
  }

  override def beforeAll(): Unit = { super.beforeAll(); base; () }

  test("catalog on a Hadoop-routed (non-file:) filesystem: full life cycle") {
    import spark.implicits._
    sc.hadoopConfiguration.set("fs.mockfs.impl", classOf[MockHadoopFs].getName)
    val tmp = java.nio.file.Files.createTempDirectory("graft-mockfs").toString
    val root = s"mockfs:$tmp"
    spark.conf.set("spark.sql.catalog.graft2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft2.root", root)

    spark.sql("CREATE NAMESPACE graft2.hn")
    spark.sql("CREATE TABLE graft2.hn.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft2.hn.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT sum(k) AS s FROM graft2.hn.t").head.getLong(0) === 6L)
    assert(spark.sql("SHOW TABLES IN graft2.hn").count() === 1)
    assert(spark.sql("SHOW NAMESPACES IN graft2").collect()
      .map(_.getString(0)).contains("hn"))
    // deletes + catalog reads compose through the scheme too
    val wh = new Warehouse(spark, s"$root/hn")
    wh.deleteRows("t", col("k") === 2L)
    assert(spark.sql("SELECT sum(k) AS s FROM graft2.hn.t").head.getLong(0) === 4L)
    spark.sql("DROP TABLE graft2.hn.t")
    assert(spark.sql("SHOW TABLES IN graft2.hn").count() === 0)
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; reads null-fill; writes materialize") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.ddl2.ev (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.ddl2.ev VALUES (1, 1.5), (2, 2.5)")
    val before = new Warehouse(spark, s"$base/ddl2")
      .history("ev").size
    spark.sql("ALTER TABLE graft.ddl2.ev ADD COLUMN tag STRING")
    // metadata action: no new snapshot committed
    assert(new Warehouse(spark, s"$base/ddl2")
      .history("ev").size === before)
    val r1 = spark.sql(
      "SELECT k, tag FROM graft.ddl2.ev ORDER BY k").collect()
    assert(r1.map(_.isNullAt(1)).forall(identity))
    spark.sql("INSERT INTO graft.ddl2.ev VALUES (3, 3.5, 'new')")
    val r2 = spark.sql(
      "SELECT k, tag FROM graft.ddl2.ev WHERE tag IS NOT NULL").collect()
    assert(r2.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((3L, "new")))
    // duplicate add fails loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl2.ev ADD COLUMN tag STRING")
    }
  }

  test("partitioned CREATE TABLE: inserts write the declared hive layout; path pruning applies") {
    import spark.implicits._
    spark.sql(
      "CREATE TABLE graft.ddl2.pt (k BIGINT, grp STRING) PARTITIONED BY (grp)")
    spark.sql("""INSERT INTO graft.ddl2.pt
      SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp
      FROM range(0, 1000)""")
    val wh = new Warehouse(spark, s"$base/ddl2")
    // layout: every data file sits under a grp=... dir
    val q = spark.sql(
      "SELECT count(*) AS n FROM graft.ddl2.pt WHERE grp = 'even'")
    assert(q.head.getLong(0) === 500L)
    val kept = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location match {
              case p: graft.plans.PrunedFileIndex =>
                Some((p.inputFiles.length, p.orig.inputFiles.length))
              case _ => None
            }
          case _ => None
        }
    }.flatten
    // one scan per version vintage (the CREATE-time empty flat file is
    // its own un-prunable 0-row vintage): judge the SNAPSHOT total
    assert(kept.nonEmpty && kept.map(_._1).sum < kept.map(_._2).sum,
      s"partition filter should file-prune, got $kept")
    // second insert appends under the same layout (no demotion)
    spark.sql("INSERT INTO graft.ddl2.pt VALUES (2000, 'even')")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.ddl2.pt WHERE grp = 'even'")
      .head.getLong(0) === 501L)
    // create + 2 appends = version 3 (history lists only the retained 2)
    assert(wh.currentVersion("pt") === Some(3L))
  }

  test("TIMESTAMP AS OF resolves by commit time; TBLPROPERTIES surface the GC horizon") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.ddl2.tt (k BIGINT)")
    spark.sql(
      "ALTER TABLE graft.ddl2.tt SET TBLPROPERTIES ('retain_snapshots' = '8')")
    spark.sql("INSERT INTO graft.ddl2.tt SELECT id FROM range(0, 10)")
    Thread.sleep(1100) // fs mtime granularity can be 1s
    val mid = java.time.Instant.now()
    Thread.sleep(1100)
    spark.sql("INSERT INTO graft.ddl2.tt SELECT id FROM range(10, 30)")
    val atMid = spark.sql(
      s"SELECT count(*) AS n FROM graft.ddl2.tt TIMESTAMP AS OF '$mid'")
    assert(atMid.head.getLong(0) === 10L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.ddl2.tt")
      .head.getLong(0) === 30L)
    // horizon readable via SHOW TBLPROPERTIES
    val props = spark.sql("SHOW TBLPROPERTIES graft.ddl2.tt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("retain_snapshots") === Some("8"))
    assert(props.contains("current_version"))
    // an instant before the table existed fails loudly
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM graft.ddl2.tt TIMESTAMP AS OF '1999-01-01'").collect()
    }
  }

  test("RENAME TABLE and DROP NAMESPACE") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.rn")
    spark.sql("CREATE TABLE graft.rn.a AS SELECT id AS k FROM range(0, 5)")
    spark.sql("ALTER TABLE graft.rn.a RENAME TO graft.rn.b")
    assert(spark.sql("SELECT count(*) AS n FROM graft.rn.b").head.getLong(0) === 5L)
    assert(!spark.catalog.tableExists("graft.rn.a"))
    intercept[Exception] { spark.sql("DROP NAMESPACE graft.rn") } // not empty
    spark.sql("DROP NAMESPACE graft.rn CASCADE")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect()
      .forall(_.getString(0) != "rn"))
  }

  test("join-skip fires when BOTH star sides resolve through catalog names") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/js")
    wh.atomicPublish("fact",
      spark.range(0, 10000).toDF("fk").withColumn("v", ($"fk" * 3).cast("double"))
        .repartitionByRange(8, $"fk").sortWithinPartitions($"fk"))
    wh.atomicPublish("dim",
      spark.range(100, 110).toDF("dk").coalesce(1))
    val q = spark.sql(
      """SELECT f.fk FROM graft.js.fact f JOIN graft.js.dim d ON f.fk = d.dk
         ORDER BY f.fk""")
    val kept = q.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location match {
            case p: graft.plans.PrunedFileIndex =>
              Some((p.inputFiles.length, p.orig.inputFiles.length))
            case _ => None
          }
          case _ => None
        }
    }.flatten
    // the 8-file fact must have pruned to the one file the dim's 10
    // keys live in; the 1-file dim is below minFiles and stays whole
    assert(kept.exists { case (k, t) => t === 8 && k <= 1 },
      s"catalog star join should file-prune the fact, got $kept")
    assert(q.as[Long].collect() === (100L until 110L).toArray)
  }

  test("readStream.table: catalog streaming read with checkpoint restart") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/str")
    wh.atomicPublish("ev", spark.range(0, 100).toDF("k").coalesce(1)) // v1
    wh.setSnapshotRetention("ev", 16)
    wh.append("ev", spark.range(100, 150).toDF("k").coalesce(1))      // v2
    val out = java.nio.file.Files.createTempDirectory("graft-strout").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-strchk").toString
    def drain(): Unit = {
      val q = spark.readStream.option("startingVersion", "1")
        .table("graft.str.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() === 150L)
    wh.append("ev", spark.range(150, 170).toDF("k").coalesce(1))      // v3
    drain() // resume: only v3's rows, exactly once
    val served = spark.read.parquet(out)
    assert(served.count() === 170L)
    assert(served.distinct().count() === 170L, "no row served twice")

    // default stance (no startingVersion): future commits only
    val out2 = java.nio.file.Files.createTempDirectory("graft-strout2").toString
    val chk2 = java.nio.file.Files.createTempDirectory("graft-strchk2").toString
    val q2 = spark.readStream.table("graft.str.ev")
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", chk2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val n2 = try spark.read.parquet(out2).count()
      catch { case _: Exception => 0L } // empty dir: nothing served
    assert(n2 === 0L, s"default stream must serve future commits only, got $n2")
  }

  test("readStream.table with readChangeFeed=true: all row kinds + CDF columns, checkpoint restart") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/cdf")
    wh.atomicPublish("t",
      spark.range(0, 10).toDF("k").withColumn("v", $"k".cast("double"))
        .coalesce(1))                                   // v1
    wh.setSnapshotRetention("t", 16)
    wh.deleteRows("t", $"k" < 3)                        // v2: 3 deletes
    wh.updateRows("t", $"k" === 5, Map("v" -> lit(50.0))) // v3: del+ins
    val out = java.nio.file.Files.createTempDirectory("graft-cdfout").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-cdfchk").toString
    def drain(): Unit = {
      val q = spark.readStream
        .option("startingVersion", "1").option("readChangeFeed", "true")
        .table("graft.cdf.t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    val served = spark.read.parquet(out)
    assert(served.columns.toSet ===
      Set("k", "v", "_change_type", "_commit_version", "_commit_timestamp"))
    // commit timestamps ride the manifest ts header: non-null and
    // non-decreasing in version order
    val vts = served.select($"_commit_version", $"_commit_timestamp")
      .distinct().orderBy($"_commit_version").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(vts.forall(_._2 != null))
    assert(vts.sliding(2).forall {
      case Array((_, t1), (_, t2)) => !t2.before(t1)
      case _ => true
    })
    val byKind = served.groupBy($"_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind === Map("insert" -> 11L, "delete" -> 4L),
      s"10 v1 inserts + v3 postimage; 3 v2 deletes + v3 preimage: $byKind")
    // the update pair carries old and new values under one version
    val upd = served.filter($"k" === 5).orderBy($"_commit_version",
      $"_change_type").collect()
      .map(r => (r.getString(2), r.getLong(3), r.getDouble(1)))
    assert(upd.toSeq === Seq(("insert", 1L, 5.0), ("delete", 3L, 5.0),
      ("insert", 3L, 50.0)))
    // checkpoint restart: a new commit streams exactly once
    wh.deleteRows("t", $"k" === 9)                      // v4
    drain()
    val again = spark.read.parquet(out)
    assert(again.count() === 16L)
    assert(again.distinct().count() === 16L, "no row served twice")
    assert(again.filter($"_commit_version" === 4L).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq === Seq((9L, "delete")))
  }

  test("CALL graft.system.*: maintenance verbs from pure SQL") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/proc")
    wh.atomicPublish("t", spark.range(0, 5000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k")).repartition(8))
    wh.append("t", spark.range(5000, 6000).toDF("k")
      .withColumn("s", format_string("s%05d", $"k")).repartition(8))

    // retention from SQL, then compact rewrites to one file
    spark.sql(
      "CALL graft.system.set_retention(ns => 'proc', tbl => 't', snapshots => 8)")
    spark.sql("CALL graft.system.compact(ns => 'proc', tbl => 't', files => 1)")
    assert(wh.history("t").last._2 === 1L, "compact(1) must leave one file")
    assert(spark.sql("SELECT count(*) AS n FROM graft.proc.t")
      .head.getLong(0) === 6000L)

    // bloom + ndv sidecars from SQL — the point-lookup prune uses them
    spark.sql("CALL graft.system.build_bloom(ns => 'proc', tbl => 't', col => 's')")
    spark.sql("CALL graft.system.build_ndv(ns => 'proc', tbl => 't', col => 'k')")
    assert(wh.statsApproxNdv("t", "k").exists(n => n > 5000 && n < 7000))

    // fsck reports healthy; vacuum returns a count row
    val f = spark.sql("CALL graft.system.fsck(ns => 'proc', tbl => 't')").collect()
    assert(f.map(_.getString(0)).sameElements(Array("healthy")), f.mkString(","))
    val v = spark.sql("CALL graft.system.vacuum(ns => 'proc', tbl => 't')").head()
    assert(v.getInt(0) >= 0)

    // unknown procedure fails loudly with the available names
    val e = intercept[Exception] {
      spark.sql("CALL graft.system.nope(ns => 'proc', tbl => 't')").collect()
    }
    assert(e.getMessage.contains("no such graft procedure") ||
      e.getMessage.toLowerCase.contains("nope"))
  }

  test("DELETE FROM: deletion-vector commit, no rewrite; arbitrary predicate") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dml")
    wh.atomicPublish("d",
      spark.range(0, 1000).toDF("k")
        .withColumn("v", $"k" * 2.0).repartition(4))
    val filesBefore = wh.history("d").last._2
    spark.sql("DELETE FROM graft.dml.d WHERE k % 10 = 0 OR v > 1900.0")
    val h = wh.history("d").last
    assert(h._2 === filesBefore, "delete must not rewrite data files")
    assert(wh.commitKind("d", h._1) === Some("delete"))
    val expect = (0L until 1000L).count(k => k % 10 != 0 && k * 2.0 <= 1900.0)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.d")
      .head.getLong(0) === expect.toLong)
    // uncorrelated IN-subquery delete = the S9 anti-join (self-
    // referential subqueries work: the key frame is computed from the
    // captured snapshot before the rewrite publishes)
    val before = spark.sql("SELECT count(*) FROM graft.dml.d").head.getLong(0)
    spark.sql("""DELETE FROM graft.dml.d
      WHERE k IN (SELECT k FROM graft.dml.d WHERE v < 10)""")
    // v = 2k, survivors of the first delete with v<10: k in {1,2,3,4}
    assert(spark.sql("SELECT count(*) FROM graft.dml.d").head.getLong(0)
      === before - 4)
    // unsupported: CORRELATED subquery fails loudly, nothing commits
    val vBefore = wh.currentVersion("d")
    intercept[Exception] {
      spark.sql("""DELETE FROM graft.dml.d
        WHERE EXISTS (SELECT 1 FROM graft.dml.d d2 WHERE d2.k = graft.dml.d.k + 1)""").collect()
    }
    assert(wh.currentVersion("d") === vBefore)
  }

  test("ALTER TABLE DROP COLUMN: metadata-only; inserts continue; re-add refused") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.ddl2.dc (k BIGINT, v DOUBLE, tag STRING)")
    spark.sql("INSERT INTO graft.ddl2.dc VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    val wh = new Warehouse(spark, s"$base/ddl2")
    val before = wh.history("dc").size
    spark.sql("ALTER TABLE graft.ddl2.dc DROP COLUMN tag")
    assert(wh.history("dc").size === before, "drop is a metadata action")
    assert(spark.table("graft.ddl2.dc").columns.toSeq === Seq("k", "v"))
    // inserts against the narrowed schema work; totals unaffected
    spark.sql("INSERT INTO graft.ddl2.dc VALUES (3, 3.5)")
    assert(spark.sql("SELECT sum(k) AS s FROM graft.ddl2.dc").head.getLong(0) === 6L)
    // re-adding the dropped name would resurrect pre-drop values
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl2.dc ADD COLUMN tag STRING")
    }
    assert(e.getMessage.contains("dropped"))
    // a fresh name is fine, and an added-then-dropped column vanishes
    spark.sql("ALTER TABLE graft.ddl2.dc ADD COLUMN note STRING")
    spark.sql("ALTER TABLE graft.ddl2.dc DROP COLUMN note")
    assert(spark.table("graft.ddl2.dc").columns.toSeq === Seq("k", "v"))
    // partition columns are layout, not droppable
    spark.sql("CREATE TABLE graft.ddl2.dcp (k BIGINT, p STRING) PARTITIONED BY (p)")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl2.dcp DROP COLUMN p")
    }
  }

  test("UPDATE racing a concurrent commit aborts loudly, nothing torn") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/race")
    wh.atomicPublish("u", spark.range(0, 1000).toDF("k")
      .withColumn("v", $"k".cast("double")).repartition(4))
    val wh2 = new Warehouse(spark, s"$base/race")
    wh.updateTestHook = { _ =>
      wh2.append("u", spark.range(1000, 1100).toDF("k")
        .withColumn("v", $"k".cast("double")).coalesce(1))
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        wh.updateRows("u", col("k") < 10, Map("v" -> lit(-1.0)))
      }
    } finally wh.updateTestHook = _ => ()
    // the racer's append won; the update left no partial state
    assert(wh.read("u").count() === 1100L)
    assert(wh.read("u").where($"v" === -1.0).count() === 0L)
    assert(wh.fsck("u").isEmpty, wh.fsck("u").mkString("; "))
    // retry on the fresh snapshot succeeds
    assert(wh.updateRows("u", col("k") < 10, Map("v" -> lit(-1.0))) === 10L)
    assert(wh.read("u").where($"v" === -1.0).count() === 10L)
  }

  test("TRUNCATE TABLE: empty-snapshot commit, time travel survives") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/tr")
    wh.atomicPublish("t", spark.range(0, 500).toDF("k").coalesce(1)) // v1
    wh.setSnapshotRetention("t", 8)
    spark.sql("TRUNCATE TABLE graft.tr.t")
    assert(spark.sql("SELECT count(*) AS n FROM graft.tr.t").head.getLong(0) === 0L)
    // a commit, not a purge: the pre-truncate snapshot is still readable
    assert(spark.sql("SELECT count(*) AS n FROM graft.tr.t VERSION AS OF 1")
      .head.getLong(0) === 500L)
    spark.sql("INSERT INTO graft.tr.t VALUES (7)")
    assert(spark.sql("SELECT sum(k) AS s FROM graft.tr.t").head.getLong(0) === 7L)
  }

  test("UPDATE: one atomic commit, cost ∝ updated rows") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dml")
    wh.atomicPublish("u",
      spark.range(0, 1000).toDF("k")
        .withColumn("v", $"k".cast("double"))
        .withColumn("s", format_string("s%04d", $"k")).repartition(4))
    val before = wh.history("u").size
    spark.sql("UPDATE graft.dml.u SET v = v * 10.0, s = 'touched' WHERE k < 7")
    assert(wh.history("u").size === before + 1)
    val h = wh.history("u").last
    assert(wh.commitKind("u", h._1) === Some("update"))
    val rows = spark.sql(
      "SELECT k, v, s FROM graft.dml.u WHERE k < 9 ORDER BY k").collect()
    assert(rows.length === 9)
    rows.foreach { r =>
      val k = r.getLong(0)
      if (k < 7) { assert(r.getDouble(1) === k * 10.0 && r.getString(2) === "touched") }
      else { assert(r.getDouble(1) === k.toDouble && r.getString(2) === f"s$k%04d") }
    }
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.u")
      .head.getLong(0) === 1000L)
    // updating already-deleted rows must not resurrect them
    spark.sql("DELETE FROM graft.dml.u WHERE k BETWEEN 100 AND 199")
    spark.sql("UPDATE graft.dml.u SET v = -1.0 WHERE k BETWEEN 150 AND 249")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.u")
      .head.getLong(0) === 900L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.dml.u WHERE v = -1.0")
      .head.getLong(0) === 50L)
    // keyed shape: WHERE k IN (<uncorrelated subquery>) — one atomic
    // keyed-update commit, self-referential subquery included
    spark.sql("""UPDATE graft.dml.u SET s = 'keyed'
      WHERE k IN (SELECT k FROM graft.dml.u WHERE k >= 990)""")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.dml.u WHERE s = 'keyed'")
      .head.getLong(0) === 10L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.u")
      .head.getLong(0) === 900L)
  }

  test("MERGE INTO: upsert shape onto Warehouse.upsert; delete shape; negatives") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dml")
    wh.atomicPublish("m",
      spark.range(0, 100).toDF("k").withColumn("v", $"k".cast("double")))
    spark.range(50, 120).toDF("k").withColumn("v", lit(0.5))
      .createOrReplaceTempView("m_src")
    spark.sql("""MERGE INTO graft.dml.m t USING m_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.m")
      .head.getLong(0) === 120L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.m WHERE v = 0.5")
      .head.getLong(0) === 70L)
    // delete-matching shape
    spark.range(0, 10).toDF("k").createOrReplaceTempView("m_del")
    spark.sql("""MERGE INTO graft.dml.m t USING m_del s ON t.k = s.k
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.m")
      .head.getLong(0) === 110L)
    // matched-update-only: not-matched source rows are dropped
    spark.range(100, 200).toDF("k").withColumn("v", lit(9.9))
      .createOrReplaceTempView("m_upd")
    spark.sql("""MERGE INTO graft.dml.m t USING m_upd s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *""")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.m")
      .head.getLong(0) === 110L, "update-only must not insert")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.m WHERE v = 9.9")
      .head.getLong(0) === 20L) // keys 100..119 exist
    // not-matched-insert-only: idempotent ingest
    spark.range(115, 130).toDF("k").withColumn("v", lit(7.7))
      .createOrReplaceTempView("m_ins")
    spark.sql("""MERGE INTO graft.dml.m t USING m_ins s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.m")
      .head.getLong(0) === 120L)
    spark.sql("""MERGE INTO graft.dml.m t USING m_ins s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT *""") // re-run inserts nothing
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.m")
      .head.getLong(0) === 120L)
    // negative: non-equi ON
    intercept[Exception] {
      spark.sql("""MERGE INTO graft.dml.m t USING m_src s ON t.k < s.k
        WHEN MATCHED THEN DELETE""")
    }
  }

  test("MERGE generic form: conditional actions, partial SET, multi-branch — one atomic commit") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dmlg")
    wh.atomicPublish("g",
      spark.range(0, 100).toDF("k").withColumn("v", $"k".cast("double"))
        .withColumn("w", lit("x")))
    spark.range(50, 150).toDF("k").withColumn("delta", lit(1000.0))
      .createOrReplaceTempView("g_src")
    val before = wh.history("g").size
    spark.sql("""MERGE INTO graft.dmlg.g t USING g_src s ON t.k = s.k
      WHEN MATCHED AND t.v < 70 THEN UPDATE SET v = t.v + s.delta
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.k < 130 THEN INSERT (k, v) VALUES (s.k, s.delta)""")
    // one commit, not one per clause
    assert(wh.history("g").size === before + 1)
    val rows = spark.sql(
      "SELECT k, v, w FROM graft.dmlg.g ORDER BY k").collect()
    assert(rows.length === 100) // 50 untouched + 20 updated + 30 inserted
    // first-match-wins: 50..69 updated (v = k + 1000), 70..99 deleted
    assert(rows.count(r => r.getDouble(1) >= 1050 && r.getDouble(1) < 1100) === 20)
    assert(!rows.exists(r => r.getLong(0) >= 70 && r.getLong(0) < 100))
    // inserts: 100..129, unassigned w null-fills
    val ins = rows.filter(r => r.getLong(0) >= 100)
    assert(ins.length === 30 && ins.forall(r =>
      r.getDouble(1) === 1000.0 && r.isNullAt(2)))
    // untouched rows keep their values
    assert(rows.filter(_.getLong(0) < 50).forall(r =>
      r.getDouble(1) === r.getLong(0).toDouble && r.getString(2) == "x"))
  }

  test("MERGE generic into a declared-layout table establishes the hive layout") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.dmlg.pl (k BIGINT, grp STRING, v DOUBLE) " +
      "PARTITIONED BY (grp)")
    spark.range(0, 100).toDF("k")
      .withColumn("grp", when($"k" % 2 === 0, "even").otherwise("odd"))
      .withColumn("v", $"k".cast("double"))
      .createOrReplaceTempView("pl_src")
    // generic path (conditional insert) into the still-empty table:
    // the declared layout must be established, not the CREATE-time
    // flat zero-row vintage
    spark.sql("""MERGE INTO graft.dmlg.pl t USING pl_src s ON t.k = s.k
      WHEN NOT MATCHED AND s.v >= 10.0 THEN INSERT *""")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dmlg.pl")
      .head.getLong(0) === 90L)
    val vdirs = new java.io.File(s"$base/dmlg/pl").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("_v"))
      .sortBy(_.getName.stripPrefix("_v").toLong)
    val hive = vdirs.last.listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_.startsWith("_")) // stats/rows sidecar dirs
    assert(hive.toSet === Set("grp=even", "grp=odd"),
      s"merge must write the declared hive layout, got ${hive.mkString(",")}")
    // partition pruning applies to the merged data
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.dmlg.pl WHERE grp = 'even'")
      .head.getLong(0) === 45L)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: update and delete branches") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dmlg")
    wh.atomicPublish("nb",
      spark.range(0, 40).toDF("k").withColumn("v", $"k".cast("double")))
    spark.range(20, 50).toDF("k").withColumn("v", lit(-1.0))
      .createOrReplaceTempView("nb_src")
    spark.sql("""MERGE INTO graft.dmlg.nb t USING nb_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -2.0""")
    val rows = spark.sql("SELECT k, v FROM graft.dmlg.nb ORDER BY k").collect()
    // 0..4 deleted; 5..19 set to -2; 20..39 matched (−1); 40..49 inserted (−1)
    assert(rows.length === 45)
    assert(!rows.exists(_.getLong(0) < 5))
    assert(rows.filter(r => r.getLong(0) >= 5 && r.getLong(0) < 20)
      .forall(_.getDouble(1) === -2.0))
    assert(rows.filter(_.getLong(0) >= 20).forall(_.getDouble(1) === -1.0))
  }

  test("MERGE explicit non-star assignment SET v = s.other_v executes correctly (r17 advice)") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dmlg")
    wh.atomicPublish("sv",
      spark.range(0, 10).toDF("k").withColumn("v", lit(0.0)))
    // source carries BOTH a same-named `v` (decoy) and `other_v`
    spark.range(0, 10).toDF("k").withColumn("v", lit(-99.0))
      .withColumn("other_v", lit(7.0)).createOrReplaceTempView("sv_src")
    spark.sql("""MERGE INTO graft.dmlg.sv t USING sv_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.other_v""")
    val vs = spark.sql("SELECT v FROM graft.dmlg.sv").collect().map(_.getDouble(0))
    assert(vs.length === 10 && vs.forall(_ === 7.0),
      "SET v = s.other_v must use other_v, not the same-named decoy")
  }

  test("MERGE cardinality violation (duplicate source keys) fails loudly") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dmlg")
    wh.atomicPublish("cv",
      spark.range(0, 5).toDF("k").withColumn("v", lit(1.0)))
    Seq((2L, 5.0), (2L, 6.0)).toDF("k", "v").createOrReplaceTempView("cv_src")
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO graft.dmlg.cv t USING cv_src s ON t.k = s.k
        WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v""")
    }
    assert(e.getMessage.contains("cardinality") ||
      Option(e.getCause).exists(_.getMessage.contains("cardinality")))
    // table unchanged — the violation aborted before any commit
    assert(spark.sql("SELECT sum(v) AS s FROM graft.dmlg.cv")
      .head.getDouble(0) === 5.0)
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the table via the metadata AddColumn path") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dmlg")
    wh.atomicPublish("ev",
      spark.range(0, 10).toDF("k").withColumn("v", $"k".cast("double")))
    spark.range(5, 15).toDF("k").withColumn("v", lit(0.5))
      .withColumn("tag", concat(lit("t"), $"k"))
      .createOrReplaceTempView("ev_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.dmlg.ev t
      USING ev_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql(
      "SELECT k, v, tag FROM graft.dmlg.ev ORDER BY k").collect()
    assert(rows.length === 15)
    // pre-merge rows: tag null; matched + inserted: tag from source
    assert(rows.filter(_.getLong(0) < 5).forall(_.isNullAt(2)))
    assert(rows.filter(_.getLong(0) >= 5).forall(r =>
      r.getString(2) == s"t${r.getLong(0)}" && r.getDouble(1) === 0.5))
    // the widening is the guarded metadata path: re-adding a dropped
    // column via evolution is refused
    spark.sql("ALTER TABLE graft.dmlg.ev DROP COLUMN tag")
    spark.range(0, 2).toDF("k").withColumn("v", lit(1.0))
      .withColumn("tag", lit("zombie")).createOrReplaceTempView("ev_src2")
    intercept[Exception] {
      spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.dmlg.ev t
        USING ev_src2 s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *""")
    }
  }

  test("correlated subquery DML: EXISTS / IN decorrelate onto the keyed commit paths") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/dmlc")
    wh.atomicPublish("t1",
      spark.range(0, 100).toDF("k").withColumn("grp", $"k" % 10)
        .withColumn("v", $"k".cast("double")).repartition(4))
    wh.atomicPublish("dim",
      Seq((3L, "del"), (5L, "del"), (7L, "keep")).toDF("g", "action"))
    val filesBefore = wh.history("t1").last._2
    // DELETE WHERE EXISTS (correlated on grp) → keyed DV delete
    spark.sql("""DELETE FROM graft.dmlc.t1 t WHERE EXISTS (
      SELECT 1 FROM graft.dmlc.dim d WHERE d.g = t.grp AND d.action = 'del')""")
    val hDel = wh.history("t1").last
    assert(hDel._2 === filesBefore, "correlated delete must be a DV commit")
    assert(wh.commitKind("t1", hDel._1) === Some("delete"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.dmlc.t1")
      .head.getLong(0) === 80L) // grp 3 and 5 gone
    // UPDATE WHERE EXISTS → one keyed-update commit
    spark.sql("""UPDATE graft.dmlc.t1 t SET v = -1.0 WHERE EXISTS (
      SELECT 1 FROM graft.dmlc.dim d WHERE d.g = t.grp AND d.action = 'keep')""")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dmlc.t1 WHERE v = -1.0")
      .head.getLong(0) === 10L) // grp 7
    assert(wh.commitKind("t1", wh.history("t1").last._1) === Some("update"))
    // correlated IN: value column + correlated equality both join keys
    spark.sql("""DELETE FROM graft.dmlc.t1 t WHERE k IN (
      SELECT d.g + 10 FROM graft.dmlc.dim d WHERE d.g = t.grp)""")
    // k = grp + 10 with grp in dim ⇒ k ∈ {13,15,17}, 13/15 already gone
    assert(spark.sql("SELECT count(*) AS n FROM graft.dmlc.t1")
      .head.getLong(0) === 79L)
    assert(!spark.sql("SELECT k FROM graft.dmlc.t1").collect()
      .exists(_.getLong(0) == 17L))
    // non-equi correlation still fails loudly, nothing commits
    val vBefore = wh.currentVersion("t1")
    intercept[Exception] {
      spark.sql("""DELETE FROM graft.dmlc.t1 t WHERE EXISTS (
        SELECT 1 FROM graft.dmlc.dim d WHERE d.g = t.grp + 1)""").collect()
    }
    assert(wh.currentVersion("t1") === vBefore)
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only; old files read through the mapping") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.ddl2.rc (k BIGINT, val DOUBLE, tag STRING)")
    spark.sql("INSERT INTO graft.ddl2.rc VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    val wh = new Warehouse(spark, s"$base/ddl2")
    val before = wh.history("rc").size
    spark.sql("ALTER TABLE graft.ddl2.rc RENAME COLUMN val TO amount")
    assert(wh.history("rc").size === before, "rename is a metadata action")
    assert(spark.table("graft.ddl2.rc").columns.toSeq ===
      Seq("k", "amount", "tag"))
    // pre-rename files' values read through the mapping
    assert(spark.sql(
      "SELECT sum(amount) AS s FROM graft.ddl2.rc").head.getDouble(0) === 4.0)
    // new writes carry the new name; mixed-era reads stay consistent
    spark.sql("INSERT INTO graft.ddl2.rc VALUES (3, 3.0, 'c')")
    assert(spark.sql(
      "SELECT sum(amount) AS s FROM graft.ddl2.rc").head.getDouble(0) === 7.0)
    // filters on the renamed column hit old AND new files
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.ddl2.rc WHERE amount > 2.0")
      .head.getLong(0) === 2L)
    // chain: amount -> total composes to one mapping hop
    spark.sql("ALTER TABLE graft.ddl2.rc RENAME COLUMN amount TO total")
    assert(spark.sql(
      "SELECT sum(total) AS s FROM graft.ddl2.rc").head.getDouble(0) === 7.0)
    assert(wh.tableProp("rc", "renamed_cols") ===
      Some("val:total,amount:total"),
      "every historical physical name maps to the current one")
    // DML through the renamed name reaches pre-rename rows
    spark.sql("UPDATE graft.ddl2.rc SET total = 10.0 WHERE k = 1")
    assert(spark.sql(
      "SELECT sum(total) AS s FROM graft.ddl2.rc").head.getDouble(0) === 15.5)
    // guards: re-adding the physical source name; renaming onto an
    // existing column; renaming a partition column
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl2.rc ADD COLUMN val DOUBLE")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl2.rc RENAME COLUMN tag TO total")
    }
    // rename back to the original physical name drops its identity
    // pair but keeps the intermediate epoch's files mapped
    spark.sql("ALTER TABLE graft.ddl2.rc RENAME COLUMN total TO val")
    assert(wh.tableProp("rc", "renamed_cols") ===
      Some("amount:val,total:val"),
      "the update rewrote a file during the total epoch — its bytes map too")
    assert(spark.sql(
      "SELECT sum(val) AS s FROM graft.ddl2.rc").head.getDouble(0) === 15.5)
  }

  test("mergeRows racing a concurrent commit aborts loudly, nothing torn; Scala evolveCols") {
    import spark.implicits._
    import graft.sources.Warehouse.{MergeInsertClause, MergeUpdateClause}
    val wh = new Warehouse(spark, s"$base/race")
    wh.atomicPublish("m", spark.range(0, 1000).toDF("k")
      .withColumn("v", $"k".cast("double")).repartition(4))
    val src = spark.range(500, 1200).toDF("k").withColumn("nv", lit(-7.0))
    val wh2 = new Warehouse(spark, s"$base/race")
    wh.mergeTestHook = { _ =>
      wh2.append("m", spark.range(5000, 5100).toDF("k")
        .withColumn("v", $"k".cast("double")).coalesce(1))
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        wh.mergeRows("m", src, Seq("k" -> "k"),
          matched = Seq(MergeUpdateClause(None,
            Map("v" -> org.apache.spark.sql.functions.col("_src_nv")))),
          notMatched = Seq(MergeInsertClause(None,
            Map("k" -> org.apache.spark.sql.functions.col("_src_k"),
              "v" -> org.apache.spark.sql.functions.col("_src_nv")))),
          notMatchedBySource = Nil)
      }
    } finally wh.mergeTestHook = _ => ()
    assert(wh.read("m").count() === 1100L)
    assert(wh.read("m").where($"v" === -7.0).count() === 0L,
      "the aborted merge must leave no partial state")
    assert(wh.fsck("m").isEmpty, wh.fsck("m").mkString("; "))
    // retry on the fresh snapshot succeeds, counts returned
    val (u, d, i) = wh.mergeRows("m", src, Seq("k" -> "k"),
      matched = Seq(MergeUpdateClause(None,
        Map("v" -> org.apache.spark.sql.functions.col("_src_nv")))),
      notMatched = Seq(MergeInsertClause(None,
        Map("k" -> org.apache.spark.sql.functions.col("_src_k"),
          "v" -> org.apache.spark.sql.functions.col("_src_nv")))),
      notMatchedBySource = Nil)
    assert((u, d, i) === (500L, 0L, 200L))
    assert(wh.read("m").where($"v" === -7.0).count() === 700L)
    // Scala-API schema evolution: a brand-new column via evolveCols
    val (u2, _, _) = wh.mergeRows("m",
      spark.range(0, 10).toDF("k").withColumn("tag", lit("t")),
      Seq("k" -> "k"),
      matched = Seq(MergeUpdateClause(None,
        Map("tag" -> org.apache.spark.sql.functions.col("_src_tag")))),
      notMatched = Nil, notMatchedBySource = Nil,
      evolveCols = Seq(org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType)))
    assert(u2 === 10L)
    assert(wh.read("m").where($"tag" === "t").count() === 10L)
    assert(wh.read("m").where($"tag".isNull).count() === 1290L)
  }

  test("internal bookkeeping TBLPROPERTIES are not a SQL surface") {
    spark.sql("CREATE TABLE graft.ddl2.rp (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.ddl2.rp VALUES (1, 1.0)")
    spark.sql("ALTER TABLE graft.ddl2.rp ADD COLUMN tag STRING")
    spark.sql("ALTER TABLE graft.ddl2.rp DROP COLUMN v")
    // UNSET dropped_cols would resurrect v's old bytes; SET added_cols /
    // partition_cols corrupts schema/layout accounting — all loud
    for (sql <- Seq(
        "ALTER TABLE graft.ddl2.rp UNSET TBLPROPERTIES ('dropped_cols')",
        "ALTER TABLE graft.ddl2.rp SET TBLPROPERTIES ('added_cols' = 'x INT')",
        "ALTER TABLE graft.ddl2.rp SET TBLPROPERTIES ('partition_cols' = 'k')",
        "ALTER TABLE graft.ddl2.rp SET TBLPROPERTIES ('current_version' = '0')"))
      {
        val e = intercept[Exception] { spark.sql(sql) }
        assert(e.getMessage.contains("internal schema/layout"), sql)
      }
    // CREATE TABLE TBLPROPERTIES refuses them too
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.ddl2.rp2 (k BIGINT) " +
        "TBLPROPERTIES ('dropped_cols' = 'k')")
    }
    // the supported control surface still works
    spark.sql(
      "ALTER TABLE graft.ddl2.rp SET TBLPROPERTIES ('retain_snapshots' = '4')")
    assert(spark.sql("SHOW TBLPROPERTIES graft.ddl2.rp").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .get("retain_snapshots") === Some("4"))
  }

  test("metadata-colliding namespace names are refused at create") {
    for (ns <- Seq("_sys", ".hidden")) {
      val e = intercept[Exception] {
        spark.sql(s"CREATE NAMESPACE graft.`$ns`")
      }
      assert(e.getMessage.contains("must not start"), ns)
    }
  }

  test("TIMESTAMP AS OF is self-contained: perturbed mtimes don't move resolution; pre-label non-monotonic mtimes fail loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tt18").toString
    val wh = new Warehouse(spark, dir)
    wh.setSnapshotRetention("tt", 8)
    wh.atomicPublish("tt", spark.range(0, 10).toDF("k"))
    Thread.sleep(20)
    val mid = System.currentTimeMillis()
    Thread.sleep(20)
    wh.append("tt", spark.range(10, 30).toDF("k"))
    val atMid = wh.versionAtTimestamp("tt", mid)
    assert(atMid.isDefined)
    assert(wh.readVersion("tt", atMid.get).count() === 10L)
    // rsync-restore simulation: rewrite BOTH manifests' mtimes to now,
    // in version-reversed order — the `ts` header, not the mtime, is
    // the commit time, so resolution must not move
    val mfs = new java.io.File(s"$dir/tt").listFiles()
      .filter(_.getName.matches("_manifest_v\\d+"))
      .sortBy(_.getName.stripPrefix("_manifest_v").toLong)
    assert(mfs.length >= 2)
    mfs.reverse.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(System.currentTimeMillis() + 60000 + i * 2000)
    }
    assert(wh.versionAtTimestamp("tt", mid) === atMid)
    // pre-label manifests (ts header stripped): the mtime fallback must
    // detect the non-monotonic restore signature and fail loudly
    mfs.foreach { f =>
      val txt = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val stripped = txt.split('\n').filterNot(l =>
        l.startsWith("#ts\t") || l.startsWith("ts\t")).mkString("\n")
      java.nio.file.Files.write(f.toPath, stripped.getBytes("UTF-8"))
      // drop the local-FS checksum sidecar invalidated by the rewrite
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    mfs.reverse.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(System.currentTimeMillis() + 120000 + i * 2000)
    }
    val e = intercept[IllegalStateException] {
      wh.versionAtTimestamp("tt", mid)
    }
    assert(e.getMessage.contains("not monotonic"))
  }

  // ---- views (round 18) ----------------------------------------------

  test("views: CREATE / SELECT / SHOW / REPLACE / ALTER / RENAME / DROP") {
    spark.sql("CREATE TABLE graft.vw.t (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.vw.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql(
      "CREATE VIEW graft.vw.big AS SELECT k, v FROM graft.vw.t WHERE v >= 2.0")
    def n(q: String): Long = spark.sql(q).head.getLong(0)
    assert(n("SELECT count(*) FROM graft.vw.big") === 2L)
    // a view is a stored QUERY: later inserts are visible through it
    spark.sql("INSERT INTO graft.vw.t VALUES (4, 4.0)")
    assert(n("SELECT count(*) FROM graft.vw.big") === 3L)
    // the expanded plan rides the graft read path (filter composition)
    assert(n("SELECT count(*) FROM graft.vw.big WHERE k >= 4") === 1L)
    assert(spark.sql("SHOW VIEWS IN graft.vw").collect()
      .map(_.getString(1)).contains("big"))
    // CREATE OR REPLACE swaps the definition
    spark.sql("CREATE OR REPLACE VIEW graft.vw.big AS " +
      "SELECT k FROM graft.vw.t WHERE v >= 4.0")
    assert(spark.sql("SELECT * FROM graft.vw.big").columns.toSeq === Seq("k"))
    assert(n("SELECT count(*) FROM graft.vw.big") === 1L)
    spark.sql("ALTER VIEW graft.vw.big SET TBLPROPERTIES ('note' = 'x')")
    spark.sql("ALTER VIEW graft.vw.big UNSET TBLPROPERTIES ('note')")
    spark.sql("ALTER VIEW graft.vw.big RENAME TO graft.vw.big2")
    assert(n("SELECT count(*) FROM graft.vw.big2") === 1L)
    spark.sql("DROP VIEW graft.vw.big2")
    intercept[Exception] { spark.sql("SELECT * FROM graft.vw.big2") }
    // collision guards, all three directions
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.vw.t AS SELECT 1 AS one")
    }
    spark.sql("CREATE VIEW graft.vw.v2 AS SELECT 1 AS one")
    intercept[Exception] { spark.sql("CREATE TABLE graft.vw.v2 (k BIGINT)") }
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.vw.v2 AS SELECT 2 AS two")
    }
    // a fresh catalog instance (new session handle, its own catalog
    // object) still resolves it: the definition lives in the
    // warehouse, not the session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", base)
    assert(s2.sql("SELECT one FROM graft.vw.v2").head.getInt(0) === 1)
  }

  // ---- CHECK constraints (round 18) ----------------------------------

  test("CHECK constraints: SQL DDL declares, every write path enforces") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.ck.t (k BIGINT, v DOUBLE)")
    spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT v_pos CHECK (v >= 0)")
    spark.sql("INSERT INTO graft.ck.t VALUES (1, 1.0), (2, 2.0)")
    def n(): Long = spark.sql("SELECT count(*) FROM graft.ck.t").head.getLong(0)
    assert(n() === 2L)
    // violating SQL INSERT fails loudly; nothing lands
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO graft.ck.t VALUES (3, -1.0)")
    }
    assert(e1.toString.contains("v_pos") ||
      Option(e1.getCause).exists(_.toString.contains("v_pos")), e1.toString)
    assert(n() === 2L)
    // NULL passes (the SQL standard's unknown-passes stance)
    spark.sql("INSERT INTO graft.ck.t VALUES (4, NULL)")
    assert(n() === 3L)
    // the Scala write paths enforce the same declaration
    val wh = new Warehouse(spark, s"$base/ck")
    intercept[Exception] { wh.append("t", Seq((9L, -3.0)).toDF("k", "v")) }
    intercept[Exception] {
      wh.upsert("t", Seq((1L, -9.0)).toDF("k", "v"), Seq("k"))
    }
    assert(n() === 3L)
    // UPDATE rewriting rows into violation fails before any commit
    intercept[Exception] {
      spark.sql("UPDATE graft.ck.t SET v = -5.0 WHERE k = 1")
    }
    assert(spark.sql("SELECT v FROM graft.ck.t WHERE k = 1").head.getDouble(0)
      === 1.0)
    // ADD CONSTRAINT on a table with violating rows is refused
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT v_small CHECK (v < 1.5)")
    }
    assert(e2.toString.contains("existing rows violate") ||
      Option(e2.getCause).exists(_.toString.contains("existing rows violate")),
      e2.toString)
    // DROP CONSTRAINT re-opens the gate
    spark.sql("ALTER TABLE graft.ck.t DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO graft.ck.t VALUES (5, -1.0)")
    assert(n() === 4L)
    // constraint bookkeeping is not a TBLPROPERTIES surface
    intercept[Exception] {
      spark.sql(
        "ALTER TABLE graft.ck.t SET TBLPROPERTIES ('constraint_x' = 'v > 0')")
    }
    // informational kinds are refused, not silently recorded
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ck.t ADD CONSTRAINT pk PRIMARY KEY (k)")
    }
    assert(e3.toString.toLowerCase.contains("check") ||
      Option(e3.getCause).exists(_.toString.toLowerCase.contains("check")),
      e3.toString)
  }

  test("CHECK constraints: inline at CREATE TABLE, enforced from the first insert") {
    spark.sql(
      "CREATE TABLE graft.ck.t2 (k BIGINT, v DOUBLE, CONSTRAINT pos CHECK (v > 0))")
    intercept[Exception] { spark.sql("INSERT INTO graft.ck.t2 VALUES (1, -1.0)") }
    spark.sql("INSERT INTO graft.ck.t2 VALUES (1, 1.0)")
    assert(spark.sql("SELECT count(*) FROM graft.ck.t2").head.getLong(0) === 1L)
  }

  test("CHECK constraints: MERGE and the streaming sink enforce too") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.ck.t3 (k BIGINT, v DOUBLE)")
    spark.sql("ALTER TABLE graft.ck.t3 ADD CONSTRAINT v_pos CHECK (v >= 0)")
    spark.sql("INSERT INTO graft.ck.t3 VALUES (1, 1.0)")
    Seq((1L, -2.0), (2L, 2.0)).toDF("k", "v").createOrReplaceTempView("ck_src")
    intercept[Exception] {
      spark.sql("""MERGE INTO graft.ck.t3 t USING ck_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(spark.sql("SELECT count(*) FROM graft.ck.t3").head.getLong(0) === 1L)
    // streaming sink rides the same writeVersion guard
    val sink = new graft.streaming.GraftTableSink(spark.sqlContext,
      Map("root" -> s"$base/ck", "table" -> "t3", "txnAppId" -> "ck-app"), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    intercept[Exception] { sink.addBatch(0, Seq((7L, -1.0)).toDF("k", "v")) }
    assert(spark.sql("SELECT count(*) FROM graft.ck.t3").head.getLong(0) === 1L)
    // the failed epoch did NOT record a txn label: the valid retry runs
    sink.addBatch(0, Seq((7L, 1.0)).toDF("k", "v"))
    assert(spark.sql("SELECT count(*) FROM graft.ck.t3").head.getLong(0) === 2L)
  }
}
