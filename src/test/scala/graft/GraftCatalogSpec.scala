package graft

import graft.plans.PrunedFileIndex
import graft.sources.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** GraftCatalog: `graft.<namespace>.<table>` name resolution for pure
  * SQL over the manifest warehouse — reads spliced to the one V1 read
  * plan (deletes, auto-skip, meta-agg all apply), writes riding the
  * V1Write fallback onto the commit paths.
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val base: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cat").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", tmp)
    tmp
  }

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

  test("catalog: SELECT resolves to the warehouse read; auto-skip and deletes apply") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/wh")
    wh.atomicPublish("t",
      spark.range(0, 10000).toDF("k")
        .withColumn("s", format_string("s%05d", $"k"))
        .repartitionByRange(8, $"k").sortWithinPartitions($"k"))
    wh.deleteRows("t", col("k") % 10 === 0)

    val q = spark.sql("SELECT count(*) AS n FROM graft.wh.t WHERE k BETWEEN 1500 AND 1700")
    val (kept, total) = prunedCounts(q)
    assert(total === 8 && kept <= 2, s"catalog WHERE kept $kept of $total")
    assert(q.head.getLong(0) === (1500L to 1700L).count(_ % 10 != 0))

    // metadata count on a CLEAN catalog table collapses (no scan)
    val wh2c = new Warehouse(spark, s"$base/wh2")
    wh2c.atomicPublish("c", spark.range(0, 777).toDF("k").repartition(2))
    val mc = spark.sql("SELECT count(*) AS n FROM graft.wh2.c")
    assert(mc.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr }.isEmpty, "meta-count through the catalog")
    assert(mc.head.getLong(0) === 777L)
  }

  test("catalog: INSERT INTO appends through the commit path; OVERWRITE republishes") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/whi")
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").coalesce(1))

    spark.sql("INSERT INTO graft.whi.t SELECT id AS k FROM range(100, 150)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.whi.t").head.getLong(0) === 150L)
    // the append committed a new snapshot, not a rewrite
    assert(wh.history("t").size >= 2)

    spark.sql("INSERT OVERWRITE graft.whi.t SELECT id AS k FROM range(0, 7)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.whi.t").head.getLong(0) === 7L)
  }

  test("catalog: VERSION AS OF time travel resolves retained snapshots") {
    import spark.implicits._
    val wh = new Warehouse(spark, s"$base/tt")
    wh.atomicPublish("t", spark.range(0, 100).toDF("k").coalesce(1)) // v1
    wh.setSnapshotRetention("t", 8)
    wh.append("t", spark.range(100, 150).toDF("k").coalesce(1))      // v2
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt.t VERSION AS OF 1")
      .head.getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt.t VERSION AS OF 2")
      .head.getLong(0) === 150L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.tt.t")
      .head.getLong(0) === 150L)
    // a GC'd / never-committed version fails loudly, not silently empty
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM graft.tt.t VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("not available") ||
      e.getMessage.contains("99"))
  }

  test("catalog: CREATE TABLE + CTAS + SHOW TABLES + DROP") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.ddl.fresh (k BIGINT, s STRING)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.ddl.fresh").head.getLong(0) === 0L)
    spark.sql("INSERT INTO graft.ddl.fresh VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT sum(k) AS s FROM graft.ddl.fresh").head.getLong(0) === 3L)

    spark.sql("CREATE TABLE graft.ddl.ctas AS SELECT id AS k FROM range(0, 5)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.ddl.ctas").head.getLong(0) === 5L)

    val names = spark.sql("SHOW TABLES IN graft.ddl").collect()
      .map(_.getString(1)).sorted
    assert(names === Array("ctas", "fresh"))

    spark.sql("DROP TABLE graft.ddl.ctas")
    assert(spark.sql("SHOW TABLES IN graft.ddl").count() === 1)
  }
}
