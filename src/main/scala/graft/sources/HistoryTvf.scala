package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.types.UTF8String

/** `graft_history(root, table)` — DESCRIBE HISTORY at the pure-SQL
  * surface, completing the TVF family (`graft_table`,
  * `graft_changes`, `graft_stats`): one row per retained snapshot,
  * all from manifest metadata — headers for chunked manifests,
  * `_rows` sidecars otherwise — zero data files opened.
  *
  *   version | operation | n_files | n_rows
  *
  * `operation` is the commit's op label (`append`/`upsert`/`delete`/
  * `optimize`/`rollback`/...), null for pre-label manifests; `n_rows`
  * null when any file of that snapshot predates the row sidecars
  * (unknown, never zero). The ledger is `Warehouse.history` +
  * `commitKind` — the TVF adds no second implementation.
  *
  * FRESHNESS CONTRACT (same as `graft_stats`): the builder runs at
  * ANALYSIS time and freezes the ledger into the plan — a re-executed
  * cached plan reports history as of its analysis; every new
  * `spark.sql(...)` re-analyzes and sees commits made since
  * (AutoSkipSpec pins the refresh).
  */
object HistoryTvf {

  val name = "graft_history"

  val info = new ExpressionInfo(HistoryTvf.getClass.getName, name)

  val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.length == 2,
      s"$name(root, table) takes 2 arguments, got ${exprs.length}")
    def lit(i: Int, what: String): String = {
      val e = exprs(i)
      require(e.foldable,
        s"$name: $what (argument ${i + 1}) must be a literal, got ${e.sql}")
      e.eval(null) match {
        case u: UTF8String => u.toString
        case other         => String.valueOf(other)
      }
    }
    val root  = lit(0, "root")
    val table = lit(1, "table")
    val spark = SparkSession.active
    val wh = new Warehouse(spark, root)
    val rows = wh.history(table).map { case (v, nFiles, nRows) =>
      (v, wh.commitKind(table, v).orNull,
        nFiles,
        nRows.map(java.lang.Long.valueOf).orNull.asInstanceOf[java.lang.Long])
    }
    import spark.implicits._
    rows.toDF("version", "operation", "n_files", "n_rows")
      .queryExecution.analyzed
  }

  /** Idempotent lazy registration — mirrors `ChangesTvf.register`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
