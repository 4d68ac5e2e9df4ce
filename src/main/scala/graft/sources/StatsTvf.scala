package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.types.UTF8String

/** `graft_stats(root, table)` — the table's column statistics at the
  * pure-SQL surface (the DESCRIBE DETAIL / information_schema UX),
  * answered ENTIRELY from snapshot metadata: chunked-manifest headers
  * and stats/rows sidecars, zero data files opened, O(chunks) driver
  * work on a 10⁶-file table.
  *
  * One row per schema column:
  *
  *   col_name | typ | min_s | max_s | nulls | approx_ndv | rows
  *
  * `typ` is the footer-stat type (`long`/`double`/`string`), null for
  * columns with no stats (nested, unsupported physical types, legacy
  * files); min/max are rendered as strings so one schema serves every
  * column type. `nulls` is the exact null total (null when any file
  * predates the sidecars — unknown is never zero); `approx_ndv` the
  * merged-HLL estimate where NDV sidecars exist; `rows` the exact
  * snapshot row count. The contracts are the underlying APIs'
  * (statsMinMax / statsNullCount / statsApproxNdv / statsRowCount) —
  * the TVF adds no second implementation.
  *
  * FRESHNESS CONTRACT: the builder runs at ANALYSIS time and freezes
  * the answers into the plan as a local relation — a plan analyzed
  * once and re-executed (a cached DataFrame, a prepared statement)
  * reports the snapshot AS OF ITS ANALYSIS, not the live table.
  * Every NEW `spark.sql(...)` call re-analyzes and therefore sees the
  * current snapshot (AutoSkipSpec pins post-commit refresh). This is
  * deliberate: stats answer from metadata in O(chunks) with no scan
  * node to re-plan, and DESCRIBE-style surfaces are re-issued, not
  * cached, by every real client.
  */
object StatsTvf {

  val name = "graft_stats"

  val info = new ExpressionInfo(StatsTvf.getClass.getName, name)

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
    val rows = wh.statsRowCount(table)
    val out = wh.read(table).schema.fields.toSeq.map { f =>
      val mm = wh.statsMinMax(table, f.name)
      val typ = mm.map(_._1 match {
        case _: java.lang.Long | _: java.lang.Integer => "long"
        case _: java.lang.Double                      => "double"
        case _                                        => "string"
      })
      (f.name, typ.orNull,
        mm.map(v => String.valueOf(v._1)).orNull,
        mm.map(v => String.valueOf(v._2)).orNull,
        wh.statsNullCount(table, f.name)
          .map(java.lang.Long.valueOf).orNull.asInstanceOf[java.lang.Long],
        wh.statsApproxNdv(table, f.name)
          .map(java.lang.Long.valueOf).orNull.asInstanceOf[java.lang.Long],
        rows.map(java.lang.Long.valueOf).orNull.asInstanceOf[java.lang.Long])
    }
    import spark.implicits._
    out.toDF("col_name", "typ", "min_s", "max_s", "nulls", "approx_ndv",
      "rows").queryExecution.analyzed
  }

  /** Idempotent lazy registration — mirrors `ChangesTvf.register`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
