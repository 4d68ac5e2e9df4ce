package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.types.UTF8String

/** `graft_changes(root, table, fromV, toV)` — the change feed at the
  * SQL surface, as a TABLE-VALUED FUNCTION (Delta-CDF's
  * `table_changes` UX; reference analogue: the repository history the
  * merge/delete write paths imply, utils/repositories/
  * base_repository.py:55-61):
  *
  * {{{
  * SELECT * FROM graft_changes('/wh/root', 'orders', 1, 4)
  * }}}
  *
  * The builder runs at ANALYSIS time: it validates the four literal
  * arguments, delegates to `Warehouse.changes` (same window bound,
  * same retention refusal — the TVF adds no second implementation),
  * and splices the resulting ANALYZED plan into the enclosing query,
  * so Catalyst optimizes the feed's joins together with whatever the
  * SQL wraps around them. Registration: session-wide via
  * `spark.sql.extensions=graft.GraftExtensions`, or lazily via
  * `ChangesTvf.register` (both read this one builder, so the paths
  * cannot drift — the NativeExprs pattern).
  */
object ChangesTvf {

  val name = "graft_changes"

  val info = new ExpressionInfo(ChangesTvf.getClass.getName, name)

  /** Seq[Expression] => LogicalPlan, the TableFunctionRegistry builder
    * shape. Arguments must be foldable: the feed window is resolved
    * once at analysis, not per row — a column reference here has no
    * meaning and is rejected loudly. The 3-argument form omits `toV`
    * and reads "changes from `fromV` through the CURRENT version" —
    * resolved once here at analysis, the `table_changes(tbl, from)`
    * UX; re-running the query picks up new commits.
    */
  val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.length == 3 || exprs.length == 4,
      s"$name(root, table, fromV[, toV]) takes 3 or 4 arguments, " +
      s"got ${exprs.length}")
    def lit(i: Int, what: String): Any = {
      val e = exprs(i)
      require(e.foldable,
        s"$name: $what (argument ${i + 1}) must be a literal, got ${e.sql}")
      e.eval(null) match {
        case u: UTF8String => u.toString
        case other         => other
      }
    }
    def asLong(v: Any, what: String): Long = v match {
      case l: Long  => l
      case i: Int   => i.toLong
      case s: Short => s.toLong
      case b: Byte  => b.toLong
      case other => throw new IllegalArgumentException(
        s"$name: $what must be an integer literal, got $other")
    }
    val root  = String.valueOf(lit(0, "root"))
    val table = String.valueOf(lit(1, "table"))
    val fromV = asLong(lit(2, "fromV"), "fromV")
    val spark = SparkSession.active
    val wh = new Warehouse(spark, root)
    val toV =
      if (exprs.length == 4) asLong(lit(3, "toV"), "toV")
      else wh.currentVersion(table).getOrElse(throw new IllegalArgumentException(
        s"$name: table '$table' has no committed snapshot under $root"))
    wh.changes(table, fromV, toV).queryExecution.analyzed
  }

  /** Idempotent lazy registration for sessions built without the
    * extension config — mirrors `NativeExprs.register`.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
