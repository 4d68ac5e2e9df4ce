package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.unsafe.types.UTF8String

/** `graft_table(root, table[, version])` — warehouse tables at the
  * pure-SQL surface, the read-side twin of `graft_changes`:
  *
  * {{{
  * SELECT * FROM graft_table('/wh/root', 'orders')           -- current
  * SELECT * FROM graft_table('/wh/root', 'orders', 3)        -- time travel
  * }}}
  *
  * The builder splices `Warehouse.read` / `readVersion`'s ANALYZED
  * plan into the enclosing query at analysis time — merge-on-read
  * deletion vectors, schema evolution alignment, and the snapshot
  * pointer resolution all ride the one implementation. Because the
  * read path enrolls its scans with graft.plans.AutoSkip, a WHERE on
  * the TVF prunes files by footer stats exactly like the Scala
  * surface:
  *
  * {{{
  * SELECT count(*) FROM graft_table('/r','t') WHERE k BETWEEN 10 AND 20
  * }}}
  *
  * plans a handful of files on a range-clustered table. Registration
  * mirrors `ChangesTvf`: session-wide via GraftExtensions, or lazy
  * `TableTvf.register`.
  */
object TableTvf {

  val name = "graft_table"

  val info = new ExpressionInfo(TableTvf.getClass.getName, name)

  val builder: Seq[Expression] => LogicalPlan = exprs => {
    require(exprs.length == 2 || exprs.length == 3,
      s"$name(root, table[, version]) takes 2 or 3 arguments, " +
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
    val root  = String.valueOf(lit(0, "root"))
    val table = String.valueOf(lit(1, "table"))
    val spark = SparkSession.active
    val wh = new Warehouse(spark, root)
    val df =
      if (exprs.length == 2) wh.read(table)
      else lit(2, "version") match {
        case l: Long => wh.readVersion(table, l)
        case i: Int  => wh.readVersion(table, i.toLong)
        case other => throw new IllegalArgumentException(
          s"$name: version must be an integer literal, got $other")
      }
    df.queryExecution.analyzed
  }

  /** Idempotent lazy registration for sessions built without the
    * extension config — mirrors `ChangesTvf.register`.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
  }
}
