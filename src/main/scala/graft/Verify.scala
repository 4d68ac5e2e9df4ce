package graft
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Doubles as the explain gate: the physical plan of every query is
  * scanned for CartesianProduct and logged to `outDir/explain_gate.log`,
  * so the gate's evidence lands with the correctness artifacts. The scan
  * is static (pre-AQE) — sound for the gate, because a cartesian join is
  * a planner decision AQE never introduces or removes; the broadcast /
  * codegen props in the log are best-effort pre-execution hints (the
  * standalone `graft.Explain`, which executes, is the deep audit). Any
  * cartesian hit fails the run (exit 1) AFTER all artifacts are written —
  * a cartesian plan is a scale bug, not a style nit, so it must not land
  * silently.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    var cartesian = List.empty[String]
    val gateLog = new StringBuilder
    // optional comma-separated subset (the Bench SPARK_GRAFT_BENCH_ONLY
    // pattern): dump + oracle only the named queries, for fast local
    // iteration on one operator without the full-catalog run
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir).coalesce(1)
        df.write.mode("overwrite").parquet(s"$outDir/$name")
        // static plan: `write` executes its own QueryExecution, so this
        // is the pre-AQE plan — sufficient for the cartesian gate (see
        // class doc); graft.Explain is the post-execution audit
        val plan = df.queryExecution.explainString(FormattedMode)
        val hasCartesian = plan.contains("CartesianProduct")
        if (hasCartesian) cartesian ::= name
        gateLog ++= s"$name: " + Seq(
          "pushed-filters" -> plan.contains("PushedFilters: ["),
          "broadcast-join" -> plan.contains("BroadcastHashJoin"),
          "codegen" -> plan.contains("codegen id"),
          "CARTESIAN-PRODUCT" -> hasCartesian
        ).collect { case (p, true) => p }.mkString(", ") + "\n"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        gateLog ++= s"$name: FAILED ${e.getClass.getSimpleName}\n"
      }
      // drop caches persisted inside queries (d3/d7/sim2/d8):
      // CacheManager holds strong refs, so without this each query's
      // corpus-sized cache would accumulate for the rest of the run
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/explain_gate.log"), gateLog.toString)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (cartesian.nonEmpty) {
      System.err.println(
        s"[verify] explain-gate FAILED: CartesianProduct in final plan of: " +
        cartesian.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
