package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan audit: prints the formatted physical plan of each catalog query
  * and checks the properties that matter at 100 TB — filters pushed to
  * the parquet scan, pruned read schemas, broadcast joins on dimension
  * sides, whole-stage codegen coverage.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()

    var cartesian = List.empty[String]
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // EXECUTE first: under AQE the formatted plan only carries
      // `codegen id` / final join choices after the adaptive plan is
      // finalized — pre-execution explain was a codegen false-negative
      df.collect()
      val plan = df.queryExecution.explainString(FormattedMode)
      val props = Seq(
        "PushedFilters: [" -> plan.contains("PushedFilters: ["),
        "BroadcastHashJoin" -> plan.contains("BroadcastHashJoin"),
        "WholeStageCodegen" -> plan.contains("codegen id"),
        "CARTESIAN-PRODUCT" -> plan.contains("CartesianProduct"),
        "full-schema scan" -> {
          // no-pruning heuristic: flag a WIDE scan (≥8 columns) that
          // also reads the table's FULL width. The old global ">=8
          // commas" tripped on legitimately wide-but-pruned reads
          // (9 of lineitem's 16 columns); narrow tables read whole are
          // usually the query's semantics, so they stay unflagged.
          // Width = struct fields at ReadSchema's top level.
          val widest = Map("lineitem" -> 16, "orders" -> 9, "part" -> 9,
            "customer" -> 8, "supplier" -> 7, "events" -> 6, "documents" -> 5,
            "nation" -> 4, "embeddings" -> 3, "region" -> 3)
          plan.split("(?=Location:)").exists { chunk =>
            (for {
              t <- "Location:[^\n]*/(\\w+)\\.parquet".r
                .findFirstMatchIn(chunk).map(_.group(1))
              rs <- "ReadSchema: struct<([^\n]*)>".r
                .findFirstMatchIn(chunk).map(_.group(1))
            } yield {
              var depth = 0
              val topCommas = rs.count {
                case '<' => depth += 1; false
                case '>' => depth -= 1; false
                case ',' => depth == 0
                case _   => false
              }
              topCommas + 1 >= 8 && widest.get(t).exists(w => topCommas + 1 >= w)
            }).getOrElse(false)
          }
        })
      if (plan.contains("CartesianProduct")) cartesian ::= name
      println(s"===== $name " + "=" * (60 - name.length))
      println(props.collect { case (p, true) => p }.mkString("props: ", ", ", ""))
      if (sys.env.get("GRAFT_EXPLAIN_FULL").contains("1")) println(plan)
    }
    spark.stop()
    // hard gate: a CartesianProduct in a catalog query is a scale bug
    if (cartesian.nonEmpty) {
      System.err.println(s"FAIL: CartesianProduct in final plan of: ${cartesian.mkString(", ")}")
      sys.exit(1)
    }
  }
}
