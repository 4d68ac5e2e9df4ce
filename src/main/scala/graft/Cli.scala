package graft

import graft.etl.{Ingest, Summary}
import graft.sources.Warehouse

/** Thin CLI replacing the reference's Streamlit app + import scripts
  * (§7.6): `ingest` runs the distributed EDINET ETL into a parquet
  * warehouse; `summary` prints the financial KPIs; `companies` lists
  * the selection list (get_company_selection_list parity).
  *
  *   runMain graft.Cli ingest <csvDir> <warehouseDir>
  *   runMain graft.Cli summary <warehouseDir> [edinetCode]
  *   runMain graft.Cli companies <warehouseDir>
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(master = sys.env.get("SPARK_MASTER"))

    args.toList match {
      case "ingest" :: csvDir :: whDir :: Nil =>
        val wh = new Warehouse(spark, whDir)
        val quarantine = new Ingest(spark, wh).run(csvDir)
        val nBad = quarantine.count()
        println(s"ingest complete; quarantined docs: $nBad")
        if (nBad > 0) quarantine.show(20, truncate = false)

      // the reference import script's surface (scripts/
      // import_financial_data.py — one submission date per run), live:
      // document list → quarterly filter → archive landing →
      // distributed extract + ingest. API key via EDINET_API_KEY.
      case "ingest-api" :: baseUrl :: whDir :: dates if dates.nonEmpty =>
        val wh = new Warehouse(spark, whDir)
        val work = s"$whDir/_ingest_work"
        val fetcher = new graft.sources.EdinetApi.HttpFetcher(
          spark, baseUrl, s"$work/landing",
          apiKey = sys.env.get("EDINET_API_KEY"))
        dates.foreach { d =>
          val (ok, failed, quarantine) = new Ingest(spark, wh)
            .runForDate(fetcher, java.time.LocalDate.parse(d), work)
          println(s"$d: ingested ${ok.size} filings" +
            (if (failed.nonEmpty) s"; fetch failed: ${failed.mkString(",")}" else ""))
          val nBad = quarantine.count()
          if (nBad > 0) quarantine.show(20, truncate = false)
        }

      case "summary" :: whDir :: rest =>
        val wh = new Warehouse(spark, whDir)
        val (flags, args2) = rest.partition(_.startsWith("--"))
        // typed DTO egress (P16) + display formatting (F6)
        val typed = Summary.summariesTyped(
          wh.read("companies"), wh.read("financial_reports"),
          wh.read("financial_data"), wh.read("financial_items"),
          edinetCode = args2.headOption)
        if (flags.contains("--format=json") || flags.contains("--json"))
          // chart-shaped series (app.py:158-169 reshape), one JSON
          // object per (company, period, metric) row
          Summary.chartSeries(typed.toDF()).toJSON.collect().foreach(println)
        else flags.find(_.startsWith("--chart=")) match {
          case Some(f) =>
            // static dashboard egress: one Vega-Lite bar chart per
            // (company, period) — the app.py:172-189 Altair chart
            val out = f.stripPrefix("--chart=")
            graft.etl.ChartWriter.writeHtml(
              Summary.chartSeries(typed.toDF()), out)
            println(s"wrote $out")
          case None =>
            Summary.display(typed.toDF()).show(50, truncate = false)
        }

      case "companies" :: whDir :: Nil =>
        val wh = new Warehouse(spark, whDir)
        wh.read("companies")
          .select("edinet_code", "company_name")
          .orderBy("edinet_code")
          .show(1000, truncate = false)

      // table maintenance: layout health, bin-pack
      // compaction, multi-column z-order clustering
      case "health" :: whDir :: table :: Nil =>
        println(new Warehouse(spark, whDir).tableHealth(table))

      case "optimize" :: whDir :: table :: rest =>
        val wh = new Warehouse(spark, whDir)
        wh.compact(table, rest.headOption.map(_.toInt).getOrElse(1))
        println(wh.tableHealth(table))

      case "optimize-zorder" :: whDir :: table :: n :: cols if cols.size >= 2 =>
        val wh = new Warehouse(spark, whDir)
        wh.compactZOrder(table, cols, n.toInt)
        println(wh.tableHealth(table))

      // one-decision auto-maintenance: compact + vacuum iff the
      // small-file count crossed the threshold (schedule this verb
      // blindly per table; it no-ops on healthy layouts)
      case "maintain" :: whDir :: table :: rest =>
        val wh = new Warehouse(spark, whDir)
        val (before, ran, after) =
          wh.maintain(table, rest.headOption.map(_.toInt).getOrElse(8))
        println(s"before: $before")
        println(if (ran) s"compacted; after: $after"
          else "healthy; nothing to do")

      case "vacuum" :: whDir :: table :: Nil =>
        val deleted = new Warehouse(spark, whDir)
          .vacuumOrphans(table)
        println(if (deleted.isEmpty) "vacuum: nothing to reap"
          else s"vacuum reaped: ${deleted.mkString(", ")}")

      case "index-bloom" :: whDir :: table :: column :: Nil =>
        new Warehouse(spark, whDir).buildBloom(table, column)
        println(s"bloom index built for $table.$column")

      case "index-ndv" :: whDir :: table :: column :: Nil =>
        val wh = new Warehouse(spark, whDir)
        wh.buildNdv(table, column)
        println(s"ndv sketch built; approx distinct " +
          s"$table.$column = ${wh.statsApproxNdv(table, column).getOrElse(-1L)}")

      // ad-hoc SQL over the warehouse: every table registers as a
      // temp view (snapshot-consistent reads through the manifest
      // resolution), the native graft_* functions are injected, and
      // the statement runs through the ordinary Catalyst path — the
      // "switch your SQL here" surface for a reference user
      case "sql" :: whDir :: stmt :: Nil =>
        val wh = new Warehouse(spark, whDir)
        wh.tableNames().foreach { t =>
          wh.read(t).createOrReplaceTempView(t)
        }
        graft.functions.NativeExprs.register(spark)
        spark.sql(stmt).show(1000, truncate = false)

      // snapshot lifecycle: version ledger, metadata-only restore,
      // and write-audit-publish branch promotion/abandonment
      case "history" :: whDir :: table :: Nil =>
        val h = new Warehouse(spark, whDir).history(table)
        if (h.isEmpty) println(s"no retained snapshots for $table")
        else h.foreach { case (v, nf, nr) =>
          println(f"v$v%-6d files=$nf%-6d rows=${nr.map(_.toString).getOrElse("unknown")}%s")
        }

      case "rollback" :: whDir :: table :: version :: Nil =>
        val wh = new Warehouse(spark, whDir)
        wh.rollback(table, version.toLong)
        println(s"restored $table to the snapshot of v$version " +
          s"(metadata-only); history: ${wh.history(table).map(_._1).mkString(",")}")

      case "branch-promote" :: whDir :: table :: branch :: Nil =>
        new Warehouse(spark, whDir)
          .promoteBranch(table, branch)
        println(s"branch '$branch' promoted on $table")

      case "branch-abandon" :: whDir :: table :: branch :: Nil =>
        new Warehouse(spark, whDir)
          .abandonBranch(table, branch)
        println(s"branch '$branch' abandoned on $table")

      case other =>
        System.err.println(s"unknown command: ${other.mkString(" ")}")
        System.err.println(
          "usage: ingest <csvDir> <whDir> | " +
          "ingest-api <baseUrl> <whDir> <date>... | " +
          "summary <whDir> [edinetCode] [--format=json] | " +
          "companies <whDir> | health <whDir> <table> | " +
          "optimize <whDir> <table> [numFiles] | " +
          "maintain <whDir> <table> [smallFileLimit] | " +
          "optimize-zorder <whDir> <table> <numFiles> <col> <col>... | " +
          "vacuum <whDir> <table> | index-bloom <whDir> <table> <col> | " +
          "index-ndv <whDir> <table> <col> | history <whDir> <table> | " +
          "rollback <whDir> <table> <version> | " +
          "branch-promote <whDir> <table> <branch> | " +
          "branch-abandon <whDir> <table> <branch>")
        sys.exit(2)
    }
    spark.stop()
  }
}
