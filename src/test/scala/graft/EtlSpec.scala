package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.etl.{Extract, Ingest, Model, Standardize, Summary}
import graft.sources.{FsPointerStore, Warehouse}

/** Golden-path ETL tests mirroring the reference's mapping/service test
  * expectations (tests/test_mapping.py:102-290,
  * tests/test_data_mapper.py:26-60, financial_service.py:109-164) on a
  * synthetic filing fixture.
  */
class EtlSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  /** A minimal filing in the standardized-input shape: cover-page
    * fields + a handful of financial rows (FIXTURES.md §1 fixture
    * profile). Values are the raw strings a CSV scan would produce.
    */
  private def rawFixture(docId: String = "DOC001",
                         period: String = "第121期 第３四半期(自  2023年10月１日  至  2023年12月31日)",
                         netSales: String = "43858000000"): DataFrame = {
    val rows = Seq(
      // (element_id, item_name_jp, context_id, fy_rel, consolidated, period_type, unit_id, unit_name, value)
      ("jpdei_cor:EDINETCodeDEI", "EDINETコード、DEI", "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", "E00000"),
      ("jpdei_cor:SecurityCodeDEI", "証券コード、DEI", "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", "99999"),
      ("jpcrp_cor:CompanyNameCoverPage", "会社名、表紙", "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", "テスト株式会社"),
      ("jpcrp_cor:DocumentTitleCoverPage", "文書名、表紙", "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", "四半期報告書"),
      ("jpcrp_cor:QuarterlyAccountingPeriodCoverPage", "四半期会計期間、表紙", "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", period),
      ("jpdei_cor:CurrentPeriodEndDateDEI", "当会計期間終了日、DEI", "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", "2023/12/31"),
      ("jpcrp_cor:FilingDateCoverPage", "提出日、表紙", "FilingDateInstant", "提出日時点", "その他", "時点", "－", "", "2024/2/9"),
      ("jppfs_cor:NetSales", "売上高", "CurrentYTDDuration", "当四半期累計期間", "連結", "期間", "JPY", "円", netSales),
      ("jppfs_cor:OperatingIncome", "営業利益", "CurrentYTDDuration", "当四半期累計期間", "連結", "期間", "JPY", "円", "8771600000"),
      ("jppfs_cor:OrdinaryIncome", "経常利益", "CurrentYTDDuration", "当四半期累計期間", "連結", "期間", "JPY", "円", "9000000000"),
      ("jppfs_cor:ProfitLoss", "当期純利益", "CurrentYTDDuration", "当四半期累計期間", "連結", "期間", "JPY", "円", "4385800000"),
      ("jppfs_cor:Assets", "資産", "CurrentQuarterInstant", "当四半期末", "連結", "時点", "JPY", "円", "－"),
      ("jppfs_cor:NetSales", "売上高", "Prior1YTDDuration", "前年度同四半期累計期間", "連結", "期間", "JPY", "円", "40000000000"))
    import spark.implicits._
    rows.toDF(Model.rawJpColumns: _*)
      .withColumn("doc_id", lit(docId))
      .withColumn("_rid", monotonically_increasing_id())
  }

  test("standardize: hyphen null-marker, numeric split, text retention") {
    val out = Standardize(rawFixture())
    val rows = out.collect()
    // 値 "－" → "" → try_cast null → is_numeric false, value_text ""
    val assets = rows.find(_.getAs[String]("element_id") == "jppfs_cor:Assets").get
    assert(assets.getAs[Any]("value") == null)
    assert(!assets.getAs[Boolean]("is_numeric"))
    assert(assets.getAs[String]("value_text") == "")
    // numeric → value Double, value_text null
    val sales = rows.find(r => r.getAs[String]("element_id") == "jppfs_cor:NetSales"
      && r.getAs[String]("context_id") == "CurrentYTDDuration").get
    assert(sales.getAs[Double]("value") === 4.3858e10)
    assert(sales.getAs[Boolean]("is_numeric"))
    assert(sales.getAs[String]("value_text") == null)
    // text values survive as value_text
    val name = rows.find(_.getAs[String]("element_id") == "jpcrp_cor:CompanyNameCoverPage").get
    assert(name.getAs[String]("value_text") == "テスト株式会社")
  }

  test("extract: company + report golden values (test_mapping parity)") {
    val staged = Standardize(rawFixture())
    val company = Extract.companyCandidates(staged).collect().head
    assert(company.getAs[String]("edinet_code") == "E00000")
    assert(company.getAs[String]("security_code") == "99999")
    assert(company.getAs[String]("company_name") == "テスト株式会社")
    assert(!company.getAs[Boolean]("_invalid"))

    val report = Extract.reportCandidates(staged).collect().head
    assert(report.getAs[String]("document_type") == "四半期報告書")
    assert(report.getAs[String]("fiscal_year") == "2023")
    assert(report.getAs[String]("quarter_type") == "Q3")
    assert(report.getAs[String]("fiscal_year_end") == "2023/12/31")
    assert(report.getAs[String]("filing_date") == "2024/2/9")
    assert(!report.getAs[Boolean]("_invalid"))
  }

  test("extract: unparsable period goes to quarantine, not exception") {
    val staged = Standardize(rawFixture(period = "意味のない文字列"))
    val report = Extract.reportCandidates(staged).collect().head
    assert(report.getAs[Boolean]("_invalid"))
  }

  test("extract: strict mode actually raises (not pruned away)") {
    val staged = Standardize(rawFixture(period = "意味のない文字列"))
    val e = intercept[Exception] {
      Extract.reportCandidates(staged, strict = true).collect()
    }
    assert(e.getMessage.contains("unparsable accounting period"))
  }

  test("ingest: second filing for the same (company, period) is quarantined") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-dup").toString
    val wh = new Warehouse(spark, tmp)
    // same company, same period, two doc_ids → same report_id hash
    val staged = Standardize(
      rawFixture(docId = "DOC_A").unionByName(rawFixture(docId = "DOC_B")))
    val quarantine = new Ingest(spark, wh).runStaged(staged, strict = false).collect()
    assert(quarantine.length === 1)
    // latest-wins: same filing_date, so highest doc_id (the amendment
    // in EDINET's roughly-chronological id scheme) is kept
    assert(quarantine.head.getString(0) === "DOC_A")
    assert(quarantine.head.getString(1) === "duplicate_report")
    // the kept filing's facts are all present
    assert(wh.read("financial_reports").count() === 1)
  }

  test("extract: item master dedups by element_id with category logic") {
    val staged = Standardize(rawFixture())
    val items = Extract.itemCandidates(staged).collect()
    // 6 financial (jppfs) element_ids, NetSales appears twice → deduped
    assert(items.length == 5)
    val ns = items.find(_.getAs[String]("element_id") == "jppfs_cor:NetSales").get
    assert(ns.getAs[String]("category") == "Consolidated")
    assert(ns.getAs[String]("item_name") == "売上高")
    assert(ns.getAs[String]("unit_type") == "JPY")
  }

  test("ingest + summary: end-to-end KPIs on a temp warehouse") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val wh = new Warehouse(spark, tmp)
    val staged = Standardize(rawFixture())
    val quarantine = new Ingest(spark, wh).runStaged(staged, strict = false)
    assert(quarantine.count() == 0)

    val summary = Summary.forCompany(
      wh.read("companies"), wh.read("financial_reports"),
      wh.read("financial_data"), wh.read("financial_items"), "E00000")
      .collect()
    assert(summary.length == 1)
    val r = summary.head
    assert(r.getAs[String]("company_name") == "テスト株式会社")
    assert(r.getAs[String]("period_name") == "2023 Q3")
    assert(r.getAs[Int]("fiscal_year") == 2023)
    assert(r.getAs[String]("quarter_type") == "Q3")
    // net_sales / 1e6 (million-yen scaling)
    assert(math.abs(r.getAs[Double]("net_sales") - 43858.0) < 1e-9)
    // operating margin = 8771600000 / 43858000000 * 100 = 20.0000...
    assert(math.abs(r.getAs[Double]("operation_profit_rate")
      - 8771600000.0 / 43858000000.0 * 100) < 1e-9)
    assert(math.abs(r.getAs[Double]("net_profit_rate")
      - 4385800000.0 / 43858000000.0 * 100) < 1e-9)
  }

  test("ingest is idempotent: re-running converges (deterministic keys)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh2").toString
    val wh = new Warehouse(spark, tmp)
    val staged = Standardize(rawFixture())
    val ing = new Ingest(spark, wh)
    ing.runStaged(staged, strict = false)
    val n1 = (wh.read("companies").count(), wh.read("financial_reports").count(),
      wh.read("financial_items").count(), wh.read("financial_data").count())
    ing.runStaged(staged, strict = false)
    val n2 = (wh.read("companies").count(), wh.read("financial_reports").count(),
      wh.read("financial_items").count(), wh.read("financial_data").count())
    assert(n1 === n2)
  }

  test("warehouse: upsert replaces by key, delete anti-joins") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh3").toString
    val wh = new Warehouse(spark, tmp)
    wh.create("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    wh.upsert("t", Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    val after = wh.read("t").orderBy("k").as[(Long, String)].collect()
    assert(after === Array((1L, "a"), (2L, "B"), (3L, "c")))
    wh.delete("t", Seq(Tuple1(1L)).toDF("k"), Seq("k"))
    assert(wh.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((2L, "B"), (3L, "c")))
  }

  test("ingest: ISO-format dates (raw EDINET variant) parse identically") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-iso").toString
    val wh = new Warehouse(spark, tmp)
    // the golden files carry 2023/12/31; raw EDINET CSVs carry ISO
    val iso = rawFixture().withColumn("値",
      when(col("要素ID") === "jpdei_cor:CurrentPeriodEndDateDEI", "2023-12-31")
        .when(col("要素ID") === "jpcrp_cor:FilingDateCoverPage", "2024-02-09")
        .otherwise(col("値")))
    val q = new Ingest(spark, wh).runStaged(Standardize(iso), strict = false)
    assert(q.count() === 0)
    val rep = wh.read("financial_reports").collect().head
    assert(rep.getAs[java.sql.Date]("fiscal_year_end").toString == "2023-12-31")
    assert(rep.getAs[java.sql.Date]("filing_date").toString == "2024-02-09")
  }

  test("ingest: a date parseable in neither form quarantines the document") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-baddate").toString
    val wh = new Warehouse(spark, tmp)
    val bad = rawFixture().withColumn("値",
      when(col("要素ID") === "jpcrp_cor:FilingDateCoverPage", "令和6年2月9日")
        .otherwise(col("値")))
    val q = new Ingest(spark, wh).runStaged(Standardize(bad), strict = false).collect()
    assert(q.exists(_.getAs[String]("reason") == "bad_date"))
    // the whole document is aborted — no fact partition was written
    // (an all-quarantined ingest leaves an empty, schema-less table dir)
    val factDir = new java.io.File(s"$tmp/financial_data")
    assert(!factDir.exists() ||
      !factDir.listFiles().exists(_.getName.startsWith("fiscal_year=")))
  }

  /** Rows in `name`. An ingest with no fact rows leaves a schema-less
    * `financial_data` dir that `wh.read` cannot open: 0 when it holds no
    * partition.
    */
  private def tableRows(wh: Warehouse, tmp: String, name: String): Long = {
    val parts = Option(new java.io.File(s"$tmp/$name").listFiles()).getOrElse(Array.empty)
    if (name == "financial_data" && !parts.exists(_.getName.startsWith("fiscal_year="))) 0L
    else wh.read(name).count()
  }

  test("ingest: a filing missing every report or every company field lands no report, quarantines nothing") {
    // (fields dropped, companies expected): with no report fields the
    // company still lands; with no company fields the report has no
    // company to join on doc_id, so it and its facts drop. Neither is an
    // invalid candidate, so nothing is quarantined, and the item master
    // takes the filing's financial rows either way.
    for ((dropped, companies) <- Seq(Model.reportMapping -> 1, Model.companyMapping -> 0)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-wh-partial").toString
      val wh = new Warehouse(spark, tmp)
      val raw = rawFixture().filter(!col("要素ID").isin(dropped.map(_._2): _*))
      val q = new Ingest(spark, wh).runStaged(Standardize(raw), strict = false)
      assert(q.count() === 0)
      assert(tableRows(wh, tmp, "companies") === companies)
      assert(tableRows(wh, tmp, "financial_items") === 5)
      assert(tableRows(wh, tmp, "financial_reports") === 0)
      assert(tableRows(wh, tmp, "financial_data") === 0)
    }
  }

  test("ingest: strict mode with an unparsable period throws before any table exists") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-strict").toString
    val wh = new Warehouse(spark, tmp)
    val e = intercept[Exception] {
      new Ingest(spark, wh).runStaged(
        Standardize(rawFixture(period = "意味のない文字列")), strict = true)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("unparsable accounting period")), e)
    assert(new java.io.File(tmp).list().isEmpty, "no table may be created")
  }

  test("config: mapping loads from an external file (change without recompile)") {
    import graft.etl.{Extract, MappingConfig}
    val p = java.nio.file.Files.createTempFile("graft-map", ".properties")
    java.nio.file.Files.writeString(p,
      """company.order = edinet_code,company_name
        |company.edinet_code = jpdei_cor:EDINETCodeDEI
        |company.company_name = jpcrp_cor:CompanyNameCoverPage
        |report.order = document_type
        |report.document_type = jpcrp_cor:DocumentTitleCoverPage
        |summary.order = net_sales,total_assets
        |summary.net_sales = jppfs_cor:NetSales
        |summary.total_assets = jppfs_cor:Assets,jpigp_cor:TotalAssetsIFRS
        |financial_element_pattern = jppfs_cor:
        |""".stripMargin)
    val m = MappingConfig.load(p.toString)
    assert(m.company === Seq("edinet_code" -> "jpdei_cor:EDINETCodeDEI",
      "company_name" -> "jpcrp_cor:CompanyNameCoverPage"))
    // a user-added metric with its candidate list, no recompile
    assert(m.summary.toMap.apply("total_assets")
      === Seq("jppfs_cor:Assets", "jpigp_cor:TotalAssetsIFRS"))
    assert(m.financialElementPattern === "jppfs_cor:")
    // the custom mapping drives extraction directly
    val row = Extract.mappingPivot(Standardize(rawFixture()), m.company).collect().head
    assert(row.getAs[String]("company_name") == "テスト株式会社")
    // the bundled default still matches the reference's config.toml
    assert(Model.companyMapping.map(_._1)
      === Seq("edinet_code", "security_code", "industry_code", "company_name"))
    assert(Model.summaryItems.map(_._1)
      === Seq("net_sales", "operating_income", "ordinary_income", "net_income"))
  }

  test("summary: typed DTO egress (P16) + display formatting (F6)") {
    import graft.etl.FinancialSummary
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh6").toString
    val wh = new Warehouse(spark, tmp)
    new Ingest(spark, wh).runStaged(Standardize(rawFixture()), strict = false)
    val ds: org.apache.spark.sql.Dataset[FinancialSummary] = Summary.summariesTyped(
      wh.read("companies"), wh.read("financial_reports"),
      wh.read("financial_data"), wh.read("financial_items"))
    // field-for-field parity with FinancialSummaryDTO
    // (financial_service.py:33-50)
    assert(ds.schema.fieldNames.toSeq === Seq("company_name", "period_name",
      "fiscal_year", "quarter_type", "net_sales", "operating_income",
      "ordinary_income", "net_income", "operation_profit_rate",
      "ordinary_profit_rate", "net_profit_rate"))
    val s = ds.collect().head
    assert(s.company_name == "テスト株式会社")
    assert(s.fiscal_year === Some(2023))
    assert(s.quarter_type === Some("Q3"))
    assert(s.net_sales === Some(43858.0)) // million-yen scaled
    assert(s.operation_profit_rate === Some(20.0))
    // point-lookup form matches get_financial_summary(edinet_code)
    assert(Summary.summariesTyped(wh.read("companies"), wh.read("financial_reports"),
      wh.read("financial_data"), wh.read("financial_items"),
      edinetCode = Some("E00000")).count() === 1)
    // F6 display golden strings: "{:,.2f}" money, "{:.2f}%" rates
    val d = Summary.display(ds.toDF()).collect().head
    assert(d.getAs[String]("net_sales") == "43,858.00")
    assert(d.getAs[String]("operation_profit_rate") == "20.00%")
    // rates use "{:.2f}%" — NO thousands grouping even >= 1000
    // (app.py renders "1234.56%", money keeps the comma)
    val big = Summary.display(ds.toDF()
      .withColumn("operation_profit_rate", org.apache.spark.sql.functions.lit(1234.556))
      .withColumn("net_sales", org.apache.spark.sql.functions.lit(1234.556)))
      .collect().head
    assert(big.getAs[String]("operation_profit_rate") == "1234.56%")
    assert(big.getAs[String]("net_sales") == "1,234.56")

    // chart-shaped series (app.py:158-169 reshape): 4 metric rows per
    // summary in the reference's insertion order, amounts as float,
    // golden JSON = what `Cli summary --format json` prints
    val series = Summary.chartSeries(ds.toDF())
    val json = series.toJSON.collect()
    assert(json.length === 4)
    assert(json(0) ===
      s"""{"company_name":"テスト株式会社","period_name":"${s.period_name}","項目":"売上高","金額":43858.0}""")
    assert(series.collect().map(_.getAs[String]("項目")).toSeq ===
      Seq("売上高", "営業利益", "経常利益", "純利益"),
      "chart order is the reference's insertion order (Altair sort=None)")

    // chart SPEC egress (app.py:172-189 Altair chart → Vega-Lite):
    // golden-check the emitted spec for the reference company — bar
    // mark, 項目 unsorted on x, zero-anchored 金額 on y, 20-pt axes
    val specs = graft.etl.ChartWriter.specs(series)
    assert(specs.length === 1)
    val (_, _, spec) = specs.head
    val vals = series.collect().map(r =>
      s"""{"項目":"${r.getAs[String]("項目")}","金額":${r.getAs[Double]("金額")}}""")
      .mkString("[", ",", "]")
    assert(spec ===
      """{"$schema":"https://vega.github.io/schema/vega-lite/v5.json",""" +
      s""""title":"テスト株式会社 ${s.period_name}",""" +
      s""""data":{"values":$vals},""" +
      """"mark":"bar","encoding":{""" +
      """"x":{"field":"項目","type":"nominal","sort":null,""" +
      """"axis":{"labelFontSize":20,"titleFontSize":20}},""" +
      """"y":{"field":"金額","type":"quantitative","scale":{"zero":true},""" +
      """"axis":{"labelFontSize":20,"titleFontSize":20}}}}""")
    assert(vals.contains(""""金額":43858.0"""), "insertion-order head is 売上高")
    // the HTML writer embeds exactly that spec (render-engine-free
    // artifact: a <pre> fallback keeps it legible offline)
    val out = java.nio.file.Files.createTempDirectory("graft-chart")
      .resolve("charts.html").toString
    graft.etl.ChartWriter.writeHtml(series, out)
    val html = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8")
    assert(html.contains(spec))
    assert(html.contains("vega-lite"))

    // SITE egress (the reference's remaining live surface — the
    // Streamlit company selectbox, app.py:95-101 — as navigation):
    // index.html lists every company once, each linking to a page
    // holding exactly that company's charts
    import org.apache.spark.sql.functions.{lit => flit}
    val multi = series.union(
      series.withColumn("company_name", flit("第二株式会社")))
    val siteDir = java.nio.file.Files.createTempDirectory("graft-site").toString
    graft.etl.ChartWriter.writeSite(multi, siteDir)
    def readF(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(siteDir, p)), "UTF-8")
    val idx = readF("index.html")
    assert(idx.contains("""<li><a href="company_0.html">テスト株式会社</a></li>"""))
    assert(idx.contains("""<li><a href="company_1.html">第二株式会社</a></li>"""))
    assert(idx.sliding("テスト株式会社".length).count(_ == "テスト株式会社") === 1,
      "one index entry per company, not per (company, period)")
    val page0 = readF("company_0.html")
    val page1 = readF("company_1.html")
    assert(page0.contains(spec), "company page embeds its own spec")
    assert(!page0.contains("第二株式会社"), "pages are per-company")
    assert(page1.contains(spec.replace("テスト株式会社", "第二株式会社")),
      "the second company's page carries its retitled spec")
    assert(!page1.contains("テスト株式会社"))
  }

  test("warehouse: partition-scoped upsert rewrites ONLY touched partitions") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh4").toString
    val wh = new Warehouse(spark, tmp)
    wh.upsert("t",
      Seq((1L, "a", "2022"), (2L, "b", "2022"), (3L, "c", "2023"))
        .toDF("k", "v", "fy"),
      Seq("k"), Seq("fy"))
    // part-file names are write-unique (uuid), so identical snapshot
    // file sets ⇒ the partition was not rewritten
    def files(fy: String): Set[String] =
      wh.read("t").where($"fy" === fy).inputFiles.toSet
    val before2022 = files("2022")
    wh.upsert("t",
      Seq((3L, "C", "2023"), (4L, "d", "2023")).toDF("k", "v", "fy"),
      Seq("k"), Seq("fy"))
    assert(files("2022") === before2022) // untouched partition: same files
    assert(wh.read("t").orderBy("k").as[(Long, String, String)].collect()
      === Array((1L, "a", "2022"), (2L, "b", "2022"),
        (3L, "C", "2023"), (4L, "d", "2023")))
    // a brand-new partition lands alongside without touching the others
    wh.upsert("t", Seq((5L, "e", "2024")).toDF("k", "v", "fy"),
      Seq("k"), Seq("fy"))
    assert(files("2022") === before2022)
    assert(wh.read("t").count() === 5)
  }

  test("warehouse: unpartitioned table migrates on first partitioned upsert") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh7").toString
    val wh = new Warehouse(spark, tmp)
    // flat layout: rows in root part-files
    wh.create("t", Seq((1L, "a", "2022"), (2L, "b", "2023")).toDF("k", "v", "fy"))
    // a partition-scoped commit here would keep the old flat rows;
    // instead the whole table migrates to the partitioned layout
    wh.upsert("t", Seq((2L, "B", "2023")).toDF("k", "v", "fy"), Seq("k"), Seq("fy"))
    assert(wh.read("t").orderBy("k").as[(Long, String, String)].collect()
      === Array((1L, "a", "2022"), (2L, "B", "2023")))
    val snap = wh.read("t").inputFiles
    assert(snap.forall(_.contains("/fy=")), "not migrated")
    assert(snap.exists(_.contains("/fy=2022/")))
  }

  test("warehouse: bucketed tables join co-located, with no exchange") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh8").toString
    val wh = new Warehouse(spark, tmp)
    val a = spark.range(0, 2000).select($"id".as("k"), ($"id" * 3).as("va"))
    val b = spark.range(0, 2000).select($"id".as("k"), ($"id" * 7).as("vb"))
    wh.createBucketed("bt_a", a, Seq("k"), 8)
    wh.createBucketed("bt_b", b, Seq("k"), 8)
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = wh.readBucketed("bt_a").join(wh.readBucketed("bt_b"), "k")
      joined.collect() // finalize the adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      // identical bucketing on both sides ⇒ the sort-merge join reads
      // buckets directly; any Exchange means the layout was not used
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      assert(joined.count() === 2000)
      assert(joined.filter($"k" === 7).select($"va", $"vb")
        .as[(Long, Long)].collect() === Array((21L, 49L)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS bt_a")
      spark.sql("DROP TABLE IF EXISTS bt_b")
    }
  }

  test("warehouse: manifest publish — a pre-flip reader keeps the OLD snapshot") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh9").toString
    val wh = new Warehouse(spark, tmp)
    wh.atomicPublish("t", Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // a reader resolves pointer → manifest → explicit file list at
    // read() time; those files must survive the next publish (old-or-
    // new, never a missing-dir window — the object-store property the
    // rename swap can't give, where df1's dir would be deleted)
    val df1 = wh.read("t")
    wh.atomicPublish("t", Seq((1L, "A"), (3L, "c")).toDF("k", "v"))
    assert(df1.orderBy("k").as[(Long, String)].collect()
      === Array((1L, "a"), (2L, "b")), "pre-flip reader must see the old snapshot")
    assert(wh.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "A"), (3L, "c")), "post-flip reader must see the new snapshot")
    // the only pointer state on disk is one tiny _CURRENT file
    assert(new java.io.File(s"$tmp/t/_CURRENT").isFile)
    // checksum hygiene: the NIO pointer flip bypasses Hadoop's
    // ChecksumFileSystem, so it must leave neither an orphaned
    // `.._CURRENT.tmp.*.crc` per flip (unbounded tiny-file growth) nor
    // a `._CURRENT.crc` at all (a stale one fails a later checksummed
    // open with ChecksumException). Manifest sidecars are fine — they
    // live and die with their manifest through the checksummed fs.
    val ptrCrcs = new java.io.File(s"$tmp/t").listFiles()
      .map(_.getName).filter(n => n.endsWith(".crc") && n.contains("_CURRENT")).toSeq
    assert(ptrCrcs.isEmpty, s"pointer flips must not leave pointer .crc sidecars: $ptrCrcs")
    // GC keeps exactly current + previous snapshots' version dirs
    wh.atomicPublish("t", Seq((9L, "z")).toDF("k", "v"))
    wh.atomicPublish("t", Seq((10L, "y")).toDF("k", "v"))
    val vdirs = new java.io.File(s"$tmp/t").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("_v\\d+")).map(_.getName).toSet
    assert(vdirs === Set("_v3", "_v4"), s"stale versions not GC'd: $vdirs")
    // no orphaned sidecars after GC either: every .crc on disk must
    // still have its base file (GC through the checksummed fs removes
    // manifest+sidecar together)
    val names = new java.io.File(s"$tmp/t").listFiles().map(_.getName).toSet
    val orphans = names.filter(_.endsWith(".crc"))
      .filterNot(n => names.contains(n.stripPrefix(".").stripSuffix(".crc")))
    assert(orphans.isEmpty, s"orphaned .crc sidecars after GC: $orphans")
  }

  test("warehouse: racing manifest commits — base-dependent publish aborts loudly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-whcas").toString
    val whA = new Warehouse(spark, tmp)
    val whB = new Warehouse(spark, tmp)
    whA.atomicPublish("t", Seq((1L, "base")).toDF("k", "v"))
    // Inject B's full commit into A's window between manifest create
    // and pointer CAS — the interleaving that, under last-PUT-wins,
    // would silently clobber B's committed snapshot. A's operation is
    // a PUBLISH (base-dependent: it replaces the snapshot it resolved),
    // so it must abort loudly — only pure appends may rebase.
    var fired = false
    whA.commitTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", Seq((3L, "B")).toDF("k", "v"))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      whA.atomicPublish("t", Seq((2L, "A")).toDF("k", "v"))
    }
    whA.commitTestHook = _ => ()
    assert(e.getMessage.contains("concurrent commit"))
    // the winner's snapshot is intact — nothing lost; A's rows did not land
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "base"), (3L, "B")), "winner's commit must survive the race")
    // the loser left no dangling state: every manifest on disk is the
    // current or previous snapshot, every version dir is referenced
    val entries = new java.io.File(s"$tmp/t").listFiles().map(_.getName).toSet
    assert(!entries.contains("_manifest_v2") && !entries.contains("_v2"),
      s"loser's orphan manifest/version dir must be removed: $entries")
    // and the loser's retry against the fresh snapshot succeeds —
    // publish semantics: the retried snapshot REPLACES the table
    whA.atomicPublish("t", Seq((2L, "A")).toDF("k", "v"))
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((2L, "A")), "retried publish must replace the fresh snapshot")
  }

  test("warehouse: append-append race auto-rebases — both batches land, no rewrite") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-whreb").toString
    val whA = new Warehouse(spark, tmp)
    val whB = new Warehouse(spark, tmp)
    whA.atomicPublish("t", Seq((1L, "base")).toDF("k", "v"))
    // B commits in A's manifest→CAS window; A's append loses the CAS
    // but is base-independent, so it REBASES onto B's snapshot and
    // succeeds without surfacing an exception or rewriting its data
    var fired = false
    whA.commitTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", Seq((3L, "B")).toDF("k", "v"))
    }
    whA.append("t", Seq((2L, "A")).toDF("k", "v"))
    whA.commitTestHook = _ => ()
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "base"), (2L, "A"), (3L, "B")),
      "both racing appends must land")
    assert(whA.fsck("t").isEmpty,
      "rebased snapshot must be internally consistent")

    // same race at the locked-CAS window (both passed the pre-check)
    fired = false
    whA.casTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", Seq((5L, "B2")).toDF("k", "v"))
    }
    whA.append("t", Seq((4L, "A2")).toDF("k", "v"))
    whA.casTestHook = _ => ()
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "base"), (2L, "A"), (3L, "B"), (4L, "A2"), (5L, "B2")),
      "rebase must also cover a CAS lost inside the locked window")
    assert(whA.fsck("t").isEmpty)
  }

  test("warehouse: both writers pass the pre-check — locked CAS keeps at most one flip") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-whcas2").toString
    val whA = new Warehouse(spark, tmp)
    val whB = new Warehouse(spark, tmp)
    whA.atomicPublish("t", Seq((1L, "base")).toDF("k", "v"))
    // Inject B's FULL commit after A's optimistic pre-check has already
    // PASSED — the r6 check-then-rename lost-update window: both
    // writers observed the same expected snapshot and both believe they
    // may flip. The PointerStore re-observes INSIDE its critical
    // section, so A's flip must now fail loudly instead of silently
    // clobbering B's committed snapshot.
    var fired = false
    whA.casTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", Seq((3L, "B")).toDF("k", "v"))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      whA.atomicPublish("t", Seq((2L, "A")).toDF("k", "v"))
    }
    whA.casTestHook = _ => ()
    assert(e.getMessage.contains("concurrent commit"))
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "base"), (3L, "B")),
      "the winner's flip must survive; the loser must not clobber it")
    val entries = new java.io.File(s"$tmp/t").listFiles().map(_.getName).toSet
    assert(!entries.exists(_.contains(".lock")),
      s"the loser must release the pointer lock: $entries")
    // the loser's retry against the fresh snapshot lands cleanly
    // (publish semantics: it replaces the table)
    whA.atomicPublish("t", Seq((2L, "A")).toDF("k", "v"))
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((2L, "A")))
  }

  test("warehouse: conditional-PUT pointer store plugs into the same commit path") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-whmem").toString
    // the object-store-shaped store: CAS is a native atomic register
    // swap (If-Match semantics) — no lock files, no rename
    val store = new graft.sources.InMemoryPointerStore
    val whA = new Warehouse(spark, tmp, pointerStore = store)
    val whB = new Warehouse(spark, tmp, pointerStore = store)
    whA.atomicPublish("t", Seq((1L, "base")).toDF("k", "v"))
    assert(whA.read("t").count() === 1)
    // same lost-update interleaving as the FS-store test: both writers
    // pass the pre-check, the conditional PUT fails exactly one
    var fired = false
    whA.casTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", Seq((3L, "B")).toDF("k", "v"))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      whA.atomicPublish("t", Seq((2L, "A")).toDF("k", "v"))
    }
    whA.casTestHook = _ => ()
    assert(e.getMessage.contains("concurrent commit"))
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "base"), (3L, "B")))
    assert(!new java.io.File(s"$tmp/t").list().exists(_.contains(".lock")),
      "a conditional-PUT store must never create lock files")
    // an APPEND losing the same conditional-PUT race rebases instead
    whA.casTestHook = _ => ()
    whA.append("t", Seq((2L, "A")).toDF("k", "v"))
    assert(whA.read("t").count() === 3)
  }

  test("pointer store: threads racing one CAS — exactly one flip wins") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ptr").toString
    val root = new org.apache.hadoop.fs.Path(tmp)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new FsPointerStore()
    def obs(): Option[String] = store.read(fs, root, "_CURRENT")
    assert(store.compareAndSet(fs, root, "_CURRENT", None, "m0", () => obs()))
    // all racers hold the SAME expectation; the lock serializes them so
    // the first to flip wins and every later in-lock observation fails
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        if (store.compareAndSet(fs, root, "_CURRENT", Some("m0"), s"m$i",
            () => obs())) { wins.incrementAndGet(); () }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(wins.get() === 1, "exactly one racer may flip")
    val v = obs().get
    assert(v.matches("m[1-8]"), s"pointer must name the winner, got $v")
    assert(!new java.io.File(tmp).list().exists(_.contains(".lock")),
      "all lock files released")
  }

  test("pointer store: flip works on a scheme with no FileContext binding") {
    // non-"file" schemes take the FileContext overwrite-rename path;
    // a scheme with no AbstractFileSystem binding (many object-store
    // connectors) throws UnsupportedFileSystemException there and must
    // fall back to the serialized delete+rename pair instead of
    // failing the commit. GraftTestFs registers RawLocal under the
    // unbound scheme "graftfs" to drive exactly that branch.
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ptrfs").toString
    val root = new org.apache.hadoop.fs.Path(
      new java.net.URI("graftfs", null, tmp, null))
    val fs = root.getFileSystem(conf)
    assert(fs.getScheme === "graftfs") // precondition: not the NIO branch
    val store = new FsPointerStore()
    def obs(): Option[String] = store.read(fs, root, "_CURRENT")
    assert(store.compareAndSet(fs, root, "_CURRENT", None, "m1", () => obs()))
    assert(store.compareAndSet(fs, root, "_CURRENT", Some("m1"), "m2", () => obs()))
    assert(obs() === Some("m2"))
    // stale expectation still refused on the fallback path
    assert(!store.compareAndSet(fs, root, "_CURRENT", Some("m1"), "m3", () => obs()))
    assert(obs() === Some("m2"))
  }

  test("pointer store: a reader never observes a missing pointer mid-flip") {
    // the flip must be atomic-overwrite, not delete+rename: a reader
    // finding NO pointer reads the table as never committed. Hammer
    // flips on one thread, reads on another: with the old
    // delete+rename this trips within a few hundred iterations on a
    // local FS; with posix-rename overwrite it never can.
    val tmp = java.nio.file.Files.createTempDirectory("graft-ptrflip").toString
    val root = new org.apache.hadoop.fs.Path(tmp)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new FsPointerStore()
    def obs(): Option[String] = store.read(fs, root, "_CURRENT")
    assert(store.compareAndSet(fs, root, "_CURRENT", None, "m0", () => obs()))
    val gaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) if (obs().isEmpty) { gaps.incrementAndGet(); () }
    })
    reader.start()
    var cur = "m0"
    for (i <- 1 to 400) {
      val next = s"m$i"
      assert(store.compareAndSet(fs, root, "_CURRENT", Some(cur), next,
        () => obs()))
      cur = next
    }
    stop.set(true)
    reader.join()
    assert(gaps.get() === 0,
      s"reader observed a missing pointer ${gaps.get()} times mid-flip")
    assert(obs() === Some("m400"))
  }

  test("warehouse: manifest partition-scoped upsert references untouched files") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh10").toString
    val wh = new Warehouse(spark, tmp)
    wh.upsert("t",
      Seq((1L, "a", "2022"), (2L, "b", "2022"), (3L, "c", "2023"))
        .toDF("k", "v", "fy"), Seq("k"), Seq("fy"))
    def v1files(fy: String): Set[String] =
      new java.io.File(s"$tmp/t/_v1/fy=$fy").listFiles()
        .map(_.getName).filter(_.startsWith("part-")).toSet
    val before2022 = v1files("2022")
    wh.upsert("t", Seq((3L, "C", "2023"), (4L, "d", "2023")).toDF("k", "v", "fy"),
      Seq("k"), Seq("fy"))
    // untouched partition: the ORIGINAL v1 files are still the ones
    // referenced — never copied, never rewritten
    assert(v1files("2022") === before2022)
    assert(wh.read("t").orderBy("k").as[(Long, String, String)].collect()
      === Array((1L, "a", "2022"), (2L, "b", "2022"),
        (3L, "C", "2023"), (4L, "d", "2023")))
    // append is snapshot-atomic too, and partition columns survive the
    // manifest read (basePath inference across version dirs)
    wh.append("t", Seq((5L, "e", "2024")).toDF("k", "v", "fy"))
    assert(wh.read("t").filter($"fy" === "2024").count() === 1)
  }

  test("warehouse: legacy table migrates into manifest mode in place") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh11").toString
    // a pre-manifest table: plain parquet dir layout, no manifest
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$tmp/t")
    val wh = new Warehouse(spark, tmp)
    // read-through: legacy files ARE the snapshot
    assert(wh.read("t").count() === 2)
    // the first commit snapshots on top without touching them
    wh.upsert("t", Seq((2L, "B")).toDF("k", "v"), Seq("k"))
    assert(wh.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "a"), (2L, "B")))
  }

  test("warehouse: compaction collapses an append-heavy manifest table") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh13").toString
    val wh = new Warehouse(spark, tmp)
    (1 to 5).foreach(i => wh.append("t", Seq((i.toLong, s"v$i")).toDF("k", "v")))
    def files() = new java.io.File(s"$tmp/t").listFiles()
    assert(wh.read("t").count() === 5)
    // five appends -> five version dirs' files referenced, five-ish
    // part files; manifests pruned to current+previous as we go
    assert(files().count(f => f.isFile && f.getName.startsWith("_manifest_")) <= 2)
    wh.compact("t")
    assert(wh.read("t").orderBy("k").as[(Long, String)].collect()
      === (1 to 5).map(i => (i.toLong, s"v$i")).toArray)
    // the compacted version holds ONE data file; the pre-compaction
    // versions keep the one-publish grace (an in-flight reader of the
    // old snapshot still has its files) and reclaim on the next publish
    wh.append("t", Seq((6L, "v6")).toDF("k", "v"))
    val vdirs = files().filter(f => f.isDirectory && f.getName.matches("_v\\d+"))
    assert(vdirs.length === 2, s"versions not collapsed: ${vdirs.mkString(",")}")
    assert(vdirs.map(_.listFiles().count(_.getName.startsWith("part-"))).sum === 2)
    assert(wh.read("t").count() === 6)
    // partitioned layout survives appends AND compaction (append is
    // layout-preserving)
    val wh2 = new Warehouse(spark, tmp)
    wh2.upsert("p", Seq((1L, "v1", "2021")).toDF("k", "v", "fy"),
      Seq("k"), Seq("fy"))
    (2 to 4).foreach(i => wh2.append("p",
      Seq((i.toLong, s"v$i", (2020 + i % 2).toString)).toDF("k", "v", "fy")))
    wh2.compact("p")
    assert(wh2.read("p").filter($"fy" === "2021").count() === 2)
    val pDirs = new java.io.File(s"$tmp/p").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("_v\\d+"))
      .maxBy(_.getName.drop(2).toLong) // the compacted (latest) version
    assert(pDirs.listFiles().count(f => f.isDirectory && f.getName.startsWith("fy=")) === 2)
  }

  test("warehouse: SCD2 upsert preserves history, closes changed rows only") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh15").toString
    val wh = new Warehouse(spark, tmp)
    wh.upsertScd2("dim", Seq((1L, "acme"), (2L, "globex")).toDF("k", "name"), Seq("k"), "2023-01-01")
    // k=1 renamed, k=2 unchanged, k=3 new
    wh.upsertScd2("dim", Seq((1L, "acme-corp"), (2L, "globex"), (3L, "initech"))
      .toDF("k", "name"), Seq("k"), "2023-06-01")
    val rows = wh.read("dim")
      .select($"k", $"name", $"valid_from", $"valid_to")
      .as[(Long, String, String, Option[String])].collect().toSet
    assert(rows === Set(
      (1L, "acme", "2023-01-01", Some("2023-06-01")),      // closed old version
      (1L, "acme-corp", "2023-06-01", None),               // new open version
      (2L, "globex", "2023-01-01", None),                  // untouched, from preserved
      (3L, "initech", "2023-06-01", None)))                // new key
    // idempotence: re-applying the same update changes nothing
    wh.upsertScd2("dim", Seq((1L, "acme-corp")).toDF("k", "name"), Seq("k"), "2023-09-01")
    assert(wh.read("dim").count() === 4)
    // point-in-time query: who was k=1 in March?
    val asOf = wh.read("dim")
      .filter($"valid_from" <= "2023-03-01" &&
        ($"valid_to".isNull || $"valid_to" > "2023-03-01"))
      .filter($"k" === 1).select($"name").as[String].collect()
    assert(asOf === Array("acme"))
    // duplicate keys in a batch would open TWO current versions — loud
    val dup = intercept[IllegalArgumentException] {
      wh.upsertScd2("dim", Seq((9L, "x"), (9L, "y")).toDF("k", "name"),
        Seq("k"), "2023-10-01")
    }
    assert(dup.getMessage.contains("duplicate keys"))
    // a back-dated ts would invert validity intervals — loud
    val back = intercept[IllegalArgumentException] {
      wh.upsertScd2("dim", Seq((1L, "acme-redux")).toDF("k", "name"),
        Seq("k"), "2023-02-01")
    }
    assert(back.getMessage.contains("not after"))
    // schema evolution: a newly tracked column null-compares as
    // unchanged until a real value arrives, then versions the row
    wh.upsertScd2("dim", Seq((2L, "globex", null.asInstanceOf[String]))
      .toDF("k", "name", "hq"), Seq("k"), "2023-11-01")
    assert(wh.read("dim").filter($"k" === 2).count() === 1) // unchanged
    wh.upsertScd2("dim", Seq((2L, "globex", "tokyo")).toDF("k", "name", "hq"),
      Seq("k"), "2023-12-01")
    val g = wh.read("dim").filter($"k" === 2)
      .select($"name", $"hq", $"valid_to").as[(String, Option[String], Option[String])]
      .collect().toSet
    assert(g === Set(("globex", None, Some("2023-12-01")),
      ("globex", Some("tokyo"), None)))
  }

  test("warehouse: time travel reads the previous snapshot; schema evolution reads") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh14").toString
    val wh = new Warehouse(spark, tmp)
    wh.atomicPublish("t", Seq((1L, "a")).toDF("k", "v"))
    wh.atomicPublish("t", Seq((1L, "A"), (2L, "b")).toDF("k", "v"))
    // previous snapshot is resolvable by its manifest version
    assert(wh.readVersion("t", 1).as[(Long, String)].collect() === Array((1L, "a")))
    assert(wh.readVersion("t", 2).orderBy("k").count() === 2)
    // a GC'd snapshot fails loudly, not with a missing-file read
    wh.atomicPublish("t", Seq((3L, "c")).toDF("k", "v"))
    val e = intercept[IllegalArgumentException] { wh.readVersion("t", 1) }
    assert(e.getMessage.contains("not available"))
    // schema evolution: an appended batch with a NEW column reads back
    // with nulls for pre-evolution rows instead of failing the union
    wh.append("t", Seq((4L, "d", "extra")).toDF("k", "v", "note"))
    val rows = wh.read("t").orderBy("k")
      .select($"k", $"note").as[(Long, Option[String])].collect()
    assert(rows === Array((3L, None), (4L, Some("extra"))))
  }

  test("warehouse: model-based fuzz — random op sequences match an in-memory model") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-fuzz").toString
    val wh = new Warehouse(spark, tmp)
    val rnd = new scala.util.Random(11)
    var model = Map.empty[Long, String]
    def df(rows: Map[Long, String]) = rows.toSeq.toDF("k", "v")
    for (step <- 1 to 18) {
      rnd.nextInt(4) match {
        case 0 => // append fresh keys only (append semantics = no merge)
          val fresh = (1 to 3).map(_ => rnd.nextLong(1000) + 1000 * step)
            .map(k => k -> s"a$step").toMap -- model.keySet
          if (fresh.nonEmpty) {
            if (wh.exists("t")) wh.append("t", df(fresh)) else wh.create("t", df(fresh))
            model ++= fresh
          }
        case 1 => // upsert: mix of existing and new keys
          val ups = ((1 to 2).map(_ => rnd.nextLong(1000)) ++
            model.keySet.take(2)).map(k => k -> s"u$step").toMap
          wh.upsert("t", df(ups), Seq("k"))
          model ++= ups
        case 2 if model.nonEmpty => // delete a few keys
          val dels = model.keySet.filter(_ => rnd.nextBoolean()).take(3)
          if (dels.nonEmpty) {
            wh.delete("t", dels.toSeq.toDF("k"), Seq("k"))
            model --= dels
          }
        case 3 if model.nonEmpty => wh.compact("t")
        case _ => ()
      }
      if (wh.exists("t")) {
        // compare as sorted rows, not toMap: a stale-row duplicate —
        // exactly the corruption this test hunts — would be silently
        // collapsed by toMap and could mask the divergence
        val got = wh.read("t").as[(Long, String)].collect().toSeq.sorted
        assert(got === model.toSeq.sorted, s"step=$step diverged")
      }
    }
  }

  test("warehouse: a superset touchedValsHint reads the same as no hint") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh-hint").toString
    val base = Seq((1L, "a", "2022"), (2L, "b", "2022"), (3L, "c", "2023"))
      .toDF("k", "v", "fy")
    val batch = Seq((3L, "C", "2023"), (4L, "d", "2023")).toDF("k", "v", "fy")
    def rows(wh: Warehouse) =
      wh.read("t").as[(Long, String, String)].collect().toSeq.sorted
    val plain = new Warehouse(spark, s"$tmp/plain")
    plain.upsert("t", base, Seq("k"), Seq("fy"))
    plain.upsert("t", batch, Seq("k"), Seq("fy"))
    val hinted = new Warehouse(spark, s"$tmp/hinted")
    hinted.upsert("t", base, Seq("k"), Seq("fy"))
    val files2022 = hinted.read("t").where($"fy" === "2022").inputFiles.toSet
    // the batch touches 2023 only; the hint adds an existing untouched
    // partition (2022) and one the table does not have (1999)
    hinted.upsert("t", batch, Seq("k"), Seq("fy"),
      touchedValsHint = Some(Seq("2022", "2023", "1999")))
    assert(rows(hinted) === rows(plain))
    assert(rows(hinted) === Seq((1L, "a", "2022"), (2L, "b", "2022"),
      (3L, "C", "2023"), (4L, "d", "2023")))
    assert(hinted.read("t").where($"fy" === "2022").inputFiles.toSet === files2022,
      "an extra hinted partition is kept in the base scan, never rewritten")
  }

  /** Physical plan nodes of the SQL executions `body` starts, one
    * `simpleString` per line per execution. A marker job
    * run after it closes the window: the listener bus delivers events
    * in order, so once the marker's job start arrives, so has every
    * execution start before it.
    */
  private def sqlPlans(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = s"sql-plans-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart =>
          def nodes(p: SparkPlanInfo): Seq[String] = p.simpleString +: p.children.flatMap(nodes)
          plans.add(nodes(st.sparkPlanInfo).mkString("\n"))
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          seen.countDown()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      plans.asScala.toSeq
    } finally sc.removeSparkListener(l)
  }

  test("ingest: the fact upsert takes its fiscal years from the reports, running no partition-values job") {
    import spark.implicits._
    // the upsert's own partition-values probe: a collect of the batch's
    // distinct partition values, capped at 10001
    def probes(plans: Seq[String]) = plans.count(_.contains("CollectLimit 10001"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-hintingest").toString
    // control: an unhinted partitioned upsert runs the probe, so the
    // detector below sees it when it runs (a batch read from files: over
    // a relation of known size the optimizer drops the probe's limit)
    def batch(k: Long) = {
      val p = s"$tmp/batch$k"
      Seq((k, (2021 + k).toString)).toDF("k", "fy").write.parquet(p)
      spark.read.parquet(p)
    }
    val ctl = new Warehouse(spark, s"$tmp/ctl")
    ctl.upsert("t", batch(1L), Seq("k"), Seq("fy"))
    val ctlPlans = sqlPlans(ctl.upsert("t", batch(2L), Seq("k"), Seq("fy")))
    assert(probes(ctlPlans) === 1)
    val wh = new Warehouse(spark, s"$tmp/wh")
    new Ingest(spark, wh).runStaged(Standardize(rawFixture()), strict = false)
    val facts = wh.read("financial_data").count()
    // the second ingest upserts into the existing partitioned fact
    val plans = sqlPlans(new Ingest(spark, wh).runStaged(
      Standardize(rawFixture(docId = "DOC002", period = period2)), strict = false))
    assert(plans.nonEmpty)
    assert(probes(plans) === 0, "the fact upsert re-ran its pipeline for partition values")
    assert(wh.read("financial_data").count() > facts)
    assert(wh.read("financial_data").select("fiscal_year").distinct().count() === 2)
  }

  test("warehouse: upsert with assertPartitionStable rejects a moved key") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wh12").toString
    val wh = new Warehouse(spark, tmp)
    wh.upsert("t", Seq((1L, "a", "2022"), (2L, "b", "2023")).toDF("k", "v", "fy"),
      Seq("k"), Seq("fy"))
    // k=1 "moves" from fy=2022 to fy=2023: a partition-scoped merge
    // would silently leave the stale (1, a, 2022) row behind
    val e = intercept[IllegalStateException] {
      wh.upsert("t", Seq((1L, "A", "2023")).toDF("k", "v", "fy"),
        Seq("k"), Seq("fy"), assertPartitionStable = true)
    }
    assert(e.getMessage.contains("moved partitions"))
    // the same update with a stable key passes the assertion
    wh.upsert("t", Seq((2L, "B", "2023")).toDF("k", "v", "fy"),
      Seq("k"), Seq("fy"), assertPartitionStable = true)
    assert(wh.read("t").orderBy("k").as[(Long, String, String)].collect()
      === Array((1L, "a", "2022"), (2L, "B", "2023")))
  }

  // ---- cross-table UoW snapshot (DB-level _CURRENT) ------------------

  test("warehouse: DB snapshot pins a consistent multi-table set across a crashed sequence") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-uow").toString
    val wh = new Warehouse(spark, tmp)
    // UoW 1: reports + facts published, then ONE db flip
    wh.atomicPublish("reports", Seq((1L, "r1")).toDF("report_id", "title"))
    wh.atomicPublish("facts", Seq((1L, 100L)).toDF("report_id", "value"))
    wh.commitDbSnapshot(Seq("reports", "facts"))
    // UoW 2 crashes mid-sequence: reports v2 published, facts NOT, no flip
    wh.append("reports", Seq((2L, "r2")).toDF("report_id", "title"))
    // per-table read sees the torn state (documented), snapshot read does NOT:
    assert(wh.read("reports").count() === 2)
    assert(wh.readSnapshot("reports").as[(Long, String)].collect() === Array((1L, "r1")),
      "snapshot reader must keep the last consistent UoW through a crashed sequence")
    assert(wh.readSnapshot("facts").count() === 1)
    // a report in the snapshot always has its facts: the consistency invariant
    val torn = wh.readSnapshot("reports").join(
      wh.readSnapshot("facts"), Seq("report_id"), "left_anti").count()
    assert(torn === 0, "snapshot must never show reports without facts")
    // UoW 2 retried to completion: facts land, flip lands, snapshot advances
    wh.append("facts", Seq((2L, 200L)).toDF("report_id", "value"))
    wh.commitDbSnapshot(Seq("reports", "facts"))
    assert(wh.readSnapshot("reports").count() === 2)
    assert(wh.readSnapshot("facts").count() === 2)
    // a table outside the snapshot falls back to its per-table current
    wh.atomicPublish("extra", Seq((1L, "x")).toDF("k", "v"))
    assert(wh.readSnapshot("extra").count() === 1)
  }

  test("ingest: killed between table publishes — snapshot readers never see reports without facts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-uowingest").toString
    val wh = new Warehouse(spark, tmp)
    // ingest 1 completes: the baseline consistent UoW
    new Ingest(spark, wh).runStaged(Standardize(rawFixture()), strict = false)
    val baseReports = wh.readSnapshot("financial_reports").count()
    val baseFacts = wh.readSnapshot("financial_data").count()
    assert(baseReports > 0 && baseFacts > 0)
    // ingest 2 (a NEW fiscal period → new report + facts) is killed at
    // the financial_data publish: companies/items/reports landed, facts
    // did not, and the db flip never ran
    var killed = false
    wh.commitTestHook = name => if (name == "financial_data") {
      killed = true
      throw new RuntimeException("simulated crash before fact publish")
    }
    intercept[RuntimeException] {
      new Ingest(spark, wh).runStaged(Standardize(rawFixture(
        docId = "DOC002",
        period = "第122期 第３四半期(自  2024年10月１日  至  2024年12月31日)")),
        strict = false)
    }
    wh.commitTestHook = _ => ()
    assert(killed)
    // per-table read shows the torn write (one more report, same facts);
    // the snapshot read shows the PREVIOUS consistent UoW
    assert(wh.read("financial_reports").count() === baseReports + 1)
    assert(wh.readSnapshot("financial_reports").count() === baseReports)
    assert(wh.readSnapshot("financial_data").count() === baseFacts)
    val torn = wh.readSnapshot("financial_reports")
      .join(wh.readSnapshot("financial_data"), Seq("report_id"), "left_anti")
      .count()
    assert(torn === 0, "snapshot must never show reports without facts")
    // the retry converges (deterministic keys → idempotent) and flips
    new Ingest(spark, wh).runStaged(Standardize(rawFixture(
      docId = "DOC002",
      period = "第122期 第３四半期(自  2024年10月１日  至  2024年12月31日)")),
      strict = false)
    assert(wh.readSnapshot("financial_reports").count() === baseReports + 1)
    assert(wh.readSnapshot("financial_reports")
      .join(wh.readSnapshot("financial_data"), Seq("report_id"), "left_anti")
      .count() === 0)
  }

  private def period2 = "第122期 第３四半期(自  2024年10月１日  至  2024年12月31日)"

  test("ingest: a failed companies publish surfaces as itself, stops the pool, keeps the snapshot") {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft-uowfan").toString
    val wh = new Warehouse(spark, tmp)
    val tables = Seq("companies", "financial_items", "financial_reports", "financial_data")
    new Ingest(spark, wh).runStaged(Standardize(rawFixture()), strict = false)
    def snapshot(): Map[String, Set[Row]] =
      tables.map(t => t -> wh.readSnapshot(t).collect().toSet).toMap
    val first = snapshot()
    def poolThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.matches("pool-\\d+-thread-\\d+") && t.isAlive)
    val before = poolThreads()
    // ingest 2 (a new period: a new report and new facts) fails at the
    // companies commit while the other publishes are in flight
    val boom = new IllegalStateException("simulated companies commit failure")
    var fired = false
    wh.commitTestHook = name => if (name == "companies" && !fired) { fired = true; throw boom }
    val e = intercept[Throwable] {
      new Ingest(spark, wh).runStaged(
        Standardize(rawFixture(docId = "DOC002", period = period2)), strict = false)
    }
    wh.commitTestHook = _ => ()
    assert(e eq boom, s"the hook's own exception must reach the caller, got $e")
    val deadline = System.nanoTime() + 10000000000L
    while ((poolThreads() -- before).nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert((poolThreads() -- before).isEmpty, "no publish pool thread may outlive the ingest")
    assert(snapshot() === first, "snapshot readers must keep the first ingest")
    // the retry converges and flips the DB snapshot to the new UoW
    new Ingest(spark, wh).runStaged(
      Standardize(rawFixture(docId = "DOC002", period = period2)), strict = false)
    val after = snapshot()
    assert(after("financial_reports").size === first("financial_reports").size + 1)
    assert(after("financial_data").size > first("financial_data").size)
    assert(tables.forall(t => wh.readSnapshot(t).count() === wh.read(t).count()))
    assert(wh.readSnapshot("financial_reports")
      .join(wh.readSnapshot("financial_data"), Seq("report_id"), "left_anti")
      .count() === 0)
  }

  test("ingest: a killed ingest leaves none of its frames in the cache") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-uowcache").toString
    val wh = new Warehouse(spark, tmp)
    new Ingest(spark, wh).runStaged(Standardize(rawFixture()), strict = false)
    spark.catalog.clearCache()
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    wh.commitTestHook = name =>
      if (name == "financial_data") throw new RuntimeException("simulated crash")
    intercept[RuntimeException] {
      new Ingest(spark, wh).runStaged(
        Standardize(rawFixture(docId = "DOC002", period = period2)), strict = false)
    }
    wh.commitTestHook = _ => ()
    assert(cache.isEmpty, "runStaged must release its persisted frames on the error path")
    // and on success: the returned quarantine is not a cached frame either
    new Ingest(spark, wh).runStaged(
      Standardize(rawFixture(docId = "DOC002", period = period2)), strict = false)
    assert(cache.isEmpty)
  }

  test("warehouse: racing DB snapshot commits — exactly one wins") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-uowrace").toString
    val whA = new Warehouse(spark, tmp)
    val whB = new Warehouse(spark, tmp)
    whA.atomicPublish("t", Seq((1L, "a")).toDF("k", "v"))
    whA.commitDbSnapshot(Seq("t"))
    // B's full commit lands inside A's window (after A observed its
    // expected pointer, before A's CAS): A must abort loudly, leave B's
    // snapshot current, and remove its orphan db-manifest.
    whA.append("t", Seq((2L, "b")).toDF("k", "v"))
    var fired = false
    whA.dbCommitTestHook = () => if (!fired) {
      fired = true
      whB.commitDbSnapshot(Seq("t"))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      whA.commitDbSnapshot(Seq("t"))
    }
    whA.dbCommitTestHook = () => ()
    assert(e.getMessage.contains("concurrent DB snapshot"))
    assert(whA.readSnapshot("t").count() === 2,
      "the winner's DB flip must survive the race")
    // A retries against the fresh state — fine
    whA.append("t", Seq((3L, "c")).toDF("k", "v"))
    whA.commitDbSnapshot(Seq("t"))
    assert(whA.readSnapshot("t").count() === 3)
    // db-manifest GC keeps current + previous only
    val dbMfs = new java.io.File(tmp).listFiles()
      .map(_.getName).filter(_.matches("_db_manifest_v\\d+")).toSet
    assert(dbMfs.size <= 2, s"stale db manifests not GC'd: $dbMfs")
  }

  test("warehouse: a killed first DB snapshot commit leaves no DB snapshot") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-uowfirst").toString
    val wh = new Warehouse(spark, tmp)
    wh.atomicPublish("t", Seq((1L, "a")).toDF("k", "v"))
    wh.dbCommitTestHook = () => throw new RuntimeException("simulated crash before the DB flip")
    try intercept[RuntimeException](wh.commitDbSnapshot(Seq("t")))
    finally wh.dbCommitTestHook = () => ()
    val orphan = new java.io.File(tmp, "_db_manifest_v1")
    assert(orphan.exists, "the killed commit wrote its db-manifest")
    assert(wh.dbSnapshot() === Map.empty[String, String])
    // with no DB snapshot, readSnapshot is the per-table current read
    wh.append("t", Seq((2L, "b")).toDF("k", "v"))
    assert(wh.readSnapshot("t").count() === 2)
    // the retry commits under a fresh number; its GC reaps the orphan
    assert(wh.commitDbSnapshot(Seq("t")) === 2L)
    assert(wh.dbSnapshot().keySet === Set("t"))
    assert(!orphan.exists)
  }

  // ---- generation-fenced file pointer store --------------------------

  test("gen-fenced store: lost-update interleaving across two independent store instances") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-genptr").toString
    val root = new org.apache.hadoop.fs.Path(tmp)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two SEPARATE instances — no shared JVM state, exactly what two
    // processes coordinating through a shared filesystem look like
    val a = new graft.sources.GenFencedPointerStore
    val b = new graft.sources.GenFencedPointerStore
    assert(a.compareAndSet(fs, root, "_CURRENT", None, "m1", () => None))
    assert(b.read(fs, root, "_CURRENT") === Some("m1"),
      "instance B must see A's flip through the filesystem alone")
    // both observe m1; A flips first; B's stale CAS must fail
    val obsA = a.read(fs, root, "_CURRENT")
    val obsB = b.read(fs, root, "_CURRENT")
    assert(obsA === obsB)
    assert(a.compareAndSet(fs, root, "_CURRENT", obsA, "m2", () => None))
    assert(!b.compareAndSet(fs, root, "_CURRENT", obsB, "m2b", () => None),
      "the stale writer must lose the conditional put")
    assert(b.read(fs, root, "_CURRENT") === Some("m2"))
    // a crashed flip leaves ONLY an orphan staging tmp — invisible to
    // readers, never blocking later writers (no lock to break; the
    // publish-no-overwrite design has no claimed-but-valueless state)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "._CURRENT.tmp-deadwriter"),
      "mX\n".getBytes("UTF-8"))
    assert(a.read(fs, root, "_CURRENT") === Some("m2"),
      "an orphan staging tmp must be invisible to readers")
    assert(a.compareAndSet(fs, root, "_CURRENT", Some("m2"), "m3", () => None))
    assert(b.read(fs, root, "_CURRENT") === Some("m3"))
    // stale-generation GC: at most current + previous gen files remain
    val genFiles = new java.io.File(tmp).listFiles()
      .map(_.getName).filter(_.startsWith("._CURRENT.gen-")).toSeq
    assert(genFiles.size <= 2, s"stale generations not GC'd: $genFiles")
  }

  test("gen-fenced store: REAL separate processes racing one CAS — exactly one flip wins") {
    // the claim the in-JVM tests can't make: four independent JVMs,
    // sharing nothing but the filesystem, all observe the same pointer
    // value and race one conditional flip. The gen-claim O_EXCL create
    // is the only coordination — exactly one process may exit 0.
    val tmp = java.nio.file.Files.createTempDirectory("graft-genproc").toString
    val root = new org.apache.hadoop.fs.Path(tmp)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store = new graft.sources.GenFencedPointerStore
    assert(store.compareAndSet(fs, root, "_CURRENT", None, "m1", () => None))
    val cp = Seq(
      "target/scala-2.13/test-classes", "target/scala-2.13/classes",
      "/opt/spark/jars/*").mkString(":")
    val javaBin = s"${sys.props("java.home")}/bin/java"
    def launch(next: String) = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.GenPtrCli", tmp, "m1", next)
      .redirectErrorStream(true).start()
    val procs = (1 to 4).map(i => launch(s"m2-p$i"))
    val exits = procs.map(_.waitFor())
    assert(exits.count(_ == 0) === 1,
      s"exactly one process must win the flip, got exits=$exits")
    assert(!exits.contains(2), s"a process errored: exits=$exits")
    val winner = exits.indexOf(0) + 1
    assert(store.read(fs, root, "_CURRENT") === Some(s"m2-p$winner"),
      "the surviving pointer must be the winning process's value")
    // and a fresh process against the NEW value still works
    assert(launch("m3").waitFor() === 1, "stale expected must lose")
    assert(new ProcessBuilder(javaBin, "-cp", cp, "graft.GenPtrCli",
      tmp, s"m2-p$winner", "m3").start().waitFor() === 0)
    assert(store.read(fs, root, "_CURRENT") === Some("m3"))
  }

  test("gen-fenced store: plugs into the warehouse commit path, CAS race aborts the loser") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-genwh").toString
    val whA = new Warehouse(spark, tmp,
      pointerStore = new graft.sources.GenFencedPointerStore)
    val whB = new Warehouse(spark, tmp,
      pointerStore = new graft.sources.GenFencedPointerStore)
    whA.atomicPublish("t", Seq((1L, "base")).toDF("k", "v"))
    // the r6 lost-update window: both pass the pre-check, B completes a
    // full commit inside A's window, A's fenced CAS must fail loudly
    var fired = false
    whA.casTestHook = _ => if (!fired) {
      fired = true
      whB.append("t", Seq((3L, "B")).toDF("k", "v"))
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      whA.atomicPublish("t", Seq((2L, "A")).toDF("k", "v"))
    }
    whA.casTestHook = _ => ()
    assert(e.getMessage.contains("concurrent commit"))
    assert(whA.read("t").orderBy("k").as[(Long, String)].collect()
      === Array((1L, "base"), (3L, "B")))
    assert(!new java.io.File(s"$tmp/t").list().exists(_.contains(".lock")),
      "the gen-fenced store must never create lock files")
    // an append losing the same fenced race rebases and lands
    whA.append("t", Seq((2L, "A")).toDF("k", "v"))
    assert(whA.read("t").count() === 3)
  }

  test("gen-fenced store + WAP branches: shields, DV pointers, promote and abandon") {
    // the previously untested combination: branch pointers are raw
    // last-write-wins files while the MAIN pointer (and the DV
    // pointers GC sweeps route through PointerStore.ownedPointer) are
    // gen-encoded — the GC shield, the promote CAS, and merge-on-read
    // must all survive the mix
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-genbr").toString
    val wh = new Warehouse(spark, tmp,
      pointerStore = new graft.sources.GenFencedPointerStore)
    wh.atomicPublish("t", spark.range(0, 100).toDF("k"))               // v1
    wh.deleteRows("t", col("k") >= 90L)         // main DV via gen store
    assert(wh.read("t").count() === 90)
    // stage a branch, then keep committing on main: commit-time GC
    // must shield the pointed branch manifest across main-line churn
    wh.publishBranch("t", "audit", spark.range(1000, 1010).toDF("k"))
    wh.append("t", spark.range(100, 120).toDF("k"))
    wh.append("t", spark.range(120, 140).toDF("k"))
    wh.vacuumOrphans("t")
    assert(wh.readBranch("t", "audit").count() === 10,
      "the branch manifest must survive main-line GC under the gen store")
    assert(wh.read("t").count() === 130) // 90 + 20 + 20, DV still applied
    // promote: the branch wholesale replaces main through the fenced CAS
    wh.promoteBranch("t", "audit")
    assert(wh.read("t").as[Long].collect().sorted.toSeq
      === (1000L until 1010L).toSeq)
    assert(wh.fsck("t").isEmpty, s"fsck after promote: ${wh.fsck("t")}")
    // abandon leg: a second branch dropped without publishing
    wh.publishBranch("t", "audit2", spark.range(2000, 2005).toDF("k"))
    wh.abandonBranch("t", "audit2")
    intercept[IllegalArgumentException] { wh.readBranch("t", "audit2") }
    assert(wh.read("t").count() === 10)
    assert(wh.fsck("t").isEmpty)
    assert(!new java.io.File(s"$tmp/t").list().exists(_.contains(".lock")))
  }
}

/** RawLocalFileSystem re-registered under a scheme that has NO
  * AbstractFileSystem (FileContext) binding — drives FsPointerStore's
  * UnsupportedFileSystemException fallback in tests. Top-level class:
  * Hadoop instantiates it reflectively from `fs.graftfs.impl`.
  */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}
