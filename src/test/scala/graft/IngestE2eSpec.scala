package graft

import java.nio.file.Files
import graft.etl.{Ingest, Summary}
import graft.sources.Warehouse

/** Full-path integration: a complete filing written as a real UTF-16LE
  * tab-separated file on disk → readAuto → standardize → extract →
  * warehouse → summary KPIs. This is the §3.2 lifecycle end-to-end.
  */
class IngestE2eSpec extends SparkSpec {

  test("two filings on disk → warehouse → per-company KPIs") {
    val csvDir = Files.createTempDirectory("filings").toString
    val whDir = Files.createTempDirectory("wh-e2e").toString
    Filings.write(csvDir, "S100AAAA", "E11111", "アルファ株式会社", 200000000L, 50000000L)
    Filings.write(csvDir, "S100BBBB", "E22222", "ベータ株式会社", 1000000000L, 100000000L)

    val wh = new Warehouse(spark, whDir)
    val quarantine = new Ingest(spark, wh).run(csvDir)
    assert(quarantine.count() === 0)

    val summaries = Summary.allCompanies(
        wh.read("companies"), wh.read("financial_reports"),
        wh.read("financial_data"), wh.read("financial_items"))
      .orderBy("edinet_code").collect()
    assert(summaries.length === 2)
    val alpha = summaries(0)
    assert(alpha.getAs[String]("company_name") === "アルファ株式会社")
    assert(alpha.getAs[String]("period_name") === "2023 Q3")
    assert(math.abs(alpha.getAs[Double]("net_sales") - 200.0) < 1e-9)
    assert(math.abs(alpha.getAs[Double]("operation_profit_rate") - 25.0) < 1e-9)
    val beta = summaries(1)
    assert(math.abs(beta.getAs[Double]("net_sales") - 1000.0) < 1e-9)
    assert(math.abs(beta.getAs[Double]("operation_profit_rate") - 10.0) < 1e-9)
  }

  test("the default warehouse commits an ingest's four tables as one snapshot") {
    val tables = Seq("companies", "financial_items", "financial_reports", "financial_data")
    val csv1 = Files.createTempDirectory("filings-tx1").toString
    Filings.write(csv1, "S100AAAA", "E11111", "アルファ株式会社", 200000000L, 50000000L)
    Filings.write(csv1, "S100BBBB", "E22222", "ベータ株式会社", 1000000000L, 100000000L)
    val whDir = Files.createTempDirectory("wh-tx").toString
    val wh = new Warehouse(spark, whDir)
    assert(new Ingest(spark, wh).run(csv1).count() === 0)
    def snapshot(): Map[String, Set[org.apache.spark.sql.Row]] =
      tables.map(t => t -> wh.readSnapshot(t).collect().toSet).toMap
    val first = snapshot()
    // the snapshot holds exactly what the ingest wrote
    tables.foreach(t => assert(first(t) === wh.read(t).collect().toSet, t))
    assert(first("companies").size === 2)
    assert(first("financial_reports").size === 2)
    assert(first("financial_items").size === 2)
    assert(first("financial_data").size === 4)
    // a next-year filing for one company, killed after the other three
    // tables committed and before the fact commit
    val csv2 = Files.createTempDirectory("filings-tx2").toString
    Filings.write(csv2, "S100CCCC", "E11111", "アルファ株式会社", 300000000L, 60000000L,
      period = "第11期 第３四半期(自  2024年10月１日  至  2024年12月31日)",
      periodEnd = "2024/12/31")
    var killed = false
    wh.commitTestHook = name => if (name == "financial_data") {
      killed = true
      throw new RuntimeException("simulated crash before the fact commit")
    }
    try intercept[RuntimeException](new Ingest(spark, wh).run(csv2))
    finally wh.commitTestHook = _ => ()
    assert(killed)
    assert(wh.read("financial_reports").count() === 3, "the reports commit landed")
    assert(snapshot() === first, "snapshot readers must keep the first ingest")
    // the retry lands the whole second ingest
    new Ingest(spark, wh).run(csv2)
    val second = snapshot()
    assert(second("financial_reports").size === 3)
    assert(second("financial_data").size === 6)
  }

  test("a first ingest killed before its fact commit leaves no fact table; the retry lands") {
    val csv = Files.createTempDirectory("filings-first").toString
    Filings.write(csv, "S100AAAA", "E11111", "アルファ株式会社", 200000000L, 50000000L)
    val whDir = Files.createTempDirectory("wh-first").toString
    val wh = new Warehouse(spark, whDir)
    wh.commitTestHook = name => if (name == "financial_data")
      throw new RuntimeException("simulated crash before the first fact commit")
    try intercept[RuntimeException](new Ingest(spark, wh).run(csv))
    finally wh.commitTestHook = _ => ()
    // the killed commit wrote its manifest and version dir, not the pointer
    val fact = new java.io.File(whDir, "financial_data")
    def listing() = fact.list().toSet
    assert(listing().contains("_manifest_v1") && !listing().contains("_CURRENT"), listing())
    assert(!wh.exists("financial_data") && !wh.tableExists("financial_data"))
    intercept[IllegalArgumentException](wh.read("financial_data"))
    assert(wh.dbSnapshot().isEmpty)
    // an orphan is not damage; once the crashed writer's in-flight
    // marker has aged past its grace, vacuum reaps it
    assert(wh.fsck("financial_data").isEmpty)
    val aged = System.currentTimeMillis() - 30L * 60 * 1000
    fact.listFiles().filter(_.getName.startsWith("_inflight_v"))
      .foreach(f => assert(f.setLastModified(aged)))
    val reaped = wh.vacuumOrphans("financial_data").toSet
    assert(Set("_v1", "_manifest_v1").subsetOf(reaped), reaped)
    assert(!listing().exists(_.startsWith("_manifest_v")), listing())
    // the retry lands the whole ingest
    assert(new Ingest(spark, wh).run(csv).count() === 0)
    assert(wh.read("financial_data").count() === 2)
    assert(wh.readSnapshot("financial_data").count() === 2)
    assert(wh.readSnapshot("financial_reports").count() === 1)
  }

  test("runForDate: API → quarterly filter → ZIP landing → distributed ingest (import-script parity)") {
    // realistic filings zipped the way EDINET serves them
    val src = Files.createTempDirectory("filings-src").toString
    Filings.write(src, "S100AAAA", "E11111", "アルファ株式会社", 200000000L, 50000000L)
    Filings.write(src, "S100BBBB", "E22222", "ベータ株式会社", 1000000000L, 100000000L)
    def zipOf(docId: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      val member = s"XBRL_TO_CSV/jpcrp-$docId.csv"
      z.putNextEntry(new java.util.zip.ZipEntry(member))
      z.write(Files.readAllBytes(java.nio.file.Paths.get(src, docId, "XBRL_TO_CSV", s"jpcrp-$docId.csv")))
      z.closeEntry(); z.close()
      bos.toByteArray
    }
    val zips = Map("S100AAAA" -> zipOf("S100AAAA"), "S100BBBB" -> zipOf("S100BBBB"))
    val listJson = """{
      "metadata": {"title": "t", "status": "200"},
      "results": [
        {"docID": "S100AAAA", "edinetCode": "E11111", "filerName": "アルファ株式会社",
         "docDescription": "四半期報告書－第10期第3四半期", "submitDateTime": "2024-02-09 09:00", "docTypeCode": "140"},
        {"docID": "S100BBBB", "edinetCode": "E22222", "filerName": "ベータ株式会社",
         "docDescription": "四半期報告書－第3期第2四半期", "submitDateTime": "2024-02-09 10:00", "docTypeCode": "140"},
        {"docID": "S100MISS", "edinetCode": "E44444", "filerName": "欠落株式会社",
         "docDescription": "四半期報告書－第2期第1四半期", "submitDateTime": "2024-02-09 11:00", "docTypeCode": "140"},
        {"docID": "S100XXXX", "edinetCode": "E33333", "filerName": "ガンマ株式会社",
         "docDescription": "有価証券報告書－第5期", "submitDateTime": "2024-02-09 12:00", "docTypeCode": "120"}
      ]}""".getBytes("UTF-8")
    val archiveHits = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: com.sun.net.httpserver.HttpExchange, code: Int, body: Array[Byte]): Unit = {
      ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }
    server.createContext("/api/documents.json",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        if (Option(ex.getRequestURI.getQuery).exists(_.contains("date=2024-02-09")))
          reply(ex, 200, listJson) else reply(ex, 404, Array.empty))
    server.createContext("/api/documents/",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val id = ex.getRequestURI.getPath.split('/').last
        archiveHits.add(id)
        zips.get(id) match {
          case Some(b) => reply(ex, 200, b)
          case None    => reply(ex, 404, Array.empty)
        }
      })
    server.start()
    try {
      val work = Files.createTempDirectory("e2e-api").toString
      val fetcher = new graft.sources.EdinetApi.HttpFetcher(spark,
        s"http://127.0.0.1:${server.getAddress.getPort}/api",
        s"$work/landing", retryBackoffMs = 10L)
      val wh = new Warehouse(spark, s"$work/wh")
      val (ok, failed, quarantine) = new Ingest(spark, wh)
        .runForDate(fetcher, java.time.LocalDate.parse("2024-02-09"), work)

      assert(ok === Seq("S100AAAA", "S100BBBB"))
      assert(failed === Seq("S100MISS"),
        "a 404'd archive is reported and skipped, never aborts the date")
      assert(!archiveHits.contains("S100XXXX"),
        "non-quarterly filings must never be fetched (P9 filters first)")
      assert(quarantine.count() === 0)

      // the landed filings ingested through the full distributed path
      val summaries = Summary.allCompanies(
          wh.read("companies"), wh.read("financial_reports"),
          wh.read("financial_data"), wh.read("financial_items"))
        .orderBy("edinet_code").collect()
      assert(summaries.length === 2)
      assert(summaries(0).getAs[String]("company_name") === "アルファ株式会社")
      assert(math.abs(summaries(0).getAs[Double]("operation_profit_rate") - 25.0) < 1e-9)
      assert(math.abs(summaries(1).getAs[Double]("net_sales") - 1000.0) < 1e-9)
    } finally server.stop(0)
  }
}
