package graft.etl

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{EdinetCsv, Warehouse}

/** End-to-end ingest (reference lifecycle §3.2/§3.3): one distributed
  * pipeline replaces the per-document Python loop —
  *
  *   scan all CSVs (doc_id from path) → standardize (pure column ops)
  *   → extract once: per-filing company / report candidates, the
  *     quarantine set and the ranked reports, each persisted and
  *     materialized
  *   → publish concurrently: the companies, items, reports and fact
  *     upserts plus the duplicate-report quarantine collect, side by
  *     side
  *   → one DB-snapshot flip over the four tables, so `readSnapshot`
  *     sees all of this ingest or none of it.
  *
  * The reference's per-document flush()-for-keys transaction (§3.2c)
  * disappears: surrogate keys are deterministic hashes of natural keys,
  * so fact rows can be keyed WITHOUT first persisting the dims. That is
  * what lets the four publishes run at once, and it makes the whole
  * ingest idempotent on retry (same input → same keys → upsert
  * converges). The publishes are bound by per-job fixed costs, not
  * data, at a batch's size, so the win is in running fewer jobs and
  * overlapping the rest rather than in moving fewer bytes.
  */
class Ingest(spark: SparkSession, wh: Warehouse) {

  /** The reference's import script (scripts/import_financial_data.py:
    * 38-53) as ONE composition: land the date's document list →
    * quarterly filter (P9) → land each filing's ZIP → distributed
    * member extract into a CSV landing dir → one distributed ingest of
    * everything landed. The reference loops documents serially,
    * fetching AND persisting one at a time inside the loop; here the
    * driver loop only LANDS archives (a date's filing list is small —
    * tens of rows; ZIP payloads go fetcher-to-disk, never through
    * Spark's driver), and everything downstream is the same
    * distributed scan/extract/upsert pipeline as `run`. A filing
    * whose archive 404s is reported and skipped (the reference's
    * "Failed to Fetch data." branch, import_financial_data.py:52-53)
    * — one missing upstream file never aborts the date.
    *
    * Returns (ingested doc ids, fetch-failed doc ids, quarantine).
    */
  def runForDate(fetcher: graft.sources.EdinetApi.Fetcher,
      date: java.time.LocalDate, workDir: String,
      strict: Boolean = false): (Seq[String], Seq[String], DataFrame) = {
    import spark.implicits._
    val listPath = fetcher.fetchDocumentList(date)
    val docs = graft.sources.EdinetApi.quarterlyReports(
      graft.sources.EdinetApi.documentList(spark, listPath))
    val ids = docs.select("docID").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val landed = ids.map { id =>
      id -> (try Some(fetcher.fetchArchive(id))
        catch { case _: java.io.FileNotFoundException => None })
    }
    val ok = landed.collect { case (id, Some(_)) => id }
    val failed = landed.collect { case (id, None) => id }
    if (ok.isEmpty)
      return (Nil, failed, Seq.empty[(String, String)].toDF("doc_id", "reason"))
    // the fetcher lands all archives under one dir — extract THIS
    // date's members only (other dates' zips may share the landing)
    val zipDir = new org.apache.hadoop.fs.Path(
      landed.collectFirst { case (_, Some(p)) => p }.get).getParent.toString
    val extracted = graft.sources.ZipExtract.extract(spark, zipDir)
      .filter(element_at(split(col("archive"), "/"), -1)
        .isin(ok.map(_ + ".zip"): _*))
    // per-DATE csv landing: the work dir is shared across a multi-date
    // backfill loop, and `run` scans its whole pathSpec — landing every
    // date into one flat `csv/` would re-scan and re-upsert all earlier
    // dates' documents on each later date (output polluted with stale
    // docs, work quadratic in the number of dates). A date-scoped
    // subdir keeps each call's scan exactly its own extract.
    val csvDir = s"$workDir/csv/$date"
    graft.sources.ZipExtract.toLanding(extracted, csvDir)
    (ok, failed, run(csvDir, strict))
  }

  /** Ingest every filing under `pathSpec`. Returns the quarantine
    * DataFrame (docs whose required fields failed extraction —
    * reference raises and aborts; we route and continue, strict=false).
    */
  def run(pathSpec: String, strict: Boolean = false): DataFrame = {
    val staged = Standardize(EdinetCsv.readAuto(spark, pathSpec))
    staged.persist()
    try runStaged(staged, strict)
    finally { staged.unpersist(); () }
  }

  /** Load one standardized batch. The frames it persists are its own
    * and are released before it returns or throws; the quarantine it
    * returns is driver-local rows, so the caller may unpersist `staged`
    * at once.
    */
  def runStaged(staged: DataFrame, strict: Boolean): DataFrame = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try load(staged, strict, held)
    finally held.foreach(_.unpersist())
  }

  /** runStaged's body; every frame it persists is appended to `held`. */
  private def load(staged: DataFrame, strict: Boolean,
      held: scala.collection.mutable.ArrayBuffer[DataFrame]): DataFrame = {
    val now = current_timestamp()
    // phase 1 frames: persisted and materialized before any publish, so
    // every consumer below scans them instead of re-pivoting `staged`,
    // and the planner sizes their joins from real statistics (one row
    // per filing: a broadcast at batch size, a shuffle join at scale)
    def extracted(df: DataFrame): DataFrame = {
      held += df.persist(); df.count(); df
    }

    // ---- phase 1: extract each filing once ---------------------------
    // strict mode raises here, before any table is touched
    val companyCand = extracted(Extract.companyCandidates(staged, strict))
    val reportCand = extracted(Extract.reportCandidates(staged, strict))

    // quarantine: any doc invalid in either extraction (F4 error channel),
    // plus docs whose date fields are present but parse in NEITHER ISO
    // (2023-12-31 — raw EDINET CSVs) nor slash (2023/12/31 — golden
    // files) form. try_to_date never throws (vs to_date under Spark 4's
    // ANSI default, where one stray date fails the whole job), and the
    // reference aborts the whole document on any bad field, so these
    // docs route out entirely rather than ingesting with null dates
    // (null filing_date would corrupt the amendment-wins ordering).
    val parseDate = (c: org.apache.spark.sql.Column) =>
      coalesce(try_to_date(c), try_to_date(c, "yyyy/M/d"))
    val dateBad = reportCand.filter(!col("_invalid") &&
        ((col("fiscal_year_end").isNotNull && parseDate(col("fiscal_year_end")).isNull) ||
         (col("filing_date").isNotNull && parseDate(col("filing_date")).isNull)))
      .select(col("doc_id"), lit("bad_date").as("reason"))
    val quarantine = companyCand.filter(col("_invalid"))
      .select(col("doc_id"), lit("company").as("reason"))
      .unionByName(reportCand.filter(col("_invalid"))
        .select(col("doc_id"), lit("report").as("reason")))
      .unionByName(dateBad)
    // a handful of rows: held on the driver from here on, so every
    // anti-join below broadcasts a local relation (and drops out of the
    // plan when nothing is quarantined)
    val badRows = quarantine.collect().toSeq
    val badDocs = {
      import spark.implicits._
      broadcast(badRows.map(_.getString(0)).distinct.toDF("doc_id"))
    }

    val goodCompany = companyCand.filter(!col("_invalid"))
      .join(badDocs, Seq("doc_id"), "left_anti")
    val goodReport = reportCand.filter(!col("_invalid"))
      .join(badDocs, Seq("doc_id"), "left_anti")

    // ---- companies dim: hash key on edinet_code, upsert-by-key -------
    val companies = goodCompany.select(
      wh.surrogateKey(col("edinet_code")).as("company_id"),
      col("edinet_code"), col("security_code"), col("industry_code"),
      col("company_name"), now.as("created_at"), now.as("updated_at"))
      .dropDuplicates("company_id")

    // ---- items dim: global dedup across docs, first-wins; anti-join
    // insert-if-absent replaces the reference's N+1 existence probes (J5).
    // Quarantined docs are excluded BEFORE candidate extraction — the
    // reference aborts the whole document and inserts nothing from it.
    val items = Extract.itemCandidates(
      staged.join(badDocs, Seq("doc_id"), "left_anti")).select(
      wh.surrogateKey(col("element_id")).as("item_id"),
      col("element_id"), col("item_name"), col("category"), col("unit_type"),
      now.as("created_at"), now.as("updated_at"))
      .dropDuplicates("item_id")
    def publishItems(): Unit =
      if (wh.exists("financial_items")) {
        val existing = wh.read("financial_items").select("item_id")
        wh.append("financial_items", items.join(existing, Seq("item_id"), "left_anti"))
      } else wh.create("financial_items", items)

    // ---- reports dim: key = hash(edinet_code, fiscal_year, quarter) --
    // Two docs mapping to the SAME (company, fiscal_year, quarter) —
    // e.g. an amended filing in the same batch — collide on report_id.
    // Keep the LATEST filing (filing_date desc, doc_id desc tiebreak —
    // an amendment supersedes the original) and QUARANTINE the rest
    // (silently dropping a whole filing's facts is invisible data loss).
    val reportsAll = goodReport
      .join(goodCompany.select(col("doc_id"),
        wh.surrogateKey(col("edinet_code")).as("company_id")), "doc_id")
      .select(
        wh.surrogateKey(concat_ws("|", col("company_id"),
          col("fiscal_year"), col("quarter_type"))).as("report_id"),
        col("doc_id"),
        col("company_id"), col("document_type"), col("fiscal_year"),
        col("quarter_type"),
        parseDate(col("fiscal_year_end")).as("fiscal_year_end"),
        parseDate(col("filing_date")).as("filing_date"),
        now.as("created_at"), now.as("updated_at"))
    val repW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("report_id"))
      .orderBy(col("filing_date").desc_nulls_last, col("doc_id").desc)
    // phase 1 too: consumed by the reports upsert, the fact join and
    // the returned quarantine
    val ranked = extracted(reportsAll.withColumn("_rn", row_number().over(repW)))
    val reports = ranked.filter(col("_rn") === 1).drop("_rn")
    val dupReportDocs = ranked.filter(col("_rn") > 1)
      .select(col("doc_id"), lit("duplicate_report").as("reason"))

    // ---- fact: join back the hash keys (a broadcast join replaces the
    // reference's collected item_id_map dict, J4) --------------------
    // fiscal_year is denormalized onto the fact as its PARTITION key —
    // the distributed stand-in for the reference's (report_id, item_id)
    // btree indexes: period filters prune whole directories at the scan
    // (SURVEY.md §4), and one year's re-ingest only rewrites one
    // partition's worth of data through the upsert.
    val fact = Extract.factRows(staged)
      .join(badDocs, Seq("doc_id"), "left_anti")
      .join(reports.select(col("doc_id"), col("report_id"), col("fiscal_year")), "doc_id")
      .withColumn("item_id", wh.surrogateKey(col("element_id")))
      .select(
        wh.surrogateKey(concat_ws("|", col("report_id"), col("item_id"),
          col("context_id"))).as("data_id"),
        col("report_id"), col("item_id"), col("duration_type"),
        col("context_id"), col("period_type"), col("consolidated_type"),
        col("value").cast("decimal(20,0)").as("value"),
        col("value_text"), col("is_numeric"),
        now.as("created_at"), now.as("updated_at"),
        col("fiscal_year"))
      .dropDuplicates("data_id")

    // the fact's partition values for its upsert's manifest pruning,
    // read off the cached reports: the fact inner-joins `reports`, so
    // its fiscal years are a subset of these — a valid hint — and the
    // upsert need not re-run the fact pipeline to learn them
    def factYears(): Seq[Any] =
      reports.select("fiscal_year").distinct().collect().map(_.get(0)).toSeq

    // ---- phase 2: publish concurrently -------------------------------
    // Distinct tables never contend on a commit CAS, so the four
    // publishes and the collect of the duplicate-report quarantine rows
    // run side by side. Each publish is atomic on its own; the first
    // failure in input order is rethrown as itself once every earlier
    // task has finished, so the fact table goes last: a fact-publish
    // failure surfaces only after the dimension tables have landed.
    def publish(body: => Unit): () => Seq[Row] = () => { body; Nil }
    val tasks: Seq[() => Seq[Row]] = Seq(
      publish(wh.upsert("companies", companies, Seq("company_id"))),
      publish(publishItems()),
      publish(wh.upsert("financial_reports", reports.drop("doc_id"), Seq("report_id"))),
      () => dupReportDocs.collect().toSeq,
      publish(wh.upsert("financial_data", fact, Seq("data_id"), Seq("fiscal_year"),
        touchedValsHint = Some(factYears()))))
    val dupRows = graft.Parallel.map(tasks, tasks.size)(_()).flatten

    // cross-table UoW (reference unitofwork.py:89-143): each publish
    // above is atomic, but they land independently and in no fixed
    // order — a crash between them would leave reports without facts
    // for a `read` caller. ONE DB-pointer flip, run only after all
    // four landed, pins the consistent four-table set for
    // `readSnapshot` callers; until it lands they keep the previous
    // ingest's snapshot.
    wh.commitDbSnapshot(Seq(
      "companies", "financial_items", "financial_reports", "financial_data"))

    // the (tiny) quarantine comes back as driver-local rows, so the
    // caller holds no cached frame and no lineage over `staged`
    spark.createDataFrame((badRows ++ dupRows).asJava,
      quarantine.unionByName(dupReportDocs).schema)
  }
}
