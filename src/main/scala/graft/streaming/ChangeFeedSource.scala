package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.Warehouse

/** Structured Streaming CHANGE-DATA-FEED source over the manifest
  * Warehouse — the incremental consumer of `Warehouse.changes`
  * (reference analogue: the repository merge/delete write paths in
  * utils/repositories/base_repository.py:55-61 generalized to the
  * Delta-CDF consumer shape).
  *
  * Contract: the OFFSET IS THE COMMITTED SNAPSHOT VERSION. Each
  * micro-batch serves `changes(table, prevVersion, newVersion)` —
  * cost bounded by the commits in the window, never the table — so a
  * wide history is consumed one commit-span at a time instead of the
  * batch API's single ever-growing union plan (this source is the
  * scale path `Warehouse.changesMaxWindow` points at). Offsets live
  * in the stream checkpoint: a restart resumes exactly after the last
  * committed version served, and a table commit racing a running
  * trigger is simply picked up by the next `getOffset` poll — the
  * pointer read is one small-file RPC.
  *
  * v1 `Source` on purpose: `getBatch` must return a COMPUTED plan
  * (joins against manifests and deletion vectors), and the v1
  * contract is the one that accepts an arbitrary DataFrame — stamped
  * streaming via the `BatchAsStream` bridge (the `FileStreamSource`
  * shape). DSv2's `MicroBatchStream` would force a partition-reader
  * re-implementation of what Catalyst already plans.
  *
  * Options: `root` (warehouse root), `table`, `startingVersion`
  * (first version whose changes are INCLUDED; version 1 replays the
  * initial publish as inserts via the synthetic empty v0; default =
  * current version + 1, i.e. future commits only — Delta CDF's
  * "latest" stance).
  *
  * Schema-evolution stance: the feed schema is pinned at stream start
  * (current read schema + `_change_type`, `_commit_version`); batches
  * are aligned to it — columns added by later commits are dropped
  * until the stream restarts, pre-evolution rows null-fill. Derived
  * partition-grain columns (`p_*`) follow the hidden-partitioning
  * contract documented on `Warehouse.changes`: a re-grain is layout,
  * not data, and emits nothing.
  */
class ChangeFeedProvider extends StreamSourceProvider with DataSourceRegister {
  /** `spark.readStream.format("graft-changes")` — registered through
    * the standard META-INF/services mechanism.
    */
  override def shortName(): String = "graft-changes"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (wh, table) = ChangeFeedProvider.open(ctx.sparkSession, parameters)
    ("graft-changes", wh.changesSchema(table))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new ChangeFeedSource(ctx.sparkSession, metadataPath, parameters)
}

object ChangeFeedProvider {
  private[streaming] def open(spark: SparkSession,
      parameters: Map[String, String]): (Warehouse, String) = {
    val root = parameters.getOrElse("root",
      throw new IllegalArgumentException(
        "graft-changes source: option 'root' (warehouse root) is required"))
    val table = parameters.getOrElse("table",
      throw new IllegalArgumentException(
        "graft-changes source: option 'table' is required"))
    (new Warehouse(spark, root), table)
  }
}

class ChangeFeedSource(spark: SparkSession, metadataPath: String,
    parameters: Map[String, String]) extends Source {
  private val (wh, table) = ChangeFeedProvider.open(spark, parameters)

  /** First version whose changes this stream serves — resolved ONCE on
    * the stream's FIRST construction and PERSISTED under
    * `metadataPath` (the FileStreamSource/KafkaSource initial-offset
    * pattern), then read back verbatim on every restart. Persistence
    * is what makes the batch-0 replay deterministic: after a crash
    * before offset 0 commits, Spark re-runs `getBatch(None, end0)` on
    * a FRESH source — if that source re-resolved "current + 1" from
    * the now-advanced table, every version committed during the
    * original first trigger would be silently skipped (an
    * exactly-once violation). With the resolved value on disk, the
    * replayed batch covers the same window the lost one did.
    *
    * An EXPLICIT startingVersion beyond current + 1 is rejected at
    * first construction (the Delta-CDF stance): serving it would
    * require either silently clamping (versions BELOW the requested
    * start leak into batch 0 — a contract violation) or stalling the
    * stream until the table catches up (indistinguishable from a hang).
    */
  private val startingVersion: Long = {
    val initPath = new org.apache.hadoop.fs.Path(metadataPath, "graft-changes-start")
    val fs = initPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readBack(): Long = {
      val in = fs.open(initPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
    if (fs.exists(initPath)) readBack()
    else {
      val current = wh.currentVersion(table).getOrElse(0L)
      val resolved = parameters.get("startingVersion").map(_.toLong)
        .getOrElse(current + 1L)
      require(resolved >= 1,
        s"startingVersion must be >= 1, got $resolved")
      require(resolved <= current + 1L,
        s"startingVersion $resolved is beyond the table's current " +
        s"version $current of '$table' — the feed serves committed " +
        "history plus future commits from current+1; a start past that " +
        "has no defined batch-0 window (omit the option to follow new " +
        "commits only)")
      // temp + same-FS rename: atomic on HDFS/local, and the checkpoint
      // dir is single-writer by Structured Streaming's own contract —
      // a lost race (both impossible and harmless) defers to the winner
      val tmp = new org.apache.hadoop.fs.Path(metadataPath,
        "graft-changes-start.tmp")
      val out = fs.create(tmp, true)
      try out.write(resolved.toString.getBytes("UTF-8")) finally out.close()
      if (fs.rename(tmp, initPath)) resolved else readBack()
    }
  }

  override val schema: StructType = wh.changesSchema(table)

  private def version(o: V1Offset): Long = o match {
    case LongOffset(v)        => v
    case so: SerializedOffset => LongOffset(so).offset
    case other                => other.json.trim.toLong
  }

  /** Latest servable offset = the table's committed version — one
    * pointer read per trigger poll. NOT gated on `startingVersion`:
    * a checkpoint restart carries its own resume offset in
    * `getBatch(start=Some(_))`, and gating here would stall a
    * default-constructed source (startingVersion = current+1) forever.
    */
  override def getOffset: Option[V1Offset] =
    wh.currentVersion(table).map(LongOffset(_))

  /** True iff this call is the engine's restart re-fetch of its last
    * committed batch: MicroBatchExecution re-fetches that batch through
    * `getBatch` once per restart purely to initialize v1 source state
    * and then DISCARDS the frame — for this source that re-fetch
    * re-composed the whole per-version feed window (manifest reads, DV
    * scans, exceptAll analysis: the measured ~1 s bulk of a resumed
    * drain's fixed cost). A committed batch is never re-executed — the
    * commit log line is written only after the sink committed the
    * epoch — so serving the re-fetch an empty frame is semantics-free.
    *
    * The re-fetch is always the source's FIRST `getBatch` and always
    * ends at the HIGHEST committed batch's offset, so the verdict is
    * taken once per source from that one offsets file; every later call
    * composes. Matching any older committed batch, or remembering the
    * verdict per `to`, would empty a data batch of a table rebuilt
    * under the same checkpoint whose new versions re-reach an old end
    * offset. Anything unreadable fails CLOSED (full compose): a genuine
    * crash-replay (offset written, commit missing) never matches.
    */
  private var firstBatch = true
  private def restartRefetch(to: Long): Boolean = firstBatch && {
    firstBatch = false
    try {
      val mp = new org.apache.hadoop.fs.Path(metadataPath)
      val srcIdx = mp.getName.toIntOption.getOrElse(return false)
      val chk = Option(mp.getParent).map(_.getParent).getOrElse(return false)
      val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val commits = new org.apache.hadoop.fs.Path(chk, "commits")
      if (!fs.exists(commits)) return false
      val latest = fs.listStatus(commits).flatMap(_.getPath.getName.toLongOption)
        .maxOption.getOrElse(return false)
      val in = fs.open(new org.apache.hadoop.fs.Path(chk, s"offsets/$latest"))
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      // offset-log layout: "v1", metadata json, then one offset json
      // per source in declaration order
      lines.drop(2).lift(srcIdx).exists(_.trim == to.toString)
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val to = version(end)
    if (restartRefetch(to)) {
      // restart-init re-fetch of a committed batch: schema-only use
      return org.apache.spark.sql.graft.BatchAsStream(
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
    }
    // no checkpoint ⇒ the stream starts at `startingVersion`; clamped
    // so the default (current+1 at construction) serves an empty
    // first batch instead of a negative window
    val from = start.map(version).getOrElse(math.min(startingVersion - 1L, to))
    val batch =
      if (from >= to) wh.changes(table, to, to) // empty feed, right schema
      else wh.changes(table, from, to, parallelCompose = true)

    // align to the pinned schema: stable order, later-added columns
    // dropped, missing ones null-filled with the declared type
    val aligned = batch.select(schema.map { f =>
      if (batch.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    org.apache.spark.sql.graft.BatchAsStream(aligned)
  }

  override def stop(): Unit = ()
}
