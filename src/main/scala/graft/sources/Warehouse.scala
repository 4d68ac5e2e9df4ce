package graft.sources

import graft.plans.AutoSkip.{InPred, NullPred, OrPred, Pred, RangePred}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Parquet warehouse with set-oriented write patterns replacing the
  * reference's row-at-a-time ORM (S7-S11, SURVEY.md §2.1):
  *
  *  - append        → new files committed as a snapshot delta (S7)
  *  - upsert        → union + window-dedup-by-key + atomic publish (S8;
  *                    no MERGE on vanilla parquet). For partitioned
  *                    tables the merge is PARTITION-SCOPED: only the
  *                    partitions present in `updates` are read, merged,
  *                    and republished — a daily ingest touching one
  *                    fiscal_year rewrites one partition, not 100 TB.
  *  - delete        → left_anti on keys + atomic publish (S9)
  *  - atomicPublish → one snapshot commit (S11)
  *
  * One commit protocol, safe on object stores (S3: rename = copy +
  * delete): every publish writes data files into a NEW versioned dir
  * (`_vN`, never renamed, never overwritten), writes a manifest file
  * listing the snapshot's data files (new files for touched
  * partitions, the previous snapshot's files for untouched ones), and
  * finally flips a one-line `_CURRENT` pointer by compare-and-set —
  * the only mutation is one tiny-file write, which is a single atomic
  * PUT on S3/GCS. Readers resolve pointer → manifest → explicit file
  * list, so a reader that resolved before the flip keeps a consistent
  * old snapshot (its files survive one publish — GC keeps the previous
  * snapshot's versions) and a reader after the flip sees exactly the
  * new one: old-or-new, never a mix, never a missing-dir window. A
  * crash before the flip leaves the previous snapshot current; its
  * orphans are reaped by a later commit's GC.
  *
  * Cross-table atomicity (the reference's per-document transaction,
  * unitofwork.py:89-143) is one more pointer: `commitDbSnapshot` pins
  * every table's current manifest in a DB-level `_CURRENT`, and
  * `readSnapshot` reads through it.
  *
  * A table directory written before manifests existed (plain parquet,
  * no `_CURRENT`, no `_manifest_v*`) reads as a snapshot of its files
  * in place; its first commit writes a manifest over them.
  *
  * Key generation: Postgres sequences (and the reference's flush()-to-
  * get-keys dance, §3.2c) are replaced by deterministic hash keys
  * (xxhash64 of the natural key) — retry-safe, no coordination, stable
  * across re-ingests. Collision risk at 64 bits is ~n²/2⁶⁵ (≪1 for the
  * reference's ~10⁷ keyspace).
  */
/** Snapshot layout health (Warehouse.tableHealth) — all driver
  * metadata, no data read. `rows` is the exact snapshot row count from
  * the row sidecars (FileStats), None when any file predates them.
  */
final case class TableHealth(files: Int, totalBytes: Long, minBytes: Long,
    maxBytes: Long, smallFiles: Int, versions: Int, rows: Option[Long])

class Warehouse(spark: SparkSession, dir: String,
    pointerStore: PointerStore = new FsPointerStore(),
    manifestChunkSize: Int = 1024,
    /** Batch-window ceiling for `changes` (versions per call) — see the
      * PLAN-SIZE BOUND note there. A constructor property (NOT mutable
      * state): every instance reading one table sees one bound, and a
      * test pins the refusal by constructing a narrow-window instance
      * over the same root rather than mutating a shared field under
      * other readers.
      */
    val changesMaxWindow: Long = 256L,
    /** Install the automatic data-skipping optimizer rule on `spark`
      * (graft.plans.AutoSkip) so `read(t).where(...)` plans prune
      * files by footer stats / blooms without the caller naming the
      * predicate. Harmless when the rule never matches; off-switch
      * exists for plan-shape tests that count scans.
      */
    val autoSkip: Boolean = true) {

  if (autoSkip) graft.plans.AutoSkip.install(spark)

  /** The warehouse base dir (catalog/streaming splice plumbing). */
  private[graft] def rootDir: String = dir

  private def tablePath(name: String) = s"$dir/$name"

  /** Table names present in the warehouse root — one directory per
    * table; dot/underscore-prefixed metadata dirs are not tables.
    * Driver metadata only (one listing).
    */
  def tableNames(): Seq[String] = {
    val root = new Path(dir)
    val fs = fileSystem(root)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).sorted
  }

  private def fileSystem(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def surrogateKey(naturalKey: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    abs(xxhash64(naturalKey))

  /** Catalog surface (GraftCatalog): a table exists when its directory
    * resolves a current manifest through its `_CURRENT` pointer (the
    * same resolution every read uses).
    */
  def tableExists(name: String): Boolean = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    fs.exists(root) && currentManifest(fs, root).nonEmpty
  }

  /** Table names under this warehouse root — directories that resolve
    * a snapshot. One listing + one pointer/manifest probe per entry:
    * driver metadata only.
    */
  def listTables(): Seq[String] = {
    val base = new Path(dir)
    val fs = fileSystem(base)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .filter(tableExists).sorted
  }

  /** DROP TABLE: recursive delete of the table directory (data,
    * manifests, deletion vectors, pointer). Managed-table semantics,
    * same as every lakehouse DROP: a reader holding the dropped
    * snapshot fails loudly on its next file open, never silently.
    */
  def dropTable(name: String): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    if (fs.exists(root)) { fs.delete(root, true); () }
    // props live OUTSIDE the table dir (see propPath) — drop them too,
    // or a re-created table of the same name would inherit the old
    // table's layout/retention choices
    val props = new Path(dir, s"_PROPS/$name")
    if (fs.exists(props)) { fs.delete(props, true); () }
  }

  /** Rename a table: one directory rename (a table is fully
    * self-contained under its root) plus the props dir. Same-FS
    * atomic on rename-atomic stores, same caveat as every publish.
    */
  def renameTable(oldName: String, newName: String): Unit = {
    val from = new Path(tablePath(oldName))
    val to = new Path(tablePath(newName))
    val fs = fileSystem(from)
    require(fs.exists(from), s"no such table: $oldName")
    require(!fs.exists(to), s"table already exists: $newName")
    require(fs.rename(from, to), s"rename $oldName -> $newName failed")
    val pFrom = new Path(dir, s"_PROPS/$oldName")
    if (fs.exists(pFrom)) fs.rename(pFrom, new Path(dir, s"_PROPS/$newName"))
  }

  /** Current-snapshot read, MERGE-ON-READ: the
    * snapshot's deletion vector (if any) is subtracted, so every
    * consumer — queries, `upsert`'s base scan, `compact`'s rewrite —
    * sees deletes without special-casing them. The overlay rides the
    * manifest lineage: `commitSnapshot` carries surviving DV entries
    * forward across file-preserving commits, and a full rewrite
    * (`atomicPublish`) materializes them because its input came from
    * this very read.
    */
  def read(name: String): DataFrame = {
    val (mf, files) = resolveSnapshot(name)
    readFilesMor(name, files, mf)
  }

  /** Time travel: read the snapshot committed as
    * `_manifest_v<version>`. Only the CURRENT and immediately-previous
    * snapshots are guaranteed resolvable — older manifests and the
    * version dirs only they referenced are GC'd at each publish (the
    * one-publish grace); asking for a collected snapshot fails loudly.
    */
  def readVersion(name: String, version: Long): DataFrame = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val mf = new Path(root, s"_manifest_v$version")
    require(fs.exists(mf),
      s"snapshot v$version of $name is not available (GC keeps the " +
      "last `retain_snapshots` versions, default current + previous)")
    // each retained snapshot applies ITS OWN manifest's deletion
    // vector: a rollback target reads exactly as it last read when
    // current (deletes applied while it was current included)
    readFilesMor(name, readManifest(fs, mf), Some(mf.getName))
  }

  // ---- Manifest wire format: flat or chunked -------------------------
  //
  // A small snapshot's manifest is the flat file list (one path per
  // line — the r1 format, unchanged). Past `manifestChunkSize` files
  // the commit writes a MANIFEST LIST instead (the Iceberg shape):
  // the `_manifest_vN` file holds only a header block —
  //
  //   #graft-chunked-manifest v1
  //   chunk\t<chunkFile>\t<nFiles>\t<rowSum|-1>
  //   span\t<chunkFile>\t<firstEntry>\t<lastEntry>
  //   vdirs\t<chunkFile>\t<_v3,_v7|->          (- = legacy root files)
  //   pcols\t<chunkFile>\t<c1,c2|-|!>          (! = unrepresentable)
  //   stat\t<chunkFile>\t<col>\t<typ>\t<min>\t<max>
  //   nulls\t<chunkFile>\t<col>\t<nullSum>
  //   ndv\t<chunkFile>\t<col>\t<b64 HLL registers>
  //
  // — and the file entries (`<path>` or `<path>\t<bytes>`) live in
  // `_mchunk_vN_<tag>_<i>` sibling files, partition-clustered
  // (entries sorted by partition path before splitting). The span /
  // vdirs / pcols lines exist so a LATER commit can treat chunks as
  // immutable reusable units (see "Incremental commits" below): the
  // span is the chunk's (partition-path, path) sort-key range — which
  // chunks a delta touches is decided without opening any; vdirs
  // names the version dirs a chunk references — the GC live-set and
  // commit bookkeeping never concat the file list; pcols records the
  // hive partition columns encoded in the chunk's paths — the pruned-
  // read type guard (`snapshotEncodesPartition`) answers header-only.
  // ndv lines carry per-chunk merged HyperLogLog registers for
  // columns whose every file had an `_ndv_<col>` sidecar entry at
  // commit time, so `statsApproxNdv` answers from the header alone.
  // Chunk row sums, null sums and column stats fold the per-file
  // records of the version dirs' stats sidecars (layout and shard
  // rule: `FileStats`, read through `FileStats.Sidecars`); column
  // stats also fold the hive partition-path values (decoded, typed
  // p-stats). Entry byte sizes come from one directory listing per
  // version dir, so:
  //
  //  - `statsRowCount`/`statsNullCount`/`statsMinMax`/`history`
  //    answer from the header alone — O(chunks), not O(files), driver
  //    work on a 10⁶-file table — and `tableHealth` from the chunk
  //    entries with zero per-file stat RPCs;
  //  - `prune`, the one file pruner behind every pruned read, the
  //    named-predicate APIs and the auto-skip rules, drops whole chunks
  //    whose merged stats or null sums exclude the predicate BEFORE
  //    opening them — a narrow range on a clustered layout parses the
  //    matching chunk(s) only (LayoutSpec counts the opens via
  //    `chunkOpens`);
  //  - full-list consumers (resolveSnapshot, GC live-set, fsck, time
  //    travel) concat the chunks through the same `readManifest` call
  //    they always used — O(files) exactly where reading all data is
  //    already O(files).
  //
  // Chunk stats are CONSERVATIVE: a column appears only when every
  // file in the chunk carries a stat of one agreed type; absence means
  // may-contain. Pointer CAS, GC grace, branches, and time travel are
  // untouched — chunk files are claimed by their manifest's version
  // number and reaped exactly when their manifest is.

  private val ChunkedHeader = "#graft-chunked-manifest v1"
  // uuid-tagged per WRITE ATTEMPT: two rebasing appenders can allocate
  // the same manifest number n (commitAppend's retry path) — the loser
  // fails the manifest's create-no-overwrite, but it writes its chunks
  // FIRST, and same-n chunk names would let it overwrite the winner's
  // already-committed chunk contents. Unique names make attempts
  // disjoint; abort() deletes exactly its own, and vacuum reaps any
  // crash-orphaned tag no kept manifest references.
  private val MChunkRe = "_mchunk_v(\\d+)_([0-9a-f]{8})_(\\d+)".r

  /** One chunk as the header describes it. `span`/`vdirs`/`pcols` are
    * None on pre-incremental (round-10) headers — consumers that need
    * them fall back to reading the chunk (or the full list); every
    * NEW header writes them. `raw` keeps the chunk's original header
    * lines verbatim so an incremental commit re-emits a reused chunk's
    * metadata byte-for-byte without recomputing (or even re-reading)
    * anything.
    */
  private final case class ChunkMeta(name: String, nFiles: Int, rowSum: Long,
      stats: Map[String, FileStats.ColStat], nulls: Map[String, Long],
      span: Option[(String, String)], vdirs: Option[Seq[String]],
      pcols: Option[Seq[String]], ndv: Map[String, Array[Byte]],
      raw: Seq[String])

  /** Test seam: number of chunk FILES actually opened (header parses
    * don't count) — LayoutSpec pins that pruned reads open only the
    * overlapping chunks.
    */
  private[graft] var chunkOpens: Long = 0L

  /** Test seam: number of chunk files WRITTEN — LayoutSpec pins that
    * a delta commit writes only the chunks its delta touches (an
    * append to one partition of a 10k-file table rewrites ≤ touched+1
    * chunks, not all of them).
    */
  private[graft] var chunkWrites: Long = 0L

  /** Test seam: the version dirs whose sidecars (stats, rows,
    * listing) the MOST RECENT manifest build actually opened —
    * LayoutSpec pins that a delta commit reads no sidecar of an
    * untouched version dir.
    */
  private[graft] var lastCommitSidecarDirs: Set[String] = Set.empty

  /** Test seam: per-file getFileStatus RPCs issued by `tableHealth`'s
    * fallback path — pinned to zero (sizes come from chunk entries or
    * one listing per version dir).
    */
  private[graft] var fileStatRpcs: Long = 0L

  /** Chunk-level may-contain, typed by the CALLER's bounds: a stat is
    * consulted only when its type class matches the bounds' — a
    * mismatch (e.g. a plong partition stat probed with string bounds,
    * where numeric compare could wrongly prune a lexicographic match)
    * KEEPS the chunk so the per-file logic (partitionValueMayContain, which
    * implements exactly this typing rule per file) decides. Pruning
    * only ever removes chunks proven empty under the caller's own
    * comparison semantics.
    */
  private def chunkStatMayContain(cs: FileStats.ColStat, lower: Option[Any],
      upper: Option[Any]): Boolean = {
    val bounds = lower.toSeq ++ upper.toSeq
    if (bounds.isEmpty) return true
    val integral = bounds.forall {
      case _: java.lang.Long | _: java.lang.Integer |
           _: java.lang.Short | _: java.lang.Byte => true
      case _ => false
    }
    val numeric = bounds.forall(_.isInstanceOf[Number])
    val stringy = bounds.forall(_.isInstanceOf[String])
    cs.typ match {
      case "long" | "plong" if integral =>
        FileStats.mayContain(cs.copy(typ = "long"), lower, upper)
      case "double" if numeric =>
        FileStats.mayContain(cs, lower, upper)
      case "string" | "pstring" if stringy =>
        FileStats.mayContain(cs.copy(typ = "string"), lower, upper)
      // footer `long` stats and a numeric (double) caller compare
      // safely in double space — same widening the per-file path uses
      case "long" if numeric =>
        FileStats.mayContain(FileStats.ColStat("double",
          cs.min.toLong.toDouble.toString, cs.max.toLong.toDouble.toString),
          lower, upper)
      // temporal/decimal stats carry their own wrapper-typed guard
      // inside mayContain (DateDays/Micros/BigDecimal bounds only;
      // anything else keeps) — delegate, no second typing rule here
      case "date" | "ts" | "tsntz" | "decimal" =>
        FileStats.mayContain(cs, lower, upper)
      // date-valued partition segments: day-space compare for date
      // bounds; ISO re-render for string bounds (strict-ISO strings
      // order chronologically, and pdate only ever comes from strict
      // ISO that round-trips byte-identically)
      case "pdate" =>
        if (bounds.forall(_.isInstanceOf[FileStats.DateDays]))
          FileStats.mayContain(cs.copy(typ = "date"), lower, upper)
        else if (stringy) {
          val mn = java.time.LocalDate.ofEpochDay(cs.min.toLong)
            .toString.getBytes("UTF-8")
          val mx = java.time.LocalDate.ofEpochDay(cs.max.toLong)
            .toString.getBytes("UTF-8")
          lower.forall(l => FileStats.cmpBytes(mx,
            l.asInstanceOf[String].getBytes("UTF-8")) >= 0) &&
          upper.forall(u => FileStats.cmpBytes(mn,
            u.asInstanceOf[String].getBytes("UTF-8")) <= 0)
        }
        else true
      case _ => true
    }
  }

  private def readSmallFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The `_schema` sidecar of one immutable version dir, parsed — None
    * when absent or unreadable (pre-sidecar versions, partial writes):
    * the caller falls back to footer inference, so the sidecar is a
    * pure fast path, never a correctness dependency.
    */
  private def versionSchema(name: String, v: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val p = new Path(new Path(tablePath(name)), s"$v/_schema")
    try {
      val fs = fileSystem(p)
      if (!fs.exists(p)) None
      else org.apache.spark.sql.types.DataType.fromJson(readSmallFile(fs, p)) match {
        case st: org.apache.spark.sql.types.StructType => Some(st)
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Chunk entries: `<path>` or `<path>\t<bytes>` per line — byte
    * sizes are captured at commit from ONE directory listing per
    * version dir, so `tableHealth` on a chunked table answers with
    * ZERO per-file stat RPCs (the last O(files)-RPC driver surface; at
    * 10⁶ files that is 10⁶ NameNode/S3 round-trips saved per health
    * probe). Size-less lines (older chunks) degrade to the per-file
    * stat fallback.
    */
  private def chunkEntries(fs: FileSystem, root: Path,
      name: String): Seq[(String, Option[Long])] = {
    chunkOpens += 1
    readSmallFile(fs, new Path(root, name))
      .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        // size = the text after the LAST tab iff numeric; else the
        // whole line is the path (sizes are optional, paths win ties)
        val i = line.lastIndexOf('\t')
        if (i < 0) (line, None)
        else line.drop(i + 1).toLongOption match {
          case some @ Some(_) => (line.take(i), some)
          case None           => (line, None)
        }
      }
  }

  private def readChunk(fs: FileSystem, root: Path, name: String): Seq[String] =
    chunkEntries(fs, root, name).map(_._1)

  /** Parse a manifest's HEADER: Some(chunks) for the chunked format,
    * None for flat.
    */
  private def manifestChunks(fs: FileSystem, mf: Path): Option[Seq[ChunkMeta]] =
    chunkHeader(readSmallFile(fs, mf))

  private def chunkHeader(txt: String): Option[Seq[ChunkMeta]] = {
    if (!txt.startsWith(ChunkedHeader)) return None
    val lines = txt.split('\n').toSeq.map(_.trim).filter(_.nonEmpty).drop(1)
    // malformed lines are SKIPPED, not fatal: a dropped stat line only
    // loses chunk-level pruning for that column (may-contain), and a
    // dropped chunk line surfaces as missing data at read — loud — not
    // as a parse crash during GC/vacuum shield computation
    def byChunk[T](kind: String)(parse: Array[String] => Option[T]): Map[String, Seq[T]] =
      lines.filter(_.startsWith(kind + "\t")).flatMap { l =>
        val f = l.split('\t')
        if (f.length >= 2) parse(f).map(f(1) -> _) else None
      }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val stats = byChunk("stat") {
      case Array(_, _, c, t, mn, mx) => Some(c -> FileStats.ColStat(t, mn, mx))
      case _                         => None
    }.view.mapValues(_.toMap).toMap
    val nulls = byChunk("nulls") {
      case Array(_, _, c, n) if n.toLongOption.isDefined => Some(c -> n.toLong)
      case _                                             => None
    }.view.mapValues(_.toMap).toMap
    val spans = byChunk("span") {
      case Array(_, _, first, last) => Some((first, last))
      case _                        => None
    }.view.mapValues(_.headOption).toMap
    // "-" = the chunk holds legacy root files (no version dir); the
    // sentinel round-trips so vdirs stays decidable header-only even
    // for mixed legacy/versioned chunks
    val vdirs = byChunk("vdirs") {
      case Array(_, _, vs) => Some(vs.split(',').toSeq.filter(_.nonEmpty))
      case _               => None
    }.view.mapValues(_.headOption).toMap
    val pcols = byChunk("pcols") {
      case Array(_, _, "!") => Some(None) // unrepresentable column name
      case Array(_, _, "-") => Some(Some(Seq.empty[String]))
      case Array(_, _, cs)  => Some(Some(cs.split(',').toSeq.filter(_.nonEmpty)))
      case _                => None
    }.view.mapValues(_.headOption.flatten).toMap
    val ndv = byChunk("ndv") {
      case Array(_, _, c, b64) =>
        try Some(c -> java.util.Base64.getDecoder.decode(b64))
        catch { case _: IllegalArgumentException => None }
      case _ => None
    }.view.mapValues(_.toMap).toMap
    val rawByChunk = lines.filter(_.contains('\t'))
      .groupBy(_.split('\t').lift(1).getOrElse(""))
    Some(lines.filter(_.startsWith("chunk\t")).flatMap(_.split('\t') match {
      case Array(_, name, nf, rs) if nf.toIntOption.isDefined && rs.toLongOption.isDefined =>
        Some(ChunkMeta(name, nf.toInt, rs.toLong,
          stats.getOrElse(name, Map.empty), nulls.getOrElse(name, Map.empty),
          spans.get(name).flatten, vdirs.get(name).flatten,
          pcols.get(name).flatten, ndv.getOrElse(name, Map.empty),
          rawByChunk.getOrElse(name, Nil)))
      case _ => None
    }))
  }

  /** Parse one manifest into its full file list — flat manifests are
    * the list; chunked manifests concat their chunk files in header
    * order. The single wire-format reader shared by snapshot
    * resolution, commit (previous-snapshot load), GC live-sets, and
    * time travel.
    */
  private def readManifest(fs: FileSystem, mf: Path): Seq[String] = {
    val txt = readSmallFile(fs, mf)
    chunkHeader(txt) match {
      case Some(chunks) =>
        chunks.flatMap(ch => readChunk(fs, mf.getParent, ch.name))
      case None => flatEntries(txt)
    }
  }

  /** A flat manifest's entries. `#`-prefixed lines are metadata
    * comments (the `#op` commit label), never paths — our entries are
    * `_vN/...`, hive `k=v/...`, or legacy root files.
    */
  private def flatEntries(txt: String): Seq[String] =
    txt.split('\n').toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The commit KIND a manifest was published with (`op` header line /
    * `#op` flat comment) — None for pre-label manifests. Data-neutral
    * kinds ("optimize", "maintain") rewrite layout or metadata but
    * preserve row content; `changes` skips them so a compaction never
    * floods the change feed with rewrite churn.
    */
  def commitKind(name: String, version: Long): Option[String] =
    manifestHeaderMeta(name, version, "op")

  /** The manifest this commit SUPERSEDED — its CAS's expectedPrev
    * (`prev` header / `#prev` flat comment). Some("-") = genesis (no
    * prior snapshot); None = pre-label manifest (kind unknown).
    * Walking parents from the current manifest enumerates committed
    * history authoritatively — retention's orphan classification and
    * any future lineage audit key off it.
    */
  private[graft] def commitParent(name: String, version: Long): Option[String] =
    manifestHeaderMeta(name, version, "prev")

  /** One labeled header value from a manifest's first lines — STREAMED
    * (first 4 KiB), never the whole file: a flat manifest at the chunk
    * threshold is megabytes, and the labels sit in the first lines by
    * construction (flat: `#key\tvalue` comments up top; chunked:
    * `key\tvalue` spliced right after the format header).
    */
  private def manifestHeaderMeta(name: String, version: Long,
      key: String): Option[String] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val mf = new Path(root, s"_manifest_v$version")
    if (!fs.exists(mf)) return None
    val head = {
      val in = fs.open(mf)
      try {
        val buf = new Array[Byte](4096)
        var off = 0
        var n = 0
        while (off < buf.length &&
            { n = in.read(buf, off, buf.length - off); n > 0 }) off += n
        new String(buf, 0, off, "UTF-8")
      } finally in.close()
    }
    headerLabel(head, key)
  }

  /** One labeled value from the first lines of a manifest's text. */
  private def headerLabel(head: String, key: String): Option[String] =
    head.linesIterator.take(6).collectFirst {
      case l if l.startsWith(s"#$key\t") => l.stripPrefix(s"#$key\t").trim
      case l if l.startsWith(s"$key\t")  => l.stripPrefix(s"$key\t").trim
    }

  /** Assemble a snapshot's explicit file list into one DataFrame: one
    * read per version dir, each with basePath = that version's root so
    * hive partition-column inference sees only k=v segments (mixing
    * _v1/fy=… and _v2/fy=… under a single basePath trips
    * CONFLICTING_DIRECTORY_STRUCTURES); a snapshot references at most
    * a handful of versions, so the union is short. Versions are
    * unioned by NAME with missing columns null-filled — a column added
    * by a later append reads as null for rows from pre-evolution
    * versions (parquet mergeSchema semantics), instead of failing the
    * whole snapshot.
    */
  private def readFiles(name: String, files: Seq[String],
      withPos: Boolean = false): DataFrame = {
    val root = tablePath(name)
    require(files.nonEmpty, s"manifest table $name has no data files")
    // `withPos` annotates each row's physical address (_file relative
    // to the TABLE root, _pos within the file) — the deletion-vector
    // key. It must be projected INSIDE each per-version scan: the
    // `_metadata` struct resolves against a single file-source
    // relation, not through the union.
    val prefix = new Path(root).toUri.getPath + "/"
    // metadata column renames (`renamed_cols` prop — ALTER TABLE
    // RENAME COLUMN without rewrite): files written before the rename
    // keep the old physical name; each per-version scan maps old→new
    // HERE, before the by-name union, so every read surface — and the
    // union itself — sees one consistent current-name schema. Applied
    // per frame and only when the frame still carries the old name
    // (post-rename files already have the new one); the rename is a
    // Project alias, so parquet pushdown still reaches the old files'
    // physical column.
    val renames = renameMap(name)
    files.groupBy(FileStats.versionOf)
      .toSeq.sortBy(_._1)
      .map { case (v, fs) =>
        val base = if (v.isEmpty) root else s"$root/$v"
        // immutable-version schema sidecar: skip the footer-inference
        // job when the write recorded the read schema (see
        // writeVersion); legacy/rootless groups fall back to inference
        val reader = spark.read.option("basePath", base)
        val scan0 = (if (v.isEmpty) None else versionSchema(name, v)) match {
          case Some(st) => reader.schema(st).parquet(fs.map(f => s"$root/$f"): _*)
          case None     => reader.parquet(fs.map(f => s"$root/$f"): _*)
        }
        val scan = renames.foldLeft(scan0) { case (d, (o, n)) =>
          if (d.columns.contains(o) && !d.columns.contains(n))
            d.withColumnRenamed(o, n)
          else d
        }
        if (!withPos) scan
        else scan
          .withColumn("_file",
            expr(s"substring(_metadata.file_path, " +
              s"instr(_metadata.file_path, '$prefix') + ${prefix.length})"))
          .withColumn("_pos", expr("_metadata.row_index"))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The `renamed_cols` prop parsed: (oldPhysicalName, currentName)
    * pairs, `old:new` comma-joined on disk. Chains compose at ALTER
    * time (a→b then b→c stores a:c), so application is one pass.
    */
  private[graft] def renameMap(name: String): Seq[(String, String)] =
    tableProp(name, "renamed_cols").map(_.split(',').toSeq.filter(_.nonEmpty)
      .flatMap { s =>
        s.split(':') match {
          case Array(o, n) if o != n => Some((o, n))
          case _                     => None
        }
      }).getOrElse(Nil)

  /** Scan an explicit file list MINUS the deletion vector of manifest
    * `mf` (merge-on-read — the single DV-aware read every public read
    * surface routes through). No DV pointer for `mf` ⇒ the plain scan,
    * zero overhead beyond one pointer read. The anti-join's right side
    * is sized by deleted rows, never the table, and is broadcast; DV
    * entries for files outside `files` (a pruned read's complement)
    * simply never match.
    */
  private def readFilesMor(name: String, files: Seq[String],
      mf: Option[String]): DataFrame = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val df = mf.flatMap(currentDv(fs, root, _)) match {
      case None => readFiles(name, files)
      case Some(d) =>
        val dels = loadDv(fs, d)
          .select(col("_file").as("_dfile"), col("_pos").as("_dpos"))
        readFiles(name, files, withPos = true)
          .join(broadcast(dels),
            col("_file") === col("_dfile") && col("_pos") === col("_dpos"),
            "left_anti")
          .drop("_file", "_pos")
    }
    // auto-skip enrollment: each per-version scan's FileIndex maps to
    // a prune hook pinned to THIS read's manifest resolution. The
    // subset filter (scan files ⊆ this read's table files) keeps the
    // DV anti-join's right side — or any frame a caller later joins
    // in — out of the registry: pruning a non-table scan with table
    // stats would be corruption, not optimization.
    if (autoSkip) {
      val tp = tablePath(name)
      // one memoizing sidecar reader shared by every metadata answer
      // below (row totals, null totals, partition group sums, min/max)
      // — lazy, paid only when a metadata query actually arrives
      val side = new FileStats.Sidecars(fs, root)
      // per-file RowStat for THIS SCAN's files, or None the moment any
      // file predates the sidecars — unknown never becomes a made-up 0
      def perFileRows: Option[Seq[(String, FileStats.RowStat)]] = {
        val rs = side.rows(files)
        if (files.forall(rs.contains)) Some(files.map(f => f -> rs(f))) else None
      }
      // the RAW row total of exactly these files. MetaAggRule's guards
      // ensure this only ever answers an Aggregate on the bare scan,
      // where the raw total IS the answer (no DV join, no residual).
      lazy val rawRows: Option[Long] =
        perFileRows.map(_.map(_._2.numRows).sum)
      // exact null total for one column — None unless EVERY file
      // recorded the column's null count (footer numNulls present in
      // every row group)
      def colNulls(c: String): Option[Long] =
        perFileRows.flatMap { pf =>
          val per = pf.map(_._2.nullCounts.get(c))
          if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
        }
      // per-partition-value raw row sums for a layout-encoded column:
      // every file must carry a decodable `c=value` path segment AND a
      // row count; the None key is the hive null partition. Powers the
      // GROUP-BY-partition-column collapse. The path probe runs FIRST
      // and costs no IO: grouping by an ordinary data column (every
      // `distinct()` over a read plans this shape) must bail before
      // touching a single row sidecar — the r16 bench caught the
      // IO-first ordering as a per-read tax on serve-heavy queries.
      def partitionGroups(c: String): Option[Seq[(Option[String], Long)]] = {
        val segs: Seq[Option[Option[String]]] = files.map { f =>
          hiveSeg(f, c).flatMap(s => if (s.isNull) Some(None) else s.value.map(Some(_)))
        }
        if (segs.isEmpty || segs.exists(_.isEmpty)) return None
        perFileRows.flatMap { pf =>
          val byFile = pf.toMap
          val per = files.zip(segs).map { case (f, seg) =>
            byFile.get(f).map(rs => (seg.get, rs.numRows))
          }
          if (per.exists(_.isEmpty)) None
          else Some(per.flatten.groupBy(_._1).toSeq
            .map { case (k, xs) => (k, xs.map(_._2).sum) })
        }
      }
      // exact (min, max) over these files from the footer-stat
      // sidecars — None unless EVERY file carries a stat of exactly
      // the CALLER's expected typ for the column ("long" for plain
      // ints, "date" days, "ts"/"tsntz" micros — the families whose
      // parquet stats are exact values). Memoized per (column, typ);
      // the shared reader makes a two-column probe cost one sidecar
      // sweep.
      val mmCache = scala.collection.mutable.Map[(String, String), Option[(Long, Long)]]()
      def colMinMax(c: String, typ: String): Option[(Long, Long)] = mmCache.synchronized {
        mmCache.getOrElseUpdate((c, typ), {
          val stats = side.stats(files)
          val per = files.map(f => stats.get(f).flatMap(_.get(c)))
          if (per.isEmpty || per.exists(_.isEmpty)) None
          else {
            val cs = per.flatten
            if (!cs.forall(_.typ == typ)) None
            else
              try Some((cs.map(_.min.toLong).min, cs.map(_.max.toLong).max))
              catch { case _: NumberFormatException => None }
          }
        })
      }
      graft.plans.AutoSkip.register(df, tp,
        graft.plans.AutoSkip.Hook(
          preds => pruneForPreds(name, mf, preds).map(_.iterator
            .map(f => graft.plans.AutoSkip.norm(s"$tp/$f")).toSet),
          () => rawRows,
          colMinMax,
          colNulls,
          partitionGroups))
    }
    df
  }

  /** Intersection prune over several conjuncts — the auto-skip rule's
    * entry point (graft.plans.AutoSkip): every conjunct goes through
    * the one `prune` against the SAME manifest the read resolved.
    * Returns kept files relative to the table root; None when nothing
    * actually NARROWED (every file survived every conjunct) so the rule
    * no-ops instead of wrapping the scan in a full-list
    * PrunedFileIndex and memoizing a full path set. A conjunct over a
    * column with no stats keeps everything for that conjunct —
    * intersection only ever narrows on proof.
    */
  private[graft] def pruneForPreds(name: String, mf: Option[String],
      preds: Seq[Pred]): Option[Seq[String]] = {
    if (preds.isEmpty) return None
    val rs = preds.map(prune(name, mf, _))
    val kept = rs.map(_._1).reduce { (prev, k) => val s = k.toSet; prev.filter(s) }
    Some(kept).filter(_.size < rs.map(_._2).max)
  }

  /** File-level data skipping: the current snapshot's file list
    * filtered to files whose partition path and footer min/max for
    * `column` can overlap [lower, upper] (either bound open). Returns
    * (surviving files, total files) so callers (and tests) can see the
    * skip rate.
    */
  def pruneFiles(name: String, column: String, lower: Option[Any],
      upper: Option[Any]): (Seq[String], Int) =
    prune(name, currentSnapshotId(name), RangePred(column, lower, upper))

  /** Point-lookup file pruning: the current snapshot's files that may
    * contain AT LEAST ONE of `values` in `column` — hive partition-path
    * values, footer min/max, and the Bloom sidecars when `buildBloom`
    * has run.
    */
  def pruneFilesEquals(name: String, column: String,
      values: Seq[Any]): (Seq[String], Int) =
    prune(name, currentSnapshotId(name), InPred(column, values))

  /** The one file pruner: the files of snapshot `mf` that may hold a
    * row matching `pred`, and the snapshot's total file count.
    *
    *  1. The manifest's chunks. A flat manifest (or a legacy listing)
    *     is one chunk with no header metadata; reading it is not a
    *     chunk open.
    *  2. Per chunk, `narrow` tests the header and keeps the part of
    *     `pred` that can still match there; a chunk left with nothing
    *     is never opened.
    *  3. Per opened chunk, `holds` turns what survived into one file
    *     test, run on each of its files: the hive partition value and
    *     the footer stat for a range, the same per value plus the
    *     bloom for IN, the row sidecar's null count for IS [NOT] NULL,
    *     any branch for OR.
    *
    * Files without metadata (legacy root files, pre-sidecar versions,
    * unsupported types) are always kept: pruning only removes files
    * proven empty, and the caller's residual predicate stays the row
    * truth. `mf` is the caller's single resolution, so a commit racing
    * the read can never pair one snapshot's files with another's
    * deletion vector or schema. The opened files' sidecars are asked
    * for in one request, so the shard rule sees the prune's whole
    * width.
    */
  private def prune(name: String, mf: Option[String], pred: Pred): (Seq[String], Int) = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val text = mf.map(m => readSmallFile(fs, new Path(root, m)))
    val (opened, total) = text.flatMap(chunkHeader) match {
      case Some(chunks) =>
        (chunks.flatMap(ch => narrow(ch, pred).map(readChunk(fs, root, ch.name) -> _)),
          chunks.map(_.nFiles).sum)
      case None =>
        val files = text.fold(listDataFiles(fs, root, root))(flatEntries)
        (Seq(files -> pred), files.size)
    }
    val side = new FileStats.Sidecars(fs, root)
    lazy val stats = side.stats(opened.flatMap(_._1))
    lazy val rows = side.rows(opened.flatMap(_._1))
    val blooms = scala.collection.mutable.Map[String, Map[String, BloomIndex.FileBloom]]()
    def bloom(f: String, c: String): Option[BloomIndex.FileBloom] = {
      val v = FileStats.versionOf(f)
      blooms.getOrElseUpdate(v, BloomIndex.read(fs, new Path(new Path(root, v), s"_bloom_$c")))
        .get(f.substring(v.length + 1))
    }
    def holds(p: Pred): String => Boolean = p match {
      case RangePred(c, lo, hi) => f =>
        // a hive `c=value` path segment prunes too — the partition
        // column is never IN the file, so footer stats can't see it;
        // the path is its exact single-value stat
        partitionValueMayContain(hiveSeg(f, c).flatMap(_.value), lo, hi) &&
          stats.get(f).flatMap(_.get(c)).forall(FileStats.mayContain(_, lo, hi))
      case InPred(c, vs) => f =>
        val pv = hiveSeg(f, c).flatMap(_.value)
        val cs = stats.get(f).flatMap(_.get(c))
        lazy val fb = bloom(f, c)
        vs.exists { v =>
          partitionValueMayContain(pv, Some(v), Some(v)) &&
          cs.forall(FileStats.mayContain(_, Some(v), Some(v))) &&
          // blooms were keyed from Spark's cast-to-string at write
          // time — only probe types whose toString is guaranteed to
          // match that rendering (Long/Integer/Double/String; litValue
          // normalizes all integrals to Long and floats to Double).
          // Wrapper-typed probes (DateDays/Micros) have no matching key
          // format, and java.math.BigDecimal — though a Number —
          // renders scale/exponent differently from the write-side
          // cast, so they must KEEP, never consult the filter.
          (v match {
            case _: java.lang.Long | _: java.lang.Integer |
                 _: java.lang.Double | _: String =>
              fb.forall(b => BloomIndex.mightContain(b.bits, b.k, v.toString))
            case _ => true
          })
        }
      case NullPred(c, isNull) => f =>
        rows.get(f).forall(r => r.nullCounts.get(c).forall(nc =>
          if (isNull) nc > 0 else nc < r.numRows))
      case OrPred(_, parts) =>
        val tests = parts.map(holds)
        f => tests.exists(_(f))
    }
    (opened.flatMap { case (files, p) =>
      val test = holds(p)
      files.filter(f => FileStats.versionOf(f).isEmpty || test(f))
    }, total)
  }

  /** What of `p` can still match inside chunk `ch`, from its header
    * alone; None = the chunk is never opened. A range survives when
    * the chunk's merged stat may overlap it. An IN keeps the values the
    * stat admits: on a clustered layout a wide IN list (the join-skip
    * payload is ≤128 keys) degrades per chunk to the one or two values
    * that can live there, keeping the per-file sweep O(files ·
    * survivingValues), not O(files · values) (ScaleProbe's
    * prune_join128 leg). IS NULL is ruled out by a zero null sum, IS
    * NOT NULL by an all-null chunk (nulls == rows, rows known). An OR
    * keeps its surviving branches. A column the header does not know
    * keeps everything.
    */
  private def narrow(ch: ChunkMeta, p: Pred): Option[Pred] = p match {
    case RangePred(c, lo, hi) =>
      Some(p).filter(_ => ch.stats.get(c).forall(chunkStatMayContain(_, lo, hi)))
    case InPred(c, vs) =>
      val left = ch.stats.get(c).fold(vs)(cs =>
        vs.filter(v => chunkStatMayContain(cs, Some(v), Some(v))))
      if (left.isEmpty) None else Some(InPred(c, left))
    case NullPred(c, isNull) =>
      val none = ch.nulls.get(c).exists(nc =>
        if (isNull) nc == 0L else ch.rowSum >= 0 && nc == ch.rowSum)
      if (none) None else Some(p)
    case OrPred(c, parts) =>
      val left = parts.flatMap(narrow(ch, _))
      if (left.isEmpty) None else Some(OrPred(c, left))
  }

  /** The one pruned read: `prune`, the survivors through the
    * deletion-vector-aware `readFilesMor` (an empty read of the full
    * snapshot when nothing survives), and the partition type guard.
    * The snapshot is resolved here once, unless the caller `captured`
    * it already as (manifest, its full read). Callers apply their
    * EXACT residual predicate on top (stats may be truncated or coarse
    * — pruning is a fast path, never the correctness boundary).
    *
    * Type guard: schema truth is the FULL snapshot (plan-only: one
    * footer + the path listing — no data scan). Hive partition column
    * types are INFERRED from the surviving paths, so a pruned subset
    * can infer a DIFFERENT type than the full table — drop the one
    * non-numeric partition of a string column and the remainder looks
    * numeric, flipping the residual from lexicographic to numeric
    * comparison and silently dropping in-range rows (LayoutSpec pins
    * the '9' ∈ ['10','95'] case). Casting the pruned read back to the
    * full-table type keeps the residual's semantics identical to an
    * unpruned scan. The guard ONLY applies to partition columns (data
    * columns are typed by the parquet footers, identical in any
    * subset) — skipping it otherwise keeps the pruned fast path free of
    * the full-snapshot listing a chunked 10⁶-file manifest would have
    * to concat.
    */
  private def prunedRead(name: String, pred: Pred,
      captured: Option[(Option[String], DataFrame)] = None): DataFrame = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val mf = captured.fold(currentManifest(fs, root))(_._1)
    val (kept, _) = prune(name, mf, pred)
    lazy val full = captured.fold(
      readFiles(name, manifestFilesOrLegacy(fs, root, mf)))(_._2)
    val c = pred.column
    if (kept.isEmpty) full.where(lit(false))
    else {
      val pruned = readFilesMor(name, kept, mf)
      if (!snapshotEncodesPartition(name, mf, kept, c)) pruned
      else (full.schema.find(_.name == c), pruned.schema.find(_.name == c)) match {
        case (Some(f), Some(p)) if f.dataType != p.dataType =>
          pruned.withColumn(c, col(c).cast(f.dataType))
        case _ => pruned
      }
    }
  }

  /** Range scan with data skipping: the current snapshot's pruned read
    * for [lower, upper] with the exact range applied on top. On a
    * range-clustered 100 TB table a narrow range reads a handful of
    * files instead of the full listing.
    */
  def readSkipping(name: String, column: String, lower: Option[Any],
      upper: Option[Any]): DataFrame = {
    val c = col(column)
    prunedRead(name, RangePred(column, lower, upper))
      .where(lower.map(c >= lit(_)).getOrElse(lit(true)) &&
        upper.map(c <= lit(_)).getOrElse(lit(true)))
  }

  /** Point-lookup scan: the pruned read for `values` (partition paths
    * + min/max + blooms) with the exact IN applied on top — a Bloom
    * false positive costs one extra file read, never a wrong row.
    */
  def readEquals(name: String, column: String, values: Seq[Any]): DataFrame =
    prunedRead(name, InPred(column, values)).where(col(column).isin(values: _*))

  /** IS NULL / IS NOT NULL scan with file skipping: `isNull = true`
    * keeps only files whose null count is unknown or > 0; false keeps
    * files with unknown counts or any non-null row. The exact
    * predicate applies on the survivors.
    */
  def readSkippingIsNull(name: String, column: String,
      isNull: Boolean): DataFrame = {
    val c = col(column)
    prunedRead(name, NullPred(column, isNull))
      .where(if (isNull) c.isNull else c.isNotNull)
  }

  /** File list of an explicit manifest (or the legacy root listing
    * when the table has none) — `resolveSnapshot`'s second half, for
    * callers that already hold the manifest name.
    */
  private def manifestFilesOrLegacy(fs: FileSystem, root: Path,
      mf: Option[String]): Seq[String] = mf match {
    case Some(m) => readManifest(fs, new Path(root, m))
    case None => listDataFiles(fs, root, root)
  }

  /** Decode a hive-escaped partition path value: %XX byte escapes
    * ONLY. java.net.URLDecoder additionally turns '+' into a space —
    * but Spark's escapePathName writes a literal '+' for a literal
    * '+', so URL-decoding corrupts such values ("a+b" → "a b") and a
    * typed compare against the corrupted value can WRONGLY PRUNE a
    * matching file. Malformed escapes return None; callers must keep
    * (never prune on a value they can't read).
    */
  private def unescapePathValue(s: String): Option[String] = {
    if (!s.contains('%')) return Some(s)
    val bytes = scala.collection.mutable.ArrayBuffer[Byte]()
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%') {
        if (i + 3 > s.length) return None
        try { bytes += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte }
        catch { case _: NumberFormatException => return None }
        i += 3
      } else { bytes ++= ch.toString.getBytes("UTF-8"); i += 1 }
    }
    Some(new String(bytes.toArray, "UTF-8"))
  }

  /** The hive null partition's on-disk value. */
  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  /** One hive `column=value` path segment. `raw` is the value as the
    * path spells it (still %XX-escaped); `value` decodes it — None for
    * the hive null or a malformed escape, and callers then keep: they
    * never prune on a value they cannot read.
    */
  private final case class HiveSeg(column: String, raw: String) {
    def isNull: Boolean = raw == HiveNull
    def value: Option[String] = if (isNull) None else unescapePathValue(raw)
  }

  /** The one hive-segment decoder: every `column=value` segment of a
    * relative path, in path order. Segments match WHOLE, never by
    * substring (a column `id` never matches a `uuid=…` segment), and
    * the column ends at the first '=' (Spark escapes '=' in names and
    * values alike).
    */
  private def hiveSegs(path: String): Iterator[HiveSeg] =
    path.split('/').iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i < 0) None else Some(HiveSeg(seg.substring(0, i), seg.substring(i + 1)))
    }

  /** `column`'s hive segment in `path`, if the layout encodes it. */
  private def hiveSeg(path: String, column: String): Option[HiveSeg] =
    hiveSegs(path).find(_.column == column)

  /** Can a file whose decoded partition value is `value` (`hiveSeg`)
    * hold a value in [lower, upper]? True (keep) when there is no
    * value or the comparison type is ambiguous.
    *
    * The comparison is typed from the CALLER'S bounds — the same types
    * the residual predicate in `readSkipping` compares with — never
    * from how the path value happens to look: a numeric-looking value
    * '9' in a STRING-typed partition column must compare
    * lexicographically like the residual ('9' ∈ ['10','95'] as
    * strings), or a numeric guess would wrongly prune the file and
    * silently drop matching rows. When the value can't be read in the
    * bounds' type, or the bounds mix types, keep — pruning only ever
    * removes files proven empty, exactly `mayContain`'s contract.
    */
  private def partitionValueMayContain(value: Option[String],
      lower: Option[Any], upper: Option[Any]): Boolean =
    value match {
      case None => true
      case Some(raw) =>
        val bounds = lower.toSeq ++ upper.toSeq
        val integral = bounds.nonEmpty && bounds.forall {
          case _: java.lang.Long | _: java.lang.Integer |
               _: java.lang.Short | _: java.lang.Byte => true
          case _ => false
        }
        val numeric = bounds.nonEmpty && bounds.forall(_.isInstanceOf[Number])
        if (bounds.isEmpty) true
        else if (integral) raw.toLongOption.forall { v =>
          lower.forall(l => v >= l.asInstanceOf[Number].longValue) &&
          upper.forall(u => v <= u.asInstanceOf[Number].longValue)
        }
        else if (numeric) raw.toDoubleOption.forall { v =>
          lower.forall(l => v >= l.asInstanceOf[Number].doubleValue) &&
          upper.forall(u => v <= u.asInstanceOf[Number].doubleValue)
        }
        else if (bounds.forall(_.isInstanceOf[String])) {
          val v = raw.getBytes("UTF-8")
          lower.forall(l => FileStats.cmpBytes(v,
            l.asInstanceOf[String].getBytes("UTF-8")) >= 0) &&
          upper.forall(u => FileStats.cmpBytes(v,
            u.asInstanceOf[String].getBytes("UTF-8")) <= 0)
        }
        // date bounds vs a hive date partition value: Spark writes the
        // value as the ISO `yyyy-MM-dd` string — parse it back to epoch
        // days and compare in day space (the same space the bound
        // carries). Unparseable ⇒ keep, as always.
        else if (bounds.forall(_.isInstanceOf[FileStats.DateDays])) {
          (try Some(java.time.LocalDate.parse(raw).toEpochDay)
          catch { case _: java.time.format.DateTimeParseException => None })
            .forall { v =>
              lower.forall(l => v >= l.asInstanceOf[FileStats.DateDays].days) &&
              upper.forall(u => v <= u.asInstanceOf[FileStats.DateDays].days)
            }
        }
        else if (bounds.forall(_.isInstanceOf[java.math.BigDecimal])) {
          (try Some(new java.math.BigDecimal(raw))
          catch { case _: NumberFormatException => None })
            .forall { v =>
              lower.forall(l => v.compareTo(l.asInstanceOf[java.math.BigDecimal]) >= 0) &&
              upper.forall(u => v.compareTo(u.asInstanceOf[java.math.BigDecimal]) <= 0)
            }
        }
        else true
    }

  /** Exact column min/max answered from the footer-stats sidecars
    * alone — zero data files opened (the Iceberg-style metadata-only
    * aggregate). Returns None unless EVERY snapshot file carries stats
    * for `column` (legacy files, all-null files, unsupported types ⇒
    * the caller must scan); when it answers, the answer is exact over
    * non-null values because parquet file stats bound every row and
    * `writeVersion` only records a column whose every row group has
    * stats. Values come back as Long / Double / String per the stat
    * type. At 100 TB this is O(files) driver metadata vs a full scan.
    */
  def statsMinMax(name: String, column: String): Option[(Any, Any)] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    // chunked manifests: the header's merged per-chunk stats exist for
    // a column ONLY when every file in the chunk bounds it with one
    // agreed type (ChunkWriter.headerLines poisons partial columns), so
    // presence in EVERY chunk is exactly this method's completeness
    // contract — fold the O(chunks) header values, open nothing
    foldMinMax(currentManifest(fs, root)
      .flatMap(m => manifestChunks(fs, new Path(root, m))) match {
      case Some(chunks) => chunks.map(_.stats.get(column))
      case None =>
        val files = snapshotFiles(name)
        val stats = new FileStats.Sidecars(fs, root).stats(files)
        files.map(f => stats.get(f).flatMap(_.get(column)))
    })
  }

  /** The exact (min, max) over per-chunk or per-file stats: None unless
    * every entry is present and all share one footer type. Each family
    * folds in its raw typed space — Long for the integer families
    * (plain, days, micros: temporals render once at the surface),
    * BigDecimal for decimals, UTF-8 bytes for strings — and partition
    * p-stats (path values typed by parse, not footer values typed as
    * stored) never answer.
    *
    * Strings compare UTF-8 bytes (FileStats.cmpBytes), NOT Java String
    * '<': parquet stats were folded in unsigned UTF-8 byte order
    * (= code-point order, Spark's string order); UTF-16 code-unit
    * order disagrees for U+E000–U+FFFF vs supplementary-plane chars,
    * so mixing orders could surface a non-extreme value. Exactness for
    * strings additionally assumes untruncated binary stats —
    * writeVersion writes with Spark's parquet defaults (no
    * parquet.statistics.truncate.length), and a truncated stat would
    * be caught as a bound, not an exact value.
    */
  private def foldMinMax(per: Seq[Option[FileStats.ColStat]]): Option[(Any, Any)] = {
    if (per.isEmpty || per.exists(_.isEmpty)) return None
    val cs = per.flatten
    val typ = cs.head.typ
    if (cs.exists(_.typ != typ)) return None
    def fold[T](parse: String => T, lt: (T, T) => Boolean, render: T => Any) =
      Some((render(cs.map(s => parse(s.min)).reduce((a, b) => if (lt(a, b)) a else b)),
        render(cs.map(s => parse(s.max)).reduce((a, b) => if (lt(a, b)) b else a))))
    typ match {
      case "long" => fold[Long](_.toLong, _ < _, identity)
      case "date" | "ts" | "tsntz" =>
        fold[Long](_.toLong, _ < _, renderTemporal(typ, _))
      case "double" => fold[Double](_.toDouble, _ < _, identity)
      case "decimal" => fold[java.math.BigDecimal](new java.math.BigDecimal(_),
        _.compareTo(_) < 0, _.toPlainString)
      case "string" => fold[Array[Byte]](java.util.Base64.getDecoder.decode(_),
        FileStats.cmpBytes(_, _) < 0, new String(_, "UTF-8"))
      case _ => None
    }
  }

  /** Surface rendering for temporal stats held in raw integer space:
    * `date` days → ISO date, `ts` micros → ISO instant (UTC), `tsntz`
    * micros → ISO local datetime. Strings are for DISPLAY (graft_stats
    * and friends); ordering always happens on the raw integers.
    */
  private def renderTemporal(typ: String, v: Long): String = typ match {
    case "date" => java.time.LocalDate.ofEpochDay(v).toString
    case _ =>
      val i = java.time.Instant.ofEpochSecond(
        Math.floorDiv(v, 1000000L), Math.floorMod(v, 1000000L) * 1000L)
      if (typ == "ts") i.toString
      else java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC).toString
  }

  /** Per-file RowStat for every snapshot file that has one — shared
    * lookup for the metadata-only count/null paths. Files without a
    * row record map to None (legacy versions, non-parquet).
    */
  private def snapshotRowStats(name: String): Seq[(String, Option[FileStats.RowStat])] = {
    val files = snapshotFiles(name)
    val root = new Path(tablePath(name))
    val rows = new FileStats.Sidecars(fileSystem(root), root).rows(files)
    files.map(f => f -> rows.get(f))
  }

  /** Exact `count(*)` answered from the row sidecars alone — zero
    * data files opened. None unless EVERY snapshot file carries a row
    * count (legacy versions ⇒ the caller must scan); when it answers,
    * it is exact: parquet footers always record block row counts. At
    * 100 TB this is O(files) driver metadata vs a full count scan.
    */
  def statsRowCount(name: String): Option[Long] = {
    // chunked manifests carry per-chunk row sums in the HEADER: the
    // count answers in O(chunks) without opening a single chunk file
    // (let alone a data file) — the 10⁶-file metadata-count path
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    currentManifest(fs, root)
      .flatMap(m => manifestChunks(fs, new Path(root, m))) match {
      case Some(chunks) =>
        if (chunks.exists(_.rowSum < 0)) None
        else Some(chunks.map(_.rowSum).sum)
      case None =>
        val per = snapshotRowStats(name)
        if (per.isEmpty || per.exists(_._2.isEmpty)) None
        else Some(per.flatMap(_._2).map(_.numRows).sum)
    }
  }

  /** Exact total null count of `column`, metadata-only. None unless
    * every snapshot file knows its null count for the column (a row
    * group that didn't record numNulls makes its file unknown —
    * unknown is never treated as zero).
    */
  def statsNullCount(name: String, column: String): Option[Long] = {
    // chunked: per-chunk null sums live in the header (written only
    // when every chunk file knows the column) — O(chunks), like the
    // row count
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    currentManifest(fs, root)
      .flatMap(m => manifestChunks(fs, new Path(root, m))) match {
      case Some(chunks) =>
        val per = chunks.map(_.nulls.get(column))
        if (per.isEmpty || per.exists(_.isEmpty)) None
        else Some(per.flatten.sum)
      case None =>
        val per = snapshotRowStats(name)
        val counts = per.map(_._2.flatMap(_.nullCounts.get(column)))
        if (counts.isEmpty || counts.exists(_.isEmpty)) None
        else Some(counts.flatten.sum)
    }
  }

  /** Does the snapshot's layout encode `column` as a hive partition
    * path segment anywhere — i.e. must a pruned read apply the
    * full-table type guard? Two past traps, both pinned in LayoutSpec:
    *
    *  - the match is by WHOLE path segment (`hiveSeg`), never
    *    substring — a column named `id` must not match a `uuid=...`
    *    segment and spuriously pay (or worse, mis-resolve) the guard;
    *  - the decision consults the FULL snapshot, not just the pruned
    *    subset: on a mixed evolved/flat layout a pruned subset that
    *    happens to contain only flat-vintage files would skip the
    *    guard even though the full-table schema types the column from
    *    the evolved files' paths — exactly the r6 type-flip the guard
    *    exists to catch. The kept-subset check stays as the fast path
    *    (a hit there already proves the layout encodes the column).
    */
  private def snapshotEncodesPartition(name: String, mf: Option[String],
      kept: Seq[String], column: String): Boolean = {
    def hasSeg(f: String) = hiveSeg(f, column).isDefined
    if (kept.exists(hasSeg)) return true
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    // chunked manifests answer from the header's pcols lines — the
    // guard decision must NOT cost a full-list concat on a 10^6-file
    // table (s27 pins chunk opens). A chunk whose pcols is
    // unrepresentable (`!`) or a pre-pcols header falls back to the
    // list, the conservative direction. The manifest comes from the
    // CALLER's single resolution (snapshot consistency, see prune).
    mf.flatMap(m => manifestChunks(fs, new Path(root, m))) match {
      case Some(chunks) if chunks.nonEmpty && chunks.forall(_.pcols.isDefined) =>
        chunks.exists(_.pcols.get.contains(column))
      case _ => manifestFilesOrLegacy(fs, root, mf).exists(hasSeg)
    }
  }

  /** First entry of the current snapshot — the partition-layout
    * witness `append` needs — without materializing the list: flat
    * manifests read their first line, chunked ones the first chunk's
    * span (falling back to opening that one chunk on a pre-span
    * header).
    */
  private def snapshotHeadFile(name: String): Option[String] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    currentManifest(fs, root) match {
      case Some(m) =>
        val mf = new Path(root, m)
        manifestChunks(fs, mf) match {
          case Some(chunks) => chunks.headOption.flatMap(c =>
            c.span.map(_._1)
              .orElse(readChunk(fs, root, c.name).headOption))
          case None => readManifest(fs, mf).headOption
        }
      case None => listDataFiles(fs, root, root).headOption
    }
  }

  /** Build a per-file Bloom-filter index for `column` over the CURRENT
    * snapshot — the point-lookup skipping axis min/max stats cannot
    * serve on key-unclustered files (see BloomIndex). Lazy maintenance
    * op, not a write-path tax: one column-pruned pass over each version
    * dir's files (the scan reads ONLY `column`), one fixed-width
    * OR-merged buffer per file on the shuffle, and a `_bloom_<column>`
    * sidecar per version dir, published whole-or-not-at-all via
    * temp+rename. Files appended AFTER the build simply have no entry
    * and are never pruned — re-run the build (idempotent) to cover
    * them. At 100 TB this is the same scheduled job as compaction, and
    * the scan cost is one column of the table, not the table.
    */
  /** Shared engine of the lazy column-index builders (`buildBloom`,
    * `buildNdv`): for each version dir of the current snapshot, one
    * column-pruned distributed pass over that version's files
    * aggregates `aggFn` per file, keyed back to the manifest-relative
    * path. Keys that fail to map onto a manifest rel path (encoding
    * surprises) are dropped — the file then simply never prunes /
    * never counts, which is always the safe direction.
    */
  private def perVersionColumnAgg[T](name: String, column: String,
      aggFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      get: org.apache.spark.sql.Row => T)(
      publish: (Path, Map[String, T]) => Unit): Unit = {
    val root = new Path(tablePath(name))
    snapshotFiles(name).groupBy(FileStats.versionOf)
      .toSeq.sortBy(_._1).foreach { case (v, fl) =>
        if (v.nonEmpty) { // legacy root-level files: no sidecar home, skip
          val base = s"${tablePath(name)}/$v"
          val marker = s"/$v/"
          val rel = fl.map(_.stripPrefix(v + "/")).toSet
          val perFile = spark.read.option("basePath", base)
            .parquet(fl.map(f => s"${tablePath(name)}/$f"): _*)
            .select(input_file_name().as("_f"),
              col(column).cast("string").as("_v"))
            .groupBy(col("_f")).agg(aggFn(col("_v")).as("_agg"))
            .collect()
            .flatMap { row =>
              val abs = row.getString(0)
              val i = abs.indexOf(marker)
              if (i < 0) None
              else {
                val r = abs.substring(i + marker.length)
                if (rel(r)) Some(r -> get(row)) else None
              }
            }.toMap
          publish(new Path(root, v), perFile)
        }
      }
  }

  def buildBloom(name: String, column: String,
      bits: Int = 1 << 13, k: Int = 6): Unit = {
    val bloomFn = udaf(new BloomIndex.BloomAgg(bits, k),
      org.apache.spark.sql.Encoders.STRING)
    perVersionColumnAgg[BloomIndex.FileBloom](name, column,
      c => bloomFn(c),
      row => BloomIndex.FileBloom(k, row.getSeq[Long](1).toArray)) {
      (vdir, perFile) =>
        BloomIndex.write(fileSystem(vdir), new Path(vdir, s"_bloom_$column"),
          perFile)
    }
  }

  /** Build per-file HLL NDV sketches for `column` over the current
    * snapshot (`_ndv_<column>` sidecar per version dir) — same lazy
    * maintenance shape as `buildBloom`; see NdvSketch for the role.
    */
  def buildNdv(name: String, column: String, p: Int = 12): Unit = {
    val hllFn = udaf(new NdvSketch.HllAgg(p),
      org.apache.spark.sql.Encoders.STRING)
    perVersionColumnAgg[Array[Byte]](name, column,
      c => hllFn(c),
      row => row.getAs[Array[Byte]](1)) {
      (vdir, perFile) =>
        NdvSketch.write(fileSystem(vdir), new Path(vdir, s"_ndv_$column"),
          perFile)
    }
    // chunked tables: fold the fresh sidecars into the manifest header
    // as per-chunk merged registers via a metadata-only recommit, so
    // `statsApproxNdv` answers header-only (zero chunk opens) until
    // the next data change. A full rebuild is fine here — buildNdv
    // just scanned the DATA; an O(files) metadata pass is
    // proportionally free, and later delta commits re-derive ndv lines
    // only for the chunks they touch.
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    currentManifest(fs, root).foreach { m =>
      if (manifestChunks(fs, new Path(root, m)).exists(_.nonEmpty)) {
        val files = readManifest(fs, new Path(root, m))
        val n = claimVersion(fs, root)
        // FILE-PRESERVING recommit: the list is the base's raw physical
        // files (not a DV-subtracted read), so the base's deletion
        // vector must carry — otherwise this metadata refresh would
        // silently resurrect deleted (e.g. GDPR) rows
        commitSnapshot(name, n, FullList(files, carryDvFrom = Some(m)), Some(m),
          op = "maintain")
      }
    }
  }

  /** NDV coverage of the snapshot named by manifest `base`: the
    * columns for which EVERY file carries an `_ndv_<col>` register,
    * each with its precision p (derived from the register width).
    * Chunked headers answer this without touching chunk files; flat
    * manifests intersect the version dirs' sidecar listings. Empty
    * map = no coverage to maintain.
    */
  private def ndvCoverage(fs: FileSystem, root: Path,
      base: String): Map[String, Int] = {
    val mf = new Path(root, base)
    if (!fs.exists(mf)) return Map.empty
    def pOf(len: Int): Option[Int] =
      if (len > 0 && Integer.bitCount(len) == 1)
        Some(Integer.numberOfTrailingZeros(len)) else None
    manifestChunks(fs, mf) match {
      case Some(chunks) if chunks.nonEmpty =>
        chunks.map(_.ndv.keySet).reduce(_ intersect _).toSeq.sorted
          .flatMap { c =>
            val lens = chunks.map(_.ndv(c).length).distinct
            if (lens.size == 1) pOf(lens.head).map(c -> _) else None
          }.toMap
      case _ =>
        val vs = readManifest(fs, mf).map(FileStats.versionOf).distinct
        if (vs.isEmpty || vs.contains("")) Map.empty
        else {
          val perV = vs.map { v =>
            val d = new Path(root, v)
            if (!fs.exists(d)) Set.empty[String]
            else fs.listStatus(d).toSeq.collect {
              case st if st.isFile && st.getPath.getName.startsWith("_ndv_") =>
                st.getPath.getName.stripPrefix("_ndv_")
            }.toSet
          }
          perV.reduce(_ intersect _).toSeq.sorted.flatMap { c =>
            NdvSketch.read(fs, new Path(new Path(root, vs.head), s"_ndv_$c"))
              .headOption.flatMap(r => pOf(r._2.length)).map(c -> _)
          }.toMap
        }
    }
  }

  /** Write `_ndv_<col>` sidecars for the files just landed in version
    * dir `_vN`, at the base snapshot's precisions — the commit-time
    * leg of NDV maintenance: when the table HAS coverage (someone ran
    * `buildNdv`), a delta commit keeps it by sketching only the NEW
    * files (cost ∝ the batch, one column-pruned pass for all covered
    * columns together), so `statsApproxNdv` stays header-served with
    * no manual re-run. Tables without coverage pay nothing but the
    * header probe. Any column absent from the batch's schema, or any
    * file the name-mapping can't place, simply gets no sidecar entry —
    * coverage then lapses to None, never to an undercount.
    */
  /** Driver-side staging bound for NDV maintenance: each (file,
    * column) pair collects one ~4 KiB HLL register set to the driver,
    * so an uncapped 100k-file backfill append with 3 covered columns
    * would stage ~1.2 GB there. Past the cap the commit SKIPS sidecar
    * maintenance and coverage cleanly lapses to None (the existing
    * never-undercount rule; `statsApproxNdv` refuses partial
    * coverage) — re-run `buildNdv` after giant backfills. Var, not
    * val: LayoutSpec lowers it to pin the lapse without a 100k-file
    * corpus.
    */
  private[graft] var ndvMaintainMaxSketches: Long = 16384L

  private def maintainNdvSidecars(name: String, n: Long,
      added: Seq[String], base: Option[String]): Unit = {
    if (added.isEmpty || base.isEmpty) return
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val cov = ndvCoverage(fs, root, base.get)
    if (cov.isEmpty) return
    if (added.size.toLong * cov.size > ndvMaintainMaxSketches) return
    val v = s"_v$n"
    val marker = s"/$v/"
    val rel = added.map(_.stripPrefix(v + "/")).toSet
    val df = spark.read.option("basePath", s"${tablePath(name)}/$v")
      .parquet(added.map(f => s"${tablePath(name)}/$f"): _*)
    val present = cov.filter { case (c, _) => df.columns.contains(c) }
    if (present.isEmpty) return
    val colsSorted = present.keys.toSeq.sorted
    val aggs = colsSorted.map { c =>
      udaf(new NdvSketch.HllAgg(present(c)),
        org.apache.spark.sql.Encoders.STRING)(col(c).cast("string")).as(s"_s_$c")
    }
    val rows = df
      .select(input_file_name().as("_f") +: colsSorted.map(col): _*)
      .groupBy(col("_f")).agg(aggs.head, aggs.tail: _*)
      .collect()
    colsSorted.zipWithIndex.foreach { case (c, i) =>
      val perFile = rows.flatMap { row =>
        val abs = row.getString(0)
        val j = abs.indexOf(marker)
        if (j < 0) None
        else {
          val r = abs.substring(j + marker.length)
          if (rel(r)) Some(r -> row.getAs[Array[Byte]](i + 1)) else None
        }
      }.toMap
      // whole-or-nothing per column: a partial sidecar would make the
      // chunk header's ndv line silently cover only some files
      if (perFile.keySet == rel)
        NdvSketch.write(fs, new Path(new Path(root, v), s"_ndv_$c"), perFile)
    }
  }

  /** Approximate distinct count of `column`, answered from the
    * `_ndv_<column>` sidecars alone — zero data files opened. None
    * unless EVERY snapshot data file carries a sketch (a partial
    * answer presented as the table's NDV would silently undercount —
    * the statsMinMax completeness rule). Once `buildNdv` has run,
    * delta commits (append / scoped upsert) MAINTAIN coverage by
    * sketching their own new files (`maintainNdvSidecars`); a full
    * rewrite (compact, unpartitioned upsert) resets the lineage —
    * re-run `buildNdv` after those. Merging is the elementwise-max
    * register fold, so the estimate equals the one a single sketch of
    * the whole snapshot would give.
    */
  def statsApproxNdv(name: String, column: String): Option[Long] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    // chunked manifests carry per-chunk MERGED registers in the header
    // (written at commit when every chunk file had a sketch, refreshed
    // by buildNdv's metadata recommit): the estimate answers from the
    // header alone — zero chunk files, zero sidecars, zero data. Same
    // completeness contract as ever: every chunk must know the column,
    // at one register width.
    currentManifest(fs, root)
      .flatMap(m => manifestChunks(fs, new Path(root, m))) match {
      case Some(chunks) if chunks.nonEmpty &&
          chunks.forall(_.ndv.contains(column)) =>
        val regs = chunks.map(_.ndv(column))
        if (regs.forall(_.length == regs.head.length))
          return Some(NdvSketch.estimate(regs.reduce(NdvSketch.merge)))
      case _ => ()
    }
    val byVersion = snapshotFiles(name).groupBy(FileStats.versionOf)
    val sketches = byVersion.toSeq.sortBy(_._1).flatMap { case (v, fl) =>
      if (v.isEmpty) fl.map(_ => None) // legacy files never have sketches
      else {
        val side = NdvSketch.read(fs, new Path(new Path(root, v), s"_ndv_$column"))
        fl.map(f => side.get(f.stripPrefix(v + "/")))
      }
    }
    if (sketches.isEmpty || sketches.exists(_.isEmpty)) None
    else {
      val regs = sketches.flatten
      val same = regs.forall(_.length == regs.head.length)
      if (!same) None // mixed precisions: rebuild rather than guess
      else Some(NdvSketch.estimate(regs.reduce(NdvSketch.merge)))
    }
  }

  /** A table exists once a commit has landed on it: its `_CURRENT`
    * pointer names a manifest, or (a table written before manifests
    * existed) its directory holds data files. What a killed first
    * commit leaves (a manifest and a version dir, no pointer) is not a
    * table: the next write creates it afresh under a higher version.
    */
  def exists(name: String): Boolean = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    fs.exists(root) &&
      (currentManifest(fs, root).isDefined || listDataFiles(fs, root, root).nonEmpty)
  }

  // ------------------------------------------------------------------
  // Manifest-pointer snapshots (the commit protocol)
  // ------------------------------------------------------------------

  private val CurrentPtr = "_CURRENT"
  private val ManifestRe = "_manifest_v(\\d+)".r
  private val VersionRe = "_v(\\d+)".r
  private val InflightRe = "_inflight_v(\\d+)".r

  /** How long an `_inflight_v<n>` marker shields the entries of its
    * number (version dir, chunks, manifest, staged vector) from
    * `sweep`. A marker is created (create-no-overwrite — it doubles as
    * the version-number claim) before any of them is written and
    * released when the owning commit succeeds or aborts; only a crashed
    * writer leaves one behind, and after this grace its entries are
    * reaped like any other orphan. Without the marker, a concurrent
    * commit's sweep could delete a version dir another writer is still
    * writing — or has written and is about to commit via append-rebase.
    * The same grace ages out a kept lineage's unpointed DV dirs.
    */
  private val InflightGraceMs: Long = 15L * 60 * 1000

  /** The one age rule: has something last modified at `mtime`
    * outlived the in-flight grace?
    */
  private def pastGrace(mtime: Long): Boolean =
    System.currentTimeMillis() - mtime >= InflightGraceMs

  /** Data files (relative to the table root) of the current snapshot.
    * Resolution: `_CURRENT` pointer → manifest file. The pointer store
    * flips the pointer with an atomic overwrite (`FsPointerStore` names
    * the stores where it cannot), so it is never absent once a first
    * commit has landed; a manifest the pointer does not name is an
    * uncommitted (crashed or aborted) write and is never read. A table
    * with no pointer (written before manifests existed) snapshots its
    * legacy layout in place — file paths are arbitrary relative paths,
    * so a legacy `fy=2023/part-x` is as valid a manifest entry as
    * `_v3/fy=2023/y`.
    */
  private def snapshotFiles(name: String): Seq[String] = resolveSnapshot(name)._2

  /** The current snapshot's manifest name — the capture half of a
    * captured-base publish for callers OUTSIDE this class (e.g. the
    * streaming re-grain): capture, read, recompute, then pass this as
    * `atomicPublish(expectedBase = Some(captured))` so the commit CAS
    * covers the whole read-rewrite span.
    */
  private[graft] def currentSnapshotId(name: String): Option[String] = {
    val root = new Path(tablePath(name))
    currentManifest(fileSystem(root), root)
  }


  /** Resolve the current snapshot as (manifest name, file list). The
    * manifest name is the commit-time CAS expectation: a read-modify-
    * write op (append, partition-scoped upsert) captures it when it
    * reads its base snapshot and hands it to `commitSnapshot`, which
    * refuses to flip the pointer if anyone else published in between.
    */
  private def resolveSnapshot(name: String): (Option[String], Seq[String]) = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    currentManifest(fs, root) match {
      case Some(m) => (Some(m), readManifest(fs, new Path(root, m)))
      case None => (None, listDataFiles(fs, root, root))
    }
  }

  private def currentManifest(fs: FileSystem, root: Path): Option[String] =
    pointerStore.read(fs, root, CurrentPtr)

  /** Recursive data-file listing, paths relative to `root`; skips
    * metadata (dot/underscore-prefixed names — which also skips the
    * `_vN` version dirs, so this only sees a LEGACY layout's files).
    */
  private def listDataFiles(fs: FileSystem, root: Path, d: Path): Seq[String] =
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") || n.startsWith("_")) Nil
      else if (st.isDirectory) listDataFiles(fs, root, st.getPath)
      else Seq(st.getPath.toUri.getPath
        .stripPrefix(root.toUri.getPath).stripPrefix("/"))
    }

  /** All DATA files under a version dir, relative to the table root
    * (metadata — `_SUCCESS`, the skipping sidecars — excluded,
    * so manifests list only readable parquet).
    */
  private def versionFiles(fs: FileSystem, root: Path, vdir: Path): Seq[String] = {
    def walk(d: Path): Seq[String] = fs.listStatus(d).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(".") || n.startsWith("_")) Nil
      else if (st.isDirectory) walk(st.getPath)
      else Seq(st.getPath.toUri.getPath
        .stripPrefix(root.toUri.getPath).stripPrefix("/"))
    }
    walk(vdir)
  }

  private def nextVersion(fs: FileSystem, root: Path): Long =
    if (!fs.exists(root)) 1L
    else {
      val seen = fs.listStatus(root).map(_.getPath.getName).collect {
        case ManifestRe(v) => v.toLong
        case VersionRe(v)  => v.toLong
        case InflightRe(v) => v.toLong
      }
      if (seen.isEmpty) 1L else seen.max + 1
    }

  // ---- Incremental commits: chunks as immutable reusable units ------
  //
  // Round-10 commits were O(files): every publish re-sorted the full
  // list, re-read every version dir's sidecars, re-listed every
  // version dir for byte sizes, and rewrote EVERY chunk. At 10^6
  // files that is ~1 GB of driver string work to append one
  // partition. This layer makes commits O(delta + chunks), the
  // Iceberg property: a new manifest REFERENCES the previous
  // snapshot's chunks by name wherever its delta doesn't touch them
  // (their header lines re-emitted verbatim from the parsed header —
  // nothing re-read, nothing re-derived) and writes only
  //
  //   - rewritten chunks: previous chunks whose (partition, path)
  //     span intersects the delta's removals, reloaded and re-emitted
  //     minus the removed entries (byte sizes carried over from the
  //     old entries; stats/rows re-merged from ONLY those chunks'
  //     version-dir sidecars);
  //   - fresh chunks for the added files (sidecars + one listing of
  //     only the added files' version dirs).
  //
  // Because chunks now outlive their manifest number, chunk GC is
  // REFERENCE-COUNTED: a `_mchunk_*` file survives exactly while some
  // kept manifest's header names it (or its number's in-flight marker
  // is fresh — the write-window shield). Appends accumulate one small
  // chunk per publish; when the chunk count exceeds 2x the ideal
  // (min 8), the commit falls back to a full rebuild — the amortized
  // manifest-compaction Iceberg schedules explicitly, folded in here.

  /** What a commit publishes. `FullList` = the complete file list
    * (overwrite publishes, migrations, explicit rebuilds). `Delta` =
    * base's files − removedPartitions − removedFiles + added, where
    * `base` is the manifest the delta was computed against — the
    * incremental path reuses its untouched chunks without ever
    * materializing the base file list.
    */
  private sealed trait SnapSpec
  /** `carryDvFrom`: a FILE-PRESERVING full-list recommit (buildNdv's
    * metadata refresh, rollback-like shapes) names the base manifest
    * whose deletion vector must ride along — the listed files are the
    * base's PHYSICAL files, so dropping the vector would resurrect
    * deleted rows. A genuine full REWRITE leaves it None: its input
    * came from the DV-aware read, deletes are materialized, and the
    * lineage legitimately resets.
    */
  private final case class FullList(files: Seq[String],
      carryDvFrom: Option[String] = None) extends SnapSpec
  private final case class Delta(base: Option[String],
      removedPartitions: Set[String], removedFiles: Set[String],
      added: Seq[String]) extends SnapSpec

  private final case class BuiltManifest(content: String,
      ownChunks: Seq[String])

  /** A file's version dir as the manifest header's vdirs line spells
    * it: "-" for a legacy root file.
    */
  private def vdirOf(f: String): String = FileStats.versionOf(f) match {
    case "" => "-"
    case v  => v
  }

  /** (partition path, full path) — the chunk clustering/order key. */
  private def sortKey(f: String): (String, String) = (partitionRel(f), f)
  private def keyLe(a: (String, String), b: (String, String)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)

  /** Per-commit memoized access to the version dirs' commit-time
    * metadata: footer and row stats through one `FileStats.Sidecars`
    * reader, ONE recursive listing per dir for byte sizes, partition-
    * path stats and lazy HLL register loads. Records which dirs it
    * touched — the `lastCommitSidecarDirs` seam pins that a delta
    * commit never opens an untouched version dir's metadata.
    */
  private final class VersionMeta(fs: FileSystem, root: Path) {
    private val ownTouched = scala.collection.mutable.Set[String]()
    private val side = new FileStats.Sidecars(fs, root)
    def touched: Set[String] = ownTouched.toSet ++ side.versionsRead
    private val listC = scala.collection.mutable.Map[String, Map[String, Long]]()
    private val ndvColsC = scala.collection.mutable.Map[String, Seq[String]]()
    private val ndvC = scala.collection.mutable.Map[(String, String), Map[String, Array[Byte]]]()

    /** Recursive per-file sizes — paid ONLY when an entry arrives
      * without a carried byte size (fresh version dirs; a rewritten
      * chunk's survivors carry their old sizes, so a delta commit
      * never re-lists a big old version dir for them).
      */
    private def listing(v: String): Map[String, Long] =
      listC.getOrElseUpdate(v, {
        ownTouched += v
        val base = if (v.isEmpty) root else new Path(root, v)
        sizesUnder(fs, base, if (v.isEmpty) "" else s"$v/")
      })

    /** `_ndv_*` sidecar names: ONE top-level (non-recursive) listing —
      * never the full-file walk, whose cost is O(version size) and
      * would ride every rewritten-chunk commit.
      */
    private def ndvColNames(v: String): Seq[String] =
      ndvColsC.getOrElseUpdate(v, {
        ownTouched += v
        val base = if (v.isEmpty) root else new Path(root, v)
        if (!fs.exists(base)) Nil
        else fs.listStatus(base).toSeq.collect {
          case st if st.isFile && st.getPath.getName.startsWith("_ndv_") =>
            st.getPath.getName.stripPrefix("_ndv_")
        }
      })

    def size(f: String): Option[Long] = listing(FileStats.versionOf(f)).get(f)

    def rows(files: Seq[String]): Map[String, FileStats.RowStat] = side.rows(files)

    /** Ask for a whole list's footer and row stats once, so later
      * requests for parts of it are answered from the reader's memo.
      */
    def prefetch(files: Seq[String]): Unit = { side.rows(files); side.stats(files) }

    /** Footer stats ++ hive partition-path single-value stats, per file.
      * Partition values get DISTINCT stat types (plong/pstring, never
      * long/string): a path value types by how it PARSES, but pruning
      * correctness types by the CALLER's bounds — a lone '9' partition
      * as a `long` [9,9] stat would let string bounds ['10','95']
      * numerically prune a file whose value is lexicographically IN
      * range (the r6 trap, resurfacing at chunk level). The p-types
      * are compared only when the caller's bound types match
      * (chunkStatMayContain) and are invisible to statsMinMax, whose
      * contract is footer values typed as stored.
      */
    def stats(files: Seq[String]): Seq[Map[String, FileStats.ColStat]] = {
      val footer = side.stats(files)
      files.map(f => footer.getOrElse(f, Map.empty) ++ partStats(f))
    }

    private def partStats(f: String): Map[String, FileStats.ColStat] =
      hiveSegs(f).flatMap { seg =>
        // the hive null and undecodable values get NO partition stat
        // (the chunk then never prunes on this column — keep, the
        // safe direction)
        seg.value.map { raw =>
          seg.column -> (raw.toLongOption match {
            case Some(l) => FileStats.ColStat("plong", l.toString, l.toString)
            case None =>
              // a strict-ISO value gets the DATE p-type (epoch days):
              // date bounds then skip whole chunks of a
              // date-partitioned decade at the header. Strict ISO
              // round-trips exactly (LocalDate.toString == raw), so
              // string-bound probes lose nothing — chunkStatMayContain
              // re-renders for the lexicographic compare, and ISO
              // order IS chronological order
              (try {
                val d = java.time.LocalDate.parse(raw)
                if (d.toString == raw)
                  Some(FileStats.ColStat("pdate",
                    d.toEpochDay.toString, d.toEpochDay.toString))
                else None
              } catch {
                case _: java.time.format.DateTimeParseException => None
              }).getOrElse(FileStats.ColStat("pstring",
                java.util.Base64.getEncoder.encodeToString(raw.getBytes("UTF-8")),
                java.util.Base64.getEncoder.encodeToString(raw.getBytes("UTF-8"))))
          })
        }
      }.toMap

    /** Columns with an `_ndv_<col>` sidecar in EVERY version dir the
      * given files span (legacy root files have none => empty).
      */
    def ndvCols(files: Seq[String]): Seq[String] = {
      val vs = files.map(FileStats.versionOf).distinct
      if (vs.isEmpty || vs.contains("")) Nil
      else vs.map(v => ndvColNames(v).toSet).reduce(_ intersect _).toSeq.sorted
    }

    def ndvRegs(f: String, col: String): Option[Array[Byte]] = {
      val v = FileStats.versionOf(f)
      if (v.isEmpty) None
      else ndvC.getOrElseUpdate((v, col), {
        ownTouched += v
        NdvSketch.read(fs, new Path(new Path(root, v), s"_ndv_$col"))
      }).get(f.stripPrefix(v + "/"))
    }
  }

  private def mergeStat(a: FileStats.ColStat, b: FileStats.ColStat): Option[FileStats.ColStat] = {
    if (a.typ != b.typ) return None
    a.typ match {
      case t @ ("long" | "plong" | "date" | "pdate" | "ts" | "tsntz") =>
        Some(FileStats.ColStat(t,
          math.min(a.min.toLong, b.min.toLong).toString,
          math.max(a.max.toLong, b.max.toLong).toString))
      case "decimal" =>
        def bd(s: String) = new java.math.BigDecimal(s)
        Some(FileStats.ColStat("decimal",
          (if (bd(a.min).compareTo(bd(b.min)) <= 0) a.min else b.min),
          (if (bd(a.max).compareTo(bd(b.max)) >= 0) a.max else b.max)))
      case "double" => Some(FileStats.ColStat("double",
        math.min(a.min.toDouble, b.min.toDouble).toString,
        math.max(a.max.toDouble, b.max.toDouble).toString))
      case t @ ("string" | "pstring") =>
        val d = java.util.Base64.getDecoder
        val mn = if (FileStats.cmpBytes(d.decode(a.min), d.decode(b.min)) <= 0)
          a.min else b.min
        val mx = if (FileStats.cmpBytes(d.decode(a.max), d.decode(b.max)) >= 0)
          a.max else b.max
        Some(FileStats.ColStat(t, mn, mx))
      case _ => None
    }
  }

  /** Writes chunk files for THIS attempt (uuid tag — see MChunkRe) and
    * derives their header lines from the version dirs' sidecars.
    * Entries carry a known byte size when the caller has one (a
    * rewritten chunk reuses the old entry's), else the version dir's
    * single listing supplies it.
    */
  private final class ChunkWriter(fs: FileSystem, root: Path, n: Long,
      meta: VersionMeta) {
    private val tag = java.util.UUID.randomUUID().toString.take(8)
    private var idx = 0
    val written = scala.collection.mutable.ListBuffer[String]()

    def write(entries: Seq[(String, Option[Long])]): Seq[String] = {
      val name = s"_mchunk_v${n}_${tag}_$idx"
      idx += 1
      written += name
      chunkWrites += 1
      val body = entries.map { case (f, sz) =>
        sz.orElse(meta.size(f)).map(s => s"$f\t$s").getOrElse(f)
      }.mkString("\n")
      val out = fs.create(new Path(root, name), true)
      try out.write((body + "\n").getBytes("UTF-8"))
      finally out.close()
      headerLines(name, entries.map(_._1))
    }

    /** chunk / span / vdirs / pcols / nulls / stat / ndv lines for a
      * freshly written chunk. Same conservatism discipline as always:
      * rowSum −1 when any file's count is unknown, stat/nulls/ndv
      * only for columns EVERY file knows, pcols `!` when a partition
      * column's name can't ride the comma list (the guard then
      * resolves conservatively from the full list).
      */
    def headerLines(name: String, files: Seq[String]): Seq[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      val rowStats = { val rs = meta.rows(files); files.map(rs.get) }
      val rowSum = if (rowStats.exists(_.isEmpty)) -1L
        else rowStats.flatten.map(_.numRows).sum
      out += s"chunk\t$name\t${files.size}\t$rowSum"
      if (files.nonEmpty && !files.head.contains('\t') && !files.last.contains('\t'))
        out += s"span\t$name\t${files.head}\t${files.last}"
      val vds = files.map(vdirOf).distinct
      if (vds.forall(v => !v.contains(',') && !v.contains('\t')))
        out += s"vdirs\t$name\t${vds.mkString(",")}"
      val pcs = files.flatMap(hiveSegs(_).map(_.column)).distinct.sorted
      out += (if (pcs.exists(c => c.contains(',') || c.contains('\t')))
        s"pcols\t$name\t!"
      else if (pcs.isEmpty) s"pcols\t$name\t-"
      else s"pcols\t$name\t${pcs.mkString(",")}")
      if (!rowStats.exists(_.isEmpty)) {
        val rss = rowStats.flatten
        val knownCols = rss.map(_.nullCounts.keySet).reduce(_ intersect _)
        knownCols.toSeq.sorted.foreach { c =>
          if (!c.contains('\t'))
            out += s"nulls\t$name\t$c\t${rss.map(_.nullCounts(c)).sum}"
        }
      }
      // merged stats: fold per-file maps, dropping any column the fold
      // can't bound for every file (None poisons the entry)
      val merged = meta.stats(files).map(_.view.mapValues(Option(_)).toMap)
        .reduceOption { (x, y) =>
          (x.keySet intersect y.keySet).map { c =>
            c -> (for { a <- x(c); b <- y(c); m <- mergeStat(a, b) } yield m)
          }.toMap
        }.getOrElse(Map.empty[String, Option[FileStats.ColStat]])
      merged.toSeq.sortBy(_._1).foreach {
        case (c, Some(cs)) if !c.contains('\t') =>
          out += s"stat\t$name\t$c\t${cs.typ}\t${cs.min}\t${cs.max}"
        case _ => ()
      }
      meta.ndvCols(files).foreach { c =>
        if (!c.contains('\t')) {
          val regs = files.map(f => meta.ndvRegs(f, c))
          if (!regs.exists(_.isEmpty)) {
            val rs = regs.flatten
            if (rs.forall(_.length == rs.head.length))
              out += s"ndv\t$name\t$c\t" +
                java.util.Base64.getEncoder.encodeToString(rs.reduce(NdvSketch.merge))
          }
        }
      }
      out.toList
    }
  }

  /** Build one manifest's CONTENT. Flat format when the resulting
    * list fits `manifestChunkSize`; otherwise chunked — incrementally
    * when `spec` is a Delta against a chunked base whose header
    * carries spans (reusing untouched chunks by reference), else a
    * full rebuild. Returns the content, the chunk files THIS attempt
    * wrote (abort deletes exactly these — never a reused chunk), and
    * the version dirs the snapshot references (the GC live-set,
    * computed without materializing the file list on the incremental
    * path).
    */
  private def buildManifest(fs: FileSystem, root: Path, n: Long,
      spec: SnapSpec): BuiltManifest = {
    val meta = new VersionMeta(fs, root)
    val built = spec match {
      case FullList(files, _) => buildFull(fs, root, n, files, meta)
      case d @ Delta(base, _, _, added) =>
        def drop(files: Seq[String]): Seq[String] =
          files.filterNot(f => d.removedFiles.contains(f) ||
            d.removedPartitions.contains(partitionRel(f)))
        base.map(m => new Path(root, m)).filter(fs.exists(_)) match {
          case None =>
            // bootstrap: adopt the live legacy listing as the base
            buildFull(fs, root, n, drop(listDataFiles(fs, root, root)) ++ added, meta)
          case Some(mf) =>
            manifestChunks(fs, mf) match {
              case Some(chunks) if chunks.nonEmpty &&
                  chunks.forall(c => c.span.isDefined && c.vdirs.isDefined) =>
                buildIncremental(fs, root, n, chunks, d, meta)
              case Some(_) =>
                // round-10 header without spans: one-time migration
                // rebuild; every later commit is incremental
                buildFull(fs, root, n, drop(readManifest(fs, mf)) ++ added, meta)
              case None =>
                buildFull(fs, root, n, drop(readManifest(fs, mf)) ++ added, meta)
            }
        }
    }
    lastCommitSidecarDirs = meta.touched
    built
  }

  private def buildFull(fs: FileSystem, root: Path, n: Long,
      files: Seq[String], meta: VersionMeta): BuiltManifest = {
    if (files.size <= manifestChunkSize)
      return BuiltManifest(files.mkString("\n") + "\n", Nil)
    val sorted = files.sortBy(sortKey)
    // one request for the whole list first: the shard rule then sees
    // every version's full width (a version covered whole is parsed
    // whole once, not opened shard by shard), and each chunk's request
    // below is answered from the reader's memo
    meta.prefetch(sorted)
    val writer = new ChunkWriter(fs, root, n, meta)
    val header = new StringBuilder(ChunkedHeader).append('\n')
    sorted.grouped(manifestChunkSize).foreach { chunk =>
      writer.write(chunk.map(f => f -> Option.empty[Long]))
        .foreach(l => header.append(l).append('\n'))
    }
    BuiltManifest(header.toString, writer.written.toList)
  }

  /** The O(delta) path. Chunks whose span can't intersect the removals
    * are reused by reference (raw header lines re-emitted); touched
    * chunks are reloaded and rewritten minus the removed entries (old
    * byte sizes carried); added files append as fresh chunks. Falls
    * back to `buildFull` when the result fits flat or the chunk count
    * has drifted past 2x ideal (the amortized compaction).
    */
  private def buildIncremental(fs: FileSystem, root: Path, n: Long,
      chunks: Seq[ChunkMeta], d: Delta, meta: VersionMeta): BuiltManifest = {
    def removesEntry(f: String): Boolean =
      d.removedFiles.contains(f) || d.removedPartitions.contains(partitionRel(f))
    def touches(c: ChunkMeta): Boolean = c.span match {
      case None => true
      case Some((first, last)) =>
        val lo = sortKey(first); val hi = sortKey(last)
        d.removedPartitions.exists(p => lo._1 <= p && p <= hi._1) ||
        d.removedFiles.exists(f => { val k = sortKey(f); keyLe(lo, k) && keyLe(k, hi) })
    }
    val (touchedChunks, reused) = chunks.partition(touches)
    val survivors: Map[String, Seq[(String, Option[Long])]] = touchedChunks.map { c =>
      c.name -> chunkEntries(fs, root, c.name).filterNot(e => removesEntry(e._1))
    }.toMap
    val sortedAdded = d.added.sortBy(sortKey)
    val totalFiles = reused.map(_.nFiles.toLong).sum +
      survivors.valuesIterator.map(_.size.toLong).sum + sortedAdded.size
    val resultChunks = reused.size + survivors.valuesIterator.count(_.nonEmpty) +
      (sortedAdded.size + manifestChunkSize - 1) / manifestChunkSize
    val idealChunks = (totalFiles + manifestChunkSize - 1) / manifestChunkSize
    if (totalFiles <= manifestChunkSize || resultChunks > math.max(8L, 2L * idealChunks)) {
      // small result -> flat; drifted layout -> amortized full
      // compaction (both materialize the list — the rare O(files)
      // publish that buys many O(delta) ones)
      val all = chunks.flatMap { c =>
        if (survivors.contains(c.name)) survivors(c.name).map(_._1)
        else readChunk(fs, root, c.name).filterNot(removesEntry)
      } ++ sortedAdded
      return buildFull(fs, root, n, all, meta)
    }
    val writer = new ChunkWriter(fs, root, n, meta)
    val header = new StringBuilder(ChunkedHeader).append('\n')
    chunks.foreach { c =>
      survivors.get(c.name) match {
        case None => c.raw.foreach(l => header.append(l).append('\n'))
        case Some(es) if es.nonEmpty =>
          writer.write(es).foreach(l => header.append(l).append('\n'))
        case Some(_) => () // every entry removed: the chunk just drops
      }
    }
    sortedAdded.grouped(manifestChunkSize).foreach { chunk =>
      writer.write(chunk.map(f => f -> Option.empty[Long]))
        .foreach(l => header.append(l).append('\n'))
    }
    BuiltManifest(header.toString, writer.written.toList)
  }

  /** Per-file byte sizes from ONE recursive listing under `d`
    * (metadata names skipped), keys prefixed with `prefix` — the
    * zero-RPC size source `tableHealth` shares with the commit path's
    * VersionMeta (a directory LIST per version dir, never a per-file
    * stat).
    */
  private def sizesUnder(fs: FileSystem, d: Path,
      prefix: String): Map[String, Long] =
    if (!fs.exists(d)) Map.empty
    else fs.listStatus(d).toSeq.flatMap { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(".") || nm.startsWith("_")) Nil
      else if (st.isDirectory) sizesUnder(fs, st.getPath, s"$prefix$nm/").toSeq
      else Seq(s"$prefix$nm" -> st.getLen)
    }.toMap

  /** What a kept manifest (its text `txt`) holds alive: its chunk file
    * names and the version dirs it references — header-only when the
    * chunked header carries vdirs lines (every post-round-10 write),
    * else via the file list. The sweep's live-set input.
    */
  private def manifestRefs(fs: FileSystem, root: Path,
      txt: String): (Seq[String], Seq[String]) =
    chunkHeader(txt) match {
      case Some(chunks) if chunks.forall(_.vdirs.isDefined) =>
        (chunks.map(_.name), chunks.flatMap(_.vdirs.get))
      case Some(chunks) => (chunks.map(_.name),
        chunks.flatMap(ch => readChunk(fs, root, ch.name)).map(vdirOf))
      case None => (Nil, flatEntries(txt).map(vdirOf))
    }

  /** Remove exactly THIS attempt's chunk files (abort cleanup — never
    * touches another attempt's same-n chunks).
    */
  private def deleteChunks(fs: FileSystem, root: Path,
      names: Seq[String]): Unit =
    names.foreach(n => fs.delete(new Path(root, n), false))

  /** Tiny per-table key→value metadata (a file under the WAREHOUSE
    * root's `_PROPS/<table>/` — deliberately outside the table dir,
    * so writing a prop before the table's first publish never makes
    * `exists`/`create`/`read` see a data-less directory): deployment-
    * sticky choices that must survive across jobs but don't belong in
    * any snapshot — e.g. the streaming sink's chosen time-partition
    * grain (a hive layout must never mix grains in one column, so the
    * first writer's choice binds every later one). Last-write-wins,
    * driver metadata only.
    */
  private def propPath(name: String, key: String): Path = {
    require(key.matches("[A-Za-z0-9_-]+"), s"unsafe prop key: $key")
    new Path(dir, s"_PROPS/$name/$key")
  }

  def tableProp(name: String, key: String): Option[String] = {
    val p = propPath(name, key)
    val fs = fileSystem(p)
    if (!fs.exists(p)) None
    else Some(readSmallFile(fs, p).trim).filter(_.nonEmpty)
  }

  def setTableProp(name: String, key: String, value: String): Unit = {
    val p = propPath(name, key)
    val fs = fileSystem(p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
  }

  // ---- View store (SQL view definitions, ViewCatalog backing) --------
  //
  // One small file per view under `_VIEWS/` (the underscore keeps the
  // dir out of table discovery, same convention as `_PROPS`): the
  // definition is METADATA — view text plus the name-resolution
  // context it was authored in — so the store is a driver-side
  // small-file surface, never a Spark job. Create is
  // create-no-overwrite (two concurrent CREATE VIEWs: one wins, one
  // fails loudly — the manifest-commit discipline at view scale).

  private def viewPath(name: String): Path = {
    require(name.matches("[A-Za-z0-9_.-]+") && !name.startsWith("_") &&
      !name.startsWith("."), s"unsafe view name: $name")
    new Path(dir, s"_VIEWS/$name")
  }

  /** Write a view definition. `replace = false` is create-no-overwrite:
    * returns false when the view already exists (the caller raises its
    * catalog-appropriate error).
    */
  def putView(name: String, content: String, replace: Boolean): Boolean = {
    val p = viewPath(name)
    val fs = fileSystem(p)
    fs.mkdirs(p.getParent)
    try {
      val out = fs.create(p, replace)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException if !replace => false }
  }

  def getView(name: String): Option[String] = {
    val p = viewPath(name)
    val fs = fileSystem(p)
    if (fs.exists(p)) Some(readSmallFile(fs, p)) else None
  }

  def listViews(): Seq[String] = {
    val d = new Path(dir, "_VIEWS")
    val fs = fileSystem(d)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.filter(_.isFile).map(_.getPath.getName).sorted
  }

  def dropView(name: String): Boolean = {
    val p = viewPath(name)
    fileSystem(p).delete(p, false)
  }

  def renameView(from: String, to: String): Unit = {
    val src = viewPath(from)
    val dst = viewPath(to)
    val fs = fileSystem(src)
    require(fs.exists(src), s"no such view: $from")
    require(!fs.exists(dst), s"view $to already exists")
    require(fs.rename(src, dst), s"rename $from -> $to failed")
  }

  /** Probe/test seams: drive the commit protocol with FABRICATED file
    * lists (no Spark job behind them) — ScaleProbe's commit-path
    * scaling sweep builds synthetic 10³..10⁵-file snapshots with
    * these to measure commit wall-time vs file count (SCALE.md's
    * commit-exponent table). `commitFabricated` is the full-list
    * publish every round-10 commit paid; `commitFabricatedDelta` is
    * the round-11 incremental path.
    */
  private[graft] def commitFabricated(name: String, files: Seq[String]): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val expected = currentManifest(fs, root)
    val n = claimVersion(fs, root)
    commitSnapshot(name, n, FullList(files), expected)
  }

  private[graft] def commitFabricatedDelta(name: String,
      removedPartitions: Set[String], added: Seq[String]): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val base = currentManifest(fs, root)
    val n = claimVersion(fs, root)
    commitSnapshot(name, n, Delta(base, removedPartitions, Set.empty, added), base)
  }

  /** Probe seam: install a fabricated deletion vector of (`_file`,
    * `_pos`) entries on the CURRENT manifest through the same staged
    * dir + pointer flip `deleteRows` uses — lets the scale probes
    * measure the commit-time carry cost without scanning (fabricated,
    * empty) data files.
    */
  private[graft] def fabricateDv(name: String, entries: DataFrame): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val mf = currentManifest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no current snapshot for $name"))
    val expected = pointerStore.read(fs, root, dvPtrName(mf))
    val next = new Path(root, newDvDirName(mf))
    entries.coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(next.toString)
    require(pointerStore.compareAndSet(fs, root, dvPtrName(mf), expected,
      next.getName, () => pointerStore.read(fs, root, dvPtrName(mf))),
      s"fabricateDv lost the pointer CAS on $name")
  }

  /** Test seam: invoked after the manifest file is created but before
    * the `_CURRENT` compare-and-set — the exact window a racing writer
    * exploits. Tests inject a competing commit here to prove the loser
    * aborts loudly; production leaves it a no-op.
    */
  private[graft] var commitTestHook: String => Unit = _ => ()

  /** Second test seam: invoked AFTER this commit's optimistic pre-check
    * has already passed, immediately before the pointer
    * compare-and-set — i.e. a competing commit injected here and this
    * one have BOTH observed the same expected snapshot and both believe
    * they may flip. The r6 check-then-rename lost-update window lived
    * exactly here; the PointerStore's locked CAS must let at most one
    * of the two flips survive and fail the other loudly.
    */
  private[graft] var casTestHook: String => Unit = _ => ()

  /** Third test seam: invoked after this commit's pointer CAS and
    * marker release, immediately before its `sweep` — a commit
    * injected here lands ABOVE the sweeping commit's manifest with its
    * own marker already released, the shape the sweep's keep-set must
    * still protect.
    */
  private[graft] var sweepTestHook: String => Unit = _ => ()

  /** Commit a snapshot with optimistic concurrency control:
    *
    *  1. write `_manifest_v<n>` create-if-absent (two writers that
    *     allocated the same n: the second create fails loudly);
    *  2. COMPARE-AND-SET the `_CURRENT` pointer — re-read it and
    *     require it still names `expectedPrev`, the manifest this
    *     commit's file list was computed against. If another writer
    *     published in between, flipping anyway would silently clobber
    *     its committed snapshot (last-PUT-wins), so instead this
    *     commit deletes its own orphan manifest + version dir and
    *     throws ConcurrentModificationException — the caller re-reads
    *     the table and retries on the fresh snapshot;
    *  3. flip the pointer, then GC version dirs no longer referenced
    *     by the new OR the immediately-previous snapshot (readers that
    *     resolved before the flip keep one publish of grace).
    *
    * The check-then-flip pair is made atomic by the pluggable
    * `PointerStore`: the observation is RE-RUN inside the store's
    * critical section (a lock file for the FS default, a conditional
    * PUT for an object-store impl), so two writers that both passed
    * the optimistic pre-check can no longer interleave between re-read
    * and rename — the second one's in-lock observation sees the first
    * flip and aborts. The pre-check outside the store remains as a
    * fast path: a stale commit aborts before ever touching the
    * pointer's critical section.
    */
  private def commitSnapshot(name: String, n: Long, spec: SnapSpec,
      expectedPrev: Option[String],
      retainVersionOnAbort: Boolean = false,
      ownVersion: Option[Long] = None,
      dvReplace: Option[DataFrame] = None,
      op: String = "write"): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    // the version dir this commit wrote (and whose in-flight marker it
    // must release): the manifest number for direct commits, the
    // original write's number for an append REBASE recommitting under
    // a fresh manifest
    val own = ownVersion.getOrElse(n)
    // a REBASE commits under manifest number n while its data shield
    // is `_inflight_v{own}` — chunk files named `_mchunk_v{n}_*` land
    // BEFORE `_manifest_v{n}` exists, and with no marker for n a
    // concurrent vacuum would reap them as orphans, leaving the
    // then-committed snapshot referencing deleted chunks. Claim n's
    // own marker first (create-no-overwrite: losing the claim means
    // another writer owns the number — the same IOException signal the
    // manifest create would give, so commitAppend rebases afresh).
    val claimedMarker = own != n
    if (claimedMarker) fs.create(new Path(root, s"_inflight_v$n"), false).close()
    def releaseClaim(): Unit =
      if (claimedMarker) fs.delete(new Path(root, s"_inflight_v$n"), false)
    // chunk files (if any) land BEFORE the manifest create — the
    // create-no-overwrite on the manifest stays the commit claim; a
    // loser's already-written chunks are reaped by abort()/GC
    val built =
      try buildManifest(fs, root, n, spec)
      catch { case e: Throwable => releaseClaim(); throw e }
    val mf = new Path(root, s"_manifest_v$n")
    val out =
      try fs.create(mf, false)
      catch { case e: java.io.IOException =>
        deleteChunks(fs, root, built.ownChunks); releaseClaim(); throw e
      }
    // The commit KIND and PARENT ride the manifest itself (chunked:
    // `op`/`prev` header lines the parser's kind-dispatch already
    // ignores; flat: `#` comment lines the flat reader skips). The
    // kind lets the change feed (`changes`) tell a data-neutral
    // rewrite (optimize / maintain: same rows, new layout) from a
    // real write — the exact distinction Delta's CDC draws via
    // commitInfo. The parent (= the CAS's expectedPrev, "-" for
    // genesis) makes COMMITTED HISTORY walkable: retention classifies
    // crashed-writer orphans by chain membership instead of marker
    // staleness (see sweep). No new file, no extra RPC:
    // both labels are read by the same header parse every consumer
    // already does.
    val prevLabel = expectedPrev.getOrElse("-")
    // `ts` = commit wall-clock millis, recorded IN the manifest so
    // `TIMESTAMP AS OF` is self-contained: file mtimes are perturbed
    // silently by rsync/copy restores and object-store migrations,
    // the header survives them byte-for-byte (r17 advice / stretch).
    // Pre-label manifests fall back to mtime with a monotonicity
    // guard in versionAtTimestamp. Clamped to the predecessor's label
    // (one header read): writer clock skew must never publish a chain
    // whose commit times run backwards — that would trip the restore
    // guard forever after (the Delta in-commit-timestamp clamp).
    val tsLabel = {
      val prevTs = expectedPrev.collect { case ManifestRe(v) =>
        manifestHeaderMeta(name, v.toLong, "ts").flatMap(_.toLongOption)
      }.flatten
      math.max(System.currentTimeMillis(), prevTs.getOrElse(0L))
    }
    // `txn` = streaming-sink transaction label ("{epoch}:{appId}") —
    // stamped ATOMICALLY with the commit (it IS the commit's dedup
    // record; a separate marker write would open a replay window).
    // See withTxn / lastTxnEpoch for the exactly-once protocol.
    val txnChunked = pendingTxn.map(t => s"txn\t$t\n").getOrElse("")
    val txnFlat = pendingTxn.map(t => s"#txn\t$t\n").getOrElse("")
    val labeled =
      if (built.content.startsWith(ChunkedHeader))
        built.content.replaceFirst("\n",
          s"\nop\t$op\nprev\t$prevLabel\nts\t$tsLabel\n$txnChunked")
      else s"#op\t$op\n#prev\t$prevLabel\n#ts\t$tsLabel\n$txnFlat" + built.content
    try out.write(labeled.getBytes("UTF-8"))
    finally out.close()
    // We now own manifest number n exclusively (create-no-overwrite
    // won) — clear any DV-pointer DEBRIS a crashed or aborted earlier
    // attempt left under this number. Number reuse would otherwise
    // attach the stale pointer to THIS unrelated snapshot: silent
    // wrong deletes if its dir survived the crash, a permanently
    // unreadable lineage if it didn't (round-12 multi-process fuzz
    // find — the raw abort-path delete also missed gen-fenced stores'
    // private encodings, hence pointerStore.delete).
    pointerStore.delete(fs, root, dvPtrName(mf.getName))
    commitTestHook(name)
    // ---- Deletion-vector carry-forward (staged pre-CAS) -------------
    // A Delta commit preserves base files, so the base lineage's DV
    // entries for surviving files must keep applying — otherwise an
    // append after a GDPR delete silently RESURRECTS the deleted rows.
    // The carried vector is staged under the NEW manifest's name
    // before the pointer flip: a reader that resolves the new snapshot
    // always finds its DV pointer already in place (no resurrect
    // window). FullList commits (full rewrites) carry nothing — their
    // input came from the DV-aware `read`, so deletes are materialized
    // and the lineage legitimately resets.
    val (dvBase, dvRemP, dvRemF) = spec match {
      case _ if dvReplace.isDefined =>
        // the caller (deleteRows) supplies the new lineage's vector
        // outright — nothing is carried from the base
        (Option.empty[String], Set.empty[String], Set.empty[String])
      case Delta(b, p, f, _) => (b, p, f)
      case FullList(_, b @ Some(_)) =>
        // file-preserving recommit (e.g. buildNdv's metadata refresh):
        // same physical files, so the base lineage's vector carries
        // whole — no removals to subtract
        (b, Set.empty[String], Set.empty[String])
      case _ => (Option.empty[String], Set.empty[String], Set.empty[String])
    }
    val carriedFrom: Option[String] =
      dvBase.flatMap(b => pointerStore.read(fs, root, dvPtrName(b)))
    var stagedDv: Option[String] = None
    // what a reader would resolve now — shared by the optimistic
    // pre-check here and the store's in-lock re-check
    def observe(): Option[String] = currentManifest(fs, root)
    def abort(observed: Option[String]): Nothing = {
      fs.delete(mf, false)
      deleteChunks(fs, root, built.ownChunks)
      stagedDv.foreach { d =>
        pointerStore.delete(fs, root, dvPtrName(mf.getName))
        fs.delete(new Path(root, d), true)
      }
      releaseClaim()
      // an append REBASE keeps its already-written version dir (and its
      // in-flight marker): the files are base-independent and the retry
      // recommits them under a fresh manifest instead of rewriting the
      // data (the caller owns final cleanup if every retry fails)
      if (!retainVersionOnAbort) {
        fs.delete(new Path(root, s"_v$own"), true)
        fs.delete(new Path(root, s"_inflight_v$own"), false)
      }
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit on table '$name': this commit was based on " +
        s"snapshot ${expectedPrev.getOrElse("<none>")} but _CURRENT now " +
        s"names ${observed.getOrElse("<none>")} — aborted (orphan manifest " +
        "removed); re-read the table and retry")
    }
    try {
      // Stage the new lineage's vector pre-CAS: either supplied
      // outright (deleteRows — a row-level delete IS a commit) or
      // carried from the base. A reader resolving the new snapshot
      // always finds its pointer already in place.
      val toStage: Option[() => String] = dvReplace match {
        case Some(vec) => Some(() => {
          val next = new Path(root, newDvDirName(mf.getName))
          vec.coalesce(1).write.mode(SaveMode.ErrorIfExists)
            .parquet(next.toString)
          next.getName
        })
        case None => carriedFrom.map(d => () =>
          stageDvCarry(fs, root, new Path(root, d), mf.getName,
            dvRemP, dvRemF))
      }
      toStage.foreach { stage =>
        val staged = stage()
        stagedDv = Some(staged)
        if (!pointerStore.compareAndSet(fs, root, dvPtrName(mf.getName), None,
            staged, () => pointerStore.read(fs, root, dvPtrName(mf.getName))))
          // we exclusively own this manifest name and just cleared its
          // pointer debris — a conflict here is a protocol violation
          throw new IllegalStateException(
            s"DV pointer for fresh manifest ${mf.getName} was set " +
            "concurrently — commit protocol violated")
      }
    } catch { case e: Throwable =>
      try abort(observe()) catch { case _: Throwable => () }
      throw e
    }
    val observed = observe()
    if (observed != expectedPrev) abort(observed)
    casTestHook(name)
    if (!pointerStore.compareAndSet(fs, root, CurrentPtr, expectedPrev,
        mf.getName, () => observe()))
      abort(observe())
    // committed: the own version dir is now manifest-referenced — its
    // in-flight shield has done its job (ditto the rebase's claim on n)
    fs.delete(new Path(root, s"_inflight_v$own"), false)
    releaseClaim()
    // No post-CAS DV repair (the round-11 repair loop is gone): a
    // lineage's vector is IMMUTABLE once its manifest commits —
    // `deleteRows` is itself a commit that stages a fresh vector
    // under a NEW manifest, so the base pointer this commit carried
    // from cannot move afterwards, and a delete racing this commit
    // simply wins or loses the ONE manifest CAS like any writer. The
    // old mutable-DVPTR protocol had an unclosable window where a
    // delete's entries for files a racing rewrite had removed were
    // silently dropped by the carry filter (round-12 multi-process
    // fuzz find).
    sweepTestHook(name)
    sweep(fs, root, name, Some(mf.getName), expectedPrev)
  }

  /** The one snapshot reaper: every commit runs it right after its
    * pointer CAS (current = its own manifest, `alsoKeep` = the base it
    * superseded) and `vacuumOrphans` runs it on demand. ONE listing of
    * the table root gives the branch shields, the committed history and
    * the deletion candidates. The keep-set is
    *  - `current`, `alsoKeep` and the retained committed manifests;
    *  - every manifest an open `_BRANCH_` pointer names: the pointer IS
    *    the intent record, so a staged snapshot survives however old
    *    its marker is, until `promoteBranch`/`abandonBranch`.
    * Each manifest it looks at is read once: for its parent label on
    * the chain walk and, when kept, for the version dirs and chunk
    * files it references. Deleted:
    *  - version dirs no kept manifest references, with their marker;
    *  - manifests outside the keep-set, and chunk files no kept manifest
    *    names (chunks are REFERENCE-COUNTED: an incremental commit
    *    reuses earlier manifests' chunks by name);
    *  - DV dirs and `_DVPTR_` pointers of lineages outside the keep-set,
    *    and within a kept lineage any dir its pointer does not name,
    *    once past the grace (a racer's seconds-old staging survives);
    *  - stale markers whose dir is gone, or whose manifest is committed
    *    history (its writer crashed between its CAS and marker delete);
    *  - branch pointers whose manifest no longer exists.
    * A fresh in-flight marker shields every entry of its number — a live
    * writer's dir, chunks, manifest and staged vector (a concurrent
    * commit stages its vector BEFORE its CAS, while its manifest is not
    * yet anyone's keep-set; reaping it would resurrect deleted rows).
    * Returns what it deleted.
    *
    * Retention keeps the last `retain_snapshots` COMMITTED manifests
    * (default 2 = current + previous) in union with those younger than
    * `retain_ms`. Committed history comes from the PREV-CHAIN: every
    * commit records the manifest its CAS superseded, so walking parents
    * back from `current` enumerates it authoritatively — a manifest
    * whose writer crashed between its CAS and its marker delete keeps
    * its slot, and a manifest off the walked chain is a crashed writer's
    * orphan whatever its marker says. Below the oldest walkable member
    * (pre-label manifests, or a GC'd parent) a manifest counts as
    * committed unless its marker is stale. Above `current` a manifest
    * is a newer commit or in flight and stays, unless a stale marker
    * marks it a crashed writer's debris. Markers are judged as the
    * listing saw them.
    */
  private def sweep(fs: FileSystem, root: Path, name: String,
      current: Option[String], alsoKeep: Option[String]): Seq[String] = {
    if (!fs.exists(root)) return Nil
    val listing = fs.listStatus(root).toSeq
    val names = listing.map(_.getPath.getName).toSet
    val deleted = scala.collection.mutable.ListBuffer[String]()
    val branchKeep = names.filter(_.startsWith("_BRANCH_")).flatMap { b =>
      val m = try Some(readBranchPtr(fs, root, b.stripPrefix("_BRANCH_")))
        catch { case _: IllegalArgumentException | _: java.io.FileNotFoundException => None }
      // a pointer whose manifest is gone (pre-shield crash debris) can
      // never be read or promoted again: it goes instead of shielding
      val dangling = m.exists(mf => !names.contains(mf) && !fs.exists(new Path(root, mf)))
      if (dangling) { fs.delete(new Path(root, b), false); deleted += b }
      m.filterNot(_ => dangling)
    }
    // in-flight markers as the listing saw them (number → past the
    // grace?): a marker its writer releases during this sweep still
    // shields its number until the next one
    val stale = listing.flatMap(st => st.getPath.getName match {
      case InflightRe(num) if st.isFile => Some(num -> pastGrace(st.getModificationTime))
      case _ => None
    }).toMap
    def isFresh(num: String) = stale.get(num).contains(false)
    val texts = scala.collection.mutable.Map[String, Option[String]]()
    def text(m: String) = texts.getOrElseUpdate(m,
      try Some(readSmallFile(fs, new Path(root, m)))
      catch { case _: java.io.FileNotFoundException => None })
    val chain = scala.collection.mutable.LinkedHashSet[String]()
    var genesis = false
    var walk = current
    while (walk.isDefined) {
      val m = walk.get
      walk = if (!chain.add(m)) None // cycle guard (corrupt labels)
        else m match {
          case ManifestRe(_) => text(m).flatMap(headerLabel(_, "prev")) match {
            case Some("-") => genesis = true; None
            case Some(p) if names.contains(p) => Some(p)
            case _ => None
          }
          case _ => None
        }
    }
    val committed = current match {
      case Some(ManifestRe(cv)) =>
        val floor = if (genesis) 0L
          else chain.lastOption.collect { case ManifestRe(v) => v.toLong }
            .getOrElse(cv.toLong + 1)
        listing.flatMap(st => st.getPath.getName match {
          case m @ ManifestRe(v) if v.toLong <= cv.toLong && (chain.contains(m) ||
              v.toLong < floor && !stale.get(v).contains(true)) =>
            Some((v.toLong, m, st.getModificationTime))
          case _ => None
        }).sortBy(-_._1)
      case _ => Nil
    }
    val retain = tableProp(name, "retain_snapshots").flatMap(_.toIntOption)
      .filter(_ >= 2).getOrElse(2)
    // the manifest's mtime is written seconds before its commit CAS,
    // so window membership tracks commit time
    val window = tableProp(name, "retain_ms").flatMap(_.toLongOption).filter(_ > 0)
      .map(w => committed.filter(c => System.currentTimeMillis() - c._3 <= w))
    // above `current`, a manifest without a stale marker stays with
    // everything it references: with no marker it is a commit that
    // landed after `current` (its writer released the marker right
    // after its own CAS), with a fresh one it is still in flight
    val newer = current match {
      case Some(ManifestRe(cv)) => names.collect {
        case m @ ManifestRe(v) if v.toLong > cv.toLong && !stale.get(v).contains(true) => m
      }
      case _ => Set.empty[String]
    }
    val keep = (committed.take(retain) ++ window.getOrElse(Nil)).map(_._2).toSet ++
      current ++ alsoKeep ++ branchKeep ++ newer
    val refs = keep.toSeq.flatMap(text).map(manifestRefs(fs, root, _))
    val chunks = refs.flatMap(_._1).toSet
    val live = refs.flatMap(_._2).toSet
    def unkept(m: String) = !keep.contains(m) && !isFresh(m.stripPrefix("_manifest_v"))
    listing.foreach { st =>
      val nm = st.getPath.getName
      nm match {
        case VersionRe(num) if st.isDirectory && !live.contains(nm) && !isFresh(num) =>
          fs.delete(st.getPath, true)
          fs.delete(new Path(root, s"_inflight_v$num"), false)
          deleted += nm
        case InflightRe(num) if st.isFile && pastGrace(st.getModificationTime) &&
            (!names.contains(s"_v$num") || chain.contains(s"_manifest_v$num")) =>
          fs.delete(st.getPath, false)
          deleted += nm
        case ManifestRe(num) if st.isFile && !keep.contains(nm) && !isFresh(num) =>
          fs.delete(st.getPath, false)
          deleted += nm
        case MChunkRe(num, _, _) if st.isFile && !chunks.contains(nm) && !isFresh(num) =>
          fs.delete(st.getPath, false)
          deleted += nm
        case DvDirRe(m, _) if st.isDirectory && (unkept(m) ||
            pastGrace(st.getModificationTime) &&
              !pointerStore.read(fs, root, dvPtrName(m)).contains(nm)) =>
          fs.delete(st.getPath, true)
          deleted += nm
        case DvPtrRe(m) if st.isFile && unkept(m) =>
          pointerStore.delete(fs, root, nm)
          deleted += nm
        case _ =>
          // stores with PRIVATE pointer encodings (gen ladders): ask the
          // store which logical pointer a file belongs to
          pointerStore.ownedPointer(nm) match {
            case Some(p @ DvPtrRe(m)) if !deleted.contains(p) && unkept(m) =>
              pointerStore.delete(fs, root, p)
              deleted += p
            case _ => ()
          }
      }
    }
    deleted.toList
  }

  // ------------------------------------------------------------------
  // Cross-table UoW snapshot (DB-level _CURRENT)
  // ------------------------------------------------------------------

  private val DbManifestRe = "_db_manifest_v(\\d+)".r

  /** Test seam: invoked after this DB commit's expected pointer was
    * observed and its db-manifest written, immediately before the
    * pointer CAS — the window a racing DB flip exploits. Production
    * leaves it a no-op.
    */
  private[graft] var dbCommitTestHook: () => Unit = () => ()

  /** Commit ONE cross-table snapshot: a `_db_manifest_vN` file at the
    * warehouse root mapping each of `tables` to its CURRENT per-table
    * manifest, made current by a single `_CURRENT` pointer CAS at the
    * root — the same primitive (and the same pluggable store) as the
    * per-table commit. This is the unit-of-work shape the reference
    * gets from one Postgres transaction over company+report+items+facts
    * (utils/service/unitofwork.py:89-143): the per-table publishes land
    * first (each individually atomic but visible one at a time to
    * `read`), then ONE tiny-file flip makes the whole set current for
    * `readSnapshot` callers — a crash mid-sequence leaves the DB
    * pointer naming the previous consistent set, never reports without
    * facts.
    *
    * Concurrency: optimistic, like the table commit — the expected DB
    * pointer is observed BEFORE the table manifests are captured, and
    * the CAS re-observes inside the store's critical section; a racing
    * DB flip aborts this one loudly (orphan db-manifest removed) and
    * the caller re-captures against the fresh state.
    *
    * Durability grace: the snapshot pins manifests that per-table GC
    * keeps only while they are each table's current or
    * immediately-previous manifest — i.e. a DB snapshot stays fully
    * readable until a table it pins has published TWICE more. Flip the
    * DB pointer after every UoW (as `Ingest` does) and the pinned set
    * is always within that grace.
    */
  def commitDbSnapshot(tables: Seq[String]): Long = {
    require(tables.nonEmpty, "commitDbSnapshot needs at least one table")
    val root = new Path(dir)
    val fs = fileSystem(root)
    def observe(): Option[String] = pointerStore.read(fs, root, CurrentPtr)
    val expected = observe()
    val mapping = tables.map { t =>
      val troot = new Path(tablePath(t))
      val m = currentManifest(fileSystem(troot), troot).getOrElse(
        throw new IllegalStateException(
          s"commitDbSnapshot: table '$t' has no committed snapshot"))
      t -> m
    }
    val n = nextDbVersion(fs, root)
    val mf = new Path(root, s"_db_manifest_v$n")
    val out = fs.create(mf, false)
    try out.write(mapping.map { case (t, m) => s"$t=$m" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    dbCommitTestHook()
    if (!pointerStore.compareAndSet(fs, root, CurrentPtr, expected,
        mf.getName, () => observe())) {
      fs.delete(mf, false)
      throw new java.util.ConcurrentModificationException(
        s"concurrent DB snapshot commit on $dir: expected " +
        s"${expected.getOrElse("<none>")} but the pointer moved — aborted " +
        "(orphan db-manifest removed); re-capture and retry")
    }
    // GC: keep the new and the immediately-previous db manifest (same
    // one-publish reader grace as table manifests)
    val keep = Set(mf.getName) ++ expected
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case m @ DbManifestRe(_) if st.isFile && !keep.contains(m) =>
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    n
  }

  private def nextDbVersion(fs: FileSystem, root: Path): Long =
    if (!fs.exists(root)) 1L
    else {
      val seen = fs.listStatus(root).map(_.getPath.getName).collect {
        case DbManifestRe(v) => v.toLong
      }
      if (seen.isEmpty) 1L else seen.max + 1
    }

  /** The current DB-level snapshot: {table → pinned per-table manifest},
    * empty when no `commitDbSnapshot` has ever run.
    */
  def dbSnapshot(): Map[String, String] = {
    val root = new Path(dir)
    val fs = fileSystem(root)
    pointerStore.read(fs, root, CurrentPtr)
      .filter(m => fs.exists(new Path(root, m)))
      .map { m =>
        readManifest(fs, new Path(root, m)).map { line =>
          val i = line.indexOf('=')
          require(i > 0, s"malformed db-manifest line: $line")
          (line.take(i), line.drop(i + 1))
        }.toMap
      }.getOrElse(Map.empty)
  }

  /** Read `name` through the DB-level snapshot: tables the snapshot
    * pins resolve to EXACTLY the manifest the last `commitDbSnapshot`
    * captured — publishes since then (including a crashed multi-table
    * sequence's partial output) are invisible until the next flip.
    * Tables outside the snapshot fall back to the per-table current
    * read.
    */
  def readSnapshot(name: String): DataFrame =
    dbSnapshot().get(name) match {
      case Some(m) =>
        val troot = new Path(tablePath(name))
        val fs = fileSystem(troot)
        val mf = new Path(troot, m)
        require(fs.exists(mf),
          s"db snapshot pins $name@$m but the manifest was GC'd — the " +
          "table published twice since the last commitDbSnapshot; flip " +
          "the DB pointer after every UoW to stay within the grace")
        readFiles(name, readManifest(fs, mf))
      case None => read(name)
    }

  /** Columns of the hive-style partition layout encoded in a data
    * file's relative path (empty for unpartitioned layouts).
    */
  private def partitionColsFrom(file: Option[String]): Seq[String] =
    file.toSeq.flatMap(f => hiveSegs(partitionRel(f)).map(_.column))

  /** Partition layout of the current snapshot. */
  private def partitionColsOf(name: String): Seq[String] =
    partitionColsFrom(snapshotFiles(name).headOption)

  /** Compact the current snapshot: rewrite the table's content as one
    * fresh version with few large files — the maintenance op an
    * append-heavy (e.g. streaming micro-batch) table needs, since each
    * append adds small files the scan pays for forever. Content is
    * unchanged; readers see old-or-new throughout (it is just a
    * publish); the version dirs and manifests also collapse — with
    * the standard one-publish grace: the pre-compaction
    * versions stay on disk until the NEXT publish so an in-flight
    * reader of the old snapshot keeps its files. Partitioned layouts
    * are re-detected from the file paths and preserved, with data
    * clustered so each hive partition writes its files contiguously.
    */
  def compact(name: String, numFiles: Int = 1): Unit = {
    val parts = partitionColsOf(name)
    // captured-base CAS: compacting is read-modify-write too — a
    // commit racing the rewrite must abort this publish, never be
    // silently replaced by data computed from the stale snapshot
    val (mf, files) = resolveSnapshot(name)
    val snap = readFilesMor(name, files, mf)
    val arranged =
      if (parts.isEmpty) snap.coalesce(numFiles)
      else snap.repartition(parts.map(col): _*)
    atomicPublish(name, arranged, parts, Some(mf), op = "optimize")
  }

  /** Row-level diff between two committed snapshots (CDC-lite, the
    * shape Delta's change-data-feed serves): `added` = rows of `v2`
    * with no identical row in `v1`, `removed` = the converse — two
    * full-row anti-joins (null-safe equality), so an UPDATE surfaces
    * as remove(old)+add(new), exactly how a downstream incremental
    * consumer replays it. GC keeps current + previous, so the
    * always-available call is diff(previous, current) right after a
    * publish — the per-publish changelog. Two shuffles, nothing
    * driver-side; at scale both sides partition-prune through the
    * same manifest reads as any query. SET semantics: duplicate-row
    * multiplicities are not tracked (one surviving copy suppresses
    * the diff for all its duplicates).
    */
  def diffVersions(name: String, v1: Long, v2: Long): (DataFrame, DataFrame) = {
    val a = readVersion(name, v1)
    val b = readVersion(name, v2)
    require(a.columns.toSet == b.columns.toSet,
      s"schema evolved between snapshots (v$v1: ${a.columns.mkString(",")} " +
      s"vs v$v2: ${b.columns.mkString(",")}) — project both to the " +
      "common columns and diff those explicitly")
    val all = b.columns.toSeq
    val added = b.join(a, all.map(c => b(c) <=> a(c)).reduce(_ && _), "left_anti")
    val removed = a.join(b, all.map(c => a(c) <=> b(c)).reduce(_ && _), "left_anti")
    (added, removed)
  }

  /** The CHANGE FEED: row-level changes committed in versions
    * (`fromV`, `toV`], derived per commit from MANIFEST deltas — the
    * O(changes) shape a 100 TB CDC consumer needs, vs `diffVersions`'
    * O(table) full-row anti-joins. Columns: the table's data columns
    * plus `_change_type` (insert | delete) and `_commit_version`; an
    * update surfaces as delete(old) + insert(new) under the same
    * version, exactly how a downstream incremental consumer replays
    * it.
    *
    * Per version v the diff against v−1 is assembled from three
    * manifest-level sources, each O(touched):
    *
    *  - files only in v       → their rows minus DV(v)   = inserts
    *  - files only in v−1     → their rows minus DV(v−1) = deletes
    *  - files in both with a DV delta → positions marked in DV(v) but
    *    not DV(v−1) read back as deletes (an inner join on the
    *    broadcast position set — sized by deleted rows, never the
    *    table); positions unmarked (a restore) as inserts.
    *
    * A partition-scoped upsert rewrites whole partitions, so the raw
    * file diff contains rewrite churn (unchanged rows as
    * delete+insert). `collapseUnchanged` (default true) cancels it
    * with a per-version multiset `exceptAll` between the two sides —
    * a shuffle sized by the TOUCHED partitions only — so consumers
    * see precisely the rows whose content changed. Commits labeled
    * data-neutral (`optimize`, `maintain` — compaction, z-order,
    * NDV/metadata refresh, grain re-derivation) are skipped outright:
    * same row content, new layout. (Derived partition-grain columns
    * are layout metadata in this contract — the hidden-partitioning
    * stance — so a re-grain's `_day`→`_month` value change is not a
    * data change.) A `restore` emits the REVERSE diff of the rolled-
    * back span, which is exactly what replays the table back to the
    * restored state downstream.
    *
    * Availability window = snapshot retention: every manifest in
    * [`fromV`, `toV`] must still be retained (`retain_snapshots` /
    * `retain_ms`), since both the removed files' bytes and each
    * version's immutable DV are needed. Outside the window this
    * throws — loudly, never a partial feed.
    *
    * `fromV = 0` is the synthetic EMPTY table: the pair (0, 1) replays
    * the initial publish as inserts — how a consumer bootstraps a full
    * replica from the feed alone.
    *
    * PLAN-SIZE BOUND: this batch API composes one union branch of ~4
    * joins PER VERSION in the window, so driver-side analysis cost
    * grows linearly with `toV − fromV` — fine for the
    * incident-response window it serves, wrong for consuming a long
    * history in one call. Windows past `changesMaxWindow` (default
    * 256) are refused; the unbounded path is `readChangesStream`,
    * which serves the same feed one commit-window per micro-batch with
    * per-trigger cost bounded by that window's commits.
    */
  def changes(name: String, fromV: Long, toV: Long,
      collapseUnchanged: Boolean = true,
      parallelCompose: Boolean = false): DataFrame = {
    require(fromV >= 0 && fromV <= toV,
      s"changes($name): need 0 <= fromV <= toV, got ($fromV, $toV)")
    require(toV - fromV <= changesMaxWindow,
      s"changes($name): window ${toV - fromV} exceeds changesMaxWindow" +
      s"=$changesMaxWindow — the batch feed builds a per-version union " +
      "plan (driver analysis cost grows with the window); consume wide " +
      "histories incrementally via readChangesStream")
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    def manifestOf(v: Long): Path = {
      val p = new Path(root, s"_manifest_v$v")
      require(fs.exists(p),
        s"snapshot v$v of $name is not available (the change feed " +
        "window is snapshot retention — raise `retain_snapshots` / " +
        "`retain_ms` to widen it)")
      p
    }
    def dvOf(v: Long): Option[DataFrame] =
      if (v == 0L) None
      else currentDv(fs, root, s"_manifest_v$v").map(d => loadDv(fs, d))
    // Enumerate the COMMITTED CHAIN from toV down to fromV via the
    // `prev` labels, NOT by integer stepping: committed version
    // numbers legitimately have GAPS (a crashed writer's claim burns a
    // number; its orphan manifest is later reaped by GC), and an
    // integer walk would refuse a perfectly consumable window at the
    // first hole. Diffing (parent, child) pairs is also the true
    // semantic: each commit's delta is against the snapshot its CAS
    // superseded. Pre-label manifests (no `prev`) fall back to v−1
    // stepping — the historical behavior, correct for every manifest
    // old code wrote (no orphan was ever reaped from between them
    // while unlabeled, because old code's numbers were only burned by
    // aborts that deleted their manifests). fromV off the chain (it
    // was an orphan's number, or below genesis) is refused loudly.
    val chainDown: Seq[Long] = {
      val buf = scala.collection.mutable.ListBuffer[Long](toV)
      var cur = toV
      while (cur > fromV) {
        manifestOf(cur) // loud retention error before any parent read
        val next = commitParent(name, cur) match {
          case Some("-")            => 0L // cur is the first commit
          case Some(ManifestRe(p))  => p.toLong
          // present-but-unparseable prev label = a truncated/corrupt
          // header, NOT an old unlabeled manifest — guessing v−1 here
          // could pair the wrong parent snapshot and emit a silently
          // wrong delta, so refuse loudly; the v−1 fallback below is
          // reserved for genuinely pre-label manifests (no label at all)
          case Some(bad) => throw new IllegalStateException(
            s"changes($name): v$cur carries an unparseable prev label " +
            s"'$bad' — the manifest header is corrupt; refusing to " +
            "guess the parent snapshot (restore the manifest or rebuild " +
            "the replica from a full snapshot read)")
          case None                 => cur - 1 // pre-label fallback
        }
        require(next >= fromV,
          s"changes($name): fromV $fromV is not on the committed " +
          s"chain (v$cur's parent is v$next — v$fromV was never " +
          "committed, or is below the first commit; pick a committed " +
          "version, e.g. from history())")
        require(next < cur, s"changes($name): corrupt prev chain at v$cur")
        buf += next
        cur = next
      }
      buf.toSeq
    }
    // per-version file lists and DV frames are resolved ONCE up front;
    // the loop below only composes plans (v0 = the synthetic empty set)
    val versions: Seq[(Long, Set[String])] =
      chainDown.reverse.map(v =>
        v -> (if (v == 0L) Set.empty[String]
              else readManifest(fs, manifestOf(v)).toSet))
    // per-version deltas are independent of each other: compose them
    // from a small driver pool (guide §2.6 — each compose mixes
    // driver-side Catalyst analysis with one or two tiny DV-pruning
    // jobs, so overlapping them hides both the analysis CPU and the
    // job-launch latency; results reassemble in version order, so the
    // emitted union is byte-identical to the sequential build)
    val versionPairs = versions.sliding(2).toSeq
      .collect { case Seq(a, b) => (a, b) }
    def composeOne(pv: Long, prev: Set[String], v: Long,
        cur: Set[String]): Option[DataFrame] = {
      val kind = commitKind(name, v)
      if (kind.exists(k => k == "optimize" || k == "maintain")) None
      else {
        val addedFiles = (cur -- prev).toSeq.sorted
        val removedFiles = (prev -- cur).toSeq.sorted
        val dvNew = dvOf(v)
        val dvOld = dvOf(pv)
        // a file-name frame sized by the DELTA (never the table) —
        // DV restriction joins against it, broadcast, instead of a
        // literal In() that would grow with the commit
        def fileSet(files: Seq[String]): DataFrame = {
          import spark.implicits._
          files.toDF("_xfile")
        }
        // a DV can only reference files of its OWN manifest, so
        // "entries on surviving files" = all entries minus the
        // delta's — the anti side is the small one by construction
        def dvOn(dv: Option[DataFrame], delta: Seq[String],
            keep: Boolean): Option[DataFrame] = dv.map { d =>
          if (delta.isEmpty) { if (keep) d.limit(0) else d }
          else d.join(broadcast(fileSet(delta)),
            col("_file") === col("_xfile"),
            if (keep) "left_semi" else "left_anti")
        }
        // rows of an explicit file list minus a DV restricted to it
        def liveRows(files: Seq[String], dv: Option[DataFrame]): Option[DataFrame] =
          if (files.isEmpty) None
          else Some(dvOn(dv, files, keep = true) match {
            case None => readFiles(name, files).drop("_file", "_pos")
            case Some(d) =>
              readFiles(name, files, withPos = true)
                .join(broadcast(d.select(col("_file").as("_dfile"),
                  col("_pos").as("_dpos"))),
                  col("_file") === col("_dfile") && col("_pos") === col("_dpos"),
                  "left_anti")
                .drop("_file", "_pos")
          })
        // DV delta on surviving files: rows read back BY POSITION via
        // an inner join against the broadcast position set. Only the
        // DISTINCT FILE LIST is collected (bounded by the version's
        // file count — it sizes the explicit-scan plan); the
        // positions themselves stay a distributed frame, so a commit
        // that deleted 10⁹ rows never stages them on the driver.
        def rowsAt(positions: Option[DataFrame]): Option[DataFrame] =
          positions.flatMap { p =>
            val files = p.select(col("_file")).distinct()
              .collect().map(_.getString(0)).toSeq.sorted
            if (files.isEmpty) None
            else Some(readFiles(name, files, withPos = true)
              .join(broadcast(p.select(col("_file").as("_dfile"),
                col("_pos").as("_dpos"))),
                col("_file") === col("_dfile") && col("_pos") === col("_dpos"))
              .drop("_file", "_pos", "_dfile", "_dpos"))
          }
        val dvNewC = dvOn(dvNew, addedFiles, keep = false)
        val dvOldC = dvOn(dvOld, removedFiles, keep = false)
        val (newlyDeleted, resurrected) = (dvNewC, dvOldC) match {
          case (None, None)       => (None, None)
          case (Some(n2), None)   => (Some(n2), None)
          case (None, Some(o))    => (None, Some(o))
          case (Some(n2), Some(o)) =>
            (Some(n2.exceptAll(o)), Some(o.exceptAll(n2)))
        }
        val ins0 = Seq(liveRows(addedFiles, dvNew), rowsAt(resurrected)).flatten
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
        val del0 = Seq(liveRows(removedFiles, dvOld), rowsAt(newlyDeleted)).flatten
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
        // cancel rewrite churn: rows identical on both sides are not
        // changes (multiset semantics — exceptAll keeps true
        // duplicate-count deltas)
        val (ins, del) = (ins0, del0) match {
          case (Some(i), Some(d)) if collapseUnchanged =>
            val cols = i.columns.toSet ++ d.columns.toSet
            def widen(x: DataFrame): DataFrame = cols.diff(x.columns.toSet)
              .foldLeft(x)((acc, c) => acc.withColumn(c, lit(null)))
            val iw = widen(i).select(cols.toSeq.sorted.map(col): _*)
            val dw = widen(d).select(cols.toSeq.sorted.map(col): _*)
            (Some(iw.exceptAll(dw)), Some(dw.exceptAll(iw)))
          case other => other
        }
        val tagged = Seq(
          ins.map(_.withColumn("_change_type", lit("insert"))),
          del.map(_.withColumn("_change_type", lit("delete")))).flatten
        tagged.reduceOption(_.unionByName(_, allowMissingColumns = true))
          .map(_.withColumn("_commit_version", lit(v))
            .withColumn("_commit_timestamp", commitTsCol(name, v)))
      }
    }
    // `parallelCompose` is OPT-IN (the streaming source's getBatch
    // turns it on): the SQL `changes(...)` table function reaches this
    // method from inside SessionCatalog.lookupFunction — the calling
    // thread HOLDS the catalog monitor, and pool threads need that
    // same monitor for their own plan analysis, a guaranteed deadlock
    // (observed: main parked on the pool future, pool thread BLOCKED
    // on the catalog). Callers that own no analyzer locks may overlap.
    val perVersion: Seq[DataFrame] =
      if (versionPairs.size <= 1 || !parallelCompose)
        versionPairs.flatMap { case ((pv, prev), (v, cur)) =>
          composeOne(pv, prev, v, cur) }
      else graft.Parallel.map(versionPairs, 4) { case ((pv, prev), (v, cur)) =>
        composeOne(pv, prev, v, cur) }.flatten
    perVersion.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        // empty feed, correct schema: the current snapshot's columns
        // plus the change metadata
        read(name).limit(0)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(0L))
          .withColumn("_commit_timestamp",
            lit(null).cast(org.apache.spark.sql.types.TimestampType))
          .limit(0)
      }
  }

  /** `_commit_timestamp` for one version: the manifest's `ts` header
    * (commit wall-clock, self-contained across restores) as a
    * timestamp literal — null for pre-label manifests, never an mtime
    * guess (a wrong commit time in a CDC feed silently corrupts
    * downstream bitemporal logic; null is inspectable). One 4 KiB
    * header read per version in the window, driver-side.
    */
  private def commitTsCol(name: String, v: Long): org.apache.spark.sql.Column =
    manifestHeaderMeta(name, v, "ts").flatMap(_.toLongOption) match {
      case Some(ms) => lit(new java.sql.Timestamp(ms))
      case None =>
        lit(null).cast(org.apache.spark.sql.types.TimestampType)
    }

  /** The current committed snapshot's version number — one pointer
    * read. None = table absent or never committed.
    */
  def currentVersion(name: String): Option[Long] = {
    val root = new Path(tablePath(name))
    currentManifest(fileSystem(root), root)
      .collect { case ManifestRe(v) => v.toLong }
  }

  /** The change feed's schema for `name`: the current read schema plus
    * `_change_type` (string) and `_commit_version` (long).
    */
  def changesSchema(name: String): org.apache.spark.sql.types.StructType =
    read(name).limit(0)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(0L))
      .withColumn("_commit_timestamp",
        lit(null).cast(org.apache.spark.sql.types.TimestampType))
      .schema

  /** The change feed as a Structured Streaming source — the
    * incremental consumer `changes`' window bound points at. Offset =
    * committed snapshot version; each micro-batch serves
    * `changes(prevVersion, newVersion)`, so per-trigger cost is the
    * commits in that window, never the table and never the full
    * history. `startingVersion` = first version whose changes are
    * INCLUDED (1 replays the initial publish as inserts via the
    * synthetic empty v0); default = current+1, i.e. future commits
    * only — on a checkpointed restart the checkpoint's offset wins and
    * the option is ignored. The availability window is snapshot
    * retention, same as the batch API: size `retain_snapshots` /
    * `retain_ms` to the consumer's maximum lag.
    */
  def readChangesStream(name: String,
      startingVersion: Option[Long] = None): DataFrame = {
    val r = spark.readStream
      .format(classOf[graft.streaming.ChangeFeedProvider].getName)
      .option("root", dir)
      .option("table", name)
    startingVersion.fold(r)(v => r.option("startingVersion", v.toString))
      .load()
  }

  /** Snapshot integrity audit (fsck-lite), driver metadata only:
    * the current pointer must resolve to a parseable manifest, every
    * manifest-listed data file must exist, and every referenced
    * version dir should carry its stats sidecar (a sidecar may
    * cover MORE files than the snapshot references — partition-scoped
    * upserts legitimately keep only part of an old version). Returns
    * human-readable issues — empty means healthy. Orphan version dirs are NOT issues (they are the
    * next publish's GC candidates and a crashed writer's normal
    * residue). The check an operator runs after an incident before
    * trusting a table again — O(files) driver work, no data read.
    */
  def fsck(name: String): Seq[String] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val issues = scala.collection.mutable.ListBuffer[String]()
    val (mf, files) =
      try resolveSnapshot(name)
      catch { case e: Exception =>
        return Seq(s"snapshot unresolvable: ${e.getMessage}")
      }
    if (mf.isEmpty && fs.exists(new Path(root, CurrentPtr)))
      issues += "_CURRENT exists but names no manifest"
    files.foreach { f =>
      if (!fs.exists(new Path(root, f))) issues += s"missing data file: $f"
    }
    files.map(FileStats.versionOf).distinct.foreach { v =>
      if (v.nonEmpty && !FileStats.hasSidecars(fs, new Path(root, v)))
        issues += s"version $v has no stats sidecar"
    }
    // deletion-vector lineage: a pointer naming a missing dir means
    // merge-on-read CANNOT resolve (readers throw) — surface it before
    // anyone trusts the table; a vector addressing files outside the
    // snapshot is harmless (anti-join misses) but flags an
    // incomplete carry, so report it too
    mf.foreach { m =>
      pointerStore.read(fs, root, dvPtrName(m)).foreach { d =>
        val dvDir = new Path(root, d)
        if (!fs.exists(dvDir))
          issues += s"DV pointer ${dvPtrName(m)} names missing dir $d"
        else if (!fs.listStatus(dvDir).exists(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet")))
          issues += s"DV dir $d is empty while its pointer is live"
        else {
          // bounded: an anti-join probe, examples only — never a
          // full-vector collect (a mass delete's DV can be large)
          val snapFiles = spark.createDataset(files)(
            org.apache.spark.sql.Encoders.STRING).toDF("_sf")
          val stale = spark.read.schema(Warehouse.dvSchema)
            .parquet(dvDir.toString)
            .select(col("_file")).distinct()
            .join(snapFiles, col("_file") === col("_sf"), "left_anti")
            .limit(3).collect().map(_.getString(0))
          if (stale.nonEmpty)
            issues += s"DV of $m addresses files not in the snapshot " +
              s"(e.g. ${stale.mkString(", ")})"
        }
      }
    }
    issues.toList
  }

  /** Reap orphans WITHOUT waiting for the next commit — the Iceberg
    * remove-orphan-files job as a maintenance op. A table that stops
    * receiving writes keeps its last crashed-writer debris until a
    * commit runs `sweep`; this runs the same sweep now, against the
    * observed current snapshot: retained history, open branches and
    * fresh in-flight work survive, everything else the sweep's rules
    * name goes. Returns what was deleted, for the operator's log.
    */
  def vacuumOrphans(name: String): Seq[String] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    sweep(fs, root, name, currentManifest(fs, root), None)
  }

  /** Small-file / layout health of the current snapshot, answered from
    * driver metadata alone (manifest file list + one FileStatus per
    * file — no data read): file count, byte totals and spread, and how
    * many files sit under `smallBytes`. This is the signal a
    * maintenance scheduler watches to decide when `compact` /
    * `compactZOrder` pays for itself — at 100 TB the small-file count
    * after many streaming micro-batch appends, not the byte total, is
    * what degrades scan planning.
    */
  def tableHealth(name: String,
      smallBytes: Long = 8L * 1024 * 1024): TableHealth = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    // chunked manifests carry commit-time byte sizes per entry: the
    // health probe costs O(chunk parses), ZERO per-file stat RPCs —
    // exactly the surface a maintenance scheduler polls on every
    // table, every few minutes, at 10⁶ files. Size-less entries
    // (older chunks) fall back to a stat; flat manifests keep the
    // original per-file path.
    // flat manifests (and size-less chunk entries) resolve sizes from
    // ONE recursive listing per version dir — a directory LIST, the
    // same primitive the commit path uses — so health on ANY manifest
    // layout costs zero per-file stat RPCs (`fileStatRpcs` pins it);
    // the per-file stat survives only as the legacy-path fallback for
    // files the listing genuinely didn't cover.
    val sized = scala.collection.mutable.Map[String, Map[String, Long]]()
    def sizeOf(f: String): Long = {
      val v = FileStats.versionOf(f)
      val m = sized.getOrElseUpdate(v, {
        val base = if (v.isEmpty) root else new Path(root, v)
        val prefix = if (v.isEmpty) "" else s"$v/"
        sizesUnder(fs, base, prefix)
      })
      m.getOrElse(f, {
        fileStatRpcs += 1
        fs.getFileStatus(new Path(root, f)).getLen
      })
    }
    val (files, sizes) = currentManifest(fs, root)
        .flatMap(m => manifestChunks(fs, new Path(root, m))) match {
      case Some(chunks) =>
        val entries = chunks.flatMap(ch => chunkEntries(fs, root, ch.name))
        (entries.map(_._1), entries.map { case (f, sz) =>
          sz.getOrElse(sizeOf(f))
        })
      case None =>
        val fl = snapshotFiles(name)
        (fl, fl.map(sizeOf))
    }
    val versions = if (fs.exists(root))
      fs.listStatus(root).count(st =>
        st.isDirectory && st.getPath.getName.matches("_v\\d+"))
    else 0
    TableHealth(files.size, sizes.sum,
      if (sizes.isEmpty) 0L else sizes.min,
      if (sizes.isEmpty) 0L else sizes.max,
      sizes.count(_ < smallBytes), versions,
      statsRowCount(name))
  }

  /** Auto-maintenance policy: ONE decision composing the maintenance
    * primitives under the `tableHealth` signal — the scheduled job a
    * streaming-append table needs (each micro-batch publish adds small
    * files the scan pays for forever; see tableHealth's doc). When the
    * current snapshot holds more than `smallFileLimit` files under
    * `smallBytes`, compact to ~`targetFileBytes`-sized files (the
    * compaction's own commit sweeps what it superseded); otherwise touch
    * nothing (idempotent — a second run right after a compaction is a
    * metadata-only no-op, so the scheduler can fire it blindly).
    * Returns (health before, whether compaction ran, health after)
    * for the operator's log. Safe under concurrency: compact is an
    * ordinary publish behind the commit CAS, so racing a live writer
    * aborts the maintenance loudly, never the writer.
    */
  def maintain(name: String, smallFileLimit: Int = 8,
      smallBytes: Long = 8L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024): (TableHealth, Boolean, TableHealth) = {
    val before = tableHealth(name, smallBytes)
    val trigger = before.smallFiles > smallFileLimit
    if (trigger) {
      // compaction is a FULL REWRITE, which legitimately resets the
      // NDV lineage (deletes materialize, files change) — capture
      // which columns HAD sketch coverage so maintenance can restore
      // it afterwards instead of leaving `statsApproxNdv` at None
      // until someone remembers to re-run `buildNdv` by hand
      val root = new Path(tablePath(name))
      val fs = fileSystem(root)
      val covered: Map[String, Int] = currentManifest(fs, root)
        .map(m => ndvCoverage(fs, root, m)).getOrElse(Map.empty)
      val nFiles = math.max(1L,
        (before.totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
      compact(name, nFiles)
      covered.foreach { case (c, p) => buildNdv(name, c, p) }
    }
    (before, trigger, tableHealth(name, smallBytes))
  }

  /** OPTIMIZE ZORDER BY: rewrite the current snapshot z-order-
    * clustered on `cols` (ZOrder.cluster — quantile-bucket Morton
    * interleave) so the footer-stats skipping layer prunes range scans
    * on ANY of them. One snapshot publish: readers keep old-or-new,
    * a racing writer loses the commit CAS loudly, and the fresh
    * version's stats sidecar reflects the new clustering
    * automatically. Unpartitioned layouts only — inside a hive
    * partition the partition column already prunes, and cross-
    * partition z-ordering would break the layout contract.
    */
  def compactZOrder(name: String, cols: Seq[String], numFiles: Int,
      bits: Int = 8): Unit = {
    require(partitionColsOf(name).isEmpty,
      "z-order compaction targets unpartitioned layouts")
    val (mf, files) = resolveSnapshot(name)
    atomicPublish(name,
      ZOrder.cluster(readFilesMor(name, files, mf), cols, numFiles, bits),
      expectedBase = Some(mf), op = "optimize")
  }

  /** Claim a fresh version number by creating its in-flight marker
    * create-no-overwrite: the marker is both the allocation lock (two
    * writers can no longer collide on the same _vN) and the GC shield
    * for the whole write→commit window (see InflightGraceMs).
    */
  private def claimVersion(fs: FileSystem, root: Path): Long = {
    var n = nextVersion(fs, root)
    var claimed = false
    while (!claimed) {
      val marker = new Path(root, s"_inflight_v$n")
      if (fs.exists(new Path(root, s"_v$n")) || fs.exists(marker)) n += 1
      else {
        try { fs.create(marker, false).close(); claimed = true }
        catch { case _: java.io.IOException => n += 1 }
      }
    }
    n
  }

  /** Metadata-only restore (the Delta RESTORE / Iceberg rollback
    * shape): re-commit snapshot `toVersion`'s EXACT file list as a new
    * version — no data file is read, copied, or rewritten, so undoing
    * a bad publish on a 100 TB table costs one manifest write and one
    * pointer CAS. History is preserved (the bad version stays
    * readable until GC ages it out) and the commit goes through the
    * same optimistic CAS as any publish, so a concurrent writer
    * cannot be silently clobbered. Only snapshots GC still retains
    * (current + previous) are restorable — the loud `require`
    * mirrors `readVersion`.
    *
    * Deletion vectors ride the lineage: the restore carries the
    * TARGET snapshot's vector, so deletes applied while it was
    * current stay applied, and deletes that only exist in LATER
    * history are undone with the rest of that history. The same
    * GDPR caveat as Delta/Iceberg follows: a row-level delete is only
    * irreversible once compaction has materialized it AND the
    * pre-delete snapshots have aged out of GC.
    */
  def rollback(name: String, toVersion: Long): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val expected = currentManifest(fs, root)
    require(expected.isDefined, s"table $name has no current snapshot")
    val src = new Path(root, s"_manifest_v$toVersion")
    require(fs.exists(src),
      s"snapshot v$toVersion of $name is not available (GC keeps the " +
      "last `retain_snapshots` versions, default current + previous)")
    // a version staged on an open WAP branch is NOT committed history:
    // restoring it would publish the unaudited branch file list while
    // the branch pointer still lives — and a later abandonBranch would
    // then delete the version dir the CURRENT manifest references,
    // corrupting the table. The audit gate owns that decision
    // (promoteBranch); rollback refuses.
    val staged = branchPointedManifests(fs, root)
      .find(_._2 == src.getName)
    require(staged.isEmpty,
      s"v$toVersion of $name is staged on open branch " +
      s"'${staged.map(_._1.stripPrefix("_BRANCH_")).getOrElse("")}' — " +
      "not committed history; promote or abandon the branch instead")
    // claim a number exactly like a data write — the marker guards the
    // (empty) write→commit window; commitSnapshot releases it. The
    // empty Delta against the RESTORED manifest reuses its chunks by
    // reference: restoring a 10^6-file snapshot writes one header and
    // zero chunk files (metadata-only in the strictest sense).
    val n = claimVersion(fs, root)
    commitSnapshot(name, n, Delta(Some(src.getName), Set.empty, Set.empty, Nil),
      expected, op = "restore")
  }

  // ---- Idempotent (transactional) writes: streaming-sink epochs ------
  //
  // The Delta `txnAppId`/`txnVersion` protocol, manifest-native: a
  // writer that may REPLAY a batch (Structured Streaming re-offers the
  // in-flight micro-batch after a crash, before its own commit log
  // records it) tags the commit with ("appId", epoch). The tag rides
  // the MANIFEST HEADER, so it is atomic with the data — there is no
  // ordering in which the data is visible without its dedup record.
  // A fast-path marker file (`_txn_<sha1(appId)>`, written best-effort
  // AFTER the commit) answers the common restart probe in one small
  // read; the authoritative check walks the retained prev-chain's
  // headers, which covers the marker's crash window (a commit whose
  // marker write was lost is by construction RECENT — within
  // retention). Residual caveat, documented not hidden: if a crash
  // loses the marker write AND `retain_snapshots` foreign commits land
  // before the stream restarts, the label can age out with its
  // manifest; on tables with concurrent foreign writers raise
  // `retain_snapshots` above the plausible downtime commit count.

  /** Pending transaction label ("{epoch}:{appId}") consumed by
    * commitSnapshot — scoped strictly by [[withTxn]]. An instance
    * field rather than a parameter threaded through every commit
    * path: the label is cross-cutting (append, upsert, full publish
    * all take it) and a Warehouse handle is not shared across
    * concurrently-committing streams (each sink constructs its own).
    */
  @volatile private var pendingTxn: Option[String] = None

  private[graft] def withTxn[T](appId: String, epoch: Long)(body: => T): T = {
    require(appId.nonEmpty && !appId.contains('\n'),
      "txn appId must be a non-empty single-line string")
    pendingTxn = Some(s"$epoch:$appId")
    try body finally pendingTxn = None
  }

  private def txnMarkerPath(root: Path, appId: String): Path = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(appId.getBytes("UTF-8")).map("%02x".format(_)).mkString
    new Path(root, s"_txn_${d.take(16)}")
  }

  /** The last epoch committed under `appId`, from the fast-path marker
    * and the retained chain headers (max of both — the marker may lag
    * by exactly one commit after a crash in its write window). None =
    * no commit under this appId is discoverable. O(1) + O(retained
    * manifests) small-file reads, driver-side.
    */
  def lastTxnEpoch(name: String, appId: String): Option[Long] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val marker: Option[Long] = {
      val p = txnMarkerPath(root, appId)
      if (!fs.exists(p)) None
      else readSmallFile(fs, p).split('\t').headOption.flatMap(_.toLongOption)
    }
    // walk committed history newest-first along the prev-chain; the
    // FIRST label for this appId is the latest (versions are totally
    // ordered by the CAS). Stops at genesis, a GC'd parent, or a
    // pre-label manifest.
    var chain: Option[Long] = None
    var walk = currentManifest(fs, root)
    val seen = scala.collection.mutable.Set[String]()
    while (chain.isEmpty && walk.isDefined && seen.add(walk.get)) {
      val v = walk.get match { case ManifestRe(n) => Some(n.toLong); case _ => None }
      chain = v.flatMap(manifestHeaderMeta(name, _, "txn")).flatMap { t =>
        val i = t.indexOf(':')
        if (i > 0 && t.substring(i + 1) == appId) t.take(i).toLongOption
        else None
      }
      walk =
        if (chain.isDefined) None
        else v.flatMap(commitParent(name, _)).filter(p =>
          p != "-" && fs.exists(new Path(root, p)))
    }
    (marker.toSeq ++ chain.toSeq).maxOption
  }

  /** Run `write` (which must commit through this Warehouse handle)
    * exactly once for (`appId`, `epoch`): a replay of an
    * already-committed epoch returns false without touching the
    * table. The epoch must be monotonic per appId (Structured
    * Streaming's batchId contract). Returns true when the write ran.
    */
  def commitIfNewEpoch(name: String, appId: String, epoch: Long)
      (write: => Unit): Boolean = {
    val last = lastTxnEpoch(name, appId)
    if (last.exists(_ >= epoch)) false
    else {
      withTxn(appId, epoch)(write)
      // fast-path marker, best-effort AFTER the commit (temp + rename,
      // same discipline as the change-feed source's initial offset); a
      // crash here is healed by the chain-header check above
      val root = new Path(tablePath(name))
      val fs = fileSystem(root)
      val p = txnMarkerPath(root, appId)
      val tmp = new Path(root, p.getName + ".tmp")
      try {
        val out = fs.create(tmp, true)
        try out.write(s"$epoch\t$appId".getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, p)) { fs.delete(p, false); fs.rename(tmp, p) }
      } catch { case _: java.io.IOException => () }
      true
    }
  }

  // ---- Declarative CHECK constraints (the Delta CHECK shape) ---------

  /** Register a named CHECK constraint: `predicateSql` must hold — or
    * be NULL, the SQL standard's unknown-passes stance — on every row
    * of every future write. EXISTING rows are validated now (one
    * column-pruned scan) and the add refuses loudly with example rows
    * if any violate, the Delta ADD CONSTRAINT contract: a declared
    * constraint is a guarantee about the whole table, not just the
    * rows written after it. The predicate parses at declaration, so a
    * typo fails here, not at the first write.
    */
  def addCheckConstraint(name: String, cname: String,
      predicateSql: String): Unit = {
    require(cname.matches("[A-Za-z0-9_-]+"),
      s"constraint name '$cname' must match [A-Za-z0-9_-]+")
    val pred = org.apache.spark.sql.functions.expr(predicateSql)
    if (exists(name)) {
      val bad = read(name).where(!coalesce(pred, lit(true))).limit(3).collect()
      if (bad.nonEmpty) throw new IllegalStateException(
        s"ADD CONSTRAINT $cname CHECK ($predicateSql) on $name refused: " +
        s"existing rows violate it, e.g. ${bad.mkString("; ")}")
    }
    setTableProp(name, s"constraint_$cname", predicateSql)
  }

  def dropCheckConstraint(name: String, cname: String): Unit =
    setTableProp(name, s"constraint_$cname", "")

  /** The table's declared CHECK constraints, (name, predicateSql),
    * stable order. One props-dir listing — driver metadata.
    */
  def checkConstraints(name: String): Seq[(String, String)] = {
    val d = new Path(dir, s"_PROPS/$name")
    val fs = fileSystem(d)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("constraint_")).sorted
      .flatMap(k => tableProp(name, k).map(k.stripPrefix("constraint_") -> _))
  }

  /** Per-row enforcement, planned INTO the write's own pass: each
    * constraint wraps the batch in a `Filter(CheckInvariant)` — the
    * expression Spark's own DSv2 constraint enforcement plans, which
    * THROWS on a violating row (null passes) instead of filtering it,
    * and which the optimizer will not prune or fold away. No second
    * scan, no extra job: a violating batch fails its write job before
    * the version commits, so the table never holds a row that broke a
    * declared constraint. Applied in [[writeVersion]] — the single
    * funnel every row-adding path (append, publish, upsert rewrite,
    * update, merge, streaming sink) already goes through; DV-only
    * deletes add no rows and carry no check.
    */
  private def constraintGuard(name: String, df: DataFrame): DataFrame =
    checkConstraints(name).foldLeft(df) { case (d, (cn, sql)) =>
      d.filter(org.apache.spark.sql.graft.PlanBridge.columnOf(
        org.apache.spark.sql.catalyst.expressions.CheckInvariant(
          spark.sessionState.sqlParser.parseExpression(sql), Nil, cn, sql)))
    }

  /** Constraint-gated publish (the Delta CHECK-constraint shape on
    * the write side): every named predicate must hold on EVERY row of
    * the batch or the publish is refused loudly — nothing lands, the
    * table's current snapshot is untouched. One aggregation pass
    * counts all violations together (no per-constraint scans), so the
    * gate costs one job however many constraints are declared.
    */
  def publishChecked(name: String, df: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      partitionCols: Seq[String] = Nil): Unit = {
    require(checks.nonEmpty, "publishChecked needs at least one constraint")
    val staged = df.persist()
    try {
      // coalesce each violation counter: on an EMPTY batch sum() is
      // null and getLong would NPE — an empty batch has zero
      // violations and publishes (vacuously valid), it doesn't crash
      val counts = staged.agg(
        count(lit(1)).as("_n"),
        checks.map { case (n, c) =>
          coalesce(sum(when(!coalesce(c, lit(false)), 1L).otherwise(0L)),
            lit(0L)).as(n)
        }: _*).collect()(0)
      val failed = checks.map(_._1).zipWithIndex
        .map { case (n, i) => n -> counts.getLong(i + 1) }
        .filter(_._2 > 0)
      if (failed.nonEmpty)
        throw new IllegalStateException(
          "publish refused: constraint violations " +
          failed.map { case (n, k) => s"$n($k rows)" }.mkString(", "))
      atomicPublish(name, staged, partitionCols)
    } finally staged.unpersist()
  }

  // ---- Deletion vectors: row-level merge-on-read deletes -------------

  /** DV sidecars are VERSIONED and made visible by a pointer flip —
    * the same discipline as the manifest commit, because the naive
    * alternative (write staging, rename over the live sidecar) has a
    * crash window between its two renames in which NO sidecar exists:
    * a read there silently serves deleted rows, and the next
    * `deleteRows` would rebuild from its new hits alone, permanently
    * losing every prior delete. Here each delete writes a fresh
    * `_dv_<mf>_v<k>` dir (never overwritten) and CASes the
    * `_DVPTR_<mf>` pointer — readers resolve pointer → dir, so they
    * see the old vector or the new one, never none and never a
    * partial write; a crash before the flip leaves only an invisible
    * orphan dir, reaped by the next successful flip's one-grace GC.
    * Concurrent `deleteRows` calls are serialized by the CAS: the
    * loser cleans up its staged dir and aborts loudly for retry.
    */
  private def dvPtrName(mfName: String) = s"_DVPTR_$mfName"
  /** UUID-suffixed, never versioned-numbered: two racing deletes can
    * never collide on a staged dir name, so a crashed writer's orphan
    * can never block a retry. The CAS on the pointer is the only
    * arbiter; orphan dirs are reaped age-gated (a LIVE racer's
    * seconds-old staging must never be deleted — the tiny window
    * where a racer stages against the fresh pointer while the
    * winner's GC sweeps would otherwise let a successful CAS point at
    * a deleted dir).
    */
  private def newDvDirName(mfName: String) =
    s"_dv_${mfName}_${java.util.UUID.randomUUID().toString.take(8)}"
  private val DvDirRe = "_dv_(_manifest_v\\d+)_([0-9a-f]{8})".r
  private val DvPtrRe = "_DVPTR_(_manifest_v\\d+)".r

  /** STRICT vector load: a pointer names this dir, so deletes exist —
    * a vanished OR EMPTY dir is never "no deletes", it's a reader
    * racing snapshot GC (`fs.delete` recurses child-first, so a racer
    * can observe an existing-but-childless dir; Spark reads that as an
    * empty frame, which here would silently RESURRECT deleted rows in
    * the read — permanently, when the read feeds a merge. Found by the
    * round-12 multi-process fuzz; the hook-injected races never
    * produced the half-deleted dir). Listing the part files ourselves
    * turns both shapes into a loud, retryable failure; the op-level
    * retry re-reads the fresh snapshot.
    */
  private def loadDv(fs: FileSystem, d: Path): DataFrame = {
    val parts = (try fs.listStatus(d).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (parts.isEmpty)
      throw new java.io.IOException(
        s"deletion vector $d is missing or empty while its pointer is " +
        "live — a concurrent publish GC'd this snapshot mid-read; " +
        "re-read the table and retry")
    // DV files have one fixed shape — the explicit schema skips the
    // footer-inference job every DV-aware read would otherwise pay
    spark.read.schema(Warehouse.dvSchema)
      .parquet(parts.map(_.getPath.toString): _*)
  }

  /** DV entries of `d` that survive a delta's removals — the same
    * file-drop rule `buildManifest` applies to the base list
    * (removedPartitions match on the partition-relative dir,
    * removedFiles on the full path), expressed over the vector's
    * `_file` column. Entries of removed files are dropped WITH their
    * files: those partitions are rewritten from a DV-subtracted scan,
    * so the delete is materialized there, not carried.
    */
  private def dvSurvivors(d: Path, removedPartitions: Set[String],
      removedFiles: Set[String]): DataFrame = {
    val root = d.getParent
    val dels = loadDv(fileSystem(root), d)
    if (removedPartitions.isEmpty && removedFiles.isEmpty) dels
    else {
      val noV = regexp_replace(col("_file"), "^_v[0-9]+/", "")
      val partRel = regexp_extract(noV, "^(.*)/[^/]*$", 1)
      val conds = Seq(
        if (removedPartitions.isEmpty) None
        else Some(!partRel.isin(removedPartitions.toSeq: _*)),
        if (removedFiles.isEmpty) None
        else Some(!col("_file").isin(removedFiles.toSeq: _*))).flatten
      dels.filter(conds.reduce(_ && _))
    }
  }

  /** Stage base manifest `from`'s DV under `newMf`'s lineage: a pure
    * ADD delta (append/rollback/promote — no removals) byte-copies the
    * vector dir (no Spark job on the commit path); a removing delta
    * (scoped upsert) filters to the survivors. Returns the staged dir
    * name; the CALLER flips `_DVPTR_<newMf>` and owns cleanup on
    * abort.
    */
  private def stageDvCarry(fs: FileSystem, root: Path, from: Path,
      newMf: String, removedPartitions: Set[String],
      removedFiles: Set[String]): String = {
    val next = new Path(root, newDvDirName(newMf))
    if (removedPartitions.isEmpty && removedFiles.isEmpty) {
      org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, next,
        false, spark.sparkContext.hadoopConfiguration)
      // the copy races the same GC window loadDv guards reads against:
      // copying a half-deleted source yields an empty staged dir whose
      // pointer would then LOUDLY poison every later read of this
      // lineage. Verify the staged vector is non-empty; aborting here
      // makes the commit retry against the fresh snapshot instead.
      val ok = try fs.listStatus(next).exists(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
        catch { case _: java.io.FileNotFoundException => false }
      if (!ok) {
        fs.delete(next, true)
        throw new java.io.IOException(
          s"DV carry source $from vanished mid-copy (concurrent GC) — " +
          "aborting this commit; retry re-reads the fresh snapshot")
      }
    } else
      dvSurvivors(from, removedPartitions, removedFiles)
        .coalesce(1).write.mode(SaveMode.ErrorIfExists).parquet(next.toString)
    next.getName
  }

  /** Current DV dir for a manifest, resolved through the pointer. */
  private def currentDv(fs: FileSystem, root: Path,
      mfName: String): Option[Path] =
    pointerStore.read(fs, root, dvPtrName(mfName)).map { d =>
      val p = new Path(root, d)
      if (!fs.exists(p))
        // under concurrency this is a READER RACING GC (a commit's
        // sweep deletes a superseded lineage's dir and pointer as two
        // separate entries; a reader holding the stale manifest can
        // observe the half-swept state) — retryable, same class as a
        // reaped data file. Only if it persists on a quiet table is it
        // real corruption (then: republish to reset the DV lineage).
        throw new java.io.IOException(
          s"DV pointer ${dvPtrName(mfName)} names $d but the dir is " +
          "gone — snapshot GC'd mid-read; re-read the table and retry")
      p
    }


  /** Test seam: fires after `deleteRows` resolves its target manifest
    * and expected vector, before it stages — the window a concurrent
    * commit's carry-forward can race (LayoutSpec injects one here and
    * pins the loud failure).
    */
  private[graft] var dvTestHook: String => Unit = _ => ()

  /** Test seam: fires after `upsert` captures its base snapshot,
    * before the merge reads it — the read-modify-write window whose
    * strictness the captured-base CAS enforces (LayoutSpec injects a
    * commit here and pins the loud abort).
    */
  private[graft] var upsertTestHook: String => Unit = _ => ()

  /** Row-level DELETE without rewriting a single data file (the
    * Delta/Iceberg-v2 deletion-vector shape): rows matching `cond`
    * are recorded as (file, row-position) pairs in a sidecar, and
    * every read surface subtracts them at scan time (merge-on-read).
    * Since round 12 a delete IS a COMMIT: the merged vector rides a
    * NEW manifest (chunk-reuse metadata write — O(header), no data
    * file touched) made current by the same pointer CAS as every
    * other commit, so one arbiter orders deletes against appends,
    * upserts, compactions and other deletes, and each version's
    * vector is immutable (time travel sees deletes as of each
    * version). Repeated calls accumulate (union + distinct). Cost ∝
    * one scan to find positions + a sidecar write sized by the
    * deleted rows — deleting 100 rows from a 100 TB table rewrites
    * nothing. A full rewrite materializes the deletes and resets the
    * lineage (the compaction that does so is `compact` over the
    * MOR read).
    */
  def deleteRows(name: String, cond: org.apache.spark.sql.Column): Long =
    deleteRowsCore(name, _.filter(cond))

  /** `deleteRows` with the hit set given as a KEY FRAME instead of a
    * predicate — the `DELETE ... WHERE k IN (<subquery>)` / correlated
    * `EXISTS` shape after decorrelation: hits are the raw scan
    * semi-joined to `keys` on `keyCols`. Same DV-as-commit cost model
    * (O(hits) sidecar + O(header) manifest delta, never a rewrite) —
    * deleting 100 keys from a 100 TB table stays a metadata-sized
    * commit, where the anti-join rewrite would copy the table.
    */
  def deleteRowsKeyed(name: String, keys: DataFrame,
      keyCols: Seq[String]): Long =
    deleteRowsCore(name,
      _.join(keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi"))

  private def deleteRowsCore(name: String,
      hitFilter: DataFrame => DataFrame): Long = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    // A row-level delete IS a snapshot commit (the Iceberg/Delta
    // model, adopted in round 12): the merged vector is staged under a
    // NEW manifest that reuses the base's chunks by reference — an
    // O(header) metadata write — and made current by the same pointer
    // CAS as every other commit. ONE arbiter means a delete can never
    // slip inside another writer's read→publish window and be silently
    // dropped: the loser of the CAS aborts loudly and retries. It also
    // makes each lineage's vector IMMUTABLE (time travel now sees the
    // deletes exactly as of each version) and removes every
    // mutable-DVPTR race the old protocol had to patch one by one —
    // the round-12 multi-process fuzz caught the unclosable remnant
    // (a scoped upsert's carry filter dropping a racing delete's
    // entries for files it rewrote from a pre-delete read).
    val (mfCap, filesCap) = resolveSnapshot(name)
    val mf = mfCap.getOrElse(
      throw new IllegalArgumentException(s"no current snapshot for $name"))
    val expected = pointerStore.read(fs, root, dvPtrName(mf))
    dvTestHook(name)
    // RAW scan (no DV subtraction) over the CAPTURED file list: hits
    // on already-deleted rows are harmless — they dedup in the union.
    val hits = hitFilter(readFiles(name, filesCap, withPos = true))
      .select(col("_file"), col("_pos"))
    val merged = expected match {
      case Some(d) =>
        // strict: silently merging over a half-GC'd (empty-read) prior
        // vector would drop every earlier delete from the lineage
        loadDv(fs, new Path(root, d)).unionByName(hits).distinct()
      case None => hits.distinct()
    }
    val n = claimVersion(fs, root)
    commitSnapshot(name, n, Delta(Some(mf), Set.empty, Set.empty, Nil),
      Some(mf), dvReplace = Some(merged), op = "delete")
    // the committed vector's size — from the tiny written file's
    // FOOTER (driver-side metadata read), never a recompute of the
    // hits scan and no count job either
    currentDv(fs, root, s"_manifest_v$n")
      .map(d => Warehouse.footerRowCount(fs, d)).getOrElse(0L)
  }

  /** Test seam: fires after `updateRows` captures its base snapshot,
    * before it scans — the read-modify-write window whose strictness
    * the captured-base CAS enforces (the spec injects a commit here
    * and pins the loud abort).
    */
  private[graft] var updateTestHook: String => Unit = _ => ()

  /** Row-level UPDATE as ONE atomic commit (the SQL `UPDATE ... SET
    * ... WHERE ...` surface): the live rows matching `cond` are
    * rewritten with `assignments` applied into a NEW version dir,
    * while their OLD physical positions join the deletion vector —
    * both staged under a single manifest made current by the same
    * pointer CAS as every commit. Cost ∝ one scan for the hits plus a
    * write sized by the UPDATED rows, never the table: updating 100
    * rows of a 100 TB table writes one small file and an O(header)
    * manifest delta. A reader sees the pre-update or post-update
    * snapshot, never a mix (contrast a delete-then-append pair, whose
    * middle state loses the rows). Returns the number of rows
    * updated. Assignments may reference any data column (including
    * moving a row across partitions — the manifest lists files
    * explicitly, so the new file's layout placement is free to
    * differ).
    */
  def updateRows(name: String, cond: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long =
    updateRowsCore(name, _.filter(cond), assignments)

  /** `updateRows` with the hit set given as a KEY FRAME instead of a
    * predicate — the `UPDATE ... WHERE k IN (<subquery>)` shape: hits
    * are the raw scan semi-joined to `keys` on `keyCols`. Same one-
    * commit atomicity and cost model (∝ matching rows).
    */
  def updateRowsKeyed(name: String, keys: DataFrame, keyCols: Seq[String],
      assignments: Map[String, org.apache.spark.sql.Column]): Long =
    updateRowsCore(name,
      _.join(keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi"),
      assignments)

  private def updateRowsCore(name: String,
      hitFilter: DataFrame => DataFrame,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val (mfCap, filesCap) = resolveSnapshot(name)
    updateTestHook(name)
    val mf = mfCap.getOrElse(
      throw new IllegalArgumentException(s"no current snapshot for $name"))
    val expected = pointerStore.read(fs, root, dvPtrName(mf))
    val raw = readFiles(name, filesCap, withPos = true)
    val dv = expected.map(d => loadDv(fs, new Path(root, d)))
    // live hits only: a row already in the deletion vector must NOT be
    // resurrected as an updated copy — subtract the vector before the
    // rewrite, exactly the merge-on-read discipline
    val hits = (dv match {
      case None => hitFilter(raw)
      case Some(d) =>
        val dels = d.select(col("_file").as("_dfile"), col("_pos").as("_dpos"))
        hitFilter(raw)
          .join(broadcast(dels),
            col("_file") === col("_dfile") && col("_pos") === col("_dpos"),
            "left_anti")
    }).persist()
    try {
      val nHits = hits.count()
      if (nHits == 0) return 0L // nothing to update — no commit
      val dataCols = raw.columns.filterNot(Set("_file", "_pos"))
      assignments.keys.foreach(k => require(dataCols.contains(k),
        s"updateRows($name): no such column '$k'"))
      val rewritten = hits.select(dataCols.map { c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))
      }.toSeq: _*)
      val parts = partitionColsFrom(snapshotHeadFile(name))
      val positions = hits.select(col("_file"), col("_pos"))
      val merged = dv match {
        case Some(d) => d.select(col("_file"), col("_pos"))
          .unionByName(positions).distinct()
        case None => positions.distinct()
      }
      val (n, added) = writeVersion(name, rewritten, parts)
      commitSnapshot(name, n, Delta(Some(mf), Set.empty, Set.empty, added),
        Some(mf), dvReplace = Some(merged), op = "update")
      nHits
    } finally { hits.unpersist(); () }
  }

  /** Test seam: fires after `mergeRows` captures its base snapshot,
    * before it scans — same contract as `updateTestHook`.
    */
  private[graft] var mergeTestHook: String => Unit = _ => ()

  /** Full-fidelity MERGE as ONE atomic merge-on-read commit — the
    * general form behind the SQL `MERGE INTO` surface (conditional
    * matched/not-matched actions, partial-assignment `UPDATE SET col =
    * expr`, `WHEN NOT MATCHED BY SOURCE`), Delta's row-level-operation
    * model re-expressed on the warehouse's own primitives: touched
    * target rows' OLD physical positions join the deletion vector
    * while their rewritten copies (plus the applied inserts) land in a
    * NEW version dir, both staged under a single manifest made current
    * by the same pointer CAS as every commit. Cost ∝ TOUCHED rows —
    * matched pairs found by one equi-join on the ON keys (shuffle
    * keyed, broadcast-able when the source is small), untouched rows
    * never rewritten — so merging 100 rows into a 100 TB table writes
    * one small file and an O(header) manifest delta.
    *
    * Contract with clause expressions: TARGET columns by bare name,
    * SOURCE columns under the `_src_` prefix (the joined frame names
    * them so; [[graft.plans.CatalogDmlRule]] rewrites the analyzed SQL
    * expressions accordingly). Per SQL semantics: clauses apply
    * first-match-wins in declaration order; a matched pair where no
    * clause condition holds leaves the row untouched; a target row
    * matched by MORE than one source row fails loudly (the standard's
    * cardinality violation — silent nondeterminism otherwise); ON-key
    * nulls never match (insert path for null-keyed source rows).
    * Assignment values cast to the target column's type (store-
    * assignment policy); insert clauses null-fill unassigned columns.
    *
    * `evolveCols` (MERGE WITH SCHEMA EVOLUTION): extra columns
    * appended to the written schema — new files carry them, pre-merge
    * files null-fill through the by-name snapshot union, no metadata
    * action needed (the read schema widens with the commit, exactly
    * `appendEvolved`'s rule).
    *
    * Returns (updated, deleted, inserted) row counts.
    */
  def mergeRows(name: String, source: DataFrame,
      keyPairs: Seq[(String, String)],
      matched: Seq[Warehouse.MergeClause],
      notMatched: Seq[Warehouse.MergeInsertClause],
      notMatchedBySource: Seq[Warehouse.MergeClause],
      evolveCols: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : (Long, Long, Long) = {
    import Warehouse.{MergeClause, MergeDeleteClause, MergeInsertClause, MergeUpdateClause}
    require(keyPairs.nonEmpty, "mergeRows needs at least one ON key pair")
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val (mfCap, filesCap) = resolveSnapshot(name)
    mergeTestHook(name)
    val mf = mfCap.getOrElse(
      throw new IllegalArgumentException(s"no current snapshot for $name"))
    val expected = pointerStore.read(fs, root, dvPtrName(mf))
    val raw = readFiles(name, filesCap, withPos = true)
    val dv = expected.map(d => loadDv(fs, new Path(root, d)))
    val live0 = dv match {
      case None => raw
      case Some(d) =>
        val dels = d.select(col("_file").as("_dfile"), col("_pos").as("_dpos"))
        raw.join(broadcast(dels),
          col("_file") === col("_dfile") && col("_pos") === col("_dpos"),
          "left_anti")
    }
    // honor the catalog's METADATA schema, same as GraftTable.snapshot:
    // dropped columns projected away (their bytes must not be carried
    // into rewritten rows), prop-added columns null-filled so clause
    // conditions/assignments can reference them before any write
    // materialized them — this is what makes the SQL analyzer's
    // schema-evolution ALTER (a metadata action during analysis)
    // visible to the merge that triggered it
    val dropped = tableProp(name, "dropped_cols")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val propAdded = tableProp(name, "added_cols")
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .map(_.fields.toSeq).getOrElse(Nil)
      .filterNot(f => raw.columns.contains(f.name))
    val live = propAdded.foldLeft(
        if (dropped.nonEmpty) live0.drop(dropped: _*) else live0)(
      (d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val dataCols = live.columns.filterNot(Set("_file", "_pos")).toSeq
    require(dataCols.forall(!_.startsWith("_src_")),
      s"mergeRows($name): target columns must not start with '_src_'")
    evolveCols.foreach(f => require(!dataCols.contains(f.name),
      s"mergeRows($name): evolve column '${f.name}' already exists"))
    val outCols = dataCols ++ evolveCols.map(_.name)
    val outType: Map[String, org.apache.spark.sql.types.DataType] =
      (raw.schema.fields.map(f => f.name -> f.dataType) ++
        propAdded.map(f => f.name -> f.dataType) ++
        evolveCols.map(f => f.name -> f.dataType)).toMap
    val src = source.columns.foldLeft(source)((d, c) =>
      d.withColumnRenamed(c, s"_src_$c"))
    val joinCond = keyPairs.map { case (tk, sk) =>
      col(tk) === col(s"_src_$sk") }.reduce(_ && _)
    // first-match-wins CASE chain over the clause conditions; null
    // (no clause applies) = row untouched, exactly SQL's stance
    def actionIdx(conds: Seq[Option[org.apache.spark.sql.Column]])
        : org.apache.spark.sql.Column =
      conds.zipWithIndex.foldRight(
          lit(null).cast(org.apache.spark.sql.types.IntegerType)
            : org.apache.spark.sql.Column) {
        case ((c, i), els) => when(c.getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    def clauseCond(c: MergeClause) = c match {
      case MergeUpdateClause(cond, _) => cond
      case MergeDeleteClause(cond)    => cond
    }
    // a rewritten/inserted row, projected to the OUT schema in target
    // column order, assignment values cast to the target type
    def project(df: DataFrame, assigns: Map[String, org.apache.spark.sql.Column],
        default: String => org.apache.spark.sql.Column): DataFrame =
      df.select(outCols.map { c =>
        assigns.get(c).map(_.cast(outType(c))).getOrElse(default(c)).as(c)
      }: _*)
    val nullDefault: String => org.apache.spark.sql.Column =
      c => lit(null).cast(outType(c))
    val keepDefault: String => org.apache.spark.sql.Column =
      c => (if (dataCols.contains(c)) col(c) else lit(null)).cast(outType(c))

    // ---- matched pairs ------------------------------------------------
    val (matchedPos, matchedRows, nUpd0, nDelM) = if (matched.isEmpty)
      (None, Nil, 0L, 0L)
    else {
      val pairs = live.join(src, joinCond, "inner")
        .withColumn("_act", actionIdx(matched.map(clauseCond)))
        .filter(col("_act").isNotNull).persist()
      val updIdx = matched.zipWithIndex.collect {
        case (_: MergeUpdateClause, i) => i }.toSet
      // ONE audit pass over the persisted pairs answers all three
      // questions the old code ran three jobs for: total matched rows,
      // update-action rows, and the SQL cardinality rule (>1 source
      // row per target row is loud) via the per-position max
      val isUpd = if (updIdx.isEmpty) lit(0L)
        else when(col("_act").isin(updIdx.toSeq: _*), 1L).otherwise(0L)
      val audit = pairs.groupBy(col("_file"), col("_pos"))
        .agg(count(lit(1)).as("_n"), sum(isUpd).as("_nu"))
        .agg(coalesce(sum(col("_n")), lit(0L)),
          coalesce(sum(col("_nu")), lit(0L)),
          coalesce(max(col("_n")), lit(0L))).head()
      if (audit.getLong(2) > 1) {
        pairs.unpersist()
        throw new IllegalStateException(
          s"mergeRows($name): a target row matched more than one source " +
          "row — MERGE cardinality violation; dedup the source on the ON " +
          "keys or tighten the ON condition")
      }
      val rows = matched.zipWithIndex.collect {
        case (MergeUpdateClause(_, assigns), i) =>
          project(pairs.filter(col("_act") === i), assigns, keepDefault)
      }
      val nU = audit.getLong(1)
      val nD = audit.getLong(0) - nU
      (Some(pairs), rows, nU, nD)
    }

    // ---- target rows not matched by source ---------------------------
    val (nmbsPos, nmbsRows, nUpd1, nDelS) = if (notMatchedBySource.isEmpty)
      (None, Nil, 0L, 0L)
    else {
      val srcKeys = src.select(keyPairs.map(p => col(s"_src_${p._2}")): _*)
        .distinct()
      val rows0 = live.join(srcKeys, joinCond, "left_anti")
        .withColumn("_act", actionIdx(notMatchedBySource.map(clauseCond)))
        .filter(col("_act").isNotNull).persist()
      val rows = notMatchedBySource.zipWithIndex.collect {
        case (MergeUpdateClause(_, assigns), i) =>
          project(rows0.filter(col("_act") === i), assigns, keepDefault)
      }
      val updIdx = notMatchedBySource.zipWithIndex.collect {
        case (_: MergeUpdateClause, i) => i }.toSet
      // one audit pass for both counters (was two jobs)
      val isUpd = if (updIdx.isEmpty) lit(0L)
        else when(col("_act").isin(updIdx.toSeq: _*), 1L).otherwise(0L)
      val a = rows0.agg(count(lit(1)), coalesce(sum(isUpd), lit(0L))).head()
      val nU = a.getLong(1)
      val nD = a.getLong(0) - nU
      (Some(rows0), rows, nU, nD)
    }

    // ---- source rows not matched (inserts) ---------------------------
    val (insFrame, insRows, nIns) = if (notMatched.isEmpty) (None, Nil, 0L)
    else {
      val liveKeys = live.select(keyPairs.map(p => col(p._1)): _*).distinct()
      val fresh = src.join(liveKeys, joinCond, "left_anti")
        .withColumn("_act", actionIdx(notMatched.map(_.condition)))
        .filter(col("_act").isNotNull).persist()
      val rows = notMatched.zipWithIndex.map { case (cl, i) =>
        project(fresh.filter(col("_act") === i), cl.assigns, nullDefault)
      }
      (Some(fresh), rows, fresh.count())
    }

    try {
      val positions = (matchedPos.toSeq ++ nmbsPos.toSeq)
        .map(_.select(col("_file"), col("_pos")))
        .reduceOption(_.unionByName(_)).map(_.distinct())
      val newRows = (matchedRows ++ nmbsRows ++ insRows)
        .reduceOption(_.unionByName(_))
      val touched = nUpd0 + nDelM + nUpd1 + nDelS
      if (touched == 0 && nIns == 0) return (0L, 0L, 0L) // no-op, no commit
      // declared layout (catalog `partition_cols` prop) wins over the
      // head file's physical inference: a merge into a still-empty
      // partitioned table must establish the declared hive layout,
      // not perpetuate the CREATE-time flat zero-row vintage
      val parts = tableProp(name, "partition_cols")
        .map(_.split(',').toSeq.filter(_.nonEmpty))
        .getOrElse(partitionColsFrom(snapshotHeadFile(name)))
        .filter(outCols.contains)
      // DV replacement only when target positions were touched; an
      // insert-only outcome passes None and the commit's carry-forward
      // keeps the base lineage's vector (no empty-vector debris)
      val dvRep = if (touched > 0) Some {
        val pos = positions.getOrElse(
          spark.emptyDataFrame.select(lit("").as("_file"), lit(0L).as("_pos"))
            .limit(0))
        dv match {
          case Some(d) => d.select(col("_file"), col("_pos"))
            .unionByName(pos).distinct()
          case None => pos.distinct()
        }
      } else None
      newRows match {
        case Some(rows) if nUpd0 + nUpd1 + nIns > 0 =>
          val (n, added) = writeVersion(name, rows, parts)
          commitSnapshot(name, n, Delta(Some(mf), Set.empty, Set.empty, added),
            Some(mf), dvReplace = dvRep, op = "merge")
        case _ =>
          // delete-only outcome: a DV commit, no data files written
          val n = claimVersion(fs, root)
          commitSnapshot(name, n, Delta(Some(mf), Set.empty, Set.empty, Nil),
            Some(mf), dvReplace = dvRep, op = "merge")
      }
      (nUpd0 + nUpd1, nDelM + nDelS, nIns)
    } finally {
      matchedPos.foreach(_.unpersist())
      nmbsPos.foreach(_.unpersist())
      insFrame.foreach(_.unpersist())
    }
  }

  /** DESCRIBE HISTORY, metadata-only: every still-retained COMMITTED
    * manifest version with its file count and EXACT row count — file
    * lists from the manifests, row counts summed from the row
    * sidecars (the m25 metadata surface), zero data files opened.
    * "Committed" is load-bearing: manifests staged on an open WAP
    * branch, and any manifest numbered ABOVE the current pointer
    * (a not-yet-current or aborted commit's debris), are NOT history —
    * without the exclusion a caller taking `lastOption` as "current"
    * would read an invisible staged snapshot's stats. Rows are None
    * when any file lacks a sidecar entry (an unknown count is a flag,
    * never a number that could partially cancel into a plausible
    * total). O(versions × sidecar lines) driver work at any table
    * size.
    */
  def history(name: String): Seq[(Long, Long, Option[Long])] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    if (!fs.exists(root)) return Nil
    val staged = branchPointedManifests(fs, root).values.toSet
    val curV = currentManifest(fs, root)
      .collect { case ManifestRe(v) => v.toLong }
    val mfs = fs.listStatus(root).map(_.getPath.getName)
      .collect { case m @ ManifestRe(v) => (v.toLong, m) }.toSeq
      .filter { case (v, m) =>
        !staged.contains(m) && curV.forall(v <= _)
      }.sortBy(_._1)
    val side = new FileStats.Sidecars(fs, root)
    mfs.map { case (v, m) =>
      manifestChunks(fs, new Path(root, m)) match {
        case Some(chunks) =>
          // chunked: the ledger row comes straight from the header —
          // O(chunks), no chunk file (let alone sidecar) opened
          val rows = if (chunks.exists(_.rowSum < 0)) None
            else Some(chunks.map(_.rowSum).sum)
          (v, chunks.map(_.nFiles.toLong).sum, rows)
        case None =>
          val files = readManifest(fs, new Path(root, m))
          val rs = side.rows(files)
          val rows = if (files.forall(rs.contains))
            Some(files.map(rs(_).numRows).sum) else None
          (v, files.size.toLong, rows)
      }
    }
  }

  /** `TIMESTAMP AS OF` resolution: the latest COMMITTED, still-retained
    * version whose commit time is at or before `tsMillis`. Commit time
    * is SELF-CONTAINED where available — the `ts` header label every
    * commit since round 18 writes into its manifest — so a warehouse
    * restored by rsync/copy or migrated between object stores resolves
    * identically (mtimes are rewritten by such moves; the header
    * survives byte-for-byte). Pre-label manifests fall back to the
    * Delta/Iceberg mtime convention, GUARDED: if the per-version
    * commit times are non-monotonic in version order — the signature
    * of a perturbed restore — resolution fails loudly instead of
    * silently picking a wrong version (the caller can still use
    * `VERSION AS OF`, which never consults clocks). None = every
    * retained commit is newer than the asked instant; the caller fails
    * loudly, same contract as a GC'd `VERSION AS OF`. O(retained
    * versions) driver metadata.
    */
  def versionAtTimestamp(name: String, tsMillis: Long): Option[Long] = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val times = history(name).map(_._1).sorted.flatMap { v =>
      val mf = new Path(root, s"_manifest_v$v")
      if (!fs.exists(mf)) None
      else Some(v -> manifestHeaderMeta(name, v, "ts").flatMap(_.toLongOption)
        .getOrElse(fs.getFileStatus(mf).getModificationTime))
    }
    times.sliding(2).foreach {
      case Seq((v1, t1), (v2, t2)) if t2 < t1 =>
        throw new IllegalStateException(
          s"TIMESTAMP AS OF on $name: commit times are not monotonic in " +
          s"version order (v$v1 at $t1 > v$v2 at $t2) — the warehouse was " +
          "likely restored by a copy that rewrote file mtimes; use " +
          "VERSION AS OF, or rewrite history under ts-labeled commits")
      case _ => ()
    }
    times.filter(_._2 <= tsMillis).map(_._1).maxOption
  }

  // ---- Write-audit-publish branches ----------------------------------

  private def branchPtrPath(root: Path, branch: String) =
    new Path(root, s"_BRANCH_$branch")

  /** Keep the last `n` snapshots alive through GC (default 2 =
    * current + previous): every retained version stays readable via
    * `readVersion` and restorable via `rollback`, its deletion-vector
    * lineage included. Retention multiplies METADATA kept (manifests,
    * chunk refs) and pins superseded data files until they age out of
    * the window — the storage-for-history trade every lakehouse
    * retention knob makes.
    */
  def setSnapshotRetention(name: String, n: Int): Unit = {
    require(n >= 2, "retention below current+previous would break " +
      "in-flight readers (the one-publish grace)")
    setTableProp(name, "retain_snapshots", n.toString)
  }

  /** Time-based retention companion to `setSnapshotRetention`: every
    * committed snapshot younger than `ms` stays alive through GC, in
    * UNION with the count knob (keep-set = newest `retain_snapshots`
    * ∪ the wall-clock window). `ms <= 0` clears the time knob; the
    * count floor (current + previous) always holds regardless.
    */
  def setSnapshotRetentionMs(name: String, ms: Long): Unit =
    setTableProp(name, "retain_ms", if (ms > 0) ms.toString else "")

  /** Every open branch pointer under `root`: {pointer file name →
    * manifest name it stages}. `history` and `rollback` consult it so
    * a staged snapshot is never listed as history or restored as if
    * committed; `sweep` reads the same pointers from its own listing.
    */
  private def branchPointedManifests(fs: FileSystem,
      root: Path): Map[String, String] =
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_BRANCH_"))
      .map(b => b -> readBranchPtr(fs, root, b.stripPrefix("_BRANCH_")))
      .toMap

  private def readBranchPtr(fs: FileSystem, root: Path,
      branch: String): String = {
    val ptr = branchPtrPath(root, branch)
    require(fs.exists(ptr), s"no branch '$branch' here")
    val in = fs.open(ptr)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Pointer → existing manifest path, loudly: a dangling pointer
    * (pre-shield GC debris) gets a diagnosis instead of a raw
    * FileNotFoundException from the manifest open.
    */
  private def branchManifestPath(fs: FileSystem, root: Path,
      branch: String): Path = {
    val mfName = readBranchPtr(fs, root, branch)
    val mf = new Path(root, mfName)
    require(fs.exists(mf),
      s"branch '$branch' points at $mfName which no longer exists — " +
      "dangling pointer (pre-shield GC debris); run vacuumOrphans to " +
      "clean it up, then re-stage the branch")
    mf
  }

  private def branchVersionOf(mfName: String): Long = mfName match {
    case ManifestRe(v) => v.toLong
    case other => throw new IllegalStateException(
      s"branch pointer names a non-manifest file: $other")
  }

  /** Stage a snapshot on a named BRANCH (the Iceberg write-audit-
    * publish pattern): a full version write + manifest, but the
    * `_CURRENT` pointer is untouched — table readers see NOTHING
    * until `promoteBranch`. The `_BRANCH_` POINTER is the GC shield:
    * `sweep` (every commit's, and `vacuumOrphans`) keeps a pointed
    * manifest and its version dir alive for as long as the pointer
    * exists, however old — only `promoteBranch`/`abandonBranch`
    * release it (the staged version's in-flight marker also shields
    * the write window itself). The branch
    * pointer is last-write-wins: one owner per branch name is the
    * contract (an audit gate is single-writer by construction).
    * Branching requires an existing current snapshot to fork from.
    */
  def publishBranch(name: String, branch: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    require(currentManifest(fs, root).isDefined,
      s"branching requires a current snapshot on $name")
    val (n, files) = writeVersion(name, df, partitionCols)
    val content = buildManifest(fs, root, n, FullList(files)).content
    val mf = new Path(root, s"_manifest_v$n")
    val out = fs.create(mf, false)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    val ptr = fs.create(branchPtrPath(root, branch), true)
    try ptr.write(mf.getName.getBytes("UTF-8")) finally ptr.close()
  }

  /** Read a staged branch — the audit side of WAP. Also reachable by
    * version through `readVersion`/`diffVersions`, so an audit can
    * diff the branch against current before deciding.
    */
  def readBranch(name: String, branch: String): DataFrame = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    readFiles(name, readManifest(fs, branchManifestPath(fs, root, branch)))
  }

  /** Promote a staged branch to the table's current snapshot:
    * metadata-only (the rollback shape — a fresh manifest referencing
    * the branch's EXACT files, committed through the same optimistic
    * CAS as any publish), then the branch pointer and its GC shield
    * are released. Snapshot-level semantics: the branch wholesale
    * becomes the table, regardless of main-line publishes since the
    * branch was cut — the audit gate owns that decision. That replace
    * contract extends to deletion vectors: the promote carries the
    * BRANCH lineage's vector (a branch staged via `publishBranch` has
    * none — full writes reset the lineage), and any `deleteRows`
    * applied to MAIN while the branch was open is superseded along
    * with the rest of the main-line state it deleted from.
    */
  def promoteBranch(name: String, branch: String): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val mf = branchManifestPath(fs, root, branch)
    val bv = branchVersionOf(mf.getName)
    // empty Delta against the BRANCH manifest: its chunks are reused
    // by reference — promotion is one header write + the pointer CAS
    val n = claimVersion(fs, root)
    commitSnapshot(name, n, Delta(Some(mf.getName), Set.empty, Set.empty, Nil),
      currentManifest(fs, root))
    fs.delete(new Path(root, s"_inflight_v$bv"), false)
    fs.delete(branchPtrPath(root, branch), false)
  }

  /** Drop a staged branch without publishing: version dir, manifest,
    * GC shield, and pointer all removed — the audit said no.
    */
  def abandonBranch(name: String, branch: String): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val mfName = readBranchPtr(fs, root, branch)
    val bv = branchVersionOf(mfName)
    fs.delete(new Path(root, mfName), false)
    fs.delete(new Path(root, s"_v$bv"), true)
    fs.delete(new Path(root, s"_inflight_v$bv"), false)
    fs.delete(branchPtrPath(root, branch), false)
  }

  /** Write `df` into a fresh `_vN` dir and return (n, its files).
    *
    * Commit concurrency contract: OPTIMISTIC — racing writers are
    * allowed, exactly one wins. Two writers that allocate the same n
    * fail here (ErrorIfExists on the version dir) or at the manifest's
    * no-overwrite create; two writers with different n are serialized
    * by commitSnapshot's compare-and-set on `_CURRENT` — the loser
    * aborts with ConcurrentModificationException, cleans up its
    * orphans, and can retry against the fresh snapshot. This is the
    * same shape Delta/Iceberg use (write data blind, validate at the
    * pointer swap), minus their semantic conflict analysis: ANY
    * intervening commit aborts, even one touching disjoint partitions.
    */
  private def writeVersion(name: String, df0: DataFrame,
      partitionCols: Seq[String]): (Long, Seq[String]) = {
    val df = constraintGuard(name, df0)
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    val n = claimVersion(fs, root)
    val vdir = new Path(root, s"_v$n")
    val writer = df.write.mode(SaveMode.ErrorIfExists)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(vdir.toString)
    val rel = versionFiles(fs, root, vdir)
    // `_schema` sidecar: the version's DATA-column read schema
    // (all-nullable, the shape parquet footer inference would return),
    // so every later read of this immutable version dir skips the
    // footer-inference Spark job — the Delta/Iceberg
    // schema-from-metadata discipline. At 100 TB the same bytes answer
    // what would otherwise be a footer open per scan; locally it
    // removes one job + listing round-trip per version group per read
    // (measured: 13 of 35 jobs in s31 were inference). Partition
    // columns are deliberately NOT stored: their types/values come
    // from hive path inference exactly as before (driver-side, no
    // job), preserving the pinned decoded-value canonicalization
    // (AutoSkipSpec's mixed `pd=1`/`pd=01` rendering merge). Readers
    // fall back to full inference when the sidecar is absent.
    val p = new Path(vdir, "_schema")
    val out = fs.create(p, true)
    val dataOnly = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(f => partitionCols.contains(f.name)))
    try out.write(Warehouse.allNullable(dataOnly).json.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // data-skipping sidecars (FileStats) off the parquet footers just
    // written: no data pages re-read, one footer pass for both stat
    // families, distributed when the version is large
    val all = FileStats.collectAll(spark, vdir.toString,
      rel.map(_.stripPrefix(s"_v$n/")))
    FileStats.writeSidecars(fs, vdir, all.map { case (f, (cols, _)) => f -> cols },
      all.map { case (f, (_, rows)) => f -> rows })
    (n, rel)
  }

  /** S7: set-oriented append — one write for N rows, itself atomic:
    * new files land in a fresh version dir, and the snapshot (old
    * files + new files) commits via the pointer flip — a reader never
    * sees a half-appended batch.
    */
  def append(name: String, df: DataFrame): Unit = {
    val root = new Path(tablePath(name))
    val base = currentManifest(fileSystem(root), root)
    // layout-preserving: a batch appended to a partitioned table
    // writes under the same hive layout (else the mixed layout would
    // silently demote the table to unpartitioned); derived from the
    // snapshot's FIRST entry (flat head or first chunk's span —
    // header-only), so a 10^6-file append never materializes the
    // base list: the commit is a pure Delta against `base`.
    val parts = partitionColsFrom(snapshotHeadFile(name))
    val (n, added) = writeVersion(name, df, parts)
    // sidecars land BEFORE the commit so the new chunk's header can
    // carry the merged ndv line (rebases reuse the same version dir,
    // so the sidecars survive retries)
    maintainNdvSidecars(name, n, added, base)
    commitAppend(name, n, added, base)
  }

  /** Commit an append with automatic REBASE on concurrent commits —
    * the Delta/Iceberg append-append resolution: a blind append only
    * ADDS files, so another writer's intervening commit never
    * invalidates the batch; losing the pointer CAS means re-resolving
    * the fresh snapshot and recommitting the SAME already-written
    * version dir under a fresh manifest (no data rewrite). Contrast
    * `atomicPublish`/`upsert`/`delete`, whose file lists are COMPUTED
    * from the base snapshot — for those an intervening commit means
    * the computation itself is stale, so they stay strict (abort
    * loudly, caller re-reads and re-derives). Bounded retries: under
    * sustained contention the loss eventually propagates to the
    * caller, with the version dir cleaned up.
    */
  private def commitAppend(name: String, n: Long, added: Seq[String],
      base0: Option[String],
      maxRebases: Int = 4): Unit = {
    val root = new Path(tablePath(name))
    val fs = fileSystem(root)
    var attempt = 0
    var done = false
    while (!done) {
      val base = if (attempt == 0) base0 else currentManifest(fs, root)
      val mN = if (attempt == 0) n else nextVersion(fs, root)
      try {
        commitSnapshot(name, mN, Delta(base, Set.empty, Set.empty, added),
          base, retainVersionOnAbort = true, ownVersion = Some(n),
          op = "append")
        done = true
      } catch {
        // CME = lost the pointer CAS; IOException = two rebasing
        // appenders allocated the same manifest number and this one
        // lost the create-no-overwrite — both mean "someone else
        // committed first", both rebase. A genuine IO failure stops
        // the loop at the retry budget and still cleans up.
        case e @ (_: java.util.ConcurrentModificationException |
                  _: java.io.IOException) =>
          if (attempt >= maxRebases) {
            fs.delete(new Path(root, s"_v$n"), true)
            fs.delete(new Path(root, s"_inflight_v$n"), false)
            throw e
          }
          attempt += 1
      }
    }
  }

  /** Partition evolution (the Iceberg headline feature):
    * append a batch under an EXPLICIT hive layout that may differ from
    * every earlier version's — history is never rewritten; the new
    * files land partitioned, the old files keep their layout, and the
    * snapshot lists both. Readers already handle the mix (readFiles
    * resolves each version against its own basePath and unions by
    * name), and pruning composes per vintage: evolved files prune by
    * partition PATH, flat files by footer stats. The partition column
    * must exist as a data column in the flat vintages (it is
    * reconstructed from the path in evolved ones) with a type hive
    * path inference re-derives (string/numeric) — the catalog row uses
    * a string key. A later full rewrite (upsert with partitionCols, or
    * compact) migrates everything to one layout, exactly Iceberg's
    * rewrite story.
    *
    * Plain `append` intentionally PRESERVES the current layout; this
    * is the explicit opt-in to change it.
    */
  def appendEvolved(name: String, df: DataFrame,
      partitionCols: Seq[String]): Unit = {
    val root = new Path(tablePath(name))
    val base = currentManifest(fileSystem(root), root)
    val (n, added) = writeVersion(name, df, partitionCols)
    maintainNdvSidecars(name, n, added, base)
    commitAppend(name, n, added, base) // pure append: rebases too
  }

  /** Initialize a table if absent (S10 bootstrap). */
  def create(name: String, df: DataFrame): Unit =
    if (!exists(name)) atomicPublish(name, df)

  /** S8: upsert = union(existing, updates) → keep the update row per
    * key (window dedup ordered by source priority) → atomic publish.
    * Updates themselves are deduped by key first (last-writer within
    * the batch is arbitrary unless the caller pre-orders — mirroring
    * session.merge semantics per key).
    *
    * Partitioned tables take the partition-scoped path: the distinct
    * partition values in `updates` (small — broadcast) semi-join-prune
    * the existing scan, the window-dedup runs over just those
    * partitions, and only those partitions are republished. Keys are
    * assumed partition-stable (a key never moves between partitions —
    * true of the fact's (report, item, context) → fiscal_year); a key
    * that DID move would leave its old-partition row behind — pass
    * `assertPartitionStable = true` to turn that silent stale row into
    * a loud error (one extra keys⋈keys join over the existing table;
    * opt-in because it reads partitions the scoped merge would skip).
    *
    * `touchedValsHint` (single partition column only) hands in the
    * partition values the batch touches, so the manifest pruning needs
    * no distinct-values job over `updates` — which would re-execute the
    * batch's whole lineage only to learn them. The hint must contain
    * EVERY partition value of the batch and MAY contain more: an extra
    * value only keeps that partition's files in the base scan, and the
    * null-safe semi-join against the batch's own values removes their
    * rows before the merge. A missing value would drop its partition's
    * existing rows from the merge — data loss — so callers derive the
    * hint from a frame the batch's values are drawn from (the streaming
    * sink's grain probe, the reports a fact batch inner-joins).
    */
  def upsert(name: String, updates: DataFrame, keyCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      assertPartitionStable: Boolean = false,
      touchedValsHint: Option[Seq[Any]] = None,
      expectedBase: Option[Option[String]] = None): Unit = {
    if (!exists(name)) {
      atomicPublish(name, updates, partitionCols, expectedBase); return
    }
    if (assertPartitionStable && partitionCols.nonEmpty) {
      val up = updates.select((keyCols ++ partitionCols).map(col): _*).distinct()
      val renamed = partitionCols.foldLeft(up)((d, c) =>
        d.withColumnRenamed(c, s"_upd_$c"))
      val moved = read(name).select((keyCols ++ partitionCols).map(col): _*)
        .join(renamed, keyCols)
        .filter(partitionCols.map(c => !(col(c) <=> col(s"_upd_$c"))).reduce(_ || _))
        .limit(5).collect()
      if (moved.nonEmpty)
        throw new IllegalStateException(
          s"upsert($name): update keys moved partitions — a partition-scoped " +
          s"merge would leave their old-partition rows behind. Examples: " +
          moved.map(_.toString).mkString("; "))
    }
    // capture the base snapshot ONCE: the merge below reads THESE
    // files, and the publish hands THIS manifest to the commit CAS —
    // so a commit landing anywhere in the read-merge-publish span
    // aborts loudly instead of being silently clobbered by a merge
    // computed from the stale base (re-resolving at publish time was
    // exactly that hole)
    val (mfCap, filesCap) = resolveSnapshot(name)
    // captured-base expectation (streaming-sink TOCTOU guard): the
    // caller read table METADATA (e.g. the adaptive-grain prop) under
    // a snapshot it captured before calling; a commit landing between
    // that capture and this resolve — a maintenance re-grain that
    // publishes AND flips the prop inside the window — would otherwise
    // slip through with no CAS conflict at all, merging rows derived
    // from the stale metadata (month partition values into a
    // day-regrained layout). Failing HERE is loud and retryable: the
    // sink's retry loop re-reads the flipped prop.
    expectedBase.foreach { exp =>
      if (mfCap != exp)
        throw new java.util.ConcurrentModificationException(
          s"upsert($name): table advanced from ${exp.getOrElse("<none>")} " +
          s"to ${mfCap.getOrElse("<none>")} since the caller captured its " +
          "base — aborted; re-read table metadata and retry")
    }
    upsertTestHook(name)
    // a table previously written UNPARTITIONED has its rows in root
    // part-files: a partition-scoped commit would leave the old rows
    // behind → one whole-table merge migrates it to the partitioned
    // layout, after which upserts are partition-scoped
    val scoped = partitionCols.nonEmpty &&
      filesCap.nonEmpty && filesCap.forall(partitionRel(_).nonEmpty)
    val existing = readFilesMor(name, filesCap, mfCap)
    val base =
      if (!scoped) existing
      else {
        val parts = updates.select(partitionCols.map(col): _*).distinct()
        // single partition column (the streaming-sink and fact shape):
        // prune the base scan at the MANIFEST level — the merge plan
        // then lists only the touched partitions' files, deterministic
        // driver metadata rather than hoping runtime DPP fires through
        // the explicit-file-list scan (StreamingSpec pins it with the
        // corrupted-untouched-partition trick). The semi-join STAYS as
        // the exactness boundary: pruning is may-contain (legacy files
        // without a parseable partition segment are kept), so rows of
        // untouched partitions that survive pruning are still filtered
        // before the merge.
        // bounded values collect (skipped when `touchedValsHint` is
        // given): a sane batch touches few partitions; a pathological
        // one (backfill rewriting 10⁵ partitions) skips manifest
        // pruning rather than hauling the value list to the driver —
        // the semi-join below still scopes the merge.
        val touchedVals =
          (if (partitionCols.size == 1)
            touchedValsHint.filter(_.size <= 10000).orElse(
              Some(parts.limit(10001).collect().map(_.get(0)).toSeq)
                .filter(_.size <= 10000))
          else None)
            // a null partition value (null time column at a streaming
            // sink) cannot drive metadata pruning: the stats/bloom
            // probes are value-keyed and the hive null dir has no
            // parseable value — fall back to the (null-safe) semi-join
            // alone, which still scopes the merge
            .filter(!_.contains(null))
        // the pruned read runs against the CAPTURED manifest and full
        // read: snapshot consistency with the merge's file list, and
        // DV-aware like `read` — the touched partitions are REWRITTEN
        // from this scan, so a deleted row served here would be
        // physically resurrected into the new files
        val pruned = touchedVals.fold(existing)(vals => prunedRead(name,
          InPred(partitionCols.head, vals), Some((mfCap, existing))))
        // NULL-SAFE semi-join (<=>), found round 13: a plain equi-join
        // never matches null = null, so base rows whose partition
        // value is null were silently EXCLUDED from the merge — and
        // publishPartitions then replaced the hive null dir with only
        // the batch's rows, losing every pre-existing null-partition
        // row. With <=> the null partition merges like any other.
        val partsR = partitionCols.foldLeft(parts)((d, pc) =>
          d.withColumnRenamed(pc, s"_pv_$pc"))
        pruned.join(broadcast(partsR),
          partitionCols.map(pc => col(pc) <=> col(s"_pv_$pc")).reduce(_ && _),
          "left_semi")
      }
    val keyed = base.withColumn("_src", lit(0))
      .unionByName(updates.withColumn("_src", lit(1)))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_src").desc)
    val merged = keyed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_src", "_rn")
    if (scoped) publishPartitions(name, merged, partitionCols, Some(mfCap))
    else atomicPublish(name, merged, partitionCols, Some(mfCap), op = "upsert")
  }

  /** S8+: slowly-changing-dimension type-2 upsert — the
    * history-preserving merge a dimension table needs when "what was
    * this company's name in Q3" matters. Rows carry (valid_from,
    * valid_to); current rows have valid_to null. Per incoming key:
    * unchanged tracked values → row left alone (valid_from preserved);
    * changed → the current row is CLOSED (valid_to = ts) and a new
    * version opens at ts; unseen key → inserted open at ts. Change
    * detection compares an md5 fingerprint of the tracked columns
    * (sorted-name struct → json), so adding columns later doesn't
    * reorder the comparison. One set-oriented pass: two key-joins and
    * a union, published as one atomic snapshot — no per-key loops, no
    * read-modify-write races.
    */
  def upsertScd2(name: String, updates: DataFrame, keyCols: Seq[String],
      ts: String): Unit = {
    val s = spark
    import s.implicits._
    def open(df: DataFrame): DataFrame = df
      .withColumn("valid_from", lit(ts))
      .withColumn("valid_to", lit(null).cast("string"))
    // one row per key, loudly: a duplicate key in the batch would open
    // TWO current versions and multiply on every later merge (plain
    // upsert window-dedups by priority; SCD2 has no priority to pick by)
    val dupKeys = updates.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n")).filter($"_n" > 1).limit(3).collect()
    require(dupKeys.isEmpty,
      s"upsertScd2($name): update batch has duplicate keys: ${dupKeys.mkString(", ")}")
    if (!exists(name)) { atomicPublish(name, open(updates)); return }
    val dataCols = updates.columns.filterNot(keyCols.contains).toSeq
    def fp(cols: Seq[String]) = md5(to_json(struct(cols.sorted.map(col): _*)))
    // captured-base CAS, like upsert: the merge below reads THIS
    // snapshot and the publish compares against THIS manifest
    val (scd2Base, scd2Files) = resolveSnapshot(name)
    val existing = readFilesMor(name, scd2Files, scd2Base).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var curCached: Option[DataFrame] = None
    try {
      val hist = existing.filter($"valid_to".isNotNull)
      // schema evolution: a column the update tracks but no existing
      // version has yet is null-filled on the current side, typed from
      // the update's schema. to_json omits null fields, so a new
      // column compares as unchanged while it stays null on both sides
      // and as a change the first time a real value arrives.
      val cur0 = existing.filter($"valid_to".isNull)
      val curFilled = dataCols.foldLeft(cur0)((d, c) =>
        if (d.columns.contains(c)) d
        else d.withColumn(c, lit(null).cast(updates.schema(c).dataType)))
      val cur = curFilled.withColumn("_fp", fp(dataCols))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      curCached = Some(cur)
      val upd = updates.withColumn("_fp_new", fp(dataCols))
      val curVsNew = cur.join(
        upd.select((keyCols.map(col) :+ $"_fp_new"): _*), keyCols, "left")
      val changed = curVsNew.filter($"_fp_new".isNotNull && $"_fp" =!= $"_fp_new")
      // a back-dated ts would write valid_to < valid_from and falsify
      // every as-of read — fail loudly instead (string compare is the
      // ISO-date order the columns use throughout)
      val badTs = changed.filter($"valid_from" >= ts).limit(3).collect()
      require(badTs.isEmpty,
        s"upsertScd2($name): ts=$ts is not after the current versions being " +
        s"closed: ${badTs.mkString(", ")}")
      val untouched = curVsNew
        .filter($"_fp_new".isNull || $"_fp" === $"_fp_new")
        .drop("_fp", "_fp_new")
      val closed = changed.drop("_fp", "_fp_new").withColumn("valid_to", lit(ts))
      val opened = open(upd
        .join(cur.select((keyCols.map(col) :+ $"_fp"): _*), keyCols, "left")
        .filter($"_fp".isNull || $"_fp" =!= $"_fp_new")
        .drop("_fp", "_fp_new"))
      // layout-preserving like append; hist may predate an evolved
      // schema, so the union null-fills by name
      val merged = hist.unionByName(untouched, allowMissingColumns = true)
        .unionByName(closed, allowMissingColumns = true)
        .unionByName(opened, allowMissingColumns = true)
      atomicPublish(name, merged, partitionColsOf(name), Some(scd2Base),
        op = "upsert")
    } finally {
      existing.unpersist()
      curCached.foreach(_.unpersist())
    }
  }

  /** Partition path of a manifest entry: strip the version-dir prefix,
    * keep the `k=v/...` directory part ("" for an unpartitioned file).
    */
  private def partitionRel(file: String): String = {
    val noV = file.replaceFirst("^_v\\d+/", "")
    val i = noV.lastIndexOf('/')
    if (i < 0) "" else noV.substring(0, i)
  }

  /** Distinct values of partition column `column` across the current
    * snapshot's FILE PATHS — a metadata-only answer to "what does the
    * layout look like" (the streaming re-grain's crash repair asks it;
    * opening a data file for that question was the old, NPE-prone
    * way). Hive-encoded dirs come back verbatim, including
    * the hive null's `HiveNull` for null.
    */
  private[graft] def snapshotPartitionValues(name: String,
      column: String): Seq[String] =
    snapshotFiles(name).iterator.flatMap(f =>
      hiveSeg(partitionRel(f), column).map(_.raw)).toSeq.distinct

  /** S9: delete-by-key as one anti-join. The base snapshot is captured
    * once so the publish CAS covers the whole read-filter-publish span
    * (see atomicPublish's expectedBase).
    */
  def delete(name: String, keys: DataFrame, keyCols: Seq[String]): Unit = {
    val (mf, files) = resolveSnapshot(name)
    atomicPublish(name,
      readFilesMor(name, files, mf).join(keys, keyCols, "left_anti"),
      expectedBase = Some(mf), op = "delete")
  }

  /** Bucketed table: pre-shuffled, per-bucket-sorted layout on the join
    * key, registered in the session catalog (bucketing metadata lives
    * there, not in parquet). Two tables bucketed the same way join with
    * NO Exchange on either side — the co-located-join story for
    * repeated fact⋈fact joins where a broadcast doesn't fit and paying
    * the shuffle per query would dominate (e.g. financial_data self
    * and report joins on report_id at 100 TB).
    */
  def createBucketed(name: String, df: DataFrame, bucketCols: Seq[String],
      nBuckets: Int): Unit = {
    require(bucketCols.nonEmpty, "bucketed table needs bucket columns")
    df.write.mode(SaveMode.Overwrite)
      .option("path", tablePath(name))
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(name)
  }

  /** Catalog read path for bucketed tables (plain `read` would see the
    * files but lose the bucketing metadata and re-shuffle).
    */
  def readBucketed(name: String): DataFrame = spark.table(name)

  /** S11: one snapshot commit of `df` as the table's whole content —
    * readers see either the old or the new table, never a partial
    * write. Single-table atomicity; `commitDbSnapshot` pins several
    * tables together.
    *
    * `expectedBase` (when given) is the snapshot the CALLER's
    * computation actually read — read-modify-write ops (upsert,
    * delete, compact) pass it so the commit CAS compares against THAT,
    * not a re-resolve at publish time. Re-resolving here would let a
    * commit that landed between the caller's read and this publish
    * slip past the strictness contract: the CAS would compare against
    * the racer's manifest and silently clobber its changes with data
    * computed from the stale base.
    */
  def atomicPublish(name: String, df: DataFrame,
      partitionCols: Seq[String] = Nil,
      expectedBase: Option[Option[String]] = None,
      op: String = "overwrite"): Unit = {
    val root = new Path(tablePath(name))
    val expected = expectedBase.getOrElse(
      currentManifest(fileSystem(root), root))
    val (n, files) = writeVersion(name, df, partitionCols)
    commitSnapshot(name, n, FullList(files), expected, op = op)
  }

  /** Approximate on-disk volume of `name` (all retained versions'
    * bytes, one FS content-summary call) — a SIZING input for
    * StreamTune's adaptive state partitioning, not a statistic.
    */
  def dataBytes(name: String): Long = {
    val p = new Path(tablePath(name))
    try fileSystem(p).getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Publish several tables, their write+commit jobs overlapped from a
    * small driver pool (guide-§2.6 job overlap: each publish is a
    * short job whose write/commit latency would otherwise serialize;
    * DISTINCT tables never contend on a commit CAS, so concurrency is
    * safe by the same argument as multi-process writers). Tables must
    * be pairwise independent — none may read another's output.
    */
  def atomicPublishAll(tables: Seq[(String, DataFrame)]): Unit =
    if (tables.size <= 1) tables.foreach { case (n, df) => atomicPublish(n, df) }
    else graft.Parallel.map(tables, tables.size) { case (n, df) => atomicPublish(n, df) }

  /** Partition-scoped publish: new files for the partitions present
    * in `df`, the previous snapshot's files for every other partition
    * — untouched data is REFERENCED, never copied. The base is the
    * snapshot the caller's merge actually READ (`expectedBase`, see
    * atomicPublish) so the commit CAS covers the whole
    * read-merge-publish span, not just the write; resolving here is
    * only the fallback for callers that stage fresh data.
    */
  def publishPartitions(name: String, df: DataFrame,
      partitionCols: Seq[String],
      expectedBase: Option[Option[String]] = None,
      op: String = "upsert"): Unit = {
    require(partitionCols.nonEmpty, "publishPartitions needs partition columns")
    val root = new Path(tablePath(name))
    val base = expectedBase.getOrElse(
      currentManifest(fileSystem(root), root))
    val (n, added) = writeVersion(name, df, partitionCols)
    maintainNdvSidecars(name, n, added, base)
    val touched = added.map(partitionRel).toSet
    commitSnapshot(name, n, Delta(base, touched, Set.empty, added), base,
      op = op)
  }
}

object Warehouse {

  /** One WHEN clause of [[Warehouse.mergeRows]]. Expressions reference
    * target columns by bare name and source columns as `_src_<name>`
    * (the merge join frame's naming). `condition` None = always
    * applies (subject to first-match-wins order).
    */
  sealed trait MergeClause
  final case class MergeUpdateClause(
      condition: Option[org.apache.spark.sql.Column],
      assigns: Map[String, org.apache.spark.sql.Column]) extends MergeClause
  final case class MergeDeleteClause(
      condition: Option[org.apache.spark.sql.Column]) extends MergeClause
  /** WHEN NOT MATCHED THEN INSERT: `assigns` maps target column →
    * source-side expression; unassigned columns null-fill.
    */
  final case class MergeInsertClause(
      condition: Option[org.apache.spark.sql.Column],
      assigns: Map[String, org.apache.spark.sql.Column])

  /** The fixed shape of a deletion-vector file — explicit so DV reads
    * never pay schema inference.
    */
  /** `dt` with every field/element/value marked nullable — the shape
    * parquet footer inference returns, so a stored schema sidecar can
    * never claim non-nullability the read path wouldn't have inferred.
    */
  private[sources] def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def go(d: DataType): DataType = d match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, go(f.dataType), nullable = true, f.metadata)))
      case at: ArrayType => ArrayType(go(at.elementType), containsNull = true)
      case mt: MapType =>
        MapType(go(mt.keyType), go(mt.valueType), valueContainsNull = true)
      case other => other
    }
    go(dt).asInstanceOf[StructType]
  }

  /** Exact row count of every parquet file directly under `dir`, from
    * footers alone (one small metadata read per file, no Spark job).
    */
  private[sources] def footerRowCount(fs: FileSystem, dir: Path): Long =
    (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            s.getPath, fs.getConf))
        try rd.getRecordCount finally rd.close()
      }.sum

  private[sources] val dvSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_pos",
        org.apache.spark.sql.types.LongType)))
}
