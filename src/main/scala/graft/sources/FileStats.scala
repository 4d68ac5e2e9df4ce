package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession

import java.util.Base64
import scala.jdk.CollectionConverters._

/** Per-file column min/max statistics for warehouse data skipping —
  * the file-pruning layer Delta/Iceberg keep in their metadata, built
  * here from the parquet FOOTERS the write already produced (no second
  * pass over the data; row-group stats are aggregated per file).
  *
  * This object owns the sidecar layout; no other code names a sidecar
  * file. Each `_vN` version dir carries, written before its manifest
  * commit (so a snapshot is never current with its stats missing):
  *
  *  - `_stats`: per-file column min/max (`ColStat`);
  *  - `_rows`: per-file row count and per-column null counts
  *    (`RowStat`), the metadata-only count(*) / IS NULL surface;
  *  - `_stats_p/<seg>` and `_rows_p/<seg>`: per-partition shards of
  *    the same records, keyed by the file's first path segment (root
  *    files shard under "-"), written only when a version spans more
  *    than one segment. Hive segments are already path-escaped (%XX),
  *    so a segment is a safe file name.
  *
  * GC of a version dir collects its sidecars with it, and the manifest
  * wire format is untouched. Absence always means "unknown": a legacy
  * root file (no version dir), a version without sidecars or a file
  * missing from one is kept by every prune and never counts as zero.
  *
  * Shard rule (`Sidecars`, the one reader), per version and request:
  * with `k` = the partition segments the request touches, read the
  * version's shards for those segments when `k <= 4`, or when
  * `k * (4 KiB + shard) <= 4 KiB + whole` (`shard` = the first touched
  * shard's length, `whole` = the whole file's length); otherwise read
  * the whole file once. A version without shards is always read
  * whole. The second clause is the cost of each choice in bytes
  * parsed: one sidecar open costs about as much as parsing 2–4 KiB of
  * a large sidecar (measured on the local filesystem: ~0.1 ms an
  * open, 35–70 ns a byte). So a commit rewriting one manifest chunk
  * of a huge version (64 of 6,250 segments) opens those 64 shards,
  * while a request covering the whole version (a full scan's
  * count(*), a wide prune) parses the whole file, whose bytes its
  * shards would only repeat with one open each; only a first shard
  * well below the average size can tip such a request to shards,
  * at a cost near the crossover. A prune asks
  * once for the files of every manifest chunk it opens, so the rule
  * sees the prune's whole width; a commit asks per rewritten chunk.
  *
  * Scale: footer reads are distributed across executors when the
  * version has many files (the 100 TB case: thousands of files → one
  * ~8 KB footer read each, no data pages touched); the collected stats
  * are O(files × columns) strings on the driver — the same order as the
  * manifest file list itself. Pruning at read time is a driver-side
  * filter over that list; the pruned scan then reads only surviving
  * files. Parquet may truncate binary min/max (the truncated min is
  * still a lower bound, the truncated max still an upper bound), so
  * pruning on truncated stats remains safe, never exact — exactness
  * comes from the residual predicate every pruned read applies on top
  * of the warehouse's one `prune`.
  */
object FileStats {

  /** One column's footer stats for one file. `typ` ∈
    * long|double|string|date|ts|tsntz|decimal; min/max are decimal
    * strings (numeric; `date` is epoch days, `ts`/`tsntz` micros,
    * `decimal` a plain unambiguous decimal string) or base64 UTF-8
    * (string).
    */
  final case class ColStat(typ: String, min: String, max: String)

  /** Typed bound wrappers for the temporal/decimal stat families.
    * Raw `Long` bounds keep meaning "plain integer" (the `long`
    * typ), so a date predicate can never be confused with an int
    * predicate anywhere in the prune stack: a layer that does not
    * recognize the wrapper falls through to keep — the safe
    * direction. Days/micros mirror Spark's internal Date/Timestamp
    * representations exactly (int32 days, int64 micros), which is
    * what makes these stats EXACT, unlike truncatable binary stats.
    */
  final case class DateDays(days: Long)
  final case class Micros(us: Long, utc: Boolean)

  /** One file's row-level footer stats: exact row count (always present
    * in a parquet footer) and per-column null counts (present only for
    * columns where EVERY row group recorded numNulls — absent means
    * "unknown", never zero). Powers metadata-only `count(*)` and
    * IS NULL / IS NOT NULL file pruning.
    */
  final case class RowStat(numRows: Long, nullCounts: Map[String, Long])

  private val b64e = Base64.getEncoder
  private val b64d = Base64.getDecoder

  /** Aggregate row-group stats of one parquet file into per-column
    * (typ, min, max). Only top-level primitive columns with usable
    * stats appear; anything else is skippable-never (absent ⇒ keep).
    * INT32/INT64 fold to `long`, FLOAT/DOUBLE to `double`, BINARY to
    * `string` (parquet annotates Spark strings as UTF8; byte order =
    * unsigned lexicographic, which is what `mayContain` compares).
    */
  def footerStats(conf: Configuration, absPath: String): Map[String, ColStat] =
    footerAll(conf, absPath)._1

  /** One footer open → BOTH stat families: per-column min/max (as
    * footerStats) and the file's RowStat (row count + null counts).
    */
  def footerAll(conf: Configuration,
      absPath: String): (Map[String, ColStat], RowStat) = {
    val in = HadoopInputFile.fromPath(new Path(absPath), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.Map[String, (String, Any, Any)]()
      var statsComplete = Set[String]()
      var numRows = 0L
      val nulls = scala.collection.mutable.Map[String, Long]()
      var nullsBad = Set[String]()
      for (block <- reader.getFooter.getBlocks.asScala) numRows += block.getRowCount
      for (block <- reader.getFooter.getBlocks.asScala;
           col <- block.getColumns.asScala) {
        // null counts ride the same loop: a column's count is usable
        // only when every row group set numNulls — "absent" must mean
        // unknown, never a silent zero that would wrongly prune IS NULL
        locally {
          val path = col.getPath.toDotString
          if (!path.contains('.')) {
            val st = col.getStatistics
            if (st == null || !st.isNumNullsSet) nullsBad += path
            else nulls(path) = nulls.getOrElse(path, 0L) + st.getNumNulls
          }
        }
        val path = col.getPath.toDotString
        if (!path.contains('.')) {
          val st = col.getStatistics
          val ptn = col.getPrimitiveType.getPrimitiveTypeName
          // decimal/date/timestamp ride INT32/INT64 with ENCODED values
          // (unscaled units, days, micros) — comparing those against a
          // caller's raw bound can WRONGLY PRUNE (e.g. decimal(9,2)
          // 5.00 is stored as 500: file min 500 > upper bound 50 even
          // though the value 5 ≤ 50). Only plain ints are safe.
          val ann = col.getPrimitiveType.getLogicalTypeAnnotation
          val plainInt = ann == null || ann.isInstanceOf[
            org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation]
          if (st != null && st.hasNonNullValue) {
            import org.apache.parquet.schema.LogicalTypeAnnotation.{
              DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation,
              TimestampLogicalTypeAnnotation, TimeUnit}
            // decimal stats: unscaled int32/int64 (Spark's non-legacy
            // writer for precision ≤ 18) or signed-big-endian binary
            // (higher precision / legacy) — both exact under parquet's
            // TYPE_DEFINED signed comparator; normalized here to a
            // scale-free plain decimal string so mayContain compares
            // in BigDecimal space regardless of each file's scale
            def decStr(unscaled: java.math.BigInteger, scale: Int): String =
              new java.math.BigDecimal(unscaled, scale).toPlainString
            val tv: Option[(String, Any, Any)] = ptn match {
              case PrimitiveTypeName.INT32 if ann.isInstanceOf[DateLogicalTypeAnnotation] =>
                // int32 epoch days — Spark's internal DateType value;
                // footer stats are the exact min/max days
                Some(("date",
                  st.genericGetMin.asInstanceOf[java.lang.Integer].longValue,
                  st.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
              case PrimitiveTypeName.INT64
                  if ann.isInstanceOf[TimestampLogicalTypeAnnotation] &&
                    ann.asInstanceOf[TimestampLogicalTypeAnnotation].getUnit != TimeUnit.NANOS =>
                // int64 micros (or millis ×1000 — exact either way:
                // a millis-stored value has no sub-milli component)
                val ta = ann.asInstanceOf[TimestampLogicalTypeAnnotation]
                val scale = if (ta.getUnit == TimeUnit.MILLIS) 1000L else 1L
                Some((if (ta.isAdjustedToUTC) "ts" else "tsntz",
                  st.genericGetMin.asInstanceOf[java.lang.Long].longValue * scale,
                  st.genericGetMax.asInstanceOf[java.lang.Long].longValue * scale))
              case PrimitiveTypeName.INT32 if ann.isInstanceOf[DecimalLogicalTypeAnnotation] =>
                val sc = ann.asInstanceOf[DecimalLogicalTypeAnnotation].getScale
                Some(("decimal",
                  decStr(java.math.BigInteger.valueOf(
                    st.genericGetMin.asInstanceOf[java.lang.Integer].longValue), sc),
                  decStr(java.math.BigInteger.valueOf(
                    st.genericGetMax.asInstanceOf[java.lang.Integer].longValue), sc)))
              case PrimitiveTypeName.INT64 if ann.isInstanceOf[DecimalLogicalTypeAnnotation] =>
                val sc = ann.asInstanceOf[DecimalLogicalTypeAnnotation].getScale
                Some(("decimal",
                  decStr(java.math.BigInteger.valueOf(
                    st.genericGetMin.asInstanceOf[java.lang.Long].longValue), sc),
                  decStr(java.math.BigInteger.valueOf(
                    st.genericGetMax.asInstanceOf[java.lang.Long].longValue), sc)))
              case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY | PrimitiveTypeName.BINARY
                  if ann.isInstanceOf[DecimalLogicalTypeAnnotation] =>
                val sc = ann.asInstanceOf[DecimalLogicalTypeAnnotation].getScale
                val bs = st.asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
                Some(("decimal",
                  decStr(new java.math.BigInteger(bs.genericGetMin.getBytes), sc),
                  decStr(new java.math.BigInteger(bs.genericGetMax.getBytes), sc)))
              case PrimitiveTypeName.INT32 if plainInt =>
                Some(("long",
                  st.genericGetMin.asInstanceOf[java.lang.Integer].longValue,
                  st.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
              case PrimitiveTypeName.INT64 if plainInt =>
                Some(("long",
                  st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                  st.genericGetMax.asInstanceOf[java.lang.Long].longValue))
              case PrimitiveTypeName.FLOAT =>
                Some(("double",
                  st.genericGetMin.asInstanceOf[java.lang.Float].doubleValue,
                  st.genericGetMax.asInstanceOf[java.lang.Float].doubleValue))
              case PrimitiveTypeName.DOUBLE =>
                Some(("double",
                  st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue,
                  st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue))
              case PrimitiveTypeName.BINARY
                  if col.getPrimitiveType.getLogicalTypeAnnotation != null &&
                    col.getPrimitiveType.getLogicalTypeAnnotation.toString == "STRING" =>
                Some(("string",
                  st.asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
                    .genericGetMin.getBytes,
                  st.asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
                    .genericGetMax.getBytes))
              case _ => None
            }
            tv.foreach { case (typ, mn, mx) =>
              statsComplete += path
              acc.get(path) match {
                case None => acc(path) = (typ, mn, mx)
                case Some((t, m0, m1)) =>
                  acc(path) = (t, minOf(t, m0, mn), maxOf(t, m1, mx))
              }
            }
          }
        }
      }
      // a column missing stats in ANY row group has no file-level bound
      val cols = acc.toMap.collect {
        case (p, (typ, mn, mx)) if statsComplete(p) && blockCount(reader) == blocksWith(reader, p) =>
          p -> ColStat(typ, enc(typ, mn), enc(typ, mx))
      }
      (cols, RowStat(numRows, (nulls -- nullsBad).toMap))
    } finally reader.close()
  }

  private def blockCount(r: ParquetFileReader): Int = r.getFooter.getBlocks.size
  private def blocksWith(r: ParquetFileReader, path: String): Int =
    r.getFooter.getBlocks.asScala.count(_.getColumns.asScala.exists(c =>
      c.getPath.toDotString == path && c.getStatistics != null &&
        c.getStatistics.hasNonNullValue))

  private def minOf(typ: String, a: Any, b: Any): Any = typ match {
    case "long" | "date" | "ts" | "tsntz" =>
      math.min(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => math.min(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "decimal" =>
      if (new java.math.BigDecimal(a.asInstanceOf[String])
        .compareTo(new java.math.BigDecimal(b.asInstanceOf[String])) <= 0) a else b
    case _ =>
      if (cmpBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]) <= 0) a else b
  }
  private def maxOf(typ: String, a: Any, b: Any): Any = typ match {
    case "long" | "date" | "ts" | "tsntz" =>
      math.max(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => math.max(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "decimal" =>
      if (new java.math.BigDecimal(a.asInstanceOf[String])
        .compareTo(new java.math.BigDecimal(b.asInstanceOf[String])) >= 0) a else b
    case _ =>
      if (cmpBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]) >= 0) a else b
  }

  /** Unsigned lexicographic byte compare — parquet's binary stat order
    * (= UTF-8 code-point order, matching Spark's string ordering).
    * Shared with Warehouse's partition-path pruning and statsMinMax so
    * every string comparison in the skipping layer uses ONE order.
    */
  private[sources] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private def enc(typ: String, v: Any): String = typ match {
    case "string" => b64e.encodeToString(v.asInstanceOf[Array[Byte]])
    case _        => v.toString
  }

  /** Collect stats for a version's data files. Driver-side for small
    * versions; distributed footer reads (hadoop conf rebuilt from
    * broadcast entries — public API only) above `distributedThreshold`.
    */
  def collect(spark: SparkSession, versionDir: String, relFiles: Seq[String],
      distributedThreshold: Int = 64): Map[String, Map[String, ColStat]] =
    collectAll(spark, versionDir, relFiles, distributedThreshold)
      .map { case (f, (cols, _)) => f -> cols }

  /** Both stat families from ONE footer pass per file (min/max for the
    * `_stats` sidecar, row/null counts for `_rows`). The broadcast
    * conf is filtered to the filesystem/IO keys a footer read needs
    * (fs./dfs./io./hadoop./parquet.) — a secured cluster's unrelated
    * credential and service entries stay on the driver.
    */
  def collectAll(spark: SparkSession, versionDir: String, relFiles: Seq[String],
      distributedThreshold: Int = 64): Map[String, (Map[String, ColStat], RowStat)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parquetFiles = relFiles.filter(_.endsWith(".parquet"))
    if (parquetFiles.size <= distributedThreshold) {
      if (parquetFiles.size <= 2)
        parquetFiles.map(f => f -> footerAll(conf, s"$versionDir/$f")).toMap
      else {
        // driver-side but CONCURRENT: each footer open is an
        // independent ~ms metadata read, and a 30-file version read
        // sequentially was a measurable slice of every commit (guide
        // §2.6 overlap — no Spark job needed at this size)
        graft.Parallel.map(parquetFiles, 8)(f =>
          f -> footerAll(conf, s"$versionDir/$f")).toMap
      }
    } else {
      val keep = Seq("fs.", "dfs.", "io.", "hadoop.", "parquet.")
      val entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue)
        .filter { case (k, _) => keep.exists(k.startsWith) }.toVector
      val bc = spark.sparkContext.broadcast(entries)
      spark.sparkContext.parallelize(parquetFiles, math.max(1, parquetFiles.size / 16))
        .map { f =>
          val c = new Configuration(false)
          bc.value.foreach { case (k, v) => c.set(k, v) }
          f -> footerAll(c, s"$versionDir/$f")
        }
        .collect().toMap
    }
  }

  private val StatsFile = "_stats"
  private val RowsFile = "_rows"
  private val StatsShards = "_stats_p"
  private val RowsShards = "_rows_p"
  private val MaxShardSegs = 4
  private val OpenCostBytes = 4096L

  /** The version dir holding a table-relative data file (`_v3` for
    * `_v3/d=1/part-0.parquet`), or "" for a legacy root file, which has
    * no sidecars.
    */
  def versionOf(file: String): String = {
    var i = 2
    while (i < file.length && file.charAt(i) >= '0' && file.charAt(i) <= '9') i += 1
    if (i > 2 && i < file.length && file.charAt(i) == '/' && file.startsWith("_v"))
      file.substring(0, i)
    else ""
  }

  /** Write a fresh version dir's sidecars: the whole-version files and,
    * for a version spanning more than one partition segment, the
    * shards. `stats`/`rows` are keyed by version-relative path.
    */
  def writeSidecars(fs: FileSystem, vdir: Path,
      stats: Map[String, Map[String, ColStat]],
      rows: Map[String, RowStat]): Unit = {
    write(fs, new Path(vdir, StatsFile), stats)
    writeRows(fs, new Path(vdir, RowsFile), rows)
    val keys = (stats.keySet ++ rows.keySet).groupBy(shardKey)
    if (keys.size > 1) keys.foreach { case (seg, files) =>
      write(fs, new Path(new Path(vdir, StatsShards), seg),
        files.flatMap(f => stats.get(f).map(f -> _)).toMap)
      writeRows(fs, new Path(new Path(vdir, RowsShards), seg),
        files.flatMap(f => rows.get(f).map(f -> _)).toMap)
    }
  }

  /** The existence probe `fsck` runs: does version dir `vdir` carry
    * its stats sidecar?
    */
  def hasSidecars(fs: FileSystem, vdir: Path): Boolean =
    fs.exists(new Path(vdir, StatsFile))

  /** Memoizing reader of one table root's sidecars, the only read path
    * for them. Each call takes table-relative data files and answers
    * per file; a file with no record (legacy, pre-sidecar, missing
    * shard) is absent from the answer — unknown, never zero. Which
    * file a call opens follows the shard rule in the object doc,
    * decided per version over the call's files. Thread-safe: one
    * reader may serve every metadata answer of a read.
    */
  final class Sidecars(fs: FileSystem, root: Path) {
    private val statsC = scala.collection.mutable.Map[String, Map[String, Map[String, ColStat]]]()
    private val rowsC = scala.collection.mutable.Map[String, Map[String, RowStat]]()
    private val lenC = scala.collection.mutable.Map[Path, Long]()
    private val opened = scala.collection.mutable.Set[String]()

    /** Version dirs whose sidecars this reader has touched. */
    def versionsRead: Set[String] = synchronized(opened.toSet)

    def stats(files: Seq[String]): Map[String, Map[String, ColStat]] =
      lookup(files, StatsFile, StatsShards, statsC, read)

    def rows(files: Seq[String]): Map[String, RowStat] =
      lookup(files, RowsFile, RowsShards, rowsC, readRows)

    /** A sidecar's length, -1 when it does not exist. */
    private def len(p: Path): Long = lenC.getOrElseUpdate(p,
      try fs.getFileStatus(p).getLen
      catch { case _: java.io.FileNotFoundException => -1L })

    /** The shard rule of the object doc, for one version's request. */
    private def useShards(vdir: Path, whole: String, shards: String,
        segs: Seq[String]): Boolean = {
      val shard = len(new Path(new Path(vdir, shards), segs.head))
      shard >= 0 && (segs.size <= MaxShardSegs ||
        segs.size * (OpenCostBytes + shard) <= OpenCostBytes + len(new Path(vdir, whole)))
    }

    private def lookup[T](files: Seq[String], whole: String, shards: String,
        cache: scala.collection.mutable.Map[String, Map[String, T]],
        parse: (FileSystem, Path) => Map[String, T]): Map[String, T] = synchronized {
      def load(key: String, p: => Path): Map[String, T] =
        cache.getOrElseUpdate(key, parse(fs, p))
      files.groupBy(versionOf).iterator.filter(_._1.nonEmpty).flatMap { case (v, fl) =>
        opened += v
        val vdir = new Path(root, v)
        val inner = fl.map(f => f -> f.substring(v.length + 1))
        val segs = inner.map(i => shardKey(i._2)).distinct
        // cache keys: `v` for the whole file, `v/seg` for a shard
        // (neither part contains '/'); a whole file already parsed
        // answers every later request of the version
        val recs: String => Option[T] =
          if (!cache.contains(v) && useShards(vdir, whole, shards, segs)) {
            val bySeg = segs.map(seg =>
              seg -> load(s"$v/$seg", new Path(new Path(vdir, shards), seg))).toMap
            i => bySeg(shardKey(i)).get(i)
          } else load(v, new Path(vdir, whole)).get
        inner.iterator.flatMap { case (f, i) => recs(i).map(f -> _) }
      }.toMap
    }
  }

  /** Sidecar wire format: one `relPath \t col \t typ \t min \t max` line
    * per (file, column); values never contain tabs (numerics are
    * decimal, strings base64).
    */
  private def write(fs: FileSystem, sidecar: Path,
      stats: Map[String, Map[String, ColStat]]): Unit = {
    val lines = for {
      (f, cols) <- stats.toSeq.sortBy(_._1)
      (c, s) <- cols.toSeq.sortBy(_._1)
    } yield s"$f\t$c\t${s.typ}\t${s.min}\t${s.max}"
    val out = fs.create(sidecar, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** `_rows` sidecar wire format, one record per line distinguished by
    * arity: `relPath \t numRows` (2 fields, exact file row count) and
    * `relPath \t col \t nullCount` (3 fields, one per column whose
    * null count is known). Tabs cannot occur in paths or column names.
    */
  private def writeRows(fs: FileSystem, sidecar: Path,
      rows: Map[String, RowStat]): Unit = {
    val lines = rows.toSeq.sortBy(_._1).flatMap { case (f, rs) =>
      s"$f\t${rs.numRows}" +:
        rs.nullCounts.toSeq.sortBy(_._1).map { case (c, n) => s"$f\t$c\t$n" }
    }
    val out = fs.create(sidecar, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def shardKey(relFile: String): String = {
    val i = relFile.indexOf('/')
    if (i < 0) "-" else relFile.substring(0, i)
  }

  /** Parse a `_rows` sidecar; absent ⇒ empty. */
  private def readRows(fs: FileSystem, sidecar: Path): Map[String, RowStat] = {
    if (!fs.exists(sidecar)) return Map.empty
    val in = fs.open(sidecar)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val recs = txt.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      .map(_.split('\t'))
    val counts = recs.collect { case Array(f, n) => f -> n.toLong }.toMap
    val nulls = recs.collect { case Array(f, c, n) => (f, c, n.toLong) }
      .groupBy(_._1).map { case (f, rows) =>
        f -> rows.map(r => r._2 -> r._3).toMap
      }
    counts.map { case (f, n) =>
      f -> RowStat(n, nulls.getOrElse(f, Map.empty))
    }
  }

  /** Parse a `_stats` sidecar; absent ⇒ empty. */
  private def read(fs: FileSystem, sidecar: Path): Map[String, Map[String, ColStat]] = {
    if (!fs.exists(sidecar)) return Map.empty
    val in = fs.open(sidecar)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    txt.split('\n').toSeq.map(_.trim).filter(_.nonEmpty).flatMap { line =>
      line.split('\t') match {
        case Array(f, c, t, mn, mx) => Some((f, c, ColStat(t, mn, mx)))
        case _                      => None
      }
    }.groupBy(_._1).map { case (f, rows) =>
      f -> rows.map(r => r._2 -> r._3).toMap
    }
  }

  /** Can a file with these stats contain a value in [lower, upper]
    * (either bound open)? Errs to `true` on any type mismatch — pruning
    * must never drop a file it can't prove empty. The temporal/decimal
    * typs compare ONLY against their matching wrapper bound (DateDays /
    * Micros with the same utc-ness / BigDecimal): a raw Long probing a
    * `date` stat keeps the file — epoch days and plain ints live in
    * the same value space but mean different things.
    */
  def mayContain(cs: ColStat, lower: Option[Any], upper: Option[Any]): Boolean =
    try cs.typ match {
      case "long" =>
        val mn = cs.min.toLong; val mx = cs.max.toLong
        lower.forall(l => mx >= toLong(l)) && upper.forall(u => mn <= toLong(u))
      case "date" =>
        val mn = cs.min.toLong; val mx = cs.max.toLong
        def d(v: Any): Option[Long] = v match {
          case DateDays(days) => Some(days); case _ => None
        }
        lower.forall(l => d(l).forall(mx >= _)) &&
          upper.forall(u => d(u).forall(mn <= _))
      case "ts" | "tsntz" =>
        val mn = cs.min.toLong; val mx = cs.max.toLong
        val wantUtc = cs.typ == "ts"
        def m(v: Any): Option[Long] = v match {
          case Micros(us, utc) if utc == wantUtc => Some(us); case _ => None
        }
        lower.forall(l => m(l).forall(mx >= _)) &&
          upper.forall(u => m(u).forall(mn <= _))
      case "decimal" =>
        val mn = new java.math.BigDecimal(cs.min)
        val mx = new java.math.BigDecimal(cs.max)
        def bd(v: Any): Option[java.math.BigDecimal] = v match {
          case b: java.math.BigDecimal => Some(b); case _ => None
        }
        lower.forall(l => bd(l).forall(mx.compareTo(_) >= 0)) &&
          upper.forall(u => bd(u).forall(mn.compareTo(_) <= 0))
      case "double" =>
        val mn = cs.min.toDouble; val mx = cs.max.toDouble
        lower.forall(l => mx >= toDouble(l)) && upper.forall(u => mn <= toDouble(u))
      case "string" =>
        val mn = b64d.decode(cs.min); val mx = b64d.decode(cs.max)
        val lo = lower.map(v => v.toString.getBytes("UTF-8"))
        val hi = upper.map(v => v.toString.getBytes("UTF-8"))
        lo.forall(l => cmpBytes(mx, l) >= 0) && hi.forall(u => cmpBytes(mn, u) <= 0)
      case _ => true
    } catch { case _: NumberFormatException | _: IllegalArgumentException => true }

  private def toLong(v: Any): Long = v match {
    case n: Number => n.longValue
    case s: String => s.toLong
    case other     => other.toString.toLong
  }
  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue
    case s: String => s.toDouble
    case other     => other.toString.toDouble
  }
}
