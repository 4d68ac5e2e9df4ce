package graft.plans

import java.util.{Collections, WeakHashMap => JWeakHashMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._

/** Automatic predicate-driven data skipping. The warehouse has ONE
  * file pruner, `Warehouse.prune`, driven by a [[Pred]]: the named-
  * predicate reads (`readSkipping`, `readEquals`, `readSkippingIsNull`)
  * reach it when the CALLER names the predicate up front; this module
  * reaches it when the predicate arrives the way real queries write it:
  *
  * {{{ wh.read("t").where($"k" between (10, 20)) }}}
  * {{{ spark.sql("SELECT ... FROM t WHERE k IN (3, 7)") }}}
  *
  * Mechanism (the Delta/Hyperspace shape, built on public API only):
  * every manifest read registers its scan's `FileIndex` in a weak
  * identity map alongside a snapshot-pinned prune hook. A
  * `Rule[LogicalPlan]` — injected via `GraftExtensions` or installed
  * lazily through `spark.experimental.extraOptimizations` — matches
  * `Filter` directly above a registered scan (the optimized-plan
  * shape after Catalyst's own pushdown), extracts the supported
  * conjuncts as [[Pred]]s (range / IN / IS [NOT] NULL / single-column
  * OR over the types the stat sidecars cover), runs each through the
  * same `prune` (chunk-header skip, then partition paths, footer
  * min/max, blooms and null counts per file, all against the manifest
  * version the read resolved), intersects the survivors, and swaps
  * the relation's `FileIndex` for a [[PrunedFileIndex]] restricted to
  * them.
  *
  * Correctness boundaries, each load-bearing:
  *  - the `Filter` stays in the plan — stats pruning is a fast path,
  *    never the row-level truth (the residual discipline of the
  *    warehouse's pruned read);
  *  - the relation's schema/output attributes are UNTOUCHED: the
  *    wrapper delegates `partitionSchema` to the original index, so
  *    the hive partition type-flip trap the pruned read's type guard
  *    catches (a pruned subset inferring a different partition type
  *    than the full table) cannot arise — inference already happened
  *    over the full file set;
  *  - the hook is pinned to the manifest the read resolved, so a
  *    commit racing optimization can never pair one snapshot's file
  *    list with another's stats;
  *  - the DV anti-join's right side is never registered (its files
  *    live under `<root>/_dv...`, which the registration's endpoint
  *    prefix checks exclude), so merge-on-read deletes survive
  *    pruning;
  *  - unknown stats / unsupported types / non-conjunct predicates
  *    extract to nothing and the rule no-ops.
  *
  * At 100 TB this is the difference between "the engine CAN skip"
  * and "the engine DOES skip": a dashboard's `WHERE day = ...` over
  * a range-clustered petabyte table plans a handful of files without
  * the query author knowing the named-predicate reads exist.
  */
object AutoSkip {

  /** A prunable conjunct: [lower, upper] range (inclusive, either
    * side open) or a value set. Values are Scala externals in the
    * shapes `FileStats.mayContain` compares (`Number`, `String`).
    */
  sealed trait Pred { def column: String }
  final case class RangePred(column: String, lower: Option[Any],
      upper: Option[Any]) extends Pred
  final case class InPred(column: String, values: Seq[Any]) extends Pred
  final case class NullPred(column: String, isNull: Boolean) extends Pred
  /** Disjunction over ONE column (`k < 10 OR k > 90`): a file is kept
    * when ANY branch may contain it — the prune unions branch
    * survivors. Single-column only: a multi-column OR cannot drop a
    * file from per-column stats without row-level reasoning.
    */
  final case class OrPred(column: String, parts: Seq[Pred]) extends Pred

  /** Snapshot-pinned prune callback: preds → kept ABSOLUTE
    * normalized paths over the whole snapshot, or None when nothing
    * was prunable (no stats, all files survive every probe).
    * `rowCount` is the exact row total of THIS SCAN's files from the
    * `_rows` sidecars (lazy — paid only if a metadata-count query
    * shows up), None when any file predates them. It is the RAW scan
    * count: on a DV table the user-visible count subtracts the
    * anti-join above the scan, which is exactly why [[MetaAggRule]]
    * only ever matches an Aggregate sitting DIRECTLY on the scan.
    * `colMinMax` is the exact (min, max) of an INTEGRAL column over
    * the scan's files from the footer-stat sidecars — None unless
    * every file carries a "long"-typed stat (parquet int32/int64
    * statistics are exact values; binary stats can truncate and
    * double stats ignore NaN, so neither is offered here).
    */
  final case class Hook(prune: Seq[Pred] => Option[Set[String]],
      rowCount: () => Option[Long] = () => None,
      colMinMax: (String, String) => Option[(Long, Long)] = (_, _) => None,
      colNulls: String => Option[Long] = _ => None,
      partitionGroups: String => Option[Seq[(Option[String], Long)]] = _ => None) {
    // per-hook prune memo (predicate fingerprint → result): lives and
    // dies with the hook, so a fixpoint optimizer batch pays each
    // novel predicate once and — unlike a global map keyed by
    // identityHashCode — a dead hook's entry can never be served to a
    // NEW hook whose identity hash landed on the same value (that
    // collision would prune with another table's kept set: silent
    // wrong drops, the one direction membership errors must never go).
    // Bounded (prunedSet clears at 64 entries): a long-lived scan
    // probed with a stream of novel literals re-pays the prune instead
    // of accumulating a kept-path set per distinct predicate — memo
    // misses cost time, never correctness, and never driver memory.
    private[plans] val pruneMemo =
      new java.util.concurrent.ConcurrentHashMap[String, Option[Set[String]]]()
  }

  // FileIndex identity → hook. Weak keys: an index dies with its
  // plan; the registry must not keep every read's file list alive.
  private val registry =
    Collections.synchronizedMap(new JWeakHashMap[FileIndex, Hook]())

  /** Normalization for membership tests. The same on-disk file
    * reaches this module in THREE string forms (all measured, all
    * simultaneously live in one query):
    *
    *  - the manifest / `$root/$file` strings: the RAW disk name
    *    (`part=p%25q` for hive-escaped value `p%q`);
    *  - `FileIndex.inputFiles`: percent-ENCODED once more
    *    (`part=p%2525q`) — the index was built from string paths and
    *    Hadoop Path quoted the '%';
    *  - `listFiles(...).files.getPath.toString`: the raw name again —
    *    those Paths came from the filesystem listing, a different
    *    provenance with different quoting state.
    *
    * Hadoop Path's string form is simply NOT canonical, so the only
    * safe canonicalization is scheme-strip + percent-decode TO
    * FIXPOINT: every observed form of one file converges (`p%2525q`
    * → `p%25q` → `p%q`; `p%25q` → `p%q`; invalid escapes like the
    * literal `%q` stay put and terminate the loop). Over-decoding
    * can only CONFLATE two names, never separate them — a collision
    * adds a file to `keep`, and keeping an extra file is corrected
    * by the residual Filter; dropping one (what any single-decode
    * scheme did on some provenance) silently empties the scan.
    * LayoutSpec's URL-decode-trap tests and AutoSkipSpec's nasty-
    * partition test pin every escaping class.
    */
  private[graft] def norm(p: String): String = {
    var s = stripScheme(p)
    var prev: String = null
    while (!s.equals(prev)) { prev = s; s = decodeOnce(s) }
    s
  }

  private def decodeOnce(s: String): String = {
    if (s.indexOf('%') < 0) return s
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val out = new java.io.ByteArrayOutputStream(s.length)
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == '%' && i + 2 < bytes.length &&
          hex(bytes(i + 1).toChar) >= 0 && hex(bytes(i + 2).toChar) >= 0) {
        out.write(hex(bytes(i + 1).toChar) * 16 + hex(bytes(i + 2).toChar))
        i += 3
      } else { out.write(b); i += 1 }
    }
    new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def stripScheme(p: String): String = {
    val c = p.indexOf(':')
    val slash = p.indexOf('/')
    val s = if (c >= 0 && (slash < 0 || c < slash)) p.substring(c + 1) else p
    if (s.startsWith("//")) {
      val i = s.indexOf('/', 2)
      if (i < 0) s else s.substring(i)
    } else s
  }

  // FileIndex identity → its normalized inputFiles, computed once —
  // the rule's per-file Path construction must not repeat per
  // predicate shape or per fixpoint iteration on a 10⁶-file scan.
  private val normCache =
    Collections.synchronizedMap(new JWeakHashMap[FileIndex, Array[String]]())

  private[plans] def normFiles(idx: FileIndex): Array[String] = {
    val c = normCache.get(idx)
    if (c != null) c
    else {
      val n = idx.inputFiles.map(norm)
      normCache.put(idx, n)
      n
    }
  }

  /** Register every file-source scan inside `df` that lies under the
    * table's own data layout — `<tableRoot>/...` but never
    * `<tableRoot>/_dv_...` — which is exactly the set of scans
    * `readFiles` builds, and excludes the DV anti-join's scan. The
    * check normalizes only each relation's FIRST and LAST file:
    * `readFilesMor` constructs every relation in `df` from one
    * version dir's file list (or the DV dir), so the endpoints decide
    * membership for the whole relation — O(1) per relation, never
    * O(files), and this function is only ever handed frames built by
    * that one constructor.
    */
  def register(df: DataFrame, tableRoot: String, hook: Hook): Unit = {
    val tp = norm(tableRoot).stripSuffix("/")
    val data = tp + "/"
    val dv = tp + "/_dv"
    def ours(f: String): Boolean = {
      val n = norm(f); n.startsWith(data) && !n.startsWith(dv)
    }
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRelation => lr.relation match {
        case hfs: HadoopFsRelation =>
          // endpoint check over rootPaths, NOT inputFiles: the scans
          // readFilesMor builds pass their explicit file list as the
          // index's root paths, so the already-materialized Seq[Path]
          // answers the membership question without inputFiles'
          // fresh O(files) string-array rebuild on every read
          val rp = hfs.location.rootPaths
          if (rp.nonEmpty && ours(rp.head.toString) && ours(rp.last.toString))
            registry.put(hfs.location, hook)
        case _ =>
      }
      case _ =>
    }
  }

  /** Idempotently install the rule on a session built without
    * `spark.sql.extensions=graft.GraftExtensions` (the same lazy
    * dual-path contract as `NativeExprs.register`).
    */
  def install(spark: SparkSession): Unit = synchronized {
    // a session built with spark.sql.extensions=graft.GraftExtensions
    // already carries BOTH rules via injectOptimizerRule — appending
    // them to extraOptimizations too would run every rule twice per
    // optimization (idempotent thanks to the fp/shape guards, but a
    // pure tax paid by the per-query Warehouse each TVF constructs)
    if (spark.conf.get("spark.sql.extensions", "")
        .contains("graft.GraftExtensions")) return
    val cur = spark.experimental.extraOptimizations
    val add = Seq(
      if (cur.exists(_.isInstanceOf[MetaAggRule])) None
      else Some(new MetaAggRule),
      if (cur.exists(_.isInstanceOf[AutoSkipRule])) None
      else Some(new AutoSkipRule),
      if (cur.exists(_.isInstanceOf[JoinSkipRule])) None
      else Some(new JoinSkipRule)).flatten
    if (add.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ add
  }

  private[plans] def fingerprint(preds: Seq[Pred]): String =
    preds.map(_.toString).sorted.mkString("|")

  private[plans] def prunedSet(hook: Hook,
      preds: Seq[Pred]): Option[Set[String]] = {
    val fp = fingerprint(preds)
    val cached = hook.pruneMemo.get(fp)
    if (cached != null) cached
    else {
      val r = hook.prune(preds)
      // bounded memo: wipe-at-cap beats unbounded growth on a
      // long-lived scan probed with ever-novel literals (each kept
      // set is O(files) strings); re-pruning after a wipe costs
      // time only
      if (hook.pruneMemo.size >= 64) hook.pruneMemo.clear()
      hook.pruneMemo.put(fp, r)
      r
    }
  }

  private[plans] def lookup(idx: FileIndex): Option[Hook] =
    Option(registry.get(idx))

  // ---- predicate extraction -----------------------------------------

  private[plans] def litValue(l: Literal): Option[Any] =
    if (l.value == null) None
    else l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(java.lang.Long.valueOf(l.value.asInstanceOf[Number].longValue))
      case FloatType =>
        Some(java.lang.Double.valueOf(l.value.asInstanceOf[Float].toDouble))
      case DoubleType => Some(l.value.asInstanceOf[java.lang.Double])
      case StringType => Some(l.value.toString) // UTF8String → String
      // temporal/decimal bounds travel as their own wrapper types so
      // the prune stack can never confuse epoch days / micros /
      // unscaled decimals with plain ints (a raw-long compare against
      // encoded physical values could WRONGLY PRUNE). The sidecars
      // carry exact `date`/`ts`/`tsntz`/`decimal` stats for them
      // (FileStats.footerAll); any layer that predates the wrapper
      // keeps the file — the conservative direction.
      case DateType =>
        Some(graft.sources.FileStats.DateDays(
          l.value.asInstanceOf[Number].longValue))
      case TimestampType =>
        Some(graft.sources.FileStats.Micros(
          l.value.asInstanceOf[Number].longValue, utc = true))
      case TimestampNTZType =>
        Some(graft.sources.FileStats.Micros(
          l.value.asInstanceOf[Number].longValue, utc = false))
      case _: DecimalType =>
        Some(l.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
      case _ => None
    }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x         => Seq(x)
  }

  /** A disjunction whose every branch extracts to a supported pred
    * over ONE shared attribute: pure-equality shapes (`k = 1 OR k IN
    * (5, 9)`) fold to the flat IN form (single prune pass, bloom-
    * probed); mixed shapes — notably range disjunctions like `k < 10
    * OR k > 90` — become an [[OrPred]] whose prune unions the branch
    * survivors. Any branch that doesn't extract, or a second column,
    * makes the whole OR unprunable (None) — conservative as always.
    */
  private def orExtract(e: Expression): Option[Pred] = {
    def leaves(x: Expression): Option[Seq[Pred]] = x match {
      case Or(l, r) => for (a <- leaves(l); b <- leaves(r)) yield a ++ b
      case other    => extractOne(other).map(Seq(_))
    }
    leaves(e).flatMap { ps =>
      val cols = ps.map(_.column).distinct
      if (cols.size != 1 || ps.size > 16) None
      else if (ps.forall(_.isInstanceOf[InPred])) {
        val vals = ps.flatMap(_.asInstanceOf[InPred].values)
        if (vals.size <= 64) Some(InPred(cols.head, vals)) else None
      }
      else Some(OrPred(cols.head, ps))
    }
  }

  /** Smallest string (in code-point order, which is UTF-8 byte order —
    * the footer-stat compare) strictly greater than every string with
    * this prefix: increment the last char. Restricted to chars below
    * the surrogate range so UTF-16 char order and code-point order
    * agree; a prefix ending in high chars returns None (no upper bound
    * — the lower bound still prunes).
    */
  private def prefixSuccessor(prefix: String): Option[String] = {
    val i = prefix.lastIndexWhere(c => c < 0xD7FF.toChar)
    if (i < 0) None
    else Some(prefix.substring(0, i) + (prefix.charAt(i) + 1).toChar)
  }

  /** Supported conjuncts → preds. Anything else (casts, expressions
    * over the column, exotic null checks) contributes nothing —
    * conservative by construction. One-sided ranges over the same
    * column pair up (the BETWEEN shape, `lo <= k AND k <= hi`): the
    * intersection prune would get the same ANSWER from two half-line
    * probes, but each half-line OPENS every chunk on its side — on a
    * date-clustered decade that is most of the table — while the
    * two-sided range opens only the interval's chunks.
    */
  private[plans] def extract(cond: Expression): Seq[Pred] = {
    val raw = splitConj(cond).flatMap {
      case o: Or => orExtract(o)
      case e     => extractOne(e)
    }
    val (ranges, others) = raw.partition(_.isInstanceOf[RangePred])
    val merged = ranges.map(_.asInstanceOf[RangePred])
      .groupBy(_.column).toSeq.sortBy(_._1).flatMap { case (c, rs) =>
        val lo = rs.filter(r => r.lower.isDefined && r.upper.isEmpty)
        val hi = rs.filter(r => r.upper.isDefined && r.lower.isEmpty)
        if (rs.size == 2 && lo.size == 1 && hi.size == 1)
          Seq(RangePred(c, lo.head.lower, hi.head.upper))
        else rs
      }
    others ++ merged
  }

  /** One non-OR conjunct → pred (the shared leaf extractor for
    * `extract` and the OR-branch walk).
    */
  private def extractOne(cond: Expression): Option[Pred] =
    cond match {
      case EqualTo(a: AttributeReference, l: Literal) =>
        litValue(l).map(v => InPred(a.name, Seq(v)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        litValue(l).map(v => InPred(a.name, Seq(v)))
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        litValue(l).map(v => InPred(a.name, Seq(v)))
      case EqualNullSafe(l: Literal, a: AttributeReference) =>
        litValue(l).map(v => InPred(a.name, Seq(v)))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        litValue(l).map(v => RangePred(a.name, Some(v), None))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        litValue(l).map(v => RangePred(a.name, Some(v), None))
      case LessThan(a: AttributeReference, l: Literal) =>
        litValue(l).map(v => RangePred(a.name, None, Some(v)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        litValue(l).map(v => RangePred(a.name, None, Some(v)))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        litValue(l).map(v => RangePred(a.name, None, Some(v)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        litValue(l).map(v => RangePred(a.name, None, Some(v)))
      case LessThan(l: Literal, a: AttributeReference) =>
        litValue(l).map(v => RangePred(a.name, Some(v), None))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        litValue(l).map(v => RangePred(a.name, Some(v), None))
      case In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.size <= 64 &&
            vs.forall(_.isInstanceOf[Literal]) =>
        val ext = vs.map(v => litValue(v.asInstanceOf[Literal]))
        if (ext.forall(_.isDefined)) Some(InPred(a.name, ext.map(_.get)))
        else None
      case InSet(a: AttributeReference, hset)
          if hset.nonEmpty && hset.size <= 64 =>
        // InSet values are INTERNAL (UTF8String for strings) — route
        // them through a Literal of the attribute's type so the
        // external conversion is the single litValue path
        val ext = hset.toSeq.map(v => litValue(Literal(v, a.dataType)))
        if (ext.forall(_.isDefined)) Some(InPred(a.name, ext.map(_.get)))
        else None
      case StartsWith(a: AttributeReference, l: Literal)
          if l.dataType == StringType && l.value != null =>
        // prefix probe as a byte range: [prefix, successor(prefix)] —
        // successor is inclusive-conservative (at worst one boundary
        // file survives that an exclusive bound would drop)
        val p = l.value.toString
        if (p.isEmpty) None
        else Some(RangePred(a.name, Some(p), prefixSuccessor(p)))
      // IsNull only: a zero-null file (the common case, known from
      // the header null sums) is skipped whole. IsNotNull is NOT
      // extracted — Catalyst infers it onto every filtered column, so
      // it would bill every query for a sidecar sweep that only ever
      // prunes all-null files.
      case IsNull(a: AttributeReference) => Some(NullPred(a.name, true))
      case _ => None
    }
}

/** A `FileIndex` view restricted to `keep` (normalized absolute
  * paths). Everything else — partition schema, partition VALUES
  * (inferred over the FULL file set at relation construction, which
  * is what makes the type-flip guard unnecessary here), root paths —
  * delegates to the original. `fps` is the SET of predicate
  * fingerprints already applied to this index — the loop guard under
  * a fixpoint optimizer batch. It is a set, not a single value,
  * because TWO independent rules prune the same scan (AutoSkipRule
  * from literal predicates, JoinSkipRule from broadcast-side join
  * keys): each re-wrap intersects survivors and adds its fingerprint,
  * so every distinct pruning applies exactly once and the batch
  * converges instead of ping-ponging between the rules.
  */
final class PrunedFileIndex(val orig: FileIndex, keep: Set[String],
    private[plans] val fps: Set[String]) extends FileIndex {
  def this(orig: FileIndex, keep: Set[String], fp: String) =
    this(orig, keep, Set(fp))
  override def rootPaths: Seq[Path] = orig.rootPaths
  override def partitionSchema: StructType = orig.partitionSchema
  override def refresh(): Unit = orig.refresh()
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    orig.listFiles(partitionFilters, dataFilters).flatMap { pd =>
      val fl = pd.files.filter(f =>
        keep(AutoSkip.norm(f.getPath.toString)))
      if (fl.isEmpty) None else Some(PartitionDirectory(pd.values, fl))
    }
  override def inputFiles: Array[String] =
    orig.inputFiles.filter(f => keep(AutoSkip.norm(f)))
  override lazy val sizeInBytes: Long =
    listFiles(Nil, Nil).flatMap(_.files).map(_.getLen).sum
  override def toString: String =
    s"PrunedFileIndex(${inputFiles.length} of ${orig.inputFiles.length} files)"
}

/** The optimizer rule. Matches the post-pushdown shape
  * `Filter(cond, LogicalRelation(HadoopFsRelation))` for registered
  * scans; rewrites the relation's index to the pruned view; leaves
  * the Filter as the exact residual. Wrapping happens even when
  * nothing was pruned (same file count) — the `fp` marker is what
  * stops the fixpoint batch from re-running the prune.
  */
/** Metadata-only aggregates: a global Aggregate of `count(*)` /
  * `min(intCol)` / `max(intCol)` expressions, sitting on a registered
  * scan through nothing but Projects (row-preserving, and alias
  * indirection is rejected because the aggregated attribute must be
  * the relation's own output attribute), collapses to a LocalRelation
  * holding the `_rows` / footer-stat sidecar answers — zero data
  * files opened, the lakehouse metadata-query fast path at the
  * automatic-plan level (`SELECT count(*), max(k) FROM
  * graft_table(...)`).
  *
  * The guards carry the correctness:
  *  - only the BARE scan shape matches — a DV table's user count has
  *    the anti-join above the scan and an auto-skipped read has its
  *    residual Filter, so neither can collapse;
  *  - the scan must not be a [[PrunedFileIndex]] (a pruned subset's
  *    sidecar totals are the subset's, and the residual Filter above
  *    would have blocked the match anyway — belt and braces);
  *  - `rowCount`/`colMinMax` are None the moment ANY scan file
  *    predates the sidecars — unknown never becomes a made-up value;
  *  - min/max collapse only for INTEGRAL columns, where parquet
  *    footer statistics are exact. Strings (truncatable binary
  *    stats), doubles (NaN-blind stats vs Spark's NaN-is-greatest
  *    max), dates/decimals/timestamps (encoded physical values) all
  *    keep the scan;
  *  - a column with an all-null file has no stat for that file ⇒
  *    None ⇒ no collapse — so null-ignoring aggregate semantics can
  *    never be faked from partial stats.
  */
final class MetaAggRule extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Project}
  import org.apache.spark.unsafe.types.UTF8String

  private def bareScan(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation  => Some(lr)
    case Project(_, child)    => bareScan(child)
    case _                    => None
  }

  /** Spark type → the sidecar stat typ whose min/max is EXACT for it
    * (plain ints; int32-days dates; int64-micros timestamps — never
    * strings/doubles, see the class doc). None ⇒ no collapse.
    */
  private def statTyp(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case DateType         => Some("date")
    case TimestampType    => Some("ts")
    case TimestampNTZType => Some("tsntz")
    case _                => None
  }

  private def toTyped(v: Long, dt: DataType): Any = dt match {
    case ByteType    => v.toByte
    case ShortType   => v.toShort
    case IntegerType => v.toInt
    case DateType    => v.toInt // internal DateType value: epoch days
    case _           => v      // Long / Timestamp[NTZ] micros
  }

  /** The metadata answer for one global-aggregate output, or None ⇒
    * the whole Aggregate keeps its scan.
    */
  private def answer(e: Expression, lr: LogicalRelation,
      hook: AutoSkip.Hook): Option[Any] = e match {
    case Alias(child, _) => answer(child, lr, hook)
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null => hook.rowCount()
        // count(col) = rows − nulls: both exact in the `_rows`
        // sidecars (the null totals are per-row-group footer sums,
        // recorded only when EVERY row group knew them)
        case Count(Seq(a: AttributeReference))
            if lr.output.exists(_.exprId == a.exprId) =>
          for (r <- hook.rowCount(); n <- hook.colNulls(a.name)) yield r - n
        case Min(a: AttributeReference)
            if lr.output.exists(_.exprId == a.exprId) =>
          statTyp(a.dataType).flatMap(t => hook.colMinMax(a.name, t))
            .map(mm => toTyped(mm._1, a.dataType))
        case Max(a: AttributeReference)
            if lr.output.exists(_.exprId == a.exprId) =>
          statTyp(a.dataType).flatMap(t => hook.colMinMax(a.name, t))
            .map(mm => toTyped(mm._2, a.dataType))
        case _ => None
      }
    case _ => None
  }

  /** Decode a raw hive partition-path value (None = the
    * `__HIVE_DEFAULT_PARTITION__` null group) to the group column's
    * INTERNAL value; an undecodable value aborts the whole collapse.
    */
  private def groupValue(raw: Option[String], dt: DataType): Option[Any] =
    raw match {
      case None => Some(null)
      case Some(s) => dt match {
        case StringType => Some(UTF8String.fromString(s))
        case ByteType | ShortType | IntegerType | LongType =>
          s.toLongOption.map(toTyped(_, dt))
        case DateType =>
          try Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
          catch { case _: java.time.format.DateTimeParseException => None }
        case _ => None
      }
    }

  /** GROUP BY <partition column> with count(*)-shaped aggregates over
    * a clean bare scan: one row per partition directory, counts from
    * the `_rows` sidecar sums the hook groups by the column's path
    * segment — zero data files opened. Output slots may be the group
    * attribute itself (any alias) or count(*); anything else keeps
    * the scan.
    */
  private def groupCollapse(a: Aggregate, g: AttributeReference,
      lr: LogicalRelation, hook: AutoSkip.Hook): Option[LogicalPlan] = {
    if (!lr.output.exists(_.exprId == g.exprId)) return None
    def slot(e: Expression): Option[Long => Any] = e match {
      case Alias(child, _) => slot(child)
      case ar: AttributeReference if ar.exprId == g.exprId => None // group value — handled by caller
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) if l.value != null => Some(n => n)
          case _ => return Some(null) // unsupported agg poisons (sentinel)
        }
      case _ => return Some(null)
    }
    // slots first (pure expression checks), hook second: a grouped
    // shape with any unsupported aggregate must bail before the hook
    // does metadata work
    val slots = a.aggregateExpressions.map(slot)
    if (slots.contains(Some(null))) return None
    val groups = hook.partitionGroups(g.name).getOrElse(return None)
    // re-group by the DECODED internal value, not the raw path
    // segment: two renderings that decode to one value (k=1 vs k=01
    // or +1 in an externally authored int layout) are ONE group to a
    // real aggregate, so their sidecar counts must merge here too.
    // Decoded values group safely by equality (UTF8String/boxed
    // primitives/null); order is pinned by each group's smallest raw
    // rendering for determinism — an Aggregate's row order is
    // unspecified anyway.
    val decoded = groups.toSeq.map { case (raw, n) =>
      (groupValue(raw, g.dataType).getOrElse(return None), raw, n)
    }
    val rows = decoded.groupBy(_._1).toSeq
      .map { case (gv, grp) => (grp.map(_._2).min, gv, grp.map(_._3).sum) }
      .sortBy(_._1).map { case (_, gv, n) =>
        InternalRow(slots.map {
          case None    => gv
          case Some(f) => f(n)
        }: _*)
      }
    Some(LocalRelation(a.output, rows))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a @ Aggregate(groupExprs, aggExprs, child, _) if aggExprs.nonEmpty &&
        (groupExprs.isEmpty || groupExprs.forall(_.isInstanceOf[AttributeReference])) =>
      bareScan(child) match {
        case Some(lr) => lr.relation match {
          case hfs: HadoopFsRelation
              if !hfs.location.isInstanceOf[PrunedFileIndex] =>
            AutoSkip.lookup(hfs.location) match {
              case Some(hook) if groupExprs.isEmpty =>
                val vals = aggExprs.map(e => answer(e, lr, hook))
                if (vals.forall(_.isDefined))
                  LocalRelation(a.output, Seq(InternalRow(vals.map(_.get): _*)))
                else a
              case Some(hook) =>
                groupExprs match {
                  case Seq(g: AttributeReference) =>
                    groupCollapse(a, g, lr, hook).getOrElse(a)
                  case _ => a
                }
              case None => a
            }
          case _ => a
        }
        case None => a
      }
  }
}

final class AutoSkipRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, lr: LogicalRelation) =>
      lr.relation match {
        case hfs: HadoopFsRelation =>
          val loc = hfs.location
          val base = loc match {
            case p: PrunedFileIndex => p.orig
            case o                  => o
          }
          AutoSkip.lookup(base) match {
            case None => f
            case Some(hook) =>
              val preds = AutoSkip.extract(cond)
              if (preds.isEmpty) f
              else {
                val fp = AutoSkip.fingerprint(preds)
                loc match {
                  case p: PrunedFileIndex if p.fps(fp) => f // converged
                  case _ => AutoSkip.prunedSet(hook, preds) match {
                    case None => f
                    case Some(keptAbs) =>
                      // intersect with the CURRENT survivors (loc, not
                      // base): an earlier prune under different preds
                      // must stay honored. normFiles memoizes the
                      // normalization per index.
                      val keep = AutoSkip.normFiles(loc).iterator
                        .filter(keptAbs.contains).toSet
                      val prior = loc match {
                        case p: PrunedFileIndex => p.fps
                        case _                  => Set.empty[String]
                      }
                      val idx = new PrunedFileIndex(base, keep, prior + fp)
                      val nrel = hfs.copy(location = idx)(hfs.sparkSession)
                      Filter(cond, lr.copy(relation = nrel))
                  }
                }
              }
          }
        case _ => f
      }
  }
}
