package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.LocalFileSystem
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Session extension injecting the engine's native Catalyst functions
  * at session construction — the Spark-provided extension point for
  * exactly this:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * makes `graft_rolling_hash`, `graft_rolling_hash2`, `graft_vec_dot`
  * and `graft_shingles3` available to a PURE-SQL user (spark-sql,
  * Thrift server, notebook SQL cells) with no Scala call anywhere —
  * plus the `graft_changes(root, table, fromV, toV)` TABLE function,
  * the change feed's SQL surface (see `graft.sources.ChangesTvf`).
  * The lazy `NativeExprs.register` / `ChangesTvf.register` paths
  * remain for sessions built without the config — each reads the same
  * builder as its injection, so the two paths cannot drift.
  *
  * Loading the extension also sizes Spark's generated-code cache for
  * the engine's working set (`GraftExtensions.CodegenCacheEntries`).
  * `CodeGenerator` keeps every compiled class in one JVM-wide cache
  * keyed by (context class loader, source), so a class compiled on the
  * driver and again in a task takes two entries. Its size is the static
  * conf `spark.sql.codegen.cache.maxEntries` (default 100), read once,
  * when the `CodeGenerator` object initializes. One EDINET batch needs
  * about 200 distinct classes and one catalog pass about 135: at 100
  * entries every pass evicted its own classes and janino compiled them
  * again, and task threads queued behind each other's compiles. Every
  * session loads this extension (`GraftSession`, a hand-built session
  * naming `spark.sql.extensions=graft.GraftExtensions`, a spark-sql
  * user), so the cache is sized here, once per JVM, before its first
  * use. Limit: if anything in the JVM generated code before the first
  * graft session was built, the cache already exists and keeps the
  * size it was built with.
  *
  * It also installs the engine's `file://` FileSystem on the active
  * `SparkContext`'s Hadoop configuration: `fs.file.impl` names
  * `graft.sources.NioLocalFileSystem` and
  * `fs.AbstractFileSystem.file.impl` (FileContext, through which
  * Spark's streaming checkpoint manager renames) names
  * `graft.sources.NioLocalFs`. With no native Hadoop library loaded,
  * Hadoop's own local FileSystem starts a `chmod` process for every
  * create and mkdir and a `readlink` process for every link probe,
  * about 420 per catalog pass; these classes do the same through
  * java.nio, with the same permission bits, `.crc` sidecars and rename
  * contract as the classes they replace. A key
  * the configuration already sets to a class of its own (e.g.
  * `spark.hadoop.fs.file.impl`) is left alone. Limit: Hadoop caches a
  * FileSystem per scheme for the JVM, so if anything opened a
  * `file://` FileSystem before the first graft session was built, the
  * JVM keeps Hadoop's class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.codegenCacheSized
    // applyExtensions runs after the session's SparkContext is active
    GraftExtensions.installLocalFs(SparkContext.getOrCreate().hadoopConfiguration)
    graft.functions.NativeExprs.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectTableFunction((FunctionIdentifier(graft.sources.ChangesTvf.name),
      graft.sources.ChangesTvf.info, graft.sources.ChangesTvf.builder))
    ext.injectTableFunction((FunctionIdentifier(graft.sources.TableTvf.name),
      graft.sources.TableTvf.info, graft.sources.TableTvf.builder))
    ext.injectTableFunction((FunctionIdentifier(graft.sources.StatsTvf.name),
      graft.sources.StatsTvf.info, graft.sources.StatsTvf.builder))
    ext.injectTableFunction((FunctionIdentifier(graft.sources.HistoryTvf.name),
      graft.sources.HistoryTvf.info, graft.sources.HistoryTvf.builder))
    // automatic data skipping: Filter-over-manifest-scan plans prune
    // files by footer stats / blooms (graft.plans.AutoSkip). The lazy
    // twin is AutoSkip.install, run by every manifest Warehouse
    // constructor — same rule instance semantics, so the paths can't
    // drift.
    ext.injectOptimizerRule(_ => new graft.plans.MetaAggRule)
    ext.injectOptimizerRule(_ => new graft.plans.AutoSkipRule)
    ext.injectOptimizerRule(_ => new graft.plans.JoinSkipRule)
    // catalog reads (spark.sql.catalog.<name>=graft.sources.GraftCatalog)
    // splice the warehouse's V1 read plan over the resolved V2 relation
    // at analysis — the catalog half of the Delta-style pairing. No
    // lazy twin: catalog SQL requires this extension, exactly like
    // Delta's session extension requirement.
    ext.injectPostHocResolutionRule(s => new graft.plans.CatalogReadRule(s))
    // SQL DML (DELETE/UPDATE/MERGE on catalog tables) onto the
    // warehouse's row-level commit paths — must run AFTER the read
    // rule (same batch, registration order), which leaves DML targets
    // un-spliced for exactly this rule to consume.
    ext.injectPostHocResolutionRule(s => new graft.plans.CatalogDmlRule(s))
    // streaming reads through catalog names (readStream.table) splice
    // to the graft-changes V1 source filtered to insert rows
    ext.injectPostHocResolutionRule(s => new graft.plans.CatalogStreamRule(s))
    // SQL views on the graft catalog: OSS Spark ships the ViewCatalog
    // API with no analyzer/DDL wiring — the parser rewrite routes view
    // DDL onto GraftCatalog's ViewCatalog surface before the session-
    // catalog refusal can fire, and the resolution rule expands stored
    // views at read (see plans/CatalogViews.scala)
    ext.injectParser((s, delegate) => new graft.plans.GraftViewParser(s, delegate))
    ext.injectResolutionRule(s => new graft.plans.CatalogViewReadRule(s))
  }
}

object GraftExtensions {
  /** Entries of Spark's generated-code cache. The largest working set
    * measured is `graft.Verify` at sf0.01 (all 218 queries in one JVM):
    * 2,021 distinct classes held as about 3,490 entries, one per class
    * loader that compiled each (the driver's, and the tasks'). The
    * benchmark's EDINET and catalog runs need about 280 each. This
    * holds the largest with twice its size to spare.
    */
  val CodegenCacheEntries = 8192

  // initializes the CodeGenerator object under a conf naming the size;
  // the lazy val makes every later call a no-op
  private lazy val codegenCacheSized: Unit = {
    val conf = new SQLConf
    conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, CodegenCacheEntries)
    SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
  }

  /** Names the engine's `file://` classes (see the class doc) under each
    * key that is unset or names Hadoop's default.
    */
  private[graft] def installLocalFs(conf: Configuration): Unit = Seq(
    "fs.file.impl" -> (classOf[LocalFileSystem], classOf[graft.sources.NioLocalFileSystem]),
    "fs.AbstractFileSystem.file.impl" -> (classOf[LocalFs], classOf[graft.sources.NioLocalFs])
  ).foreach { case (key, (hadoop, nio)) =>
    if (Option(conf.get(key)).forall(_ == hadoop.getName)) conf.set(key, nio.getName)
  }
}
