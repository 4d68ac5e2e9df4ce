package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Scratch warehouse roots for the catalog queries that DEMO the
  * publish→serve pattern (j10's bucketed join, the d11/sim5/x20/x21/
  * x26 index serves, m25's metadata counts). Three problems with the
  * previous per-query `Files.createTempDirectory` calls, all fixed
  * here in one place:
  *
  *  1. **Placement was hard-coded to driver-local /tmp** — fine in the
  *     bench sandbox, wrong as a library example (a cluster wants the
  *     index on shared storage). The root now resolves
  *     `spark.conf "graft.scratch.root"` → env `GRAFT_SCRATCH_ROOT` →
  *     local tmp, so a deployment points one knob at its warehouse
  *     volume and every serve query publishes there, any Hadoop
  *     scheme.
  *  2. **Disk leaked one warehouse copy per invocation** (bench runs
  *     each query 3×, serial driver runs stack up forever). Each key's
  *     PREVIOUS scratch dir is deleted as soon as a new one is
  *     allocated — at most one live dir per key per JVM — and a
  *     shutdown hook removes everything this JVM created. (Safe
  *     because Verify/Bench never consume an invocation's DataFrame
  *     after re-invoking the same query; a caller that needs two live
  *     frames of one query uses distinct keys.)
  *  3. **Catalog names were session-global** (two concurrent j10 runs
  *     in one session raced on `bkt_orders`). `tableName` namespaces
  *     per invocation and drops the previous invocation's entry
  *     (metadata only — the data lives in the scratch dir and is
  *     reclaimed by 2).
  */
object Scratch {
  private val counter = new java.util.concurrent.atomic.AtomicLong()
  private val prevDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val prevTable =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val live =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // hadoopConf captured at first use so the shutdown hook can delete
  // without a live SparkSession (spark may already be stopped then)
  @volatile private var conf: org.apache.hadoop.conf.Configuration = _

  // All tree deletes run on this single daemon thread, never on the
  // allocating (possibly benchmark-timed) caller: a recursive delete of
  // the previous invocation's multi-table index is real IO, and paying
  // it synchronously inside `dir()` put it inside Bench's measurement
  // window (runs 2..n each started by deleting run n-1's index).
  private val cleaner = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-scratch-cleaner"); t.setDaemon(true); t
    })

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    val c = if (conf != null) conf else new org.apache.hadoop.conf.Configuration()
    live.forEach(s => deleteTree(s, c))
  }))

  /** Fresh scratch warehouse root for `key`; deletes the previous
    * invocation's dir for the same key. Unique per invocation AND per
    * process (pid in the name), so concurrent sessions never collide.
    */
  def dir(spark: SparkSession, key: String): String = {
    conf = spark.sparkContext.hadoopConfiguration
    val base = spark.conf.getOption("graft.scratch.root")
      .orElse(sys.env.get("GRAFT_SCRATCH_ROOT"))
    val name =
      s"graft-$key-p${ProcessHandle.current().pid()}-${counter.incrementAndGet()}"
    val d = base match {
      case Some(b) =>
        val p = new Path(b, name)
        p.getFileSystem(conf).mkdirs(p)
        p.toString
      case None =>
        java.nio.file.Files.createTempDirectory(name).toString
    }
    live.add(d)
    Option(prevDir.put(key, d)).foreach { old =>
      live.remove(old)
      val c = conf
      cleaner.execute(() => deleteTree(old, c))
    }
    d
  }

  /** Delete every scratch dir this JVM has created and WAIT for all
    * pending async deletes to finish. For harness callers (Bench) to
    * invoke BETWEEN timed runs: after this returns, no cleanup IO from
    * a previous invocation can land inside the next measurement window,
    * and the next `dir()` call finds no previous dir to reclaim.
    */
  def clearAll(): Unit = {
    prevDir.clear()
    val c = if (conf != null) conf else new org.apache.hadoop.conf.Configuration()
    live.forEach(s => cleaner.execute(() => deleteTree(s, c)))
    live.clear()
    // barrier: the single-thread executor runs tasks in order, so an
    // empty task completing means every queued delete has completed
    cleaner.submit(new Runnable { def run(): Unit = () }).get()
  }

  /** Scratch manifest Warehouse rooted per `dir(key)`. */
  def warehouse(spark: SparkSession, key: String): Warehouse =
    new Warehouse(spark, dir(spark, key))

  /** Scope the `graft` catalog binding to `body`: bind catalog+root,
    * run, restore the previous binding (or unset). Safe because the
    * catalog resolves its root from the LIVE conf at each analysis and
    * every statement in a query body analyzes EAGERLY (`spark.sql`
    * splices the concrete read plan at call time) — restoring the conf
    * cannot un-resolve a returned DataFrame. Removes the
    * leaked-session-binding ordering hazard across catalog queries
    * (r17 verdict nit).
    */
  def withGraftCatalog[T](spark: SparkSession, root: String)(body: => T): T = {
    val keys = Seq("spark.sql.catalog.graft", "spark.sql.catalog.graft.root")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", root)
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Per-invocation catalog table name for `base`; drops the previous
    * invocation's entry (external-table metadata only).
    */
  def tableName(spark: SparkSession, base: String): String = {
    val n = s"${base}_${counter.incrementAndGet()}"
    Option(prevTable.put(base, n))
      .foreach(o => spark.sql(s"DROP TABLE IF EXISTS $o"))
    n
  }

  private def deleteTree(s: String, c: org.apache.hadoop.conf.Configuration): Unit =
    try {
      val p = new Path(s)
      val fs = p.getFileSystem(c)
      fs.delete(p, true); ()
    } catch { case _: java.io.IOException => () }
}
