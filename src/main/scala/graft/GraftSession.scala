package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (Bench, Verify, Explain, Cli,
  * ScaleProbe) and the test fixture build their SparkSession here, so
  * each session conf is set in exactly one place and every run plans
  * with the same Catalyst extensions.
  *
  *  - `local[cpus]` with `cpus` shuffle partitions; `cpus` defaults to
  *    `SPARK_GRAFT_CPUS`, else 4. `master` overrides the local master
  *    (a deployment address); the shuffle width still follows `cpus`.
  *  - UTC session time zone, no UI.
  *  - `TIMESTAMP_MICROS` parquet output: int96 (the default) carries
  *    no usable footer stats; micros makes timestamp columns
  *    skippable and meta-aggregatable like dates.
  *  - `graft.GraftExtensions`: native functions, TVFs, MetaAgg,
  *    AutoSkip and JoinSkip. Loading it also sizes Spark's
  *    generated-code cache (see the `GraftExtensions` class doc), so
  *    this factory sets no codegen cache conf of its own.
  *  - `spark.sql.codegen.fallback=false`: an expression whose generated
  *    code fails to compile is a hard error, not a silent fall-back to
  *    interpreted evaluation (a hidden 10x slowdown).
  *
  * Host requirement: the JVM must run under a UTF-8 locale (e.g.
  * `LC_ALL=C.UTF-8`). Without one Java encodes file names as ASCII and
  * writing a non-ASCII hive partition value fails with
  * InvalidPathException. A session cannot fix that (the encoding is
  * fixed at JVM start); `build.sbt` sets the locale for forked tests
  * and `sbt run`.
  */
object GraftSession {
  def apply(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt),
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
