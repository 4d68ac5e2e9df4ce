package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.etl.{Ingest, Standardize, Summary}
import graft.sources.{EdinetCsv, Scratch, Warehouse}

/** The benchmark's JVM side: one closed-loop client that runs a workload's
  * operations one after another through the program's public functions and
  * writes one JSON line per operation and per pass. `run.py` builds this,
  * makes the inputs, and turns the records into metrics.
  *
  *   --mode bench    --workload catalog|edinet --members a,b,.. | --batches d1,d2,..
  *   --mode classify [--members a,b,..]   (two probed runs of each catalog query)
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val rec = new Records(a("out"))
    try run(a, rec) finally rec.close()
  }

  private def now(): Double = System.nanoTime() / 1e9

  private def session(a: Map[String, String]): SparkSession = {
    val cores = a("cores")
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("graft.scratch.root", s"$work/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def run(a: Map[String, String], rec: Records): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = session(a)
    try a("mode") match {
      case "classify" => classify(spark, a, rec)
      case "bench" =>
        val w: Workload = a("workload") match {
          case "catalog" => new Catalog(spark, a("data"), a("members").split(",").toSeq)
          case "edinet" => new Edinet(spark, a("work"), a("batches").split(",").toSeq)
        }
        val probe = if (a("trace") == "1") Some(new Probe(spark)) else None
        for (p <- -w.warmups to -1) w.pass(p, rec, None)
        rec.line("setup", "setup_s" -> (System.currentTimeMillis() / 1e3 - jvmStart))
        // a traced run makes one pass of each pairing order
        val minPasses = if (probe.isDefined) 2 else w.minPasses
        val deadline = now() + a("seconds").toDouble
        var p = 0
        while (w.more && (p < minPasses || now() < deadline)) {
          w.pass(p, rec, probe)
          p += 1
        }
        // eden fills whatever the fixed heap offers; the other pools hold
        // what survived a collection
        val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
          .map(_.getPeakUsage.getUsed).sum
        rec.line("end", "heap_peak_mb" -> heap / 1048576.0)
    } finally spark.stop()
  }

  /** One probed run of each named catalog query: did it write through the
    * file system or start a streaming query, and how many rows did it return.
    */
  private def classify(spark: SparkSession, a: Map[String, String], rec: Records): Unit = {
    val probe = new Probe(spark)
    probe.attach()
    val fns = SparkEntry.queries
    val names = a.get("members").map(_.split(",").toSeq)
      .getOrElse(SparkEntry.catalog.map(_.name))
    for (round <- 1 to 2; q <- names) {
      spark.catalog.clearCache()
      Scratch.clearAll()
      val before = probe.snapshot()
      val t0 = now()
      val (rows, err) =
        try (fns(q)(spark, a("data")).count(), null)
        catch { case e: Throwable => (-1L, Records.message(e)) }
      val sec = now() - t0
      Scratch.clearAll()
      val d = Probe.delta(before, probe.snapshot())
      rec.line("classify", "name" -> q, "round" -> round, "rows" -> rows, "error" -> err,
        "seconds" -> sec, "fs_write_bytes" -> d.getOrElse("sources.fs_write_bytes", 0.0),
        "streams" -> d.getOrElse("streaming.queries", 0.0))
    }
  }

  /** A workload is a fixed sequence of operations run pass after pass;
    * negative passes are the untimed warm-up inside set-up.
    */
  trait Workload {
    def pass(p: Int, rec: Records, probe: Option[Probe]): Unit
    def more: Boolean = true
    /** Untimed passes inside set-up. */
    def warmups: Int
    /** Timed passes an untraced run makes however short `--seconds` is. */
    def minPasses: Int
  }

  /** Times one operation: `build` is the call into the program (eager
    * work included), `action` the call that materializes its result. With
    * a probe, the listeners are attached for this operation only.
    */
  private def op[T, R](rec: Records, probe: Option[Probe], p: Int, name: String,
      extra: Seq[(String, Any)])(build: => T)(action: T => R)(check: R => Seq[(String, Any)])
      : Option[R] = {
    probe.foreach(_.attach())
    val before = probe.map(_.snapshot())
    val t0 = now()
    var t1 = t0
    val res =
      try {
        val b = build
        t1 = now()
        Right(action(b))
      } catch { case e: Throwable => Left(Records.message(e)) }
    val t2 = now()
    if (t1 == t0) t1 = t2
    val counters = probe.map(pr => Probe.delta(before.get, pr.snapshot())).getOrElse(Map.empty)
    probe.foreach(_.detach())
    val fields = Seq("pass" -> p, "name" -> name, "traced" -> probe.isDefined, "build_s" -> (t1 - t0),
      "action_s" -> (t2 - t1), "error" -> res.left.toOption.orNull,
      "counters" -> counters) ++ extra ++ res.toOption.map(check).getOrElse(Nil)
    rec.line("op", fields: _*)
    res.toOption
  }

  /** In a traced pass, runs a repeatable operation twice on the same state,
    * traced and untraced, in the opposite order on odd passes (ABBA), so
    * the tracing overhead is taken on the same unit of work; `drop`
    * releases the first run's result.
    */
  private def paired[R](p: Int, probe: Option[Probe])(run: Option[Probe] => Option[R])
      (drop: R => Unit): Option[R] = probe match {
    case None => run(None)
    case traced =>
      val order = if (p % 2 == 0) Seq(traced, None) else Seq(None, traced)
      run(order.head).foreach(drop)
      run(order(1))
  }

  /** Every pass runs the members in their listed order: a seeded order
    * per pass made runs of one build spread by ±15% on pass time.
    */
  final class Catalog(spark: SparkSession, data: String, members: Seq[String])
      extends Workload {
    private val fns = SparkEntry.queries
    // A fresh JVM keeps speeding up over several passes, but the same way
    // in every run; other tenants of a shared host slow whole passes, and
    // a median of three drops one such pass.
    def warmups: Int = 1
    def minPasses: Int = 3

    def pass(p: Int, rec: Records, probe: Option[Probe]): Unit = {
      val t0 = now()
      for (q <- members) {
        paired(p, probe) { pr =>
          spark.catalog.clearCache()
          Scratch.clearAll()
          op(rec, pr, p, q, Nil)(fns(q)(spark, data))(_.count())(n => Seq("rows" -> n))
        }(_ => ())
      }
      rec.line("pass", "pass" -> p, "wall_s" -> (now() - t0))
    }
  }

  /** Ingests one batch of filings per pass into one warehouse that starts
    * empty, so the tables grow pass by pass: the first set-up pass creates
    * them from batch 0, the second upserts batch 1, and every timed pass
    * upserts the next batch. A batch is staged (readAuto + Standardize,
    * materialized), loaded (Ingest.runStaged), then read back
    * (Summary.summariesTyped).
    */
  final class Edinet(spark: SparkSession, work: String, batches: Seq[String])
      extends Workload {
    private val wh = new Warehouse(spark, s"$work/warehouse")
    private var next = 0

    override def more: Boolean = next < batches.size
    // The first upsert (the second batch) runs cold, about 1.3 times a
    // warm one, so it stays in set-up; a batch costs about as much as a
    // catalog pass, and a third timed one does not fit the run budget.
    def warmups: Int = 2
    def minPasses: Int = 2

    def pass(p: Int, rec: Records, probe: Option[Probe]): Unit = {
      val b = next
      next += 1
      spark.catalog.clearCache()
      Scratch.clearAll()
      val t0 = now()
      val batch = Seq("batch" -> b)
      val staged = paired(p, probe) { pr =>
        op(rec, pr, p, "stage", batch)(
          Standardize(EdinetCsv.readAuto(spark, batches(b)))) { df =>
          df.persist(); (df, df.count())
        }(r => Seq("rows" -> r._2))
      }(_._1.unpersist())
      for ((df, _) <- staged) {
        val quarantine = op(rec, probe, p, "load", batch)(
          new Ingest(spark, wh).runStaged(df, strict = false))(
          _.select("doc_id").distinct().count())(n => Seq("quarantined" -> n))
        df.unpersist()
        if (quarantine.isDefined) paired(p, probe) { pr =>
          op(rec, pr, p, "kpi", batch)(
            Summary.summariesTyped(wh.read("companies"), wh.read("financial_reports"),
              wh.read("financial_data"), wh.read("financial_items")))(_.collect()) { rows =>
            Seq("rows" -> rows.length, "kpi" -> rows.toSeq.map(s => Seq(s.company_name,
              s.operation_profit_rate, s.ordinary_profit_rate, s.net_profit_rate)))
          }
        }(_ => ())
      }
      rec.line("pass", "pass" -> p, "wall_s" -> (now() - t0))
    }
  }
}

/** JSON-lines record writer. */
final class Records(path: String) {
  private val w = new PrintWriter(new File(path), "UTF-8")

  def line(kind: String, fields: (String, Any)*): Unit = {
    w.println(Records.mapper.writeValueAsString(Map("t" -> kind) ++ fields))
    w.flush()
  }

  def close(): Unit = w.close()
}

object Records {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}
