package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every catalog query against
  * SPARK_GRAFT_SF_DIR. A warmup pass (tiny sf) first amortizes
  * JVM/codegen/catalog startup out of the measurements, then each
  * query is timed SPARK_GRAFT_BENCH_RUNS times (default 3) and the MIN
  * is reported — min-of-n is the standard robust estimator against
  * scheduler / cache-pressure contention noise (one slow neighbor can
  * only inflate a run, never deflate it), so cross-round per-query
  * diffs are real plan changes, not run-order artifacts.
  *
  * Output contract (round 8 restructure): the driver captures only the
  * LAST ~2 KB of the run's output, and a 103-query map no longer fits —
  * BENCH_r07 lost 20 query timings (including the exact query that
  * round was asked to clear) to tail truncation. So:
  *   - FULL per-query detail (full-precision) goes to
  *     BENCH_DETAIL.json in the repo root (committed per round, like
  *     EXPLAIN_GATE) and target/bench_detail.json (scratch).
  *   - stdout's final line is a COMPACT summary guaranteed to fit the
  *     tail window: total, query count, failures, and the watched-query
  *     subset (perf-flag history + the most expensive plans) at
  *     millisecond precision, plus a pointer to the detail file.
  */
object Bench {
  /** Queries whose timings always ride the stdout line: every query
    * that has ever carried a perf-weak flag (m3 r6, m20 r7) or cleared
    * one (m16/j2/s9), plus the standing top-cost plans from the r7
    * audit — the set a reader needs to judge a round without the
    * detail file. */
  val watched: Seq[String] = Seq(
    "m3_month_agg", "m16_keyed_sample", "m20_profile", "j2_join_sort",
    "s9_delete_antijoin", "m21_quality_checks", "d6_neardup_components",
    "d14_keep_best", "d16_cluster_spectrum", "x24_vocab_growth",
    "sim5_index_topk", "x26_bm25_index_serve",
    // r8 perf-flag history (cleared r9) + the r9 top-cost plans
    "x20_model_persist_score", "m8_cube", "x28_bm25_index_delete",
    "d20_prefix_filter_join")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = GraftSession()
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.foreach { case (_, fn) =>
        try { fn(spark, warmDir).count(); () } catch { case _: Throwable => () }
      }
    // a failed query is reported as -1 (not a plausible-looking wall
    // time) and named in "failed" — silent failure would corrupt the
    // benchmark comparison
    // optional comma-separated subset for local root-causing of one
    // query's number without paying the full catalog run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // machine-load self-labeling (round-12): the driver's capture runs
    // on a shared box and load contamination has cost every round
    // since r6 an idle re-measure to interpret the totals. Each
    // query's detail row carries the 1-minute /proc/loadavg sampled
    // at its timing block, so a contended capture is readable as such
    // without re-running anything.
    def loadAvg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadAvg()
    val loads = scala.collection.mutable.LinkedHashMap[String, Double]()
    // ambient-contention probe (round 15): a fixed ~0.1 s parallel job
    // timed BETWEEN catalog queries. The bench is serial — when a
    // query's timing block ends its threads are idle, so only a
    // NEIGHBOR's load can inflate the probe. The 1-minute loadavg
    // cannot make that distinction: it integrates the bench's own
    // 32-thread bursts (a healthy idle-box run keeps it at 2–8 all by
    // itself), so gating on it either misses real contention (r14's
    // 8.0 gate, ~19% inflated artifact) or requeues half the catalog
    // (a 2.5 gate). The probe's rolling MIN is the box's uncontended
    // floor; a sample above `probeRatio`× floor marks the next query's
    // capture contended.
    def probe1(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 32L << 20, 1L, 32)
        .agg(org.apache.spark.sql.functions.sum("id")).head()
      (System.nanoTime() - t0) / 1e9
    }
    // min-of-2 per sample: a single probe lands in the previous
    // query's GC/JIT cooldown often enough to false-positive (smoke
    // run: 0.39 s samples on an idle box against a 0.06 s floor); a
    // hiccup rarely hits two back-to-back probes, while a real
    // neighbor slows both
    def probe(): Double = math.min(probe1(), probe1())
    val probeRatio =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PROBE_RATIO", "2.5").toDouble
    var probeFloor = (1 to 5).map(_ => probe()).min // warm + floor
    val probes = scala.collection.mutable.LinkedHashMap[String, Double]()
    def sampleProbe(name: String): Unit = {
      val p = probe()
      probes(name) = p
      if (p < probeFloor) probeFloor = p
    }
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val times = (1 to runs).map { _ =>
        // queries that persist intermediate frames (d3/d7 shingles,
        // sim2/d8 codebook) would otherwise hand run 2 a live SQL cache
        // (CacheManager matches canonicalized plans across invocations)
        // and min-of-n would report warm-cache time, not query cost
        spark.catalog.clearCache()
        // scratch-warehouse reclamation (previous run's published
        // indexes, warmup leftovers on run 1) happens HERE, outside the
        // timer — r8 paid a full recursive index delete inside runs 2-3
        // of every serve query (x20 22×, x26 10× inflation)
        graft.sources.Scratch.clearAll()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        }
      }
      if (times.exists(_ < 0)) -1.0 else times.min
    }
    val results0 = selected.map { case (name, fn) =>
      loads(name) = loadAvg()
      sampleProbe(name)
      name -> timeOne(name, fn)
    }
    // contention-gated auto-requeue (round 13, discriminator rebuilt
    // round 15): a query whose pre-timing PROBE sampled ambient
    // contention gets one quiet re-run after the main pass, and the
    // committed number is the min across both passes — min-of-n can
    // only be inflated by contention, never deflated, so taking the
    // re-run's min is safe. The probe replaced the loadavg gate
    // outright: the 1-minute loadavg integrates the bench's OWN
    // 32-thread bursts (it reads 15–25 on a fully idle box right
    // after a heavy query and decays for a minute), so any loadavg
    // threshold either missed r14's real 3–8 ambient band or requeued
    // half the catalog on self-load. Loadavg is still RECORDED per
    // query as context, it just doesn't gate. A neighbor constant
    // across the whole run inflates the probe floor itself and can't
    // be requeued away — for that case the committed probe labels are
    // the honest signal that the artifact needs an idle re-capture.
    val requeued = results0.collect {
      case (n, v) if v >= 0 &&
        probes.getOrElse(n, 0.0) > probeFloor * probeRatio => n
    }.toSeq
    val results = results0.map { case (n, v) =>
      if (!requeued.contains(n)) n -> v
      else {
        val l2 = loadAvg()
        sampleProbe(n)
        val v2 = timeOne(n, selected(n))
        if (v2 >= 0 && v2 < v) loads(n) = l2
        n -> (if (v2 >= 0) math.min(v, v2) else v)
      }
    }
    // String.format with an explicit ROOT locale: the f-interpolator
    // uses the JVM default, and a comma-decimal locale (de_DE) would
    // emit "1,234" — breaking the one-line JSON the driver parses
    def r3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    // steal-corrected total (round 17): the committed `value` is the
    // honest wall-clock, but two rounds of artifacts have now shipped
    // from a host whose neighbors inflate it by a flat band the
    // probes measure precisely (probe_max/floor ≈ 2.4 across r15/r16,
    // VERDICT-attributed to the environment, not code). This field
    // bakes the calibration in: each query's time is divided by its
    // own pre-timing probe's inflation ratio (probe/floor, clamped at
    // ≥1 so correction can only DEflate — an idle capture passes
    // through unchanged). The model is proportional CPU steal — exact
    // for the CPU-bound probe, approximate for IO-light queries —
    // so `value` stays the artifact of record and THIS is the
    // cross-round comparison number that no longer needs same-day
    // A/B archaeology.
    val stealCorrected = results.collect { case (n, v) if v >= 0 =>
      v / math.max(1.0, probes.getOrElse(n, probeFloor) / probeFloor)
    }.sum
    def qmap(rs: Iterable[(String, Double)], fmt: Double => String): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val requeuedJson = requeued.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detailLine =
      s"""{"metric":"total","value":${total},"unit":"sec","queries":${qmap(results, _.toString)},"load":${qmap(loads, _.toString)},"probe":${qmap(probes, _.toString)},"probe_floor":$probeFloor,"value_steal_corrected":${stealCorrected},"requeued":$requeuedJson,"failed":$failed,"sf":"$sfDir","runs":$runs}"""
    // full detail: committed artifact in the repo root + scratch copy
    for (path <- Seq("BENCH_DETAIL.json", "target/bench_detail.json")) {
      val f = new java.io.File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f)
      try w.println(detailLine) finally w.close()
    }
    val watchedRs = results.filter { case (k, _) => watched.contains(k) }
    val loadEnd = loadAvg()
    val loadMax = (loads.values ++ Seq(loadStart, loadEnd)).max
    spark.stop()
    // printed after spark.stop() so no shutdown logging can land
    // between this line and end-of-output; "queries" carries the
    // watched subset so the line stays ~0.5 KB regardless of catalog
    // growth — the full map lives in BENCH_DETAIL.json
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"queries":${qmap(watchedRs, r3)},"failed":$failed,"sf":"$sfDir","runs":$runs,"requeued":${requeued.size},"load_start":${r3(loadStart)},"load_end":${r3(loadEnd)},"load_max":${r3(loadMax)},"probe_floor":${r3(probeFloor)},"probe_max":${r3(if (probes.isEmpty) -1.0 else probes.values.max)},"value_steal_corrected":${r3(stealCorrected)},"detail":"BENCH_DETAIL.json"}"""
    // the compact line is ALSO persisted verbatim (round 19): the
    // driver's stdout parse had been defeated for 18 rounds by sbt's
    // "[info] " logger prefix — build.sbt now forwards forked stdout
    // raw (run / outputStrategy := StdoutOutput), and this file is the
    // belt-and-suspenders copy a reader can diff against the captured
    // tail without re-running anything
    for (path <- Seq("BENCH_LINE.json", "target/bench_line.json")) {
      val f = new java.io.File(path)
      Option(f.getParentFile).foreach(_.mkdirs())
      val w = new java.io.PrintWriter(f)
      try w.println(line) finally w.close()
    }
    println(line)
  }
}
