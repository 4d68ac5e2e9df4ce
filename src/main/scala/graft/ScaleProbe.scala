package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Superlinear-scale probe for the pair-heavy catalog family
  * (d2/d7/d20/m37/m39): generate an f× scaled copy of the tables those
  * queries read, time the SAME catalog code on 1× and f×, and print
  * one JSON line per (query, factor) so the fitted exponent
  * ln(t_f/t_1)/ln(f) can be recorded in SCALE.md — converting the
  * "blocked/banded/capped ⇒ ~linear" design claims from argued to
  * measured.
  *
  * Scaling model = MORE data, not denser data: each extra copy is a
  * disjoint shard — documents get every WORD prefixed with a
  * copy-specific tag (a bijective vocabulary rename: every
  * within-copy pairwise Jaccard/shingle relation is preserved
  * EXACTLY, so the copy reproduces the base's dup/near-dup structure
  * verbatim, while cross-copy token overlap is zero), and
  * orders/lineitem offset their order/customer/part key spaces per
  * copy (per-customer degrees and per-edge supports stay EXACTLY the
  * base's — the realistic growth mode; hot-key degeneracy is
  * separately pinned by the hub-corpus specs). A measured
  * exponent ≈ 1 therefore means the operator's cost tracks corpus
  * size; ≫ 1 means a pair generator is leaking quadratic work.
  *
  *   runMain graft.ScaleProbe <baseSfDir> <workDir> <factor> <q1,q2,...>
  */
object ScaleProbe {

  def scaleTables(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    import spark.implicits._
    val docs = Tables.load(spark, baseDir, "documents")
    val orders = Tables.load(spark, baseDir, "orders")
    val lineitem = Tables.load(spark, baseDir, "lineitem")
    val idS = docs.agg(max($"doc_id")).head.getLong(0) + 1
    val okS = orders.agg(max($"o_orderkey")).head.getLong(0) + 1
    val ckS = orders.agg(max($"o_custkey")).head.getLong(0) + 1
    val pkS = lineitem.agg(max($"l_partkey")).head.getLong(0) + 1

    def copies(df: DataFrame)(mutate: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => mutate(df, c)).reduce(_.unionByName(_))

    copies(docs) { (d, c) =>
      val shifted = d.withColumn("doc_id", $"doc_id" + lit(c * idS))
      if (c == 0) shifted
      else shifted.withColumn("text",
        regexp_replace($"text", "(\\S+)", s"zc$c" + "$1"))
    }.repartition(8 * factor)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    copies(orders) { (d, c) =>
      d.withColumn("o_orderkey", $"o_orderkey" + lit(c * okS))
        .withColumn("o_custkey", $"o_custkey" + lit(c * ckS))
    }.repartition(8 * factor)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    copies(lineitem) { (d, c) =>
      d.withColumn("l_orderkey", $"l_orderkey" + lit(c * okS))
        .withColumn("l_partkey", $"l_partkey" + lit(c * pkS))
    }.repartition(16 * factor)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
  }

  /** Sidecars for fabricated version-relative files `rel`: column `k`
    * gets contiguous 100-key ranges per file (the clustered layout a
    * narrow probe prunes to one file of), every file 100 rows and no
    * nulls.
    */
  private def fabricatedSidecars(fs: org.apache.hadoop.fs.FileSystem,
      vdir: org.apache.hadoop.fs.Path, rel: Seq[String]): Unit =
    graft.sources.FileStats.writeSidecars(fs, vdir,
      rel.zipWithIndex.map { case (r, i) =>
        r -> Map("k" -> graft.sources.FileStats.ColStat("long",
          (i * 100L).toString, (i * 100L + 99).toString))
      }.toMap,
      rel.map(r => r -> graft.sources.FileStats.RowStat(100L, Map("k" -> 0L))).toMap)

  /** Commit-path scaling sweep (`runMain graft.ScaleProbe commit
    * <workDir> <n1,n2,...>`): fabricate a chunked snapshot of N empty
    * data files (+ real `_stats`/`_rows` sidecars, so the commit pays
    * the same metadata reads a real table would), then time
    *
    *  - `full`:    a full-list publish — the cost EVERY round-10
    *               commit paid (re-sort, re-read every sidecar,
    *               re-list every version dir, rewrite every chunk);
    *  - `append`:  an incremental Delta adding 16 files — the
    *               round-11 path (reuse untouched chunks by
    *               reference);
    *  - `upsert`:  an incremental Delta swapping ONE partition;
    *  - `rowcount`: the header-only metadata count.
    *
    * One JSON line per (op, N); the fitted exponent
    * ln(t_b/t_a)/ln(b/a) goes to SCALE.md — full ≈ 1 (by design),
    * append/upsert ≪ 1 is the claim under test.
    */
  def commitSweep(spark: SparkSession, workDir: String, sizes: Seq[Int]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    sizes.foreach { nf =>
      val dir = s"$workDir/commit_$nf"
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      fs.delete(root, true)
      val wh = new graft.sources.Warehouse(spark, dir)
      val nParts = math.max(4, nf / 16) // ~16 files per hive partition
      def fabricate(vdir: String, names: Seq[(String, String)]): Seq[String] = {
        // names = (partition value, file name); empty data files via
        // java.io (local probe), sidecars written as writeVersion
        // writes them (the upsert leg measures the shard-read path)
        names.map(_._1).distinct.foreach { p =>
          new java.io.File(s"$dir/t/$vdir/pt=$p").mkdirs()
        }
        val rel = names.map { case (p, f) => s"pt=$p/$f" }
        rel.foreach(r => new java.io.File(s"$dir/t/$vdir/$r").createNewFile())
        fabricatedSidecars(fs, new org.apache.hadoop.fs.Path(s"$dir/t/$vdir"), rel)
        rel.map(r => s"$vdir/$r")
      }
      def time[T](body: => T): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val v1 = fabricate("_v1",
        (0 until nf).map(i => (s"${i % nParts}", f"part-$i%05d.parquet")))
      val tFull0 = time(wh.commitFabricated("t", v1))
      val v2 = fabricate("_v2", (0 until 16).map(i => ("0", f"part-a$i%03d.parquet")))
      val tAppend = time(wh.commitFabricatedDelta("t", Set.empty, v2))
      val v3 = fabricate("_v3", (0 until 16).map(i => ("1", f"part-b$i%03d.parquet")))
      val tUpsert = time(wh.commitFabricatedDelta("t", Set("pt=1"), v3))
      // DV carry: a 1000-entry deletion vector on the current
      // snapshot; the next append commit pays the carry (a byte copy
      // of the vector dir, no Spark job) — must stay FLAT in nf, the
      // round-11 merge-on-read cost claim
      wh.fabricateDv("t", spark.range(0, 1000).selectExpr(
        "concat('_v1/pt=0/part-', lpad(cast(id % 16 as string), 5, '0'), " +
          "'.parquet') AS _file",
        "id AS _pos"))
      val v4 = fabricate("_v4", (0 until 16).map(i => ("2", f"part-c$i%03d.parquet")))
      val tAppendDv = time(wh.commitFabricatedDelta("t", Set.empty, v4))
      // the round-10-equivalent commit: every publish was this
      val now = (v1.filterNot(_.contains("/pt=1/")) ++ v2 ++ v3 ++ v4)
      val tFull = time(wh.commitFabricated("t", now))
      val tCount = time(require(wh.statsRowCount("t").nonEmpty))
      // GC legs (round-12): plant crashed-writer debris — an orphan
      // chunk under a live number, a stale in-flight marker, a dead
      // lineage's DV dir — backdated past every grace, then time the
      // audits. `vacuumOrphans` works from the ROOT listing plus
      // manifest HEADERS (live-sets from vdirs lines, ref-counted
      // chunks), so its cost must track chunk count, never the files
      // inside version dirs; `fsck` reads the whole file list by
      // design and is the one O(files) audit.
      val aged = System.currentTimeMillis() - 30L * 60 * 1000
      Seq(s"$dir/t/_mchunk_v2_deadbeef_9", s"$dir/t/_inflight_v99")
        .foreach(p => new java.io.File(p).createNewFile())
      new java.io.File(s"$dir/t/_dv__manifest_v1_deadbeef").mkdirs()
      Seq("_mchunk_v2_deadbeef_9", "_inflight_v99", "_dv__manifest_v1_deadbeef")
        .foreach { nm =>
          fs.setTimes(new org.apache.hadoop.fs.Path(s"$dir/t/$nm"), aged, aged)
        }
      val tVacuum = time(wh.vacuumOrphans("t"))
      val tFsck = time(wh.fsck("t"))
      Seq("bootstrap" -> tFull0, "append" -> tAppend, "upsert" -> tUpsert,
        "appendDv" -> tAppendDv, "full" -> tFull,
        "rowcount" -> tCount, "vacuum" -> tVacuum,
        "fsck" -> tFsck).foreach { case (op, s) =>
        println(f"""{"op":"$op","files":$nf,"sec":$s%.4f}""")
      }
      System.err.println(f"[scaleprobe] commit sweep n=$nf: full=$tFull%.3fs append=$tAppend%.3fs upsert=$tUpsert%.3fs appendDv=$tAppendDv%.3fs vacuum=$tVacuum%.3fs fsck=$tFsck%.3fs")
    }
  }

  /** Auto-skip driver-cost sweep (`runMain graft.ScaleProbe autoskip
    * <workDir> <n1,n2,...>`): fabricate an nf-file manifest table with
    * range-clustered footer stats (the commit-sweep scaffolding — no
    * data is ever read, so the files stay empty), then time what the
    * optimizer rule (graft.plans.AutoSkip) adds to a query, leg by
    * leg:
    *
    *  - `prune_narrow`: pruneForPreds for a one-file range — the
    *    rule's per-novel-predicate cost, expected O(chunks touched)
    *    via the chunk-header skip, NOT O(files);
    *  - `prune_wide`: a range spanning everything — the worst case,
    *    O(files) sidecar sweep (the same `prune` every pruned read
    *    runs);
    *  - `enroll`: the absolute-path set a read() registration builds —
    *    the rule's eager per-read overhead, O(files) string work that
    *    must stay ≪ the snapshot resolution the read already does;
    *  - `meta_count` / `meta_minmax`: the `_rows` / `_stats` sidecar
    *    sweeps behind MetaAggRule's collapse — O(files) driver
    *    metadata vs a data scan;
    *  - `prune_join128`: a JoinSkip-sized IN over spread keys.
    *
    * All legs run in `AutoskipWarmups` untimed passes, then in
    * `AutoskipTimed` timed ones, in one JVM; a leg prints the median
    * (`sec`) and the min–max of its timed passes. A single timing in a
    * fresh JVM spread 30–65% across runs at 100k files and included
    * JIT warm-up.
    */
  def autoskipSweep(spark: SparkSession, workDir: String,
      sizes: Seq[Int]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    sizes.foreach { nf =>
      val dir = s"$workDir/autoskip_$nf"
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      fs.delete(root, true)
      val wh = new graft.sources.Warehouse(spark, dir)
      // partitioned layout with SHARDED stats sidecars — what
      // writeVersion produces for real partitioned tables, and the
      // layout that keeps a narrow probe from parsing a monolithic
      // 10⁶-entry _stats file (first sweep measured 2.7 s/1M for the
      // single-version unsharded worst case; sharded it is the one
      // touched shard)
      val nParts = math.max(4, nf / 1024) // ~1 chunk per partition
      val rel = (0 until nf).map(i => f"pt=${i / (nf / nParts)}/part-$i%07d.parquet")
      rel.map(_.takeWhile(_ != '/')).distinct.foreach { p =>
        new java.io.File(s"$dir/t/_v1/$p").mkdirs()
      }
      rel.foreach(r => new java.io.File(s"$dir/t/_v1/$r").createNewFile())
      fabricatedSidecars(fs, new org.apache.hadoop.fs.Path(s"$dir/t/_v1"), rel)
      val files = rel.map(r => s"_v1/$r")
      wh.commitFabricated("t", files)
      def time[T](body: => T): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val mf = wh.currentVersion("t").map(v => s"_manifest_v$v")
      val mid = nf / 2 * 100L
      // the JoinSkipRule payload: a maxKeys-sized InPred over spread
      // keys — bounds the per-query prune cost of a dim-driven star
      // join at this file count (the dim collect itself is dim-sized,
      // not files-sized, so it doesn't belong in this sweep)
      val joinKeys: Seq[Any] = (0 until graft.plans.JoinSkip.maxKeys)
        .map(i => java.lang.Long.valueOf(i.toLong * (nf.toLong * 100 / graft.plans.JoinSkip.maxKeys)))
      var kept = 0
      var keptJ = 0
      // one pass times every leg once, on a fresh Warehouse, so no
      // reader memo carries over from the pass before
      def pass(): Seq[(String, Double)] = {
        val w = new graft.sources.Warehouse(spark, dir)
        Seq(
          "prune_narrow" -> time {
            kept = w.pruneForPreds("t", mf, Seq(graft.plans.AutoSkip
              .RangePred("k", Some(mid), Some(mid + 50L)))).map(_.size).getOrElse(-1)
          },
          "prune_wide" -> time {
            w.pruneForPreds("t", mf, Seq(graft.plans.AutoSkip
              .RangePred("k", Some(0L), Some(nf * 100L))))
          },
          // the rule's ONE-TIME per-index normalization (memoized by
          // normFiles): the O(files) Path/URI cost the first filtered
          // query on this scan pays; registration itself is O(1) per
          // relation (endpoint checks)
          "enroll" -> time {
            var i = 0
            while (i < files.length) {
              graft.plans.AutoSkip.norm(s"$dir/t/${files(i)}"); i += 1
            }
          },
          "meta_count" -> time(require(w.statsRowCount("t").contains(nf * 100L))),
          "meta_minmax" -> time(require(
            w.statsMinMax("t", "k").contains((0L, nf * 100L - 1L)))),
          "prune_join128" -> time {
            keptJ = w.pruneForPreds("t", mf,
              Seq(graft.plans.AutoSkip.InPred("k", joinKeys)))
              .map(_.size).getOrElse(-1)
          })
      }
      (1 to AutoskipWarmups).foreach(_ => pass())
      val timed = Seq.fill(AutoskipTimed)(pass())
      val legs = timed.head.map(_._1).map { op =>
        val s = timed.map(_.toMap.apply(op)).sorted
        (op, s(s.size / 2), s.head, s.last)
      }
      legs.foreach { case (op, med, lo, hi) =>
        println(f"""{"op":"$op","files":$nf,"sec":$med%.4f,"min":$lo%.4f,"max":$hi%.4f}""")
      }
      System.err.println(s"[scaleprobe] autoskip n=$nf (kept=$kept keptJ=$keptJ), " +
        s"median of $AutoskipTimed passes after $AutoskipWarmups warm-ups: " +
        legs.map { case (op, med, lo, hi) => f"$op=$med%.4fs ($lo%.4f–$hi%.4f)" }.mkString(" "))
    }
  }

  /** Passes of the autoskip sweep: the warm-up passes train the JIT and
    * are not reported; each leg then reports the median and the min–max
    * of the timed passes.
    */
  private val AutoskipWarmups = 3
  private val AutoskipTimed = 7

  /** Hub-skew sweep (`runMain graft.ScaleProbe skew <workDir>
    * <d1,d2,...>`): a synthetic co-purchase corpus — 5000 ordinary
    * customers of degree 20 over a shared 2000-part vocabulary, plus
    * ONE hub customer of degree d — runs the UNMODIFIED m37 (exact,
    * uncapped) and m63 (production, maxDegree=50) catalog code. The
    * uncapped self-join owes the hub C(d,2) pairs, so its wall-time
    * must blow up quadratically in d while the capped form drops the
    * hub whole and stays flat — the SCALE.md table demonstrating the
    * valve, complementing OperatorsSpec's exact pair-bound pin.
    */
  def skewSweep(spark: SparkSession, workDir: String, degrees: Seq[Int]): Unit = {
    import spark.implicits._
    degrees.foreach { d =>
      val dir = s"$workDir/skew_$d"
      if (!new java.io.File(s"$dir/orders.parquet").exists()) {
        val nCust = 5000L
        val hub = nCust // one extra customer, the hub
        spark.range(0, nCust + 1)
          .select($"id".as("o_orderkey"), $"id".as("o_custkey"))
          .repartition(8)
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        val ordinary = spark.range(0, nCust)
          .select($"id".as("l_orderkey"),
            explode(sequence(lit(0), lit(19))).as("j"))
          .select($"l_orderkey",
            (($"l_orderkey" % 100) * 20 + $"j").as("l_partkey"))
        val hubRows = spark.range(0, d.toLong)
          .select(lit(hub).as("l_orderkey"), $"id".as("l_partkey"))
        ordinary.unionByName(hubRows).repartition(16)
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      }
      Seq("m63_copurchase_capped", "m37_copurchase").foreach { q =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, dir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"""{"query":"$q","hub_degree":$d,"rows":$n,"sec":$s%.2f}""")
        System.err.println(f"[scaleprobe] $q hub=$d rows=$n ${s}%.2fs")
      }
    }
  }

  /** Generate a FULL factor-scaled corpus (every table) — the sf1
    * gate's data source (`runMain graft.ScaleProbe gen <baseSfDir>
    * <outDir> <factor>`): the driver's generator is not available to
    * this repo, so sf1 ≈ sf0.1 × 10 by the same disjoint-shard model
    * `scaleTables` uses, extended corpus-wide. Key shifts are
    * CONSISTENT across tables (orders.o_custkey and
    * customer.c_custkey shift by the same stride, lineitem's
    * part/supp keys by part's/supplier's) so every join in the
    * catalog remains referentially intact; region/nation copy
    * verbatim (TPC-H dimensions don't scale). Embeddings get a
    * per-copy deterministic SIGN-FLIP pattern: within a copy every
    * dot product is preserved EXACTLY (the same signs cancel), while
    * cross-copy vectors decorrelate — the near-dup/ANN structure of
    * the base replicates per shard instead of exploding into
    * cross-copy duplicate clusters. Document urls/text get the same
    * per-copy token tag as `scaleTables`.
    */
  def genCorpus(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    import spark.implicits._
    def copies(df: DataFrame)(mutate: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => mutate(df, c)).reduce(_.unionByName(_))
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    val customer = Tables.load(spark, baseDir, "customer")
    val supplier = Tables.load(spark, baseDir, "supplier")
    val part = Tables.load(spark, baseDir, "part")
    val orders = Tables.load(spark, baseDir, "orders")
    val lineitem = Tables.load(spark, baseDir, "lineitem")
    val events = Tables.load(spark, baseDir, "events")
    val docs = Tables.load(spark, baseDir, "documents")
    val emb = Tables.load(spark, baseDir, "embeddings")
    val ckS = customer.agg(max($"c_custkey")).head.getLong(0) + 1
    val skS = supplier.agg(max($"s_suppkey")).head.getLong(0) + 1
    val pkS = part.agg(max($"p_partkey")).head.getLong(0) + 1
    val okS = orders.agg(max($"o_orderkey")).head.getLong(0) + 1
    val eiS = events.agg(max($"event_id")).head.getLong(0) + 1
    val uiS = events.agg(max($"user_id")).head.getLong(0) + 1
    val diS = docs.agg(max($"doc_id")).head.getLong(0) + 1
    val viS = emb.agg(max($"vec_id")).head.getLong(0) + 1

    Tables.load(spark, baseDir, "region").write.mode("overwrite")
      .parquet(s"$outDir/region.parquet")
    Tables.load(spark, baseDir, "nation").write.mode("overwrite")
      .parquet(s"$outDir/nation.parquet")
    write(copies(customer)((d, c) =>
      d.withColumn("c_custkey", $"c_custkey" + lit(c * ckS))), "customer", 8)
    write(copies(supplier)((d, c) =>
      d.withColumn("s_suppkey", $"s_suppkey" + lit(c * skS))), "supplier", 4)
    write(copies(part)((d, c) =>
      d.withColumn("p_partkey", $"p_partkey" + lit(c * pkS))), "part", 8)
    write(copies(orders)((d, c) =>
      d.withColumn("o_orderkey", $"o_orderkey" + lit(c * okS))
        .withColumn("o_custkey", $"o_custkey" + lit(c * ckS))),
      "orders", 8 * factor)
    write(copies(lineitem)((d, c) =>
      d.withColumn("l_orderkey", $"l_orderkey" + lit(c * okS))
        .withColumn("l_partkey", $"l_partkey" + lit(c * pkS))
        .withColumn("l_suppkey", $"l_suppkey" + lit(c * skS))),
      "lineitem", 8 * factor)
    write(copies(events)((d, c) =>
      d.withColumn("event_id", $"event_id" + lit(c * eiS))
        .withColumn("user_id", $"user_id" + lit(c * uiS))),
      "events", 8 * factor)
    write(copies(docs) { (d, c) =>
      val shifted = d.withColumn("doc_id", $"doc_id" + lit(c * diS))
      if (c == 0) shifted
      else shifted.withColumn("text",
        regexp_replace($"text", "(\\S+)", s"zc$c" + "$1"))
    }, "documents", 8 * factor)
    write(copies(emb) { (d, c) =>
      val shifted = d.withColumn("vec_id", $"vec_id" + lit(c * viS))
      if (c == 0) shifted
      else shifted.withColumn("embedding",
        expr(s"transform(embedding, (x, i) -> " +
          s"CASE WHEN pmod(hash($c, i), 2) = 0 THEN x ELSE -x END)"))
    }, "embeddings", 4 * factor)
  }

  def main(args: Array[String]): Unit = {
    def sizes = args(2).split(',').toSeq.map(_.trim.toInt)
    def run(cpus: Int)(body: SparkSession => Unit): Unit = {
      val spark = GraftSession(cpus)
      try body(spark) finally spark.stop()
    }
    args.headOption match {
      case Some("gen") =>
        val Array(_, baseDir, outDir, factor) = args
        run(32)(genCorpus(_, baseDir, outDir, factor.toInt))
      case Some("skew") => run(32)(skewSweep(_, args(1), sizes))
      case Some("autoskip") => run(2)(autoskipSweep(_, args(1), sizes))
      case Some("commit") => run(2)(commitSweep(_, args(1), sizes))
      case _ => run(32)(probe(_, args))
    }
  }

  private def probe(spark: SparkSession, args: Array[String]): Unit = {
    val Array(baseDir, workDir, factorS, queriesS) = args.take(4)
    val factor = factorS.toInt
    val queries = queriesS.split(',').toSeq
    val dir = s"$workDir/x$factor"
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val t0 = System.nanoTime()
      scaleTables(spark, baseDir, dir, factor)
      System.err.println(f"[scaleprobe] generated x$factor in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    queries.foreach { q =>
      val secs = (1 to 2).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, dir).count()
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scaleprobe] $q x$factor rows=$n ${s}%.2fs")
        s
      }
      println(f"""{"query":"$q","factor":$factor,"sec":${secs.min}%.3f}""")
    }
  }
}
