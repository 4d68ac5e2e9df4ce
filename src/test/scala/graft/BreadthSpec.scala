package graft

import org.apache.spark.sql.functions._

/** Value- and plan-level pins for the round-7 breadth queries
  * (x22/x23/m25/sim7). The driver's DuckDB oracle is the exactness
  * gate; these tests pin the internal invariants the oracle can't see:
  * conservation laws (the spectrum must account for every token), the
  * bounded-fan-out pair construction, the metadata-only path agreeing
  * with a real scan, and the scale-critical plan shapes (map-side
  * partial aggregation, broadcast size joins).
  */
class BreadthSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("x22: spectrum conserves tokens and vocabulary") {
    import spark.implicits._
    val spec = run("x22_freq_spectrum").collect()
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(graft.operators.TextOps.tokens($"text")).as("t"))
    val total = toks.count()
    val vocab = toks.distinct().count()
    // sum(freq · n_terms) = total token count; sum(n_terms) = |vocab|
    assert(spec.map(r => r.getLong(0) * r.getLong(1)).sum === total)
    assert(spec.map(_.getLong(1)).sum === vocab)
    assert(spec.forall(_.getLong(0) >= 1))
  }

  test("x22: both aggregations combine map-side") {
    val df = run("x22_freq_spectrum")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("x23: pairs are ordered, jaccard bounded, no duplicates") {
    val rows = run("x23_source_overlap").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[String]("src_a")
      val b = r.getAs[String]("src_b")
      assert(a < b, s"unordered pair $a,$b")
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $j")
      assert(r.getAs[Long]("n_common") >= 1)
    }
    val pairs = rows.map(r =>
      (r.getAs[String]("src_a"), r.getAs[String]("src_b"))).toSet
    assert(pairs.size === rows.length)
  }

  test("x23: one source pair recomputes exactly from first principles") {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val rows = run("x23_source_overlap").collect()
    val r0 = rows.head
    val (sa, sb) = (r0.getAs[String]("src_a"), r0.getAs[String]("src_b"))
    def gramsOf(src: String): Set[String] =
      docs.filter($"source" === src)
        .select(explode(graft.functions.NativeExprs.shingles3(spark, $"text")).as("g"))
        .distinct().as[String].collect().toSet
    val (ga, gb) = (gramsOf(sa), gramsOf(sb))
    val inter = (ga intersect gb).size.toLong
    assert(r0.getAs[Long]("n_common") === inter)
    assert(r0.getAs[Double]("jaccard") ===
      inter.toDouble / (ga.size + gb.size - inter))
  }

  test("x23: size joins broadcast; no cartesian, no sort-merge join") {
    val df = run("x23_source_overlap")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"size joins not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a 20-row side sort-merged:\n$p")
  }

  test("m25: metadata-only numbers equal a real scan's") {
    import spark.implicits._
    val r = run("m25_meta_count").collect().head
    val docs = Tables.load(spark, dir, "documents")
    val scan = docs.agg(
      count(lit(1)), sum(when($"text".isNull, 1L).otherwise(0L)),
      min($"doc_id"), max($"doc_id"), min($"n_chars"), max($"n_chars"))
      .collect().head
    assert(r.getAs[Long]("n_rows") === scan.getLong(0))
    assert(r.getAs[Long]("null_text") === scan.getLong(1))
    assert(r.getAs[Long]("min_doc") === scan.getLong(2))
    assert(r.getAs[Long]("max_doc") === scan.getLong(3))
    assert(r.getAs[Long]("min_chars") === scan.getLong(4))
    assert(r.getAs[Long]("max_chars") === scan.getLong(5))
  }

  test("sim7: every dimension covers the corpus; bounds order; one partial agg") {
    val df = run("sim7_dim_profile")
    val rows = df.collect()
    val nVec = Tables.load(spark, dir, "embeddings").count()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("dim")).toSeq ===
      (0L until rows.length.toLong))
    rows.foreach { r =>
      assert(r.getAs[Long]("n") === nVec)
      val (mn, mx, mean) = (r.getAs[Double]("mn"), r.getAs[Double]("mx"),
        r.getAs[Double]("mean"))
      assert(mn <= mx)
      assert(mean >= mn - 1e-6 && mean <= mx + 1e-6)
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("x25/x26: BM25 ranks the rare term first; served == inline") {
    import spark.implicits._
    // semantic pin the hash oracle can't see: 'dup' is ~35× rarer
    // than the other query terms, so its rational idf dominates —
    // every doc that contains it must outrank every doc that doesn't
    // (scores of dup-less docs are bounded by the common terms'
    // near-zero idf). And the served path must reproduce the inline
    // fit row-for-row, score bits included.
    val inline = run("x25_bm25_topk").collect()
    assert(inline.length === 10)
    val withDup = inline.takeWhile(_.getAs[Long]("tf_dup") > 0)
    val nDupDocs = Tables.load(spark, dir, "documents")
      .select(explode(graft.operators.TextOps.tokens($"text")).as("t"),
        $"doc_id")
      .filter($"t" === "dup").select($"doc_id").distinct().count()
    assert(withDup.length === math.min(nDupDocs, 10L).toInt,
      s"a dup-less doc outranked a dup doc: ${inline.mkString("; ")}")
    assert(inline.map(_.getAs[Double]("score")).sliding(2)
      .forall(p => p(0) >= p(1)), "scores not descending")
    val served = run("x26_bm25_index_serve").collect()
    assert(served.toSeq === inline.toSeq,
      "served index diverged from the inline fit")
  }

  test("m29: sketch-only percentile lands within one bucket width of the exact quantile") {
    import spark.implicits._
    val est = graft.SparkEntry.queries("m29_sketch_percentiles")(spark, dir)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Double]("p")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("est_lo"))).toMap
    // exact discrete quantile: value at rank ceil(p·n) in the sorted
    // per-lang multiset (the m27 definition)
    val d = graft.Tables.load(spark, dir, "documents")
      .select($"lang", $"n_chars").as[(String, Long)].collect()
      .groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2).sorted }
    est.foreach { case ((lang, p), (n, estLo)) =>
      val vs = d(lang)
      assert(n === vs.length.toLong, s"$lang: sketch total diverged")
      val exact = vs(math.ceil(p * vs.length).toInt - 1)
      assert(estLo <= exact && exact < estLo + 64,
        s"$lang p=$p: exact=$exact outside sketch bucket [$estLo, ${estLo + 64})")
    }
    assert(est.size >= 3, "expected at least one lang x three percentiles")
  }

  test("d20: prefix filtering is lossless vs brute-force token Jaccard") {
    import spark.implicits._
    // the driver oracle checks this at sf0.01; here a hostile corpus:
    // identical sets, near-identical sets, heavy df ties (every token
    // equally frequent — the (df, token) order falls back to the
    // token string), and a doc sharing only SUFFIX tokens with its
    // near-dup (the case a broken prefix bound would drop)
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d f"),
      (4L, "p q r s t"), (5L, "q r s t u"), (6L, "x y"), (7L, "x z")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("d20docs")
    val tau = 0.6
    val tk = docs.select($"doc_id",
      array_distinct(graft.operators.TextOps.tokens($"text")).as("tk"))
    val brute = tk.as("a").join(tk.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (size(array_intersect(col("a.tk"), col("b.tk"))).cast("double") /
          (size(col("a.tk")) + size(col("b.tk")) -
            size(array_intersect(col("a.tk"), col("b.tk")))))
          .as("j"))
      .filter($"j" >= tau)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // re-run the catalog operator's pipeline shape at tau=0.6 inline
    val toks = tk.select($"doc_id", size($"tk").cast("long").as("n"),
      explode($"tk").as("tok"))
    val df = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
    val prefix = toks.join(df, "tok").groupBy($"doc_id", $"n")
      .agg(array_sort(collect_list(struct($"df", $"tok"))).as("sorted"))
      .select($"doc_id", $"n",
        explode(expr(s"slice(sorted, 1, cast(n - ceil($tau * n) + 1 as int))")).as("p"))
      .select($"doc_id", $"n", $"p.tok".as("tok"))
    val cand = prefix.select($"doc_id".as("a_id"), $"n".as("na"), $"tok")
      .join(prefix.select($"doc_id".as("b_id"), $"n".as("nb"), $"tok"), "tok")
      .filter($"a_id" < $"b_id" &&
        greatest($"na", $"nb") * tau <= least($"na", $"nb"))
      .select($"a_id", $"b_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(cand),
      s"prefix filtering dropped qualifying pairs: ${brute.diff(cand)}")
    assert(brute === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)),
      s"brute truth unexpected: $brute")
  }

  test("x35: merge replace is left-to-right non-overlapping (BPE greedy)") {
    import spark.implicits._
    // ' a  b ' canonical encoding: overlapping 'a a a' merges once,
    // disjoint 'a b a b' merges twice, and merged symbols re-pair
    val enc = (t: String) =>
      " " + t.split(" ").mkString("  ") + " "
    val df = Seq(enc("a a a"), enc("a b a b"), enc("c a b d")).toDF("s")
    val merged = df.select(call_function("replace", $"s",
      lit(" a  b "), lit(" ab ")).as("s"))
      .select(split(trim($"s"), "  ").as("tk")).collect().map(_.getSeq[String](0))
    assert(merged(0) === Seq("a", "a", "a"), "a-a pair must not merge under a-b rule")
    assert(merged(1) === Seq("ab", "ab"), "disjoint pairs must both merge")
    assert(merged(2) === Seq("c", "ab", "d"), "interior pair must merge cleanly")
    // overlap rule: merging (a,a) in 'a a a' consumes greedily left-first
    val aa = df.limit(1).select(call_function("replace", $"s",
      lit(" a  a "), lit(" aa ")).as("s"))
      .select(split(trim($"s"), "  ").as("tk")).head().getSeq[String](0)
    assert(aa === Seq("aa", "a"), s"greedy left-first overlap broken: $aa")
  }

  test("m49: systematic sampling places exactly 20 picks, heaviest docs always in") {
    val rows = run("m49_systematic_sample").collect()
    val picks = rows.map(_.getLong(2)).sum
    assert(picks === 20L, s"systematic grid must place exactly 20 picks, got $picks")
    // any doc with weight ≥ step+20 is guaranteed selection (≥1 pick
    // with a grid index ≤ 19 — bare w ≥ step can fall wholly in the
    // post-19·step tail; see the MultimodalSpec property)
    import spark.implicits._
    val tot = Tables.load(spark, dir, "documents")
      .agg(sum($"n_chars")).as[Long].head()
    val step = tot / 20
    val heavy = Tables.load(spark, dir, "documents")
      .filter($"n_chars" >= step + 20).select($"doc_id").as[Long].collect().toSet
    val selected = rows.map(_.getLong(0)).toSet
    assert(heavy.subsetOf(selected),
      s"guaranteed-weight docs missing: ${heavy.diff(selected)}")
  }

  test("stats family invariants: KM monotone in [0,1], KL non-negative, AUC/Gini bounded") {
    // the driver oracle pins exact values; these pin the THEOREMS the
    // values must satisfy — a formula typo that happened to match a
    // mistyped oracle would still break here
    val km = run("m42_kaplan_meier").collect()
    val surv = km.map(_.getDouble(3))
    assert(surv.forall(s => s >= 0.0 && s <= 1.0), "survival outside [0,1]")
    assert(surv.zip(surv.drop(1)).forall { case (a, b) => b <= a + 1e-9 },
      "Kaplan-Meier curve must be non-increasing")

    val kl = run("m51_kl_drift").collect()
    assert(kl.nonEmpty && kl.forall(_.getDouble(1) >= -1e-9),
      "KL divergence must be non-negative (Gibbs)")

    val auc = run("x36_auc_ranksum").collect()(0).getDouble(2)
    assert(auc >= 0.0 && auc <= 1.0, s"AUC $auc outside [0,1]")

    val gini = run("m61_gini_spend").collect()(0).getDouble(2)
    assert(gini >= 0.0 && gini < 1.0, s"Gini $gini outside [0,1)")

    // chi2 non-negative; cells bounded by the 5×7 grid
    val chi = run("m59_chi2_independence").collect()(0)
    assert(chi.getDouble(0) >= 0.0 && chi.getLong(1) <= 35)

    // Benford: probabilities sum to ~1 on both axes
    val bf = run("m57_benford").collect()
    assert(math.abs(bf.map(_.getDouble(2)).sum - 1.0) < 1e-4,
      "Benford expectations must sum to 1")
    assert(math.abs(bf.map(_.getDouble(3)).sum - 1.0) < 1e-4,
      "observed shares must sum to 1")

    // ESS: 1 ≤ ess ≤ n per source (Kish bounds)
    val ess = run("m62_ess_weights").collect()
    assert(ess.forall(r => r.getDouble(2) >= 1.0 - 1e-9 &&
      r.getDouble(2) <= r.getLong(1) + 1e-9), "ESS outside [1, n]")
  }

  test("d21: deletion neighborhood finds every edit-distance-1 pair species") {
    import spark.implicits._
    // one representative per edit species — substitution, insertion,
    // deletion — plus an ed=2 pair that SHARES a deletion variant
    // ("abc"/"axy"? no — "ab"/"ba": delete 'a'→"b"/"a"... use "abc"
    // vs "acb": share variant "ab"? D("abc")={abc,bc,ac,ab},
    // D("acb")={acb,cb,ab,ac} → share "ab","ac" but ed=2 — the exact
    // confirm must kill it
    val names = Seq("cold gear", "cold bear", "cold gears", "old gear",
      "abc", "acb").toDF("name")
    val variants = names.select($"name",
      explode(array_union(array($"name"),
        expr("""transform(sequence(1, length(name)),
          i -> concat(substring(name, 1, i - 1),
                      substring(name, i + 1, length(name))))"""))).as("v"))
    val pairs = variants.select($"name".as("a"), $"v")
      .join(variants.select($"name".as("b"), $"v"), "v")
      .filter($"a" < $"b").select($"a", $"b").distinct()
      .filter(levenshtein($"a", $"b") <= 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(
      ("cold bear", "cold gear"),   // substitution
      ("cold gear", "cold gears"),  // insertion
      ("cold gear", "old gear")),   // deletion
      s"unexpected pair set: $pairs")
    assert(!pairs.contains(("abc", "acb")),
      "transposition (ed=2) must not survive the exact confirm")
  }

  test("m39: degree-oriented count equals brute force on a crafted graph") {
    import spark.implicits._
    // triangle {1,2,3} + square {4,5,6,7} (no triangle) + pendant 8;
    // each edge duplicated to pass the support-2 floor when run
    // through the operator's edge builder is skipped — here we pin the
    // orientation+wedge counting math directly on a known edge set
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (5L, 6L),
      (6L, 7L), (4L, 7L), (3L, 8L)).toDF("u", "v")
    val deg = e.select($"u".as("x")).union(e.select($"v".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("d"))
    val kU = struct($"du".as("d"), $"u".as("id"))
    val kV = struct($"dv".as("d"), $"v".as("id"))
    val or = e
      .join(deg.select($"x".as("u"), $"d".as("du")), "u")
      .join(deg.select($"x".as("v"), $"d".as("dv")), "v")
      .select(when(kU < kV, $"u").otherwise($"v").as("src"),
        when(kU < kV, kV).otherwise(kU).as("dst"))
    val wedges = or.as("e1").join(or.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst.id").as("src"), col("e2.dst").as("dst"))
    val tri = wedges.join(or, Seq("src", "dst"), "left_semi").count()
    assert(tri === 1L, s"expected exactly the one triangle, got $tri")
  }

  test("bm25 lifecycle fuzz: random add/eager-delete/tombstone always serves the fresh build") {
    import spark.implicits._
    import graft.queries.Text
    // Model-based equivalence of two GENUINELY DIFFERENT code paths:
    // the maintained index (incremental df merges, eager folds,
    // tombstone overlays — x28/x29/x30's machinery) vs a from-scratch
    // build over the model's live doc set. Served per-(term, doc)
    // scores must be IDENTICAL after every random op: both paths
    // compute the same formula from integer inputs, so any bookkeeping
    // drift (df off by one, totals not decremented, tombstone leak)
    // shows up as a score mismatch, not a tolerance judgement call.
    val rnd = new scala.util.Random(31337)
    val qterms = Seq("dup", "vector", "join", "the")
    val d = Tables.load(spark, dir, "documents")
      .select($"doc_id", graft.operators.TextOps.tokens($"text").as("toks"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25-fuzz").toString
    val wh = new graft.sources.Warehouse(spark, s"$tmp/wh")
    val allIds = d.select($"doc_id").as[Long].collect().toSet
    var live = allIds.filter(_ < 250)
    var unused = allIds -- live
    var tombs = Set.empty[Long] // deleted but physically still in postings
    Text.publishBm25(wh, d.filter($"doc_id".isin(live.toSeq: _*)))

    def serveBoth(ctx: String): Unit = {
      val tdf = tombs.toSeq.toDF("doc_id")
      val got = Text.servedSterms(wh, qterms,
          if (tombs.isEmpty) None else Some(tdf))
        .select($"term", $"doc_id", $"sterm")
        .as[(String, Long, Double)].collect().toSet
      val fresh = new graft.sources.Warehouse(spark,
        s"$tmp/fresh_$ctx")
      Text.publishBm25(fresh, d.filter($"doc_id".isin(live.toSeq: _*)))
      val want = Text.servedSterms(fresh, qterms)
        .select($"term", $"doc_id", $"sterm")
        .as[(String, Long, Double)].collect().toSet
      assert(got === want, s"$ctx: maintained index diverged from fresh " +
        s"build (extra=${(got -- want).take(3)}, missing=${(want -- got).take(3)})")
    }

    serveBoth("base")
    for (i <- 1 to 4) {
      rnd.nextInt(3) match {
        case 0 => // incremental ADD of unused docs
          val ids = rnd.shuffle(unused.toSeq).take(30 + rnd.nextInt(30)).toSet
          if (ids.nonEmpty) {
            Text.incrementBm25(wh, d.filter($"doc_id".isin(ids.toSeq: _*)))
            live ++= ids; unused --= ids
          }
          serveBoth(s"op$i-add")
        case 1 => // EAGER delete: fold postings/doclen, decrement dict/totals
          val ids = rnd.shuffle((live -- tombs).toSeq).take(20).toSet
          if (ids.nonEmpty) {
            val doomed = ids.toSeq.toDF("doc_id")
            Text.applyBm25Deletes(wh, doomed)
            wh.delete("bm25_postings", doomed, Seq("doc_id"))
            wh.delete("bm25_doclen", doomed, Seq("doc_id"))
            live --= ids
          }
          serveBoth(s"op$i-fold")
        case 2 => // TOMBSTONE delete: dict/totals decrement only, MOR overlay
          val ids = rnd.shuffle((live -- tombs).toSeq).take(15).toSet
          if (ids.nonEmpty) {
            Text.applyBm25Deletes(wh, ids.toSeq.toDF("doc_id"))
            tombs ++= ids; live --= ids
          }
          serveBoth(s"op$i-tomb")
      }
    }
  }
}
