package graft

import graft.queries.{Dedup, Sim}
import org.apache.spark.sql.functions.lit

/** Cross-checks between the approximate and exact implementations of
  * the dedup / similarity families on the sf0.001 testdata:
  * MinHash+LSH must recover the exact n-gram Jaccard pairs, and the
  * IVF probe must reach high recall against brute force.
  */
class DedupSimSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) =
    SparkEntry.queries(name)(spark, dir)

  test("minhash-lsh recovers exactly the true Jaccard>=0.5 pairs") {
    val exact = q("d2_ngram_jaccard").select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = q("d3_minhash_lsh").select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact)
  }

  test("persisted LSH index: probe of the LOADED table matches d9's recompute") {
    import spark.implicits._
    import graft.queries.Dedup
    val d = Tables.load(spark, dir, "documents").select($"doc_id", $"text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lshidx-spec").toString
    val wh = new graft.sources.Warehouse(spark, tmp)
    // index the corpus once, through the manifest publish (real
    // parquet round-trip — signatures and shingles come back from
    // disk, not from the lineage that computed them)
    wh.atomicPublish("lsh_index", Dedup.buildLshIndex(d.filter($"doc_id" < 400)))
    val idx = wh.read("lsh_index")
    // the probe API receives ONLY the loaded index + the batch: it is
    // structurally unable to re-shingle corpus text
    val inc = Dedup.incrementalPairsAgainstIndex(idx, d.filter($"doc_id" >= 400), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = q("d9_incremental_dedup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === full, "index probe must equal the recompute-everything path")
    assert(inc.nonEmpty)
    // incremental index maintenance: appending the accepted batch's own
    // index rows keeps one queryable table covering corpus + batch
    wh.append("lsh_index", Dedup.buildLshIndex(d.filter($"doc_id" >= 400)))
    assert(wh.read("lsh_index").count() === d.count())
  }

  test("simhash banding finds the hamming<=3 pairs (non-empty, symmetric-free)") {
    val pairs = q("d4_simhash").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) <= 3)
    }
  }

  test("IVF top-k recall >= 0.6 vs brute force at nprobe=8") {
    val brute = q("sim1_brute_topk").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = q("sim2_ivf_topk").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall")
  }

  test("scalar-quantized ANN keeps near-exact recall vs brute force") {
    val brute = q("sim1_brute_topk").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = q("sim3_sq_topk").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8-bit scalar quantization is near-lossless on cosine ranking
    val recall = (brute & sq).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("product-quantized ANN recall@10 vs brute force >= the pinned floor") {
    val brute = q("sim1_brute_topk").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = q("sim4_pq_topk").select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    info(s"sim4 PQ recall@10 = $recall")
    // measured 0.77 on the driver corpus. Code-only ADC ranking
    // measured 0.35 here: an 8-byte code (32× compression) on
    // NEAR-RANDOM vectors cannot preserve top-10 cosine order — which
    // is exactly why sim4 is the production two-stage shape (ADC
    // shortlist → exact re-rank); the shortlist recovers most of the
    // true neighbors and the refine stage orders them exactly
    assert(recall >= 0.6, s"recall $recall below pinned floor")
  }

  test("PQ on a clustered corpus: recall@10 >= the pinned floor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 64-d analogue of clusteredCorpus (sim4's subspace split is
    // 8×8 over 64 dims): 20 well-separated gaussian centers × 50
    // points, written as a real embeddings.parquet so the catalog
    // queries run unchanged over the temp dir. Here neighbors share a
    // cluster and PQ reconstruction preserves the cluster geometry —
    // recall must be near-exact, unlike the near-random driver corpus.
    val rnd = new scala.util.Random(7)
    val dim = 64; val k = 20; val per = 50
    val centers = Array.fill(k, dim)(rnd.nextGaussian().toFloat * 3f)
    val pts = for (c <- 0 until k; i <- 0 until per) yield
      (c.toLong * per + i, s"l$c",
        Array.tabulate(dim)(d => centers(c)(d) + 0.3f * rnd.nextGaussian().toFloat))
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-spec").toString
    pts.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def top(name: String) = SparkEntry.queries(name)(spark, tmp)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = top("sim1_brute_topk")
    val pq = top("sim4_pq_topk")
    val recall = (brute & pq).size.toDouble / brute.size
    info(s"sim4 PQ clustered recall@10 = $recall")
    assert(recall >= 0.9, s"clustered recall $recall below pinned floor")
  }

  test("trained IVF codebook: recall on a clustered corpus >= the pinned floor") {
    import graft.operators.IvfCodebook
    // clustered synthetic corpus (clusteredCorpus below): the
    // distribution where an UNTRAINED (sampled) codebook places
    // arbitrary-quality centroids but Lloyd's recovers the true
    // cluster structure; the every-37th init is misaligned (duplicate/
    // missing clusters), so training has real work to do
    val (e, init, queries) = clusteredCorpus()
    val trained = clusteredRecall(e, queries,
      IvfCodebook.train(e, init, 3).persist(), nprobe = 4)
    // the floor pinned for sim2 on the driver corpus — a TRAINED
    // codebook on a cleanly clustered corpus must clear it easily
    assert(trained >= 0.6, s"trained recall $trained below pinned floor")
    // and it must recover near-perfect structure here: at nprobe=4 of
    // ~20 trained centroids, each query's true cluster is probed
    assert(trained >= 0.9, s"trained recall $trained; Lloyd's failed to converge")
  }

  test("trained IVF recall curve: pinned floor per nprobe setting") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.IvfCodebook
    // same clustered corpus + training as above (seed 42 — fully
    // deterministic), swept over the probe width. These floors pin the
    // quality contract: a codebook or assignment change that silently
    // degrades recall at ANY probe width fails here, not in production.
    val (e, init, queries) = clusteredCorpus()
    val cents = IvfCodebook.train(e, init, 3).persist()
    val recalls = Seq(1, 2, 4, 8).map(np => np -> clusteredRecall(e, queries, cents, np))
    // floors pinned just below the deterministic measured values on
    // this corpus (0.825 at nprobe=1; wider probes clear their floors
    // with margin)
    val floors = Map(1 -> 0.8, 2 -> 0.9, 4 -> 0.9, 8 -> 0.95)
    recalls.foreach { case (np, r) =>
      assert(r >= floors(np), s"recall@10 $r at nprobe=$np below pinned floor ${floors(np)}")
    }
    // widening the probe can only add candidate lists: recall is
    // monotone non-decreasing in nprobe
    recalls.sliding(2).foreach { case Seq((np1, r1), (np2, r2)) =>
      assert(r2 >= r1 - 1e-9, s"recall fell from $r1 (nprobe=$np1) to $r2 (nprobe=$np2)")
    }
  }

  /** The deterministic clustered corpus shared by the trained-codebook
    * tests: 20 well-separated gaussian centers × 50 points (seed 42),
    * a misaligned every-37th init, one query per cluster.
    */
  private def clusteredCorpus(): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val dim = 16; val k = 20; val per = 50
    val centers = Array.fill(k, dim)(rnd.nextGaussian().toFloat * 3f)
    val pts = for (c <- 0 until k; i <- 0 until per) yield
      ((c.toLong * per + i),
        Array.tabulate(dim)(d => centers(c)(d) + 0.3f * rnd.nextGaussian().toFloat))
    val e = pts.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding",
        sqrt(graft.functions.NativeExprs.dot(spark, $"embedding", $"embedding")).as("nrm"))
      .persist()
    val init = e.filter($"vec_id" % 37 === 0)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
    val queries = e.filter($"vec_id" % per === 0)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    (e, init, queries)
  }

  /** recall@10 of the IVF probe vs the brute-force cosine top-10. */
  private def clusteredRecall(emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame, nprobe: Int): Double = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.IvfCodebook
    val assigned = IvfCodebook.assign(emb, cents)
    val ivf = IvfCodebook.topk(emb, queries, cents, assigned, nprobe, 10)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val scored = emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (graft.functions.NativeExprs.dot(spark, $"q_emb", $"embedding")
          / ($"q_nrm" * $"nrm")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    val brute = scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 10)
      .select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (brute & ivf).size.toDouble / brute.size
  }

  test("cluster subdivision bounds SemDeDup pairwise work on a skewed corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.IvfCodebook
    // degenerate corpus: 600 vectors in ONE tight cluster — unguarded
    // within-cluster pairwise work is 600*599/2 pairs
    val rnd = new scala.util.Random(7)
    val pts = (0 until 600).map(i =>
      (i.toLong, Array.tabulate(8)(d => 1f + 0.01f * rnd.nextGaussian().toFloat)))
    val e = pts.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding",
        sqrt(graft.functions.NativeExprs.dot(spark, $"embedding", $"embedding")).as("nrm"))
    val cents = e.filter($"vec_id" === 0)
      .select($"vec_id".as("c_id"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
    val assigned = IvfCodebook.assign(e, cents)
    def pairCount(m: org.apache.spark.sql.DataFrame, keys: Seq[String]): Long = {
      val a = m.toDF(m.columns.map(c => if (c == "vec_id") "a_id" else c): _*)
      val b = m.toDF(m.columns.map(c => if (c == "vec_id") "b_id" else c): _*)
      a.join(b, keys).filter($"a_id" < $"b_id").count()
    }
    val unguarded = pairCount(assigned, Seq("c_id"))
    assert(unguarded === 600L * 599 / 2)
    // cap 50 → 12 sub-cells; hash-balanced cells keep each cell's
    // quadratic cost near (w/k)², so the total collapses by ~k
    val sub = IvfCodebook.subdivide(assigned, 50)
    val guarded = pairCount(sub, Seq("c_id", "c_sub"))
    assert(guarded < unguarded / 6, s"subdivision did not bind: $guarded")
    // non-binding case: width <= cap leaves one cell and ALL pairs
    val one = IvfCodebook.subdivide(assigned.limit(50), 50)
    assert(one.select("c_sub").distinct().collect().map(_.getLong(0)).toSeq === Seq(0L))
  }

  test("capped LSH bounds candidates on a mass-duplicate corpus") {
    import spark.implicits._
    val base = Tables.load(spark, dir, "documents")
      .select($"doc_id", $"text").filter($"doc_id" < 60)
    val hot = base.filter($"doc_id" === 0).select($"text").as[String].head()
    // 300 exact copies of one document: the degenerate corpus that makes
    // an unguarded band bucket quadratic
    val corpus = base.union(
      spark.range(1000, 1300).select($"id".as("doc_id"), lit(hot).as("text")))

    // unguarded: the 301-wide identical block alone yields >= 301*300/2
    // candidate pairs — the quadratic blowup the guard exists to stop
    val unguarded = Dedup.lshCandidatesFrom(Dedup.shingledFrom(corpus), None).count()
    assert(unguarded >= 301L * 300 / 2, s"expected quadratic candidates, got $unguarded")

    // guarded: exact-dup collapse folds the block into one representative
    val reps = Dedup.collapseExact(corpus)
    assert(reps.count() === 60) // 60 distinct texts survive
    // ...and the bucket cap bounds what any surviving bucket can emit:
    // 16 bands × at most cap*(cap-1)/2 pairs per bucket of the 60 reps
    val cap = 20
    val guarded = Dedup.lshCandidatesFrom(Dedup.shingledFrom(reps), Some(cap)).count()
    assert(guarded <= 16L * cap * (cap - 1) / 2, s"candidates not bounded: $guarded")

    // recall: on this corpus (no near-dup cluster wider than the cap)
    // the guarded pipeline still finds exactly the true pairs among
    // representatives — the documented recall cost only applies to
    // boilerplate NEAR-dup clusters wider than the cap
    val exact = Dedup.minHashLshPairs(base, 0.5, bucketCap = None)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minHashLshPairs(corpus, 0.5, bucketCap = Some(cap))
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === exact)
  }

  test("exact dedup collapses the synthetic duplicate block") {
    val rows = q("d1_exact_dedup").collect()
    val dupGroups = rows.count(_.getAs[Long]("n_copies") >= 2)
    assert(dupGroups == 100) // 100 shifted copies → 100 groups of 2
  }
}
