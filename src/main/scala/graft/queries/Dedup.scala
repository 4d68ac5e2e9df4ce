package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.TextOps
import Text.{duckRollingHash, duckHash60, duckToks}

/** Deduplication family over `documents`: exact content-hash dedup,
  * n-gram Jaccard near-dup, MinHash+LSH, SimHash banding, and
  * embedding-cosine near-dup.
  *
  * Scale design notes (100 TB):
  * - exact dedup groups on md5(text) — fixed-width shuffle key instead
  *   of the full document body.
  * - n-gram Jaccard prunes stop-shingles (doc-freq cap) before the
  *   shingle self-join, the standard guard against quadratic blowup on
  *   boilerplate; the pair-join shuffles on the shingle key.
  * - MinHash/LSH turns all-pairs O(n²) into per-band bucket joins;
  *   SimHash banding gives *exact* recall for hamming ≤ 3 via the
  *   pigeonhole principle (4 bands × 15 bits over a 60-bit hash).
  * - embedding near-dup is blocked on `label` (a cluster/blocking key),
  *   the same shape as an IVF/coarse-quantizer pre-partition.
  */
object Dedup {

  /** Permutation count for the MinHash signature; the permutation
    * family itself (LCG constants, modulus) lives in operators.MinHashAgg.
    */
  val NUM_PERM = 64

  /** Shared: doc_id + distinct 3-gram shingles (codegen'd
    * WordShinglesExpr; bit-identical to TextOps.distinctShingles,
    * pinned by NativeExprsSpec).
    */
  private[graft] def shingledFrom(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", graft.functions.NativeExprs.shingles3(s, $"text").as("shs"))
  }

  private def shingled(s: SparkSession, dir: String): DataFrame =
    // spread BEFORE the shingle expression: the 3-gram explode +
    // MinHash work downstream is the family's dominant per-row cost
    // and must not run at a small scan's 1-3-task parallelism
    shingledFrom(Tables.spread(Tables.load(s, dir, "documents")))

  /** Shared: exact 3-gram Jaccard pairs ≥ tau with a stop-shingle
    * doc-frequency cap. One bounded-buffer aggregation on the shingle
    * key (CappedDocListAgg: exact count + ≤cap+1 (doc, set-size)
    * list) and the cap filter drops hot boilerplate shingles as whole
    * groups — no window over `sh` (which sort-shuffled the full
    * exploded stream into straggler partitions before the cap could
    * drop them), no self-join (pairs come straight off each ≤cap doc
    * list), and no unbounded collect_list buffer. The Jaccard
    * denominator (each document's distinct-shingle count) rides the
    * exploded stream as the pair payload, so the WHOLE computation is
    * one corpus pass — the former size joins re-evaluated the scan +
    * shingle expression once per side. Singleton shingles can never
    * produce a pair, so df ≥ 2 too.
    */
  private def jaccardPairs(s: SparkSession, dir: String, tau: Double, cap: Int): DataFrame = {
    import s.implicits._
    val sh = shingled(s, dir)
    val ex = sh.select($"doc_id", size($"shs").cast("long").as("n"),
      explode($"shs").as("sh"))
    val capAgg = udaf(new graft.operators.CappedDocListAgg(cap))
    val pairs = ex.groupBy($"sh").agg(capAgg($"doc_id", $"n").as("g"))
      .filter($"g._1".between(2, cap))
      .select(explode($"g._2").as("a"), $"g._2".as("docs"))
      .select($"a", explode($"docs").as("b"))
      .filter($"a._1" < $"b._1")
      .groupBy($"a._1".as("a_id"), $"a._2".as("na"),
        $"b._1".as("b_id"), $"b._2".as("nb"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .select($"a_id", $"b_id", $"inter",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= tau)
  }

  /** Shared: exact-Jaccard confirm over candidate (a_id, b_id) pairs.
    * Takes the (persisted) shingled frame from the caller so the confirm
    * joins hit the cache instead of re-evaluating the corpus scan +
    * shingle expression once per side (the BENCH_r03 d3 regression).
    */
  private def confirmJaccard(sh: DataFrame, pairs: DataFrame, tau: Double): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    pairs
      .join(sh.select($"doc_id".as("a_id"), $"shs".as("a_shs")), "a_id")
      .join(sh.select($"doc_id".as("b_id"), $"shs".as("b_shs")), "b_id")
      .select($"a_id", $"b_id",
        size(array_intersect($"a_shs", $"b_shs")).cast("long").as("inter"),
        size($"a_shs").cast("long").as("na"), size($"b_shs").cast("long").as("nb"))
      .select($"a_id", $"b_id", $"inter",
        ($"inter".cast("double") / ($"na" + $"nb" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= tau)
      .orderBy($"a_id", $"b_id")
  }

  /** Exact-duplicate collapse (d1's digest): one representative row —
    * the min doc_id — per distinct text. The first guard against a
    * degenerate (mass-identical) corpus: a block of m exact copies
    * costs ONE representative downstream instead of m²/2 LSH candidate
    * pairs; its members are recoverable from the d1 grouping.
    */
  private[graft] def collapseExact(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.groupBy(md5($"text".cast("binary")).as("_h"))
      .agg(min($"doc_id").as("doc_id"), min_by($"text", $"doc_id").as("text"))
      .select($"doc_id", $"text")
  }

  /** (doc_id, band, bkey) LSH band keys from a shingled frame: 64-perm
    * MinHash signature (typed MinHashAgg — one pass over the exploded
    * fingerprints with a fixed-width buffer and map-side combine, no
    * 64× row explosion; udaf() + column groupBy, not groupByKey, which
    * would deserialize per row), then 16 bands × 4 rows with the band
    * key as the ordered concat of the band's mins. The signature frame
    * is persisted: a band self-join would otherwise run the whole
    * signature aggregation once per side. This is also the frame a
    * persisted LSH INDEX stores — d9's incremental dedup probes it
    * with a new batch's band keys.
    */
  private[graft] def lshBandKeys(sh: DataFrame): DataFrame =
    bandKeysOf(signaturesFrom(sh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** MinHash signatures (doc_id, sig) from a shingled frame: one pass
    * over the exploded fingerprints (typed MinHashAgg, fixed-width
    * buffer, map-side combine).
    */
  private[graft] def signaturesFrom(sh: DataFrame): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val ex = sh
      .select($"doc_id", explode($"shs").as("sh"))
      .select($"doc_id", graft.functions.NativeExprs.rollingHash(s, $"sh").as("fp"))
    val minhash = udaf(new graft.operators.MinHashAgg(NUM_PERM))
    ex.groupBy($"doc_id").agg(minhash($"fp").as("sig"))
  }

  /** (doc_id, band, bkey) from a (doc_id, sig) frame — banding is a
    * pure projection of the signature, so a side whose signatures are
    * LOADED (a persisted index) derives its band keys without touching
    * corpus text.
    */
  private[graft] def bandKeysOf(sig: DataFrame): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    sig.select($"doc_id",
      explode(transform(sequence(lit(0), lit(15)), b => struct(
        b.as("band"),
        concat_ws(",", transform(slice($"sig", b * 4 + 1, lit(4)),
          v => v.cast("string"))).as("bkey")))).as("bk"))
      .select($"doc_id", $"bk.band", $"bk.bkey")
  }

  /** Persistable LSH index: one row per document with its distinct
    * 3-gram shingles and 64-perm MinHash signature — everything an
    * incremental probe needs, so ingest-time dedup reads the index
    * TABLE and never re-scans or re-shingles corpus text. Publish via
    * Warehouse and keep it fresh by appending each
    * accepted batch's own `buildLshIndex` rows. At 100 TB the `shs`
    * column would hold 64-bit shingle fingerprints (same confirm join,
    * ~10× smaller); strings are kept so the exact-Jaccard confirm is
    * bit-identical to the whole-document oracle.
    */
  def buildLshIndex(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sh = shingledFrom(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.join(signaturesFrom(sh), "doc_id").select($"doc_id", $"shs", $"sig")
  }

  /** d9's incremental flow against a PERSISTED index: the corpus side
    * is `index` (doc_id, shs, sig) — loaded, never recomputed; by
    * construction this probe cannot re-shingle the corpus because it
    * never sees corpus text. Batch signatures are computed fresh,
    * candidates need ≥1 batch member (batch×corpus + batch×batch,
    * never corpus×corpus), confirm is exact Jaccard over the stored
    * shingle sets. Work ∝ |batch| · collision rate, independent of
    * corpus size beyond the band-key equi-join.
    */
  def incrementalPairsAgainstIndex(index: DataFrame, batch: DataFrame,
      tau: Double): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    val bsh = shingledFrom(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bsig = signaturesFrom(bsh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchBands = bandKeysOf(bsig)
    val allBands = batchBands.unionByName(bandKeysOf(index.select($"doc_id", $"sig")))
    val cands = batchBands.select($"doc_id".as("a_id"), $"band", $"bkey")
      .join(allBands.select($"doc_id".as("b_id"), $"band", $"bkey"), Seq("band", "bkey"))
      .filter($"a_id" =!= $"b_id")
      .select(least($"a_id", $"b_id").as("a_id"),
        greatest($"a_id", $"b_id").as("b_id"))
      .distinct()
    confirmJaccard(bsh.unionByName(index.select($"doc_id", $"shs")), cands, tau)
  }

  /** LSH candidate pairs from the band keys. `bucketCap = None` (d3's
    * exact-recall contract): bucket pairs via self-join on the band
    * key. `Some(cap)`: the degenerate-corpus guard — buckets are
    * aggregated with the bounded-buffer CappedDocListAgg shape (d2's
    * stop-shingle cap) and any bucket wider than `cap` is dropped
    * WHOLE, deterministically, bounding a bucket's contribution at
    * cap·(cap−1)/2 candidates and the aggregation buffer at O(cap)
    * however skewed the corpus. Recall trade-off: a pair inside a
    * dropped bucket is only found if some band bucket ≤ cap wide also
    * contains both docs — so boilerplate NEAR-dup clusters wider than
    * the cap can lose pairs (exact duplicates never do: collapse them
    * first via collapseExact, as minHashLshPairs does). Production
    * sizing: cap ≈ 10–100× the expected near-dup cluster width.
    */
  private[graft] def lshCandidatesFrom(sh: DataFrame, bucketCap: Option[Int]): DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val bands = lshBandKeys(sh)
    bucketCap match {
      case None =>
        bands.select($"doc_id".as("a_id"), $"band", $"bkey")
          .join(bands.select($"doc_id".as("b_id"), $"band", $"bkey"), Seq("band", "bkey"))
          .filter($"a_id" < $"b_id")
          .select($"a_id", $"b_id").distinct()
      case Some(cap) =>
        val capAgg = udaf(new graft.operators.CappedDocListAgg(cap))
        bands.groupBy($"band", $"bkey").agg(capAgg($"doc_id", lit(0L)).as("g"))
          .filter($"g._1".between(2, cap))
          .select(explode($"g._2").as("a"), $"g._2".as("docs"))
          .select($"a", explode($"docs").as("b"))
          .filter($"a._1" < $"b._1")
          .select($"a._1".as("a_id"), $"b._1".as("b_id")).distinct()
    }
  }

  /** MinHash+LSH near-dup pairs ≥ tau over an arbitrary (doc_id, text)
    * corpus, exact-Jaccard-confirmed. With `bucketCap` set this is the
    * production degenerate-corpus path: exact duplicates collapse to
    * their min-doc_id representative FIRST (so mass-identical blocks
    * cost one row, with zero recall loss — members come from the d1
    * grouping), then band buckets still wider than the cap are dropped
    * whole (bounded candidates, documented recall cost on boilerplate
    * near-dup clusters wider than the cap — see lshCandidatesFrom).
    * The returned pairs relate representatives; the production dedup
    * decision composes d1 → this → ConnectedComponents (d6).
    */
  def minHashLshPairs(docs: DataFrame, tau: Double,
      bucketCap: Option[Int] = None): DataFrame = {
    val reps = bucketCap.fold(docs)(_ => collapseExact(docs))
    // The shingled frame feeds FOUR plan branches (signature pass +
    // both sides of the confirm join, and the band self-join's two
    // sides re-derive the signatures) — persist it so the corpus
    // scan + WordShinglesExpr run ONCE (the BENCH_r03 regression was
    // this plan re-evaluating the scan 3×). CacheManager holds the
    // entry until clearCache()/session stop — the Verify and Bench
    // harnesses clearCache after each query; a long-lived session
    // embedding this must do the same.
    val sh = shingledFrom(reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    confirmJaccard(sh, lshCandidatesFrom(sh, bucketCap), tau)
  }

  /** CTE block computing exact 3-gram Jaccard pairs (`jpairs`) at
    * threshold tau with a stop-shingle doc-frequency cap — embedded by
    * the d2/d3 oracles and d6's component oracle.
    */
  private def jaccardPairsCte(tau: String, dfCap: Int,
      source: String = "documents"): String =
    s"""sh AS (
      SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        ELSE list_transform(range(1, len(toks)-1),
          i -> toks[i] || '_' || toks[i+1] || '_' || toks[i+2]) END) AS shs
      FROM (SELECT doc_id, $duckToks AS toks FROM $source)),
    ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
    kept AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= $dfCap),
    ex2 AS (SELECT doc_id, sh FROM ex JOIN kept USING (sh)),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      FROM ex2 a JOIN ex2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    sz AS (SELECT doc_id, len(shs) AS n FROM sh),
    jpairs AS (
      SELECT a_id, b_id, inter,
        CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      FROM pairs JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $tau)"""

  private def jaccardOracle(tau: String, dfCap: Int): String =
    s"""WITH ${jaccardPairsCte(tau, dfCap)}
    SELECT a_id, b_id, inter, jaccard FROM jpairs ORDER BY a_id, b_id"""

  val all: Seq[Q] = Seq(

    // ---- exact dedup: hash-groupBy on content digest -------------------
    // Corpus = documents ∪ shifted copy of the first 100 docs, so the
    // operator has real duplicate groups to collapse.
    Q("d1_exact_dedup",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        val corpus = d.union(
          d.filter($"doc_id" < 100).select(($"doc_id" + 100000).as("doc_id"), $"text"))
        corpus
          .groupBy(md5($"text".cast("binary")).as("content_hash"))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy($"keep_id")
      },
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        count(*) AS n_copies
        FROM (SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100)
        GROUP BY 1 ORDER BY keep_id""")),

    // ---- n-gram Jaccard near-dup pairs (exact, shingle self-join) ------
    Q("d2_ngram_jaccard",
      (s, dir) => jaccardPairs(s, dir, 0.5, 100)
        .orderBy(col("a_id"), col("b_id")),
      Some(jaccardOracle("0.5", 100))),

    // ---- near-dup CLUSTERS: pairs → connected components → keepers -----
    // The decision step a dedup pipeline actually needs: a~b, b~c ⇒
    // {a,b,c} is ONE duplicate cluster; keep the min doc_id. Label
    // propagation to fixpoint (operators.ConnectedComponents) — each
    // round a shuffle join + partial-agg min, driver only steers the
    // loop. Oracle = transitive closure via recursive CTE.
    Q("d6_neardup_components",
      (s, dir) => {
        import s.implicits._
        val pairs = jaccardPairs(s, dir, 0.5, 100).select($"a_id", $"b_id")
        // pairs come off a groupBy with a_id < b_id — already unique,
        // so skip the operator's defensive distinct (one full shuffle)
        graft.operators.ConnectedComponents.run(pairs, "a_id", "b_id",
          dedupEdges = false)
          .select($"node".as("doc_id"), $"component",
            ($"node" === $"component").as("is_keeper"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE ${jaccardPairsCte("0.5", 100)},
        edges AS (SELECT a_id AS x, b_id AS y FROM jpairs
                  UNION SELECT b_id, a_id FROM jpairs),
        reach(x, y) AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x AND e.y <> r.x)
        SELECT x AS doc_id, LEAST(x, MIN(y)) AS component,
          LEAST(x, MIN(y)) = x AS is_keeper
        FROM reach GROUP BY x ORDER BY doc_id""")),

    // ---- MinHash + LSH banding → candidates → exact-Jaccard confirm ----
    // 64 permutations, 16 bands × 4 rows; post-confirmation makes the
    // output equal to d2's exact pairs whenever LSH recall is 1 (holds
    // on this corpus; at scale the confirm step bounds false positives
    // and the banding bounds the candidate count). Degenerate corpora
    // (mass-identical documents) make a band bucket quadratic — the
    // production guard (exact-dup collapse + bucket cap) is d7 below;
    // unconditional here, where exact recall is the oracle contract.
    Q("d3_minhash_lsh",
      (s, dir) => {
        import s.implicits._
        minHashLshPairs(
          Tables.load(s, dir, "documents").select($"doc_id", $"text"), 0.5)
      },
      Some(jaccardOracle("0.5", 100))),

    // ---- guarded LSH: exact-dup collapse + capped band buckets ---------
    // The production degenerate-corpus path (minHashLshPairs with
    // bucketCap): corpus = documents ∪ exact copies of the first 100
    // docs (d1's duplicate block). The oracle mirrors the collapse —
    // pairs among min-doc_id REPRESENTATIVES of each distinct text —
    // because the contract of the capped path is pairs-over-reps, not
    // pairs-over-raw-ids (the corpus's own natural exact duplicates
    // collapse too, which is the point of the guard; raw-id pairs are
    // recoverable from the d1 grouping). The cap itself binds only on
    // degenerate corpora (DedupSimSpec proves the bound on a 300-copy
    // block); verified non-binding here at sf0.1 as well as sf0.01.
    Q("d7_lsh_capped",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        val corpus = d.union(
          d.filter($"doc_id" < 100).select(($"doc_id" + 100000).as("doc_id"), $"text"))
        minHashLshPairs(corpus, 0.5, bucketCap = Some(100))
      },
      Some(s"""WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 100),
        reps AS (
          SELECT min(doc_id) AS doc_id, text FROM corpus GROUP BY text),
        ${jaccardPairsCte("0.5", 100, "reps")}
        SELECT a_id, b_id, inter, jaccard FROM jpairs ORDER BY a_id, b_id""")),

    // ---- incremental near-dup: new batch vs existing corpus ------------
    // The production ingest flow: a new batch is deduplicated against
    // the already-ingested corpus WITHOUT re-pairing the corpus with
    // itself. Band keys are computed for both sides (the corpus side
    // is what a persisted signature/band index stores), but candidates
    // require at least one BATCH member: batch×corpus + batch×batch,
    // never corpus×corpus — at 100 TB that is the difference between
    // work proportional to |batch| · collision-rate and re-running the
    // full corpus dedup per ingest. Confirm is exact Jaccard on the
    // shared shingled frame. Oracle = the full exact pair set filtered
    // to pairs touching the batch (doc_id >= 400), which equals the
    // incremental computation whenever LSH recall is 1 (the d3
    // contract).
    Q("d9_incremental_dedup",
      (s, dir) => {
        import s.implicits._
        val sh = shingled(s, dir)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val bands = lshBandKeys(sh)
        val batchB = bands.filter($"doc_id" >= 400)
          .select($"doc_id".as("a_id"), $"band", $"bkey")
        // batch×(corpus ∪ batch) = batch joined against ALL band keys;
        // the filter below removes self-pairs and the least/greatest
        // canonicalization dedups the batch×batch double-match — no
        // corpus×corpus pairs can arise because one side is batch-only
        val cands = batchB.join(
            bands.select($"doc_id".as("b_id"), $"band", $"bkey"), Seq("band", "bkey"))
          .filter($"a_id" =!= $"b_id")
          .select(least($"a_id", $"b_id").as("a_id"),
            greatest($"a_id", $"b_id").as("b_id"))
          .distinct()
        confirmJaccard(sh, cands, 0.5)
      },
      Some(s"""WITH ${jaccardPairsCte("0.5", 100)}
        SELECT a_id, b_id, inter, jaccard FROM jpairs
        WHERE a_id >= 400 OR b_id >= 400
        ORDER BY a_id, b_id""")),

    // ---- incremental near-dup via a PERSISTED LSH index ----------------
    // The full production ingest round-trip: build the corpus index
    // (shingles + signatures) ONCE, publish it through the manifest
    // Warehouse, then dedup a new batch by PROBING THE LOADED TABLE —
    // the corpus text is never re-read or re-shingled (the probe API
    // never even receives it). Same oracle as d9: the incremental
    // result equals the full exact pair set restricted to pairs
    // touching the batch whenever LSH recall is 1.
    Q("d11_index_dedup",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        val wh = graft.sources.Scratch.warehouse(s, "lshidx")
        wh.atomicPublish("lsh_index", buildLshIndex(d.filter($"doc_id" < 400)))
        incrementalPairsAgainstIndex(
          wh.read("lsh_index"), d.filter($"doc_id" >= 400), 0.5)
      },
      Some(s"""WITH ${jaccardPairsCte("0.5", 100)}
        SELECT a_id, b_id, inter, jaccard FROM jpairs
        WHERE a_id >= 400 OR b_id >= 400
        ORDER BY a_id, b_id""")),

    // ---- sub-document span dedup (C4/Dolma-style) ----------------------
    // Remove text REGIONS duplicated across documents, not whole
    // documents: the C4 recipe drops any three-sentence span occurring
    // more than once in the corpus (Raffel et al. 2020 §2.2); Dolma
    // dedups at paragraph level. Here the unit is a non-overlapping
    // 8-token chunk (the corpus is a word stream with no sentence
    // marks), a chunk is dropped from EVERY document when ≥ 2 distinct
    // documents contain it, and each document is reassembled from its
    // surviving chunks in order. Scale shape: chunking is a zero-
    // shuffle per-row transform; the corpus-wide occurrence count
    // groups on the fixed-width md5 digest of the chunk (the d1
    // rationale — 16-byte shuffle keys, never 8-token strings); the
    // rebuild groups on doc_id. Two shuffles total, both map-side
    // combined.
    Q("d12_span_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
        val nch = ceil(size($"tk") / lit(8.0)).cast("int")
        val ch = docs
          .select($"doc_id",
            filter(split($"text", " "), t => t =!= lit("")).as("tk"))
          .select($"doc_id", posexplode(
            when(nch > 0, transform(sequence(lit(0), nch - 1),
              i => array_join(slice($"tk", i * 8 + 1, lit(8)), " ")))
              .otherwise(array().cast("array<string>"))))
          .select($"doc_id", $"pos".cast("long").as("idx"), $"col".as("span"),
            md5($"col".cast("binary")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dup = ch.groupBy($"h")
          .agg(count_distinct($"doc_id").as("nd"))
          .filter($"nd" >= 2).select($"h")
        // DOCUMENTED BOUND (the Gram2Helper discipline): rebuilding
        // clean_text collects one document's surviving spans into one
        // agg buffer — memory is bounded by the DOCUMENT size, the
        // same bound the original row already imposed on every
        // upstream operator. A pathological multi-GB document
        // concentrates its buffer on one task; a pipeline expecting
        // those should cap document length upstream (x1's length gate)
        // or emit spans without reassembly.
        val rebuilt = ch.join(dup, Seq("h"), "left_anti")
          .groupBy($"doc_id")
          .agg(array_sort(collect_list(struct($"idx", $"span"))).as("ks"),
            count(lit(1)).as("n_kept"))
          .select($"doc_id",
            array_join(transform($"ks", x => x.getField("span")), " ")
              .as("clean_text"),
            $"n_kept")
        val totals = ch.groupBy($"doc_id").agg(count(lit(1)).as("n_spans"))
        docs.select($"doc_id")
          .join(totals, Seq("doc_id"), "left")
          .join(rebuilt, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"clean_text", lit("")).as("clean_text"),
            coalesce($"n_spans", lit(0L)).as("n_spans"),
            (coalesce($"n_spans", lit(0L)) - coalesce($"n_kept", lit(0L)))
              .as("n_dropped"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, $duckToks AS tk FROM documents),
        ch0 AS (
          SELECT doc_id,
            unnest(list_transform(range(CAST(ceil(len(tk)/8.0) AS BIGINT)),
              i -> struct_pack(idx := i,
                span := array_to_string(list_slice(tk, i*8+1, (i+1)*8), ' ')))) AS c
          FROM toks),
        ch AS (
          SELECT doc_id, CAST(c.idx AS BIGINT) AS idx, c.span AS span,
            md5(c.span) AS h
          FROM ch0),
        dup AS (
          SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        reb AS (
          SELECT doc_id, string_agg(span, ' ' ORDER BY idx) AS clean_text,
            CAST(count(*) AS BIGINT) AS n_kept
          FROM ch c LEFT JOIN dup d USING (h)
          WHERE d.h IS NULL GROUP BY doc_id),
        tot AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
          FROM ch GROUP BY doc_id)
        SELECT d.doc_id,
          coalesce(r.clean_text, '') AS clean_text,
          coalesce(t.n_spans, 0) AS n_spans,
          coalesce(t.n_spans, 0) - coalesce(r.n_kept, 0) AS n_dropped
        FROM documents d
        LEFT JOIN tot t USING (doc_id) LEFT JOIN reb r USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- SimHash + banded hamming join (exact recall for ham ≤ 3) ------
    Q("d4_simhash",
      (s, dir) => {
        import s.implicits._
        // token stream → codegen'd 60-bit hash → typed SimHashAgg:
        // one fixed-width Array[Int](60) buffer per doc with map-side
        // combine (the MinHashAgg shape), replacing the 60-column
        // SUM-CASE aggregate that dominated BENCH_r01. Same math as the
        // DuckDB oracle's range(60)-join formulation.
        val toks = Tables.load(s, dir, "documents")
          .select($"doc_id",
            explode(filter(split($"text", " "), t => t =!= lit(""))).as("tok"))
        val h = toks.select($"doc_id",
          (graft.functions.NativeExprs.rollingHash(s, $"tok")
            + graft.functions.NativeExprs.rollingHash2(s, $"tok") * lit(1073741824L)).as("h64"))
        // udaf() + column groupBy (same rationale as d3's signature agg)
        val simagg = udaf(new graft.operators.SimHashAgg(60))
        val sh = h.groupBy($"doc_id").agg(simagg($"h64").as("simhash"))
        // 4 bands × 15 bits: pigeonhole ⇒ any pair with hamming ≤ 3
        // shares at least one intact band (exact recall).
        val bands = sh.select($"doc_id", $"simhash",
            explode(sequence(lit(0), lit(3))).as("b"))
          .select($"doc_id", $"simhash", $"b",
            expr("shiftright(simhash, b * 15) & CAST(32767 AS BIGINT)").as("bval"))
        val cand = bands.select($"doc_id".as("a_id"), $"simhash".as("sa"), $"b", $"bval")
          .join(bands.select($"doc_id".as("b_id"), $"simhash".as("sb"), $"b", $"bval"),
            Seq("b", "bval"))
          .filter($"a_id" < $"b_id")
          .select($"a_id", $"b_id", $"sa", $"sb").distinct()
        cand.select($"a_id", $"b_id",
            bit_count($"sa".bitwiseXOR($"sb")).cast("long").as("hamming"))
          .filter($"hamming" <= 3)
          .orderBy($"a_id", $"b_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, unnest($duckToks) AS tok FROM documents),
        h AS (SELECT doc_id, ${duckHash60("tok")} AS h64 FROM toks),
        bits AS (
          SELECT doc_id, j,
            SUM(CASE WHEN (h64 >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN range(60) r(j) GROUP BY doc_id, j),
        sh AS (
          SELECT doc_id,
            SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS simhash
          FROM bits GROUP BY doc_id),
        bands AS (
          SELECT doc_id, simhash, b,
            (simhash >> CAST(b * 15 AS INTEGER)) & 32767 AS bval
          FROM sh CROSS JOIN range(4) r(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
            a.simhash AS sa, b.simhash AS sb
          FROM bands a JOIN bands b
            ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        ORDER BY a_id, b_id""")),

    // ---- Bloom-prefiltered incremental exact dedup ---------------------
    // Batch-vs-corpus exact dedup where the corpus digest set is
    // represented by a BROADCAST BLOOM FILTER, not joined row-for-row:
    // at 100 TB the corpus has ~10^10 digests (too big to broadcast,
    // expensive to shuffle against every incoming batch), but a 3 %-fpp
    // bloom of it is ~1.2 GB/10^9 keys — built ONCE by treeAggregate
    // (a sketch crosses the driver, never rows) and reused across
    // batches. Batch rows the bloom rejects are DEFINITELY new (no
    // false negatives) and skip the join entirely; only the pass-through
    // fraction (true dups + fpp × new) hits the exact keeper join, which
    // also clears the false positives — so the result is EXACT and the
    // oracle is the plain left join. The join side stays proportional to
    // the batch's dup rate, not the corpus.
    Q("d10_bloom_dedup",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        val corpus = d.filter($"doc_id" < 400)
        // the re-keyed sub-50 docs make the batch carry real corpus dups
        val batch = d.filter($"doc_id" >= 400)
          .union(d.filter($"doc_id" < 50)
            .select(($"doc_id" + 200000).as("doc_id"), $"text"))
        val corpusH = corpus.select(md5($"text".cast("binary")).as("h"), $"doc_id")
        val bloom = corpusH.stat.bloomFilter("h", 100000L, 0.03)
        val bc = s.sparkContext.broadcast(bloom)
        // native codegen'd probe (BloomMightContainExpr) — the last
        // UDF in this query's hot path is gone, so the whole batch
        // projection stays inside whole-stage codegen. Null-guarded
        // via coalesce: a null text digests to a null h, which is
        // trivially NEW (routes to the skip branch; the oracle's left
        // join on NULL never matches either).
        val might = coalesce(
          graft.functions.NativeExprs.bloomMightContain(s, bc, $"h"), lit(false))
        // ONE scan of the batch, ONE md5 + bloom probe per row: the
        // (id, 32-char hash, flag) projection is persisted so the two
        // branches below read columnar cache, not the source twice.
        // Only the bloom-pass fraction (dups + fpp × new) shuffles
        // into the keeper join; definite-new rows bypass it entirely.
        val batchH = batch.select($"doc_id", md5($"text".cast("binary")).as("h"))
          .withColumn("might", might)
          .persist()
        val keepers = corpusH.groupBy($"h").agg(min($"doc_id").as("dup_of"))
        val pass = batchH.filter($"might")
          .join(keepers, Seq("h"), "left") // bloom false positives → null
          .select($"doc_id", $"h", $"dup_of")
        val skip = batchH.filter(!$"might")
          .select($"doc_id", $"h", lit(null).cast("long").as("dup_of"))
        pass.union(skip)
          .select($"doc_id", $"h".as("content_hash"), $"dup_of",
            $"dup_of".isNotNull.as("is_dup"))
          .orderBy($"doc_id")
      },
      Some("""WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 400),
        batch AS (
          SELECT doc_id, text FROM documents WHERE doc_id >= 400
          UNION ALL
          SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id < 50),
        ck AS (SELECT md5(text) AS h, min(doc_id) AS dup_of
          FROM corpus GROUP BY 1)
        SELECT b.doc_id, b.h AS content_hash, ck.dup_of,
          ck.dup_of IS NOT NULL AS is_dup
        FROM (SELECT doc_id, md5(text) AS h FROM batch) b
        LEFT JOIN ck ON b.h = ck.h
        ORDER BY b.doc_id""")),

    // ---- embedding-cosine near-dup, blocked on label -------------------
    Q("d5_embedding_neardup",
      (s, dir) => {
        import s.implicits._
        val nd = graft.functions.NativeExprs.dot(s, _: org.apache.spark.sql.Column, _: org.apache.spark.sql.Column)
        val e = Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"label", $"embedding",
            sqrt(nd($"embedding", $"embedding")).as("nrm"))
        val a = e.select($"label", $"vec_id".as("a_id"),
          $"embedding".as("a_emb"), $"nrm".as("a_nrm"))
        val b = e.select($"label", $"vec_id".as("b_id"),
          $"embedding".as("b_emb"), $"nrm".as("b_nrm"))
        a.join(b, "label")
          .filter($"a_id" < $"b_id")
          .select($"a_id", $"b_id",
            (nd($"a_emb", $"b_emb") / ($"a_nrm" * $"b_nrm")).as("cos"))
          .filter($"cos" >= 0.35)
          .orderBy($"a_id", $"b_id")
      },
      Some("""WITH n AS (
          SELECT vec_id, label, embedding,
            sqrt(list_reduce(list_transform(range(1, len(embedding)+1),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
              (a,b) -> a+b)) AS nrm
          FROM embeddings)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          list_reduce(list_transform(range(1, len(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x,y) -> x+y) / (a.nrm * b.nrm) AS cos
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_reduce(list_transform(range(1, len(a.embedding)+1),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x,y) -> x+y) / (a.nrm * b.nrm) >= 0.35
        ORDER BY a_id, b_id""")),

    // ---- URL canonicalization + URL-level dedup ------------------------
    // Web-crawl pipelines dedup by CANONICAL URL before touching content
    // (CCNet, RefinedWeb): strip scheme, lowercase, drop the query
    // string, strip a leading "www." and a trailing "/", then keep one
    // document per canonical form. The testdata has no URL column, so
    // each doc's URL is CONSTRUCTED deterministically from (source,
    // doc_id) — mixed case, alternating ?query/trailing-slash suffixes,
    // and a path bucket (doc_id % 50) that makes distinct raw URLs
    // collide after canonicalization. The canonicalizer itself is the
    // operator under test: pure codegen'd string/regex projections
    // (zero UDFs), then one groupBy on the canonical key — exactly d1's
    // exact-dedup shuffle shape, so it scales the same way (16-byte-ish
    // key, map-side partial agg). Regexes are RE2-simple so Spark (Java
    // regex) and DuckDB (RE2) agree.
    Q("d13_url_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .withColumn("url", concat(
            when($"doc_id" % 2 === 0, "https://WWW.").otherwise("http://"),
            $"source", lit(".Example.COM/p/"), ($"doc_id" % 50).cast("string"),
            when($"doc_id" % 3 === 0,
              concat(lit("/?utm_source=feed&id="), $"doc_id".cast("string")))
              .when($"doc_id" % 3 === 1, "/").otherwise("")))
        docs
          .withColumn("canon",
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  lower(regexp_replace($"url", "^https?://", "")),
                  "\\?.*$", ""),
                "^www\\.", ""),
              "/$", ""))
          .groupBy($"canon")
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_urls"))
          .orderBy($"keep_id")
      },
      Some("""WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.' ELSE 'http://' END)
            || source || '.Example.COM/p/' || CAST(doc_id % 50 AS VARCHAR)
            || (CASE WHEN doc_id % 3 = 0
                  THEN '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                WHEN doc_id % 3 = 1 THEN '/' ELSE '' END) AS url
          FROM documents)
        SELECT regexp_replace(
            regexp_replace(
              regexp_replace(
                lower(regexp_replace(url, '^https?://', '')),
                '\?.*$', ''),
              '^www\.', ''),
            '/$', '') AS canon,
          min(doc_id) AS keep_id, count(*) AS n_urls
        FROM u GROUP BY 1 ORDER BY keep_id""")),

    // ---- quality-aware keeper per near-dup cluster ---------------------
    // d6 keeps the min-id member of each duplicate cluster — simple,
    // but production pipelines keep the BEST member (RefinedWeb keeps
    // the longest document of a near-dup group). Same cluster
    // machinery as d6 (pairs → connected components), then an arg-max
    // by (n_chars, then smaller doc_id as tie-break) per component —
    // max_by over a struct: one map-side-combined partial agg, one row
    // per cluster crossing the shuffle, never a per-cluster sort.
    // Docs with no near-dup edge never enter the component table and
    // are trivially their own keepers (same contract as d6's oracle).
    Q("d14_keep_best",
      (s, dir) => {
        import s.implicits._
        val pairs = jaccardPairs(s, dir, 0.5, 100).select($"a_id", $"b_id")
        val comps = graft.operators.ConnectedComponents.run(
            pairs, "a_id", "b_id", dedupEdges = false)
          .select($"node".as("doc_id"), $"component")
        val j = comps.join(
          Tables.load(s, dir, "documents").select($"doc_id", $"n_chars"),
          "doc_id")
        val keep = j.groupBy($"component")
          .agg(max_by($"doc_id", struct($"n_chars", -$"doc_id")).as("keep_id"))
        j.join(keep, "component")
          .select($"doc_id", $"component", $"n_chars", $"keep_id",
            ($"doc_id" === $"keep_id").as("kept"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE ${jaccardPairsCte("0.5", 100)},
        edges AS (SELECT a_id AS x, b_id AS y FROM jpairs
                  UNION SELECT b_id, a_id FROM jpairs),
        reach(x, y) AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x AND e.y <> r.x),
        comp AS (SELECT x AS doc_id, LEAST(x, MIN(y)) AS component
                 FROM reach GROUP BY x),
        j AS (SELECT c.doc_id, c.component, d.n_chars
              FROM comp c JOIN documents d USING (doc_id)),
        k AS (SELECT component, doc_id AS keep_id FROM (
            SELECT component, doc_id, row_number() OVER (PARTITION BY component
              ORDER BY n_chars DESC, doc_id) AS rn FROM j)
          WHERE rn = 1)
        SELECT j.doc_id, j.component, j.n_chars, k.keep_id,
          j.doc_id = k.keep_id AS kept
        FROM j JOIN k USING (component) ORDER BY j.doc_id""")),

    // ---- domain blocklist filter (suffix-chain match) ------------------
    // Crawl pipelines drop documents whose host matches a blocklist
    // entry OR any parent domain of it ('example.com' blocks
    // 'a.b.example.com'). The scale-right shape is NOT a per-row regex
    // over the blocklist: each host explodes into its ≤depth suffix
    // chain (w2.src3.example.com → itself, src3.example.com,
    // example.com, com — row-local, bounded by label count), which
    // equi-joins the BROADCAST blocklist — linear in corpus size,
    // independent of blocklist size up to broadcast limits. Hosts are
    // constructed deterministically from (source, doc_id) as in d13;
    // the blocklist mixes an apex domain, an apex on another TLD, and
    // one exact subdomain entry, so both match modes are exercised.
    Q("d15_blocklist_filter",
      (s, dir) => {
        import s.implicits._
        val docs = Tables.load(s, dir, "documents")
          .withColumn("host", concat(
            lit("w"), ($"doc_id" % 5).cast("string"), lit("."),
            lower($"source"), lit(".example."),
            when($"doc_id" % 2 === 0, "com").otherwise("org")))
        val bl = Seq("src3.example.com", "src7.example.org",
          "w1.src4.example.com").toDF("entry")
        val parts = split($"host", "\\.")
        val chain = docs.select($"doc_id", $"host",
          explode(transform(sequence(lit(0), size(parts) - 1),
            i => array_join(slice(parts, i + 1, size(parts) - i), ".")))
            .as("sfx"))
        val hits = chain.join(broadcast(bl), $"sfx" === $"entry")
          .groupBy($"doc_id").agg(min($"entry").as("block_entry"))
        docs.select($"doc_id", $"host")
          .join(hits, Seq("doc_id"), "left")
          .select($"doc_id", $"host", $"block_entry",
            $"block_entry".isNotNull.as("blocked"))
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (
          SELECT doc_id,
            'w' || CAST(doc_id % 5 AS VARCHAR) || '.' || lower(source)
            || '.example.'
            || (CASE WHEN doc_id % 2 = 0 THEN 'com' ELSE 'org' END) AS host
          FROM documents),
        bl(entry) AS (VALUES ('src3.example.com'), ('src7.example.org'),
          ('w1.src4.example.com')),
        chain AS (
          SELECT doc_id, host,
            unnest(list_transform(
              range(1, len(string_split(host, '.')) + 1),
              i -> array_to_string(string_split(host, '.')[i:], '.'))) AS sfx
          FROM d),
        hits AS (SELECT doc_id, min(entry) AS block_entry
          FROM chain JOIN bl ON sfx = entry GROUP BY doc_id)
        SELECT d.doc_id, d.host, h.block_entry,
          h.block_entry IS NOT NULL AS blocked
        FROM d LEFT JOIN hits h USING (doc_id) ORDER BY d.doc_id""")),

    // ---- dedup savings report: cluster-size spectrum -------------------
    // The number every dedup run publishes before anyone trusts it:
    // how many near-dup clusters of each size exist and how many
    // documents deduplication removes from each size class. d6's
    // components feed two tiny partial aggs (component → size,
    // size → class count); docs with no near-dup edge never enter the
    // pair set (they are their own keepers and remove nothing), so the
    // report covers exactly the clusters with ≥2 members. At 100 TB
    // the spectrum's key space is ~log corpus — the output is
    // dashboard-sized no matter the input.
    Q("d16_cluster_spectrum",
      (s, dir) => {
        import s.implicits._
        val pairs = jaccardPairs(s, dir, 0.5, 100).select($"a_id", $"b_id")
        graft.operators.ConnectedComponents.run(pairs, "a_id", "b_id",
            dedupEdges = false)
          .groupBy($"component").agg(count(lit(1)).as("cluster_size"))
          .groupBy($"cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            (sum($"cluster_size") - count(lit(1))).cast("long").as("docs_removed"))
          .orderBy($"cluster_size")
      },
      Some(s"""WITH RECURSIVE ${jaccardPairsCte("0.5", 100)},
        edges AS (SELECT a_id AS x, b_id AS y FROM jpairs
                  UNION SELECT b_id, a_id FROM jpairs),
        reach(x, y) AS (
          SELECT x, y FROM edges
          UNION
          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x AND e.y <> r.x),
        comp AS (SELECT x AS doc_id, LEAST(x, MIN(y)) AS component
          FROM reach GROUP BY x),
        csz AS (SELECT component, count(*) AS cluster_size
          FROM comp GROUP BY component)
        SELECT cluster_size, count(*) AS n_clusters,
          CAST(SUM(cluster_size) - count(*) AS BIGINT) AS docs_removed
        FROM csz GROUP BY cluster_size ORDER BY cluster_size""")),

    // ---- image near-dup: perceptual dHash over REAL decoded pixels -----
    // The image-corpus counterpart of d1: byte-exact dedup misses
    // re-encoded or brightness-shifted copies, so image pipelines
    // fingerprint PIXELS. 40 real PNGs (in-JDK ImageIO, the m17
    // technique) in 8 groups of 5 — group members share a pattern but
    // each carries a different global brightness offset, so all 40
    // payloads are byte-distinct and the PNG bytes differ everywhere;
    // dHash (9×8 nearest-neighbor grid, horizontal-adjacent compare —
    // Multimodal.dhash) is invariant to the shift and collapses each
    // group to one 64-bit fingerprint. The oracle re-derives every
    // grid comparison from the pixel formula in integer SQL — the
    // DECODE+hash path is what's under test. Scale shape: one batched
    // mapPartitions decode pass, then the d1 groupBy on a fixed-width
    // key; at 100 TB the hash is the shuffle key and payloads never
    // move.
    Q("d17_image_dhash",
      (s, dir) => {
        import s.implicits._
        import graft.multimodal.Multimodal
        val rows = (0 until 40).map { i =>
          val g = i / 5
          val w = 32 + g % 3
          val h = 24
          val px = Array.tabulate(w * h)(j =>
            (g * 37 + j * 11) % 200 + (i % 5) * 10)
          org.apache.spark.sql.Row(i.toLong, "image",
            Multimodal.ImageIoCodec.encodePng(w, h, px),
            org.apache.spark.sql.Row(w, h, 0, 0))
        }
        val media = s.createDataFrame(
          s.sparkContext.parallelize(rows, 3), Multimodal.mediaSchema)
        Multimodal.imageDhash(media, batchSize = 16)
          .groupBy($"dhash")
          .agg(count(lit(1)).as("n_dups"),
            concat_ws(",", array_sort(collect_list($"media_id"))).as("ids"),
            min($"media_id").as("keeper"))
          .orderBy($"dhash")
      },
      Some("""WITH gs AS (
          SELECT CAST(i AS BIGINT) AS g, CAST(32 + i % 3 AS BIGINT) AS w
          FROM range(8) t(i)),
        bits AS (
          SELECT g, r.r, c.c,
            CASE WHEN (g*37 + ((r.r*3)*w + ((c.c+1)*w)//9)*11) % 200
                    > (g*37 + ((r.r*3)*w + (c.c*w)//9)*11) % 200
              THEN '1' ELSE '0' END AS b
          FROM gs CROSS JOIN range(8) r(r) CROSS JOIN range(8) c(c)),
        h AS (SELECT g, string_agg(b, '' ORDER BY r, c) AS dhash
          FROM bits GROUP BY g),
        ids AS (SELECT g, string_agg(CAST(g*5 + k AS VARCHAR), ',' ORDER BY k) AS ids
          FROM gs CROSS JOIN range(5) t(k) GROUP BY g)
        SELECT h.dhash, CAST(5 AS BIGINT) AS n_dups, ids.ids,
          CAST(h.g*5 AS BIGINT) AS keeper
        FROM h JOIN ids USING (g) ORDER BY dhash""")),

    // ---- exact-substring dedup: sliding windows + interval merge -------
    // The Lee et al. 2021 ("Deduplicating Training Data Makes Language
    // Models Better") operator, re-expressed for Spark: d12's chunks
    // are STRIDE-8 (a duplicated passage that straddles a chunk
    // boundary is invisible), this is stride-1 — every 8-token window,
    // so any duplicated run of ≥ 8 tokens is caught at every offset,
    // the same guarantee the paper gets from suffix arrays. A window
    // whose text occurs ≥ 2 times ANYWHERE in the corpus (other docs
    // or elsewhere in the same doc) is a duplicate; a doc's dup
    // windows [pos, pos+7] are merged gaps-and-islands style into
    // maximal removable intervals. Scale: windows shuffle as md5 keys
    // (d12 discipline — the 16-byte hash crosses the wire, never the
    // span text); the islands window function runs over DUP positions
    // only (a tiny fraction of the corpus), partitioned by doc — never
    // a corpus-wide sort. Stride-1 writes 8× more window rows than
    // d12; that is the paper's cost too (suffix array = all suffixes)
    // and it stays linear in corpus size.
    Q("d18_substring_dedup",
      (s, dir) => {
        import s.implicits._
        val toked = Tables.load(s, dir, "documents")
          .select($"doc_id",
            filter(split($"text", " "), t => t =!= lit("")).as("ts"))
        val wins = toked.filter(size($"ts") >= 8)
          .select($"doc_id", posexplode(
            transform(sequence(lit(0), size($"ts") - 8),
              i => array_join(slice($"ts", i + 1, lit(8)), " "))))
          .select($"doc_id", $"pos".cast("long").as("pos"),
            md5($"col".cast("binary")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dup = wins.groupBy($"h").agg(count(lit(1)).as("c"))
          .filter($"c" >= 2).select($"h")
        val dpos = wins.join(dup, Seq("h"), "left_semi")
        // gaps-and-islands: a dup window opens a new island iff its
        // start lies past every previous window's end (running max)
        val wprev = Window.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wrun = Window.partitionBy($"doc_id").orderBy($"pos")
          .rowsBetween(Window.unboundedPreceding, 0)
        val islands = dpos
          .select($"doc_id", $"pos",
            when($"pos" > coalesce(max($"pos" + 7).over(wprev), lit(-1L)),
              lit(1)).otherwise(lit(0)).as("brk"))
          .select($"doc_id", $"pos", sum($"brk").over(wrun).as("isl"))
          .groupBy($"doc_id", $"isl")
          .agg(min($"pos").as("st"), (max($"pos") + 7).as("en"))
        val perDoc = islands.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_islands"),
            sum($"en" - $"st" + 1).as("n_removed"))
        val dcnt = dpos.groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
        toked
          .select($"doc_id",
            greatest(size($"ts") - 7, lit(0)).cast("long").as("n_windows"))
          .join(dcnt, Seq("doc_id"), "left")
          .join(perDoc, Seq("doc_id"), "left")
          .select($"doc_id", $"n_windows",
            coalesce($"n_dup", lit(0L)).as("n_dup"),
            coalesce($"n_islands", lit(0L)).as("n_islands"),
            coalesce($"n_removed", lit(0L)).as("n_removed"))
          .orderBy($"doc_id")
      },
      Some("""WITH dt AS (SELECT doc_id,
          list_filter(string_split(text, ' '), t -> t <> '') AS ts
          FROM documents),
        w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
            array_to_string(ts[i+1:i+8], ' ') AS span
          FROM dt, unnest(range(0, len(ts)-7)) AS u(i)),
        dup AS (SELECT span FROM w GROUP BY span HAVING count(*) >= 2),
        dpos AS (SELECT doc_id, pos FROM w
          WHERE span IN (SELECT span FROM dup)),
        mk AS (SELECT doc_id, pos,
            CASE WHEN pos > COALESCE(max(pos+7) OVER (PARTITION BY doc_id
              ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -1) THEN 1 ELSE 0 END AS brk
          FROM dpos),
        run AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id
            ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS isl FROM mk),
        isle AS (SELECT doc_id, isl, min(pos) AS st, max(pos)+7 AS en
          FROM run GROUP BY doc_id, isl),
        pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
            CAST(sum(en-st+1) AS BIGINT) AS n_removed
          FROM isle GROUP BY doc_id),
        dc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
          FROM dpos GROUP BY doc_id),
        tw AS (SELECT doc_id,
            CAST(greatest(len(ts)-7, 0) AS BIGINT) AS n_windows FROM dt)
        SELECT tw.doc_id, n_windows, COALESCE(n_dup, 0) AS n_dup,
          COALESCE(n_islands, 0) AS n_islands,
          COALESCE(n_removed, 0) AS n_removed
        FROM tw LEFT JOIN dc USING (doc_id) LEFT JOIN pd USING (doc_id)
        ORDER BY doc_id""")),

    // ---- shingle containment: quote / partial-copy detection -----------
    // Jaccard (d2) is symmetric, so a short document quoted WHOLE
    // inside a long one scores low and near-dup pipelines miss it.
    // Broder's containment c(A,B) = |S(A)∩S(B)| / |S(A)| is the
    // asymmetric dual: a ≥ 80 % containment of A's distinct 5-gram
    // shingles in B flags A as a quote/excerpt of B regardless of
    // B's length. EXACT, not sketched: pairs come from the shingle
    // inverted self-join (only docs sharing ≥ 1 shingle ever meet —
    // never all-pairs), shared counts divide by A's shingle count via
    // the integer cross-multiply (5·shared ≥ 4·ng). Scale: the join
    // shuffles 16-byte md5 shingle keys; its cost is Σ df² over
    // 5-gram shingles, near-linear on natural text (5-grams are
    // almost unique) — boilerplate hot shingles are the known hazard
    // and take d7's capped-doc-list treatment when they appear.
    Q("d19_shingle_containment",
      (s, dir) => {
        import s.implicits._
        val dt = Tables.load(s, dir, "documents")
          .select($"doc_id",
            filter(split($"text", " "), t => t =!= lit("")).as("ts"))
        val sh = dt.filter(size($"ts") >= 5)
          .select($"doc_id", explode(array_distinct(
            transform(sequence(lit(0), size($"ts") - 5),
              i => array_join(slice($"ts", i + 1, lit(5)), " ")))).as("g"))
          .select($"doc_id", md5($"g".cast("binary")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ng = sh.groupBy($"doc_id").agg(count(lit(1)).as("ng"))
        sh.as("a")
          .join(sh.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("contained_id"),
            col("b.doc_id").as("container_id"))
          .agg(count(lit(1)).as("shared"))
          .join(ng.withColumnRenamed("doc_id", "contained_id"), "contained_id")
          .filter($"shared" * 5 >= $"ng" * 4)
          .select($"contained_id", $"container_id", $"shared", $"ng")
          .orderBy($"contained_id", $"container_id")
      },
      Some("""WITH dt AS (SELECT doc_id,
          list_filter(string_split(text, ' '), t -> t <> '') AS ts
          FROM documents),
        sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i+1:i+5], ' ') AS g
          FROM dt, unnest(range(0, len(ts)-4)) AS u(i)),
        n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng
          FROM sh GROUP BY doc_id)
        SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
          CAST(count(*) AS BIGINT) AS shared, n.ng
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
        JOIN n ON n.doc_id = a.doc_id
        GROUP BY a.doc_id, b.doc_id, n.ng
        HAVING count(*) * 5 >= n.ng * 4
        ORDER BY contained_id, container_id""")),

    // ---- Prefix-filtering set-similarity join (All-Pairs/PPJoin) -----
    // The EXACT token-Jaccard join at scale (Bayardo et al., WWW'07;
    // Xiao et al., PPJoin): order every document's distinct tokens by
    // ascending global document frequency (rare first — ties broken
    // by the token string, so the order is total and deterministic),
    // keep only the PREFIX of length n − ⌈τ·n⌉ + 1, and equi-join
    // prefixes on the token. Any pair with Jaccard ≥ τ must share a
    // prefix token on both sides (the intersection is ≥ ⌈τ·max⌉,
    // larger than either suffix), so candidate generation is
    // LOSSLESS — and the oracle, which states the naive all-pairs
    // semantics, proves that empirically. Candidates then confirm by
    // exact intersection.
    //
    // Round-19 refinements (guide §2 skew / §8 lightweight-proxy):
    //  1. TOKEN-SET collapse before candidate generation: docs whose
    //     distinct-token SETS are identical are mutually J=1 matches
    //     and are indistinguishable from each other to every other
    //     doc, so one representative per set enters the join and
    //     matches expand back over set members afterwards — the same
    //     move collapseExact makes for identical TEXTS, applied at the
    //     granularity the join actually keys on. A boilerplate-heavy
    //     corpus (the skew case: m docs sharing one template set fan
    //     out m× in every bucket) turns into ONE prefix row per set.
    //  2. PPJoin POSITIONAL filter: each prefix token carries its
    //      1-based rank in the df-sorted order; a shared token at
    //     ranks (pa, pb) bounds the overlap by min(pa,pb)−1 shared
    //     tokens before it, itself, and min(na−pa, nb−pb) after —
    //     pairs whose bound cannot reach ⌈τ/(1+τ)·(na+nb)⌉ are pruned
    //     BEFORE the distinct/confirm (lossless: the bound is an upper
    //     bound on the true overlap, so every true match survives; the
    //     −1e-9 slack only ever ADMITS borderline candidates).
    // No global rank table (the (df, token) pair IS the sort key — no
    // single-partition row_number), the length filter τ·max ≤ min
    // prunes before dedup, and the join shuffles prefix tokens only.
    Q("d20_prefix_filter_join",
      (s, dir) => {
        import s.implicits._
        val tau = 0.95
        // exact-duplicate collapse FIRST (the d3 staging discipline):
        // a block of m identical docs would contribute m(m-1)/2
        // trivially-matching pairs — one representative (min doc_id)
        // stands for the block and the pair stream shrinks to the
        // genuinely-near corpus
        val tk = Dedup.collapseExact(Tables.load(s, dir, "documents"))
          .select($"doc_id", array_distinct(TextOps.tokens($"text")).as("tk"))
          .filter(size($"tk") > 0)
        // set signature = the sorted distinct-token array (exact — no
        // hash whose collision could fabricate a J=1 pair); sid = the
        // set's min doc_id, via a window so no self-join re-derives it
        val mem = tk
          .select($"doc_id", array_sort($"tk").as("sig"))
          .withColumn("sid", min($"doc_id").over(
            Window.partitionBy($"sig")))
          .persist()
        val reps = mem.filter($"doc_id" === $"sid")
          .select($"sid", $"sig", size($"sig").cast("long").as("n"))
        val toks = reps.select($"sid", $"n", explode($"sig").as("tok"))
        val df = toks.groupBy($"tok").agg(count(lit(1)).as("df"))
        val prefix = toks.join(df, "tok")
          .groupBy($"sid", $"n")
          .agg(array_sort(collect_list(struct($"df", $"tok"))).as("sorted"))
          .select($"sid", $"n", posexplode(expr(s"slice(sorted, 1, " +
            s"cast(n - ceil($tau * n) + 1 as int))")))
          .select($"sid", $"n", ($"pos" + 1).cast("long").as("rnk"),
            $"col.tok".as("tok"))
        val cand = prefix
          .select($"sid".as("a_sid"), $"n".as("na"), $"rnk".as("pa"), $"tok")
          .join(prefix
            .select($"sid".as("b_sid"), $"n".as("nb"), $"rnk".as("pb"), $"tok"),
            "tok")
          .filter($"a_sid" < $"b_sid" &&
            greatest($"na", $"nb") * tau <= least($"na", $"nb") &&
            (least($"pa", $"pb") + least($"na" - $"pa", $"nb" - $"pb"))
              .cast("double") * (1.0 + tau) >= ($"na" + $"nb") * tau - 1e-9 &&
            // DISTINCT sets can share at most min(na,nb) tokens, and
            // at most min−1 when na = nb (equal-size distinct sets are
            // never equal as sets) — post set-collapse every candidate
            // pair is between distinct sets, so requiring that maximum
            // to reach ⌈τ/(1+τ)·(na+nb)⌉ is lossless and kills the
            // equal-length near-miss bulk at high τ (measured 3.15M →
            // 1.06M pre-distinct rows at sf0.1)
            (least($"na", $"nb") - when($"na" === $"nb", 1L).otherwise(0L))
              .cast("double") * (1.0 + tau) >= ($"na" + $"nb") * tau - 1e-9)
          .select($"a_sid", $"b_sid").distinct()
        // HASHED pre-confirm (exact, two-phase): each set's token-hash
        // array (xxhash64, sorted) intersects ~3× cheaper than the
        // string arrays. With no intra-set collision (hsafe: the
        // hashed set kept its cardinality), cross-set collisions can
        // only INFLATE the hash intersection, so |h(A)∩h(B)| is an
        // upper bound on |A∩B| — pairs whose bound can't reach
        // ⌈τ/(1+τ)·(na+nb)⌉ are pruned losslessly, and the exact
        // string intersect below runs only on survivors (~matches +
        // collisions). A set with an internal collision skips the
        // pre-filter entirely and goes straight to the exact confirm.
        val repsH = reps.select($"sid",
            expr("array_sort(transform(sig, t -> xxhash64(t)))").as("hsig"),
            $"n")
          .select($"sid", $"hsig", $"n",
            (size(array_distinct($"hsig")) === $"n").as("hsafe"))
        val candH = cand
          .join(repsH.select($"sid".as("a_sid"), $"hsig".as("a_h"),
            $"n".as("na"), $"hsafe".as("a_safe")), "a_sid")
          .join(repsH.select($"sid".as("b_sid"), $"hsig".as("b_h"),
            $"n".as("nb"), $"hsafe".as("b_safe")), "b_sid")
          .filter(!$"a_safe" || !$"b_safe" ||
            size(array_intersect($"a_h", $"b_h")).cast("double") * (1.0 + tau)
              >= ($"na" + $"nb") * tau - 1e-9)
          .select($"a_sid", $"b_sid")
        val setPairs = candH
          .join(reps.select($"sid".as("a_sid"), $"sig".as("a_sig")), "a_sid")
          .join(reps.select($"sid".as("b_sid"), $"sig".as("b_sig")), "b_sid")
          .select($"a_sid", $"b_sid",
            size(array_intersect($"a_sig", $"b_sig")).cast("long").as("inter"),
            size($"a_sig").cast("long").as("na"),
            size($"b_sig").cast("long").as("nb"))
          .select($"a_sid", $"b_sid", $"inter",
            ($"inter".cast("double") / ($"na" + $"nb" - $"inter"))
              .as("jaccard"))
          .filter($"jaccard" >= tau)
        // matched set pairs expand over both sets' members; pair
        // canonicalization (least/greatest) keeps a_id < b_id, and
        // inter/jaccard are symmetric so the expanded rows carry the
        // representative pair's exact values
        val cross = setPairs
          .join(mem.select($"sid".as("a_sid"), $"doc_id".as("xa")), "a_sid")
          .join(mem.select($"sid".as("b_sid"), $"doc_id".as("xb")), "b_sid")
          .select(least($"xa", $"xb").as("a_id"),
            greatest($"xa", $"xb").as("b_id"), $"inter", $"jaccard")
        // within-set pairs: identical sets, inter = n and jaccard =
        // n/(n+n−n) = n/n — exactly 1.0 in IEEE for any finite n > 0,
        // so the literal is bit-identical to the division the confirm
        // would have computed
        val within = mem
          .select($"sid", $"doc_id".as("a_id"),
            size($"sig").cast("long").as("inter"))
          .join(mem.select($"sid", $"doc_id".as("b_id")), "sid")
          .filter($"a_id" < $"b_id")
          .select($"a_id", $"b_id", $"inter", lit(1.0).as("jaccard"))
        within.unionByName(cross).orderBy($"a_id", $"b_id")
      },
      Some(s"""WITH reps AS (
          SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        tk AS (
          SELECT doc_id, list_distinct($duckToks) AS tk FROM reps
          WHERE len(list_distinct($duckToks)) > 0)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS inter,
          CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
            (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
            AS jaccard
        FROM tk a JOIN tk b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
            (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
            >= 0.95
        ORDER BY a_id, b_id""")),

    // ---- Edit-distance join via deletion-neighborhood blocking -------
    // The fuzzy string join (FastSS family): ed(a,b) ≤ 1 implies the
    // 1-deletion neighborhoods {s} ∪ {s − one char} intersect — a
    // substitution deletes to the same string from both sides, an
    // insert/delete pair meets at the shorter string — so candidates
    // come from an EQUI-join on the exploded variants (≤ len+1 per
    // name, generated by a codegen'd transform(), no UDF), never an
    // all-pairs levenshtein. A shared variant can also mean ed = 2
    // (two different deletions), so the exact levenshtein runs as the
    // CONFIRM over candidates only. At 100 TB the neighborhood factor
    // is ~len per string while the cross product is n² — the oracle
    // states the naive all-pairs form to prove blocking lost nothing.
    Q("d21_editdist_join",
      (s, dir) => {
        import s.implicits._
        val names = Tables.load(s, dir, "part")
          .select($"p_name".as("name")).distinct().persist()
        // variants shuffle as xxhash64 DIGESTS, not strings (the d1
        // discipline): the equi-join key is fixed 8 bytes however long
        // the names get, halving shuffle width on long keys for free.
        // A digest collision can only ADD a candidate pair — the exact
        // levenshtein confirm below is already the correctness
        // boundary, so blocking on hashes loses nothing.
        val variants = names.select($"name",
          explode(array_union(array($"name"),
            expr("""transform(sequence(1, length(name)),
              i -> concat(substring(name, 1, i - 1),
                          substring(name, i + 1, length(name))))""")))
            .as("v"))
          .select($"name", xxhash64($"v").as("vh"))
        variants.select($"name".as("name_a"), $"vh")
          .join(variants.select($"name".as("name_b"), $"vh"), "vh")
          .filter($"name_a" < $"name_b")
          .select($"name_a", $"name_b").distinct()
          .filter(levenshtein($"name_a", $"name_b") <= 1)
          .select($"name_a", $"name_b",
            levenshtein($"name_a", $"name_b").cast("long").as("dist"))
          .orderBy($"name_a", $"name_b")
      },
      Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part)
        SELECT a.name AS name_a, b.name AS name_b,
          CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        FROM n a JOIN n b
          ON a.name < b.name AND levenshtein(a.name, b.name) <= 1
        ORDER BY name_a, name_b"""))
  )
}
