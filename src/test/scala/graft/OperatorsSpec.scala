package graft

import org.apache.spark.sql.functions._
import graft.operators.{MinHashAgg, SkewJoin}

/** Skew-salted join and the typed MinHash aggregator. */
class OperatorsSpec extends SparkSpec {

  test("saltedJoin result == plain join result on skewed data") {
    import spark.implicits._
    // 90% of the big side hits one hot key
    val big = spark.range(0, 20000)
      .select(when($"id" % 10 =!= 0, lit(1L)).otherwise($"id" % 50).as("k"),
        $"id".as("payload"))
    val small = spark.range(0, 50).select($"id".as("k"), ($"id" * 100).as("dim"))
    val plain = big.join(small, Seq("k")).select("k", "payload", "dim")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    val salted = SkewJoin.saltedJoin(big, small, "k", salt = 8)
      .select("k", "payload", "dim")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(salted.length === plain.length)
    assert(salted.toSeq === plain.toSeq)
  }

  test("MinHashAgg == reference minhash math, partial-agg safe") {
    import spark.implicits._
    val P = 1000000007L
    def h(perm: Int, x: Long): Long =
      ((((perm + 1) * 2654435761L + 1013904223L) % P * x
        + ((perm + 1) * 1779033703L + 2246822519L) % P) % P)

    val data = Map(
      1L -> Seq(17L, 42L, 999999999L, 123456L),
      2L -> Seq(42L, 77L))
    val fps = data.toSeq.flatMap { case (d, v) => v.map(d -> _) }
      .toDF("doc_id", "fp")
      .repartition(4) // force multiple partitions → merge() is exercised
      .as[(Long, Long)]

    val agg = new MinHashAgg(16)
    val sigs = fps.groupByKey(_._1).mapValues(_._2)
      .agg(agg.toColumn.name("sig"))
      .collect().toMap

    data.foreach { case (doc, v) =>
      val expected = (0 until 16).map(p => v.map(h(p, _)).min)
      assert(sigs(doc) === expected, s"doc $doc")
    }
  }

  test("saltedJoin rejects right/full outer join types") {
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("k", "v")
    val b = Seq((1L, "y")).toDF("k", "w")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer")) {
      intercept[IllegalArgumentException] {
        SkewJoin.saltedJoin(a, b, "k", 4, jt)
      }
    }
    // left outer stays supported and correct
    assert(SkewJoin.saltedJoin(a, b, "k", 4, "left").count() === 1)
  }

  test("MinHashAgg normalizes arbitrary Long inputs (hash60, negatives)") {
    import spark.implicits._
    val P = 1000000007L
    def h(perm: Int, x: Long): Long = {
      val xm = java.lang.Math.floorMod(x, P)
      ((((perm + 1) * 2654435761L + 1013904223L) % P * xm
        + ((perm + 1) * 1779033703L + 2246822519L) % P) % P)
    }
    // inputs outside [0, P): 60-bit hash60-scale values and a negative
    val ins = Seq(1L << 59, (1L << 60) - 3, -42L, Long.MinValue + 7)
    val sig = ins.map(7L -> _).toDF("doc_id", "fp").as[(Long, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new MinHashAgg(8).toColumn.name("sig"))
      .collect().head._2
    val expected = (0 until 8).map(p2 => ins.map(h(p2, _)).min)
    assert(sig === expected)
    sig.foreach(v => assert(v >= 0 && v < P))
  }

  test("CappedDocListAgg: exact counts, truncation only beyond cap, partial-agg safe") {
    import spark.implicits._
    import graft.operators.CappedDocListAgg
    // key 1: 3 docs (under cap — full list), key 2: 7 docs (over cap=5 —
    // count exact, list truncated to cap+1), key 3: singleton. The
    // payload (second input column, 10·doc here) must ride unchanged.
    val rows = Seq.tabulate(3)(i => ("a", i.toLong)) ++
      Seq.tabulate(7)(i => ("b", 100L + i)) ++ Seq(("c", 9L))
    val agg = udaf(new CappedDocListAgg(5))
    val out = rows.toDF("k", "doc")
      .withColumn("payload", $"doc" * 10)
      .repartition(4) // multiple partitions → merge() is exercised
      .groupBy($"k").agg(agg($"doc", $"payload").as("g"))
      .collect().map { r =>
        val s = r.getStruct(1)
        r.getString(0) -> (s.getLong(0),
          s.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1))))
      }.toMap
    assert(out("a")._1 === 3L)
    assert(out("a")._2.sortBy(_._1) === Seq((0L, 0L), (1L, 10L), (2L, 20L)))
    assert(out("b")._1 === 7L) // count exact even though list is capped
    assert(out("b")._2.length === 6) // cap+1: enough to prove over-cap
    assert(out("b")._2.forall { case (d, p) => (100L to 106L).contains(d) && p === d * 10 })
    assert(out("c") === ((1L, Seq((9L, 90L)))))
  }

  test("SimHashAgg == per-bit majority math, partial-agg safe") {
    import spark.implicits._
    import graft.operators.SimHashAgg
    val hashes = Seq(0x7L, 0x5L, 0x1L, 0x8L) // bits over 4 tokens
    // bit0: +1+1+1-1=2 →1; bit1: +1-1-1-1=-2 →0; bit2: +1+1-1-1=0 →1 (tie);
    // bit3: -1-1-1+1=-2 →0
    val expected = (1L << 0) | (1L << 2)
    val sig = hashes.map(77L -> _).toDF("doc_id", "h").repartition(3)
      .as[(Long, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(new SimHashAgg(60).toColumn.name("sig"))
      .collect().head._2
    assert(sig === expected)
  }

  test("ConnectedComponents: transitive clusters, chains, singletons-in-pairs") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // component {1,2,3,4} via a path (diameter 3 → needs >1 round),
    // component {10,11}, and a self-loop {20}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("a", "b")
    val out = ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("ConnectedComponents == union-find reference on random graphs, both dedup modes") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(30)
      val edges = Seq.fill(40 + rnd.nextInt(40))(
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
      // driver-side union-find: attaching the larger root under the
      // smaller keeps every root the min id of its component
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val gotDeduped = ConnectedComponents.run(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(gotDeduped === expect, s"seed=$seed (dedupEdges=true)")
      val gotUnique = ConnectedComponents.run(edges.distinct.toDF("a", "b"),
          dedupEdges = false)
        .as[(Long, Long)].collect().toMap
      assert(gotUnique === expect, s"seed=$seed (dedupEdges=false)")
    }
  }

  test("PageRank == integer reference on random directed graphs (dangling nodes, 6 iters)") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val n = 20 + rnd.nextInt(20)
      // directed, duplicates allowed; some nodes appear only as dst
      // (dangling — no out-edges, their mass leaks, per the class doc)
      val edges = Seq.fill(50 + rnd.nextInt(30))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val scale = 1000000000000L
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val pr0 = scale / nodes.size
      val base = pr0 * 15 / 100
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var ref = nodes.map(_ -> pr0).toMap
      for (_ <- 1 to 6) {
        val inflow = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
        edges.foreach { case (s, d) => inflow(d) += ref(s) / outdeg(s) }
        ref = nodes.map(v => v -> (base + 85L * inflow(v) / 100L)).toMap
      }
      val got = graft.operators.PageRank.run(edges.toDF("src", "dst"), 6)
        .as[(Long, Long)].collect().toMap
      assert(got === ref, s"seed=$seed")
    }
  }

  test("ConnectedComponents: empty edge list yields an empty frame, no crash") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = ConnectedComponents.run(edges)
    assert(out.columns.toSeq === Seq("node", "component"))
    assert(out.count() === 0)
  }

  test("ConnectedComponents: replaced rounds free their checkpoint storage") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // a 60-node path graph: diameter 59 ⇒ many label-propagation
    // rounds, each an eager localCheckpoint. Dataset.unpersist is a
    // no-op on those (they persist OUTSIDE the CacheManager), so
    // without explicit RDD frees every round's blocks would linger —
    // the accumulation ADVICE r6 flagged. After run(), only the
    // returned frame's own checkpoint may remain registered.
    val before = spark.sparkContext.getPersistentRDDs.size
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val out = ConnectedComponents.run(edges, maxRounds = 100)
    assert(out.as[(Long, Long)].collect().forall(_._2 === 0L))
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"checkpoint blocks accumulated: $before persistent RDDs before, $after after")
  }

  test("TopKAgg.rank == row_number window form, ties and partial-agg safe") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ties on purpose: score quantized to one of 5 values so (score
    // DESC, vec_id ASC) tie-breaking is actually exercised; repartition
    // forces multi-partition partial aggregation + merge
    // NaN scores included (vec_id % 911 == 0): a NaN must rank LARGEST
    // like the window's double ordering — the raw-`>` comparator froze
    // the buffer once a NaN reached its tail
    val scored = spark.range(0, 5000)
      .select(($"id" % 7).as("q_id"), $"id".as("vec_id"),
        when($"id" % 911 === 0, lit(Double.NaN))
          .otherwise(($"id" * 37 % 5).cast("double") / 5).as("cos"))
      .repartition(13)
    val viaAgg = graft.operators.TopKAgg.rank(scored, 10, "cos")
      .orderBy("q_id", "rank").collect()
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id")
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"q_id", $"rank".cast("long").as("rank"), $"vec_id", $"cos")
      .orderBy("q_id", "rank").collect()
    assert(viaAgg.toSeq === viaWindow.toSeq)
    // k larger than the group: every row comes back, still rank-ordered
    val small = scored.filter($"q_id" === 0 && $"vec_id" < 21)
    assert(graft.operators.TopKAgg.rank(small, 10, "cos").count() === 3)
  }

  test("approx_count_distinct within 5% of exact") {
    import spark.implicits._
    val li = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("m6_approx_distinct")(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      assert(r.getLong(1) === exact(flag), s"$flag n_parts")
      assert(r.getBoolean(3), s"$flag sketch outside 5%")
    }
  }

  test("MisraGriesAgg: candidates ⊇ freq > N/(k+1), ≤ k counters, partial-agg safe") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // heavy head + mid band + singleton tail, shuffled so heavy items
    // are spread across partitions and merge() does real work
    val stream = rnd.shuffle(
      Seq.fill(2000)("h" + rnd.nextInt(3)) ++
        Seq.fill(3000)("m" + rnd.nextInt(30)) ++
        Seq.tabulate(5000)(i => "t" + i))
    val k = 20
    val mg = udaf(new graft.operators.MisraGriesAgg(k))
    val cand = stream.toDF("term").repartition(8)
      .agg(mg(col("term")))
      .as[Seq[String]].head()
    assert(cand.size <= k, "sketch exceeded its counter bound")
    val n = stream.size
    val exact = stream.groupBy(identity).map { case (t, o) => t -> o.size }
    val must = exact.collect { case (t, c) if c > n / (k + 1) => t }.toSet
    assert(must.subsetOf(cand.toSet),
      s"MG guarantee violated: missing ${must -- cand.toSet}")
  }

  test("CoPurchase maxDegree: hub basket dropped whole, pair volume bounded, non-hub pairs exact") {
    import spark.implicits._
    // hub corpus: customer 0 holds 10k distinct parts (C(10k,2) ≈
    // 5×10⁷ pairs uncapped — the skew blow-up); 50 normal customers
    // hold 10 parts each from a shared 40-part pool so real
    // co-occurrence pairs repeat across customers
    val hub = spark.range(0, 10000).select(lit(0L).as("cust"), $"id".as("part"))
    val normal = spark.range(1, 51).select($"id".as("cust"),
        explode(sequence($"id" % 30 + 1, $"id" % 30 + 10)).as("part"))
    val inc = hub.unionByName(normal)

    val capped = graft.operators.CoPurchase.pairs(inc, "cust", "part",
      minSupport = 1, maxDegree = Some(100))
    // bound: ≤ 50 kept customers × C(10,2) pair-events ⇒ ≤ 2250
    // distinct pairs — the hub's ~5×10⁷ never materialize
    val nCapped = capped.count()
    assert(nCapped <= 50L * 45,
      s"capped pair volume $nCapped exceeds |groups|·C(cap',2) bound")

    // dropping the hub loses ONLY hub pairs: capped == exact-on-non-hub
    val exactNonHub = graft.operators.CoPurchase.pairs(
      inc.filter($"cust" =!= 0L), "cust", "part", minSupport = 1)
    val key = (d: org.apache.spark.sql.DataFrame) =>
      d.select($"p1".cast("long"), $"p2".cast("long"), $"n_cust")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(capped) === key(exactNonHub),
      "capped form must equal the exact form on the sub-cap groups")

    // when no group exceeds the cap, capped == exact on everything
    val small = inc.filter($"cust" =!= 0L)
    assert(key(graft.operators.CoPurchase.pairs(small, "cust", "part", 2,
        maxDegree = Some(100))) ===
      key(graft.operators.CoPurchase.pairs(small, "cust", "part", 2)),
      "cap must be a no-op below the degree threshold")
  }

  test("CoPurchase uncapped: salted hot-group path emits exactly the plain self-join pairs") {
    import spark.implicits._
    // a 600-part hub plus normal baskets; saltDegree lowered to 64 so
    // the hub (and only the hub) takes the salted route: k = ⌈600/64⌉
    // salts, left side replicated k ways, right side salted by item
    // hash — the emitted pair multiset must be identical to the plain
    // self-join's (pairs within one salt + across salts, each once)
    val hub = spark.range(0, 600).select(lit(0L).as("cust"), $"id".as("part"))
    val normal = spark.range(1, 31).select($"id".as("cust"),
      explode(sequence($"id" % 20 + 1, $"id" % 20 + 8)).as("part"))
    val inc = hub.unionByName(normal)
    val key = (d: org.apache.spark.sql.DataFrame) =>
      d.select($"p1".cast("long"), $"p2".cast("long"), $"n_cust")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      spark.conf.set("spark.graft.copurchase.saltDegree", "100000")
      val plain = key(graft.operators.CoPurchase.pairs(inc, "cust", "part", 1))
      spark.conf.set("spark.graft.copurchase.saltDegree", "64")
      val salted = key(graft.operators.CoPurchase.pairs(inc, "cust", "part", 1))
      assert(salted === plain,
        "salted pair generation must be output-identical to the plain join")
      assert(plain.size >= 600L * 599 / 2,
        "hub pairs must all be present (nothing dropped by salting)")
    } finally spark.conf.unset("spark.graft.copurchase.saltDegree")
  }

  test("CoPurchase uncapped: a saltDegree that is not a positive integer is rejected") {
    import spark.implicits._
    val inc = Seq((1L, 1L), (1L, 2L)).toDF("cust", "part")
    try {
      for (bad <- Seq("0", "-5", "many", "1.5")) {
        spark.conf.set(graft.operators.CoPurchase.SaltDegreeKey, bad)
        val e = intercept[IllegalArgumentException] {
          graft.operators.CoPurchase.pairs(inc, "cust", "part", 1)
        }
        assert(e.getMessage.contains(graft.operators.CoPurchase.SaltDegreeKey), bad)
      }
    } finally spark.conf.unset(graft.operators.CoPurchase.SaltDegreeKey)
  }
}
