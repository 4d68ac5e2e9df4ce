package graft

/** Forked-JVM worker for the MULTI-PROCESS warehouse lifecycle fuzz:
  * each invocation is a real separate process with its own Spark
  * session, sharing nothing with its siblings but the table directory
  * — the setting where the commit protocol's cross-process claims
  * (gen-fenced pointer CAS, in-flight marker shields, chunk ref-count
  * GC, DV carry) actually have to hold.
  *
  * Key-space isolation makes the run model-checkable under true
  * concurrency: worker `id` mutates ONLY keys in
  * [id*100000, id*100000+width), tracks its own expected k→v map
  * through every op it COMMITS (CAS losers retry, so a committed op
  * is exactly one that made it into the history), and writes that map
  * as `worker_<id>.tsv` next to the warehouse on success. The test
  * then asserts the final table restricted to each worker's range
  * equals that worker's map — any cross-worker clobber (a commit
  * computed from a stale base wiping a racer's rows) or DV resurrect
  * shows up as a diff. Content-preserving GLOBAL ops (compact,
  * vacuum) are thrown into the mix.
  *
  * Roles beyond the default mutator (round 13 — rollback and WAP
  * under true concurrency, per the designated-worker scheme that
  * keeps the model checkable):
  *
  *  - `arena`: SOLE mutator of a second table "r" — appends/upserts/
  *    deletes plus ROLLBACK (to a version whose content it recorded)
  *    and WAP branch stage→promote/abandon, while sibling mutators
  *    run content-preserving compact/vacuum on "r" concurrently.
  *    Sole-mutator + content-preserving contention means the arena's
  *    k→v model stays exact: any recorded (version → model) pair
  *    stays valid however many compactions interleave, so a rollback
  *    restores a KNOWN model state. This is where chunk ref-count GC
  *    meets a concurrent rollback — the round-12 verdict's named
  *    likeliest hiding place. Journal: `worker_<id>.tsv` for "r".
  *  - `reader`: continuous read-validate probe on "t" — every
  *    observed snapshot must be internally consistent: the read
  *    resolves (strict DV loads make a torn snapshot LOUD, and the
  *    retry distinguishes transient contention from corruption), no
  *    key appears twice (a half-applied merge would), and the static
  *    range (id 9, never mutated, 10 rows deleted pre-launch) reads
  *    exactly its expected rows — a DV resurrect or loss under churn
  *    fails here while the run is still in flight, not just at the
  *    final model check.
  *  - `vacuumloop`: biases its schedule toward vacuumOrphans/GC so a
  *    kill -9 lands DURING a sweep (the prior victim died mid-commit;
  *    a sweep crash leaves half-reaped debris instead — recovery must
  *    converge from that too).
  *
  * args: <warehouseDir> <workerId> <seed> <nOps> [role]
  * exit: 0 = done+journal written, 3 = exhausted retries, 2 = error,
  *       4 = reader observed an inconsistent snapshot.
  */
object WhFuzzCli {
  def main(args: Array[String]): Unit = {
    try {
      val dir = args(0)
      val id = args(1).toInt
      val rnd = new scala.util.Random(args(2).toLong)
      val nOps = args(3).toInt
      val role = if (args.length > 4) args(4) else "mutator"
      val spark = GraftSession(2)
      import spark.implicits._
      val wh = new graft.sources.Warehouse(spark, dir,
        pointerStore = new graft.sources.GenFencedPointerStore,
        manifestChunkSize = 4)
      val base = id.toLong * 100000L
      def pOf(k: Long): String = s"p${k % 3}" // partition-stable per key
      def df(rows: Seq[(Long, Long)]) =
        rows.map { case (k, v) => (k, v, pOf(k)) }.toDF("k", "v", "p")

      // bounded retry: CAS losses and transient snapshot races (a
      // sibling's publish GC'ing the manifest between our resolve and
      // read) are EXPECTED under contention — the op re-reads fresh
      // state and re-derives. Anything surviving 40 attempts is a
      // livelock and fails the worker loudly.
      // Transient-under-contention failures, all LOUD by design:
      // CAS losses (CME), snapshot files GC'd mid-read by a sibling's
      // publish — the one-publish grace — surfacing as IOException
      // (incl. the strict DV loads), Spark-wrapped FAILED_READ_FILE,
      // or plan-time PATH_NOT_FOUND. Every one means "re-read the
      // fresh snapshot and re-derive", which is what the retry does.
      def transient(e: Throwable): Boolean = e match {
        case _: java.util.ConcurrentModificationException => true
        case _: java.io.IOException => true
        case e: org.apache.spark.SparkException =>
          val m = Option(e.getMessage).getOrElse("")
          m.contains("FAILED_READ_FILE") || m.contains("does not exist") ||
            Option(e.getCause).exists(transient)
        case e: org.apache.spark.sql.AnalysisException =>
          val m = Option(e.getMessage).getOrElse("")
          m.contains("PATH_NOT_FOUND") || m.contains("UNABLE_TO_INFER_SCHEMA")
        case _ => false
      }
      def retry[T](what: String)(body: => T): T = {
        var attempt = 0
        while (true) {
          try return body
          catch {
            case e: Throwable if transient(e) =>
              attempt += 1
              if (attempt >= 40) {
                System.err.println(s"[whfuzz-$id] $what exhausted: $e")
                sys.exit(3)
              }
              Thread.sleep(rnd.nextInt(40).toLong)
          }
        }
        throw new IllegalStateException("unreachable")
      }

      def readerLoop(): Unit = {
        val staticExpected = (900010L until 900040L).map(k => (k, k)).toSet
        for (i <- 1 to nOps) {
          val rows = retry(s"read#$i")(
            wh.read("t").select("k", "v").as[(Long, Long)].collect())
          val dups = rows.groupBy(_._1).filter(_._2.length > 1)
          if (dups.nonEmpty) {
            System.err.println(
              s"[whfuzz-$id] snapshot with duplicate keys: ${dups.keys.take(3)}")
            sys.exit(4)
          }
          val staticGot = rows.filter(_._1 / 100000L == 9L).toSet
          if (staticGot != staticExpected) {
            System.err.println(s"[whfuzz-$id] static range torn: " +
              s"extra=${(staticGot -- staticExpected).take(3)} " +
              s"missing=${(staticExpected -- staticGot).take(3)}")
            sys.exit(4)
          }
          Thread.sleep(rnd.nextInt(120).toLong)
        }
      }

      def arenaLoop(): Unit = {
        // sole mutator of "r" (bootstrapped by the test): exact model,
        // plus a (versionNumber → model) history for rollback targets.
        // Any recorded pair stays valid under sibling compactions of
        // "r" because those are content-preserving by contract.
        var model = wh.read("r").select("k", "v").as[(Long, Long)]
          .collect().toMap
        var recorded = Map.empty[Long, Map[Long, Long]]
        // fresh keys start past the bootstrap rows — an append of an
        // existing key would duplicate it (append is not an upsert)
        var nextKey = math.max(base, model.keys.foldLeft(base - 1)(math.max) + 1)
        var nRollback = 0; var nPromote = 0; var nAbandon = 0
        def versionNow(): Option[Long] =
          wh.currentSnapshotId("r").collect {
            case s if s.startsWith("_manifest_v") =>
              s.stripPrefix("_manifest_v").toLong
          }
        def record(): Unit =
          versionNow().foreach(v => recorded += v -> model)
        record()
        for (i <- 1 to nOps) {
          val op = rnd.nextInt(100)
          if (op < 30) { // append fresh keys
            val batch = (nextKey until nextKey + 3 + rnd.nextInt(5)).map(k => k -> k)
            nextKey = batch.last._1 + 1
            retry(s"r-append#$i")(wh.append("r", df(batch)))
            model ++= batch
          } else if (op < 50) { // scoped upsert
            val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4))
              .map(k => k -> (model(k) + 1))
            val ins = (nextKey until nextKey + 1 + rnd.nextInt(2)).map(k => k -> k)
            nextKey += ins.size
            val rows = upd ++ ins
            retry(s"r-upsert#$i")(wh.upsert("r", df(rows), Seq("k"), Seq("p")))
            model ++= rows
          } else if (op < 62) { // row-level delete
            if (model.nonEmpty) {
              val ks = model.keys.toSeq.sorted
              val a = ks(rnd.nextInt(ks.size)); val b = a + 1 + rnd.nextInt(5)
              retry(s"r-delete#$i")(wh.deleteRows("r", $"k" >= a && $"k" < b))
              model = model.filter { case (k, _) => k < a || k >= b }
            }
          } else if (op < 80) { // ROLLBACK to a recorded, still-retained version
            val avail = retry(s"r-hist#$i")(wh.history("r")).map(_._1).toSet
            val cands = recorded.keys.filter(avail.contains).toSeq.sorted
            if (cands.nonEmpty) {
              val v = cands(rnd.nextInt(cands.size))
              // the target can age out of retention between the pick
              // and the restore (a sibling compaction advances GC) —
              // that contract violation is loud (require) and simply
              // skips the op; a CAS loss retries inside
              try {
                retry(s"r-rollback#$i")(wh.rollback("r", v))
                model = recorded(v)
                nRollback += 1
              } catch { case _: IllegalArgumentException => () }
            }
          } else { // WAP: stage the next state on a branch, audit, decide
            val staged = model ++ (nextKey until nextKey + 2).map(k => k -> k)
            nextKey += 2
            retry(s"r-branch#$i")(
              wh.publishBranch("r", s"b$id", df(staged.toSeq), Seq("p")))
            val audited = retry(s"r-audit#$i")(
              wh.readBranch("r", s"b$id").count()) == staged.size
            if (audited && rnd.nextInt(3) > 0) {
              retry(s"r-promote#$i")(wh.promoteBranch("r", s"b$id"))
              model = staged
              nPromote += 1
            } else {
              retry(s"r-abandon#$i")(wh.abandonBranch("r", s"b$id"))
              nAbandon += 1
            }
          }
          record()
        }
        // coverage line (lands in worker_<id>.log): the test asserts
        // the pinned seed really exercised rollback AND the WAP pair
        System.err.println(
          s"[whfuzz-$id] arena: rollbacks=$nRollback promotes=$nPromote " +
          s"abandons=$nAbandon")
        val out = new java.io.PrintWriter(s"$dir/worker_$id.tsv", "UTF-8")
        try model.toSeq.sorted.foreach { case (k, v) => out.println(s"$k\t$v") }
        finally out.close()
      }

      def vacuumLoop(): Unit = {
        var nextKey = base
        for (i <- 1 to nOps) {
          val batch = (nextKey until nextKey + 3).map(k => k -> k)
          nextKey = batch.last._1 + 1
          try wh.append("t", df(batch))
          catch { case _: Throwable => () }
          // the point of this role: spend most wall-clock inside the
          // sweep so the test's kill -9 lands mid-GC
          try { wh.vacuumOrphans("t"); () } catch { case _: Throwable => () }
          try wh.maintain("t", smallFileLimit = 8)
          catch { case _: Throwable => () }
        }
      }

      def mutatorLoop(): Unit = {
        var model = Map.empty[Long, Long]
        var nextKey = base
        for (i <- 1 to nOps) {
          val op = rnd.nextInt(100)
          if (op < 35) { // append fresh keys
            val batch = (nextKey until nextKey + 4 + rnd.nextInt(6))
              .map(k => k -> k)
            nextKey = batch.last._1 + 1
            retry(s"append#$i")(wh.append("t", df(batch)))
            model ++= batch
          } else if (op < 65) { // scoped upsert: update + insert
            val upd = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4))
              .map(k => k -> (model(k) + 1))
            val ins = (nextKey until nextKey + 1 + rnd.nextInt(3)).map(k => k -> k)
            nextKey += ins.size
            val rows = upd ++ ins
            retry(s"upsert#$i")(
              wh.upsert("t", df(rows), Seq("k"), Seq("p")))
            model ++= rows
          } else if (op < 85) { // row-level delete in OWN range only
            if (model.nonEmpty) {
              val ks = model.keys.toSeq.sorted
              val a = ks(rnd.nextInt(ks.size)); val b = a + 1 + rnd.nextInt(6)
              retry(s"delete#$i")(
                wh.deleteRows("t", $"k" >= a && $"k" < b))
              model = model.filter { case (k, _) => k < a || k >= b }
            }
          } else if (op < 93) { // content-preserving global maintenance
            try wh.maintain("t", smallFileLimit = 8)
            catch { case _: java.util.ConcurrentModificationException => () }
          } else if (op < 97) {
            try { wh.vacuumOrphans("t"); () } catch { case _: Throwable => () }
          } else {
            // cross-table contention for the rollback/WAP arena:
            // content-preserving by contract, so the arena worker's
            // model (and its recorded rollback targets) stay exact
            try if (wh.exists("r")) wh.maintain("r", smallFileLimit = 8)
            catch { case _: Throwable => () }
            try if (wh.exists("r")) { wh.vacuumOrphans("r"); () }
            catch { case _: Throwable => () }
          }
        }
        val out = new java.io.PrintWriter(s"$dir/worker_$id.tsv", "UTF-8")
        try model.toSeq.sorted.foreach { case (k, v) => out.println(s"$k\t$v") }
        finally out.close()
      }

      role match {
        case "reader"     => readerLoop()
        case "arena"      => arenaLoop()
        case "vacuumloop" => vacuumLoop()
        case _            => mutatorLoop()
      }
      spark.stop()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(s"[whfuzz] fatal: $e")
        e.getStackTrace.take(8).foreach(t => System.err.println(s"  $t"))
        sys.exit(2)
    }
  }
}
