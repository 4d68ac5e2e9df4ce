package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit pointer's read / compare-and-set seam.
  *
  * `Warehouse.commitSnapshot`'s optimistic-concurrency guard needs ONE
  * primitive the storage layer must supply: "flip the `_CURRENT`
  * pointer to my manifest iff the snapshot it was computed against is
  * still current". How that conditional is made atomic is
  * deployment-specific — a plain filesystem has atomic
  * create-no-overwrite (used here as a lock), S3/GCS have conditional
  * PUT (`If-Match` on the pointer object's ETag / `x-goog-if-
  * generation-match`) — so the primitive lives behind this trait and a
  * deployment plugs its store into the `Warehouse` constructor. The
  * reference gets the same guarantee from Postgres transactions
  * (utils/service/unitofwork.py:89-143); a lakehouse must build it
  * from the store's own atomic.
  */
trait PointerStore {

  /** Current pointer value (the manifest name it names), None when the
    * pointer object doesn't exist or is empty.
    */
  def read(fs: FileSystem, root: Path, ptrName: String): Option[String]

  /** Atomically — with respect to every other `compareAndSet` on the
    * same table — set the pointer to `next` iff `observe()` still
    * returns `expected`. `observe` resolves the snapshot a reader
    * would see NOW (pointer, with the caller's legacy fallbacks) and
    * MUST be evaluated inside the critical section: evaluating it
    * before mutual exclusion recreates exactly the check-then-rename
    * lost-update window this trait exists to close. Returns false —
    * and flips nothing — when the observation no longer matches.
    */
  def compareAndSet(fs: FileSystem, root: Path, ptrName: String,
      expected: Option[String], next: String,
      observe: () => Option[String]): Boolean

  /** Remove the pointer — including every on-disk artifact the store
    * privately encodes it with — so a later `read` returns None. NOT
    * atomic against a concurrent `compareAndSet`: callers only delete
    * pointers whose name they exclusively own (the DV pointer of a
    * `_manifest_vN` they just created create-no-overwrite) or whose
    * lineage is dead. The round-12 multi-process fuzz found why this
    * must be a STORE operation: `Warehouse.abort` used to remove DV
    * pointers with a raw file delete of the literal name, which
    * silently no-ops for stores with private encodings (gen files) —
    * manifest-number reuse then attached the stale vector to an
    * unrelated later snapshot.
    */
  def delete(fs: FileSystem, root: Path, ptrName: String): Unit = {
    fs.delete(new Path(root, ptrName), false)
    ()
  }

  /** Which LOGICAL pointer (if any) the given on-disk file name
    * encodes — lets listing-driven GC recognize a store's private
    * file shapes (gen / tmp files) and route their cleanup through
    * `delete`. Default (literal-file stores): the file encodes itself.
    */
  def ownedPointer(fileName: String): Option[String] = Some(fileName)
}

/** Default filesystem implementation: mutual exclusion via an
  * atomically-created `.<ptr>.lock` file (create-no-overwrite is
  * atomic on HDFS and is the same primitive the `_manifest_vN`
  * create-if-absent commit step already relies on), then
  * check-observe-flip inside the lock. Two writers can therefore no
  * longer interleave between the re-read and the rename: the loser's
  * observe() runs after the winner's flip and reports the mismatch.
  *
  * Honest limits, in writing: (1) on `file://` Hadoop's
  * create-no-overwrite is exists-then-create, not a single syscall, so
  * the lock is taken with NIO `Files.createFile` there (O_CREAT|O_EXCL,
  * genuinely atomic); HDFS's create-no-overwrite is atomic natively;
  * (2) a crashed lock holder leaves a stale lock, broken after
  * `staleLockMs` by mtime — a clock-skewed breaker could break a LIVE
  * lock, so keep `staleLockMs` well above any real commit's
  * pointer-flip duration (the critical section is two tiny-file ops,
  * microseconds). Object-store deployments should replace this class
  * with a conditional-PUT store rather than rely on lock files.
  */
final class FsPointerStore(acquireTimeoutMs: Long = 30000L,
    staleLockMs: Long = 60000L) extends PointerStore {

  override def read(fs: FileSystem, root: Path, ptrName: String): Option[String] = {
    val ptr = new Path(root, ptrName)
    if (!fs.exists(ptr)) return None
    // local FS: NIO read, bypassing ChecksumFileSystem — a stale
    // .<ptr>.crc left by an older checksummed writer would otherwise
    // fail the open with ChecksumException even though the pointer
    // itself is intact (the CAS writes via NIO and carries no sidecar)
    val v =
      if (fs.getScheme == "file")
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(ptr.toUri.getPath)), "UTF-8").trim
      else {
        val in = fs.open(ptr)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    Some(v).filter(_.nonEmpty)
  }

  override def compareAndSet(fs: FileSystem, root: Path, ptrName: String,
      expected: Option[String], next: String,
      observe: () => Option[String]): Boolean = {
    val lock = new Path(root, s".$ptrName.lock")
    acquire(fs, lock)
    try {
      if (observe() != expected) false
      else {
        // flip via tmp + ATOMIC OVERWRITE rename: the pointer is never
        // half-written AND never momentarily absent. A delete+rename
        // pair would open a window where a concurrent reader finds no
        // pointer and reads the table as if nothing had ever been
        // committed. posix rename(2) (local)
        // and FileContext overwrite-rename (HDFS) replace the
        // destination atomically, so readers always see old-or-new.
        val tmp = new Path(root, s".$ptrName.tmp.$next")
        val ptr = new Path(root, ptrName)
        if (fs.getScheme == "file") {
          // raw NIO end-to-end on the local FS: writing the tmp through
          // fs.create would go via Hadoop's ChecksumFileSystem, whose
          // .crc sidecar the NIO ATOMIC_MOVE below doesn't carry along —
          // every flip would orphan one tiny .crc in the table root, and
          // a stale .<ptr>.crc from any earlier checksummed writer makes
          // the next checksummed fs.open(ptr) throw ChecksumException.
          // So: write the tmp with NIO (no sidecar created), delete any
          // sidecars a previous code path left behind, then move.
          val dir = java.nio.file.Paths.get(root.toUri.getPath)
          java.nio.file.Files.write(dir.resolve(tmp.getName),
            (next + "\n").getBytes("UTF-8"))
          java.nio.file.Files.deleteIfExists(dir.resolve(s".${tmp.getName}.crc"))
          java.nio.file.Files.deleteIfExists(dir.resolve(s".${ptr.getName}.crc"))
          java.nio.file.Files.move(dir.resolve(tmp.getName),
            dir.resolve(ptr.getName),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } else {
          val out = fs.create(tmp, true)
          try out.write((next + "\n").getBytes("UTF-8"))
          finally out.close()
          try {
            val fc = org.apache.hadoop.fs.FileContext.getFileContext(
              fs.getUri, fs.getConf)
            fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          } catch {
            // UnsupportedOperationException: FS has a FileContext but no
            // overwrite-rename; UnsupportedFileSystemException: scheme
            // has no AbstractFileSystem binding at all (some object
            // stores) — either way, fall back to the non-atomic pair,
            // inside this lock — writers stay serialized; only the
            // reader-absence window above reopens on such stores
            case _: UnsupportedOperationException |
                 _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
              fs.delete(ptr, false)
              // a false return here after the delete succeeded means the
              // pointer is GONE (readers see no committed snapshot):
              // surface it as a failed commit, never a silent true
              if (!fs.rename(tmp, ptr))
                throw new java.io.IOException(
                  s"pointer flip failed on $ptr: rename returned false " +
                  "after the old pointer was deleted — pointer lost; " +
                  "failing the commit loudly instead of reporting success")
          }
        }
        true
      }
    } finally fs.delete(lock, false)
  }

  private def tryCreate(fs: FileSystem, lock: Path): Boolean =
    try {
      if (fs.getScheme == "file") {
        // Hadoop's local create-no-overwrite is exists-then-create —
        // NOT atomic. NIO createFile is O_CREAT|O_EXCL.
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(lock.toUri.getPath))
        true
      } else {
        fs.create(lock, false).close() // atomic on HDFS
        true
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException                      => false
    }

  private def acquire(fs: FileSystem, lock: Path): Unit = {
    val deadline = System.currentTimeMillis() + acquireTimeoutMs
    while (!tryCreate(fs, lock)) {
      // held by someone: break if stale (holder crashed), else wait.
      // Double-stat before the break: a FRESH lock recreated between
      // the first stat and the delete has a new mtime, so re-checking
      // right before deleting keeps the break from killing a live
      // holder. The residual stat→delete race is inherent to
      // lock-file breaking on a generic FS (no conditional delete) —
      // its window is one metadata op wide, and staleLockMs ≫ any
      // real flip bounds the exposure; conditional-PUT stores have no
      // lock files and no such window.
      try {
        val st = fs.getFileStatus(lock)
        if (System.currentTimeMillis() - st.getModificationTime > staleLockMs) {
          val st2 = fs.getFileStatus(lock)
          if (st2.getModificationTime == st.getModificationTime)
            fs.delete(lock, false)
        }
      } catch { case _: java.io.FileNotFoundException => () }
      if (System.currentTimeMillis() > deadline)
        throw new java.util.ConcurrentModificationException(
          s"could not acquire commit-pointer lock $lock within " +
            s"$acquireTimeoutMs ms — a concurrent committer is stuck " +
            "or the lock is stale with a future mtime")
      Thread.sleep(10)
    }
  }
}

/** Generation-fenced FILE pointer store: multi-process-safe conditional
  * flips from nothing but one atomic publish-no-overwrite primitive —
  * no lock files to break, no in-JVM state (two separate processes
  * coordinating through a shared filesystem get real mutual exclusion,
  * which the lock-file store only approximates via breakable
  * stale-lock heuristics and the in-memory store cannot give at all).
  *
  * Layout: the pointer is a ladder of per-generation VALUE files
  * `.<ptr>.gen-N`, each carrying the full pointer content for flip N,
  * plus transient `.<ptr>.tmp-*` staging files. A flip stages its
  * content to a tmp (fully written and closed), then publishes the tmp
  * AS generation N+1 in one atomic fail-if-exists step:
  *
  *   - `file://` — NIO `createLink` (POSIX link(2)): atomic, EEXIST if
  *     the name is taken, and the linked file already has its content.
  *     (A plain rename(2) silently OVERWRITES — never usable here; an
  *     empty O_EXCL claim + separate value write is a two-step publish
  *     whose half-done states reintroduce races, see below.)
  *   - elsewhere — `fs.rename(tmp, gen)`: atomic in the HDFS namenode
  *     and returns false when the destination exists. A store whose
  *     rename overwrites (some object stores) must use a native
  *     conditional-PUT implementation instead — which is this trait's
  *     whole point.
  *
  * read() = content of the highest-N gen file (complete by
  * construction — there is no observable claimed-but-valueless state).
  *
  * compareAndSet() = observe the current (gen g, value v) — falling
  * back to the caller's legacy observe() before the first flip —
  * require v == expected, then publish generation EXACTLY g+1. The
  * strict +1 is load-bearing: the publish can only succeed for a
  * writer that validated against the CURRENT generation's value, so
  * the fail-if-exists publish IS the compare-and-swap, linearized by
  * the filesystem. (The prior design claimed max(existing claims)+1;
  * a writer that had validated against gen g but seen gen g+1's
  * in-flight claim would claim g+2 and win WITHOUT ever comparing
  * against g+1's value — two racing processes could both flip. The
  * forked-JVM EtlSpec race caught exactly that.)
  *
  * Crash safety: a writer that dies before the publish leaves only an
  * orphan tmp — invisible to readers and writers (never part of the
  * gen ladder), reaped by the next successful flip's GC. A writer
  * that dies after the publish completed a valid flip. There is no
  * state that blocks the ladder — no lock to break, no repair step.
  *
  * Fencing vs ABA: the compare is on the observed CONTENT (the trait
  * contract), but the publish is fenced by GENERATION — two flips
  * carrying identical content cannot both land on one observation,
  * and a zombie writer resumed after a long pause cannot overwrite a
  * successor's flip (its generation name is already taken).
  */
final class GenFencedPointerStore extends PointerStore {

  private def genRe(ptrName: String) =
    ("\\Q." + ptrName + ".gen-\\E(\\d+)").r
  private def tmpPrefix(ptrName: String) = s".$ptrName.tmp-"

  private def listGens(fs: FileSystem, root: Path, ptrName: String): Seq[Long] = {
    val re = genRe(ptrName)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
      case re(n) => n.toLong
    }
  }

  private def readFile(fs: FileSystem, p: Path): String =
    if (fs.getScheme == "file")
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toUri.getPath)), "UTF-8").trim
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }

  /** Current (gen, value), None before the first flip. */
  private def current(fs: FileSystem, root: Path,
      ptrName: String): Option[(Long, String)] =
    listGens(fs, root, ptrName).sorted.lastOption.map { g =>
      (g, readFile(fs, new Path(root, s".$ptrName.gen-$g")))
    }

  override def read(fs: FileSystem, root: Path, ptrName: String): Option[String] =
    current(fs, root, ptrName).map(_._2).filter(_.nonEmpty)

  /** Every artifact of the pointer goes: the whole gen ladder plus any
    * orphan tmps. Only for names the caller exclusively owns or whose
    * lineage is dead (trait contract).
    */
  override def delete(fs: FileSystem, root: Path, ptrName: String): Unit = {
    val re = genRe(ptrName)
    val tp = tmpPrefix(ptrName)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case re(_) => fs.delete(st.getPath, false)
        case n if n.startsWith(tp) => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  private val AnyGenRe = "^\\.(.+)\\.gen-\\d+$".r
  private val AnyTmpRe = "^\\.(.+)\\.tmp-.*$".r
  override def ownedPointer(fileName: String): Option[String] =
    fileName match {
      case AnyGenRe(name) => Some(name)
      case AnyTmpRe(name) => Some(name)
      case _ => None
    }

  override def compareAndSet(fs: FileSystem, root: Path, ptrName: String,
      expected: Option[String], next: String,
      observe: () => Option[String]): Boolean = {
    val cur = current(fs, root, ptrName)
    // legacy fallback only before the FIRST flip, like the in-memory
    // store: once the ladder exists it IS the pointer's source of truth
    val effective = cur.map(_._2).orElse(observe())
    if (effective != expected) return false
    // strictly observedGen+1 — see class doc; claiming past an
    // in-flight generation would bypass the fence
    val nextGen = cur.map(_._1).getOrElse(0L) + 1
    val gen = new Path(root, s".$ptrName.gen-$nextGen")
    val tmp = new Path(root,
      tmpPrefix(ptrName) + java.util.UUID.randomUUID().toString)
    if (!fs.exists(root)) fs.mkdirs(root)
    // stage the full content first — the publish step below is atomic
    // and carries it whole; readers can never see a partial value
    if (fs.getScheme == "file")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        (next + "\n").getBytes("UTF-8"))
    else {
      val out = fs.create(tmp, false)
      try out.write((next + "\n").getBytes("UTF-8"))
      finally out.close()
    }
    val won =
      try {
        if (fs.getScheme == "file") {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(gen.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } else fs.rename(tmp, gen)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException                      => false
      }
    // the tmp is garbage whether we won (file://: the link carries the
    // content) or lost (rename left it in place on failure)
    try {
      if (fs.getScheme == "file")
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(tmp.toUri.getPath))
      else fs.delete(tmp, false)
    } catch { case _: java.io.IOException => () }
    if (!won) return false
    // GC with one generation of reader grace (a reader that resolved
    // N-1 just before this flip can still read it), plus orphan tmps
    // from CRASHED writers — age-gated well past any real stage→publish
    // gap, so a live writer's in-flight tmp is never reaped (deleting
    // one would only fail that writer's publish as a plain conflict,
    // but spurious aborts are rude; a crashed writer's tmp is the only
    // state this store can leak, and this bounds it)
    for (g <- listGens(fs, root, ptrName).filter(_ < nextGen - 1))
      fs.delete(new Path(root, s".$ptrName.gen-$g"), false)
    val staleTmpMs = 600000L
    if (fs.exists(root))
      fs.listStatus(root).foreach { st =>
        if (st.getPath.getName.startsWith(tmpPrefix(ptrName)) &&
          System.currentTimeMillis() - st.getModificationTime > staleTmpMs)
          try fs.delete(st.getPath, false)
          catch { case _: java.io.IOException => () }
      }
    true
  }
}

/** Conditional-PUT pointer store — the object-store shape (S3
  * `If-Match`, GCS `x-goog-if-generation-match`) modeled on an atomic
  * in-process register so the seam's pluggability is TESTABLE without
  * an object store: `compareAndSet` is one atomic
  * observe-compare-swap, no lock file, no rename. The pointer's
  * source of truth lives in the register (keyed by table root), not on
  * the filesystem — exactly how an S3 deployment would treat the
  * pointer object, with the manifest/version files still on shared
  * storage. A real S3 impl replaces the AtomicReference with a
  * conditional PUT and the observe() re-read with the PUT's
  * precondition; everything else in the commit path is unchanged —
  * which is the point of the seam.
  */
final class InMemoryPointerStore extends PointerStore {
  private val registers =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()

  override def read(fs: FileSystem, root: Path, ptrName: String): Option[String] =
    registers.getOrDefault(s"$root/$ptrName", None)

  override def delete(fs: FileSystem, root: Path, ptrName: String): Unit = {
    registers.remove(s"$root/$ptrName")
    ()
  }

  // no on-disk encoding: never claim a listed file
  override def ownedPointer(fileName: String): Option[String] = None

  override def compareAndSet(fs: FileSystem, root: Path, ptrName: String,
      expected: Option[String], next: String,
      observe: () => Option[String]): Boolean = {
    val key = s"$root/$ptrName"
    registers.putIfAbsent(key, None)
    // the register IS the pointer: a concurrent flip between observe()
    // and the swap is caught by the register compare itself (the
    // If-Match semantics), so the swap condition is the register value,
    // with observe() consulted once for the caller's legacy fallback
    val cur = registers.get(key)
    val effective = cur.orElse(observe())
    if (effective != expected) false
    else registers.replace(key, cur, Some(next))
  }
}
