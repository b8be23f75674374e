package graft.sources

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, countDistinct, lit, sum}

/** The persisted stores' lifecycle and its crash-safety primitives. The
  * BM25 posting index and the IVF-PQ vector index run every open, build,
  * append, delete and compact through [[Store]], parameterized only by a
  * [[Kind]]; the kerchunk parquet-ref writer shares the writer lease, the
  * crashed-swap healing and the staged rebuild ([[rebuildStaged]]).
  *
  * Bytes stage in a HIDDEN sibling (invisible to Spark file indexes and to
  * readers listing the store) and a rename swaps them in, so a crash
  * mid-write leaves the OLD file readable. A truncate-in-place create would
  * brick a store: an empty meta.json is unparseable forever AND reads as
  * 'already holds an index' on rebuild. */
private[graft] object StoreMeta {

  /** Atomically replace `path` with `json` (staged sibling + rename). */
  def atomicWriteJson(fs: FileSystem, path: Path, json: String): Unit = {
    val qualified = fs.makeQualified(path)
    if (qualified.toUri.getScheme == "file") {
      // rename(2) via ATOMIC_MOVE: a reader NEVER sees the destination
      // missing. FileContext.rename(…, OVERWRITE) on the local scheme is
      // delete-THEN-rename (r17 finding) — for the lease heartbeat that
      // window let a racing create-exclusive slip in while the re-stamp
      // was mid-flight, a double-holder on the very path the lease guards
      val p = java.nio.file.Paths.get(qualified.toUri.getPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(s".${p.getFileName}.inprogress")
      java.nio.file.Files.write(tmp, json.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new Path(path.getParent, s".${path.getName}.inprogress")
      val out = fs.create(tmp, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(path),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Ceiling on a store's ACCUMULATED tombstone rows: the tombstone
    * plane is BROADCAST by [[Store.live]], so letting it grow without
    * bound turns a forgotten compact into a driver-memory/broadcast-limit
    * failure at read time, with nothing but a doc comment in between.
    * Stores track `tombRows` in meta and [[Store.delete]] REFUSES past
    * this cap (10M ids ≈ low hundreds of MB broadcast — well inside the
    * limit, far past any sane pre-compact backlog), nudging toward
    * compaction while the store still reads fine. Older metas lack the
    * field (reads as 0 — the guard re-arms from the next delete on). */
  val TombstoneRowCap: Long = 10000000L

  /** Hidden staging sibling for a WHOLE-STORE rebuild: a rebuild
    * writes its complete store — batches, model, its own meta LAST —
    * under this path, then [[swapInto]] replaces the live root. Hidden
    * (dot-prefixed) so Spark file listings and store readers never see
    * it; a sibling (same parent) so the final rename never crosses a
    * filesystem. A stale dir here is a crashed rebuild — callers delete
    * it before staging anew ([[rebuildStaged]]). */
  def stagedSibling(root: Path): Path = new Path(root.getParent, s".${root.getName}.rebuild")

  /** Hidden rename-aside sibling [[swapInto]] parks the OLD root at while
    * the staged store renames in: the old store is never deleted until the
    * new one is live. */
  def oldSibling(root: Path): Path = new Path(root.getParent, s".${root.getName}.old")

  /** Swap a fully-built staged store into place — rename-aside, NOT
    * delete-then-rename (that leaves a crash window with NO live store):
    *
    *   1. old root renames aside to the hidden [[oldSibling]];
    *   2. staged renames into the root;
    *   3. the old sibling deletes.
    *
    * The ONLY destructive step (3) runs after the new store is live, and
    * it runs after the staged store is complete and self-described — a
    * failure anywhere earlier leaves a recoverable state: a crash between
    * (1) and (2) leaves the complete staged sibling plus the parked old
    * store, which [[recoverCrashedSwap]] completes AUTOMATICALLY on the
    * next open (staged meta committed ⇒ the new store is authoritative);
    * a crash between (2) and (3) leaves the new store live plus a stale
    * old sibling the next swap (or recovery) clears. Rebuilds are
    * single-writer, like appends — [[withWriterLock]] enforces it. */
  def swapInto(fs: FileSystem, staged: Path, root: Path): Unit = {
    val old = oldSibling(root)
    if (fs.exists(old)) fs.delete(old, true) // stale from a crashed prior swap
    val hadRoot = fs.exists(root)
    if (hadRoot) require(fs.rename(root, old),
      s"store rebuild: rename-aside '$root' -> '$old' failed — nothing moved; " +
        "the old store is untouched and the rebuilt store is at the staged path")
    require(fs.rename(staged, root),
      s"store rebuild: rename '$staged' -> '$root' failed — the old store is " +
        s"parked byte-intact at '$old' and the complete rebuilt store is at " +
        "the staged path; the next open auto-recovers (or rename by hand)")
    if (hadRoot) fs.delete(old, true)
  }

  /** Rebuild the whole store at `root`: `write` fills the [[stagedSibling]]
    * (a stale one from a crashed rebuild deletes first), which then swaps
    * into place ([[swapInto]]). A failure anywhere in `write` leaves the
    * live store byte-intact. The caller holds the writer lease and has
    * healed a crashed swap first ([[recoverCrashedSwap]]). */
  def rebuildStaged(fs: FileSystem, root: Path)(write: Path => Unit): Unit = {
    val staged = stagedSibling(root)
    if (fs.exists(staged)) fs.delete(staged, true)
    write(staged)
    swapInto(fs, staged, root)
  }

  /** Complete a crashed [[swapInto]] on open: if the root holds no
    * meta document (`metaFile` — `meta.json` for the bm25/ANN stores,
    * `.zmetadata` for the kerchunk parquet-ref store) but a COMPLETE
    * staged sibling does (the meta writes LAST, so its presence proves
    * the rebuild finished), the swap was interrupted between its two
    * renames — finish it: staged renames in, the parked old sibling (if
    * any) deletes, exactly the steps the crashed writer had left.
    * Deliberately conservative: recovery only fires when the root is
    * MISSING ENTIRELY — a meta-less root that exists holds unknown bytes
    * (a foreign dir, a mid-write fresh build) and is never clobbered —
    * and only under the store's WRITER LEASE (recovery IS a mutation): a
    * live foreign writer mid-swap is left alone (its swapInto finishes
    * the job; the reader's open fails transiently, like any read landing
    * inside the swap window — [[awaitSwapWindow]] bounds that wait), a
    * caller already holding the lease ON THIS THREAD (a writer whose
    * readMeta runs inside [[withWriterLock]]) recovers in place, and a
    * lease left by a DEAD same-host writer breaks automatically
    * ([[leaseIsStale]]). Racing readers serialize on the same lease —
    * the loser skips and retries via its own error path. Also completes
    * the swap's LAST step when the root is live but a crash left the
    * parked old sibling behind (the .old leak). Returns true if recovery
    * moved anything. All three stores call this from their meta readers
    * AND their build paths: a build that skipped recovery would
    * read a crashed swap's empty root as 'nothing here', delete the
    * staged sibling as stale, and swap away the parked old store:
    * destroying BOTH recoverable copies without the overwrite opt-in the
    * healed live store correctly demands. So any open heals the store. */
  def recoverCrashedSwap(fs: FileSystem, root: Path,
                         metaFile: String = "meta.json"): Boolean = {
    val staged = stagedSibling(root)
    val old = oldSibling(root)
    val rootLive = fs.exists(new Path(root, metaFile))
    val stagedComplete = !rootLive && !fs.exists(root) &&
      fs.exists(new Path(staged, metaFile))
    val oldLeaked = rootLive && fs.exists(old)
    if (!stagedComplete && !oldLeaked) return false
    withRecoveryLease(fs, root) {
      // re-check under the lease — the state may have healed meanwhile
      if (!fs.exists(root) &&
          fs.exists(new Path(staged, metaFile))) {
        require(fs.rename(staged, root),
          s"store recovery: rename '$staged' -> '$root' failed — the complete " +
            "rebuilt store is still at the staged path; rename it into place manually")
      }
      if (fs.exists(new Path(root, metaFile)) &&
          fs.exists(old))
        fs.delete(old, true)
      true
    }.getOrElse(false)
  }

  /** Run `body` for a RECOVERY action: under the caller's own lease if
    * THIS THREAD already holds it (writers' meta reads run inside
    * [[withWriterLock]] — re-acquiring would self-deadlock), else under
    * a freshly acquired lease; a lease held by a LIVE foreign writer
    * skips the action (None). Ownership is per-THREAD, not per-process
    * (r17): a reader thread in the same JVM as a live writer mid-swap
    * must NOT treat the writer's lease as its own — 'recovering' between
    * the writer's two renames would make the writer's own rename-in fail
    * on a store that ended up consistent (plausible on a Spark driver
    * serving searches during a rebuild). Such a reader skips, and its
    * open waits out the window via [[awaitSwapWindow]]. */
  private def withRecoveryLease[T](fs: FileSystem, root: Path)
                                  (body: => T): Option[T] = {
    val lock = lockPath(root)
    if (heldByThisThread(fs, lock)) return Some(body)
    try Some(withWriterLock(fs, root, "store recovery")(body))
    catch { case _: IllegalStateException => None }
  }

  /** Wait out a live writer's SWAP WINDOW before a reader's open refuses
    * (r17): when the store's meta is missing but a LIVE writer holds the
    * lease, the likeliest state is a rebuild between its two renames —
    * through r16 the reader failed transiently by design and production
    * callers had to hand-roll a retry. Bounded exponential backoff
    * (~2 s total — the window is two renames, microseconds on any real
    * filesystem; the budget covers scheduler stalls, not long rebuilds:
    * a rebuild holds the lease for its whole duration but the root stays
    * live until the swap, so readers only ever wait on the swap itself).
    * Returns without waiting when the meta exists, no live lease guards
    * the root, or THIS THREAD is the writer (its own read of a root it
    * has not yet swapped must refuse immediately, not stall). On budget
    * exhaustion it simply returns — the caller's own refusal fires. */
  def awaitSwapWindow(fs: FileSystem, root: Path,
                      metaFile: String = "meta.json"): Unit = {
    val metaPath = new Path(root, metaFile)
    if (fs.exists(metaPath)) return
    val lock = lockPath(root)
    if (heldByThisThread(fs, lock)) return
    // wait only while a swap is actually IN FLIGHT or imminent: the old
    // root parked aside (between the two renames) or a staged store whose
    // meta has committed (rename-in imminent). A FIRST build holds the
    // lease for its whole duration with neither shape present (it stages
    // without a committed meta until the very end) — a reader polling a
    // store that does not exist yet must refuse fast, not burn the full
    // backoff budget per open (r17 review).
    def swapInFlight(): Boolean =
      fs.exists(oldSibling(root)) ||
        fs.exists(new Path(stagedSibling(root), metaFile))
    var backoff = 10L
    var waited = 0L
    while (waited < 2000L && !fs.exists(metaPath) && swapInFlight() &&
           fs.exists(lock) && !leaseIsStale(fs, lock)) {
      Thread.sleep(backoff)
      waited += backoff
      backoff = math.min(backoff * 2, 500L)
    }
    // r18 (ADVICE): a writer that DIED mid-swap while we waited exits the
    // loop via leaseIsStale with the store fully recoverable at this very
    // moment (complete staged sibling + stale lease) — heal it in THIS
    // open instead of surfacing a transient 'not an index' refusal that
    // only the NEXT open would have healed. recoverCrashedSwap's own
    // guards make the call safe on every other exit path: it moves
    // nothing unless the root is missing entirely and the staged meta is
    // committed, and it skips (leaving the writer to finish its own swap)
    // when a LIVE lease still guards the root.
    if (!fs.exists(metaPath)) recoverCrashedSwap(fs, root, metaFile)
  }

  private def readFileBytes(fs: FileSystem, path: Path): Option[Array[Byte]] =
    try {
      val in = fs.open(path)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: java.io.IOException => None }

  private def parseLease(bytes: Option[Array[Byte]]): Option[org.json4s.JValue] =
    bytes.flatMap { b =>
      try Some(org.json4s.jackson.JsonMethods.parse(new String(b, "UTF-8")))
      catch { case _: Exception => None }
    }

  /** Lease-lock paths THIS THREAD currently holds (qualified URI strings)
    * — the reentrancy token [[withWriterLock]] records and
    * [[withRecoveryLease]]/[[awaitSwapWindow]] consult. Per-THREAD, not
    * per-process (r17): pid+host matching granted a same-JVM reader
    * thread the live writer's lease. */
  private val threadHeldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private def heldByThisThread(fs: FileSystem, lock: Path): Boolean =
    threadHeldLocks.get.contains(fs.makeQualified(lock).toString)

  /** TTL past which a lease whose HEARTBEAT has gone silent is judged
    * abandoned by a cross-host writer. Writers re-stamp `epoch_ms` every
    * [[leaseHeartbeatMs]] (TTL/5), so a live writer — however long its
    * rebuild — never ages past one heartbeat; a host that died with the
    * lease held ages to the TTL and the next acquirer breaks it instead
    * of waiting for a human (r17 — through r16 a crashed REMOTE writer
    * bricked the store's whole mutation plane until someone deleted the
    * lease file by hand). CLOCK-SKEW ASSUMPTION: staleness compares the
    * writer's stamp against the acquirer's clock, so the discipline
    * tolerates up to TTL − heartbeat = 8 minutes of skew plus writer
    * pause (GC, FS stall) combined — far beyond NTP drift on any managed
    * cluster; a skewed-slow acquirer errs toward REFUSING, never toward
    * a double writer, only a skewed-fast one could break a live lease
    * and it would need minutes of skew. */
  val LeaseTtlMs: Long = 10L * 60L * 1000L

  /** Heartbeat period — volatile var only so the heartbeat/TTL specs can
    * run in milliseconds; production code never writes it. */
  @volatile private[graft] var leaseHeartbeatMs: Long = LeaseTtlMs / 5

  /** TTL for an abandoned takeover BREAKER file on a foreign host: the
    * breaker's critical section is three filesystem calls (read, delete,
    * create) — a foreign breaker a full minute old is a crashed breaker,
    * not a slow one. Same-host breakers use the pid oracle, no wait. */
  val BreakerTtlMs: Long = 60L * 1000L

  /** Create `path` EXCLUSIVELY with `json` as content. Atomic on HDFS
    * and conditional-put object stores via `create(…, overwrite =
    * false)`; on the LOCAL scheme via NIO `CREATE_NEW` (O_EXCL at the OS
    * level — Hadoop's LocalFileSystem create is exists-THEN-create,
    * which let two threads racing one freed lock both pass the exists
    * check and both hold, r17). Throws [[java.io.IOException]] (locally
    * a [[java.nio.file.FileAlreadyExistsException]]) when `path` exists. */
  private def createExclusiveJson(fs: FileSystem, path: Path, json: String): Unit = {
    val qualified = fs.makeQualified(path)
    if (qualified.toUri.getScheme == "file") {
      val p = java.nio.file.Paths.get(qualified.toUri.getPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, json.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    } else {
      val out = fs.create(path, false)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
  }

  /** A lease is STALE when its writer is provably or presumptively gone:
    *  - SAME-HOST lease, pid no longer alive — the direct liveness
    *    oracle, the common crash (OOM kill, aborted run) on single-node
    *    deployments; judged instantly, no TTL wait.
    *  - CROSS-HOST lease whose `epoch_ms` heartbeat is older than
    *    [[LeaseTtlMs]] (r17) — no pid oracle across hosts, so liveness
    *    is the heartbeat: every holder re-stamps on a period of TTL/5,
    *    and a stamp 5 periods silent means the writer (or its host) died
    *    mid-operation.
    * A live same-host pid is never stale regardless of stamp age (the
    * pid oracle outranks the clock), a cross-host lease inside the TTL
    * refuses, and unparseable or stamp-less leases are NOT stale
    * (conservative — could be a half-written acquisition). */
  private def staleLeaseBytes(bytes: Option[Array[Byte]],
                              ttlMs: Long = LeaseTtlMs): Boolean =
    parseLease(bytes).exists { j =>
      import org.json4s._
      ((j \ "pid"), (j \ "host")) match {
        case (JInt(pid), JString(host)) =>
          if (host == java.net.InetAddress.getLocalHost.getHostName)
            pid.longValue != ProcessHandle.current.pid && {
              val h = ProcessHandle.of(pid.longValue)
              !(h.isPresent && h.get.isAlive)
            }
          else (j \ "epoch_ms") match {
            case JInt(e) => System.currentTimeMillis - e.longValue > ttlMs
            case _ => false
          }
        case _ => false
      }
    }

  private def leaseIsStale(fs: FileSystem, lock: Path): Boolean =
    staleLeaseBytes(readFileBytes(fs, lock))

  /** Hidden create-exclusive writer-lease file guarding a store root —
    * the r16 upgrade of the stores' single-writer CONVENTION to a checked
    * invariant: every mutating op (build, append, delete, compact
    * destination) runs under [[withWriterLock]]; a second writer refuses
    * loudly at acquisition instead of racing the optimistic meta recheck.
    * A sibling (not a child) so it guards roots that do not exist yet
    * (fresh builds) and never pollutes the store's own listing. */
  def lockPath(root: Path): Path =
    new Path(root.getParent, s".${root.getName}.writer.lock")

  /** Run `body` holding the store's writer lease. Acquisition is
    * create-exclusive — atomic on HDFS and object stores with
    * conditional-put semantics via `create(…, overwrite = false)`, and
    * atomic on the LOCAL filesystem via NIO `CREATE_NEW` (O_EXCL at the
    * OS level; r17 — Hadoop's LocalFileSystem create is exists-THEN-
    * create, which let two same-JVM threads racing one freed lock both
    * pass the exists check and both hold). A reader landing between the
    * exclusive create and the content write sees a torn lease, which
    * [[leaseIsStale]] conservatively judges NOT stale (a refusal, never
    * a second holder). The lease carries pid/host/op/heartbeat and
    * a daemon thread RE-STAMPS `epoch_ms` every [[leaseHeartbeatMs]]
    * while `body` runs (atomic sibling+rename rewrite — a reader never
    * sees a missing or torn lease), so liveness is observable across
    * hosts. A stale lease ([[leaseIsStale]]: dead same-host pid, or a
    * cross-host heartbeat silent past [[LeaseTtlMs]]) is taken over
    * under a BREAKER file (r17): takeover candidates create-exclusive a
    * `.breaker` sibling (one winner), and the winner re-reads the lock
    * and proceeds to delete-and-create ONLY if the bytes are identical
    * to the ones it judged stale — a takeover that lost the race to a
    * faster acquirer sees the fresh lease's bytes and refuses. Judging
    * by content (not by name) is the point: both r16's
    * delete-then-create AND a name-keyed rename-aside let a slow
    * acquirer that judged the OLD lease destroy the fast winner's FRESH
    * one. A breaker abandoned by a crash is itself judged stale (dead
    * same-host pid, or [[BreakerTtlMs]] on foreign hosts — the critical
    * section is milliseconds), swept, and the acquirer refuses with
    * retry advice rather than proceeding. A live lease refuses with the
    * file to delete once its writer is known dead.
    *
    * `waitMs` (r18) is BOUNDED-WAIT acquisition — the writer-side twin of
    * the readers' [[awaitSwapWindow]]: with the default 0 a held lease
    * refuses instantly (the r16 contract, unchanged), while a positive
    * budget polls acquisition with exponential backoff until the budget
    * runs out, then refuses with the same single-writer message. This is
    * the queued-maintenance shape (a nightly append racing a compact on
    * the same store): through r17 the loser had to hand-roll the retry
    * loop around the refusal. Only CONTENTION waits — a non-contention
    * failure (permissions, quota) still surfaces immediately — and each
    * retry re-runs the full acquisition (stale-lease takeover included),
    * so a budgeted acquirer also breaks a lease that goes stale while it
    * waits. The single-holder invariant is untouched: waiting changes
    * WHEN acquisition is attempted, never how it is decided. */
  def withWriterLock[T](fs: FileSystem, root: Path,
                        op: String, waitMs: Long = 0L)(body: => T): T = {
    val lock = lockPath(root)
    def held() = new IllegalStateException(
      s"$op: another writer holds the lease on '$root' ($lock) — the " +
        "store is single-writer; retry after it finishes, or delete the " +
        "lease file if that writer is known dead (its identity is inside)")
    def who() = s"""{"pid": ${ProcessHandle.current.pid}, """ +
      s""""host": "${java.net.InetAddress.getLocalHost.getHostName}", """ +
      s""""op": "$op", "epoch_ms": ${System.currentTimeMillis}}"""
    // a typed already-exists failure means the slot WAS occupied at
    // create time even if its holder released before our recheck — still
    // contention, never a raw error (both schemes throw a typed FAEE)
    def isExistsFailure(e: java.io.IOException): Boolean = e match {
      case _: java.nio.file.FileAlreadyExistsException => true
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      case _ => false
    }
    def acquire(): Unit =
      try createExclusiveJson(fs, lock, who())
      catch { case e: java.io.IOException =>
        // only an EXISTING lease reads as "held" — any other create
        // failure (permissions, quota) surfaces as itself
        if (!isExistsFailure(e) && !fs.exists(lock)) throw e
        else {
          val bytes0 = readFileBytes(fs, lock)
          if (!staleLeaseBytes(bytes0)) throw held()
          // stale-lease takeover under the breaker file: one breaker at a
          // time, and the delete fires only on the EXACT bytes judged
          // stale — a takeover racing a faster acquirer re-reads that
          // winner's fresh lease and refuses instead of destroying it
          val breaker = new Path(lock.getParent, s"${lock.getName}.breaker")
          try createExclusiveJson(fs, breaker, who())
          catch { case eb: java.io.IOException =>
            if (!isExistsFailure(eb) && !fs.exists(breaker)) throw eb
            // a breaker abandoned mid-takeover (crash inside a ms-sized
            // critical section): sweep it and refuse; the NEXT attempt
            // finds a clean slate
            if (staleLeaseBytes(readFileBytes(fs, breaker), BreakerTtlMs))
              fs.delete(breaker, false)
            throw held()
          }
          try {
            val bytes1 = readFileBytes(fs, lock)
            val unchanged = (bytes0, bytes1) match {
              case (Some(a), Some(b)) => java.util.Arrays.equals(a, b)
              case _ => false
            }
            if (!unchanged) throw held() // someone else took it over first
            fs.delete(lock, false)
            try createExclusiveJson(fs, lock, who())
            catch { case e2: java.io.IOException =>
              // a fresh acquirer slipped in between our delete and create —
              // it holds a valid lease; refuse like any held lease
              if (isExistsFailure(e2) || fs.exists(lock)) throw held()
              else throw e2 }
          } finally fs.delete(breaker, false)
        }
      }
    // bounded-wait loop: retry only the CONTENTION refusal (held()'s
    // IllegalStateException); anything else — and the final in-budget
    // refusal — propagates as itself. Backoff doubles 20 ms → 500 ms,
    // clipped to the remaining budget so the loop never overshoots.
    if (waitMs <= 0L) acquire()
    else {
      val deadline = System.nanoTime + waitMs * 1000000L
      var backoff = 20L
      var acquired = false
      while (!acquired) {
        try { acquire(); acquired = true }
        catch { case e: IllegalStateException =>
          val leftMs = (deadline - System.nanoTime) / 1000000L
          if (leftMs <= 0L) throw e
          Thread.sleep(math.min(backoff, leftMs))
          backoff = math.min(backoff * 2, 500L)
        }
      }
    }
    val key = fs.makeQualified(lock).toString
    threadHeldLocks.set(threadHeldLocks.get + key)
    // the stop flag (not just interrupt) stops the loop before its NEXT
    // write; a write already in flight is handled at release, which waits
    // for the thread and skips the delete if it will not die
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the lease is OURS while its pid+host are this process's — the
    // ownership check the heartbeat and the release run before WRITING or
    // DELETING by name (r17): a writer paused past the TTL can be
    // LEGITIMATELY taken over (the documented skew/pause assumption), and
    // on resume must neither clobber the usurper's lease with a heartbeat
    // re-stamp nor delete it at release. An unreadable lock reads as not
    // ours — erring toward leaking our own (self-healing: dead-pid /
    // TTL staleness) over destroying a live usurper's. RESIDUAL (the
    // check-then-write is not atomic): a takeover landing in the
    // microseconds between the heartbeat's read and its re-stamp still
    // gets clobbered — reachable only when a writer pauses past the
    // full TTL yet resumes, i.e. outside the documented support window;
    // the optimistic meta recheck behind the lease remains the defense.
    def ownsJson(j: org.json4s.JValue): Boolean = {
      import org.json4s._
      ((j \ "pid"), (j \ "host")) match {
        case (JInt(pid), JString(host)) =>
          pid.longValue == ProcessHandle.current.pid &&
            host == java.net.InetAddress.getLocalHost.getHostName
        case _ => false
      }
    }
    def ownsLease(): Boolean =
      parseLease(readFileBytes(fs, lock)).exists(ownsJson)
    val heartbeat = new Thread(() => {
      try {
        var mine = true
        while (!released.get && mine) {
          Thread.sleep(leaseHeartbeatMs)
          if (!released.get) {
            // a transient filesystem hiccup must not kill the heartbeat —
            // a silently dead heartbeat ages a LIVE writer into the TTL
            // and invites a takeover; retry on the next period instead
            try {
              if (ownsLease()) atomicWriteJson(fs, lock, who())
              else mine = false // taken over: stop, never re-stamp over the usurper
            } catch { case _: java.io.IOException => () }
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-${root.getName}")
    heartbeat.setDaemon(true)
    try {
      heartbeat.start()
      body
    } finally {
      released.set(true)
      heartbeat.interrupt()
      // the release delete below MUST NOT run while our own heartbeat
      // write may still be in flight: interrupt does not break blocking
      // I/O, and a stalled atomicWriteJson completing AFTER the delete
      // would resurrect this process's lease — a live same-host pid is
      // never judged stale, so that bricks the store for every writer on
      // the host until this JVM exits (r17 review). Wait out the stall
      // (bounded); if the thread still will not die, SKIP the delete —
      // the leaked lease then at least stays CONSISTENT (one file, our
      // pid) and self-heals by the dead-pid rule at process exit.
      var joinWaited = 0L
      while (heartbeat.isAlive && joinWaited < 60000L) {
        heartbeat.join(5000L); joinWaited += 5000L
      }
      val heartbeatDead = !heartbeat.isAlive
      threadHeldLocks.set(threadHeldLocks.get - key)
      // delete only a lease that is OURS, with a short reread retry: a
      // transient read hiccup must not leak our own lease — a live
      // same-host pid is never judged stale, so a leaked own lease
      // would refuse THIS process's later acquisitions until exit. A
      // lease readable as someone ELSE's (usurped past the TTL while we
      // were paused) is left untouched.
      var releaseTries = 0
      var releaseDone = !heartbeatDead
      while (!releaseDone && releaseTries < 3) {
        parseLease(readFileBytes(fs, lock)) match {
          case Some(j) =>
            if (ownsJson(j)) fs.delete(lock, false)
            releaseDone = true
          case None =>
            if (!fs.exists(lock)) releaseDone = true
            else { releaseTries += 1; Thread.sleep(20L) }
        }
      }
      // best-effort sweep of a heartbeat rewrite interrupted mid-stage
      val tmp = new Path(lock.getParent, s".${lock.getName}.inprogress")
      if (fs.exists(tmp)) fs.delete(tmp, false)
    }
  }

  /** Parse a JSON file and refuse loudly unless its `format` field equals
    * `format` and its `version` field equals `version` — an unknown layout
    * must never be misread (its fields could mean something else). */
  private def parseChecked(fs: FileSystem, path: Path, dir: String,
                           format: String, version: Long): org.json4s.JValue = {
    val in = fs.open(path)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val j = org.json4s.jackson.JsonMethods.parse(text)
    import org.json4s._
    (j \ "format") match {
      case JString(`format`) => ()
      case other => throw new IllegalArgumentException(
        s"'$dir' ${path.getName} format is $other, not $format")
    }
    (j \ "version") match {
      case JInt(v) if v.longValue == version => ()
      case JInt(v) => throw new IllegalArgumentException(
        s"'$dir' is a $format layout version $v — this engine reads version $version")
      case other => throw new IllegalArgumentException(
        s"'$dir' ${path.getName} 'version' is ${other.getClass.getSimpleName}")
    }
    j
  }

  /** Read an integral meta field; absent → `default` when one is given
    * (how a layout gains a backward-compatible field, e.g. `tombBatches`,
    * absent in older stores and semantically 0 there), else a refusal.
    * A present but non-integral value always refuses. */
  private def longField(j: org.json4s.JValue, field: String, dir: String,
                        default: Option[Long] = None): Long = {
    import org.json4s._
    (j \ field) match {
      case JInt(v) => v.longValue
      case JNothing if default.isDefined => default.get
      case other => throw new IllegalArgumentException(
        s"'$dir' meta.json '$field' is ${other.getClass.getSimpleName}")
    }
  }

  /** Read an OPTIONAL boolean meta field: absent → false. */
  private def flagField(j: org.json4s.JValue, field: String, dir: String): Boolean = {
    import org.json4s._
    (j \ field) match {
      case JBool(v) => v
      case JNothing => false
      case other => throw new IllegalArgumentException(
        s"'$dir' meta.json '$field' is ${other.getClass.getSimpleName}")
    }
  }

  /** A store's required versioned JSON file besides its meta (the ANN
    * model): present, and of `format` version 1. */
  def sidecar(fs: FileSystem, root: Path, dir: String, name: String,
              format: String): org.json4s.JValue = {
    val path = new Path(root, name)
    require(fs.exists(path),
      s"'$dir' has no $name — the store is incomplete (crashed build?)")
    parseChecked(fs, path, dir, format, version = 1L)
  }

  // ------------------------------------------------------------ lifecycle

  /** What tells one index store from another, as data:
    *  - `format`: meta.json's `format` name;
    *  - `noun`: the store in messages ("a bm25 index");
    *  - `ops`: the op-name prefix (`bm25Index` names `bm25IndexBuild`, …);
    *  - `key`: the id column of every plane, the tombstone plane's only one;
    *  - `keyPlane`: the plane the id-clash and delete checks read `key` from;
    *  - `item`: what one id names, in messages;
    *  - `stats`: the store's own required integral meta fields;
    *  - `flags`: its own optional boolean meta fields (absent = false);
    *  - `weight`: a `keyPlane` column whose live sum meta keeps as a stat
    *    (bm25: Σ`dl` as `sumdl`), so appends add and deletes subtract it;
    *  - `unionBatches`: read a plane batch by batch and union, instead of
    *    one multi-path read. The ANN vector plane needs it: each batch root
    *    is hive-partitioned by `cell`, and a multi-path read would have to
    *    guess a common basePath across batch dirs. */
  final case class Kind(format: String, noun: String, ops: String, key: String,
                        keyPlane: String, item: String, stats: Seq[String],
                        flags: Seq[String], weight: Option[(String, String)],
                        unionBatches: Boolean) {
    /** The key column named in messages ("doc ids"). */
    def ids: String = key.replace('_', ' ') + "s"
  }

  /** A store's self-description. `n` is the LIVE row count: a delete
    * subtracts its rows (and the [[Kind]]'s weight) at commit, so stats
    * read from meta equal a rebuild without the deleted rows.
    * `tombBatches`/`tombRows` are the tombstone plane's batch count and the
    * [[TombstoneRowCap]] ledger. `stats` and `flags` are the kind's own
    * fields, in the kind's order. */
  final case class Meta(batches: Int, n: Long, tombBatches: Int, tombRows: Long,
                        stats: ListMap[String, Long],
                        flags: ListMap[String, Boolean] = ListMap.empty) {
    /** Layout: `{"format": …, "version": 1, "batches": B, "n": N, <stats>,
      * "tombBatches": T, "tombRows": R, <flags>}` — meta.json writes LAST,
      * so a crashed write leaves only orphan batch dirs beyond `batches`,
      * invisible to readers and clobbered by the next write. */
    private[StoreMeta] def json(format: String): String =
      s"""{"format": "$format", "version": 1, "batches": $batches, "n": $n, """ +
        stats.map { case (f, v) => s""""$f": $v, """ }.mkString +
        s""""tombBatches": $tombBatches, "tombRows": $tombRows""" +
        flags.map { case (f, v) => s""", "$f": $v""" }.mkString + "}"
  }

  /** Open `dir` as a `kind` store for reading: the store and its meta. */
  def open(kind: Kind, spark: SparkSession, dir: String): (Store, Meta) = {
    val store = new Store(kind, spark, dir)
    (store, store.readMeta())
  }

  /** The `kind` store at `dir`. Writers run under the store's writer lease
    * ([[withWriterLock]]) and re-read the meta before they commit (the
    * optimistic recheck — defense in depth behind the lease; it also
    * catches a lease-bypassing writer). Readers take no lease. */
  final class Store(val kind: Kind, val spark: SparkSession, val dir: String) {
    val root: Path = FsPaths.hadoopPath(dir)
    val fs: FileSystem = FsPaths.fileSystemFor(root, spark.sparkContext.hadoopConfiguration)

    /** The meta, after healing a crashed rebuild swap and waiting out a
      * LIVE writer's two-rename swap window (bounded) — so any reader or
      * writer heals the store. */
    private[StoreMeta] def readMeta(): Meta = {
      recoverCrashedSwap(fs, root)
      awaitSwapWindow(fs, root)
      val path = new Path(root, "meta.json")
      require(fs.exists(path),
        s"'$dir' is not ${kind.noun} (no meta.json — build one with ${kind.ops}Build)")
      val j = parseChecked(fs, path, dir, kind.format, version = 1L)
      Meta(longField(j, "batches", dir).toInt, longField(j, "n", dir),
        longField(j, "tombBatches", dir, Some(0L)).toInt,
        longField(j, "tombRows", dir, Some(0L)),
        ListMap.from(kind.stats.map(f => f -> longField(j, f, dir))),
        ListMap.from(kind.flags.map(f => f -> flagField(j, f, dir))))
    }

    /** Atomic meta commit into `at` (the root, or a staged rebuild). */
    private def commit(meta: Meta, at: Path = root): Unit =
      atomicWriteJson(fs, new Path(at, "meta.json"), meta.json(kind.format))

    /** A plane's batch dirs `<dir>/<name>/b0..b<batches-1>` as one frame. */
    def plane(name: String, batches: Int): DataFrame = {
      val paths = (0 until batches).map(i => s"$dir/$name/b$i")
      if (kind.unionBatches) paths.map(p => spark.read.parquet(p)).reduce(_ unionByName _)
      else spark.read.parquet(paths: _*)
    }

    /** The LIVE view of `df`: rows whose key is in the tombstone plane
      * drop. The tombstone side is BROADCAST by design: deletes are deltas
      * (takedowns, dedup prunes), bounded hard by [[TombstoneRowCap]] at
      * delete time and reset by compaction, which drops them physically.
      * Sits ABOVE the scan, so partition filters and column pruning push
      * through untouched. */
    def live(df: DataFrame, meta: Meta): DataFrame =
      if (meta.tombBatches == 0) df
      else df.join(broadcast(plane("tombstones", meta.tombBatches).select(kind.key)),
        Seq(kind.key), "left_anti")

    private def weighted(meta: Meta, delta: Long): ListMap[String, Long] =
      kind.weight.fold(meta.stats) { case (_, stat) =>
        meta.stats.updated(stat, meta.stats(stat) + delta) }

    private def recheck(op: String, was: Meta, advice: String): Unit = {
      val now = readMeta()
      require(now.batches == was.batches && now.tombBatches == was.tombBatches,
        s"$op: concurrent writer detected on '$dir' (batches ${was.batches} → " +
          s"${now.batches}, tombstone batches ${was.tombBatches} → ${now.tombBatches}) " +
          s"— the store is single-writer; $advice")
    }

    /** Build this store from scratch under its lease: heal a crashed swap
      * BEFORE deciding what is here (a build that saw the crashed swap's
      * empty root as 'nothing here' would delete the staged sibling as
      * stale and swap away the parked old store), refuse to replace an
      * index or a non-empty non-store dir without `overwrite` (the swap
      * replaces the root, so someone else's bytes need the same explicit
      * opt-in; an empty placeholder dir replaces silently), then
      * [[rebuildStaged]]: `write` fills the staged sibling and returns its
      * meta, which commits there LAST, and the store swaps in. */
    def build(op: String, overwrite: Boolean, waitMs: Long = 0L)(write: Path => Meta): Unit =
      withWriterLock(fs, root, op, waitMs) {
        recoverCrashedSwap(fs, root)
        if (fs.exists(new Path(root, "meta.json")))
          require(overwrite, s"$op: '$dir' already holds an index — pass " +
            "overwrite = true to replace it")
        else if (fs.exists(root) && fs.listStatus(root).nonEmpty)
          require(overwrite, s"$op: '$dir' exists, is not ${kind.noun}, and is not " +
            "empty — pass overwrite = true to replace it")
        rebuildStaged(fs, root)(staged => commit(write(staged), staged))
      }

    /** Append a delta batch: `write` writes batch `meta.batches` of every
      * plane from `delta` and returns its (rows, weight). Before it, the
      * id-clash guard: a delta-sized semi-join against the key plane's one
      * pruned column. Deliberately UNFILTERED by tombstones: re-appending a
      * DELETED id would resurrect it only until the tombstone anti-join
      * killed both rows — refuse; compaction reclaims the id. */
    def append(op: String, delta: DataFrame, idCol: String, waitMs: Long)
              (write: Meta => (Long, Long)): Unit =
      withWriterLock(fs, root, op, waitMs) {
        val meta = readMeta()
        val clash = delta.select(col(idCol).as(kind.key))
          .join(plane(kind.keyPlane, meta.batches).select(kind.key), Seq(kind.key), "left_semi")
          .limit(1).count()
        require(clash == 0L,
          s"$op: delta re-uses ${kind.ids} already in (or deleted from) '$dir' — " +
            s"the store holds one row per ${kind.item}; assign fresh ids, or compact " +
            "to reclaim deleted ids")
        val (rows, weight) = write(meta)
        // two writers that interleaved both targeted the SAME batch number
        recheck(op, meta, "retry this delta")
        commit(meta.copy(batches = meta.batches + 1, n = meta.n + rows,
          stats = weighted(meta, weight)))
      }

    /** Delete the rows keyed by `ids`: a tombstone batch appends, every
      * reader anti-joins the plane ([[live]]), and compaction drops the
      * rows physically. The ids write to a STAGING dir first and validate
      * from the WRITTEN bytes (a pre-flight check of a non-deterministic
      * `ids` frame is TOCTOU); one aggregate over them joined to the live
      * key plane gives count, distinct, live and the weight sum. Only after
      * every check does the staging dir rename into the `b<tombBatches>`
      * slot, so a refusal leaves meta untouched and an orphan the next
      * delete clobbers. `ids` must be distinct, present and not already
      * deleted — a double delete would subtract the stats twice. Deleted
      * ids stay reserved until a compact. */
    def delete(op: String, ids: DataFrame, idCol: String): Unit =
      withWriterLock(fs, root, op) {
        val meta = readMeta()
        val staging = s"$dir/tombstones/b${meta.tombBatches}.staging"
        val delProj = ids.select(col(idCol).as(kind.key))
        delProj.write.mode("overwrite").parquet(staging)
        // explicit schema so a zero-row write (no part files to infer from)
        // still reads back as an empty frame and refuses below
        val written = spark.read.schema(delProj.schema).parquet(staging)
        val liveKeys = live(plane(kind.keyPlane, meta.batches), meta)
          .select(col(kind.key), kind.weight.fold(lit(0L))(w => col(w._1)).as("__w"),
            lit(1).as("__live"))
        val st = written.join(liveKeys, Seq(kind.key), "left")
          .agg(count(lit(1)), countDistinct(col(kind.key)),
            coalesce(sum(col("__live")), lit(0L)), coalesce(sum(col("__w")), lit(0L)))
          .head()
        val dn = st.getLong(0)
        require(dn > 0L, s"$op: empty id set — nothing to delete in '$dir'")
        require(st.getLong(1) == dn,
          s"$op: id set has ${dn - st.getLong(1)} duplicates — a double delete " +
            "would subtract the store's stats twice; dedupe ids first")
        require(st.getLong(2) == dn,
          s"$op: ${dn - st.getLong(2)} ids are not live in '$dir' (absent or " +
            s"already deleted) — deletes must name existing ${kind.item}s")
        // past the cap the readers' tombstone broadcast, not this delete,
        // would fail; refuse here and point at compaction
        require(meta.tombRows + dn <= TombstoneRowCap,
          s"$op: '$dir' would hold ${meta.tombRows + dn} tombstone rows, past the " +
            s"$TombstoneRowCap broadcast cap — run ${kind.ops}Compact to reclaim " +
            "deleted rows first")
        recheck(op, meta, "retry")
        val slot = new Path(root, s"tombstones/b${meta.tombBatches}")
        if (fs.exists(slot)) fs.delete(slot, true) // orphan of a crashed delete
        require(fs.rename(FsPaths.hadoopPath(staging), slot),
          s"$op: rename '$staging' -> '$slot' failed — meta is untouched; the " +
            "staging dir is an orphan the next delete clobbers")
        commit(meta.copy(n = meta.n - dn, tombBatches = meta.tombBatches + 1,
          tombRows = meta.tombRows + dn, stats = weighted(meta, -st.getLong(3))))
      }

    /** Compact `src` into this store: a [[build]] of this store whose
      * `write` reads `src`'s live rows into one batch, validating the
      * rewrite against `src`'s meta. The destination stays live until the
      * compacted store swaps in, so a refusal or a crash leaves it intact;
      * the source is never touched (compact to a sibling, then swap). After
      * the write, the optimistic recheck on `src`: an append or delete
      * landing there mid-compact would otherwise vanish at the caller's
      * swap. The destination holds no tombstones, so its ledger restarts. */
    def compactFrom(src: Store, op: String, overwrite: Boolean, waitMs: Long)
                   (write: (Meta, Path) => Unit): Unit = {
      val srcMeta = src.readMeta()
      // in place, the swap would pull the store out from under its own
      // readers mid-compact
      require(src.fs.makeQualified(src.root) != fs.makeQualified(root),
        s"$op: source and destination are the same store ('${src.dir}') — " +
          "compact to a sibling and swap")
      build(op, overwrite, waitMs) { staged =>
        write(srcMeta, staged)
        src.recheck(op, srcMeta, "re-run the compact to include the new writes")
        srcMeta.copy(batches = 1, tombBatches = 0, tombRows = 0L)
      }
    }
  }
}
