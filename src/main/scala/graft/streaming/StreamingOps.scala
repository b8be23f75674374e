package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming counterparts of the engine's batch event operators.
  *
  * The reference has no streaming surface (SURVEY.md §2.x), so this is an
  * engine extension: the same event-table semantics (`events_hourly`,
  * `events_sessionize`) expressed as incremental plans. At scale this is the
  * 100 TB/day ingest path: watermarked state, no unbounded buffering.
  */
object StreamingOps {

  /** Tumbling-window counts/sums per event type with a watermark for state
    * eviction — the streaming twin of the `events_hourly` batch query. */
  def hourlyAggregates(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact dedup on the ID COLUMNS ALONE — the true streaming
    * twin of Dedup.exact: a re-ingested id with a DIFFERENT event time is
    * still a duplicate (plain `dropDuplicates(id :+ ts)` would keep it).
    * `dropDuplicatesWithinWatermark` keys state on the ids only and evicts
    * each key once the watermark passes its last sighting, so state stays
    * bounded without the ts column polluting the identity. */
  def dedupStream(events: DataFrame, tsCol: String, idCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(idCols)

  /** Sliding-window rates: overlapping windows of `windowLen` advancing by
    * `slide` — each event lands in windowLen/slide windows. Watermarked, so
    * window state is evicted once the watermark passes the window end. */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
                    slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"), col("event_type"), col("n"))

  /** Stream–stream interval join: each left event pairs with right events for
    * the same user whose timestamps lie within [left.ts, left.ts + maxLag].
    * Both sides are watermarked and the join condition bounds event time on
    * both, so Spark can discard buffered rows once the watermark passes —
    * state stays bounded on unbounded inputs (the streaming twin of the
    * `events_asof_join` batch shape, relaxed to an interval). */
  def intervalJoin(left: DataFrame, right: DataFrame, maxLag: String = "30 minutes",
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_event_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user_id"), col("event_id").as("r_event_id"), col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxLag"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"), col("l_ts"), col("r_ts"))
  }

  /** Sessionization via Spark's NATIVE `session_window` aggregate — the
    * declarative twin of [[sessionize]]: the planner owns window merging and
    * watermark-driven state eviction, no custom state function. Events with
    * gap < `gap` merge into one session window. Prefer this when per-user
    * session NUMBERING isn't needed (the window start identifies the
    * session); use [[sessionize]] when stable per-user ids are required.
    */
  def sessionizeWindows(events: DataFrame, gap: String = "30 minutes",
                        watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("n_events"), col("first_ts"), col("last_ts"))

  final case class BandRow(gk: Int, band: Int, bucket: Long, doc_id: Long,
                           ts: java.sql.Timestamp)
  /** One state row per bucket-GROUP: parallel arrays over the group's live
    * buckets ((band, bucket) → first claimant + last-hit ms). `groups`
    * records the stateGroups the row was written under — a restart with a
    * different value re-routes keys, so every state load checks it and
    * refuses loudly instead of silently losing stored first-claimants.
    * STATE SCHEMA v2 (the `groups` field): checkpoints written by earlier
    * builds fail Spark's state-schema compatibility check on restart —
    * start those streams over with a fresh checkpoint; there is no
    * in-place migration. */
  final case class BucketGroupState(bands: Array[Int], buckets: Array[Long],
                                    firstIds: Array[Long], lastMs: Array[Long],
                                    groups: Int)
  final case class Collision(doc_id: Long, dup_of: Long, band: Int, bucket: Long,
                             ts: java.sql.Timestamp)

  /** Streaming near-duplicate detection — the incremental twin of
    * [[graft.operators.Dedup.minhashLsh]] for an unbounded ingest:
    *
    *  1. per-document minhash signature computed ROW-LOCALLY (expression
    *     form — no stateful aggregation, so Append mode composes),
    *  2. LSH band keys exploded to (band, bucket) rows,
    *  3. per-bucket state remembers the first document that claimed the
    *     bucket; later arrivals emit a [[Collision]] against it.
    *
    * State is (band, bucket) → (first id, last-seen ms), evicted
    * `ttlMinutes` after the bucket's last hit — on an endless crawl the
    * state holds only the trailing TTL window's buckets, which is the
    * explicit recall/memory trade of streaming LSH (a duplicate of a
    * document older than the TTL is not caught; re-runs of the batch
    * operator own the long tail). Emitted collisions are CANDIDATES,
    * exactly like the batch banding stage — pipe into an exact verify or
    * a `dropDuplicates`-style suppressor downstream.
    *
    * Storage shape: buckets are BATCHED into `stateGroups` fixed hash
    * groups, one state row per group (parallel arrays), so a micro-batch
    * commits at most `stateGroups` state-store writes instead of one per
    * (band, bucket) key — at bands = 16 that is ~16×batch-docs writes
    * saved per batch, the cost that dominated the per-doc rate. Expired
    * buckets prune lazily on each group visit plus a group-level timeout
    * sweep. Size `stateGroups` so a group's live payload stays small:
    * expected live buckets ≈ rate × TTL × bands, and each touched group
    * rewrites its whole payload on commit — at ~64 entries/group,
    * `stateGroups ≈ rate·ttl·bands / 64` (the 1024 default fits modest
    * single-node rates; a high-rate deployment raises it linearly).
    * `stateGroups` is PART OF THE CHECKPOINT LAYOUT: restarting an
    * existing checkpointed query with a different value would re-route
    * keys to different groups and stored first-claimants would silently
    * never be found — so the value is PERSISTED in every state row and
    * checked on load: a mismatched restart refuses loudly on the first
    * populated group it touches instead of degrading quietly.
    */
  def nearDupCollisions(docs: DataFrame, textCol: String, idCol: String, tsCol: String,
                        shingleWords: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                        watermark: String = "10 minutes",
                        ttlMinutes: Int = 60,
                        stateGroups: Int = 1024): Dataset[Collision] = {
    import docs.sparkSession.implicits._
    import graft.operators.Dedup
    // ids ride the compact long state key; fail at BUILD time for
    // non-integral id columns instead of a mid-stream encoder crash
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"nearDupCollisions needs an integral id column ('$idCol' is $other) — " +
          "derive one (e.g. xxhash64 of the string id) before calling")
    }
    val ttlMs = ttlMinutes.toLong * 60L * 1000L
    // every per-row layer is a single NATIVE expression (the fused
    // minhash_sig_windows kernel + band_hashes, the same hash family as
    // the batch pipeline): an interpreted higher-order-function tree would
    // be re-optimized by the incremental planner EVERY micro-batch
    require(stateGroups > 0, s"nearDupCollisions: stateGroups must be positive (got $stateGroups)")
    docs
      .withWatermark(tsCol, watermark)
      // the FUSED shingle+minhash kernel (identical signatures to
      // wordShingles → minhash_sig — min over a multiset ignores the
      // distinct — at ~3× the throughput: no per-shingle string columns
      // materialize). Null signature = doc too short to shingle; the
      // batch twin (shingleRows) excludes those too, and without the
      // filter every short doc would share one signature and flood each
      // band's bucket with false collisions against the first one seen.
      // Dedup.hasWindow drops exactly those docs before the kernel runs.
      .filter(Dedup.hasWindow(col(textCol), shingleWords))
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"),
        graft.functions.SketchFunctions.minhash_sig_windows(
          Dedup.tokens(col(textCol)), shingleWords, bands * rowsPerBand).as("__sig"))
      .select(col("doc_id"), col("ts"),
        posexplode(graft.functions.SketchFunctions.band_hashes(
          col("__sig"), bands, rowsPerBand)))
      // group key folds (band, bucket) into a fixed hash-group id; the
      // watermarked ts column must ride through AS the event-time column
      // or the event-time timeout refuses at analysis
      .select(pmod(xxhash64(col("pos"), col("col")), lit(stateGroups.toLong)).cast("int").as("gk"),
        col("pos").cast("int").as("band"), col("col").as("bucket"),
        col("doc_id"), col("ts"))
      .as[BandRow]
      .groupByKey(_.gk)
      .flatMapGroupsWithState[BucketGroupState, Collision](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int, rows: Iterator[BandRow], state: GroupState[BucketGroupState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          // live entries: load + lazily prune everything whose TTL passed —
          // a pruned bucket can no longer match, exactly as if its state
          // row had been removed the instant the TTL expired
          val live = new java.util.LinkedHashMap[(Int, Long), Array[Long]]()
          state.getOption.foreach { s =>
            require(s.groups == stateGroups,
              s"nearDupCollisions: checkpointed state was written with stateGroups=" +
                s"${s.groups} but this query restarted with $stateGroups — keys would " +
                "re-route and stored first-claimants silently never match; restart with " +
                s"stateGroups=${s.groups} or start over with a fresh checkpoint")
            var i = 0
            while (i < s.buckets.length) {
              if (s.lastMs(i) + ttlMs > wmMs)
                live.put((s.bands(i), s.buckets(i)), Array(s.firstIds(i), s.lastMs(i)))
              i += 1
            }
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[Collision]
          if (!state.hasTimedOut) {
            // (ts, doc_id) arrival order — buckets are independent, so a
            // total order preserves each bucket's first-claimant semantics
            val sorted = rows.toArray
            java.util.Arrays.sort(sorted, (a: BandRow, b: BandRow) => {
              val c = java.lang.Long.compare(a.ts.getTime, b.ts.getTime)
              if (c != 0) c else java.lang.Long.compare(a.doc_id, b.doc_id)
            })
            sorted.foreach { r =>
              val k = (r.band, r.bucket)
              val tsMs = r.ts.getTime
              val s = live.get(k)
              if (s == null) live.put(k, Array(r.doc_id, tsMs))
              else {
                if (s(0) != r.doc_id)
                  out += Collision(r.doc_id, s(0), r.band, r.bucket, r.ts)
                if (tsMs > s(1)) s(1) = tsMs
              }
            }
          }
          if (live.isEmpty) {
            state.remove()
          } else {
            val n = live.size()
            val gb = BucketGroupState(new Array[Int](n), new Array[Long](n),
              new Array[Long](n), new Array[Long](n), stateGroups)
            var i = 0
            var maxLast = Long.MinValue
            val it = live.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              gb.bands(i) = e.getKey._1; gb.buckets(i) = e.getKey._2
              gb.firstIds(i) = e.getValue()(0); gb.lastMs(i) = e.getValue()(1)
              if (gb.lastMs(i) > maxLast) maxLast = gb.lastMs(i)
              i += 1
            }
            state.update(gb)
            // group sweep at the LAST entry's expiry: earlier entries
            // prune lazily on the next visit or at that sweep
            state.setTimeoutTimestamp(math.max(maxLast + ttlMs, wmMs + 1L))
          }
          out.iterator
      }
  }

  final case class WinRow(gk: Int, key: Long, doc_id: Long, pos: Int,
                          ts: java.sql.Timestamp)
  /** One state row per key-GROUP: parallel arrays over the group's live
    * window keys (key → first (doc, pos) claimant + last-hit ms).
    * `groups` pins the stateGroups the row was written under — checked on
    * every load so a restart with a different value refuses loudly. */
  final case class WinGroupState(keys: Array[Long], firstDocs: Array[Long],
                                 firstPoss: Array[Int], lastMs: Array[Long],
                                 groups: Int)
  final case class WindowHit(doc_id: Long, pos: Int, first_doc_id: Long,
                             ts: java.sql.Timestamp)

  /** Streaming twin of [[graft.operators.Dedup.exactSubstringSpans]]: each
    * L-token window of an arriving document hashes to a 64-bit key; state
    * remembers the first (doc, pos) that claimed the key, and every later
    * occurrence emits a [[WindowHit]] — the streaming analogue of the
    * batch operator's non-canonical marks (merge hits into spans
    * downstream, exactly like the batch gaps-and-islands stage).
    *
    * Windows are built ROW-LOCALLY with the zip_with slice chain — the
    * batch operator's lead()-over-doc construction is a non-time window
    * function, which streaming rejects; per-arriving-row the interpreted
    * chain is fine. Keys are xxhash64 of the window text, so hits are
    * CANDIDATES with a ~2^-64 per-pair false-hit rate (the same
    * by-construction trade the LSH twin makes, with far better odds).
    * State: key → (first doc, pos, last-seen ms), evicted `ttlMinutes`
    * after the key's last hit — duplicates of text older than the TTL
    * fall to the batch operator, the explicit recall/memory trade of
    * every streaming dedup here. Like [[nearDupCollisions]], keys are
    * BATCHED into `stateGroups` hash groups with one state row per group
    * (parallel arrays; lazy per-visit TTL prune + group timeout sweep):
    * a doc emits ~tokens−L+1 keys — more per doc than the LSH twin's
    * bands — so per-key state rows made the store commit, not the
    * hashing, the per-doc cost. Same sizing rule: keep the live payload
    * per group small (`stateGroups ≈ rate·ttl·windows-per-doc / 64`) —
    * and the same restart contract: the value is persisted in every state
    * row and checked on load, so a restart of an existing checkpointed
    * query with a different value refuses loudly. */
  def duplicatedWindowHits(docs: DataFrame, textCol: String, idCol: String, tsCol: String,
                           windowTokens: Int = 8, watermark: String = "10 minutes",
                           ttlMinutes: Int = 60,
                           stateGroups: Int = 1024): Dataset[WindowHit] = {
    import docs.sparkSession.implicits._
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    val L = windowTokens
    val ttlMs = ttlMinutes.toLong * 60L * 1000L
    val toks = graft.operators.TextAnalysis.tokens(col(textCol))
    // one native expression hashes every L-token window (identical bytes to
    // xxhash64 of the space-joined window string) — replaces an interpreted
    // L-deep zip_with chain whose tree the incremental planner re-optimized
    // every micro-batch, and the explode carries longs, never window strings
    require(stateGroups > 0, s"duplicatedWindowHits: stateGroups must be positive (got $stateGroups)")
    docs
      .withWatermark(tsCol, watermark)
      .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"), toks.as("__t"))
      .select(col("doc_id"), col("ts"),
        posexplode(graft.functions.SketchFunctions.window_hashes(col("__t"), L)))
      // window keys are already xxhash64-uniform — pmod alone spreads them
      .select(pmod(col("col"), lit(stateGroups.toLong)).cast("int").as("gk"),
        col("col").as("key"), col("doc_id"),
        col("pos").cast("int").as("pos"), col("ts"))
      .as[WinRow]
      .groupByKey(_.gk)
      .flatMapGroupsWithState[WinGroupState, WindowHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int, rows: Iterator[WinRow], state: GroupState[WinGroupState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          // live entries, lazily pruned at the TTL exactly as if each
          // key's row had been evicted the instant it expired
          val live = new java.util.LinkedHashMap[java.lang.Long, Array[Long]]()
          state.getOption.foreach { s =>
            require(s.groups == stateGroups,
              s"duplicatedWindowHits: checkpointed state was written with stateGroups=" +
                s"${s.groups} but this query restarted with $stateGroups — keys would " +
                "re-route and stored first-claimants silently never match; restart with " +
                s"stateGroups=${s.groups} or start over with a fresh checkpoint")
            var i = 0
            while (i < s.keys.length) {
              if (s.lastMs(i) + ttlMs > wmMs)
                live.put(s.keys(i), Array(s.firstDocs(i), s.firstPoss(i).toLong, s.lastMs(i)))
              i += 1
            }
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[WindowHit]
          if (!state.hasTimedOut) {
            // same-batch arrivals order by (ts, doc, pos) so the canonical
            // claimant matches the batch operator's min-(doc, pos) choice
            val sorted = rows.toArray
            java.util.Arrays.sort(sorted, (a: WinRow, b: WinRow) => {
              val c = java.lang.Long.compare(a.ts.getTime, b.ts.getTime)
              if (c != 0) c
              else {
                val d = java.lang.Long.compare(a.doc_id, b.doc_id)
                if (d != 0) d else Integer.compare(a.pos, b.pos)
              }
            })
            sorted.foreach { r =>
              val tsMs = r.ts.getTime
              val s = live.get(r.key)
              if (s == null) live.put(r.key, Array(r.doc_id, r.pos.toLong, tsMs))
              else {
                if (s(0) != r.doc_id || s(1) != r.pos.toLong)
                  out += WindowHit(r.doc_id, r.pos, s(0), r.ts)
                if (tsMs > s(2)) s(2) = tsMs
              }
            }
          }
          if (live.isEmpty) {
            state.remove()
          } else {
            val n = live.size()
            val gs = WinGroupState(new Array[Long](n), new Array[Long](n),
              new Array[Int](n), new Array[Long](n), stateGroups)
            var i = 0
            var maxLast = Long.MinValue
            val it = live.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              gs.keys(i) = e.getKey
              gs.firstDocs(i) = e.getValue()(0)
              gs.firstPoss(i) = e.getValue()(1).toInt
              gs.lastMs(i) = e.getValue()(2)
              if (gs.lastMs(i) > maxLast) maxLast = gs.lastMs(i)
              i += 1
            }
            state.update(gs)
            state.setTimeoutTimestamp(math.max(maxLast + ttlMs, wmMs + 1L))
          }
          out.iterator
      }
  }

  final case class Event(user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(sessionId: Long, lastUs: Long, nEvents: Long, firstUs: Long)
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long, first_us: Long, last_us: Long)

  /** Stateful sessionization via flatMapGroupsWithState: a session closes
    * after `gapMinutes` of event-time inactivity. An event-time timeout at
    * `last_event + gap` (relative to the `watermark`-delayed watermark)
    * evicts idle users' session state AND emits their final open session,
    * so no session is lost in Append mode — and unlike a processing-time
    * timeout the behavior is identical on live ingest and historical
    * reprocessing. Streaming twin of the `events_sessionize` batch query.
    *
    * Timeout leaves a minimal TOMBSTONE (next session id, no events) so
    * `(user_id, session_id)` stays unique across a user's whole lifetime —
    * without it a returning user would restart at session 1 and collide
    * with their earlier keys. Session-event buffering is still evicted on
    * timeout; what persists is one counter per ever-seen user, the same
    * cardinality any per-user numbering scheme needs. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val gapMs = gapMinutes.toLong * 60L * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // Watermark passed last_event + gap: close and emit the open
            // session; keep a tombstone carrying the NEXT session id.
            // No new timeout is set — a tombstone has nothing left to emit,
            // so it simply waits for the user's next event.
            val out = state.getOption.toSeq.filter(_.lastUs != Long.MinValue).map(st =>
              SessionOut(userId, st.sessionId, st.nEvents, st.firstUs, st.lastUs))
            val nextId = state.getOption.map(_.sessionId + 1).getOrElse(1L)
            state.update(SessionState(nextId, Long.MinValue, 0L, 0L))
            out.iterator
          } else {
            // fresh users and tombstones both carry the id the next session
            // should use in sessionId, with lastUs == MinValue
            var st = state.getOption.getOrElse(SessionState(1L, Long.MinValue, 0L, 0L))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
              val us = e.ts.getTime * 1000L
              if (st.lastUs == Long.MinValue) {
                st = SessionState(st.sessionId, us, 1L, us)
              } else if (us - st.lastUs > gapUs) {
                closed += SessionOut(userId, st.sessionId, st.nEvents, st.firstUs, st.lastUs)
                st = SessionState(st.sessionId + 1, us, 1L, us)
              } else {
                st = st.copy(lastUs = us, nEvents = st.nEvents + 1)
              }
            }
            state.update(st)
            // Timeout when the watermark passes the gap after the session's
            // last event; clamp above the current watermark (late data could
            // otherwise compute a timestamp Spark rejects as already-passed).
            state.setTimeoutTimestamp(
              math.max(st.lastUs / 1000L + gapMs, state.getCurrentWatermarkMs() + 1L))
            closed.iterator
          }
      }
  }

  final case class SemRow(cell: Long, doc_id: Long, vec: Array[Float],
                          ts: java.sql.Timestamp)
  /** Per-cell kept survivors: parallel ids/last-hit arrays plus ONE flat
    * primitive vector block (`flat(i*dim until (i+1)*dim)` is survivor i).
    * Flat, not nested: a `Array[Array[Float]]` state field encodes through
    * a per-inner-array UnsafeArrayData construction every batch — at a few
    * thousand survivors that nested encode/decode dominated the whole
    * twin's batch time (the r9 981-1,340 vecs/s row), while a single
    * primitive array is one memcpy each way. The cell's vector dimension
    * is pinned by its first survivor; a later row with a different length
    * REFUSES loudly (pad/fix the feed upstream) instead of silently
    * corrupting block offsets. */
  final case class SemCellState(ids: Array[Long], lastMs: Array[Long],
                                dim: Int, flat: Array[Float])
  final case class SemClaim(doc_id: Long, dup_of: Long, cell: Long,
                            ts: java.sql.Timestamp)

  /** Streaming semantic dedup — the ONLINE GREEDY COVER twin of
    * [[graft.operators.Dedup.incrementalSemanticWithIndex]] for an
    * unbounded embedding ingest: each arriving vector assigns to its
    * nearest centroid IN-SCAN (the centroid table is collected once at
    * build — no per-batch join), then compares against the cell's KEPT
    * survivors in state. A doc with a kept doc at cosine ≥ `threshold`
    * emits a [[SemClaim]] against the EARLIEST (lowest-id) such survivor
    * and is not kept; otherwise it joins the kept set.
    *
    * Note the kept-only comparison is the online form of SemDeDup's
    * greedy rule, not byte-identical to the batch operator's
    * any-predecessor `dup_of` attribution: in a chain (3 ~ 2 ~ 1 with
    * 3 !~ 1) the batch prune drops 3 against 2, while here 2 was never
    * kept, so 3 survives. That is the standard online greedy cover — no
    * kept pair is ever within the threshold, the same invariant the
    * batch operator guarantees for its kept set.
    *
    * State per cell: survivor ids + vectors, each evicted `ttlMinutes`
    * after its last claim (arrival or duplicate hit) — the usual
    * streaming recall/memory trade (a duplicate of an expired survivor
    * re-claims the cell). `maxKeptPerCell` bounds the vectors a single
    * cell can hold; breaching it refuses loudly (REBUILD with more
    * centroids — a silent eviction would quietly stop deduplicating the
    * stream's densest region).
    */
  def semanticClaims(docs: DataFrame, idCol: String, vecCol: String, tsCol: String,
                     centroids: DataFrame, centroidId: String, centroidVec: String,
                     threshold: Double = 0.9,
                     watermark: String = "10 minutes",
                     ttlMinutes: Int = 60,
                     maxKeptPerCell: Int = 4096): Dataset[SemClaim] = {
    import docs.sparkSession.implicits._
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"semanticClaims needs an integral id column ('$idCol' is $other) — " +
          "derive one (e.g. xxhash64 of the string id) before calling")
    }
    centroids.schema(centroidId).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"semanticClaims needs an integral centroid id column ('$centroidId' is $other) — " +
          "a silent long cast would null every cell key mid-stream")
    }
    val ttlMs = ttlMinutes.toLong * 60L * 1000L
    val assigned = graft.operators.Similarity.ivfAssign(
        docs.withWatermark(tsCol, watermark)
          .select(col(idCol).cast("long").as("doc_id"), col(tsCol).as("ts"),
            col(vecCol).cast("array<float>").as("vec"))
          // null or EMPTY vectors carry no semantics: cosine is 0 against
          // everything, but an empty-vec doc would still claim a cell slot
          .filter(col("vec").isNotNull && size(col("vec")) > 0),
        "doc_id", "vec", centroids, centroidId, centroidVec)
      .select(col("cell").cast("long").as("cell"), col("doc_id"), col("vec"), col("ts"))
    assigned.as[SemRow]
      .groupByKey(_.cell)
      .flatMapGroupsWithState[SemCellState, SemClaim](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (cellKey: Long, rows: Iterator[SemRow], state: GroupState[SemCellState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val incoming = if (state.hasTimedOut) Array.empty[SemRow] else {
            val a = rows.toArray
            java.util.Arrays.sort(a, (x: SemRow, y: SemRow) => {
              val c = java.lang.Long.compare(x.ts.getTime, y.ts.getTime)
              if (c != 0) c else java.lang.Long.compare(x.doc_id, y.doc_id)
            })
            a
          }
          // live survivors, TTL-pruned on load into preallocated parallel
          // arrays (capacity = live + batch, so the batch never reallocs)
          val prev = state.getOption.orNull
          var dim  = if (prev != null) prev.dim else -1
          val cap  = (if (prev != null) prev.ids.length else 0) + incoming.length
          val ids    = new Array[Long](cap)
          val lastMs = new Array[Long](cap)
          val norms  = new Array[Double](cap)   // Σ v², cached once per batch
          var flat   = new Array[Float](math.max(1, cap) * math.max(1, dim))
          var n = 0
          if (prev != null) {
            var i = 0
            while (i < prev.ids.length) {
              if (prev.lastMs(i) + ttlMs > wmMs) {
                ids(n) = prev.ids(i); lastMs(n) = prev.lastMs(i)
                System.arraycopy(prev.flat, i * dim, flat, n * dim, dim)
                var na = 0.0
                var k = 0
                while (k < dim) { val x = flat(n * dim + k).toDouble; na += x * x; k += 1 }
                norms(n) = na
                n += 1
              }
              i += 1
            }
            // every stored survivor TTL-expired → the cell is effectively
            // fresh, so the dim pin resets with it: after a pause longer
            // than the TTL, a redeploy with a different embedding model
            // must re-pin from its first arrival, not crash-loop against
            // a dimension no live survivor carries
            if (n == 0) dim = -1
          }
          // id-ascending scan order: the earliest-kept match is the FIRST
          // match in id order, so the survivor loop breaks at the first hit
          // instead of scoring every survivor for every row
          val order = new Array[Int](cap)
          locally {
            val sorted = Array.range(0, n).sortBy(ids(_))
            System.arraycopy(sorted, 0, order, 0, n)
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[SemClaim]
          incoming.foreach { r =>
            val tsMs = r.ts.getTime
            if (dim < 0) {
              dim = r.vec.length
              if (flat.length < cap * dim) flat = new Array[Float](cap * dim)
            }
            require(r.vec.length == dim,
              s"semanticClaims: cell $cellKey holds $dim-dim vectors but doc " +
                s"${r.doc_id} arrived with ${r.vec.length} — pad or fix the feed " +
                "upstream (a silent mismatch would corrupt the survivor block)")
            var nb = 0.0
            var k = 0
            while (k < dim) { val x = r.vec(k).toDouble; nb += x * x; k += 1 }
            var best = -1
            var j = 0
            while (best < 0 && j < n) {
              val i = order(j)
              // same double fold as the batch kernels: dot / sqrt(na*nb)
              if (norms(i) != 0.0 && nb != 0.0) {
                var d = 0.0
                var k2 = 0
                val off = i * dim
                while (k2 < dim) { d += flat(off + k2).toDouble * r.vec(k2); k2 += 1 }
                if (d / math.sqrt(norms(i) * nb) >= threshold) best = i
              }
              j += 1
            }
            if (best >= 0) {
              out += SemClaim(r.doc_id, ids(best), cellKey, r.ts)
              if (tsMs > lastMs(best)) lastMs(best) = tsMs
            } else {
              require(n < maxKeptPerCell,
                s"semanticClaims: cell $cellKey exceeded maxKeptPerCell=$maxKeptPerCell " +
                  "survivors — rebuild with more centroids (a silent eviction would stop " +
                  "deduplicating the densest region)")
              ids(n) = r.doc_id; lastMs(n) = tsMs; norms(n) = nb
              System.arraycopy(r.vec, 0, flat, n * dim, dim)
              // insert into the id-sorted order at its binary-search slot
              var lo = 0; var hi = n
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (ids(order(mid)) < r.doc_id) lo = mid + 1 else hi = mid
              }
              System.arraycopy(order, lo, order, lo + 1, n - lo)
              order(lo) = n
              n += 1
            }
          }
          if (n == 0) {
            state.remove()
          } else {
            var maxLast = Long.MinValue
            var i = 0
            while (i < n) { if (lastMs(i) > maxLast) maxLast = lastMs(i); i += 1 }
            state.update(SemCellState(java.util.Arrays.copyOf(ids, n),
              java.util.Arrays.copyOf(lastMs, n), dim,
              java.util.Arrays.copyOf(flat, n * dim)))
            state.setTimeoutTimestamp(math.max(maxLast + ttlMs, wmMs + 1L))
          }
          out.iterator
      }
  }

}
