package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming hourly aggregate over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.hourlyAggregates(df, watermark = "0 seconds")
      .writeStream.format("memory").queryName("hourly_test").outputMode("complete").start()
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 5.0),
    )
    q.processAllAvailable()
    val out = spark.table("hourly_test")
      .select("hour", "event_type", "n", "sum_value").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(out == Set(
      ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 11:00:00.0", "view", 1L, 5.0),
    ))
  }

  test("stateful sessionization closes sessions after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_test").outputMode("append").start()
    // user 1: two events 10 min apart (one session), then one 2h later →
    // first session closes when the later event arrives
    input.addData(
      Event(1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      Event(1L, 2L, Timestamp.valueOf("2024-01-01 10:10:00"), 1.0),
    )
    q.processAllAvailable()
    input.addData(Event(1L, 3L, Timestamp.valueOf("2024-01-01 12:30:00"), 1.0))
    q.processAllAvailable()
    val out = spark.table("sess_test").as[StreamingOps.SessionOut].collect()
    assert(out.length == 1)
    assert(out(0).session_id == 1L && out(0).n_events == 2L)
    // advance the watermark far past user 1's open session + gap: the
    // event-time timeout must close and emit session 2 and evict the state
    input.addData(Event(2L, 4L, Timestamp.valueOf("2024-01-01 15:00:00"), 1.0))
    q.processAllAvailable()
    val out2 = spark.table("sess_test").as[StreamingOps.SessionOut].collect()
    q.stop()
    val u1 = out2.filter(_.user_id == 1L).sortBy(_.session_id)
    assert(u1.length == 2)
    assert(u1(1).session_id == 2L && u1(1).n_events == 1L)
  }

  test("session ids stay unique across event-time timeouts (tombstone state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_tomb").outputMode("append").start()
    input.addData(Event(1L, 1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1.0))
    q.processAllAvailable()
    // another user's much later event pushes the watermark past user 1's
    // gap: the timeout closes session 1 and leaves a tombstone
    input.addData(Event(2L, 2L, Timestamp.valueOf("2024-01-01 12:00:00"), 1.0))
    q.processAllAvailable()
    // user 1 returns after the timeout: must get session 2, not restart at 1
    input.addData(Event(1L, 3L, Timestamp.valueOf("2024-01-01 13:00:00"), 1.0))
    q.processAllAvailable()
    input.addData(Event(3L, 4L, Timestamp.valueOf("2024-01-02 00:00:00"), 1.0))
    q.processAllAvailable()
    val u1 = spark.table("sess_tomb").as[StreamingOps.SessionOut].collect()
      .filter(_.user_id == 1L).sortBy(_.first_us)
    q.stop()
    assert(u1.length == 2, u1.mkString(", "))
    assert(u1.map(_.session_id).toSeq == Seq(1L, 2L), u1.mkString(", "))
  }

  test("sliding windows: event lands in every overlapping window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingOps.slidingCounts(df, "1 hour", "30 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("slide_test").outputMode("complete").start()
    input.addData((Timestamp.valueOf("2024-01-01 10:40:00"), "click", 1.0))
    q.processAllAvailable()
    val out = spark.table("slide_test")
      .select("w_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    q.stop()
    // 10:40 falls in [10:00,11:00) and [10:30,11:30)
    assert(out == Set(
      ("2024-01-01 10:00:00.0", "click", 1L),
      ("2024-01-01 10:30:00.0", "click", 1L),
    ))
  }

  test("stream-stream interval join pairs events within the lag, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val l = MemoryStream[StreamingOps.Event]
    val r = MemoryStream[StreamingOps.Event]
    val q = StreamingOps.intervalJoin(l.toDF(), r.toDF(), maxLag = "30 minutes")
      .writeStream.format("memory").queryName("ij_test").outputMode("append").start()
    l.addData(Event(1L, 10L, Timestamp.valueOf("2024-01-01 10:00:00"), 0.0))
    r.addData(
      Event(1L, 20L, Timestamp.valueOf("2024-01-01 10:10:00"), 0.0), // within lag
      Event(1L, 21L, Timestamp.valueOf("2024-01-01 11:10:00"), 0.0), // beyond lag
      Event(2L, 22L, Timestamp.valueOf("2024-01-01 10:05:00"), 0.0), // other user
    )
    q.processAllAvailable()
    // advance both watermarks so matched rows are emitted deterministically
    l.addData(Event(9L, 90L, Timestamp.valueOf("2024-01-01 13:00:00"), 0.0))
    r.addData(Event(9L, 91L, Timestamp.valueOf("2024-01-01 13:00:00"), 0.0))
    q.processAllAvailable()
    val out = spark.table("ij_test")
      .select("l_event_id", "r_event_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    q.stop()
    assert(out.contains((10L, 20L)))
    assert(!out.exists(_._2 == 21L))
    assert(!out.exists(_._2 == 22L))
  }

  test("streaming sessionize equals the batch sessionize on real events (sf0.001)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch truth: the events_sessionize query (oracle-checked against DuckDB)
    val batch = gates.Gates("events_sessionize").build(spark, "/root/testdata/sf0.001")
      .select("user_id", "session_id", "n_events", "first_us", "last_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // same events through the incremental path. Timestamp only holds ms, so
    // feed the µs VALUE as ms (1000× stretch) and stretch the gap the same
    // way (30 min -> 30000 "minutes"): identical session structure, and the
    // streamed first/last divide back to exact µs — no precision loss.
    val rows = gates.EventGates.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_id", "us")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._2))
      .map { case (u, e, us) => Event(u, e, new Timestamp(us), 0.0) }
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionize(input.toDS(), gapMinutes = 30000, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_parity").outputMode("append").start()
    input.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    // sentinel far past every session + gap: watermark passes, timeouts
    // flush every user's final open session
    val maxMs = rows.map(_.ts.getTime).max
    input.addData(Event(-1L, Long.MaxValue, new Timestamp(maxMs + 86400000L * 365), 0.0))
    q.processAllAvailable()
    // session_id INCLUDED: tombstone state keeps per-user numbering
    // continuous, so the streaming ids match the batch cumulative-count ids
    val streamed = spark.table("sess_parity").as[StreamingOps.SessionOut].collect()
      .filter(_.user_id >= 0)
      .map(s => (s.user_id, s.session_id, s.n_events, s.first_us / 1000L, s.last_us / 1000L)).toSet
    q.stop()
    assert(streamed == batch,
      s"streaming=${streamed.size} batch=${batch.size} diff=${(streamed diff batch).take(3)} ${(batch diff streamed).take(3)}")
  }

  test("native session_window sessionize equals batch sessions on real events (sf0.001)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = gates.Gates("events_sessionize").build(spark, "/root/testdata/sf0.001")
      .select("user_id", "n_events", "first_us", "last_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    // µs values fed as ms (1000x stretch, as in the stateful parity test).
    // Batch rule: diff > G starts a new session; session_window merges when
    // diff < gap — gap = G+1 makes the boundary semantics identical.
    val rows = gates.EventGates.events(spark, "/root/testdata/sf0.001")
      .select("user_id", "event_id", "us")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._2))
      .map { case (u, e, us) => StreamingOps.Event(u, e, new Timestamp(us), 0.0) }
    val input = MemoryStream[StreamingOps.Event]
    val q = StreamingOps.sessionizeWindows(input.toDF(), gap = "1800000001 milliseconds",
        watermark = "0 seconds")
      .writeStream.format("memory").queryName("sess_win").outputMode("append").start()
    input.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    val maxMs = rows.map(_.ts.getTime).max
    input.addData(StreamingOps.Event(-1L, Long.MaxValue, new Timestamp(maxMs * 3), 0.0))
    q.processAllAvailable()
    val streamed = spark.table("sess_win")
      .select("user_id", "n_events", "first_ts", "last_ts")
      .as[(Long, Long, Timestamp, Timestamp)].collect()
      .filter(_._1 >= 0)
      .map(r => (r._1, r._2, r._3.getTime, r._4.getTime)).toSet
    q.stop()
    assert(streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size} diff=${(streamed diff batch).take(3)} ${(batch diff streamed).take(3)}")
  }

  test("streaming decontaminate: flags leaky docs in-stream, batch parity on real docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = graft.operators.Decontaminate
      .decontaminateStream(stream, eval, "text", n = 3, minHits = 2)
      .writeStream.format("memory").queryName("decon_stream").outputMode("append").start()
    input.addData(
      (1L, "the quick brown fox went home"),          // 2 hits -> dropped
      (2L, "a quick brown dog"),                      // 0 hits -> kept
      (3L, "jumps over the lazy dog every day"),      // 3 hits -> dropped
      (4L, "unrelated catalyst optimizer text"))      // kept
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("decon_stream").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), kept.toString)

    // batch parity on real sf0.001 documents: the streaming filter (static
    // broadcast set) must keep exactly the docs the batch operator keeps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val evalSlice  = docs.filter(col("doc_id") % 97 === 0)
    val trainSlice = docs.filter(col("doc_id") % 97 =!= 0)
    val batchKept = graft.operators.Decontaminate
      .decontaminate(trainSlice, evalSlice, "text", "doc_id", n = 3, minHits = 2)
      .select("doc_id").as[Long].collect().toSet
    val streamKept = graft.operators.Decontaminate
      .decontaminateStream(trainSlice, evalSlice, "text", n = 3, minHits = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept,
      s"stream=${streamKept.size} batch=${batchKept.size} diff=${(streamKept diff batchKept).take(5)}")
  }

  test("streaming quality filter: batch parity on real docs via MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{CorpusPipeline, NgramLm}
    // real corpus + the quality-filter gate's planted stopword tail (the
    // synthetic docs carry no English function words, so the Gopher plane
    // would be degenerate-false without it)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"),
          lit(graft.harness.QualityFixture.StopwordTail)).as("text"))
    val w = graft.harness.QualityFixture.syntheticWeights()
    val qp = CorpusPipeline.QualityPlane(w, 0,
      spark.sparkContext.broadcast(NgramLm.train(docs, "text",
        maxUnigrams = 25, maxBigrams = 500, maxTrigrams = 5000)))
    val batchKept = CorpusPipeline.qualityFilter(docs, "text", qp)
      .select("doc_id").as[Long].collect().toSet
    // the verdict must be genuinely two-sided for the parity to mean much
    val n = docs.count()
    assert(batchKept.nonEmpty && batchKept.size < n,
      s"degenerate split: ${batchKept.size} of $n")
    val input = MemoryStream[(Long, String)]
    val q = CorpusPipeline.qualityFilter(input.toDF().toDF("doc_id", "text"), "text", qp)
      .writeStream.format("memory").queryName("quality_stream")
      .outputMode("append").start()
    val rows = docs.as[(Long, String)].collect()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamKept = spark.table("quality_stream").select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept,
      s"stream=${streamKept.size} batch=${batchKept.size} diff=${(streamKept diff batchKept).take(5)}${(batchKept diff streamKept).take(5)}")
  }

  test("streaming html extract: batch parity on real docs via MemoryStream (r13)") {
    // the kernel is a stateless scan expression (no state store, no
    // watermark — the qualityFilter precedent), so the SAME call is the
    // streaming twin with byte-identical outputs
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pages = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(lit("<body><h1>T</h1><p>"),
          regexp_replace(col("text"), "&", "&amp;"),
          lit("</p><a href='u'>ln</a></body>")).as("html"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getDouble(5))).toSet
    val batch = rows(graft.operators.TextAnalysis.htmlExtract(pages, "html", "doc_id"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis
      .htmlExtract(input.toDF().toDF("doc_id", "html"), "html", "doc_id")
      .writeStream.format("memory").queryName("html_stream")
      .outputMode("append").start()
    val data = pages.as[(Long, String)].collect()
    data.grouped(math.max(1, data.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(rows(spark.table("html_stream")) == batch) // float density included
  }

  test("streaming pii scrub: batch parity on real docs via MemoryStream (r14)") {
    // stateless scan expression — the same call IS the streaming twin
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"), lit(" u"), col("doc_id"),
          lit("@x.org 10.0.0.7 (555) 123-4567")).as("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5))).toSet
    val batch = rows(graft.operators.TextAnalysis.piiScan(docs, "text", "doc_id"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis
      .piiScan(input.toDF().toDF("doc_id", "text"), "text", "doc_id")
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    val data = docs.as[(Long, String)].collect()
    data.grouped(math.max(1, data.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(rows(spark.table("pii_stream")) == batch)
  }

  test("streaming bm25: scored rows via MemoryStream equal the batch top-k source") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.KeywordSearch
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val battery = Seq(("q_join", "spark hash join"), ("q_scan", "fast table scan"))
    val model = KeywordSearch.bm25Model(docs, "text", battery)
    // batch truth: the top-k operator on the same corpus + same stats
    val batchTopK = KeywordSearch.bm25TopK(docs, "text", "doc_id", battery, k = 10)
      .select("query_id", "rank", "doc_id", "score")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // stream the same docs through the stateless scorer
    val input = MemoryStream[(Long, String)]
    val q = KeywordSearch.bm25Score(input.toDF().toDF("doc_id", "text"), "text", "doc_id", model)
      .writeStream.format("memory").queryName("bm25_stream")
      .outputMode("append").start()
    val rows = docs.as[(Long, String)].collect()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("bm25_stream")
      .select("query_id", "doc_id", "score")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    // every batch top-k row exists in the stream with a BIT-IDENTICAL
    // score (same literal idf table, same query-term-order float sums)
    batchTopK.foreach { case (qid, rank, did, score) =>
      assert(streamed.get((qid, did)).contains(score),
        s"$qid rank $rank doc $did: batch $score vs stream ${streamed.get((qid, did))}")
    }
    // and re-ranking the streamed scores reproduces the batch ranking
    val reranked = streamed.toSeq
      .groupBy(_._1._1).flatMap { case (qid, xs) =>
        xs.sortBy { case ((_, did), s) => (-s, did) }.take(10).zipWithIndex
          .map { case (((_, did), s), i) => (qid, i + 1, did, s) }
      }.toSet
    assert(reranked == batchTopK.toSet,
      s"diff=${(reranked diff batchTopK.toSet).take(3)} ${(batchTopK.toSet diff reranked).take(3)}")
  }

  test("streaming dsir: scored rows via MemoryStream equal the batch scores") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dsir
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val w = Dsir.importanceWeights(
      Dsir.bucketHistogram(docs.filter(col("doc_id") % 10 === 0), "text"),
      Dsir.bucketHistogram(docs.filter(col("doc_id") % 10 =!= 0), "text"))
    val batch = Dsir.scored(docs, "text", "doc_id", w)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the frozen weight table applies to any readStream frame as a
    // stateless scan (the bm25Score / qualityFilter precedent)
    val input = MemoryStream[(Long, String)]
    val q = Dsir.scored(input.toDF().toDF("doc_id", "text"), "text", "doc_id", w)
      .writeStream.format("memory").queryName("dsir_stream")
      .outputMode("append").start()
    val rows = docs.as[(Long, String)].collect()
    rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("dsir_stream")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(streamed.size == batch.size)
    // BIT-identical scores: same weight table, same left-to-right walk
    batch.foreach { case (id, v) =>
      assert(streamed.get(id).contains(v), s"doc $id: batch $v stream ${streamed.get(id)}")
    }
  }

  test("streaming near-dup: duplicates collide in-bucket, TTL forgets old buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val other = "completely different words about spark shuffles and columnar scans here"
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingOps.nearDupCollisions(docs, "text", "doc_id", "ts",
        watermark = "0 seconds", ttlMinutes = 60)
      .writeStream.format("memory").queryName("neardup_stream").outputMode("append").start()
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, base),
      (Timestamp.valueOf("2024-01-01 10:00:30"), 2L, other))
    q.processAllAvailable()
    // an exact duplicate of doc 1 inside the TTL: every band collides
    input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 3L, base))
    q.processAllAvailable()
    def dupsOf = spark.table("neardup_stream")
      .select("doc_id", "dup_of").distinct()
      .as[(Long, Long)].collect().toSet
    assert(dupsOf == Set((3L, 1L)), dupsOf)
    // push the watermark far past the TTL: bucket state evicts
    input.addData((Timestamp.valueOf("2024-01-03 00:00:00"), 99L,
      "unrelated sentinel text mentioning parquet footers and window frames only"))
    q.processAllAvailable()
    // the same text again: no collision against the forgotten doc 1...
    input.addData((Timestamp.valueOf("2024-01-03 00:01:00"), 4L, base))
    q.processAllAvailable()
    assert(dupsOf == Set((3L, 1L)), dupsOf)
    // ...but doc 4 now owns the buckets, so the next twin collides with IT
    input.addData((Timestamp.valueOf("2024-01-03 00:02:00"), 5L, base))
    q.processAllAvailable()
    q.stop()
    assert(dupsOf == Set((3L, 1L), (5L, 4L)), dupsOf)
  }

  test("streaming near-dup collisions match batch banding on real documents (sf0.001)") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (bands, rows) = (16, 4)
    // real docs + deterministic exact twins (doc_id + 100000) so the parity
    // set is non-vacuous even if the fixture has no natural near-dups
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val all = docs.unionByName(docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    // deterministic timestamps, one second apart in doc_id order — the whole
    // corpus fits inside one TTL window, so nothing evicts mid-test
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val timed = all.orderBy("doc_id").as[(Long, String)].collect().zipWithIndex
      .map { case ((id, text), i) => (new Timestamp(base + i * 1000L), id, text) }

    val input = MemoryStream[(Timestamp, Long, String)]
    val stream = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingOps.nearDupCollisions(stream, "text", "doc_id", "ts",
        shingleWords = 3, bands = bands, rowsPerBand = rows,
        watermark = "0 seconds", ttlMinutes = 60)
      .writeStream.format("memory").queryName("neardup_parity").outputMode("append").start()
    input.addData(timed.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("neardup_parity")
      .select("doc_id", "dup_of", "band", "bucket")
      .as[(Long, Long, Int, Long)].collect().toSet
    q.stop()

    // batch twin of the streaming semantics, from the SAME banding
    // expressions: per (band, bucket), every doc after the first (by ts,
    // doc_id) collides with that first doc. Staged like the operator —
    // shingles, then signature, then band keys — each computed once per row
    // (localCheckpoint cuts the plan so no optimizer rule can re-inline)
    val timedDf = timed.toSeq.toDF("ts", "doc_id", "text")
    val sigDf = timedDf
      .withColumn("__sh", Dedup.wordShingles(col("text"), 3))
      .select(col("doc_id"), col("ts"),
        graft.functions.SketchFunctions.minhash_sig(col("__sh"), bands * rows).as("__sig"))
      .localCheckpoint()
    val banded = sigDf
      .select(col("doc_id"), col("ts"),
        posexplode(graft.functions.SketchFunctions.band_hashes(col("__sig"), bands, rows)))
      .select(col("pos").cast("int").as("band"), col("col").as("bucket"),
        col("doc_id"), col("ts"))
    val w = Window.partitionBy("band", "bucket").orderBy(col("ts"), col("doc_id"))
    val expected = banded
      .withColumn("first_id", first(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("first_id"))
      .select("doc_id", "first_id", "band", "bucket")
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(streamed == expected,
      s"streamed=${streamed.size} batch=${expected.size} " +
        s"diff=${(streamed diff expected).take(3)} ${(expected diff streamed).take(3)}")

    // recall vs the VERIFIED batch pairs: every minhashLsh pair (threshold
    // est-jaccard, same banding) must land in one streaming collision
    // component — collisions only link to the bucket's first doc, so the
    // pair connects through it rather than directly
    val verified = Dedup.minhashLsh(timedDf, "text", "doc_id",
        shingleWords = 3, bands = bands, rowsPerBand = rows, threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(verified.nonEmpty, "parity fixture produced no verified pairs")
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    streamed.foreach { case (a, b, _, _) => parent(find(a)) = find(b) }
    val missed = verified.filterNot { case (a, b) => find(a) == find(b) }
    assert(missed.isEmpty, s"verified pairs not covered by streaming collisions: ${missed.take(5).toSeq}")
  }

  test("frozen-vocab zipf scoring matches the batch scorer in-stream (sf0.001)") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val vocab = TextAnalysis.zipfVocab(docs, "text", vocabK = 16)
    val input = MemoryStream[(Long, String)]
    val q = TextAnalysis.zipfScoreWithVocab(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id", vocab)
      .writeStream.format("memory").queryName("zipf_stream").outputMode("append").start()
    input.addData(docs.as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.table("zipf_stream")
      .as[(Long, Long, Long, Double)].collect().toSet
    q.stop()
    val batch = TextAnalysis.zipfSurprisal(docs, "text", "doc_id", vocabK = 16)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty && streamed == batch,
      s"stream=${streamed.size} batch=${batch.size} " +
        s"diff=${(streamed diff batch).take(3)} ${(batch diff streamed).take(3)}")
  }

  test("frozen-vocab zipf OOV bit cost comes from K, not the realized vocab size") {
    // the deriving corpus has only 3 distinct tokens but K = 16: the OOV
    // bit cost must be the batch scorer's K-based constant
    // (64 - nlz(16) + 1 = 6), not a vocab.size-based one (which would be
    // 3) — the scorer-divergence case the r7 advice flagged
    import graft.operators.TextAnalysis
    import spark.implicits._
    val corpus = Seq((1L, "aa bb cc aa"), (2L, "aa bb")).toDF("doc_id", "text")
    val scored = Seq((10L, "aa zz yy"), (11L, "bb")).toDF("doc_id", "text")
    val vocab = TextAnalysis.zipfVocab(corpus, "text", vocabK = 16)
    assert(vocab.bits.size == 3 && vocab.k == 16)
    val frozen = TextAnalysis.zipfScoreWithVocab(scored, "text", "doc_id", vocab)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // ranks: aa=1 (1 bit), bb=2 (2 bits), cc=3 (2 bits); OOV = 6 bits
    assert(frozen(10L) == ((3L, 2L, (1.0 + 6.0 + 6.0) / 3.0)), frozen(10L))
    assert(frozen(11L) == ((1L, 0L, 2.0)), frozen(11L))
  }

  test("stateless quality/clean operators compose into streams unchanged") {
    // gopherRules / c4Clean / repetitionNgramFractions are pure
    // projections+filters — they must run inside a streaming query with
    // NO semantic drift vs batch (no state, no watermark needed)
    import graft.operators.TextAnalysis
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(100)
    val rows = docs.as[(Long, String)].collect()

    def streamed(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                 name: String): Array[org.apache.spark.sql.Row] = {
      val in = MemoryStream[(Long, String)]
      val q = f(in.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      in.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val out = spark.table(name).collect()
      q.stop()
      out
    }
    def canon(rs: Array[org.apache.spark.sql.Row]): Set[String] =
      rs.map(_.toSeq.map(String.valueOf).mkString("|")).toSet

    val g = canon(streamed(TextAnalysis.gopherRules(_, "text", "doc_id"), "s_gopher"))
    assert(g == canon(TextAnalysis.gopherRules(docs, "text", "doc_id").collect()) && g.size == 100)
    val c = canon(streamed(TextAnalysis.c4Clean(_, "text", "doc_id"), "s_c4"))
    assert(c == canon(TextAnalysis.c4Clean(docs, "text", "doc_id").collect()))
    val r = canon(streamed(TextAnalysis.repetitionNgramFractions(_, "text", "doc_id"), "s_rep"))
    assert(r == canon(TextAnalysis.repetitionNgramFractions(docs, "text", "doc_id").collect()))
  }

  test("streaming window hits: first claim wins, TTL forgets old windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base  = "a b c d e f g h"
    val other = "q r s t u v w x"
    val input = MemoryStream[(Timestamp, Long, String)]
    val stream = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingOps.duplicatedWindowHits(stream, "text", "doc_id", "ts",
        windowTokens = 3, watermark = "0 seconds", ttlMinutes = 60)
      .writeStream.format("memory").queryName("winhits_ttl").outputMode("append").start()
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, base),
      (Timestamp.valueOf("2024-01-01 10:00:30"), 2L, other))
    q.processAllAvailable()
    // an exact duplicate inside the TTL: every one of its 6 windows hits doc 1
    input.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 3L, base))
    q.processAllAvailable()
    def hits = spark.table("winhits_ttl")
      .select("doc_id", "first_doc_id").distinct()
      .as[(Long, Long)].collect().toSet
    assert(hits == Set((3L, 1L)), hits)
    assert(spark.table("winhits_ttl").count() == 6) // windows 0..5 of doc 3
    // push the watermark far past the TTL: the window state evicts, the
    // same text claims fresh, and the NEXT twin hits the new claimant
    input.addData((Timestamp.valueOf("2024-01-03 00:00:00"), 99L,
      "sentinel words advancing the watermark beyond the ttl boundary now"))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-01-03 00:01:00"), 4L, base))
    q.processAllAvailable()
    assert(hits == Set((3L, 1L)), hits)
    input.addData((Timestamp.valueOf("2024-01-03 00:02:00"), 5L, base))
    q.processAllAvailable()
    q.stop()
    assert(hits == Set((3L, 1L), (5L, 4L)), hits)
  }

  test("streaming window hits match batch substring spans on real documents (sf0.001)") {
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val L = 8
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // one micro-batch, identical timestamps: the stateful sort falls back
    // to (doc_id, pos), exactly the batch operator's canonical choice
    val ts0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val timed = docs.orderBy("doc_id").as[(Long, String)].collect()
      .map { case (id, text) => (ts0, id, text) }
    val input = MemoryStream[(Timestamp, Long, String)]
    val stream = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingOps.duplicatedWindowHits(stream, "text", "doc_id", "ts",
        windowTokens = L, watermark = "0 seconds", ttlMinutes = 60)
      .writeStream.format("memory").queryName("winhits").outputMode("append").start()
    input.addData(timed.toIndexedSeq)
    q.processAllAvailable()
    val hits = spark.table("winhits").select("doc_id", "pos")
      .as[(Long, Int)].collect()
    q.stop()
    // merge hits into per-doc spans (the batch operator's islands stage,
    // in-test over a few hundred rows) and compare with the batch spans
    val streamedSpans = hits.groupBy(_._1).flatMap { case (doc, ps) =>
      val sorted = ps.map(_._2).distinct.sorted
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      sorted.foreach { p =>
        val s = p.toLong; val e = p.toLong + L - 1
        if (spans.nonEmpty && s <= spans.last._2 + 1)
          spans(spans.length - 1) = (spans.last._1, math.max(spans.last._2, e), 0L)
        else spans += ((s, e, 0L))
      }
      spans.map(sp => (doc, sp._1, sp._2))
    }.toSet
    val batchSpans = Dedup.exactSubstringSpans(docs, "text", "doc_id", windowTokens = L)
      .select("doc_id", "span_start", "span_end")
      .as[(Long, Long, Long)].collect().toSet
    assert(batchSpans.nonEmpty, "parity fixture produced no duplicated spans")
    assert(streamedSpans == batchSpans,
      s"stream=${streamedSpans.size} batch=${batchSpans.size} " +
        s"diff=${(streamedSpans diff batchSpans).take(3)} ${(batchSpans diff streamedSpans).take(3)}")
  }

  test("streaming dedup drops repeated ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "event_id", "payload")
    val q = StreamingOps.dedupStream(df, "ts", Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a"),
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a-dup"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), 2L, "b"),
    )
    q.processAllAvailable()
    // same id again in a later batch, still inside the watermark: dropped
    input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "a-again"))
    q.processAllAvailable()
    val out = spark.table("dedup_test").select("event_id").as[Long].collect().toSeq.sorted
    q.stop()
    assert(out == Seq(1L, 2L))
  }

  test("watermark drops late data in tumbling aggregate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    // append mode: a window only emits once the watermark passes its end,
    // and rows later than the watermark are dropped
    val q = StreamingOps.hourlyAggregates(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_test").outputMode("append").start()
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:50:00"), "click", 2.0),
    )
    q.processAllAvailable()
    // watermark -> 10:40; this row is 70 min late (ts 09:30 < watermark): dropped
    input.addData((Timestamp.valueOf("2024-01-01 09:30:00"), "click", 100.0))
    q.processAllAvailable()
    // advance watermark past 11:00 so the 10:00 window finalizes
    input.addData((Timestamp.valueOf("2024-01-01 11:30:00"), "view", 1.0))
    q.processAllAvailable()
    val out = spark.table("late_test")
      .select("hour", "event_type", "n", "sum_value").collect()
      .map(x => (x.getTimestamp(0).toString, x.getString(1), x.getLong(2), x.getDouble(3))).toSet
    q.stop()
    // the late 09:30 row must NOT appear (no 09:00 window, sum stays 3.0)
    assert(out == Set(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
  }

  test("near-dup restart with a different stateGroups refuses loudly") {
    // stateGroups is part of the checkpoint layout: the value is persisted
    // in every state row and checked on load, so a mismatched restart must
    // fail with the explanatory message — not silently re-route keys
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ndckpt_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ndout_").toString
    val text = (1 to 30).map(i => s"word$i").mkString(" ")
    val input = MemoryStream[(Timestamp, Long, String)]
    // file sink, not memory: only recovery-capable sinks replay a checkpoint
    def start(groups: Int) = StreamingOps.nearDupCollisions(
        input.toDF().toDF("ts", "doc_id", "text"), "text", "doc_id", "ts",
        watermark = "0 seconds", stateGroups = groups)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start(8)
    input.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, text))
    q1.processAllAvailable()
    q1.stop()
    // restart funneling every key to group 0, which holds groups=8 state
    val q2 = start(1)
    input.addData((Timestamp.valueOf("2024-01-01 10:00:10"), 2L, text))
    val ex = intercept[Exception] { q2.processAllAvailable() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("stateGroups")),
      messages(ex).mkString(" | "))
    q2.stop()
  }

  test("near-dup and window-hit outputs are invariant to the state grouping") {
    // stateGroups is a STORAGE layout, never semantics: any value must
    // produce the identical collision/hit set (the degenerate 1-group case
    // funnels every key through one state row)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val timed = docs.unionByName(docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .orderBy("doc_id").as[(Long, String)].collect().zipWithIndex
      .map { case ((id, text), i) => (new Timestamp(base + i * 1000L), id, text) }
    def run(groups: Int): Set[(Long, Long, Int, Long)] = {
      val in = MemoryStream[(Timestamp, Long, String)]
      val q = StreamingOps.nearDupCollisions(in.toDF().toDF("ts", "doc_id", "text"),
          "text", "doc_id", "ts", watermark = "0 seconds", stateGroups = groups)
        .writeStream.format("memory").queryName(s"ndg_$groups")
        .outputMode("append").start()
      timed.grouped(300).foreach { c => in.addData(c.toIndexedSeq); q.processAllAvailable() }
      val out = spark.table(s"ndg_$groups")
        .select("doc_id", "dup_of", "band", "bucket")
        .as[(Long, Long, Int, Long)].collect().toSet
      q.stop()
      out
    }
    val a = run(1)
    val b = run(1024)
    assert(a == b && a.nonEmpty, s"1-group=${a.size} 1024-group=${b.size}")
  }

  test("streaming semantic claims: online greedy cover, chain case, TTL re-claim") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // static centroid table: +x and +y cells
    val cents = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)))
      .toDF("cent_id", "cent_vec")
    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val docs = input.toDF().toDF("ts", "doc_id", "vec")
    val q = StreamingOps.semanticClaims(docs, "doc_id", "vec", "ts",
        cents, "cent_id", "cent_vec", threshold = 0.97,
        watermark = "0 seconds", ttlMinutes = 60)
      .writeStream.format("memory").queryName("sem_claims").outputMode("append").start()
    def claims = spark.table("sem_claims")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    // 1 claims +x; 2 (cos ~0.9998 vs 1) duplicates it; 10 claims +y
    input.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, v(1.0, 0.0)),
      (Timestamp.valueOf("2024-01-01 10:00:10"), 2L, v(1.0, 0.02)),
      (Timestamp.valueOf("2024-01-01 10:00:20"), 10L, v(0.0, 1.0)))
    q.processAllAvailable()
    assert(claims == Set((2L, 1L)), claims)
    // CHAIN case (the online-cover semantics this operator documents):
    // 3 is within threshold of the NON-kept 2 but not of kept 1 — since
    // only survivors are compared, 3 claims the cell instead of dropping
    input.addData((Timestamp.valueOf("2024-01-01 10:01:00"), 3L, v(1.0, 0.26)))
    q.processAllAvailable()
    assert(claims == Set((2L, 1L)), claims) // cos(1, 3) ~0.968 < 0.97 -> kept
    // a dup of 3 now attributes to 3 (and NOT to 1)
    input.addData((Timestamp.valueOf("2024-01-01 10:02:00"), 4L, v(1.0, 0.27)))
    q.processAllAvailable()
    assert(claims == Set((2L, 1L), (4L, 3L)), claims)
    // push the watermark far past the TTL with an OBLIQUE vector (cos
    // ~0.707-0.86 vs every survivor — it claims, never collides): the
    // watermark doc itself still sees pre-eviction state, eviction lands
    // on the NEXT batch
    input.addData((Timestamp.valueOf("2024-01-03 00:00:00"), 90L, v(1.0, 1.0)))
    q.processAllAvailable()
    input.addData((Timestamp.valueOf("2024-01-03 00:01:00"), 5L, v(1.0, 0.0)))
    q.processAllAvailable()
    assert(claims == Set((2L, 1L), (4L, 3L)), claims)
    // ...and the next +x twin duplicates the NEW claimant 5
    input.addData((Timestamp.valueOf("2024-01-03 00:02:00"), 6L, v(1.0, 0.01)))
    q.processAllAvailable()
    q.stop()
    assert(claims == Set((2L, 1L), (4L, 3L), (6L, 5L)), claims)
  }

  test("streaming semantic claims match a driver online-greedy mirror (sf0.001)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Similarity}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val t = 0.4
    // the same coarse quantizer the batch family uses, collected once
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
      .localCheckpoint(true)
    val base = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val timed = emb.orderBy("vec_id")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect()
      .zipWithIndex.map { case ((id, vec), i) => (new Timestamp(base + i * 1000L), id, vec) }

    val input = MemoryStream[(Timestamp, Long, Array[Float])]
    val q = StreamingOps.semanticClaims(input.toDF().toDF("ts", "doc_id", "vec"),
        "doc_id", "vec", "ts", cents, "cent_id", "cent_vec", threshold = t,
        watermark = "0 seconds", ttlMinutes = 60)
      .writeStream.format("memory").queryName("sem_parity").outputMode("append").start()
    // two chunks so state round-trips the store between batches
    timed.grouped(250).foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
    val streamed = spark.table("sem_parity")
      .select("doc_id", "dup_of", "cell").as[(Long, Long, Long)].collect().toSet
    q.stop()

    // driver mirror: identical cell assignment (batch ivfAssign over the
    // SAME collected centroids), then the online greedy cover in (ts, id)
    // order with an independent cosine implementation
    val assigned = Similarity.ivfAssign(
        emb.select(col("vec_id").as("id"), col("embedding").cast("array<float>").as("v")),
        "id", "v", cents, "cent_id", "cent_vec")
      .select(col("cell").cast("long"), col("id"), col("v"))
      .as[(Long, Long, Array[Float])].collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { d += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k) }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val expected = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    assigned.groupBy(_._1).foreach { case (cell, members) =>
      val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
      members.sortBy(_._2).foreach { case (_, id, vec) =>
        val hit = kept.filter { case (_, kv) => cos(vec, kv) >= t }
          .sortBy(_._1).headOption
        hit match {
          case Some((kid, _)) => expected += ((id, kid, cell))
          case None           => kept += ((id, vec))
        }
      }
    }
    assert(streamed == expected.toSet,
      s"streamed=${streamed.size} expected=${expected.size} " +
        s"diff=${(streamed diff expected.toSet).take(3)} ${(expected.toSet diff streamed).take(3)}")
    assert(streamed.nonEmpty, "fixture should contain semantic dups at t=0.4")
  }

  test("streaming language id: the trained model's decisions match batch bit-for-bit (r12)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextClassifier
    import org.apache.spark.sql.functions.col
    // train on a tiny planted two-language sample (the frozen MODEL is the
    // deployment artifact; scoring is a stateless scan — langIdStruct is
    // its own streaming twin, the qualityFilter precedent)
    val mk = (l: String, words: Seq[String]) => (0 until 30).map(i =>
      (l, (0 until 6).map(j => words((i * (2 * j + 1)) % words.size)).mkString(" ")))
    val sample = (mk("en", Seq("the", "research", "window", "through", "knowledge")) ++
      mk("de", Seq("die", "forschung", "fenster", "wissenschaft", "straße")))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("doc_id", "lang", "text")
    val model = TextClassifier.trainLangId(sample, "text", "lang",
      Seq("en", "de"), dim = 256, n = 3, iters = 20, lr = 2.0)
    val batch = TextClassifier.langIdScore(sample, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), TextClassifier.langIdStruct(col("text"), model).as("s"))
      .select(col("doc_id"), col("s.lang").as("lang"), col("s.margin").as("margin"))
      .writeStream.format("memory").queryName("langid_stream")
      .outputMode("append").start()
    val rows = sample.select("doc_id", "text").as[(Long, String)].collect()
    rows.grouped(20).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("langid_stream")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(streamed.size == batch.size)
    batch.foreach { case (id, (lang, margin)) =>
      assert(streamed(id) == ((lang, margin)), s"doc $id: $lang/$margin vs ${streamed(id)}")
    }
  }
  test("streaming vector ingest: foreachBatch appends equal a one-shot index build (r14)") {
    // the streaming-ingest pattern for the persisted IVF-PQ store: a
    // micro-batched stream appends deltas under the frozen build-time
    // model via foreachBatch (skipping empty micro-batches — an empty
    // append is a loud no-op by contract); the resulting store searches
    // bit-identically to a one-shot build of the full corpus trained on
    // the same seed sample
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.AnnIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seed = emb.filter(col("vec_id") < 100)
    val dirS = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    val dirO = java.nio.file.Files.createTempDirectory("graft_ann_onesh").toString
    AnnIndex.annIndexBuild(seed, "vec_id", "embedding", dirS,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1)
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          AnnIndex.annIndexAppend(spark, dirS, batch, "vec_id", "embedding")
      }.start()
    val rest = emb.filter(col("vec_id") >= 100)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    rest.grouped(150).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    AnnIndex.annIndexBuild(emb, "vec_id", "embedding", dirO,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, train = Some(seed))
    val battery = emb.filter(col("vec_id") < 3)
    def rows(dir: String) = AnnIndex.annSearchIndexed(spark, dir, battery,
        "vec_id", "embedding", k = 10, nProbe = 4, refine = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(rows(dirS) == rows(dirO))
  }
  test("streaming posting ingest: foreachBatch appends equal a one-shot index build (r15)") {
    // the bm25 twin of the vector-ingest pattern below: a micro-batched
    // document stream appends posting deltas via foreachBatch (skipping
    // empty micro-batches — an empty append is a loud no-op by
    // contract); the resulting store must hold the SAME postings and
    // search bit-identically to a one-shot build of the full corpus
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.KeywordSearch
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val seed = docs.filter(col("doc_id") < 100)
    val dirS = java.nio.file.Files.createTempDirectory("graft_bm25_stream").toString
    val dirO = java.nio.file.Files.createTempDirectory("graft_bm25_onesh").toString
    KeywordSearch.bm25IndexBuild(seed, "text", "doc_id", dirS, overwrite = true)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          KeywordSearch.bm25IndexAppend(spark, dirS, batch, "text", "doc_id")
      }.start()
    val rest = docs.filter(col("doc_id") >= 100).as[(Long, String)].collect()
    rest.grouped(150).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dirO, overwrite = true)
    // same postings (the store's content plane, batch layout aside)...
    def postings(dir: String): Set[(String, Long, Long, Long)] = {
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "meta.json")), "UTF-8")
      val b = """"batches": (\d+)""".r.findFirstMatchIn(meta).get.group(1).toInt
      spark.read.parquet((0 until b).map(i => s"$dir/postings/b$i"): _*)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    assert(postings(dirS) == postings(dirO))
    // ...and bit-identical search, score doubles included
    val battery = Seq(("q1", "spark hash join"), ("q2", "fast table scan"))
      .toDF("qid", "qtext")
    def rows(dir: String) = KeywordSearch.bm25SearchIndexed(
        spark, dir, battery, "qid", "qtext", k = 10)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getLong(4),
        r.getLong(5))).toSet
    assert(rows(dirS) == rows(dirO))
  }

  test("streaming phrase scoring: batch parity against a frozen PhraseModel (r15)") {
    // bm25PhraseScore is stateless (row-local PhraseCount kernel +
    // literal arithmetic; the frozen model rides the plan), so the same
    // call over a MemoryStream must emit byte-identical scored rows
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.KeywordSearch
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_phstream").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir,
      overwrite = true, positions = true)
    val model = KeywordSearch.bm25PhraseModelFromIndex(spark, dir,
      Seq(("p1", "hash join"), ("p2", "table scan")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3),
        r.getLong(4))).toSet
    val batch = rows(KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model))
    assert(batch.nonEmpty)
    val input = MemoryStream[(Long, String)]
    val q = KeywordSearch
      .bm25PhraseScore(input.toDF().toDF("doc_id", "text"), "text", "doc_id", model)
      .writeStream.format("memory").queryName("phrase_stream")
      .outputMode("append").start()
    val data = docs.as[(Long, String)].collect()
    data.grouped(math.max(1, data.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(rows(spark.table("phrase_stream")) == batch)
  }

  test("streaming battery-as-data phrase scoring: batch parity (r17)") {
    // bm25PhraseScoreBatch is stateless like the per-phrase scorer (one
    // PhraseCountBatch kernel + literal-array id/idf lookup), so the
    // same call over a MemoryStream must emit byte-identical scored rows
    // — and they must also equal the PER-PHRASE scorer's batch output
    // (the decontamination stream can hold thousands of probes in ONE
    // fixed plan)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.KeywordSearch
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_pbstream").toString
    KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", dir,
      overwrite = true, positions = true)
    val model = KeywordSearch.bm25PhraseModelFromIndex(spark, dir,
      Seq(("p1", "hash join"), ("p2", "table scan"), ("p3", "the the")),
      slop = 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3),
        r.getLong(4))).toSet
    val batch = rows(KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id", model))
    assert(batch.nonEmpty)
    assert(batch == rows(KeywordSearch.bm25PhraseScore(docs, "text", "doc_id", model)))
    val input = MemoryStream[(Long, String)]
    val q = KeywordSearch
      .bm25PhraseScoreBatch(input.toDF().toDF("doc_id", "text"), "text", "doc_id", model)
      .writeStream.format("memory").queryName("phrase_batch_stream")
      .outputMode("append").start()
    val data = docs.as[(Long, String)].collect()
    data.grouped(math.max(1, data.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(rows(spark.table("phrase_batch_stream")) == batch)
  }

  test("streaming compression signals: batch parity on real docs via MemoryStream (r14)") {
    // stateless scan kernel (per-thread Deflater) — the same call IS the
    // streaming twin; sizes are runtime-deterministic so exact parity holds
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) -1L // null ratio (empty text) — parity-compare as a sentinel
        else java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val batch = rows(graft.operators.TextAnalysis.compressionSignals(docs, "text", "doc_id"))
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis
      .compressionSignals(input.toDF().toDF("doc_id", "text"), "text", "doc_id")
      .writeStream.format("memory").queryName("compr_stream")
      .outputMode("append").start()
    val data = docs.as[(Long, String)].collect()
    data.grouped(math.max(1, data.length / 3)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(rows(spark.table("compr_stream")) == batch)
  }
}
