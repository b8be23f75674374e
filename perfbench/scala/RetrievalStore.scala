package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.operators.{AnnIndex, KeywordSearch}

/** Persisted-store serving: a BM25 store with positions and an ANN store
  * built from a seeded 80% of the documents and vectors, then a closed loop
  * of keyword (`bm25SearchIndexed`), phrase (`bm25PhraseBatch`) and ANN
  * (`annSearchIndexed`) batteries; every cycle of reads ends with three
  * writes: two appends of fresh documents to both stores, then a delete of
  * initial documents from both.
  *
  * Every cycle reads the same (kind, size) slots, so each run has the same
  * mix. Batteries come from a fixed pool per slot; half of the reads (the
  * slots alternate by cycle) repeat a battery this session already ran,
  * the other half run a fresh one, so a per-store reuse cache would serve
  * exactly half of the reads. */
final class RetrievalStore(ctx: Ctx) extends Workload {
  private val nDocs = if (ctx.opts.tiny) 400 else 5000
  private val nInitial = (nDocs * 0.8).toInt
  private val dim = 32
  private val appendSize = if (ctx.opts.tiny) 10 else 50
  private val deleteSize = if (ctx.opts.tiny) 5 else 20
  private val k = 10
  private val annRecallFloor = 0.8
  private val poolPerSlot = 16
  /** (kind, battery size) read slots of one cycle. */
  private val slots = Seq(("kw", 1), ("kw", 20), ("kw", 50), ("phrase", 5), ("ann", 20))

  private val bm25Dir = s"${ctx.scratch}/bm25"
  private val annDir = s"${ctx.scratch}/ann"
  private val inputDir = s"${ctx.inputs}/docs"

  final case class Doc(id: Long, words: Array[String], vec: Array[Float]) {
    def text: String = words.mkString(" ")
    lazy val tf: Map[String, Int] = words.groupBy(identity).view.mapValues(_.length).toMap
  }

  private lazy val text = new Text(ctx.opts.seed)
  private lazy val docs: IndexedSeq[Doc] = {
    val r = new scala.util.Random(ctx.opts.seed * 15485863 + 11)
    val centers = Array.fill(nDocs / 20, dim)(r.nextGaussian().toFloat)
    (0 until nDocs).map { i =>
      val c = centers(r.nextInt(centers.length))
      Doc(i.toLong, text.words(r, 20 + r.nextInt(60)),
        Array.tabulate(dim)(d => c(d) + 0.05f * r.nextGaussian().toFloat))
    }
  }

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("vec", ArrayType(FloatType, containsNull = false))))

  def generate(): Unit = {
    docs
    if (Files.exists(Paths.get(inputDir, "_READY"))) return
    Files.createDirectories(Paths.get(inputDir))
    docs.grouped((nDocs + ctx.opts.cores - 1) / ctx.opts.cores).zipWithIndex.foreach { case (part, i) =>
      ParquetFiles.write(f"$inputDir/part-$i%05d.parquet",
        "message doc { required int64 doc_id; required binary text (STRING); " +
          "required group vec (LIST) { repeated group list { required float element; } } }",
        part.iterator.map(d => Seq(d.id, d.text, d.vec)))
    }
    Files.createFile(Paths.get(inputDir, "_READY"))
  }

  private def frame(ds: Seq[Doc]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    ds.foreach(d => rows.add(Row(d.id, d.text, d.vec.toSeq)))
    ctx.spark.createDataFrame(rows, docSchema)
  }

  private def idFrame(ids: Seq[Long]): DataFrame = {
    import ctx.spark.implicits._
    ids.toDF("doc_id")
  }

  // ------------------------------------------------------------ live state

  /** The benchmark's own record of the live documents: the oracle's truth,
    * with an inverted index (term -> live ids) for the BM25 oracle. */
  private val live = mutable.LinkedHashMap.empty[Long, Doc]
  private val postings = mutable.Map.empty[String, mutable.Set[Long]]
  private var liveTokens = 0L
  private def addLive(d: Doc): Unit = {
    live(d.id) = d; liveTokens += d.words.length
    d.tf.keys.foreach(t => postings.getOrElseUpdate(t, mutable.Set.empty) += d.id)
  }
  private def removeLive(id: Long): Unit = live.remove(id).foreach { d =>
    liveTokens -= d.words.length
    d.tf.keys.foreach(t => postings(t) -= id)
    deleted += id
  }
  private val deleted = mutable.Set.empty[Long]
  private var nextFresh = nInitial

  /** Build both stores over the initial documents. */
  def setup(): Unit = {
    val initial = ctx.spark.read.parquet(inputDir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < nInitial)
    ctx.tracer.span("operators.bm25_build") {
      KeywordSearch.bm25IndexBuild(initial, "text", "doc_id", bm25Dir, overwrite = true, positions = true)
    }
    ctx.tracer.span("operators.ann_build") {
      AnnIndex.annIndexBuild(initial, "doc_id", "vec", annDir, overwrite = true)
    }
    live.clear(); deleted.clear(); postings.clear(); liveTokens = 0L
    docs.take(nInitial).foreach(addLive)
  }

  /** The first battery of every slot, one append and one delete of
    * documents outside the id range of the run. */
  def warmup(): Unit = {
    slots.foreach(slot => read(pools(slot)(0)))
    val warm = docs.take(appendSize).map(d => d.copy(id = d.id + 10L * nDocs))
    write(warm, Nil)
    write(Nil, warm.map(_.id))
  }

  // -------------------------------------------------------------- batteries

  final case class Battery(kind: String, probes: Seq[(String, String)], vecs: Seq[(String, Array[Float])])

  private def battery(kind: String, size: Int, r: scala.util.Random): Battery = {
    val pool = docs.take(nInitial)
    kind match {
      case "kw" => Battery(kind, (0 until size).map(i =>
        s"q$i" -> (0 until 1 + r.nextInt(3)).map(_ => text.vocab(Text.Head.size + r.nextInt(400))).mkString(" ")), Nil)
      case "phrase" => Battery(kind, (0 until size).map { i =>
        val ws = pool(r.nextInt(pool.size)).words
        val len = 2 + r.nextInt(2)
        val at = r.nextInt(ws.length - len + 1)
        s"p$i" -> ws.slice(at, at + len).mkString(" ")
      }, Nil)
      case "ann" => Battery(kind, Nil, (0 until size).map { i =>
        val v = pool(r.nextInt(pool.size)).vec
        s"a$i" -> v.map(x => x + 0.02f * r.nextGaussian().toFloat)
      })
    }
  }

  /** The fixed battery pools, one per slot, from the seed. */
  private lazy val pools: Map[(String, Int), IndexedSeq[Battery]] = {
    val r = new scala.util.Random(ctx.opts.seed * 7 + 5)
    slots.map(s => s -> (0 until poolPerSlot).map(_ => battery(s._1, s._2, r))).toMap
  }


  private def read(b: Battery): Array[Row] = {
    import ctx.spark.implicits._
    b.kind match {
      case "kw" => ctx.tracer.span("operators.bm25_search") {
        ctx.rows(ctx.tracer.built(KeywordSearch.bm25SearchIndexed(ctx.spark, bm25Dir,
          b.probes.toDF("qid", "q"), "qid", "q", k = k)))
      }
      case "phrase" => ctx.tracer.span("operators.bm25_phrase") {
        ctx.rows(ctx.tracer.built(KeywordSearch.bm25PhraseBatch(ctx.spark, bm25Dir,
          b.probes.toDF("qid", "q"), "qid", "q", k = k)))
      }
      case "ann" => ctx.tracer.span("operators.ann_search") {
        ctx.rows(ctx.tracer.built(AnnIndex.annSearchIndexed(ctx.spark, annDir,
          b.vecs.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "v"), "qid", "v", k = k)))
      }
    }
  }

  private def write(add: Seq[Doc], del: Seq[Long]): Unit = {
    if (add.nonEmpty) {
      val f = frame(add)
      ctx.tracer.span("operators.bm25_write")(KeywordSearch.bm25IndexAppend(ctx.spark, bm25Dir, f, "text", "doc_id"))
      ctx.tracer.span("operators.ann_write")(AnnIndex.annIndexAppend(ctx.spark, annDir, f, "doc_id", "vec"))
    }
    if (del.nonEmpty) {
      val f = idFrame(del)
      ctx.tracer.span("operators.bm25_write")(KeywordSearch.bm25IndexDelete(ctx.spark, bm25Dir, f, "doc_id"))
      ctx.tracer.span("operators.ann_write")(AnnIndex.annIndexDelete(ctx.spark, annDir, f, "doc_id"))
    }
  }

  // ---------------------------------------------------------------- oracles

  /** Plain-Scala BM25 over the live documents, every matching document
    * ranked by (score desc, doc_id asc); repeated query terms count once per
    * occurrence, as the store scores them. */
  private def bm25(q: String, k1: Double = 1.2, b: Double = 0.75): Seq[(Long, Double)] = {
    val terms = q.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
    val n = live.size.toDouble
    val avgdl = liveTokens / n
    val hits = terms.distinct.map(t => t -> postings.getOrElse(t, mutable.Set.empty[Long])).toMap
    hits.values.flatten.toSeq.distinct.map { id =>
      val d = live(id)
      val norm = k1 * (1 - b) + k1 * b / avgdl * d.words.length.toDouble
      id -> terms.map { t =>
        val f = d.tf.getOrElse(t, 0).toDouble
        val df = hits(t).size.toDouble
        val idf = StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))
        idf * f * (k1 + 1.0) / (f + norm)
      }.sum
    }.sortBy { case (id, s) => (-s, id) }
  }

  private def checkRead(b: Battery, rows0: Array[Row], sampled: Boolean): Option[String] = {
    // the planted fault (a dropped row) goes to a battery the BM25 oracle checks
    val rows =
      if (ctx.opts.plantFault && !planted && b.kind == "kw" && sampled) { planted = true; rows0.drop(1) }
      else rows0
    val byQuery = rows.groupBy(_.getAs[String]("query_id"))
    val idCol = if (b.kind == "ann") "neighbor_id" else "doc_id"
    val back = rows.map(_.getAs[Long](idCol)).filter(id => deleted(id) || !live.contains(id))
    if (back.nonEmpty) return Some(s"${b.kind} returned deleted or unknown ids ${back.take(5).mkString(",")}")
    b.kind match {
      case "kw" if sampled =>
        b.probes.flatMap { case (qid, q) =>
          val all = bm25(q)
          val want = all.take(k)
          val got = byQuery.getOrElse(qid, Array.empty[Row])
            .sortBy(_.getAs[Int]("rank")).map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
          def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
          // ids may differ only inside a group of (near-)tied scores
          val same = got.size == want.size && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
            close(gs, ws) && (gi == wi || all.count(x => close(x._2, ws)) > 1) }
          if (same) None else Some(s"bm25 '$q': got ${got.take(3)}, want ${want.take(3)}")
        }.headOption
      case "phrase" =>
        b.probes.flatMap { case (qid, q) =>
          val p = q.split(" ").toSeq
          byQuery.getOrElse(qid, Array.empty[Row]).map(_.getAs[Long]("doc_id"))
            .find(id => !live(id).words.toSeq.sliding(p.size).contains(p))
            .map(id => s"phrase '$q' hit doc $id without the phrase")
        }.headOption
      case "ann" =>
        val recalls = b.vecs.map { case (qid, v) =>
          val truth = live.values.toSeq.map(d => d.id -> cosine(v, d.vec))
            .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1).toSet
          byQuery.getOrElse(qid, Array.empty[Row]).count(r => truth(r.getAs[Long]("neighbor_id"))).toDouble / k
        }
        annRecalls ++= recalls
        val mean = recalls.sum / recalls.size
        if (mean >= annRecallFloor) None else Some(f"ann recall@10 $mean%.3f below floor $annRecallFloor")
      case _ => None
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  private val annRecalls = mutable.ArrayBuffer.empty[Double]
  private var planted = false
  private var nCycle = 0
  private var nReads = 0
  private var repeats = 0

  def cycle(): Unit = {
    val r = new scala.util.Random(ctx.opts.seed * 131 + nCycle)
    r.shuffle(slots.zipWithIndex).foreach { case (slot, si) =>
      // batteries 0..nCycle of a slot have run (0 in the warm-up)
      val repeat = (si + nCycle) % 2 == 0
      val i = if (repeat) r.nextInt(nCycle + 1) else nCycle + 1
      if (repeat) repeats += 1
      val b = pools(slot)(i)
      val sampled = nReads % 2 == 0
      nReads += 1
      ctx.op(s"read_${slot._1}", slot._2.toDouble)(read(b))(rows => checkRead(b, rows, sampled))
    }
    // three writes per cycle: two appends of fresh ids, then a delete
    (1 to 2).foreach { _ =>
      val fresh = docs.slice(nextFresh, nextFresh + appendSize)
      nextFresh += appendSize
      ctx.op("write")(write(fresh, Nil))(_ => None)
      fresh.foreach(addLive)
    }
    val victims = r.shuffle(live.keys.filter(_ < nInitial).toSeq).take(deleteSize)
    ctx.op("write")(write(Nil, victims))(_ => None)
    victims.foreach(removeLive)
    nCycle += 1
  }

  override def finish(): Unit = {
    if (annRecalls.nonEmpty) ctx.quality("ann_recall_at_10") = annRecalls.sum / annRecalls.size
    ctx.quality("repeat_share") = repeats.toDouble / math.max(1, nReads)
    val storeBytes = Seq(bm25Dir, annDir).map { d =>
      val s = Files.walk(Paths.get(d))
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally s.close()
    }.sum
    val indexed = (docs.take(nInitial) ++ docs.slice(nInitial, nextFresh))
      .map(d => d.text.getBytes("UTF-8").length + 4L * dim).sum
    ctx.quality("store_bytes_per_input_byte") = storeBytes.toDouble / indexed
    if (nextFresh > nDocs) ctx.fail("ran out of fresh documents to append")
  }

  def setups: Int = 3
  def nominalCycleS: Double = 16.0
  private val readClasses = slots.map(s => s"read_${s._1}").distinct
  def queryClasses: Seq[String] = readClasses
  def loadClasses: Seq[String] = Seq("write")
  /** Probes answered per second of read time. */
  def workPerSecond: Double =
    readClasses.map(ctx.units).sum / (readClasses.flatMap(ctx.latencies.getOrElse(_, Nil)).sum / 1000.0)
  def ownSpans: Set[String] = Set("operators.bm25_search", "operators.bm25_phrase", "operators.ann_search",
    "operators.bm25_write", "operators.ann_write")
}
