package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BpeTokenizer, Chunking, CorpusPipeline}

/** The throughput lane: closed-loop batch passes of
  * `CorpusPipeline.clean` -> `BpeTokenizer.learnVocab`/`encode` ->
  * `Chunking.packSequences` over a corpus split into 4 x cores parquet
  * files, so every core has a scan task.
  *
  * Corpus: distinct base documents plus, at fixed shares, planted exact
  * duplicates, near-duplicates (one word changed, word-3-gram Jaccard
  * >= 0.9 against their base) and low-quality documents (too short, or
  * mostly digits). Copies get larger ids than their base, so the cleaned
  * corpus is the base set plus any near-duplicates the LSH stage missed. */
final class CorpusCuration(ctx: Ctx) extends Workload {
  private val nBase = if (ctx.opts.tiny) 400 else 12000
  private val exactShare = 0.06
  private val nearShare = 0.06
  private val lowShare = 0.04
  private val nFiles = 4 * ctx.opts.cores
  private val dir = s"${ctx.inputs}/corpus"

  final case class Doc(id: Long, text: String, kind: String)

  private lazy val docs: IndexedSeq[Doc] = {
    val r = new scala.util.Random(ctx.opts.seed * 104729 + 3)
    val text = new Text(ctx.opts.seed)
    val base = (0 until nBase).map(i => Doc(i.toLong, text.words(r, 40 + r.nextInt(61)).mkString(" "), "base"))
    val nTotal = (nBase / (1 - exactShare - nearShare - lowShare)).toInt
    var next = nBase.toLong
    def id() = { next += 1; next - 1 }
    val exact = (0 until (nTotal * exactShare).toInt).map(_ => Doc(id(), base(r.nextInt(nBase)).text, "exact"))
    val near = (0 until (nTotal * nearShare).toInt).map { _ =>
      val ws = base(r.nextInt(nBase)).text.split(" ")
      val orig = Text.shingles(ws.toSeq)
      // change one word near the end until the copy is a >= 0.9 near-duplicate
      Iterator.continually {
        val c = ws.clone()
        val pos = ws.length - 1 - r.nextInt(3)
        c(pos) = text.word(r) + "x"
        c
      }.find(c => Text.jaccard(orig, Text.shingles(c.toSeq)) >= 0.9)
        .map(c => Doc(id(), c.mkString(" "), "near")).get
    }
    val low = (0 until (nTotal * lowShare).toInt).map { i =>
      if (i % 2 == 0) Doc(id(), text.words(r, 3 + r.nextInt(5)).mkString(" "), "low")
      else Doc(id(), Array.fill(20 + r.nextInt(20))(r.nextInt(100000).toString).mkString(" "), "low")
    }
    base ++ exact ++ near ++ low
  }

  private lazy val plantedCopies = docs.filter(d => d.kind == "exact" || d.kind == "near").map(_.id).toSet

  def generate(): Unit = {
    docs
    if (Files.exists(Paths.get(dir, "_READY"))) return
    val r = new scala.util.Random(ctx.opts.seed)
    val langs = Seq("en", "de", "fr", "zh")
    val rows = r.shuffle(docs).map(d =>
      Seq(d.id, d.text, langs(r.nextInt(4)), s"src${r.nextInt(8)}", d.text.length.toLong))
    Files.createDirectories(Paths.get(dir))
    rows.grouped((rows.size + nFiles - 1) / nFiles).zipWithIndex.foreach { case (part, i) =>
      ParquetFiles.write(f"$dir/part-$i%05d.parquet",
        "message doc { required int64 doc_id; required binary text (STRING); " +
          "required binary lang (STRING); required binary source (STRING); required int64 n_chars; }",
        part.iterator)
    }
    Files.createFile(Paths.get(dir, "_READY"))
  }

  /** Program-side preparation: a warm-up `CorpusPipeline.clean` over the
    * corpus's first file, its result consumed. */
  def setup(): Unit = ctx.tracer.span("operators.clean") {
    val res = ctx.tracer.built(CorpusPipeline.clean(ctx.spark.read.parquet(f"$dir/part-00000.parquet")))
    consumeSums(res.cleaned, "doc_id", None)
  }

  /** A whole pass over the docs of two residues of `doc_id` mod the file
    * count (about 1/8 of the corpus). */
  def warmup(): Unit =
    pass(ctx.spark.read.parquet(dir).filter(pmod(col("doc_id"), lit(nFiles)) < 2), check = false)

  /** (rows, sum of ids, sum of a long column) of a frame, consumed through
    * `toRdd.foreach`. */
  private def consumeSums(df: DataFrame, idCol: String, longCol: Option[String]): (Long, Long, Long) = {
    val sc = ctx.spark.sparkContext
    val (n, ids, s) = (sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
    val i = df.schema.fieldIndex(idCol)
    val j = longCol.map(df.schema.fieldIndex).getOrElse(-1)
    df.queryExecution.toRdd.foreach { r =>
      n.add(1L); ids.add(r.getLong(i)); if (j >= 0) s.add(r.getLong(j))
    }
    (n.value, ids.value, s.value)
  }

  private var planted = false
  private lazy val byId: Map[Long, Doc] = docs.map(d => d.id -> d).toMap
  private val nearRecallFloor = 0.98

  /** Oracle for a cleaned corpus, from the ids it kept: every base document
    * survives, every exact duplicate and low-quality document is gone, and
    * near-duplicate recall is at least the floor (near-dup candidates come
    * from MinHash LSH, whose detection the library sizes to 98% at the
    * threshold). */
  private def checkClean(kept: Set[Long], consumed: Long): Option[String] = {
    val byKind = kept.toSeq.groupBy(id => byId(id).kind).view.mapValues(_.size).toMap.withDefaultValue(0)
    val nNear = docs.count(_.kind == "near")
    val nearRecall = 1.0 - byKind("near").toDouble / nNear
    ctx.quality("dup_recall") = 1.0 - (byKind("near") + byKind("exact")).toDouble / plantedCopies.size
    if (byKind("base") != nBase) Some(s"clean dropped ${nBase - byKind("base")} distinct base documents")
    else if (byKind("exact") + byKind("low") > 0)
      Some(s"clean kept ${byKind("exact")} exact duplicates and ${byKind("low")} low-quality documents")
    else if (nearRecall < nearRecallFloor) Some(f"near-duplicate recall $nearRecall%.4f below $nearRecallFloor")
    else if (consumed != kept.size) Some(s"clean consumed $consumed rows but kept ${kept.size} ids")
    else None
  }

  private def pass(corpus: DataFrame, check: Boolean): Unit = {
    var kept = Set.empty[Long]
    val cleaned = ctx.op("clean", nBase / (1 - exactShare - nearShare - lowShare)) {
      ctx.tracer.span("operators.clean") {
        val res = ctx.tracer.built(CorpusPipeline.clean(corpus))
        (res.cleaned, consumeSums(res.cleaned, "doc_id", None))
      }
    } { case (df, (n, _, _)) =>
      if (!check) None
      else {
        kept = df.select("doc_id").collect().map(_.getLong(0)).toSet
        if (ctx.opts.plantFault && !planted) { planted = true; kept -= kept.head } // a dropped row
        checkClean(kept, n)
      }
    }
    cleaned.foreach { case (df, _) =>
      val encoded = ctx.op("tokenize_pack") {
        val model = ctx.tracer.span("operators.bpe_learn")(BpeTokenizer.learnVocab(df, "text", 200))
        val enc = ctx.tracer.span("operators.bpe_encode") {
          val e = ctx.tracer.built(BpeTokenizer.encode(df, "text", "doc_id", model))
          consumeSums(e, "id", Some("n_tokens")); e -> model
        }
        val packed = ctx.tracer.span("operators.pack") {
          consumeSums(ctx.tracer.built(Chunking.packSequences(df, "doc_id", "text", "lang", budget = 512)),
            "doc_id", Some("n_tokens"))
        }
        (enc, packed)
      } { case (_, (n, idSum, tokens)) =>
        val wantTokens = kept.toSeq.map(id => byId(id).text.split(" ").length.toLong).sum
        if (!check || (n == kept.size && idSum == kept.sum && tokens == wantTokens)) None
        else Some(s"pack saw $n docs / $tokens tokens, want ${kept.size} / $wantTokens")
      }
      // round trip, outside the timed region: decode(encode(text)) == text
      if (check) encoded.foreach { case ((e, model), _) =>
        val bad = e.join(df.select(col("doc_id").as("id"), col("text")), "id")
          .filter(not(BpeTokenizer.decode(col("token_ids"), model) <=> col("text"))).count()
        if (bad != 0) ctx.fail(s"BPE round trip differs on $bad docs")
      }
    }
  }

  def cycle(): Unit = pass(ctx.spark.read.parquet(dir), check = true)

  def setups: Int = 5
  def nominalCycleS: Double = 9.1
  def queryClasses: Seq[String] = Seq("clean")
  def loadClasses: Seq[String] = Seq("tokenize_pack")
  /** Input docs per pass second, median over passes. */
  def workPerSecond: Double = {
    val perPass = ctx.latencies("clean").zip(ctx.latencies("tokenize_pack")).map { case (a, b) => a + b }
    ctx.units("clean") / ctx.latencies("clean").size / (Main.median(perPass.toSeq) / 1000.0)
  }
  def ownSpans: Set[String] = Set("operators.clean", "operators.bpe_learn", "operators.bpe_encode", "operators.pack")
}
