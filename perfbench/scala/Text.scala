package perfbench

/** Seeded synthetic text in the shape of the sf0.1 `documents` table:
  * lowercase words joined by single spaces. The head of the vocabulary is
  * the sf0.1 word list; a tail of generated words makes documents distinct
  * enough for dedup and selective enough for BM25. Word ranks follow a
  * Zipf law. */
final class Text(seed: Long, tail: Int = 3000) {
  val vocab: IndexedSeq[String] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    val gen = Iterator.continually {
      val n = 4 + r.nextInt(6)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.filterNot(Text.Head.contains).distinct.take(tail).toIndexedSeq
    Text.Head ++ gen
  }

  private val cdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / (i + 2).toDouble)
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  def word(r: scala.util.Random): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    vocab(math.min(vocab.size - 1, if (i >= 0) i else -i - 1))
  }

  def words(r: scala.util.Random, n: Int): Array[String] = Array.fill(n)(word(r))
}

object Text {
  val Head: IndexedSeq[String] = IndexedSeq(
    "a", "the", "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "vector", "customer",
    "join", "index", "shuffle", "stage", "task", "plan", "cache", "file", "page",
    "block", "record")

  /** Word 3-gram shingle set, as the near-dup stage shingles a document. */
  def shingles(ws: Seq[String], n: Int = 3): Set[String] =
    ws.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size
}
