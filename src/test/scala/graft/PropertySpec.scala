package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, SkewJoin}
import graft.search.QueryCompiler

/** Property-style laws over driver-side logic and small Spark plans,
  * using scalacheck generators with fixed seeds (no scalatestplus bridge
  * in the dependency set — sampling is explicit and deterministic).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("isPattern: escaping every wildcard makes any string a non-pattern") {
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      val escaped = s.flatMap {
        case c @ ('*' | '?' | '$' | '^') => "\\" + c
        case c                           => c.toString
      }
      assert(!QueryCompiler.isPattern(escaped), s"escaped of ${s.take(30)}")
    }
  }

  test("isPattern: appending an unescaped wildcard always makes a pattern") {
    // (a trailing backslash would escape the appended wildcard — same in the
    // reference's is_pattern, _search.py:19-29)
    val gen = Gen.zip(Gen.asciiPrintableStr.suchThat(s => s.isEmpty || s.last != '\\'),
      Gen.oneOf('*', '?', '$', '^'))
    samples(gen, 200).foreach { case (s, w) =>
      assert(QueryCompiler.isPattern(s + w), s"'$s' + '$w'")
    }
  }

  test("query normalization wraps scalars and preserves lists") {
    val gen = Gen.zip(Gen.alphaNumStr.suchThat(_.nonEmpty), Gen.listOf(Gen.alphaNumStr))
    samples(gen, 100).foreach { case (scalar, list) =>
      val (norm, _) = QueryCompiler.normalize(Map("a" -> scalar, "b" -> list), Seq("a", "b"), None)
      assert(norm("a") == Seq(scalar))
      assert(norm("b") == list)
    }
  }

  test("salted join equals plain join on random small tables") {
    val gen = for {
      l <- Gen.listOfN(30, Gen.zip(Gen.choose(0, 5), Gen.alphaStr.map(_.take(3))))
      r <- Gen.listOfN(20, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100)))
      f <- Gen.choose(1, 6)
    } yield (l, r, f)
    samples(gen, 5).foreach { case (l, r, f) =>
      val left  = l.toDF("k", "lv")
      val right = r.toDF("k", "rv")
      val plain = left.join(right, Seq("k")).groupBy("k").count()
        .collect().map(x => (x.getInt(0), x.getLong(1))).toSet
      val salted = SkewJoin.saltedJoin(left, right, Seq("k"), f).groupBy("k").count()
        .collect().map(x => (x.getInt(0), x.getLong(1))).toSet
      assert(salted == plain, s"saltFactor=$f")
    }
  }

  test("chunking reconstructs the document: strides partition tokens, overlaps agree") {
    val gen = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.identifier.map(_.take(5))))
    val docs = samples(gen, 30).zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    val chunkTokens = 7; val overlap = 3; val stride = chunkTokens - overlap
    val chunks = graft.operators.Chunking
      .chunkDocuments(df, "doc_id", "text", chunkTokens, overlap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val got  = chunks(id)
      // taking the first `stride` tokens of each chunk + the tail of the last
      // chunk reconstructs the document exactly
      val rebuilt = (got.init.flatMap(_.split(" ").filter(_.nonEmpty).take(stride)) ++
        got.last.split(" ").filter(_.nonEmpty)).toSeq
      assert(rebuilt == toks, s"doc $id")
    }
  }

  test("minhash signature is distinct-invariant (multiset == set)") {
    val docs = Seq(
      (1L, "a b c a b c a b c d e f"),
      (2L, "a b c d e f"),
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id", shingleWords = 1, k = 32)
      .orderBy("id").drop("id").collect()
    assert(sigs(0).toSeq == sigs(1).toSeq)
  }

  test("url canonicalization is idempotent on generated crawl urls") {
    // canonical output must be a fixed point: canon(canon(u)) == canon(u)
    val seg   = Gen.identifier.map(_.take(6))
    val param = for { k <- seg; v <- seg } yield s"$k=$v"
    val urlGen = for {
      scheme <- Gen.oneOf("http", "https", "HTTP")
      host   <- seg.map(h => s"$h.Example.COM")
      port   <- Gen.oneOf("", ":80", ":443", ":8080")
      path   <- Gen.listOfN(2, seg).map(_.mkString("/", "/", ""))
      slash  <- Gen.oneOf("", "/", "//")
      ps     <- Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, param))
      track  <- Gen.oneOf("", "&utm_source=x", "&gclid=1")
      frag   <- Gen.oneOf("", "#sec", "#a?b=1")
    } yield s"$scheme://$host$port$path$slash" +
      (if (ps.nonEmpty || track.nonEmpty) s"?${ps.mkString("&")}$track" else "") + frag
    val urls = samples(urlGen, 150)
    val once = urls.toDF("url")
      .select(graft.operators.UrlCanon.canonicalizeUrl(col("url")).as("c1"))
      .withColumn("c2", graft.operators.UrlCanon.canonicalizeUrl(col("c1")))
      .collect().map(r => (r.getString(0), r.getString(1)))
    once.foreach { case (c1, c2) => assert(c1 == c2, s"not a fixed point: '$c1' -> '$c2'") }
  }

  test("exact-substring spans match a brute-force reference on random corpora") {
    // independent reference: enumerate windows, group in a scala Map,
    // min-(doc,pos) canonical, merge adjacent/overlapping — no Spark code
    def reference(docs: Seq[(Long, String)], L: Int): Set[(Long, Long, Long)] = {
      val wins = for {
        (id, text) <- docs
        toks = text.trim.split("\\s+").filter(_.nonEmpty)
        p <- 0 to toks.length - L
      } yield (toks.slice(p, p + L).mkString(" "), id, p)
      val marked = wins.groupBy(_._1).values.filter(_.size > 1).flatMap { g =>
        val canon = g.map(w => (w._2, w._3)).min
        g.filter(w => (w._2, w._3) != canon).map(w => (w._2, w._3))
      }
      marked.groupBy(_._1).flatMap { case (id, ps) =>
        val sorted = ps.map(_._2).toSeq.distinct.sorted
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        sorted.foreach { p =>
          val (s, e) = (p.toLong, p.toLong + L - 1)
          if (spans.nonEmpty && s <= spans.last._2 + 1)
            spans(spans.length - 1) = (spans.last._1, math.max(spans.last._2, e))
          else spans += ((s, e))
        }
        spans.map(sp => (id, sp._1, sp._2))
      }.toSet
    }
    val vocab = Vector("a", "b", "c", "d")
    val docGen = Gen.listOfN(40, Gen.choose(0, vocab.size - 1)).map(_.map(vocab).mkString(" "))
    val corpusGen = Gen.listOfN(12, docGen).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })
    samples(corpusGen, 8).foreach { corpus =>
      val got = graft.operators.Dedup
        .exactSubstringSpans(corpus.toDF("doc_id", "text"), "text", "doc_id", windowTokens = 5)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2, r._3)).toSet
      val want = reference(corpus, 5)
      assert(got == want,
        s"got=${got.size} want=${want.size} diff=${(got diff want).take(3)} ${(want diff got).take(3)}")
    }
  }

  test("transposed zarr stores round-trip for random shapes, chunks, and permutations") {
    // the decode plane's permuted-stride branch vs an independent scala
    // reference: random 2-4 dim arrays, random chunk grids (edge chunks
    // included), random non-trivial permutations — every element must land
    // on its logical coordinate exactly once
    val caseGen = for {
      rank   <- Gen.choose(2, 4)
      shape  <- Gen.listOfN(rank, Gen.choose(1, 5))
      chunks <- Gen.sequence[List[Int], Int](shape.map(s => Gen.choose(1, s)))
      perm   <- Gen.const(scala.util.Random.javaRandomToRandom(
        new java.util.Random(shape.hashCode.toLong)).shuffle((0 until rank).toList))
    } yield (shape.map(_.toLong), chunks.map(_.toLong), perm.map(_.toLong))
    samples(caseGen, 12).zipWithIndex.foreach { case ((shape, chunks, perm), ci) =>
      val rank = shape.length
      val dir = java.nio.file.Files.createTempDirectory(s"graft_permprop_$ci")
      try {
        java.nio.file.Files.writeString(dir.resolve("zarr.json"),
          """{"zarr_format": 3, "node_type": "group"}""")
        java.nio.file.Files.createDirectories(dir.resolve("v"))
        java.nio.file.Files.writeString(dir.resolve("v/zarr.json"),
          s"""{"zarr_format": 3, "node_type": "array", "shape": [${shape.mkString(", ")}],
             | "data_type": "int32",
             | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [${chunks.mkString(", ")}]}},
             | "codecs": [{"name": "transpose", "configuration": {"order": [${perm.mkString(", ")}]}},
             |            {"name": "bytes", "configuration": {"endian": "little"}}]}""".stripMargin)
        // value = dot-encoded logical coordinate; written per chunk in the
        // STORED order: iterate stored axes (logical dims perm(k)) C-major
        def encode(coord: Seq[Long]): Int =
          coord.zipWithIndex.map { case (c, d) => c.toInt * math.pow(10, rank - 1 - d).toInt }.sum
        val grid = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
        def cartesian(dims: Seq[Long]): Seq[Seq[Long]] =
          dims.foldLeft(Seq(Seq.empty[Long])) { (acc, n) =>
            acc.flatMap(p => (0L until n).map(p :+ _))
          }
        cartesian(grid).foreach { g =>
          val storedChunks = perm.map(p => chunks(p.toInt))
          val bb = java.nio.ByteBuffer.allocate((chunks.product * 4).toInt)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          cartesian(storedChunks).foreach { storedLocal =>
            // stored axis k holds logical dim perm(k)
            val local = new Array[Long](rank)
            storedLocal.zipWithIndex.foreach { case (c, k) => local(perm(k).toInt) = c }
            val coord = local.toSeq.zipWithIndex.map { case (l, d) => g(d) * chunks(d) + l }
            // padding elements (outside shape) carry a sentinel; the plane
            // must DROP them, so any sentinel in the output is a failure
            bb.putInt(if (coord.zip(shape).forall { case (c, s) => c < s }) encode(coord)
                      else -99999)
          }
          val key = g.mkString("/")
          val f = dir.resolve(s"v/c/$key")
          java.nio.file.Files.createDirectories(f.getParent)
          java.nio.file.Files.write(f, bb.array())
        }
        val entries = graft.sources.ZarrDirectoryIndex.read(spark, dir.toString)
        val rows = graft.sources.KerchunkIndex.decodeCoords(
          graft.sources.KerchunkIndex.materializeChunks(entries),
          graft.sources.KerchunkIndex.arrayMeta(entries),
          graft.sources.KerchunkIndex.attrDims(entries)).collect()
        val got = rows.map(r => r.getAs[scala.collection.Seq[Long]]("coords").toList ->
          r.getAs[Double]("value")).toMap
        assert(got.size == shape.product,
          s"case $ci shape=$shape chunks=$chunks perm=$perm: ${got.size} rows")
        cartesian(shape).foreach { coord =>
          assert(got(coord.toList) == encode(coord),
            s"case $ci shape=$shape chunks=$chunks perm=$perm coord=$coord")
        }
      } finally {
        java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      }
    }
  }

  test("RepetitionStats kernel matches a naive reimplementation on random docs") {
    // small alphabet forces plenty of repeated n-grams
    val tokGen = Gen.oneOf("a", "b", "c", "ab", "x")
    val docGen = Gen.chooseNum(0, 40).flatMap(k => Gen.listOfN(k, tokGen))
    samples(docGen, 150).zipWithIndex.foreach { case (toks, i) =>
      val n = 2 + i % 3 // n in 2..4
      def naive(ts: List[String]): (Long, Long, Long, Long) = {
        val total = ts.map(_.length).sum.toLong + math.max(0, ts.length - 1)
        val grams = ts.sliding(n).filter(_.length == n).map(_.mkString(" ")).toList
        if (grams.isEmpty) (total, 0L, 0L, 0L)
        else {
          val counts = grams.groupBy(identity).view.mapValues(_.size).toMap
          val (topG, topC) = counts.toSeq.minBy { case (g, c) => (-c, g) }
          val covered = Array.fill(ts.length)(false)
          grams.zipWithIndex.foreach { case (g, w) =>
            if (counts(g) >= 2) (0 until n).foreach(j => covered(w + j) = true)
          }
          var dup = 0L
          ts.indices.foreach { j =>
            if (covered(j)) {
              dup += ts(j).length
              if (j + 1 < ts.length && covered(j + 1)) dup += 1
            }
          }
          (total, topC.toLong, topC.toLong * topG.length, dup)
        }
      }
      val row = graft.functions.RepetitionStats.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any]), n)
      val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      assert(got == naive(toks), s"case $i n=$n toks=$toks")
    }
  }

  test("FragmentDupStats kernel matches a naive reimplementation on random fragment lists") {
    val fragGen = Gen.oneOf("one", "two", "three", "a longer line", "x")
    val docGen = Gen.chooseNum(0, 25).flatMap(k => Gen.listOfN(k, fragGen))
    samples(docGen, 150).zipWithIndex.foreach { case (frags, i) =>
      val counts = frags.groupBy(identity).view.mapValues(_.size).toMap
      val expect = (
        frags.length.toLong,
        frags.map(_.length).sum.toLong,
        frags.count(f => counts(f) >= 2).toLong,
        frags.filter(f => counts(f) >= 2).map(_.length).sum.toLong)
      val row = graft.functions.FragmentDupStats.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          frags.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any]))
      val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      assert(got == expect, s"case $i frags=$frags")
    }
  }

  test("WindowHashes seeds are independent lanes and match xxhash64 at seed 42") {
    val tokGen = Gen.oneOf("alpha", "beta", "g", "dd")
    val docGen = Gen.chooseNum(2, 20).flatMap(k => Gen.listOfN(k, tokGen))
    samples(docGen, 60).foreach { toks =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any])
      val h42 = graft.functions.WindowHashes.compute(arr, 2, 42L)
      val hG  = graft.functions.WindowHashes.compute(arr, 2, 0x67726166L)
      // seed 42 equals Spark's xxhash64 of the joined window string
      toks.sliding(2).zipWithIndex.foreach { case (w, i) =>
        val s = org.apache.spark.unsafe.types.UTF8String.fromString(w.mkString(" "))
        val exp = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
        assert(h42(i) == exp)
      }
      // lanes disagree somewhere on any non-trivial doc (independence smoke)
      if (toks.distinct.size > 1) assert(!h42.sameElements(hG))
    }
  }

  test("julian calendar kernel matches an independent year-stepping reference") {
    // CfCalendarDate decomposes the day count via 1461-day cycles; this
    // reference walks year by year with the bare leap rule (every 4th
    // year, no century exception) — a different algorithm, so a shared
    // arithmetic slip cannot satisfy both.
    def leap(y: Long) = y % 4 == 0
    def mlen(y: Long) =
      Array(31, if (leap(y)) 29 else 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
    def refJulian(ey: Long, em: Int, ed: Int, offsetDays: Long): String = {
      var days = (0L until ey).map(y => if (leap(y)) 366L else 365L).sum +
        mlen(ey).take(em - 1).map(_.toLong).sum + (ed - 1) + offsetDays
      var year = 0L
      while (days >= (if (leap(year)) 366 else 365)) {
        days -= (if (leap(year)) 366 else 365); year += 1
      }
      var m = 0
      val ml = mlen(year)
      while (days >= ml(m)) { days -= ml(m); m += 1 }
      f"$year%04d-${m + 1}%02d-${days + 1}%02d 00:00:00"
    }
    val gen = for {
      ey <- Gen.chooseNum(1L, 2200L)
      em <- Gen.chooseNum(1, 12)
      ed <- Gen.chooseNum(1, 28)
      off <- Gen.chooseNum(0L, 400000L) // ~1100 years of day offsets
    } yield (ey, em, ed, off)
    samples(gen, 300).foreach { case (ey, em, ed, off) =>
      val got = graft.sources.CfCalendarDate.format(
        f"$ey%04d-$em%02d-$ed%02d", off * 86400.0, "julian")
      assert(got == refJulian(ey, em, ed, off), s"epoch $ey-$em-$ed + $off d")
    }
    // the decisive century case straight out: 1900 IS a julian leap year
    assert(graft.sources.CfCalendarDate.format("1900-01-01", 59 * 86400.0, "julian")
      == "1900-02-29 00:00:00")
  }

  test("PqAdcDirect equals the driver-table PqAdcDot bit-for-bit on random inputs (r14)") {
    // the store search's bit-identity to pqTopK reduces to this law:
    // for ANY (query, codebooks, codes), summing driver-precomputed table
    // entries equals computing the per-subspace dots in-kernel
    val genDims = Gen.zip(Gen.choose(1, 4), Gen.choose(1, 5), Gen.choose(1, 6))
    samples(genDims, 60).foreach { case (m, sd, nCent) =>
      val dim = m * sd
      def f(seed: Int, i: Int): Float =
        (((seed * 1103515245 + i * 12345 + 7) & 0xffff) / 65536.0f) - 0.5f
      val books: Array[Array[Array[Float]]] = Array.tabulate(m)(s0 =>
        Array.tabulate(nCent)(c => Array.tabulate(sd)(i => f(s0 * 31 + c, i))))
      val qv: Array[Float] = Array.tabulate(dim)(i => f(9991, i))
      val codes: Array[Int] = Array.tabulate(m)(s0 => (s0 * 7 + 3) % nCent)
      // driver table: the exact loop pqTopK runs (Similarity.pqAdcTable)
      val table: Array[Array[Double]] = {
        var off = 0
        books.map { book =>
          val t = book.map { cent =>
            var acc = 0.0; var i = 0
            while (i < sd) { acc += qv(off + i).toDouble * cent(i).toDouble; i += 1 }
            acc
          }
          off += sd
          t
        }
      }
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val viaTable = graft.functions.PqAdcDot(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          codes.toSeq, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)), table)
        .score(new GenericArrayData(codes))
      val direct = graft.functions.PqAdcDirect(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          codes.toSeq, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          qv.toSeq, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)), books)
        .score(new GenericArrayData(codes), new GenericArrayData(qv))
      assert(java.lang.Double.doubleToLongBits(viaTable) ==
        java.lang.Double.doubleToLongBits(direct),
        s"m=$m sd=$sd nCent=$nCent: $viaTable vs $direct")
    }
  }

  test("nearest_cells kernel order equals the driver probe loop, zero vectors included (r14)") {
    // the store search forms share one probe rule; this is that rule as a
    // law — kernel selection (cosine desc, NaN→last, lowest-index ties)
    // equals the driver sort with its -2.0 degenerate sentinel
    val gen = Gen.zip(Gen.choose(2, 6), Gen.choose(1, 8), Gen.choose(0, 99))
    samples(gen, 60).foreach { case (dim, nc, seed) =>
      def f(s0: Int, i: Int): Float =
        (((s0 * 48271 + i * 69621 + seed) & 0xffff) / 65536.0f) - 0.5f
      // every third centroid (and seed%5==0 queries) forced to zero norm
      val cents: Array[Array[Float]] = Array.tabulate(nc)(c =>
        if (c % 3 == 2) Array.fill(dim)(0.0f)
        else Array.tabulate(dim)(i => f(c + 1, i)))
      val qv: Array[Float] =
        if (seed % 5 == 0) Array.fill(dim)(0.0f)
        else Array.tabulate(dim)(i => f(7777, i))
      var qn0 = 0.0
      qv.foreach(x => qn0 += x.toDouble * x.toDouble)
      val qNorm = math.sqrt(qn0)
      val driver: Seq[Int] = cents.indices
        .sortBy { c =>
          var dot = 0.0; var cn = 0.0; var i = 0
          while (i < dim) {
            dot += qv(i).toDouble * cents(c)(i).toDouble
            cn += cents(c)(i).toDouble * cents(c)(i).toDouble
            i += 1
          }
          val cos = if (qNorm == 0.0 || cn == 0.0) -2.0 else dot / (qNorm * math.sqrt(cn))
          (-cos, c)
        }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      val kernel = graft.functions.NearestCells(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          qv.toSeq, org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)), cents, nc)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray().toSeq
      assert(kernel == driver, s"dim=$dim nc=$nc seed=$seed")
    }
  }
}
