package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the optimizations the engine is designed
  * around must stay visible in the physical plan. A passing correctness
  * suite with a degraded plan is exactly the regression these catch.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    gates.Gates(name).build(spark, dir).queryExecution.executedPlan.toString

  test("search predicates push into the parquet scan") {
    val p = plan("search_exact")
    assert(p.contains("PushedFilters: [Or(EqualTo(p_brand,Brand#13),EqualTo(p_brand,Brand#42))"),
      p.take(1500))
  }

  test("projection prunes the read schema") {
    val p = plan("project_requested_vars")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double>"),
      p.take(1500))
  }

  test("star join broadcasts every dimension") {
    val p = plan("q_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("require_all_on semi join broadcasts the qualifying-group set") {
    val p = plan("search_require_all_on")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("variable-union outer join is a hash/merge join, never nested-loop") {
    val p = plan("agg_union")
    assert(p.contains("FullOuter"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("range join is an equality join on bins, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("lsh candidate generation never plans a cartesian product") {
    Seq("dedup_minhash_lsh", "dedup_simhash", "ann_lsh_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1500)}")
    }
  }

  test("native vec_cosine appears in the similarity plan (no lambda eval)") {
    val p = plan("embed_cosine_topk")
    assert(p.contains("floatveccosine") || p.contains("FloatVecCosine"), p.take(1500))
    assert(!p.toLowerCase.contains("lambdafunction"), p.take(1500))
  }

  test("minhash runs as ONE object hash aggregate, not a wide flat-agg plan") {
    val p = graft.operators.Dedup
      .minhashSignatures(spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", 3, 128)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(1500))
    assert(p.contains("minhashagg") || p.contains("MinHashAgg"), p.take(1500))
  }

  test("embedding blocked pairs is an equality join on the block key") {
    val p = plan("dedup_embedding")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("embedding LSH near-dup candidates come from an equality join") {
    val p = graft.operators.Dedup
      .embeddingNearDup(spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("ivf assignment is shuffle-free: no join, no window, no row multiplication") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = emb.orderBy("vec_id").limit(16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_vec"))
    val p = graft.operators.Similarity
      .ivfAssign(emb, "vec_id", "embedding", cents, "cent_id", "cent_vec", nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Exchange"), p.take(2000))
    assert(p.contains("nearestcells") || p.contains("NearestCells"), p.take(2000))
  }

  test("similarity top-k prunes map-side through the bounded-heap aggregate") {
    // ann_ivf_topk became a property-verdict row in r11 (its result plan
    // is a LocalTableScan of booleans) — audit the raw IVF pipeline shape
    // directly instead, alongside the still-registered brute-force row.
    // r18: the two-window top-k was replaced by the TopKRows heap — the
    // pin is now (a) a PARTIAL (map-side) heap so the scored volume never
    // exchanges, and (b) no Window sort of the scored rows at all
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ivfPlan = graft.operators.Similarity
      .ivfTopK(emb, "vec_id", "embedding",
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 2), "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 4, kmeansIters = 2)
      .queryExecution.executedPlan.toString
    for ((q, p) <- Seq("embed_cosine_topk" -> plan("embed_cosine_topk"),
                       "ivfTopK" -> ivfPlan)) {
      assert(p.contains("partial_topkrows"), s"$q:\n${p.take(2000)}")
      assert(!p.contains("Window"), s"$q:\n${p.take(2000)}")
    }
  }

  test("combineByCoords scale mode drops the global range sort") {
    import org.apache.spark.sql.functions.col
    val l = spark.read.parquet(s"$dir/lineitem.parquet").filter(col("l_returnflag") === "R")
    val key = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val frames = Seq(
      l.select((key.map(col) :+ col("l_quantity").as("quantity")): _*),
      l.select((key.map(col) :+ col("l_extendedprice").as("extendedprice")): _*))
    val src = graft.catalog.EsmDataSource("k", Nil, "path", None, Nil)
    val pGlobal = src.combineByCoords(frames, key)
      .queryExecution.executedPlan.toString
    val pScale = src.combineByCoords(frames, key, globalSort = false)
      .queryExecution.executedPlan.toString
    // default keeps the reference's total-order contract (range exchange)...
    assert(pGlobal.contains("Exchange rangepartitioning"), pGlobal.take(2000))
    // ...scale mode sorts within partitions only — no extra exchange beyond
    // the variable-merge join's own hash shuffle
    assert(!pScale.contains("Exchange rangepartitioning"), pScale.take(2000))
    assert(pScale.contains("Sort"), pScale.take(2000))
  }

  test("bucketed fact-fact join plans without an exchange on either side") {
    import org.apache.spark.sql.functions.col
    val (lt, ot) = gates.RelationalGates.ensureBucketedTables(spark, dir)
    val joined = spark.table(lt).join(spark.table(ot),
      col("l_orderkey") === col("o_orderkey"))
    assert(!graft.operators.Bucketing.hasShuffle(joined),
      joined.queryExecution.executedPlan.toString.take(2000))
    // and the registered query's only exchange is the post-join aggregation
    val p = plan("q_bucketed_join")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"), p.take(2000))
  }

  test("kerchunk typed decode broadcasts the .zarray metadata join") {
    val idx     = gates.CatalogScanGates.ensureZarrFixture()
    val entries = graft.sources.KerchunkIndex.read(spark, idx)
    val p = graft.sources.KerchunkIndex.decodeTyped(
        graft.sources.KerchunkIndex.materializeChunks(entries),
        graft.sources.KerchunkIndex.arrayMeta(entries))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the decode itself is per-chunk arithmetic — no shuffle beyond the
    // by-url repartition inside materializeChunks
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("labeled-coords decode stays broadcast-only; netcdf plane shares the shape") {
    // decodeCoords adds TWO per-variable metadata joins (shape/chunks +
    // dims) on top of decodeTyped — all broadcasts: the per-value work must
    // stay embarrassingly parallel, with the banded repartition inside
    // materializeChunks as the only exchange
    val idx     = gates.CatalogScanGates.ensureZarrGridFixture()
    val entries = graft.sources.KerchunkIndex.read(spark, idx)
    val p = graft.sources.KerchunkIndex.decodeCoords(
        graft.sources.KerchunkIndex.materializeChunks(entries),
        graft.sources.KerchunkIndex.arrayMeta(entries),
        graft.sources.KerchunkIndex.attrDims(entries))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
    // the netCDF3 plane compiles to the same shape (shared machinery)
    val nc = s"${ReferenceData.sampleData}/cmip/cmip5/output1/NIMR-KMA/HadGEM2-AO/" +
      "rcp85/mon/atmos/Amon/r1i1p1/v20130815/tasmax/" +
      "tasmax_Amon_HadGEM2-AO_rcp85_r1i1p1_200511-200512.nc"
    val nEntries = graft.sources.NetCDF3Index.read(spark, nc)
    val np = graft.sources.KerchunkIndex.decodeCoords(
        graft.sources.KerchunkIndex.materializeChunks(nEntries),
        graft.sources.KerchunkIndex.arrayMeta(nEntries),
        graft.sources.KerchunkIndex.attrDims(nEntries))
      .queryExecution.executedPlan.toString
    assert(np.contains("BroadcastHashJoin") && !np.contains("SortMergeJoin"), np.take(2000))
  }

  test("DAP2 coords decode shares the broadcast-only shape; one exchange for the band fan-out") {
    // the opendap plane reuses the same decode machinery: per-band fetches
    // repartition once (the materialize fan-out), and every metadata join
    // (.zarray shape/chunks + dims) broadcasts — no sort-merge join, no
    // per-value shuffle
    val base    = graft.harness.Dap2Fixture.ensure(spark, dir)
    val entries = graft.sources.Dap2Index.read(spark, base,
      Map(graft.sources.Dap2Index.MaxChunkBytesOption -> "64"))
    val p = graft.sources.KerchunkIndex.decodeCoords(
        graft.sources.Dap2Index.materialize(entries),
        graft.sources.KerchunkIndex.arrayMeta(entries),
        graft.sources.KerchunkIndex.attrDims(entries))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // broadcasts are fine; the only real shuffle is the materialize
    // fan-out's round-robin repartition
    assert("Exchange (hash|range|roundrobin)partitioning".r.findAllIn(p).size <= 1,
      p.take(2000))
  }

  test("pivot compiles to a single aggregate pass (no per-value scans)") {
    val p = plan("q_pivot")
    assert("FileScan".r.findAllIn(p).size == 1, p.take(2000))
  }

  test("decontaminate joins the eval grams by broadcast; train side never shuffles pre-count") {
    // the 100 TB side (train n-grams) must reach its hit-count aggregate
    // through a map-side broadcast join — a shuffled (sort-merge) gram join
    // would move the whole exploded corpus
    val p = plan("pipeline_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(2000))
    // exchanges: eval-gram distinct (small side), the per-doc count, the
    // final presentation sort — nothing else
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("catalog netcdf flagship keeps per-member work parallel: broadcast metadata, banded reads") {
    // the registered gate plans over the reference's cesm1-lens catalog
    ReferenceData.assumePresent(s"${ReferenceData.catalogs}/cesm1-lens-netcdf.json")
    val p = plan("load_catalog_netcdf")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("exact-substring dedup: partial agg on the window key, no nested-loop mark-back") {
    // the duplicate-group aggregate must keep its map-side partial phase
    // (two HashAggregates around one exchange on sh) so each window's
    // occurrences collapse BEFORE the shuffle; the mark-back join must be
    // a hash join (broadcast here; SMJ with AQE skew handling at scale is
    // also fine — never a nested loop)
    val p = plan("dedup_substring")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2500))
    // the span merge is one per-doc window partition — the sort feeding it
    // must be a local sort under a doc_id exchange, not a global sort
    assert(p.contains("Window"), p.take(2500))
    // the shuffled window relation must carry fixed-width 128-bit hash keys
    // (two WindowHashes lanes computed in the scan — the corpus text never
    // enters an exchange), never the L-token window string (~L× the corpus
    // text at scale): the duplicate-group exchange partitions on (h1, h2)
    // and no exchange or aggregate keys on a string column
    assert(p.toLowerCase.contains("windowhashes"), p.take(4000))
    assert("hashpartitioning\\(h1".r.findFirstIn(p).isDefined ||
           "keys=\\[h1".r.findFirstIn(p).isDefined, p.take(4000))
    assert(!"hashpartitioning\\(sh".r.findFirstIn(p).isDefined &&
           !"keys=\\[sh".r.findFirstIn(p).isDefined, p.take(4000))
    // the window-build stage is exchange-free: no lead()-window shuffle of
    // exploded corpus tokens remains (the only exchanges are the hash-key
    // aggregate/join and the per-doc island merge)
    assert(!p.contains("lead("), p.take(4000))
  }

  test("cross-corpus near-dup: band-key equality joins only, no cartesian anywhere") {
    // audit the operator, not the registered query — its presentation
    // localCheckpoint would truncate the visible plan to the final sort
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Dedup.crossNearDup(
        docs.filter(col("doc_id") >= 30), docs.filter(col("doc_id") < 30),
        "text", "doc_id", n = 3, threshold = 0.3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2500))
    // the shingle-set gathers are semi-joins on candidate-touched ids
    assert(p.contains("LeftSemi"), p.take(2500))
  }

  test("zipf surprisal: distributed top-K vocab, broadcast into the token stream") {
    val p = plan("text_zipf_surprisal")
    // the vocab selection must be a TakeOrdered (distributed top-K), never
    // a full global sort of the vocabulary
    assert(p.contains("TakeOrderedAndProject"), p.take(2500))
    // the K-row vocab joins the exploded token stream by broadcast — a
    // shuffled join here would move the whole corpus token stream twice
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2500))
  }

  test("CF decode layers on the chunk plane as broadcast joins, no extra shuffle") {
    // mask/scale/time decode is per-variable metadata over per-row
    // expressions: every metadata join (zarray geometry, dims, CF attrs)
    // must broadcast — a shuffled join would move the whole decoded value
    // stream for a handful of attribute rows
    val p = plan("load_netcdf_cf")
    assert(p.contains("BroadcastHashJoin"), p.take(2500))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2500))
    // the calendar expression stays native (no UDF fallback)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(2500))
  }

  test("incremental semantic: batch assigns in-scan, kept join never cartesian") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val index = graft.operators.Dedup.buildSemanticIndex(
      emb.filter(col("vec_id") < 250), "vec_id", "embedding", threshold = 0.4,
      nCells = 8, kmeansIters = 2)
    val p = graft.operators.Dedup.incrementalSemanticWithIndex(
        emb.filter(col("vec_id") >= 250), index, "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("nearestcells"), p.take(2500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2500))
  }

  test("paragraph dedup: hash-key partial agg, no window sort, no text in the exchange") {
    val p = plan("dedup_paragraphs")
    // canonical pick is a map-side-combined aggregate over the hash keys,
    // never a corpus-wide window sort (a boilerplate paragraph would land
    // in ONE window partition)
    assert(!p.contains("Window"), p.take(2500))
    assert(p.contains("partial_min") || p.contains("HashAggregate"), p.take(2500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2500))
  }

  test("ngramJaccard candidates: one shared cache, no checkpoint scar") {
    // r10: the candidate pair set is scope-persisted, not localCheckpointed
    // — the three consumers (candIds union twice + the pair join) must all
    // read the ONE cached relation, and no lineage-cutting ExistingRDD scan
    // (the checkpoint scar, which loses executor-failure recompute) may
    // remain anywhere in the plan
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Dedup
      .ngramJaccard(docs, "text", "doc_id", threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(p).size >= 3, p.take(3000))
    assert(!p.contains("ExistingRDD"), p.take(3000))
  }

  test("semdedup split round: no Window operator carries an array column") {
    // The r9 judge flag: an oversized cell is a skewed key, and a Window
    // partition (unlike a join) cannot be AQE-skew-split — so the vector
    // payload must never ride through the seed-pick window. The rank runs
    // over a projected (cell, id) pair; seed vectors join back by id.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val assigned = (0L until 100L)
      .map(i => (i, Array.fill(8)((i % 7).toFloat + 1f), "c0"))
      .toDF("id", "__v", "cell")
    val o = Seq(("c0", 5)).toDF("cell", "__k")
    val out = graft.operators.Dedup.splitOversized(assigned, o, 20)
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "seed pick must still rank via a window")
    wins.foreach { w =>
      val arrays = (w.child.output ++ w.windowExpressions.flatMap(_.references))
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty, s"window carries array columns: $arrays")
    }
    // the round itself is still a total reassignment of the oversized cell
    assert(out.count() == 100L)
    assert(out.filter(col("cell").startsWith("c0/")).count() == 100L)
  }

  test("composed quality filter scores all three planes in ONE corpus scan") {
    // classifier + LM census + gopher rules are struct-valued scan
    // expressions: the composition must be a single parquet scan with no
    // joins (the only exchange is the final order-by's range partition)
    val p = plan("pipeline_quality_filter")
    assert(!p.contains("Join"), p.take(2500))
    assert("FileScan".r.findAllIn(p).size == 1, p.take(2500))
  }

  test("semdedup: cell assignment stays in-scan, no cartesian anywhere") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.Dedup
      .semanticDedup(emb, "vec_id", "embedding", threshold = 0.4)
      .queryExecution.executedPlan.toString
    // assignment is the collected-centroid argmax expression inside the
    // scan — never a centroid join or corpus-wide window
    assert(p.toLowerCase.contains("nearestcells"), p.take(2500))
    // the quadratic stage is an equality join on the cluster key only
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2500))
  }

  test("kerchunk combine: data rows re-key through broadcast joins only, no data shuffle") {
    val paths = gates.CatalogScanGates.ensureKerchunkCombineFixture()
    val combined = graft.sources.KerchunkIndex.combineAlong(
      graft.sources.KerchunkIndex.readMany(spark, paths), "time")
    val p = combined.queryExecution.executedPlan.toString
    // the (src, variable) → offset shift map and the path→ordinal map are
    // both broadcast; at a 10,000-file combine the billion entry rows must
    // never ride an exchange for the re-key
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("bm25Batch: no per-query plan branches — the plan is constant in battery size") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def planOf(nq: Int): String = {
      val battery = (0 until nq).map(i => (s"q$i", s"word$i common term"))
        .toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25Batch(
        docs, "text", "doc_id", battery, "qid", "qtext", k = 5)
        .queryExecution.executedPlan.toString
    }
    val p3 = planOf(3)
    // the literal form unions one scored branch per query; the posting
    // form must plan ZERO unions, and the retrieval must read postings
    // from the MATERIALIZED cache (r18: the cache materializes before
    // the retrieval is planned, so its doc_id partitioning elides the
    // pivot reduction's exchange — the materialized AQE subtree prints
    // Final + Initial copies, so a raw FileScan count doubles; pin the
    // cache read plus battery-size invariance of the scan count instead)
    assert(!p3.contains("Union"), p3.take(2500))
    assert(p3.contains("InMemoryTableScan"), p3.take(2500))
    // growing the battery 10× must not grow the plan: same operator tree
    // modulo the battery's LocalTableScan contents
    val p30 = planOf(30)
    assert("FileScan".r.findAllIn(p30).size == "FileScan".r.findAllIn(p3).size,
      p30.take(2500))
    assert("Join".r.findAllIn(p30).size == "Join".r.findAllIn(p3).size, p30.take(2500))
    assert("HashAggregate".r.findAllIn(p30).size == "HashAggregate".r.findAllIn(p3).size)
  }

  test("bm25Batch: adaptive branch pins — TermCounts scan xor explode postings; pivot xor ordered fold (r13)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // physical toString hides aggregate RESULT expressions (the ordered
    // fold wraps collect_list there), so pin against executed + optimized
    // logical text together
    def planOf(battery: org.apache.spark.sql.DataFrame): String = {
      val qe = graft.operators.KeywordSearch.bm25Batch(
        docs, "text", "doc_id", battery, "qid", "qtext", k = 5).queryExecution
      qe.executedPlan.toString + "\n" + qe.optimizedPlan.toString
    }
    // vocabulary within the kernel cap + short probe → ONE codegen'd
    // sparse TermPostings kernel scan builds postings (no token explode,
    // no semi-join) and the score reduction is the pivoted __s<i>
    // HashAggregate
    val small = planOf(Seq(("q1", "word1 common term")).toDF("qid", "qtext"))
    assert(small.toLowerCase.contains("termpostings"), small.take(2500))
    assert(!small.contains("LeftSemi"), small.take(2500))
    // the per-ord pivot survives column pruning as sum(CASE WHEN (ord=i))
    assert(small.contains("CASE WHEN (ord#"), small.take(2500))
    assert(!small.toLowerCase.contains("orderedcontribsum"), small.take(2500))
    // past the ORGANIC 65,536-term kernel cap (r15; was 1,024 with the
    // dense TermCounts kernel) → the kernel is ABSENT and postings build
    // via explode + vocabulary semi-join (the battery stays data, not plan)
    val big = planOf((0 until 65537).map(i => (f"p$i%05d", f"qzxpad$i%05d"))
      .toDF("qid", "qtext"))
    assert(!big.toLowerCase.contains("termpostings"), big.take(2500))
    assert(big.contains("LeftSemi"), big.take(2500))
    // a ≥32-token probe → the pivot is ABSENT and the reduction is the
    // native ordered fold over collect_list
    val widep = planOf(Seq(
      ("qw", Seq.fill(11)("spark hash join").mkString(" "))).toDF("qid", "qtext"))
    assert(widep.toLowerCase.contains("orderedcontribsum"), widep.take(2500))
    assert(!widep.contains("CASE WHEN (ord#"), widep.take(2500))
  }

  test("pii scrub is a pure scan: one kernel expression, zero exchanges, zero joins (r14)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qe = graft.operators.TextAnalysis.piiScan(docs, "text", "doc_id").queryExecution
    val p = qe.executedPlan.toString
    assert(p.toLowerCase.contains("piiscan"), p.take(1500))
    assert(!p.contains("Exchange"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
  }

  test("bm25 indexed search never rescans the corpus; vocab prunes adaptively (r14)") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_paudit").toString
    graft.operators.KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", idx,
      overwrite = true)
    def planOf(battery: org.apache.spark.sql.DataFrame): String = {
      val qe = graft.operators.KeywordSearch.bm25SearchIndexed(spark, idx,
        battery, "qid", "qtext", k = 5).queryExecution
      qe.executedPlan.toString + "\n" + qe.optimizedPlan.toString
    }
    // human-sized battery: zero corpus file sources, no tokenizer kernel,
    // and the vocabulary PUSHES into the posting scan as `term IN (…)` —
    // row-group skipping over the term-sorted layout, no semi-join
    val small = planOf(Seq(("q", "spark hash join")).toDF("qid", "qtext"))
    assert(!small.contains("documents.parquet"), small.take(2500))
    assert(small.contains("/postings/"), small.take(2500))
    assert(!small.toLowerCase.contains("termcounts"), small.take(2500))
    assert(small.contains("PushedFilters: [In(term"), small.take(2500))
    assert(!small.contains("LeftSemi"), small.take(2500))
    // >1024 distinct terms: the vocabulary stays data — semi-join
    val big = planOf((0 until 1025).map(i => (f"p$i%04d", f"qzxpad$i%04d"))
      .toDF("qid", "qtext"))
    assert(big.contains("LeftSemi"), big.take(2500))
    assert(!big.contains("PushedFilters: [In(term"), big.take(2500))
  }

  test("phrase search reads only the positions plane, vocabulary pushed as IN (r15)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_phraudit").toString
    graft.operators.KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", idx,
      overwrite = true, positions = true)
    val qe = graft.operators.KeywordSearch.bm25PhraseTopK(spark, idx,
      Seq(("p", "hash join")), k = 5).queryExecution
    val p = qe.executedPlan.toString
    // zero corpus scans (the store doctrine), no tf-plane read either —
    // a phrase is answered entirely from positions + the docs plane's dl
    assert(!p.contains("documents.parquet"), p.take(3000))
    assert(!p.contains("/postings/"), p.take(3000))
    assert(p.contains("/positions/"), p.take(3000))
    // the phrase vocabulary pushes into the term-sorted positions scan
    assert(p.contains("PushedFilters: [In(term"), p.take(3000))
    // df table rides back as a broadcast, never a corpus-volume shuffle
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("battery-as-data phrase retrieval: ONE positions scan at any battery size (r17)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_pbaudit").toString
    graft.operators.KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", idx,
      overwrite = true, positions = true)
    import spark.implicits._
    def planOf(n: Int): String = {
      val batt = (("p0", "hash join") +:
        (1 until n).map(i => (s"p$i", s"qzx${i}a qzx${i}b"))).toDF("qid", "qtext")
      graft.operators.KeywordSearch.bm25PhraseBatch(spark, idx, batt,
        "qid", "qtext", k = 5).queryExecution.executedPlan.toString
    }
    // NOTE on counting: the persisted occurrence subtree prints once under
    // EACH of its two consumers (the df aggregate and the scoring join),
    // so one physical positions scan displays as exactly 2 plan strings —
    // the pin is that the count is that CONSTANT, independent of battery
    // size, while the per-phrase form's count is linear (2 per phrase).
    def posScans(p: String): Int =
      p.linesIterator.count(l => l.contains("FileScan parquet") && l.contains("/positions/"))
    // small battery: one positions scan plus the tf-plane reads the
    // rarest-term candidate prune needs (df + candidates — position
    // ARRAYS explode only for candidate docs), zero corpus reads, the
    // union vocabulary pushed as `term IN (…)` over the term-sorted layout
    val small = planOf(3)
    assert(posScans(small) == 2, small.take(3000))
    assert(!small.contains("documents.parquet"), small.take(3000))
    assert(small.contains("/postings/"), small.take(3000))
    assert(small.contains("PushedFilters: [In(term"), small.take(3000))
    // past SmallVocabCap distinct terms the vocabulary stays DATA
    // (semi-join) — and the plan still holds exactly ONE positions scan:
    // the battery is data, not plan, at every size
    val big = planOf(700) // 1,399 distinct terms
    assert(posScans(big) == 2, big.take(3000))
    assert(big.contains("LeftSemi"), big.take(3000))
    assert(!big.contains("PushedFilters: [In(term"), big.take(3000))
    // plan size is CONSTANT in battery size — the documented contrast with
    // the per-phrase form, which really does plan one scan branch per
    // phrase (its right trade for driver-sized batteries)
    assert(big.length < small.length * 4,
      s"plan grew with the battery: small=${small.length} big=${big.length}")
    val perPhrase = graft.operators.KeywordSearch.bm25PhraseTopK(spark, idx,
        (0 until 8).map(i => (s"p$i", s"w${i}x w${i}y")), k = 5)
      .queryExecution.executedPlan.toString
    assert(posScans(perPhrase) == 16, perPhrase.take(3000))
  }

  test("battery-as-data phrase scorer: ONE corpus pass at any battery size (r17)") {
    // the batch scorer rides the battery inside ONE PhraseCountBatch
    // expression — one corpus scan, zero unions, no shuffle at all
    // (row-local kernel + literal-array id/idf lookup), the shape that
    // scores a decontamination STREAM against thousands of probes
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_psbaudit").toString
    graft.operators.KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", idx,
      overwrite = true, positions = true)
    def planOf(n: Int): String = {
      val batt = (("p0", "hash join") +:
        (1 until n).map(i => (s"p$i", s"qzx${i}a qzx${i}b")))
      val model = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(
        spark, idx, batt)
      graft.operators.KeywordSearch.bm25PhraseScoreBatch(docs, "text", "doc_id",
        model).queryExecution.executedPlan.toString
    }
    def corpusScans(p: String): Int =
      p.linesIterator.count(l => l.contains("FileScan parquet") &&
        l.contains("documents.parquet"))
    val small = planOf(3)
    val big = planOf(300)
    assert(corpusScans(small) == 1, small.take(3000))
    assert(corpusScans(big) == 1, big.take(3000))
    assert(!big.contains("Union"), big.take(3000))
    assert(!big.contains("Exchange"), big.take(3000))
    // bm25PhraseScore runs the same body: one corpus scan for 8 phrases,
    // not one scan branch per phrase
    val model8 = graft.operators.KeywordSearch.bm25PhraseModelFromIndex(
      spark, idx, (0 until 8).map(i => (s"p$i", s"w${i}x w${i}y")))
    val perPhrase = graft.operators.KeywordSearch.bm25PhraseScore(
      docs, "text", "doc_id", model8).queryExecution.executedPlan.toString
    assert(corpusScans(perPhrase) == 1, perPhrase.take(3000))
  }

  test("ann index probes prune store partitions; ADC candidates never read vec (r14)") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_paudit").toString
    graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", idx,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, overwrite = true)
    val p = graft.operators.AnnIndex.annSearchIndexed(spark, idx,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 2),
        "vec_id", "embedding", k = 5, nProbe = 4, refine = 4)
      .queryExecution.executedPlan.toString
    // probed cells land as PartitionFilters — the scan skips the other
    // cell= directories without opening a file
    assert("""PartitionFilters: \[cell#\d+ IN \(""".r.findFirstIn(p).isDefined,
      p.take(2500))
    // the ADC candidate scan is column-pruned to (id, codes, vnorm): the
    // raw vec bytes are read only by the short-list re-rank scan
    assert(p.contains("ReadSchema: struct<id:bigint,codes:array<int>,vnorm:double>"),
      p.take(2500))
    assert(p.contains("ReadSchema: struct<id:bigint,vec:array<float>>"),
      p.take(2500))
    // FILTERED search (r16): the predicate composes with — never replaces
    // — the probed-cell PartitionFilters, and a plain id predicate pushes
    // into the scan itself
    val pf = graft.operators.AnnIndex.annSearchIndexed(spark, idx,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 2),
        "vec_id", "embedding", k = 5, nProbe = 4, refine = 4,
        predicate = Some(org.apache.spark.sql.functions.col("id") <= 1000))
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[cell#\d+ IN \(""".r.findFirstIn(pf).isDefined,
      pf.take(2500))
    assert(pf.contains("LessThanOrEqual(id,1000)"), pf.take(2500))
  }

  test("tombstone anti-joins are broadcast; partition pruning and column pruning survive them (r15)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // ann store with deletes: the anti-join must be a BroadcastHashJoin
    // LeftAnti sitting ABOVE the scan — probed-cell PartitionFilters and
    // the (id, codes, vnorm) candidate pruning push through untouched
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val aIdx = java.nio.file.Files.createTempDirectory("graft_ann_tomb").toString
    graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", aIdx,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, overwrite = true)
    graft.operators.AnnIndex.annIndexDelete(spark, aIdx,
      emb.filter(col("vec_id") % 10 === 9).select("vec_id"), "vec_id")
    val ap = graft.operators.AnnIndex.annSearchIndexed(spark, aIdx,
        emb.filter(col("vec_id") < 2), "vec_id", "embedding",
        k = 5, nProbe = 4, refine = 4)
      .queryExecution.executedPlan.toString
    assert("""BroadcastHashJoin.*LeftAnti""".r.findFirstIn(ap).isDefined, ap.take(3000))
    assert(!ap.contains("SortMergeJoin"), ap.take(3000))
    assert("""PartitionFilters: \[cell#\d+ IN \(""".r.findFirstIn(ap).isDefined,
      ap.take(3000))
    assert(ap.contains("ReadSchema: struct<id:bigint,codes:array<int>,vnorm:double>"),
      ap.take(3000))
    // bm25 store with deletes: still zero corpus scans, the pushed-IN
    // vocabulary pruning intact, and the tombstone side broadcast
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bIdx = java.nio.file.Files.createTempDirectory("graft_bm25_tomb").toString
    graft.operators.KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", bIdx,
      overwrite = true)
    graft.operators.KeywordSearch.bm25IndexDelete(spark, bIdx,
      docs.filter(col("doc_id") % 10 === 9).select("doc_id"), "doc_id")
    val bp = graft.operators.KeywordSearch.bm25SearchIndexed(spark, bIdx,
        Seq(("q", "spark hash join")).toDF("qid", "qtext"), "qid", "qtext", k = 5)
      .queryExecution.executedPlan.toString
    assert(!bp.contains("documents.parquet"), bp.take(3000))
    assert(bp.contains("PushedFilters: [In(term"), bp.take(3000))
    assert("""BroadcastHashJoin.*LeftAnti""".r.findFirstIn(bp).isDefined, bp.take(3000))
    assert(!bp.contains("SortMergeJoin"), bp.take(3000))
  }

  test("ann batch search: no per-query plan branches — constant plan in battery size (r14)") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_ann_bataudit").toString
    graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", idx,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, overwrite = true)
    def planOf(nq: Int): String = graft.operators.AnnIndex.annSearchIndexed(
        spark, idx, emb.filter(col("vec_id") < nq), "vec_id", "embedding",
        k = 5, nProbe = 4, refine = 4)
      .queryExecution.executedPlan.toString
    val small = planOf(2)
    val big   = planOf(40)
    // queries stay DATA: no per-query Union fan-out, and the 40-query
    // plan is the 2-query plan modulo the probed-cell literals
    assert(!small.contains("Union"), small.take(2500))
    assert(!big.contains("Union"), big.take(2500))
    def shape(p: String) = ("Scan parquet".r.findAllIn(p).size,
      "Exchange".r.findAllIn(p).size, "Join".r.findAllIn(p).size)
    assert(shape(small) == shape(big), s"${shape(small)} vs ${shape(big)}")
    // ...and both still prune cells statically
    for (p <- Seq(small, big))
      assert("""PartitionFilters: \[cell#\d+ IN \(""".r.findFirstIn(p).isDefined, p.take(2500))
  }

  test("hybrid fusion over the stores keeps both stores' pruning; joins only top-k volume (r16)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bmIdx = java.nio.file.Files.createTempDirectory("graft_hyb_bmaudit").toString
    val annIdx = java.nio.file.Files.createTempDirectory("graft_hyb_annaudit").toString
    graft.operators.KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", bmIdx,
      overwrite = true)
    graft.operators.AnnIndex.annIndexBuild(emb, "vec_id", "embedding", annIdx,
      nCells = 8, m = 8, nCentroids = 8, kmeansIters = 1, overwrite = true)
    val bm = graft.operators.KeywordSearch.bm25SearchIndexed(spark, bmIdx,
        Seq(("q0", "spark hash join"), ("q1", "fast table scan")).toDF("qid", "qtext"),
        "qid", "qtext", k = 5)
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"), col("rank"))
    def fusedPlan(ann: org.apache.spark.sql.DataFrame): String =
      graft.operators.Fusion.rrfFuse(Seq(bm,
          ann.select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))),
          k = 5)
        .queryExecution.executedPlan.toString
    // the production fused shape (the gate's)
    val p = fusedPlan(graft.operators.AnnIndex.annSearchIndexed(spark, annIdx,
      emb.filter(col("vec_id") < 2), "vec_id", "embedding",
      k = 5, nProbe = 4, refine = 4))
    // zero corpus scans anywhere under the fused plan — both sides answer
    // from their stores
    assert(!p.contains("documents.parquet"), p.take(3000))
    // the bm25 store keeps its pushed `term IN (…)` vocabulary pruning...
    assert(p.contains("PushedFilters: [In(term"), p.take(3000))
    // ...and the ann side keeps its probed-cell PartitionFilters and the
    // (id, codes, vnorm) column pruning of its ADC candidate scan
    assert("""PartitionFilters: \[cell#\d+ IN \(""".r.findFirstIn(p).isDefined,
      p.take(3000))
    assert(p.contains("ReadSchema: struct<id:bigint,codes:array<int>,vnorm:double>"),
      p.take(3000))
    // fusion joins only top-k survivor volume: every rrfFuse input is a
    // bounded-heap top-k output (r18: TopKRows replaced the two-window
    // form), so each side of the full-outer join sits above a map-side
    // partial heap that prunes to k BEFORE any exchange
    assert(p.contains("FullOuter"), p.take(3000))
    val localPrunes = """partial_topkrows""".r.findAllIn(p).size
    assert(localPrunes >= 3, // bm25 retrieval top-k + ann shortlist + ann re-rank
      s"expected the sources' map-side partial heap prunes, got $localPrunes\n" + p.take(3000))
  }

  test("GD loop over a did-clustered feature cache: residual groupBy and " +
      "gradient join plan ZERO exchanges; only the fid reduction shuffles (r18)") {
    // the trainer's per-iteration shape (TextClassifier.gdLoop over a
    // clusterByDoc'd cache), reproduced structurally: feats cached
    // hash-partitioned by did, residuals grouped by (did, y), gradients
    // joined back on did and reduced by fid. With the did partitioning
    // visible (materialized cache), the only exchange left is the
    // dim-bounded fid reduction — at ANY spark.sql.shuffle.partitions.
    // Unclustered, both the groupBy and the join exchanged per iteration
    // (×60 iterations ×K classes: the sf0.1 200-partition soak read
    // pipeline_classifier_train at ~15 min from exactly this).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val feats = (0L until 200L).flatMap(d =>
        (0 until 5).map(f => (d, (d % 2).toDouble, f.toInt, 1.0 + f)))
      .toDF("did", "y", "fid", "x")
      .repartition(4, col("did"))
      .persist()
    feats.count() // the planner must SEE hashpartitioning(did)
    try {
      val wLit = lit(Array.fill(8)(0.1))
      val resid = feats
        .groupBy("did", "y")
        .agg(sum(col("x") * element_at(wLit, col("fid") + 1)).as("m"))
        .select(col("did"),
          (lit(1.0) / (lit(1.0) + exp(-(col("m") + 0.0))) - col("y")).as("r"))
        .persist()
      try {
        val grads = resid
          .join(feats, Seq("did"))
          .groupBy("fid").agg(sum(col("x") * col("r")).as("grad"))
        val p = grads.queryExecution.executedPlan.toString
        // REPARTITION_BY_NUM exchanges inside InMemoryRelation subtrees are
        // the already-materialized cache builds (paid once, not per
        // iteration); the LIVE exchanges a loop iteration executes are the
        // ENSURE_REQUIREMENTS ones — exactly one, the fid reduction
        val live = """Exchange hashpartitioning\((\w+)#\d+[^\n]*ENSURE_REQUIREMENTS"""
          .r.findAllMatchIn(p).map(_.group(1)).toSeq
        assert(live == Seq("fid"),
          s"expected ONLY the fid-reduction live exchange, got $live\n" + p.take(3000))
      } finally resid.unpersist(false)
    } finally feats.unpersist(false)
  }

  test("r19 size-gated phrase vote co-partitioning: exchange-free votes above the gate, rows bit-identical") {
    // the r18-rejected doc_id co-partitioning of the phrase posting slice
    // lands size-gated: below spark.graft.phraseVoteCopartitionRows the
    // shipped persist-only shape runs unchanged (both vote reductions
    // exchange); above it the slice re-spreads by doc_id and BOTH vote
    // aggregations ((query,doc,start) then (query,doc)) plan exchange-free
    // under the broadcast battery/positions joins. Forcing the gate to 1
    // row flips the branch on the test corpus; results must not move a bit.
    spark.sharedState.cacheManager.clearCache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft_bm25_votegate").toString
    graft.operators.KeywordSearch.bm25IndexBuild(docs, "text", "doc_id", idx,
      overwrite = true, positions = true)
    import spark.implicits._
    val batt = Seq(("p0", "hash join"), ("p1", "fast table scan"),
      ("p2", "stream window agg")).toDF("qid", "qtext")
    def run(): (Set[Seq[Any]], String) = {
      val df = graft.operators.KeywordSearch.bm25PhraseBatch(
        spark, idx, batt, "qid", "qtext", k = 5)
      val rows = df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
      (rows, df.queryExecution.executedPlan.toString)
    }
    def voteExchanges(p: String): Int =
      """hashpartitioning\(query_id#\d+L?, doc_id#\d+L?(, start#\d+L?)?,"""
        .r.findAllMatchIn(p).size
    val (defRows, defPlan) = run() // default gate: far above this corpus
    assert(voteExchanges(defPlan) > 0,
      "expected the persist-only shape's vote exchanges below the gate\n" + defPlan.take(3000))
    spark.conf.set("spark.graft.phraseVoteCopartitionRows", "1")
    try {
      spark.sharedState.cacheManager.clearCache() // drop the run-1 slice caches
      val (onRows, onPlan) = run()
      assert(onRows == defRows, "co-partitioned rows differ from the persist-only form")
      assert(voteExchanges(onPlan) == 0,
        "vote reductions still exchange above the gate\n" + onPlan.take(3000))
    } finally spark.conf.unset("spark.graft.phraseVoteCopartitionRows")
  }
}
