package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.derived.{DerivedVariable, DerivedVariableRegistry}
import graft.harness.PipelineDemo
import graft.operators.MinimalExploder
import graft.search.QueryCompiler

import Tag._

/** The intake-esm catalog verbs (SURVEY §2 #5-35): the catalog sink, the
  * search algebra, grouping and keys, the explode machinery, entry lookup and
  * asset open, aggregation composition, materialization, derived variables
  * and the tutorial registry. */
object CatalogGates extends GateFamily {

  /** Ad-hoc catalog wrapper over a plain DataFrame (no asset files). */
  private def adhocCatalog(
      s: SparkSession, df: DataFrame,
      groupby: List[String], variableCol: Option[String] = None,
      iterables: Set[String] = Set.empty,
  ): EsmCatalog = {
    val model = EsmCatalogModel(
      esmcatVersion = "0.2.0", id = Some("adhoc"),
      assets = Assets(columnName = "path", format = Some("parquet")),
      aggregationControl = Some(AggregationControl(variableCol.getOrElse(""), groupby, Nil)),
      catalogDict = Some(Nil),
    )
    new EsmCatalog(s, model, df, iterables,
      iterables.map(_ -> CatalogReader.ContainerType.TupleT).toMap)
  }

  // ===== catalog sink (#5) =====

  gate("save_catalog")((s, dir) => {
      val df = T(s, dir, "documents").select("lang", "source").distinct()
        .withColumn("variable", array(col("lang"), col("source")))
      val cat = new EsmCatalog(s,
        EsmCatalogModel(esmcatVersion = "0.2.0", id = Some("rt"),
          assets = Assets(columnName = "path", format = Some("parquet")), catalogDict = Some(Nil)),
        df, Set("variable"), Map("variable" -> CatalogReader.ContainerType.TupleT))
      val outDir   = s"/tmp/graft_save_${tmpToken(dir)}"
      val jsonPath = this.synchronized { CatalogWriter.save(cat, "rt", outDir, "file") }
      val (_, table) = CatalogReader.load(s, jsonPath)
      table.df.select(col("lang"), col("source"), array_join(col("variable"), ",").as("variable_joined"))
        .orderBy("lang", "source")
    },
    oracle = """SELECT lang, source, lang || ',' || source AS variable_joined
        | FROM (SELECT DISTINCT lang, source FROM documents) ORDER BY lang, source""".stripMargin)

  // ===== the search algebra (#6-12, #33) =====

  gate("search_exact")((s, dir) => {
      QueryCompiler.searchWithRequireAllOn(T(s, dir, "part"),
        Map("p_brand" -> Seq("Brand#13", "Brand#42"), "p_size" -> Seq(13, 18, 35)), None)
        .select("p_partkey", "p_brand", "p_size", "p_type").orderBy("p_partkey")
    },
    oracle = """SELECT p_partkey, p_brand, p_size, p_type FROM part
        | WHERE p_brand IN ('Brand#13','Brand#42') AND p_size IN (13, 18, 35) ORDER BY p_partkey""".stripMargin)

  gate("search_regex")((s, dir) => {
      QueryCompiler.searchWithRequireAllOn(T(s, dir, "part"),
        Map("p_type" -> Seq("^ECO.*", ".*DARD$")), None)
        .select("p_partkey", "p_type").orderBy("p_partkey")
    },
    oracle = """SELECT p_partkey, p_type FROM part
        | WHERE regexp_matches(p_type, '^ECO.*') OR regexp_matches(p_type, '.*DARD$')
        | ORDER BY p_partkey""".stripMargin)

  gate("search_null")((s, dir) => {
      val o = T(s, dir, "orders").withColumn("o_pri_null",
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast(StringType))
          .otherwise(col("o_orderpriority")))
      QueryCompiler.search(o, Map("o_pri_null" -> Seq(null)))
        .select("o_orderkey").orderBy("o_orderkey")
    },
    oracle = "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT' ORDER BY o_orderkey")

  gate("search_iterable_membership")((s, dir) => {
      val docs = T(s, dir, "documents").withColumn("tags", array(col("lang"), col("source")))
      QueryCompiler.search(docs, Map("tags" -> Seq("en")), columnsWithIterables = Set("tags"))
        .select("doc_id", "lang", "source").orderBy("doc_id")
    },
    oracle = "SELECT doc_id, lang, source FROM documents WHERE list_contains([lang, source], 'en') ORDER BY doc_id")

  gate("search_empty_query")((s, dir) => {
      QueryCompiler.search(T(s, dir, "part"), Map.empty)
        .select("p_partkey", "p_brand").orderBy("p_partkey")
    },
    oracle = "SELECT p_partkey, p_brand FROM part WHERE 1 = 0 ORDER BY p_partkey")

  gate("search_require_all_on", Headline, Shared, Baseline)((s, dir) => {
      QueryCompiler.searchWithRequireAllOn(T(s, dir, "lineitem"),
        Map("l_returnflag" -> Seq("R", "A")), Some(Seq("l_suppkey")))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    },
    oracle = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_returnflag FROM lineitem
        | WHERE l_returnflag IN ('R','A') AND l_suppkey IN (
        |   SELECT l_suppkey FROM lineitem WHERE l_returnflag IN ('R','A')
        |   GROUP BY l_suppkey HAVING COUNT(DISTINCT l_returnflag) = 2)
        | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)

  gate("search_derived_union", Headline, Shared, Baseline)((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "lang", "source")
      val reg = new DerivedVariableRegistry()
        .register(DerivedVariable("synthetic",
          Map("source" -> Seq("src7"), "lang" -> Seq("en")), identity))
      val cat = new EsmCatalog(s,
        EsmCatalogModel(esmcatVersion = "0.2.0", id = Some("docs"),
          assets = Assets(columnName = "source", format = Some("parquet")),
          aggregationControl = Some(AggregationControl("source", List("lang"), Nil)),
          catalogDict = Some(Nil)),
        docs, Set.empty, Map.empty, reg)
      cat.search(Map("source" -> Seq("src3", "synthetic")))
        .df.select("doc_id", "lang", "source").orderBy("doc_id")
    },
    oracle = """SELECT doc_id, lang, source FROM documents WHERE source = 'src3'
        | UNION
        | SELECT doc_id, lang, source FROM documents WHERE source = 'src7' AND lang = 'en'
        | ORDER BY doc_id""".stripMargin)

  gate("validate_query")((s, dir) => {
      val (norm, _) = QueryCompiler.normalize(
        Map("p_brand" -> "Brand#13", "p_size" -> Seq(1, 2)), T(s, dir, "part").columns.toSeq)
      import s.implicits._
      norm.toSeq.flatMap { case (k, vs) => vs.map(v => (k, v.toString)) }
        .toDF("col_name", "value").orderBy("col_name", "value")
    },
    oracle = """SELECT * FROM (VALUES ('p_brand','Brand#13'), ('p_size','1'), ('p_size','2'))
        | AS t(col_name, value) ORDER BY col_name, value""".stripMargin)

  // ===== grouping, keys, stats (#13-16, #34) =====

  gate("group_keys")((s, dir) => {
      adhocCatalog(s, T(s, dir, "lineitem"), List("l_returnflag", "l_linestatus"))
        .keysInfo.orderBy("key")
    },
    oracle = """SELECT DISTINCT l_returnflag || '.' || l_linestatus AS key, l_returnflag, l_linestatus
        | FROM lineitem ORDER BY key""".stripMargin)

  gate("keys_info")((s, dir) => {
      // all-null groupby attr is pruned (cat.py:26-45); mixed-null would raise
      val li = T(s, dir, "lineitem").withColumn("dcpp_init_year", lit(null).cast(StringType))
      adhocCatalog(s, li, List("l_returnflag", "dcpp_init_year", "l_linestatus"))
        .keysInfo.orderBy("key")
    },
    oracle = """SELECT DISTINCT l_returnflag || '.' || l_linestatus AS key, l_returnflag, l_linestatus
        | FROM lineitem ORDER BY key""".stripMargin)

  gate("unique")((s, dir) => {
      val cat = adhocCatalog(s, T(s, dir, "documents").select("lang", "source"), List("lang"))
      import s.implicits._
      cat.uniqueValues.toSeq.flatMap { case (c, vs) => vs.map(v => (c, v)) }
        .toDF("col_name", "value").orderBy("col_name", "value")
    },
    oracle = """SELECT 'lang' AS col_name, lang AS value FROM (SELECT DISTINCT lang FROM documents)
        | UNION ALL
        | SELECT 'source', source FROM (SELECT DISTINCT source FROM documents)
        | ORDER BY col_name, value""".stripMargin)

  gate("nunique")((s, dir) => {
      val docs = T(s, dir, "documents").select("lang", "source")
        .withColumn("tags", array(col("lang"), col("source")))
      adhocCatalog(s, docs, List("lang"), iterables = Set("tags"))
        .nunique.orderBy("col_name")
    },
    oracle = """SELECT * FROM (
        | SELECT 'lang' AS col_name, COUNT(DISTINCT lang) AS n_unique FROM documents
        | UNION ALL SELECT 'source', COUNT(DISTINCT source) FROM documents
        | UNION ALL SELECT 'tags', COUNT(*) FROM
        |   (SELECT DISTINCT lang FROM documents UNION SELECT DISTINCT source FROM documents)
        |) ORDER BY col_name""".stripMargin)

  gate("repr_stats")((s, dir) => {
      val cat = adhocCatalog(s, T(s, dir, "documents").select("lang", "source"), List("lang", "source"))
      import s.implicits._
      Seq(("n_assets", cat.df.count()), ("n_datasets", cat.length))
        .toDF("stat", "value").orderBy("stat")
    },
    oracle = """SELECT 'n_assets' AS stat, COUNT(*) AS value FROM documents
        | UNION ALL
        | SELECT 'n_datasets', COUNT(*) FROM (SELECT DISTINCT lang, source FROM documents)
        | ORDER BY stat""".stripMargin)

  // ===== explode machinery (#17, #18) =====

  gate("minimal_explode")((s, dir) => {
      val docs = T(s, dir, "documents").select(
        col("doc_id"),
        array(col("lang"), col("source")).as("a"),
        array(col("source"), col("lang")).as("b"),
        array(col("lang")).as("c"))
      MinimalExploder(docs).orderBy("doc_id", "a")
    },
    oracle = """SELECT doc_id, lang AS a, source AS b, lang AS c FROM documents
        | UNION ALL SELECT doc_id, source, lang, lang FROM documents
        | ORDER BY doc_id, a""".stripMargin)

  gate("unpack_iterable_column")((s, dir) => {
      val docs = T(s, dir, "documents")
        .select(col("doc_id"), array(col("lang"), col("source")).as("tag"))
      QueryCompiler.unpackIterableColumn(docs, "tag").orderBy("doc_id", "tag")
    },
    oracle = """SELECT doc_id, lang AS tag FROM documents
        | UNION ALL SELECT doc_id, source FROM documents
        | ORDER BY doc_id, tag""".stripMargin)

  // ===== entry lookup & asset open (#19-24) =====

  gate("getitem_entry")((s, dir) => {
      val cat   = adhocCatalog(s, T(s, dir, "lineitem"), List("l_returnflag", "l_linestatus"))
      val attrs = Seq("l_returnflag", "l_linestatus")
      cat.df.filter(cat.keyColumn(attrs) === lit("R.F"))
        .agg(count(lit(1)).as("n_assets"), dsum(col("l_quantity")).as("sum_qty"))
    },
    oracle = s"""SELECT COUNT(*) AS n_assets, ${dsumSql("l_quantity")} AS sum_qty
         | FROM lineitem WHERE l_returnflag || '.' || l_linestatus = 'R.F'""".stripMargin)

  gate("load_asset")((s, dir) => {
      val src = EsmDataSource("k", Nil, "path", None, Nil)
      src.openAsset(s, s"$dir/supplier.parquet", "parquet")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal").orderBy("s_suppkey")
    },
    oracle = "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey")

  gate("project_requested_vars")((s, dir) => {
      val src = EsmDataSource("k", Nil, "path", None, Nil,
        requestedVariables = Seq("l_quantity", "bogus_var"))
      src.projectRequested(T(s, dir, "lineitem"), coords = lineKey)
        .orderBy(lineKey.map(col): _*)
    },
    oracle = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem
        | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)

  gate("preprocess_hook")((s, dir) => {
      val hook: DataFrame => DataFrame =
        df => df.withColumn("revenue", col("l_extendedprice") * (lit(1) - col("l_discount")))
      val src = EsmDataSource("k", Nil, "path", None, Nil, preprocess = Some(hook))
      src.loadAsset(s, Map("path" -> s"$dir/lineitem.parquet"), "parquet", Nil)
        .select(lineKey.map(col) :+ col("revenue"): _*).orderBy(lineKey.map(col): _*)
    },
    oracle = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_extendedprice * (1 - l_discount) AS revenue
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)

  gate("expand_dims")((s, dir) => {
      val src = EsmDataSource("k", Nil, "path", None,
        Seq(Aggregation(AggregationType.JoinNew, "experiment")))
      src.loadAsset(s, Map("path" -> s"$dir/nation.parquet", "experiment" -> "CTRL"), "parquet", Nil)
        .select("n_nationkey", "n_name", "experiment").orderBy("n_nationkey")
    },
    oracle = "SELECT n_nationkey, n_name, 'CTRL' AS experiment FROM nation ORDER BY n_nationkey")

  gate("update_attrs")((s, _) => {
      val src = EsmDataSource("ocn.20C", Nil, "path", None, Nil)
      import s.implicits._
      src.attrsFor(Map("experiment" -> "20C", "member" -> 5L)).toSeq
        .toDF("attr_key", "attr_value").orderBy("attr_key")
    },
    oracle = """SELECT * FROM (VALUES
        | ('intake_esm_attrs:experiment','20C'),
        | ('intake_esm_attrs:member','5'),
        | ('intake_esm_dataset_key','ocn.20C')
        |) AS t(attr_key, attr_value) ORDER BY attr_key""".stripMargin)

  // ===== aggregation composition (#25-28) =====

  gate("agg_join_new")((s, dir) => {
      val o = T(s, dir, "orders")
      val frames = Seq("O", "F").map(st =>
        o.filter(col("o_orderstatus") === st)
          .select(col("o_orderkey"), lit(st).as("member_id"), col("o_totalprice").as("totalprice")))
      EsmDataSource("k", Nil, "path", None, Nil)
        .combineByCoords(frames, coords = Seq("o_orderkey", "member_id"))
    },
    oracle = """SELECT o_orderkey, o_orderstatus AS member_id, o_totalprice AS totalprice FROM orders
        | WHERE o_orderstatus IN ('O','F') ORDER BY o_orderkey, member_id""".stripMargin)

  gate("agg_join_existing")((s, dir) => {
      val l = T(s, dir, "lineitem")
      val frames = Seq(
        l.filter(year(col("l_shipdate")) <= 1997),
        l.filter(year(col("l_shipdate")) > 1997),
      ).map(_.select(lineKey.map(col) :+ col("l_quantity").as("quantity"): _*))
      EsmDataSource("k", Nil, "path", None, Nil).combineByCoords(frames, coords = lineKey)
    },
    oracle = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity AS quantity
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)

  gate("agg_union", Headline, Shared, Baseline)((s, dir) => {
      val l = T(s, dir, "lineitem")
      val frames = Seq(
        l.select(lineKey.map(col) :+ col("l_quantity").as("quantity"): _*),
        l.select(lineKey.map(col) :+ col("l_extendedprice").as("extendedprice"): _*),
      )
      EsmDataSource("k", Nil, "path", None, Nil).combineByCoords(frames, coords = lineKey)
    },
    oracle = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity AS quantity, l_extendedprice AS extendedprice
        | FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)

  gate("combine_by_coords", Headline, Shared, Baseline)((s, dir) => {
      val l = T(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val frames = for {
        (v, e)   <- Seq("quantity" -> col("l_quantity"), "extendedprice" -> col("l_extendedprice"))
        yearPred <- Seq(year(col("l_shipdate")) <= 1997, year(col("l_shipdate")) > 1997)
      } yield l.filter(yearPred).select(lineKey.map(col) :+ e.as(v): _*)
      EsmDataSource("k", Nil, "path", None, Nil).combineByCoords(frames, coords = lineKey)
    },
    oracle = """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | l_quantity AS quantity, l_extendedprice AS extendedprice
        | FROM lineitem WHERE l_returnflag = 'R'
        | ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin)

  // ===== materialization (#29-31) — real file-backed ESM pipeline =====

  gate("to_dataset_dict", Headline, Shared, Baseline)((s, dir) => PipelineDemo.datasetDictAsFrame(s, dir),
    oracle = """SELECT o_orderstatus AS key, o_orderkey, CAST(year(o_orderdate) AS INT) AS year,
        | o_orderpriority AS member, o_totalprice AS totalprice, o_custkey AS custkey
        | FROM orders WHERE o_orderstatus IN ('O','F')
        |  AND o_orderpriority IN ('1-URGENT','2-HIGH')
        |  AND year(o_orderdate) BETWEEN 1995 AND 1996
        | ORDER BY key, o_orderkey""".stripMargin)

  gate("to_datatree")((s, dir) => {
      val cat  = PipelineDemo.open(s, dir)
      val tree = cat.toDatatree(PipelineDemo.coords, levels = Some(Seq("status")))
      import s.implicits._
      tree.toSeq.sortBy(_._1).map { case (p, d) => (p, d.count()) }
        .toDF("path", "n_rows").orderBy("path")
    },
    oracle = """SELECT '/' || o_orderstatus AS path, COUNT(*) AS n_rows FROM orders
        | WHERE o_orderpriority IN ('1-URGENT','2-HIGH') AND year(o_orderdate) BETWEEN 1995 AND 1996
        | GROUP BY o_orderstatus ORDER BY path""".stripMargin)

  gate("to_dask")((s, dir) => {
      PipelineDemo.open(s, dir).search(Map("status" -> Seq("P")))
        .toDask(PipelineDemo.coords)
        .agg(count(lit(1)).as("n_rows"), dsum(col("totalprice")).as("sum_totalprice"))
    },
    oracle = s"""SELECT COUNT(*) AS n_rows, ${dsumSql("o_totalprice")} AS sum_totalprice FROM orders
         | WHERE o_orderstatus = 'P' AND o_orderpriority IN ('1-URGENT','2-HIGH')
         |  AND year(o_orderdate) BETWEEN 1995 AND 1996""".stripMargin)

  // ===== derived variables (#32) =====

  gate("derived_registry")((s, dir) => {
      val docs = T(s, dir, "documents").select("doc_id", "n_chars")
      val reg = new DerivedVariableRegistry().register(DerivedVariable(
        "n_tokens_est", Map("variable" -> Seq("n_chars")),
        df => df.withColumn("n_tokens_est", floor(col("n_chars") / 5))))
      reg.updateDatasets(Map("d" -> docs), "variable")("d").orderBy("doc_id")
    },
    oracle = """SELECT doc_id, n_chars, CAST(floor(n_chars / 5) AS BIGINT) AS n_tokens_est
        | FROM documents ORDER BY doc_id""".stripMargin)

  // ===== tutorial registry (#35) =====

  gate("tutorial_urls")((s, _) => {
      import s.implicits._
      // reference: intake_esm/tutorial.py:9-13
      Seq(
        ("aws_cesm2_le", "https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CESM2-LENS.json"),
        ("aws_cmip6", "https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CMIP6.json"),
        ("google_cmip6", "https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/GOOGLE-CMIP6.json"),
      ).toDF("name", "url").orderBy("name")
    },
    oracle = """SELECT * FROM (VALUES
        | ('aws_cesm2_le','https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CESM2-LENS.json'),
        | ('aws_cmip6','https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/AWS-CMIP6.json'),
        | ('google_cmip6','https://raw.githubusercontent.com/intake/intake-esm/main/tutorial-catalogs/GOOGLE-CMIP6.json')
        |) AS t(name, url) ORDER BY name""".stripMargin)
}
