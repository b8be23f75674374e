package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.derived.DerivedVariableRegistry
import graft.search.QueryCompiler

/** The user-facing datastore — Spark-native equivalent of the reference's
  * `esm_datastore` (intake_esm/core.py:60-922).
  *
  * Holds the descriptor + a single DataFrame plan of the asset table
  * (subsuming the reference's pandas/polars/LazyFrame triple-cache,
  * cat.py:492-579 — one Catalyst plan is all three). A table of at most
  * [[DriverGuard]]'s cap of rows is a local relation
  * ([[CatalogReader.loadTable]]): a search's filters fold over it on the
  * driver, and the group pass and `toDatasetDict`'s record collect take
  * its rows and group them on the driver, with no Spark job. Any other plan
  * (a table above the cap, a derived or require_all_on search result)
  * stays distributed: there nothing collects the table except the
  * declared-attrs group pass (one row per group), `keys` itself, and
  * explicitly-bounded group materialization.
  */
final class EsmCatalog(
    val spark: SparkSession,
    val model: EsmCatalogModel,
    val df: DataFrame,
    val columnsWithIterables: Set[String],
    val iterableDtypes: Map[String, CatalogReader.ContainerType.Value],
    val derivedRegistry: DerivedVariableRegistry = new DerivedVariableRegistry,
    val requestedVariables: Seq[String] = Nil,
    val sep: String = ".",
    val storageOptions: Map[String, String] = Map.empty,
    val descriptorDir: Option[String] = None,
) {
  import CatalogReader.ContainerType
  import EsmCatalog.Grouping

  private def copyWith(
      df: DataFrame = df,
      derivedRegistry: DerivedVariableRegistry = derivedRegistry,
      requestedVariables: Seq[String] = requestedVariables,
  ): EsmCatalog =
    // carries EVERY session-scoped field — notably storageOptions, or a
    // search() result would silently drop the credentials open() was given
    new EsmCatalog(spark, model, df, columnsWithIterables, iterableDtypes, derivedRegistry,
      requestedVariables, sep, storageOptions, descriptorDir)

  // ---------------------------------------------------------------- search

  /** Catalog search with derived-variable union (core.py:400-510).
    *
    * Base search runs the compiled predicate; each *requested derived
    * variable* triggers a re-search with its dependency query merged in;
    * results union and dedupe by stringified-row equality (core.py:490-493).
    */
  def search(query: Map[String, Any], requireAllOn: Option[Seq[String]] = None): EsmCatalog = {
    val (norm, rao) = QueryCompiler.normalize(query, df.columns.toSeq, requireAllOn)
    val varCol      = model.variableColumnName

    val base = runSearch(norm, rao)

    val requestedVars: Seq[Any] = varCol.flatMap(norm.get).getOrElse(Nil)
    val derivedHits = requestedVars.flatMap {
      case s: String => derivedRegistry.get(s)
      case _         => None
    }
    // Per core.py:480-493: a derived variable contributes its frame, its
    // dependents, and its registry entry ONLY when the dependency search
    // returned rows (`if not res.empty`).
    val nonEmptyHits: Seq[(graft.derived.DerivedVariable, DataFrame)] =
      if (derivedHits.isEmpty) Nil
      else {
        val queryMinusVar = norm - varCol.get
        derivedHits.flatMap { dv =>
          val (dvNorm, _) = QueryCompiler.normalize(dv.query, df.columns.toSeq, None)
          val frame = runSearch(dvNorm ++ queryMinusVar, rao) // user query keys win (core.py:480)
          if (frame.isEmpty) None else Some(dv -> frame)
        }
      }
    val result =
      if (nonEmptyHits.isEmpty) base
      else dedupeStringified((base +: nonEmptyHits.map(_._2)).reduce(_ unionByName _))

    val dependents = nonEmptyHits.flatMap { case (dv, _) => varCol.map(dv.dependentVariables).getOrElse(Nil) }
    val newRequested =
      if (hasMultipleVariableAssets)
        (requestedVars.collect { case s: String => s } ++ dependents).distinct
      else Nil
    // subset the derived registry iff variables were looked up, keeping only
    // derived variables whose dependency search hit (core.py:503-509)
    val newRegistry =
      if (varCol.exists(norm.contains))
        derivedRegistry.search(nonEmptyHits.map(_._1.variable))
      else derivedRegistry
    copyWith(df = result, derivedRegistry = newRegistry, requestedVariables = newRequested)
  }

  private def runSearch(norm: QueryCompiler.Query, rao: Option[Seq[String]]): DataFrame = {
    val base = QueryCompiler.search(df, norm, columnsWithIterables)
    rao match {
      case Some(cols) if cols.nonEmpty =>
        QueryCompiler.applyRequireAllOn(base, norm, cols, columnsWithIterables)
      case _ => base
    }
  }

  /** Row-equality after casting every column to string (core.py:493 parity). */
  private def dedupeStringified(d: DataFrame): DataFrame = {
    val strCols = d.columns.map(c => s"__graft_s_$c")
    d.columns.zip(strCols).foldLeft(d) { case (acc, (c, s)) => acc.withColumn(s, col(c).cast(StringType)) }
      .dropDuplicates(strCols.toIndexedSeq)
      .drop(strCols.toIndexedSeq: _*)
  }

  /** `variable` column holds arrays → one asset provides many variables. */
  def hasMultipleVariableAssets: Boolean =
    model.variableColumnName.exists(columnsWithIterables.contains)

  // ------------------------------------------------------------- grouping

  /** Tri-state null check per column (reference `_allnan_or_nonan`,
    * cat.py:26-45): all-null → drop the attr; mixed → error; else keep.
    * `nonNull(c)` counts the rows where `c` has a value, out of `total`. */
  private def pruneNulls(cols: Seq[String], nonNull: String => Long, total: Long): Seq[String] =
    cols.filter { c =>
      val n = nonNull(c)
      if (n == 0L) false
      else if (n < total)
        throw new IllegalArgumentException(
          s"The data in the $c column should either be all NaN or there should be no NaNs")
      else true
    }

  /** [[pruneNulls]] from one global aggregate over `cols` — no rows are
    * collected. The row-sized cases use it, where the group attrs cover
    * every column and a group pass would collect one row per asset:
    * [[rowSizedAttrs]] and `toDatasetDict(aggregate = false)`. */
  private def pruneAllNull(cols: Seq[String]): Seq[String] = {
    if (cols.isEmpty) return cols
    val aggs  = cols.map(c => count(col(c)).as(s"__nn_$c")) :+ count(lit(1)).as("__total")
    val row   = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    pruneNulls(cols, c => row.getAs[Long](s"__nn_$c"), row.getAs[Long]("__total"))
  }

  /** The group pass: each distinct tuple of `cols` cast to string, with its
    * row count — one entry per group. Over a local relation the tuples are
    * counted on the driver; otherwise `groupBy(...).count()` is collected.
    * Every grouping fact derives from these tuples on the driver. A column
    * is all-null when no tuple has a value and mixed when some tuples do, so
    * the null check needs no second aggregate. The attrs it prunes are
    * constant (null), so the tuples are exactly the kept attrs' groups, and
    * their values are what [[keyColumn]] joins. */
  private def groupPass(cols: Seq[String]): Grouping = {
    val n       = cols.size
    val keyCols = cols.map(c => col(c).cast(StringType))
    val tuples: Seq[(Seq[String], Long)] = DriverGuard.localRows(df.select(keyCols: _*)) match {
      case Some(rows) => rows.toSeq.groupMapReduce(r => Seq.tabulate(n)(r.getString))(_ => 1L)(_ + _).toSeq
      case None       => df.groupBy(keyCols: _*).count().collect().toSeq
          .map(r => Seq.tabulate(n)(r.getString) -> r.getLong(n))
    }
    val total = tuples.iterator.map(_._2).sum
    val attrs = pruneNulls(cols,
      c => { val i = cols.indexOf(c); tuples.iterator.filter(_._1(i) != null).map(_._2).sum },
      total)
    val idx = attrs.map(cols.indexOf)
    // one key per distinct joined string: ("a.b","c") and ("a","b.c") are
    // one key, as in the reference's dict (cat.py:378-385); sorted in
    // Spark's string order (UTF-8 bytes), not String.compareTo's UTF-16
    val keys = tuples.map(t => idx.flatMap(i => Option(t._1(i))).mkString(sep)).distinct
      .map(k => UTF8String.fromString(k) -> k).sortWith((a, b) => a._1.compareTo(b._1) < 0).map(_._2)
    Grouping(attrs, keys, total)
  }

  /** Effective groupby attrs, keys and asset count (cat.py:355-385) from
    * ONE group pass over the declared attrs per catalog instance: `df` is
    * immutable per instance, so keys, length, effectiveGroupbyAttrs,
    * reprStats, containsKey and toDatasetDict all read this value. The pass
    * is metadata-sized (one row per dataset), and only this case gains from
    * it. `None` when the declared attrs are none or every column, or are all
    * null in a non-empty table: then the groups are the rows, so
    * [[rowSizedAttrs]] and distributed `count` jobs answer instead, and only
    * `keys` itself collects rows. */
  private lazy val declaredGrouping: Option[Grouping] = {
    val declared = model.groupbyAttrs.filter(df.columns.contains)
    if (declared.isEmpty || declared.toSet == df.columns.toSet) None
    else Some(groupPass(declared)).filter(g => g.attrs.nonEmpty || g.assets == 0L)
  }

  /** The attrs when [[declaredGrouping]] is `None`, by global aggregates:
    * declared attrs that are every column, pruned, unless that leaves none
    * or still every column; else the reference's fallback, every non-null
    * column. (Declared attrs short of every column were pruned to nothing
    * by the group pass already.) */
  private def rowSizedAttrs: Seq[String] = {
    val declared = model.groupbyAttrs.filter(df.columns.contains)
    val kept     = if (declared.toSet == df.columns.toSet) pruneAllNull(declared) else Nil
    if (kept.nonEmpty && kept.toSet != df.columns.toSet) kept
    else pruneAllNull(df.columns.toSeq)
  }

  /** Effective groupby attributes (cat.py:355-376): pruned of all-null
    * columns; fall back to *all* non-null columns when empty or equal to the
    * full column set. LAZY VAL: off the group pass the prune is a full-table
    * aggregate, which every keys/length/getEntry call would otherwise redo. */
  lazy val effectiveGroupbyAttrs: Seq[String] = declaredGrouping.fold(rowSizedAttrs)(_.attrs)

  /** The group key expression: sep-joined stringified attr values
    * (cat.py:378-385). */
  def keyColumn(attrs: Seq[String]): Column =
    concat_ws(sep, attrs.map(a => col(a).cast(StringType)): _*)

  /** keys_info (core.py:183-215): one row per group key + its attr values.
    * Pure `distinct` — scales via shuffle, never collected here. */
  def keysInfo: DataFrame = {
    val attrs = effectiveGroupbyAttrs
    df.select(keyColumn(attrs).as("key") +: attrs.map(col): _*).distinct()
  }

  /** The distinct group keys, as a distributed plan (the row-sized cases). */
  private def distinctKeys: DataFrame =
    df.select(keyColumn(effectiveGroupbyAttrs).as("key")).distinct()

  /** The group keys, each once, in Spark's string order. */
  def keys: Seq[String] = declaredGrouping.fold(
    distinctKeys.orderBy("key").collect().map(_.getString(0)).toSeq)(_.keys)

  def length: Long = declaredGrouping.fold(distinctKeys.count())(_.keys.size.toLong)

  private def assets: Long = declaredGrouping.fold(df.count())(_.assets)

  /** Template used to build entry keys: the `sep`-joined DECLARED groupby
    * attrs, or every column when there is no aggregation control
    * (core.py:217-230). Faithful to the reference, which reports the
    * declared attrs verbatim — actual keys use [[effectiveGroupbyAttrs]]
    * (all-null attrs pruned), so the two can differ for a catalog with an
    * all-null groupby column, exactly as they do in the reference. */
  def keyTemplate: String = {
    val attrs = Option(model.groupbyAttrs).filter(_.nonEmpty)
    attrs.getOrElse(df.columns.toSeq).mkString(sep)
  }

  /** Cache of the most recent materialization, like the reference's
    * `.datasets` attribute (core.py:152, 761): populated by
    * [[toDatasetDict]], empty until the first call. */
  @volatile var datasets: Map[String, DataFrame] = Map.empty

  /** `<id> catalog with N dataset(s) from M asset(s)` (core.py:358-378). */
  def reprStats: String = {
    val id = model.id.getOrElse("catalog")
    s"<$id catalog with $length dataset(s) from $assets asset(s)>"
  }

  private def htmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** Notebook HTML repr (core.py:362-369): the reference's header line
    * (`id or ""` — empty fallback, matching `_repr_html_` exactly; note
    * [[reprStats]] deviates with a "catalog" fallback) plus the per-column
    * distinct-count table. Driver cost is [[nunique]]'s one-row-per-column
    * result — the heavy lifting stays distributed. */
  def reprHtml: String = {
    val rows = nunique.collect().map(r => (r.getString(0), r.getLong(1)))
    val body = rows.map { case (c, n) =>
      s"<tr><th>${htmlEscape(c)}</th><td>$n</td></tr>"
    }.mkString
    s"<p><strong>${htmlEscape(model.id.getOrElse(""))} catalog with $length dataset(s) " +
      s"from $assets asset(s)</strong>:</p>" +
      s"""<table border="1"><thead><tr><th></th><th>unique</th></tr></thead><tbody>$body</tbody></table>"""
  }

  /** Static HTML table of the minimally-exploded catalog rows — the data
    * substance of the reference's itables `interactive` view
    * (core.py:240-267) without the JS widget (a front-end owns the
    * interactivity). Same explode-first rule for the same reason: iterable
    * cells become real rows instead of stringified ellipses. Bounded by
    * `maxRows` before the collect. */
  def interactiveHtml(maxRows: Int = 1000): String = {
    val exploded = graft.operators.MinimalExploder(df)
    val cols     = exploded.columns
    val head = cols.map(c => s"<th>${htmlEscape(c)}</th>").mkString
    val body = exploded.limit(maxRows).collect().map { r =>
      cols.indices.map { i =>
        val v = r.get(i)
        s"<td>${htmlEscape(if (v == null) "" else v.toString)}</td>"
      }.mkString("<tr>", "", "</tr>")
    }.mkString
    s"""<table border="1"><thead><tr>$head</tr></thead><tbody>$body</tbody></table>"""
  }

  // ------------------------------------------------------- unique / nunique

  /** Distinct non-null values per column; iterable columns flattened first
    * (cat.py:387-402). Derived variables appended under
    * `derived_<variable_column>` (core.py:595-604). */
  def uniqueValues: Map[String, Seq[String]] = {
    val scalarCols = df.columns.filterNot(columnsWithIterables.contains)
    val aggs = scalarCols.map(c => sort_array(collect_set(col(c).cast(StringType))).as(c))
    val base: Map[String, Seq[String]] =
      if (aggs.isEmpty) Map.empty
      else {
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        scalarCols.map(c => c -> row.getAs[scala.collection.Seq[String]](c).toSeq).toMap
      }
    val arrays = columnsWithIterables.filter(df.columns.contains).map { c =>
      c -> df.select(explode(col(c)).as(c)).agg(sort_array(collect_set(col(c)))).collect()(0)
        .getAs[scala.collection.Seq[String]](0).toSeq
    }.toMap
    val derived = model.variableColumnName
      .map(v => Map(s"derived_$v" -> derivedRegistry.keys))
      .getOrElse(Map.empty)
    base ++ arrays ++ derived
  }

  /** Distinct counts per column as a small DataFrame (cat.py:570-579). */
  def nunique: DataFrame = {
    val scalarCols = df.columns.filterNot(columnsWithIterables.contains)
    val scalarAggs = scalarCols.map(c => countDistinct(col(c)).as(c))
    val scalarRow =
      if (scalarAggs.isEmpty) Map.empty[String, Long]
      else {
        val row = df.agg(scalarAggs.head, scalarAggs.tail: _*).collect()(0)
        scalarCols.map(c => c -> row.getAs[Long](c)).toMap
      }
    val arrayCounts = columnsWithIterables.filter(df.columns.contains).map { c =>
      c -> df.select(explode(col(c)).as(c)).agg(countDistinct(col(c))).collect()(0).getLong(0)
    }.toMap
    val all = (scalarRow ++ arrayCounts).toSeq.sortBy { case (c, _) => df.columns.indexOf(c) }
    import spark.implicits._
    all.toDF("col_name", "n_unique")
  }

  // -------------------------------------------------------- materialization

  /** Key → ESMDataSource lookup (core.py:280-345). The group's records are
    * collected — bounded by the group size (a handful of assets). */
  def getEntry(key: String): EsmDataSource = {
    val attrs = effectiveGroupbyAttrs
    val rows  = DriverGuard.boundedCollect(
      df.filter(keyColumn(attrs) === lit(key)), s"getEntry(key='$key')")
    require(rows.nonEmpty, s"key='$key' not found in catalog")
    buildSource(key, rows.map(rowToMap).toSeq)
  }

  def containsKey(key: String): Boolean = declaredGrouping.fold(
    !df.filter(keyColumn(effectiveGroupbyAttrs) === lit(key)).isEmpty)(_.keys.contains(key))

  private def rowToMap(row: Row): Map[String, Any] =
    row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> (row.get(i) match {
        case s: scala.collection.Seq[_] => s.toSeq
        case other                      => other
      })
    }.toMap

  private def buildSource(key: String, records: Seq[Map[String, Any]]): EsmDataSource = {
    val fmt = model.assets.format.getOrElse("")
    val pathCol = model.assets.columnName
    EsmDataSource(
      key = key,
      records = records,
      pathColumn = pathCol,
      variableColumn = model.variableColumnName,
      aggregations = model.aggregationControl.map(_.aggregations).getOrElse(Nil),
      requestedVariables = requestedVariables,
      storageOptions = storageOptions,
    ).copy(records = records.map(r => r + ("_data_format_" -> resolveFormat(r, fmt)) ++
      r.get(pathCol).collect { case p: String => pathCol -> resolveAssetPath(p) }))
  }

  /** Relative asset paths ('./tests/…') resolve against the process CWD in
    * the reference (its own sample catalogs assume the repo root as CWD —
    * fsspec applies no descriptor-relative logic, cat.py:318-322). The
    * engine's documented extra fallback, mirroring
    * [[CatalogReader.resolveCatalogFile]]: when such a path does not exist
    * from the CWD, probe the DESCRIPTOR directory's ancestors and take the
    * first match, so the reference's own catalogs open from anywhere.
    * Scheme'd URIs and absolute paths pass through untouched. */
  private def resolveAssetPath(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (path.contains("://") || p.isAbsolute || java.nio.file.Files.exists(p)) return path
    descriptorDir match {
      case None => path
      case Some(dir) =>
        Iterator.iterate(java.nio.file.Paths.get(dir).toAbsolutePath)(_.getParent)
          .takeWhile(_ != null)
          .map(_.resolve(path).normalize)
          .find(java.nio.file.Files.exists(_))
          .map(_.toString)
          .getOrElse(path) // leave as-is; the open fails with the original name
    }
  }

  private def resolveFormat(record: Map[String, Any], default: String): String =
    model.assets.formatColumnName
      .flatMap(fc => record.get(fc).map(_.toString))
      .getOrElse(default)

  /** Materialize one group as a tidy DataFrame. */
  def loadGroup(source: EsmDataSource, coords: Seq[String]): DataFrame = source.load(spark, coords)

  /** to_dataset_dict (core.py:606-762): key → tidy DataFrame for every group.
    * `aggregate = false` groups by all columns — one asset per dataset
    * (core.py:733-735).
    *
    * r19: group loads run from a small driver thread pool (guide §2.6 —
    * overlap independent jobs). The returned frames are lazy plans, but
    * BUILDING one is not free: each asset open runs driver-coordinated
    * metadata work (file listing, parquet footer/schema reads, the decode
    * plane's geometry pulls — measured ~11 small jobs per group at the
    * bench catalog), and the sequential loop serialized those
    * latency-bound rounds. Concurrent submission overlaps them — on an
    * object store each open is a network round trip, which is where the
    * reference's own per-group pools point. Results are identical: frames
    * are built per group exactly as before, failures surface in GROUP
    * ORDER (futures are awaited in order, and Await rethrows the original
    * exception), and `skipOnError` drops a failed group inside its own
    * task as before. The pool holds min(groups, 4) threads; a single
    * group loads on the calling thread.
    */
  def toDatasetDict(coords: Seq[String] = Nil, aggregate: Boolean = true,
                    skipOnError: Boolean = false): Map[String, DataFrame] = {
    // Group records are collected per key (bounded: catalog metadata, with
    // the DriverGuard tripwire in case the grouping assumption breaks). The
    // RECORD count is what actually lands on the driver — every catalog row
    // rides inside some group's records — so cap it directly, before
    // anything row-sized is collected; the outer group-row cap alone would
    // let a few-huge-groups catalog through. The declared-attrs group pass
    // already holds the record count, so there the empty exit
    // (core.py:684-691) and the cap cost no job.
    val records = "toDatasetDict(catalog records)"
    val attrs = (if (aggregate) declaredGrouping else None) match {
      case Some(g) =>
        if (g.assets == 0L) return Map.empty
        DriverGuard.requireBounded(g.assets, spark, records)
        g.attrs
      case None =>
        if (df.isEmpty) return Map.empty
        val attrs = if (aggregate) effectiveGroupbyAttrs else pruneAllNull(df.columns.toSeq)
        DriverGuard.assertBounded(df, records)
        attrs
    }
    val grouped = groupRecords(attrs)
    def loadOne(group: (String, Seq[Map[String, Any]])): (String, Option[DataFrame]) = {
      val (key, records) = group
      val source         = buildSource(key, records)
      try key -> Some(loadGroup(source, coords))
      catch { case e: Exception => if (skipOnError) key -> None else throw e }
    }
    val threads = math.min(grouped.length, 4)
    val loaded =
      if (threads <= 1) grouped.map(loadOne)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
        val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val futs = grouped.map(group => scala.concurrent.Future(loadOne(group))(ec))
          futs.map(f => scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf))
        } finally pool.shutdown() // no interrupts: a losing task's lazy
      }                           // metadata reads finish harmlessly
    val dsets = loaded.collect { case (k, Some(d)) => k -> d }.toMap
    // post-pass: apply derived variables (core.py:896-903)
    val result = model.variableColumnName match {
      case Some(varCol) => derivedRegistry.updateDatasets(dsets, varCol, skipOnError)
      case None         => dsets
    }
    datasets = result // cache, like the reference's .datasets (core.py:761)
    result
  }

  /** Each group's key and records, grouped by `attrs`. Over a local
    * relation the rows are grouped on the driver, groups and records in
    * table order; otherwise by one bounded `collect_list` aggregate. The
    * caller caps the record count first. */
  private[graft] def groupRecords(attrs: Seq[String]): Seq[(String, Seq[Map[String, Any]])] = {
    val key    = keyColumn(attrs).as("__graft_key")
    val record = struct(df.columns.map(col): _*)
    val groups = DriverGuard.localRows(df.select(key, record)) match {
      case Some(rows) =>
        val byKey = rows.toSeq.groupBy(_.getString(0))
        rows.iterator.map(_.getString(0)).distinct.map(k => k -> byKey(k).map(_.getStruct(1))).toSeq
      case None =>
        DriverGuard.boundedCollect(df.groupBy(key).agg(collect_list(record).as("__graft_records")),
          "toDatasetDict(group records)").toSeq.map(r => r.getString(0) -> r.getSeq[Row](1).toSeq)
    }
    groups.map { case (k, rows) => k -> rows.map(rowToMap) }
  }

  /** to_datatree (core.py:764-867): keys joined with '/'. */
  def toDatatree(coords: Seq[String] = Nil, levels: Option[Seq[String]] = None): Map[String, DataFrame] = {
    // ONE constructor call (the duplicated 10-argument pair is exactly how
    // descriptorDir got dropped here once): only the model varies
    val treeModel = levels match {
      case Some(ls) =>
        model.copy(aggregationControl =
          model.aggregationControl.map(_.copy(groupbyAttrs = ls.toList)))
      case None => model
    }
    val cat = new EsmCatalog(spark, treeModel, df, columnsWithIterables, iterableDtypes,
      derivedRegistry, requestedVariables, sep = "/", storageOptions, descriptorDir)
    cat.toDatasetDict(coords).map { case (k, v) => s"/${k.replace(cat.sep, "/")}" -> v }
  }

  /** to_dask (core.py:869-894): exactly-one-group guard, return the single frame. */
  def toDask(coords: Seq[String] = Nil): DataFrame = {
    val ks = keys
    require(ks.size == 1,
      s"expected exactly one dataset, got ${ks.size}; refine the search (core.py:869-894)")
    toDatasetDict(coords)(ks.head)
  }
}

object EsmCatalog {
  /** What the group pass yields: the effective groupby attrs, the sorted
    * distinct keys, and the asset (row) count. */
  private final case class Grouping(attrs: Seq[String], keys: Seq[String], assets: Long)

  /** Open a datastore from a JSON descriptor path (core.py:89-153).
    * `storageOptions` is the per-call twin of the reference's fsspec
    * storage_options (cat.py:238-280): applied to the asset-table read and
    * every asset open, reaching the relation-scoped Hadoop configuration
    * (credentials, endpoints) without touching global conf. */
  def open(spark: SparkSession, jsonPath: String,
           registry: DerivedVariableRegistry = new DerivedVariableRegistry,
           storageOptions: Map[String, String] = Map.empty): EsmCatalog = {
    val (model, table) = CatalogReader.load(spark, jsonPath, storageOptions)
    // descriptor dir (for relative-asset-path fallback) only makes sense
    // for local descriptors; remote schemes resolve their assets remotely
    val dir = CatalogReader.localPathOf(jsonPath).flatMap(p =>
      Option(java.nio.file.Paths.get(p).toAbsolutePath.getParent).map(_.toString))
    new EsmCatalog(spark, model, table.df, table.columnsWithIterables, table.iterableDtypes,
      registry, storageOptions = storageOptions, descriptorDir = dir)
  }

  /** Open from an in-memory descriptor + pre-built table (search results,
    * tests). */
  def fromTable(spark: SparkSession, model: EsmCatalogModel, table: CatalogReader.LoadedTable,
                registry: DerivedVariableRegistry = new DerivedVariableRegistry): EsmCatalog =
    new EsmCatalog(spark, model, table.df, table.columnsWithIterables, table.iterableDtypes, registry)
}
