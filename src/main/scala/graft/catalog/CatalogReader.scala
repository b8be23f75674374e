package graft.catalog

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loads the catalog asset table described by an [[EsmCatalogModel]].
  *
  * Spark-first re-expression of the reference's CatalogFileDataReader
  * (intake_esm/cat.py:582-711): the JSON descriptor is parsed on the driver,
  * the asset table is read with `spark.read.csv/parquet/json`, all columns
  * as strings (`infer_schema=False`, cat.py:641,648), and python-literal
  * iterable cells are decoded into `ArrayType(StringType)` columns
  * (cat.py:652-682).
  *
  * Scale posture: a metadata-sized table (at most [[DriverGuard]]'s cap of
  * rows, the common case) is collected once at open and held as a local
  * relation, like the reference's in-memory frame (cat.py:492-579): the
  * optimizer then folds every search filter and projection over it on the
  * driver, so searching it runs no Spark job. A larger table (100 TB of
  * catalog rows is just a big parquet scan) stays a lazy plan after the
  * `limit(cap + 1)` collect that finds it too big; its iterable probe is a
  * `limit(1)`, mirroring the reference's `lf.head(1)` (cat.py:562).
  */
object CatalogReader {

  /** Container dtype of an iterable column — remembered so `save` can restore
    * the original python literal shape (cat.py:124, 215-216). */
  object ContainerType extends Enumeration { val ListT, TupleT, SetT = Value }

  final case class LoadedTable(
      df: DataFrame,
      columnsWithIterables: Set[String],
      iterableDtypes: Map[String, ContainerType.Value],
  )

  /** Extension → reader dispatch (reference: cat.py:599-612).
    *
    * `storageOptions` is the per-call analog of the reference's fsspec
    * storage_options (cat.py:238-280): the map is applied as reader options,
    * and Spark merges reader options into the RELATION's Hadoop
    * configuration (`sessionState.newHadoopConfWithOptions`), so
    * filesystem keys like `fs.s3a.endpoint` / credentials reach the store
    * for this read only — no global SparkContext conf mutation. */
  def readAssetTable(spark: SparkSession, rawPath: String,
                     storageOptions: Map[String, String] = Map.empty): DataFrame = {
    // http(s): whole-file fetch to a local cache, then a plain local read —
    // the catalog table is the SMALL plane (the reference reads it through
    // fsspec the same way, cat.py:238-280); data-plane byte ranges keep
    // refusing http at the connector boundary.
    val path =
      if (graft.sources.HttpFetch.isHttp(rawPath))
        graft.sources.HttpFetch.fetchCached(rawPath, graft.sources.HttpFetch.maxBytesFrom(storageOptions))
      else rawPath
    val lower = path.toLowerCase
    if (lower.endsWith(".parquet") || lower.endsWith(".parq"))
      spark.read.options(storageOptions).parquet(path)
    else if (lower.endsWith(".json"))
      spark.read.options(storageOptions).json(path)
    else {
      // csv / csv.gz / csv.bz2 — Spark handles the compression codecs natively.
      // strings, like the reference (cat.py:641)
      val options = Map("header" -> "true", "inferSchema" -> "false") ++ storageOptions
      spark.read.options(options).schema(csvHeader(spark, path, options)).csv(path)
    }
  }

  /** The all-string schema Spark's own header inference gives `path`,
    * read on the driver instead of in a job: the first line of the first
    * non-empty data file the path names (in path order) through Spark's
    * codec-aware `readHeaderLine`, parsed with the reader's `CSVOptions`
    * and deduplicated by `makeSafeHeader`. A file with no line reads as no
    * columns. */
  private def csvHeader(spark: SparkSession, path: String,
                        options: Map[String, String]): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.csv.CSVOptions
    import org.apache.spark.sql.execution.datasources.csv.CSVUtils
    val sqlConf = spark.sessionState.conf
    val csvOptions = new CSVOptions(options, sqlConf.csvColumnPruning,
      sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    // the path may be a glob, as for spark.read; a directory's hidden and
    // `_`-prefixed entries are not data, as in Spark's own listing
    val files = Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filter { c =>
        val name = c.getPath.getName
        c.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
    }
    val first = files.filter(_.getLen > 0).map(_.getPath).sortBy(_.toString).headOption
    val header = first.flatMap(CSVUtils.readHeaderLine(_, csvOptions, hadoopConf))
      .flatMap(line => Option(new com.univocity.parsers.csv.CsvParser(
        csvOptions.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, sqlConf.caseSensitiveAnalysis, csvOptions))
      .getOrElse(Array.empty[String])
    StructType(header.toSeq.map(StructField(_, StringType)))
  }

  /** Resolve a possibly-relative catalog_file: used as-is if it exists
    * (cwd-relative), else against the descriptor's directory — the
    * reference's fallback order (cat.py:318-322). */
  def resolveCatalogFile(jsonPath: String, catalogFile: String): String = {
    val p = Paths.get(catalogFile)
    if (p.isAbsolute || catalogFile.contains("://") || Files.exists(p)) return catalogFile
    // descriptor fetched over http: a relative catalog_file resolves against
    // the descriptor's URL, never the local cache directory
    if (graft.sources.HttpFetch.isHttp(jsonPath))
      return new java.net.URI(jsonPath).resolve(catalogFile).toString
    val jsonDir  = Paths.get(jsonPath).toAbsolutePath.getParent
    val relative = jsonDir.resolve(catalogFile).normalize
    if (Files.exists(relative)) return relative.toString
    // extra fallback beyond the reference: catalogs written with paths
    // relative to some original working directory (e.g. "./tests/…") still
    // load if the file sits next to the descriptor
    val sibling = jsonDir.resolve(p.getFileName.toString)
    if (Files.exists(sibling)) sibling.toString else relative.toString
  }

  private val iterableProbe = "^\\s*[\\[\\(\\{].*[\\]\\)\\}]\\s*$".r

  /** Detect iterable (python-literal list/tuple/set) columns by probing the
    * first row — mirrors the reference's `lf.head(1)` dtype probe
    * (cat.py:562, 652-669). Returns column → container type.
    */
  def probeIterableColumns(df: DataFrame): Map[String, ContainerType.Value] = {
    val stringCols = df.schema.fields.collect { case f if f.dataType == StringType => f.name }
    if (stringCols.isEmpty) Map.empty
    else probeRow(stringCols.toSeq, df.select(stringCols.map(col): _*).limit(1).collect().headOption)
  }

  /** [[probeIterableColumns]] over a first row already on the driver. */
  private def probeRow(stringCols: Seq[String], first: Option[Row]): Map[String, ContainerType.Value] =
    first.fold(Map.empty[String, ContainerType.Value]) { row =>
      stringCols.flatMap { c =>
        Option(row.getAs[String](c)).map(_.trim).collect {
          case s if iterableProbe.matches(s) =>
            val ct = s.head match {
              case '(' => ContainerType.TupleT
              case '{' => ContainerType.SetT
              case _   => ContainerType.ListT
            }
            c -> ct
        }
      }.toMap
    }

  /** Python-literal → JSON → array decode, as a codegen'd expression chain.
    *
    * Normalization mirrors cat.py:671-681 exactly: first char → `[`, last
    * char → `]`, `,]` → `]` (trailing commas), `'` → `"`, then JSON decode.
    */
  def decodeIterable(c: Column): Column = {
    val open  = regexp_replace(trim(c), "^.", "[")
    val close = regexp_replace(open, ".$", "]")
    val noTrail = regexp_replace(close, ",\\s*\\]", "]")
    val quoted  = regexp_replace(noTrail, "'", "\"")
    from_json(quoted, ArrayType(StringType))
  }

  /** Decode all detected iterable columns of `df` in place. */
  def decodeIterableColumns(df: DataFrame, cols: Set[String]): DataFrame =
    if (cols.isEmpty) df
    else df.withColumns(cols.map(c => c -> decodeIterable(col(c))).toMap)

  /** [[decodeIterableColumns]] over rows already on the driver, as a local
    * relation of the decoded rows. Each distinct iterable cell is decoded
    * once, by [[decodeIterable]] folded over a local relation of the
    * cells: catalog rows repeat their iterable values (one realm or
    * variable list per table), and the fold evaluates row by row. */
  private def decodeRows(spark: SparkSession, raw: DataFrame, rows: Array[Row],
                         cols: Set[String]): DataFrame = {
    val schema = decodeIterableColumns(raw, cols).schema
    val idx    = cols.map(raw.schema.fieldIndex)
    val cells  = idx.toSeq.flatMap(i => rows.iterator.map(_.getString(i))).distinct
    val cellDf = spark.createDataFrame(cells.map(Row(_)).asJava,
      StructType(Seq(StructField("cell", StringType))))
    val decoded = cellDf.select(col("cell"), decodeIterable(col("cell"))).collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    val out = rows.map(r => Row.fromSeq(r.toSeq.zipWithIndex.map {
      case (v, i) => if (idx(i)) decoded(v.asInstanceOf[String]) else v
    }))
    spark.createDataFrame(out.toSeq.asJava, schema)
  }

  /** Render a Seq as a python-literal list string (`['a', 'b']`, nulls as
    * `None`) — the degrade form when a dict column mixes arrays and scalars
    * and unifies to StringType; matches CatalogWriter.renderIterable's shape
    * so the value stays decodeIterable-round-trippable. */
  private def pythonLiteral(v: Seq[_]): String =
    v.map(x => if (x == null) "None" else s"'$x'").mkString("[", ", ", "]")

  /** Build a DataFrame from inline `catalog_dict` records
    * (reference: cat.py:273-278). Non-string scalars (ints in
    * noaa-pathfinder-opendap.json) keep their types; the unified schema is
    * the union of keys across records, missing keys → null.
    */
  def fromDict(spark: SparkSession, records: Seq[Map[String, Any]]): DataFrame = {
    val colsInOrder = records.foldLeft(Vector.empty[String]) { (acc, r) =>
      acc ++ r.keys.filterNot(acc.contains)
    }
    def typeOf(v: Any): DataType = v match {
      case _: Int | _: Long   => LongType
      case _: Double          => DoubleType
      case _: Boolean         => BooleanType
      case _: Seq[_]          => ArrayType(StringType)
      case _                  => StringType
    }
    // unify across ALL values, not just the first non-null: a column mixing
    // JSON ints and floats widens to double (typing from the first value
    // alone CCEs at materialization when a later Double hits a Long field);
    // any other mix degrades to string
    def unify(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y                      => x
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case _                                     => StringType
    }
    val fieldTypes: Seq[DataType] = colsInOrder.map { c =>
      records.iterator.flatMap(_.get(c)).filter(_ != null)
        .map(typeOf).reduceOption(unify).getOrElse(StringType)
    }
    val schema = StructType(colsInOrder.zip(fieldTypes).map { case (c, t) => StructField(c, t, nullable = true) })
    val rows = records.map { r =>
      Row.fromSeq(colsInOrder.zip(fieldTypes).map { case (c, t) =>
        (r.getOrElse(c, null), t) match {
          case (null, _)                 => null
          case (v: Int, LongType)        => v.toLong
          case (v: Int, DoubleType)      => v.toDouble
          case (v: Long, DoubleType)     => v.toDouble
          // a column mixing arrays and scalars unified to StringType — the
          // Seq must render to its literal string form HERE (before the
          // generic Seq case), or a Seq lands in a StringType field and CCEs
          // at materialization
          case (v: Seq[_], StringType)   => pythonLiteral(v)
          case (v: Seq[_], _)            => v.map(x => if (x == null) null else x.toString)
          case (v, StringType)           => v.toString
          case (v, _)                    => v
        }
      })
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Full load: JSON descriptor path → (model, decoded asset table).
    * Mirrors ESMCatalogModel.load (cat.py:238-280) + _df_from_file
    * (cat.py:282-326).
    */
  /** Local form of a descriptor path, or None for a remote scheme. Accepts
    * bare paths plus Hadoop's file:/// AND single-slash file:/ URI
    * renderings (URI parsing — a stripPrefix would leave "file:/x" as the
    * relative path "file:"). ONE implementation for both the descriptor
    * read and the descriptor-dir computation, so scheme-handling fixes
    * cannot drift between them. */
  def localPathOf(jsonPath: String): Option[String] =
    if (jsonPath.startsWith("file:"))
      Some(scala.util.Try(Paths.get(new java.net.URI(jsonPath)).toString).getOrElse(jsonPath))
    else if (jsonPath.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")) None // remote scheme
    else Some(jsonPath)

  def load(spark: SparkSession, jsonPath: String,
           storageOptions: Map[String, String] = Map.empty): (EsmCatalogModel, LoadedTable) = {
    val isHttp = graft.sources.HttpFetch.isHttp(jsonPath)
    val local =
      if (isHttp)
        graft.sources.HttpFetch.fetchCached(jsonPath, graft.sources.HttpFetch.maxBytesFrom(storageOptions))
      else localPathOf(jsonPath).getOrElse(jsonPath)
    val model = EsmCatalogModel.fromJson(new String(Files.readAllBytes(Paths.get(local)), "UTF-8"))
    // relative catalog_file paths must resolve against the descriptor's
    // ORIGINAL location (the URL for http), not the local cache copy
    val table = loadTable(spark, model, Some(if (isHttp) jsonPath else local), storageOptions)
    (model, table)
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The decoded asset table of `model`. A `catalog_dict` is already on the
    * driver and stays there. A `catalog_file` table with at most the
    * [[DriverGuard]] cap of rows is collected (one `limit(cap + 1)` job),
    * probed and decoded on the driver, and held as a local relation; above
    * the cap it stays a lazy scan. One INFO line records which. A
    * `catalog_file` that reads as no columns at all (a 0-byte csv) is
    * refused; a header-only csv is a valid empty table. */
  def loadTable(spark: SparkSession, model: EsmCatalogModel, jsonPath: Option[String],
                storageOptions: Map[String, String] = Map.empty): LoadedTable = {
    val cap = DriverGuard.maxRows(spark)
    def logHeld(source: String, rows: String, held: Boolean): Unit =
      log.info(s"catalog asset table $source: $rows rows (cap '${DriverGuard.confKey}' = $cap), " +
        (if (held) "held on the driver as a local relation" else "left as a distributed scan"))
    model.catalogDict match {
      case Some(records) =>
        val df = fromDict(spark, records)
        logHeld("catalog_dict", records.size.toString, held = true)
        // array-valued dict columns ARE iterable columns — the reference
        // derives columns_with_iterables from frame contents for dict
        // catalogs too (cat.py:558-568); without this, membership search
        // compiles an equality predicate against an array column
        val iterables = df.schema.fields
          .collect { case f if f.dataType.isInstanceOf[ArrayType] => f.name }.toSet
        LoadedTable(df, iterables, iterables.map(_ -> ContainerType.ListT).toMap)
      case None =>
        val file = model.catalogFile.getOrElse(
          throw new IllegalArgumentException("catalog needs catalog_file or catalog_dict"))
        val resolved = jsonPath.map(resolveCatalogFile(_, file)).getOrElse(file)
        val raw  = readAssetTable(spark, resolved, storageOptions)
        require(raw.schema.nonEmpty, s"empty catalog table (no header, no columns): $resolved")
        val head = raw.limit(DriverGuard.probeLimit(cap)).collect()
        if (head.length <= cap) {
          val stringCols = raw.schema.fields.collect { case f if f.dataType == StringType => f.name }
          val dtypes     = probeRow(stringCols.toSeq, head.headOption)
          logHeld(resolved, head.length.toString, held = true)
          LoadedTable(decodeRows(spark, raw, head, dtypes.keySet), dtypes.keySet, dtypes)
        } else {
          val dtypes = probeIterableColumns(raw)
          logHeld(resolved, s"more than $cap", held = false)
          LoadedTable(decodeIterableColumns(raw, dtypes.keySet), dtypes.keySet, dtypes)
        }
    }
  }
}
