package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

import scala.collection.immutable.ListMap

/** Catalog-plane reader for kerchunk `reference://` indexes
  * (fsspec reference filesystem, kerchunk v1 JSON).
  *
  * The reference opens these through xarray's zarr engine with
  * `storage_options.fo = urlpath` (intake_esm/source.py:82-86, enum
  * cat.py:56-64). The INDEX itself is pure JSON — no codec involved — so the
  * chunk map is fully enumerable here; only the byte-range decode of the
  * chunks stays behind the engine's connector boundary
  * (EsmDataSource.openAsset).
  *
  * A v1 index is `{"version": 1, "refs": {key: inline-string | [url] |
  * [url, offset, length], ...}}` where keys are zarr paths
  * (`variable/chunk.coords` or `.../.zarray|.zattrs|.zgroup` metadata).
  * The values are HETEROGENEOUS (string or array), so the shred uses
  * Spark 4's VariantType — `parse_json` + `variant_explode` — in an
  * executor task (not the driver), and everything DOWNSTREAM of the shred
  * (the per-entry rows) is fully distributed. The parse itself is
  * single-task: a v1 index is one JSON document (wholetext), bounded by
  * the JVM's 2 GB string limit — far beyond the reference's sample
  * indexes, but an index that big should be kerchunk parquet refs, a
  * different reader.
  */
object KerchunkIndex {

  /** Persist a chunk-map entries frame before the decode plane fans it
    * into several consumers (r18). `materializeChunks` + `arrayMeta` +
    * `attrDims` (+ CF attrs) each reference the entries subtree — and a
    * decode plan references chunks/meta/dims once per value plane — so
    * without a cache the container walk (full metadata listing + reads,
    * or the kerchunk JSON shred) re-executes 4-7× per decoded read
    * (measured on the zarr round-trip rows). Entries are ref METADATA
    * (~100 B/row — never chunk bytes), so the cache is tiny; the
    * untracked scope's bounded FIFO reclaims it across invocations. */
  def sharedEntries(entries: DataFrame): DataFrame =
    graft.operators.CacheScope.untracked.persisted(entries,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** One [[Entries.Entry]] row per reference entry ([[Entries.shred]]). */
  def read(spark: SparkSession, rawPath: String,
           storageOptions: Map[String, String] = Map.empty): DataFrame = {
    // kerchunk reference documents are routinely HOSTED over https (the
    // fsspec `reference://` chain the reference uses, source.py:82-96);
    // the index json is the small catalog plane, so it rides the cached
    // whole-file http fetch. The chunk byte-ranges it points at keep
    // refusing http at the connector boundary (no seekable FS).
    val path = if (HttpFetch.isHttp(rawPath))
      HttpFetch.fetchCached(rawPath, HttpFetch.maxBytesFrom(storageOptions))
    else rawPath
    val raw = spark.read.option("wholetext", "true").options(storageOptions).text(path)
    // variant_explode is a table-valued function — LATERAL over a scoped
    // temp view; the view entry can drop once the plan is analyzed
    val view = "graft_kerchunk_" + java.util.UUID.randomUUID().toString.replace("-", "")
    raw.createOrReplaceTempView(view)
    val (entries, templatesJson, genJson, version) =
      try {
        // templates/gen are v1-spec TOP-LEVEL metadata — generator SPECS
        // and a small name→string dict, never the expansion itself — so
        // collecting them is one tiny single-row job. The document parses
        // a second time when the entries plan executes: an open-time
        // metadata cost, bounded by the index size, not by data.
        val m = spark.sql(
          s"""SELECT try_variant_get(parse_json(t.value), '$$.templates', 'string'),
             |       try_variant_get(parse_json(t.value), '$$.gen', 'string'),
             |       try_variant_get(parse_json(t.value), '$$.version', 'long')
             | FROM $view AS t""".stripMargin).head()
        val e = spark.sql(
          s"""SELECT e.key AS key, e.value AS value
             | FROM $view AS t,
             | LATERAL variant_explode(variant_get(parse_json(t.value), '$$.refs', 'variant')) AS e
             |""".stripMargin)
        (e, Option(m.getString(0)), Option(m.getString(1)),
          if (m.isNullAt(2)) None else Some(m.getLong(2)))
      } finally spark.catalog.dropTempView(view)
    val shredded = Entries.shred(entries)
    if (templatesJson.isEmpty && genJson.isEmpty) shredded
    else {
      // templates/gen semantics are DEFINED by spec version 1 (fsspec
      // treats a version-less document as a flat v0 ref dict, where
      // neither key means anything)
      require(version.contains(1L),
        s"kerchunk index '$rawPath' carries templates/gen but declares version " +
          s"${version.getOrElse("<absent>")} — their semantics are v1-only")
      expandTemplated(spark, shredded, templatesJson, genJson, rawPath)
    }
  }

  /** Kerchunk v1 `templates`/`gen` expansion (fsspec reference-filesystem
    * v1 spec; the reference inherits it via `reference://`,
    * source.py:70-137):
    *
    *  - `templates` — name → string; rendered into every byte-range ref's
    *    URL (`{{u}}` holes, whitespace-tolerant). Inline string refs are
    *    NOT rendered, matching fsspec. A URL hole that no template
    *    resolves refuses loudly (fsspec's jinja would silently render
    *    empty — a silently-wrong chunk location is worse than an error).
    *  - `gen` — generated refs: per spec entry, the dimension product
    *    (range or explicit list dims) expands DISTRIBUTED — `spark.range`
    *    over the product size, C-order div/mod per-dimension indices, and
    *    the key/url/offset/length templates compiled ONCE into codegen'd
    *    columns ([[KerchunkTemplates]]). A million generated refs is a
    *    narrow projection, never a driver loop.
    *  - precedence: gen entries override same-key `refs` entries (fsspec
    *    processes refs first, then `update()`s the gen expansion in).
    */
  private def expandTemplated(spark: SparkSession, shredded: DataFrame,
                              templatesJson: Option[String], genJson: Option[String],
                              rawPath: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val templates: Seq[(String, String)] = templatesJson.toSeq.flatMap { j =>
      JsonMethods.parse(j) match {
        case JObject(fields) => fields.map {
          case (k, JString(v)) => k -> v
          case (k, other) => throw new IllegalArgumentException(
            s"kerchunk index '$rawPath': template '$k' is ${other.getClass.getSimpleName} — templates are strings")
        }
        case other => throw new IllegalArgumentException(
          s"kerchunk index '$rawPath': 'templates' is ${other.getClass.getSimpleName}, not an object")
      }
    }
    // refs URL rendering: hole-pattern replace per template (constant per
    // index, whitespace-tolerant), then a loud per-row guard on leftovers
    val renderedUrl = templates.foldLeft(col("url")) { case (c, (name, value)) =>
      regexp_replace(c,
        lit("\\{\\{\\s*" + java.util.regex.Pattern.quote(name) + "\\s*\\}\\}"),
        lit(java.util.regex.Matcher.quoteReplacement(value)))
    }
    val guarded = shredded
      .withColumn("url", renderedUrl)
      .filter(coalesce(assert_true(col("url").isNull || !col("url").contains("{{"),
        concat(lit(s"kerchunk index '$rawPath': ref '"), col("key"),
          lit("' url '"), col("url"),
          lit("' still holds a '{{' hole after template rendering — " +
            "unresolved identifier or unsupported jinja"))), lit(true)))

    val templateScope: Map[String, KerchunkTemplates.Value] =
      templates.map { case (k, v) => k -> KerchunkTemplates.Value(lit(v), numeric = false) }.toMap

    val genFrames: Seq[DataFrame] = genJson.toSeq.flatMap { j =>
      val specs = JsonMethods.parse(j) match {
        case JArray(items) => items
        case other => throw new IllegalArgumentException(
          s"kerchunk index '$rawPath': 'gen' is ${other.getClass.getSimpleName}, not an array")
      }
      specs.zipWithIndex.map { case (spec, i) =>
        expandGen(spark, spec, templateScope, s"kerchunk index '$rawPath' gen[$i]")
      }
    }
    if (genFrames.isEmpty) guarded
    else {
      val gen = genFrames.reduce(_ unionByName _)
      guarded.join(gen.select("key"), Seq("key"), "left_anti").unionByName(gen)
    }
  }

  /** One gen spec → entry rows. Dimensions follow the spec: an explicit
    * JSON list (numbers or strings), or `{start?, stop, step?}` python
    * range semantics. The product enumerates in C order over the spec's
    * dimension order (the SET of generated entries is order-independent). */
  private def expandGen(spark: SparkSession, spec: org.json4s.JValue,
                        templateScope: Map[String, KerchunkTemplates.Value],
                        context: String): DataFrame = {
    import org.json4s._
    def str(field: String): Option[String] = spec \ field match {
      case JString(s) => Some(s)
      case JNothing   => None
      case other => throw new IllegalArgumentException(
        s"$context: '$field' is ${other.getClass.getSimpleName}, not a string")
    }
    val keyT = str("key").getOrElse(throw new IllegalArgumentException(s"$context: missing 'key'"))
    val urlT = str("url").getOrElse(throw new IllegalArgumentException(s"$context: missing 'url'"))
    val offT = str("offset")
    val lenT = str("length")
    require(offT.isDefined == lenT.isDefined,
      s"$context: both 'offset' and 'length' are required when either is given (fsspec v1 rule)")
    // dimension name → (size, index column → value)
    val dims: Seq[(String, Long, Column => KerchunkTemplates.Value)] = (spec \ "dimensions" match {
      case JObject(fields) => fields
      case other => throw new IllegalArgumentException(
        s"$context: 'dimensions' is ${other.getClass.getSimpleName}, not an object")
    }).map {
      case (name, JArray(values)) if values.nonEmpty && values.forall(_.isInstanceOf[JInt]) =>
        val longs = values.map(_.asInstanceOf[JInt].num.longValue)
        (name, longs.size.toLong,
          (idx: Column) => KerchunkTemplates.Value(
            element_at(lit(longs.toArray), (idx + 1L).cast("int")), numeric = true))
      case (name, JArray(values)) if values.nonEmpty && values.forall(_.isInstanceOf[JString]) =>
        val strs = values.map(_.asInstanceOf[JString].s)
        (name, strs.size.toLong,
          (idx: Column) => KerchunkTemplates.Value(
            element_at(lit(strs.toArray), (idx + 1L).cast("int")), numeric = false))
      case (name, obj: JObject) =>
        def long(f: String, default: => Long): Long = obj \ f match {
          case JInt(v)   => v.longValue
          case JNothing  => default
          case other => throw new IllegalArgumentException(
            s"$context: dimension '$name' field '$f' is ${other.getClass.getSimpleName}, not an integer")
        }
        val stop = long("stop", throw new IllegalArgumentException(
          s"$context: dimension '$name' range needs 'stop'"))
        val start = long("start", 0L)
        val step  = long("step", 1L)
        require(step != 0, s"$context: dimension '$name' has step 0")
        val size = math.max(0L, if (step > 0) (stop - start + step - 1) / step
                                else (start - stop - step - 1) / (-step))
        (name, size, (idx: Column) => KerchunkTemplates.Value(lit(start) + idx * lit(step), numeric = true))
      case (name, other) => throw new IllegalArgumentException(
        s"$context: dimension '$name' is ${other.getClass.getSimpleName} — use a list or {start, stop, step}")
    }
    require(dims.nonEmpty, s"$context: 'dimensions' is empty")
    val total = dims.map(_._2).product
    // C-order unflatten: dim d's index = (id / prod(sizes[d+1..])) % size_d
    val strides = dims.indices.map(d => dims.drop(d + 1).map(_._2).product)
    val scope: Map[String, KerchunkTemplates.Value] = templateScope ++
      dims.zipWithIndex.map { case ((name, size, value), d) =>
        name -> value(call_function("div", col("id"), lit(strides(d))) % lit(size))
      }
    def render(t: String): Column = KerchunkTemplates.render(t, scope.get, context)
    val keyCol = render(keyT)
    val memberCol = substring_index(keyCol, "/", -1)
    spark.range(total).select(
      keyCol.as("key"),
      when(keyCol.contains("/"), regexp_replace(keyCol, "/[^/]*$", ""))
        .otherwise(lit("")).as("variable"),
      memberCol.as("member"),
      when(memberCol.startsWith("."), lit("meta")).otherwise(lit("ref")).as("kind"),
      render(urlT).as("url"),
      offT.map(t => KerchunkTemplates.renderLong(t, scope.get, context))
        .getOrElse(lit(null).cast("long")).as("offset"),
      lenT.map(t => KerchunkTemplates.renderLong(t, scope.get, context))
        .getOrElse(lit(null).cast("long")).as("length"),
      lit(null).cast("string").as("inline_value"),
    )
  }

  /** Dispatch a `reference://` path to the right index form: a DIRECTORY
    * with `.zmetadata` is a kerchunk PARQUET reference store (the format
    * kerchunk itself recommends past ~100 MB of JSON — [[readParquetRefs]]);
    * a plain file (or http url) is the v1 JSON form ([[read]]). A directory
    * without `.zmetadata` refuses loudly — silently text-scanning a
    * directory of parquet files would produce garbage entries. */
  def open(spark: SparkSession, path: String,
           storageOptions: Map[String, String] = Map.empty): DataFrame = {
    if (HttpFetch.isHttp(path)) return read(spark, path, storageOptions)
    val hPath = FsPaths.hadoopPath(path)
    val conf = FsPaths.confWith(spark.sparkContext.hadoopConfiguration, storageOptions)
    val fs = try FsPaths.fileSystemFor(hPath, conf)
    catch { case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
      FsPaths.connectorRefusal(path, e) }
    // a parquet-ref store whose rebuild swap crashed has NO root until the
    // next open heals it — heal before dispatching on the path's shape
    // (a no-op for v1 JSON files and healthy stores); a LIVE writer
    // mid-swap is the one transient state left — wait out the bounded
    // two-rename window like every other store reader (r17 review: open()
    // dispatched straight into getFileStatus and failed transiently)
    if (!fs.exists(hPath)) {
      StoreMeta.recoverCrashedSwap(fs, hPath, ".zmetadata")
      StoreMeta.awaitSwapWindow(fs, hPath, ".zmetadata")
    }
    if (!fs.getFileStatus(hPath).isDirectory) read(spark, path, storageOptions)
    else {
      require(fs.exists(new org.apache.hadoop.fs.Path(hPath, ".zmetadata")),
        s"kerchunk reference '$path' is a directory without .zmetadata — " +
          "not a parquet reference store (a v1 JSON index is a single file)")
      readParquetRefs(spark, path, storageOptions)
    }
  }

  /** Kerchunk PARQUET reference store reader — the format kerchunk's own
    * tooling recommends once the JSON form passes ~100 MB (fsspec
    * LazyReferenceMapper layout, which the reference reaches through the
    * same `reference://` chain, source.py:70-137):
    *
    *  - `<store>/.zmetadata` — zarr CONSOLIDATED metadata JSON (a
    *    `metadata` dict of `.zgroup`/`.zarray`/`.zattrs` documents) plus
    *    `record_size`;
    *  - `<store>/<variable>/refs.<r>.parq` — per-variable parquet files of
    *    `record_size` rows with columns (path, offset, size, raw), where a
    *    chunk's C-order FLAT index `f` over the variable's chunk grid
    *    lives at row `f % record_size` of file `r = f // record_size`.
    *    `raw` non-null → inline bytes; `size` 0 → whole-file ref; path and
    *    raw both null → missing chunk (dropped).
    *
    * Output: the same 8-column entry rows [[read]] emits, so the entire
    * downstream plane (materialize / decode / coords / CF) is shared.
    *
    * Scale shape: ONE Spark parquet scan over every variable's ref files —
    * a billion-chunk index is just a billion parquet rows; the row→chunk-key
    * mapping (`_metadata.file_path` + `_metadata.row_index` → flat index →
    * grid coordinates) is a narrow codegen'd projection joined against one
    * broadcast row of geometry per variable. Only `.zmetadata` (the
    * metadata plane, size-capped) is read on the driver.
    */
  def readParquetRefs(spark: SparkSession, dir: String,
                      storageOptions: Map[String, String] = Map.empty,
                      // restrict the DATA scan to one record file per listed
                      // variable (refs.<r>.parq, skipped when absent) — the
                      // append path's boundary-only read; metadata always
                      // loads whole. None = scan every variable directory.
                      onlyRecords: Option[Map[String, Long]] = None): DataFrame = {
    import org.json4s.jackson.JsonMethods
    val conf = FsPaths.confWith(spark.sparkContext.hadoopConfiguration, storageOptions)
    val root = FsPaths.hadoopPath(dir)
    val fs = try FsPaths.fileSystemFor(root, conf)
    catch { case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
      FsPaths.connectorRefusal(dir, e) }
    // heal a crashed rebuild swap, then wait out a live writer's
    // two-rename swap window (bounded) — the r17 store-open convention
    StoreMeta.recoverCrashedSwap(fs, root, ".zmetadata")
    StoreMeta.awaitSwapWindow(fs, root, ".zmetadata")
    val meta = RefStoreMeta.load(fs, root, s"kerchunk parquet store '$dir'")
    val recordSize = meta.recordSize

    import spark.implicits._
    // metadata documents → the same meta entry rows the JSON form emits
    val metaDf = Entries.frame(spark, meta.docs.map { case (key, v) =>
      Entries.meta(key, JsonMethods.compact(JsonMethods.render(v)))
    })

    val geometry = meta.geometry
    require(!meta.docs.exists(_._1 == ".zarray") ||
        !fs.exists(new org.apache.hadoop.fs.Path(root, "refs.0.parq")),
      s"kerchunk parquet store '$dir': a ROOT-level array's ref files are " +
        "unsupported (zarr consolidated stores name their arrays)")
    val knownVars = geometry.keySet
    val varDirs = onlyRecords match {
      case Some(recs) =>
        recs.foreach { case (v, r) =>
          require(knownVars.contains(v) && r >= 0,
            s"kerchunk parquet store '$dir': onlyRecords names '$v' record $r, " +
              "which is not in the store's geometry") }
        recs.toSeq.map { case (v, r) => new org.apache.hadoop.fs.Path(root, s"$v/refs.$r.parq") }
          .filter(fs.exists).map(_.toString)
      case None =>
        geometry.keys.toSeq.filter(v => fs.exists(new org.apache.hadoop.fs.Path(root, v)))
          .map(v => new org.apache.hadoop.fs.Path(root, v).toString)
    }
    if (varDirs.isEmpty) return metaDf

    val geoDf = broadcast(geometry.toSeq.map { case (v, (grid, n)) => (v, grid, n) }
      .toDF("variable", "grid", "nchunks"))
    val rootQ = fs.makeQualified(root).toString.stripSuffix("/")
    val refs = spark.read.options(storageOptions).parquet(varDirs: _*)
    val needed = Seq("path", "offset", "size", "raw")
    require(needed.forall(refs.columns.contains),
      s"kerchunk parquet store '$dir': ref files lack ${needed.filterNot(refs.columns.contains).mkString(",")} " +
        s"(have ${refs.columns.mkString(",")})")
    val rel = expr(s"substring(file_path, ${rootQ.length + 2})")
    val shaped = refs
      .select(col("path"), col("offset"), col("size"), col("raw"),
        col("_metadata.file_path").as("file_path"), col("_metadata.row_index").as("row_index"))
      // every scanned file must be <root>/<variable>/refs.<r>.parq — a stray
      // parquet file would otherwise be silently mis-keyed
      .filter(coalesce(assert_true(
        col("file_path").startsWith(rootQ + "/") && rel.rlike("/refs\\.[0-9]+\\.parq$"),
        concat(lit(s"kerchunk parquet store '$dir': unexpected file '"), col("file_path"),
          lit("' — ref files are <variable>/refs.<N>.parq"))), lit(true)))
      .select(col("path"), col("offset"), col("size"), col("raw"),
        regexp_replace(rel, "/refs\\.[0-9]+\\.parq$", "").as("variable"),
        regexp_extract(rel, "refs\\.([0-9]+)\\.parq$", 1).cast("long").as("record"),
        col("row_index"))
      // a missing chunk is an all-null row (fsspec writes the full record
      // frame); drop it BEFORE the geometry check so trailing pad rows of
      // the last record file never trip the flat-index bound
      .filter(col("path").isNotNull || col("raw").isNotNull)
      .join(geoDf, Seq("variable"), "left")
      .filter(coalesce(assert_true(col("nchunks").isNotNull,
        concat(lit(s"kerchunk parquet store '$dir': ref files for '"), col("variable"),
          lit("' have no .zarray in .zmetadata"))), lit(true)))
      .withColumn("flat", col("record") * lit(recordSize) + col("row_index"))
      .filter(coalesce(assert_true(col("flat") < col("nchunks"),
        concat(lit(s"kerchunk parquet store '$dir': variable '"), col("variable"),
          lit("' row at flat index "), col("flat"),
          lit(" exceeds its "), col("nchunks"), lit("-chunk grid"))), lit(true)))
    // C-order unflatten over the chunk grid → the "r.c" member key; scalar
    // arrays (grid []) normalize to [1] → member "0" (zarr v2 convention)
    val gridN = when(size(col("grid")) === 0, array(lit(1L))).otherwise(col("grid"))
    val memberCol = array_join(
      transform(sequence(lit(0), size(gridN) - 1), d => {
        val stride = aggregate(slice(gridN, d + lit(2), size(gridN)), lit(1L), (a, x) => a * x)
        call_function("div", col("flat"), stride) % get(gridN, d)
      }), ".")
    shaped
      .withColumn("member", memberCol)
      .select(
        concat(col("variable"), lit("/"), col("member")).as("key"),
        col("variable"), col("member"),
        when(col("raw").isNotNull, lit("inline")).otherwise(lit("ref")).as("kind"),
        when(col("raw").isNull, col("path")).as("url"),
        // size 0 → whole-file ref ([path] in the JSON form), per fsspec;
        // explicit long casts — a writer may have stored int32 columns
        when(col("raw").isNull && col("size") =!= 0L, col("offset").cast("long")).as("offset"),
        when(col("raw").isNull && col("size") =!= 0L, col("size").cast("long")).as("length"),
        when(col("raw").isNotNull, concat(lit("base64:"), base64(col("raw"))))
          .otherwise(lit(null).cast("string")).as("inline_value"))
      .unionByName(metaDf)
  }

  /** Read MANY v1 JSON indexes into one SOURCE-TAGGED entry frame —
    * the fan-in half of [[combineAlong]] (kerchunk's MultiZarrToZarr
    * shape: one reference set per netCDF file, thousands of files).
    * ONE distributed wholetext scan parses every document (one row per
    * file through the same variant shred as [[read]]); `__src` is the
    * file's ordinal in `paths` — the caller-given order IS the concat
    * order downstream. Documents carrying `templates`/`gen` refuse
    * loudly here (their expansion is per-document driver work — run
    * [[read]] per index and union with literal `__src` tags instead);
    * plain-refs documents, the shape per-file conversion tools emit,
    * stay fully distributed. */
  def readMany(spark: SparkSession, paths: Seq[String],
               storageOptions: Map[String, String] = Map.empty): DataFrame = {
    require(paths.nonEmpty, "kerchunk readMany: no index paths")
    require(paths.distinct.size == paths.size, "kerchunk readMany: duplicate index paths")
    val conf = FsPaths.confWith(spark.sparkContext.hadoopConfiguration, storageOptions)
    // qualified-path → ordinal: input_file_name() reports the qualified
    // form, so qualify OUR side the same way and refuse on any row whose
    // file resolves to no ordinal (a silent 0 would corrupt concat order)
    val ordered = paths.zipWithIndex.flatMap { case (p, i) =>
      val hp = FsPaths.hadoopPath(p)
      val fs = try FsPaths.fileSystemFor(hp, conf)
      catch { case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
        FsPaths.connectorRefusal(p, e) }
      val q = fs.makeQualified(hp)
      val u = q.toUri
      // input_file_name() renders a null-authority URI with an EMPTY
      // authority (`file:///x`) while Path.toString renders `file:/x` —
      // register both spellings for the same ordinal
      val variants = Set(q.toString, u.toString) ++
        (if (u.getAuthority == null) Set(s"${u.getScheme}://${u.getRawPath}") else Set.empty)
      variants.map(_ -> i)
    }
    // alias spellings of ONE file ("/x" and "file:/x") pass the raw
    // distinct check but qualify identically — left undetected, every
    // entry row of that file would fan out under BOTH ordinals and the
    // combine would silently double-cover its slice
    ordered.groupBy(_._1).foreach { case (variant, hits) =>
      require(hits.map(_._2).distinct.size == 1,
        s"kerchunk readMany: paths ${hits.map(h => paths(h._2)).mkString(" and ")} " +
          s"resolve to the same file ($variant)")
    }
    import spark.implicits._
    val srcDf = broadcast(ordered.toDF("__file", "__src"))
    val raw = spark.read.option("wholetext", "true").options(storageOptions)
      .text(paths: _*)
      .select(input_file_name().as("__file"), col("value"))
      .join(srcDf, Seq("__file"), "left")
      .filter(coalesce(assert_true(col("__src").isNotNull,
        concat(lit("kerchunk readMany: scanned file '"), col("__file"),
          lit("' matches no given path — qualified-name mismatch"))), lit(true)))
    val view = "graft_kerchunk_many_" + java.util.UUID.randomUUID().toString.replace("-", "")
    raw.createOrReplaceTempView(view)
    // the templates/gen refusal is a PER-DOCUMENT predicate in the
    // subquery BELOW the lateral generator — in the entry-row select it
    // would re-parse the whole document once per exploded ref
    val entries =
      try spark.sql(
        s"""SELECT t.__src AS __src, e.key AS key, e.value AS value
           | FROM (
           |   SELECT __src, value FROM $view
           |   WHERE COALESCE(ASSERT_TRUE(
           |     try_variant_get(parse_json(value), '$$.templates', 'string') IS NULL
           |       AND try_variant_get(parse_json(value), '$$.gen', 'string') IS NULL,
           |     'kerchunk readMany: an index carries templates/gen — expand it ' ||
           |       'through read() per document and union with literal __src tags'), true)
           | ) AS t,
           | LATERAL variant_explode(variant_get(parse_json(t.value), '$$.refs', 'variant')) AS e
           |""".stripMargin)
      finally spark.catalog.dropTempView(view)
    Entries.shred(entries, col("__src").cast("int").as("__src"))
  }

  /** COMBINE source-tagged entry frames along one dimension — the
    * kerchunk MultiZarrToZarr operation (the reference ecosystem's
    * standard recipe for making ONE queryable dataset out of thousands
    * of per-file reference sets), in its index-ordered mode: the `__src`
    * ordinal IS the concatenation order.
    *
    * Semantics (refusals are loud — a silently mis-shifted chunk key
    * corrupts every read):
    *  - a variable whose `_ARRAY_DIMENSIONS` (source 0's `.zattrs`)
    *    contains `dim` CONCATENATES: every source must agree on dtype/
    *    codec/order/chunks and on every other dimension's extent; every
    *    source but the last must be chunk-aligned along `dim` (an
    *    interior ragged extent would interleave write-padding into real
    *    cells); the combined shape sums, and each source's chunk keys
    *    shift along `dim`'s grid axis by the cumulative grid offset;
    *  - a variable without `dim` (or without declared dimensions) is
    *    IDENTICAL: its `.zarray` must agree verbatim across sources and
    *    its entries are taken from source 0 (coordinate bytes are not
    *    compared — the metadata contract is what kerchunk itself checks);
    *  - root documents (`.zgroup`/`.zattrs`) come from source 0.
    *
    * Scale shape: metadata (K × per-variable documents) is ONE collect —
    * the driver plane; data rows re-key through a broadcast (src,
    * variable) → offset map as a pure projection. The output is the
    * standard 8-column entry frame: it decodes through the shared plane
    * or persists via [[writeParquetRefs]] — per-file JSON in, one
    * production parquet index out. */
  def combineAlong(tagged: DataFrame, dim: String): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val spark = tagged.sparkSession
    import spark.implicits._
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"kerchunk combine along '$dim': $msg")

    val metaRows = tagged.filter(col("kind") === "meta")
      .select("__src", "key", "variable", "member", "inline_value").collect()
    require(metaRows.nonEmpty, s"kerchunk combine along '$dim': no metadata entries")
    val srcs = metaRows.map(_.getInt(0)).distinct.sorted
    require(srcs.headOption.contains(0) && srcs.last == srcs.length - 1,
      s"kerchunk combine along '$dim': sources must be contiguous ordinals, got ${srcs.mkString(",")}")
    val k = srcs.length
    val bySrcKey: Map[(Int, String), String] =
      metaRows.map(r => (r.getInt(0), r.getString(1)) -> r.getString(4)).toMap
    def doc(src: Int, key: String): Option[JValue] =
      bySrcKey.get((src, key)).map(t => JsonMethods.parse(t))
    def longs(v: JValue): Seq[Long] = v match {
      case JArray(items) => items.map { case JInt(x) => x.longValue
        case other => fail(s"non-integer in $other") }
      case other => fail(s"expected an array, got ${other.getClass.getSimpleName}")
    }
    val variables = metaRows.filter(r => r.getInt(0) == 0 && r.getString(3) == ".zarray")
      .map(_.getString(2)).toSeq.sorted
    require(variables.nonEmpty, s"kerchunk combine along '$dim': source 0 declares no arrays")
    // every source must declare the SAME variable set: a variable present
    // only in later sources would otherwise vanish from the combined
    // store silently (its metadata never emitted, its data rows dropped)
    metaRows.filter(_.getString(3) == ".zarray").foreach { r =>
      if (!variables.contains(r.getString(2)))
        fail(s"variable '${r.getString(2)}' appears in source ${r.getInt(0)} " +
          "but not in source 0 — the combined store would silently drop it")
    }

    val outMeta = scala.collection.mutable.ArrayBuffer.empty[Entries.Entry]
    // source 0's meta rows as they are
    def keep(r: org.apache.spark.sql.Row): Unit =
      outMeta += Entries.Entry(r.getString(1), r.getString(2), r.getString(3), "meta",
        null, None, None, r.getString(4))
    // root documents from source 0
    metaRows.filter(r => r.getInt(0) == 0 && r.getString(2).isEmpty).foreach(keep)
    // (variable, src) → (axis position, grid offset along the axis)
    val shifts = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int, Long)]
    val concatVars = scala.collection.mutable.Set.empty[String]
    variables.foreach { v =>
      val zarrays = (0 until k).map(s => doc(s, s"$v/.zarray").getOrElse(
        fail(s"variable '$v' has no .zarray in source $s")))
      val zattrs0 = doc(0, s"$v/.zattrs")
      val dims0 = zattrs0.map(a => a \ "_ARRAY_DIMENSIONS").collect {
        case JArray(ds) => ds.map { case JString(x) => x; case o => fail(s"bad dim $o") }
      }
      // canonical JSON form for metadata equality: objects are unordered
      // and whitespace is presentation — a store read-back re-renders its
      // documents compactly, and that must still count as identical
      def canon(j: JValue): String = {
        def sort(x: JValue): JValue = x match {
          case JObject(fields) =>
            JObject(fields.map { case (n, fv) => (n, sort(fv)) }.sortBy(_._1))
          case JArray(items) => JArray(items.map(sort))
          case other => other
        }
        JsonMethods.compact(JsonMethods.render(sort(j)))
      }
      val p = dims0.map(_.indexOf(dim)).getOrElse(-1)
      if (p < 0) {
        // identical variable: metadata must agree (canonically)
        val mine = canon(JsonMethods.parse(bySrcKey((0, s"$v/.zarray"))))
        (1 until k).foreach { s =>
          val theirs = bySrcKey.getOrElse((s, s"$v/.zarray"),
            fail(s"variable '$v' has no .zarray in source $s"))
          if (canon(JsonMethods.parse(theirs)) != mine)
            fail(s"variable '$v' has no '$dim' dimension but its .zarray differs " +
              s"between sources 0 and $s — not an identical variable")
        }
        metaRows.filter(r => r.getInt(0) == 0 && r.getString(2) == v).foreach(keep)
      } else {
        concatVars += v
        // dimension ORDER must agree too: with square extents a transposed
        // source would pass every shape check and shift its chunk keys
        // along the wrong axis — every cell silently lands misplaced
        (1 until k).foreach { s =>
          val theirDims = doc(s, s"$v/.zattrs").map(a => a \ "_ARRAY_DIMENSIONS")
          if (theirDims != zattrs0.map(a => a \ "_ARRAY_DIMENSIONS"))
            fail(s"variable '$v': _ARRAY_DIMENSIONS differs between sources 0 and $s " +
              "— a transposed source would mis-shift its chunk keys")
        }
        val chunks0 = longs(zarrays.head \ "chunks")
        val shapes = zarrays.map(z => longs(z \ "shape"))
        // every field but shape must agree (dtype/codec/filters/order —
        // a codec mismatch would decode half the combined array wrong)
        val stripped = zarrays.map(z =>
          canon(z.removeField { case (name, _) => name == "shape" }))
        (1 until k).foreach { s =>
          if (stripped(s) != stripped.head)
            fail(s"variable '$v': .zarray (minus shape) differs between sources 0 and $s")
        }
        shapes.zipWithIndex.foreach { case (sh, s) =>
          if (sh.length != chunks0.length)
            fail(s"variable '$v': source $s rank ${sh.length} != ${chunks0.length}")
          sh.indices.foreach { d =>
            if (d != p && sh(d) != shapes.head(d))
              fail(s"variable '$v': source $s disagrees on dimension $d " +
                s"(${sh(d)} vs ${shapes.head(d)}) — only '$dim' may vary")
          }
          if (s < k - 1 && sh(p) % chunks0(p) != 0L)
            fail(s"variable '$v': source $s extent ${sh(p)} along '$dim' is not a " +
              s"multiple of its chunk ${chunks0(p)} — an interior ragged source " +
              "would interleave write-padding into real cells")
        }
        var off = 0L
        shapes.zipWithIndex.foreach { case (sh, s) =>
          shifts += ((v, s, p, off))
          off += (sh(p) + chunks0(p) - 1) / chunks0(p)
        }
        val combinedShape = shapes.head.indices.map(d =>
          if (d == p) shapes.map(_(p)).sum else shapes.head(d))
        val combinedZarray = zarrays.head match {
          case JObject(fields) => JObject(fields.map {
            case ("shape", _) => JField("shape", JArray(combinedShape.map(JLong(_)).toList))
            case other => other
          })
          case _ => fail(s"variable '$v': .zarray is not an object")
        }
        outMeta += Entries.meta(s"$v/.zarray",
          JsonMethods.compact(JsonMethods.render(combinedZarray)))
        bySrcKey.get((0, s"$v/.zattrs")).foreach(t => outMeta += Entries.meta(s"$v/.zattrs", t))
      }
    }
    require(concatVars.nonEmpty,
      s"kerchunk combine along '$dim': NO variable carries that dimension — " +
        s"nothing would concatenate (variables: ${variables.mkString(", ")})")
    val metaDf = Entries.frame(spark, outMeta.toSeq)

    // ---- data rows: concat vars re-key through the broadcast shift map;
    // identical vars pass through from source 0
    val shiftDf = broadcast(shifts.toSeq.toDF("variable", "__src", "__axis", "__shift"))
    // every data row must belong to a DECLARED variable: one with data
    // rows but no .zarray in any source is neither concat nor identical,
    // and sources >= 1 would silently drop below — refuse loudly (the
    // module doctrine; the concat path's unknown-pair guard's sibling)
    val data = tagged.filter(col("kind") =!= "meta")
      .filter(coalesce(assert_true(col("variable").isin(variables: _*),
        concat(lit(s"kerchunk combine along '$dim': data entry '"), col("key"),
          lit("' belongs to a variable with no .zarray in any source"))), lit(true)))
    val concatSet = concatVars.toSeq
    val shifted = data.filter(col("variable").isin(concatSet: _*))
      .join(shiftDf, Seq("variable", "__src"), "left")
      .filter(coalesce(assert_true(col("__shift").isNotNull,
        concat(lit(s"kerchunk combine along '$dim': data entry '"), col("key"),
          lit("' from an unknown (variable, source) pair"))), lit(true)))
      .withColumn("member", array_join(
        zip_with(transform(split(col("member"), "[.]"), s => s.cast("long")),
          sequence(lit(0), size(split(col("member"), "[.]")) - 1),
          (c, d) => when(d === col("__axis"), c + col("__shift")).otherwise(c)), "."))
      .withColumn("key", concat(col("variable"), lit("/"), col("member")))
      .select(Entries.columns: _*)
    val identical = data
      .filter(!col("variable").isin(concatSet: _*) && col("__src") === 0)
      .select(Entries.columns: _*)
    metaDf.unionByName(shifted).unionByName(identical)
  }

  /** Several stores' entries decode through ONE chain once each store's
    * variables are renamed apart: store `i`'s variable `v` becomes
    * `"<i>::v"` (a root-level key, `v == ""`, becomes `"<i>::"`). The
    * decode joins its metadata on `variable`, so tagged stores never see
    * each other's arrays; [[taggedOrdinal]] and [[untagged]] split a
    * decoded row's tag back. */
  def tagVariable(variable: Column, ordinal: Column): Column =
    concat(ordinal.cast("string"), lit("::"), variable)

  /** The store ordinal of a [[tagVariable]] variable. */
  def taggedOrdinal(variable: Column): Column = substring_index(variable, "::", 1).cast("int")

  /** The variable name inside a [[tagVariable]] one. */
  def untagged(variable: Column): Column =
    variable.substr(instr(variable, "::") + 2, lit(Int.MaxValue))

  /** A variable as error messages name it: its [[tagVariable]] prefix, if any,
    * removed (evaluated only when a refusal fires). */
  private[sources] def shown(variable: Column): Column =
    regexp_replace(variable, "^[0-9]+::", "")

  /** [[combineAlong]] in COORDINATE order (kerchunk MultiZarrToZarr's
    * coo-map mode): instead of trusting the caller's source order, the
    * concat dimension's OWN coordinate variable decodes per source (its
    * vectors are metadata-sized, but the fetch still runs distributed —
    * each source's coordinate entries are re-keyed `src::dim` so ONE
    * materialize/decode pass covers all K sources), sources sort by
    * their minimum coordinate, and OVERLAPPING source ranges refuse
    * loudly (an overlap means the inputs double-cover the dimension —
    * concatenation would duplicate cells). The winning order then feeds
    * [[combineAlong]] through a broadcast ordinal remap. */
  def combineAlongCoords(tagged: DataFrame, dim: String): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"kerchunk combine by '$dim' coordinates: $msg")
    val coordEntries = tagged.filter(col("variable") === dim)
      .withColumn("variable", tagVariable(col("variable"), col("__src")))
      .withColumn("key", concat(col("variable"), lit("/"), col("member")))
      .drop("__src")
    // decodeCoords, not decodeTyped: a RAGGED last source stores its edge
    // chunk padded, and the pad values would poison min/max (a -1 pad
    // sorts the last source first and reads as an overlap)
    val decoded = decodeCoords(materializeChunks(coordEntries),
        arrayMeta(coordEntries), attrDims(coordEntries))
      .groupBy("variable").agg(min("value").as("lo"), max("value").as("hi"))
      .collect()
      .map(r => (r.getString(0).takeWhile(_ != ':').toInt, r.getDouble(1), r.getDouble(2)))
    if (decoded.isEmpty)
      fail(s"no source carries a decodable coordinate variable '$dim' — " +
        "use combineAlong with an explicit source order instead")
    val srcCount = tagged.select("__src").distinct().count()
    if (decoded.length != srcCount)
      fail(s"only ${decoded.length} of $srcCount sources carry '$dim' coordinate chunks")
    val order = decoded.sortBy(_._2)
    order.sliding(2).foreach {
      case Array((sa, _, hiA), (sb, loB, _)) =>
        if (hiA >= loB)
          fail(s"sources $sa and $sb overlap along '$dim' " +
            s"($hiA >= $loB) — concatenation would double-cover the dimension")
      case _ => ()
    }
    val remap = broadcast(order.map(_._1).zipWithIndex.toSeq
      .toDF("__src", "__newSrc"))
    combineAlong(
      tagged.join(remap, Seq("__src")).drop("__src").withColumnRenamed("__newSrc", "__src"),
      dim)
  }

  /** WRITE a kerchunk PARQUET reference store from entry rows — the sink
    * half of [[readParquetRefs]], and the migration every real deployment
    * runs once its JSON index passes ~100 MB: ANY chunk map this engine
    * enumerates (a v1 JSON index incl. templates/gen expansion, a zarr
    * directory store, a native netCDF/HDF5 parse) becomes the fsspec
    * LazyReferenceMapper layout any kerchunk reader opens.
    *
    * Layout written (mirror of the read contract):
    *  - `.zmetadata`: consolidated metadata — every `meta` entry's JSON
    *    document under its key — plus `record_size` and
    *    `zarr_consolidated_format: 1`;
    *  - `<variable>/refs.<r>.parq`: rows at position `flat % recordSize`
    *    of file `r = flat / recordSize` where `flat` is the chunk's
    *    C-order index over the variable's chunk grid; positions whose
    *    chunk is absent hold ALL-NULL rows (positional addressing is the
    *    format's contract — a dropped row would shift every later chunk);
    *    records with no present chunk at all are not written. Whole-file
    *    refs store (path, 0, 0); inline entries store their bytes in
    *    `raw` (base64-prefixed values decode, plain values as UTF-8).
    *
    * Scale shape: metadata (`.zmetadata`, per-variable geometry) is the
    * driver plane; data rows map to (variable, record, row) by pure
    * arithmetic against broadcast geometry, ONE shuffle groups whole
    * record files onto tasks, and each task streams its files through
    * parquet-hadoop's writer — memory holds one ROW, not one record file.
    * Duplicate positions and data rows without `.zarray` geometry refuse
    * loudly. */
  def writeParquetRefs(entries: DataFrame, dir: String, recordSize: Long = 10000L,
                       storageOptions: Map[String, String] = Map.empty): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(recordSize > 0, s"kerchunk parquet write: recordSize $recordSize")
    val spark = entries.sparkSession
    val conf = new org.apache.spark.util.SerializableConfiguration(
      FsPaths.confWith(spark.sparkContext.hadoopConfiguration, storageOptions))

    // ---- metadata plane (driver): meta entries → consolidated .zmetadata
    val metaRows = entries.filter(col("kind") === "meta")
      .select("key", "variable", "member", "inline_value").collect()
    require(metaRows.nonEmpty,
      "kerchunk parquet write: no metadata entries — a store needs at least the .zarray documents")
    val metaDocs: Seq[(String, JValue)] = metaRows.toSeq.map { r =>
      val key = r.getString(0)
      val text = r.getString(3)
      require(text != null,
        s"kerchunk parquet write: metadata entry '$key' has no inline document " +
          "(byte-range metadata refs cannot consolidate)")
      key -> (try JsonMethods.parse(text) catch {
        case e: Exception => throw new IllegalArgumentException(
          s"kerchunk parquet write: metadata entry '$key' is not JSON: ${e.getMessage}")
      })
    }
    val meta = RefStoreMeta(metaDocs, recordSize, "kerchunk parquet write")
    val geometry = meta.geometry
    val root = FsPaths.hadoopPath(dir)
    val fs = try FsPaths.fileSystemFor(root, conf.value)
    catch { case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
      FsPaths.connectorRefusal(dir, e) }
    // the shared store writer LEASE: the single-writer contract is checked
    // at acquisition, and a dead same-host writer's lease self-breaks
    StoreMeta.withWriterLock(fs, root, "kerchunk parquet write") {
      // heal a crashed swap before deciding what's here (the build-path
      // rule all three stores share)
      StoreMeta.recoverCrashedSwap(fs, root, ".zmetadata")
      if (fs.exists(root)) {
        // stale record files would shadow the new store, so a PRIOR STORE
        // (it carries .zmetadata) or an empty directory clears — but a
        // mistyped path at unrelated data must refuse, not be wiped
        val priorStore = fs.exists(new org.apache.hadoop.fs.Path(root, ".zmetadata"))
        require(priorStore || fs.listStatus(root).isEmpty,
          s"kerchunk parquet write: '$dir' exists and is neither empty nor a " +
            "parquet reference store (.zmetadata) — refusing to delete unrelated data")
      }
      // the whole store stages into the hidden sibling and swaps in only
      // after its .zmetadata (the completion marker) writes LAST, so a
      // crash leaves the prior store byte-intact, or recoverable on the
      // next open if it lands between the swap's two renames
      StoreMeta.rebuildStaged(fs, root) { staged =>
        fs.mkdirs(staged)
        writeRecordFiles(recordRowsOf(entries, geometry, recordSize), staged,
          recordSize, geometry.map { case (v, (_, n)) => v -> n }, conf,
          overwrite = false)
        meta.commit(fs, staged)
      }
    }
  }

  /** A parquet reference store's `.zmetadata`: the consolidated metadata
    * documents by key, in document order, and `record_size`. The one
    * parse and render of the document, shared by [[readParquetRefs]],
    * [[writeParquetRefs]] and [[appendParquetRefs]]; `where` prefixes its
    * refusals. */
  private final case class RefStoreMeta(docs: Seq[(String, org.json4s.JValue)],
                                        recordSize: Long, where: String) {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(recordSize > 0, s"$where: record_size $recordSize")

    /** Per named array (document order): its chunk grid and chunk count,
      * from the `.zarray` docs. A root `.zarray` names no array here. */
    lazy val geometry: ListMap[String, (Seq[Long], Long)] = {
      def longs(v: JValue, what: String): Seq[Long] = v match {
        case JArray(items) => items.map {
          case JInt(x) => x.longValue
          case other => throw new IllegalArgumentException(
            s"$where: $what holds ${other.getClass.getSimpleName}")
        }
        case other => throw new IllegalArgumentException(
          s"$where: $what is ${other.getClass.getSimpleName}, not an array")
      }
      ListMap(docs.collect {
        case (key, zarray) if key.endsWith("/.zarray") =>
          val variable = key.dropRight("/.zarray".length)
          val shape  = longs(zarray \ "shape", s"$variable .zarray shape")
          val chunks = longs(zarray \ "chunks", s"$variable .zarray chunks")
          require(shape.length == chunks.length && chunks.forall(_ > 0),
            s"$where: variable '$variable' has shape $shape / chunks $chunks")
          val grid = shape.zip(chunks).map { case (s, c) => math.max(1L, (s + c - 1) / c) }
          variable -> ((grid, grid.product))
      }: _*)
    }

    /** `_ARRAY_DIMENSIONS` per variable, from the `.zattrs` docs. */
    lazy val dims: Map[String, Seq[String]] = docs.collect {
      case (key, doc) if key.endsWith("/.zattrs") =>
        key.dropRight("/.zattrs".length) -> ((doc \ "_ARRAY_DIMENSIONS") match {
          case JArray(ds) => ds.collect { case JString(x) => x }
          case _          => Seq.empty[String]
        })
    }.toMap

    /** Commit the document as `<root>/.zmetadata` — atomically, so a
      * failed write leaves the previous document in place. */
    def commit(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path): Unit =
      StoreMeta.atomicWriteJson(fs, new org.apache.hadoop.fs.Path(root, ".zmetadata"),
        JsonMethods.compact(JsonMethods.render(JObject(List(
          JField("metadata", JObject(docs.map { case (k, v) => JField(k, v) }.toList)),
          JField("record_size", JLong(recordSize)),
          JField("zarr_consolidated_format", JInt(1)))))))
  }

  private object RefStoreMeta {
    /** Read and parse `<root>/.zmetadata` (size-capped: consolidated
      * metadata is the small plane). A missing document is a plain
      * FileNotFound naming the path. */
    def load(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
             where: String): RefStoreMeta = {
      import org.json4s._
      val path = new org.apache.hadoop.fs.Path(root, ".zmetadata")
      val len = fs.getFileStatus(path).getLen
      require(len <= (256L << 20),
        s"$where: .zmetadata is $len bytes (cap 256 MiB) — " +
          "consolidated metadata is the small plane; a document this big is corrupt")
      val text = {
        val in = fs.open(path)
        try {
          val buf = new Array[Byte](len.toInt)
          in.readFully(0, buf)
          new String(buf, "UTF-8")
        } finally in.close()
      }
      val json = org.json4s.jackson.JsonMethods.parse(text)
      val docs = json \ "metadata" match {
        case JObject(fields) => fields
        case other => throw new IllegalArgumentException(
          s"$where: .zmetadata 'metadata' is ${other.getClass.getSimpleName}, not an object")
      }
      val recordSize = json \ "record_size" match {
        case JInt(v)  => v.longValue
        case JNothing => 10000L // fsspec LazyReferenceMapper's default
        case other => throw new IllegalArgumentException(
          s"$where: record_size is ${other.getClass.getSimpleName}")
      }
      RefStoreMeta(docs, recordSize, where)
    }
  }

  /** Data entry rows → (variable, __record, __flat, url, offset, length,
    * __raw) against a chunk-grid geometry, with the write-side guards
    * (unknown variable, rank mismatch, out-of-grid position). Shared by
    * [[writeParquetRefs]] and [[appendParquetRefs]]. */
  private def recordRowsOf(entries: DataFrame, geometry: Map[String, (Seq[Long], Long)],
                           recordSize: Long): DataFrame = {
    val spark = entries.sparkSession
    import spark.implicits._
    val geoDf = broadcast(geometry.toSeq.map { case (v, (grid, n)) => (v, grid, n) }
      .toDF("variable", "__grid", "__nchunks"))
    val gridN = when(size(col("__grid")) === 0, array(lit(1L))).otherwise(col("__grid"))
    // C-order flat index from the member's '.'-separated grid coordinates
    val coords = transform(split(col("member"), "[.]"), s => s.cast("long"))
    val flatCol = aggregate(
      zip_with(coords, transform(sequence(lit(0), size(gridN) - 1), d =>
        aggregate(slice(gridN, d + lit(2), size(gridN)), lit(1L), (a, x) => a * x)),
        (c, s) => c * s),
      lit(0L), (a, x) => a + x)
    entries.filter(col("kind") =!= "meta")
      .join(geoDf, Seq("variable"), "left")
      .filter(coalesce(assert_true(col("__nchunks").isNotNull,
        concat(lit("kerchunk parquet write: data entry '"), col("key"),
          lit("' has no .zarray geometry"))), lit(true)))
      .filter(coalesce(assert_true(size(coords) === size(gridN),
        concat(lit("kerchunk parquet write: chunk key '"), col("key"),
          lit("' rank does not match its grid"))), lit(true)))
      .withColumn("__flat", flatCol)
      .filter(coalesce(assert_true(col("__flat") >= 0 && col("__flat") < col("__nchunks"),
        concat(lit("kerchunk parquet write: chunk '"), col("key"),
          lit("' is outside its "), col("__nchunks"), lit("-chunk grid"))), lit(true)))
      .select(col("variable"),
        call_function("div", col("__flat"), lit(recordSize)).as("__record"),
        col("__flat"),
        col("url"), col("offset"), col("length"),
        // inline bytes: base64-prefixed decodes, plain text as UTF-8 —
        // exactly what materializeChunks would produce for the entry
        when(col("url").isNull && col("inline_value").isNotNull,
          when(col("inline_value").startsWith("base64:"),
            unbase64(expr("substring(inline_value, 8)")))
            .otherwise(col("inline_value").cast("binary"))).as("__raw"))
  }

  /** Stream (variable, record)-grouped rows into full-length
    * `refs.<r>.parq` record files under `root` — ONE shuffle groups whole
    * record files onto tasks; memory holds one row. Shared by
    * [[writeParquetRefs]] and [[appendParquetRefs]] (which feeds only the
    * boundary-and-beyond records). */
  private def writeRecordFiles(rows: DataFrame, root: org.apache.hadoop.fs.Path,
      recSize: Long, nchunksByVar: Map[String, Long],
      conf: org.apache.spark.util.SerializableConfiguration,
      overwrite: Boolean): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    val allowOverwrite = overwrite // closure-captured primitive
    rows
      .repartition(col("variable"), col("__record"))
      .sortWithinPartitions("variable", "__record", "__flat")
      .as[(String, Long, Long, Option[String], Option[Long], Option[Long], Option[Array[Byte]])]
      .foreachPartition {
        it: Iterator[(String, Long, Long, Option[String], Option[Long], Option[Long], Option[Array[Byte]])] =>
        import org.apache.parquet.example.data.simple.SimpleGroupFactory
        import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
        import org.apache.parquet.schema.MessageTypeParser
        val schema = MessageTypeParser.parseMessageType(
          """message kerchunk_refs {
            |  optional binary path (STRING);
            |  optional int64 offset;
            |  optional int64 size;
            |  optional binary raw;
            |}""".stripMargin)
        val factory = new SimpleGroupFactory(schema)
        var writer: org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group] = null
        var curVar: String = null
        var curRec: Long = -1L
        var nextRow: Long = 0L
        // append path: the record file is replaced ATOMICALLY — bytes land
        // in a dot-prefixed sibling (invisible to Spark's file index, so a
        // concurrent reader never scans a half-written parquet) and a
        // FileContext rename with Rename.OVERWRITE swaps it in (atomic on
        // POSIX and HDFS). A crash mid-write leaves the OLD record file
        // intact and a stray dot-file; a crash can never lose or tear rows
        // the still-current .zmetadata addresses. Appends are single-writer:
        // two concurrent appends race the rename (last swap wins whole).
        var pendingRename: Option[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.Path)] = None
        var current: org.apache.hadoop.fs.Path = null
        def pad(until: Long): Unit =
          while (nextRow < until) { writer.write(factory.newGroup()); nextRow += 1 }
        // a record file is always FULL-length (up to the variable's chunk
        // count): trailing absent chunks pad as null rows like interior
        // ones — a short file would turn a missing-chunk lookup at a
        // padded position into an out-of-bounds read instead of "missing"
        def close(): Unit = if (writer != null) {
          pad(math.min((curRec + 1) * recSize, nchunksByVar(curVar)))
          writer.close(); writer = null
          pendingRename.foreach { case (tmp, fin) =>
            val fc = org.apache.hadoop.fs.FileContext.getFileContext(
              fin.getFileSystem(conf.value).getUri, conf.value)
            fc.rename(fc.makeQualified(tmp), fc.makeQualified(fin),
              org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          }
          pendingRename = None
        }
        // failure path: close WITHOUT padding and NEVER rename — padding
        // would make the half-written file look complete (its unwritten
        // tail reads as "missing chunk"), and the swap would then replace
        // intact old rows with that fiction; the in-flight file is deleted
        // so a task retry can recreate it under either write mode
        def abort(): Unit = if (writer != null) {
          try writer.close() catch { case _: Throwable => () }
          writer = null
          pendingRename = None
          if (current != null)
            try current.getFileSystem(conf.value).delete(current, false)
            catch { case _: Throwable => () }
        }
        try {
          it.foreach { case (variable, record, flat, path, offset, len, raw) =>
            if (variable != curVar || record != curRec) {
              close()
              val finalFile = new org.apache.hadoop.fs.Path(root,
                s"$variable/refs.$record.parq")
              // fresh build writes the final name directly; an APPEND stages
              // in a hidden sibling and swaps atomically on close (above)
              val file = if (allowOverwrite)
                new org.apache.hadoop.fs.Path(root,
                  s"$variable/.refs.$record.parq.inprogress")
              else finalFile
              val wConf = new org.apache.hadoop.conf.Configuration(conf.value)
              GroupWriteSupport.setSchema(schema, wConf)
              writer = ExampleParquetWriter.builder(
                  org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, wConf))
                .withConf(wConf)
                .withType(schema)
                .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
                // a fresh build keeps CREATE's collision refusal (the dir
                // was cleared, so any surviving file is a logic error); an
                // APPEND may overwrite a stale .inprogress left by a crash
                .withWriteMode(
                  if (allowOverwrite) org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE
                  else org.apache.parquet.hadoop.ParquetFileWriter.Mode.CREATE)
                .build()
              pendingRename = if (allowOverwrite) Some((file, finalFile)) else None
              current = file
              curVar = variable; curRec = record; nextRow = record * recSize
            }
            require(flat >= nextRow,
              s"kerchunk parquet write: duplicate chunk position $flat in $variable")
            pad(flat)
            val g = factory.newGroup()
            // whole-file refs ([url], no offset/length) store (path, 0, 0)
            // — fsspec's own convention the read side inverts; a
            // half-specified range (offset without length) has no parquet
            // form and refuses rather than silently becoming whole-file
            require(offset.isDefined == len.isDefined,
              s"kerchunk parquet write: entry at position $flat of $variable has " +
                s"offset=$offset but length=$len — a byte range needs both")
            // a zero-length range has no parquet form: (path, off, 0) IS
            // the whole-file encoding, so writing it would silently turn
            // an empty range into 'read the entire file'
            require(len.forall(_ > 0),
              s"kerchunk parquet write: entry at position $flat of $variable has a " +
                "zero-length byte range — unrepresentable (size 0 encodes whole-file)")
            path.foreach(p => g.append("path", p))
            if (path.isDefined) {
              g.append("offset", offset.getOrElse(0L))
              g.append("size", len.getOrElse(0L))
            }
            raw.foreach(r => g.append("raw",
              org.apache.parquet.io.api.Binary.fromConstantByteArray(r)))
            require(path.isDefined || raw.isDefined,
              s"kerchunk parquet write: entry at position $flat of $variable has " +
                "neither a url nor inline bytes")
            writer.write(g)
            nextRow = flat + 1
          }
          close() // success: pad the tail and (append mode) swap atomically
        } catch { case t: Throwable => abort(); throw t }
      }
  }

  /** APPEND new per-file reference sets to an EXISTING parquet reference
    * store along `dim` (r13) — the production path for daily-growing
    * reference indexes: a fresh [[writeParquetRefs]] of the whole history
    * would rewrite every record file; real deployments append. `newTagged`
    * is a [[readMany]]-style `__src`-tagged entries frame of the NEW
    * sources; the existing store rides as source 0, so every
    * [[combineAlong]] guard (same variable set, codec/dims agreement,
    * interior-ragged refusal, unknown-variable refusal) applies to the
    * append unchanged, and the result is chunk-for-chunk identical to a
    * one-shot build over all sources.
    *
    * Incremental by construction: `dim` must be each concatenating
    * variable's LEADING dimension (time, in practice — any other axis
    * changes the C-order flat index of EXISTING chunks, so no incremental
    * form exists; the refusal says to build a fresh store instead). With
    * `dim` leading, existing chunk positions are untouched and new chunks
    * land strictly after them, so only the BOUNDARY record file (the old
    * last one, when partially filled) is rewritten and new record files
    * follow it; identical variables and every earlier record stay
    * byte-untouched on disk. The rewrite is safe against its own input:
    * the rows reach the writer through a shuffle, so the map stage has
    * fully read the old record files before any task overwrites one. The
    * boundary replacement itself is ATOMIC (r14): bytes stage in a hidden
    * `.refs.<r>.parq.inprogress` sibling — invisible to Spark's file
    * index, so concurrent readers never scan it — and a `FileContext`
    * rename with `Rename.OVERWRITE` swaps it over the old file, so a
    * crash mid-append leaves every old row addressable by the
    * still-current metadata (appends are single-writer: two concurrent
    * appends race the swap, they don't tear it).
    * `.zmetadata` (the grown shapes) writes LAST, after every record file
    * landed — a reader mid-append sees the old metadata over unchanged
    * positions, never a torn store. `record_size` is the store's fact and
    * is carried over; an append can never change row addressing. */
  def appendParquetRefs(spark: SparkSession, dir: String, newTagged: DataFrame,
                        dim: String,
                        storageOptions: Map[String, String] = Map.empty): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      FsPaths.confWith(spark.sparkContext.hadoopConfiguration, storageOptions))
    val root = FsPaths.hadoopPath(dir)
    val fs = try FsPaths.fileSystemFor(root, conf.value)
    catch { case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
      FsPaths.connectorRefusal(dir, e) }
    val where = "kerchunk parquet append"
    StoreMeta.withWriterLock(fs, root, where) {
      // heal a crashed rebuild swap before reading the store (r17)
      StoreMeta.recoverCrashedSwap(fs, root, ".zmetadata")
      require(fs.exists(new org.apache.hadoop.fs.Path(root, ".zmetadata")),
        s"$where: '$dir' is not a parquet reference store (no .zmetadata)")
      val old = RefStoreMeta.load(fs, root, where)
      val (recordSize, oldGeometry) = (old.recordSize, old.geometry)

      // existing store = source 0; the new sources shift up by one, so the
      // full combine machinery arbitrates the append. The store's DATA scan
      // is boundary-only: the append rewrites nothing below the old last
      // record of each dim-carrying variable, so only THAT record file per
      // candidate is read — an append to a years-old store reads O(1) old
      // record files, not the whole history (metadata always loads whole,
      // so every combine guard still sees the full variable set).
      val boundaryRecs: Map[String, Long] = oldGeometry.collect {
        case (v, (_, oldN)) if old.dims.get(v).exists(_.contains(dim)) =>
          v -> oldN / recordSize
      }
      val existing = readParquetRefs(spark, dir, storageOptions,
        onlyRecords = Some(boundaryRecs))
      val tagged = existing.withColumn("__src", lit(0))
        .unionByName(newTagged.withColumn("__src", col("__src").cast("int") + lit(1)))
      val combined = combineAlong(tagged, dim)

      // grown geometry + the leading-axis requirement
      val grownMeta = RefStoreMeta(combined.filter(col("kind") === "meta")
        .select("key", "inline_value").collect().toSeq
        .map(r => r.getString(0) -> org.json4s.jackson.JsonMethods.parse(r.getString(1))),
        recordSize, where)
      val newGeometry = grownMeta.geometry
      val grown = newGeometry.filter { case (v, (_, newN)) =>
        newN != oldGeometry.getOrElse(v,
          throw new IllegalArgumentException(
            s"$where: variable '$v' is not in the existing store"))._2
      }
      grown.keys.foreach { v =>
        require(grownMeta.dims.get(v).exists(_.headOption.contains(dim)),
          s"$where: variable '$v' concatenates along '$dim', which is " +
            "not its LEADING dimension — existing chunk positions would shift, so no " +
            "incremental append exists; build a fresh store with writeParquetRefs")
      }
      require(grown.nonEmpty, // combineAlong already refuses a no-op combine
        s"$where: nothing grew along '$dim'")

      // only the boundary-and-beyond records of grown variables rewrite;
      // identical variables and earlier records never leave the disk
      import spark.implicits._
      val boundary = grown.map { case (v, _) =>
        (v, (oldGeometry(v)._2 / recordSize) * recordSize)
      }.toSeq
      val bDf = broadcast(boundary.toDF("variable", "__from"))
      val rows = recordRowsOf(combined, newGeometry, recordSize)
        .join(bDf, Seq("variable")) // inner: untouched variables drop here
        .filter(col("__flat") >= col("__from"))
        .drop("__from")
      writeRecordFiles(rows, root, recordSize,
        newGeometry.map { case (v, (_, n)) => v -> n }, conf, overwrite = true)

      // metadata last: the store is torn-read-safe throughout the append
      grownMeta.commit(fs, root)
    }
  }

  /** Materialize the BYTES each reference entry points at — one level deeper
    * than the chunk map, matching the reference's zarr open of the same
    * index (source.py:82-86) for the storage schemes available here:
    *
    *  - `inline`/`meta` entries: the value itself is the chunk — UTF-8
    *    bytes, or base64-decoded when `base64:`-prefixed (kerchunk v1 spec);
    *  - `ref` entries with a url: a POSITIONED read of exactly
    *    (offset, length) — never the whole file — through the Hadoop
    *    `FileSystem` API, so `file://` (and bare paths) and `hdfs://` share
    *    one code path and object-store schemes need only their connector
    *    jar (`s3a://` + hadoop-aws, ...), not a code change. Rows are
    *    hashed on (url, offset band) and range-sorted inside each
    *    partition, so each task reads its ranges in ascending order AND one
    *    physical file with thousands of chunks (the kerchunk-over-netCDF
    *    shape) spreads its bands over several tasks instead of serializing
    *    into one;
    *  - `ref` entries whose scheme has no installed Hadoop FileSystem
    *    (s3:// without a connector), or an http(s):// url (Hadoop's http FS
    *    cannot seek, so positioned range reads are impossible): raise
    *    `UnsupportedOperationException` — the engine's connector boundary
    *    (same posture as EsmDataSource.openAsset).
    *
    * Output: (key, variable, member, kind, url, offset, length, data:binary).
    *
    * `maxChunkBytes` bounds a single positioned read (default 256 MiB): a
    * corrupt index with a pathological length must fail loudly, not OOM an
    * executor. `bytesPerTask` is the offset-band width of the partition key
    * (default 256 MiB): smaller values spread one file across more tasks.
    *
    * Partition count: min(`spark.sql.shuffle.partitions`, default
    * parallelism) — known without a job, so building the frame runs none,
    * and AQE leaves an explicit count alone (it would otherwise coalesce on
    * the SHUFFLED bytes, the ref metadata, far below the bytes each row
    * reads). A tiny store therefore runs at most one task per core, never
    * hundreds of empty ones. The trade-off at scale: the read stage never
    * runs more tasks than the session has cores (or shuffle partitions),
    * so a huge index reads in core-count tasks of many bands each; the
    * bands still spread one file over all of them.
    */
  def materializeChunks(entries: DataFrame,
                        maxChunkBytes: Long = 256L << 20,
                        bytesPerTask: Long = 256L << 20,
                        storageOptions: Map[String, String] = Map.empty): DataFrame = {
    require(bytesPerTask > 0, s"bytesPerTask must be positive, got $bytesPerTask")
    val spark = entries.sparkSession
    import spark.implicits._
    val cols = Seq("key", "variable", "member", "kind", "url", "offset", "length", "data")

    // NOTE: `inline_value` is non-null even for ARRAY entries (variant '$'
    // as string yields the JSON text), so branching must use kind + url:
    // a metadata entry (.zattrs etc.) stored as a byte-range ref has
    // kind='meta' but a non-null url — it belongs to the positioned-read
    // branch, not silently dropped (nor decoded as its own JSON text)
    val inline = entries
      .filter(col("kind") =!= "ref" && col("url").isNull && col("inline_value").isNotNull)
      .withColumn("data",
        when(col("inline_value").startsWith("base64:"),
          unbase64(expr("substring(inline_value, 8)")))
          .otherwise(col("inline_value").cast(org.apache.spark.sql.types.BinaryType)))
      .select(cols.map(col): _*)

    val hconf = FsPaths.broadcastConf(spark, storageOptions)
    // kind='seqref' (DAP2 Sequence streams, Dap2Index.read) is a DIFFERENT
    // plane — its url is a whole record stream, not a chunk; admitting it
    // here would fetch the entire sequence per array-plane decode (and
    // refuse outright past maxChunkBytes)
    val withBand = entries
      .filter(col("kind") =!= "seqref")
      .filter(col("kind") === "ref" || col("url").isNotNull)
      .select($"key", $"variable", $"member", $"kind", $"url", $"offset", $"length",
        floor(coalesce($"offset", lit(0L)) / lit(bytesPerTask)).as("__band"))
    // (url, offset band), NOT url alone: all chunks of one physical file on
    // one key would serialize a 1000-chunk netCDF into a single task —
    // banding spreads one file's bands over the partitions while the
    // within-partition sort below keeps each task's reads
    // sequential-ascending per file
    val nTasks = math.max(1, math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.sparkContext.defaultParallelism))
    val refs = withBand
      .repartition(nTasks, col("url"), col("__band"))
      .sortWithinPartitions("url", "offset")
      .drop("__band")
      .as[(String, String, String, String, String, Option[Long], Option[Long])]
      .mapPartitions { it =>
        val conf = hconf.value.value
        var openUrl: String = null
        var openPath: org.apache.hadoop.fs.Path = null
        var fs: org.apache.hadoop.fs.FileSystem = null
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        var fileLen = -1L // lazy: only stat'd when a ref omits its length
        def hadoopPath(url: String): org.apache.hadoop.fs.Path = {
          val scheme = if (url.contains("://")) url.takeWhile(_ != ':').toLowerCase else ""
          // Hadoop's http(s) FileSystem cannot seek — positioned range
          // reads are impossible over it, so refuse rather than stream
          // whole objects
          if (scheme == "http" || scheme == "https") FsPaths.connectorRefusal(url, null)
          FsPaths.hadoopPath(url)
        }
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => if (in != null) in.close()))
        it.map { case (key, variable, member, kind, url, offsetOpt, lengthOpt) =>
          // null BEFORE the open-url comparison: null urls sort first, so
          // `null != openUrl(=null)` is false and the open would be skipped,
          // turning the malformed-ref diagnostic into an NPE downstream
          if (url == null) throw new IllegalArgumentException(
            s"kerchunk entry '$key': malformed ref (empty array — no url)")
          if (url != openUrl) {
            if (in != null) { in.close(); in = null }
            openPath = hadoopPath(url)
            try {
              fs = FsPaths.fileSystemFor(openPath, conf)
              in = fs.open(openPath)
            } catch {
              case e: java.io.IOException if FsPaths.isNoFilesystem(e) =>
                FsPaths.connectorRefusal(url, e)
            }
            fileLen = -1L
            openUrl = url
          }
          // a bare `[url]` ref (no offset/length) is the whole file per the
          // kerchunk v1 spec
          val offset = offsetOpt.getOrElse(0L)
          val length = lengthOpt.getOrElse {
            if (fileLen < 0) fileLen = fs.getFileStatus(openPath).getLen
            fileLen - offset
          }
          require(length >= 0 && length <= maxChunkBytes,
            s"kerchunk chunk $key: length $length outside [0, $maxChunkBytes]")
          val buf = new Array[Byte](length.toInt)
          // PositionedReadable pread: no seek-state churn between the
          // interleaved ranges of different bands of the same file
          try in.readFully(offset, buf, 0, length.toInt)
          catch {
            case e: java.io.EOFException => throw new IllegalArgumentException(
              s"kerchunk chunk $key: EOF reading [$offset, ${offset + length}) of $url", e)
          }
          (key, variable, member, kind, url, offset, length, buf)
        }
      }
      .toDF("key", "variable", "member", "kind", "url", "offset", "length", "data")
      .select(cols.map(col): _*)

    inline.unionByName(refs)
  }

  /** Zarr array metadata per variable, parsed from the `.zarray` entries:
    * (variable, dtype, shape, chunks, compressor, filters). These
    * sub-documents have a fixed schema, so plain JSON functions suffice. */
  def arrayMeta(entries: DataFrame): DataFrame =
    entries.filter(col("member") === ".zarray")
      .select(
        col("variable"),
        get_json_object(col("inline_value"), "$.dtype").as("dtype"),
        from_json(get_json_object(col("inline_value"), "$.shape"), ArrayType(LongType)).as("shape"),
        from_json(get_json_object(col("inline_value"), "$.chunks"), ArrayType(LongType)).as("chunks"),
        get_json_object(col("inline_value"), "$.compressor.id").as("compressor"),
        get_json_object(col("inline_value"), "$.filters").as("filters"),
        // in-chunk element order: "C" (row-major, the default) or "F" —
        // absent means C (kerchunk refs often omit it)
        coalesce(get_json_object(col("inline_value"), "$.order"), lit("C")).as("order"),
        // stored-axis permutation for a zarr v3 transpose codec that is
        // neither identity nor full reversal (ZarrDirectoryIndex embeds
        // it); null for every plain C/F array
        from_json(get_json_object(col("inline_value"), "$._graft_perm"),
          ArrayType(LongType)).as("perm"),
      )

  /** Dimension names per variable from the `.zattrs` `_ARRAY_DIMENSIONS`
    * attribute — the zarr v2 / xarray convention the reference's open
    * consumes (source.py:82-96). Variables without the attribute are absent
    * (callers left-join and fall back to positional `dim<i>` names). */
  def attrDims(entries: DataFrame): DataFrame =
    entries.filter(col("member") === ".zattrs")
      .select(
        col("variable"),
        from_json(get_json_object(col("inline_value"), "$._ARRAY_DIMENSIONS"),
          ArrayType(org.apache.spark.sql.types.StringType)).as("dims"))
      .filter(col("dims").isNotNull)

  /** [[decodeTyped]] plus LABELED COORDINATES: each value's flat in-chunk
    * position is mapped to its per-dimension GLOBAL indices — what an ESM
    * user actually addresses (time/lat/lon), mirroring the reference's
    * dimension-labeled xarray open (source.py:82-96) one step further than
    * the flat `idx`.
    *
    * Pure integer math from the `.zarray` geometry: the chunk key "r.c"
    * gives the chunk's grid position, C-order strides over `chunks` give the
    * local coords, `global_d = grid_d * chunks_d + local_d`. Zarr v2 stores
    * EDGE chunks padded to the full chunk shape, so any element whose
    * global coordinate exceeds `shape` is write-padding, not data — dropped
    * here (values land exactly once, never duplicated).
    *
    * Output: (variable, chunk, idx, value, dims: array&lt;string&gt;,
    * coords: array&lt;long&gt;) — `dims` from `_ARRAY_DIMENSIONS` when
    * declared, else `dim0..dimN`. Everything is per-row projection over the
    * decoded rows plus two broadcast joins of per-variable metadata: no
    * shuffle, embarrassingly parallel at 100 TB.
    */
  def decodeCoords(chunks: DataFrame, meta: DataFrame, dims: DataFrame): DataFrame =
    labeledCoords(decodeTyped(chunks, meta), meta, dims, "value")

  /** [[decodeCoords]]'s LABEL-plane twin: fixed-width STRING variables
    * (`|S<n>`/`<U<n>` — coordinate labels like station or region names)
    * decoded to (variable, chunk, idx, label, dims, coords) rows with the
    * same chunk-grid math, padding drop and dimension labeling. Numeric
    * variables are absent here exactly as string variables are absent from
    * the numeric plane. */
  def decodeLabelCoords(chunks: DataFrame, meta: DataFrame, dims: DataFrame): DataFrame =
    labeledCoords(decodeLabelsTyped(chunks, meta), meta, dims, "label")

  /** Shared coordinate labeling over a decoded (variable, chunk, idx,
    * &lt;payload&gt;) frame — the chunk-grid math is payload-agnostic. */
  private def labeledCoords(decoded: DataFrame, meta: DataFrame, dims: DataFrame,
                            payload: String): DataFrame = {
    val grid = transform(split(col("chunk"), "[.]"), s => s.cast("long"))
    // in-chunk stride per the declared element order: C (row-major,
    // stride_d = prod(chunks[d+1..]), every mainstream writer's default)
    // or F (column-major, stride_d = prod(chunks[..d-1]) — v2 order:"F",
    // or a v3 full-reversal transpose codec translated to it). Any other
    // declared order asserts loudly below rather than mis-addressing.
    val coordsExpr = transform(sequence(lit(0), size(col("chunks")) - 1), d => {
      val strideC = aggregate(
        slice(col("chunks"), d + lit(2), size(col("chunks"))), lit(1L), (a, x) => a * x)
      val strideF = aggregate(
        slice(col("chunks"), lit(1), d), lit(1L), (a, x) => a * x)
      // general stored-axis permutation (a v3 transpose that is neither
      // identity nor reversal): stored axis k holds logical dim perm[k],
      // so the stored chunk shape is perm-gathered and logical dim d
      // reads stored axis k = position of d in perm, with C strides over
      // the STORED shape
      val storedChunks = transform(col("perm"), p => get(col("chunks"), p.cast("int")))
      val k = (array_position(col("perm"), d.cast("long")) - 1).cast("int")
      val strideP = aggregate(
        slice(storedChunks, k + lit(2), size(storedChunks)), lit(1L), (a, x) => a * x)
      val stride = when(col("perm").isNotNull, strideP)
        .when(col("order") === "F", strideF).otherwise(strideC)
      val local = call_function("div", col("idx").cast("long"), stride) % get(col("chunks"), d)
      get(grid, d) * get(col("chunks"), d) + local
    })
    val named = coalesce(col("dims"),
      transform(sequence(lit(0), size(col("chunks")) - 1), d => concat(lit("dim"), d)))
    decoded
      .join(broadcast(meta.select(col("variable"), col("shape"), col("chunks"),
        coalesce(col("order"), lit("C")).as("order"), col("perm"))), Seq("variable"))
      .join(broadcast(dims), Seq("variable"), "left")
      .filter(coalesce(assert_true(col("order").isin("C", "F"),
        concat(lit("zarr variable '"), shown(col("variable")), lit("' declares order '"),
          col("order"), lit("' — only C and F address correctly"))), lit(true)))
      // 0-d (scalar) arrays: zarr stores shape [] / chunks [] with chunk
      // key "0" — normalize both to [1] so the grid math yields coord [0];
      // un-normalized, sequence(0, -1) makes coords null and the padding
      // filter silently drops the value
      .withColumn("shape", when(size(col("shape")) === 0, array(lit(1L))).otherwise(col("shape")))
      .withColumn("chunks", when(size(col("chunks")) === 0, array(lit(1L))).otherwise(col("chunks")))
      // coords staged into its own projection: referenced by the padding
      // filter AND the output — inlining would re-evaluate the whole
      // transform per reference
      .select(col("variable"), col("chunk"), col("idx"), col(payload),
        col("shape"), named.as("dims"), coordsExpr.as("coords"))
      .filter(forall(zip_with(col("coords"), col("shape"), (g, s) => g < s), b => b))
      .drop("shape")
  }

  /** Whether a `member` key names a data chunk ("0", "1.0.2") rather than
    * metadata (".zarray", ".zattrs"): the only rows the decode planes read. */
  def isChunk(member: Column): Column = member.rlike("^[0-9]+([.][0-9]+)*$")

  /** Decode materialized DATA chunks into typed values — the full depth of
    * the reference's zarr open (source.py:82-96) for the codecs the JDK
    * carries (raw/zlib/gzip; see [[ZarrCodec]]).
    *
    * Each chunk row joins its variable's `.zarray` metadata — a broadcast
    * (one tiny row per variable) — then decompresses, splits elements and
    * widens to double inside ONE generated stage, exploding to
    * (variable, chunk, idx, value) rows. `idx` is the element's flat
    * position in the chunk's stored order (C-order row-major for every
    * writer that matters). At 100 TB the work is embarrassingly parallel:
    * per-chunk decode, no shuffle until whatever aggregation follows.
    *
    * Rows whose dtype is non-numeric are dropped (the codec returns null).
    * Declared v2 filters are inverted for shuffle/delta ([[ZarrCodec]]);
    * any other filter id raises — silently wrong values would be worse
    * than a loud connector-boundary error.
    */
  def decodeTyped(chunks: DataFrame, meta: DataFrame): DataFrame =
    decodedPlane(chunks, meta, ZarrCodec.zarr_decode, "value")

  /** [[decodeTyped]]'s LABEL-plane twin: fixed-width string chunks
    * (`|S<n>`/`<U<n>`) decode to (variable, chunk, idx, label) rows —
    * [[ZarrCodec.decodeLabels]] returns null for every other dtype, so
    * numeric variables drop here exactly as string variables drop from
    * the numeric plane. Same scan shape: one generated stage, no shuffle. */
  def decodeLabelsTyped(chunks: DataFrame, meta: DataFrame): DataFrame =
    decodedPlane(chunks, meta, ZarrCodec.zarr_decode_labels, "label")

  /** The shared body of the value and label decode planes: the data
    * chunks joined to their variable's `.zarray` metadata, decoded by
    * `kernel` (data, dtype, compressor, filters) into (variable, chunk,
    * idx, &lt;payload&gt;) rows. */
  private def decodedPlane(chunks: DataFrame, meta: DataFrame,
                           kernel: (Column, Column, Column, Column) => Column,
                           payload: String): DataFrame =
    chunks.filter(isChunk(col("member")))
      // LEFT join so a data chunk whose variable has NO .zarray row (or a
      // .zarray stored as a byte-range ref, which arrayMeta cannot parse —
      // dtype comes back null either way) is still present to fail the
      // dtype assertion below; an inner join would silently drop its data
      .join(broadcast(meta), Seq("variable"), "left")
      // assert_true returns NULL on pass (coalesce → keep row) and raises on
      // the guarded condition — evaluated per row, inside the scan stage
      .filter(coalesce(assert_true(col("dtype").isNotNull,
        concat(lit("zarr variable '"), shown(col("variable")),
          lit("' has no inline .zarray metadata (missing, or stored as a " +
            "byte-range ref) — cannot decode its chunks"))),
        lit(true)))
      .select(col("variable"), col("member").as("chunk"),
        posexplode(kernel(col("data"), col("dtype"),
          coalesce(col("compressor"), lit("")), coalesce(col("filters"), lit("null")))))
      .select(col("variable"), col("chunk"), col("pos").as("idx"), col("col").as(payload))
}
