package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The chunk-map entry plane every format reader emits: one row per zarr
  * key of the store it describes — `.zgroup`/`.zarray`/`.zattrs` metadata
  * documents, inline chunk values and byte-range chunk refs — the shape
  * of a kerchunk reference set (intake_esm/source.py:82-96 opens every
  * asset format through that one zarr view). The readers
  * ([[KerchunkIndex]], [[ZarrDirectoryIndex]], [[NetCDF3Index]],
  * [[Hdf5Index]], [[Dap2Index]]) keep their own parsers; the row shape,
  * the zarr v2 documents they synthesize, the per-file parse job and the
  * kerchunk shred live here once, and the decode plane
  * ([[KerchunkIndex.materializeChunks]] onward) consumes the result.
  */
private[graft] object Entries {

  /** One entry row; the field names are the frame's column names. `kind`
    * is `meta`, `inline` or `ref` (DAP2 adds `seqref`); a ref without
    * `offset`/`length` is the whole file; `inline_value` keeps its
    * `base64:` prefix when binary. */
  final case class Entry(key: String, variable: String, member: String, kind: String,
                         url: String, offset: Option[Long], length: Option[Long],
                         inline_value: String)

  /** The entry columns, in order. */
  def columns: Seq[Column] = Encoders.product[Entry].schema.fieldNames.toSeq.map(col)

  /** `key` split at its last `/`: (variable, member), variable "" at the
    * root. */
  private def keyed(key: String, kind: String, url: String, offset: Option[Long],
                    length: Option[Long], value: String): Entry = {
    val i = key.lastIndexOf('/')
    Entry(key, if (i < 0) "" else key.substring(0, i), key.substring(i + 1), kind, url,
      offset, length, value)
  }

  def meta(key: String, doc: String): Entry = keyed(key, "meta", null, None, None, doc)

  def inline(key: String, value: String): Entry = keyed(key, "inline", null, None, None, value)

  def ref(key: String, url: String, offset: Option[Long] = None,
          length: Option[Long] = None): Entry = keyed(key, "ref", url, offset, length, null)

  /** `member` under `dir`, "" being the store root. */
  def keyIn(dir: String, member: String): String = if (dir.isEmpty) member else s"$dir/$member"

  def frame(spark: SparkSession, rows: Seq[Entry]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).toDF()
  }

  // ------------------------------------------------------ zarr v2 documents

  /** The root `.zgroup` row a synthesized store starts with. */
  val group: Entry = meta(".zgroup", """{"zarr_format": 2}""")

  /** A C-order zarr v2 `.zarray` document. */
  def zarray(dtype: String, shape: Seq[Long], chunks: Seq[Long],
             compressor: JValue = JNull, filters: JValue = JNull): String =
    compact(render(JObject(
      "zarr_format" -> JLong(2), "dtype" -> JString(dtype),
      "shape" -> JArray(shape.map(JLong(_)).toList),
      "chunks" -> JArray(chunks.map(JLong(_)).toList),
      "compressor" -> compressor, "filters" -> filters, "order" -> JString("C"))))

  /** A `.zattrs` document: `attrs`, then the `_ARRAY_DIMENSIONS` names. */
  def zattrs(attrs: List[JField], dims: Seq[String]): String =
    compact(render(JObject(attrs :+
      JField("_ARRAY_DIMENSIONS", JArray(dims.map(JString(_)).toList)))))

  /** One array's `.zarray` and `.zattrs` rows. */
  def array(dir: String, zarray: String, zattrs: String): Iterator[Entry] =
    Iterator(meta(keyIn(dir, ".zarray"), zarray), meta(keyIn(dir, ".zattrs"), zattrs))

  // ------------------------------------------------------- per-file parses

  /** One path of a [[perFile]] parse: the file to open (the archive, for a
    * `tar://member::archive` url) and the member's byte offset in it.
    * `At(path, conf)` locates the member. */
  final case class At(path: String, real: String, base: Long,
                      conf: org.apache.hadoop.conf.Configuration) {
    lazy val hPath: org.apache.hadoop.fs.Path = FsPaths.hadoopPath(real)
    lazy val fs: org.apache.hadoop.fs.FileSystem = FsPaths.fileSystemFor(hPath, conf)
  }

  object At {
    def apply(path: String, conf: org.apache.hadoop.conf.Configuration): At = {
      val (real, base, _) =
        if (TarMember.isTarUrl(path)) TarMember.locate(path, conf) else (path, 0L, 0L)
      At(path, real, base, conf)
    }
  }

  /** Parse each path into entry rows in executor tasks, one task per path
    * up to the session parallelism. A single path maps its one-row local
    * seed directly, with no exchange; `parse` returns a lazy iterator, so
    * a huge file streams its rows instead of building them on the driver.
    * The storage options reach the tasks as one broadcast Hadoop conf. */
  def perFile(spark: SparkSession, paths: Seq[String], storageOptions: Map[String, String])
             (parse: At => Iterator[Entry]): DataFrame = {
    import spark.implicits._
    val hconf = FsPaths.broadcastConf(spark, storageOptions)
    val seed  = spark.createDataset(paths)
    val spread =
      if (paths.size <= 1) seed
      else seed.repartition(math.min(paths.size, spark.sparkContext.defaultParallelism))
    spread.mapPartitions(_.flatMap(p => parse(At(p, hconf.value.value)))).toDF()
  }

  // ------------------------------------------------------- kerchunk shred

  /** Kerchunk `(key, value: variant)` reference rows → entry rows, the
    * `passThrough` columns first. A `.`-member key is metadata, an array
    * value a `[url, offset?, length?]` ref, anything else an inline value. */
  def shred(refs: DataFrame, passThrough: Column*): DataFrame = {
    val member = substring_index(col("key"), "/", -1)
    refs.select(passThrough ++ Seq(
      col("key"),
      when(col("key").contains("/"),
        expr("substring(key, 1, length(key) - length(substring_index(key, '/', -1)) - 1)"))
        .otherwise(lit("")).as("variable"),
      member.as("member"),
      when(member.startsWith("."), lit("meta"))
        .when(expr("schema_of_variant(value)").startsWith("ARRAY"), lit("ref"))
        .otherwise(lit("inline")).as("kind"),
      expr("try_variant_get(value, '$[0]', 'string')").as("url"),
      expr("try_variant_get(value, '$[1]', 'long')").as("offset"),
      expr("try_variant_get(value, '$[2]', 'long')").as("length"),
      expr("try_variant_get(value, '$', 'string')").as("inline_value")): _*)
  }
}
