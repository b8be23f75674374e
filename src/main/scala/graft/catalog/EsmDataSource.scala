package graft.catalog

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._

/** Materializes one catalog group (one logical dataset) from its asset rows.
  *
  * Spark-first re-expression of the reference's ESMDataSource
  * (intake_esm/source.py:70-332). Plane-B datasets are *tidy* DataFrames:
  * coordinate columns + one column per physical variable. The three
  * aggregation modes become pure relational ops:
  *
  *  - `join_new`  (source.py:153-158, 278-282): the group attribute is added
  *    as a literal coordinate column per asset → stacking is `unionByName`.
  *  - `join_existing` (source.py:303-323): assets split along an existing
  *    coordinate (e.g. time ranges) → `unionByName`, ordered by the coords.
  *  - `union` (combine variables, source.py:303-323): assets holding
  *    different variables full-outer-join on the shared coordinate columns.
  *
  * `combine_by_coords` (source.py:264-332) is then: union all frames with the
  * same variable set, outer-join across different variable sets on common
  * coords, deterministic `orderBy` on the coordinates.
  *
  * One decode chain per group: the reference opens each asset and then
  * combines the datasets; here the group's decoded chunk-map assets (zarr,
  * kerchunk, netCDF/HDF5; opendap in a chain of its own) are read as
  * entries, tagged with their asset ordinal, unioned and decoded ONCE, and
  * the join_new attrs are looked up by ordinal. So a group plans and
  * compiles one materialize/decode pipeline however many assets it holds,
  * and building its frame runs no Spark job: the entries cache and the
  * chunk reads run when the frame does. What a caller can observe per
  * asset is kept: the `preprocess` hook runs once per asset on that
  * asset's rows, and an asset with a null join_new value still lacks the
  * column. parquet/csv/json and glob netCDF assets stay one frame each.
  *
  * Scale: the unions are narrow (no shuffle); the variable-merge outer join
  * shuffles on coordinate columns, which is exactly the partitioning a
  * downstream analysis wants — Catalyst reuses it. Spark's scheduler
  * replaces the reference's ThreadPoolExecutor × dask.delayed double pool
  * (core.py:744-760).
  */
final case class EsmDataSource(
    key: String,
    records: Seq[Map[String, Any]],        // group's catalog rows (driver-side; a group is small)
    pathColumn: String,
    variableColumn: Option[String],
    aggregations: Seq[Aggregation],
    requestedVariables: Seq[String] = Nil,
    preprocess: Option[DataFrame => DataFrame] = None,
    storageOptions: Map[String, String] = Map.empty, // per-call fs conf/credentials (cat.py:238-280)
) {

  private def joinNewAttrs: Seq[String] =
    aggregations.filter(_.aggType == AggregationType.JoinNew).map(_.attributeName)

  /** Format dispatch (source.py:70-137) of one asset: the one-asset case
    * of [[open]]. */
  def openAsset(spark: SparkSession, path: String, format: String): DataFrame =
    open(spark, Seq(path -> format)).head.df.drop(EsmDataSource.AssetCol)

  /** Open a group's assets, in order. parquet/csv/json read through
    * Spark's sources; kerchunk `reference` indexes, zarr v2/v3 directory
    * stores, classic netCDF (CDF-1/2/5) and HDF5-backed netCDF-4 all parse
    * NATIVELY into one shared chunk-map plane (variable / chunk / url /
    * byte range — what the reference's zarr engine sees before decoding,
    * source.py:82-96) and optionally decode to typed, dimension-labeled
    * values ([[decodeChain]]). opendap dispatches to the native DAP2 client
    * (sources.Dap2Index) — every reference DataFormat has an in-engine path.
    *
    * The decoded chunk-map assets of one materializer share ONE chain:
    * their entries are tagged with the asset's ordinal
    * ([[graft.sources.KerchunkIndex.tagVariable]]) and unioned, so
    * materialize, metadata and decode are planned (and codegen'd) once per
    * group however many assets it holds. Every other asset is its own
    * part. */
  private def open(spark: SparkSession, assets: Seq[(String, String)]): Seq[EsmDataSource.Part] = {
    import EsmDataSource.Part
    val opened = assets.map { case (path, format) => openOne(spark, path, format) }.zipWithIndex
    val mode = storageOptions.get("graft.kerchunk.decode").filter(Set("typed", "coords", "cf"))
    val (decoded, plain) = opened.partition { case (o, _) => o.isRight && mode.isDefined }
    val chains = decoded.collect { case (Right(cm), i) => i -> cm }.groupBy(_._2.dods).values
      .map(members => Part(members.map(_._1), decodeChain(members, mode.get), tagged = true))
    (plain.map { case (o, i) => Part(Seq(i), o.fold(identity, _.entries), tagged = false) } ++ chains)
      .sortBy(_.ordinals.head)
  }

  /** One asset's dispatch: a finished frame (Left), or its chunk-map
    * entries still to decode (Right). */
  private def openOne(spark: SparkSession, path: String, format: String)
      : Either[DataFrame, EsmDataSource.ChunkMap] = {
    import EsmDataSource.ChunkMap
    format match {
      case "parquet" | "" | null => Left(spark.read.options(storageOptions).parquet(path))
      case "csv"  => Left(spark.read.option("header", "true").options(storageOptions).csv(path))
      case "json" => Left(spark.read.options(storageOptions).json(path))
      case "reference" =>
        // chunk-map plane by default; `graft.kerchunk.decode=typed` descends
        // to typed values for JDK-decodable codecs (raw/zlib/gzip/blosc-lz4,
        // local or inline refs — sources.ZarrCodec), the depth the reference
        // reaches through xarray's zarr engine (source.py:82-96);
        // `=coords` adds the dimension-labeled global indices. Dispatches
        // on the path's shape: v1 JSON index (file/http — incl. templates/
        // gen expansion) or a kerchunk PARQUET reference store (directory
        // with .zmetadata)
        Right(ChunkMap(graft.sources.KerchunkIndex.open(spark, path, storageOptions)))
      case "netcdf" | "netcdf3" | "netcdf4" | "hdf5"
          if graft.sources.NetcdfCollection.isGlob(path) =>
        // multi-file datasets (source.py:102-107 `'*' in url` →
        // open_mfdataset): nested concat along the record dimension in
        // sorted-path order; entries mode yields the url-stamped inventory
        val paths = graft.sources.NetcdfCollection.expand(spark, path, storageOptions)
        Left(storageOptions.get("graft.kerchunk.decode") match {
          case Some("coords") =>
            graft.sources.NetcdfCollection.openCoords(spark, paths, storageOptions)
          case Some(other) => throw new UnsupportedOperationException(
            s"glob netcdf decode mode '$other' unsupported — use 'coords' " +
              "(concatenation is defined on labeled coordinates; 'cf' applies " +
              "per single file) or omit for the inventory")
          case None =>
            graft.sources.NetcdfCollection.readEntries(spark, paths, storageOptions)
        })
      case "netcdf" | "netcdf3" | "netcdf4" | "hdf5" =>
        // both container families parse natively into the same chunk-map
        // plane (source.py:97-109): classic CDF via sources.NetCDF3Index,
        // HDF5-backed netCDF-4 via sources.Hdf5Index — the magic decides
        graft.sources.NetCDF3Index.sniff(spark, path, storageOptions) match {
          case "cdf"  => Right(ChunkMap(graft.sources.NetCDF3Index.read(spark, path, storageOptions)))
          case "hdf5" => Right(ChunkMap(graft.sources.Hdf5Index.read(spark, path, storageOptions)))
          case other => throw new IllegalArgumentException(
            s"asset '$path' declared '$format' but carries no CDF/HDF5 magic (sniffed: $other)")
        }
      case "zarr" | "zarr2" | "zarr3" =>
        // zarr DIRECTORY stores (v2 AND v3 metadata layouts) enumerate
        // natively (metadata documents + one file per chunk —
        // sources.ZarrDirectoryIndex) into the same chunk-map plane;
        // archived stores and unreachable schemes fail fast in the probe
        // (source.py:82-96)
        graft.sources.ZarrDirectoryIndex.probe(spark, path, storageOptions)
        Right(ChunkMap(graft.sources.ZarrDirectoryIndex.read(spark, path, storageOptions)))
      case "opendap" =>
        // native DAP2 client (source.py:70-137's last format): DDS/DAS parse
        // → the shared chunk-map plane; each ref is a `.dods` hyperslab
        // request fetched in parallel tasks (sources.Dap2Index)
        // DAS attributes ride the same synthesized .zattrs plane, so every
        // decode mode layers identically over the DAP2 chunk map
        Right(ChunkMap(graft.sources.Dap2Index.read(spark, path, storageOptions), dods = true))
      case other =>
        throw new UnsupportedOperationException(
          s"data format '$other' needs an external Spark connector (source.py:70-137)")
    }
  }

  /** Chunk-map entries of several assets → the depth `graft.kerchunk.decode`
    * asks for, through one chain: `typed` = decoded values, `coords` =
    * decoded values with dimension-labeled global indices, `cf` = coords
    * plus CF-convention mask/scale/time decode ([[graft.sources.CfDecode]]
    * — the xarray.open_dataset defaults). The chain fetches the chunk bytes
    * the entries reference: byte ranges of the container files, or `.dods`
    * hyperslab requests for opendap ([[graft.sources.Dap2Index.materialize]]).
    * Output: the decoded rows with `variable` restored and the asset's
    * ordinal in [[EsmDataSource.AssetCol]]. */
  private def decodeChain(members: Seq[(Int, EsmDataSource.ChunkMap)], mode: String): DataFrame = {
    import graft.sources.KerchunkIndex
    val union = members.map { case (i, cm) =>
      cm.entries.withColumn("variable", KerchunkIndex.tagVariable(col("variable"), lit(i)))
    }.reduce(_ unionByName _)
    // persist the tiny entries frame once: the decode plane references
    // it 4-7× (chunks/meta/dims/attrs × value planes) and each
    // occurrence would otherwise re-run the container walk
    // (KerchunkIndex.sharedEntries note)
    val entries = KerchunkIndex.sharedEntries(union)
    // every mode decodes data chunks only, so metadata stored as a
    // byte-range ref is never fetched: a missing one fails the decode's own
    // "no inline .zarray" check, not a read racing it in another task
    val chunks =
      if (members.head._2.dods) graft.sources.Dap2Index.materialize(entries)
      else KerchunkIndex.materializeChunks(entries.filter(KerchunkIndex.isChunk(col("member"))),
        storageOptions = storageOptions)
    val meta = KerchunkIndex.arrayMeta(entries)
    val decoded = mode match {
      case "typed" => KerchunkIndex.decodeTyped(chunks, meta)
      case "coords" => KerchunkIndex.decodeCoords(chunks, meta, KerchunkIndex.attrDims(entries))
      case _ =>
        // a root-level key (tagged "<i>::") carries no CF attrs, as untagged
        graft.sources.CfDecode.decodeCf(chunks, meta, KerchunkIndex.attrDims(entries),
          graft.sources.CfDecode.cfAttrs(
            entries.filter(KerchunkIndex.untagged(col("variable")) =!= "")))
    }
    decoded
      .withColumn(EsmDataSource.AssetCol, KerchunkIndex.taggedOrdinal(col("variable")))
      .withColumn("variable", KerchunkIndex.untagged(col("variable")))
  }

  /** Variable projection (source.py:116-133): keep requested ∩ declared;
    * coordinate columns always survive — filtered against the asset's
    * actual columns like the variables (an asset missing one coord must
    * not fail the whole group's projection). */
  def projectRequested(df: DataFrame, coords: Seq[String]): DataFrame =
    if (requestedVariables.isEmpty) df
    else {
      val keep = (coords ++ requestedVariables :+ EsmDataSource.AssetCol).filter(df.columns.contains)
      df.select(keep.distinct.map(col): _*)
    }

  /** Attribute stamping (source.py:140-150): catalog row values →
    * `intake_esm_attrs:<col>` entries + the dataset key. */
  def attrsFor(record: Map[String, Any]): Map[String, String] =
    record.collect {
      case (k, v) if v != null =>
        val rendered = v match {
          case xs: Seq[_] => xs.mkString(",")
          case other      => other.toString
        }
        s"intake_esm_attrs:$k" -> rendered
    } ++ Map("intake_esm_dataset_key" -> key)

  /** Load one asset row into a tidy frame: the one-asset case of
    * [[loadAssets]]. */
  def loadAsset(spark: SparkSession, record: Map[String, Any], format: String, coords: Seq[String]): DataFrame =
    loadAssets(spark, Seq(record -> format), coords).head

  /** Load a group's asset rows (each with its format) into the frames
    * [[combineByCoords]] merges, per asset: open → project → preprocess →
    * expand_dims (join_new attrs as coordinate columns, source.py:153-158).
    * A decode chain ([[open]]) is projected once and stamps each row's
    * join_new values by looking its asset ordinal up in a string array
    * literal — a reference object in generated code, so a new group
    * compiles no new class. An asset whose value is null gets no column
    * (as when each asset was its own frame), so the chain splits into one
    * frame per set of present attrs; a `preprocess` hook still sees one
    * asset's rows per call. */
  def loadAssets(spark: SparkSession, assets: Seq[(Map[String, Any], String)],
                 coords: Seq[String]): Seq[DataFrame] = {
    val records = assets.map(_._1)
    def present(i: Int): Seq[(String, String)] =
      joinNewAttrs.flatMap(a => records(i).get(a).filter(_ != null).map(v => a -> v.toString))
    def finish(df: DataFrame, i: Int): DataFrame = {
      var d = projectRequested(df, coords)
      preprocess.foreach(p => d = p(d))
      present(i).foldLeft(d) { case (acc, (a, v)) => acc.withColumn(a, lit(v)) }
    }
    val asset = col(EsmDataSource.AssetCol)
    open(spark, assets.map { case (r, f) => r(pathColumn).toString -> f }).flatMap { part =>
      if (!part.tagged) Seq(finish(part.df, part.ordinals.head))
      else if (preprocess.isDefined)
        part.ordinals.map(i => finish(part.df.filter(asset === i).drop(asset), i))
      else {
        val chain = projectRequested(part.df, coords)
        part.ordinals.groupBy(present(_).map(_._1)).toSeq.sortBy(_._2.head).map {
          case (attrs, members) =>
            val rows = if (members.size == part.ordinals.size) chain else chain.filter(asset.isin(members: _*))
            attrs.foldLeft(rows) { (acc, a) =>
              val values = typedLit(records.indices.map(i => present(i).toMap.getOrElse(a, null)))
              // non-null for every member, as the literal it replaces
              acc.withColumn(a, GraftColumnBridge.column(
                KnownNotNull(GraftColumnBridge.expression(element_at(values, asset + 1)))))
            }.drop(asset)
        }
      }
    }
  }

  /** The group as one frame: its assets' frames ([[loadAssets]]) merged
    * by coordinates. Several assets are sorted even when one decode chain
    * returned them as one frame, exactly as their per-asset union was. */
  def load(spark: SparkSession, coords: Seq[String]): DataFrame = {
    val frames = loadAssets(spark,
      records.map(r => r -> r.getOrElse("_data_format_", "parquet").toString), coords)
    if (records.size == 1) frames.head else mergeByCoords(frames, coords, globalSort = true)
  }

  /** Combine the group's per-asset frames by coordinates (source.py:264-332).
    *
    * `globalSort = true` (default) reproduces the reference's deterministic
    * total coordinate order with a final `orderBy` — a full-dataset range
    * shuffle, fine at catalog scale, the bottleneck at 100 TB. At scale pass
    * `globalSort = false`: rows are sorted WITHIN each partition instead
    * (no extra exchange — `sortWithinPartitions` is a partition-local sort),
    * which is what per-partition consumers (window functions keyed on the
    * coords, file writers, iterators) actually need; a caller that truly
    * wants one totally-ordered stream re-adds `.orderBy` itself. */
  def combineByCoords(
      frames: Seq[DataFrame], coords: Seq[String], globalSort: Boolean = true): DataFrame =
    if (frames.size == 1) frames.head else mergeByCoords(frames, coords, globalSort)

  /** [[combineByCoords]] of any number of frames, always sorted. */
  private def mergeByCoords(frames: Seq[DataFrame], coords: Seq[String], globalSort: Boolean): DataFrame = {
    require(frames.nonEmpty, s"no assets for key '$key'")
    // union frames with identical column sets (join_new / join_existing stacking)
    val byVarSet = frames.groupBy(_.columns.toSet).values.toSeq
      .map(_.reduce(_ unionByName _))
    val merged =
      if (byVarSet.size == 1) byVarSet.head
      else
        // variable merge: outer join on the shared coordinate columns
        byVarSet.reduce { (a, b) =>
          val joinCols = a.columns.intersect(b.columns).toSeq
          require(joinCols.nonEmpty,
            "no dimension coordinates to combine on (source.py:311-321 fallback)")
          a.join(b, joinCols, "full_outer")
        }
    val orderCols = coords.filter(merged.columns.contains)
    if (orderCols.isEmpty) merged
    else if (globalSort) merged.orderBy(orderCols.map(col): _*)
    else merged.sortWithinPartitions(orderCols.map(col): _*)
  }
}

object EsmDataSource {
  /** The asset ordinal a decode chain's rows carry until their join_new
    * attrs are stamped. */
  private[catalog] val AssetCol = "__graft_asset"

  /** One asset's chunk-map entries, still to decode; `dods` = fetched as
    * DAP2 hyperslabs rather than byte ranges. */
  private final case class ChunkMap(entries: DataFrame, dods: Boolean = false)

  /** What [[EsmDataSource.open]] returns per part: the group ordinals it
    * holds, and its frame — a decode chain's rows carry their ordinal in
    * [[AssetCol]] (`tagged`). */
  private final case class Part(ordinals: Seq[Int], df: DataFrame, tagged: Boolean)
}
