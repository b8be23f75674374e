package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads as opaque `binary`
  * columns + a typed metadata struct.
  *
  * The IMAGE plane decodes for real (JDK ImageIO — container dims
  * [[imageMeta]], pixel aHash [[pixelAverageHash]], decode→featurize
  * [[decodeFeaturesBatched]], all r11-r13); audio/video metadata parse
  * their container headers for real (WAV/FLAC, ISO BMFF) while their
  * SAMPLE decode would need codec libraries this container lacks — the
  * remaining stand-ins are the content-hash fallback values in
  * [[withMediaMeta]] for unrecognized payloads and the byte-plane
  * [[averageHash]] (its pixel twin is real), each marked at the site.
  */
object Multimodal {

  /** Canonical metadata struct carried next to every binary payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("checksum", StringType),
  ))

  /** True image container metadata parsed from the payload header bytes —
    * the pure-JVM [[graft.functions.ImageDims]] kernel (PNG / JPEG / GIF /
    * BMP, header offsets from the public specs, no codec dependency, no
    * pixel decode). Output per row: id, format, width, height, channels,
    * n_bytes. A payload that is none of the four containers (or truncated
    * mid-header) yields nulls — or, with `strict = true`, refuses LOUDLY
    * per row (never a silent wrong dimension). Feed width/height straight
    * into [[resizePlan]]. */
  def imageMeta(df: DataFrame, binCol: String, idCol: String,
                strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val dims = GraftColumnBridge.column(
      graft.functions.ImageDims(GraftColumnBridge.expression(col(binCol))))
    val base = df.select(col(idCol).as("id"), dims.as("__d"),
      octet_length(col(binCol)).cast(LongType).as("n_bytes"))
    val guarded =
      if (!strict) base
      else base.filter(coalesce(assert_true(col("__d").isNotNull,
        concat(lit("imageMeta: unrecognized or truncated image container for id="),
          col("id").cast(StringType))), lit(true)))
    guarded.select(col("id"),
      col("__d").getField("format").as("format"),
      col("__d").getField("width").as("width"),
      col("__d").getField("height").as("height"),
      col("__d").getField("channels").as("channels"),
      col("n_bytes"))
  }

  /** True audio container metadata parsed from the payload header — the
    * audio sibling of [[imageMeta]]: the pure-JVM
    * [[graft.functions.AudioMeta]] kernel (WAV/RIFF chunk walk, FLAC
    * STREAMINFO — public-spec offsets, no codec, no sample decode).
    * Output per row: id, format, sample_rate, channels, bits, n_frames,
    * duration_ms, n_bytes. A payload that is neither container (or is
    * truncated/compressed-WAV) yields nulls — or refuses LOUDLY per row
    * with `strict = true`. */
  def audioMeta(df: DataFrame, binCol: String, idCol: String,
                strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val meta = GraftColumnBridge.column(
      graft.functions.AudioMeta(GraftColumnBridge.expression(col(binCol))))
    val base = df.select(col(idCol).as("id"), meta.as("__a"),
      octet_length(col(binCol)).cast(LongType).as("n_bytes"))
    val guarded =
      if (!strict) base
      else base.filter(coalesce(assert_true(col("__a").isNotNull,
        concat(lit("audioMeta: unrecognized or truncated audio container for id="),
          col("id").cast(StringType))), lit(true)))
    guarded.select(col("id"),
      col("__a").getField("format").as("format"),
      col("__a").getField("sample_rate").as("sample_rate"),
      col("__a").getField("channels").as("channels"),
      col("__a").getField("bits").as("bits"),
      col("__a").getField("n_frames").as("n_frames"),
      col("__a").getField("duration_ms").as("duration_ms"),
      col("n_bytes"))
  }

  /** True video container metadata parsed from the payload box structure —
    * the video sibling of [[imageMeta]] / [[audioMeta]]: the pure-JVM
    * [[graft.functions.Mp4Meta]] kernel (ISO BMFF box walk — public-spec
    * offsets, no codec, no sample decode). Output per row: id, brand,
    * timescale, duration_ms, n_tracks, video_tracks, audio_tracks, width,
    * height, n_bytes. A payload that is not BMFF (or is truncated /
    * structurally invalid) yields nulls — or refuses LOUDLY per row with
    * `strict = true`. */
  def videoMeta(df: DataFrame, binCol: String, idCol: String,
                strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val meta = GraftColumnBridge.column(
      graft.functions.Mp4Meta(GraftColumnBridge.expression(col(binCol))))
    val base = df.select(col(idCol).as("id"), meta.as("__v"),
      octet_length(col(binCol)).cast(LongType).as("n_bytes"))
    val guarded =
      if (!strict) base
      else base.filter(coalesce(assert_true(col("__v").isNotNull,
        concat(lit("videoMeta: unrecognized or truncated video container for id="),
          col("id").cast(StringType))), lit(true)))
    guarded.select(col("id"),
      col("__v").getField("brand").as("brand"),
      col("__v").getField("timescale").as("timescale"),
      col("__v").getField("duration_ms").as("duration_ms"),
      col("__v").getField("n_tracks").as("n_tracks"),
      col("__v").getField("video_tracks").as("video_tracks"),
      col("__v").getField("audio_tracks").as("audio_tracks"),
      col("__v").getField("width").as("width"),
      col("__v").getField("height").as("height"),
      col("n_bytes"))
  }

  /** Wrap a binary payload column with its metadata struct. Width/height
    * come from the REAL container-header parses — image ([[imageMeta]])
    * first, then a video track's presentation dims ([[videoMeta]]);
    * duration comes from the REAL audio ([[audioMeta]]) or video
    * ([[videoMeta]]) header when the payload is a recognized container
    * (r11 — previously a content-hash stub for everything); unrecognized
    * payloads fall back to the deterministic content-hash pseudo-values
    * (STUB — a real decoder plane would own those). */
  def withMediaMeta(df: DataFrame, binCol: String, mime: Column): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val b = col(binCol)
    // magic-dispatched (r12): each parser runs only on rows whose leading
    // bytes match its container family — in a mixed-media corpus two of
    // the three parses per row are skipped (when's codegen evaluates only
    // the matched branch). Each sniff is a strict SUPERSET of what its
    // parser accepts (the parser re-checks its full magic and returns
    // null on a miss), so the output is byte-identical to running all
    // three — a sniff that was NARROWER than its parser would silently
    // change results.
    def magic(off: Int, bytes: Array[Byte]): Column =
      substring(b, off, bytes.length) === lit(bytes)
    val isImage =
      magic(1, Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)) ||
        magic(1, Array(0xFF.toByte, 0xD8.toByte)) ||  // JPEG SOI
        magic(1, "GIF8".getBytes("US-ASCII")) ||
        magic(1, "BM".getBytes("US-ASCII"))           // BMP (parser re-checks structure)
    val isAudio =
      (magic(1, "RIFF".getBytes("US-ASCII")) && magic(9, "WAVE".getBytes("US-ASCII"))) ||
        magic(1, "fLaC".getBytes("US-ASCII"))
    val isVideo = magic(5, "ftyp".getBytes("US-ASCII")) // ISO BMFF leads with ftyp
    val dims = when(isImage, GraftColumnBridge.column(
      graft.functions.ImageDims(GraftColumnBridge.expression(b))))
    val audio = when(isAudio, GraftColumnBridge.column(
      graft.functions.AudioMeta(GraftColumnBridge.expression(b))))
    val video = when(isVideo, GraftColumnBridge.column(
      graft.functions.Mp4Meta(GraftColumnBridge.expression(b))))
    val h = abs(xxhash64(b))
    df.withColumn("__d", dims).withColumn("__a", audio).withColumn("__v", video)
      .withColumn("media_meta", struct(
        mime.as("mime"),
        octet_length(b).cast(LongType).as("n_bytes"),
        coalesce(col("__d").getField("width"),
          col("__v").getField("width"),
          (h % 1920 + 1).cast(IntegerType)).as("width"),
        coalesce(col("__d").getField("height"),
          col("__v").getField("height"),
          (h % 1080 + 1).cast(IntegerType)).as("height"),
        coalesce(col("__a").getField("duration_ms"),
          col("__v").getField("duration_ms"),
          (h % 600000).cast(LongType)).as("duration_ms"),
        md5(b).as("checksum"),
      )).drop("__d", "__a", "__v")
  }

  /** Batched "decode + featurize" over binary payloads — the Spark-side
    * shape of a Pandas-UDF/mapInPandas pipeline: iterate partitions, process
    * rows in fixed-size batches, emit a feature vector per row.
    *
    * r13: the kernel is REAL — JDK ImageIO decodes the payload
    * (PNG/JPEG/GIF/BMP) and [[graft.functions.ImageFeatures]] emits 8
    * exact pixel statistics [w, h, mean_r, mean_g, mean_b, mean_luma1000,
    * luma1000_range, bright_fraction]; integer sums stay below 2^53 and
    * each mean is ONE IEEE division of exact integers, so any engine
    * reproduces the doubles bit-for-bit (the gate's oracle re-derives them
    * from the fixture's pixel formula). Undecodable payloads yield null
    * features — or refuse LOUDLY per row with `strict = true`. The
    * partitioning, fixed-size batch loop, and output schema are the
    * mapInPandas shape unchanged; a different featurizer (or a JNI codec
    * for formats ImageIO lacks) swaps in at the kernel call. */
  def decodeFeaturesBatched(df: DataFrame, idCol: String, binCol: String,
                            batchSize: Int = 64, strict: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("features", ArrayType(DoubleType)),
    ))
    val rdd = df.select(col(idCol).cast(LongType), col(binCol)).rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // one "vectorized" kernel call per batch, like mapInPandas
        batch.iterator.map { row =>
          val id    = row.getLong(0)
          val bytes = if (row.isNullAt(1)) Array.emptyByteArray else row.getAs[Array[Byte]](1)
          val f = graft.functions.ImageFeatures.features(bytes)
          if (f == null && strict)
            throw new IllegalArgumentException(
              s"decodeFeaturesBatched: undecodable image payload for id=$id — " +
                "refusing (a silent null feature would poison downstream training)")
          org.apache.spark.sql.Row(id, if (f == null) null else f.toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Aspect-fit resize plan: compute the output dimensions that fit
    * (width, height) inside a `target`×`target` box preserving aspect ratio
    * — this arithmetic is the REAL part of an image-resize stage (it drives
    * batch shapes and memory budgets); the pixel kernel itself is the
    * stubbed decoder above. Integer math only, so any engine reproduces it
    * bit-for-bit. Output: id, out_w, out_h, scale_num/scale_den (the exact
    * rational scale applied). */
  def resizePlan(df: DataFrame, idCol: String, widthCol: String, heightCol: String,
                 target: Int = 224): DataFrame = {
    val w = col(widthCol).cast(LongType)
    val h = col(heightCol).cast(LongType)
    // scale = target / max(w, h) as an exact rational; floor the scaled dims
    val den = greatest(w, h)
    df.select(col(idCol),
      (w * target / den).cast(IntegerType).as("out_w"),
      (h * target / den).cast(IntegerType).as("out_h"),
      lit(target).as("scale_num"), den.cast(LongType).as("scale_den"))
  }

  /** Average-hash (aHash) perceptual fingerprint over a binary payload —
    * the classic image near-dup primitive: sample 64 evenly spaced values
    * of the decoded image, set bit i when sample i is above the mean.
    * Here the "decoded grayscale" is the raw payload bytes (STUB — a real
    * decoder substitutes the 8×8 thumbnail; the sampling, thresholding,
    * and packing stay). The mean compare is exact integer arithmetic
    * (64·sᵢ > Σs — no division), so the hash is engine-portable
    * bit-for-bit. Output per row: `ahash_bits` (64-char '0'/'1' string,
    * MSB first — oracle-exact) and `ahash` (the same bits packed into one
    * long) — feed `ahash` into
    * [[Dedup.simhashPairsFromFingerprints]] for hamming-banded near-dup
    * candidate pairs, exactly like a simhash fingerprint. Empty payloads
    * have no samples and yield null hashes. */
  def averageHash(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    // STAGED: the hex rendering must be its own column BEFORE the sampling
    // lambda — `hex(payload)` inline in the lambda re-renders the whole
    // payload once per sampled element (64× per row; megabytes × 64 on
    // real media payloads). As a column reference it is read, not
    // recomputed.
    val staged = df.select(col(idCol).as("id"),
      hex(col(binCol)).as("__hex"),
      octet_length(col(binCol)).cast(LongType).as("__n"))
    // 64 evenly spaced byte samples read from the hex rendering (stays in
    // whole-stage codegen; a binary element accessor does not exist as a
    // built-in). Position math in doubles is exact below 2^53.
    val samples = transform(sequence(lit(0L), lit(63L)), i =>
      conv(col("__hex").substr(
        floor(i.cast(DoubleType) * col("__n").cast(DoubleType) / 64.0).cast(LongType) * 2 + 1,
        lit(2)), 16, 10).cast(LongType))
    staged.select(col("id"), when(col("__n") > 0, samples).as("__s"))
      .select(col("id"), col("__s"),
        aggregate(col("__s"), lit(0L), (a, x) => a + x).as("__sum"))
      .select(col("id"),
        when(col("__s").isNotNull, array_join(
          transform(col("__s"), x => when(x * 64 > col("__sum"), "1").otherwise("0")), ""))
          .as("ahash_bits"),
        when(col("__s").isNotNull, aggregate(col("__s"), lit(0L),
          // shiftleft/or, not a*2+b: the sign bit makes checked ANSI
          // multiplication overflow on the final iterations
          (a, x) => shiftleft(a, 1).bitwiseOR(
            when(x * 64 > col("__sum"), 1L).otherwise(0L))))
          .as("ahash"))
  }

  /** REAL pixel-plane perceptual average-hash: decodes the payload with
    * JDK ImageIO ([[graft.functions.ImageAHash]] — PNG/JPEG/GIF/BMP), 8×8
    * integer-luma thumbnail, division-free mean threshold. Same output
    * contract as the byte-plane [[averageHash]] (`phash_bits` 64-char
    * string MSB-first + `phash` packed long → feed into
    * [[Dedup.simhashPairsFromFingerprints]] for hamming-banded near-dup
    * pairs); unlike it, two encodings of the SAME pixels (or a lightly
    * perturbed image) hash near each other — the byte plane can't see
    * through a container. Payloads ImageIO cannot decode (or images
    * smaller than the 8×8 thumbnail) yield nulls — or refuse LOUDLY per
    * row with `strict = true`, never a silent wrong fingerprint. */
  def pixelAverageHash(df: DataFrame, binCol: String, idCol: String,
                       strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val hashed = GraftColumnBridge.column(
      graft.functions.ImageAHash(GraftColumnBridge.expression(col(binCol))))
    val base = df.select(col(idCol).as("id"), hashed.as("__h"))
    val guarded =
      if (!strict) base
      else base.filter(coalesce(assert_true(col("__h").isNotNull,
        concat(lit("pixelAverageHash: undecodable or sub-8x8 image payload for id="),
          col("id").cast(StringType))), lit(true)))
    guarded.select(col("id"),
      col("__h").getField("bits").as("phash_bits"),
      col("__h").getField("hash").as("phash"))
  }

  /** Frame-sampling plan for video-like payloads: given a duration and a
    * target fps, emit (id, frame_idx, offset_ms) rows — the generator shape
    * of a frame extractor, as a pure explode (scales linearly, no driver
    * loop). The actual pixel decode is the stubbed kernel above. */
  def sampleFrames(df: DataFrame, idCol: String, durationMsCol: String, everyMs: Long): DataFrame =
    df.select(
      col(idCol),
      posexplode(sequence(lit(0L), greatest(col(durationMsCol) - 1, lit(0L)), lit(everyMs))))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "offset_ms")
}
