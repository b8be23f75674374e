package graft
package gates

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Multimodal

import Tag._

/** The multimodal extension family: image, audio and video header parsing
  * over real container bytes, with the media fixture writers. */
object MultimodalGates extends GateFamily {

  /** Shared one-time REAL-container media fixture builder (cached per sf
    * dir): every doc_id becomes an actual container payload from `encode`,
    * written distributed (mapPartitions over the doc ids) under a
    * `_READY`-markered cache dir. The gates then parse the BYTES back with
    * the native header-parse expressions while the DuckDB oracles
    * re-derive the same values from the doc_id arithmetic. `token`
    * carries the version suffix — bump it with ANY encoder change, or a
    * stale cached fixture silently tests the old bytes. */
  private def ensureMediaFixture(s: SparkSession, dir: String, token: String,
      idCol: String, file: String, encode: Long => Array[Byte]): String = {
    val out    = s"/tmp/graft_${token}_${tmpToken(dir)}"
    val marker = Paths.get(out, "_READY")
    this.synchronized {
      if (!Files.exists(marker)) {
        import s.implicits._
        T(s, dir, "documents").select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, encode(id))))
          .toDF(idCol, "payload")
          .write.mode("overwrite").parquet(s"$out/$file")
        Files.createFile(marker)
      }
    }
    s"$out/$file"
  }

  /** Image fixture for `multimodal_image_meta`: PNG/JPEG/GIF/BMP via the
    * JDK ImageIO writers — [[graft.harness.ImageFixture]]. _v2: channel
    * sub-variant keyed on (doc_id/4)%2. */
  def ensureImageFixture(s: SparkSession, dir: String): String =
    ensureMediaFixture(s, dir, "img_v2", "img_id", "images.parquet",
      graft.harness.ImageFixture.encode)

  /** Audio fixture for `multimodal_audio_meta`: WAV (JDK javax.sound
    * encoder) / hand-encoded FLAC STREAMINFO — [[graft.harness.AudioFixture]]. */
  def ensureAudioFixture(s: SparkSession, dir: String): String =
    ensureMediaFixture(s, dir, "audio_v1", "clip_id", "audio.parquet",
      graft.harness.AudioFixture.encode)

  /** Video fixture for `multimodal_video_meta`: hand-encoded ISO BMFF
    * boxes, spec offsets — [[graft.harness.VideoFixture]]. */
  def ensureVideoFixture(s: SparkSession, dir: String): String =
    ensureMediaFixture(s, dir, "video_v1", "clip_id", "video.parquet",
      graft.harness.VideoFixture.encode)

  // ===== extensions: multimodal =====

  gate("multimodal_meta")((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"), lit("text/plain").as("mime"),
          octet_length(col("text")).cast(LongType).as("n_bytes"), md5(col("text")).as("checksum"))
        .orderBy("doc_id")
    },
    oracle = """SELECT doc_id, 'text/plain' AS mime, CAST(strlen(text) AS BIGINT) AS n_bytes,
        | md5(text) AS checksum FROM documents ORDER BY doc_id""".stripMargin)

  gate("multimodal_ahash")((s, dir) => {
      // perceptual average-hash over the payload plane (stub decode: the
      // UTF-8 bytes ARE the "image"); exact integer thresholding keeps the
      // 64-bit fingerprint engine-portable
      Multimodal.averageHash(
          T(s, dir, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
          "payload", "doc_id")
        .select(col("id").as("doc_id"), col("ahash_bits"))
        .orderBy("doc_id")
    },
    // same 64-sample derivation over the UTF-8 payload; the exact integer
    // threshold (64·s > Σs) keeps both engines bit-identical
    oracle = """WITH s AS (
        |  SELECT doc_id,
        |    list_transform(range(0, 64), i ->
        |      CAST(('0x' || substr(to_hex(encode(text)),
        |        CAST(floor(i * octet_length(encode(text)) / 64.0) AS INT) * 2 + 1, 2)) AS BIGINT)) AS smp
        |  FROM documents),
        |t AS (SELECT doc_id, smp, list_sum(smp) AS sm FROM s)
        |SELECT doc_id,
        |  array_to_string(list_transform(smp, x -> CASE WHEN x * 64 > sm THEN '1' ELSE '0' END), '') AS ahash_bits
        |FROM t ORDER BY doc_id""".stripMargin)

  gate("multimodal_frames", Headline, Shared, Baseline)((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), (col("n_chars") * 10).as("duration_ms"))
      Multimodal.sampleFrames(d, "doc_id", "duration_ms", everyMs = 500L)
        .orderBy("doc_id", "frame_idx")
    },
    oracle = """SELECT doc_id, CAST(off // 500 AS INT) AS frame_idx, off AS offset_ms
        | FROM (SELECT doc_id, unnest(range(0, greatest(n_chars * 10, 1), 500)) AS off FROM documents)
        | ORDER BY doc_id, frame_idx""".stripMargin)

  gate("multimodal_resize")((s, dir) => {
      // aspect-fit resize planning (integer math, engine-portable); synthetic
      // source dims derived deterministically from n_chars on both sides
      val d = T(s, dir, "documents").select(col("doc_id"),
        (col("n_chars") % 1920 + 1).as("w"), ((col("n_chars") * 7) % 1080 + 1).as("h"))
      Multimodal.resizePlan(d, "doc_id", "w", "h", target = 224)
        .orderBy("doc_id")
    },
    oracle = """WITH d AS (
        |  SELECT doc_id, n_chars % 1920 + 1 AS w, (n_chars * 7) % 1080 + 1 AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST((w * 224) // greatest(w, h) AS INT) AS out_w,
        |  CAST((h * 224) // greatest(w, h) AS INT) AS out_h,
        |  CAST(224 AS INT) AS scale_num,
        |  CAST(greatest(w, h) AS BIGINT) AS scale_den
        |FROM d ORDER BY doc_id""".stripMargin)

  gate("multimodal_decode_features")((s, dir) => {
      // r13: REAL decode→featurize (replaces the multimodal_decode_stub
      // byte-histogram) — ImageIO decodes the fixture's actual container
      // bytes inside the batched mapInPandas-shaped partition loop, and
      // the 8 pixel statistics are exact integer sums + single IEEE
      // divisions, so the oracle re-derives every double bit-for-bit from
      // the fixture's pixel formula ((x·31+y·17+id) & 0xffffff). Lossless
      // formats only (png/bmp — the multimodal_phash precedent: jpeg is
      // lossy, gif palette-quantized); strict — an undecodable payload
      // refuses, never a silent null feature.
      val imgs = s.read.parquet(ensureImageFixture(s, dir))
        .filter(pmod(col("img_id"), lit(4)).isin(0, 3))
      Multimodal.decodeFeaturesBatched(imgs, "img_id", "payload", strict = true)
        .select(col("id"),
          element_at(col("features"), 1).as("f_w"),
          element_at(col("features"), 2).as("f_h"),
          element_at(col("features"), 3).as("f_mean_r"),
          element_at(col("features"), 4).as("f_mean_g"),
          element_at(col("features"), 5).as("f_mean_b"),
          element_at(col("features"), 6).as("f_mean_luma"),
          element_at(col("features"), 7).as("f_luma_range"),
          element_at(col("features"), 8).as("f_bright"))
        .orderBy("id")
    },
    // Real decode→featurize re-derived from first principles: png/bmp
    // encode losslessly, so DuckDB regenerates every pixel from the
    // fixture formula, folds the same integer sums, and must reproduce
    // all 8 feature doubles exactly (each mean is one IEEE division of
    // exact integers on both engines).
    oracle = """WITH imgs AS (
        |  SELECT doc_id AS id,
        |         CAST((doc_id * 7) % 120 + 16 AS BIGINT) AS w,
        |         CAST((doc_id * 13) % 90 + 16 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 4 IN (0, 3)),
        |xs AS (SELECT id, w, h, unnest(generate_series(0, w - 1)) AS x FROM imgs),
        |px AS (SELECT id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |lum AS (
        |  SELECT id, w, h,
        |         (((x*31 + y*17 + id) & 16777215) >> 16) & 255 AS r,
        |         (((x*31 + y*17 + id) & 16777215) >> 8) & 255 AS g,
        |         ((x*31 + y*17 + id) & 16777215) & 255 AS b,
        |         299 * ((((x*31 + y*17 + id) & 16777215) >> 16) & 255)
        |       + 587 * ((((x*31 + y*17 + id) & 16777215) >> 8) & 255)
        |       + 114 * (((x*31 + y*17 + id) & 16777215) & 255) AS l
        |  FROM px),
        |agg AS (
        |  SELECT id, MAX(w) AS w, MAX(h) AS h, COUNT(*) AS n,
        |         CAST(SUM(r) AS BIGINT) AS sr, CAST(SUM(g) AS BIGINT) AS sg,
        |         CAST(SUM(b) AS BIGINT) AS sb, CAST(SUM(l) AS BIGINT) AS sl,
        |         CAST(MAX(l) - MIN(l) AS BIGINT) AS rng
        |  FROM lum GROUP BY id),
        |br AS (
        |  SELECT lum.id AS id, COUNT(*) FILTER (WHERE lum.l * agg.n > agg.sl) AS nb
        |  FROM lum JOIN agg ON lum.id = agg.id GROUP BY lum.id)
        |SELECT a.id AS id,
        |       CAST(a.w AS DOUBLE) AS f_w, CAST(a.h AS DOUBLE) AS f_h,
        |       CAST(a.sr AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_r,
        |       CAST(a.sg AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_g,
        |       CAST(a.sb AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_b,
        |       CAST(a.sl AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_mean_luma,
        |       CAST(a.rng AS DOUBLE) AS f_luma_range,
        |       CAST(br.nb AS DOUBLE) / CAST(a.n AS DOUBLE) AS f_bright
        |FROM agg a JOIN br ON a.id = br.id ORDER BY id""".stripMargin)

  gate("multimodal_image_meta")((s, dir) => {
      // REAL container dims: the fixture encodes actual PNG/JPEG/GIF/BMP
      // bytes (ImageIO), the engine parses them back with the native
      // header-parse expression (strict — an unknown container refuses,
      // never a silent wrong dimension), and the resize plan runs on the
      // PARSED dims; the oracle re-derives everything from doc_id
      // arithmetic, so any encoder/parser header-offset disagreement fails
      val imgs = s.read.parquet(ensureImageFixture(s, dir))
      val meta = Multimodal.imageMeta(imgs, "payload", "img_id", strict = true)
      val rs   = Multimodal.resizePlan(meta, "id", "width", "height", target = 224)
      meta.join(rs.select("id", "out_w", "out_h"), Seq("id"))
        .select(col("id"), col("format"), col("width"), col("height"),
          col("channels"), col("out_w"), col("out_h"))
        .orderBy("id")
    },
    // Real-container image metadata: the engine parses dims out of actual
    // encoded PNG/JPEG/GIF/BMP bytes; the oracle re-derives the SAME values
    // from the doc_id arithmetic the fixture encoder used
    // (harness/ImageFixture.scala) — the two agree only when the header
    // parse recovers exactly what the encoder wrote
    oracle = """WITH m AS (
        |  SELECT doc_id AS id,
        |    CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |         WHEN 2 THEN 'gif' ELSE 'bmp' END AS format,
        |    CAST((doc_id * 7) % 120 + 16 AS INT) AS width,
        |    CAST((doc_id * 13) % 90 + 16 AS INT) AS height,
        |    CAST(CASE doc_id % 4
        |      WHEN 0 THEN CASE WHEN (doc_id // 4) % 2 = 0 THEN 3 ELSE 4 END
        |      WHEN 1 THEN CASE WHEN (doc_id // 4) % 2 = 0 THEN 3 ELSE 1 END
        |      ELSE 3 END AS INT) AS channels
        |  FROM documents)
        |SELECT id, format, width, height, channels,
        |  CAST((width * 224) // greatest(width, height) AS INT) AS out_w,
        |  CAST((height * 224) // greatest(width, height) AS INT) AS out_h
        |FROM m ORDER BY id""".stripMargin)

  gate("multimodal_audio_meta")((s, dir) => {
      // r11: REAL audio container facts — the fixture encodes actual WAV
      // (the JDK's own javax.sound writer) and FLAC STREAMINFO payloads,
      // the engine parses the BYTES back with the native header-parse
      // expression (strict — unknown containers refuse, never a silent
      // wrong duration), and the oracle re-derives everything from the
      // clip_id arithmetic, so any encoder/parser offset disagreement
      // fails the gate.
      val clips = s.read.parquet(ensureAudioFixture(s, dir))
      Multimodal.audioMeta(clips, "payload", "clip_id", strict = true)
        .select(col("id"), col("format"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"))
        .orderBy("id")
    },
    // audio facts re-derived from the clip_id arithmetic the fixture
    // encoder used; duration is integer division (frames·1000 // rate)
    oracle = """SELECT doc_id AS id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'flac' END AS format,
        |  CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        |  CAST((doc_id // 2) % 2 + 1 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits,
        |  CAST(doc_id % 100 + 50 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 100 + 50) * 1000 // (8000 + (doc_id % 4) * 4000) AS BIGINT)
        |    AS duration_ms
        |FROM documents ORDER BY id""".stripMargin)

  gate("multimodal_video_meta")((s, dir) => {
      // r11: REAL video container facts — the fixture hand-encodes actual
      // ISO BMFF boxes (spec offsets, independent of the parser's walk),
      // the engine walks the BYTES back with the native Mp4Meta expression
      // (strict — a non-BMFF or truncated payload refuses, never a silent
      // wrong duration), and the oracle re-derives everything from the
      // clip_id arithmetic, so any encoder/parser offset disagreement
      // fails the gate.
      val clips = s.read.parquet(ensureVideoFixture(s, dir))
      Multimodal.videoMeta(clips, "payload", "clip_id", strict = true)
        .select(col("id"), col("brand"), col("timescale"), col("duration_ms"),
          col("n_tracks"), col("video_tracks"), col("audio_tracks"),
          col("width"), col("height"))
        .orderBy("id")
    },
    // video facts re-derived from the clip_id arithmetic the fixture
    // encoder used; duration is integer division (units·1000 // timescale)
    oracle = """SELECT doc_id AS id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(600 + (doc_id % 5) * 100 AS INT) AS timescale,
        |  CAST((doc_id % 500 + 120) * 1000 // (600 + (doc_id % 5) * 100) AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS INT) AS n_tracks,
        |  CAST(1 AS INT) AS video_tracks,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS audio_tracks,
        |  CAST((doc_id * 7) % 320 + 16 AS INT) AS width,
        |  CAST((doc_id * 13) % 240 + 16 AS INT) AS height
        |FROM documents ORDER BY id""".stripMargin)

  gate("multimodal_phash")((s, dir) => {
      // r11: REAL pixel-plane perceptual hash — ImageIO decodes the
      // fixture's actual container bytes, the 8×8 integer-luma thumbnail
      // thresholds division-free, and the oracle re-derives the EXACT bit
      // string in SQL from the fixture's known pixel function
      // ((x·31+y·17+id) & 0xffffff). Restricted to the LOSSLESS formats
      // (png, bmp — id%4 ∈ {0,3}): jpeg decode is lossy and gif is
      // palette-quantized by the encoder, so their decoded pixels are
      // reader-implementation facts, not arithmetic (the MultimodalSpec
      // covers them via ImageIO round-trip instead). strict: an
      // undecodable payload refuses loudly, never a silent fingerprint.
      val imgs = s.read.parquet(ensureImageFixture(s, dir))
        .filter(pmod(col("img_id"), lit(4)).isin(0, 3))
      Multimodal.pixelAverageHash(imgs, "payload", "img_id", strict = true)
        .select(col("id"), col("phash_bits"))
        .orderBy("id")
    },
    // Pixel-plane aHash re-derived from first principles: the fixture's
    // pixel function is (x·31 + y·17 + id) & 0xffffff and png/bmp encode
    // losslessly, so DuckDB regenerates every pixel, folds the same
    // BT.601 integer luma into the same 8×8 floor-division cells, and
    // must reproduce the engine's 64-bit string exactly.
    oracle = """WITH imgs AS (
        |  SELECT doc_id AS id,
        |         CAST((doc_id * 7) % 120 + 16 AS BIGINT) AS w,
        |         CAST((doc_id * 13) % 90 + 16 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 4 IN (0, 3)),
        |xs AS (
        |  SELECT id, w, h, unnest(generate_series(0, w - 1)) AS x FROM imgs),
        |px AS (
        |  SELECT id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM xs),
        |lum AS (
        |  SELECT id, (y * 8) // h * 8 + (x * 8) // w AS cell,
        |         299 * ((((x*31 + y*17 + id) & 16777215) >> 16) & 255)
        |       + 587 * ((((x*31 + y*17 + id) & 16777215) >> 8) & 255)
        |       + 114 * (((x*31 + y*17 + id) & 16777215) & 255) AS l
        |  FROM px),
        |cells AS (
        |  SELECT id, cell, SUM(l) // COUNT(*) AS t FROM lum GROUP BY id, cell),
        |tot AS (
        |  SELECT id, SUM(t) AS total FROM cells GROUP BY id)
        |SELECT c.id AS id,
        |       string_agg(CASE WHEN 64 * c.t > t2.total THEN '1' ELSE '0' END,
        |                  '' ORDER BY c.cell) AS phash_bits
        |FROM cells c JOIN tot t2 USING (id)
        |GROUP BY c.id ORDER BY id""".stripMargin)
}
