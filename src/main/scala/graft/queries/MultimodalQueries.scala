package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import Q._

/** Multimodal pipeline queries: binary payload + typed metadata through
  * decode / feature-extract / resize / frame-sample stages
  * (graft.operators.Multimodal).
  *
  * r9: the image path is REAL end-to-end — mediaTable synthesizes genuine
  * baseline JPEGs through ImageIO's encoder and features/resize decode
  * them with the full huffman+IDCT codec; because the fixtures are solid
  * block-aligned half-planes, every decoded pixel equals its source
  * luminance exactly (DC-only blocks; verified for all 256 luminances in
  * MultimodalSpec), so the DuckDB oracle stays closed-form over doc_id.
  * The frame-sampling (video) path keeps the byte-chunk stand-in — no JDK
  * H.264 decoder exists — with its ascii()/prefix-sum oracle.
  */
object MultimodalQueries extends QuerySet {

  val queries: Map[String, QueryFn] = Map(
    // REAL JPEG decode + feature extraction (per-pixel gray mean/histogram)
    "multimodal_features" -> { (s, dir) =>
      val media = Multimodal.mediaTable(s, dir)
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), r6(col("mean_px")).as("mean_px"))
    },

    // REAL JPEG decode + nearest-neighbor resample to 16×16
    "multimodal_resize" -> { (s, dir) =>
      val media = Multimodal.mediaTable(s, dir)
      Multimodal.resize(media, 16, 16)
        .select(col("media_id"), r6(col("mean_px")).as("mean_px"))
    },

    // video-style frame sampling (4 frames, stride 2) — flatMap shape over
    // the byte-chunk stand-in payloads (H.264 has no JDK decoder)
    "multimodal_frames" -> { (s, dir) =>
      val media = Multimodal.videoStandinTable(s, dir)
      Multimodal.sampleFrames(media, 4, 2)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          r6(col("frame_mean")).as("frame_mean"))
    },

    // REAL audio decode: RIFF/WAVE PCM synthesized per doc (square wave —
    // RMS == amplitude exactly), parsed back by the chunk-walking parser.
    // Every output value flows THROUGH the binary round-trip, so a header
    // mis-read (wrong chunk skip, wrong endianness, stride bug) breaks the
    // hash against the oracle's closed-form values.
    "multimodal_wav" -> { (s, dir) =>
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
      ids.mapPartitions { it =>
        // a real codec would init once per partition here (same batching
        // pattern as extractFeatures)
        it.map { id =>
          val sr = 8000 + (id % 3).toInt * 4000
          val amp = 1000 + (id % 7).toInt * 100
          val n = sr / 20 // 50 ms
          val info = Multimodal.RealCodecs.parseWav(
            Multimodal.RealCodecs.synthesizeWav(sr, amp, n))
          (id, info.sampleRate.toLong, info.channels.toLong, info.bits.toLong,
            info.nSamples.toLong, math.round(info.rms),
            info.nSamples * 1000L / info.sampleRate)
        }
      }.toDF("media_id", "sample_rate", "channels", "bits", "n_samples",
        "rms", "duration_ms")
    },

    // REAL image decode: 24bpp BMP with 4-byte row padding — the parser
    // must honor the stride or the mean pixel is wrong.
    "multimodal_bmp" -> { (s, dir) =>
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
      ids.mapPartitions { it =>
        it.map { id =>
          val (w, h, lum) = (4 + (id % 4).toInt, 2 + (id % 2).toInt, (id % 251).toInt)
          val info = Multimodal.RealCodecs.parseBmp(
            Multimodal.RealCodecs.synthesizeBmp(w, h, lum))
          (id, info.width.toLong, info.height.toLong, info.bpp.toLong,
            math.round(info.meanPx))
        }
      }.toDF("media_id", "width", "height", "bpp", "mean_px")
    },

    // REAL compressed-image decode: baseline JPEG through the JDK's
    // javax.imageio codec (huffman entropy decode + dequantize + IDCT +
    // YCbCr→RGB — nothing external). Fixture: two solid block-aligned
    // half-planes per doc, encoded at q=0.95 in the executor, decoded back
    // by the full codec path; per-half means round to the source
    // luminances exactly, so the oracle is closed-form over doc_id. A
    // wrong huffman table, quant table, or color transform breaks the hash.
    "multimodal_jpeg" -> { (s, dir) =>
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
      ids.mapPartitions { it =>
        // ImageIO writer/reader instances are per-call; the JVM-wide codec
        // registry init is the once-per-executor cost this batch amortizes
        it.map { id =>
          val w = 16 * ((id % 4).toInt + 1)
          val h = 8 * ((id % 3).toInt + 1)
          val (l1, l2) = ((id % 256).toInt, ((id * 7 + 13) % 256).toInt)
          val info = Multimodal.RealCodecs.parseJpeg(
            Multimodal.RealCodecs.synthesizeJpeg(w, h, l1, l2))
          (id, info.width.toLong, info.height.toLong,
            math.round(info.meanLeft), math.round(info.meanRight))
        }
      }.toDF("media_id", "width", "height", "lum_left", "lum_right")
    })

  private val BytesCte =
    """b AS (SELECT doc_id AS media_id, text, length(text) AS len,
      |        (doc_id % 16 + 8) AS w, (doc_id % 8 + 4) AS h FROM documents),
      |bb AS (SELECT media_id, len, w, h,
      |        list_transform(range(1, len + 1), i -> ascii(substr(text, i, 1))) AS bytes
      |       FROM b)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the decoded solid-half pixels equal their source luminances exactly
    // (DC-only blocks, q=0.95 — MultimodalSpec's 256-lum sweep), so the
    // whole-image mean is the closed-form half average
    "multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 * (doc_id % 4 + 1) AS BIGINT) AS width,
        |  CAST(8 * (doc_id % 3 + 1) AS BIGINT) AS height,
        |  floor(((doc_id % 256 + (doc_id * 7 + 13) % 256) / 2.0 + 1.37e-8) * 1000000 + 0.5) / 1000000 AS mean_px
        |FROM documents""".stripMargin,

    // nearest-neighbor 16×16 of a block-aligned two-tone image keeps an
    // 8/8 column split, so the resized mean equals the same half average
    "multimodal_resize" ->
      """SELECT doc_id AS media_id,
        |  floor(((doc_id % 256 + (doc_id * 7 + 13) % 256) / 2.0 + 1.37e-8) * 1000000 + 0.5) / 1000000 AS mean_px
        |FROM documents""".stripMargin,

    "multimodal_wav" ->
      """SELECT doc_id AS media_id,
        |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST((8000 + (doc_id % 3) * 4000) // 20 AS BIGINT) AS n_samples,
        |  CAST(1000 + (doc_id % 7) * 100 AS BIGINT) AS rms,
        |  CAST(50 AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,

    "multimodal_bmp" ->
      """SELECT doc_id AS media_id,
        |  CAST(4 + (doc_id % 4) AS BIGINT) AS width,
        |  CAST(2 + (doc_id % 2) AS BIGINT) AS height,
        |  CAST(24 AS BIGINT) AS bpp,
        |  CAST(doc_id % 251 AS BIGINT) AS mean_px
        |FROM documents""".stripMargin,

    "multimodal_jpeg" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 * (doc_id % 4 + 1) AS BIGINT) AS width,
        |  CAST(8 * (doc_id % 3 + 1) AS BIGINT) AS height,
        |  CAST(doc_id % 256 AS BIGINT) AS lum_left,
        |  CAST((doc_id * 7 + 13) % 256 AS BIGINT) AS lum_right
        |FROM documents""".stripMargin,

    "multimodal_frames" ->
      s"""WITH $BytesCte,
         |f AS (SELECT media_id, len, greatest(len // 4, 1) AS chunk, bytes,
         |        unnest([0, 2]) AS frame_idx FROM bb),
         |c AS (SELECT media_id, frame_idx,
         |        least(len, frame_idx * chunk + chunk) - frame_idx * chunk AS m,
         |        frame_idx * chunk AS off, bytes FROM f)
         |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         | floor((CASE WHEN m <= 0 THEN 0.0
         |   ELSE CAST(list_sum(bytes[(off + 1):(off + m)]) AS BIGINT) * 1.0 / m
         |   END + 1.37e-8) * 1000000 + 0.5) / 1000000 AS frame_mean
         |FROM c""".stripMargin)
}
