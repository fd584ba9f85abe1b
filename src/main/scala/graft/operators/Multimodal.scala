package graft.operators

import graft.Pins
import graft.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators — LLM-pipeline extension scope
  * (SURVEY.md §2c): treat media as opaque `binary` payloads with typed
  * metadata, and run decode / feature-extraction as partition-batched
  * transforms.
  *
  * The decode step is REAL: payloads are spec-conformant BMP / WAV / PPM
  * containers (formats a pure-JVM header+samples parser handles with zero
  * codec dependencies — see [[graft.functions.MediaCodecs]]), and
  * [[mediaFeatures]] parses them by magic-byte sniffing, validating headers
  * against buffer sizes. Everything around it — the binary column, the
  * metadata struct schema, the partition-batched iterator transform, the
  * downstream aggregation — is the Spark plumbing that matters at 100 TB:
  * payload bytes stay columnar in parquet, metadata predicates prune row
  * groups without touching payloads, and decode amortizes per partition
  * batch, not per row. Swapping BMP→JPEG means swapping ONLY the parser.
  *
  * The synthetic corpus has no binary column, so payloads are derived
  * deterministically (utf-8 bytes of `documents.text`, wrapped in a real
  * container per mime) — which makes the whole encode→decode→featurize
  * path ORACLE-CHECKABLE: decoded sample statistics must equal DuckDB's
  * direct statistics over the same text bytes (hex-expansion in SQL), so a
  * single hash compare proves both codec directions end-to-end.
  */
object Multimodal {

  /** Typed metadata for an opaque media payload. */
  case class MediaMeta(mime: String, width: Int, height: Int, nBytes: Long)
  case class MediaRow(doc_id: Long, payload: Array[Byte], meta: MediaMeta)
  case class MediaRowFlat(doc_id: Long, mime: String, payload: Array[Byte],
                          src_bytes: Long)
  case class MediaFeatures(doc_id: Long, mime: String, n_samples: Long,
                           sample_sum: Long, sample_mean: Double, sample_max: Int)

  /** Media table: binary payload + metadata struct, derived deterministically
    * from `documents`. The mime/width/height are synthetic but flow through
    * the typed schema the way real EXIF-ish metadata would. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        encode(col("text"), "utf-8").as("payload"),
        struct(
          when(col("doc_id") % 3 === 0, "image/png")
            .when(col("doc_id") % 3 === 1, "audio/wav")
            .otherwise("video/mp4").as("mime"),
          (col("doc_id") % 640 + 1).cast("int").as("width"),
          (col("doc_id") % 480 + 1).cast("int").as("height"),
          length(col("text")).cast("long").as("nBytes")).as("meta"))

  // ------------------------------------------------------ metadata queries
  /** Metadata-only scan: digest, size, and a header byte per payload —
    * the "list my corpus" query. Runs without decoding anything; at 100 TB
    * with payloads in their own parquet column, column pruning means the
    * payload bytes ARE read here (digest needs them) but mime/size
    * predicates alone would not. */
  def mediaMetadata(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(col("doc_id"), col("meta.mime").as("mime"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"),
        ascii(substring(col("payload").cast("string"), 1, 1)).as("first_byte"))
      .orderBy("doc_id")

  val mediaMetadataSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |       ELSE 'video/mp4' END AS mime,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS digest,
      |  ascii(substring(text, 1, 1)) AS first_byte
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-mime corpus rollup over metadata only. */
  def mediaByMime(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .groupBy(col("meta.mime").as("mime"))
      .agg(count(lit(1)).as("n_files"),
           sum(length(col("payload"))).cast("long").as("total_bytes"),
           max(col("meta.width")).as("max_w"),
           max(col("meta.height")).as("max_h"))
      .orderBy("mime")

  val mediaByMimeSql: String =
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |            WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |            ELSE 'video/mp4' END AS mime,
      |  count(*) AS n_files,
      |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(max(doc_id % 640 + 1) AS INT) AS max_w,
      |  CAST(max(doc_id % 480 + 1) AS INT) AS max_h
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------- real decode
  /** Media table with REAL container payloads: each doc's utf-8 text bytes
    * wrapped in a spec-conformant BMP (doc_id%3=0), WAV (%3=1), or PPM
    * (%3=2) file via [[graft.functions.MediaCodecs]]. This is the "ingest"
    * stage — at 100 TB these bytes arrive from object storage instead of
    * being synthesized, and everything downstream is unchanged. Encoding
    * runs partition-local (narrow, no shuffle). */
  def codecMediaTable(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[MediaRowFlat]
    Tables.documents(s, dir)
      // an empty doc has no encodable payload (all three containers require
      // ≥1 sample) — drop it HERE, mirrored by the oracle SQL's n>0 filter,
      // instead of letting a bare require() abort the whole query if a
      // future corpus regeneration ships an empty text
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("data"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val data = r.getAs[Array[Byte]](1)
          val (mime, payload) =
            try {
              (id % 3) match {
                case 0 => ("image/bmp" , MediaCodecs.toBmp(data))
                case 1 => ("audio/wav" , MediaCodecs.toWav(data))
                case _ => ("image/ppm" , MediaCodecs.toPpm(data))
              }
            } catch {
              case e: IllegalArgumentException =>
                throw new IllegalArgumentException(s"doc_id=$id: ${e.getMessage}", e)
            }
          // source size rides along so downstream audits need no second
          // documents scan + join (payload bytes dwarf the extra long)
          MediaRowFlat(id, mime, payload, data.length.toLong)
        }
      }(enc)
      .toDF()
  }

  /** Partition-batched decode + featurize over the real containers: the
    * Scala twin of a `mapInPandas` media pipeline — an iterator→iterator
    * transform per partition (constant memory, batch-amortized decoder
    * setup), returning a typed Dataset. The parser dispatches on magic
    * bytes and validates headers ([[graft.functions.MediaCodecs.decode]]);
    * features are decoded-sample statistics, which by construction equal
    * the text-byte statistics DuckDB computes independently — so this
    * query is HASH-checked by the driver oracle, proving encode, header
    * layout, stride/chunk handling, and sample extraction in one compare. */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[MediaFeatures]
    // decode stays NARROW: the documents loader already fans the scan out
    // across cores, so encode+decode chain partition-local — payload bytes
    // never cross an exchange (the earlier repartition here moved every
    // container through a full shuffle for nothing)
    codecMediaTable(s, dir)
      .mapPartitions { rows =>
        // per-partition decoder init happens here (once), then rows decode
        // in fixed-size batches — the same batch shape a vectorized decode
        // API wants, with constant memory
        rows.grouped(64).flatMap { batch =>
          batch.map { r =>
            val d = MediaCodecs.decode(r.getAs[Array[Byte]]("payload"))
            val n = d.samples.length
            var sum = 0L; var max = Int.MinValue
            var i = 0
            while (i < n) { val v = d.samples(i); sum += v; if (v > max) max = v; i += 1 }
            MediaFeatures(r.getAs[Long]("doc_id"), r.getAs[String]("mime"),
              n.toLong, sum,
              BigDecimal(sum.toDouble / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
              max)
          }
        }
      }(enc)
      .toDF()
      .orderBy("doc_id")
  }

  /** Sample statistics DuckDB computes straight from the text bytes
    * (hex-expansion: byte i of the blob is hex pair 2i-1..2i), matching
    * [[mediaFeatures]]'s decoded output — the cross-engine proof that the
    * container roundtrip is lossless. */
  val mediaFeaturesSql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0
      |),
      |bytes AS (
      |  SELECT doc_id, CAST('0x' || substring(h, 2 * i - 1, 2) AS INTEGER) AS v
      |  FROM b, LATERAL (SELECT unnest(generate_series(1, n)) AS i) g
      |)
      |SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
      |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |       ELSE 'image/ppm' END AS mime,
      |  CAST(count(*) AS BIGINT) AS n_samples,
      |  CAST(sum(v) AS BIGINT) AS sample_sum,
      |  round(avg(v), 6) AS sample_mean,
      |  CAST(max(v) AS INTEGER) AS sample_max
      |FROM bytes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Container-overhead audit: payload size vs source size per mime — the
    * header/stride/sample-width arithmetic of all three encoders, checked
    * byte-exactly against DuckDB's closed-form size formulas. */
  def codecSizes(s: SparkSession, dir: String): DataFrame =
    codecMediaTable(s, dir)
      .groupBy("mime")
      .agg(count(lit(1)).as("n_files"),
           sum(length(col("payload"))).cast("long").as("container_bytes"),
           sum(col("src_bytes")).cast("long").as("source_bytes"))
      .orderBy("mime")

  val codecSizesSql: String =
    """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n,
      |                  length(CAST(octet_length(encode(text)) AS VARCHAR)) AS dig
      |           FROM documents WHERE octet_length(encode(text)) > 0)
      |SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
      |            WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |            ELSE 'image/ppm' END AS mime,
      |  count(*) AS n_files,
      |  CAST(sum(CASE
      |    WHEN doc_id % 3 = 0 THEN 54 + CAST(ceil(3 * n / 4.0) AS BIGINT) * 4
      |    WHEN doc_id % 3 = 1 THEN 44 + 2 * n
      |    ELSE 3 + dig + 3 + 4 + 3 * n  -- 'P6\n' + digits(w) + ' 1\n' + '255\n' + rgb
      |  END) AS BIGINT) AS container_bytes,
      |  CAST(sum(n) AS BIGINT) AS source_bytes
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  case class WavStats(doc_id: Long, n_samples: Long, rms: Double, zcr: Double)
  case class ChannelStats(doc_id: Long, mime: String, n_px: Long,
                          r_mean: Double, g_mean: Double, b_mean: Double)
  case class QuarantineRow(doc_id: Long, mime: String, status: String)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Audio signal statistics from REAL WAV decode: RMS amplitude and
    * zero-crossing rate (crossings of the mean level). The crossing
    * comparison runs in EXACT integer arithmetic — `v < mean` is computed
    * as `v·n < sum` — so Spark (decoding containers) and DuckDB (hex-
    * expanding the same source bytes) agree bit-for-bit with no float
    * epsilon anywhere. This is the "is the audio silence/noise/speechlike"
    * triage a multimodal curation pipeline runs before expensive ASR. */
  def wavAudioStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[WavStats]
    Tables.documents(s, dir)
      .filter(col("doc_id") % 3 === 1 && length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("data"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val d = MediaCodecs.parseWav(MediaCodecs.toWav(r.getAs[Array[Byte]](1)))
          val n = d.samples.length
          var sum = 0L; var sumsq = 0L
          var i = 0
          while (i < n) {
            val v = d.samples(i).toLong; sum += v; sumsq += v * v; i += 1
          }
          var crossings = 0L
          i = 1
          while (i < n) {
            // sign of (v − mean) via exact cross-multiplication v·n vs sum
            val a = d.samples(i - 1).toLong * n; val b = d.samples(i).toLong * n
            if ((a < sum && b > sum) || (a > sum && b < sum)) crossings += 1
            i += 1
          }
          WavStats(id, n.toLong,
            round6(math.sqrt(sumsq.toDouble / n)),
            round6(crossings.toDouble / math.max(n - 1, 1)))
        }
      }(enc)
      .toDF()
      .orderBy("doc_id")
  }

  val wavAudioStatsSql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      |  FROM documents WHERE doc_id % 3 = 1 AND octet_length(encode(text)) > 0
      |),
      |bytes AS (
      |  SELECT doc_id, i, CAST('0x' || substring(h, 2 * i - 1, 2) AS INTEGER) AS v
      |  FROM b, LATERAL (SELECT unnest(generate_series(1, n)) AS i) g
      |),
      |m AS (
      |  SELECT doc_id, count(*) AS n, sum(v) AS s, sum(v * v) AS sq
      |  FROM bytes GROUP BY doc_id
      |),
      |x AS (
      |  SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      |  FROM bytes
      |),
      |c AS (
      |  SELECT x.doc_id,
      |         sum(CASE WHEN pv IS NOT NULL AND
      |                       ((pv * n < s AND v * n > s) OR (pv * n > s AND v * n < s))
      |                  THEN 1 ELSE 0 END) AS nc
      |  FROM x JOIN m USING (doc_id) GROUP BY x.doc_id
      |)
      |SELECT m.doc_id, CAST(m.n AS BIGINT) AS n_samples,
      |       round(sqrt(sq * 1.0 / n), 6) AS rms,
      |       round(nc * 1.0 / greatest(n - 1, 1), 6) AS zcr
      |FROM m JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Per-channel means over RGB containers where the channels genuinely
    * DIFFER (r = v, g = 255 − v, b = 7·v mod 256 — [[graft.functions
    * .MediaCodecs.rgbOf]]): BMP stores pixels B,G,R and PPM stores R,G,B,
    * so a channel-order bug in either parser swaps the means and the
    * oracle hash catches it — the gray containers (identical channels)
    * could never see that bug. */
  def channelMeans(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[ChannelStats]
    Tables.documents(s, dir)
      .filter(col("doc_id") % 3 =!= 1 && length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("data"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val data = r.getAs[Array[Byte]](1)
          val (mime, container) =
            if (id % 3 == 0) ("image/bmp", MediaCodecs.toBmpRgb(data))
            else ("image/ppm", MediaCodecs.toPpmRgb(data))
          val d = MediaCodecs.decodeRgb(container)
          ChannelStats(id, mime, d.nPx.toLong,
            round6(d.sumR.toDouble / d.nPx),
            round6(d.sumG.toDouble / d.nPx),
            round6(d.sumB.toDouble / d.nPx))
        }
      }(enc)
      .toDF()
      .orderBy("doc_id")
  }

  val channelMeansSql: String =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
      |  FROM documents WHERE doc_id % 3 <> 1 AND octet_length(encode(text)) > 0
      |),
      |bytes AS (
      |  SELECT doc_id, CAST('0x' || substring(h, 2 * i - 1, 2) AS INTEGER) AS v
      |  FROM b, LATERAL (SELECT unnest(generate_series(1, n)) AS i) g
      |)
      |SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image/bmp' ELSE 'image/ppm' END AS mime,
      |  CAST(count(*) AS BIGINT) AS n_px,
      |  round(avg(v), 6) AS r_mean,
      |  round(avg(255 - v), 6) AS g_mean,
      |  round(avg((7 * v) % 256), 6) AS b_mean
      |FROM bytes GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  /** Corrupt-payload quarantine: the poison-pill side-output path of a
    * media ingest job. A deterministic subset of containers is corrupted
    * (doc_id % 34 → truncated to half; else doc_id % 17 → magic bytes
    * smashed), decode runs under a catch of the parsers' VALIDATION error
    * only (anything else — an index error, an OOM — stays loud, because
    * an unexpected failure mode must fail the job, not be quarantined),
    * and every row is routed to `ok` / `quarantined`. The oracle knows
    * exactly which ids were corrupted, so the hash proves both directions:
    * no valid container is rejected, no corrupt one slips through.
    * Downstream, `filter(status = 'quarantined')` IS the side channel —
    * same dataflow as the Kafka poison-pill route. */
  def quarantine(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[QuarantineRow]
    codecMediaTable(s, dir)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getAs[Long]("doc_id")
          val payload = r.getAs[Array[Byte]]("payload")
          val candidate =
            if (id % 34 == 0) payload.take(payload.length / 2)
            else if (id % 17 == 0) {
              val c = payload.clone(); c(0) = 0xDE.toByte; c(1) = 0xAD.toByte; c
            } else payload
          val status =
            try { MediaCodecs.decode(candidate); "ok" }
            catch { case _: IllegalArgumentException => "quarantined" }
          QuarantineRow(id, r.getAs[String]("mime"), status)
        }
      }(enc)
      .toDF()
      .orderBy("doc_id")
  }

  val quarantineSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
      |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |       ELSE 'image/ppm' END AS mime,
      |  CASE WHEN doc_id % 17 = 0 THEN 'quarantined' ELSE 'ok' END AS status
      |FROM documents WHERE octet_length(encode(text)) > 0
      |ORDER BY doc_id""".stripMargin

  /** Frame-sample shape: explode a payload into fixed-stride "frames"
    * (here: 64-byte slices) with per-frame digests — the plumbing of video
    * frame sampling (generator + per-frame map), minus the codec. Slice
    * arithmetic is integer → oracle-checkable in SQL. */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .filter(col("meta.mime") === "video/mp4")
      .select(col("doc_id"), col("payload").cast("string").as("t"))
      .select(col("doc_id"),
        posexplode(expr("transform(sequence(0, CAST(floor((length(t) - 1) / 64) AS INT)), " +
          "i -> substring(t, i * 64 + 1, 64))")).as(Seq("frame_no", "frame")))
      .select(col("doc_id"), col("frame_no"),
        length(col("frame")).cast("long").as("frame_len"),
        md5(encode(col("frame"), "utf-8")).as("frame_digest"))
      .orderBy("doc_id", "frame_no")

  val frameSampleSql: String =
    """WITH v AS (SELECT doc_id, text AS t FROM documents WHERE doc_id % 3 = 2)
      |SELECT doc_id, i - 1 AS frame_no,
      |  CAST(length(substring(t, (i - 1) * 64 + 1, 64)) AS BIGINT) AS frame_len,
      |  md5(substring(t, (i - 1) * 64 + 1, 64)) AS frame_digest
      |FROM v, LATERAL (SELECT unnest(generate_series(1,
      |       CAST(floor((length(t) - 1) / 64) AS BIGINT) + 1)) AS i) g
      |ORDER BY doc_id, frame_no""".stripMargin

  case class SniffRow(doc_id: Long, format: String, width: Int, height: Int,
                      sample_rate: Int, bitrate_kbps: Int, duration_ms: Long,
                      n_bytes: Long)

  /** Real-world-format metadata sniffing — JPEG / PNG / MP3 / GIF / FLAC
    * header parsing with NO decode ([[graft.functions.MediaCodecs.sniff]]):
    * the triage pass a production ingest runs over arriving objects to
    * route, filter and budget them (dimensions, sample rate, duration)
    * before any expensive decode. Payloads are synthesized with
    * structurally true headers (real signatures, chunk/segment walks,
    * planted dims/bitrates derived from doc arithmetic) and a sixth of
    * docs carry NO known signature — sniff reports those as `unknown`
    * (the quarantine route) rather than throwing, because unknown formats
    * are data, not bugs.
    *
    * The oracle recomputes every header field from the same doc
    * arithmetic, so the hash gate proves the byte packing AND the parse:
    * a single endianness slip (GIF dims are the one little-endian field),
    * a swapped JPEG height/width, an off-by-one in the MP3 bitrate table,
    * or a mis-shifted bit in FLAC's 20-bit sample-rate packing breaks the
    * match. Header-only cost at 100 TB: this reads each payload's first
    * bytes and never touches sample data — with payloads columnar in
    * parquet the scan is still payload-column-wide, but the per-row work
    * is O(header). */
  def sniffMetadata(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[SniffRow]
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("data"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val data = r.getAs[Array[Byte]](1)
          val payload = (id % 6) match {
            case 0 => MediaCodecs.toPng(data, data.length % 640 + 1, (id % 480).toInt + 1)
            case 1 => MediaCodecs.toJpeg(data, data.length % 640 + 1, (id % 480).toInt + 1)
            case 2 => MediaCodecs.toMp3(data, (id % 14).toInt + 1, (id % 3).toInt)
            case 3 => MediaCodecs.toGif(data, data.length % 640 + 1, (id % 480).toInt + 1)
            case 4 => MediaCodecs.toFlac(data, Array(44100, 48000, 32000)((id % 3).toInt),
              data.length.toLong * 100)
            case _ => data // raw utf-8: no known signature → unknown
          }
          val m = MediaCodecs.sniff(payload)
          SniffRow(id, m.format, m.width, m.height, m.sampleRate,
            m.bitrateKbps, m.durationMs, m.nBytes)
        }
      }(enc)
      .toDF()
      .orderBy("doc_id")
  }

  val sniffMetadataSql: String =
    """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
      |SELECT doc_id,
      |  CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'mp3'
      |                  WHEN 3 THEN 'gif' WHEN 4 THEN 'flac' ELSE 'unknown' END AS format,
      |  CAST(CASE WHEN doc_id % 6 IN (0, 1, 3) THEN len % 640 + 1 ELSE 0 END AS INT) AS width,
      |  CAST(CASE WHEN doc_id % 6 IN (0, 1, 3) THEN doc_id % 480 + 1 ELSE 0 END AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 6 IN (2, 4)
      |            THEN ([44100, 48000, 32000])[CAST(doc_id % 3 AS INT) + 1]
      |            ELSE 0 END AS INT) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 6 = 2
      |            THEN ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320])[CAST(doc_id % 14 AS INT) + 2]
      |            ELSE 0 END AS INT) AS bitrate_kbps,
      |  CAST(CASE WHEN doc_id % 6 = 2
      |            THEN ((len + 4) * 8) // ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320])[CAST(doc_id % 14 AS INT) + 2]
      |            WHEN doc_id % 6 = 4
      |            THEN (len * 100 * 1000) // ([44100, 48000, 32000])[CAST(doc_id % 3 AS INT) + 1]
      |            ELSE 0 END AS BIGINT) AS duration_ms,
      |  CAST(CASE doc_id % 6 WHEN 0 THEN len + 57 WHEN 1 THEN len + 55
      |                       WHEN 2 THEN len + 4 WHEN 3 THEN len + 14
      |                       WHEN 4 THEN len + 42 ELSE len END AS BIGINT) AS n_bytes
      |FROM d ORDER BY doc_id""".stripMargin

  /** Payload-size distribution per mime: exact p50/p90/p99 of byte sizes —
    * the storage-budget profile a corpus owner reads before choosing
    * compression or chunking. Metadata-only (never decodes); DuckDB
    * `quantile_cont` matches Spark `percentile` at round(6). */
  def sizePercentiles(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .select(col("meta.mime").as("mime"), length(col("payload")).cast("long").as("nb"))
      .groupBy("mime")
      .agg(count(lit(1)).as("n_files"),
           round(expr("percentile(nb, 0.5)"), 6).as("p50_bytes"),
           round(expr("percentile(nb, 0.9)"), 6).as("p90_bytes"),
           round(expr("percentile(nb, 0.99)"), 6).as("p99_bytes"))
      .orderBy("mime")

  val sizePercentilesSql: String =
    """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |            WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |            ELSE 'video/mp4' END AS mime,
      |       count(*) AS n_files,
      |       round(quantile_cont(octet_length(encode(text)), 0.5), 6) AS p50_bytes,
      |       round(quantile_cont(octet_length(encode(text)), 0.9), 6) AS p90_bytes,
      |       round(quantile_cont(octet_length(encode(text)), 0.99), 6) AS p99_bytes
      |FROM documents GROUP BY 1 ORDER BY mime""".stripMargin

  // --------------------------------------------------- perceptual hashing
  case class AHashRow(doc_id: Long, mime: String, n_px: Long,
                      ahash_lo: Long, ahash_hi: Long)

  /** Average-hash perceptual fingerprint (the aHash of the pHash family —
    * the block-mean thresholding used for image near-dup in web-scale
    * pipelines): decode the container (REAL parser — the decode path is
    * what's under test), partition the sample sequence into 64
    * position-contiguous blocks, and set bit b iff block b's mean sample
    * is ≥ the global mean. The comparison is the exact integer
    * cross-multiplication `blockSum·n ≥ total·blockLen` — no division, so
    * both engines agree bit-for-bit — and the 64 bits ship as two 32-bit
    * halves (`ahash_lo`/`ahash_hi`) because constructing a full signed
    * 64-bit literal overflows DuckDB BIGINT arithmetic at bit 63.
    *
    * A real image pipeline downsamples 2-D luminance blocks; the harness
    * containers are single-row gray images (one sample per source byte),
    * so 1-D contiguous blocks ARE the 2-D grid — the dataflow (decode →
    * fixed-size fingerprint → banded near-dup join) is the part that
    * transfers. Scale: decode amortizes per partition, the fingerprint is
    * 16 bytes/doc, and nothing shuffles but the presentation sort. */
  private[graft] def imageHashes(s: SparkSession, dir: String): DataFrame =
    imageHashesOf(Tables.documents(s, dir))

  /** The image-class slice of the corpus as a media frame
    * `(doc_id, data, is_bmp)` — container choice made EXPLICIT so the
    * sentinel twins below can take the opposite container without bending
    * the id-derived rule. */
  private[graft] def eligibleMedia(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 3 =!= 1 && length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("data"),
        (col("doc_id") % 3 === 0).as("is_bmp"))

  /** Offset separating sentinel twin ids from real doc ids (above every
    * harness doc_id at any sf; mirrored literally in the oracles). */
  private[graft] val MirrorOffset = 1000000000L

  /** [[eligibleMedia]] plus SENTINEL RE-ENCODES: every tenth image doc is
    * re-encoded in the OTHER container (same payload, twin id
    * `doc_id + MirrorOffset`). This is the cross-container FIXTURE the
    * content-dedup and image-near-dup driver GATES run over — a corpus
    * where the same pixels ship as both a BMP and a PPM — so the hash gate
    * is never vacuously green on a corpus with no natural duplicates (the
    * sf0.01 harness corpus has none). The twin rule is deterministic and
    * mirrored verbatim in the gate oracles. Fixture ONLY: the public
    * operators ([[contentDedup]], [[imageNearDup]], the ER edge set)
    * default to the corpus-faithful [[eligibleMedia]] — their output never
    * contains fabricated ids; the sentinel path is taken solely where the
    * registration site passes `sentinels = true` explicitly. */
  private[graft] def mirroredMedia(docs: DataFrame): DataFrame = {
    val base = eligibleMedia(docs)
    base.unionByName(
      base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + MirrorOffset).as("doc_id"), col("data"),
          (!col("is_bmp")).as("is_bmp")))
  }

  /** The media frame a dedup-family operator runs over: corpus-faithful by
    * default; the sentinel fixture only on explicit request (gate sites). */
  private def mediaOf(docs: DataFrame, sentinels: Boolean): DataFrame =
    if (sentinels) mirroredMedia(docs) else eligibleMedia(docs)

  private[graft] def imageHashesOf(docs: DataFrame): DataFrame =
    hashesOfMedia(eligibleMedia(docs))

  private[graft] def hashesOfMedia(media: DataFrame): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[AHashRow]
    media
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0); val data = r.getAs[Array[Byte]](1)
          val isBmp = r.getBoolean(2)
          val container =
            if (isBmp) MediaCodecs.toBmp(data) else MediaCodecs.toPpm(data)
          val d = MediaCodecs.decode(container)
          val xs = d.samples; val n = xs.length
          var total = 0L; var i = 0
          while (i < n) { total += xs(i); i += 1 }
          val bs = new Array[Long](64); val bl = new Array[Long](64)
          i = 0
          while (i < n) {
            val b = ((i.toLong * 64L) / n).toInt
            bs(b) += xs(i); bl(b) += 1; i += 1
          }
          var lo = 0L; var hi = 0L; var b = 0
          while (b < 64) {
            if (bl(b) > 0 && bs(b) * n >= total * bl(b)) {
              if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
            }
            b += 1
          }
          AHashRow(id, if (isBmp) "image/bmp" else "image/ppm",
            n.toLong, lo, hi)
        }
      }(enc)
      .toDF()
  }

  def imageAHash(s: SparkSession, dir: String): DataFrame =
    imageHashes(s, dir).orderBy("doc_id")

  /** Oracle base for the media frame: the image-class docs as hex bytes —
    * with `mirrored = true` the sentinel twins of [[mirroredMedia]] are
    * spliced in with the SAME deterministic rule (every tenth image doc,
    * twin id `doc_id + MirrorOffset`; the opposite container wraps the
    * identical payload, so the byte expansion — which hashes the DECODED
    * samples, i.e. the payload — is simply repeated under the twin id). */
  private def mediaBaseSql(mirrored: Boolean): String = {
    val base =
      """  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id % 3 <> 1 AND octet_length(encode(text)) > 0""".stripMargin
    if (!mirrored) base
    else base + "\n" +
      s"""  UNION ALL
         |  SELECT doc_id + $MirrorOffset, hex(encode(text)), octet_length(encode(text))
         |  FROM documents WHERE doc_id % 3 <> 1 AND octet_length(encode(text)) > 0 AND doc_id % 10 = 0""".stripMargin
  }

  /** The shared byte-expansion → block-mean → bit pipeline, parameterized
    * by the base CTE so the fingerprint oracle and the (mirrored) near-dup
    * oracle can never drift. */
  private def hashPipelineCtes(baseSql: String): String =
    s"""WITH b AS (
       |$baseSql
       |), bytes AS (
       |  SELECT doc_id, i - 1 AS pos, CAST('0x' || substring(h, 2 * i - 1, 2) AS INTEGER) AS v, n
       |  FROM b, LATERAL (SELECT unnest(generate_series(1, n)) AS i) g
       |), tot AS (
       |  SELECT doc_id, sum(v) AS total, max(n) AS n FROM bytes GROUP BY 1
       |), blocks AS (
       |  SELECT doc_id, (pos * 64) // n AS blk, sum(v) AS bs, count(*) AS bl
       |  FROM bytes GROUP BY 1, 2
       |), bits AS (
       |  SELECT bk.doc_id, blk,
       |         CASE WHEN bs * t.n >= t.total * bl THEN 1 ELSE 0 END AS ind, t.n
       |  FROM blocks bk JOIN tot t ON bk.doc_id = t.doc_id
       |)""".stripMargin

  val imageAHashSql: String =
    hashPipelineCtes(mediaBaseSql(mirrored = false)) +
    """
      |SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image/bmp' ELSE 'image/ppm' END AS mime,
      |  CAST(max(n) AS BIGINT) AS n_px,
      |  CAST(coalesce(sum(CASE WHEN blk < 32 THEN ind * (1::BIGINT << blk) END), 0) AS BIGINT) AS ahash_lo,
      |  CAST(coalesce(sum(CASE WHEN blk >= 32 THEN ind * (1::BIGINT << (blk - 32)) END), 0) AS BIGINT) AS ahash_hi
      |FROM bits GROUP BY 1, 2 ORDER BY doc_id""".stripMargin

  /** Image near-dup pairs over the aHash fingerprints: 4 bands × 16 bits
    * (pigeonhole: hamming ≤ 3 ⇒ at least one band identical, so banded
    * candidate generation is LOSSLESS for the threshold), candidates via
    * the dedup family's shared star-capped [[Dedup.bucketCandidates]] —
    * the same MaxBucket=64 fallback every other fingerprint path uses,
    * because a viral template image is a hot band key at corpus scale —
    * then exact hamming verification on the joined-back fingerprints. The
    * star cap is mirrored in the oracle (as `neardup_minhash_md5` does),
    * so the capped semantics themselves are hash-gated.
    *
    * CORPUS-FAITHFUL by default: the public operator reports only pairs
    * among real docs. The registered `mm_image_neardup` gate query passes
    * `sentinels = true` to run over [[mirroredMedia]], whose deterministic
    * cross-container re-encodes guarantee the driver hash gate checks real
    * pairs (hamming 0 between each twin and its original) even on a corpus
    * with no natural near-duplicate images — the gate oracle plants the
    * same twins, so fixture and corpus semantics are both exercised. */
  def imageNearDup(s: SparkSession, dir: String): DataFrame =
    imageNearDupOf(Tables.documents(s, dir), sentinels = false)
      .orderBy("a_id", "b_id")

  /** Emits the pair set UNORDERED (same reasoning as
    * [[Dedup.jaccardPairsFrom]] — the ER edge unions are
    * order-indifferent and the sort survived into their plans as a
    * rangepartitioning Exchange; query-level registrations sort at their
    * own tail, r20). */
  private[graft] def imageNearDupOf(docs: DataFrame, sentinels: Boolean): DataFrame = {
    val hashes = Pins.cache(hashesOfMedia(mediaOf(docs, sentinels)))
    val bands = hashes.selectExpr("doc_id",
      "stack(4, 0, ahash_lo % 65536, 1, ahash_lo div 65536, " +
        "2, ahash_hi % 65536, 3, ahash_hi div 65536) AS (blk, blkval)")
    Dedup.bucketCandidates(bands, "blk", "blkval")
      .join(hashes.select(col("doc_id").as("a_id"),
        col("ahash_lo").as("la"), col("ahash_hi").as("ha")), "a_id")
      .join(hashes.select(col("doc_id").as("b_id"),
        col("ahash_lo").as("lb"), col("ahash_hi").as("hb")), "b_id")
      .withColumn("hamming",
        (bit_count(col("la").bitwiseXOR(col("lb"))) +
         bit_count(col("ha").bitwiseXOR(col("hb")))).cast("int"))
      .filter(col("hamming") <= 3)
      .select("a_id", "b_id", "hamming")
  }

  /** Near-dup oracle over the faithful (`mirrored = false`) or fixture
    * (`mirrored = true`) base — the gate uses the fixture so the sentinel
    * cross-container twins guarantee at least one hamming-0 pair per
    * mirrored doc and the driver gate is never vacuous; the ER oracle
    * splices the faithful variant to match the corpus-faithful edge set. */
  private[graft] def imageNearDupSqlOf(mirrored: Boolean): String = {
    // same byte-expansion pipeline as the fingerprint oracle (shared
    // builder, so the two can't drift)
    val hashCte = hashPipelineCtes(mediaBaseSql(mirrored))
    s"""$hashCte,
       |hashes AS (
       |  SELECT doc_id,
       |    CAST(coalesce(sum(CASE WHEN blk < 32 THEN ind * (1::BIGINT << blk) END), 0) AS BIGINT) AS lo,
       |    CAST(coalesce(sum(CASE WHEN blk >= 32 THEN ind * (1::BIGINT << (blk - 32)) END), 0) AS BIGINT) AS hi
       |  FROM bits GROUP BY 1
       |), bands AS (
       |  SELECT doc_id, blk, blkval FROM hashes, LATERAL (
       |    SELECT unnest([0, 1, 2, 3]) AS blk,
       |           unnest([lo % 65536, lo // 65536, hi % 65536, hi // 65536]) AS blkval) u
       |), bstats AS (
       |  SELECT blk, blkval, count(*) AS bsz, min(doc_id) AS bmin
       |  FROM bands GROUP BY 1, 2 HAVING count(*) >= 2
       |), joined AS (
       |  SELECT bands.doc_id, bands.blk, bands.blkval, bsz, bmin
       |  FROM bands JOIN bstats ON bands.blk = bstats.blk AND bands.blkval = bstats.blkval
       |), cand AS (
       |  SELECT DISTINCT a_id, b_id FROM (
       |    SELECT x.doc_id AS a_id, y.doc_id AS b_id
       |    FROM joined x JOIN joined y
       |      ON x.blk = y.blk AND x.blkval = y.blkval AND x.doc_id < y.doc_id
       |    WHERE x.bsz <= 64
       |    UNION ALL
       |    SELECT bmin AS a_id, doc_id AS b_id FROM joined
       |    WHERE bsz > 64 AND doc_id <> bmin)
       |)
       |SELECT a_id, b_id,
       |       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
       |FROM cand JOIN hashes a ON a_id = a.doc_id JOIN hashes b ON b_id = b.doc_id
       |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** The fixture-gate oracle (`mm_image_neardup`). */
  val imageNearDupSql: String = imageNearDupSqlOf(mirrored = true)

  // ------------------------------------------- content-addressed dedup
  case class ContentDigestRow(doc_id: Long, mime: String, content_digest: String)

  /** Cross-container content dedup: the container bytes of a BMP and a PPM
    * wrapping the SAME pixels differ (headers, padding), so `md5(payload)`
    * — what `mm_metadata` digests, and what a naive exact-dedup would key
    * on — can never find the duplicate. The content-addressed form digests
    * the DECODED sample sequence instead: decode through the real parsers,
    * hash the samples, group by that digest. Emits one row per duplicate
    * content group: keeper (min doc_id), copy count, distinct container
    * formats, and whether the group crosses formats — the case the
    * payload digest is structurally blind to.
    *
    * Scale: decode is per-partition, the shuffle key is a 16-byte digest
    * (not pixels), and the aggregate collapses map-side — the same
    * digest-on-the-exchange discipline as `dedup_exact`.
    *
    * CORPUS-FAITHFUL by default — output groups contain only real doc ids.
    * The registered `mm_content_dedup` gate query passes `sentinels = true`
    * to run over [[mirroredMedia]], whose twins are exactly the
    * cross-container duplicates this operator exists to catch, so the
    * driver gate always verifies real groups rather than an empty result
    * (its oracle plants the same twins). */
  def contentDedup(s: SparkSession, dir: String): DataFrame =
    contentDedupOf(Tables.documents(s, dir), sentinels = false)

  private[graft] def contentDedupOf(docs: DataFrame, sentinels: Boolean): DataFrame = {
    import graft.functions.MediaCodecs
    val enc = org.apache.spark.sql.Encoders.product[ContentDigestRow]
    mediaOf(docs, sentinels)
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val id = r.getLong(0); val data = r.getAs[Array[Byte]](1)
          val isBmp = r.getBoolean(2)
          val container =
            if (isBmp) MediaCodecs.toBmp(data) else MediaCodecs.toPpm(data)
          val xs = MediaCodecs.decode(container).samples
          val bytes = new Array[Byte](xs.length)
          var i = 0
          while (i < xs.length) { bytes(i) = xs(i).toByte; i += 1 }
          md.reset()
          val digest = md.digest(bytes).map("%02x".format(_)).mkString
          ContentDigestRow(id, if (isBmp) "image/bmp" else "image/ppm",
            digest)
        }
      }(enc)
      .toDF()
      .groupBy("content_digest")
      .agg(min(col("doc_id")).as("keeper"),
           count(lit(1)).as("n_copies"),
           count_distinct(col("mime")).as("n_formats"))
      .filter(col("n_copies") >= 2)
      .select(col("keeper"), col("n_copies"), col("n_formats"),
        (col("n_formats") > 1).cast("int").as("cross_format"))
      .orderBy("keeper")
  }

  val contentDedupSql: String =
    s"""WITH media AS (
       |  SELECT doc_id, text,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image/bmp' ELSE 'image/ppm' END AS mime
       |  FROM documents WHERE doc_id % 3 <> 1 AND octet_length(encode(text)) > 0
       |  UNION ALL
       |  SELECT doc_id + $MirrorOffset, text,
       |         CASE WHEN doc_id % 3 = 0 THEN 'image/ppm' ELSE 'image/bmp' END AS mime
       |  FROM documents
       |  WHERE doc_id % 3 <> 1 AND octet_length(encode(text)) > 0 AND doc_id % 10 = 0
       |)
       |SELECT min(doc_id) AS keeper,
       |       count(*) AS n_copies,
       |       count(DISTINCT mime) AS n_formats,
       |       CAST(count(DISTINCT mime) > 1 AS INT) AS cross_format
       |FROM media
       |GROUP BY md5(text) HAVING count(*) >= 2
       |ORDER BY keeper""".stripMargin

  /** Band rows (blk, blkval) with the fingerprint riding along — the
    * standing side of the serving probe, and the same 4×16-bit banding as
    * [[imageNearDup]] (one shared decomposition; at deployment scale this
    * is a table bucketed on (blk, blkval), maintained by appends like the
    * other standing artifacts). */
  private[graft] def imageBandsOf(hashes: DataFrame): DataFrame =
    hashes.selectExpr("doc_id", "ahash_lo", "ahash_hi",
      "stack(4, 0, ahash_lo % 65536, 1, ahash_lo div 65536, " +
        "2, ahash_hi % 65536, 3, ahash_hi div 65536) AS (blk, blkval)")

  /** Probe arriving image docs against a STANDING band table: hash the
    * batch, join bands on their key, exact-hamming verify — per-batch cost
    * follows the batch size plus only the index partitions its band keys
    * touch; the corpus is never rescanned. No star cap on the probe side:
    * a batch is bounded, and the standing side's hot keys are the
    * operator's own [[imageNearDup]] concern at build time. */
  private[graft] def imageProbe(mb: DataFrame, corpusBands: DataFrame): DataFrame = {
    val pb = imageBandsOf(imageHashesOf(mb))
      .select(col("doc_id"), col("ahash_lo").as("la"),
        col("ahash_hi").as("ha"), col("blk"), col("blkval"))
    val cb = corpusBands
      .select(col("doc_id").as("match_id"), col("ahash_lo").as("lb"),
        col("ahash_hi").as("hb"), col("blk"), col("blkval"))
    pb.join(cb, Seq("blk", "blkval"))
      .filter(col("doc_id") =!= col("match_id"))
      .withColumn("hamming",
        (bit_count(col("la").bitwiseXOR(col("lb"))) +
         bit_count(col("ha").bitwiseXOR(col("hb")))).cast("int"))
      .filter(col("hamming") <= 3)
      .select("doc_id", "match_id", "hamming")
      .distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the two dedup GATES run over the sentinel fixture (explicit flag):
    // the harness corpus has no natural cross-container duplicates, so a
    // corpus-faithful run would hash-match on zero rows — vacuous. The
    // fixture is confined to these registration sites; the public
    // operators (contentDedup / imageNearDup) stay corpus-faithful.
    "mm_content_dedup" -> ((s, dir) =>
      contentDedupOf(Tables.documents(s, dir), sentinels = true)),
    "mm_image_ahash" -> (imageAHash _),
    "mm_image_neardup" -> ((s, dir) =>
      imageNearDupOf(Tables.documents(s, dir), sentinels = true)
        .orderBy("a_id", "b_id")),
    "mm_metadata"   -> (mediaMetadata _),
    "mm_by_mime"    -> (mediaByMime _),
    "mm_features"   -> (mediaFeatures _),
    "mm_codec_sizes" -> (codecSizes _),
    "mm_frame_sample" -> (frameSample _),
    "mm_size_percentiles" -> (sizePercentiles _),
    "mm_wav_audio_stats" -> (wavAudioStats _),
    "mm_channel_means" -> (channelMeans _),
    "mm_quarantine" -> (quarantine _),
    "mm_sniff_metadata" -> (sniffMetadata _)
  )

  def oracles: Map[String, String] = Map(
    "mm_content_dedup" -> contentDedupSql,
    "mm_image_ahash"  -> imageAHashSql,
    "mm_image_neardup" -> imageNearDupSql,
    "mm_metadata"     -> mediaMetadataSql,
    "mm_by_mime"      -> mediaByMimeSql,
    "mm_features"     -> mediaFeaturesSql,
    "mm_codec_sizes"  -> codecSizesSql,
    "mm_frame_sample" -> frameSampleSql,
    "mm_size_percentiles" -> sizePercentilesSql,
    "mm_wav_audio_stats" -> wavAudioStatsSql,
    "mm_channel_means" -> channelMeansSql,
    "mm_quarantine" -> quarantineSql,
    "mm_sniff_metadata" -> sniffMetadataSql
  )
}
