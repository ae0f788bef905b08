package graft.queries

import org.apache.spark.sql.functions._

import graft.{RunScope, Tables}
import graft.operators.Multimodal
import graft.RunScope.Pinning

/** Multimodal binary-column operators. The payload is the document text
  * encoded as UTF-8 bytes — the testdata ships no media blobs, so the
  * binary *plumbing* (lengths, hashes, slicing, metadata structs) is what
  * the oracle verifies; decode itself is the documented stub.
  *
  * The gate queries run the stubs' PORTABLE hash variant (md5 over the
  * uppercase hex rendering — identical in Spark and DuckDB), so every
  * derived value is replayed in the oracle: the xxhash64 fast path keeps
  * its determinism/shape specs.
  */
object MultimodalQueries extends QueryGroup {

  private def withPayload(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("payload", col("text").cast("binary"))

  /** Little-endian hex rendering of the low `nBytes` bytes of `c`. */
  private def leHexN(c: org.apache.spark.sql.Column, nBytes: Int) =
    concat((0 until nBytes).map(i =>
      lpad(hex(shiftright(c, 8 * i).bitwiseAND(lit(255L))), 2, "0")): _*)

  /** DuckDB twin of Multimodal.saltedHash(payload, salt, portable=true)
    * over `hx` = hex(encode(text)).
    */
  private def saltedHashSql(salt: String): String =
    s"('0x' || substring(md5(hx || ':$salt'), 1, 15))::BIGINT"

  /** DuckDB twin of extractFeaturesStub(_, dim=16, portable=true). */
  private val featureListSql: String =
    """list_transform(range(16), i ->
      |  CAST(CAST(('0x' || substring(md5(hx || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2000001 AS DOUBLE)
      |       / 1000000.0 - 1.0 AS REAL))""".stripMargin.replaceAll("\n", " ")

  // Binary payload metadata — byte length and prefix are codec-independent
  // and oracle-checkable (DuckDB encode() produces the same UTF-8 bytes).
  private val qM1 = Q(
    "q_m1_binary_meta",
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |       hex(encode(substr(text, 1, 8))) AS prefix_hex
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    withPayload(Tables.spread(Tables.load(s, dir, "documents")))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        hex(substring(col("payload"), 1, 8)).as("prefix_hex"))
      .orderBy("doc_id")
  }

  // Full media-record assembly: payload + typed metadata struct + stubbed
  // decode + features + frame samples, emitted as harness-sortable
  // scalars. The feature vector is pinned by a positionally-weighted
  // double digest plus its first/last elements (floats widen to double
  // exactly; STRING renderings of floats differ across engines, so the
  // digest is numeric); frames are pinned byte-exactly via hex
  // (substring-of-hex ≡ hex-of-byte-slice at 2× offsets).
  private val qM2 = Q(
    "q_m2_media_record",
    s"""WITH base AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         CAST(octet_length(encode(text)) AS INT) AS nb
       |  FROM documents),
       |rec AS (
       |  SELECT doc_id, nb,
       |         ${saltedHashSql("-1")} AS content_hash,
       |         CAST(${saltedHashSql("0")} % 1920 + 32 AS INT) AS width,
       |         CAST(${saltedHashSql("1")} % 1080 + 32 AS INT) AS height,
       |         CAST(${saltedHashSql("2")} % 3 AS INT) AS channels,
       |         $featureListSql AS fl,
       |         md5(array_to_string(list_transform(range(4), i ->
       |           substring(hx, 2 * CAST(floor(i * greatest(nb - 64, 0) / 3) AS INT) + 1, 128)),
       |           ',')) AS frames_md5
       |  FROM base)
       |SELECT doc_id, 'text/plain' AS media_type, nb AS n_bytes, content_hash,
       |       width, height, channels,
       |       list_sum(list_transform(range(16), i -> CAST(fl[CAST(i AS INT) + 1] AS DOUBLE) * (i + 1))) AS features_digest,
       |       CAST(fl[1] AS DOUBLE) AS f_first,
       |       CAST(fl[16] AS DOUBLE) AS f_last,
       |       4 AS n_frames, frames_md5
       |FROM rec ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = withPayload(Tables.spread(Tables.load(s, dir, "documents")))
    Multimodal
      .decodeStage(
        Multimodal.withMediaMeta(docs, "payload", "text/plain", portable = true),
        "payload", numPartitions = 32) { p =>
        Seq(
          "image_meta" -> Multimodal.decodeImageMetaStub(p, portable = true),
          "features"   -> Multimodal.extractFeaturesStub(p, dim = 16, portable = true),
          "frames"     -> Multimodal.sampleFramesStub(p, n = 4, frameBytes = 64))
      }
      .select(
        col("doc_id"),
        col("media_meta.media_type").as("media_type"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.content_hash").as("content_hash"),
        col("image_meta.width").as("width"),
        col("image_meta.height").as("height"),
        col("image_meta.channels").as("channels"),
        aggregate(
          zip_with(col("features"), sequence(lit(1), lit(16)),
            (f, i) => f.cast("double") * i),
          lit(0.0), (acc, x) => acc + x).as("features_digest"),
        element_at(col("features"), 1).cast("double").as("f_first"),
        element_at(col("features"), 16).cast("double").as("f_last"),
        size(col("frames")).as("n_frames"),
        md5(concat_ws(",", transform(col("frames"), f => hex(f)))).as("frames_md5"))
      .orderBy("doc_id")
  }

  // Stub-decoded features feeding the ANN operator — multimodal similarity
  // is the text pipeline with a different encoder. The oracle rebuilds the
  // portable feature vectors and replays the exact brute-force cosine
  // top-k (identical double math + tie-break, the q_v2 pattern).
  private val qM3 = Q(
    "q_m3_media_ann",
    s"""WITH feat AS (
       |  SELECT doc_id AS vec_id, $featureListSql AS embedding
       |  FROM (SELECT doc_id, hex(encode(text)) AS hx FROM documents))
       |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |       ${SimilarityQueries.duckCosine("q.embedding", "c.embedding")} AS cosine,
       |       CAST(row_number() OVER (
       |         PARTITION BY q.vec_id
       |         ORDER BY ${SimilarityQueries.duckCosine("q.embedding", "c.embedding")} DESC, c.vec_id) AS INT) AS rank
       |FROM (SELECT * FROM feat WHERE vec_id < 4) q
       |JOIN feat c ON c.vec_id != q.vec_id
       |QUALIFY rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    val feats = withPayload(Tables.spread(Tables.load(s, dir, "documents")))
      .select(col("doc_id").as("vec_id"),
        Multimodal.extractFeaturesStub(col("payload"), dim = 16, portable = true).as("embedding"))
    graft.operators.SimilaritySearch
      .bruteForceTopK(feats, feats.filter(col("vec_id") < 4), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** In-plan synthetic PNG (signature + IHDR) per document row — dims
    * from the source columns, all five legal color types cycled, every
    * 7th signature corrupted. Shared by the q_m4 decode gate and the
    * q_m7 binary-file ingest gate.
    */
  private def pngPayloadHex: org.apache.spark.sql.Column = {
    val w = col("n_chars").cast("bigint") % 70000 + 16
    val h = (col("n_chars").cast("bigint") * 7 + col("doc_id").cast("bigint") % 1000) % 70000 + 16
    val colorType = element_at(
      array(lit(0), lit(2), lit(3), lit(4), lit(6)),
      (col("doc_id") % 5 + 1).cast("int"))
    val sigHex = when(col("doc_id") % 7 === 0, lit("00504E470D0A1A0A"))
      .otherwise(lit("89504E470D0A1A0A"))
    concat(
      sigHex,
      lit("0000000D"), lit("49484452"),             // IHDR length + type
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),   // width, height (BE)
      lit("08"), lpad(hex(colorType), 2, "0"),      // bit depth, color type
      lit("000000"),                                 // compression/filter/interlace
      lit("DEADBEEF"))                               // CRC (not read by header decode)
  }

  // REAL PNG header decode (no stub): each document gets a genuine PNG
  // signature + IHDR chunk constructed in-plan (widths/heights span past
  // 2^16 to exercise all four big-endian bytes; color types cycle through
  // all five legal values), every 7th row gets a corrupted signature, and
  // Multimodal.decodePngMeta parses the bytes back. The oracle derives the
  // expected dimensions/channels INDEPENDENTLY from the source columns —
  // an offset, endianness, or channel-map bug cannot round-trip. Ground
  // truth against complete ImageIO-written PNGs lives in MultimodalSpec.
  private val qM4 = Q(
    "q_m4_png_header_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 2
      |              WHEN 2 THEN 3 WHEN 3 THEN 4 ELSE 6 END AS ct,
      |         n_chars % 70000 + 16 AS w,
      |         (n_chars * 7 + doc_id % 1000) % 70000 + 16 AS h,
      |         (doc_id % 7 <> 0) AS ok
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN ok THEN CAST(w AS INT) END AS width,
      |       CASE WHEN ok THEN CAST(h AS INT) END AS height,
      |       CASE WHEN ok THEN CAST(8 AS INT) END AS bit_depth,
      |       CASE WHEN ok THEN CAST(CASE ct WHEN 0 THEN 1 WHEN 2 THEN 3
      |            WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 4 END AS INT) END AS channels,
      |       ok AS valid_png
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(pngPayloadHex).as("payload"))
      .withColumn("m", Multimodal.decodePngMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.bit_depth").as("bit_depth"),
        col("m.channels").as("channels"),
        col("m").isNotNull.as("valid_png"))
      .orderBy("doc_id")
  }

  // REAL GIF + BMP header decode (no stub): each document gets a genuine
  // GIF Logical Screen Descriptor (little-endian u16 dims, packed
  // global-color-table byte cycling all 8 size codes, 87a/89a versions
  // alternating) and a genuine BMP file+info header (little-endian u32
  // dims), built in-plan; every 7th GIF and every 5th BMP signature is
  // corrupted. The oracle derives every expectation INDEPENDENTLY from
  // the source columns — an endianness, offset, or packed-bit bug cannot
  // round-trip. Ground truth against complete ImageIO-written GIF/BMP
  // files lives in MultimodalSpec.
  private val qM5 = Q(
    "q_m5_gif_bmp_header_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         n_chars % 60000 + 1 AS gw,
      |         (n_chars * 3 + doc_id % 777) % 60000 + 1 AS gh,
      |         n_chars % 29989 + 1 AS bw,
      |         (n_chars * 11 + doc_id % 333) % 29989 + 1 AS bh,
      |         CAST(doc_id % 8 AS INT) AS gbits,
      |         (doc_id % 7 <> 0) AS gok,
      |         (doc_id % 5 <> 0) AS bok
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN gok THEN CAST(gw AS INT) END AS gif_width,
      |       CASE WHEN gok THEN CAST(gh AS INT) END AS gif_height,
      |       CASE WHEN gok THEN CASE WHEN doc_id % 2 = 0 THEN '87a' ELSE '89a' END END AS gif_version,
      |       CASE WHEN gok THEN CAST(2 * power(2, gbits) AS INT) END AS gif_gct_size,
      |       gok AS valid_gif,
      |       CASE WHEN bok THEN CAST(bw AS INT) END AS bmp_width,
      |       CASE WHEN bok THEN CAST(bh AS INT) END AS bmp_height,
      |       CASE WHEN bok THEN CAST(24 AS INT) END AS bmp_bpp,
      |       bok AS valid_bmp
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def leHex(c: org.apache.spark.sql.Column, nBytes: Int) =
      concat((0 until nBytes).map(i =>
        lpad(hex(shiftright(c, 8 * i).bitwiseAND(lit(255L))), 2, "0")): _*)
    val gw = col("n_chars").cast("bigint") % 60000 + 1
    val gh = (col("n_chars").cast("bigint") * 3 + col("doc_id") % 777) % 60000 + 1
    val bw = col("n_chars").cast("bigint") % 29989 + 1
    val bh = (col("n_chars").cast("bigint") * 11 + col("doc_id") % 333) % 29989 + 1
    val gifSig = when(col("doc_id") % 7 === 0, lit("004946383961"))
      .otherwise(when(col("doc_id") % 2 === 0, lit("474946383761"))
        .otherwise(lit("474946383961")))
    val packed = lpad(hex(lit(128L).bitwiseOR(col("doc_id") % 8)), 2, "0")
    val gifHex = concat(gifSig, leHex(gw, 2), leHex(gh, 2), packed, lit("0000"))
    val bmpSig = when(col("doc_id") % 5 === 0, lit("0000")).otherwise(lit("424D"))
    val bmpHex = concat(
      bmpSig, lit("00000000"), lit("00000000"), lit("36000000"), // size/resv/offset
      lit("28000000"),                                           // DIB header size 40
      leHex(bw, 4), leHex(bh, 4),
      lit("0100"), lit("1800"))                                  // planes=1, bpp=24
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"),
        unhex(gifHex).as("gif_payload"), unhex(bmpHex).as("bmp_payload"))
      .withColumn("g", Multimodal.decodeGifMeta(col("gif_payload")))
      .withColumn("b", Multimodal.decodeBmpMeta(col("bmp_payload")))
      .select(
        col("doc_id"),
        col("g.width").as("gif_width"),
        col("g.height").as("gif_height"),
        col("g.version").as("gif_version"),
        col("g.gct_size").as("gif_gct_size"),
        col("g").isNotNull.as("valid_gif"),
        col("b.width").as("bmp_width"),
        col("b.height").as("bmp_height"),
        col("b.bits_per_pixel").as("bmp_bpp"),
        col("b").isNotNull.as("valid_bmp"))
      .orderBy("doc_id")
  }

  // REAL JPEG header decode (no stub): a genuine JFIF marker chain built
  // in-plan — SOI, APP0 (16-byte JFIF segment), a filler DQT, then SOF0
  // or SOF2 (progressive, every 3rd doc) carrying the real dimensions,
  // then trailing bytes the walk must never reach. Every 7th doc gets a
  // corrupted SOI. The decoder has to WALK the chain (the SOF offset
  // varies with nothing here, but the walk is the same code path the
  // variable case uses); the oracle derives expectations independently.
  // Ground truth against complete ImageIO-written JPEGs (whose SOF sits
  // behind encoder-chosen DQT/DHT segments at varying offsets) lives in
  // MultimodalSpec.
  private val qM6 = Q(
    "q_m6_jpeg_header_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         n_chars % 60000 + 1 AS w,
      |         (n_chars * 13 + doc_id % 555) % 60000 + 1 AS h,
      |         (doc_id % 7 <> 0) AS ok
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN ok THEN CAST(w AS INT) END AS width,
      |       CASE WHEN ok THEN CAST(h AS INT) END AS height,
      |       CASE WHEN ok THEN CAST(3 AS INT) END AS num_components,
      |       ok AS valid_jpeg
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def beHex(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    val w = col("n_chars").cast("bigint") % 60000 + 1
    val h = (col("n_chars").cast("bigint") * 13 + col("doc_id") % 555) % 60000 + 1
    val soi = when(col("doc_id") % 7 === 0, lit("00D8")).otherwise(lit("FFD8"))
    val sof = when(col("doc_id") % 3 === 0, lit("FFC2")).otherwise(lit("FFC0"))
    val jpegHex = concat(
      soi,
      lit("FFE0"), lit("0010"), lit("4A46494600010100000100010000"), // APP0 JFIF
      lit("FFDB"), lit("0004"), lit("0000"),                        // filler DQT
      sof, lit("0011"), lit("08"), beHex(h), beHex(w),              // SOF: len, precision, dims
      lit("03"), lit("011100021101031101"),                         // 3 components
      lit("FFDA"), lit("0002"), lit("DEADBEEF"))                    // SOS + entropy bytes
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(jpegHex).as("payload"))
      .withColumn("m", Multimodal.decodeJpegMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.num_components").as("num_components"),
        col("m").isNotNull.as("valid_jpeg"))
      .orderBy("doc_id")
  }

  // Binary-FILE ingest: how a 100 TB image corpus actually lands — one
  // object per image in a zone, read with the `binaryFile` source
  // (path + content rows), ids recovered from filenames, headers
  // decoded scan-side. Executors write the fixture files (no driver
  // collect); the oracle derives every expectation from the source
  // columns, so the whole write→list→read→decode loop must round-trip.
  private val qM7 = Q(
    "q_m7_binaryfile_ingest",
    """WITH src AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 0 WHEN 1 THEN 2
      |              WHEN 2 THEN 3 WHEN 3 THEN 4 ELSE 6 END AS ct,
      |         n_chars % 70000 + 16 AS w,
      |         (n_chars * 7 + doc_id % 1000) % 70000 + 16 AS h,
      |         (doc_id % 7 <> 0) AS ok
      |  FROM documents WHERE doc_id < 120)
      |SELECT doc_id,
      |       CASE WHEN ok THEN CAST(w AS INT) END AS width,
      |       CASE WHEN ok THEN CAST(h AS INT) END AS height,
      |       CASE WHEN ok THEN CAST(CASE ct WHEN 0 THEN 1 WHEN 2 THEN 3
      |            WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 4 END AS INT) END AS channels,
      |       ok AS valid_png,
      |       CAST(33 AS BIGINT) AS n_bytes
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val zone = RunScope.scratchDir("graft_binzone")
    Tables.spread(Tables.load(s, dir, "documents"))
      .where(col("doc_id") < 120)
      .select(col("doc_id"), unhex(pngPayloadHex).as("payload"))
      .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
        rows.forEachRemaining { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(zone, s"${r.getLong(0)}.png"),
            r.getAs[Array[Byte]](1))
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.png").load(zone)
      .select(
        regexp_extract(col("path"), "(\\d+)\\.png$", 1).cast("long").as("doc_id"),
        col("content"), col("length"))
      .withColumn("m", Multimodal.decodePngMeta(col("content")))
      .select(
        col("doc_id"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.channels").as("channels"),
        col("m").isNotNull.as("valid_png"),
        col("length").as("n_bytes"))
      .orderBy("doc_id")
  }

  // REAL WAV (RIFF/PCM) header decode: each document gets a genuine
  // canonical 44-byte PCM header constructed in-plan (channels, rate,
  // bit depth, and frame count all derived from source columns; every
  // 9th row gets a corrupted RIFF signature), and Multimodal.
  // decodeWavMeta parses the bytes back. The oracle derives the expected
  // format INDEPENDENTLY from the source columns — an offset,
  // endianness, or consistency-check bug cannot round-trip. Ground truth
  // against complete AudioSystem-written WAVs lives in MultimodalSpec.
  private val qM8 = Q(
    "q_m8_wav_header_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 2 + 1 AS INT) AS ch,
      |         CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |              WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS rate,
      |         CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 16
      |              WHEN 2 THEN 24 ELSE 32 END AS bits,
      |         n_chars % 50000 + 1 AS frames,
      |         (doc_id % 9 <> 0) AS ok
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN ok THEN CAST(ch AS INT) END AS channels,
      |       CASE WHEN ok THEN CAST(rate AS INT) END AS sample_rate,
      |       CASE WHEN ok THEN CAST(bits AS INT) END AS bits_per_sample,
      |       CASE WHEN ok THEN CAST(frames AS BIGINT) END AS n_samples,
      |       CASE WHEN ok THEN CAST(floor(frames * 1000000 / CAST(rate AS DOUBLE)) AS BIGINT)
      |            END AS duration_us
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def le16(c: org.apache.spark.sql.Column) = {
      val h = lpad(hex(c), 4, "0")
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def le32(c: org.apache.spark.sql.Column) = {
      val h = lpad(hex(c), 8, "0")
      concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2))
    }
    val ch = (col("doc_id") % 2 + 1).cast("bigint")
    val rate = element_at(
      typedlit(Seq(8000L, 16000L, 22050L, 44100L, 48000L)),
      (col("doc_id") % 5 + 1).cast("int"))
    val bits = element_at(
      typedlit(Seq(8L, 16L, 24L, 32L)),
      (col("doc_id") % 4 + 1).cast("int"))
    val frames = col("n_chars") % 50000 + 1
    val blockAlign = floor(ch * bits / 8).cast("bigint")
    val byteRate = rate * blockAlign
    val dataSize = frames * blockAlign
    val sigHex = when(col("doc_id") % 9 === 0, lit("52494658")) // "RIFX"
      .otherwise(lit("52494646")) //                               "RIFF"
    val payloadHex = concat(
      sigHex, le32(dataSize + 36), lit("57415645"), //  RIFF size, "WAVE"
      lit("666D7420"), le32(lit(16L)), //               "fmt ", canonical 16
      le16(lit(1L)), le16(ch), //                       PCM, channels
      le32(rate), le32(byteRate),
      le16(blockAlign), le16(bits),
      lit("64617461"), le32(dataSize)) //               "data" header
    // payload materialized before decoding (the q_m9/q_m10 posture —
    // r17 opt: without the boundary, the 5 struct-field selects each
    // re-reference the full synth+decode tree and the DRIVER spends
    // ~4 s just planning/optimizing the multiplied expression DAG;
    // executed job time was 0.7 s). r18: persist, not localCheckpoint —
    // the cache swap happens BEFORE optimization too (same planning
    // truncation, A/B-verified same bench level), but lineage survives:
    // this frame is corpus-wide (one row per document), and at 100 TB a
    // localCheckpoint's executor-resident blocks turn one executor loss
    // into query death where persist recomputes. Lazy: the one
    // downstream plan fills the cache, zero extra jobs.
    val withPayload = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(payloadHex).as("payload"))
      .pin(RunScope.Persist)
    withPayload
      .withColumn("m", Multimodal.decodeWavMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.channels").as("channels"),
        col("m.sample_rate").as("sample_rate"),
        col("m.bits_per_sample").as("bits_per_sample"),
        col("m.n_samples").as("n_samples"),
        col("m.duration_us").as("duration_us"))
      .orderBy("doc_id")
  }

  /** Hex of a 24-bpp BMP of `w`×`h` pixels under signature `sig`: a
    * 54-byte header (58 when `gap` puts DEADBEEF before the pixels), rows
    * stored top-down when `topDown` (negative height) and padded to 4
    * bytes with 0xAB, each pixel channel from the doc_id formula, or
    * `doc_id % 256` throughout when `blank`.
    */
  private def bmpPayloadHex(
      sig: org.apache.spark.sql.Column, w: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column, topDown: org.apache.spark.sql.Column,
      blank: org.apache.spark.sql.Column, gap: org.apache.spark.sql.Column) = {
    val stride = floor((w * 3 + 3) / 4).cast("bigint") * 4
    val dataOffset = when(gap, lit(58L)).otherwise(lit(54L))
    val hStored = when(topDown, lit(4294967296L) - h).otherwise(h)
    def pix(i: org.apache.spark.sql.Column, chn: Int) =
      when(blank, col("doc_id") % 256)
        .otherwise((col("doc_id") * 7 + i * 13 + chn * 29) % 256)
    val rowsHex = array_join(
      transform(sequence(lit(0L), h - 1L), r =>
        concat(
          array_join(
            transform(sequence(lit(0L), w - 1L), x => {
              val i = r * w + x
              concat(leHexN(pix(i, 0), 1), leHexN(pix(i, 1), 1), leHexN(pix(i, 2), 1))
            }), ""),
          // stride padding: 0xAB so misread pads shift min/max visibly
          repeat(lit("AB"), ((lit(4L) - (w * 3) % 4) % 4).cast("int")))), "")
    concat(
      sig, leHexN(dataOffset + h * stride, 4), lit("00000000"),
      leHexN(dataOffset, 4),
      lit("28000000"),
      leHexN(w, 4), leHexN(hStored, 4),
      lit("0100"), lit("1800"),
      // remaining 24 BITMAPINFOHEADER bytes (compression BI_RGB=0,
      // image size, resolutions, palette counts — all zero) so the
      // pixel array genuinely starts at the declared offset 54
      lit("00" * 24),
      when(gap, lit("DEADBEEF")).otherwise(lit("")),
      rowsHex)
  }

  /** The constructed PCM corpus of q_m9 and q_m13: one complete WAV
    * file per document (canonical 44-byte header + interleaved frames at
    * 8/16/24/32 bits, 1–2 channels, rail hits at k%10 ∈ {0, 5}, every 9th
    * doc a corrupt RIFF signature), as `(doc_id, payload)`.
    */
  private def wavPcmPayloads(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ch = (col("doc_id") % 2 + 1).cast("bigint")
    val bits = element_at(
      typedlit(Seq(8L, 16L, 24L, 32L)), (col("doc_id") % 4 + 1).cast("int"))
    val span = element_at(
      typedlit(Seq(256L, 65536L, 16777216L, 4294967296L)),
      (col("doc_id") % 4 + 1).cast("int"))
    val half = element_at(
      typedlit(Seq(128L, 32768L, 8388608L, 2147483648L)),
      (col("doc_id") % 4 + 1).cast("int"))
    val frames = (col("n_chars") % 40 + 2).cast("bigint")
    val rate = lit(16000L)
    val blockAlign = ch * (bits / lit(8L)).cast("bigint")
    val dataSize = frames * blockAlign
    val sigHex = when(col("doc_id") % 9 === 0, lit("52494658"))
      .otherwise(lit("52494646"))
    val n = frames * ch
    // per-doc constants bound ONCE (HOF lambdas re-evaluate free
    // subtrees per element — the hof lesson), and each sample emitted
    // with ONE hex: byte-swap the value arithmetically so the
    // big-endian hex rendering IS the little-endian byte sequence
    val docConst = struct(
      bits.as("bits"), span.as("span"), half.as("half"),
      col("doc_id").as("id"))
    val dataHex = graft.functions.hof.bind(docConst) { d =>
      val dBits = d.getField("bits")
      val dSpan = d.getField("span")
      val dHalf = d.getField("half")
      array_join(
        transform(sequence(lit(0L), n - 1L), k => {
          val vraw = (d.getField("id") * 31 + k * 17 + 7) % dSpan
          val v = when(k % 10 === 0, dHalf - 1)
            .when(k % 10 === 5, -dHalf)
            .when(dBits === 8L, vraw - 128L)
            .when(vraw < dHalf, vraw)
            .otherwise(vraw - dSpan)
          val u = when(dBits === 8L, v + 128L)
            .otherwise(when(v < 0, v + dSpan).otherwise(v))
          val swapped = when(dBits === 8L, u)
            .when(dBits === 16L,
              u.bitwiseAND(lit(255L)) * 256L + shiftright(u, 8))
            .when(dBits === 24L,
              u.bitwiseAND(lit(255L)) * 65536L +
                shiftright(u, 8).bitwiseAND(lit(255L)) * 256L +
                shiftright(u, 16))
            .otherwise(
              u.bitwiseAND(lit(255L)) * 16777216L +
                shiftright(u, 8).bitwiseAND(lit(255L)) * 65536L +
                shiftright(u, 16).bitwiseAND(lit(255L)) * 256L +
                shiftright(u, 24))
          lpad(hex(swapped), ((dBits / 8L) * 2L).cast("int"), lit("0"))
        }), "")
    }
    def le16(c: org.apache.spark.sql.Column) = leHexN(c, 2)
    def le32(c: org.apache.spark.sql.Column) = leHexN(c, 4)
    val payloadHex = concat(
      sigHex, le32(dataSize + 36), lit("57415645"),
      lit("666D7420"), le32(lit(16L)),
      le16(lit(1L)), le16(ch),
      le32(rate), le32(rate * blockAlign),
      le16(blockAlign), le16(bits),
      lit("64617461"), le32(dataSize),
      dataHex)
    // MATERIALIZE the constructed payloads before decoding: the stats
    // expression references the payload many times, and inlining the
    // whole in-plan construction tree at every reference blows codegen
    // up (the driver OOMs compiling it); decoding a bound binary column
    // is the real-world shape anyway (bytes come from storage)
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(payloadHex).as("payload"))
      .pin() // ≤500 rows × ≤400 B — trivial residency
  }

  // Oracle fragments of the same corpus, interpolated as margin text
  // before the query's stripMargin: the body of the `src` CTE, and the
  // tail of `samp` (every sample's value `v` from the generating formula).
  private val wavSrcSql =
    """  SELECT doc_id,
      |         CAST(doc_id % 2 + 1 AS BIGINT) AS ch,
      |         CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 16
      |              WHEN 2 THEN 24 ELSE 32 END AS BIGINT) AS bits,
      |         CAST(n_chars % 40 + 2 AS BIGINT) AS frames,
      |         (doc_id % 9 <> 0) AS ok
      |  FROM documents),"""
  private val wavSamplesSql =
    """         CASE WHEN k % 10 = 0 THEN hf - 1
      |              WHEN k % 10 = 5 THEN -hf
      |              WHEN bits = 8 THEN vraw - 128
      |              WHEN vraw < hf THEN vraw
      |              ELSE vraw - sp END AS v,
      |         hf
      |  FROM (
      |    SELECT s.*, u.k,
      |           CASE bits WHEN 8 THEN 256 WHEN 16 THEN 65536
      |                WHEN 24 THEN 16777216 ELSE 4294967296 END AS sp,
      |           CASE bits WHEN 8 THEN 128 WHEN 16 THEN 32768
      |                WHEN 24 THEN 8388608 ELSE 2147483648 END AS hf,
      |           (s.doc_id * 31 + u.k * 17 + 7) %
      |             (CASE bits WHEN 8 THEN 256 WHEN 16 THEN 65536
      |                   WHEN 24 THEN 16777216 ELSE 4294967296 END) AS vraw
      |    FROM src s, unnest(range(s.frames * s.ch)) AS u(k)
      |    WHERE s.ok)),"""

  // REAL WAV PCM SAMPLE decode (Multimodal.wavSampleStats) — the round
  // that makes the audio payload non-opaque: each document gets a
  // complete PCM file (canonical 44-byte header + REAL interleaved
  // frames) constructed in-plan, samples generated by an integer formula
  // over (doc_id, sample index) with forced rail hits (k%10==0 → +full
  // scale, k%10==5 → −full scale) so clipping is exercised
  // deterministically across all four bit depths (8-bit unsigned-center,
  // 16/24/32-bit signed LE). The ENGINE decodes the bytes back; the
  // oracle derives per-channel RMS/peak/clip counts INDEPENDENTLY from
  // the generating formula — an interleave, endianness, sign, or center
  // bug cannot round-trip. Every 9th doc gets a corrupted RIFF
  // signature → NULL stats row. Ground truth against real
  // AudioSystem-written WAVs lives in MultimodalSpec.
  private val qM9 = Q(
    "q_m9_wav_sample_stats",
    s"""WITH src AS (
      |$wavSrcSql
      |samp AS (
      |  SELECT doc_id, ch, frames, k % ch AS c,
      |$wavSamplesSql
      |ag AS (
      |  SELECT doc_id, c,
      |         sum(v * v) AS sq,
      |         max(abs(v)) AS peak,
      |         sum(CASE WHEN v = hf - 1 OR v = -hf THEN 1 ELSE 0 END) AS clips
      |  FROM samp GROUP BY 1, 2)
      |SELECT s.doc_id,
      |       CAST(ag.c AS INT) AS channel,
      |       s.frames AS n_frames,
      |       -- via VARCHAR: DuckDB's hugeint→double cast is off by an ulp
      |       -- for some values; its string parse (like Spark's
      |       -- decimal→double) is correctly rounded
      |       sqrt(CAST(CAST(ag.sq AS VARCHAR) AS DOUBLE) / s.frames) AS rms,
      |       CAST(ag.peak AS BIGINT) AS peak,
      |       CAST(ag.clips AS BIGINT) AS n_clipped,
      |       CAST(ag.clips AS DOUBLE) / s.frames AS clipping_rate
      |FROM src s JOIN ag ON ag.doc_id = s.doc_id
      |UNION ALL
      |SELECT doc_id, CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
      |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
      |FROM src WHERE NOT ok
      |ORDER BY doc_id, channel""".stripMargin) { (s, dir) =>
    wavPcmPayloads(s, dir)
      .withColumn("st", Multimodal.wavSampleStats(col("payload")))
      .select(col("doc_id"), explode_outer(col("st")).as("e"))
      .select(
        col("doc_id"),
        col("e.channel").as("channel"),
        col("e.n_frames").as("n_frames"),
        col("e.rms").as("rms"),
        col("e.peak").as("peak"),
        col("e.n_clipped").as("n_clipped"),
        col("e.clipping_rate").as("clipping_rate"))
      .orderBy("doc_id", "channel")
  }

  // REAL BMP PIXEL decode (Multimodal.bmpPixelStats) — per-channel
  // means/extremes plus the is_blank cut over genuine 24-bpp pixel
  // arrays built in-plan: widths 1–4 exercise every row-padding case
  // (stride = ⌊(3w+3)/4⌋·4, pad bytes set to 0xAB so a stride bug
  // shifts the stats), every 3rd doc stores a NEGATIVE height
  // (top-down) the decoder must normalize, every 6th doc is a constant
  // (blank) image, every 7th moves the pixel array behind 4 gap bytes
  // (data offset 58 — honoring the header field, not a hardcoded 54),
  // and every 5th corrupts the signature → NULL. The oracle derives
  // every statistic INDEPENDENTLY from the pixel formula. Ground truth
  // against real ImageIO-written BMPs lives in MultimodalSpec.
  private val qM10 = Q(
    "q_m10_bmp_pixel_stats",
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 4 + 1 AS BIGINT) AS w,
      |         CAST(doc_id % 3 + 1 AS BIGINT) AS h,
      |         (doc_id % 6 = 0) AS blank,
      |         (doc_id % 5 <> 0) AS ok
      |  FROM documents),
      |px AS (
      |  SELECT doc_id,
      |         CASE WHEN blank THEN doc_id % 256
      |              ELSE (doc_id * 7 + u.i * 13 + 0 * 29) % 256 END AS b,
      |         CASE WHEN blank THEN doc_id % 256
      |              ELSE (doc_id * 7 + u.i * 13 + 1 * 29) % 256 END AS g,
      |         CASE WHEN blank THEN doc_id % 256
      |              ELSE (doc_id * 7 + u.i * 13 + 2 * 29) % 256 END AS r
      |  FROM src, unnest(range(w * h)) AS u(i)
      |  WHERE ok),
      |ag AS (
      |  SELECT doc_id,
      |         sum(b) AS bs, min(b) AS bmin, max(b) AS bmax,
      |         sum(g) AS gs, min(g) AS gmin, max(g) AS gmax,
      |         sum(r) AS rs, min(r) AS rmin, max(r) AS rmax
      |  FROM px GROUP BY 1)
      |SELECT s.doc_id,
      |       CASE WHEN s.ok THEN s.w * s.h END AS n_pixels,
      |       CASE WHEN s.ok THEN CAST(ag.bs AS DOUBLE) / (s.w * s.h) END AS b_mean,
      |       CASE WHEN s.ok THEN CAST(ag.bmin AS INT) END AS b_min,
      |       CASE WHEN s.ok THEN CAST(ag.bmax AS INT) END AS b_max,
      |       CASE WHEN s.ok THEN CAST(ag.gs AS DOUBLE) / (s.w * s.h) END AS g_mean,
      |       CASE WHEN s.ok THEN CAST(ag.gmin AS INT) END AS g_min,
      |       CASE WHEN s.ok THEN CAST(ag.gmax AS INT) END AS g_max,
      |       CASE WHEN s.ok THEN CAST(ag.rs AS DOUBLE) / (s.w * s.h) END AS r_mean,
      |       CASE WHEN s.ok THEN CAST(ag.rmin AS INT) END AS r_min,
      |       CASE WHEN s.ok THEN CAST(ag.rmax AS INT) END AS r_max,
      |       CASE WHEN s.ok THEN CAST(ag.bmin = ag.bmax AND ag.gmin = ag.gmax
      |                            AND ag.rmin = ag.rmax AS INT) END AS is_blank,
      |       s.ok AS valid_bmp
      |FROM src s LEFT JOIN ag ON ag.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val w = (col("doc_id") % 4 + 1).cast("bigint")
    val h = (col("doc_id") % 3 + 1).cast("bigint")
    val blank = col("doc_id") % 6 === 0
    val topDown = col("doc_id") % 3 === 0
    val gap = col("doc_id") % 7 === 0
    val bmpSig = when(col("doc_id") % 5 === 0, lit("0000")).otherwise(lit("424D"))
    val payloadHex = bmpPayloadHex(bmpSig, w, h, topDown, blank, gap)
    // materialized for the same codegen-inlining reason as q_m9.
    // r18: persist (the q_m8 posture) — corpus-wide frame, one consumer:
    // same planning truncation, lineage survives, no eager job.
    val withPayload = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(payloadHex).as("payload"))
      .pin(RunScope.Persist)
    withPayload
      .withColumn("m", Multimodal.bmpPixelStats(col("payload")))
      .select(
        col("doc_id"),
        col("m.n_pixels").as("n_pixels"),
        col("m.b_mean").as("b_mean"), col("m.b_min").as("b_min"),
        col("m.b_max").as("b_max"),
        col("m.g_mean").as("g_mean"), col("m.g_min").as("g_min"),
        col("m.g_max").as("g_max"),
        col("m.r_mean").as("r_mean"), col("m.r_min").as("r_min"),
        col("m.r_max").as("r_max"),
        // INT, not BOOLEAN: a nullable boolean renders None vs NaN
        // across the two engines' pandas bridges — ints normalize
        col("m.is_blank").cast("int").as("is_blank"),
        col("m").isNotNull.as("valid_bmp"))
      .orderBy("doc_id")
  }

  // Perceptual AVERAGE-HASH over real 24-bpp pixel arrays
  // (Multimodal.bmpAHash): nearest-neighbor 8×8 grid sample → integer
  // luma 299R+587G+114B → strict 64·L > ΣL threshold → 64-bit signed
  // pack (sign bit = Long.MinValue — both engines two's complement).
  // The constructed corpus exercises widths 4–8 (every stride-padding
  // case), heights 2–5, BOTTOM-UP and TOP-DOWN storage on alternating
  // docs (orientation must NOT change the hash — the oracle derives the
  // storage-row mapping independently), blank images (all-equal lumas →
  // hash 0 under the strict inequality), gap-byte data offsets, and
  // corrupt signatures → NULL. Ground truth against real ImageIO files
  // lives in MultimodalSpec.
  /** The q_m11 synthetic BMP corpus + aHash, as a reusable BATCH-plan
    * transform (doc_id, ahash, valid_bmp) — shared by the batch gate and
    * the streaming parity gate (q_st22), which maps it per micro-batch.
    * The OUTPUT is pinned.
    */
  private[queries] def bmpAHashFrame(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      RunScope.scope("bmpAHashFrame") {
    val w = (col("doc_id") % 5 + 4).cast("bigint")
    val h = (col("doc_id") % 4 + 2).cast("bigint")
    val topDown = col("doc_id") % 2 === 0
    val blank = col("doc_id") % 6 === 0
    val gap = col("doc_id") % 11 === 0
    val bmpSig = when(col("doc_id") % 7 === 0, lit("0000")).otherwise(lit("424D"))
    val payloadHex = bmpPayloadHex(bmpSig, w, h, topDown, blank, gap)
    // r17 opt: spread INSIDE the shared frame so the batch gate, the
    // streaming twin's per-micro-batch call, and any future caller all
    // break the one-input-split ceiling before the per-row construction
    val withPayload = graft.Tables.spread(docs)
      .select(col("doc_id"), unhex(payloadHex).as("payload"))
      .pin()
    withPayload
      .select(
        col("doc_id"),
        Multimodal.bmpAHash(col("payload")).as("ahash"),
        Multimodal.bmpAHash(col("payload")).isNotNull.as("valid_bmp"))
      .pin()
  }

  /** Oracle fragment (margin text): the 64-bit average hash `v` per doc
    * from its 64 grid lumas `lum` `(doc_id, k, L)` — bit k set when
    * 64·L exceeds the lumas' sum, bit 0 the sign bit.
    */
  private val aHashBitsSql =
    """tot AS (SELECT doc_id, sum(L) AS t FROM lum GROUP BY 1),
      |hsh AS (
      |  SELECT l.doc_id,
      |         CAST(sum(CASE WHEN 64 * l.L > tot.t
      |                       THEN CASE WHEN l.k = 0 THEN -9223372036854775808
      |                            ELSE (1::BIGINT << CAST(63 - l.k AS INT)) END
      |                       ELSE 0 END) AS BIGINT) AS v
      |  FROM lum l JOIN tot ON l.doc_id = tot.doc_id GROUP BY 1)"""

  private[queries] val qM11 = Q(
    "q_m11_image_ahash",
    s"""WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 5 + 4 AS BIGINT) AS w,
      |         CAST(doc_id % 4 + 2 AS BIGINT) AS h,
      |         (doc_id % 2 = 0) AS topdown,
      |         (doc_id % 6 = 0) AS blank,
      |         (doc_id % 7 <> 0) AS ok
      |  FROM documents),
      |cell AS (
      |  SELECT s.doc_id, u.k,
      |         ((u.k // 8) * s.h) // 8 AS y,
      |         ((u.k % 8) * s.w) // 8 AS x,
      |         s.w, s.h, s.topdown, s.blank
      |  FROM src s, unnest(range(64)) AS u(k)
      |  WHERE s.ok),
      |lum AS (
      |  SELECT doc_id, k,
      |         299 * (CASE WHEN blank THEN doc_id % 256
      |                     ELSE (doc_id * 7 + i * 13 + 2 * 29) % 256 END)
      |       + 587 * (CASE WHEN blank THEN doc_id % 256
      |                     ELSE (doc_id * 7 + i * 13 + 1 * 29) % 256 END)
      |       + 114 * (CASE WHEN blank THEN doc_id % 256
      |                     ELSE (doc_id * 7 + i * 13 + 0 * 29) % 256 END) AS L
      |  FROM (SELECT doc_id, k, blank,
      |               (CASE WHEN topdown THEN y ELSE h - 1 - y END) * w + x AS i
      |        FROM cell)),
      |$aHashBitsSql
      |SELECT s.doc_id,
      |       CASE WHEN s.ok THEN hsh.v END AS ahash,
      |       s.ok AS valid_bmp
      |FROM src s LEFT JOIN hsh ON hsh.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    bmpAHashFrame(Tables.load(s, dir, "documents")).orderBy("doc_id")
  }

  // IMAGE near-dup pairs: bmpAHash as the signature inside the existing
  // Charikar block machinery (NearDup.simHashPairs with signatureOf
  // swapped) — dedup of perturbed image copies with work bounded by
  // block collisions, never all pairs. The corpus is binary 8×8 images
  // (each grid cell one pixel; bright L=255000, dark 0, bright count in
  // (0,64)) so the hash bits EQUAL the bright mask and Hamming distance
  // is the exact count of differing cells: groups of 4 variants plant
  // pairs at distance 1, 2, 3 and one far variant. The oracle derives
  // the hashes from the mask formula and takes ALL pairs at distance
  // ≤ 3 — equal to the banded answer by the pigeonhole guarantee
  // (hamming ≤ 3 < 4 blocks ⇒ ≥ 1 identical block), so the oracle
  // checks the banding found EVERYTHING brute force finds.
  private val qM12 = Q(
    "q_m12_image_neardup",
    """WITH src AS (
      |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
      |  FROM documents WHERE doc_id < 400),
      |bits AS (
      |  SELECT s.doc_id, u.k,
      |         CASE WHEN ((u.k % 8 + u.k // 8 + s.g) % 3 = 0) <> (
      |                (s.v IN (1, 2) AND u.k = 0)
      |                OR (s.v = 2 AND u.k IN (9, 18))
      |                OR (s.v = 3 AND (u.k // 8 = 7 OR u.k IN (48, 49))))
      |              THEN 1 ELSE 0 END AS hi
      |  FROM src s, unnest(range(64)) AS u(k)),
      |hsh AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN hi = 1
      |                       THEN CASE WHEN k = 0 THEN -9223372036854775808
      |                            ELSE (1::BIGINT << CAST(63 - k AS INT)) END
      |                       ELSE 0 END) AS BIGINT) AS v
      |  FROM bits GROUP BY 1)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.v, b.v)) AS INT) AS hamming
      |FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.v, b.v)) <= 3
      |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = floor(col("doc_id") / 4).cast("bigint")
    val v = col("doc_id") % 4
    // bottom-up 8×8: storage row r holds image row y = 7 − r; grid cell
    // k = y*8 + x. Variant flips are expressed on cell index k.
    val rowsHex = array_join(
      transform(sequence(lit(0L), lit(7L)), r =>
        array_join(
          transform(sequence(lit(0L), lit(7L)), x => {
            val y = lit(7L) - r
            val k = y * 8L + x
            val base = (x + y + g) % 3 === 0
            val flip = (v.isin(1L, 2L) && k === 0L) ||
              (v === 2L && k.isin(9L, 18L)) ||
              (v === 3L && (y === 7L || k.isin(48L, 49L)))
            when(base =!= flip, lit("FFFFFF")).otherwise(lit("000000"))
          }), "")), "")
    val payloadHex = concat(
      lit("424D"), leHexN(lit(54L + 8L * 24L), 4), lit("00000000"),
      leHexN(lit(54L), 4), lit("28000000"),
      leHexN(lit(8L), 4), leHexN(lit(8L), 4),
      lit("0100"), lit("1800"), lit("00" * 24),
      rowsHex)
    // doc_id < 400 slice: the 3-periodic base mask makes same-mask pairs
    // possible ACROSS groups (a genuine near-dup corpus), so the pair
    // output grows quadratically with the corpus — the gate bounds it
    // the q_g13 way (fixed slice) while the operator stays corpus-scale.
    val withPayload = Tables.spread(Tables.load(s, dir, "documents"))
      .filter(col("doc_id") < 400)
      .select(col("doc_id"), unhex(payloadHex).as("payload"))
      .pin()
    graft.operators.NearDup.simHashPairs(
      withPayload, "doc_id", "payload",
      maxHamming = 3, numBlocks = 4,
      signatureOf = p => Multimodal.bmpAHash(p))
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  // ZERO-CROSSING RATE + SILENCE decode (Multimodal.wavZeroCrossings):
  // the frequency-content companion to q_m9's amplitude stats — same
  // constructed PCM corpus (all four bit depths, 1–2 channels, rail
  // hits, corrupt sigs → NULL), the oracle re-derives crossings with a
  // per-channel LAG window over the generating formula and silence by
  // |v| ≤ half/1000 integer threshold. An interleave bug that q_m9's
  // order-independent sums can't see (RMS/peak/clips are permutation-
  // invariant!) breaks the consecutive-frame sign chain here — this
  // gate pins the sample ORDER.
  private val qM13 = Q(
    "q_m13_wav_zero_crossings",
    s"""WITH src AS (
      |$wavSrcSql
      |samp AS (
      |  SELECT doc_id, ch, frames, k % ch AS c, k // ch AS f,
      |$wavSamplesSql
      |lagged AS (
      |  SELECT doc_id, c, v, hf,
      |         lag(v) OVER (PARTITION BY doc_id, c ORDER BY f) AS pv
      |  FROM samp),
      |ag AS (
      |  SELECT doc_id, c,
      |         sum(CASE WHEN pv IS NOT NULL AND
      |                       ((pv < 0 AND v > 0) OR (pv > 0 AND v < 0))
      |                  THEN 1 ELSE 0 END) AS zc,
      |         sum(CASE WHEN abs(v) <= hf // 1000 THEN 1 ELSE 0 END) AS sil
      |  FROM lagged GROUP BY 1, 2)
      |SELECT s.doc_id,
      |       CAST(ag.c AS INT) AS channel,
      |       s.frames AS n_frames,
      |       CAST(ag.zc AS BIGINT) AS n_zero_crossings,
      |       CASE WHEN s.frames >= 2
      |            THEN CAST(ag.zc AS DOUBLE) / (s.frames - 1) END AS zcr,
      |       CAST(ag.sil AS BIGINT) AS n_silent,
      |       CAST(ag.sil AS DOUBLE) / s.frames AS silence_rate
      |FROM src s JOIN ag ON ag.doc_id = s.doc_id
      |UNION ALL
      |SELECT doc_id, CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |       CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
      |FROM src WHERE NOT ok
      |ORDER BY doc_id, channel""".stripMargin) { (s, dir) =>
    wavPcmPayloads(s, dir)
      .withColumn("st", Multimodal.wavZeroCrossings(col("payload")))
      .select(col("doc_id"), explode_outer(col("st")).as("e"))
      .select(
        col("doc_id"),
        col("e.channel").as("channel"),
        col("e.n_frames").as("n_frames"),
        col("e.n_zero_crossings").as("n_zero_crossings"),
        col("e.zcr").as("zcr"),
        col("e.n_silent").as("n_silent"),
        col("e.silence_rate").as("silence_rate"))
      .orderBy("doc_id", "channel")
  }

  // REAL MP4 / ISO-BMFF metadata decode (Multimodal.decodeMp4Meta) —
  // the VIDEO container joins the image/audio formats: genuine box
  // chains built in-plan — ftyp(isom), an optional top-level `free` box
  // (every 5th doc) shifting moov to a VARIABLE offset, then moov with a
  // `udta` child BEFORE mvhd so the child walk must skip a sibling.
  // Every 3rd doc writes mvhd VERSION 1 (64-bit ctime/mtime/duration —
  // the duration exceeds 2^32 to prove the be64 read); every 7th doc a
  // corrupted ftyp 4cc → NULL. duration_us is floored exact-decimal
  // division; the oracle derives every expectation independently from
  // the generator arithmetic (the q_m6 discipline).
  private[queries] val mp4OracleSql: String =
    """WITH src AS (
      |  SELECT doc_id,
      |         n_chars % 40000 + 1000 AS ts,
      |         (n_chars * 17 + doc_id % 777) % 900000 + 1 AS d32,
      |         (doc_id % 3 = 0) AS v1,
      |         (doc_id % 7 <> 0) AS ok
      |  FROM documents),
      |x AS (SELECT doc_id, ts,
      |             CASE WHEN v1 THEN d32 + 5000000000 ELSE d32 END AS dur,
      |             CASE WHEN v1 THEN 1 ELSE 0 END AS ver, ok FROM src)
      |SELECT doc_id,
      |       CASE WHEN ok THEN 'isom' END AS major_brand,
      |       CASE WHEN ok THEN CAST(ver AS INT) END AS mvhd_version,
      |       CASE WHEN ok THEN CAST(ts AS BIGINT) END AS timescale,
      |       CASE WHEN ok THEN CAST(dur AS BIGINT) END AS duration,
      |       CASE WHEN ok THEN CAST(CAST(dur AS BIGINT) * 1000000 // ts AS BIGINT) END AS duration_us,
      |       ok AS valid_mp4
      |FROM x ORDER BY doc_id""".stripMargin

  /** The q_m14 payload construction + decode as a frame transform —
    * shared with the streaming twin (q_st26), which applies it per
    * micro-batch (row-local, so streamed ≡ batch on every document).
    */
  private[queries] def mp4Decoded(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def be32h(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def be64h(c: org.apache.spark.sql.Column) = lpad(hex(c), 16, "0")
    val ts = col("n_chars").cast("bigint") % 40000 + 1000
    val d32 = (col("n_chars").cast("bigint") * 17 + col("doc_id") % 777) % 900000 + 1
    val isV1 = col("doc_id") % 3 === 0
    val dur64 = d32 + 5000000000L
    val matrixHex = Seq(
      "00010000", "00000000", "00000000", "00000000", "00010000",
      "00000000", "00000000", "00000000", "40000000").mkString
    // rate, volume, 10 reserved bytes, unity matrix, 24 predefined bytes,
    // next_track — the fixed 80-byte mvhd tail shared by both versions
    val tail80 = "00010000" + "0100" + ("0" * 20) + matrixHex + ("0" * 48) + "00000002"
    val ftyp = concat(
      lit("00000010"),
      when(col("doc_id") % 7 === 0, lit("66747971")).otherwise(lit("66747970")),
      lit("69736F6D"), lit("00000000"))
    val free = when(col("doc_id") % 5 === 0,
      lit("0000001066726565DEADBEEFDEADBEEF")).otherwise(lit(""))
    val udta = lit("0000000C" + "75647461" + "00000000")
    val mvhd = when(isV1,
      concat(lit("00000078" + "6D766864" + "01000000" +
          "0000000000000000" + "0000000000000000"),
        be32h(ts), be64h(dur64), lit(tail80)))
      .otherwise(
        concat(lit("0000006C" + "6D766864" + "00000000" +
            "00000000" + "00000000"),
          be32h(ts), be32h(d32), lit(tail80)))
    val moovSize = when(isV1, lit("0000008C")).otherwise(lit("00000080"))
    val mp4Hex = concat(ftyp, free, moovSize, lit("6D6F6F76"), udta, mvhd)
    graft.Tables.spread(df)
      .select(col("doc_id"), unhex(mp4Hex).as("payload"))
      .withColumn("m", Multimodal.decodeMp4Meta(col("payload")))
      .select(
        col("doc_id"),
        col("m.major_brand").as("major_brand"),
        col("m.mvhd_version").as("mvhd_version"),
        col("m.timescale").as("timescale"),
        col("m.duration").as("duration"),
        col("m.duration_us").as("duration_us"),
        col("m").isNotNull.as("valid_mp4"))
  }

  private val qM14 = Q("q_m14_mp4_box_walk", mp4OracleSql) { (s, dir) =>
    mp4Decoded(Tables.load(s, dir, "documents")).orderBy("doc_id")
  }

  // EXIF orientation decode (Multimodal.jpegExifOrientation): genuine
  // APP1 segments built in-plan with BOTH TIFF byte orders — even docs
  // little-endian "II", odd docs big-endian "MM", so the per-row
  // endianness selection is the thing under test — plus a Make entry
  // BEFORE the orientation tag (the IFD scan must skip siblings), an
  // APP0 shifting APP1 to a variable offset on every 5th doc, a tagless
  // IFD on every 11th (orientation NULL inside a valid walk), and a
  // corrupted SOI on every 7th. Orientation cycles 1–8 from doc_id; the
  // oracle derives expectations independently (the q_m6 discipline).
  private val qM15 = Q(
    "q_m15_exif_orientation",
    """SELECT doc_id,
      |       CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 <> 0
      |            THEN CAST(doc_id % 8 + 1 AS INT) END AS orientation,
      |       (doc_id % 7 <> 0 AND doc_id % 11 <> 0) AS has_orientation
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val o = col("doc_id") % 8 + 1
    val oHex = lpad(hex(o), 2, "0")
    val isLe = col("doc_id") % 2 === 0
    val soi = when(col("doc_id") % 7 === 0, lit("00D8")).otherwise(lit("FFD8"))
    val app0 = when(col("doc_id") % 5 === 0,
      lit("FFE0" + "0010" + "4A46494600010100000100010000")).otherwise(lit(""))
    val tagless = col("doc_id") % 11 === 0
    // TIFF body: header, entry count, entries (Make 0x010F then
    // Orientation 0x0112 SHORT inline), next-IFD terminator
    val tiffLe = concat(
      lit("4949" + "2A00" + "08000000" + "0200" +
        "0F01" + "0200" + "04000000" + "41424300" +
        "1201" + "0300" + "01000000"), oHex, lit("00" + "0000" + "00000000"))
    val tiffBe = concat(
      lit("4D4D" + "002A" + "00000008" + "0002" +
        "010F" + "0002" + "00000004" + "41424300" +
        "0112" + "0003" + "00000001" + "00"), oHex, lit("0000" + "00000000"))
    val tiffLeNoTag = lit("4949" + "2A00" + "08000000" + "0100" +
      "0F01" + "0200" + "04000000" + "41424300" + "00000000")
    val tiffBeNoTag = lit("4D4D" + "002A" + "00000008" + "0001" +
      "010F" + "0002" + "00000004" + "41424300" + "00000000")
    val tiff = when(tagless, when(isLe, tiffLeNoTag).otherwise(tiffBeNoTag))
      .otherwise(when(isLe, tiffLe).otherwise(tiffBe))
    val app1Len = when(tagless, lit("0022")).otherwise(lit("002E"))
    val jpegHex = concat(
      soi, app0,
      lit("FFE1"), app1Len, lit("457869660000"), tiff,
      lit("FFC0" + "0011" + "08" + "0010" + "0010" + "03" +
        "011100021101031101" + "FFDA" + "0002" + "DEADBEEF"))
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(jpegHex).as("payload"))
      .withColumn("o", Multimodal.jpegExifOrientation(col("payload")))
      .select(
        col("doc_id"),
        col("o").as("orientation"),
        col("o").isNotNull.as("has_orientation"))
      .orderBy("doc_id")
  }

  // ---- q_m16: REAL COMPRESSED pixel decode (Multimodal.pngPixelStats /
  // expressions.PngUnfilteredPixels) — complete zlib-wrapped PNGs built
  // in-plan. The deflate payload uses STORED blocks (BTYPE=00) so every
  // byte is layout-derivable, but the engine runs the REAL inflate path:
  // zlib header parse, block walk, and the adler-32 integrity check over
  // the decompressed bytes — which every 9th doc CORRUPTS (flipped adler
  // word) and must therefore fail as NULL; a decoder that skipped the
  // checksum would "pass" those rows with real stats and hash-mismatch.
  // Scanlines cycle ALL FIVE filter types (y % 5), so Sub/Up/Average/
  // Paeth reconstruction runs against in-plan-computed filter output;
  // color types cycle gray/RGB/gray+alpha/RGBA. The oracle derives every
  // statistic INDEPENDENTLY from the pixel formula (the q_m8/q_m10
  // discipline) — it never parses bytes. Ground truth against really-
  // compressed (JDK Deflater/ImageIO) PNGs lives in PngPixelsSpec.

  /** Filtered scanline byte for the q_m16/q_m17 constructions: the PNG
    * encoder side of the five filter recurrences, computed in closed
    * form from a caller-supplied pixel formula pix(x, y, c).
    */
  private def pngFilteredByte(
      pix: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      ch: org.apache.spark.sql.Column, ftOff: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val x = floor(j / ch).cast("bigint")
    val c = j % ch
    val cur = pix(x, y, c)
    val a = when(x >= 1, pix(x - 1, y, c)).otherwise(lit(0L))
    val b = when(y >= 1, pix(x, y - 1, c)).otherwise(lit(0L))
    val ul = when(x >= 1 && y >= 1, pix(x - 1, y - 1, c)).otherwise(lit(0L))
    val p = a + b - ul
    val paeth = when(abs(p - a) <= abs(p - b) && abs(p - a) <= abs(p - ul), a)
      .when(abs(p - b) <= abs(p - ul), b)
      .otherwise(ul)
    val ft = (y + ftOff) % 5
    val pred = when(ft === 0, lit(0L))
      .when(ft === 1, a)
      .when(ft === 2, b)
      .when(ft === 3, floor((a + b) / 2).cast("bigint"))
      .otherwise(paeth)
    pmod(cur - pred, lit(256L))
  }

  /** Complete zlib-wrapped PNG built in-plan (stored deflate blocks,
    * scanline filters cycling (y + ftOff) % 5, in-plan adler-32 fold;
    * chunk CRCs zero — the decoder verifies the adler, not the CRCs).
    * `adlerFlip` corrupts the adler word so the integrity check has a
    * must-reject row. Raw scanline bytes must stay < 65536 (one stored
    * block) — the callers' dims guarantee it.
    */
  private def pngHexFull(
      w: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column,
      ct: org.apache.spark.sql.Column, ch: org.apache.spark.sql.Column,
      pix: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      ftOff: org.apache.spark.sql.Column,
      adlerFlip: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def beHexN(c: org.apache.spark.sql.Column, nBytes: Int) =
      lpad(hex(c), 2 * nBytes, "0")
    val rowLen = lit(1L) + w * ch
    val n = h * rowLen
    def rawByte(p: org.apache.spark.sql.Column) = {
      val y = floor(p / rowLen).cast("bigint")
      val k = p % rowLen
      when(k === 0, (y + ftOff) % 5)
        .otherwise(pngFilteredByte(pix, ch, ftOff, y, k - 1))
    }
    // r17 opt: the raw scanline bytes are materialized ONCE into a bound
    // array — the previous shape evaluated the interpreted rawByte tree
    // (4 pix() reads + the Paeth branch per byte) TWICE per byte: once
    // for the hex rendering and again inside the adler fold, and the
    // fold also allocated a (s1, s2) struct per byte. The adler word is
    // instead computed in closed form over the bound array —
    // s1 = (1 + Σ raw_j) mod 65521, s2 = (n + Σ (n−j)·raw_j) mod 65521
    // (Σ s1_p telescopes; intermediate mods only change representatives,
    // never the residue; the weighted sum tops out at n²·255 ≈ 2·10⁸ for
    // the ≤ 900-byte gate payloads, far inside long range) — byte-
    // identical output, half the rawByte evaluations, no struct allocs.
    val rawArr = transform(sequence(lit(0L), n - 1L), p => rawByte(p))
    def bodyHex(raw: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val rawHex = array_join(
        transform(raw, b => lpad(hex(b), 2, "0")), "")
      val s1 = (lit(1L) + aggregate(raw, lit(0L), (a, b) => a + b)) % 65521L
      val s2 = (n + aggregate(
        zip_with(raw, sequence(lit(0L), n - 1L), (b, j) => b * (n - j)),
        lit(0L), (a, x) => a + x)) % 65521L
      val word = s2 * 65536L + s1
      concat(rawHex,
        beHexN(when(adlerFlip, pmod(word + 1L, lit(4294967296L)))
          .otherwise(word), 4))
    }
    val rawPlusAdlerHex = graft.functions.hof.bind(rawArr)(bodyHex)
    concat(
      lit("89504E470D0A1A0A"),
      lit("0000000D"), lit("49484452"),
      beHexN(w, 4), beHexN(h, 4),
      lit("08"), beHexN(ct, 1), lit("000000"),
      lit("00000000"), // IHDR CRC — not verified (integrity = adler-32)
      beHexN(n + 11L, 4), lit("49444154"),
      lit("7801"),                       // zlib CMF/FLG (30721 % 31 = 0)
      lit("01"),                         // BFINAL=1, BTYPE=00 (stored)
      leHexN(n, 2), leHexN(lit(65535L) - n, 2),
      rawPlusAdlerHex,
      lit("00000000"),                   // IDAT CRC — not verified
      lit("0000000049454E4400000000"))   // IEND
  }

  private val qM16 = Q(
    "q_m16_png_pixel_stats",
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(n_chars % 13 + 4 AS BIGINT) AS w,
      |         CAST(doc_id % 11 + 3 AS BIGINT) AS h,
      |         CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 3
      |              WHEN 2 THEN 2 ELSE 4 END AS INT) AS ch,
      |         doc_id % 251 AS seed,
      |         (doc_id % 9 <> 0) AS ok
      |  FROM documents WHERE doc_id < 500),
      |px AS (
      |  SELECT s.doc_id, cc.c AS c,
      |         (s.seed + cc.c * 7 + xx.x * 11 + yy.y * 13) % 256 AS v
      |  FROM src s, unnest(range(s.w)) AS xx(x), unnest(range(s.h)) AS yy(y),
      |       unnest(range(s.ch)) AS cc(c)
      |  WHERE s.ok),
      |ag AS (
      |  SELECT doc_id, c, CAST(sum(v) AS BIGINT) AS sv,
      |         CAST(min(v) AS INT) AS mnv, CAST(max(v) AS INT) AS mxv
      |  FROM px GROUP BY 1, 2),
      |pvt AS (
      |  SELECT doc_id,
      |         max(CASE WHEN c = 0 THEN sv END) AS s0,
      |         max(CASE WHEN c = 0 THEN mnv END) AS mn0,
      |         max(CASE WHEN c = 0 THEN mxv END) AS mx0,
      |         max(CASE WHEN c = 1 THEN sv END) AS s1,
      |         max(CASE WHEN c = 1 THEN mnv END) AS mn1,
      |         max(CASE WHEN c = 1 THEN mxv END) AS mx1,
      |         max(CASE WHEN c = 2 THEN sv END) AS s2,
      |         max(CASE WHEN c = 2 THEN mnv END) AS mn2,
      |         max(CASE WHEN c = 2 THEN mxv END) AS mx2,
      |         max(CASE WHEN c = 3 THEN sv END) AS s3,
      |         max(CASE WHEN c = 3 THEN mnv END) AS mn3,
      |         max(CASE WHEN c = 3 THEN mxv END) AS mx3
      |  FROM ag GROUP BY 1)
      |SELECT s.doc_id,
      |       CASE WHEN s.ok THEN CAST(s.w AS INT) END AS width,
      |       CASE WHEN s.ok THEN CAST(s.h AS INT) END AS height,
      |       CASE WHEN s.ok THEN s.ch END AS channels,
      |       CASE WHEN s.ok THEN s.w * s.h END AS n_pixels,
      |       CASE WHEN s.ok THEN CAST(p.s0 AS DOUBLE) / (s.w * s.h) END AS c0_mean,
      |       CASE WHEN s.ok THEN p.mn0 END AS c0_min,
      |       CASE WHEN s.ok THEN p.mx0 END AS c0_max,
      |       CASE WHEN s.ok AND s.ch > 1 THEN CAST(p.s1 AS DOUBLE) / (s.w * s.h) END AS c1_mean,
      |       CASE WHEN s.ok AND s.ch > 1 THEN p.mn1 END AS c1_min,
      |       CASE WHEN s.ok AND s.ch > 1 THEN p.mx1 END AS c1_max,
      |       CASE WHEN s.ok AND s.ch > 2 THEN CAST(p.s2 AS DOUBLE) / (s.w * s.h) END AS c2_mean,
      |       CASE WHEN s.ok AND s.ch > 2 THEN p.mn2 END AS c2_min,
      |       CASE WHEN s.ok AND s.ch > 2 THEN p.mx2 END AS c2_max,
      |       CASE WHEN s.ok AND s.ch > 3 THEN CAST(p.s3 AS DOUBLE) / (s.w * s.h) END AS c3_mean,
      |       CASE WHEN s.ok AND s.ch > 3 THEN p.mn3 END AS c3_min,
      |       CASE WHEN s.ok AND s.ch > 3 THEN p.mx3 END AS c3_max,
      |       CASE WHEN s.ok THEN CAST(
      |         (p.mn0 = p.mx0) AND (s.ch <= 1 OR p.mn1 = p.mx1) AND
      |         (s.ch <= 2 OR p.mn2 = p.mx2) AND (s.ch <= 3 OR p.mn3 = p.mx3)
      |       AS INT) END AS is_blank,
      |       s.ok AS valid_png
      |FROM src s LEFT JOIN pvt p ON p.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val w = (col("n_chars") % 13 + 4).cast("bigint")
    val h = (col("doc_id") % 11 + 3).cast("bigint")
    val ctIdx = (col("doc_id") % 4 + 1).cast("int")
    val ct = element_at(array(lit(0L), lit(2L), lit(4L), lit(6L)), ctIdx)
    val ch = element_at(array(lit(1L), lit(3L), lit(2L), lit(4L)), ctIdx)
    val seed = (col("doc_id") % 251).cast("bigint")
    val ok = col("doc_id") % 9 =!= 0
    val pngHex = pngHexFull(
      w, h, ct, ch,
      (x, y, c) => (seed + c * 7 + x * 11 + y * 13) % 256,
      ftOff = lit(0L), adlerFlip = !ok)
    // materialized before decoding — the q_m9/q_m10 codegen-inlining
    // lesson: the stats fold references the payload per PIXEL.
    // doc_id < 500 caps the gate corpus (the q_r3 rule): the per-byte
    // construction folds are HOF-interpreted and grow with SF while the
    // gate only needs correctness coverage — the OPERATOR's scale story
    // is the kernel (linear in payload bytes, whole-stage codegen)
    val withPayload = Tables.spread(Tables.load(s, dir, "documents"))
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), unhex(pngHex).as("payload"))
      .pin() // ≤500 rows × ≤900 B — trivial residency
    withPayload
      .withColumn("m", Multimodal.pngPixelStats(col("payload"), maxPixels = 512))
      .select(
        (Seq(col("doc_id")) ++
          Seq("width", "height", "channels", "n_pixels").map(f =>
            col(s"m.$f").as(f)) ++
          (0 to 3).flatMap(c => Seq(
            col(s"m.c${c}_mean").as(s"c${c}_mean"),
            col(s"m.c${c}_min").as(s"c${c}_min"),
            col(s"m.c${c}_max").as(s"c${c}_max"))) ++
          Seq(col("m.is_blank").cast("int").as("is_blank"),
            col("m").isNotNull.as("valid_png"))): _*)
      .orderBy("doc_id")
  }

  // ---- q_m17: perceptual hash on REAL COMPRESSED input
  // (Multimodal.pngAHash) with a CROSS-REPRESENTATION parity proof: each
  // doc renders the SAME image twice — grayscale PNG and truecolor PNG
  // with R=G=B, under DIFFERENT filter cycles (ftOff 0 vs 3) — and both
  // payloads must hash to the same 64-bit aHash (luma 1000·v on both
  // paths), which only holds if inflate + unfilter reconstruct the exact
  // pixels on every filter type. Every 6th doc is constant (blank → hash
  // 0 under the strict majority rule); every 9th doc corrupts both
  // adler words → NULL. The oracle derives the hash from the luma
  // formula (the q_m11 replay) and never parses bytes.
  /** The q_m17 synthetic dual-representation PNG corpus + aHash, as a
    * reusable BATCH-plan transform (doc_id, ahash, formats_agree,
    * valid_png) — shared by the batch gate and the streaming landing-
    * zone twin (q_st27), which maps it per micro-batch.
    */
  private[queries] def pngAHashFrame(
      docs0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      RunScope.scope("pngAHashFrame") {
    // doc_id < 500 caps the gate corpus (the q_r3 rule — the dual PNG
    // construction is HOF-interpreted per byte); applied INSIDE the
    // shared frame so batch gate, streaming twin, and oracle agree
    val docs = graft.Tables.spread(docs0.filter(col("doc_id") < 500))
    val w = (col("doc_id") % 6 + 4).cast("bigint")
    val h = (col("doc_id") % 5 + 3).cast("bigint")
    val seed = (col("doc_id") % 251).cast("bigint")
    val blank = col("doc_id") % 6 === 0
    val ok = col("doc_id") % 9 =!= 0
    def lum(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      when(blank, seed).otherwise((seed + x * 11 + y * 13) % 256)
    val grayHex = pngHexFull(
      w, h, ct = lit(0L), ch = lit(1L),
      (x, y, _) => lum(x, y), ftOff = lit(0L), adlerFlip = !ok)
    val rgbHex = pngHexFull(
      w, h, ct = lit(2L), ch = lit(3L),
      (x, y, _) => lum(x, y), ftOff = lit(3L), adlerFlip = !ok)
    val withPayload = docs
      .select(
        col("doc_id"),
        unhex(grayHex).as("gray_payload"),
        unhex(rgbHex).as("rgb_payload"))
      .pin() // <=500 rows x <=700 B - trivial residency
    withPayload
      .select(
        col("doc_id"),
        Multimodal.pngAHash(col("gray_payload"), maxPixels = 128).as("hg"),
        Multimodal.pngAHash(col("rgb_payload"), maxPixels = 128).as("hr"))
      .select(
        col("doc_id"),
        col("hg").as("ahash"),
        when(col("hg").isNotNull && col("hr").isNotNull,
          (col("hg") === col("hr")).cast("int")).as("formats_agree"),
        col("hg").isNotNull.as("valid_png"))
      .pin()
  }

  private[queries] val qM17 = Q(
    "q_m17_png_ahash",
    s"""WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 6 + 4 AS BIGINT) AS w,
      |         CAST(doc_id % 5 + 3 AS BIGINT) AS h,
      |         doc_id % 251 AS seed,
      |         (doc_id % 6 = 0) AS blank,
      |         (doc_id % 9 <> 0) AS ok
      |  FROM documents WHERE doc_id < 500),
      |lum AS (
      |  SELECT s.doc_id, u.k,
      |         1000 * (CASE WHEN s.blank THEN s.seed
      |                 ELSE (s.seed + (((u.k % 8) * s.w) // 8) * 11
      |                              + (((u.k // 8) * s.h) // 8) * 13) % 256
      |                 END) AS L
      |  FROM src s, unnest(range(64)) AS u(k)
      |  WHERE s.ok),
      |$aHashBitsSql
      |SELECT s.doc_id,
      |       CASE WHEN s.ok THEN hsh.v END AS ahash,
      |       CASE WHEN s.ok THEN 1 END AS formats_agree,
      |       s.ok AS valid_png
      |FROM src s LEFT JOIN hsh ON hsh.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    pngAHashFrame(Tables.load(s, dir, "documents")).orderBy("doc_id")
  }

  // ---- q_m18: REAL LZW pixel decode (Multimodal.gifPixelStats /
  // expressions.GifFramePixels) — complete GIF89a files built in-plan
  // with the CLEAR-HEAVY byte-aligned coding (mcs=7, a CLEAR before
  // every literal keeps the dictionary from growing, so each code is
  // exactly one byte — the stored-deflate analog for GIF): every byte is
  // layout-derivable while the engine runs the REAL LZW state machine
  // (clear handling, code widths, palette mapping — the same kernel that
  // decodes the JDK encoder's growing-dictionary streams in
  // GifPixelsSpec). Every 7th doc corrupts the signature → NULL; every
  // 6th is constant (blank cut). The oracle derives every statistic from
  // the index formula through the palette formula — never parsing bytes.
  private val qM18 = Q(
    "q_m18_gif_pixel_stats",
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 7 + 3 AS BIGINT) AS w,
      |         CAST(n_chars % 6 + 2 AS BIGINT) AS h,
      |         doc_id % 127 AS seed,
      |         (doc_id % 6 = 0) AS blank,
      |         (doc_id % 7 <> 0) AS ok
      |  FROM documents),
      |px AS (
      |  SELECT s.doc_id,
      |         CASE WHEN s.blank THEN s.seed
      |              ELSE (s.seed + 13 * (u.i % s.w) + 7 * (u.i // s.w)) % 128
      |         END AS idx
      |  FROM src s, unnest(range(s.w * s.h)) AS u(i)
      |  WHERE s.ok),
      |ag AS (
      |  SELECT doc_id,
      |         CAST(sum((2 * idx) % 256) AS BIGINT) AS s0,
      |         CAST(min((2 * idx) % 256) AS INT) AS mn0,
      |         CAST(max((2 * idx) % 256) AS INT) AS mx0,
      |         CAST(sum((3 * idx) % 256) AS BIGINT) AS s1,
      |         CAST(min((3 * idx) % 256) AS INT) AS mn1,
      |         CAST(max((3 * idx) % 256) AS INT) AS mx1,
      |         CAST(sum(255 - idx) AS BIGINT) AS s2,
      |         CAST(min(255 - idx) AS INT) AS mn2,
      |         CAST(max(255 - idx) AS INT) AS mx2
      |  FROM px GROUP BY 1)
      |SELECT s.doc_id,
      |       CASE WHEN s.ok THEN CAST(s.w AS INT) END AS width,
      |       CASE WHEN s.ok THEN CAST(s.h AS INT) END AS height,
      |       CASE WHEN s.ok THEN 3 END AS channels,
      |       CASE WHEN s.ok THEN s.w * s.h END AS n_pixels,
      |       CASE WHEN s.ok THEN CAST(a.s0 AS DOUBLE) / (s.w * s.h) END AS c0_mean,
      |       CASE WHEN s.ok THEN a.mn0 END AS c0_min,
      |       CASE WHEN s.ok THEN a.mx0 END AS c0_max,
      |       CASE WHEN s.ok THEN CAST(a.s1 AS DOUBLE) / (s.w * s.h) END AS c1_mean,
      |       CASE WHEN s.ok THEN a.mn1 END AS c1_min,
      |       CASE WHEN s.ok THEN a.mx1 END AS c1_max,
      |       CASE WHEN s.ok THEN CAST(a.s2 AS DOUBLE) / (s.w * s.h) END AS c2_mean,
      |       CASE WHEN s.ok THEN a.mn2 END AS c2_min,
      |       CASE WHEN s.ok THEN a.mx2 END AS c2_max,
      |       CAST(NULL AS DOUBLE) AS c3_mean,
      |       CAST(NULL AS INT) AS c3_min,
      |       CAST(NULL AS INT) AS c3_max,
      |       CASE WHEN s.ok THEN CAST(
      |         a.mn0 = a.mx0 AND a.mn1 = a.mx1 AND a.mn2 = a.mx2 AS INT)
      |       END AS is_blank,
      |       s.ok AS valid_gif
      |FROM src s LEFT JOIN ag a ON a.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val w = (col("doc_id") % 7 + 3).cast("bigint")
    val h = (col("n_chars") % 6 + 2).cast("bigint")
    val seed = (col("doc_id") % 127).cast("bigint")
    val blank = col("doc_id") % 6 === 0
    val ok = col("doc_id") % 7 =!= 0
    // 128-entry palette (2i, 3i mod 256, 255-i) — one constant hex blob
    val gctHex = (0 until 128).map { i =>
      f"${(2 * i) % 256}%02X${(3 * i) % 256}%02X${255 - i}%02X"
    }.mkString
    def idx(i: org.apache.spark.sql.Column) =
      when(blank, seed)
        .otherwise((seed + (i % w) * 13 + floor(i / w).cast("bigint") * 7) % 128)
    // clear-heavy coding: (CLEAR, literal) per pixel + EOI — w·h ≤ 63
    // keeps the whole stream in ONE ≤255-byte sub-block
    val codesHex = concat(
      array_join(
        transform(sequence(lit(0L), w * h - 1L), i =>
          concat(lit("80"), lpad(hex(idx(i)), 2, "0"))), ""),
      lit("81"))
    val sigHex = when(ok, lit("474946383961")).otherwise(lit("474958383961"))
    val gifHex = concat(
      sigHex, leHexN(w, 2), leHexN(h, 2),
      lit("86"), lit("00"), lit("00"), // GCT present 2^7, bg, aspect
      lit(gctHex),
      lit("2C"), lit("00000000"), leHexN(w, 2), leHexN(h, 2), lit("00"),
      lit("07"),                        // min code size
      leHexN(w * h * 2L + 1L, 1),       // single sub-block length
      codesHex,
      lit("00"), lit("3B"))             // terminator + trailer
    val withPayload = Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(gifHex).as("payload"))
      .pin() // ≤500 rows × ≤600 B — trivial residency
    withPayload
      .withColumn("m", Multimodal.gifPixelStats(col("payload"), maxPixels = 64))
      .select(
        (Seq(col("doc_id")) ++
          Seq("width", "height", "channels", "n_pixels").map(f =>
            col(s"m.$f").as(f)) ++
          (0 to 3).flatMap(c => Seq(
            col(s"m.c${c}_mean").as(s"c${c}_mean"),
            col(s"m.c${c}_min").as(s"c${c}_min"),
            col(s"m.c${c}_max").as(s"c${c}_max"))) ++
          Seq(col("m.is_blank").cast("int").as("is_blank"),
            col("m").isNotNull.as("valid_gif"))): _*)
      .orderBy("doc_id")
  }

  // REAL WebP header decode (Multimodal.decodeWebpMeta): genuine RIFF
  // containers built in-plan cycling ALL THREE variants — VP8 lossy
  // (14-bit dims in u16s with NONZERO SCALE BITS planted, which the
  // decoder must mask off), VP8L lossless (14-bit dims BIT-PACKED across
  // four bytes), VP8X extended (24-bit dims past the 16383 limit) —
  // plus a corrupted RIFF tag every 7th doc and a corrupted VP8 sync
  // code every 11th. The oracle derives width/height/format from the
  // source columns (the q_m8 discipline).
  private val qM19 = Q(
    "q_m19_webp_header_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 3 AS INT) AS variant,
      |         n_chars % 16000 + 1 AS w14,
      |         (n_chars * 3 + doc_id % 777) % 16000 + 1 AS h14,
      |         n_chars % 100000 + 1 AS w24,
      |         (n_chars * 7 + doc_id % 555) % 100000 + 1 AS h24,
      |         (doc_id % 7 <> 0 AND NOT (doc_id % 3 = 0 AND doc_id % 11 = 0)) AS ok
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN ok THEN CAST(CASE WHEN variant = 2 THEN w24 ELSE w14 END AS INT)
      |            END AS width,
      |       CASE WHEN ok THEN CAST(CASE WHEN variant = 2 THEN h24 ELSE h14 END AS INT)
      |            END AS height,
      |       CASE WHEN ok THEN CASE variant WHEN 0 THEN 'lossy'
      |            WHEN 1 THEN 'lossless' ELSE 'extended' END END AS format,
      |       ok AS valid_webp
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val variant = (col("doc_id") % 3).cast("int")
    val w14 = (col("n_chars") % 16000 + 1).cast("bigint")
    val h14 = ((col("n_chars") * 3 + col("doc_id") % 777) % 16000 + 1).cast("bigint")
    val w24 = (col("n_chars") % 100000 + 1).cast("bigint")
    val h24 = ((col("n_chars") * 7 + col("doc_id") % 555) % 100000 + 1).cast("bigint")
    val badRiff = col("doc_id") % 7 === 0
    val badSync = variant === 0 && col("doc_id") % 11 === 0
    // VP8 lossy: plant nonzero scale bits in the upper 2 bits — the
    // decoder must mask them off to recover the true dimensions
    val wField = w14 + (col("doc_id") % 4).cast("bigint") * 16384L
    val hField = h14 + (col("doc_id") % 3).cast("bigint") * 16384L
    val vp8Body = concat(
      lit("56503820"), leHexN(lit(10L), 4),
      lit("000000"), // frame tag
      when(badSync, lit("9D012B")).otherwise(lit("9D012A")),
      leHexN(wField, 2), leHexN(hField, 2))
    val vp8lBody = concat(
      lit("5650384C"), leHexN(lit(5L), 4), lit("2F"),
      leHexN((w14 - 1).bitwiseAND(lit(255L)), 1),
      leHexN(shiftright(w14 - 1, 8).bitwiseAND(lit(63L)) +
        (h14 - 1).bitwiseAND(lit(3L)) * 64L, 1),
      leHexN(shiftright(h14 - 1, 2).bitwiseAND(lit(255L)), 1),
      leHexN(shiftright(h14 - 1, 10).bitwiseAND(lit(15L)), 1))
    val vp8xBody = concat(
      lit("56503858"), leHexN(lit(10L), 4),
      lit("00"), lit("000000"), // flags + reserved
      leHexN(w24 - 1, 3), leHexN(h24 - 1, 3))
    val body = when(variant === 0, vp8Body)
      .when(variant === 1, vp8lBody)
      .otherwise(vp8xBody)
    val riff = when(badRiff, lit("52494658")).otherwise(lit("52494646"))
    val webpHex = concat(riff, leHexN(lit(30L), 4), lit("57454250"), body)
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(webpHex).as("payload"))
      .withColumn("m", Multimodal.decodeWebpMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.format").as("format"),
        col("m").isNotNull.as("valid_webp"))
      .orderBy("doc_id")
  }

  // REAL FLAC STREAMINFO decode (Multimodal.decodeFlacMeta): genuine
  // headers built in-plan with the bit-packed parameter layout — 20-bit
  // sample rate, 3-bit channels, 5-bit bps, 36-bit total samples (every
  // 3rd doc exceeds 2^32 samples, exercising the high nibble) — plus
  // the exact floored duration_us (modulus-first, the q_m14 ADVICE
  // rule; rates up to 655350 with huge totals probe the decimal-scale
  // trap directly). Corrupt magic every 7th, a non-STREAMINFO first
  // block every 11th. The oracle derives everything from source columns
  // and replays duration with DuckDB's exact integer //.
  private val qM20 = Q(
    "q_m20_flac_header_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 44100
      |              WHEN 2 THEN 48000 WHEN 3 THEN 96000 ELSE 655350 END AS rate,
      |         CAST(doc_id % 8 + 1 AS INT) AS ch,
      |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 8 WHEN 1 THEN 16 ELSE 24 END AS bps,
      |         CASE WHEN doc_id % 3 = 0
      |              THEN 4294967296 + n_chars * 977 + doc_id
      |              ELSE n_chars * 977 + doc_id END AS total,
      |         (doc_id % 7 <> 0 AND doc_id % 11 <> 0) AS ok
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN ok THEN CAST(rate AS INT) END AS sample_rate,
      |       CASE WHEN ok THEN ch END AS channels,
      |       CASE WHEN ok THEN CAST(bps AS INT) END AS bits_per_sample,
      |       CASE WHEN ok THEN CAST(total AS BIGINT) END AS total_samples,
      |       CASE WHEN ok THEN CAST((total * 1000000) // rate AS BIGINT)
      |            END AS duration_us,
      |       ok AS valid_flac
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def beHexN(c: org.apache.spark.sql.Column, nBytes: Int) =
      lpad(hex(c), 2 * nBytes, "0")
    val rate = element_at(
      array(lit(8000L), lit(44100L), lit(48000L), lit(96000L), lit(655350L)),
      (col("doc_id") % 5 + 1).cast("int"))
    val ch = (col("doc_id") % 8 + 1).cast("bigint")
    val bps = element_at(array(lit(8L), lit(16L), lit(24L)),
      (col("doc_id") % 3 + 1).cast("int"))
    val total = when(col("doc_id") % 3 === 0,
      lit(4294967296L) + col("n_chars").cast("bigint") * 977L + col("doc_id"))
      .otherwise(col("n_chars").cast("bigint") * 977L + col("doc_id"))
    val magic = when(col("doc_id") % 7 === 0, lit("664C6144"))
      .otherwise(lit("664C6143"))
    // block type: STREAMINFO (0, with the last-flag set — 0x80) except
    // every 11th doc, which leads with a PADDING block (type 1) the
    // decoder must reject as "STREAMINFO not first"
    val blockHdr = when(col("doc_id") % 11 === 0, lit("81"))
      .otherwise(lit("80"))
    // the 8 bit-packed bytes: rate(20) | ch-1(3) | bps-1(5) | total(36)
    val b19 = floor(rate / 4096L).cast("bigint")
    val b20 = pmod(floor(rate / 16L).cast("bigint"), lit(256L))
    val b21 = pmod(rate, lit(16L)) * 16L + (ch - 1L) * 2L +
      floor((bps - 1L) / 16L).cast("bigint")
    val b22 = pmod(bps - 1L, lit(16L)) * 16L +
      floor(total / 4294967296L).cast("bigint")
    val flacHex = concat(
      magic, blockHdr, lit("000022"), // length 34
      lit("1000"), lit("1000"),       // min/max block size
      lit("000000"), lit("000000"),   // min/max frame size
      beHexN(b19, 1), beHexN(b20, 1), beHexN(b21, 1), beHexN(b22, 1),
      beHexN(pmod(total, lit(4294967296L)), 4),
      lit("00" * 16))                 // md5 signature
    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), unhex(flacHex).as("payload"))
      .withColumn("m", Multimodal.decodeFlacMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"),
        col("m.bits_per_sample").as("bits_per_sample"),
        col("m.total_samples").as("total_samples"),
        col("m.duration_us").as("duration_us"),
        col("m").isNotNull.as("valid_flac"))
      .orderBy("doc_id")
  }

  // TIFF header decode (Multimodal.decodeTiffMeta): standalone TIFFs
  // built in-plan in BOTH byte orders (even docs "II", odd "MM" — the
  // q_m15 endianness-selection lesson), dims cycling SHORT and LONG
  // entry types, BitsPerSample alternating inline (count 1) and
  // RGB-triple-behind-an-OFFSET (count 3 — the decoder must follow the
  // indirection), the IFD shifted off 8 on every 5th doc, corrupt magic
  // on every 7th and an over-declared entry count (table past EOF) on
  // every 11th as must-reject rows. Expectations derive from the source
  // columns, never from parsing (the q_m6 discipline); valid ships as
  // INT (the q_m10 nullable-boolean rule).
  private val qM21 = Q(
    "q_m21_tiff_header_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         doc_id % 2 = 0 AS le,
      |         doc_id % 4 = 1 AS longdims,
      |         doc_id % 3 = 0 AS bps3,
      |         doc_id % 5 = 0 AS shifted,
      |         NOT (doc_id % 7 = 0 OR doc_id % 11 = 0) AS ok,
      |         CAST(n_chars % 3000 + 16 AS BIGINT) AS wshort,
      |         CAST(70000 + doc_id % 100 AS BIGINT) AS wlong,
      |         CAST(doc_id % 900 + 8 AS BIGINT) AS hshort,
      |         CAST(170000 + doc_id % 77 AS BIGINT) AS hlong
      |  FROM documents)
      |SELECT doc_id,
      |       CASE WHEN ok THEN (CASE WHEN le THEN 'II' ELSE 'MM' END) END AS byte_order,
      |       CASE WHEN ok THEN 5 END AS n_entries,
      |       CASE WHEN ok THEN (CASE WHEN longdims THEN wlong ELSE wshort END) END AS width,
      |       CASE WHEN ok THEN (CASE WHEN longdims THEN hlong ELSE hshort END) END AS height,
      |       CASE WHEN ok THEN (CASE WHEN bps3 THEN 16 ELSE 8 END) END AS bits_per_sample,
      |       CASE WHEN ok THEN CAST(1 + doc_id % 2 AS INT) END AS compression,
      |       CASE WHEN ok THEN (CASE WHEN bps3 THEN 3 ELSE 1 END) END AS samples_per_pixel,
      |       CAST(ok AS INT) AS valid
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val isLe = col("doc_id") % 2 === 0
    val longDims = col("doc_id") % 4 === 1
    val bps3 = col("doc_id") % 3 === 0
    val shifted = col("doc_id") % 5 === 0
    val badMagic = col("doc_id") % 7 === 0
    val overDecl = col("doc_id") % 11 === 0

    def be16h(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def be32h(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    def swap16(h: org.apache.spark.sql.Column) =
      concat(substring(h, 3, 2), substring(h, 1, 2))
    def swap32(h: org.apache.spark.sql.Column) =
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    def u16h(v: org.apache.spark.sql.Column) = when(isLe, swap16(be16h(v))).otherwise(be16h(v))
    def u32h(v: org.apache.spark.sql.Column) = when(isLe, swap32(be32h(v))).otherwise(be32h(v))
    def entry(tag: Int, typ: org.apache.spark.sql.Column, cnt: org.apache.spark.sql.Column, valueHex: org.apache.spark.sql.Column) =
      concat(u16h(lit(tag)), u16h(typ), u32h(cnt), valueHex)
    def shortInline(v: org.apache.spark.sql.Column) = concat(u16h(v), lit("0000"))

    val wShort = col("n_chars").cast("bigint") % 3000 + 16
    val wLong = lit(70000L) + col("doc_id") % 100
    val hShort = col("doc_id").cast("bigint") % 900 + 8
    val hLong = lit(170000L) + col("doc_id") % 77
    val width = when(longDims, wLong).otherwise(wShort)
    val height = when(longDims, hLong).otherwise(hShort)
    val dimTyp = when(longDims, lit(4L)).otherwise(lit(3L))
    def dimVal(v: org.apache.spark.sql.Column) = when(longDims, u32h(v)).otherwise(shortInline(v))

    val ifdOff = when(shifted, lit(16L)).otherwise(lit(8L))
    // IFD: n(2) + 5 entries (60) + next-IFD(4) → bps triple right after
    val bpsOff = ifdOff + 66L
    val header = concat(
      when(isLe, lit("4949")).otherwise(lit("4D4D")),
      u16h(when(badMagic, lit(43L)).otherwise(lit(42L))),
      u32h(ifdOff),
      when(shifted, lit("0" * 16)).otherwise(lit("")))
    val declaredN = when(overDecl, lit(8L)).otherwise(lit(5L))
    val bpsEntry = when(bps3,
      entry(258, lit(3L), lit(3L), u32h(bpsOff)))
      .otherwise(entry(258, lit(3L), lit(1L), shortInline(lit(8L))))
    val body = concat(
      u16h(declaredN),
      entry(256, dimTyp, lit(1L), dimVal(width)),
      entry(257, dimTyp, lit(1L), dimVal(height)),
      bpsEntry,
      entry(259, lit(3L), lit(1L), shortInline(lit(1L) + col("doc_id") % 2)),
      entry(277, lit(3L), lit(1L),
        shortInline(when(bps3, lit(3L)).otherwise(lit(1L)))),
      lit("00000000"),
      when(bps3, concat(u16h(lit(16L)), u16h(lit(16L)), u16h(lit(16L))))
        .otherwise(lit("")))

    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("n_chars"),
        unhex(concat(header, body)).as("payload"))
      .withColumn("m", graft.operators.Multimodal.decodeTiffMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.byte_order").as("byte_order"),
        col("m.n_entries").as("n_entries"),
        col("m.width").as("width"),
        col("m.height").as("height"),
        col("m.bits_per_sample").as("bits_per_sample"),
        col("m.compression").as("compression"),
        col("m.samples_per_pixel").as("samples_per_pixel"),
        col("m").isNotNull.cast("int").as("valid"))
      .orderBy("doc_id")
  }

  // MP3 frame-header decode (Multimodal.decodeMp3Meta): in-plan MPEG
  // audio files cycling version (1/2/2.5), layer (I/II/III), all 14
  // bitrate indices, the 3 sample-rate indices, padding, and channel
  // mode, half the docs behind an ID3v2 tag with a SYNCSAFE size the
  // decoder must reassemble; corrupt sync on every 7th doc and the
  // forbidden bitrate index 15 on every 11th as must-reject rows. The
  // oracle replays the version/layer-dependent bitrate tables as
  // list_extract lookups and the frame-size / CBR-duration integer
  // arithmetic with DuckDB's exact `//` — expectations derive from the
  // source columns, never from parsing (the q_m6 discipline).
  private val qM22 = Q(
    "q_m22_mp3_frame_decode",
    """WITH src AS (
      |  SELECT doc_id, n_chars,
      |         CASE WHEN doc_id % 3 = 0 THEN 3 WHEN doc_id % 3 = 1 THEN 2 ELSE 0 END AS ver,
      |         CASE WHEN doc_id % 5 = 0 THEN 3 WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS lay,
      |         CAST(doc_id % 14 + 1 AS INTEGER) AS bi,
      |         CAST(doc_id % 3 AS INTEGER) AS si,
      |         CAST(doc_id % 2 AS INTEGER) AS pad,
      |         CAST(doc_id % 4 AS INTEGER) AS mode,
      |         CASE WHEN doc_id % 2 = 1 THEN 10 + doc_id % 200 ELSE 0 END AS id3,
      |         4 + n_chars % 50 AS ab,
      |         NOT (doc_id % 7 = 0 OR doc_id % 11 = 0) AS ok
      |  FROM documents),
      |lk AS (
      |  SELECT *,
      |         CASE WHEN ver = 3 AND lay = 3 THEN list_extract([32,64,96,128,160,192,224,256,288,320,352,384,416,448], bi)
      |              WHEN ver = 3 AND lay = 2 THEN list_extract([32,48,56,64,80,96,112,128,160,192,224,256,320,384], bi)
      |              WHEN ver = 3 THEN list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320], bi)
      |              WHEN lay = 3 THEN list_extract([32,48,56,64,80,96,112,128,144,160,176,192,224,256], bi)
      |              ELSE list_extract([8,16,24,32,40,48,56,64,80,96,112,128,144,160], bi) END AS br,
      |         CASE WHEN ver = 3 THEN list_extract([44100,48000,32000], si + 1)
      |              WHEN ver = 2 THEN list_extract([22050,24000,16000], si + 1)
      |              ELSE list_extract([11025,12000,8000], si + 1) END AS sr
      |  FROM src)
      |SELECT doc_id,
      |       CASE WHEN ok THEN CAST(id3 AS BIGINT) END AS id3_size,
      |       CASE WHEN ok THEN (CASE WHEN ver = 3 THEN 10 WHEN ver = 2 THEN 20 ELSE 25 END) END AS version_id,
      |       CASE WHEN ok THEN CAST(4 - lay AS INT) END AS layer,
      |       CASE WHEN ok THEN CAST(br AS INT) END AS bitrate_kbps,
      |       CASE WHEN ok THEN CAST(sr AS INT) END AS sample_rate,
      |       CASE WHEN ok THEN (CASE WHEN mode = 3 THEN 1 ELSE 2 END) END AS channels,
      |       CASE WHEN ok THEN pad END AS padding,
      |       CASE WHEN ok THEN CAST(CASE WHEN lay = 3 THEN ((12 * br * 1000) // sr + pad) * 4
      |                                  WHEN lay = 2 OR ver = 3 THEN (144 * br * 1000) // sr + pad
      |                                  ELSE (72 * br * 1000) // sr + pad END AS BIGINT) END AS frame_bytes,
      |       CASE WHEN ok THEN (CASE WHEN lay = 3 THEN 384 WHEN lay = 2 THEN 1152
      |                               WHEN ver = 3 THEN 1152 ELSE 576 END) END AS samples_per_frame,
      |       CASE WHEN ok THEN CAST((ab * 8 * 1000) // (br * 1000) AS BIGINT) END AS est_duration_ms,
      |       CAST(ok AS INT) AS valid
      |FROM lk ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val ver = when(col("doc_id") % 3 === 0, lit(3L))
      .when(col("doc_id") % 3 === 1, lit(2L)).otherwise(lit(0L))
    val lay = when(col("doc_id") % 5 === 0, lit(3L))
      .when(col("doc_id") % 2 === 0, lit(1L)).otherwise(lit(2L))
    val badSync = col("doc_id") % 7 === 0
    val brIdx = when(col("doc_id") % 11 === 0, lit(15L))
      .otherwise(col("doc_id") % 14 + 1)
    val srIdx = col("doc_id") % 3
    val pad = col("doc_id") % 2
    val mode = col("doc_id") % 4
    val hasId3 = col("doc_id") % 2 === 1
    val tagLen = col("doc_id") % 200 // body bytes; id3_size = 10 + this

    def b2h(v: org.apache.spark.sql.Column) = lpad(hex(v), 2, "0")
    val hdr = concat(
      b2h(when(badSync, lit(254L)).otherwise(lit(255L))),
      b2h(lit(224L) + ver * 8 + lay * 2 + 1),
      b2h(brIdx * 16 + srIdx * 4 + pad * 2),
      b2h(mode * 64))
    val id3Hex = when(hasId3, concat(
      lit("494433" + "0400" + "00"),
      lit("0000"),
      b2h(((tagLen - tagLen % 128) / 128).cast("bigint")),
      b2h(tagLen % 128),
      lit("0" * 400).substr(lit(1), (tagLen * 2).cast("int"))))
      .otherwise(lit(""))
    val filler = col("n_chars").cast("bigint") % 50
    val fillerHex = lit("41" * 50).substr(lit(1), (filler * 2).cast("int"))

    Tables.spread(Tables.load(s, dir, "documents"))
      .select(col("doc_id"), col("n_chars"),
        unhex(concat(id3Hex, hdr, fillerHex)).as("payload"))
      .withColumn("m", graft.operators.Multimodal.decodeMp3Meta(col("payload")))
      .select(
        col("doc_id"),
        col("m.id3_size").as("id3_size"),
        col("m.version_id").as("version_id"),
        col("m.layer").as("layer"),
        col("m.bitrate_kbps").as("bitrate_kbps"),
        col("m.sample_rate").as("sample_rate"),
        col("m.channels").as("channels"),
        col("m.padding").as("padding"),
        col("m.frame_bytes").as("frame_bytes"),
        col("m.samples_per_frame").as("samples_per_frame"),
        col("m.est_duration_ms").as("est_duration_ms"),
        col("m").isNotNull.cast("int").as("valid"))
      .orderBy("doc_id")
  }

  // Netpbm P5/P6 decode (Multimodal.decodePnmMeta/pnmPixelStats/
  // pnmAHash): the RAW-sample container — real pixels with no
  // decompression, so the whole q_m16 stats + q_m17 perceptual-hash
  // machinery runs with the buffer just a substring at the header's
  // data offset. In-plan 9×7 images alternate P5/P6 with pixel bytes
  // from a doc_id formula; maxval 254 on every 7th doc and a truncated
  // buffer on every 11th as must-reject rows. The oracle recomputes
  // channel stats from the BYTE FORMULA (never from parsing) and
  // replays the 8×8 luma-majority hash — sampled positions, 1000·G vs
  // 299/587/114, the bit-63 sign weight as the
  // -9223372036854775808 literal (the 1<<63 overflow lesson). Corpus
  // capped at 500 docs (the q_r3 rule: per-byte construction folds are
  // HOF-interpreted).
  private val qM23 = Q(
    "q_m23_pnm_pixel_decode",
    """WITH src AS (
      |  SELECT doc_id, doc_id % 2 = 0 AS p6,
      |         NOT (doc_id % 7 = 0 OR doc_id % 11 = 0) AS ok,
      |         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS ch
      |  FROM documents WHERE doc_id < 500),
      |b AS (
      |  SELECT doc_id, p6, ok, ch, CAST(j AS BIGINT) AS j,
      |         (doc_id * 7 + j * 13) % 256 AS v
      |  FROM src, range(189) t(j) WHERE j < 63 * ch),
      |st AS (
      |  SELECT doc_id, CAST(j % ch AS INT) AS c,
      |         sum(v) AS s, min(v) AS mn, max(v) AS mx
      |  FROM b GROUP BY 1, 2),
      |stw AS (
      |  SELECT doc_id,
      |         max(CASE WHEN c = 0 THEN s END) AS s0,
      |         max(CASE WHEN c = 0 THEN mn END) AS mn0,
      |         max(CASE WHEN c = 0 THEN mx END) AS mx0,
      |         max(CASE WHEN c = 1 THEN s END) AS s1,
      |         max(CASE WHEN c = 1 THEN mn END) AS mn1,
      |         max(CASE WHEN c = 1 THEN mx END) AS mx1,
      |         max(CASE WHEN c = 2 THEN s END) AS s2,
      |         max(CASE WHEN c = 2 THEN mn END) AS mn2,
      |         max(CASE WHEN c = 2 THEN mx END) AS mx2
      |  FROM st GROUP BY 1),
      |lum AS (
      |  SELECT s.doc_id, CAST(k AS BIGINT) AS k,
      |         CASE WHEN s.p6
      |              THEN 299 * ((s.doc_id * 7 + (((k // 8) * 7 // 8) * 9 + (k % 8) * 9 // 8) * 3 * 13) % 256)
      |                 + 587 * ((s.doc_id * 7 + ((((k // 8) * 7 // 8) * 9 + (k % 8) * 9 // 8) * 3 + 1) * 13) % 256)
      |                 + 114 * ((s.doc_id * 7 + ((((k // 8) * 7 // 8) * 9 + (k % 8) * 9 // 8) * 3 + 2) * 13) % 256)
      |              ELSE 1000 * ((s.doc_id * 7 + (((k // 8) * 7 // 8) * 9 + (k % 8) * 9 // 8) * 13) % 256)
      |         END AS luma
      |  FROM src s, range(64) t(k)),
      |tot AS (SELECT doc_id, sum(luma) AS total FROM lum GROUP BY 1),
      |hsh AS (
      |  SELECT lum.doc_id,
      |         CAST(sum(CASE WHEN lum.luma * 64 > tot.total
      |                       THEN (CASE WHEN lum.k = 0 THEN -9223372036854775808
      |                                  ELSE (1::BIGINT << CAST(63 - lum.k AS INTEGER)) END)
      |                       ELSE 0 END) AS BIGINT) AS ahash
      |  FROM lum JOIN tot USING (doc_id) GROUP BY 1)
      |SELECT src.doc_id,
      |       CASE WHEN ok THEN (CASE WHEN p6 THEN 'P6' ELSE 'P5' END) END AS format,
      |       CASE WHEN ok THEN 9 END AS width,
      |       CASE WHEN ok THEN 7 END AS height,
      |       CASE WHEN ok THEN ch END AS channels,
      |       CASE WHEN ok THEN CAST(63 AS BIGINT) END AS n_pixels,
      |       CASE WHEN ok THEN CAST(stw.s0 AS DOUBLE) / 63 END AS c0_mean,
      |       CASE WHEN ok THEN CAST(stw.mn0 AS INT) END AS c0_min,
      |       CASE WHEN ok THEN CAST(stw.mx0 AS INT) END AS c0_max,
      |       CASE WHEN ok AND p6 THEN CAST(stw.s1 AS DOUBLE) / 63 END AS c1_mean,
      |       CASE WHEN ok AND p6 THEN CAST(stw.mn1 AS INT) END AS c1_min,
      |       CASE WHEN ok AND p6 THEN CAST(stw.mx1 AS INT) END AS c1_max,
      |       CASE WHEN ok AND p6 THEN CAST(stw.s2 AS DOUBLE) / 63 END AS c2_mean,
      |       CASE WHEN ok AND p6 THEN CAST(stw.mn2 AS INT) END AS c2_min,
      |       CASE WHEN ok AND p6 THEN CAST(stw.mx2 AS INT) END AS c2_max,
      |       CASE WHEN ok THEN CAST(
      |         (CASE WHEN stw.mn0 = stw.mx0 THEN 1 ELSE 0 END) *
      |         (CASE WHEN NOT p6 OR stw.mn1 = stw.mx1 THEN 1 ELSE 0 END) *
      |         (CASE WHEN NOT p6 OR stw.mn2 = stw.mx2 THEN 1 ELSE 0 END) AS INT) END AS is_blank,
      |       CASE WHEN ok THEN hsh.ahash END AS ahash
      |FROM src JOIN stw USING (doc_id) JOIN hsh USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val isP6 = col("doc_id") % 2 === 0
    val ch = when(isP6, lit(3L)).otherwise(lit(1L))
    val maxvalStr = when(col("doc_id") % 7 === 0, lit("254")).otherwise(lit("255"))
    val header = concat(
      when(isP6, lit("P6")).otherwise(lit("P5")),
      lit("\n9 7\n"), maxvalStr, lit("\n"))
    val nBytes = lit(63L) * ch
    val pixHex = array_join(
      transform(sequence(lit(0L), nBytes - 1L), j =>
        lpad(hex((col("doc_id") * 7 + j * 13) % 256), 2, "0")), "")
    val full = concat(header.cast("binary"), unhex(pixHex))
    val payload = when(col("doc_id") % 11 === 0,
      full.substr(lit(1), (length(full) - 10).cast("int")))
      .otherwise(full)
    val corpus = Tables.spread(Tables.load(s, dir, "documents"))
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), payload.as("payload"))
    graft.operators.Multimodal.pnmDecodedFrame(corpus, "doc_id", "payload")
      .select(
        col("doc_id"), col("format"),
        col("width").cast("int").as("width"),
        col("height").cast("int").as("height"),
        col("channels"), col("n_pixels"),
        col("c0_mean"), col("c0_min"), col("c0_max"),
        col("c1_mean"), col("c1_min"), col("c1_max"),
        col("c2_mean"), col("c2_min"), col("c2_max"),
        col("is_blank").cast("int").as("is_blank"),
        col("ahash"))
      .orderBy("doc_id")
  }

  // ZIP central-directory decode (Multimodal.decodeZipMeta): complete
  // in-plan archives — real local headers + central directory + EOCD —
  // with 1-3 STORED entries of doc_id-derived sizes, odd docs behind an
  // EOCD comment the backward scan must cross (with the commentLen-
  // distance identity pinning the true record); corrupt EOCD sig on
  // every 7th doc and an over-declared entry count (walk/count
  // mismatch) on every 11th as must-reject rows. Expectations derive
  // from the size formulas (the q_m6 discipline). Corpus pinned before
  // decode (the q_m23 projection-collapse rule: decodeZipMeta reads the
  // payload ~50 times).
  /** The q_m24 in-plan archive construction + pinned decode, shared
    * with the streaming twin (q_st31), which applies it per micro-batch
    * (construction and decode are row-local, so streamed ≡ batch).
    */
  private[queries] def zipDecodedFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def b2h(v: org.apache.spark.sql.Column) = lpad(hex(v), 2, "0")
    def le16(v: org.apache.spark.sql.Column) =
      concat(b2h(v % 256), b2h(((v - v % 256) / 256).cast("bigint")))
    def le32(v: org.apache.spark.sql.Column) = concat(
      b2h(v % 256),
      b2h(((v - v % 256) / 256).cast("bigint") % 256),
      b2h(((v - v % 65536) / 65536).cast("bigint") % 256),
      b2h(((v - v % 16777216) / 16777216).cast("bigint")))
    val nE = col("doc_id") % 3 + 1
    def lenOf(k: org.apache.spark.sql.Column) = (col("doc_id") + k) % 9 + 1
    def len(j: Int) = (col("doc_id") + j) % 9 + 1
    val tot = when(nE === 1, len(0)).when(nE === 2, len(0) + len(1))
      .otherwise(len(0) + len(1) + len(2))
    def localOff(k: org.apache.spark.sql.Column) =
      when(k === 0, lit(0L)).when(k === 1, lit(32L) + len(0))
        .otherwise(lit(64L) + len(0) + len(1))
    def nameHex(k: org.apache.spark.sql.Column) = concat(lit("66"), b2h(lit(48L) + k))
    def localHex(k: org.apache.spark.sql.Column) = concat(
      lit("504B0304"), lit("0A00"), lit("0000"), lit("0000"),
      lit("0000"), lit("0000"), lit("00000000"),
      le32(lenOf(k)), le32(lenOf(k)),
      lit("0200"), lit("0000"),
      nameHex(k),
      lit("41" * 9).substr(lit(1), (lenOf(k) * 2).cast("int")))
    def cdHex(k: org.apache.spark.sql.Column) = concat(
      lit("504B0102"), lit("0A00"), lit("0A00"), lit("0000"), lit("0000"),
      lit("0000"), lit("0000"), lit("00000000"),
      le32(lenOf(k)), le32(lenOf(k)),
      lit("0200"), lit("0000"), lit("0000"), lit("0000"), lit("0000"),
      lit("00000000"), le32(localOff(k)),
      nameHex(k))
    val locals = array_join(
      transform(sequence(lit(0L), nE - 1), k => localHex(k)), "")
    val cds = array_join(
      transform(sequence(lit(0L), nE - 1), k => cdHex(k)), "")
    val cdOffset = lit(32L) * nE + tot
    val cdSize = lit(48L) * nE
    val commentLen = when(col("doc_id") % 2 === 1, col("doc_id") % 20)
      .otherwise(lit(0L))
    val declaredN = when(col("doc_id") % 11 === 0, nE + 1).otherwise(nE)
    val eocdSig = when(col("doc_id") % 7 === 0, lit("504B0606"))
      .otherwise(lit("504B0506"))
    val eocd = concat(
      eocdSig, lit("0000"), lit("0000"),
      le16(declaredN), le16(declaredN),
      le32(cdSize), le32(cdOffset),
      le16(commentLen),
      lit("63" * 20).substr(lit(1), (commentLen * 2).cast("int")))
    val payload = unhex(concat(locals, cds, eocd))
    val corpus = graft.Tables.spread(df.filter(col("doc_id") < 500))
      .select(col("doc_id"), payload.as("payload"))
      .pin()
    corpus
      .withColumn("m", graft.operators.Multimodal.decodeZipMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.n_entries").as("n_entries"),
        col("m.total_compressed").as("total_compressed"),
        col("m.total_uncompressed").as("total_uncompressed"),
        col("m.n_stored").as("n_stored"),
        col("m.n_deflated").as("n_deflated"),
        col("m.cd_offset").as("cd_offset"),
        col("m.comment_len").as("comment_len"),
        col("m").isNotNull.cast("int").as("valid"))
  }

  private[queries] val zipOracleSql: String =
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 3 + 1 AS INTEGER) AS ne,
      |         (doc_id + 0) % 9 + 1 AS l0,
      |         (doc_id + 1) % 9 + 1 AS l1,
      |         (doc_id + 2) % 9 + 1 AS l2,
      |         CASE WHEN doc_id % 2 = 1 THEN CAST(doc_id % 20 AS INTEGER) ELSE 0 END AS cl,
      |         NOT (doc_id % 7 = 0 OR doc_id % 11 = 0) AS ok
      |  FROM documents WHERE doc_id < 500),
      |x AS (
      |  SELECT doc_id, ne, cl, ok,
      |         CASE WHEN ne = 1 THEN l0 WHEN ne = 2 THEN l0 + l1
      |              ELSE l0 + l1 + l2 END AS tot
      |  FROM src)
      |SELECT doc_id,
      |       CASE WHEN ok THEN ne END AS n_entries,
      |       CASE WHEN ok THEN CAST(tot AS BIGINT) END AS total_compressed,
      |       CASE WHEN ok THEN CAST(tot AS BIGINT) END AS total_uncompressed,
      |       CASE WHEN ok THEN ne END AS n_stored,
      |       CASE WHEN ok THEN 0 END AS n_deflated,
      |       CASE WHEN ok THEN CAST(32 * ne + tot AS BIGINT) END AS cd_offset,
      |       CASE WHEN ok THEN cl END AS comment_len,
      |       CAST(ok AS INT) AS valid
      |FROM x ORDER BY doc_id""".stripMargin

  private val qM24 = Q("q_m24_zip_central_dir", zipOracleSql) { (s, dir) =>
    zipDecodedFrame(Tables.load(s, dir, "documents")).orderBy("doc_id")
  }

  // TAR/USTAR decode
  // TAR/USTAR decode (Multimodal.decodeTarMeta): complete in-plan
  // archives with 1-3 file entries (0-599-byte payloads exercising the
  // 0/1/2-block data rounding) plus a directory entry on every 5th doc;
  // header CHECKSUMS are emitted from the closed-form byte-sum formula
  // (constant field bytes + name digit + octal-digit sum of the size),
  // so a formula slip fails LOUDLY as an engine NULL against an
  // oracle-valid row; corrupt magic on every 7th doc and an
  // off-by-one checksum on every 11th as must-reject rows.
  private val qM25 = Q(
    "q_m25_tar_decode",
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(doc_id % 3 + 1 AS INTEGER) AS ne,
      |         CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS nd,
      |         (doc_id + 0) % 600 AS s0,
      |         (doc_id + 7) % 600 AS s1,
      |         (doc_id + 14) % 600 AS s2,
      |         NOT (doc_id % 7 = 0 OR doc_id % 11 = 0) AS ok
      |  FROM documents WHERE doc_id < 500),
      |x AS (
      |  SELECT doc_id, ne, nd, ok,
      |         CASE WHEN ne = 1 THEN s0 WHEN ne = 2 THEN s0 + s1
      |              ELSE s0 + s1 + s2 END AS tot,
      |         CASE WHEN ne = 1 THEN s0 WHEN ne = 2 THEN greatest(s0, s1)
      |              ELSE greatest(s0, s1, s2) END AS mx
      |  FROM src)
      |SELECT doc_id,
      |       CASE WHEN ok THEN ne + nd END AS n_entries,
      |       CASE WHEN ok THEN ne END AS n_files,
      |       CASE WHEN ok THEN nd END AS n_dirs,
      |       CASE WHEN ok THEN CAST(tot AS BIGINT) END AS total_size,
      |       CASE WHEN ok THEN CAST(mx AS BIGINT) END AS max_size,
      |       CAST(ok AS INT) AS valid
      |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
    def octHex(v: org.apache.spark.sql.Column, width: Int) =
      hex(lpad(conv(v.cast("string"), 10, 8), width, "0"))
    val badMagic = col("doc_id") % 7 === 0
    val badCk = col("doc_id") % 11 === 0
    // osum: digit sum of the octal rendering (sizes < 4096)
    def osum(v: org.apache.spark.sql.Column) =
      v % 8 + ((v - v % 8) / 8).cast("bigint") % 8 +
        ((v - v % 64) / 64).cast("bigint") % 8 +
        ((v - v % 512) / 512).cast("bigint") % 8
    def entryHex(k: org.apache.spark.sql.Column, typeCode: Long,
        size: org.apache.spark.sql.Column) = {
      val nameHex = rpad(concat(lit("66696C65"), lpad(hex(lit(48L) + k), 2, "0")),
        200, "0")
      val sum = lit(3597L) + typeCode + (lit(48L) + k) + osum(size) +
        when(badCk, 1L).otherwise(0L)
      val blocks = ((size + 511) - (size + 511) % 512) / 512
      concat(
        nameHex,
        lit("3030303036343420"), // mode "0000644 "
        lit("3030303030303020"), // uid
        lit("3030303030303020"), // gid
        octHex(size, 11), lit("20"),
        lit("30" * 11), lit("20"), // mtime
        octHex(sum, 6), lit("0020"), // chksum + NUL + space
        lpad(hex(lit(typeCode)), 2, "0"),
        lit("0" * 200), // linkname
        when(badMagic, lit("787374617220")).otherwise(lit("757374617220")),
        lit("3030"), // version
        lit("0" * 494), // uname/gname/dev/prefix/pad = 247 bytes
        rpad(lit("41" * 599).substr(lit(1), (size * 2).cast("int")),
          (blocks * 1024).cast("int"), lit("0")))
    }
    val nE = col("doc_id") % 3 + 1
    def sz(k: org.apache.spark.sql.Column) = (col("doc_id") + k * 7) % 600
    val dirPart = when(col("doc_id") % 5 === 0,
      entryHex(lit(-1L), 53L, lit(0L))).otherwise(lit(""))
    val files = array_join(
      transform(sequence(lit(0L), nE - 1), k => entryHex(k, 48L, sz(k))), "")
    val payload = unhex(concat(dirPart, files, lit("0" * 2048)))

    val corpus = Tables.spread(Tables.load(s, dir, "documents"))
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), payload.as("payload"))
      .pin()
    corpus
      .withColumn("m", graft.operators.Multimodal.decodeTarMeta(col("payload")))
      .select(
        col("doc_id"),
        col("m.n_entries").as("n_entries"),
        col("m.n_files").as("n_files"),
        col("m.n_dirs").as("n_dirs"),
        col("m.total_size").as("total_size"),
        col("m.max_size").as("max_size"),
        col("m").isNotNull.cast("int").as("valid"))
      .orderBy("doc_id")
  }

  // ---- q_m26: REAL baseline-JPEG pixel decode (Multimodal.jpegPixelStats
  // / expressions.JpegBaselinePixels) — complete JPEGs built in-plan with
  // the BYTE-ALIGNED MCU coding (single-symbol Huffman tables: DC category
  // 4 = code "0", EOB = "000", so every block is exactly "0" + 4 diff bits
  // + "000" = one byte < 0x80 — the stored-deflate analog for JPEG): every
  // byte is layout-derivable while the engine runs the REAL entropy
  // decoder — canonical Huffman DECODE, DC prediction chain across blocks,
  // dequantize, IDCT. Blocks are DC-only with q00 = 16, so pixels are
  // EXACTLY 128 + 2·dc (the IDCT of a DC-only block is flat at F00/8 —
  // lossless by construction) and the oracle derives every statistic from
  // the DC walk + the replayed JFIF floor(x+.5) color formula, never
  // parsing bytes. Every 9th doc corrupts the first entropy byte to an
  // unstuffed 0xFF (an in-scan marker) and must fail NULL — a decoder
  // that ignored marker discipline would keep decoding garbage. Ground
  // truth with REAL coefficients/stuffing/restarts + javax.imageio interop
  // lives in JpegPixelsSpec.

  /** Complete baseline JPEG built in-plan (hex): byte-aligned MCU coding,
    * DC-only blocks, 4:4:4 or grayscale; `dcOf(c)(j)` gives the cumulative
    * quantized DC of channel c at block j, which MUST follow the
    * even-up/odd-zero walk (diff ∈ ±[8,15], category 4) the single-symbol
    * tables can encode. `corrupt` flips entropy byte 0 to an unstuffed FF.
    */
  private def jpegHexFlat(
      w: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column,
      gray: org.apache.spark.sql.Column,
      upOf: Int => (org.apache.spark.sql.Column => org.apache.spark.sql.Column),
      corrupt: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def beHex2(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    val nb = (w / 8).cast("bigint") * (h / 8).cast("bigint")
    val nc = when(gray, lit(1L)).otherwise(lit(3L))
    val header = concat(
      lit("FFD8"),
      lit("FFDB004300" + "10" * 64),                     // DQT: all 16s
      lit("FFC40014" + "00" + "01" + "00" * 15 + "04"),  // DC: cat4 = "0"
      lit("FFC40014" + "10" + "000001" + "00" * 13 + "00"), // AC: EOB = "000"
      when(gray,
        concat(lit("FFC0000B08"), beHex2(h), beHex2(w), lit("01011100")))
        .otherwise(
          concat(lit("FFC0001108"), beHex2(h), beHex2(w),
            lit("03011100021100031100"))),
      when(gray, lit("FFDA00080101" + "00003F00"))
        .otherwise(lit("FFDA000C03010002000300" + "003F00")))
    // per block j, channel c: diff = up(j) − up(j−1)·[j odd] under the
    // even-up/odd-zero walk → bits = up(j) (j even) | 15 − up(j−1) (j odd);
    // encoded byte = "0" ++ bits(4) ++ "000" = bits·8, never 0xFF
    val entropy = array_join(
      transform(sequence(lit(0L), nb * nc - 1L), b => {
        val j = floor(b / nc).cast("bigint")
        val c = (b % nc).cast("int")
        val bits = (0 until 3).map { ci =>
          val up = upOf(ci)
          when(j % 2 === 0, up(j)).otherwise(lit(15L) - up(j - 1))
        }
        val bitsC = when(c === 0, bits(0)).when(c === 1, bits(1))
          .otherwise(bits(2))
        when(corrupt && b === 0, lit("FF"))
          .otherwise(lpad(hex(bitsC * 8L), 2, "0"))
      }), "")
    concat(header, entropy, lit("FFD9"))
  }

  private val qM26 = Q(
    "q_m26_jpeg_pixel_stats",
    """WITH src AS (
      |  SELECT doc_id,
      |         CAST(8 * (doc_id % 3 + 1) AS BIGINT) AS w,
      |         CAST(8 * (n_chars % 2 + 1) AS BIGINT) AS h,
      |         (doc_id % 2 = 0) AS gray,
      |         doc_id % 251 AS seed,
      |         (doc_id % 9 <> 0) AS ok
      |  FROM documents WHERE doc_id < 500),
      |blk AS (
      |  SELECT s.doc_id, s.gray, s.w, s.h,
      |         128 + 2 * (CASE WHEN u.j % 2 = 0 THEN 8 + (s.seed + u.j) % 8 ELSE 0 END) AS yv,
      |         128 + 2 * (CASE WHEN u.j % 2 = 0 THEN 8 ELSE 0 END) AS cbv,
      |         128 + 2 * (CASE WHEN u.j % 2 = 0 THEN 8 + s.seed % 4 ELSE 0 END) AS crv
      |  FROM src s, unnest(range((s.w // 8) * (s.h // 8))) AS u(j)
      |  WHERE s.ok),
      |rgb AS (
      |  SELECT doc_id, gray,
      |         CASE WHEN gray THEN yv
      |              ELSE GREATEST(0, LEAST(255, CAST(floor(yv + 1.402 * (crv - 128) + 0.5) AS INT))) END AS c0,
      |         CASE WHEN gray THEN NULL
      |              ELSE GREATEST(0, LEAST(255, CAST(floor(yv - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128) + 0.5) AS INT))) END AS c1,
      |         CASE WHEN gray THEN NULL
      |              ELSE GREATEST(0, LEAST(255, CAST(floor(yv + 1.772 * (cbv - 128) + 0.5) AS INT))) END AS c2
      |  FROM blk),
      |ag AS (
      |  SELECT doc_id,
      |         CAST(avg(c0) AS DOUBLE) AS m0, CAST(min(c0) AS INT) AS mn0, CAST(max(c0) AS INT) AS mx0,
      |         CAST(avg(c1) AS DOUBLE) AS m1, CAST(min(c1) AS INT) AS mn1, CAST(max(c1) AS INT) AS mx1,
      |         CAST(avg(c2) AS DOUBLE) AS m2, CAST(min(c2) AS INT) AS mn2, CAST(max(c2) AS INT) AS mx2
      |  FROM rgb GROUP BY 1)
      |SELECT s.doc_id,
      |       CASE WHEN s.ok THEN CAST(s.w AS INT) END AS width,
      |       CASE WHEN s.ok THEN CAST(s.h AS INT) END AS height,
      |       CASE WHEN s.ok THEN (CASE WHEN s.gray THEN 1 ELSE 3 END) END AS channels,
      |       CASE WHEN s.ok THEN s.w * s.h END AS n_pixels,
      |       CASE WHEN s.ok THEN a.m0 END AS c0_mean,
      |       CASE WHEN s.ok THEN a.mn0 END AS c0_min,
      |       CASE WHEN s.ok THEN a.mx0 END AS c0_max,
      |       CASE WHEN s.ok AND NOT s.gray THEN a.m1 END AS c1_mean,
      |       CASE WHEN s.ok AND NOT s.gray THEN a.mn1 END AS c1_min,
      |       CASE WHEN s.ok AND NOT s.gray THEN a.mx1 END AS c1_max,
      |       CASE WHEN s.ok AND NOT s.gray THEN a.m2 END AS c2_mean,
      |       CASE WHEN s.ok AND NOT s.gray THEN a.mn2 END AS c2_min,
      |       CASE WHEN s.ok AND NOT s.gray THEN a.mx2 END AS c2_max,
      |       CAST(NULL AS DOUBLE) AS c3_mean,
      |       CAST(NULL AS INT) AS c3_min,
      |       CAST(NULL AS INT) AS c3_max,
      |       CASE WHEN s.ok THEN CAST(
      |         a.mn0 = a.mx0 AND (s.gray OR (a.mn1 = a.mx1 AND a.mn2 = a.mx2))
      |       AS INT) END AS is_blank,
      |       s.ok AS valid_jpeg
      |FROM src s LEFT JOIN ag a ON a.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val w = (lit(8L) * (col("doc_id") % 3 + 1)).cast("bigint")
    val h = (lit(8L) * (col("n_chars") % 2 + 1)).cast("bigint")
    val gray = col("doc_id") % 2 === 0
    val seed = (col("doc_id") % 251).cast("bigint")
    val ok = col("doc_id") % 9 =!= 0
    // even-block cumulative DCs per channel (odd blocks return to 0)
    val upOf: Int => (org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      case 0 => j => lit(8L) + pmod(seed + j, lit(8L))
      case 1 => _ => lit(8L)
      case _ => _ => lit(8L) + pmod(seed, lit(4L))
    }
    val jpegHex = jpegHexFlat(w, h, gray, upOf, corrupt = !ok)
    val withPayload = Tables.spread(Tables.load(s, dir, "documents"))
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), unhex(jpegHex).as("payload"))
      .pin() // <=500 rows x <=400 B - trivial residency
    withPayload
      .withColumn("m", Multimodal.jpegPixelStats(col("payload"), maxPixels = 1024))
      .select(
        (Seq(col("doc_id")) ++
          Seq("width", "height", "channels", "n_pixels").map(f =>
            col(s"m.$f").as(f)) ++
          (0 to 3).flatMap(c => Seq(
            col(s"m.c${c}_mean").as(s"c${c}_mean"),
            col(s"m.c${c}_min").as(s"c${c}_min"),
            col(s"m.c${c}_max").as(s"c${c}_max"))) ++
          Seq(col("m.is_blank").cast("int").as("is_blank"),
            col("m").isNotNull.as("valid_jpeg"))): _*)
      .orderBy("doc_id")
  }

  // ---- q_m27: FIVE-FORMAT perceptual-hash parity — the q_m17 gate
  // widened to the full container family: the SAME flat-per-block image
  // rendered as grayscale PNG, truecolor PNG (different filter cycle),
  // 24-bpp BMP (bottom-up), binary PPM, and baseline JPEG must produce
  // the SAME 64-bit aHash, which only holds if every decoder (inflate +
  // unfilter, BMP orientation, PNM header, JPEG huffman + DC chain +
  // IDCT) reconstructs the exact pixels. Flat DC-only blocks keep the
  // JPEG round-trip lossless, so parity is EXACT, not approximate.
  // Every 6th doc is blank (single flat block → hash 0); every 9th doc
  // corrupts ALL five payloads (adler flip / adler flip / BMP sig /
  // PPM maxval / in-scan marker) → NULL across the board. The oracle
  // derives the hash from the block-value formula — never parses bytes.
  /** The q_m27 five-format corpus + hashes + agree flags, as a reusable
    * BATCH-plan transform — shared by the batch gate and the streaming
    * landing-zone twin (q_st32), which applies it per micro-batch.
    */
  private[queries] def ahashParity5Frame(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      RunScope.scope("ahashParity5Frame") {
    val blank = col("doc_id") % 6 === 0
    val ok = col("doc_id") % 9 =!= 0
    // h fixed at 8 and the corpus capped at 250 (the q_r3 rule, tightened
    // after measurement: five per-byte construction folds per doc — two
    // of them PNG raw+adler passes — read 26 s at sf0.1 with 16x24
    // canvases; 8-tall canvases at 250 docs are ~4 s and the parity
    // still exercises a 2-block DC chain; q_m26 covers up to 6 blocks)
    val w = when(blank, lit(8L)).otherwise(lit(8L) * (col("doc_id") % 2 + 1))
    val h = lit(8L)
    val seed = (col("doc_id") % 251).cast("bigint")
    // h = 8 → one block row with blocks j ∈ {0,1} only: dc(0) =
    // 8 + seed%8 (even-up), dc(1) = 0 (odd-zero), so the pixel formula
    // collapses to a two-branch constant — which matters because the
    // interpreted construction folds re-evaluate lum ~10x per byte with
    // no CSE (measured: the generic floor/pmod block-index tree read
    // 26 s at sf0.1; this form 3.5 s)
    def lum(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      when(x < 8, lit(144L) + lit(2L) * pmod(seed, lit(8L))).otherwise(lit(128L))
    val grayPng = pngHexFull(w, h, ct = lit(0L), ch = lit(1L),
      (x, y, _) => lum(x, y), ftOff = lit(0L), adlerFlip = !ok)
    val rgbPng = pngHexFull(w, h, ct = lit(2L), ch = lit(3L),
      (x, y, _) => lum(x, y), ftOff = lit(3L), adlerFlip = !ok)
    val bmpSig = when(ok, lit("424D")).otherwise(lit("0000"))
    val bmpRows = array_join(
      transform(sequence(lit(0L), h - 1L), sr =>
        array_join(
          transform(sequence(lit(0L), w - 1L), x =>
            repeat(lpad(hex(lum(x, h - 1L - sr)), 2, "0"), 3)), "")), "")
    val bmpHex = concat(
      bmpSig, leHexN(lit(54L) + h * w * 3L, 4), lit("00000000"),
      lit("36000000"), lit("28000000"),
      leHexN(w, 4), leHexN(h, 4), lit("0100"), lit("1800"), lit("00" * 24),
      bmpRows)
    val ppmHeader = concat(lit("P6\n"), w.cast("string"), lit(" "),
      h.cast("string"), when(ok, lit("\n255\n")).otherwise(lit("\n254\n")))
    val ppmPix = array_join(
      transform(sequence(lit(0L), w * h - 1L), i =>
        repeat(lpad(hex(lum(i % w, floor(i / w).cast("bigint"))), 2, "0"), 3)), "")
    val ppmHex = concat(hex(ppmHeader.cast("binary")), ppmPix)
    val jpegHex = jpegHexFlat(w, h, gray = lit(true),
      _ => (j => lit(8L) + pmod(seed + j, lit(8L))), corrupt = !ok)
    val withPayload = graft.Tables.spread(docs.filter(col("doc_id") < 250))
      .select(
        col("doc_id"),
        unhex(grayPng).as("p_gpng"), unhex(rgbPng).as("p_cpng"),
        unhex(bmpHex).as("p_bmp"), unhex(ppmHex).as("p_ppm"),
        unhex(jpegHex).as("p_jpg"))
      .pin() // <=500 rows x 5 payloads <=2.5 KB
    val hashed = withPayload
      .select(
        col("doc_id"),
        Multimodal.pngAHash(col("p_gpng"), maxPixels = 512).as("hg"),
        Multimodal.pngAHash(col("p_cpng"), maxPixels = 512).as("hc"),
        Multimodal.bmpAHash(col("p_bmp")).as("hb"),
        Multimodal.pnmAHash(col("p_ppm")).as("hp"),
        Multimodal.jpegAHash(col("p_jpg"), maxPixels = 512).as("hj"))
      .pin()
    def agree(other: org.apache.spark.sql.Column) =
      when(col("hg").isNotNull && other.isNotNull,
        (col("hg") === other).cast("int"))
    hashed.select(
      col("doc_id"),
      col("hg").as("ahash"),
      agree(col("hc")).as("agree_rgb_png"),
      agree(col("hb")).as("agree_bmp"),
      agree(col("hp")).as("agree_pnm"),
      agree(col("hj")).as("agree_jpeg"),
      (col("hg").isNotNull && col("hc").isNotNull && col("hb").isNotNull &&
        col("hp").isNotNull && col("hj").isNotNull).as("valid"))
  }

  private[queries] val qM27 = Q(
    "q_m27_ahash_parity_5formats",
    s"""WITH src AS (
      |  SELECT doc_id,
      |         (doc_id % 6 = 0) AS blank,
      |         (doc_id % 9 <> 0) AS ok,
      |         CAST(CASE WHEN doc_id % 6 = 0 THEN 8 ELSE 8 * (doc_id % 2 + 1) END AS BIGINT) AS w,
      |         CAST(8 AS BIGINT) AS h,
      |         doc_id % 251 AS seed
      |  FROM documents WHERE doc_id < 250),
      |lum AS (
      |  SELECT s.doc_id, u.k,
      |         1000 * (128 + 2 * (CASE WHEN (((((u.k // 8) * s.h) // 8) // 8) * (s.w // 8)
      |                                       + ((((u.k % 8) * s.w) // 8) // 8)) % 2 = 0
      |                            THEN 8 + (s.seed + ((((u.k // 8) * s.h) // 8) // 8) * (s.w // 8)
      |                                      + ((((u.k % 8) * s.w) // 8) // 8)) % 8
      |                            ELSE 0 END)) AS L
      |  FROM src s, unnest(range(64)) AS u(k)
      |  WHERE s.ok),
      |$aHashBitsSql
      |SELECT s.doc_id,
      |       CASE WHEN s.ok THEN hsh.v END AS ahash,
      |       CASE WHEN s.ok THEN 1 END AS agree_rgb_png,
      |       CASE WHEN s.ok THEN 1 END AS agree_bmp,
      |       CASE WHEN s.ok THEN 1 END AS agree_pnm,
      |       CASE WHEN s.ok THEN 1 END AS agree_jpeg,
      |       s.ok AS valid
      |FROM src s LEFT JOIN hsh ON hsh.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    ahashParity5Frame(Tables.load(s, dir, "documents")).orderBy("doc_id")
  }

  // WARC record walk (Warc.records — the container of web corpora):
  // multi-record WARC files built in-plan (1-3 records each, payloads
  // sliced from doc text, one payload family containing decoy
  // `WARC/1.0` text that only a Content-Length-driven walk survives via
  // construction, doc_id % 9 files version-corrupted). The oracle
  // computes every expected field arithmetically from the construction
  // (the q_m25 tar pattern) — the engine must PARSE what the oracle
  // merely knows it planted.
  private val qM28 = Q(
    "q_m28_warc_records",
    """WITH src AS (
      |  SELECT doc_id, coalesce(text, '') AS text,
      |         CAST(doc_id % 3 + 1 AS INT) AS nrec
      |  FROM documents WHERE doc_id < 500),
      |r AS (SELECT doc_id, text, unnest(range(0, nrec)) AS k
      |      FROM src WHERE doc_id % 9 <> 0),
      |p AS (SELECT doc_id, CAST(k AS INT) AS rec_idx,
      |        CASE WHEN k % 2 = 0 THEN 'response' ELSE 'request' END
      |          AS warc_type,
      |        '<urn:uuid:' || CAST(doc_id AS VARCHAR) || '-' ||
      |          CAST(k AS VARCHAR) || '>' AS record_id,
      |        'https://site' || CAST(doc_id % 37 AS VARCHAR) ||
      |          '.example.com/p/' || CAST(doc_id AS VARCHAR) || '/' ||
      |          CAST(k AS VARCHAR) AS target_uri,
      |        '2024-01-0' || CAST(k + 1 AS VARCHAR) || 'T00:00:00Z'
      |          AS warc_date,
      |        substr(text, CAST(1 + k * 50 AS INT),
      |               CAST((doc_id + 13 * k) % 120 + 1 AS INT)) AS payload
      |      FROM r)
      |SELECT doc_id, rec_idx, warc_type, record_id, target_uri, warc_date,
      |       CAST(len(payload) AS BIGINT) AS content_length,
      |       md5(payload) AS payload_md5
      |FROM p ORDER BY doc_id, rec_idx""".stripMargin) { (s, dir) =>
    val did = col("doc_id").cast("string")
    def payload(k: Int) = expr(
      s"substring(coalesce(text, ''), ${1 + k * 50}, " +
        s"CAST((doc_id + ${13 * k}) % 120 + 1 AS INT))")
    def record(k: Int) = concat(
      when(col("doc_id") % 9 === 0, "WARC/9.9\r\n").otherwise("WARC/1.0\r\n"),
      lit(s"WARC-Type: ${if (k % 2 == 0) "response" else "request"}\r\n"),
      lit("WARC-Record-ID: <urn:uuid:"), did, lit(s"-$k>\r\n"),
      lit(s"WARC-Date: 2024-01-0${k + 1}T00:00:00Z\r\n"),
      lit("WARC-Target-URI: https://site"), (col("doc_id") % 37).cast("string"),
      lit(".example.com/p/"), did, lit(s"/$k\r\n"),
      lit("Content-Type: application/http\r\n"),
      lit("Content-Length: "), length(payload(k)).cast("string"),
      lit("\r\n\r\n"), payload(k), lit("\r\n\r\n"))
    val nrec = col("doc_id") % 3 + 1
    val warcFile = concat(
      record(0),
      when(nrec >= 2, record(1)).otherwise(lit("")),
      when(nrec >= 3, record(2)).otherwise(lit("")))
    // 500-doc corpus cap (the q_r3/q_m16 rule): the walk is an
    // interpreted HOF fold, linear in payload but per-step boxed —
    // uncapped sf0.1 read 75 s; capped it prices like the other
    // container gates. maxRecords = 4 bounds the fold to the
    // construction's 3-record ceiling plus the over-length probe.
    // materialize the 500-row constructed corpus once (the q_m25
    // pattern): the walk column is referenced by filter + explode, and
    // unpinned each reference re-scans parquet and re-runs the whole
    // construction
    val corpus = Tables.spread(Tables.load(s, dir, "documents"))
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), warcFile.as("w"))
      .pin()
    graft.operators.Warc.records(corpus, "doc_id", "w", maxRecords = 4)
      .select(
        col("file_id").as("doc_id"),
        col("rec_idx"), col("warc_type"), col("record_id"),
        col("target_uri"), col("warc_date"), col("content_length"),
        col("payload_md5"))
      .orderBy("doc_id", "rec_idx")
  }

  /** The q_m29 `.warc.gz` corpus construction, shared with its
    * streaming twin: 1–3 gzip members per file, one WARC record each,
    * members as STORED-deflate blocks with real CRC32/ISIZE trailers
    * (Spark's `crc32` supplies the gzip CRC-32 in-plan); doc_id%4==1
    * members carry an FNAME field, doc_id%9==0 files flip the CRC and
    * must quarantine. Returns (doc_id, gz binary).
    */
  private[queries] def warcGzCorpusOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val did = col("doc_id").cast("string")
    def payload(k: Int) = expr(
      s"substring(coalesce(text, ''), ${1 + k * 60}, " +
        s"CAST((doc_id + ${11 * k}) % 100 + 1 AS INT))")
    def record(k: Int) = concat(
      lit("WARC/1.0\r\n"),
      lit(s"WARC-Type: ${if (k % 2 == 0) "response" else "request"}\r\n"),
      lit("WARC-Record-ID: <urn:uuid:gz-"), did, lit(s"-$k>\r\n"),
      lit(s"WARC-Date: 2024-02-0${k + 1}T00:00:00Z\r\n"),
      lit("WARC-Target-URI: https://crawl"), (col("doc_id") % 41).cast("string"),
      lit(".example.org/d/"), did, lit(s"/$k\r\n"),
      lit("Content-Length: "), length(payload(k)).cast("string"),
      lit("\r\n\r\n"), payload(k), lit("\r\n\r\n"))
    def le16(n: org.apache.spark.sql.Column) = {
      val h = lpad(hex(n), 4, "0")
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def le32(v: org.apache.spark.sql.Column) = {
      val h = lpad(hex(v), 8, "0")
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    def memberHex(k: Int, rc: org.apache.spark.sql.Column) = {
      val nameHex = (s"r$k.warc".getBytes("US-ASCII").map("%02x".format(_))
        .mkString + "00").toUpperCase
      val withName = col("doc_id") % 4 === 1
      val crc = crc32(encode(rc, "UTF-8"))
      val crcOut = when(col("doc_id") % 9 === 0,
        pmod(crc + 1, lit(4294967296L))).otherwise(crc)
      concat(
        lit("1F8B08"),
        when(withName, "08").otherwise("00"),
        lit("000000000003"),
        when(withName, nameHex).otherwise(""),
        lit("01"), le16(length(rc)), le16(lit(65535) - length(rc)),
        hex(encode(rc, "UTF-8")),
        le32(crcOut), le32(length(rc)))
    }
    val nrec = col("doc_id") % 3 + 1
    graft.Tables.spread(docs)
      .select(col("doc_id"), nrec.as("nrec"),
        record(0).as("r0"), record(1).as("r1"), record(2).as("r2"))
      .select(col("doc_id"),
        unhex(concat(
          memberHex(0, col("r0")),
          when(col("nrec") >= 2, memberHex(1, col("r1"))).otherwise(lit("")),
          when(col("nrec") >= 3, memberHex(2, col("r2"))).otherwise(lit(""))))
          .as("gz"))
  }

  // WARC.GZ record walk (WarcGz.records over the native GzipMembers
  // kernel — Common Crawl's ACTUAL landing format, r15 VERDICT task #1):
  // one gzip member per record, members built in-plan as STORED-deflate
  // blocks (the q_m16 idiom: layout-derivable bytes — 10-byte header,
  // BFINAL|BTYPE=00 block with LEN/NLEN, payload, CRC32+ISIZE trailer
  // little-endian via Spark's crc32), every 4th doc's members carrying
  // an FNAME field the header walk must skip, every 9th doc CRC-
  // corrupted and quarantined. The oracle computes every expected field
  // arithmetically from the construction (the q_m28 pattern) — the
  // ENGINE must inflate, verify and parse what the oracle merely knows
  // it planted.
  private[queries] val qM29 = Q(
    "q_m29_warc_gz_records",
    """WITH src AS (
      |  SELECT doc_id, coalesce(text, '') AS text,
      |         CAST(doc_id % 3 + 1 AS INT) AS nrec
      |  FROM documents WHERE doc_id < 500),
      |r AS (SELECT doc_id, text, unnest(range(0, nrec)) AS k
      |      FROM src WHERE doc_id % 9 <> 0),
      |p AS (SELECT doc_id, CAST(k AS INT) AS rec_idx,
      |        CASE WHEN k % 2 = 0 THEN 'response' ELSE 'request' END
      |          AS warc_type,
      |        '<urn:uuid:gz-' || CAST(doc_id AS VARCHAR) || '-' ||
      |          CAST(k AS VARCHAR) || '>' AS record_id,
      |        'https://crawl' || CAST(doc_id % 41 AS VARCHAR) ||
      |          '.example.org/d/' || CAST(doc_id AS VARCHAR) || '/' ||
      |          CAST(k AS VARCHAR) AS target_uri,
      |        '2024-02-0' || CAST(k + 1 AS VARCHAR) || 'T00:00:00Z'
      |          AS warc_date,
      |        substr(text, CAST(1 + k * 60 AS INT),
      |               CAST((doc_id + 11 * k) % 100 + 1 AS INT)) AS payload
      |      FROM r)
      |SELECT doc_id, rec_idx, warc_type, record_id, target_uri, warc_date,
      |       CAST(len(payload) AS BIGINT) AS content_length,
      |       md5(payload) AS payload_md5
      |FROM p ORDER BY doc_id, rec_idx""".stripMargin) { (s, dir) =>
    // pin the constructed corpus once (the q_m25/q_m28 rule): the walk
    // column is consumed by filter + explode
    val corpus = warcGzCorpusOf(
      Tables.load(s, dir, "documents").filter(col("doc_id") < 500))
      .pin()
    graft.operators.WarcGz.records(corpus, "doc_id", "gz", maxMembers = 4)
      .select(
        col("file_id").as("doc_id"),
        col("rec_idx"), col("warc_type"), col("record_id"),
        col("target_uri"), col("warc_date"), col("content_length"),
        col("payload_md5"))
      .orderBy("doc_id", "rec_idx")
  }

  // The `.warc.gz` QUARANTINE LEDGER (WarcGz.fileSummary): one row per
  // landing file — valid flag, record count, total declared payload —
  // the frame an ingest run reports and alerts on (invalid files are
  // the operational signal; q_m29 shows only the good side). The
  // oracle computes the ledger arithmetically from the construction:
  // CRC-flipped files (doc%9==0) invalid with zeroed counters, valid
  // files carry nrec and the exact payload-length sum.
  private val qM30 = Q(
    "q_m30_warc_gz_summary",
    """WITH src AS (
      |  SELECT doc_id, coalesce(text, '') AS text,
      |         CAST(doc_id % 3 + 1 AS INT) AS nrec
      |  FROM documents WHERE doc_id < 500),
      |r AS (SELECT doc_id, text, nrec, unnest(range(0, nrec)) AS k
      |      FROM src),
      |pl AS (SELECT doc_id,
      |         sum(len(substr(text, CAST(1 + k * 60 AS INT),
      |                        CAST((doc_id + 11 * k) % 100 + 1 AS INT))))
      |           AS payload_total
      |       FROM r GROUP BY doc_id)
      |SELECT s.doc_id,
      |       CAST(CASE WHEN s.doc_id % 9 = 0 THEN 0 ELSE 1 END AS INT)
      |         AS valid,
      |       CAST(CASE WHEN s.doc_id % 9 = 0 THEN 0 ELSE s.nrec END AS INT)
      |         AS n_records,
      |       CAST(CASE WHEN s.doc_id % 9 = 0 THEN 0
      |                 ELSE pl.payload_total END AS BIGINT) AS total_payload
      |FROM src s JOIN pl ON pl.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val corpus = warcGzCorpusOf(
      Tables.load(s, dir, "documents").filter(col("doc_id") < 500))
      .pin()
    graft.operators.WarcGz
      .fileSummary(corpus, "doc_id", "gz", maxMembers = 4)
      .select(
        col("file_id").as("doc_id"),
        col("valid").cast("int").as("valid"),
        col("n_records"),
        col("total_payload"))
      .orderBy("doc_id")
  }

  // HTTP RESPONSE ENVELOPE parse (HttpMessage.responses — r16 VERDICT
  // task #1): six message classes built in-plan over a 500-doc corpus —
  // identity + correct Content-Length, chunked (2 chunks, a `;ext`
  // chunk extension, a trailer header), gzip Content-Encoding (the
  // q_m29 STORED-deflate construction, inflated through the native
  // GzipInflate kernel), deflate Content-Encoding (zlib stored block
  // with an in-plan adler-32 fold, through ZlibInflate), a 404, and
  // three MALFORMED subclasses (mangled status line / off-by-one
  // Content-Length / unterminated chunk framing) that must quarantine
  // with their err class while keeping the header-plane diagnosis. The
  // oracle computes every field arithmetically from the construction
  // (the q_m28/q_m29 pattern) — the ENGINE must parse, de-chunk and
  // decompress its way to what the oracle merely knows it planted.
  private[queries] val qM31 = Q(
    "q_m31_http_envelope",
    """WITH src AS (
      |  SELECT doc_id,
      |         substr(rpad(coalesce(text, ''), 120, 'x'), 1,
      |                CAST(doc_id % 80 + 20 AS INT)) AS payload,
      |         CAST(doc_id % 80 + 20 AS BIGINT) AS n,
      |         CAST(doc_id % 6 AS INT) AS pc,
      |         CAST((doc_id // 6) % 3 AS INT) AS m
      |  FROM documents WHERE doc_id < 500)
      |SELECT doc_id,
      |  CAST(CASE WHEN pc < 5 THEN 1 ELSE 0 END AS INT) AS ok,
      |  CASE WHEN pc < 5 THEN ''
      |       WHEN m = 0 THEN 'bad-status-line'
      |       WHEN m = 1 THEN 'length-mismatch'
      |       ELSE 'bad-chunk-framing' END AS err,
      |  CASE WHEN pc = 5 AND m = 0 THEN NULL ELSE '1.1' END AS http_version,
      |  CASE WHEN pc = 5 AND m = 0 THEN NULL
      |       ELSE CAST(CASE WHEN pc = 4 THEN 404 ELSE 200 END AS INT)
      |       END AS status_code,
      |  CASE WHEN pc = 5 AND m = 0 THEN NULL
      |       WHEN pc = 4 THEN 'Not Found' ELSE 'OK' END AS reason,
      |  CASE WHEN pc = 1 OR pc = 4 THEN 'text/plain'
      |       WHEN pc = 3 THEN 'application/json'
      |       ELSE 'text/html' END AS content_type,
      |  CASE WHEN pc = 0 THEN 'utf-8'
      |       WHEN pc = 4 THEN 'iso-8859-1' ELSE '' END AS charset,
      |  CASE WHEN pc = 0 THEN n
      |       WHEN pc = 2 THEN n + 23
      |       WHEN pc = 3 THEN n + 11
      |       WHEN pc = 4 THEN CAST(9 AS BIGINT)
      |       WHEN pc = 5 AND m = 0 THEN n
      |       WHEN pc = 5 AND m = 1 THEN n + 1
      |       ELSE NULL END AS content_length,
      |  CAST(CASE WHEN pc = 1 OR (pc = 5 AND m = 2) THEN 1 ELSE 0 END AS INT)
      |    AS chunked,
      |  CASE WHEN pc = 2 THEN 'gzip'
      |       WHEN pc = 3 THEN 'deflate' ELSE '' END AS content_encoding,
      |  CASE WHEN pc = 5 THEN NULL
      |       WHEN pc = 4 THEN 9 ELSE CAST(n AS INT) END AS n_body_bytes,
      |  CASE WHEN pc = 5 THEN NULL
      |       WHEN pc = 4 THEN md5('not found')
      |       ELSE md5(payload) END AS body_md5
      |FROM src ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val pre = httpEnvelopeOf(Tables.load(s, dir, "documents"))
    pre.orderBy("doc_id").pin()
  }

  /** The q_m31 envelope frame over a documents batch: six constructed
    * message classes (plain, chunked, gzip, deflate, 404, malformed×3)
    * → [[graft.operators.HttpMessage.responses]] with the gate's casts.
    * Decisions are per-row, so streamed ≡ batch (the streaming twin
    * reuses this and the q_m31 oracle verbatim). Pins the constructed
    * message corpus, which the returned plan reads.
    */
  private[queries] def httpEnvelopeOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      RunScope.scope("httpEnvelopeOf") {
    def le16(c: org.apache.spark.sql.Column) = {
      val h = lpad(hex(c), 4, "0")
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def le32(c: org.apache.spark.sql.Column) = {
      val h = lpad(hex(c), 8, "0")
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    // pin the payload slice once: every class construction reads it
    val base = graft.Tables.spread(docs.filter(col("doc_id") < 500))
      .select(col("doc_id"),
        expr("substring(rpad(coalesce(text, ''), 120, 'x'), 1, " +
          "CAST(doc_id % 80 + 20 AS INT))").as("payload"))
      .pin()
    val pl = col("payload")
    val n = length(pl)
    val pc = (col("doc_id") % 6).cast("int")
    val m = expr("CAST((doc_id div 6) % 3 AS INT)")
    // gzip member over the payload (the q_m29 STORED-deflate idiom)
    val gzBody = decode(unhex(concat(
      lit("1F8B0800000000000003"),
      lit("01"), le16(n), le16(lit(65535) - n),
      hex(encode(pl, "UTF-8")),
      le32(crc32(encode(pl, "UTF-8"))), le32(n))), "ISO-8859-1")
    // zlib stream: 7801 header, stored block, adler-32 fold (the
    // pngHexFull idiom over the payload's ASCII bytes)
    val adlerHex = graft.functions.hof.bind(
      aggregate(
        sequence(lit(1), n),
        struct(lit(1L).as("s1"), lit(0L).as("s2")),
        (acc, i) => {
          val s1 = (acc.getField("s1") + ascii(pl.substr(i, lit(1)))) % 65521L
          struct(s1.as("s1"), ((acc.getField("s2") + s1) % 65521L).as("s2"))
        })) { ad =>
      lpad(hex(ad.getField("s2") * 65536L + ad.getField("s1")), 8, "0")
    }
    val zlibBody = decode(unhex(concat(
      lit("7801"), lit("01"), le16(n), le16(lit(65535) - n),
      hex(encode(pl, "UTF-8")), adlerHex)), "ISO-8859-1")
    // chunked framing: 2 data chunks (first with a chunk extension),
    // 0-terminator, one trailer header
    val len1 = (col("doc_id") % 7 + 5).cast("int")
    val chunkedBody = concat(
      lower(hex(len1)), lit(";ext=1\r\n"), pl.substr(lit(1), len1),
      lit("\r\n"),
      lower(hex(n - len1)), lit("\r\n"), pl.substr(len1 + 1, n),
      lit("\r\n"), lit("0\r\nX-Checksum: abc\r\n\r\n"))
    val badChunkBody =
      concat(lower(hex(n)), lit("\r\n"), pl, lit("\r\n"))
    val statusLine = when(pc === 4, "HTTP/1.1 404 Not Found\r\n")
      .when(pc === 5 && m === 0, "HTTP/1.1200 OK\r\n")
      .otherwise("HTTP/1.1 200 OK\r\n")
    val ctHdr = concat(lit("Content-Type: "),
      when(pc === 0, "text/html; charset=UTF-8")
        .when(pc === 1, "text/plain")
        .when(pc === 3, "application/json")
        .when(pc === 4, "text/plain; charset=iso-8859-1")
        .otherwise("text/html"), lit("\r\n"))
    val frameHdr =
      when(pc === 0, concat(lit("Content-Length: "), n.cast("string"),
        lit("\r\n")))
        .when(pc === 1, "Transfer-Encoding: chunked\r\n")
        .when(pc === 2, concat(lit("Content-Encoding: gzip\r\n"),
          lit("Content-Length: "), (n + 23).cast("string"), lit("\r\n")))
        .when(pc === 3, concat(lit("Content-Encoding: deflate\r\n"),
          lit("Content-Length: "), (n + 11).cast("string"), lit("\r\n")))
        .when(pc === 4, "Content-Length: 9\r\n")
        .when(pc === 5 && m === 0, concat(lit("Content-Length: "),
          n.cast("string"), lit("\r\n")))
        .when(pc === 5 && m === 1, concat(lit("Content-Length: "),
          (n + 1).cast("string"), lit("\r\n")))
        .otherwise("Transfer-Encoding: chunked\r\n")
    val body = when(pc === 1, chunkedBody)
      .when(pc === 2, gzBody)
      .when(pc === 3, zlibBody)
      .when(pc === 4, "not found")
      .when(pc === 5 && m === 2, badChunkBody)
      .otherwise(pl)
    val msgs = base
      .select(col("doc_id"),
        concat(statusLine, ctHdr, frameHdr, lit("\r\n"), body).as("msg"))
      .pin()
    graft.operators.HttpMessage
      .responses(msgs, "doc_id", "msg", maxChunks = 4)
      .select(
        col("doc_id"),
        col("ok").cast("int").as("ok"),
        col("err"), col("http_version"), col("status_code"), col("reason"),
        col("content_type"), col("charset"), col("content_length"),
        col("chunked").cast("int").as("chunked"),
        col("content_encoding"), col("n_body_bytes"), col("body_md5"))
  }

  override val all: Seq[Q] =
    Seq(qM1, qM2, qM3, qM4, qM5, qM6, qM7, qM8, qM9, qM10, qM11, qM12, qM13,
      qM14, qM15, qM16, qM17, qM18, qM19, qM20, qM21, qM22, qM23, qM24, qM25,
      qM26, qM27, qM28, qM29, qM30, qM31)
}
