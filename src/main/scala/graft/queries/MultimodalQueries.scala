package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample stages.
  *
  * m03's decode is REAL: payloads are actual PNGs and the extractor runs
  * them through the JDK's public codec (javax.imageio), partition-parallel
  * via mapPartitions — the batch shape a production encoder uses. m02's
  * "frame" decode remains a clearly-marked deterministic fake (the
  * container has no video codec); its Spark-side plumbing — schema, binary
  * handling, per-frame fan-out — is real and oracle-checked. What no stage
  * here has is a learned embedding model; swapping one in replaces only a
  * mapPartitions body.
  */
object MultimodalQueries {
  import QueryDsl._

  /** documents.text re-materialized as a binary "media" payload + metadata —
    * stands in for an image/audio blob column at 100 TB. */
  private def mediaTable(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        col("source"), col("n_chars"))

  /** Real PNG payloads, one per document: pixels are a closed-form
    * function of (media_id, x, y) — see m03 — so oracles can recompute
    * decoded stats (and header fields) without a codec. Shared by m03's
    * feature extractor and m07's header scan. */
  private def pngTable(s: SparkSession, dir: String): DataFrame = {
    val pngSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("png", BinaryType, nullable = false)))
    val pngEnc = org.apache.spark.sql.Encoders.row(pngSchema)
    spread(mediaTable(s, dir).select("media_id"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // no temp-file cache (see m03)
        rows.map { r =>
          val id = r.getLong(0)
          val w = (4 + id % 13).toInt
          val h = (3 + id % 11).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val red = ((id * 31 + x * 7 + y * 13) % 256).toInt
              val green = ((id * 17 + x * 11 + y * 3) % 256).toInt
              val blue = ((id * 29 + x * 5 + y * 19) % 256).toInt
              img.setRGB(x, y, (red << 16) | (green << 8) | blue)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(id, bos.toByteArray)
        }
      }(pngEnc)
  }

  /** Real 16-bit little-endian PCM payloads, one per document: sample i of
    * media m is the closed-form ((m·7919 + i·104729) mod 65536) − 32768
    * with a per-media length (64..255 samples), so oracles recompute any
    * waveform statistic from the formula without parsing bytes. Shared by
    * m08's whole-payload stats and m09's frame segmentation. */
  private def pcmTable(s: SparkSession, dir: String): DataFrame = {
    val pcmSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("pcm", BinaryType, nullable = false)))
    val pcmEnc = org.apache.spark.sql.Encoders.row(pcmSchema)
    spread(mediaTable(s, dir).select("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = (64 + id % 192).toInt // 64..255 samples
          val bytes = new Array[Byte](2 * n)
          var i = 0
          while (i < n) {
            val v = (((id * 7919 + i.toLong * 104729) % 65536L) - 32768L).toInt
            bytes(2 * i) = (v & 0xff).toByte
            bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          Row(id, bytes)
        }
      }(pcmEnc)
  }

  val defs: Map[String, Q] = Map(
    "m01_binary_meta" -> ((s, dir) => {
      // byte length + content digest: the standard "media inventory" scan
      mediaTable(s, dir)
        .select(col("media_id"),
          length(col("content")).as("n_bytes"),
          sha2(col("content"), 256).as("sha256"),
          col("source"))
    }),

    "m02_frame_sample" -> ((s, dir) => {
      // STUB decode: pretend each 100-byte block is a "frame"; sample every
      // 4th frame and emit a per-frame fingerprint (deterministic fake of a
      // frame-level feature; md5 of "id:frame" for oracle parity). Real impl
      // would decode via codec per frame.
      mediaTable(s, dir)
        .withColumn("n_frames", (length(col("content")).cast("long") / 100L).cast("long") + 1)
        .select(col("media_id"), col("n_frames"),
          explode(sequence(lit(0L), col("n_frames") - 1, lit(4L))).as("frame_id"))
        .withColumn("frame_sig", md5(concat_ws(":", col("media_id"), col("frame_id"))))
    }),

    "m03_feature_extract" -> ((s, dir) => {
      // REAL image decode via javax.imageio (the JDK's public PNG codec):
      // stage 1 materializes a binary media column of actual PNG payloads
      // (pixels are a closed-form function of (media_id, x, y), so an
      // oracle can recompute the decoded stats without a codec); stage 2 —
      // the feature extractor — DECODES each payload with ImageIO.read and
      // emits width/height/per-channel mean. Both stages keep the
      // partition-parallel mapPartitions batch shape a production encoder
      // uses; PNG is lossless, so the stats are exact (hash-exact oracle).
      // The only still-missing piece on this container is a learned
      // embedding model; the codec path itself is real.
      val pngs = pngTable(s, dir)
      val featSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("width", IntegerType, nullable = false),
        StructField("height", IntegerType, nullable = false),
        StructField("r_mean_milli", LongType, nullable = false),
        StructField("g_mean_milli", LongType, nullable = false),
        StructField("b_mean_milli", LongType, nullable = false)))
      val featEnc = org.apache.spark.sql.Encoders.row(featSchema)
      pngs.mapPartitions { rows =>
        // in-memory ImageInputStreams: the default file-backed cache
        // creates and locks a temp file per read — serializing 32 decode
        // threads on filesystem contention
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val w = img.getWidth
          val h = img.getHeight
          var rs = 0L; var gs = 0L; var bs = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              rs += (rgb >> 16) & 0xff
              gs += (rgb >> 8) & 0xff
              bs += rgb & 0xff
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          Row(id, w, h, 1000L * rs / n, 1000L * gs / n, 1000L * bs / n)
        }
      }(featEnc)
    }),

    "m04_chunk_freq" -> ((s, dir) => {
      // fixed-size chunk frequency table over binary payloads — the
      // storage-dedup sizing report (how much content is shared verbatim
      // across media). Every 64-byte block is hashed; the shuffle carries
      // only (hash, partial counts). Fixed chunking is the oracle-exact
      // BASELINE here; its known weakness — one inserted byte destroys all
      // downstream alignment — is what m05's content-defined chunking
      // fixes (ExpressionsSpec proves the re-alignment property).
      val chunked = mediaTable(s, dir)
        .select(col("media_id"),
          // greatest(.., 0): Spark's sequence DESCENDS when start > stop, so
          // an empty payload would otherwise yield [0, -1] — two chunks
          posexplode(expr(
            "transform(sequence(0, greatest(CAST(ceil(length(content)/64.0) AS INT) - 1, 0))," +
              " i -> substring(content, i*64 + 1, 64))")))
        .select(col("media_id"), md5(col("col")).as("chunk_md5"))
      chunked.groupBy("chunk_md5")
        .agg(countDistinct(col("media_id")).as("n_media"),
          count(lit(1)).as("n_occurrences"))
    }),

    "m05_cdc_chunk_dedup" -> ((s, dir) => {
      // content-defined chunking: shared-chunk pairs across media SURVIVE
      // byte insertions because boundaries re-align — the production dedup
      // primitive for crawl snapshots / media archives. Runs the
      // md5-DOMAIN kernel (native cdc_chunk_hashes_md5: md5-derived gear
      // table, mod-2^55 rolling hash, md5 chunk digests — the d07
      // vec_srp_md5 precedent), so a DuckDB recursive CTE replays the
      // entire state machine byte for byte and the oracle is hash-exact
      // (PropertySpec pins the kernel's determinism and re-alignment).
      import org.apache.spark.sql.graft.functions.cdc_chunk_hashes_md5
      val chunks = tbl(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          explode(cdc_chunk_hashes_md5(col("text"))).as("chunk"))
      chunks.groupBy("chunk")
        .agg(countDistinct(col("media_id")).as("n_media"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_media") >= 2)
        .agg(count(lit(1)).as("n_shared_chunks"),
          coalesce(sum(col("n_occurrences")), lit(0L)).as("n_shared_occurrences"),
          coalesce(max(col("n_media")), lit(0L)).cast("long").as("max_spread"))
    }),

    "m07_png_header_meta" -> ((s, dir) => {
      // media METADATA scan with ZERO decode — at 100 TB the inventory
      // pass reads structured headers, not pixels: PNG's IHDR chunk puts
      // width/height as big-endian int32 at (1-based) byte offsets 17/21,
      // bit depth and color type right after. Pure columnar byte slicing
      // (substring on BINARY + hex/conv), fully codegen'd — no codec in
      // the loop, so cost is bytes-scanned, not pixels-decoded. The
      // closed-form oracle pins parser AND encoder at once: a real
      // javax.imageio PNG of the generated image must carry exactly
      // these dims, 8-bit depth, and truecolor type 2.
      pngTable(s, dir).select(col("media_id"),
        expr("CAST(conv(hex(substring(png, 17, 4)), 16, 10) AS BIGINT)").as("width"),
        expr("CAST(conv(hex(substring(png, 21, 4)), 16, 10) AS BIGINT)").as("height"),
        expr("CAST(conv(hex(substring(png, 25, 1)), 16, 10) AS INT)").as("bit_depth"),
        expr("CAST(conv(hex(substring(png, 26, 1)), 16, 10) AS INT)").as("color_type"))
    }),

    "m08_pcm_stats" -> ((s, dir) => {
      // audio-feature extraction over raw PCM — the waveform half of the
      // multimodal story (m03/m07 cover images): payloads are REAL 16-bit
      // little-endian PCM built from a closed-form synth (sample i of
      // media m = ((m·7919 + i·104729) mod 65536) − 32768, length varies
      // per media), and the feature pass is ONE native codegen'd
      // expression — no codec, no per-sample lambda, cost = bytes
      // scanned. The closed-form oracle replicates every stat including
      // the zero-crossing convention (zero counts as non-negative), so
      // an endianness or sign-extension bug in the parser breaks the
      // hash. Swapping the synth for real audio replaces only the
      // builder; the feature pass is the production shape.
      import org.apache.spark.sql.graft.functions.pcm_i16le_stats
      pcmTable(s, dir).select(col("media_id"), pcm_i16le_stats(col("pcm")).as("st"))
        .select(col("media_id"), col("st.n_samples"), col("st.sum_abs"),
          col("st.max_abs"), col("st.zero_crossings"))
    }),

    "m10_audio_downsample" -> ((s, dir) => {
      // decode → TRANSFORM → re-encode — the audio resize step (the shape
      // image resize / frame re-encode production pipelines run): the
      // native pcm_downsample2 expression halves the sample rate with
      // pair-average anti-aliasing and emits a NEW little-endian payload;
      // the stats parser then verifies the transformed bytes. Everything
      // stays map-side (two native expressions in one projection, zero
      // shuffles before the output), and every output value is exact
      // integer arithmetic over the closed-form synth, so the oracle
      // recomputes the downsampled waveform without parsing a byte:
      // y[j] = floor((x[2j] + x[2j+1]) / 2), odd tails dropped.
      import org.apache.spark.sql.graft.functions.{pcm_downsample2, pcm_i16le_stats}
      pcmTable(s, dir)
        .select(col("media_id"), pcm_downsample2(col("pcm")).as("ds"))
        .select(col("media_id"), length(col("ds")).as("n_bytes"),
          pcm_i16le_stats(col("ds")).as("st"))
        .select(col("media_id"), col("n_bytes"), col("st.n_samples"),
          col("st.sum_abs"), col("st.max_abs"), col("st.zero_crossings"))
    }),

    "m09_audio_segments" -> ((s, dir) => {
      // VAD-style audio segmentation — the step after m08's whole-payload
      // stats in a speech-data pipeline: frame-level energy, then
      // gaps-and-islands to merge consecutive loud frames into segments.
      // The frame pass COMPOSES existing pieces — binary substring
      // slicing + the native pcm_i16le_stats parser per 64-sample slice
      // (no new expression; substring clamps the final short frame) —
      // and segmentation is one media-keyed window, so the whole op is
      // a scan plus one bounded shuffle. The 16384 mean-|x| threshold
      // sits at the synth's median, so segments split nontrivially; all
      // arithmetic is integer → hash-exact against the closed-form synth.
      import org.apache.spark.sql.graft.functions.pcm_i16le_stats
      val frames = pcmTable(s, dir)
        .select(col("media_id"),
          explode(expr("sequence(0, (length(pcm) DIV 2 - 1) DIV 64)")).as("f"),
          col("pcm"))
        .select(col("media_id"), col("f"),
          pcm_i16le_stats(expr("substring(pcm, f * 128 + 1, 128)")).as("st"))
        .select(col("media_id"), col("f"),
          col("st.n_samples").as("fn"), col("st.sum_abs").as("fsum"))
      val loud = frames.filter(col("fsum") > lit(16384L) * col("fn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy("f")
      loud.withColumn("grp", col("f") - row_number().over(w))
        .groupBy("media_id", "grp")
        .agg(min(col("f")).cast("int").as("start_frame"),
          max(col("f")).cast("int").as("end_frame"),
          count(lit(1)).as("n_frames"), sum(col("fsum")).as("sum_abs"))
        .select("media_id", "start_frame", "end_frame", "n_frames", "sum_abs")
    }),

    "m06_image_neardup" -> ((s, dir) => {
      // perceptual image dedup — the LAION/image-corpus architecture: a
      // perceptual hash computed IN the decode pass (mapPartitions, once
      // per image), then dedup is a plain hash groupBy: linear, no
      // pairwise anything. The hash is dHash (difference hash): sample the
      // decoded image to a 9×8 grayscale grid and emit one bit per
      // horizontal neighbor comparison → 64 bits. Comparisons are
      // invariant under uniform brightness shifts, so re-encoded /
      // brightness-adjusted copies collapse to the SAME hash while
      // different content does not — exactly what byte-level sha256 (m01)
      // cannot do. The fixture builds 50 base patterns × 10
      // brightness-shifted copies (pixels stay in [0, 215] — no clamping,
      // which would break gradient invariance at saturation); QueriesSpec
      // proves the groups collapse soundly and completely. Oracle: the
      // m03 closed-form trick one step further — the oracle cannot decode
      // PNGs, but it does not need to: the sampled-pixel grays are a
      // closed form of (g, x, y) and the brightness delta adds the same
      // 1000·delta to both sides of every gradient comparison, so the
      // EXPECTED dhash grouping is computable in SQL. The Spark side must
      // still round-trip real pixels through PNG encode + ImageIO decode
      // to reproduce it, so codec bugs (channel order, lossy path,
      // clamping) break the hash match.
      val pngSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("png", BinaryType, nullable = false)))
      val pngEnc = org.apache.spark.sql.Encoders.row(pngSchema)
      val pngs = spread(mediaTable(s, dir).select("media_id"))
        .mapPartitions { rows =>
          javax.imageio.ImageIO.setUseCache(false) // no temp-file cache (see m03)
          rows.map { r =>
            val id = r.getLong(0)
            val g = id % 50 // base pattern group
            val delta = ((id / 50) % 10).toInt * 4 // uniform brightness shift ≤ 36
            val w = (4 + g % 13).toInt
            val h = (3 + g % 11).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val red = ((g * 31 + x * 7 + y * 13) % 180).toInt + delta
                val green = ((g * 17 + x * 11 + y * 3) % 180).toInt + delta
                val blue = ((g * 29 + x * 5 + y * 19) % 180).toInt + delta
                img.setRGB(x, y, (red << 16) | (green << 8) | blue)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            Row(id, bos.toByteArray)
          }
        }(pngEnc)
      val hashSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("dhash", LongType, nullable = false)))
      val hashEnc = org.apache.spark.sql.Encoders.row(hashSchema)
      val hashed = pngs.mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // see m03: no temp-file cache
        rows.map { r =>
          val id = r.getLong(0)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
          val w = img.getWidth
          val h = img.getHeight
          // 9×8 point-sample grid (integer math — deterministic on any
          // JVM; PNG is lossless so pixels are exact), then 8 horizontal
          // comparisons per row → 64 bits
          val gray = Array.tabulate(8, 9) { (gy, gx) =>
            val rgb = img.getRGB(gx * w / 9, gy * h / 8)
            ((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114
          }
          var bits = 0L
          var i = 0
          while (i < 64) {
            val gy = i / 8
            val gx = i % 8
            if (gray(gy)(gx + 1) > gray(gy)(gx)) bits |= 1L << i
            i += 1
          }
          Row(id, bits)
        }
      }(hashEnc)
      hashed.groupBy("dhash")
        .agg(min(col("media_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") >= 2)
        .select(col("keep_id"), col("n_copies"))
    }),

    "m11_image_patches" -> ((s, dir) => {
      // ViT-style PATCH extraction — the pre-embedding tiling every
      // vision-transformer ingest runs: decode the image (REAL ImageIO
      // PNG decode, m03's batch shape), cut it into a fixed 4×4 patch
      // grid (edge patches truncate — the resize-free convention), and
      // emit one row per patch with its grid position and per-channel
      // milli means — the exact schema a downstream patch-embedding
      // mapInPandas stage consumes (media_id, patch_row, patch_col,
      // pixels-summary). Pixels are the closed-form synth, so the whole
      // decode → tile → reduce chain is hash-exact against SQL. Scale
      // shape: decode + tiling are partition-local projections (fan-out
      // ≤ ⌈w/4⌉·⌈h/4⌉ rows per image, no shuffle at all — the output is
      // written or consumed map-side).
      val P = 4
      val pngs = pngTable(s, dir)
      val patchSchema = StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("patch_row", IntegerType, nullable = false),
        StructField("patch_col", IntegerType, nullable = false),
        StructField("patch_w", IntegerType, nullable = false),
        StructField("patch_h", IntegerType, nullable = false),
        StructField("r_mean_milli", LongType, nullable = false),
        StructField("g_mean_milli", LongType, nullable = false),
        StructField("b_mean_milli", LongType, nullable = false)))
      val patchEnc = org.apache.spark.sql.Encoders.row(patchSchema)
      pngs.mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // see m03
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          val w = img.getWidth
          val h = img.getHeight
          for {
            pr <- 0 until (h + P - 1) / P
            pc <- 0 until (w + P - 1) / P
          } yield {
            val x0 = pc * P; val y0 = pr * P
            val pw = math.min(P, w - x0); val ph = math.min(P, h - y0)
            var rs = 0L; var gs = 0L; var bs = 0L
            var y = y0
            while (y < y0 + ph) {
              var x = x0
              while (x < x0 + pw) {
                val rgb = img.getRGB(x, y)
                rs += (rgb >> 16) & 0xff
                gs += (rgb >> 8) & 0xff
                bs += rgb & 0xff
                x += 1
              }
              y += 1
            }
            val n = pw.toLong * ph
            Row(id, pr, pc, pw, ph, 1000L * rs / n, 1000L * gs / n, 1000L * bs / n)
          }
        }
      }(patchEnc)
    })
  )

  val oracles: Map[String, String] = Map(
    // the full CDC state machine replayed as a RECURSIVE CTE advancing one
    // character per level: md5-derived gear values, the mod-2^55 rolling
    // recurrence (every intermediate < 2^57 — no overflow, no Java wrap
    // to emulate), the min/mask/max-size cut rule, per-chunk md5 digests,
    // and the tail chunk. ASCII fixture: char positions = byte positions.
    "m05_cdc_chunk_dedup" -> """
      WITH RECURSIVE gear AS MATERIALIZED (
        SELECT code, CAST(CONCAT('0x', SUBSTRING(md5('g|' || code), 1, 14)) AS BIGINT) AS gv
        FROM (SELECT UNNEST(GENERATE_SERIES(0, 255)) AS code)),
      d AS MATERIALIZED (SELECT doc_id AS media_id, text, LEN(text) AS n FROM documents),
      walk AS (
        SELECT media_id, 0 AS i, CAST(0 AS BIGINT) AS h, 1 AS strt,
               CAST(NULL AS BIGINT) AS emitted
        FROM d
        UNION ALL
        SELECT media_id, i + 1,
               CASE WHEN cut THEN CAST(0 AS BIGINT) ELSE hn END,
               CASE WHEN cut THEN i + 2 ELSE strt END,
               CASE WHEN cut THEN CAST(CONCAT('0x',
                 SUBSTRING(md5(SUBSTRING(text, strt, i + 2 - strt)), 1, 14)) AS BIGINT)
                    ELSE NULL END
        FROM (
          SELECT w.media_id, w.i, w.strt, d.text,
                 (w.h * 2 + g.gv) % 36028797018963968 AS hn,
                 ((w.i + 1 - w.strt + 1 >= 16
                     AND (((w.h * 2 + g.gv) % 36028797018963968) & 63) = 0)
                  OR (w.i + 1 - w.strt + 1 >= 272)) AS cut
          FROM walk w
          JOIN d ON d.media_id = w.media_id
          JOIN gear g ON g.code = ASCII(SUBSTRING(d.text, w.i + 1, 1))
          WHERE w.i < d.n) s),
      chunks AS (
        SELECT media_id, emitted AS chunk FROM walk WHERE emitted IS NOT NULL
        UNION ALL
        SELECT w.media_id, CAST(CONCAT('0x',
                 SUBSTRING(md5(SUBSTRING(d.text, w.strt, d.n - w.strt + 1)), 1, 14)) AS BIGINT)
        FROM walk w JOIN d ON d.media_id = w.media_id
        WHERE w.i = d.n AND w.strt <= d.n),
      agg AS (SELECT chunk, COUNT(DISTINCT media_id) AS n_media, COUNT(*) AS n_occurrences
              FROM chunks GROUP BY chunk)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_chunks,
             CAST(COALESCE(SUM(n_occurrences), 0) AS BIGINT) AS n_shared_occurrences,
             CAST(COALESCE(MAX(n_media), 0) AS BIGINT) AS max_spread
      FROM agg WHERE n_media >= 2""",

    "m01_binary_meta" -> """
      SELECT doc_id AS media_id,
             CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
             SHA256(text) AS sha256,
             source
      FROM documents""",

    // m05 stays rows-only: content-defined chunk boundaries come from the
    // native gear-rolling-hash expression, not expressible in DuckDB SQL.

    // m03's oracle recomputes the DECODED stats from the closed-form pixel
    // function — the Spark side must round-trip those pixels through a real
    // PNG encode + ImageIO decode to match, so a codec-plumbing bug (wrong
    // channel order, lossy format, dropped rows) breaks the hash.
    "m03_feature_extract" -> """
      WITH dims AS (
        SELECT doc_id AS media_id,
               4 + doc_id % 13 AS w,
               3 + doc_id % 11 AS h
        FROM documents),
      px AS (SELECT media_id, w, h, UNNEST(GENERATE_SERIES(0, w - 1)) AS x FROM dims),
      pxy AS (SELECT media_id, w, h, x, UNNEST(GENERATE_SERIES(0, h - 1)) AS y FROM px)
      SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             CAST((1000 * SUM((media_id * 31 + x * 7 + y * 13) % 256)) // (w * h) AS BIGINT) AS r_mean_milli,
             CAST((1000 * SUM((media_id * 17 + x * 11 + y * 3) % 256)) // (w * h) AS BIGINT) AS g_mean_milli,
             CAST((1000 * SUM((media_id * 29 + x * 5 + y * 19) % 256)) // (w * h) AS BIGINT) AS b_mean_milli
      FROM pxy
      GROUP BY media_id, w, h""",

    // byte chunks equal character chunks because the fixture is ASCII —
    // the same equivalence m01's sha256(text) oracle already relies on
    "m04_chunk_freq" -> """
      SELECT chunk_md5,
             CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_media,
             COUNT(*) AS n_occurrences
      FROM (
        SELECT d.doc_id AS media_id,
               md5(SUBSTRING(d.text, t.i * 64 + 1, 64)) AS chunk_md5
        FROM documents d,
             UNNEST(GENERATE_SERIES(0,
               GREATEST(CAST(CEIL(OCTET_LENGTH(ENCODE(d.text)) / 64.0) AS INT) - 1, 0))) AS t(i))
      GROUP BY chunk_md5""",

    // m07: the generator's dims in closed form; bit depth 8 / color type 2
    // are what javax.imageio writes for TYPE_INT_RGB — a Spark-side parse
    // of real IHDR bytes must land exactly here
    "m07_png_header_meta" -> """
      SELECT doc_id AS media_id,
             CAST(4 + doc_id % 13 AS BIGINT) AS width,
             CAST(3 + doc_id % 11 AS BIGINT) AS height,
             CAST(8 AS INT) AS bit_depth,
             CAST(2 AS INT) AS color_type
      FROM documents""",

    // m08: every stat recomputed from the closed-form synth, including the
    // zero-crossing convention (zero counts as non-negative) — the Spark
    // side must parse real little-endian bytes with correct sign extension
    // to land here
    // frame grid + threshold + islands replayed from the synth formula;
    // any error in the frame slicing (off-by-one byte offsets, the short
    // final frame) or the loudness inequality breaks the hash
    "m09_audio_segments" -> """
      WITH m AS (SELECT doc_id AS media_id, 64 + doc_id % 192 AS n FROM documents),
      s AS (SELECT media_id, t.i // 64 AS f,
                   ABS(((media_id * 7919 + t.i * 104729) % 65536) - 32768) AS av
            FROM m, UNNEST(GENERATE_SERIES(0, n - 1)) AS t(i)),
      fr AS (SELECT media_id, f, COUNT(*) AS fn, SUM(av) AS fsum FROM s GROUP BY 1, 2),
      loud AS (SELECT media_id, f, fsum FROM fr WHERE fsum > 16384 * fn),
      g AS (SELECT *, f - ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY f) AS grp
            FROM loud)
      SELECT media_id,
             CAST(MIN(f) AS INT) AS start_frame,
             CAST(MAX(f) AS INT) AS end_frame,
             COUNT(*) AS n_frames,
             CAST(SUM(fsum) AS BIGINT) AS sum_abs
      FROM g GROUP BY media_id, grp""",

    // the downsampled waveform recomputed from the synth formula:
    // y[j] = FLOOR((x[2j] + x[2j+1]) / 2.0) — |a+b| ≤ 2^16 keeps the
    // double division exact, so the floor mean matches the engine's
    // arithmetic shift; stats replay the m08 conventions over y
    "m10_audio_downsample" -> """
      WITH m AS (SELECT doc_id AS media_id, (64 + doc_id % 192) // 2 AS mh FROM documents),
      y AS (SELECT media_id, mh, t.j,
                   CAST(FLOOR((
                     (((media_id * 7919 + (2 * t.j) * 104729) % 65536) - 32768)
                     + (((media_id * 7919 + (2 * t.j + 1) * 104729) % 65536) - 32768)
                   ) / 2.0) AS BIGINT) AS v
            FROM m, UNNEST(GENERATE_SERIES(0, mh - 1)) AS t(j))
      SELECT media_id,
             CAST(2 * MAX(mh) AS INT) AS n_bytes,
             CAST(MAX(mh) AS INT) AS n_samples,
             CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
             CAST(MAX(ABS(v)) AS INT) AS max_abs,
             CAST(SUM(CASE WHEN j > 0 AND ((v >= 0) <> (CAST(FLOOR((
                     (((media_id * 7919 + (2 * (j - 1)) * 104729) % 65536) - 32768)
                     + (((media_id * 7919 + (2 * (j - 1) + 1) * 104729) % 65536) - 32768)
                   ) / 2.0) AS BIGINT) >= 0)) THEN 1 ELSE 0 END) AS INT) AS zero_crossings
      FROM y GROUP BY media_id""",

    "m08_pcm_stats" -> """
      WITH m AS (SELECT doc_id AS media_id, 64 + doc_id % 192 AS n FROM documents),
      s AS (SELECT media_id, n, t.i,
                   ((media_id * 7919 + t.i * 104729) % 65536) - 32768 AS v
            FROM m, UNNEST(GENERATE_SERIES(0, n - 1)) AS t(i))
      SELECT media_id,
             CAST(MAX(n) AS INT) AS n_samples,
             CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
             CAST(MAX(ABS(v)) AS INT) AS max_abs,
             CAST(SUM(CASE WHEN i > 0 AND ((v >= 0) <> ((((media_id * 7919 + (i - 1) * 104729) % 65536) - 32768) >= 0)) THEN 1 ELSE 0 END) AS INT) AS zero_crossings
      FROM s GROUP BY media_id""",

    // m06's dHash grouping in closed form: the 9×8 sample grid coordinates
    // (integer division, non-negative → DuckDB // ≡ Java /), the pattern
    // pixel formula, and the 299/587/114 gray weights are all replicated;
    // the uniform brightness delta cancels in every gradient comparison,
    // so the 64-bit signature is a function of the base pattern g alone —
    // grouped here as a '0'/'1' string (no signed-64 overflow at bit 63).
    "m06_image_neardup" -> """
      WITH media AS (SELECT doc_id AS media_id, doc_id % 50 AS g FROM documents),
      pat AS (SELECT DISTINCT g, 4 + g % 13 AS w, 3 + g % 11 AS h FROM media),
      cells AS (
        SELECT g, t.i,
               ((t.i % 8) * w) // 9 AS x1,
               (((t.i % 8) + 1) * w) // 9 AS x2,
               ((t.i // 8) * h) // 8 AS y
        FROM pat, UNNEST(GENERATE_SERIES(0, 63)) AS t(i)),
      bits AS (
        SELECT g, STRING_AGG(
          CASE WHEN ((g*31 + x2*7 + y*13) % 180) * 299 + ((g*17 + x2*11 + y*3) % 180) * 587 + ((g*29 + x2*5 + y*19) % 180) * 114
                  > ((g*31 + x1*7 + y*13) % 180) * 299 + ((g*17 + x1*11 + y*3) % 180) * 587 + ((g*29 + x1*5 + y*19) % 180) * 114
               THEN '1' ELSE '0' END, '' ORDER BY i) AS sig
        FROM cells GROUP BY g)
      SELECT MIN(media_id) AS keep_id, COUNT(*) AS n_copies
      FROM media JOIN bits USING (g)
      GROUP BY sig
      HAVING COUNT(*) >= 2""",

    "m02_frame_sample" -> """
      SELECT media_id, n_frames,
             UNNEST(GENERATE_SERIES(0, n_frames - 1, 4)) AS frame_id,
             md5(media_id || ':' || UNNEST(GENERATE_SERIES(0, n_frames - 1, 4))) AS frame_sig
      FROM (SELECT doc_id AS media_id,
                   OCTET_LENGTH(ENCODE(text)) // 100 + 1 AS n_frames
            FROM documents)""",

    // the decode → 4×4 tile → per-patch reduce chain replayed from the
    // closed-form pixel formula (edge patches truncate to the image)
    "m11_image_patches" -> """
      WITH dims AS (
        SELECT doc_id AS media_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        FROM documents),
      grid AS (
        SELECT media_id, w, h, UNNEST(GENERATE_SERIES(0, (h + 3) // 4 - 1)) AS pr
        FROM dims),
      gridc AS (
        SELECT media_id, w, h, pr, UNNEST(GENERATE_SERIES(0, (w + 3) // 4 - 1)) AS pc
        FROM grid),
      px AS (
        SELECT media_id, w, h, pr, pc,
               UNNEST(GENERATE_SERIES(pc * 4, LEAST(w, pc * 4 + 4) - 1)) AS x
        FROM gridc),
      pxy AS (
        SELECT media_id, w, h, pr, pc, x,
               UNNEST(GENERATE_SERIES(pr * 4, LEAST(h, pr * 4 + 4) - 1)) AS y
        FROM px)
      SELECT media_id, CAST(pr AS INT) AS patch_row, CAST(pc AS INT) AS patch_col,
             CAST(LEAST(w, pc * 4 + 4) - pc * 4 AS INT) AS patch_w,
             CAST(LEAST(h, pr * 4 + 4) - pr * 4 AS INT) AS patch_h,
             CAST((1000 * SUM((media_id * 31 + x * 7 + y * 13) % 256)) // COUNT(*) AS BIGINT) AS r_mean_milli,
             CAST((1000 * SUM((media_id * 17 + x * 11 + y * 3) % 256)) // COUNT(*) AS BIGINT) AS g_mean_milli,
             CAST((1000 * SUM((media_id * 29 + x * 5 + y * 19) % 256)) // COUNT(*) AS BIGINT) AS b_mean_milli
      FROM pxy
      GROUP BY media_id, w, h, pr, pc"""
  )
}
