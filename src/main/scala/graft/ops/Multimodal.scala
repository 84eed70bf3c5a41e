package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: images/audio/video as opaque `binary`
  * payloads with typed metadata, processed per-partition in batches.
  *
  * The Spark-side architecture is real and tested: schema contracts,
  * partition-sized batching via `mapPartitions` over a typed Dataset
  * (the JVM analogue of arrow-batched Python UDFs), and a feature schema
  * downstream operators (similarity, dedup) consume directly.
  *
  * IMAGE decode/resize are REAL as of round 5: [[decodeImages]] and
  * [[resizeImages]] parse actual PNG/BMP containers through the JDK's
  * built-in `javax.imageio` (no external codec dependency) inside the
  * same mapPartitions boundary, and the synthetic corpus
  * ([[imageCorpus]]) has closed-form pixel values so a codec-less SQL
  * oracle verifies the decoded numbers end-to-end.
  *
  * VIDEO container navigation is REAL as of round 5 too:
  * [[videoCorpus]] writes genuine uncompressed RIFF/AVI payloads (raw
  * DIB '00db' frames — a format that needs no codec, only byte
  * arithmetic) and [[sampleVideoFrames]] parses the chunk tree and
  * index-SEEKS to sampled frames, decoding only those rasters.
  *
  * AUDIO is REAL as well: [[audioCorpus]]/[[decodeAudio]] run genuine
  * PCM WAV container bytes through `javax.sound.sampled.AudioSystem` —
  * the JDK's own audio file codec, the aural twin of ImageIO.
  *
  * ==STUB== What remains stand-ins: COMPRESSED codecs the JDK lacks
  * only (H.264, MP3/Vorbis — a real one swaps in at the same
  * raster/sample boundary; JPEG is REAL via the JDK's own codec, see
  * [[jpegCorpus]]) and the generic any-modality feature fake
  * ([[decodeStub]], kept for `mm_decode`'s modality-agnostic rows).
  * [[frameSampleStub]] is also kept: it exercises the explode plumbing
  * on arbitrary payloads that are not containers at all.
  */
object Multimodal {

  // ImageIO defaults to DISK-backed stream caching: every
  // read/write(InputStream) first creates, fills and deletes a temp FILE
  // before the codec sees a byte. Every payload here is an in-memory
  // byte array, so cache in memory instead — JVM-wide, set once at class
  // load (executors load this object before any codec call goes through
  // it). Pure I/O plumbing: decoded rasters are byte-identical
  // (guide §1.2 step 2 — cut per-task overhead that does no work).
  javax.imageio.ImageIO.setUseCache(false)

  /** Canonical multimodal record schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("source", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  /** Build a multimodal table from the documents table: payload = utf-8
    * bytes of text (a stand-in binary column with realistic sizes). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("modality"),
      col("text").cast(BinaryType).as("payload"),
      struct(col("source").as("source"), length(col("text")).cast(LongType).as("n_bytes")).as("meta"))

  /** Decoded-feature schema: what a real decoder would emit.
    * `content_hash` is the md5 hex digest of the payload — engine-shared,
    * so the DuckDB oracle recomputes it (an xxhash/FNV long would be
    * Spark-only and unverifiable). */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("content_hash", StringType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** ==STUB== deterministic fake decode: real decode would call an image/
    * audio codec here. Features are derived from payload bytes so tests
    * are reproducible. Called once per row, but always inside one
    * partition's iterator — a real codec (like the digest here) is opened
    * once per partition in [[decodeFeatures]] and fed rows (or row
    * batches) from that iterator. */
  private[ops] def decodeStub(mediaId: Long, modality: String, payload: Array[Byte],
      dim: Int, digest: java.security.MessageDigest): Row = {
    val bytes = if (payload == null) Array.emptyByteArray else payload
    digest.reset()
    val contentHash = digest.digest(bytes).map("%02x".format(_)).mkString
    var h = 1125899906842597L // FNV-ish rolling hash seeds the fake features
    var i = 0
    while (i < bytes.length) { h = h * 31 + bytes(i); i += 1 }
    val feature = new Array[Float](dim)
    var d = 0
    var g = h
    while (d < dim) {
      g = g * 6364136223846793005L + 1442695040888963407L // splitmix-ish
      feature(d) = ((g >>> 16).toInt % 1000) / 1000.0f
      d += 1
    }
    Row(mediaId, modality, bytes.length.toLong, contentHash, feature.toSeq)
  }

  /** ==STUB== "resize": a real implementation decodes, resamples to
    * (w, h), and re-encodes. The stub keeps the contract — payload is
    * replaced by a deterministic transformation whose size scales with
    * the target dims — so downstream schema/size accounting is real. */
  def resizeStub(media: DataFrame, w: Int, h: Int): DataFrame = {
    val target = w.toLong * h / 64 // fake bytes-per-pixel-block
    media.withColumn("payload",
      expr(s"substring(payload, 1, greatest(least(length(payload), $target), 1))"))
      .withColumn("meta", struct(
        col("meta.source").as("source"),
        length(col("payload")).cast(LongType).as("n_bytes")))
  }

  /** ==STUB== "frame sampling": one row per sampled frame. A real
    * implementation seeks the container and decodes every Nth frame;
    * the stub emits `nFrames` deterministic payload slices. The row
    * explosion, frame indexing, and per-frame metadata are the real
    * plumbing downstream operators consume. */
  def frameSampleStub(media: DataFrame, nFrames: Int): DataFrame = {
    val frames = sequence(lit(0), lit(nFrames - 1))
    media.filter(col("modality") === "video")
      .select(col("media_id"), explode(frames).as("frame_no"), col("payload"))
      .withColumn("frame_payload",
        expr("substring(payload, 1 + frame_no * 16, 16)"))
      .select(col("media_id"), col("frame_no"),
        col("frame_payload").as("payload"),
        length(col("frame_payload")).cast(LongType).as("n_bytes"))
  }

  /** ==STUB==-adjacent content-hash features: `dim` (≤ 16) byte values
    * of md5(payload) as a float vector. NOT a learned embedding — a real
    * pipeline swaps in a vision/audio encoder at the same boundary — but
    * unlike [[decodeFeatures]]'s rolling-hash fake these features are
    * md5-derived, so a DuckDB oracle regenerates them exactly and the
    * WHOLE opaque-payload → feature → similarity-search composition is
    * value-level verifiable (see the `mm_similarity` query). Narrow
    * (per-row expressions, payloads never shuffle). */
  def hashFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    require(dim >= 1 && dim <= 16, "md5 yields 16 feature bytes")
    val hex = md5(col("payload"))
    val bytes = (0 until dim).map { d =>
      conv(substring(hex, 2 * d + 1, 2), 16, 10).cast("float")
    }
    media.select(col("media_id"), col("modality"),
      array(bytes: _*).as("feature"))
  }

  // ---- REAL image path (JDK javax.imageio — PNG + BMP) ----

  /** Deterministic synthetic image for `media_id = id`: dims
    * `(8 + id%8) x (8 + id%5)`, pixel (x, y) channels
    * r = (id·31 + x·7 + y·13) mod 256, g = (id·17 + x·11 + y·3) mod 256,
    * b = (id·13 + x·5 + y·19) mod 256. Closed-form pixels mean an
    * engine-neutral oracle recomputes every decoded value WITHOUT a
    * codec — so the PNG/BMP encode→decode round trip is value-gated,
    * not just byte-counted. */
  private[graft] def synthImage(id: Long): java.awt.image.BufferedImage = {
    require(id >= 0, s"synthImage needs a non-negative id, got $id")
    val w = (8 + id % 8).toInt
    val h = (8 + id % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + x * 11 + y * 3) % 256).toInt
        val b = ((id * 13 + x * 5 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private[graft] def encodeImage(img: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, fmt, baos)
    require(ok, s"no ImageIO writer for format '$fmt'")
    baos.toByteArray
  }

  private def pixelSum(img: java.awt.image.BufferedImage): Long = {
    var s = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        s += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
        x += 1
      }
      y += 1
    }
    s
  }

  /** Shared builder for the encoded-image corpora: per-id format
    * choice, per-partition encoding (the codec-stage shape everywhere
    * here), payload column = genuine container bytes. */
  private def imageCorpusAs(docs: DataFrame, fmtFor: Long => String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val fmt = fmtFor(id)
          Row(id, fmt, encodeImage(synthImage(id), fmt))
        }
      }(enc)
  }

  /** Image corpus with REAL encoded payloads: PNG for even ids, BMP for
    * odd (both lossless 24-bit, both decoders ship in the JDK). */
  def imageCorpus(docs: DataFrame): DataFrame =
    imageCorpusAs(docs, id => if (id % 2 == 0) "png" else "bmp")

  /** Image corpus with REAL JPEG payloads (the JDK ships a full JPEG
    * codec pair): same synthetic rasters as [[imageCorpus]], encoded
    * lossy. JPEG decode is NOT bit-exact across decoder libraries, so
    * queries over this corpus gate on the decode_ok/dims contract
    * (dims survive lossy round-trips exactly; pixel sums do not) — the
    * honest cross-engine contract for compressed codecs. A spec pins
    * the JDK round-trip (exact dims, pixel sum within lossy
    * tolerance). */
  def jpegCorpus(docs: DataFrame): DataFrame =
    imageCorpusAs(docs, _ => "jpg")

  /** Deterministic INDEXED-COLOR image for `media_id = id`: same dims
    * formula as [[synthImage]], pixel (x, y) holds palette index
    * `(id·31 + x·7 + y·13) mod 256`, and palette entry i is
    * `(i, (i·7) mod 256, (i·13) mod 256)`. Indexed color is what makes
    * GIF — a palette format — LOSSLESS here: the writer stores the
    * palette + indices verbatim instead of quantizing a truecolor
    * raster, so decoded RGB values are closed-form and a codec-less
    * oracle recomputes the exact pixel sum. */
  private[graft] def synthIndexedImage(id: Long): java.awt.image.BufferedImage = {
    require(id >= 0, s"synthIndexedImage needs a non-negative id, got $id")
    val w = (8 + id % 8).toInt
    val h = (8 + id % 5).toInt
    val r = new Array[Byte](256)
    val g = new Array[Byte](256)
    val b = new Array[Byte](256)
    var i = 0
    while (i < 256) {
      r(i) = i.toByte
      g(i) = ((i * 7) % 256).toByte
      b(i) = ((i * 13) % 256).toByte
      i += 1
    }
    val cm = new java.awt.image.IndexColorModel(8, 256, r, g, b)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, ((id * 31 + x * 7 + y * 13) % 256).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Image corpus with REAL GIF payloads through the JDK's own GIF
    * writer — the indexed-color path above keeps the round trip
    * bit-exact, so unlike [[jpegCorpus]] this compressed format gates on
    * full pixel values, not just dims. Closes part of the
    * compressed-codec stub class with zero new dependencies. */
  def gifCorpus(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, "gif", encodeImage(synthIndexedImage(id), "gif"))
        }
      }(enc)
  }

  /** Cross-format DUPLICATE slice for the near-dup composition: every
    * `every`-th image re-encoded in the OTHER lossless container
    * (PNG↔BMP) under `media_id + idOffset`. The decoded rasters are
    * bit-identical to the originals' while the payload bytes are
    * completely different — the duplicate class byte-level exact dedup
    * cannot see and decoded-feature near-dup must. Same per-partition
    * encode shape as [[imageCorpus]]; at scale this models the
    * re-encoded/re-uploaded copies every crawled image corpus carries. */
  def imageCorpusCrossDup(docs: DataFrame, every: Int, idOffset: Long): DataFrame = {
    require(every >= 1 && idOffset > 0, "need every >= 1 and a positive id offset")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .filter(col("media_id") % every === 0)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val fmt = if (id % 2 == 0) "bmp" else "png" // flipped vs imageCorpus
          Row(id + idOffset, fmt, encodeImage(synthImage(id), fmt))
        }
      }(enc)
  }

  /** REAL image decode: `javax.imageio.ImageIO.read` parses the PNG/BMP
    * container and the reported width/height/pixel_sum come from the
    * decoded raster — any codec bug breaks the oracle's closed-form
    * numbers. Same scale shape as [[decodeFeatures]]: per-partition
    * batches, payloads never shuffle. */
  def decodeImages(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("pixel_sum", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("fmt"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.get(2).asInstanceOf[Array[Byte]]
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"payload for media_id=${r.getLong(0)} is not a decodable image")
          Row(r.getLong(0), r.getString(1), img.getWidth.toLong,
            img.getHeight.toLong, pixelSum(img), bytes.length.toLong)
        }
      }(enc)
  }

  /** Perceptual AVERAGE HASH (aHash) of the decoded raster: 8x8
    * nearest-neighbor downsample (`sx = cx·W div 8` — the exact integer
    * sampling [[resizeImages]] uses), per-cell gray = r+g+b (no lossy
    * luma division), threshold at the integer mean (`sum div 64`), bit
    * order row-major — emitted as a 64-char '0'/'1' string so the hash
    * survives any engine's integer width (a 2^63 bit would overflow
    * signed BIGINT arithmetic in the oracle). Equal rasters hash equal
    * regardless of container bytes — the cross-format duplicate class
    * ([[imageCorpusCrossDup]]) byte-level dedup cannot see. Same codec
    * boundary as [[decodeImages]]: per-partition decode, payloads never
    * shuffle; only (media_id, 64-char hash) rows leave the boundary —
    * the hash table is what a corpus-wide image-dedup groupBy runs on. */
  def imageAHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ahash", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.get(1).asInstanceOf[Array[Byte]]))
          require(img != null, s"payload for media_id=${r.getLong(0)} is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          val gray = new Array[Long](64)
          var sum = 0L
          var cy = 0
          while (cy < 8) {
            var cx = 0
            while (cx < 8) {
              val p = img.getRGB(cx * w / 8, cy * h / 8)
              val g = ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
              gray(cy * 8 + cx) = g
              sum += g
              cx += 1
            }
            cy += 1
          }
          val mean = sum / 64
          val sb = new java.lang.StringBuilder(64)
          var i = 0
          while (i < 64) { sb.append(if (gray(i) > mean) '1' else '0'); i += 1 }
          Row(r.getLong(0), sb.toString)
        }
      }(enc)
  }

  /** Fixed integer DCT-II basis: Cq(u, x) = round(cos((2x+1)·u·π/16) ·
    * 1024). Rounding the irrational cosines to 1/1024 units makes the
    * transform EXACT integer arithmetic — any engine inlining the same
    * 64 constants replays identical sums, the cross-engine ladder every
    * float-free operator here rides. */
  private[graft] val dctQ: Array[Array[Long]] =
    Array.tabulate(8, 8)((u, x) =>
      math.round(math.cos((2 * x + 1) * u * math.Pi / 16) * 1024))

  /** DCT PERCEPTUAL hash — the pHash sibling of [[imageAHashes]]: the
    * same 8×8 nearest-neighbor gray raster runs a 2-D integer DCT-II
    * ([[dctQ]]), and the hash is the 15-bit SIGN pattern of the
    * low-frequency block (u, v) ∈ [0, 3]² minus the DC cell — the
    * signature that survives the brightness/contrast shifts which flip
    * an aHash's mean threshold, at the cost of a 64·16-multiply kernel
    * per image. Row-local; payloads never shuffle (the codec-boundary
    * contract). Returns (media_id, phash: long). */
  def imagePHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.get(1).asInstanceOf[Array[Byte]]))
          require(img != null, s"payload for media_id=${r.getLong(0)} is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          val gray = new Array[Long](64)
          var cy = 0
          while (cy < 8) {
            var cx = 0
            while (cx < 8) {
              val p = img.getRGB(cx * w / 8, cy * h / 8)
              gray(cy * 8 + cx) =
                (((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)).toLong
              cx += 1
            }
            cy += 1
          }
          var phash = 0L
          var v = 0
          while (v < 4) {
            var u = 0
            while (u < 4) {
              val idx = v * 4 + u
              if (idx > 0) {
                var d = 0L
                var y = 0
                while (y < 8) {
                  var x = 0
                  while (x < 8) {
                    d += gray(y * 8 + x) * dctQ(u)(x) * dctQ(v)(y)
                    x += 1
                  }
                  y += 1
                }
                if (d > 0) phash |= 1L << (idx - 1)
              }
              u += 1
            }
            v += 1
          }
          Row(r.getLong(0), phash)
        }
      }(enc)
  }

  /** PATCH extraction (the ViT "patchify" primitive): the decoded
    * raster splits into a `grid`×`grid` tile lattice — tile (tx, ty)
    * covers x ∈ [tx·w div grid, (tx+1)·w div grid) (integer bounds, so
    * uneven dims distribute remainder pixels deterministically) — and
    * each tile reports its pixel count and exact gray sum, the stats a
    * patch-level quality/blur gate consumes before embedding. Row-local
    * decode; payloads never shuffle. Returns
    * (media_id, tile_x, tile_y, n_px, gray_sum). */
  def imageTileStats(media: DataFrame, grid: Int): DataFrame = {
    require(grid >= 1, "need grid >= 1")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("tile_x", LongType, nullable = false),
      StructField("tile_y", LongType, nullable = false),
      StructField("n_px", LongType, nullable = false),
      StructField("gray_sum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.get(1).asInstanceOf[Array[Byte]]))
          require(img != null, s"payload for media_id=$id is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          for {
            ty <- 0 until grid
            tx <- 0 until grid
          } yield {
            val (x0, x1) = (tx * w / grid, (tx + 1) * w / grid)
            val (y0, y1) = (ty * h / grid, (ty + 1) * h / grid)
            var s = 0L
            var n = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val p = img.getRGB(x, y)
                s += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
                n += 1
                x += 1
              }
              y += 1
            }
            Row(id, tx.toLong, ty.toLong, n, s)
          }
        }
      }(enc)
  }

  /** PERMISSIVE image decode for dirty corpora: a payload that fails to
    * parse yields `decode_ok = false` with null stats instead of
    * failing the task. At 100 TB corrupt containers are a certainty
    * (truncated uploads, wrong extensions, bit rot) and ONE bad file
    * must not kill a stage-level retry loop; the flagged rows feed the
    * quarantine/repair path. [[decodeImages]] stays the strict
    * contract-checking variant for corpora that guarantee validity. */
  def decodeImagesSafe(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", LongType, nullable = true),
      StructField("height", LongType, nullable = true),
      StructField("pixel_sum", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("fmt"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val fmt = r.getString(1)
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.get(2).asInstanceOf[Array[Byte]]))
            catch { case _: Exception => null } // a corrupt container, not a bug
          if (img == null) Row(id, fmt, false, null, null, null)
          else Row(id, fmt, true, img.getWidth.toLong, img.getHeight.toLong,
            pixelSum(img))
        }
      }(enc)
  }

  /** REAL resize: decode, nearest-neighbor resample to (w, h) with
    * `sx = x·srcW div w` / `sy = y·srcH div h` (exact integer sampling —
    * no interpolation, so the resample is engine-reproducible), then
    * re-encode as PNG. Output pixel_sum/dims describe the RESIZED
    * raster; the payload is the re-encoded container (round-trip pinned
    * in the spec — PNG is lossless, so payload re-decodes to the same
    * pixels). */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    require(w >= 1 && h >= 1, "target dims must be positive")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("pixel_sum", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.get(1).asInstanceOf[Array[Byte]]
          val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(src != null, s"payload for media_id=${r.getLong(0)} is not a decodable image")
          val dst = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            val sy = y * src.getHeight / h
            var x = 0
            while (x < w) {
              dst.setRGB(x, y, src.getRGB(x * src.getWidth / w, sy) & 0xFFFFFF)
              x += 1
            }
            y += 1
          }
          val out = encodeImage(dst, "png")
          Row(r.getLong(0), w.toLong, h.toLong, pixelSum(dst),
            out.length.toLong, out)
        }
      }(enc)
  }

  /** REAL decoded-pixel features for the multimodal→ANN composition:
    * decode the PNG/BMP container and emit
    * `[width, height, r_mean, g_mean, b_mean]` where the channel means
    * are integer floor divisions of the decoded channel sums — every
    * component is a small exact integer (≤ 255 for means), so the
    * float cosine downstream is bit-deterministic (products stay far
    * inside float-exact range, the int8-dot argument). Unlike
    * [[hashFeatures]]' md5 stand-in, these features COME FROM THE
    * DECODED RASTER — the composition `container bytes → codec →
    * feature → cosine top-k` is real at every stage, and the
    * closed-form synthetic pixels keep it oracle-checkable. */
  def imagePixelFeatures(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.get(1).asInstanceOf[Array[Byte]]
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"payload for media_id=${r.getLong(0)} is not a decodable image")
          val w = img.getWidth
          val h = img.getHeight
          var rs = 0L; var gs = 0L; var bs = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          Row(r.getLong(0), Seq(w.toFloat, h.toFloat,
            (rs / n).toFloat, (gs / n).toFloat, (bs / n).toFloat))
        }
      }(enc)
  }

  /** PERMISSIVE decode + features in ONE codec pass — the composition
    * kernel of `pipeline_multimodal`: each payload is decoded exactly
    * once and yields BOTH the quarantine verdict ([[decodeImagesSafe]]'s
    * decode_ok contract: a corrupt container flags, never fails the
    * task) and, for healthy rows, the dims + integer pixel features of
    * [[imagePixelFeatures]] (small exact integers — the downstream
    * float cosine stays bit-deterministic). Running decodeImagesSafe
    * then imagePixelFeatures instead would parse every container twice;
    * at 100 TB the decode IS the dominant cost, so the fused pass
    * halves it, and everything downstream of this boundary is
    * payload-free — container bytes never leave their scan partition. */
  def imagePixelFeaturesSafe(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("width", LongType, nullable = true),
      StructField("height", LongType, nullable = true),
      StructField("feature", ArrayType(FloatType, containsNull = false), nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("fmt"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val fmt = r.getString(1)
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(r.get(2).asInstanceOf[Array[Byte]]))
            catch { case _: Exception => null } // a corrupt container, not a bug
          if (img == null) Row(id, fmt, false, null, null, null)
          else {
            val w = img.getWidth
            val h = img.getHeight
            var rs = 0L; var gs = 0L; var bs = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                rs += (p >> 16) & 0xFF; gs += (p >> 8) & 0xFF; bs += p & 0xFF
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            Row(id, fmt, true, w.toLong, h.toLong,
              Seq(w.toFloat, h.toFloat, (rs / n).toFloat, (gs / n).toFloat, (bs / n).toFloat))
          }
        }
      }(enc)
  }

  // ---- REAL video path (uncompressed RIFF/AVI, plain byte arithmetic) ----
  //
  // The JDK ships no video CODEC, but uncompressed AVI needs none: it is
  // a RIFF container whose '00db' chunks hold raw bottom-up BGR rasters
  // (the BMP pixel layout). Writing and parsing it is pure byte
  // arithmetic, so frame SEEKING — the part frameSampleStub faked — is
  // real here: the idx1 index jumps straight to a sampled frame's chunk
  // without touching the others. Compressed codecs (H.264 etc.) remain
  // out of scope; swapping one in changes only the raster read.

  /** Deterministic frame `f` of video `media_id = id`: same closed-form
    * recipe as [[synthImage]] with a frame term, so the codec-less
    * oracle recomputes every sampled frame's pixel sum. */
  private[graft] def synthFrame(id: Long, f: Int): java.awt.image.BufferedImage = {
    require(id >= 0 && f >= 0, s"need non-negative id/frame, got ($id, $f)")
    val w = (8 + id % 8).toInt
    val h = (8 + id % 5).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + f * 41 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + f * 29 + x * 11 + y * 3) % 256).toInt
        val b = ((id * 13 + f * 23 + x * 5 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private def putFourcc(bb: java.nio.ByteBuffer, s: String): Unit =
    bb.put(s.getBytes("US-ASCII"))
  private def fourccAt(bytes: Array[Byte], pos: Int): String =
    new String(bytes, pos, 4, "US-ASCII")

  /** Encode frames as an uncompressed RIFF/AVI: standard hdrl
    * (avih + strh('vids'/'DIB ') + strf BITMAPINFOHEADER, BI_RGB 24-bit),
    * one '00db' raw-DIB chunk per frame in the movi list (bottom-up BGR
    * rows padded to 4 bytes), and an idx1 keyframe index with offsets
    * relative to the 'movi' fourcc — the layout any AVI reader expects
    * for DIB video. */
  private[graft] def encodeAvi(frames: Seq[java.awt.image.BufferedImage],
      fps: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "encodeAvi needs at least one frame")
    val w = frames.head.getWidth
    val h = frames.head.getHeight
    require(frames.forall(f => f.getWidth == w && f.getHeight == h),
      "all frames must share dimensions")
    val n = frames.size
    val rowBytes = (w * 3 + 3) & ~3
    // RIFF sizes are 32-bit: guard in Long arithmetic BEFORE narrowing,
    // or a large raster would overflow silently into a negative chunk
    // size (classic AVI caps at 2 GiB; longer videos chunk upstream)
    val frameBytesL = rowBytes.toLong * h
    val strlSize = 4 + (8 + 56) + (8 + 40)      // 'strl' + strh + strf
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize) // 'hdrl' + avih + LIST strl
    val moviSizeL = 4L + n * (8 + frameBytesL)   // 'movi' + 00db chunks
    val riffSizeL = 4L + (8 + hdrlSize) + (8 + moviSizeL) + (8 + 16L * n)
    require(riffSizeL <= Int.MaxValue - 8,
      s"AVI payload would be ${riffSizeL + 8} bytes — RIFF sizes are 32-bit; " +
        "split the video into shorter containers upstream")
    val frameBytes = frameBytesL.toInt
    val moviSize = moviSizeL.toInt
    val riffSize = riffSizeL.toInt
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    putFourcc(bb, "RIFF"); bb.putInt(riffSize); putFourcc(bb, "AVI ")
    putFourcc(bb, "LIST"); bb.putInt(hdrlSize); putFourcc(bb, "hdrl")
    putFourcc(bb, "avih"); bb.putInt(56)
    bb.putInt(1000000 / fps); bb.putInt(frameBytes * fps); bb.putInt(0)
    bb.putInt(0x10) // AVIF_HASINDEX
    bb.putInt(n); bb.putInt(0); bb.putInt(1); bb.putInt(frameBytes)
    bb.putInt(w); bb.putInt(h)
    (0 until 4).foreach(_ => bb.putInt(0))
    putFourcc(bb, "LIST"); bb.putInt(strlSize); putFourcc(bb, "strl")
    putFourcc(bb, "strh"); bb.putInt(56)
    putFourcc(bb, "vids"); putFourcc(bb, "DIB ")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1); bb.putInt(fps) // dwScale / dwRate
    bb.putInt(0); bb.putInt(n); bb.putInt(frameBytes)
    bb.putInt(-1); bb.putInt(0)
    bb.putShort(0); bb.putShort(0); bb.putShort(w.toShort); bb.putShort(h.toShort)
    putFourcc(bb, "strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(w); bb.putInt(h)
    bb.putShort(1); bb.putShort(24)
    bb.putInt(0) // BI_RGB
    bb.putInt(frameBytes)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    putFourcc(bb, "LIST"); bb.putInt(moviSize); putFourcc(bb, "movi")
    val moviFourccPos = bb.position() - 4
    val offsets = new Array[Int](n)
    frames.zipWithIndex.foreach { case (img, i) =>
      offsets(i) = bb.position() - moviFourccPos
      putFourcc(bb, "00db"); bb.putInt(frameBytes)
      var y = h - 1
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          bb.put((p & 0xFF).toByte)
          bb.put(((p >> 8) & 0xFF).toByte)
          bb.put(((p >> 16) & 0xFF).toByte)
          x += 1
        }
        var pad = rowBytes - w * 3
        while (pad > 0) { bb.put(0.toByte); pad -= 1 }
        y -= 1
      }
    }
    putFourcc(bb, "idx1"); bb.putInt(16 * n)
    offsets.foreach { off =>
      putFourcc(bb, "00db"); bb.putInt(0x10); bb.putInt(off); bb.putInt(frameBytes)
    }
    bb.array()
  }

  /** Parsed AVI structure: dims, frame count, and the idx1 seek table. */
  private[graft] final case class AviIndex(width: Int, height: Int, nFrames: Int,
      moviPos: Int, frameOffsets: Array[Int], frameSizes: Array[Int])

  /** Parse the RIFF chunk tree: avih supplies dims/frame count, idx1 the
    * per-frame chunk offsets (relative to the 'movi' fourcc). One linear
    * walk over top-level chunks — frame payloads are NOT touched here;
    * seeking reads only the sampled chunks. */
  private[graft] def parseAvi(bytes: Array[Byte]): AviIndex = {
    require(bytes.length >= 12 && fourccAt(bytes, 0) == "RIFF" &&
      fourccAt(bytes, 8) == "AVI ", "payload is not a RIFF AVI")
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var w = -1; var h = -1; var n = -1; var moviPos = -1; var idxPos = -1
    while (pos + 8 <= bytes.length) {
      val id = fourccAt(bytes, pos)
      val sz = bb.getInt(pos + 4)
      // untrusted 32-bit size: a negative value would stall the walk
      // (pos += 8 + sz + pad stops advancing) — corrupt payloads must
      // THROW so the Safe variants can quarantine them; a hang is the
      // one failure mode a try/catch cannot contain
      require(sz >= 0, s"corrupt RIFF chunk size $sz at offset $pos")
      if (id == "LIST") {
        val listType = fourccAt(bytes, pos + 8)
        if (listType == "hdrl") {
          require(fourccAt(bytes, pos + 12) == "avih", "hdrl must start with avih")
          n = bb.getInt(pos + 12 + 8 + 16)
          w = bb.getInt(pos + 12 + 8 + 32)
          h = bb.getInt(pos + 12 + 8 + 36)
        } else if (listType == "movi") moviPos = pos + 8
      } else if (id == "idx1") idxPos = pos + 8
      pos += 8 + sz + (sz & 1) // RIFF chunks pad to even sizes
    }
    require(w > 0 && h > 0 && n >= 0 && moviPos > 0 && idxPos > 0,
      s"missing AVI structures (w=$w h=$h n=$n movi=$moviPos idx1=$idxPos)")
    val offs = new Array[Int](n)
    val sizes = new Array[Int](n)
    var i = 0
    while (i < n) {
      offs(i) = bb.getInt(idxPos + 16 * i + 8)
      sizes(i) = bb.getInt(idxPos + 16 * i + 12)
      i += 1
    }
    AviIndex(w, h, n, moviPos, offs, sizes)
  }

  /** Index-seek to frame `f` and sum its BGR channels straight off the
    * raw DIB raster (row padding skipped). Only this frame's bytes are
    * read — the seek is the point. */
  private[graft] def aviFramePixelSum(bytes: Array[Byte], idx: AviIndex, f: Int): Long = {
    require(f >= 0 && f < idx.nFrames, s"frame $f out of range [0, ${idx.nFrames})")
    val chunkPos = idx.moviPos + idx.frameOffsets(f)
    require(fourccAt(bytes, chunkPos) == "00db",
      s"frame $f index points at '${fourccAt(bytes, chunkPos)}', not raw DIB")
    val data = chunkPos + 8
    val rowBytes = (idx.width * 3 + 3) & ~3
    var s = 0L
    var y = 0
    while (y < idx.height) {
      val row = data + y.toLong * rowBytes
      var x = 0
      while (x < idx.width * 3) {
        s += bytes((row + x).toInt) & 0xFF
        x += 1
      }
      y += 1
    }
    s
  }

  /** Video corpus with REAL container payloads: `2 + id % 4` synthetic
    * frames per video, encoded as uncompressed AVI. Per-partition
    * encoding, payloads carried as genuine container bytes. */
  def videoCorpus(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = (2 + id % 4).toInt
          Row(id, n.toLong, encodeAvi((0 until n).map(f => synthFrame(id, f))))
        }
      }(enc)
  }

  /** REAL frame sampling: parse the AVI header once per video, then
    * index-SEEK to every `everyNth` frame and decode only those rasters
    * — the stub's byte-slice fake replaced by genuine container
    * navigation. Same scale shape as the image path: per-partition
    * batches, payloads never shuffle, only the per-frame numbers leave
    * the codec boundary. */
  def sampleVideoFrames(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1, "everyNth must be positive")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("pixel_sum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.get(1).asInstanceOf[Array[Byte]]
          val idx = parseAvi(bytes)
          (0 until idx.nFrames by everyNth).iterator.map { f =>
            Row(id, f.toLong, idx.width.toLong, idx.height.toLong,
              aviFramePixelSum(bytes, idx, f))
          }
        }
      }(enc)
  }

  // ---- REAL compressed animation: multi-frame (animated) GIF ----
  //
  // The JDK's GIF codec pair also speaks SEQUENCES (ImageWriter
  // prepareWriteSequence / ImageReader getNumImages), and with
  // indexed-color frames the compression is lossless — so unlike
  // MJPEG-in-AVI (dims-only contract, JPEG is lossy) animated-GIF frame
  // sampling is value-gated on EXACT per-frame pixel sums: a genuinely
  // compressed multi-frame container, decoded bit-exactly, zero new
  // dependencies.

  /** Frame `f` of animated GIF `media_id = id`: [[synthIndexedImage]]'s
    * palette with a frame term in the index formula —
    * index(x, y) = (id·31 + f·41 + x·7 + y·13) mod 256. */
  private[graft] def synthIndexedFrame(id: Long, f: Int): java.awt.image.BufferedImage = {
    require(id >= 0 && f >= 0, s"need non-negative id/frame, got ($id, $f)")
    val base = synthIndexedImage(id)
    val raster = base.getRaster
    var y = 0
    while (y < base.getHeight) {
      var x = 0
      while (x < base.getWidth) {
        raster.setSample(x, y, 0, ((id * 31 + f * 41 + x * 7 + y * 13) % 256).toInt)
        x += 1
      }
      y += 1
    }
    base
  }

  /** Encode frames as ONE animated GIF through the JDK writer's
    * sequence API. Frames share dims and palette (ours always do). */
  private[graft] def encodeGifAnimated(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "encodeGifAnimated needs at least one frame")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { img =>
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** Animated-GIF corpus: `2 + id % 4` indexed-color frames per id. */
  def gifVideoCorpus(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = (2 + id % 4).toInt
          Row(id, n.toLong,
            encodeGifAnimated((0 until n).map(f => synthIndexedFrame(id, f))))
        }
      }(enc)
  }

  /** Scene-frame synth: frames group into length-3 SCENES — the palette
    * index at (x, y) of frame f is
    * (id·31 + (f div 3)·97 + x·7 + y·13) mod 256, plus a per-frame +f
    * jitter at pixel (0, 0) only. Within a scene frames differ in ONE
    * pixel (per-pixel mean delta ≤ 10.4 measured over every (id, f) at
    * sf0.1) while boundaries jump the whole raster by 97 palette steps
    * (≥ 91.4 per pixel) — a hard cut with a 4× separation margin on
    * both sides of the τ = 40 gate, closed-form for the codec-less
    * oracle. */
  private[graft] def synthSceneFrame(id: Long, f: Int): java.awt.image.BufferedImage = {
    require(id >= 0 && f >= 0, s"need non-negative id/frame, got ($id, $f)")
    val base = synthIndexedImage(id)
    val raster = base.getRaster
    var y = 0
    while (y < base.getHeight) {
      var x = 0
      while (x < base.getWidth) {
        val jitter = if (x == 0 && y == 0) f else 0
        raster.setSample(x, y, 0,
          ((id * 31 + (f / 3) * 97 + x * 7 + y * 13 + jitter) % 256).toInt)
        x += 1
      }
      y += 1
    }
    base
  }

  /** Scene-structured animated-GIF corpus: `6 + id % 4` frames per id
    * (2-3 length-3 scenes) of [[synthSceneFrame]] rasters. */
  def gifSceneCorpus(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = (6 + id % 4).toInt
          Row(id, n.toLong,
            encodeGifAnimated((0 until n).map(f => synthSceneFrame(id, f))))
        }
      }(enc)
  }

  /** SHOT-BOUNDARY (scene cut) detection over a compressed multi-frame
    * container — the video-curation primitive that decides where a clip
    * splits before frame sampling / captioning. Consecutive DECODED
    * frames are compared by the exact integer sum of absolute gray
    * deltas (gray = r+g+b through the color model; indexed GIF is
    * lossless, so both engines reproduce the metric bit-for-bit), and
    * frame f opens a new scene when its mean per-pixel delta exceeds
    * `tau` — the integer compare `diff_sum > tau · npixels`, no float
    * ratio. Row-local: one reader per container, frames decode
    * sequentially retaining only the previous frame's gray raster;
    * payloads never cross an Exchange (the codec-boundary contract).
    * Emits (media_id, frame_no ≥ 1, diff_sum, is_cut). */
  def detectSceneCuts(media: DataFrame, tau: Long): DataFrame = {
    require(tau >= 0, "need tau >= 0")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", LongType, nullable = false),
      StructField("diff_sum", LongType, nullable = false),
      StructField("is_cut", org.apache.spark.sql.types.BooleanType,
        nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.get(1).asInstanceOf[Array[Byte]]
          val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            require(n >= 1, s"payload for media_id=$id holds no GIF frames")
            def grays(f: Int): Array[Int] = {
              val img = reader.read(f)
              val out = new Array[Int](img.getWidth * img.getHeight)
              var i = 0
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val p = img.getRGB(x, y)
                  out(i) = ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
                  i += 1
                  x += 1
                }
                y += 1
              }
              out
            }
            var prev = grays(0)
            // materialized inside the try (the sampleGifFrames contract)
            (1 until n).map { f =>
              val cur = grays(f)
              var s = 0L
              var i = 0
              while (i < cur.length) {
                s += math.abs(cur(i) - prev(i)).toLong
                i += 1
              }
              prev = cur
              Row(id, f.toLong, s, s > tau * cur.length)
            }
          } finally {
            reader.dispose()
            iis.close()
          }
        }
      }(enc)
  }

  /** REAL animated-GIF frame sampling: one ImageReader per container,
    * `getNumImages` for the frame count, `read(f)` decodes only the
    * sampled frames. Lossless indexed color → the emitted pixel sums are
    * exact and closed-form (the [[sampleVideoFrames]] contract for a
    * genuinely COMPRESSED container). Same codec-boundary shape:
    * per-partition batches, payloads never shuffle. */
  def sampleGifFrames(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1, "everyNth must be positive")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_no", LongType, nullable = false),
      StructField("width", LongType, nullable = false),
      StructField("height", LongType, nullable = false),
      StructField("pixel_sum", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.get(1).asInstanceOf[Array[Byte]]
          val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            require(n >= 1, s"payload for media_id=$id holds no GIF frames")
            // materialized inside the try: the reader/stream close in
            // finally, so a lazy iterator would read from a closed stream
            (0 until n by everyNth).map { f =>
              val img = reader.read(f)
              Row(id, f.toLong, img.getWidth.toLong, img.getHeight.toLong,
                pixelSum(img))
            }
          } finally {
            reader.dispose()
            iis.close()
          }
        }
      }(enc)
  }

  // ---- REAL compressed video: MJPEG-in-AVI ----
  //
  // Motion-JPEG is the one compressed VIDEO codec a bare JVM can truly
  // decode: each frame is an independent JPEG in a '00dc' chunk, so the
  // existing AVI chunk walk does the seeking and the JDK's JPEG codec
  // does the decoding — genuinely-decoded compressed video frames with
  // zero new dependencies. Like all lossy paths, the cross-engine gate
  // is decode_ok/dims (dims survive lossy round trips exactly); the
  // JDK round trip's pixel fidelity is spec-pinned with a tolerance.

  /** Encode frames as an MJPEG AVI: same RIFF skeleton as [[encodeAvi]]
    * but per-frame JPEG payloads in '00dc' chunks (variable-size, padded
    * to even), handler/compression fourcc 'MJPG'. */
  private[graft] def encodeAviMjpeg(frames: Seq[java.awt.image.BufferedImage],
      fps: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "encodeAviMjpeg needs at least one frame")
    val w = frames.head.getWidth
    val h = frames.head.getHeight
    require(frames.forall(f => f.getWidth == w && f.getHeight == h),
      "all frames must share dimensions")
    val jpegs = frames.map(encodeImage(_, "jpg"))
    val n = jpegs.size
    val maxFrame = jpegs.map(_.length).max
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSizeL = 4L + jpegs.map(j => 8L + j.length + (j.length & 1)).sum
    val riffSizeL = 4L + (8 + hdrlSize) + (8 + moviSizeL) + (8 + 16L * n)
    require(riffSizeL <= Int.MaxValue - 8,
      s"AVI payload would be ${riffSizeL + 8} bytes — RIFF sizes are 32-bit; " +
        "split the video into shorter containers upstream")
    val moviSize = moviSizeL.toInt
    val riffSize = riffSizeL.toInt
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    putFourcc(bb, "RIFF"); bb.putInt(riffSize); putFourcc(bb, "AVI ")
    putFourcc(bb, "LIST"); bb.putInt(hdrlSize); putFourcc(bb, "hdrl")
    putFourcc(bb, "avih"); bb.putInt(56)
    bb.putInt(1000000 / fps); bb.putInt(maxFrame * fps); bb.putInt(0)
    bb.putInt(0x10) // AVIF_HASINDEX
    bb.putInt(n); bb.putInt(0); bb.putInt(1); bb.putInt(maxFrame)
    bb.putInt(w); bb.putInt(h)
    (0 until 4).foreach(_ => bb.putInt(0))
    putFourcc(bb, "LIST"); bb.putInt(strlSize); putFourcc(bb, "strl")
    putFourcc(bb, "strh"); bb.putInt(56)
    putFourcc(bb, "vids"); putFourcc(bb, "MJPG")
    bb.putInt(0); bb.putInt(0); bb.putInt(0)
    bb.putInt(1); bb.putInt(fps) // dwScale / dwRate
    bb.putInt(0); bb.putInt(n); bb.putInt(maxFrame)
    bb.putInt(-1); bb.putInt(0)
    bb.putShort(0); bb.putShort(0); bb.putShort(w.toShort); bb.putShort(h.toShort)
    putFourcc(bb, "strf"); bb.putInt(40)
    bb.putInt(40); bb.putInt(w); bb.putInt(h)
    bb.putShort(1); bb.putShort(24)
    putFourcc(bb, "MJPG") // biCompression
    bb.putInt(maxFrame)
    bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
    putFourcc(bb, "LIST"); bb.putInt(moviSize); putFourcc(bb, "movi")
    val moviFourccPos = bb.position() - 4
    val offsets = new Array[Int](n)
    jpegs.zipWithIndex.foreach { case (jpg, i) =>
      offsets(i) = bb.position() - moviFourccPos
      putFourcc(bb, "00dc"); bb.putInt(jpg.length)
      bb.put(jpg)
      if ((jpg.length & 1) == 1) bb.put(0.toByte) // RIFF even padding
    }
    putFourcc(bb, "idx1"); bb.putInt(16 * n)
    offsets.zip(jpegs).foreach { case (off, jpg) =>
      putFourcc(bb, "00dc"); bb.putInt(0x10); bb.putInt(off); bb.putInt(jpg.length)
    }
    bb.array()
  }

  /** Index-seek to MJPEG frame `f` and DECODE its JPEG through the JDK
    * codec, returning the decoded raster's (width, height). Only this
    * frame's chunk bytes are touched. */
  private[graft] def aviFrameJpegDims(bytes: Array[Byte], idx: AviIndex,
      f: Int): (Int, Int) = {
    require(f >= 0 && f < idx.nFrames, s"frame $f out of range [0, ${idx.nFrames})")
    val chunkPos = idx.moviPos + idx.frameOffsets(f)
    require(fourccAt(bytes, chunkPos) == "00dc",
      s"frame $f index points at '${fourccAt(bytes, chunkPos)}', not a compressed chunk")
    val sz = idx.frameSizes(f)
    require(sz > 0 && chunkPos + 8 + sz <= bytes.length,
      s"frame $f chunk size $sz exceeds payload")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes, chunkPos + 8, sz))
    require(img != null, s"frame $f chunk is not a decodable JPEG")
    (img.getWidth, img.getHeight)
  }

  /** MJPEG video corpus: `2 + id % 4` synthetic frames per video,
    * JPEG-encoded into a genuine MJPEG AVI container. */
  def videoCorpusMjpeg(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = (2 + id % 4).toInt
          Row(id, n.toLong, encodeAviMjpeg((0 until n).map(f => synthFrame(id, f))))
        }
      }(enc)
  }

  /** PERMISSIVE MJPEG frame sampling: parse the AVI index, seek to every
    * `everyNth` '00dc' chunk, and JPEG-DECODE it (the codec pass —
    * [[sampleVideoFrames]] only walks raw rasters); a corrupt container
    * yields ONE `decode_ok = false` row. Dims come from the DECODED
    * raster, so the gate proves the full compressed path: container
    * seek → JPEG codec → raster. */
  def sampleVideoFramesMjpegSafe(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1, "everyNth must be positive")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("frame_no", LongType, nullable = true),
      StructField("width", LongType, nullable = true),
      StructField("height", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          try {
            val bytes = r.get(1).asInstanceOf[Array[Byte]]
            val idx = parseAvi(bytes)
            // materialized inside the try — same quarantine reasoning as
            // sampleVideoFramesSafe (bit-rot under an intact header must
            // flag, not fail the task); bounded to one container's frames
            (0 until idx.nFrames by everyNth).map { f =>
              val (w, h) = aviFrameJpegDims(bytes, idx, f)
              Row(id, true, f.toLong, w.toLong, h.toLong)
            }.iterator
          } catch {
            case _: Exception => Iterator.single(Row(id, false, null, null, null))
          }
        }
      }(enc)
  }

  // ---- REAL audio path (PCM WAV via the JDK's javax.sound.sampled) ----
  //
  // Same reasoning as AVI: the JDK ships no COMPRESSED audio codec, but
  // PCM WAV needs none — and unlike AVI, the JDK even ships the
  // container reader/writer (`AudioSystem`), so both directions go
  // through a genuine platform codec API, exactly like ImageIO for
  // images.

  /** Deterministic int16 PCM signal for `media_id = id`: `64 + id % 64`
    * samples, sample i = ((id·31 + i·17) mod 2003) − 1001 — closed form,
    * so the oracle recomputes amplitude statistics without a decoder. */
  private[graft] def synthSamples(id: Long): Array[Short] = {
    require(id >= 0, s"synthSamples needs a non-negative id, got $id")
    val n = (64 + id % 64).toInt
    Array.tabulate(n)(i => (((id * 31 + i * 17) % 2003) - 1001).toShort)
  }

  /** Encode mono 16-bit little-endian PCM as a WAV container through
    * `AudioSystem.write` — the JDK's own audio file codec. */
  private[graft] def encodeWav(samples: Array[Short],
      sampleRate: Float = 8000f): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1,
      true /* signed */, false /* little-endian */)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xFF).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Decode a WAV payload back to (sampleRate, samples) through
    * `AudioSystem.getAudioInputStream` — header parsing, chunk walking
    * and format negotiation are the JDK's, not ours. */
  private[graft] def decodeWav(bytes: Array[Byte]): (Float, Array[Short]) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val f = ais.getFormat
    require(f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian,
      s"expected mono 16-bit LE PCM, got $f")
    val raw = ais.readAllBytes()
    val n = raw.length / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      samples(i) = ((raw(2 * i) & 0xFF) | (raw(2 * i + 1) << 8)).toShort
      i += 1
    }
    (f.getSampleRate, samples)
  }

  /** Audio corpus with REAL WAV payloads (per-partition encode, genuine
    * container bytes — the audio twin of [[imageCorpus]]). */
  def audioCorpus(docs: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    docs.select(col("doc_id").cast(LongType).as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, encodeWav(synthSamples(id)))
        }
      }(enc)
  }

  /** REAL audio decode: `AudioSystem` parses the WAV and the reported
    * rate/count/amplitude statistics come from the decoded samples — a
    * wrong header parse or byte order breaks the oracle's closed-form
    * numbers. Per-partition batches; payloads never shuffle. */
  def decodeAudio(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("sample_rate", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("amp_sum", LongType, nullable = false),
      StructField("peak", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (rate, samples) = decodeWav(r.get(1).asInstanceOf[Array[Byte]])
          var s = 0L
          var peak = 0L
          var i = 0
          while (i < samples.length) {
            val a = math.abs(samples(i).toLong)
            s += a
            if (a > peak) peak = a
            i += 1
          }
          Row(r.getLong(0), rate.toLong, samples.length.toLong, s, peak)
        }
      }(enc)
  }

  /** Frame-energy ACTIVITY gating over decoded audio — the
    * voice-activity-detection shape a speech-corpus pipeline runs to
    * drop silent/dead clips and locate speech onsets: the decoded sample
    * stream is cut into fixed `frameLen` windows, each frame's energy is
    * the exact integer Σ sample² (fits a long: 32767² × frame ≪ 2⁶³),
    * and a frame is ACTIVE when energy ≥ threshold. Emits per clip the
    * full-frame count, active count, first active frame (−1 if none)
    * and the active ratio in integer basis points. The trailing partial
    * frame is ignored (frames = n_samples div frameLen — the fixed-hop
    * convention). Same per-partition decode discipline as
    * [[decodeAudio]]: payloads never shuffle, one codec parse per
    * clip. */
  def audioFrameActivity(media: DataFrame, frameLen: Int,
      energyThreshold: Long): DataFrame = {
    require(frameLen >= 1 && energyThreshold >= 0)
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_frames", LongType, nullable = false),
      StructField("n_active", LongType, nullable = false),
      StructField("first_active", LongType, nullable = false),
      StructField("active_bp", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (_, samples) = decodeWav(r.get(1).asInstanceOf[Array[Byte]])
          val nFrames = samples.length / frameLen
          var active = 0L
          var first = -1L
          var f = 0
          while (f < nFrames) {
            var e = 0L
            var i = f * frameLen
            val end = i + frameLen
            while (i < end) {
              val a = samples(i).toLong
              e += a * a
              i += 1
            }
            if (e >= energyThreshold) {
              active += 1
              if (first < 0) first = f.toLong
            }
            f += 1
          }
          val bp = if (nFrames == 0) 0L else active * 10000L / nFrames
          Row(r.getLong(0), nFrames.toLong, active, first, bp)
        }
      }(enc)
  }

  /** Audio RESAMPLE (decimate-by-2 with a 2-tap mean low-pass): decoded
    * samples pair up as y_j = (x_{2j} + x_{2j+1}) div 2 (truncating
    * integer mean — identical toward-zero semantics in both engines), a
    * trailing odd sample drops. The downsample every speech pipeline
    * runs before feature extraction, gated on the decimated stream's
    * exact count/amplitude/peak statistics. Row-local; payloads never
    * shuffle. */
  def resampleAudioHalf(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_out", LongType, nullable = false),
      StructField("amp_sum", LongType, nullable = false),
      StructField("peak", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (_, samples) = decodeWav(r.get(1).asInstanceOf[Array[Byte]])
          val nOut = samples.length / 2
          var s = 0L
          var peak = 0L
          var j = 0
          while (j < nOut) {
            val y = (samples(2 * j) + samples(2 * j + 1)) / 2
            val a = math.abs(y.toLong)
            s += a
            if (a > peak) peak = a
            j += 1
          }
          Row(r.getLong(0), nOut.toLong, s, peak)
        }
      }(enc)
  }

  /** Loudness / clipping QC over REALLY-decoded audio — the gain-staging
    * audit a speech-corpus pipeline runs before training on found audio:
    * per clip, the peak amplitude, the count of INDIVIDUAL samples whose
    * magnitude is at/above the clip threshold (a per-sample census, not a
    * consecutive-run detector — runs-of-full-scale detection would be the
    * stricter clipped-capture test), and the exact integer energy Σa²
    * (RMS is derived at the query boundary). Same per-partition decode shape as [[decodeAudio]];
    * payloads never shuffle. */
  def audioLoudness(media: DataFrame, clipThreshold: Long): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("n_clipped", LongType, nullable = false),
      StructField("energy", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (_, samples) = decodeWav(r.get(1).asInstanceOf[Array[Byte]])
          var peak = 0L; var clipped = 0L; var energy = 0L; var i = 0
          while (i < samples.length) {
            val a = math.abs(samples(i).toLong)
            if (a > peak) peak = a
            if (a >= clipThreshold) clipped += 1
            energy += a * a
            i += 1
          }
          Row(r.getLong(0), samples.length.toLong, peak, clipped, energy)
        }
      }(enc)
  }

  /** Permissive twin of [[decodeAudio]] — the [[decodeImagesSafe]]
    * quarantine contract for WAV payloads: unparseable containers come
    * back `decode_ok = false` with null stats, never a task failure. */
  def decodeAudioSafe(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("sample_rate", LongType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("amp_sum", LongType, nullable = true),
      StructField("peak", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          try {
            val (rate, samples) = decodeWav(r.get(1).asInstanceOf[Array[Byte]])
            var s = 0L; var peak = 0L; var i = 0
            while (i < samples.length) {
              val a = math.abs(samples(i).toLong)
              s += a; if (a > peak) peak = a; i += 1
            }
            Row(id, true, rate.toLong, samples.length.toLong, s, peak)
          } catch {
            case _: Exception => Row(id, false, null, null, null, null)
          }
        }
      }(enc)
  }

  /** Permissive twin of [[sampleVideoFrames]]: a corrupt AVI yields ONE
    * `decode_ok = false` row (null frame stats) instead of failing the
    * task; healthy containers emit their sampled frames flagged true. */
  def sampleVideoFramesSafe(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1, "everyNth must be positive")
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("decode_ok", BooleanType, nullable = false),
      StructField("frame_no", LongType, nullable = true),
      StructField("width", LongType, nullable = true),
      StructField("height", LongType, nullable = true),
      StructField("pixel_sum", LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          try {
            val bytes = r.get(1).asInstanceOf[Array[Byte]]
            val idx = parseAvi(bytes)
            // materialize INSIDE the try: a lazy iterator would run
            // aviFramePixelSum during downstream consumption, outside
            // this catch — bit-rot in movi data under an intact header
            // (bad fourcc, out-of-range index) would then fail the task
            // instead of quarantining. Bounded: sampled frames of ONE
            // container, a handful of Rows.
            (0 until idx.nFrames by everyNth).map { f =>
              Row(id, true, f.toLong, idx.width.toLong, idx.height.toLong,
                aviFramePixelSum(bytes, idx, f))
            }.iterator
          } catch {
            case _: Exception => Iterator.single(Row(id, false, null, null, null, null))
          }
        }
      }(enc)
  }

  /** Per-partition batched decode: the mapPartitions boundary is where a
    * real pipeline hands row batches to a native decoder. Partition count
    * governs decoder parallelism; payloads never shuffle. */
  def decodeFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select(col("media_id"), col("modality"), col("payload"))
      .mapPartitions { rows =>
        // batch shape: pull the whole partition iterator through one
        // decoder session (amortizes per-batch codec/digest setup)
        val digest = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          decodeStub(r.getLong(0), r.getString(1),
            r.get(2) match { case b: Array[Byte] => b; case _ => null }, dim, digest)
        }
      }(enc)
  }
}
