package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column support: treat image/audio/video payloads as opaque
  * `binary` columns plus a typed metadata struct, and run decode /
  * feature-extraction as a batched partition-level pipeline (the Scala
  * analog of `mapInPandas`: one iterator per partition, work proceeds in
  * batches, schema declared up front).
  *
  * Image payloads are decoded for REAL: [[decodeHeader]] asks the JRE's
  * `javax.imageio` registry for a reader claiming the byte stream (PNG,
  * JPEG, GIF, BMP, WBMP in a stock JRE) and reads width/height/components
  * from the header — no full pixel decode, so cost stays proportional to
  * header size, not image size. Payloads no reader recognizes (or other
  * media types — audio/video codecs are not in the JRE) fall back to
  * [[decodeStub]], which derives deterministic pseudo-dimensions so the
  * pipeline stays total and oracle-testable on synthetic corpora.
  *
  * The `mapPartitions` shape is DELIBERATE even where an expression could
  * compute the fallback arithmetic: a codec is imperative per-batch work
  * that cannot be a Catalyst expression, and the point of this operator is
  * to pin down that production shape (schema contract, batching, memory
  * bounds).
  */
object Multimodal {

  /** Output schema of the feature extractor (declared up front, exactly like
    * a mapInPandas schema contract). */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("channels", LongType, nullable = false)))

  /** Strong magic-number check gating the ImageIO probe. The JDK registry
    * also ships readers with WEAK signatures (BMP sniffs only the 2-byte
    * `BM`, WBMP a leading type byte) that would happily claim text
    * payloads and "decode" garbage dimensions from them — so only formats
    * whose magic is long enough to be unambiguous are handed to a reader.
    */
  private def looksLikeImage(p: Array[Byte]): Boolean = {
    def at(i: Int, b: Int) = i < p.length && p(i) == b.toByte
    // PNG: 89 50 4E 47 0D 0A 1A 0A
    (at(0, 0x89) && at(1, 0x50) && at(2, 0x4e) && at(3, 0x47) &&
      at(4, 0x0d) && at(5, 0x0a) && at(6, 0x1a) && at(7, 0x0a)) ||
    // JPEG: FF D8 FF
    (at(0, 0xff) && at(1, 0xd8) && at(2, 0xff)) ||
    // GIF87a / GIF89a
    (at(0, 'G') && at(1, 'I') && at(2, 'F') && at(3, '8') &&
      (at(4, '7') || at(4, '9')) && at(5, 'a'))
  }

  /** Real image-header decode via the `javax.imageio` reader registry:
    * width/height straight from the container header and channel count from
    * the reader's raw image type — pixels are never decoded. Returns None
    * when the payload lacks a strong image magic ([[looksLikeImage]]) or no
    * installed reader claims it. The stream is an explicit
    * `MemoryCacheImageInputStream` — the `ImageIO.createImageInputStream`
    * default spools every payload through a disk temp file, which would
    * turn the per-row header sniff into file I/O.
    */
  private def decodeHeader(payload: Array[Byte]): Option[(Long, Long, Long)] = {
    if (!looksLikeImage(payload)) return None
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis, true, true)
          val w = r.getWidth(0).toLong
          val h = r.getHeight(0).toLong
          val types = r.getImageTypes(0)
          val channels =
            if (types.hasNext) types.next().getNumComponents.toLong else 3L
          Some((w, h, channels))
        } finally r.dispose()
      }
    } catch {
      case scala.util.control.NonFatal(_) => None // truncated/corrupt header
    } finally iis.close()
  }

  /** Fallback decode for payloads [[decodeHeader]] cannot claim: derives
    * deterministic pseudo-dimensions from an md5 of the payload, keeping
    * the pipeline total and oracle-testable on synthetic (non-image)
    * corpora.
    */
  private def decodeStub(payload: Array[Byte]): (Long, Long, Long) = {
    val hex = md5Hex(payload)
    val width = java.lang.Long.parseLong(hex.substring(0, 4), 16) % 1024
    val height = java.lang.Long.parseLong(hex.substring(4, 8), 16) % 1024
    (width, height, 3L)
  }

  // ------------------------------------------------------------- audio

  /** Output schema of [[extractAudioFeatures]] (declared up front like
    * [[featureSchema]]). `frames` is the container's frame count
    * (`AudioFileFormat.getFrameLength`); duration follows as
    * `frames / sample_rate` so it is deliberately not a column. */
  val audioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("channels", LongType, nullable = false),
    StructField("bits_per_sample", LongType, nullable = false),
    StructField("frames", LongType, nullable = false)))

  /** Strong magic-number check gating the audio probe, mirroring
    * [[looksLikeImage]]: the stock JRE's `javax.sound.sampled` providers
    * parse WAV (`RIFF....WAVE`), AIFF/AIFF-C (`FORM....AIFF`/`AIFC`) and
    * AU (`.snd`) containers. AU's 4-byte magic is left out for the same
    * reason BMP's 2-byte one is in [[looksLikeImage]]: too weak to be
    * unambiguous against arbitrary binary payloads. The 12-byte
    * RIFF/FORM + format-tag pair is effectively collision-free. */
  private def looksLikeAudio(p: Array[Byte]): Boolean = {
    def at(i: Int, b: Int) = i < p.length && p(i) == b.toByte
    // WAV: 'RIFF' <size u32le> 'WAVE'
    (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F') &&
      at(8, 'W') && at(9, 'A') && at(10, 'V') && at(11, 'E')) ||
    // AIFF / AIFF-C: 'FORM' <size u32be> 'AIFF' | 'AIFC'
    (at(0, 'F') && at(1, 'O') && at(2, 'R') && at(3, 'M') &&
      at(8, 'A') && at(9, 'I') && at(10, 'F') &&
      (at(11, 'F') || at(11, 'C')))
  }

  /** REAL audio-header decode via `javax.sound.sampled` — the audio
    * analog of [[decodeHeader]]. `AudioSystem.getAudioFileFormat` parses
    * only the container header (fmt/COMM chunk), never the sample data,
    * so cost is header-proportional. Returns None when the payload lacks
    * a strong audio magic ([[looksLikeAudio]]) or the header is
    * truncated/corrupt (`UnsupportedAudioFileException`). Frame length
    * can be `AudioSystem.NOT_SPECIFIED` (-1) for streams the provider
    * cannot size; that is surfaced as 0 rather than a negative count. */
  private def decodeAudioHeader(
      payload: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    if (!looksLikeAudio(payload)) return None
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(payload)) // supports mark/reset
      val f = aff.getFormat
      // rate/channels can be AudioSystem.NOT_SPECIFIED (-1) for
      // compressed AIFF-C payloads; a zero-or-negative rate would break
      // the documented `duration = frames / sample_rate` derivation, so
      // such headers fall back to the stub (whose rate is biased
      // positive) instead of being claimed with degenerate parameters.
      // frames/bits are counts that may legitimately be unsized → clamp.
      if (f.getSampleRate <= 0f || f.getChannels <= 0) None
      else Some((f.getSampleRate.toLong, f.getChannels.toLong,
        math.max(f.getSampleSizeInBits.toLong, 0L),
        math.max(aff.getFrameLength.toLong, 0L)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fallback audio decode for payloads [[decodeAudioHeader]] cannot
    * claim: deterministic pseudo-parameters from the payload md5 (same
    * convention as [[decodeStub]], each field SQL-reproducible), frames
    * as the byte count (one pseudo-frame per byte). The stub rate is
    * biased into [8000, 44100) — a zero rate would make the documented
    * `duration = frames / sample_rate` derivation divide by zero. */
  private def audioStub(payload: Array[Byte]): (Long, Long, Long, Long) = {
    val hex = md5Hex(payload)
    val rate = 8000L + java.lang.Long.parseLong(hex.substring(0, 4), 16) % 36100
    val channels = 1L + java.lang.Long.parseLong(hex.substring(4, 8), 16) % 2
    val bits = 8L * (1 + java.lang.Long.parseLong(hex.substring(8, 12), 16) % 2)
    (rate, channels, bits, payload.length.toLong)
  }

  /** Batched audio-header feature extraction over (doc_id, payload
    * binary) rows: real WAV/AIFF container parse for claimable payloads,
    * [[audioStub]] otherwise. Same `mapPartitions` production shape as
    * [[extractFeatures]] — lazy iterator, bounded memory, schema
    * declared up front. */
  def extractAudioFeatures(binaryDocs: DataFrame): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(audioSchema)
    binaryDocs.select(col("doc_id").cast("long"), col("payload"))
      .filter(col("payload").isNotNull) // dropped, like the other decoders
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (rate, ch, bits, frames) =
            decodeAudioHeader(payload).getOrElse(audioStub(payload))
          Row(id, payload.length.toLong, rate, ch, bits, frames)
        }
      }
  }

  /** Demo pipeline over the documents table: text → utf-8 binary payload
    * → batched audio-header decode → features. All-stub on a text corpus
    * — the `ext_multimodal_audio` oracle reproduces every stub field in
    * SQL; the real parse is pinned by OperatorsSpec with
    * `AudioSystem.write`-generated WAV/AIFF bytes. */
  def documentAudioFeatures(s: SparkSession, dir: String): DataFrame =
    extractAudioFeatures(textPayloads(s, dir))

  /** Binary-payload feature extraction over (doc_id, payload binary) rows.
    * Partition-level batched processing: no per-row UDF dispatch, the
    * iterator is consumed lazily so memory stays bounded by the Parquet
    * batch size regardless of partition size.
    */
  def extractFeatures(binaryDocs: DataFrame): DataFrame = {
    val spark = binaryDocs.sparkSession
    implicit val enc = RowEncoder.encoderFor(featureSchema)
    binaryDocs.select(col("doc_id").cast("long"), col("payload"))
      .filter(col("payload").isNotNull) // null payloads have no features
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val (w, h, c) = decodeHeader(payload).getOrElse(decodeStub(payload))
          Row(id, payload.length.toLong, w, h, c)
        }
      }
  }

  /** The documents table's text as a binary payload column (standing in
    * for an image/audio/video blob) — the ONE place the text→payload
    * convention lives; every multimodal query entry derives from it. */
  def textPayloads(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))

  /** Demo pipeline over the documents table: text → utf-8 binary payload
    * → batched decode → features. */
  def documentFeatures(s: SparkSession, dir: String): DataFrame =
    extractFeatures(textPayloads(s, dir))

  // ------------------------------------------------------------- resize

  /** Output schema of [[resizeImages]] — the resized payload is reported
    * as (size, md5) rather than raw bytes so results stay comparable
    * across engines (blob hashing differs; hex strings don't). */
  val resizeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("n_bytes_out", LongType, nullable = false),
    StructField("resized_md5", StringType, nullable = false)))

  /** Lowercase md5 hex over the concatenation of `parts` — streamed
    * through one digest (no concatenated copy of a large payload just to
    * append a small suffix) and a manual hex loop (no per-byte
    * formatter). */
  private def md5Hex(parts: Array[Byte]*): String = {
    val md = MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    val digest = md.digest()
    val sb = new java.lang.StringBuilder(32)
    digest.foreach { b =>
      sb.append(Character.forDigit((b >> 4) & 0xf, 16))
      sb.append(Character.forDigit(b & 0xf, 16))
    }
    sb.toString
  }

  /** REAL image resize for payloads a JRE reader claims: full pixel
    * decode (`ImageIO.read`), bilinear `Graphics2D` scale to
    * (width × height), PNG re-encode — all JRE-only, headless-safe.
    * Returns the re-encoded bytes. */
  private def resizeReal(payload: Array[Byte], width: Int,
      height: Int): Option[Array[Byte]] = {
    if (!looksLikeImage(payload)) return None
    try {
      // explicit memory-cached stream: ImageIO.read(InputStream) would
      // spool every payload through a disk temp file by default — the
      // same pitfall decodeHeader documents. (A 'GIF87a'-prefixed TEXT
      // payload can reach here — GIF magic is printable ASCII — but
      // random trailing bytes never form a complete decodable frame, so
      // read() throws/returns null and the row falls back to the stub,
      // keeping the SQL oracle's all-stub premise for text corpora.)
      val src = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload)))
      if (src == null) None
      else {
        val dst = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, width, height, null)
        } finally g.dispose()
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", out)
        Some(out.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** STUB resize for payloads no reader claims (non-image media — the
    * real codec is not in this container): the "resized payload" is the
    * UTF-8 bytes of `md5hex(payload ++ "_{W}x{H}")` — deterministic,
    * total, and reproducible in ANSI SQL (`md5(text || '_WxH')`), so the
    * Spark-side plumbing (schema, batching, per-row contract) stays
    * oracle-testable end-to-end on synthetic corpora. */
  private def resizeStub(payload: Array[Byte], width: Int,
      height: Int): Array[Byte] =
    md5Hex(payload, s"_${width}x$height"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Batched image resize over (doc_id, payload binary) rows: real
    * decode+scale+re-encode for claimable images, [[resizeStub]]
    * otherwise. Same `mapPartitions` production shape as
    * [[extractFeatures]] — lazy iterator, bounded memory, schema
    * declared up front. */
  def resizeImages(binaryDocs: DataFrame, width: Int,
      height: Int): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(resizeSchema)
    binaryDocs.select(col("doc_id").cast("long"), col("payload"))
      .filter(col("payload").isNotNull) // dropped, like the other decoders
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val out = resizeReal(payload, width, height)
            .getOrElse(resizeStub(payload, width, height))
          Row(id, width.toLong, height.toLong, out.length.toLong,
            md5Hex(out))
        }
      }
  }

  // ------------------------------------------------------- frame sample

  /** Output schema of [[sampleFrames]]: one row per sampled frame. */
  val frameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("ts_ms", LongType, nullable = false),
    StructField("frame_md5", StringType, nullable = false)))

  // ------------------------------------------------- perceptual dedup

  /** Output schema of [[perceptualHashes]]. */
  val phashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  /** 60-bit DIFFERENCE HASH over a 61-sample luminance profile — the
    * dHash idea (gradient signs survive re-encoding, brightness shifts,
    * small local edits) applied to a 1-D profile so ONE arithmetic
    * serves both decode paths: segment `j` of an N-value sequence is
    * the values at positions `k` with `k*61 div N = j` (closed form,
    * engine-portable), its level is `floor(sum/count)` (0 for an empty
    * segment when N < 61), and bit `j` is set iff `level[j] <
    * level[j+1]`. 60 bits keeps the hash positive int64 (the
    * [[graft.operators.Dedup.simhash]] convention — bit 63 would
    * overflow a DuckDB BIGINT literal shift). A local edit that
    * PRESERVES LENGTH perturbs only the segments it touches, so
    * near-identical payloads land within a few bits — which is what
    * makes the banded lookup below work. */
  private[operators] def profileHash60(vals: Array[Int]): Long =
    graft.functions.ProfileHash60.compute(vals) // one shared definition
                                                // with the SQL kernel

  /** Full pixel decode to a row-major luminance sequence with its
    * dimensions (integer ITU-R 601 luma, `(299r+587g+114b)/1000`) for
    * payloads a JRE reader claims; None otherwise — the [[resizeReal]]
    * gating. */
  private def decodeLuma(
      payload: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (!looksLikeImage(payload)) return None
    try {
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(payload)))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val out = new Array[Int](w * h)
        var y = 0
        var i = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            out(i) = (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff)
              + 114 * (rgb & 0xff)) / 1000
            i += 1; x += 1
          }
          y += 1
        }
        Some((w, h, out))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Classic 2-D difference hash over a 6×11 average-pooled luminance
    * grid (round 20 — the crop/rescale-robust path for REAL images):
    * 6 rows × 10 row-wise gradient signs = 60 bits, keeping
    * [[profileHash60]]'s positive-int64 / 4×15-band convention, so
    * every downstream consumer (Hamming banding, store keys, the SQL
    * `bit_count` verify) is untouched. Pooling cells are PROPORTIONAL
    * (`y*6 div h` / `x*11 div w` boundaries), so a rescale of the same
    * image averages near-identical cell regions and lands within a few
    * bits — where the 1-D profile hash shifts every segment the moment
    * the payload LENGTH changes. Cells an under-sized image leaves
    * empty level at 0, the profile-segment convention. */
  private[operators] def gridDHash60(w: Int, h: Int,
      luma: Array[Int]): Long = {
    val rows = 6
    val cols = 11
    val sums = Array.ofDim[Long](rows, cols)
    val cnts = Array.ofDim[Long](rows, cols)
    var y = 0
    while (y < h) {
      val r = (y * rows) / h
      var x = 0
      while (x < w) {
        val c = (x * cols) / w
        sums(r)(c) += luma(y * w + x)
        cnts(r)(c) += 1
        x += 1
      }
      y += 1
    }
    var bits = 0L
    var j = 0
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols - 1) {
        val a = if (cnts(r)(c) == 0) 0L else sums(r)(c) / cnts(r)(c)
        val b =
          if (cnts(r)(c + 1) == 0) 0L else sums(r)(c + 1) / cnts(r)(c + 1)
        if (a < b) bits |= 1L << j
        j += 1
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Perceptual 60-bit hashes over (doc_id, payload binary) rows
    * (round 19 — the multimodal × dedup intersection): REAL images
    * hash their decoded 2-D luminance grid ([[gridDHash60]] —
    * crop/rescale-robust, round 20), unclaimable payloads hash their
    * unsigned byte values as a 1-D profile (the deterministic stub
    * convention — for a text corpus the profile is the character
    * stream, so the oracle recomputes every bit in SQL and a planted
    * in-place edit is genuinely "near" in Hamming space). Same
    * `mapPartitions` production shape as the other decoders. */
  def perceptualHashes(binaryDocs: DataFrame): DataFrame = {
    implicit val enc = RowEncoder.encoderFor(phashSchema)
    binaryDocs.select(col("doc_id").cast("long"), col("payload"))
      .filter(col("payload").isNotNull) // dropped, like the other decoders
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val hash = decodeLuma(payload) match {
            case Some((w, h, luma)) => gridDHash60(w, h, luma)
            case None =>
              profileHash60(payload.map(b => (b & 0xff): Int))
          }
          Row(id, hash)
        }
      }
  }

  /** Hamming-banded near-duplicate pairs over [[perceptualHashes]]
    * output — the SimHash LSH-banding machinery applied to image
    * hashes: the 60-bit hash splits into 4 bands of 15 bits, and by
    * pigeonhole any pair within Hamming distance 3 shares at least one
    * untouched band, so the banded equality join has EXACT recall at
    * `maxHamming ≤ 3` (the supported range) — never an all-pairs
    * comparison. Candidates sharing a band verify by
    * `bit_count(xor) ≤ maxHamming`. Output: `(id1, id2, hamming)`,
    * `id1 < id2`.
    *
    * Scale shape: the hash table is 16 bytes/doc; the only exchanges
    * are the band-value join and the pair distinct — candidate count
    * tracks true near-dups plus the 2^-15-rate random band
    * collisions, not corpus². Landed-store composable: the hashes are
    * single-long rows, so an incremental pipeline lands them in a
    * [[BatchStore.Bands]]-shaped table keyed by band value exactly like the
    * minhash bands.
    *
    * HAMMING-0 CLIQUE COLLAPSE (round 20): real crawls are
    * exact-duplicate-HEAVY, and the naive banded self-join emits every
    * pair inside a clique of m identical hashes 4× over (once per
    * band) before the distinct — 4·m² shuffled candidate rows per
    * clique. The banding now runs over DISTINCT hashes (one
    * min-doc_id representative each); identical-hash pairs are emitted
    * directly from the clique membership (they are Hamming 0 by
    * definition, no banding needed), and cross-hash candidate work
    * tracks distinct hashes, not documents. The emitted pair set is
    * unchanged. */
  def imageNearDupPairs(rawHashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banding guarantees recall only to Hamming 3: $maxHamming")
    // public-API hardening (r20 ADVICE): a hashes frame carrying
    // duplicate doc_id rows would duplicate emitted pairs through both
    // the within-clique self-join and the cross-clique expansion;
    // one doc-count-sized dedup at entry restores the one-row-per-doc
    // contract the emission math assumes. DETERMINISTIC survivor since
    // r22 (r21 ADVICE): `dropDuplicates("doc_id")` kept a
    // partition-order-dependent arbitrary row when a caller passed the
    // same doc_id with CONFLICTING phashes, so the emitted pair set
    // could vary run to run; min(phash) resolves the violation the same
    // way every run (and is the identity on contract-respecting
    // inputs). MATERIALIZED once (the incrementalImageDedupWithStore
    // discipline): the frame feeds five plan branches (cliques, both
    // cross expansions, both within sides), and lazy it would re-run
    // the upstream hash computation — typically a payload decode — per
    // branch.
    val hashes = rawHashes.groupBy(col("doc_id"))
      .agg(min(col("phash")).as("phash")).localCheckpoint(true)
    // one aggregation yields both the representative (banding) and the
    // clique size (the within-join's hot-key split); materialized —
    // distinct-hash-count sized, feeds the band frame twice and both
    // size filters
    val cliques = hashes.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("_m"))
      .localCheckpoint(true)
    val bands = cliques.select(col("rep"), col("phash"),
      posexplode(array((0 until 4).map(i =>
        expr(s"shiftright(phash, ${15 * i}) & 32767")): _*)))
      .toDF("rep", "phash", "b", "v")
    val repPairs = bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.phash").as("h1"), col("y.phash").as("h2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    // cross-clique expansion: every member pair across the two hashes
    // (the ordered-id convention via least/greatest — reps only fixed
    // WHICH hash pairs qualify, member ids order freely across them)
    val cross = repPairs
      .join(hashes.select(col("phash").as("h1"),
        col("doc_id").as("d1")), Seq("h1"))
      .join(hashes.select(col("phash").as("h2"),
        col("doc_id").as("d2")), Seq("h2"))
      .select(least(col("d1"), col("d2")).as("id1"),
        greatest(col("d1"), col("d2")).as("id2"), col("hamming"))
    // within-clique pairs: identical hashes, Hamming 0 by definition.
    // HOT-KEY SPLIT (r21 — the r20 VERDICT's skew item): the plain
    // phash self-join put a crawl-scale clique of m identical images —
    // m²/2 output pairs — in ONE join key/task. Small cliques (the
    // overwhelmingly common case) keep the plain join; cliques past
    // [[WithinCliqueSaltThreshold]] go through a SALTED join — the left
    // side carries a deterministic per-doc salt, the right side
    // replicates across all [[WithinCliqueSalt]] values, and the join
    // key becomes (phash, salt): each pair still matches exactly once
    // (at the left doc's own salt), but a mega-clique's emission
    // spreads over WithinCliqueSalt tasks. Output is inherently
    // quadratic (a pairs API must emit them); the single-task hot key
    // is not.
    val smallKeys = cliques.filter(col("_m") <= WithinCliqueSaltThreshold)
      .select("phash")
    val bigKeys = cliques.filter(col("_m") > WithinCliqueSaltThreshold)
      .select("phash")
    val small = hashes.join(smallKeys, Seq("phash"), "left_semi")
    val withinSmall = small.select(col("phash"), col("doc_id").as("id1"))
      .join(small.select(col("phash"), col("doc_id").as("id2")),
        Seq("phash"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(0L).as("hamming"))
    val big = hashes.join(bigKeys, Seq("phash"), "left_semi")
    val salts = WithinCliqueSalt
    val left = big.select(col("phash"), col("doc_id").as("id1"))
      .withColumn("_s", pmod(xxhash64(col("id1")), lit(salts.toLong)))
    val right = big.select(col("phash"), col("doc_id").as("id2"),
      explode(sequence(lit(0L), lit(salts.toLong - 1))).as("_s"))
    val withinBig = left.join(right, Seq("phash", "_s"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), lit(0L).as("hamming"))
    cross.unionAll(withinSmall).unionAll(withinBig)
  }

  /** Clique size above which [[imageNearDupPairs]]' within-clique
    * self-join salts (≤ threshold ⇒ ≤ ~0.5M pairs in one task — fine on
    * any executor; above ⇒ the single-key emission would dominate the
    * stage wall-clock). */
  private val WithinCliqueSaltThreshold: Long = 1024L

  /** Salt width for the hot-clique branch: a clique of m identical
    * hashes spreads its m²/2 emitted pairs over this many join keys
    * instead of one. Only hot-clique members replicate (16 bytes/doc
    * of hash rows — cheap even times this factor). */
  private val WithinCliqueSalt: Int = 64

  /** INCREMENTAL perceptual dedup — [[imageNearDupPairs]]'s rule in the
    * continuous-ingest shape, against a LANDED [[BatchStore.Vectors]] store
    * (round 19): a new batch of binary payloads is near-dup-filtered
    * (a) within itself and (b) against every image ever landed, without
    * rescanning the corpus. The store reuses the per-cluster vector
    * layout with `ck = "<band>_<value>"` (the 4×15 Hamming bands) and
    * `fx = [phash]` — band equality alone only makes a CANDIDATE;
    * the landed hash is needed for the `bit_count(xor)` verify, which
    * is exactly the "membership key + payload" split the semantic
    * store exists for.
    *
    * Drop rule: a batch doc drops when a landed hash in one of its
    * bands is within `maxHamming`, or a smaller-id batch doc is. The
    * landing contract is ALL-SEEN (Hamming distance is not
    * transitive — the [[Dedup.incrementalMinhash]] argument verbatim),
    * so id-ordered batches compose to the one-shot
    * [[imageNearDupPairs]] drop set (OperatorsSpec differential).
    *
    * Returns `(survivors, newMembers)`: survivors as
    * `(doc_id, phash)`, and the batch's full member set for the caller
    * to land via `store.append(newMembers, tag)` AFTER committing
    * survivors. `excludeTag` is the composed-streaming replay contract
    * ([[BatchStore.prunedLookup]], round 19).
    *
    * Scale shape: per batch, one decode pass (batch-sized,
    * checkpointed once), a pruned store lookup over ≤ 4·(distinct
    * batch hashes) band keys (partition filters + pushed `In(ck)`,
    * zero landed-side exchanges), and candidate joins bounded by
    * DISTINCT hashes — the HAMMING-0 CLIQUE COLLAPSE (round 20,
    * mirroring [[imageNearDupPairs]]): exact-duplicate-heavy batches
    * (the real-crawl shape) previously paid m² candidates per clique
    * of m identical hashes. The rep-level directional rule composes
    * exactly: rep = min doc_id per hash, so "a smaller-id batch doc
    * within Hamming range exists" ⟺ "a band-sharing clique with a
    * smaller rep exists" (any smaller member implies its rep is
    * smaller still), and every non-rep member drops against its own
    * rep at Hamming 0. Drop set unchanged. */
  def incrementalImageDedupWithStore(newDocs: DataFrame,
      store: BatchStore, maxHamming: Int = 3,
      excludeTag: Option[String] = None): (DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"banding guarantees recall only to Hamming 3: $maxHamming")
    val hashes = perceptualHashes(newDocs).localCheckpoint(true)
    // one min-id representative per distinct hash; materialized once
    // (feeds the band frame, the non-rep expansion, and the member
    // landing — lazy, each branch re-runs the groupBy)
    val cliques = hashes.groupBy(col("phash"))
      .agg(min(col("doc_id")).as("rep")).localCheckpoint(true)
    val bands = cliques.select(col("rep"), col("phash"),
      posexplode(array((0 until 4).map(i =>
        expr(s"shiftright(phash, ${15 * i}) & 32767")): _*)))
      .toDF("rep", "phash", "b", "v")
      .select(col("rep"), col("phash"),
        concat_ws("_", col("b"), col("v")).as("ck"))
    val landed = store.landedAmong(bands.select("ck"), excludeTag)
    // landed rule is purely hash-level: a hit drops the whole clique
    val dropRepVsLanded = bands
      .join(landed.select(col("ck"), col("fx")), Seq("ck"))
      .filter(bit_count(col("phash")
        .bitwiseXOR(element_at(col("fx"), 1))) <= maxHamming)
      .select(col("rep"))
    val a = bands.select(col("rep").as("r1"),
      col("phash").as("h1"), col("ck"))
    val bb = bands.select(col("rep").as("r2"),
      col("phash").as("h2"), col("ck"))
    val dropRepWithin = a.join(bb, Seq("ck"))
      .filter(col("r1") < col("r2"))
      .filter(bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxHamming)
      .select(col("r2").as("rep"))
    val dropReps = dropRepVsLanded.unionAll(dropRepWithin).distinct()
    // expansion: every non-rep member drops (its rep is a smaller id
    // at Hamming 0); a rep drops per the rep-level rules above. A
    // landed hit drops the rep here and its members via the non-rep
    // branch — the union is the exact member-level drop set.
    val nonReps = hashes.join(cliques, Seq("phash"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"))
    val drops = nonReps
      .unionAll(dropReps.select(col("rep").as("doc_id"))).distinct()
    val survivors = hashes.join(drops, Seq("doc_id"), "left_anti")
    // the landing stays ALL-SEEN and per-member (audit + replay need
    // every vec_id): members inherit their clique's 4 band keys
    val newMembers = hashes
      .join(bands.select(col("phash"), col("ck")), Seq("phash"))
      .select(col("ck"), col("doc_id").as("vec_id"),
        array(col("phash")).as("fx"))
      .dropDuplicates("ck", "vec_id")
    (survivors, newMembers)
  }

  /** Every-`every`-th-frame sampling over (doc_id, payload binary) video
    * rows — the one-row-in / many-rows-out batch shape of a frame
    * extractor. The DECODE IS A STUB (video codecs are not in this
    * container): the payload is treated as `ceil(len / frameBytes)`
    * fixed-size pseudo-frames at 25 fps, and each sampled frame's
    * content hash is derived deterministically as
    * `md5hex(md5hex(payload) + "#" + idx)` — SQL-reproducible
    * (`md5(md5(text) || '#' || idx)`), so the fan-out plumbing
    * (flatMap batch shape, schema, ordering) is pinned by the oracle
    * while a real codec can drop in behind the same signature. */
  def sampleFrames(binaryDocs: DataFrame, frameBytes: Int = 4096,
      every: Int = 10): DataFrame = {
    require(frameBytes > 0 && every > 0,
      "frameBytes and every must be positive")
    implicit val enc = RowEncoder.encoderFor(frameSchema)
    binaryDocs.select(col("doc_id").cast("long"), col("payload"))
      .filter(col("payload").isNotNull) // dropped, like the other decoders
      .mapPartitions { it =>
        it.flatMap { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val frames = (payload.length + frameBytes - 1) / frameBytes
          val base = md5Hex(payload)
          (0 until frames by every).iterator.map { idx =>
            Row(id, idx.toLong, idx * 40L,
              md5Hex(s"$base#$idx".getBytes(
                java.nio.charset.StandardCharsets.UTF_8)))
          }
        }
      }
  }
}
