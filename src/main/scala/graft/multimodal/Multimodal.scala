package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.PartitionBatch

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns beside a typed metadata struct; decode / feature-extract
  * / frame-sample run batch-parallel over partitions.
  *
  * The perceptual AUDIO/VIDEO codec libraries (MP3/H.264) are NOT in this
  * environment, so [[StubDecoder]] is a clearly-marked deterministic fake
  * for those; SIX containers decode for REAL with pure-JVM codecs —
  * RIFF/WAVE PCM ([[WavCodec]]), uncompressed 24-bit BMP
  * ([[BmpCodec]]), LZW-compressed GIF ([[GifCodec]], a real
  * variable-width LZW decompressor, stills and animations),
  * DEFLATE-compressed PNG ([[PngCodec]], zlib via the JDK's Inflater +
  * all five scanline filters), baseline sequential JPEG ([[JpegCodec]],
  * Huffman entropy coding + fixed-point DCT — the LOSSY transform-coded
  * format the bulk of real crawled images arrive in), and MJPEG-in-AVI
  * video ([[AviCodec]], the RIFF container walk feeding [[JpegCodec]]
  * per frame — a real camera-adjacent video path).
  * Everything Spark-side is
  * real and tested either way: the schema contract, the binary column handling, the
  * batch shape ([[graft.operators.PartitionBatch.mapPartitions]], the Scala
  * analog of a pandas-batch UDF: one decoder instantiation per partition,
  * amortized over its rows — every synthesizer here is `synthesize` and
  * every payload extractor `extract`/`extractRows` on top of it), and the
  * byte-range frame sampling.
  */
object Multimodal {

  /** media metadata contract: every payload carries its modality + declared
    * shape so downstream operators can dispatch without sniffing bytes.
    */
  val MetaSchema: StructType = StructType(Seq(
    StructField("modality", StringType, nullable = false), // image | audio | video
    StructField("format", StringType, nullable = true), // e.g. jpeg, wav
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", MetaSchema, nullable = true)))

  /** Wrap any (id, string) frame as a media frame — the ingest shim used in
    * tests and by the gate queries (text bytes stand in for undecodable
    * payloads; the plumbing is identical).
    */
  def fromText(df: DataFrame, idCol: String, textCol: String, modality: String = "image"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit(modality).as("modality"),
        lit("utf8").as("format"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  /** Payload byte length — pure column op, no decode. */
  def payloadBytes(payload: Column): Column = length(payload).cast("long")

  /** The synthesizer shape: the id column alone, spread across the
    * session's shuffle parallelism ([[PartitionBatch.spread]] — payload
    * bytes are created AFTER the spread, so the exchange carries ids only
    * and decode stays task-local), then one [[MediaSchema]] row per id,
    * `make(id)` giving its payload and meta struct.
    */
  private def synthesize(df: DataFrame, idCol: String)(
      make: Long => (Array[Byte], Row)): DataFrame = {
    val ids = PartitionBatch.spread(df.select(col(idCol).cast("long").as("media_id")), "media_id")
    PartitionBatch.mapPartitions(ids, MediaSchema) { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val (payload, meta) = make(id)
        Row(id, payload, meta)
      }
    }
  }

  /** [[synthesize]] for still images of fixed dimensions. */
  private def synthesizeImage(df: DataFrame, idCol: String, format: String, width: Int,
      height: Int)(encode: Long => Array[Byte]): DataFrame =
    synthesize(df, idCol)(id => (encode(id), image(format, width, height)))

  private def image(format: String, width: Int, height: Int): Row =
    Row("image", format, width, height, null)

  private def audio(format: String, durationMs: Long): Row =
    Row("audio", format, null, null, durationMs)

  private val MediaId = StructField("media_id", LongType, nullable = false)

  private def longs(names: String*): Seq[StructField] =
    names.map(StructField(_, LongType, nullable = false))

  /** The extractor shape: one decode per payload, output rows `media_id`
    * +: `fields`, `f` giving each output row's remaining values — many per
    * payload for a frame or granule explode, which happens after the
    * decode, so the codec still runs once per payload.
    */
  private def extractRows(media: DataFrame, fields: Seq[StructField])(
      f: Array[Byte] => Iterator[Seq[Any]]): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    PartitionBatch.mapPartitions(media, StructType(MediaId +: fields)) { rows =>
      rows.flatMap { r =>
        val id = r.getLong(idIdx)
        f(r.getAs[Array[Byte]](payloadIdx)).map(values => Row.fromSeq(id +: values))
      }
    }
  }

  /** [[extractRows]] with exactly one output row per payload. */
  private def extract(media: DataFrame, fields: Seq[StructField])(
      f: Array[Byte] => Seq[Any]): DataFrame =
    extractRows(media, fields)(payload => Iterator.single(f(payload)))

  /** (id·a + y·b + x·c) mod m — the integer channel recipe the
    * synthesizers are built from, so an oracle regenerates every sample
    * arithmetically without touching bytes.
    */
  private def recipe(id: Long, y: Int, x: Int, a: Long, b: Long, c: Long, m: Long = 256L): Int =
    ((id * a + y * b + x * c) % m).toInt

  private def rgb(r: Int, g: Int, b: Int): Int = (r << 16) | (g << 8) | b

  /** A `w`×`h` row-major raster, pixel (x, y) = `px(y, x)`. */
  private def raster(w: Int, h: Int)(px: (Int, Int) => Int): Array[Int] =
    Array.tabulate(w * h)(i => px(i / w, i % w))

  /** Byte-range "frame sample": `n` evenly spaced slices of `width` bytes.
    * For video this is the frame-sampling access pattern (seek + bounded
    * read) without the codec; emitted as lowercase hex for portability.
    */
  def sampleSlices(payload: Column, n: Int, width: Int): Column = {
    val len = length(payload)
    transform(sequence(lit(0), lit(n - 1)), i => {
      // floor, not cast: DuckDB CAST(double AS INT) rounds while Spark's
      // truncates — floor() agrees everywhere
      val off = floor((i * greatest(len - width, lit(1))) / lit(math.max(n - 1, 1))).cast("int") + 1
      lower(hex(substr_bin(payload, off, lit(width))))
    })
  }

  // substring on binary with Column args
  private def substr_bin(c: Column, pos: Column, len: Column): Column =
    c.substr(pos, len)

  /** THE STUB: deterministic fake feature extractor standing in for the
    * decoders this environment genuinely lacks (H.264, and MP3's FINAL
    * polyphase-to-PCM stage — [[Mp3Codec]] now carries the real Layer
    * III chain down to requantized spectra and subband-time samples;
    * the raster formats and WAV/FLAC/JPEG decode for REAL above;
    * ???-equivalent for the rest).
    * Produces a fixed-size float feature vector from payload bytes via md5 —
    * wrong features, right plumbing: batch shape, schema, and partition
    * parallelism are exactly what a real decoder plugs into.
    */
  object StubDecoder {
    val FeatureDim = 8

    def features(payloadBytes: Array[Byte]): Array[Float] = {
      if (payloadBytes == null) return Array.fill(FeatureDim)(0.0f)
      val d = java.security.MessageDigest.getInstance("MD5").digest(payloadBytes)
      (0 until FeatureDim).map { i =>
        ((d(2 * i) & 0xFF) * 256 + (d(2 * i + 1) & 0xFF)) / 65535.0f
      }.toArray
    }
  }

  /** sample_i = ((id·7919 + i·104729) mod 65536) − 32768. */
  private def wavRecipe(id: Long, nSamples: Int): Array[Short] =
    Array.tabulate(nSamples) { i =>
      (((id * 7919L + i * 104729L) % 65536L) - 32768L).toShort
    }

  /** Deterministic synthetic WAV payloads (10 ms of 44.1 kHz mono 16-bit
    * PCM by default): sample_i = ((id·7919 + i·104729) mod 65536) − 32768 —
    * pure integer arithmetic, so an oracle can regenerate the identical
    * samples without touching bytes, while the Spark side round-trips them
    * through REAL RIFF encode → decode ([[WavCodec]]). The encoder runs in
    * the same per-partition batch shape as the decoders.
    */
  def synthesizeWav(
      df: DataFrame,
      idCol: String,
      nSamples: Int = 441,
      sampleRate: Int = 44100): DataFrame =
    synthesize(df, idCol) { id =>
      (WavCodec.encode(sampleRate, 1, wavRecipe(id, nSamples)),
        audio("wav", nSamples.toLong * 1000L / sampleRate))
    }

  private def bmpPixels(id: Long, width: Int, height: Int): Array[Int] =
    raster(width, height) { (y, x) =>
      rgb(recipe(id, y, x, 31, 7, 13), recipe(id, y, x, 17, 11, 5), recipe(id, y, x, 23, 3, 19))
    }

  /** Deterministic synthetic BMP payloads (16×12 24-bit by default):
    * channel c of pixel (x,y) = integer recipe over (id, y, x) mod 256 —
    * the image twin of [[synthesizeWav]]: an oracle regenerates identical
    * pixels arithmetically while Spark round-trips them through REAL BMP
    * encode → decode ([[BmpCodec]]).
    */
  def synthesizeBmp(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12): DataFrame =
    synthesizeImage(df, idCol, "bmp", width, height) { id =>
      BmpCodec.encode(width, height, bmpPixels(id, width, height))
    }

  /** [[synthesizeBmp]] with per-id VARIABLE dimensions (w = 10 + 7·(id
    * mod 4), h = 6 + 5·(id mod 3) — including widths that are not
    * patch-multiples, so ceil-division in placeholder-token math is
    * load-bearing). The image leg of the multimodal-packing gates:
    * meta carries the true dims, pixels follow the [[synthesizeBmp]]
    * recipe.
    */
  def synthesizeBmpVar(df: DataFrame, idCol: String): DataFrame =
    synthesize(df, idCol) { id =>
      val width = 10 + 7 * (id % 4).toInt
      val height = 6 + 5 * (id % 3).toInt
      (BmpCodec.encode(width, height, bmpPixels(id, width, height)),
        image("bmp", width, height))
    }

  private val PixelFeatureNames = Seq("width", "height", "n_pixels", "sum_r", "sum_g",
    "sum_b", "luma_min", "luma_max", "edge_count")

  private def pixelFeatureValues(f: BmpCodec.Features): Seq[Any] =
    Seq(f.width, f.height, f.nPixels, f.sumR, f.sumG, f.sumB, f.lumaMin, f.lumaMax, f.edgeCount)

  /** ONE pixel contract, N containers: every raster codec decodes into
    * [[BmpCodec.Bmp]], so decode→(resize)→featurize and decode→resize→
    * dHash are the same body with a different `decode` — this and
    * [[extractDHashWith]] are that body (the per-format public verbs keep
    * their names and docs; a schema or plumbing fix lands once, not five
    * times).
    */
  private def extractPixelFeatures(
      media: DataFrame,
      decode: Array[Byte] => BmpCodec.Bmp,
      resizeTo: Option[(Int, Int)]): DataFrame =
    extract(media, longs(PixelFeatureNames: _*)) { payload =>
      val decoded = decode(payload)
      val img = resizeTo.fold(decoded) { case (w, h) => BmpCodec.resizeNearest(decoded, w, h) }
      pixelFeatureValues(BmpCodec.features(img))
    }

  private val DHashFields = Seq(
    StructField("dhash", StringType, nullable = false),
    StructField("n_ones", LongType, nullable = false))

  private def dHashValues(side: Int)(img: BmpCodec.Bmp): Seq[Any] = {
    val (bits, ones) = BmpCodec.dHash(BmpCodec.resizeNearest(img, side + 1, side))
    Seq(bits, ones)
  }

  private def extractDHashWith(
      media: DataFrame,
      decode: Array[Byte] => BmpCodec.Bmp,
      side: Int): DataFrame =
    extract(media, DHashFields)(payload => dHashValues(side)(decode(payload)))

  /** REAL decode+featurize for `format = 'bmp'` payloads — same
    * one-decoder-per-partition batch shape as [[extractWavFeatures]].
    * `resizeTo = Some((w, h))` inserts the nearest-neighbor resize verb
    * ([[BmpCodec.resizeNearest]]) between decode and featurize — the
    * decode → resize → extract pipeline of a thumbnailing/training-data
    * image stage.
    */
  def extractBmpFeatures(
      media: DataFrame,
      resizeTo: Option[(Int, Int)] = None): DataFrame =
    extractPixelFeatures(media, BmpCodec.decode _, resizeTo)

  /** The audio twin of [[extractPixelFeatures]]: every audio codec
    * decodes into [[WavCodec.Wav]], so decode → (decimate) → featurize is
    * one body with a different `decode`.
    */
  private def extractAudioFeatures(
      media: DataFrame,
      decode: Array[Byte] => WavCodec.Wav,
      decimateBy: Int): DataFrame =
    extract(media, longs("sr", "channels", "n_samples", "duration_ms", "peak_min", "peak_max",
      "zero_crossings", "sum_samples", "sum_squares") :+
      StructField("rms", DoubleType, nullable = false)) { payload =>
      val w0 = decode(payload)
      // decimate (decode → resample → featurize — the audio twin of the
      // image decode → resize → extract pipeline) before features
      val w = if (decimateBy == 1) w0 else WavCodec.decimate(w0, decimateBy)
      val f = WavCodec.features(w)
      // Seq[Any]: a Long/Double mix would otherwise widen the Longs to Double
      Seq[Any](f.sampleRate, f.channels, f.nSamples, f.durationMs,
        f.peakMin, f.peakMax, f.zeroCrossings, f.sumSamples, f.sumSquares, f.rms)
    }

  /** REAL decode+featurize for `format = 'wav'` payloads: parses the RIFF
    * container and 16-bit PCM per row ([[WavCodec.decode]]) inside the same
    * one-decoder-per-partition batch shape as [[extractFeatures]], emitting
    * the exact integer features (+ rms) of [[WavCodec.features]].
    */
  def extractWavFeatures(media: DataFrame, decimateBy: Int = 1): DataFrame =
    extractAudioFeatures(media, WavCodec.decode _, decimateBy)

  /** Perceptual image fingerprints: REAL decode → nearest-neighbor resize to
    * `side`×`side` → [[BmpCodec.aHash]] (luma-vs-mean bit per pixel, integer
    * cross-product compare — engine-portable). The dedup story this feeds:
    * equal/near-equal aHashes are candidate duplicate IMAGES, so the same
    * groupBy/Hamming machinery the text family runs (q30, q32) applies to
    * binary media unchanged. Same one-decoder-per-partition batch shape as
    * [[extractBmpFeatures]].
    */
  def extractBmpAHash(media: DataFrame, side: Int = 8): DataFrame =
    extract(media, Seq(
      StructField("ahash", StringType, nullable = false),
      StructField("n_ones", LongType, nullable = false))) { payload =>
      val (bits, ones) =
        BmpCodec.aHash(BmpCodec.resizeNearest(BmpCodec.decode(payload), side, side))
      Seq(bits, ones)
    }

  /** Difference-hash fingerprints: REAL decode → nearest-neighbor resize to
    * (side+1)×side → [[BmpCodec.dHash]] horizontal-gradient bits — the
    * brightness-shift-robust sibling of [[extractBmpAHash]], same
    * one-decoder-per-partition batch shape.
    */
  def extractBmpDHash(media: DataFrame, side: Int = 8): DataFrame =
    extractDHashWith(media, BmpCodec.decode _, side)

  /** Frame-grain audio features: REAL decode → [[WavCodec.frameFeatures]]
    * (per-frame zero crossings + Σv², exact integers) — one output row per
    * FULL frame, the voice-activity/energy table a curation pipeline
    * windows over. Same batch shape; the per-row explode happens after the
    * decode, so the codec still runs once per payload.
    */
  def extractWavFrameFeatures(media: DataFrame, frameLen: Int = 64): DataFrame =
    extractRows(media, longs("frame", "zero_crossings", "sum_squares")) { payload =>
      WavCodec.frameFeatures(WavCodec.decode(payload), frameLen).iterator.map {
        case (f, zc, ssq) => Seq(f, zc, ssq)
      }
    }

  /** Voice-activity segmentation over a frame-energy table (the
    * utterance-extraction step an ASR corpus pipeline runs between decode
    * and transcription): consecutive frames with `energyCol` ≥
    * `threshold` form a segment (frame − row_number islands — ONE window
    * pass), segments shorter than `minFrames` drop (clicks and noise
    * bursts), and surviving segments number 0.. per media in start order.
    * Emits (media_id, utt, start_frame, end_frame, n_frames, sum_energy).
    *
    * Scale shape: both windows partition by media_id — a frame table is
    * per-media bounded (duration × rate), so nothing here is global; the
    * active-frame filter prunes BEFORE the window, so silence-dominated
    * corpora (most speech crawls) shuffle only their voiced minority.
    */
  def segmentUtterances(
      frames: DataFrame,
      energyCol: String,
      threshold: Long,
      minFrames: Int): DataFrame = {
    require(minFrames >= 1, s"minFrames=$minFrames must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame")
    val byStart = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("start_frame")
    frames.filter(col(energyCol) >= threshold)
      .withColumn("_grp", col("frame") - row_number().over(w))
      .groupBy(col("media_id"), col("_grp"))
      .agg(
        min("frame").as("start_frame"),
        max("frame").as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col(energyCol)).cast("long").as("sum_energy"))
      .filter(col("n_frames") >= minFrames)
      .withColumn("utt", (row_number().over(byStart) - 1).cast("long"))
      .select(col("media_id"), col("utt"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("sum_energy"))
  }

  /** Frame-energy sign-of-delta fingerprint ([[WavCodec.energyFingerprint]])
    * over any audio codec's decode.
    */
  private def extractFingerprint(
      media: DataFrame,
      decode: Array[Byte] => WavCodec.Wav,
      frameLen: Int): DataFrame =
    extract(media, longs("n_frames") ++ Seq(StructField("fp", StringType, nullable = false)) ++
      longs("sum_energy")) { payload =>
      val (nf, bits, tot) = WavCodec.energyFingerprint(decode(payload), frameLen)
      Seq(nf, bits, tot)
    }

  /** Acoustic fingerprints: REAL decode → [[WavCodec.energyFingerprint]]
    * (frame-energy delta signs, exact integer arithmetic) — the audio twin
    * of [[extractBmpAHash]], same batch shape.
    */
  def extractWavFingerprint(media: DataFrame, frameLen: Int = 44): DataFrame =
    extractFingerprint(media, WavCodec.decode _, frameLen)

  /** FLAC-decoded acoustic fingerprint — [[extractWavFingerprint]]'s
    * compressed twin: the same frame-energy sign-of-delta bitstring over
    * [[FlacCodec.decode]] output. The point of decoding every audio
    * container into the shared [[WavCodec.Wav]] is exactly this:
    * fingerprint/dedup verbs compose unchanged across codecs.
    */
  def extractFlacFingerprint(media: DataFrame, frameLen: Int = 44): DataFrame =
    extractFingerprint(media, FlacCodec.decode _, frameLen)

  /** [[synthesizeWav]]'s COMPRESSED twin: the same integer sample recipe
    * encoded as mono IMA ADPCM (WAVE format 0x11 — [[WavCodec
    * .encodeAdpcm]], 4 bits/sample through the predictor + step-table
    * state machine). The codec is lossy but pure-integer, so the oracle
    * replays the ENTIRE encode+decode chain with a recursive CTE and the
    * decoded samples are exactly reproducible — the audio analog of the
    * JPEG closed-form discipline, with real sequential state instead of
    * a per-block closed form.
    */
  def synthesizeWavAdpcm(
      df: DataFrame,
      idCol: String,
      nSamples: Int = 202,
      samplesPerBlock: Int = 101,
      sampleRate: Int = 8000): DataFrame =
    synthesize(df, idCol) { id =>
      (WavCodec.encodeAdpcm(sampleRate, wavRecipe(id, nSamples), samplesPerBlock),
        audio("wav-adpcm", nSamples.toLong * 1000L / sampleRate))
    }

  /** [[synthesizeWav]]'s LOSSLESSLY-compressed twin: integer sample
    * recipes encoded as real FLAC ([[FlacCodec.encode]] — fixed
    * predictors + Rice-coded residuals). Three recipe shapes by
    * `doc_id % 3` so every doc stresses a different subframe path:
    * constant docs (CONSTANT subframes), a sawtooth (low fixed orders,
    * small Rice parameters), and full-range noise (order 0/1, large
    * parameters or the raw escape). FLAC is lossless, so the oracle
    * regenerates the samples arithmetically and ANY coding drift —
    * bit packing, predictor math, Rice/escape coding, CRCs — lands off
    * the hash (the q311 fully-transmitted==identity discipline).
    */
  def synthesizeFlac(
      df: DataFrame,
      idCol: String,
      nSamples: Int = 600,
      blockSize: Int = 256,
      sampleRate: Int = 16000): DataFrame =
    synthesize(df, idCol) { id =>
      (FlacCodec.encode(sampleRate, 1, flacRecipe(id, nSamples), blockSize),
        audio("flac", nSamples.toLong * 1000L / sampleRate))
    }

  /** The q318 synthesis recipe (shared with its spec): doc m = id mod 3 —
    * m=0 constant `(id·13 mod 200)−100`; m=1 sawtooth
    * `((id mod 50)−25)·4 + ((i mod 256)−128)·((id mod 5)+1)`;
    * m=2 noise `((id·7919 + i·104729) mod 65536)−32768`.
    */
  private[graft] def flacRecipe(id: Long, nSamples: Int): Array[Short] =
    Array.tabulate(nSamples) { i =>
      val v = (id % 3L) match {
        case 0L => (id * 13L) % 200L - 100L
        case 1L => ((id % 50L) - 25L) * 4L + ((i % 256L) - 128L) * ((id % 5L) + 1L)
        case _ => ((id * 7919L + i * 104729L) % 65536L) - 32768L
      }
      v.toShort
    }

  /** The q331 STEREO synthesis recipe (shared with its spec), interleaved
    * L,R: L(i) = ((id mod 50)−25)·4 + ((i mod 256)−128)·((id mod 3)+1),
    * R(i) = L(i) − ((i mod 16)−8)·((id mod 7)+1) — correlated channels
    * with a small difference, the signal shape stereo decorrelation
    * exists for (the side channel L−R stays near zero).
    */
  private[graft] def flacStereoRecipe(id: Long, nFrames: Int): Array[Short] =
    Array.tabulate(nFrames * 2) { j =>
      val i = j / 2
      val l = ((id % 50L) - 25L) * 4L + ((i % 256L) - 128L) * ((id % 3L) + 1L)
      val v = if (j % 2 == 0) l else l - ((i % 16L) - 8L) * ((id % 7L) + 1L)
      v.toShort
    }

  /** [[synthesizeFlac]] for STEREO with the decorrelated channel
    * assignments default FLAC encoders emit — id mod 3 picks left-side /
    * right-side / mid-side, so one corpus exercises all three decode
    * paths. Losslessness keeps the oracle codec-free: it replays the
    * per-channel recipes and interleaves.
    */
  def synthesizeFlacStereo(
      df: DataFrame,
      idCol: String,
      nFrames: Int = 600,
      blockSize: Int = 256,
      sampleRate: Int = 16000): DataFrame =
    synthesize(df, idCol) { id =>
      val mode = (id % 3L) match {
        case 0L => "left-side"
        case 1L => "right-side"
        case _ => "mid-side"
      }
      (FlacCodec.encode(sampleRate, 2, flacStereoRecipe(id, nFrames), blockSize, mode),
        audio("flac", nFrames.toLong * 1000L / sampleRate))
    }

  /** REAL FLAC decode+featurize: container + frame + subframe + Rice
    * decode per row ([[FlacCodec.decode]]) in the one-decoder-per-
    * partition batch shape, then the exact integer features of
    * [[WavCodec.features]] — the audio pipeline is codec-agnostic past
    * decode, which is the point of decoding to the shared [[WavCodec.Wav]].
    */
  def extractFlacFeatures(media: DataFrame, decimateBy: Int = 1): DataFrame =
    extractAudioFeatures(media, FlacCodec.decode _, decimateBy)

  /** Palette entry j = ((j·31+7) mod 256, (j·17+3) mod 256, (j·23+11) mod 256). */
  private def gifColor(j: Int): Int = rgb((j * 31 + 7) % 256, (j * 17 + 3) % 256, (j * 23 + 11) % 256)

  /** The shared 256-entry palette: built once per JVM and only read, so
    * every task shares it.
    */
  private val GifPalette: Array[Int] = Array.tabulate(256)(gifColor)

  /** Palette indices (base + y·31 + x·7) mod 256 — base id·13 for stills,
    * plus a per-scene term for animation frames.
    */
  private def gifIndices(base: Long, width: Int, height: Int): Array[Int] =
    raster(width, height)((y, x) => ((base + y * 31L + x * 7L) % 256L).toInt)

  /** The palette-composed pixels of [[synthesizeGif]]'s GIF for `id`. */
  private def gifTwinPixels(id: Long, width: Int, height: Int): Array[Int] =
    gifIndices(id * 13L, width, height).map(gifColor)

  /** Deterministic synthetic GIF payloads (16×12, 256-entry palette by
    * default): palette index of pixel (x,y) = (id·13 + y·31 + x·7) mod 256
    * and palette entry j = ((j·31+7)%256, (j·17+3)%256, (j·23+11)%256) —
    * the GIF member of the [[synthesizeWav]]/[[synthesizeBmp]] family: an
    * oracle composes the two integer recipes to regenerate every RGB value
    * arithmetically, while the Spark side round-trips them through REAL
    * LZW compression → GIF encode → decode ([[GifCodec]]).
    */
  def synthesizeGif(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12): DataFrame =
    synthesizeImage(df, idCol, "gif", width, height) { id =>
      GifCodec.encode(width, height, 8, GifPalette,
        gifIndices(id * 13L, width, height).map(_.toByte))
    }

  /** [[synthesizeBmp]] generating the SAME pixels as [[synthesizeGif]]
    * (the palette-composed recipe) — the cross-container twin: for each
    * id, this BMP and [[synthesizeGif]]'s GIF decode to identical pixel
    * frames, so every downstream fingerprint must collide across FORMATS.
    * The mixed-container dedup gate (q284) is built on exactly this pair.
    */
  def synthesizeBmpGifTwin(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12): DataFrame =
    synthesizeImage(df, idCol, "bmp", width, height) { id =>
      BmpCodec.encode(width, height, gifTwinPixels(id, width, height))
    }

  /** REAL GIF decode+featurize — LZW decompression + palette lookup per
    * row ([[GifCodec.decode]]) into the SHARED pixel frame, then the exact
    * same feature/resize verbs as the BMP path ([[BmpCodec.features]],
    * [[BmpCodec.resizeNearest]]): one pixel contract, N containers. Same
    * one-decoder-per-partition batch shape as [[extractBmpFeatures]].
    */
  def extractGifFeatures(
      media: DataFrame,
      resizeTo: Option[(Int, Int)] = None): DataFrame =
    extractPixelFeatures(media, GifCodec.decode _, resizeTo)

  /** Difference-hash fingerprints for GIF payloads: REAL LZW decode →
    * nearest-neighbor resize to (side+1)×side → [[BmpCodec.dHash]] — the
    * near-dup machinery of [[extractBmpDHash]] reused verbatim on the
    * third container; equal hashes are candidate duplicate images across
    * FORMATS too (a GIF and a BMP of the same pixels hash identically).
    */
  def extractGifDHash(media: DataFrame, side: Int = 8): DataFrame =
    extractDHashWith(media, GifCodec.decode _, side)

  /** PNG channel recipes: pr = (id·37+y·5+x·11), pg = (id·41+y·13+x·3),
    * pb = (id·43+y·7+x·17), each mod 256.
    */
  private def pngRgb(id: Long, y: Int, x: Int): Int =
    rgb(recipe(id, y, x, 37, 5, 11), recipe(id, y, x, 41, 13, 3), recipe(id, y, x, 43, 7, 17))

  /** PNG gray sample v = (id·53 + y·9 + x·29) mod 256. */
  private def pngGray(id: Long, width: Int, height: Int): Array[Int] =
    raster(width, height)(recipe(id, _, _, 53, 9, 29))

  /** Per-channel primes (p₀, p₁, p₂) of the 16-bit PNG recipes: r, g, b, a. */
  private val Png16Primes =
    Seq((257L, 1031L, 4099L), (263L, 1033L, 4111L), (269L, 1039L, 4127L), (271L, 1049L, 4129L))

  /** 16-bit PNG channels c16 = (id·p₀ + y·p₁ + x·p₂) mod 65536, the first
    * `n` of r, g, b, a.
    */
  private def png16(id: Long, width: Int, height: Int, n: Int): Seq[Array[Int]] =
    Png16Primes.take(n).map { case (a, b, c) =>
      raster(width, height)(recipe(id, _, _, a, b, c, 65536L))
    }

  /** Deterministic synthetic PNG payloads (16×12 8-bit truecolor by
    * default): channel recipe pr = (id·37+y·5+x·11) mod 256,
    * pg = (id·41+y·13+x·3) mod 256, pb = (id·43+y·7+x·17) mod 256 — the
    * PNG member of the synthesize family: an oracle regenerates every RGB
    * value arithmetically while the Spark side round-trips them through
    * REAL zlib DEFLATE → PNG encode → inflate + unfilter ([[PngCodec]];
    * the encoder cycles all five scanline filters, so every payload
    * exercises every unfilter path).
    */
  def synthesizePng(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      PngCodec.encode(width, height, raster(width, height)(pngRgb(id, _, _)), interlaced)
    }

  /** Paletted (color type 3) synthetic PNGs carrying the GIF recipe —
    * palette index (id·13 + y·31 + x·7) mod 256, palette entry j =
    * ((j·31+7) mod 256, (j·17+3) mod 256, (j·23+11) mod 256): the
    * GIF-shaped PNG crawled corpora are full of, through the REAL
    * PLTE + index-plane DEFLATE path ([[PngCodec.encodePalette]]).
    */
  def synthesizePngPalette(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      PngCodec.encodePalette(width, height, gifIndices(id * 13L, width, height),
        GifPalette, interlaced)
    }

  /** [[synthesizePng]] generating the SAME pixels as [[synthesizeGif]]
    * (the palette-composed recipe) — the third corner of the cross-format
    * twin set ([[synthesizeBmpGifTwin]] is the BMP corner): for each id
    * the PNG, GIF, and BMP decode to identical pixel frames, so every
    * downstream fingerprint must collide across all three containers.
    */
  def synthesizePngGifTwin(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      PngCodec.encode(width, height, gifTwinPixels(id, width, height))
    }

  /** Grayscale (color type 0) synthetic PNGs — the scan/document-image
    * shape: sample v = (id·53 + y·9 + x·29) mod 256, widened to
    * r = g = b = v at decode, so the oracle is the recipe with equal
    * channels.
    */
  def synthesizePngGray(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      PngCodec.encodeGray(width, height, pngGray(id, width, height), interlaced)
    }

  /** RGBA (color type 6) synthetic PNGs — the web's most common PNG
    * shape: the [[synthesizePng]] channel recipes plus an alpha plane
    * a = (id·29 + y·3 + x·13) mod 256. Decode composites over white, so
    * the oracle composes the channel recipe with the alpha recipe:
    * out = (a·c + (255−a)·255 + 127) // 255 per channel.
    */
  def synthesizePngAlpha(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      val argb = raster(width, height) { (y, x) =>
        (recipe(id, y, x, 29, 3, 13) << 24) | pngRgb(id, y, x)
      }
      PngCodec.encodeRgba(width, height, argb, interlaced)
    }

  /** Gray+alpha (color type 4) synthetic PNGs: the [[synthesizePngGray]]
    * sample recipe plus alpha a = (id·19 + y·23 + x·5) mod 256, decoded
    * by compositing over white and widening to r = g = b.
    */
  def synthesizePngGrayAlpha(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      PngCodec.encodeGrayAlpha(width, height, pngGray(id, width, height),
        raster(width, height)(recipe(id, _, _, 19, 23, 5)), interlaced)
    }

  /** 16-BIT grayscale (depth 16, color type 0) synthetic PNGs — the
    * scan/medical/archival shape: v16 = (id·257 + y·1031 + x·4099) mod
    * 65536, two bytes per sample through the shared filter machinery;
    * decode lands the most significant byte (v16 // 256) in the frame.
    */
  def synthesizePngGray16(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      PngCodec.encodeGray16(width, height, png16(id, width, height, 1).head, interlaced)
    }

  /** 16-BIT TRUECOLOR (depth 16, color type 2) synthetic PNGs — the
    * [[synthesizePngGray16]] recipe per channel: c16 = (id·p₀ + y·p₁ +
    * x·p₂) mod 65536 with distinct primes per channel; decode frames
    * each channel by its MSB (c16 // 256).
    */
  def synthesizePngRgb16(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      val Seq(cr, cg, cb) = png16(id, width, height, 3)
      PngCodec.encodeRgb16(width, height, cr, cg, cb, interlaced)
    }

  /** 16-BIT RGBA (depth 16, color type 6) synthetic PNGs: the
    * [[synthesizePngRgb16]] channels plus a16 = (id·271 + y·1049 +
    * x·4129) mod 65536; decode composites the MSBs over white (the
    * q328 integer recipe on c16 // 256, a16 // 256).
    */
  def synthesizePngRgba16(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame =
    synthesizeImage(df, idCol, "png", width, height) { id =>
      val Seq(cr, cg, cb, ca) = png16(id, width, height, 4)
      PngCodec.encodeRgba16(width, height, cr, cg, cb, ca, interlaced)
    }

  /** [[synthesizePngPalette]] plus tRNS: entry j's alpha = (j·7 + 13)
    * mod 256 — transparency without an alpha channel, the GIF-shaped
    * web PNG; decode composites each palette color over white by its
    * entry's alpha.
    */
  def synthesizePngPaletteTrns(
      df: DataFrame,
      idCol: String,
      width: Int = 16,
      height: Int = 12,
      interlaced: Boolean = false): DataFrame = {
    val alphas = Array.tabulate(256)(j => (j * 7 + 13) % 256)
    synthesizeImage(df, idCol, "png", width, height) { id =>
      PngCodec.encodePaletteTrns(width, height, gifIndices(id * 13L, width, height),
        GifPalette, alphas, interlaced)
    }
  }

  /** REAL PNG decode+featurize — zlib inflate + per-scanline unfilter per
    * row ([[PngCodec.decode]]) into the SHARED pixel frame, then the same
    * feature/resize verbs as the BMP/GIF paths: one pixel contract, N
    * containers. Same one-decoder-per-partition batch shape.
    */
  def extractPngFeatures(
      media: DataFrame,
      resizeTo: Option[(Int, Int)] = None): DataFrame =
    extractPixelFeatures(media, PngCodec.decode _, resizeTo)

  /** Difference-hash fingerprints for PNG payloads: REAL inflate+unfilter
    * decode → nearest-neighbor resize to (side+1)×side → [[BmpCodec.dHash]]
    * — [[extractBmpDHash]]/[[extractGifDHash]]'s machinery on the fourth
    * container; equal hashes mark candidate duplicates across FORMATS.
    */
  def extractPngDHash(media: DataFrame, side: Int = 8): DataFrame =
    extractDHashWith(media, PngCodec.decode _, side)

  /** Block-constant grayscale pixels: block (by, bx) of `tile`×`tile`
    * has luma (base + by·71 + bx·113) mod 256.
    */
  private def grayBlocks(base: Long, w: Int, h: Int, tile: Int): Array[Int] =
    raster(w, h) { (y, x) =>
      val v = ((base + (y / tile) * 71L + (x / tile) * 113L) % 256L).toInt
      rgb(v, v, v)
    }

  /** [[synthesizeJpeg]] and its progressive twin: the same block-constant
    * pixels through a different `encode(w, h, pixels)`.
    */
  private def synthesizeJpegWith(
      df: DataFrame,
      idCol: String,
      grayscale: Boolean,
      blocksW: Int,
      blocksH: Int,
      subsample420: Boolean)(encode: (Int, Int, Array[Int]) => Array[Byte]): DataFrame = {
    // 4:2:0 constants must hold per 16×16 MCU (so the downsampled chroma
    // block is constant too — DC-only on every component); 4:4:4/gray per
    // 8×8 block
    val tile = if (subsample420) 16 else 8
    val w = blocksW * tile; val h = blocksH * tile
    synthesizeImage(df, idCol, "jpeg", w, h) { id =>
      val pixels =
        if (grayscale) grayBlocks(id * 29L, w, h, tile)
        else raster(w, h) { (y, x) =>
          val by = y / tile; val bx = x / tile
          rgb(recipe(id, by, bx, 19, 53, 101), recipe(id, by, bx, 23, 59, 103),
            recipe(id, by, bx, 31, 61, 107))
        }
      encode(w, h, pixels)
    }
  }

  /** Deterministic synthetic JPEG payloads, built BLOCK-CONSTANT so the
    * lossy round-trip has a closed form: the image is a `bw`×`bh` grid of
    * 8×8 blocks, each a constant sample — every AC coefficient quantizes
    * to exactly zero and the decoded block is the pure-integer DC path
    * documented on [[JpegCodec.Fix]], which a SQL oracle replays with
    * BIGINT shifts. Grayscale: block (by,bx) has luma
    * `(id·29 + by·71 + bx·113) mod 256`. Color (4:4:4): block RGB =
    * `((id·19+by·53+bx·101) mod 256, (id·23+by·59+bx·103) mod 256,
    * (id·31+by·61+bx·107) mod 256)` — constant RGB → constant YCbCr, so
    * each channel is DC-only too. The Spark side round-trips through the
    * REAL entropy coder: Huffman tables, DC prediction, byte stuffing,
    * fixed-point FDCT/IDCT.
    */
  def synthesizeJpeg(
      df: DataFrame,
      idCol: String,
      grayscale: Boolean,
      blocksW: Int = 2,
      blocksH: Int = 2,
      subsample420: Boolean = false): DataFrame =
    synthesizeJpegWith(df, idCol, grayscale, blocksW, blocksH, subsample420) { (w, h, px) =>
      JpegCodec.encode(w, h, px, grayscale, subsample420 = subsample420)
    }

  /** [[synthesizeJpeg]]'s PROGRESSIVE (SOF2) twin: the same block-
    * constant pixels through [[JpegCodec.encodeProgressive]] — multi-scan
    * spectral selection + successive approximation, the majority encoding
    * of real crawled photos. Because the fully-transmitted progressive
    * stream carries the same quantized coefficients as the sequential
    * one, the SAME closed-form oracles gate it (q311/q312 reuse q300/
    * q303's BIGINT chains verbatim).
    */
  def synthesizeJpegProgressive(
      df: DataFrame,
      idCol: String,
      grayscale: Boolean,
      blocksW: Int = 2,
      blocksH: Int = 2,
      subsample420: Boolean = false): DataFrame =
    synthesizeJpegWith(df, idCol, grayscale, blocksW, blocksH, subsample420) { (w, h, px) =>
      JpegCodec.encodeProgressive(w, h, px, grayscale, subsample420 = subsample420)
    }

  /** REAL JPEG decode+featurize — Huffman entropy decode + dequant +
    * fixed-point IDCT per row ([[JpegCodec.decode]]) into the SHARED pixel
    * frame, then the same feature/resize verbs as the BMP/GIF/PNG paths:
    * one pixel contract, N containers. Same one-decoder-per-partition
    * batch shape.
    */
  def extractJpegFeatures(
      media: DataFrame,
      resizeTo: Option[(Int, Int)] = None): DataFrame =
    extractPixelFeatures(media, JpegCodec.decode _, resizeTo)

  /** Difference-hash fingerprints for JPEG payloads: REAL entropy decode →
    * nearest-neighbor resize to (side+1)×side → [[BmpCodec.dHash]] — the
    * near-dup machinery on the FIFTH container. Lossy formats still dedup
    * exactly against themselves: identical source pixels encode to
    * identical bytes, so JPEG twins collide even though a JPEG of the same
    * pixels as a PNG may not.
    */
  def extractJpegDHash(media: DataFrame, side: Int = 8): DataFrame =
    extractDHashWith(media, JpegCodec.decode _, side)

  /** Synthetic ROTATED-DUPLICATE photo corpus: docs sharing a group
    * `doc_id div 8` are the SAME upright image (the q302 block-constant
    * grayscale recipe keyed by the group), each stored in the pixel
    * order a camera at orientation `1 + doc_id % 8` would write — i.e.
    * stored = inverse-orientation remap of upright — with the
    * orientation recorded in an EXIF APP1. Because the upright image is
    * block-constant, every axis-aligned remap of it is block-constant
    * too, so the lossy encode stays DC-exact and the decoded stored
    * pixels are the EXACT remap of the decoded upright pixels. Non-
    * square (`blocksW` ≠ `blocksH` exercises the orientation-5–8
    * dimension swap).
    */
  def synthesizeJpegOriented(
      df: DataFrame,
      idCol: String,
      blocksW: Int = 4,
      blocksH: Int = 2): DataFrame = {
    val w = blocksW * 8; val h = blocksH * 8
    synthesize(df, idCol) { id =>
      val o = 1 + (id % 8).toInt
      val stored = BmpCodec.applyOrientation(
        BmpCodec.Bmp(w, h, grayBlocks((id / 8) * 29L, w, h, 8)), BmpCodec.inverseOrientation(o))
      val jpeg = JpegCodec.encode(
        stored.width, stored.height, stored.pixels, grayscale = true)
      (ExifCodec.insertApp1(jpeg, ExifCodec.buildApp1(o, "2026:08:12 12:00:00", None)),
        image("jpeg", stored.width, stored.height))
    }
  }

  /** ORIENTATION-NORMALIZED difference-hash for JPEG payloads: sniff the
    * EXIF orientation ([[ExifCodec.sniff]], default 1 when absent),
    * decode, upright-remap ([[BmpCodec.applyOrientation]]), THEN resize →
    * dHash — so a rotated duplicate photo (orientations 3/6/8: every
    * phone camera) lands in the SAME near-dup cluster as its upright
    * twin, which the stored-order hash of [[extractJpegDHash]] misses.
    * Emits the sniffed orientation for audit.
    */
  def extractJpegOrientedDHash(media: DataFrame, side: Int = 8): DataFrame =
    extract(media, longs("orientation") ++
      Seq(StructField("dhash", StringType, nullable = false)) ++ longs("ones")) { payload =>
      val o = ExifCodec.sniff(payload).orientation.getOrElse(1)
      val upright = BmpCodec.applyOrientation(JpegCodec.decode(payload), o)
      o.toLong +: dHashValues(side)(upright)
    }

  /** Quarantine decode: the poison-pill-safe twin of
    * [[extractPixelFeatures]]. A 100 TB media scan WILL contain corrupt
    * payloads, and the loud-failure contract that protects correctness
    * must not let one bad row kill a million-row job — so each row
    * decodes under a catch: good rows carry features and `ok = true`,
    * bad rows carry NULL features, `ok = false`, and the decoder's typed
    * message in `decode_error` (the quarantine audit a curation pipeline
    * writes aside and retries/reports). Only IllegalArgumentException —
    * the codecs' documented failure type — is contained; anything else
    * is a bug and still propagates.
    */
  private def extractPixelFeaturesQuarantine(
      media: DataFrame,
      decode: Array[Byte] => BmpCodec.Bmp): DataFrame =
    extract(media, Seq(
      StructField("ok", BooleanType, nullable = false),
      StructField("decode_error", StringType, nullable = true)) ++
      PixelFeatureNames.map(StructField(_, LongType, nullable = true))) { payload =>
      try true +: null +: pixelFeatureValues(BmpCodec.features(decode(payload)))
      catch {
        case e: IllegalArgumentException =>
          false +: e.getMessage +: Seq.fill(PixelFeatureNames.size)(null)
      }
    }

  /** [[extractPngFeatures]] with per-row quarantine instead of job
    * failure — see [[extractPixelFeaturesQuarantine]].
    */
  def extractPngFeaturesQuarantine(media: DataFrame): DataFrame =
    extractPixelFeaturesQuarantine(media, PngCodec.decode _)

  /** [[extractJpegFeatures]] with per-row quarantine — same contract. */
  def extractJpegFeaturesQuarantine(media: DataFrame): DataFrame =
    extractPixelFeaturesQuarantine(media, JpegCodec.decode _)

  /** [[extractGifFeatures]] with per-row quarantine — same contract. */
  def extractGifFeaturesQuarantine(media: DataFrame): DataFrame =
    extractPixelFeaturesQuarantine(media, GifCodec.decode _)

  /** The poison fixtures' shape: rows whose id is a multiple of `everyN`
    * and whose payload is non-empty get `rewrite(payload)`; every other
    * value, and the schema, pass through. Null/empty payloads have no
    * byte to damage, so they pass through rather than crash the fixture.
    */
  private def rewritePayloads(media: DataFrame, everyN: Long)(
      rewrite: Array[Byte] => Array[Byte]): DataFrame = {
    require(everyN > 0, s"everyN must be positive, got $everyN")
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    PartitionBatch.mapPartitions(media, media.schema) { rows =>
      rows.map { r =>
        val vals = r.toSeq.toArray
        val p0 = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        if (r.getLong(idIdx) % everyN == 0L && p0 != null && p0.nonEmpty) {
          vals(payloadIdx) = rewrite(p0)
        }
        Row.fromSeq(vals.toSeq)
      }
    }
  }

  /** Deterministically corrupt PNG payloads of selected rows (flip the
    * LAST byte) — the planted-poison fixture the PNG quarantine gate
    * (q307) runs on. The last byte sits in IEND's CRC, so the decode
    * failure is guaranteed and typed. This guarantee is PNG-ONLY: GIF
    * and JPEG decodes return before ever validating their final byte
    * (GifCodec stops at the first image descriptor, JpegCodec never
    * checks EOI), so a last-byte flip is a no-op corruption for them —
    * the fixture asserts the PNG signature on every row it flips rather
    * than silently producing ok=true "corrupted" rows. For a corruption
    * every codec in the family detects, use [[truncatePayloads]].
    */
  def corruptPayloads(media: DataFrame, everyN: Long): DataFrame = {
    val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    rewritePayloads(media, everyN) { p0 =>
      require(
        p0.length >= 8 && java.util.Arrays.equals(java.util.Arrays.copyOf(p0, 8), pngSig),
        "corruptPayloads is a PNG-only fixture (last byte = IEND CRC); " +
          "use truncatePayloads for other formats")
      val p = p0.clone()
      p(p.length - 1) = (p(p.length - 1) ^ 0x01).toByte
      p
    }
  }

  /** Format-agnostic poison fixture: TRUNCATE selected payloads to half
    * length. Every codec in the family walks a length-bearing container
    * structure (PNG chunks, GIF sub-blocks, JPEG segments, RIFF chunks,
    * BMP pixel array) and throws a typed "truncated …"
    * IllegalArgumentException when the walk runs past the end, so unlike
    * a byte flip this corruption is guaranteed-detected for ALL formats
    * — the right fixture for GIF/JPEG/AVI quarantine gates and the
    * streaming poison-pill spec.
    */
  def truncatePayloads(media: DataFrame, everyN: Long): DataFrame =
    rewritePayloads(media, everyN)(p0 => java.util.Arrays.copyOf(p0, p0.length / 2))

  /** Deterministic synthetic ANIMATED GIF payloads — the video-modality
    * member of the synthesize family: `nFrames` full-screen frames over
    * the shared palette recipe, with frame f's indices
    * `(id·13 + (f/3)·97 + y·31 + x·7) mod 256` — consecutive frames
    * within a 3-frame SCENE are identical and scene boundaries jump, so
    * temporal operators (frame features, scene-change detection) have an
    * integer ground truth an oracle can replay, while the Spark side
    * round-trips every frame through REAL LZW ([[GifCodec
    * .encodeAnimation]] / [[GifCodec.decodeFrames]]).
    */
  def synthesizeGifAnimation(
      df: DataFrame,
      idCol: String,
      nFrames: Int = 6,
      width: Int = 16,
      height: Int = 12): DataFrame =
    synthesize(df, idCol) { id =>
      val frames = (0 until nFrames).map { f =>
        gifIndices(id * 13L + (f / 3) * 97L, width, height).map(_.toByte)
      }
      (GifCodec.encodeAnimation(width, height, 8, GifPalette, frames),
        Row("video", "gif", width, height, nFrames.toLong * 100L))
    }

  /** The frame-grain twin of [[extractPixelFeatures]]'s sharing: one
    * multi-frame decode per payload (`decode` — [[GifCodec.decodeFrames]]
    * or [[AviCodec.decodeFrames]]), then a per-frame projection into
    * (media_id, frame, …fields) rows — the flatMap-after-decode shell
    * every frame extractor rides: ONE temporal contract, N containers,
    * exactly like the still-image family's shared pixel contract.
    */
  private def extractFramesWith(
      media: DataFrame,
      decode: Array[Byte] => Seq[BmpCodec.Bmp],
      fields: Seq[StructField],
      project: BmpCodec.Bmp => Seq[Any]): DataFrame =
    extractRows(media, longs("frame") ++ fields) { payload =>
      decode(payload).iterator.zipWithIndex.map { case (img, f) => f.toLong +: project(img) }
    }

  private def frameFeatureFields: Seq[StructField] =
    longs("width", "height", "sum_r", "sum_g", "sum_b", "luma_min", "luma_max", "edge_count")

  private def frameFeatureProject(img: BmpCodec.Bmp): Seq[Any] = {
    val ft = BmpCodec.features(img)
    Seq(ft.width, ft.height, ft.sumR, ft.sumG, ft.sumB,
      ft.lumaMin, ft.lumaMax, ft.edgeCount)
  }

  /** Frame-grain image features: REAL multi-frame decode
    * ([[GifCodec.decodeFrames]]) → one [[BmpCodec.features]] row per
    * FRAME — the video analog of [[extractWavFrameFeatures]], and the
    * table temporal operators (scene-change detection, frame dedup,
    * sampling) window over. The decode runs once per payload; the
    * per-frame explode happens after it, inside the same
    * one-decoder-per-partition batch shape.
    */
  def extractGifFrameFeatures(media: DataFrame): DataFrame =
    extractFramesWith(media, GifCodec.decodeFrames _,
      frameFeatureFields, frameFeatureProject)

  /** Per-FRAME difference-hash fingerprints for animated GIF payloads:
    * one multi-frame decode per payload, then resize(9×8) → dHash per
    * frame — the table cross-video SCENE dedup groups on (two videos
    * sharing a scene collide on that frame's hash even when the rest
    * differ). Same flatMap-after-decode shape as
    * [[extractGifFrameFeatures]].
    */
  def extractGifFrameDHash(media: DataFrame, side: Int = 8): DataFrame =
    extractFramesWith(media, GifCodec.decodeFrames _, DHashFields, dHashValues(side))

  /** Deterministic synthetic MJPEG-in-AVI payloads — the REAL-video
    * member of the synthesize family: `nFrames` frames, each a
    * block-constant grayscale JPEG (the [[synthesizeJpeg]] closed-form
    * discipline) muxed into a RIFF/AVI container ([[AviCodec
    * .encodeMjpeg]]). Block (by,bx) of frame f has luma
    * `(id·29 + (f/3)·67 + by·71 + bx·113) mod 256` — constant per block,
    * so every frame's lossy round-trip is the pure-integer DC closed form
    * on [[JpegCodec.Fix]], and frames within a 3-frame SCENE are
    * byte-identical while scene boundaries jump: temporal operators get
    * an integer ground truth the oracle replays through the q300 BIGINT
    * shift chain, while the Spark side round-trips every frame through
    * the REAL entropy coder AND the real container walk.
    */
  def synthesizeAviMjpeg(
      df: DataFrame,
      idCol: String,
      nFrames: Int = 6,
      blocksW: Int = 2,
      blocksH: Int = 2,
      fps: Int = 10): DataFrame = {
    val w = blocksW * 8; val h = blocksH * 8
    synthesize(df, idCol) { id =>
      val framePayloads = (0 until nFrames).map { f =>
        JpegCodec.encode(w, h, grayBlocks(id * 29L + (f / 3) * 67L, w, h, 8), grayscale = true)
      }
      (AviCodec.encodeMjpeg(w, h, fps, framePayloads),
        Row("video", "avi", w, h, nFrames.toLong * 1000L / fps))
    }
  }

  /** Frame-grain image features from a REAL video container: RIFF/AVI
    * walk + per-frame JPEG entropy decode ([[AviCodec.decodeFrames]]) →
    * one [[BmpCodec.features]] row per FRAME — the same temporal table
    * contract as [[extractGifFrameFeatures]], so scene-change detection
    * and scene dedup run UNCHANGED on camera-adjacent input. Decode is
    * once per payload; the per-frame explode happens after it, inside
    * the one-decoder-per-partition batch shape.
    */
  def extractAviFrameFeatures(media: DataFrame): DataFrame =
    extractFramesWith(media, AviCodec.decodeFrames _,
      frameFeatureFields, frameFeatureProject)

  /** Per-FRAME difference-hash fingerprints for MJPEG-in-AVI payloads:
    * container walk + JPEG decode per frame, then resize(9×8) → dHash —
    * [[extractGifFrameDHash]]'s cross-video scene-dedup machinery on the
    * real video container.
    */
  def extractAviFrameDHash(media: DataFrame, side: Int = 8): DataFrame =
    extractFramesWith(media, AviCodec.decodeFrames _, DHashFields, dHashValues(side))

  /** Frame PROFILE: features AND fingerprint from ONE decode pass — the
    * keyframe-extraction input (scene detection needs the sums, keyframe
    * identity needs the hash; decoding the video twice to get both is
    * the kind of cost a 100 TB pipeline notices).
    */
  def extractAviFrameProfile(media: DataFrame, side: Int = 8): DataFrame =
    extractFramesWith(media, AviCodec.decodeFrames _,
      frameFeatureFields ++ DHashFields,
      img => frameFeatureProject(img) ++ dHashValues(side)(img))

  /** Range-parallel frame features for ONE huge MJPEG capture: the
    * container walk ([[AviCodec.frameOffsets]] — cheap, zero entropy
    * decode) yields the frame chunk map driver-side, then the frames
    * decode across `parallelism` tasks via [[AviCodec.decodeFrameAt]] —
    * the answer to "a single 100 GB capture file must not pin one task",
    * possible because MJPEG frames are independent. The payload ships to
    * tasks by broadcast here (the single-JVM shape); on a real cluster
    * the same (offset, size) map drives RANGED READS against the object
    * store — the offsets are the contract, the transport is deployment
    * detail. Output schema equals [[extractAviFrameFeatures]]'s, so
    * split == whole-file is directly assertable (MultimodalSpec).
    */
  def splitAviFrameFeatures(
      spark: SparkSession,
      mediaId: Long,
      payload: Array[Byte],
      parallelism: Int): DataFrame = {
    val (inf, offs) = AviCodec.frameOffsets(payload)
    val bc = spark.sparkContext.broadcast(payload)
    // frame ordinals, split evenly over `parallelism` tasks
    val frames = spark.range(0L, offs.length.toLong, 1L, math.max(parallelism, 1)).toDF()
    PartitionBatch.mapPartitions(frames,
      StructType(MediaId +: (longs("frame") ++ frameFeatureFields))) { rows =>
      rows.map { r =>
        val f = r.getLong(0)
        val (o, s) = offs(f.toInt)
        Row.fromSeq(mediaId +: f +:
          frameFeatureProject(AviCodec.decodeFrameAt(bc.value, o, s, inf, f)))
      }
    }
  }

  /** The header sniffs' shape: `sniff` reads (width, height, values) from
    * the payload's header, and a trailing `meta_match` flags rows whose
    * declared `meta` dims disagree with the bytes.
    */
  private def sniffAgainstMeta(media: DataFrame, fields: Seq[StructField])(
      sniff: Array[Byte] => (Int, Int, Seq[Any])): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val metaIdx = media.schema.fieldIndex("meta")
    PartitionBatch.mapPartitions(media, StructType(MediaId +: fields :+
      StructField("meta_match", BooleanType, nullable = false))) { rows =>
      rows.map { r =>
        val (w, h, values) = sniff(r.getAs[Array[Byte]](payloadIdx))
        val meta = if (r.isNullAt(metaIdx)) null else r.getStruct(metaIdx)
        val ok = meta != null && !meta.isNullAt(2) && !meta.isNullAt(3) &&
          meta.getInt(2) == w && meta.getInt(3) == h
        Row.fromSeq(r.getLong(idIdx) +: values :+ ok)
      }
    }
  }

  /** Header-only sniff for AVI payloads: [[AviCodec.info]] walks the
    * RIFF structure to `avih` without touching any frame's entropy data
    * — O(header) per row, the probe a media pipeline filters on (dims,
    * frame count, duration) BEFORE paying for decode. `meta_match` flags
    * rows whose declared metadata disagrees with the container bytes —
    * the video twin of [[sniffJpegDims]].
    */
  def sniffAviInfo(media: DataFrame): DataFrame =
    sniffAgainstMeta(media, longs("sniff_width", "sniff_height", "us_per_frame", "n_frames",
      "duration_ms_sniff")) { payload =>
      val inf = AviCodec.info(payload)
      (inf.width, inf.height, Seq(inf.width.toLong, inf.height.toLong,
        inf.usPerFrame.toLong, inf.totalFrames.toLong,
        inf.usPerFrame.toLong * inf.totalFrames / 1000L))
    }

  /** Header-only dimension sniff for JPEG payloads: [[JpegCodec.dims]]
    * walks markers to SOF without touching the entropy stream — O(header)
    * per row vs O(pixels) for a decode, the probe a media pipeline
    * filters on BEFORE paying for decode. `meta_match` flags rows whose
    * declared metadata disagrees with the bytes (crawled corpora lie) —
    * the media twin of the schema-validation story.
    */
  def sniffJpegDims(media: DataFrame): DataFrame =
    sniffAgainstMeta(media, longs("sniff_width", "sniff_height", "n_components")) { payload =>
      val (w, h, nc) = JpegCodec.dims(payload)
      (w, h, Seq(w.toLong, h.toLong, nc.toLong))
    }

  /** Deterministic MP3-shaped streams ([[MpegAudioSniff.synthesize]] —
    * ID3v2 + valid Layer III frame headers with header-computed junk
    * payloads, a VBR bitrate profile by recipe) as a media frame.
    */
  def synthesizeMp3(df: DataFrame, idCol: String, baseFrames: Int = 20): DataFrame =
    synthesize(df, idCol) { id =>
      val n = baseFrames + (id % 11).toInt
      (MpegAudioSniff.synthesize(id, n), audio("mp3",
        MpegAudioSniff.SamplesPerFrame.toLong * n * 1000L /
          MpegAudioSniff.SampleRateHz((id % 3).toInt)))
    }

  /** Header-only MP3 sniff ([[MpegAudioSniff.sniff]]): frame count,
    * sample rate, bitrate profile (min/sum/max — CBR vs VBR), duration
    * and ID3 overhead from the 4-byte frame headers alone — O(headers)
    * per row, the duration probe an audio pipeline filters on BEFORE
    * deciding to decode (or quarantine). The audio twin of
    * [[sniffAviInfo]]/[[sniffJpegDims]].
    */
  def sniffMp3Info(media: DataFrame): DataFrame =
    extract(media, longs("n_frames", "sample_rate", "sum_bitrate_kbps", "min_bitrate_kbps",
      "max_bitrate_kbps", "duration_ms", "id3_bytes")) { payload =>
      val i = MpegAudioSniff.sniff(payload)
      Seq(i.nFrames, i.sampleRate.toLong, i.sumBitrateKbps,
        i.minBitrateKbps.toLong, i.maxBitrateKbps.toLong, i.durationMs, i.id3Bytes)
    }

  /** The coded-MP3 synthesizers differ only in the stream generator:
    * `generate(id)` at 44.1 kHz, `nFrames` frames.
    */
  private def synthesizeMp3With(df: DataFrame, idCol: String, nFrames: Int)(
      generate: Long => Array[Byte]): DataFrame =
    synthesize(df, idCol) { id =>
      (generate(id), audio("mp3",
        MpegAudioSniff.SamplesPerFrame.toLong * nFrames * 1000L / 44100L))
    }

  /** Deterministic FULLY-CODED Layer III streams
    * ([[Mp3Codec.synthesizeCoded]] — real side info, real Huffman data,
    * spectral lines all ±1 at exact power-of-two gains) as a media
    * frame: the decode twin of the header-only [[synthesizeMp3]].
    */
  def synthesizeMp3Coded(df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(Mp3Codec.synthesizeCoded(_, nFrames))

  /** Integer spectral features per granule, `block_type` included when
    * `typed`.
    */
  private def mp3Spectra(media: DataFrame, typed: Boolean): DataFrame =
    extractRows(media, longs("frame_idx", "granule", "channel") ++
      (if (typed) longs("block_type") else Nil) ++
      longs("big_values", "global_gain", "part2_3_length", "n_nonzero", "sum_abs_micro",
        "checksum_micro")) { payload =>
      Mp3Codec.decodeSpectra(payload).iterator.map { g =>
        var nnz = 0L; var sumAbs = 0L; var checksum = 0L
        var j = 0
        while (j < 576) {
          // count the OUTPUT spectrum (after MS matrixing a line can
          // cancel to zero even though its coded `is` line was set)
          if (g.xr(j) != 0.0) nnz += 1
          val m = math.rint(g.xr(j) * 1e6).toLong
          sumAbs += math.abs(m)
          checksum += (j + 1) * m
          j += 1
        }
        Seq(g.frameIdx.toLong, g.granule.toLong, g.channel.toLong) ++
          (if (typed) Seq(g.info.blockType.toLong) else Nil) ++
          Seq(g.info.bigValues.toLong, g.info.globalGain.toLong,
            g.info.part23Length.toLong, nnz, sumAbs, checksum)
      }
    }

  /** REAL Layer III decode to requantized spectra ([[Mp3Codec
    * .decodeSpectra]]: side info, bit reservoir, scalefactors, Huffman,
    * requantization) + integer spectral features per granule: nonzero
    * line count, Σ round(|xr|·10⁶), and the position/sign-sensitive
    * Σ (line+1)·round(xr·10⁶) — on the synthesis recipe every line is
    * EXACTLY ±2^g, so all three are integers an oracle replays from the
    * bit recipe. Same one-decoder-per-partition batch shape as the
    * image codecs.
    */
  def extractMp3Spectra(media: DataFrame): DataFrame = mp3Spectra(media, typed = false)

  /** [[synthesizeMp3Coded]]'s SHORT-BLOCK twin
    * ([[Mp3Codec.synthesizeCodedShort]] — window-switching transient
    * granules with per-window subblock gains).
    */
  def synthesizeMp3CodedShort(df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(Mp3Codec.synthesizeCodedShort(_, nFrames))

  /** [[synthesizeMp3Coded]]'s MS JOINT STEREO twin
    * ([[Mp3Codec.synthesizeCodedMs]]).
    */
  def synthesizeMp3CodedMs(df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(Mp3Codec.synthesizeCodedMs(_, nFrames))

  /** [[synthesizeMp3Coded]]'s START/STOP twin
    * ([[Mp3Codec.synthesizeCodedStartStop]] — granule 0 a type-1 start
    * block, granule 1 a type-3 stop block, the transient bracket).
    */
  def synthesizeMp3CodedStartStop(
      df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(Mp3Codec.synthesizeCodedStartStop(_, nFrames))

  /** [[synthesizeMp3Coded]]'s INTENSITY JOINT STEREO twin
    * ([[Mp3Codec.synthesizeCodedIntensity]]).
    */
  def synthesizeMp3CodedIntensity(
      df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(Mp3Codec.synthesizeCodedIntensity(_, nFrames))

  /** [[synthesizeMp3CodedIntensity]]'s COMBINED twin — the same bit
    * layout under mode_extension 3 ([[Mp3Codec.synthesizeCodedIntensity]]
    * with `modeExt = 3`): MS must reconstruct below the intensity
    * bound, the pan above it, illegal positions falling back to MS.
    */
  def synthesizeMp3CodedIntensityMs(
      df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(
      Mp3Codec.synthesizeCodedIntensity(_, nFrames, modeExt = 3))

  /** [[synthesizeMp3CodedStartStop]] with mixed_block_flag SET
    * ([[Mp3Codec.synthesizeCodedStartStop]] `mixed = true`): the
    * spectral surface is bit-identical to the unmixed bracket, so the
    * q362 oracle must hold verbatim — the window-routing difference is
    * spec-gated in Mp3Spec.
    */
  def synthesizeMp3CodedStartStopMixed(
      df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(
      Mp3Codec.synthesizeCodedStartStop(_, nFrames, mixed = true))

  /** [[synthesizeMp3CodedIntensity]]'s SHORT-BLOCK twin
    * ([[Mp3Codec.synthesizeCodedIntensityShort]] — both channels
    * window-switching type 2; the decoder's per-window bound search is
    * the surface under test).
    */
  def synthesizeMp3CodedIntensityShort(
      df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(Mp3Codec.synthesizeCodedIntensityShort(_, nFrames))

  /** [[synthesizeMp3CodedIntensityShort]]'s COMBINED twin — the same
    * bits under mode_extension 3: MS everywhere by default, per-window
    * intensity bands overwriting the pan, illegal positions KEEPING
    * the MS default.
    */
  def synthesizeMp3CodedIntensityShortMs(
      df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(
      Mp3Codec.synthesizeCodedIntensityShort(_, nFrames, modeExt = 3))

  /** [[synthesizeMp3Coded]]'s MIXED-BLOCK twin
    * ([[Mp3Codec.synthesizeCodedMixed]] — hybrid long+short granules).
    */
  def synthesizeMp3CodedMixed(
      df: DataFrame, idCol: String, nFrames: Int = 2): DataFrame =
    synthesizeMp3With(df, idCol, nFrames)(Mp3Codec.synthesizeCodedMixed(_, nFrames))

  /** [[extractMp3Spectra]] + the granule's `block_type` — the gate
    * surface for window-switching streams where the TYPE itself is the
    * new decode capability (start/stop brackets).
    */
  def extractMp3SpectraTyped(media: DataFrame): DataFrame = mp3Spectra(media, typed = true)

  /** Deterministic Opus-in-Ogg streams ([[OggSniff.synthesize]] — BOS
    * OpusHead + OpusTags + recipe audio pages with monotonic granules
    * and stamped CRCs) as a media frame.
    */
  def synthesizeOgg(df: DataFrame, idCol: String, basePages: Int = 10): DataFrame =
    synthesize(df, idCol) { id =>
      val n = basePages + (id % 7).toInt
      (OggSniff.synthesize(id, n), audio("ogg-opus", 40L * n))
    }

  /** Header-only Ogg/Opus sniff ([[OggSniff.sniff]]): page/packet
    * structure, channels, pre-skip, duration from granule bookkeeping —
    * with every page CRC verified. [[sniffMp3Info]]'s twin for the
    * other big crawled-audio container.
    */
  def sniffOggInfo(media: DataFrame): DataFrame =
    extract(media, longs("n_pages", "n_packets", "channels", "pre_skip", "input_sample_rate",
      "granule_final", "duration_ms")) { payload =>
      val i = OggSniff.sniff(payload)
      Seq(i.nPages, i.nPackets, i.channels.toLong,
        i.preSkip.toLong, i.inputSampleRate, i.granuleFinal, i.durationMs)
    }

  /** The EXIF recipe for media `id` — pure function of the row (the
    * synthesizer discipline): every id carries orientation + timestamp,
    * ids ≡ 0 (mod 3) additionally carry GPS coordinates (the geo-PII
    * case the strip gate must remove).
    */
  def exifRecipe(id: Long): (Int, String, Option[ExifCodec.Gps]) = {
    val orientation = 1 + (id % 8).toInt
    val dt = f"2026:08:${1 + id % 28}%02d 12:00:${id % 60}%02d"
    val gps =
      if (id % 3 == 0) Some(ExifCodec.Gps(
        latRef = if (id % 2 == 0) "N" else "S",
        latDeg = id % 90, latMin = (7 * id) % 60, latSecMilli = (13 * id) % 60000,
        lonRef = if (id % 4 < 2) "E" else "W",
        lonDeg = id % 180, lonMin = (11 * id) % 60, lonSecMilli = (17 * id) % 60000))
      else None
    (orientation, dt, gps)
  }

  /** Stamp each payload with its recipe EXIF APP1 (camera position:
    * right after SOI).
    */
  def withExif(media: DataFrame): DataFrame = {
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val metaIdx = media.schema.fieldIndex("meta")
    PartitionBatch.mapPartitions(media, MediaSchema) { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val (o, dt, gps) = exifRecipe(id)
        Row(id,
          ExifCodec.insertApp1(r.getAs[Array[Byte]](payloadIdx),
            ExifCodec.buildApp1(o, dt, gps)),
          if (r.isNullAt(metaIdx)) null else r.getStruct(metaIdx))
      }
    }
  }

  /** EXIF audit + strip in one pass: sniff the metadata (orientation /
    * timestamp / GPS — the privacy surface), run [[ExifCodec
    * .stripMetadata]], and PROVE the strip (APP1 count 0 after, decoded
    * pixels bit-identical before/after). One row per payload; the
    * JPEG decodes twice by design — the equality is the point.
    */
  def extractExifAudit(media: DataFrame): DataFrame =
    extract(media, Seq(
      StructField("orientation", LongType, nullable = true),
      StructField("date_time", StringType, nullable = true),
      StructField("has_gps", BooleanType, nullable = false),
      StructField("lat_ref", StringType, nullable = true),
      StructField("lat_deg", LongType, nullable = true),
      StructField("lat_min", LongType, nullable = true),
      StructField("lat_sec_milli", LongType, nullable = true),
      StructField("lon_ref", StringType, nullable = true),
      StructField("lon_deg", LongType, nullable = true),
      StructField("lon_min", LongType, nullable = true),
      StructField("lon_sec_milli", LongType, nullable = true),
      StructField("app1_before", LongType, nullable = false),
      StructField("app1_after", LongType, nullable = false),
      StructField("pixels_unchanged", BooleanType, nullable = false))) { payload =>
      val e = ExifCodec.sniff(payload)
      val stripped = ExifCodec.stripMetadata(payload)
      val same = JpegCodec.decode(payload).pixels.toSeq ==
        JpegCodec.decode(stripped).pixels.toSeq
      val g = e.gps
      Seq(e.orientation.map(_.toLong).orNull, e.dateTime.orNull, g.isDefined,
        g.map(_.latRef).orNull, g.map(_.latDeg).orNull,
        g.map(_.latMin).orNull, g.map(_.latSecMilli).orNull,
        g.map(_.lonRef).orNull, g.map(_.lonDeg).orNull,
        g.map(_.lonMin).orNull, g.map(_.lonSecMilli).orNull,
        ExifCodec.countApp1(payload).toLong,
        ExifCodec.countApp1(stripped).toLong, same)
    }

  /** Distributed decode+featurize: one decoder per PARTITION (not per row) —
    * the mapPartitions batch shape that amortizes model/codec setup, the
    * Scala analog of a pandas-batch UDF.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(media.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false))
    val payloadIdx = media.schema.fieldIndex("payload")
    PartitionBatch.mapPartitions(media, outSchema) { rows =>
      // per-partition setup would go here (decoder/model init)
      rows.map { r =>
        val bytes = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        Row.fromSeq(r.toSeq :+ StubDecoder.features(bytes).toSeq)
      }
    }
  }
}
