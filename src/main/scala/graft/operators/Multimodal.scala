package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns plus typed metadata, processed batch-at-a-time per partition.
  *
  * Two codec tiers: the IMAGE path is a real JDK codec —
  * `synthPng`/`decodeImageFeatures` run genuine PNG encode/decode via
  * javax.imageio with pixel-statistic extraction (q71). The generic
  * byte-feature path (`decodeStub`, q39) stays as the stand-in for
  * formats the JDK cannot decode (audio/video): deterministic features
  * from the bytes, with the schema/batching/partition plumbing — narrow
  * mapPartitions (no shuffle), output schema declared up front, rows
  * processed streaming-wise (never materializing a partition) —
  * identical to what a JNI codec would slot into.
  */
object Multimodal {

  /** JVM-cached javax.sound SPI providers (r17 optimization). EVERY
    * `AudioSystem.getAudioInputStream`/`write` call re-scans the
    * provider ServiceLoader inside `JDK13Services.getProviders`, a
    * `static synchronized` method with NO caching on JDK 17 — measured:
    * 32 decode threads ran at single-thread throughput with 31 of them
    * BLOCKED on that monitor (the per-record ~200 µs *is* the scan, not
    * the parse). On a multi-core executor the whole audio stage
    * serializes process-wide. Caching the provider instances once per
    * JVM removes the lock and the scan; the readers/writers themselves
    * are stateless and already shared across threads by AudioSystem.
    *
    * ORDER SAFETY: AudioSystem picks the FIRST provider that accepts a
    * stream, so caching must not change which provider that is. The six
    * JDK readers accept disjoint magic/format classes (AIFF "FORM",
    * AU ".snd", MIDI "MThd", and the three WAVE variants split by
    * disjoint fmt codes: PCM vs FLOAT vs EXTENSIBLE), so acceptance is
    * order-independent and any order yields AudioSystem's answer. WAVE
    * readers are tried first (the dominant payload here) and the
    * synthetic-MIDI reader last — its parse attempt re-enters the same
    * global JDK13Services lock via MidiSystem, which is exactly what
    * this cache exists to avoid (it now runs only for payloads nothing
    * else accepts). The writer rule replicates AudioSystem.write: first
    * writer whose isFileTypeSupported(type, stream) holds (JDK WAVE
    * writers are likewise disjoint: PCM vs FLOAT encodings).
    * AudioSpiParitySpec pins open/write equality against AudioSystem
    * across WAV/AU/float-WAV/garbage/truncated payloads. */
  private[operators] object AudioSpi {
    import javax.sound.sampled.{AudioInputStream, UnsupportedAudioFileException}
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}
    import scala.jdk.CollectionConverters._
    lazy val readers: Array[AudioFileReader] = {
      val all = java.util.ServiceLoader.load(classOf[AudioFileReader]).asScala.toArray
      val (wave, rest) = all.partition(_.getClass.getSimpleName.startsWith("Wave"))
      val (midi, other) = rest.partition(_.getClass.getSimpleName.contains("Midi"))
      wave ++ other ++ midi
    }
    lazy val writers: Array[AudioFileWriter] =
      java.util.ServiceLoader.load(classOf[AudioFileWriter]).asScala.toArray
    /** AudioSystem.getAudioInputStream semantics without the global
      * lock: first accepting reader wins; UnsupportedAudioFileException
      * means "not mine, try the next"; other exceptions (IO, hostile
      * headers) propagate to the caller's bad-record handling, as
      * AudioSystem's do. Returns null when NO reader accepts (callers
      * here treat AudioSystem's UnsupportedAudioFileException and null
      * identically — a bad record). A fresh ByteArrayInputStream per
      * attempt replaces AudioSystem's mark/reset dance. */
    def open(bytes: Array[Byte]): AudioInputStream = {
      var i = 0
      while (i < readers.length) {
        try return readers(i).getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
        catch { case _: UnsupportedAudioFileException => () }
        i += 1
      }
      null
    }
    /** AudioSystem.write(ais, WAVE, out) semantics without the lock. */
    def writeWave(ais: AudioInputStream, out: java.io.OutputStream): Unit = {
      val t = javax.sound.sampled.AudioFileFormat.Type.WAVE
      val w = writers.find(_.isFileTypeSupported(t, ais)).getOrElse(
        throw new IllegalArgumentException(s"could not write audio file: file type not supported: $t"))
      w.write(ais, t, out)
      ()
    }
  }

  /** JVM-cached javax.imageio SPI providers + lock-free byte-array
    * image streams (r18 optimization — the q71/q73 mirror of [[AudioSpi]]).
    *
    * Measured (32-way q71 load, 10 ms stack sampler): 1406 of ~2400
    * non-idle samples BLOCKED, with the top frames all JVM-GLOBAL
    * synchronized machinery rather than codec work —
    * `javax.imageio.spi.SubRegistry.getServiceProviders` (416 samples:
    * `ImageIO.write`/`createImageInputStream`/`getImageReaders` each
    * re-walk the synchronized provider registry PER CALL),
    * `sun.java2d.Disposer.add` (120: every Memory/FileCache image
    * stream registers with the global java2d disposer under its lock),
    * `jdk.internal.ref.PhantomCleanable.insert/remove` (~380: stream
    * cleanables on the shared Cleaner list lock) and the MemoryCache
    * block-copy machinery (~80) — versus only ~120 samples of actual
    * Deflater/Inflater codec work. On a multi-core executor the image
    * stage serializes process-wide, exactly like the q72 audio lock.
    *
    * Fix: snapshot the reader SPI list once per JVM IN THE REGISTRY'S
    * OWN ORDER, pick "first SPI whose canDecodeInput accepts" exactly
    * like `ImageIO.getImageReaders` (acceptance is disjoint across the
    * JDK's plugins — each keys on its own magic bytes, and WBMP's
    * heuristic requires a 0x00 lead byte no other format shares — so
    * order cannot change which one accepts); reader/writer INSTANCES
    * are created per call from the cached SPI (they are stateful and
    * not thread-safe — only the SPIs are shared, which is how the
    * registry itself hands them out). The byte-array-backed streams
    * extend Image{Input,Output}StreamImpl directly: no Disposer
    * registration, no Cleaner entry, no cache-block copies — reads and
    * writes are plain array ops. ImageSpiParitySpec pins encode/decode
    * byte-equality against the ImageIO path across PNG/JPEG/garbage/
    * truncated/oversized payloads. */
  private[operators] object ImageSpi {
    import javax.imageio.spi.{ImageReaderSpi, ImageWriterSpi}
    import scala.jdk.CollectionConverters._

    lazy val readerSpis: Array[ImageReaderSpi] =
      javax.imageio.spi.IIORegistry.getDefaultInstance
        .getServiceProviders(classOf[ImageReaderSpi], true).asScala.toArray

    /** The PNG writer SPIs in registry order (the JDK ships one). Kept
      * as a list + canEncodeImage check so the pick replicates
      * `ImageIO.getImageWritersByFormatName("png")` exactly. */
    lazy val pngWriterSpis: Array[ImageWriterSpi] =
      javax.imageio.spi.IIORegistry.getDefaultInstance
        .getServiceProviders(classOf[ImageWriterSpi], true).asScala
        .filter(_.getFormatNames.exists(_.equalsIgnoreCase("png"))).toArray

    /** In-memory ImageInputStream over a byte array: the JDK's
      * MemoryCacheImageInputStream pays a Disposer registration (global
      * lock) plus per-read cache-block copies to support unseekable
      * sources — a byte array is already seekable. */
    final class ByteArrayImageInputStream(buf: Array[Byte])
        extends javax.imageio.stream.ImageInputStreamImpl {
      override def read(): Int = {
        bitOffset = 0
        if (streamPos >= buf.length) -1
        else { val b = buf(Math.toIntExact(streamPos)) & 0xFF; streamPos += 1; b }
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (len == 0) return 0
        bitOffset = 0
        if (streamPos >= buf.length) -1
        else {
          val n = math.min(len.toLong, buf.length - streamPos).toInt
          System.arraycopy(buf, Math.toIntExact(streamPos), b, off, n)
          streamPos += n
          n
        }
      }
      override def length(): Long = buf.length.toLong
      override def isCached: Boolean = true
      override def isCachedMemory: Boolean = true
    }

    /** In-memory ImageOutputStream over a growable array. Supports the
      * backward seek-and-patch the PNG writer's chunk framing does
      * (write data, seek back to patch the length, seek forward), which
      * is why a plain OutputStream adapter does not suffice. */
    final class ByteArrayImageOutputStream
        extends javax.imageio.stream.ImageOutputStreamImpl {
      private var buf = new Array[Byte](1024)
      private var count = 0 // high-water mark = logical length
      private def ensure(cap: Int): Unit =
        if (cap > buf.length)
          buf = java.util.Arrays.copyOf(buf, math.max(cap, buf.length * 2))
      override def write(b: Int): Unit = {
        flushBits()
        val p = Math.toIntExact(streamPos)
        ensure(p + 1)
        buf(p) = b.toByte
        streamPos += 1
        if (streamPos > count) count = Math.toIntExact(streamPos)
      }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        flushBits()
        val p = Math.toIntExact(streamPos)
        ensure(p + len)
        System.arraycopy(b, off, buf, p, len)
        streamPos += len
        if (streamPos > count) count = Math.toIntExact(streamPos)
      }
      override def read(): Int = {
        bitOffset = 0
        if (streamPos >= count) -1
        else { val b = buf(Math.toIntExact(streamPos)) & 0xFF; streamPos += 1; b }
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (len == 0) return 0
        bitOffset = 0
        if (streamPos >= count) -1
        else {
          val n = math.min(len.toLong, count - streamPos).toInt
          System.arraycopy(buf, Math.toIntExact(streamPos), b, off, n)
          streamPos += n
          n
        }
      }
      override def length(): Long = count.toLong
      def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, count)
    }

    /** `ImageIO.write(img, "png", out)` semantics without the registry
      * walk or cache streams: first PNG writer SPI that canEncodeImage
      * wins (ImageIO's getWriter rule), fresh writer instance per call
      * (writers are stateful), dispose in a finally like ImageIO does. */
    def writePng(img: java.awt.image.RenderedImage): Array[Byte] = {
      val t = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
      val spi = pngWriterSpis.find(_.canEncodeImage(t)).getOrElse(
        throw new java.io.IOException("no PNG ImageWriter available"))
      val out = new ByteArrayImageOutputStream
      val w = spi.createWriterInstance()
      try {
        w.setOutput(out)
        w.write(img)
      } finally w.dispose()
      out.toByteArray
    }
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("feature", ArrayType(DoubleType), nullable = true)))

  /** Deterministic fake "decode + feature extract": dim doubles derived
    * from byte statistics (double accumulation keeps the formula exactly
    * replayable by the DuckDB oracle). Replace with a real codec
    * (JNI/lib) in production — the signature is the contract.
    */
  def decodeStub(payload: Array[Byte], dim: Int): Array[Double] = {
    val out = new Array[Double](dim)
    if (payload != null && payload.nonEmpty) {
      var i = 0
      while (i < payload.length) { out(i % dim) += (payload(i) & 0xFF) / 255.0d; i += 1 }
    }
    out
  }

  /** Synthesize a media table from the documents table (payload = utf8
    * bytes of text): stands in for reading real image blobs; the plan
    * shape (projection → binary column → partition-parallel decode) is
    * identical.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio").otherwise("video").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      (col("n_chars") % 1024).cast("int").as("width"),
      (col("n_chars") % 768).cast("int").as("height"))

  /** The decode/feature-extract stage: batch-per-partition map, no
    * shuffle, output schema = `featureSchema`. At 100 TB: size input
    * partitions via files.maxPartitionBytes so payload batches fit in
    * executor memory; decode cost dominates → scale executors linearly.
    */
  def extractFeatures(media: DataFrame, dim: Int = 8): DataFrame = {
    // fail at the driver, not as ArithmeticException storms inside tasks
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val enc = ExpressionEncoder(featureSchema)
    media.select(col("media_id"), col("media_type"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          // positional, like the decoders: the select two lines up pins
          // the layout, and a name lookup here is a per-row fieldIndex
          // map hit on the 100 TB hot path (r17 review)
          val payload = r.getAs[Array[Byte]](2)
          val n = if (payload == null) 0 else payload.length
          Row(r.getLong(0), r.getString(1), n,
            decodeStub(payload, dim).toSeq)
        }
      }(enc)
  }

  /** Resize stage analog: deterministic payload downsampling (every
    * `factor`-th byte) with the width/height metadata updated to match —
    * the shape of an image-resize pass (decode → scale → re-encode). The
    * real codec slots into the same per-partition map; the plumbing
    * (narrow map, binary in/out, metadata contract) is what the engine
    * owns. */
  def resize(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    val enc = ExpressionEncoder(mediaSchema)
    media.select(col("media_id"), col("media_type"), col("payload"), col("width"), col("height"))
      .mapPartitions { rows =>
        rows.map { r =>
          // positional like extractFeatures — the select above pins the
          // layout (media_id, media_type, payload, width, height)
          val payload = r.getAs[Array[Byte]](2)
          val small: Array[Byte] =
            if (payload == null) null
            else {
              // ceil WITHOUT the (+factor-1) overflow: a huge factor
              // would wrap the sum negative and silently emit an EMPTY
              // payload instead of the correct 1 byte
              val n = payload.length / factor + (if (payload.length % factor == 0) 0 else 1)
              val out = new Array[Byte](n)
              var i = 0
              while (i < out.length) { out(i) = payload(i * factor); i += 1 }
              out
            }
          def scaled(ordinal: Int): Integer = {
            val v = r.getAs[Integer](ordinal)
            // a degenerate source dimension (<= 0) stays as-is: the
            // min-1 clamp applies only to REAL dimensions shrinking
            // below a pixel — promoting 0 to 1 erased the 0-vs-1
            // distinction downstream degenerate-media filters key on
            // (r13 review)
            if (v == null) null
            else if (v <= 0) v
            else Integer.valueOf(math.max(1, v / factor))
          }
          Row(r.getLong(0), r.getString(1), small, scaled(3), scaled(4))
        }
      }(enc)
  }

  /** Feature columns are nullable: a null or undecodable payload (the
    * normal case somewhere in a 100 TB crawl corpus) yields a
    * null-feature row instead of an NPE that kills the stage — the same
    * null contract the stub tier (`decodeStub`/`extractFeatures`)
    * established. */
  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("header_w", IntegerType, nullable = true),
    StructField("header_h", IntegerType, nullable = true),
    StructField("width_px", IntegerType, nullable = true),
    StructField("height_px", IntegerType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true)))

  /** Real PNG encode via the JDK's javax.imageio (no stub, no external
    * libs): renders a w×h RGB image whose pixels are pure arithmetic in
    * (seed, len) — pixel (x, y) = (x, seed%256, len%256), w = seed%13+4,
    * h = seed%7+4 — so every pixel-derived feature a real decoder
    * extracts is independently computable by the SQL oracle, while the
    * bytes in between are a genuine PNG (zlib-compressed IDAT and all).
    */
  def synthPng(seed: Long, len: Long): Array[Byte] = {
    // floorMod: Scala % preserves sign, so a negative seed would derive
    // a negative width/height and BufferedImage would throw
    val w = (java.lang.Math.floorMod(seed, 13L) + 4).toInt
    val h = (java.lang.Math.floorMod(seed, 7L) + 4).toInt
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = java.lang.Math.floorMod(seed, 256L).toInt
    val b = java.lang.Math.floorMod(len, 256L).toInt
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, (x << 16) | (g << 8) | b); x += 1 }
      y += 1
    }
    // ImageSpi.writePng, not ImageIO.write: the latter re-walks the
    // synchronized provider registry and builds a Disposer-registered
    // cache stream PER CALL, serializing the encode stage across
    // executor cores (see ImageSpi — byte-equal by ImageSpiParitySpec)
    ImageSpi.writePng(img)
  }

  /** The ONE documents→synth-media builder behind the three write-side
    * codecs (PNG/WAV/framed video) — the schema, the null-n_chars
    * degrade rule, and the in-memory-ImageIO setting were stated three
    * times and had already drifted (setUseCache was absent from the WAV
    * copy; r15 review — the same hazard pixelStats' comment names).
    * n_chars is NULLABLE in the documents schema — getLong on a null
    * NPEs through all retries; a null-text doc degrades to the 0-length
    * synth payload, same contract as extractFeatures. (The historical
    * per-partition ImageIO.setUseCache(false) is gone: every codec
    * stream on these paths is now an in-memory ImageSpi/AudioSpi
    * stream that never consults ImageIO's cache setting.) */
  private def synthMediaFromDocuments(docs: DataFrame)(
      synth: (Long, Long) => Array[Byte]): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    val enc = ExpressionEncoder(schema)
    docs.select(col("doc_id"), col("n_chars").cast("long"))
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getLong(0), synth(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
        }
      }(enc)
  }

  /** documents → a real-PNG media table: one narrow mapPartitions doing
    * the encode (the write-side codec), payload is a decodable PNG. */
  def pngMediaFromDocuments(docs: DataFrame): DataFrame =
    synthMediaFromDocuments(docs)(synthPng)

  /** Decompression-bomb cap: declared pixel count above which a payload
    * is treated as a bad record instead of decoded. A few-KB valid PNG
    * declaring 60000×60000 would make ImageIO allocate a ~14 GB raster
    * — an OutOfMemoryError, which is FATAL (not matched by NonFatal),
    * so the null-row catch never sees it and one hostile record kills
    * the stage through all its retries. Readers expose the declared
    * dimensions before full decode; 2^24 px (≈64 MB ARGB raster) is far
    * above any legitimate thumbnail-scale payload here and keeps the
    * worst-case per-row allocation bounded. */
  private val MaxDecodePixels = 1L << 24

  /** Per-image RGB channel means — the ONE pixel-statistics loop,
    * shared by the image and video-frame paths (a fix applied to one
    * inline copy would silently drift the other). */
  private def pixelStats(img: java.awt.image.BufferedImage): (Int, Int, Double, Double, Double) = {
    val w = img.getWidth; val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    // BULK row reads (r15 review): per-pixel getRGB(x, y) pays a bounds
    // check plus a ColorModel conversion call per pixel — ~10× slower
    // near the MaxDecodePixels cap, on the hot per-record path of both
    // the image and video-frame decoders. One reused row buffer keeps
    // the allocation O(width), not O(pixels).
    val rowBuf = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowBuf, 0, w)
      var x = 0
      while (x < w) {
        val rgb = rowBuf(x)
        sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    (w, h, sr / n, sg / n, sb / n)
  }

  /** ImageIO-semantics decode with the dimension check BEFORE pixel
    * allocation; null for undecodable/oversized payloads (bad-record
    * contract). Uses the JVM-cached SPI list + byte-array stream
    * instead of `ImageIO.createImageInputStream`/`getImageReaders` —
    * those re-walk the synchronized provider registry per record and
    * serialized this stage process-wide (see ImageSpi; first-accepting
    * SPI in registry order = ImageIO's reader pick, pinned byte-equal
    * by ImageSpiParitySpec). The probe replays ImageIO's
    * CanDecodeInputFilter: a defensive mark/reset around each SPI's
    * canDecodeInput, and an IOException from one SPI (a short payload
    * hits EOF in the SPI's own readFully) means "cannot decode" — the
    * next SPI is probed, and a payload no SPI accepts reads null. */
  private[operators] def boundedImageRead(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new ImageSpi.ByteArrayImageInputStream(bytes)
    def canDecode(s: javax.imageio.spi.ImageReaderSpi): Boolean =
      try { iis.mark(); val ok = s.canDecodeInput(iis); iis.reset(); ok }
      catch { case _: java.io.IOException => false }
    try {
      val spi = ImageSpi.readerSpis.find(canDecode).orNull
      if (spi == null) return null
      val reader = spi.createReaderInstance()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0).toLong
        val h = reader.getHeight(0).toLong
        if (w <= 0 || h <= 0 || w * h > MaxDecodePixels) null
        else reader.read(0)
      } finally reader.dispose()
    } finally iis.close()
  }

  /** The read-side codec: ImageIO-decode each payload and extract pixel
    * statistics (width/height/per-channel means), plus the IHDR
    * dimensions parsed straight from the raw bytes (the PNG spec fixes
    * width at byte offset 16 and height at 20, big-endian) so the
    * features cover byte-derived AND pixel-derived paths. Narrow
    * per-partition map — decode cost scales linearly with executors. */
  def decodeImageFeatures(media: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(imageFeatureSchema)
    def be32(b: Array[Byte], off: Int): Int =
      ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) | ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          // ImageIO.read returns null for bytes it cannot decode; a null
          // or truncated payload must yield a null-feature row, not kill
          // the stage (one bad record in a crawl corpus is routine).
          // NonFatal, not just IOException: ImageIO plugins throw
          // RuntimeExceptions on malformed-but-recognized payloads
          // (CMMException on a corrupt ICC profile, NegativeArraySize on
          // a crafted header) — those are bad records too.
          val img =
            if (bytes == null || bytes.length < 24) null
            else try boundedImageRead(bytes)
            catch { case scala.util.control.NonFatal(_) => null }
          if (img == null) Row(r.getLong(0), null, null, null, null, null, null, null)
          else {
            // IHDR offsets are only meaningful behind the PNG signature:
            // a decodable JPEG/GIF/BMP would otherwise report arbitrary
            // header bytes as "dimensions" next to correct pixel stats
            // (the audio twin validates RIFF/WAVE magic the same way)
            // no length re-check: img != null already implies the
            // line-above guard passed bytes.length >= 24, so be32(16/20)
            // is in bounds whenever isPng — the dead clause obscured
            // which check actually protects the reads (r17 review)
            val isPng =
              (bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'
            val headerW: Any = if (isPng) be32(bytes, 16) else null
            val headerH: Any = if (isPng) be32(bytes, 20) else null
            val (w, h, mr, mg, mb) = pixelStats(img)
            Row(r.getLong(0), headerW, headerH, w, h, mr, mg, mb)
          }
        }
      }(enc)
  }

  /** Nullable feature columns: same bad-payload contract as
    * [[imageFeatureSchema]]. */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("header_rate", IntegerType, nullable = true),
    StructField("rate_hz", IntegerType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("peak", IntegerType, nullable = true),
    StructField("mean_abs", DoubleType, nullable = true)))

  /** Real WAV encode via the JDK's javax.sound.sampled: 16-bit signed
    * mono PCM, a Nyquist square wave of amplitude A = (len%100+1)*50
    * over n = seed%100+50 frames at rate 8000+(seed%8)*1000 Hz — every
    * decoded statistic is arithmetic in (seed, len), while the payload
    * is a genuine RIFF/WAVE file. */
  def synthWav(seed: Long, len: Long): Array[Byte] = {
    // floorMod: negative seeds/lengths must not derive negative frame
    // counts (NegativeArraySizeException) or amplitudes
    val rate = (8000 + java.lang.Math.floorMod(seed, 8L) * 1000).toInt
    val n = (java.lang.Math.floorMod(seed, 100L) + 50).toInt
    val amp = ((java.lang.Math.floorMod(len, 100L) + 1) * 50).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = if (i % 2 == 0) amp else -amp
      pcm(2 * i) = (s & 0xFF).toByte          // little-endian int16
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    // AudioSpi, not AudioSystem.write: the latter re-scans providers
    // under a JVM-global lock per call, serializing the whole encode
    // stage across executor cores (see AudioSpi)
    AudioSpi.writeWave(ais, bos)
    bos.toByteArray
  }

  /** documents → a real-WAV media table (write-side audio codec). */
  def wavMediaFromDocuments(docs: DataFrame): DataFrame =
    synthMediaFromDocuments(docs)(synthWav)

  /** Read-side audio codec: AudioSystem-decode each payload and extract
    * frame statistics, plus the sample rate parsed straight from the
    * RIFF fmt chunk (canonical PCM WAV fixes it at byte offset 24,
    * little-endian) for the byte-derived check. Narrow per-partition
    * map, like the image path. */
  def decodeAudioFeatures(media: DataFrame): DataFrame = {
    val enc = ExpressionEncoder(audioFeatureSchema)
    def le32(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) | ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)
    // RIFF chunk walk for the byte-derived rate: the fmt chunk usually
    // sits at offset 12 (canonical 44-byte header) but the spec allows
    // LIST/INFO chunks first — a fixed offset-24 read returns garbage on
    // those files. null when no fmt chunk parses.
    def fmtSampleRate(b: Array[Byte]): Integer = {
      if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F'
        || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
      // the walk offset is a LONG: a hostile chunk size near
      // Int.MaxValue would wrap an int offset negative, keep the loop
      // condition true, and throw an uncaught AIOOBE from b(off) —
      // outside any per-record catch, killing the task on one record
      var off = 12L
      while (off + 8 <= b.length) {
        val size = le32(b, off.toInt + 4).toLong & 0xFFFFFFFFL // RIFF sizes are unsigned
        if (b(off.toInt) == 'f' && b(off.toInt + 1) == 'm'
          && b(off.toInt + 2) == 't' && b(off.toInt + 3) == ' ')
          // the declared chunk size must actually COVER the sample-rate
          // field — bytes 4..7 of the fmt BODY (format(2) + channels(2)
          // precede it; absolute offset off+12): a degenerate size < 8
          // means those 4 bytes belong to the NEXT chunk — garbage, the
          // exact reading this parser exists to avoid
          return if (size >= 8 && off + 16 <= b.length)
            Integer.valueOf(le32(b, off.toInt + 12)) else null
        off += 8 + size + (size & 1) // chunks pad to even length
      }
      null
    }
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]](1)
          // null / non-WAV / truncated payloads → null-feature row (the
          // decoder throws UnsupportedAudioFileException or IOException)
          // 24 = the shortest decodable container header (AU's .snd
          // header; WAV's canonical header is 44) — the old WAV-specific
          // 44-byte floor silently nulled valid short AU payloads the
          // decoder below handles (r15 review). Shorter garbage still
          // short-circuits; 24-43-byte garbage just pays one rejected
          // getAudioInputStream call.
          // AudioSpi.open, not AudioSystem.getAudioInputStream: same
          // first-accepting-reader result (AudioSpiParitySpec), without
          // the per-record provider re-scan under a JVM-global lock that
          // serialized this stage across all executor cores (r17
          // optimization; AudioSpi scaladoc has the measurement)
          val ais =
            if (bytes == null || bytes.length < 24) null
            else try AudioSpi.open(bytes)
            catch { case scala.util.control.NonFatal(_) => null }
          // header_rate is byte-derived — a payload the DECODER rejects
          // can still carry a readable fmt chunk (fmtSampleRate is
          // bounds-safe on any bytes, null payload included via guard)
          if (ais == null)
            Row(r.getLong(0), if (bytes == null) null else fmtSampleRate(bytes),
              null, null, null, null)
          else try {
            val fmt = ais.getFormat
            // AudioSystem.NOT_SPECIFIED (-1) is "length unknown" (legal
            // 0xFFFFFFFF data-size field) — emit null, not a -1 that
            // poisons downstream frame aggregates (r13 review)
            val rawFrames = ais.getFrameLength
            val nFrames: java.lang.Long =
              if (rawFrames < 0) null else java.lang.Long.valueOf(rawFrames)
            // same poisoned-sentinel rule for the DECODER's rate
            // (r15 review: the r13 n_frames guard was applied to one of
            // the two header-derived stats): NOT_SPECIFIED (-1) or a
            // degenerate 0 emits null, never a sentinel that poisons
            // downstream min/avg rate aggregates
            val rateHz: Integer = {
              // sr, not r: the enclosing lambda's `r` is the Spark Row
              // (r.getLong(0) below) — shadowing it with a Float here
              // is a trap for any future edit in this branch-heavy
              // block (r17 review)
              val sr = fmt.getSampleRate
              if (sr > 0f && !sr.isNaN) Integer.valueOf(sr.toInt) else null
            }
            // hostile-header guard BEFORE the read: a fmt chunk can
            // declare e.g. 65535 channels, making the frame size exceed
            // the read buffer — AudioInputStream.read then returns 0
            // forever and readAllBytes SPINS (its outer loop continues
            // on n >= 0). Real PCM frames are a few bytes; 4096 is
            // generous. Oversized → null-feature row, not a hung task.
            if (fmt.getFrameSize <= 0 || fmt.getFrameSize > 4096) {
              // close on THIS path too (the happy path and the catch
              // both do): today's ByteArrayInputStream backing makes it
              // GC-only, but a future native codec slotted in here
              // would leak one handle per hostile record
              ais.close()
              // rate_hz/n_frames are header-derived and already
              // computed — emit them like the unsupported-encoding
              // branch below does; only the SAMPLE stats are unreadable
              // here. Pre-fix this path nulled all four, so two records
              // with equally-readable headers got inconsistent coverage
              // in downstream rate/frame aggregates (r17 review).
              Row(r.getLong(0), fmtSampleRate(bytes), rateHz, nFrames, null, null)
            } else {
            val pcm = ais.readAllBytes()
            ais.close()
            // decode per the container's ACTUAL format — 8/16-bit PCM
            // signed/unsigned, any channel count, either endianness —
            // and average over the samples actually read (a truncated
            // data chunk must not deflate the mean via the header frame
            // count). peak/mean_abs are per-sample across all channels,
            // in the 16-bit range (8-bit samples scale by 256). Other
            // encodings (float, a-law/µ-law) → null stats, not garbage.
            val bits = fmt.getSampleSizeInBits
            val enc0 = fmt.getEncoding
            val signed = enc0 == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            val unsigned = enc0 == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
            if (!(signed || unsigned) || (bits != 8 && bits != 16))
              Row(r.getLong(0), fmtSampleRate(bytes), rateHz, nFrames, null, null)
            else {
              val big = fmt.isBigEndian
              var peak = 0; var sumAbs = 0L; var nSamples = 0L
              var i = 0
              if (bits == 8) {
                while (i < pcm.length) {
                  val s = (if (signed) pcm(i).toInt else (pcm(i) & 0xFF) - 128) * 256
                  val a = math.abs(s)
                  if (a > peak) peak = a
                  sumAbs += a; nSamples += 1
                  i += 1
                }
              } else {
                while (i + 1 < pcm.length) {
                  val u =
                    if (big) ((pcm(i) & 0xFF) << 8) | (pcm(i + 1) & 0xFF)
                    else (pcm(i) & 0xFF) | ((pcm(i + 1) & 0xFF) << 8)
                  val s = if (signed) u.toShort.toInt else u - 32768
                  val a = math.abs(s)
                  if (a > peak) peak = a
                  sumAbs += a; nSamples += 1
                  i += 2
                }
              }
              // zero-length audio: mean over no samples is 0, not NaN
              val mean = if (nSamples > 0) sumAbs.toDouble / nSamples else 0.0
              Row(r.getLong(0), fmtSampleRate(bytes), rateHz, nFrames, peak, mean)
            }
            }
          } catch {
            // the read/decode path sits behind the SAME bad-record
            // contract as header parsing: one poison payload must yield
            // a null-feature row, never kill the stage through retries.
            // header_rate stays POPULATED — it is byte-derived,
            // independent of the failed decoder, and the frame-size
            // guard branch above emits it for its failure mode too
            case scala.util.control.NonFatal(_) =>
              try ais.close() catch { case scala.util.control.NonFatal(_) => () }
              Row(r.getLong(0), fmtSampleRate(bytes), null, null, null, null)
          }
        }
      }(enc)
  }

  /** Nullable per-frame feature columns: an undecodable frame yields a
    * null-feature row (same contract as [[imageFeatureSchema]]); a
    * corrupt container stops the demux walk at the damage point. */
  val videoFrameFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("width_px", IntegerType, nullable = true),
    StructField("height_px", IntegerType, nullable = true),
    StructField("mean_r", DoubleType, nullable = true),
    StructField("mean_g", DoubleType, nullable = true),
    StructField("mean_b", DoubleType, nullable = true)))

  /** Video tier: the JDK has no video codec, but a video is frames in a
    * container — so the container is real (length-prefixed PNG frames,
    * a demuxable byte format) and every frame is a real PNG. Frame f of
    * video `seed` is `synthPng(seed + f, len)`, so per-frame pixel
    * statistics stay oracle-computable. nFrames = seed%5+3. */
  def synthVideo(seed: Long, len: Long): Array[Byte] = {
    val n = (java.lang.Math.floorMod(seed, 5L) + 3).toInt // floorMod: negative seeds
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    var f = 0
    while (f < n) {
      val png = synthPng(seed + f, len)
      dos.writeInt(png.length)
      dos.write(png)
      f += 1
    }
    bos.toByteArray
  }

  /** documents → a framed-PNG video table (write-side mux). */
  def videoMediaFromDocuments(docs: DataFrame): DataFrame =
    synthMediaFromDocuments(docs)(synthVideo)

  /** Frame-sampling + decode: demux the container sequentially, decode
    * every `stride`-th frame with the real image codec, one feature row
    * per sampled frame. Skipped frames are never decoded (the point of
    * frame sampling); the demux itself is a cheap length-walk. Narrow
    * flatMap — the explode-shaped stage of a real video pipeline, cost
    * linear in executors. */
  def sampleAndDecodeFrames(media: DataFrame, stride: Int = 2): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val enc = ExpressionEncoder(videoFrameFeatureSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          if (bytes == null) Iterator.empty
          else {
          val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          var f = 0
          var corrupt = false
          while (!corrupt && in.available() >= 4) {
            val frameLen = in.readInt()
            // a frame length the container cannot hold means the demux
            // walk is off the rails — stop, keep the frames already read
            if (frameLen < 0 || frameLen > in.available()) corrupt = true
            else if (f % stride == 0) {
              val frame = new Array[Byte](frameLen)
              in.readFully(frame)
              val img = try boundedImageRead(frame)
                        catch { case scala.util.control.NonFatal(_) => null }
              if (img == null) out += Row(id, f, null, null, null, null, null)
              else {
                val (w, h, mr, mg, mb) = pixelStats(img)
                out += Row(id, f, w, h, mr, mg, mb)
              }
            } else {
              in.skipBytes(frameLen)
            }
            if (!corrupt) f += 1
          }
          out
          }
        }
      }(enc)
  }

  /** Deterministic frame-sampling analog: pick every `stride`-th chunk
    * of the payload (a video's frames / an audio's windows), emitting
    * one row per sampled chunk — the explode-shaped stage of a real
    * multimodal pipeline.
    */
  def sampleChunks(media: DataFrame, chunkBytes: Int = 64, stride: Int = 4): DataFrame = {
    require(chunkBytes >= 1, s"chunkBytes must be >= 1, got $chunkBytes")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    media
      // null/empty payloads emit NO rows (the sampleAndDecodeFrames
      // contract), and n_chunks rounds UP so a trailing partial chunk is
      // a real (short) chunk regardless of total payload length — floor
      // would emit a short chunk for payloads under chunkBytes but
      // silently drop the tail of longer ones
      .where(col("payload").isNotNull && length(col("payload")) > 0)
      // LONG arithmetic for the ceil: the Int (+chunkBytes-1) form is
      // the exact overflow resize's comment documents avoiding — at
      // chunkBytes near Int.MaxValue the sum wrapped negative and
      // sequence() threw 'Illegal sequence boundaries', killing the
      // stage on one row (r15 review)
      .withColumn("n_chunks",
        ((length(col("payload")).cast("long") + lit(chunkBytes.toLong) - 1L) / chunkBytes)
          .cast("int"))
      .withColumn("chunk_idx", explode(sequence(lit(0), col("n_chunks") - 1, lit(stride))))
      .withColumn("chunk", expr(s"substring(payload, chunk_idx * $chunkBytes + 1, $chunkBytes)"))
      .select(col("media_id"), col("media_type"), col("chunk_idx"), col("chunk"))
  }
}
