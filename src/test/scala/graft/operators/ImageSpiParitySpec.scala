package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins Multimodal.ImageSpi (the JVM-cached javax.imageio SPI path —
  * the r18 optimization that removes the per-record synchronized
  * registry walk, Disposer registration and cache-stream copies) to
  * ImageIO's own behavior: byte-identical PNG encoding, and the same
  * reader pick / decoded pixels / rejections across payload classes.
  * The AudioSpiParitySpec twin for images.
  */
class ImageSpiParitySpec extends AnyFunSuite {

  /** The pre-r18 encode path, replayed verbatim: ImageIO.write through
    * the registry + cache stream. */
  private def pngViaImageIO(img: java.awt.image.BufferedImage): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The pre-r18 decode path, replayed verbatim: createImageInputStream
    * + getImageReaders + the same dimension cap as boundedImageRead. */
  private def readViaImageIO(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    javax.imageio.ImageIO.setUseCache(false)
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0).toLong
        val h = reader.getHeight(0).toLong
        if (w <= 0 || h <= 0 || w * h > (1L << 24)) null
        else reader.read(0)
      } finally reader.dispose()
    } finally iis.close()
  }

  private def rgb(img: java.awt.image.BufferedImage): Seq[Int] = {
    val w = img.getWidth; val h = img.getHeight
    (0 until h).flatMap(y => (0 until w).map(x => img.getRGB(x, y)))
  }

  /** A decode's unwrapped outcome: the decoded size and pixels, no
    * image, or the class of the exception it threw. */
  private def outcome(
      read: => java.awt.image.BufferedImage): Either[String, Option[(Int, Int, Seq[Int])]] =
    try Right(Option(read).map(img => (img.getWidth, img.getHeight, rgb(img))))
    catch { case scala.util.control.NonFatal(e) => Left(e.getClass.getName) }

  private def testImg(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF)
    img
  }

  test("synthPng == the ImageIO.write path, byte for byte") {
    // includes negative seed/len (floorMod geometry) and the zero case
    for ((seed, len) <- Seq((0L, 0L), (42L, 500L), (-7L, 3L), (12L, -9L), (Long.MaxValue, 1L))) {
      val img = {
        val w = (java.lang.Math.floorMod(seed, 13L) + 4).toInt
        val h = (java.lang.Math.floorMod(seed, 7L) + 4).toInt
        val i = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = java.lang.Math.floorMod(seed, 256L).toInt
        val b = java.lang.Math.floorMod(len, 256L).toInt
        for (y <- 0 until h; x <- 0 until w) i.setRGB(x, y, (x << 16) | (g << 8) | b)
        i
      }
      assert(java.util.Arrays.equals(Multimodal.synthPng(seed, len), pngViaImageIO(img)),
        s"seed=$seed len=$len")
    }
  }

  test("ImageSpi.writePng == ImageIO.write for a generic RGB image") {
    val img = testImg(37, 23)
    assert(java.util.Arrays.equals(Multimodal.ImageSpi.writePng(img), pngViaImageIO(img)))
  }

  test("boundedImageRead == the ImageIO path across payload classes") {
    val jpeg = { // exercises a non-PNG reader SPI pick
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(testImg(9, 7), "jpg", bos); bos.toByteArray
    }
    val gif = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(testImg(5, 4), "gif", bos); bos.toByteArray
    }
    val bmp = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(testImg(6, 3), "bmp", bos); bos.toByteArray
    }
    val png = Multimodal.synthPng(42L, 500L)
    // a decodable PNG whose IHDR declares a raster past MaxDecodePixels:
    // patch width to 2^25 and fix nothing else — BOTH paths must reject
    // on the declared dimensions before allocating (the CRC never gets
    // checked because the reader is asked only for width/height first)
    val bomb = png.clone()
    bomb(16) = 0x02; bomb(17) = 0x00; bomb(18) = 0x00; bomb(19) = 0x00
    val payloads: Seq[(String, Array[Byte])] = Seq(
      "png" -> png,
      "jpeg" -> jpeg,
      "gif" -> gif,
      "bmp" -> bmp,
      "png truncated" -> png.take(30),
      // shorter than the 8-byte signature: SPI probes hit EOF in
      // readFully, which ImageIO's filter reads as "cannot decode"
      "png cut inside the signature" -> png.take(4),
      "garbage" -> Array.tabulate[Byte](64)(i => (i * 7).toByte),
      "empty" -> Array.emptyByteArray,
      "decompression bomb header" -> bomb)
    payloads.foreach { case (tag, bytes) =>
      assert(outcome(Multimodal.boundedImageRead(bytes)) == outcome(readViaImageIO(bytes)),
        s"payload '$tag'")
    }
  }

  test("decode round-trip reproduces the q71 formula (pixels are arithmetic in seed/len)") {
    for ((seed, len) <- Seq((42L, 500L), (-7L, 3L), (0L, 0L))) {
      val img = Multimodal.boundedImageRead(Multimodal.synthPng(seed, len))
      assert(img != null)
      val w = (java.lang.Math.floorMod(seed, 13L) + 4).toInt
      val h = (java.lang.Math.floorMod(seed, 7L) + 4).toInt
      assert(img.getWidth == w && img.getHeight == h)
      val g = java.lang.Math.floorMod(seed, 256L).toInt
      val b = java.lang.Math.floorMod(len, 256L).toInt
      assert(img.getRGB(w - 1, 0) == (0xFF000000 | ((w - 1) << 16) | (g << 8) | b))
    }
  }

  test("ByteArrayImageOutputStream supports the PNG chunk seek-back patching") {
    val out = new Multimodal.ImageSpi.ByteArrayImageOutputStream
    out.write(Array.tabulate[Byte](16)(_.toByte), 0, 16)
    val end = out.getStreamPosition
    out.seek(4L)
    out.writeInt(0xCAFEBABE) // patch bytes 4..7
    out.seek(end)
    out.write(0x7F)
    val bytes = out.toByteArray
    assert(bytes.length == 17)
    assert((bytes(4) & 0xFF) == 0xCA && (bytes(7) & 0xFF) == 0xBE)
    assert(bytes(8) == 8.toByte && (bytes(16) & 0xFF) == 0x7F)
  }
}
