package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** REAL pure-JVM image codec (rounds 5–6): PNG, JPEG, GIF, BMP — the
  * formats the JRE's `javax.imageio` SPI registry ships readers for —
  * decode to true pixels; formats the JVM can't decode return None. The
  * codec BOUNDARY is fixed — the Spark-side plumbing (schema,
  * per-partition batching, null passthrough) never changes when more
  * codecs appear behind it.
  *
  * Everything here is executor-side, driver-free, and allocation-bounded
  * per image; determinism holds because PNG/GIF/BMP decoding is lossless,
  * JPEG inverse-DCT is fixed for a given JRE, and the luminance math is
  * integer.
  */
object ImageCodec {

  /** Once-per-partition codec init: disable ImageIO's disk-backed stream
    * cache (a tmp-file write per image would thrash executor-local disk
    * at scale; in-memory streams are strictly faster for byte-array
    * payloads).
    */
  def initPartition(): Unit = ImageIO.setUseCache(false)

  private val PngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G')

  /** Cheap signature sniff so non-image payloads skip reader probing. */
  def looksDecodable(payload: Array[Byte]): Boolean =
    payload != null && payload.length >= 8 &&
      (payload.startsWith(PngMagic) ||
        // JPEG (SOI + marker prefix) — the dominant format of any real
        // multimodal crawl; the stock JRE ships a full baseline+progressive
        // reader (round 6, retiring the stub for the third real format)
        (payload(0) == 0xFF.toByte && payload(1) == 0xD8.toByte &&
          payload(2) == 0xFF.toByte) ||
        // GIF87a/GIF89a and BMP, the other stock-JRE readers
        (payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F') ||
        (payload(0) == 'B' && payload(1) == 'M'))

  /** Perceptual difference hash (dHash, round 7): decode, box-average
    * luminance onto a 9×8 grid, emit bit (y·8+x) = 1 iff cell (x,y) is
    * brighter than its right neighbor (x+1,y) — 64 bits of horizontal
    * luminance GRADIENT signs. Near-identical images (re-encodes,
    * mild crops/rescales, format conversions) agree on almost every
    * gradient sign, so hamming distance over dHash is the standard
    * image near-dup metric; [[MultimodalOps.imageNearDupPairs]] feeds
    * it through the same hamming-band machinery as text SimHash.
    *
    * Determinism: box bounds are integer floor(g·dim/grid) picks, the
    * per-cell average is an integer Rec.601 luma sum over an integer
    * pixel count — no float anywhere, so the hash is bit-stable across
    * JVMs/platforms. Box AVERAGING (not point sampling) is what buys JPEG-noise
    * robustness: block artifacts cancel within a cell. None for
    * payloads the JVM can't decode — callers filter those out.
    */
  def dHash(payload: Array[Byte]): Option[Long] =
    if (!looksDecodable(payload)) None
    else
      try {
        Option(ImageIO.read(new ByteArrayInputStream(payload))).map { img =>
          val (w, h) = (img.getWidth, img.getHeight)
          // 9 columns × 8 rows of box-averaged integer luma
          val cells = Array.ofDim[Long](8, 9)
          var gy = 0
          while (gy < 8) {
            val y0 = (gy.toLong * h / 8).toInt
            val y1 = math.min(h, math.max(((gy + 1).toLong * h / 8).toInt, y0 + 1))
            var gx = 0
            while (gx < 9) {
              val x0 = (gx.toLong * w / 9).toInt
              val x1 = math.min(w, math.max(((gx + 1).toLong * w / 9).toInt, x0 + 1))
              var sum = 0L
              var y = y0
              while (y < y1) {
                var x = x0
                while (x < x1) {
                  val rgb = img.getRGB(x, y)
                  sum += (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
                    114 * (rgb & 0xFF)) / 1000
                  x += 1
                }
                y += 1
              }
              cells(gy)(gx) = sum / ((x1 - x0).toLong * (y1 - y0))
              gx += 1
            }
            gy += 1
          }
          var bits = 0L
          var by = 0
          while (by < 8) {
            var bx = 0
            while (bx < 8) {
              if (cells(by)(bx) > cells(by)(bx + 1))
                bits |= 1L << (by * 8 + bx)
              bx += 1
            }
            by += 1
          }
          bits
        }
      } catch { case _: Exception => None }

  /** In-memory PNG encoder for fixtures/tests: row-major RGB ints. */
  def encodePng(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] =
    encode(width, height, rgb, "png")

  /** In-memory JPEG encoder for fixtures/tests. Lossy — tests assert on
    * decoded DIMENSIONS (exact) and histogram mass (sums to 1), never on
    * exact pixel values.
    */
  def encodeJpeg(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] =
    encode(width, height, rgb, "jpg")

  private def encode(width: Int, height: Int, rgb: (Int, Int) => Int,
                     format: String): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, format, baos)
    baos.toByteArray
  }
}
