package graft.multimodal

/** REAL pure-JVM audio codec (round 5): RIFF/WAVE PCM (8-bit unsigned and
  * 16-bit signed little-endian — the canonical uncompressed WAV layouts)
  * parses to a deterministic amplitude-envelope fingerprint. Compressed
  * or malformed payloads return None — the same codec boundary as
  * [[ImageCodec]]: more formats appear behind it, the Spark-side
  * plumbing never changes.
  *
  * Everything is integer arithmetic over the raw PCM words, so the
  * fingerprint is bit-deterministic across JVMs and partitions.
  */
object AudioCodec {

  /** Cheap signature sniff: RIFF container declaring a WAVE form. */
  def looksDecodable(payload: Array[Byte]): Boolean =
    payload != null && payload.length >= 44 &&
      payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
      payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A' &&
      payload(10) == 'V' && payload(11) == 'E'

  private def le16(p: Array[Byte], o: Int): Int =
    (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)

  private def le32(p: Array[Byte], o: Int): Int =
    (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8) |
      ((p(o + 2) & 0xFF) << 16) | ((p(o + 3) & 0xFF) << 24)

  /** 64-bit acoustic fingerprint — the audio twin of
    * [[ImageCodec.dHash]]: slice the PCM stream into 65 equal frames,
    * sum each frame's absolute amplitude (integer — |sample| around the
    * format's zero line), and emit one GRADIENT-SIGN bit per adjacent
    * frame pair (bit j = energy(j+1) > energy(j)). Like dHash's
    * box-averaged luminance, frame-SUMMED energy absorbs small edits —
    * re-encoding at a different volume scales every frame equally (all
    * signs survive), trimming or noise perturbs only the frames it
    * touches — while the envelope's rises and falls, which is what
    * identifies a recording, drive the bits. Pure int64 arithmetic over
    * the raw PCM words: bit-deterministic across JVMs and partitions,
    * ~2·10¹⁸ overflow headroom (2³¹ samples × 2¹⁵ amplitude).
    *
    * None for undecodable payloads or streams shorter than 65 samples
    * (no meaningful envelope), so callers route None to byte-level
    * exact dedup.
    */
  def fingerprint(payload: Array[Byte]): Option[Long] =
    if (!looksDecodable(payload)) None
    else
      try {
        var off = 12
        var audioFormat, channels, sampleRate, blockAlign, bits = 0
        var haveFmt = false
        var result: Option[Long] = None
        var corrupt = false
        while (!corrupt && result.isEmpty && off + 8 <= payload.length) {
          val id = new String(payload, off, 4, "US-ASCII")
          val size = le32(payload, off + 4)
          if (size < 0 || off + 8 + size > payload.length) corrupt = true
          else {
            if (id == "fmt ") {
              if (size < 16) corrupt = true
              else {
                audioFormat = le16(payload, off + 8)
                channels = le16(payload, off + 10)
                sampleRate = le32(payload, off + 12)
                blockAlign = le16(payload, off + 20)
                bits = le16(payload, off + 22)
                haveFmt = true
              }
            } else if (id == "data") {
              if (!haveFmt || audioFormat != 1 || channels <= 0 ||
                sampleRate <= 0 || blockAlign <= 0 ||
                (bits != 8 && bits != 16) || size % blockAlign != 0)
                corrupt = true
              else {
                val base = off + 8
                val n = if (bits == 8) size else size / 2
                if (n < 65) corrupt = true
                else {
                  val energy = new Array[Long](65)
                  var i = 0
                  while (i < n) {
                    // frame index by EXACT integer proportion — no
                    // accumulated rounding drift across long streams
                    val f = (i.toLong * 65L / n).toInt
                    val amp =
                      if (bits == 8) math.abs((payload(base + i) & 0xFF) - 128)
                      else math.abs(le16(payload, base + i * 2).toShort.toInt)
                    energy(f) += amp
                    i += 1
                  }
                  var sig = 0L
                  var j = 0
                  while (j < 64) {
                    if (energy(j + 1) > energy(j)) sig |= (1L << j)
                    j += 1
                  }
                  result = Some(sig)
                }
              }
            }
            off += 8 + size + (size & 1)
          }
        }
        result
      } catch { case _: Exception => None }

  /** In-memory PCM-16 WAV encoder for fixtures/tests: interleaved
    * little-endian samples, canonical 44-byte header.
    */
  def encodeWavPcm16(sampleRate: Int, channels: Int,
                     samples: Array[Short]): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0)
    val dataSize = samples.length * 2
    val out = new Array[Byte](44 + dataSize)
    def putAscii(o: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (b, i) => out(o + i) = b }
    def put16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    def put32(o: Int, v: Int): Unit = {
      put16(o, v & 0xFFFF); put16(o + 2, (v >>> 16) & 0xFFFF)
    }
    putAscii(0, "RIFF"); put32(4, 36 + dataSize); putAscii(8, "WAVE")
    putAscii(12, "fmt "); put32(16, 16)
    put16(20, 1) // PCM
    put16(22, channels); put32(24, sampleRate)
    put32(28, sampleRate * channels * 2) // byte rate
    put16(32, channels * 2) // block align
    put16(34, 16) // bits per sample
    putAscii(36, "data"); put32(40, dataSize)
    var i = 0
    while (i < samples.length) { put16(44 + i * 2, samples(i) & 0xFFFF); i += 1 }
    out
  }
}
