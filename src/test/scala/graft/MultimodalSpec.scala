package graft

import graft.multimodal.MultimodalOps

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("multimodal: binaryFile datasource ingests a media directory end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "a.png").toPath,
        Array[Byte](1, 2, 3, 4))
      java.nio.file.Files.write(new java.io.File(dir, "b.PNG").toPath,
        Array[Byte](5, 6))
      val media = MultimodalOps.fromBinaryFiles(spark, dir.getAbsolutePath, "image")
      val rows = media.orderBy("path").collect()
      assert(rows.length == 2)
      assert(rows.forall(_.getStruct(3).getString(0) == "image"))
      assert(rows.map(_.getStruct(3).getString(1)).toSeq == Seq("png", "png"))
      // ids are deterministic path hashes and unique
      assert(rows.map(_.getLong(0)).distinct.length == 2)
      // the ingested frame feeds the standard hash pipeline unchanged:
      // one row per file, and these payloads are not decodable images
      val hashes = MultimodalOps.imageDHashes(media).collect()
      assert(hashes.length == 2 && hashes.forall(_.isNullAt(1)))
    } finally {
      dir.listFiles.foreach(_.delete()); dir.delete()
    }
  }

  test("multimodal: stereo and 8-bit WAVs decode; corrupt WAVs fall back to the stub") {
    import graft.multimodal.AudioCodec
    // stereo: 1000 interleaved L/R frames of silence — every frame's
    // energy is 0, so no gradient bit is set
    val stereo = AudioCodec.encodeWavPcm16(44100, 2,
      Array.fill[Short](2000)(0))
    assert(AudioCodec.fingerprint(stereo).contains(0L))

    // 8-bit unsigned path, hand-built from a PCM-16 header
    def eightBit(samples: Array[Byte]): Array[Byte] = {
      val hdr = AudioCodec.encodeWavPcm16(8000, 1, Array[Short](0, 0))
      val out = java.util.Arrays.copyOf(hdr, 44 + samples.length)
      out(34) = 8                             // bits per sample
      out(32) = 1; out(33) = 0                // block align = 1
      out(40) = samples.length.toByte         // data size (< 256 bytes)
      System.arraycopy(samples, 0, out, 44, samples.length)
      out
    }
    // 4 samples 0x00,0x10,0xF0,0xFF: a valid 8-bit stream, too short
    // for the 65-frame envelope
    assert(AudioCodec.fingerprint(eightBit(
      Array[Byte](0x00, 0x10, 0xF0.toByte, 0xFF.toByte))).isEmpty)
    // 130 samples: 65 at the unsigned zero line 0x80, then 65 at 0x00
    // (|0 − 128| = 128). Frame f holds samples 2f, 2f+1, so frames 0-31
    // are silent, frame 32 straddles (128) and frames 33-64 are loud
    // (256): the envelope rises exactly at bits 31 and 32
    val steps = eightBit(Array.tabulate[Byte](130)(i =>
      if (i < 65) 0x80.toByte else 0x00))
    assert(AudioCodec.fingerprint(steps).contains((1L << 31) | (1L << 32)))

    // corrupt: data chunk declares more bytes than the payload carries
    val truncated = AudioCodec.encodeWavPcm16(8000, 1, Array.fill[Short](100)(1))
      .dropRight(50)
    assert(AudioCodec.fingerprint(truncated).isEmpty)
    // non-PCM format code rejects
    val pcm = AudioCodec.encodeWavPcm16(8000, 1,
      Array.tabulate[Short](100)(i => (i * 100).toShort))
    val alaw = pcm.clone()
    alaw(20) = 6
    assert(AudioCodec.fingerprint(pcm).isDefined)
    assert(AudioCodec.fingerprint(alaw).isEmpty)
    // and the fingerprint pipeline keeps flowing: a null signature
    val media = Seq((1L, truncated)).toDF("media_id", "payload")
    val fps = MultimodalOps.audioFingerprints(media).collect()
    assert(fps.length == 1 && fps(0).isNullAt(1))
  }
}
