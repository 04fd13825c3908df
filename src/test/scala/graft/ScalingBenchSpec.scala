package graft

/** The ScalingBench corpus is reused only when its `_SYNTH_OK` marker
  * names the same copy count and source directory: a partial corpus
  * (interrupted synthesis, no marker) or one built from another scale
  * factor is rebuilt, never timed.
  */
class ScalingBenchSpec extends SparkSpec {

  test("ScalingBench reuses a corpus only when its _SYNTH_OK marker matches") {
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_scale_synth").toString
    try {
      assert(!ScalingBench.synthReusable(sf, out, 1), "empty dir reused")
      ScalingBench.synth(spark, sf, out, 1)
      assert(ScalingBench.synthReusable(sf, out, 1))
      assert(!ScalingBench.synthReusable(sf, out, 10), "other copy count reused")
      assert(!ScalingBench.synthReusable(s"$sf-other", out, 1),
        "other source dir reused")
      // a corpus whose marker is gone is partial: every parquet can exist
      java.nio.file.Files.delete(ScalingBench.synthMarker(out))
      assert(new java.io.File(s"$out/embeddings.parquet").exists())
      assert(!ScalingBench.synthReusable(sf, out, 1), "partial corpus reused")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }
}
