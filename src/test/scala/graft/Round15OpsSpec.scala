package graft

import graft.operators.{DedupOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Round-15: the ANN maintenance loop closed end-to-end (codes upsert →
  * drift → retrain), the packed-shards artifact, the ensemble quality
  * gate, and the giant-star skew audit of the incremental CC fold
  * (VERDICT r14 #7). Declared keys hash-check the relations against
  * DuckDB; this spec pins the engine-side properties the oracles can't
  * see — upsert idempotence, replacement visibility, stream/manifest
  * consistency read back from the artifact, and the incremental CC
  * fold labeling a deliberately skewed topology.
  */
class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def upsertSearch(batch: org.apache.spark.sql.DataFrame,
                           out: String) =
    SimilarityOps.ivfPqTopKUpserted(Tables.embeddings(spark, sf), batch,
      s"$sf/embeddings.parquet", out, sf, kIvf = 8, nProbe = 2, m = 8,
      kSub = 16, iterations = 2, trainSampleMod = 4,
      queryIds = 0L until 8L, topK = 5, refineCandidates = 50)

  test("codes upsert with an identity batch reproduces the stored search") {
    val out = java.nio.file.Files.createTempDirectory("ups_codes").toString
    val emb = Tables.embeddings(spark, sf)
    val stored = SimilarityOps.ivfPqTopKStored(emb,
      s"$sf/embeddings.parquet", out, sf, kIvf = 8, nProbe = 2, m = 8,
      kSub = 16, iterations = 2, trainSampleMod = 4,
      queryIds = 0L until 8L, topK = 5, refineCandidates = 50)
      .collect().toSeq
    // re-ingesting unchanged rows is a replacement with identical
    // content — the merged relation, and therefore the search, must be
    // byte-identical to the stored path
    val same = upsertSearch(emb
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select("vec_id", "embedding"), out).collect().toSeq
    assert(same.nonEmpty && same == stored,
      "identity upsert must be a search no-op")
  }

  test("codes upsert with replaced content moves the results") {
    val out = java.nio.file.Files.createTempDirectory("ups_codes2").toString
    val emb = Tables.embeddings(spark, sf)
    val stored = SimilarityOps.ivfPqTopKStored(emb,
      s"$sf/embeddings.parquet", out, sf, kIvf = 8, nProbe = 2, m = 8,
      kSub = 16, iterations = 2, trainSampleMod = 4,
      queryIds = 0L until 8L, topK = 5, refineCandidates = 50)
      .collect().toSeq
    val batch = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val replaced = upsertSearch(batch, out).collect().toSeq
    assert(replaced.nonEmpty && replaced != stored,
      "a content replacement must be visible in the search results")
    // deterministic: the same upsert twice yields the same relation
    assert(upsertSearch(batch, out).collect().toSeq == replaced)
  }

  test("retrain recall relation: both configs, bounded hits, full spine") {
    val emb = Tables.embeddings(spark, sf)
    val drifted = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .select("vec_id", "embedding")
      .unionByName(emb.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
    val r = SimilarityOps.ivfRetrainRecall(emb, drifted, "r15stale",
      "r15new", k = 8, iterations = 2, trainSampleMod = 4, nProbe = 2,
      queryIds = 0L until 80L by 10L, topK = 5)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.length == 16, "8 queries x 2 configs")
    assert(r.map(_._1).toSet == Set("stale", "retrained"))
    assert(r.forall(x => x._3 >= 0L && x._3 <= 5L))
    // every requested query appears under both configs even at 0 hits
    assert(r.filter(_._1 == "stale").map(_._2).sorted.toSeq
      == (0L until 80L by 10L))
  }

  test("ensemble vote is the majority of the three signals") {
    val docs = Tables.documents(spark, sf)
    val v = TextOps.qualitySignalVotes(docs,
      docs.filter(col("lang") === "en"), Seq("a", "the", "of", "and", "in"),
      minWords = 30L, maxStopwordPpm = 100000L, numBuckets = 1024,
      maxBitsQ8 = 1040L).collect()
    assert(v.nonEmpty)
    v.foreach { r =>
      val votes = r.getLong(1) + r.getLong(2) + r.getLong(3)
      assert(r.getLong(4) == (if (votes >= 2) 1L else 0L))
    }
    // all three signals must actually discriminate on the fixture
    assert(Seq(1, 2, 3).forall(i => v.map(_.getLong(i)).distinct.length == 2),
      "a constant signal would make the ensemble vacuous")
  }

  test("data card v2: near-dup mass dominates exact dups; BPE pricing " +
    "dominates whitespace tokens") {
    val base = Tables.documents(spark, sf)
    val card = base.unionByName(base
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(20000000L)))
    val merges = TextOps.bpeMerges(base, rounds = 6, topWords = 31)
    val rows = TextOps.dataCardV2(card, Seq("a", "the", "of", "and", "in"),
      TextOps.bpeWordTokens(base, merges, topWords = 31),
      numHashes = 32, rowsPerBand = 2, minJaccardPct = 80).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nDocs, nTok, bpe, nDup, nNd) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6), r.getLong(7))
      assert(nNd >= nDup, "exact dups verify at J=100, so neardup ⊇ dup")
      assert(nNd <= nDocs)
      assert(bpe >= nTok, "every word prices to ≥1 token")
    }
    // the column must not saturate (the r15 lesson: raw band-bucket
    // membership hit 508/510)
    assert(rows.exists(r => r.getLong(7) < r.getLong(2)),
      "some (source, lang) cell must contain a non-member")
  }

  test("packed shards: bin streams reconcile with the manifest and the " +
    "per-document encodings") {
    val docs = Tables.documents(spark, sf)
    val merges = TextOps.bpeMerges(docs, rounds = 6, topWords = 31)
    val syms = TextOps.bpeWordSyms(docs, merges, topWords = 31)
    val out = java.nio.file.Files.createTempDirectory("pack_shards").toString
    TextOps.packShardsWrite(docs, syms, 128L, 100L,
      s"$sf/documents.parquet", out)
    val wt = TextOps.bpeWordTokens(docs, merges, topWords = 31)
    // stream length per bin == sum of manifest n_tokens in that bin
    val binLens = spark.read.parquet(out)
      .select(col("source"), col("shard"), col("bin"),
        size(col("tokens")).cast("long").as("stream_len"))
    val manifestLens = TextOps.packManifestBpe(docs, wt, 128L, 100L)
      .groupBy("source", "shard", "bin")
      .agg(sum("n_tokens").as("manifest_len"))
    val mismatched = binLens.join(manifestLens, Seq("source", "shard", "bin"),
        "full")
      .filter(col("stream_len").isNull || col("manifest_len").isNull ||
        col("stream_len") =!= col("manifest_len"))
    assert(mismatched.isEmpty, "every bin's stream length must equal the " +
      "manifest's token total for that bin")
    // every audited slice equals the document's own encoding
    val audit = TextOps.packShardsSliceAudit(docs, syms, 128L, 100L, out)
    val own = TextOps.docTokenStreams(docs, syms)
      .select(col("doc_id"), md5(concat_ws(" ", col("tokens"))).as("own_md5"))
    val bad = audit.join(own, Seq("doc_id"))
      .filter(col("tok_md5") =!= col("own_md5"))
    assert(bad.isEmpty, "a manifest slice must read back exactly its document")
  }

  test("batchEdgesVerified equals the two separate probes it fuses") {
    val docs = Tables.documents(spark, sf)
    val c0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select("doc_id", "text")
    val b1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      .select("doc_id", "text")
    val bands = DedupOps.corpusBandDocs(c0, 32, 2)
    val sets = DedupOps.corpusHashedSets(c0)
    val fused = DedupOps.batchEdgesVerified(b1, bands, sets, 32, 2, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val vsIdx = DedupOps.pairsAgainstIndexVerified(b1, bands, sets, 32, 2, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), 1L)).toSet
    val internal = DedupOps.lshVerifiedJaccardPairsUnsorted(b1, 32, 2, 80)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), 0L)).toSet
    assert(fused.nonEmpty && fused == (vsIdx ++ internal),
      "the one-banding fusion must reproduce both probes exactly")
    assert(vsIdx.nonEmpty && internal.nonEmpty,
      "both halves must be exercised on the fixture")
  }

  // ---- VERDICT r14 #7: giant-star skew audit (see SCALE.md) ----

  test("giant-star incremental fold: min-label and star contraction " +
    "agree and label the bridged batch") {
    val n = 100000L
    // stored state: one giant cluster — the star(labels) worst case,
    // hub key multiplicity = n in every min-label round's join
    val labels = spark.range(n).select(col("id"), lit(0L).as("cluster_id"))
    // batch bridges two NEW nodes into the giant cluster via member 3
    val batch = Seq((n + 5L, 3L), (n + 5L, n + 6L)).toDF("a_id", "b_id")
    def check(out: org.apache.spark.sql.DataFrame): Unit = {
      val got = out.agg(count(lit(1)), countDistinct(col("cluster_id")),
        max(col("cluster_id"))).collect()(0)
      assert(got.getLong(0) == n + 2, "all members + 2 new nodes labeled")
      assert(got.getLong(1) == 1 && got.getLong(2) == 0L,
        "one component, labeled by the global minimum")
    }
    check(DedupOps.incrementalComponents(labels, batch))
  }

  test("hub key multiplicity is the skew the fold must survive") {
    // the data-shape fact SCALE.md cites: star(labels) of a c-member
    // cluster hands the min-label join a key of multiplicity c; the
    // partial-aggregate bounds the groupBy side and AQE's skew split
    // (AqeSkewJoinSpec) bounds the join side
    val labels = spark.range(5000L).select(col("id"), lit(0L).as("cluster_id"))
    val edges = labels.select(col("cluster_id").as("a_id"),
      col("id").as("b_id"))
    val maxMult = edges.groupBy("a_id").agg(count(lit(1)).as("c"))
      .agg(max("c")).collect()(0).getLong(0)
    assert(maxMult == 5000L)
  }
}
