package graft

import graft.operators.{SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Round-16 engine pins: the incremental kNN-graph upsert's exactness
  * contract (incremental ≡ from-scratch under frozen planes) and the
  * schedule-pricing stream/batch parity (the declared keys hash-check
  * the real-fixture relations against DuckDB).
  */
class Round16OpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val probes = 0L until 8L

  private def upsertFixture(emb: org.apache.spark.sql.DataFrame) = {
    val batch = emb
      .filter(pmod(col("vec_id"), lit(9)) =!= 5 &&
        pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .unionByName(emb.filter(pmod(col("vec_id"), lit(7)) === 3)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          col("embedding")))
    // the takedown side is a RELATION (r18: the bm25CompactWrite
    // discipline — a production takedown list is itself a table)
    val deletes = emb.filter(pmod(col("vec_id"), lit(9)) === 5)
      .select("vec_id")
    (batch, deletes)
  }

  test("knnGraphUpserted is EXACTLY the from-scratch graph over the " +
    "post-upsert corpus under the frozen base planes — deletes, " +
    "re-crawls, and inserts all present") {
    val emb = Tables.embeddings(spark, sf)
    val (batch, deletes) = upsertFixture(emb)
    val delIds = deletes.collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty, "fixture must exercise takedowns")
    assert(delIds.contains(5L), "plane id 5 must be on the takedown list")
    val dir = java.nio.file.Files
      .createTempDirectory("knn_upsert_spec").toString
    val got = SimilarityOps.knnGraphUpserted(emb, batch, deletes,
      srcDir = s"$sf/embeddings.parquet", outDir = dir,
      probeIds = probes, k = 3)
      .orderBy("q_id", "rn").collect().map(_.toString).toSeq
    val want = SimilarityOps.knnGraphExactWithPlanes(
      SimilarityOps.upsertedCorpus(emb, batch, deletes), emb,
      probeIds = probes, k = 3)
      .orderBy("q_id", "rn").collect().map(_.toString).toSeq
    assert(got == want)
    // the three batch species actually reached the output
    val merged = SimilarityOps.upsertedCorpus(emb, batch, deletes)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(merged.exists(_ >= 1000000L), "inserts present")
    assert(delIds.forall(d => !merged.contains(d)), "takedowns absent")
  }

  test("empty batch + empty takedown relation degenerates to the stored " +
    "graph itself") {
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files
      .createTempDirectory("knn_upsert_noop").toString
    val got = SimilarityOps.knnGraphUpserted(emb,
      emb.filter(lit(false)).select("vec_id", "embedding"),
      emb.filter(lit(false)).select("vec_id"),
      srcDir = s"$sf/embeddings.parquet", outDir = dir,
      probeIds = probes, k = 3)
      .orderBy("q_id", "rn").collect().map(_.toString).toSeq
    val want = SimilarityOps.knnGraphExact(emb, probes, k = 3)
      .orderBy("q_id", "rn").collect().map(_.toString).toSeq
    assert(got == want)
  }

  test("clusters over the upserted graph equal an INDEPENDENT " +
    "replication of the mutual-CC tail on the from-scratch " +
    "frozen-plane graph, and cover the post-upsert corpus exactly once") {
    import graft.operators.DedupOps
    val emb = Tables.embeddings(spark, sf)
    val (batch, deletes) = upsertFixture(emb)
    val dir = java.nio.file.Files
      .createTempDirectory("knn_upsert_cc").toString
    val got = SimilarityOps.mutualKnnClustersUpserted(emb, batch, deletes,
      srcDir = s"$sf/embeddings.parquet", outDir = dir,
      probeIds = probes, k = 3)
      .collect().map(_.toString).toSeq
    // independent tail replication: mutuality semi-join + singleton
    // self-loops + the audited CC engine, over the from-scratch graph
    val merged = SimilarityOps.upsertedCorpus(emb, batch, deletes)
    val g = SimilarityOps.knnGraphExactWithPlanes(merged, emb, probes, 3)
      .select("q_id", "n_id").localCheckpoint()
    val mutual = g
      .join(g.select(col("n_id").as("q_id"), col("q_id").as("n_id")),
        Seq("q_id", "n_id"), "left_semi")
      .filter(col("q_id") < col("n_id"))
      .select(col("q_id").as("a_id"), col("n_id").as("b_id"))
    val nodes = merged
      .select(col("vec_id").as("a_id"), col("vec_id").as("b_id"))
    val want = DedupOps.connectedComponents(mutual.unionByName(nodes))
      .select(col("id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")
      .collect().map(_.toString).toSeq
    assert(got == want)
    // every post-upsert vector appears exactly once (singletons survive)
    val mergedIds = merged.select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got.size == mergedIds.size)
  }

  test("upsert churn: kept+dropped exhausts the stored graph, " +
    "kept+new exhausts the upserted graph") {
    val emb = Tables.embeddings(spark, sf)
    val (batch, deletes) = upsertFixture(emb)
    val dir = java.nio.file.Files
      .createTempDirectory("knn_churn_spec").toString
    val churn = SimilarityOps.knnUpsertChurn(emb, batch, deletes,
      srcDir = s"$sf/embeddings.parquet", outDir = dir,
      probeIds = probes, k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nOld = spark.read.parquet(s"$dir/edges").count()
    val nNew = SimilarityOps.knnGraphUpserted(emb, batch, deletes,
      srcDir = s"$sf/embeddings.parquet", outDir = dir,
      probeIds = probes, k = 3).count()
    assert(churn.getOrElse("kept", 0L) + churn.getOrElse("dropped", 0L)
      == nOld)
    assert(churn.getOrElse("kept", 0L) + churn.getOrElse("new", 0L)
      == nNew)
    assert(churn.keySet == Set("kept", "dropped", "new"),
      s"fixture must exercise all three statuses, got $churn")
  }

  test("schedule drift: refitting on the identical corpus is a zero " +
    "delta — the refreeze signal only fires on real drift") {
    val docs = Tables.documents(spark, sf)
    val same = TextOps.scheduleDrift(docs, docs, iters = 3).collect()
    assert(same.nonEmpty)
    same.foreach { r =>
      assert(r.getLong(5) == 0L, s"delta_ppm must be 0, got $r")
      assert(r.getLong(1) == r.getLong(2), "losses must match")
    }
    // and the declared key's drifted corpus moves real mass
    val current = docs.select("source", "text")
      .unionByName(docs.filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("source"), reverse(col("text")).as("text")))
    val drift = TextOps.scheduleDrift(docs, current, iters = 3).collect()
    assert(drift.exists(_.getLong(5) != 0L),
      "reversed re-crawl must move ppm mass")
  }

  test("bm25 postings upsert equals the from-scratch index over the " +
    "merged corpus, and refuses a re-used doc_id loudly") {
    import graft.operators.RetrievalOps
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
      .withColumn("doc_id", col("doc_id") + lit(30000000L))
    val qs = Seq("q1" -> Seq("dup", "merge"), "q2" -> Seq("spark", "the"))
    val dir = java.nio.file.Files
      .createTempDirectory("bm25_upsert_spec").toString
    val got = RetrievalOps.bm25TopKUpserted(base, batch,
      srcDir = s"$sf/documents.parquet", outDir = dir, qs, k = 7)
      .collect().map(_.toString).toSeq
    val want = RetrievalOps.bm25TopK(base.unionByName(batch), qs, k = 7)
      .collect().map(_.toString).toSeq
    assert(got == want)
    assert(got.nonEmpty)
    // append-only contract: an id on both sides fails loudly
    intercept[IllegalArgumentException] {
      RetrievalOps.bm25TopKUpserted(base, base.limit(1),
        srcDir = s"$sf/documents.parquet", outDir = dir, qs, k = 7)
    }
  }

  test("scheduled packing conserves the priced token mass per " +
    "(batch, domain) and realizes repeats as bin items") {
    val docs = Tables.documents(spark, sf)
    val arriving = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .withColumn("batch_id", pmod(col("doc_id"), lit(2)).cast("long"))
    val packed = TextOps.packScheduledBins(docs, arriving,
      budgetTokens = 25000L, binTokens = 300L, iters = 3)
      .groupBy("batch_id", "source")
      .agg(sum(col("bin_tokens")).as("packed_tokens"),
        sum(col("n_items")).as("items"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val priced = TextOps.schedulePriceBatches(docs, arriving,
      budgetTokens = 25000L, iters = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(5)).toMap
    // every priced group with sampled mass packs exactly that mass
    priced.foreach { case (key, sampledTokens) =>
      val (packedTokens, _) = packed.getOrElse(key, (0L, 0L))
      assert(packedTokens == sampledTokens,
        s"$key packs $packedTokens of $sampledTokens sampled tokens")
    }
    assert(packed.nonEmpty)
  }

  test("schedule pricing: repeats realize the epochs_q8 stochastic " +
    "rounding; unknown domains price to zero") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val sched = TextOps.mixtureSchedule(docs, budgetTokens = 100000L,
      iters = 5)
      .select("source", "epochs_q8")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sched.nonEmpty)
    // a doc from a domain the frozen schedule never saw: zero repeats
    val arriving = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .select("doc_id", "source", "text")
      .unionByName(Seq((990001L, "unseen_source", "a b c"))
        .toDF("doc_id", "source", "text"))
    val priced = TextOps.priceDocsAgainstSchedule(arriving, sched)
      .select("doc_id", "n_tokens", "epochs_q8", "repeats")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // repeats ∈ {floor(e/256), floor(e/256)+1} — stochastic rounding
    priced.values.foreach { case (_, e, rep) =>
      assert(rep == e / 256 || rep == e / 256 + 1,
        s"repeats $rep outside the rounding pair for epochs_q8=$e")
    }
    assert(priced(990001L) == ((3L, 0L, 0L)),
      "unknown domain must price to zero repeats")
  }
}
