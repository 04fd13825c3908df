package graft

import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c d", "en"),
    (2L, "a b c e", "en"),   // jaccard(1,2) = 3/5 = 60%
    (3L, "x y z w", "en"),
    (4L, "a b c d", "en"))   // exact dup of 1
    .toDF("doc_id", "text", "lang")

  test("exactDedup keeps min doc_id with duplicate count") {
    val out = DedupOps.exactDedup(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("jaccardPairs: hand-computed pair survives threshold") {
    val out = DedupOps.jaccardPairs(docs, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // (1,2): common 3, union 5 (60%); (1,4)/(2,4): dup pair 4/4 & 3/5; (3,*) disjoint
    assert(out == Seq((1L, 2L, 3L, 5L), (1L, 4L, 4L, 4L), (2L, 4L, 3L, 5L)))
  }

  test("jaccardPairs threshold filters low-similarity pairs") {
    val out = DedupOps.jaccardPairs(docs, 90).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 4L)))
  }

  test("minHash: identical docs share signatures; LSH surfaces them") {
    val sigs = DedupOps.minHashSignatures(docs, 8).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs(1L) != sigs(3L))
    val cands = DedupOps.minHashCandidates(docs, 8, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L)))
    assert(!cands.contains((1L, 3L)))
  }

  test("simHash: identical docs equal, disjoint docs differ") {
    val m = DedupOps.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(4L))
    assert(m(1L) != m(3L))
  }

  test("ngramJaccardPairs on shared trigrams") {
    val d2 = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d x"),   // trigrams: {abc,bcd,cde} vs {abc,bcd,cdx}: 2/4 = 50%
      (3L, "p q r s t")).toDF("doc_id", "text")
    val out = DedupOps.ngramJaccardPairs(d2, 3, 50).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 2L, 2L, 4L)))
  }

  private val vecs = Seq(
    (0L, Seq(1f, 0f, 0f)),
    (1L, Seq(0.9f, 0.1f, 0f)),
    (2L, Seq(0f, 1f, 0f)),
    (3L, Seq(-1f, 0f, 0f)))
    .toDF("vec_id", "embedding")

  test("topKDotExact ranks by dot product deterministically") {
    val out = SimilarityOps.topKDotExact(vecs, Seq(0L), 3).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 0L), (2L, 1L), (3L, 2L)))
  }

  test("topKDotFast cosine agrees with exact ranking on separated vectors") {
    val out = SimilarityOps.topKDotFast(vecs, Seq(0L), 3).collect()
      .map(r => r.getLong(2)).toSeq
    assert(out == Seq(0L, 1L, 2L))
  }

  test("topKDotFastExact reproduces topKDotExact rows exactly") {
    val exact = SimilarityOps.topKDotExact(vecs, Seq(0L, 1L), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val fast = SimilarityOps.topKDotFastExact(vecs, Seq(0L, 1L), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(fast == exact)
  }

  test("dot and l2Norm") {
    val df = Seq((Seq(1f, 2f), Seq(3f, 4f))).toDF("a", "b")
    val r = df.select(
      SimilarityOps.dot(col("a"), col("b")).as("d"),
      SimilarityOps.l2Norm(col("a")).as("n")).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(5.0)) < 1e-12)
  }

  test("IVF index: probing all cells reproduces brute-force ranking") {
    val spark2 = spark
    val emb = graft.Tables.embeddings(spark2, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 100)
    val index = SimilarityOps.ivfIndex(emb, k = 4, iterations = 2)
    assert(index.centroids.count() == 4)
    // nProbe = k → exact: must equal the brute-force top-k neighbor ids
    val ivfAll = SimilarityOps.ivfTopK(index, Seq(0L, 1L), 5, nProbe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = SimilarityOps.topKDotFast(emb, Seq(0L, 1L), 5, cosine = false)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ivfAll == brute)
    // nProbe = 1 still finds the query itself as its own best match
    val ivf1 = SimilarityOps.ivfTopK(index, Seq(0L), 5, nProbe = 1)
      .select("n_id").collect()
    assert(ivf1.head.getLong(0) == 0L)
    index.release()
  }

  test("IVF cell assignment is a pure projection (no shuffle, no window)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 100)
    val index = SimilarityOps.ivfIndex(emb, k = 4, iterations = 1)
    // the assignment plan must contain no Exchange and no Window: the
    // argmax over centroids is an expression fold, not a row_number
    val plan = index.assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assignment shuffles:\n$plan")
    assert(!plan.contains("Window"), s"assignment uses a window:\n$plan")
    index.release()
  }

  test("simHashPairs: identical docs pair at hamming 0, disjoint docs don't pair") {
    val docs = Seq(
      (1L, "spark scans parquet files fast and clean"),
      (2L, "spark scans parquet files fast and clean"),   // exact dup of 1
      (3L, "completely unrelated tokens xylophone quartz umbrella")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.simHashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("pageRankFixedPoint reproduces the hand-computed trajectory on a path graph") {
    // path 1–2–3: deg(1)=deg(3)=1, deg(2)=2; after 2 ppm iterations
    // r(1)=r(3)=936250, r(2)=1127500 (mass conserved: sums to 3e6)
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = DedupOps.pageRankFixedPoint(pairs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 936250L), (2L, 1127500L), (3L, 936250L)))
  }

  test("connectedComponents labels chains and keeps singleton pairs apart") {
    // components: {1,2,3,4} (a chain — needs propagation), {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents on an empty pair set returns empty, not NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(DedupOps.connectedComponents(empty).count() == 0)
  }

  test("local contraction preserves components exactly (random graphs, both engines)") {
    // the per-partition union-find prep must never merge or split a
    // component under ANY partitioning of the edge list — compare
    // connectedComponents against a driver-side union-find over random
    // graphs, re-shuffled across partition counts
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 10
      val edges = (1 to n * 2).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val want = CcFixtures.unionFind(edges)
      for (parts <- Seq(1, 3, 16)) {
        val df = edges.toDF("a_id", "b_id").repartition(parts)
        val gotMin = DedupOps.connectedComponents(df)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(gotMin == want, s"min-label diverged (trial=$trial parts=$parts)")
      }
    }
  }

  test("contraction collapses in-partition chains: a 500-node path converges in min-label CC") {
    // min-label propagation needs O(diameter) rounds — a 500-long path
    // exceeds the 50-round cap and USED to throw. The forest prep
    // contracts each partition's CONTIGUOUS sub-chain to a star, so
    // with range partitioning (the layout a sorted edge table has on
    // disk) the residual diameter is ~#partitions and the same engine
    // now converges. NOTE the honest boundary: hash/round-robin
    // repartitioning fragments the chain across partitions and defeats
    // the contraction — such scattered topologies are what the star
    // hand-off is for (the id-shuffled 20000-chain test below).
    val path = (0L until 499L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    for (df <- Seq(path.coalesce(1), path.repartitionByRange(4, col("a_id")))) {
      val got = DedupOps.connectedComponents(df)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 500 && got.forall(_._2 == 0L),
        "path graph must collapse to one cluster labeled 0")
    }
  }

  test("a cap-exceeding graph fails LOUDLY, not with a deep-plan OOM") {
    // residue-scattered chain (edge i → partition i mod 8, so no
    // partition holds adjacent edges and pass-1 contraction cannot
    // bite), with coalescing OFF for the duration — the 100 TB regime,
    // where the forest never fits one partition and the chain keeps
    // near-full diameter through the member-co-located pass 2. Two
    // min-label rounds cannot close that diameter, so the graph goes to
    // star contraction, which needs more than the 10 rounds left of the
    // shared 12-round cap here: the contract is the actionable
    // IllegalStateException, reached with a shallow plan (at most two
    // persisted min-label rounds, and every star round truncates
    // lineage) instead of an OOM on plan stringification.
    val byResidue = (0 until 8).flatMap(p =>
      (0 until 20000).filter(_ % 8 == p).map(i => (i.toLong, i + 1L)))
    val path = spark.sparkContext.parallelize(byResidue, 8)
      .toDF("a_id", "b_id")
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      val e = intercept[IllegalStateException] {
        DedupOps.connectedComponents(path, maxIter = 12).collect()
      }
      assert(e.getMessage.contains("did not converge"), e.getMessage)
    } finally spark.conf.set(coalesceKey, before)
  }

  test("an id-shuffled, residue-scattered 20000-chain converges through " +
    "the star hand-off") {
    // the adversarial regime of the loud-cap test above with the ids
    // shuffled along the chain: min-label propagation would need
    // ~diameter rounds; star contraction closes it inside the default
    // cap
    val edges = CcFixtures.shuffledChain(20000, seed = 19)
    val got = CcFixtures.withoutCoalescing(spark) {
      DedupOps.connectedComponents(CcFixtures.scattered(spark, edges))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    assert(got == CcFixtures.unionFind(edges))
  }

  test("LongUnionFind survives rehash growth: 60k nodes through a 16-slot table") {
    // the CC property test never outgrows the default table; this
    // drives the open-addressed grow() path through ~12 doublings and
    // checks roots against a driver-side reference union-find
    val rnd = new scala.util.Random(11)
    val n = 60000
    val edges = (1 to 90000).map(_ =>
      (rnd.nextInt(n).toLong * 7919L, rnd.nextInt(n).toLong * 7919L))
    val uf = new graft.operators.LongUnionFind(16)
    edges.foreach { case (a, b) => uf.union(a, b) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(k => k -> find(k)).toMap
    val got = uf.entries.map { case (r, k) => k -> r }.toMap
    assert(got.size == want.size, s"${got.size} tracked vs ${want.size} expected")
    val bad = want.collect { case (k, r) if got(k) != r => (k, r, got(k)) }
    assert(bad.isEmpty, s"root divergence on ${bad.size} nodes: ${bad.take(3)}")
  }

  test("local contraction keeps self-loop-only singletons in the min-label engine") {
    // (5,5) must still surface as its own cluster after the forest prep
    val pairs = Seq((1L, 2L), (5L, 5L)).toDF("a_id", "b_id")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("nearDupKeepers marks exactly the cluster minima as keepers") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = DedupOps.nearDupKeepers(docs, 24, 2, 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty)
    // keeper iff doc_id == cluster_id; every cluster has exactly one
    out.foreach { case (id, cl, keep) => assert(keep == (id == cl) && cl <= id) }
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cl, members) =>
      assert(members.count(_._3) == 1, s"cluster $cl keeper count != 1")
    }
  }

  test("lshVerifiedJaccardPairs equals dense all-pairs Jaccard") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // all pairs via the exact inverted-index engine q_neardup_jaccard's
    // oracle checks
    val dense = DedupOps.jaccardPairs(docs, 80).collect().toSeq
    val lsh = DedupOps.lshVerifiedJaccardPairs(docs, 24, 2, 80).collect().toSeq
    assert(lsh == dense)
  }

  test("saltedCountSum equals plain group aggregation") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0))
      .toDF("k", "v")
    val salted = graft.operators.Relational
      .saltedCountSum(df, "k", "v", saltCol = "v", saltBuckets = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue)).toSeq
    assert(salted == Seq(("a", 3L, 6.0), ("b", 1L, 10.0)))
  }

  test("lshBucketTopK returns same-bucket neighbors ranked by dot") {
    val out = SimilarityOps.lshBucketTopK(vecs, Seq(0L), 4, numPlanes = 4, dim = 3)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // query 0 must at least find itself (same bucket by construction)
    assert(got.contains((0L, 0L)))
  }
}
