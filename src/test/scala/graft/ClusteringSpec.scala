package graft

import graft.ops.Clustering
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

class ClusteringSpec extends SparkSpec {

  test("connectedComponents: chain graph needs multi-round propagation and converges to min id") {
    import spark.implicits._
    // 0-1-2-...-9 chain (diameter 9) plus isolated node 100
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val vertices = ((0L to 9L) :+ 100L).toDF("id")
    val labels = Clustering.connectedComponents(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 9L).foreach(n => labels(n) shouldBe 0L)
    labels(100L) shouldBe 100L // singleton keeps its own id
  }

  test("connectedComponents: 300-node chain converges in O(log n) rounds via pointer jumping") {
    import spark.implicits._
    // diameter 299 — pure min-label propagation would need ~299 rounds
    // and round 3's fixed maxIters=64 aborted on shapes like this
    // (round-3 advice); with pointer jumping the derived 2·log2(n)+8
    // bound (~26 here) must be enough.
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val vertices = (0L to 299L).toDF("id")
    val labels = Clustering.connectedComponents(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.size shouldBe 300
    labels.values.toSet shouldBe Set(0L)
  }

  test("connectedComponents: two components stay separate, labels are component minima") {
    import spark.implicits._
    val edges = Seq((5L, 3L), (3L, 8L), (20L, 21L)).toDF("a", "b")
    val vertices = Seq(3L, 5L, 8L, 20L, 21L).toDF("id")
    val labels = Clustering.connectedComponents(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels shouldBe Map(3L -> 3L, 5L -> 3L, 8L -> 3L, 20L -> 20L, 21L -> 20L)
  }

  test("dedup clusters: planted duplicate family resolves to one representative") {
    import spark.implicits._
    // docs 0,1,2 are exact copies (identical shingles → identical minhash
    // signature → all bands collide); docs 10, 11 are distinct texts
    val family = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (0L, family), (1L, family), (2L, family),
      (10L, "one completely different sentence about trains and delays"),
      (11L, "yet another unrelated string of tokens for isolation"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.scratch("ccspec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Clustering.extDedupClusters(spark, dir).collect()
    // percolation canary column: largest cluster 3 of 5 nodes, on every row
    rows.map(_.getDouble(4)).distinct.toSeq shouldBe Seq(0.6)
    val out = rows
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    out(0L) shouldBe ((0L, 3L, true))
    out(1L) shouldBe ((0L, 3L, false))
    out(2L) shouldBe ((0L, 3L, false))
    // the distinct docs are singletons and their own representatives
    out(10L)._2 shouldBe 1L
    out(10L)._3 shouldBe true
    out(11L)._2 shouldBe 1L
    out(11L)._3 shouldBe true
    // dropping non-representatives keeps exactly one copy of the family
    out.values.count(_._3) shouldBe 3
  }

  test("embed clusters: cosine-similar family clusters, orthogonal vector stays singleton") {
    import spark.implicits._
    // vecs 1,2,7 nearly parallel (cos ≈ 1 > 0.35); vec 9 orthogonal
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.1f)),
      (2L, Array(0.9f, 0.05f, 0.1f)),
      (7L, Array(1.1f, -0.02f, 0.12f)),
      (9L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val dir = SparkSpec.scratch("embccspec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = graft.ops.Clustering.extEmbedClusters(spark, dir).collect()
    // canary: 3-vector family of 4 nodes => share 0.75
    rows.map(_.getDouble(4)).distinct.toSeq shouldBe Seq(0.75)
    val out = rows
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    out(1L) shouldBe ((1L, 3L, true))
    out(2L) shouldBe ((1L, 3L, false))
    out(7L) shouldBe ((1L, 3L, false))
    out(9L) shouldBe ((9L, 1L, true))
  }

  test("mutual-kNN clusters: bridge node that percolates a threshold graph " +
       "stays singleton; exact ties break on neighbor id") {
    import spark.implicits._
    // Two tight angular families joined by a BRIDGE vector equidistant
    // from both: every threshold that admits the intra-family edges
    // also admits the bridge's, so the threshold graph percolates into
    // one component — but the bridge is in NOBODY's top-2 (family
    // members are closer to each other than to it), so mutual-kNN
    // leaves it a singleton and the families separate. v10/v11/v12 are
    // EXACT duplicates (cos = 1 ties everywhere) — the tie must break
    // on neighbor id, deterministically.
    def ang(t: Double) = Array(math.cos(t).toFloat, math.sin(t).toFloat, 0f)
    val df = (Seq(
      (1L, ang(0.00)), (2L, ang(0.05)), (3L, ang(0.10)),   // family A
      (4L, ang(0.50)),                                     // bridge
      (5L, ang(0.90)), (6L, ang(0.95)), (7L, ang(1.00))) ++ // family B
      Seq((10L, Array(0f, 0f, 1f)), (11L, Array(0f, 0f, 1f)),
          (12L, Array(0f, 0f, 1f)))).toDF("vec_id", "embedding")
    val dir = SparkSpec.scratch("knnmspec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Clustering.extKnnMutualClusters(spark, dir).collect()
    val cl = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the duplicate triple is one cluster labeled by its min id, and the
    // exact-tie kNN choice (nbr ASC) keeps all three mutually linked
    Seq(10L, 11L, 12L).map(cl) shouldBe Seq(10L, 10L, 10L)
    // families stay separate and the bridge stays a singleton — the
    // transitivity a threshold graph would percolate through is cut
    Seq(1L, 2L, 3L).map(cl).distinct shouldBe Seq(1L)
    Seq(5L, 6L, 7L).map(cl).distinct shouldBe Seq(5L)
    assert(cl(1L) != cl(5L))
    cl(4L) shouldBe 4L
    rows.find(_.getLong(0) == 4L).get.getLong(2) shouldBe 1L
    // share canary reflects the largest (size-3) cluster, not a giant one
    val sizes = rows.map(_.getLong(2))
    sizes.max shouldBe 3L
    rows.map(_.getDouble(4)).distinct.toSeq shouldBe Seq(0.3)
    // scale shape: the rank-k cut must compile to WindowGroupLimit
    // (per-partition heaps), never a full per-node sort of the pair list
    val plan = Clustering.knnCandidates(
      spark.read.parquet(s"$dir/embeddings.parquet"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("ANN mutual-kNN clusters: same clusters as the exact entry on the " +
       "planted geometry; audit recall columns ride on every row") {
    import spark.implicits._
    // the exact mutual-kNN geometry (two angular families, a bridge, an
    // exact-duplicate triple), with the LOW vec_ids spread one-per-group:
    // on 10 vectors the scale-adaptive codebook is S=4 (4²≥10), so seeds
    // {1,2,3} span the three directions, cells align with the families,
    // and every node's nprobe=2 candidate set contains its exact top-2 —
    // the ANN graph must reproduce the exact one, measurably (recall 10⁶)
    def ang(t: Double) = Array(math.cos(t).toFloat, math.sin(t).toFloat, 0f)
    val dup = Array(0f, 0f, 1f)
    val df = Seq(
      (1L, ang(0.00)), (4L, ang(0.05)), (5L, ang(0.10)),   // family A
      (6L, ang(0.50)),                                     // bridge
      (2L, ang(1.00)), (7L, ang(0.90)), (8L, ang(0.95)),   // family B
      (3L, dup), (10L, dup), (11L, dup))                   // duplicate triple
      .toDF("vec_id", "embedding")
    val dir = SparkSpec.scratch("knnannspec")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = Clustering.extKnnAnnClusters(spark, dir).collect()
    val cl = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(3L, 10L, 11L).map(cl) shouldBe Seq(3L, 3L, 3L)
    Seq(1L, 4L, 5L).map(cl).distinct shouldBe Seq(1L)
    Seq(2L, 7L, 8L).map(cl).distinct shouldBe Seq(2L)
    assert(cl(1L) != cl(2L))
    cl(6L) shouldBe 6L // bridge: in nobody's top-2, stays singleton
    // agreement audit: all 10 nodes are in the vec_id<32 batch, so the
    // audit covers the whole graph — and on a fixture where the ANN
    // candidates recover every exact mutual edge, recall is exactly 10⁶
    val r0 = rows.head
    r0.getAs[Long]("knn_edge_recall_ppm") shouldBe 1000000L
    r0.getAs[Long]("audit_exact_edges") should be >= 3L
    r0.getAs[Long]("audit_ann_edges") should be >=
      r0.getAs[Long]("audit_exact_edges")
    // every row carries the same audit scalars (broadcast 1-row join)
    rows.map(_.getAs[Long]("knn_edge_recall_ppm")).distinct.length shouldBe 1
    // scale shape: the ANN rank-k cut must also compile to
    // WindowGroupLimit — per-partition heaps, no full candidate sort
    val plan = Clustering.annKnnCandidates(
      spark.read.parquet(s"$dir/embeddings.parquet"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    // and the candidate source must NOT be the exact grid: no
    // BroadcastNestedLoopJoin / CartesianProduct anywhere except the
    // bounded seed-codebook broadcast (which is a BroadcastNestedLoop
    // over S≈√N seed rows — assert the cell join itself is an equi-join
    // by checking the plan joins on the cell key)
    assert(plan.contains("cell"), plan.take(2000))
  }

  test("triangle count matches an in-memory brute force at sf0.001") {
    val d = sf("sf0.001")
    val row = Clustering.extTriangleCount(spark, d).collect().head
    // independent reconstruction: collect the co-purchase edge set and
    // count triangles with a nested scan over each node's neighbors
    val li = Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val nbrs = edges.groupBy(_._1).map { case (a, es) =>
      a -> es.map(_._2).toArray.sorted }
    val nTri = nbrs.values.map { out =>
      (for (i <- out.indices; j <- (i + 1) until out.length
            if edges.contains((out(i), out(j)))) yield 1).size.toLong
    }.sum
    row.getAs[Long]("n_nodes") shouldBe nodes.size.toLong
    row.getAs[Long]("n_edges") shouldBe edges.size.toLong
    row.getAs[Long]("n_triangles") shouldBe nTri
    nTri should be > 0L
  }

  test("cluster dilution: planted chain classifies the transitively-joined " +
       "pair as chained with a lower similarity estimate") {
    import spark.implicits._
    // overlapping 30-token windows at stride 7: consecutive docs share a
    // MinHash band (direct candidates), the ends do not — yet transitive
    // closure puts all three in one cluster, so (0,2) is CHAINED
    val words = (0 until 44).map(i => s"tok$i")
    val texts = (0 until 3).map(i => words.slice(7 * i, 7 * i + 30).mkString(" "))
    val dir = SparkSpec.scratch("clust_dilution")
    (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
      (3L, "entirely unrelated singleton document about nothing shared"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.ops.Clustering.extClusterDilution(spark, dir).first()
    r.getAs[Long]("n_clusters_audited") shouldBe 1L
    r.getAs[Long]("n_clusters_large") shouldBe 0L
    r.getAs[Long]("n_pairs") shouldBe 3L
    r.getAs[Long]("n_direct") shouldBe 2L
    r.getAs[Long]("n_chained") shouldBe 1L
    r.getAs[Long]("chained_ppm") shouldBe 333333L
    // the chained pair is the weaker one — the dilution the audit exists
    // to expose; both means live on the 1/16 estimate grid
    val dMean = r.getAs[Long]("mean_direct_est_ppm")
    val cMean = r.getAs[Long]("mean_chained_est_ppm")
    dMean should be > cMean
    cMean should be > 0L
    dMean % 31250 shouldBe 0L // avg of two 62500-quantum values
    cMean % 62500 shouldBe 0L
  }
}
