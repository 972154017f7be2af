package graft

import graft.functions.VectorFunctions
import graft.ops.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(dim)(d => (((seed * 131 + d * 17) % 19) - 9) / 9.0f)

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }

  private lazy val corpus = (1 to 50).map(i => (i.toLong, vec(i))).toDF("id", "v")
  private lazy val probes = (1 to 3).map(i => (i.toLong, vec(i))).toDF("id", "v")

  test("cosine_similarity expression matches scala computation") {
    val rows = corpus.as[(Long, Array[Float])].collect()
    val a = rows.head._2
    val got = spark.range(1)
      .select(VectorFunctions.cosineSimilarity(
        typedLit(a.toSeq).cast("array<float>"),
        typedLit(rows(5)._2.toSeq).cast("array<float>")).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(got - cosine(a, rows(5)._2)) < 1e-6)
  }

  test("brute-force top-k returns the exact cosine ranking") {
    val k = 5
    val got = Similarity.bruteForceTopK(corpus, "id", "v", probes, "id", "v", k)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)]
      .collect().groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

    val corpusRows = (1 to 50).map(i => (i.toLong, vec(i)))
    (1 to 3).foreach { p =>
      val pv = vec(p)
      val expected = corpusRows.filter(_._1 != p.toLong)
        .map { case (id, v) => (id, cosine(pv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
      assert(got(p.toLong) === expected, s"probe $p")
    }
  }

  test("IVF with nProbe == nCentroids recovers the brute-force result") {
    val k = 5
    val n = 4
    val brute = Similarity.bruteForceTopK(corpus, "id", "v", probes, "id", "v", k)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivfFull = Similarity.ivfTopK(corpus, "id", "v", probes, "id", "v",
      k = k, nCentroids = n, nProbe = n)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivfFull === brute)
  }

  test("IVF with nProbe < nCentroids keeps recall on self-similar probes") {
    // a probe identical to a corpus vector lands in the same bucket, so
    // rank-1 must be its twin even with 1 probe bucket
    val twin = Seq((999L, vec(7))).toDF("id", "v")
    val got = Similarity.ivfTopK(corpus, "id", "v", twin, "id", "v",
      k = 1, nCentroids = 4, nProbe = 1)
      .select("corpus_id").as[Long].collect()
    assert(got.headOption === Some(7L))
  }

  test("topIndices kernel: nearest-first, agrees with nearestIndex, covers all") {
    import graft.functions.KmeansKernels
    val centroids = Array(
      Array.tabulate(dim)(d => if (d == 0) 1.0 else 0.0),
      Array.tabulate(dim)(d => if (d == 1) 1.0 else 0.0),
      Array.tabulate(dim)(d => if (d == 2) 1.0 else 0.0))
    val v = Array.tabulate(dim)(d => if (d == 1) 1.0f else 0.1f) // closest: c1
    val df = Seq(Tuple1(v)).toDF("v")
    val top = df.select(KmeansKernels.topIndices(col("v"), centroids, 3).as("t"))
      .as[Seq[Int]].collect().head
    val nearest = df.select(KmeansKernels.nearestIndex(col("v"), centroids).as("n"))
      .as[Int].collect().head
    assert(top.head === nearest)
    assert(top.head === 1)
    assert(top.toSet === Set(0, 1, 2), "n = k enumerates every centroid once")
  }

  test("trained IVF with nProbe == k recovers the brute-force result") {
    import graft.ops.{Clustering, Similarity}
    val k = 5
    val (_, model) = Clustering.kmeans(corpus, "id", "v", k = 4, maxIter = 3)
    val brute = Similarity.bruteForceTopK(corpus, "id", "v", probes, "id", "v", k)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    val full = Similarity.ivfTopKTrained(corpus, "id", "v", probes, "id", "v",
      model.centroids, k = k, nProbe = 4)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full === brute)
  }

  test("trained IVF on separated blobs is exact with a single probe bucket") {
    import graft.ops.{Clustering, Similarity}
    // three well-separated blobs (orthogonal anchors + small per-member
    // jitter on the remaining axes): trained centroids land one per
    // blob, every true neighbor shares the probe's bucket, so nProbe = 1
    // already recovers the exact brute-force top-k — the payoff a
    // data-independent pseudo-centroid quantizer can't guarantee
    def blobVec(blob: Int, member: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        if (d == blob * 2) 1.0f
        else (((blob * 7 + member * 13 + d) % 5) - 2) * 0.02f)
    val blobs = (for (b <- 0 until 3; m <- 0 until 8)
      yield ((b * 100 + m).toLong, blobVec(b, m))).toDF("id", "v")
    val blobProbes = Seq((0L, blobVec(0, 0)), (100L, blobVec(1, 0)),
      (200L, blobVec(2, 0))).toDF("id", "v")
    val (_, model) = Clustering.kmeans(blobs, "id", "v", k = 3, maxIter = 4)
    val brute = Similarity.bruteForceTopK(blobs, "id", "v", blobProbes, "id", "v", 5)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf1 = Similarity.ivfTopKTrained(blobs, "id", "v", blobProbes, "id", "v",
      model.centroids, k = 5, nProbe = 1)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf1 === brute)
  }

  test("range search returns exactly the pairs with cosine >= threshold") {
    val threshold = 0.3
    val got = Similarity.rangeSearch(corpus, "id", "v", probes, "id", "v", threshold)
      .as[(Long, Long)].collect().toSet
    val rows = corpus.as[(Long, Array[Float])].collect()
    val ps = probes.as[(Long, Array[Float])].collect()
    val want = (for {
      (pid, pv) <- ps
      (cid, cv) <- rows
      if cid != pid && cosine(cv, pv) >= threshold
    } yield (pid, cid)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("knnGraph with nProbe == nCentroids recovers the exact all-pairs graph") {
    val k = 4
    val n = 4
    val exact = Similarity.bruteForceTopK(corpus, "id", "v", corpus, "id", "v", k)
      .select(col("probe_id").as("src_id"), col("corpus_id").as("dst_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    val full = Similarity.knnGraph(corpus, "id", "v",
      k = k, nCentroids = n, nProbe = n)
      .select("src_id", "dst_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full === exact)
  }

  test("majorityVote: plurality wins, ties break toward the smaller label") {
    val knn = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),   // labels 7,7,3 → pred 7
      (2L, 10L), (2L, 12L), (2L, 13L), (2L, 14L)) // 7,3,3,7 → tie → 3
      .toDF("probe_id", "corpus_id")
    val labels = Seq((10L, 7), (11L, 7), (12L, 3), (13L, 3), (14L, 7))
      .toDF("vec_id", "label")
    val got = Similarity.majorityVote(knn, labels)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 7L, 2L -> 3L))
  }

  test("knnGraph structure: every source gets exactly k ranked neighbors, no self-loops") {
    val k = 5
    val g = Similarity.knnGraph(corpus, "id", "v", k = k, nCentroids = 4, nProbe = 2)
      .select("src_id", "dst_id", "rank").as[(Long, Long, Int)].collect()
    assert(!g.exists(e => e._1 == e._2), "self-loop")
    val bySrc = g.groupBy(_._1)
    assert(bySrc.keySet === (1L to 50L).toSet, "every vector is a source")
    bySrc.foreach { case (src, edges) =>
      assert(edges.map(_._3).sorted.toSeq === (1 to k), s"ranks for src $src")
      assert(edges.map(_._2).distinct.length == k, s"distinct dsts for src $src")
    }
  }

  test("hardNegativesExact keeps only different-label neighbors, exactly ranked") {
    val labeled = (1 to 50).map(i => (i.toLong, vec(i), (i % 3).toLong))
      .toDF("id", "v", "lab")
    val got = Similarity.hardNegativesExact(
        labeled, labeled.filter(col("id") <= 3), "id", "v", "lab", k = 4)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect()
    val rows = (1 to 50).map(i => (i.toLong, vec(i), (i % 3).toLong))
    for (p <- 1 to 3) {
      val pv = vec(p)
      val expect = rows
        .filter { case (id, _, lab) => id != p && lab != (p % 3).toLong }
        .map { case (id, v, _) => (id, cosine(v, pv)) }
        .sortBy { case (id, c) => (-c, id) }.take(4).map(_._1)
      val mine = got.filter(_._1 == p).sortBy(_._3).map(_._2).toSeq
      assert(mine === expect, s"probe $p")
      // none of the results share the probe's label
      mine.foreach(id => assert(id % 3 != p % 3, s"same-label negative $id"))
    }
  }

  test("hardNegatives at full fan-out equals the exact form (recall contract)") {
    val labeled = (1 to 50).map(i => (i.toLong, vec(i), (i % 3).toLong))
      .toDF("id", "v", "lab")
    // nProbe == nCentroids scans every bucket: the IVF form must then
    // reproduce the exact ranking for every source
    val full = Similarity.hardNegatives(labeled, "id", "v", "lab",
        k = 4, nCentroids = 4, nProbe = 4)
      .select("src_id", "dst_id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = Similarity.hardNegativesExact(labeled, labeled, "id", "v", "lab", k = 4)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(full === exact)
  }

  test("IVF append: standing ∪ assign(batch) serves identically to a full rebuild") {
    import graft.ops.Clustering
    val (_, km) = Clustering.kmeans(corpus, "id", "v", k = 4, maxIter = 3)
    val isBatch = col("id") % 5 === 0
    val grown = Similarity.ivfAssign(corpus.filter(!isBatch), "id", "v", km.centroids)
      .union(Similarity.ivfAssign(corpus.filter(isBatch), "id", "v", km.centroids))
    val served = Similarity.ivfTopKServe(grown, probes, "id", "v",
        km.centroids, k = 4, nProbe = 2)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    val direct = Similarity.ivfTopKTrained(corpus, "id", "v", probes, "id", "v",
        km.centroids, k = 4, nProbe = 2)
      .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(served === direct)
    // assignments are a pure per-row function: every vector homed once
    assert(grown.count() === corpus.count())
    assert(grown.select("corpus_id").distinct().count() === corpus.count())
  }

  test("IVF forget equals a rebuild on the surviving corpus") {
    import graft.ops.Clustering
    val (_, km) = Clustering.kmeans(corpus, "id", "v", k = 4, maxIter = 3)
    val isGone = col("id") % 4 === 0
    val forgotten = Similarity.ivfForget(
      Similarity.ivfAssign(corpus, "id", "v", km.centroids),
      corpus.filter(isGone).select(col("id")))
    val rebuilt = Similarity.ivfAssign(corpus.filter(!isGone), "id", "v", km.centroids)
    assert(forgotten.exceptAll(rebuilt).count() === 0)
    assert(rebuilt.exceptAll(forgotten).count() === 0)
    def serve(a: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopKServe(a, probes, "id", "v", km.centroids, k = 4, nProbe = 2)
        .select("probe_id", "corpus_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(serve(forgotten) === serve(rebuilt))
    // forgetting nothing is a no-op
    val all = Similarity.ivfAssign(corpus, "id", "v", km.centroids)
    assert(Similarity.ivfForget(all, corpus.filter(col("id") < 0).select(col("id")))
      .exceptAll(all).count() === 0)
  }

  test("mutualEdges does not re-checkpoint a cheap-to-rescan input") {
    // an already-materialized neighbor list must not be checkpointed
    // again: a second localCheckpoint would pin RDD blocks that whoever
    // releases the first never sees
    val knn = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("probe_id", "corpus_id")
    val edges = Similarity.mutualEdges(knn)
    val hasRddLeaf = edges.queryExecution.optimizedPlan.collectLeaves().exists {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _ => false
    }
    assert(!hasRddLeaf, "cheap input was checkpointed")
    assert(edges.as[(Long, Long)].collect().toSet === Set((1L, 2L)))
  }

  test("topCentroids degrades instead of crashing on a NaN component") {
    // a corrupt vector makes every centroid dot NaN; the kernel must
    // route the row to SOME buckets (degrade-don't-throw, the
    // TopTrainedCentroids contract), never AIOOBE the whole stage
    val bad = Seq((1L, Array.tabulate(dim)(d => if (d == 0) Float.NaN else d.toFloat)))
      .toDF("id", "v")
    val picked = bad
      .select(graft.functions.VectorLshFunctions.topCentroids(col("v"), 8, 3).as("c"))
      .head().getSeq[Long](0)
    assert(picked.length === 3)
    assert(picked.distinct.length === 3)
    assert(picked.forall(c => c >= 0 && c < 8))
  }
}
