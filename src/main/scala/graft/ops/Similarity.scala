package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - [[bruteForceTopK]] is the exact baseline: broadcast the probe set,
  *    one codegen'd pass over the corpus per probe batch, per-probe top-k
  *    via ranked window. Cost |corpus|×|probes| cosines — right whenever
  *    the probe set is small (the common "query a trained index" case);
  *    at 100 TB the corpus stays partition-parallel and nothing shuffles
  *    except the k×|probes| result rows.
  *  - [[ivfTopK]] is the scale path: corpus vectors are bucketed once by
  *    their nearest of `nCentroids` deterministic pseudo-centroids
  *    (IVF-style coarse quantizer); a probe only scans the `nProbe`
  *    closest buckets. Recall < 1 by design; the candidate scan shrinks
  *    by ~nCentroids/nProbe.
  */
object Similarity {

  /** Exact cosine top-k: for each probe row, the k most-similar corpus
    * rows (excluding self-matches by id). Output:
    * (probe_id, corpus_id, cosine, rank).
    */
  /** Shared broadcast-probes scan+rank: `c` carries (corpus_id, cv) and
    * optionally `clab`, `p` carries (probe_id, pv) and optionally
    * `plab`; when both label columns are present the label-inequality
    * filter fuses into the scan. One implementation serves the exact
    * top-k and the exact hard-negative forms so the tie-break and
    * self-match semantics cannot drift.
    */
  private def broadcastRank(c: DataFrame, p: DataFrame, k: Int): DataFrame = {
    val labelled = c.columns.contains("clab") && p.columns.contains("plab")
    val joined = c.crossJoin(broadcast(p))
      .filter(col("corpus_id") =!= col("probe_id"))
    val filtered =
      if (labelled) joined.filter(col("clab") =!= col("plab")) else joined
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    filtered.select(col("probe_id"), col("corpus_id"),
        VectorFunctions.cosineSimilarity(col("cv"), col("pv")).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Shared IVF bucket-join+rank: `home` carries (dst_id, dv, bucket)
    * and optionally `dlab`, `src` carries (src_id, sv, bucket) and
    * optionally `slab`. Same single-implementation contract as
    * [[broadcastRank]], for the corpus-probe shapes.
    */
  private def bucketRank(home0: DataFrame, src0: DataFrame, k: Int): DataFrame = {
    // the bucket join's candidate generation, cosine scoring, and
    // map-side WindowGroupLimit all run in the STREAMED side's
    // partitioning (the other side broadcasts), and both sides of a
    // local run descend from one single-split scan — measured:
    // sample_hardneg spent 2.4 s of its 3.4 s in ONE task. Re-widen
    // under-parallel inputs; no-op at corpus scale where the scan
    // carries ≥ cores splits (guide §2.6).
    val home = Dedup.spreadWide(home0, "dst_id")
    val src = Dedup.spreadWide(src0, "src_id")
    val labelled = home.columns.contains("dlab") && src.columns.contains("slab")
    val joined = home.join(src, Seq("bucket"))
      .filter(col("dst_id") =!= col("src_id"))
    val filtered =
      if (labelled) joined.filter(col("dlab") =!= col("slab")) else joined
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cosine").desc, col("dst_id").asc)
    filtered.select(col("src_id"), col("dst_id"),
        VectorFunctions.cosineSimilarity(col("dv"), col("sv")).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      probes: DataFrame, probeId: String, probeVec: String,
      k: Int = 10): DataFrame =
    broadcastRank(
      corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("cv")),
      probes.select(col(probeId).as("probe_id"), col(probeVec).as("pv")), k)

  /** Nearest-centroid id for a vector, against `nCentroids` deterministic
    * pseudo-centroids (native kernel [[graft.functions.TopCentroids]];
    * stands in for trained k-means centroids, which would arrive as a
    * broadcast array in a real pipeline — the plumbing is identical).
    */
  def centroidId(v: Column, nCentroids: Int): Column =
    graft.functions.VectorLshFunctions.nearestCentroid(v, nCentroids)

  /** IVF-style ANN: corpus bucketed by nearest pseudo-centroid; each
    * probe fans out to its `nProbe` nearest buckets; candidates within a
    * bucket are scored exactly and top-k kept per probe.
    * Output: (probe_id, corpus_id, cosine, rank).
    */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      probes: DataFrame, probeId: String, probeVec: String,
      k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("cv"))
      .withColumn("bucket", centroidId(col("cv"), nCentroids))
    // probe → its nProbe best buckets, ranked by centroid dot product
    val probeBuckets = probes.select(col(probeId).as("probe_id"), col(probeVec).as("pv"))
      .withColumn("bucket", explode(
        graft.functions.VectorLshFunctions.topCentroids(col("pv"), nCentroids, nProbe)))
      .select(col("probe_id"), col("pv"), col("bucket"))
    val scored = c.join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .select(col("probe_id"), col("corpus_id"),
        VectorFunctions.cosineSimilarity(col("cv"), col("pv")).as("cosine"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF ANN over TRAINED centroids — the real FAISS-style pipeline:
    * [[Clustering.kmeans]]'s learned centroid matrix (k×dim doubles,
    * driver-held, baked into codegen'd kernels as a reference object)
    * replaces [[ivfTopK]]'s pseudo-random quantizer. Same shape
    * otherwise: corpus bucketed once by nearest centroid
    * ([[graft.functions.KmeansKernels.nearestIndex]]), probes fan out to
    * their `nProbe` nearest buckets
    * ([[graft.functions.KmeansKernels.topIndices]]), candidates scored
    * exactly, top-k per probe. Trained centroids adapt to the actual
    * point cloud, so true neighbors concentrate into fewer probed
    * buckets than any data-independent quantizer achieves.
    * Output: (probe_id, corpus_id, cosine, rank).
    */
  def ivfTopKTrained(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      probes: DataFrame, probeId: String, probeVec: String,
      centroids: Array[Array[Double]],
      k: Int = 10, nProbe: Int = 4): DataFrame =
    ivfTopKServe(ivfAssign(corpus, corpusId, corpusVec, centroids),
      probes, probeId, probeVec, centroids, k, nProbe)

  /** The IVF index build step in isolation: every corpus vector homed
    * to its nearest trained centroid — (corpus_id, cv, bucket), the
    * posting relation [[ivfTopKServe]] probes and
    * [[graft.ops.ModelStore.saveIvfPostings]] persists. Splitting
    * build from serve is what makes the index MAINTAINABLE: a new
    * vector batch is assigned with the SAME frozen centroids (per-row
    * pure function — order- and partitioning-independent) and appended
    * as a union, so standing ∪ assign(batch) is bit-identical to
    * assign(standing-corpus ∪ batch), the `sim_ivf_append` gate.
    */
  def ivfAssign(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      centroids: Array[Array[Double]]): DataFrame = {
    import graft.functions.KmeansKernels
    corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("cv"))
      .withColumn("bucket", KmeansKernels.nearestIndex(col("cv"), centroids))
  }

  /** Deletion propagation for the vector store — the ANN analog of
    * [[graft.ops.Dedup.forgetFromStandingIndex]]: vectors leaving the
    * corpus (takedown, PII purge, poisoning removal) leave the posting
    * relation by one anti-join on the id. Because assignment is a
    * per-row pure function, forget is exactly rebuild-on-the-survivors
    * ([[ivfAssign]] of corpus − deleted) — the `sim_ivf_forget` gate
    * asserts identical serving output. No array rewrite, no retraining:
    * the centroid model is unchanged (retraining is a scheduled rebuild,
    * same as append's contract).
    */
  def ivfForget(assignments: DataFrame, deleteIds: DataFrame): DataFrame =
    assignments.join(deleteIds.select(col("id").as("corpus_id")),
      Seq("corpus_id"), "left_anti")

  /** Serve top-k probes from a PREBUILT posting relation
    * ((corpus_id, cv, bucket), see [[ivfAssign]]) — the cross-session
    * path: load the postings a previous session persisted and search
    * without touching the raw corpus. Same plan shape as [[ivfTopK]]:
    * probes fan out to their nProbe nearest centroid buckets
    * (broadcast), candidates within a bucket score exactly, top-k per
    * probe capped below the exchange by WindowGroupLimit. At 100 TB
    * the postings live as a parquet table bucketed on `bucket`, so
    * the candidate join is exchange-free on the corpus side.
    * Output: (probe_id, corpus_id, cosine, rank).
    */
  def ivfTopKServe(
      assignments: DataFrame,
      probes: DataFrame, probeId: String, probeVec: String,
      centroids: Array[Array[Double]],
      k: Int = 10, nProbe: Int = 4): DataFrame = {
    import graft.functions.KmeansKernels
    val c = assignments.select(col("corpus_id"), col("cv"), col("bucket"))
    val probeBuckets = probes.select(col(probeId).as("probe_id"), col(probeVec).as("pv"))
      .withColumn("bucket",
        explode(KmeansKernels.topIndices(col("pv"), centroids, nProbe)))
      .select(col("probe_id"), col("pv"), col("bucket"))
    val scored = c.join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("corpus_id") =!= col("probe_id"))
      .select(col("probe_id"), col("corpus_id"),
        VectorFunctions.cosineSimilarity(col("cv"), col("pv")).as("cosine"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Corpus-wide k-nearest-neighbor graph: for EVERY vector, its k most
    * similar other vectors — the candidate-generation primitive behind
    * SemDeDup-style semantic dedup, dataset cartography, and
    * graph-based diversity sampling. Unlike [[ivfTopK]] the probe side
    * IS the corpus, so nothing is broadcast: each vector is replicated
    * to its `nProbe` nearest centroid buckets as a SOURCE
    * (`topCentroids`), equi-joined (shuffle join on the 4-byte bucket
    * id) against the single-home-bucket CANDIDATE side, scored exactly,
    * and top-k'd per source. Candidate pairs are Σ_b |b|·|srcProbes_b|
    * ≈ n²·nProbe/nCentroids, never n²; the per-source ranking shuffle
    * is capped by WindowGroupLimit (rank ≤ k pushes below the
    * exchange). A true neighbor is found iff its home bucket is among
    * the source's `nProbe` nearest — the same recall contract as
    * [[ivfTopK]], so the scanned fraction nProbe/nCentroids is the
    * arbitrary-routing recall floor. At 100 TB, `nCentroids` scales
    * with the corpus (√n is the FAISS rule of thumb) so per-bucket
    * candidate blocks stay bounded. Output: (src_id, dst_id, cosine,
    * rank).
    */
  def knnGraph(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    bucketRank(
      corpus.select(col(idCol).as("dst_id"), col(vecCol).as("dv"))
        .withColumn("bucket", centroidId(col("dv"), nCentroids)),
      corpus.select(col(idCol).as("src_id"), col(vecCol).as("sv"))
        .withColumn("bucket", explode(
          graft.functions.VectorLshFunctions.topCentroids(col("sv"), nCentroids, nProbe))),
      k)

  /** Exact hard-negative mining: for each probe, the k most similar
    * corpus vectors with a DIFFERENT label — the contrastive-training
    * data-prep primitive (the "hard" negatives are the near-boundary
    * ones a random negative sampler never finds). Same broadcast-probes
    * single-corpus-scan shape as [[bruteForceTopK]] with the label
    * inequality fused into the scan filter; the oracle-replayable gate
    * path. Output: (probe_id, corpus_id, rank).
    */
  def hardNegativesExact(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int = 5): DataFrame =
    broadcastRank(
      corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"),
        col(labelCol).as("clab")),
      probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
        col(labelCol).as("plab")), k)

  /** Corpus-scale hard-negative mining: [[knnGraph]]'s IVF bucket
    * routing with the label-inequality filter fused into the bucket
    * join, so candidate pairs stay Σ_b |b|·|src_b| ≈ n²·nProbe/nCentroids
    * and the different-label constraint prunes before the ranking
    * shuffle (WindowGroupLimit caps it at k per source). Same recall
    * contract as [[knnGraph]]: a hard negative is found iff its home
    * bucket is probed. Output: (src_id, dst_id, cosine, rank).
    */
  def hardNegatives(
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int = 5, nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    bucketRank(
      corpus.select(col(idCol).as("dst_id"), col(vecCol).as("dv"),
          col(labelCol).as("dlab"))
        .withColumn("bucket", centroidId(col("dv"), nCentroids)),
      corpus.select(col(idCol).as("src_id"), col(vecCol).as("sv"),
          col(labelCol).as("slab"))
        .withColumn("bucket", explode(
          graft.functions.VectorLshFunctions.topCentroids(col("sv"), nCentroids, nProbe))),
      k)

  /** Mutual-kNN edge list from a (probe_id, corpus_id) neighbor list:
    * an undirected edge iff each endpoint appears in the other's list —
    * the standard sparse graph construction for dataset cartography and
    * graph-based core/community analysis (degree ≤ k by construction).
    * The input is eagerly localCheckpoint'ed: the mutuality self-join
    * references it twice, and without the materialization the neighbor
    * generator (an IVF route + window rank, or an all-pairs scan) runs
    * TWICE — measured 4.9 s → 2.3 s on the sf0.1 IVF graph. Output:
    * (src, dst) with src < dst, each mutual pair once.
    */
  def mutualEdges(knn: DataFrame): DataFrame = {
    val slim = knn.select(col("probe_id"), col("corpus_id"))
    // only checkpoint when re-scanning the input is actually expensive
    // (joins/aggregates/windows in its plan — the IVF route / window
    // rank / all-pairs generators). An already-materialized input (a
    // checkpointed or cached neighbor list) must not be checkpointed
    // AGAIN: that second pinned RDD is invisible to whoever releases
    // the first, so it would leak BlockManager memory.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window => WindowNode}
    val expensiveRescan = slim.queryExecution.optimizedPlan.collectFirst {
      case j: Join => j
      case a: Aggregate => a
      case w: WindowNode => w
    }.nonEmpty
    val k = if (expensiveRescan) slim.localCheckpoint(true) else slim
    k.as("a").join(k.as("b"),
        col("a.probe_id") === col("b.corpus_id") &&
          col("a.corpus_id") === col("b.probe_id"))
      .filter(col("a.probe_id") < col("a.corpus_id"))
      .select(col("a.probe_id").as("src"), col("a.corpus_id").as("dst"))
  }

  /** kNN majority-vote label prediction over a neighbor list: each
    * probe's label is the most frequent label among its neighbors (ties
    * broken toward the smaller label — a total order, so the argmax is
    * deterministic and replayable). `knn` carries (probe_id, corpus_id)
    * from any neighbor generator — exact [[bruteForceTopK]] for the
    * oracle-replayable gate, [[knnGraph]] IVF routing at corpus scale —
    * and `labels` carries (vec_id, label). Output: (vec_id, pred).
    *
    * Scale shape: the label attach is an equi-join on corpus_id (the
    * label table is slim — broadcast when it fits); the vote is a
    * two-level aggregate on (probe, label) then a WindowGroupLimit
    * argmax per probe — k·n rows into the first aggregate, never n².
    */
  def majorityVote(knn: DataFrame, labels: DataFrame): DataFrame = {
    val votes = knn
      .join(labels.select(col("vec_id").as("corpus_id"),
        col("label").as("nbr_label")), Seq("corpus_id"))
      .groupBy(col("probe_id"), col("nbr_label"))
      .agg(count(lit(1)).as("v"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("v").desc, col("nbr_label").asc)
    votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("probe_id").as("vec_id"),
        col("nbr_label").cast("long").as("pred"))
  }

  /** Exact radius search: every (probe, corpus) pair with cosine ≥
    * `threshold`, excluding self-matches. The fixed-radius complement of
    * [[bruteForceTopK]] — same broadcast-probes shape, but the output is
    * ALL qualifying neighbors (unbounded per probe), so the shuffle-free
    * single corpus pass matters even more. Emits ids only: the cosine
    * value is accumulation-order-sensitive in its last ulps, the pair
    * set is stable whenever the threshold has margin (testdata: min
    * |cos − 0.2| ≈ 2.5e-4 at sf0.01).
    */
  def rangeSearch(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      probes: DataFrame, probeId: String, probeVec: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("cv"))
    val p = probes.select(col(probeId).as("probe_id"), col(probeVec).as("pv"))
    c.crossJoin(broadcast(p))
      .filter(col("corpus_id") =!= col("probe_id"))
      .filter(VectorFunctions.cosineSimilarity(col("cv"), col("pv")) >= threshold)
      .select(col("probe_id"), col("corpus_id"))
  }
}
