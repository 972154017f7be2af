package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.SparkEntry._

/** Deduplication and the maintained indexes behind it: exact, MinHash,
  * SimHash, n-gram and embedding dedup, cluster keepers, the winnow
  * fingerprint index in its capped, streamed, incremental, persisted
  * and forgetting forms, and the IVF vector index's append, forget,
  * streamed probe, update, compaction, maintenance and retrain loops.
  */
private[graft] object DedupQueries {

  /** The standing corpus's winnow sketch store as a PERSISTED session
    * table (written once per session) — the state a real ingest
    * pipeline keeps between shards, shared by the run bodies of the
    * winnow-index queries (dedup_incremental, dedup_stream_probe, ...)
    * so they time the probe or the update, not the index build.
    * Standing = documents outside the doc_id % 10 = 0 shard bucket.
    */
  private def standingSketchTable(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"dedup_inc_sketches_${sessionKey(s, dir)}"
    if (!s.catalog.tableExists(tbl)) {
      val path = deleteAtExit(tmpPath(s"graft-$tbl"))
      Dedup.winnowSketches(
          t(s, dir, "documents").filter(!(col("doc_id") % 10 === 0)),
          "doc_id", "text", k = 5, w = 4)
        .write.mode("overwrite").option("path", path)
        .format("parquet").saveAsTable(tbl)
    }
    s.table(tbl)
  }

  /** The standing store's maintained per-fingerprint df counts as a
    * PERSISTED session table (written once) — the valve input the
    * indexed probe reads instead of recounting (ModelStore's store
    * layout, bench-shared like [[standingSketchTable]]).
    */
  private def standingDfTable(s: SparkSession, dir: String): DataFrame = {
    val tbl = s"dedup_inc_df_${sessionKey(s, dir)}"
    if (!s.catalog.tableExists(tbl)) {
      val path = deleteAtExit(tmpPath(s"graft-$tbl"))
      ModelStore.winnowDfCounts(standingSketchTable(s, dir))
        .write.mode("overwrite").option("path", path)
        .format("parquet").saveAsTable(tbl)
    }
    s.table(tbl)
  }

  /** 1-row (`name`: boolean) frame: a set-equals b on a's columns (both
    * anti-join directions empty) — the shared proof shape of every
    * equality gate. Array-typed columns compare structurally.
    */
  private def setEq(a: DataFrame, b: DataFrame, name: String): DataFrame =
    a.join(b, a.columns.toSeq, "left_anti").agg(count(lit(1)).as("d1"))
      .crossJoin(b.join(a, a.columns.toSeq, "left_anti").agg(count(lit(1)).as("d2")))
      .select((col("d1") + col("d2") === 0).as(name))

  /** Posting-list cap of the winnow boilerplate valve: 1% of the corpus,
    * floor 2, clamped (never Int-truncated) — nDocs > Int.MaxValue must
    * saturate the cap, not wrap negative and cap everything.
    */
  private def docFreqCap(nDocs: Long): Int =
    math.min(math.max(2L, nDocs / 100L), Int.MaxValue.toLong).toInt

  /** `df`'s (id, payload) rows as a stream-shaped batch: one fixed event
    * timestamp between them.
    */
  private def streamOf(df: DataFrame, id: String, payload: String): DataFrame =
    df.select(col(id), lit("2026-01-01 00:00:00").cast("timestamp").as("ts"), col(payload))

  def records: Seq[Record] = Seq(
    Record("dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text"),
      oracle =
        """SELECT md5(lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g'))) AS content_hash,
          |       min(doc_id) AS keep_id, count(*) AS n_copies
          |FROM documents GROUP BY 1""".stripMargin),
    // upgraded from rows-only to a FULL oracle gate: verified LSH output
    // is provably ⊆ the exact-Jaccard pair set (candidates are re-checked
    // with exact Jaccard), and at 32 bands × 2 rows the miss probability
    // of a threshold pair is (1−j²)^32 ≤ 1e-4, so on this corpus the LSH
    // result EQUALS the exact all-pairs result and the oracle is the
    // same all-pairs 5-gram Jaccard SQL as dedup_ngram's. Banding is the
    // recall/cost knob: recall-1 bands make low-similarity background
    // pairs candidates too, so the GATED query runs on a bounded corpus
    // slice (like dedup_ngram/dedup_cluster); at corpus scale the same
    // operator runs 16×4 bands, paying a sharper S-curve for ~25× fewer
    // candidates (scope change vs r02 bench: 5000→500 docs at sf0.1).
    Record("dedup_minhash", (s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", n = 5, numHashes = 64, bands = 32, threshold = 0.5),
      // exact all-pairs Jaccard over the FULL corpus: valid as the LSH
      // oracle because (a) minhashPairs re-verifies candidates with
      // exact Jaccard → output ⊆ this set, (b) 32×2 banding misses a
      // j ≥ 0.5 pair with prob (1−j²)^32 ≤ 1e-4 → equality on this
      // corpus (deterministic seeded hashes; verified at sf0.001/0.01/0.1)
      oracle =
        """WITH d AS (
          |  SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |  FROM documents WHERE doc_id < 500),
          |g AS (
          |  SELECT doc_id,
          |         CASE WHEN length(t) < 5 THEN [t]
          |              ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |  FROM d)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       len(list_intersect(a.sh, b.sh))::DOUBLE /
          |         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
          |FROM g a JOIN g b ON a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5""".stripMargin),
    // upgraded from rows-only to a CHECKED INVARIANT (recipe of
    // distinct_fm / sim_recall_ivf): emits (a) the exact count of
    // Jaccard ≥ 0.9 pairs, which the oracle recomputes from the text,
    // (b) band_ok — the pigeonhole-banded candidate set EQUALS the
    // exhaustive all-pairs hamming ≤ 3 set (a theorem for 4×16-bit
    // chunks: ≤3 differing bits leave ≥1 chunk identical, so banding
    // loses nothing; a banding/dedup bug breaks the equality), and
    // (c) prec_ok — every emitted pair is a true near-dup by exact
    // 5-gram Jaccard ≥ 0.8 (measured min 0.94-0.97 across sfs).
    // The run covers the whole corpus; the check restricts it to a
    // 500-doc slice so the exhaustive check is O(500²) XORs.
    Record("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 5, maxHamming = 3),
      // simhashPairs is pairwise-local (a pair's fate depends only on the
      // two docs' signatures), so the run's pairs inside the 500-doc slice
      // are exactly simhashPairs of the slice
      check = Some((s, dir, run) => {
        val slice = t(s, dir, "documents").filter(col("doc_id") < 500)
        val sim = run.filter(col("id_a") < 500 && col("id_b") < 500)
          .select(col("id_a"), col("id_b")).cache()
        val exhaustive = Dedup.simhashPairsExhaustive(slice, "doc_id", "text",
          n = 5, maxHamming = 3).select(col("id_a"), col("id_b"))
        val sh = slice.select(col("doc_id"),
          Dedup.shingleHashes(col("text"), 5).as("sh"))
        val simJ = sim
          .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .select(graft.functions.TextHashFunctions
            .jaccardSorted(col("sh_a"), col("sh_b")).as("j"))
        val nearExact = Dedup.ngramJaccardPairs(slice, "doc_id", "text",
          n = 5, threshold = 0.9)
        evalGateRow(s, nearExact.agg(count(lit(1)).as("n_near09"))
          .crossJoin(setEq(sim, exhaustive, "band_ok"))
          .crossJoin(simJ.agg(coalesce(min(col("j")), lit(1.0)).as("min_j"))
            .select((col("min_j") >= 0.8).as("prec_ok")))
          .select(col("n_near09"), col("band_ok"), col("prec_ok")),
          Seq(sim), ("n_near09", "band_ok", "prec_ok"))
      }),
      // sketch-invariant gates (same recipe as distinct_fm /
      // sim_recall_ivf): the oracle recomputes the exact-counterpart
      // count from the raw text/vectors; the booleans are computed by
      // the Spark query from its own exhaustive/exact verification
      // joins, so a broken banding, screen, or sketch flips one to
      // false and fails the hash compare
      oracle =
        """WITH d AS (
          |  SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |  FROM documents WHERE doc_id < 500),
          |g AS (
          |  SELECT doc_id,
          |         CASE WHEN length(t) < 5 THEN [t]
          |              ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |  FROM d)
          |SELECT count(*) AS n_near09, true AS band_ok, true AS prec_ok
          |FROM g a JOIN g b ON a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.9""".stripMargin),
    Record("dedup_ngram", (s, dir) =>
      // scoped to 200 docs: exact all-pairs is the verifier/oracle path,
      // LSH (dedup_minhash) is the corpus-scale path
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 200), "doc_id", "text",
        n = 5, threshold = 0.7),
      oracle =
        """WITH d AS (
          |  SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |  FROM documents WHERE doc_id < 200),
          |g AS (
          |  SELECT doc_id,
          |         CASE WHEN length(t) < 5 THEN [t]
          |              ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |  FROM d)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       len(list_intersect(a.sh, b.sh))::DOUBLE /
          |         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
          |FROM g a JOIN g b ON a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7""".stripMargin),
    // near-dup clusters: pairwise evidence → connected components →
    // per-cluster stats (the "keep one per cluster" decision input)
    Record("dedup_cluster", (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500), "doc_id", "text",
        n = 5, threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
    },
      // transitive closure over the SAME pair set the Spark side builds
      // (dedup_ngram semantics at n=5, t=0.5, doc_id < 500); cluster_id =
      // min id per component on both sides
      oracle =
        """WITH RECURSIVE
          |dd AS (SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |       FROM documents WHERE doc_id < 500),
          |g AS (SELECT doc_id,
          |        CASE WHEN length(t) < 5 THEN [t]
          |             ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |      FROM dd),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |      FROM g a JOIN g b ON a.doc_id < b.doc_id
          |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
          |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
          |reach(s, d) AS (SELECT s, d FROM e
          |                UNION
          |                SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
          |labels AS (SELECT s AS node, least(s, min(d)) AS cluster_id
          |           FROM reach GROUP BY s)
          |SELECT cluster_id, count(*) AS n_members, max(node) AS max_member
          |FROM labels GROUP BY cluster_id""".stripMargin),
    // keep-BEST dedup application: per near-dup cluster keep the highest
    // token-count member (ties to the smaller id) — the dataset-
    // construction decision real pipelines make (keep the most complete
    // version), vs dedup_keep's positional min-id keep. The argmax is
    // min over (−q, doc_id) structs (partial-aggregable, no per-cluster
    // sort); the oracle replays pairs, closure, token counts, and the
    // argmax total order. Reports multi-member clusters only
    Record("dedup_keep_best", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val q = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("q"))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.5)
      val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      labels.withColumnRenamed("node", "doc_id").join(q, Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((-col("q")).as("nq"), col("doc_id"))).as("m"),
          max(col("q")).as("q_kept"))
        .select(col("cluster_id"), col("n_members"),
          col("m.doc_id").as("keep_id"), col("q_kept"))
    },
      oracle =
        """WITH RECURSIVE
          |dd AS (SELECT doc_id, text,
          |         lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |       FROM documents WHERE doc_id < 500),
          |g AS (SELECT doc_id,
          |        CASE WHEN length(t) < 5 THEN [t]
          |             ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |      FROM dd),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |      FROM g a JOIN g b ON a.doc_id < b.doc_id
          |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
          |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
          |reach(s, d) AS (SELECT s, d FROM e
          |                UNION
          |                SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
          |labels AS (SELECT s AS node, least(s, min(d)) AS cluster_id
          |           FROM reach GROUP BY s),
          |q AS (SELECT doc_id,
          |        len(regexp_extract_all(text, '[^\t\n\x0b\f\r ]+'))::BIGINT AS q
          |      FROM dd),
          |r AS (SELECT l.cluster_id, l.node, q.q,
          |        row_number() OVER (PARTITION BY l.cluster_id
          |          ORDER BY q.q DESC, l.node ASC) AS rk
          |      FROM labels l JOIN q ON q.doc_id = l.node)
          |SELECT cluster_id, count(*) AS n_members,
          |       cast(max(CASE WHEN rk = 1 THEN node END) as bigint) AS keep_id,
          |       cast(max(q) as bigint) AS q_kept
          |FROM r GROUP BY cluster_id""".stripMargin),
    // end-to-end dedup application: drop every cluster member except the
    // min-id representative, report the surviving corpus size
    Record("dedup_keep", (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 5, threshold = 0.5)
      val losers = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(length(col("text")).cast("long")).as("n_chars_kept"))
    },
      // same closure as dedup_cluster; losers = non-representative
      // members, kept corpus = everything else
      oracle =
        """WITH RECURSIVE
          |dd AS (SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |       FROM documents WHERE doc_id < 500),
          |g AS (SELECT doc_id,
          |        CASE WHEN length(t) < 5 THEN [t]
          |             ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |      FROM dd),
          |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |      FROM g a JOIN g b ON a.doc_id < b.doc_id
          |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
          |e AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
          |reach(s, d) AS (SELECT s, d FROM e
          |                UNION
          |                SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
          |labels AS (SELECT s AS node, least(s, min(d)) AS cluster_id
          |           FROM reach GROUP BY s)
          |SELECT count(*) AS n_docs_kept,
          |       cast(sum(length(text)) as bigint) AS n_chars_kept
          |FROM documents
          |WHERE doc_id < 500
          |  AND doc_id NOT IN (SELECT node FROM labels WHERE node <> cluster_id)""".stripMargin),
    // exact all-pairs baseline for the LSH form below (ids only — see
    // Dedup.embeddingPairsExact on why the cosine value stays out of
    // the hash-exact gate)
    Record("dedup_embedding_exact", (s, dir) =>
      Dedup.embeddingPairsExact(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.25),
      // pairs only — the cosine VALUE differs between engines in its
      // last ulps (float vs double accumulation); the pair SET is
      // stable: min |cos − 0.25| on this data ≈ 8e-6 vs ~1e-7 noise
      oracle =
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
          |                             b.embedding::DOUBLE[]) >= 0.25""".stripMargin),
    // upgraded from rows-only to a CHECKED INVARIANT: emits (a) the
    // exact count of cos ≥ 0.25 pairs (oracle recomputes via
    // list_cosine_similarity), (b) subset_ok — every LSH pair is in the
    // exact set (guaranteed by construction: candidates are re-verified
    // with the same cosine kernel as the exact path; a broken candidate
    // join or verify filter breaks it), and (c) recall_ok — the
    // hyperplane-LSH screen recovers ≥ 1% of the exact set. The floor is
    // deliberately the LSH *math*, not a hope: on this corpus the
    // near-threshold pairs collide per 8-plane band with prob
    // (1−θ/π)^8 ≈ 0.013 (θ = acos 0.25), two bands ≈ 0.025; measured
    // recall ≈ 0.032-0.033 across sfs — random routing or a dead band
    // lands below 1%. Real near-dup corpora (cos ≥ 0.95) sit on the
    // steep end of the S-curve where the same banding recalls ~0.9+.
    Record("dedup_embedding", (s, dir) =>
      Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.25, planes = 16)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine")),
      check = Some((s, dir, run) => {
        val lsh = run.select(col("id_a"), col("id_b")).cache()
        val exact = Dedup.embeddingPairsExact(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.25).cache()
        evalGateRow(s, exact.agg(count(lit(1)).as("n_exact_pairs"))
          .crossJoin(lsh.join(exact, Seq("id_a", "id_b"), "left_anti")
            .agg((count(lit(1)) === 0).as("subset_ok")))
          .crossJoin(lsh.join(exact, Seq("id_a", "id_b"), "left_semi")
            .agg(count(lit(1)).as("n_hit")))
          .select(col("n_exact_pairs"), col("subset_ok"),
            (col("n_hit") >= col("n_exact_pairs") * 0.01).as("recall_ok")),
          Seq(lsh, exact), ("n_exact_pairs", "subset_ok", "recall_ok"))
      }),
      oracle =
        """SELECT count(*) AS n_exact_pairs, true AS subset_ok, true AS recall_ok
          |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |WHERE list_cosine_similarity(a.embedding::DOUBLE[],
          |                             b.embedding::DOUBLE[]) >= 0.25""".stripMargin),
    // near-dup pairs by winnow-sketch Jaccard: same verify kernel as
    // dedup_ngram but over the ~2/(w+1)-sized sketch (the cheap
    // all-pairs screen; LSH over sketches is the corpus-scale path).
    // Upgraded from rows-only to a CHECKED INVARIANT: emits (a) the
    // exact count of Jaccard ≥ 0.8 pairs (oracle recomputes from text),
    // (b) cover_ok — the winnow screen at sketch-Jaccard ≥ 0.5 finds
    // EVERY exact J ≥ 0.8 pair (winnowing guarantees shared substrings
    // of length ≥ w+k−1 = 8 leave shared fingerprints; measured
    // missed = 0 across sfs), and (c) prec_ok — every screened pair is
    // a real overlap, exact J ≥ 0.5 (measured min 0.93-0.97). The run is
    // the UNBOUNDED lossless inverted-index screen over the whole corpus
    // (dedup_winnow_capped times the 1%-capped valve, so the two rows
    // time two different operators); the check restricts it to a
    // 200-doc slice.
    Record("dedup_winnow", (s, dir) =>
      Dedup.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, threshold = 0.5),
      // winnowPairs is pairwise-local and, uncapped, a lossless screen
      // (see its prefix filter), so the run's pairs inside the 200-doc
      // slice are exactly the sketch-Jaccard ≥ 0.5 pairs of the slice
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        val win = run.filter(col("id_a") < 200 && col("id_b") < 200)
          .select(col("id_a"), col("id_b")).cache()
        val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 5, threshold = 0.0).cache()
        val r08 = exact.filter(col("jaccard") >= 0.8)
          .select(col("id_a"), col("id_b"))
        val winJ = win.join(exact, Seq("id_a", "id_b"), "left")
          .select(coalesce(col("jaccard"), lit(0.0)).as("j"))
        evalGateRow(s, r08.agg(count(lit(1)).as("n_r08"))
          .crossJoin(r08.join(win, Seq("id_a", "id_b"), "left_anti")
            .agg((count(lit(1)) === 0).as("cover_ok")))
          .crossJoin(winJ.agg(coalesce(min(col("j")), lit(1.0)).as("min_j"))
            .select((col("min_j") >= 0.5).as("prec_ok")))
          .select(col("n_r08"), col("cover_ok"), col("prec_ok")),
          Seq(win, exact), ("n_r08", "cover_ok", "prec_ok"))
      }),
      oracle =
        """WITH d AS (
          |  SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |  FROM documents WHERE doc_id < 200),
          |g AS (
          |  SELECT doc_id,
          |         CASE WHEN length(t) < 5 THEN [t]
          |              ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |  FROM d)
          |SELECT count(*) AS n_r08, true AS cover_ok, true AS prec_ok
          |FROM g a JOIN g b ON a.doc_id < b.doc_id
          |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8""".stripMargin),
    // the winnow skew VALVE exercised (Dedup.winnowPairs maxDocFreq): a
    // boilerplate fingerprint shared by f docs contributes f² candidate
    // pairs, so production runs cap posting-list length at ~1% of the
    // corpus (floor 2). Gate: (a) max_doc_freq is derived from the
    // corpus size, so the oracle recomputes it; (b) subset_ok — the
    // valve only DROPS pairs, never invents them; (c) noop_lossless_ok —
    // a cap ≥ the corpus size reproduces the uncapped pair set exactly
    // (the valve is a no-op until a posting list actually exceeds it).
    // The kept/dropped split at the 1% cap goes to stderr for SCALING.md
    // (data-dependent counts aren't DuckDB-recomputable for a winnow
    // sketch)
    Record("dedup_winnow_capped", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.winnowPairs(docs, "doc_id", "text", k = 5, w = 4,
        threshold = 0.5, maxDocFreq = docFreqCap(docs.count()))
    },
      // the run is the capped screen; the uncapped screen and the no-op
      // cap (≥ the corpus size) are the verifiers. The kept/dropped split
      // at the 1% cap goes to stderr for SCALING.md (data-dependent counts
      // aren't DuckDB-recomputable for a winnow sketch)
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents")
        val nDocs = docs.count()
        val cap = docFreqCap(nDocs)
        def pairs(maxDf: Int) =
          Dedup.winnowPairs(docs, "doc_id", "text", k = 5, w = 4,
            threshold = 0.5, maxDocFreq = maxDf)
            .select(col("id_a"), col("id_b"))
        val capped = run.select(col("id_a"), col("id_b")).cache()
        val uncapped = pairs(Int.MaxValue).cache()
        val noop = pairs(math.min(math.max(nDocs, 2L), Int.MaxValue.toLong).toInt).cache()
        val row = try {
          // the valve's exact contract: the capped pairs are the uncapped
          // pairs that share at least one fingerprint held by ≤ cap docs
          val posting = Dedup.winnowSketches(docs, "doc_id", "text", k = 5, w = 4)
            .select(col("id"), explode(col("fp")).as("f"))
          val rare = posting.join(posting.groupBy(col("f")).agg(count(lit(1)).as("df"))
            .filter(col("df") <= cap), Seq("f"))
          val sharesRare = rare.select(col("f"), col("id").as("id_a"))
            .join(rare.select(col("f"), col("id").as("id_b")), Seq("f"))
          requireSameRows(capped,
            uncapped.join(sharesRare, Seq("id_a", "id_b"), "left_semi"))
          capped.join(uncapped, Seq("id_a", "id_b"), "left_anti")
            .agg((count(lit(1)) === 0).as("subset_ok"))
            .crossJoin(setEq(noop, uncapped, "noop_lossless_ok"))
            .crossJoin(capped.agg(count(lit(1)).as("n_kept")))
            .crossJoin(uncapped.join(capped, Seq("id_a", "id_b"), "left_anti")
              .agg(count(lit(1)).as("n_dropped")))
            .select(lit(cap.toLong).as("max_doc_freq"),
              col("subset_ok"), col("noop_lossless_ok"),
              col("n_kept"), col("n_dropped"))
            .collect()(0)
        } finally Seq(uncapped, capped, noop).foreach(_.unpersist())
        System.err.println(s"[dedup_winnow_capped] max_doc_freq=$cap " +
          s"pairs_kept=${row.getLong(3)} pairs_dropped=${row.getLong(4)}")
        import s.implicits._
        Seq((row.getLong(0), row.getBoolean(1), row.getBoolean(2)))
          .toDF("max_doc_freq", "subset_ok", "noop_lossless_ok")
      }),
      // winnow valve gate: the cap is a pure function of the corpus
      // size (1% with floor 2); subset/no-op-losslessness are computed
      // Spark-side from the pair-set comparisons
      oracle =
        """SELECT cast(greatest(2, count(*) // 100) as bigint) AS max_doc_freq,
          |       true AS subset_ok, true AS noop_lossless_ok
          |FROM documents""".stripMargin),
    // streaming ingest filter gated through its batch execution: the
    // SAME dedupProbeStream plan (sketch → posting explode →
    // stream-static join vs the standing index → pair dedup → Jaccard
    // verify) run in batch mode must produce EXACTLY the cross-pair
    // subset of incrementalWinnowPairs (pairs with exactly one
    // batch-side id, re-oriented batch→standing); self_free_ok pins id
    // disjointness. The streaming spec pins stream-vs-batch equality
    // across micro-batches; within-batch pairs are the batch
    // compaction's job by design (see the operator scaladoc). The run
    // probes a MICRO-BATCH (a 2% slice) against the persisted standing
    // store, not the whole 10% shard: the plan carries the incoming
    // sketch array through the posting join (the price of needing no
    // stream-stream re-join), so its cost scales with batch size ×
    // sketch width; the check covers the micro-batch and the shard.
    Record("dedup_stream_probe", (s, dir) =>
      graft.streaming.Events.dedupProbeStream(
        streamOf(t(s, dir, "documents").filter(col("doc_id") % 50 === 0), "doc_id", "text"),
        standingSketchTable(s, dir), k = 5, w = 4, threshold = 0.5),
      // the run probes a 2% micro-batch; the check holds it, and the same
      // plan over the whole 10% shard, equal to the cross-pair subset of
      // incrementalWinnowPairs (pairs with exactly one batch-side id,
      // re-oriented batch→standing)
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents")
        val isBatch = col("doc_id") % 10 === 0
        val standing = Dedup.winnowSketches(docs.filter(!isBatch),
          "doc_id", "text", k = 5, w = 4).cache()
        def cross(batch: DataFrame) = Dedup.incrementalWinnowPairs(standing, batch,
            "doc_id", "text", k = 5, w = 4, threshold = 0.5)
          .filter((col("id_a") % 10 === 0) =!= (col("id_b") % 10 === 0))
          .select(
            when(col("id_a") % 10 === 0, col("id_a")).otherwise(col("id_b"))
              .as("doc_id"),
            when(col("id_a") % 10 === 0, col("id_b")).otherwise(col("id_a"))
              .as("dup_of"))
        val micro = run.select(col("doc_id"), col("dup_of")).cache()
        val shard = graft.streaming.Events.dedupProbeStream(
            streamOf(docs.filter(isBatch), "doc_id", "text"),
            standing, k = 5, w = 4, threshold = 0.5)
          .select(col("doc_id"), col("dup_of")).cache()
        System.err.println(s"[dedup_stream_probe] micro_pairs=${micro.count()} " +
          s"shard_pairs=${shard.count()}")
        evalGateRow(s,
          docs.filter(isBatch).agg(count(lit(1)).as("n_batch"))
            .crossJoin(setEq(micro, cross(docs.filter(col("doc_id") % 50 === 0)), "m")
              .crossJoin(setEq(shard, cross(docs.filter(isBatch)), "b"))
              .select((col("m") && col("b")).as("equal_cross_ok")))
            .crossJoin(micro.union(shard).filter(col("doc_id") === col("dup_of"))
              .agg((count(lit(1)) === 0).as("self_free_ok")))
            .select(col("n_batch"), col("equal_cross_ok"), col("self_free_ok")),
          Seq(standing, micro, shard), ("n_batch", "equal_cross_ok", "self_free_ok"))
      }),
      // streaming probe gate: same batch bucket; the cross-pair set
      // equality and self-freeness are Spark-side anti-join proofs
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS equal_cross_ok, true AS self_free_ok
          |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // incremental (new-batch-vs-standing-corpus) winnow dedup — the
    // production ingest shape: the corpus splits by a deterministic
    // bucket (doc_id % 10 = 0 → the "daily shard"), the batch probes the
    // standing corpus's persisted sketch index + its own within-batch
    // pairs, and the standing×standing self-join (the term that grows
    // with corpus size, not shard size) never runs. Gate: (a) n_batch is
    // oracle-recomputable; (b) equal_ok — the incremental pair set
    // EQUALS the full-recompute winnowPairs over the whole corpus
    // restricted to pairs touching the batch (exact set equality, both
    // anti-join directions — the lossless-screen proof); (c) touches_ok
    // — every emitted pair has a batch-side id.
    Record("dedup_incremental", (s, dir) =>
      Dedup.incrementalWinnowPairs(standingSketchTable(s, dir),
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 5, w = 4, threshold = 0.5),
      // the full recompute over the whole corpus, restricted to pairs
      // touching the batch, is the verifier
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents")
        val touches = col("id_a") % 10 === 0 || col("id_b") % 10 === 0
        val inc = run.select(col("id_a"), col("id_b")).cache()
        val full = Dedup.winnowPairs(docs, "doc_id", "text",
          k = 5, w = 4, threshold = 0.5)
          .filter(touches).select(col("id_a"), col("id_b")).cache()
        System.err.println(s"[dedup_incremental] pairs_incremental=${inc.count()} " +
          s"pairs_full_touching=${full.count()}")
        evalGateRow(s,
          docs.filter(col("doc_id") % 10 === 0).agg(count(lit(1)).as("n_batch"))
            .crossJoin(setEq(inc, full, "equal_ok"))
            .crossJoin(inc.filter(!touches).agg((count(lit(1)) === 0).as("touches_ok")))
            .select(col("n_batch"), col("equal_ok"), col("touches_ok")),
          Seq(inc, full), ("n_batch", "equal_ok", "touches_ok"))
      }),
      // incremental dedup gate: the batch is the deterministic
      // doc_id % 10 = 0 bucket; equality/touching proofs are computed
      // Spark-side from the two pair-set anti-joins
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS equal_ok, true AS touches_ok
          |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // the MAINTAINED-STATE form of the incremental probe (round-8
    // verdict items 2+5): the valve reads the stored per-fingerprint
    // df counts (one equi-join lookup) instead of re-windowing the full
    // posting union per batch, and a bloom filter over the batch's
    // fingerprints prunes the standing posting scan before the
    // equi-join. Gate: (a) the indexed form (stored df + bloom) EQUALS
    // the window-recount form at the same derived cap — the lookup
    // valve is indistinguishable from the recount; (b) both EQUAL the
    // capped full recompute restricted to batch-touching pairs — the
    // whole incremental path stays lossless under the valve.
    Record("dedup_incremental_indexed", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalWinnowPairs(standingSketchTable(s, dir),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 5, w = 4, threshold = 0.5,
        maxDocFreq = docFreqCap(docs.count()),
        standingDf = Some(standingDfTable(s, dir)), bloomProbe = true)
    },
      // the window-recount valve over an in-memory standing index and the
      // capped full recompute are the verifiers
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents")
        val isBatch = col("doc_id") % 10 === 0
        val cap = docFreqCap(docs.count())
        val standing = Dedup.winnowSketches(
          docs.filter(!isBatch), "doc_id", "text", k = 5, w = 4).cache()
        def sel(df: DataFrame) = df.select(col("id_a"), col("id_b"))
        val indexed = sel(run).cache()
        val recount = sel(Dedup.incrementalWinnowPairs(standing, docs.filter(isBatch),
          "doc_id", "text", k = 5, w = 4, threshold = 0.5, maxDocFreq = cap)).cache()
        val full = sel(Dedup.winnowPairs(docs, "doc_id", "text",
          k = 5, w = 4, threshold = 0.5, maxDocFreq = cap)
          .filter(col("id_a") % 10 === 0 || col("id_b") % 10 === 0)).cache()
        System.err.println(s"[dedup_incremental_indexed] cap=$cap " +
          s"pairs_indexed=${indexed.count()} pairs_recount=${recount.count()} " +
          s"pairs_full_touching=${full.count()}")
        evalGateRow(s,
          docs.filter(isBatch).agg(count(lit(1)).as("n_batch"))
            .crossJoin(setEq(indexed, recount, "lookup_valve_ok"))
            .crossJoin(setEq(indexed, full, "full_equal_ok"))
            .select(col("n_batch"), col("lookup_valve_ok"), col("full_equal_ok")),
          Seq(standing, indexed, recount, full),
          ("n_batch", "lookup_valve_ok", "full_equal_ok"))
      }),
      // maintained-df valve + bloom probe: equality proofs are
      // Spark-side anti-joins; the batch size is oracle-recomputable
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS lookup_valve_ok, true AS full_equal_ok
          |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // STANDING-INDEX MAINTENANCE — the other half of the ingest loop
    // (round-8 verdict item 4): after the batch is probed and accepted,
    // standing' = standing ∪ accepted sketches and the maintained df
    // counts absorb the batch deltas. Gate: incremental upkeep is
    // indistinguishable from rebuild — standing' set-equals
    // winnowSketches of the GROWN corpus, df' set-equals the recomputed
    // per-fingerprint counts.
    Record("dedup_standing_update", (s, dir) => {
      val batchSk = Dedup.winnowSketches(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 5, w = 4)
      val (_, grownDf) = Dedup.updateStandingIndex(
        standingSketchTable(s, dir), standingDfTable(s, dir), batchSk)
      grownDf
    },
      // the run is the grown df counts; the rebuild over the grown corpus
      // is the verifier of both halves of the update
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents")
        val isBatch = col("doc_id") % 10 === 0
        val batchSk = Dedup.winnowSketches(
          docs.filter(isBatch), "doc_id", "text", k = 5, w = 4).cache()
        val (grownSk, _) = Dedup.updateStandingIndex(
          standingSketchTable(s, dir), standingDfTable(s, dir), batchSk)
        val rebuiltSk = Dedup.winnowSketches(docs, "doc_id", "text", k = 5, w = 4)
        evalGateRow(s,
          docs.filter(isBatch).agg(count(lit(1)).as("n_batch"))
            .crossJoin(setEq(grownSk, rebuiltSk, "sketches_ok"))
            .crossJoin(setEq(run, ModelStore.winnowDfCounts(rebuiltSk), "df_ok"))
            .select(col("n_batch"), col("sketches_ok"), col("df_ok")),
          Seq(batchSk), ("n_batch", "sketches_ok", "df_ok"))
      }),
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS sketches_ok, true AS df_ok
          |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // ARTIFACT PERSISTENCE for the winnow index (round-8 verdict item
    // 3): train → write (sketches + df counts as parquet,
    // ModelStore.saveWinnowIndex) → load → prove (a) the round-trip
    // lost nothing (set equality on sketches AND df counts) and (b) the
    // loaded store serves the incremental probe with output identical
    // to the in-memory index — the cross-session serving contract.
    Record("index_persist_winnow", (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = deleteAtExit(tmpPath(s"graft-winnow-store-${sessionKey(s, dir)}"))
      if (!pathExists(s, path))
        ModelStore.saveWinnowIndex(standingSketchTable(s, dir), path)
      Dedup.incrementalWinnowPairs(ModelStore.loadWinnowSketches(s, path),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 5, w = 4, threshold = 0.5,
        maxDocFreq = docFreqCap(docs.count()),
        standingDf = Some(ModelStore.loadWinnowDf(s, path)), bloomProbe = true)
    },
      // the in-memory index is the verifier: the store the run loaded
      // round-trips it, and the run's pairs equal its probe's
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents")
        val isBatch = col("doc_id") % 10 === 0
        val path = tmpPath(s"graft-winnow-store-${sessionKey(s, dir)}")
        val standing = Dedup.winnowSketches(
          docs.filter(!isBatch), "doc_id", "text", k = 5, w = 4).cache()
        def sel(df: DataFrame) = df.select(col("id_a"), col("id_b"))
        val fromLoaded = sel(run).cache()
        val fromMem = sel(Dedup.incrementalWinnowPairs(standing, docs.filter(isBatch),
          "doc_id", "text", k = 5, w = 4, threshold = 0.5,
          maxDocFreq = docFreqCap(docs.count()))).cache()
        evalGateRow(s,
          docs.filter(isBatch).agg(count(lit(1)).as("n_batch"))
            .crossJoin(setEq(standing, ModelStore.loadWinnowSketches(s, path), "sk_rt")
              .crossJoin(setEq(ModelStore.winnowDfCounts(standing),
                ModelStore.loadWinnowDf(s, path), "df_rt"))
              .select((col("sk_rt") && col("df_rt")).as("roundtrip_ok")))
            .crossJoin(setEq(fromLoaded, fromMem, "probe_ok"))
            .select(col("n_batch"), col("roundtrip_ok"), col("probe_ok")),
          Seq(standing, fromLoaded, fromMem), ("n_batch", "roundtrip_ok", "probe_ok"))
      }),
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS roundtrip_ok, true AS probe_ok
          |FROM documents WHERE doc_id % 10 = 0""".stripMargin),
    // ARTIFACT PERSISTENCE for the trained models (round-8 verdict item
    // 3): k-means/IVF centroids, PQ codebooks, and the BPE merge table
    // each round-trip through parquet (ModelStore) and load back
    // IDENTICAL — exact Double/string equality, which implies identical
    // downstream scoring because every consumer is a pure function of
    // the artifact. The loads read parquet and never consult the
    // session model caches, so nothing serves from memory; the first
    // rep pays training, later reps time the artifact round-trip.
    Record("index_persist_models", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val base = tmpPath(s"graft-model-store-${sessionKey(s, dir)}")
      val (annOk, bpeOk, nVec) = try {
        val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
        val pq = Quantization.trainPq(e, "vec_id", "embedding", m = 4, k = 16, maxIter = 4)
        val merges = Bpe.trainMerges(t(s, dir, "documents"), "text", rounds = 8)
        ModelStore.saveKmeans(s, km, s"$base/kmeans")
        ModelStore.savePq(s, pq, s"$base/pq")
        ModelStore.saveBpe(s, merges, s"$base/bpe")
        val km2 = ModelStore.loadKmeans(s, s"$base/kmeans")
        val pq2 = ModelStore.loadPq(s, s"$base/pq")
        val merges2 = ModelStore.loadBpe(s, s"$base/bpe")
        val kmOk = km.centroids.length == km2.centroids.length &&
          km.centroids.zip(km2.centroids).forall { case (a, b) => a.sameElements(b) } &&
          km.inertiaTrace == km2.inertiaTrace
        val pqOk = pq.m == pq2.m && pq.k == pq2.k && pq.subDim == pq2.subDim &&
          pq.codebooks.zip(pq2.codebooks).forall { case (ba, bb) =>
            ba.length == bb.length &&
              ba.zip(bb).forall { case (a, b) => a.sameElements(b) } } &&
          pq.errorTrace == pq2.errorTrace
        (kmOk && pqOk, merges == merges2, e.count())
      } finally deletePath(s, base)
      import s.implicits._
      Seq((nVec, annOk, bpeOk)).toDF("n_vectors", "ann_ok", "bpe_ok")
    },
      oracle =
        """SELECT cast(count(*) as bigint) AS n_vectors,
          |       true AS ann_ok, true AS bpe_ok
          |FROM embeddings""".stripMargin),
    // DELETION PROPAGATION through the standing index — the takedown /
    // right-to-be-forgotten half of maintenance (the inverse of
    // dedup_standing_update): docs leave the corpus, their sketches
    // leave the store, and the maintained df counts shed exactly their
    // contributions. Gate: forget is indistinguishable from rebuild —
    // kept sketches set-equal winnowSketches of the surviving corpus,
    // shrunk df set-equals the recomputed counts (zero-count
    // fingerprints gone on both sides).
    Record("index_forget", (s, dir) => {
      val (_, shrunk) = Dedup.forgetFromStandingIndex(
        standingSketchTable(s, dir), standingDfTable(s, dir),
        t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("id")))
      shrunk
    },
      // the run is the shrunk df counts; the rebuild over the surviving
      // standing corpus is the verifier of both halves of the forget
      check = Some((s, dir, run) => {
        val docs = t(s, dir, "documents")
        val isGone = col("doc_id") % 7 === 0
        val (kept, _) = Dedup.forgetFromStandingIndex(
          standingSketchTable(s, dir), standingDfTable(s, dir),
          docs.filter(isGone).select(col("doc_id").as("id")))
        val rebuiltSk = Dedup.winnowSketches(
          docs.filter(!(col("doc_id") % 10 === 0) && !isGone),
          "doc_id", "text", k = 5, w = 4)
        evalGateRow(s,
          docs.filter(isGone).agg(count(lit(1)).as("n_deleted"))
            .crossJoin(setEq(kept, rebuiltSk, "sketches_ok"))
            .crossJoin(setEq(run, ModelStore.winnowDfCounts(rebuiltSk), "df_ok"))
            .select(col("n_deleted"), col("sketches_ok"), col("df_ok")),
          Seq.empty, ("n_deleted", "sketches_ok", "df_ok"))
      }),
      // forget gate: the delete set is the deterministic doc_id % 7 = 0
      // bucket; rebuild-equality proofs are Spark-side anti-joins
      oracle =
        """SELECT cast(count(*) as bigint) AS n_deleted,
          |       true AS sketches_ok, true AS df_ok
          |FROM documents WHERE doc_id % 7 = 0""".stripMargin),
    // INCREMENTAL VECTOR-INDEX MAINTENANCE — the ANN analog of
    // dedup_standing_update: a new embedding batch is assigned to the
    // FROZEN trained centroids (per-row pure function) and appended to
    // the standing posting relation as a union; the quantizer is not
    // retrained per batch (the production IVF contract — retraining is
    // a scheduled rebuild). The run serves from the frozen quantizer's
    // postings of the whole corpus. Check: (a) serving from the run's
    // index and from the appended index both equal the from-scratch
    // build over the full corpus (identical
    // (probe, corpus, rank) sets), (b) the posting relation
    // round-trips parquet (ModelStore.saveIvfPostings) and the LOADED
    // store serves identically — the cross-session path.
    Record("sim_ivf_append", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
      Similarity.ivfTopKServe(
        Similarity.ivfAssign(e, "vec_id", "embedding", km.centroids),
        e.filter(col("vec_id") % 37 === 0), "vec_id", "embedding",
        km.centroids, k = 5, nProbe = 3)
    },
      // from-scratch serving over the full corpus is the verifier of the
      // run and of the appended (base ∪ batch) index; the appended posting
      // relation round-trips parquet and serves the run's rows
      check = Some((s, dir, run) => {
        val e = t(s, dir, "embeddings")
        val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
        val isBatch = col("vec_id") % 10 === 0
        val probes = e.filter(col("vec_id") % 37 === 0)
        val grown = Similarity.ivfAssign(
            e.filter(!isBatch), "vec_id", "embedding", km.centroids)
          .union(Similarity.ivfAssign(
            e.filter(isBatch), "vec_id", "embedding", km.centroids))
        def sel(df: DataFrame) =
          df.select(col("probe_id"), col("corpus_id"), col("rank"))
        def serve(postings: DataFrame) = sel(Similarity.ivfTopKServe(postings, probes,
          "vec_id", "embedding", km.centroids, k = 5, nProbe = 3))
        val served = sel(run).cache()
        val appended = serve(grown).cache()
        val direct = sel(Similarity.ivfTopKTrained(e, "vec_id", "embedding",
          probes, "vec_id", "embedding", km.centroids, k = 5, nProbe = 3)).cache()
        val path = tmpPath(s"graft-ivf-store-${sessionKey(s, dir)}")
        try {
          ModelStore.saveIvfPostings(grown, path)
          evalGateRow(s,
            e.filter(isBatch).agg(count(lit(1)).as("n_batch"))
              .crossJoin(setEq(served, direct, "d1")
                .crossJoin(setEq(appended, direct, "d2"))
                .select((col("d1") && col("d2")).as("append_ok")))
              .crossJoin(setEq(serve(ModelStore.loadIvfPostings(s, path)), served,
                "persist_ok"))
              .select(col("n_batch"), col("append_ok"), col("persist_ok")),
            Seq(served, appended, direct), ("n_batch", "append_ok", "persist_ok"))
        } finally deletePath(s, path)
      }),
      // IVF append gate: batch bucket is vec_id % 10 = 0; the
      // append-vs-rebuild and loaded-vs-memory serving equalities are
      // Spark-side anti-joins over (probe, corpus, rank) sets
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS append_ok, true AS persist_ok
          |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin),
    // VECTOR-STORE DELETION — the ANN analog of index_forget: departing
    // vectors leave the posting relation by one anti-join; because
    // assignment is a per-row pure function the forgotten store is
    // EXACTLY the rebuild on the survivors. Gate: posting set equality
    // AND identical serving output vs the from-scratch rebuild.
    Record("sim_ivf_forget", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
      Similarity.ivfForget(
        Similarity.ivfAssign(e, "vec_id", "embedding", km.centroids),
        e.filter(col("vec_id") % 9 === 0).select(col("vec_id").as("id")))
    },
      // the rebuild on the survivors is the verifier: same postings, same
      // serving output
      check = Some((s, dir, run) => {
        val e = t(s, dir, "embeddings")
        val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
        val isGone = col("vec_id") % 9 === 0
        val probes = e.filter(col("vec_id") % 37 === 0)
        val forgotten = run.cache()
        val rebuilt = Similarity.ivfAssign(
          e.filter(!isGone), "vec_id", "embedding", km.centroids).cache()
        def sel(a: DataFrame) = Similarity.ivfTopKServe(a, probes,
            "vec_id", "embedding", km.centroids, k = 5, nProbe = 3)
          .select(col("probe_id"), col("corpus_id"), col("rank"))
        evalGateRow(s,
          e.filter(isGone).agg(count(lit(1)).as("n_deleted"))
            .crossJoin(setEq(forgotten.select(col("corpus_id"), col("bucket")),
              rebuilt.select(col("corpus_id"), col("bucket")), "posting_ok"))
            .crossJoin(setEq(sel(forgotten), sel(rebuilt), "serve_ok"))
            .select(col("n_deleted"), col("posting_ok"), col("serve_ok")),
          Seq(forgotten, rebuilt), ("n_deleted", "posting_ok", "serve_ok"))
      }),
      // IVF forget gate: delete set is vec_id % 9 = 0; posting and
      // serving equalities are Spark-side anti-joins
      oracle =
        """SELECT cast(count(*) as bigint) AS n_deleted,
          |       true AS posting_ok, true AS serve_ok
          |FROM embeddings WHERE vec_id % 9 = 0""".stripMargin),
    // STREAMING EMBEDDING-INGEST PROBE — the vector analog of
    // dedup_stream_probe, closing the ingest loop for the sim_ivf_*
    // family: incoming vectors route to their nProbe nearest buckets
    // under the frozen quantizer, stream-static join against the
    // standing postings, exact-cosine verify. Gate: batch execution of
    // the streaming plan set-equals the independent batch comparator
    // (ivfTopKServe with an unbounded k, thresholded) — same recall
    // contract, different join/dedup/ranking path — and no self-pairs.
    // The run probes a micro-batch-sized 2% slice (the
    // dedup_stream_probe convention); the check covers it and the
    // whole 10% shard.
    Record("sim_stream_probe", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
      graft.streaming.Events.simProbeStream(
        streamOf(e.filter(col("vec_id") % 50 === 0), "vec_id", "embedding"),
        Similarity.ivfAssign(e.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", km.centroids),
        km.centroids, nProbe = 3, threshold = 0.35)
    },
      // the run probes a 2% micro-batch; the check holds it, and the same
      // plan over the whole 10% shard, equal to the independent batch
      // comparator (ivfTopKServe with an unbounded k, thresholded)
      check = Some((s, dir, run) => {
        val e = t(s, dir, "embeddings")
        val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
        val isBatch = col("vec_id") % 10 === 0
        val standing = Similarity.ivfAssign(
          e.filter(!isBatch), "vec_id", "embedding", km.centroids).cache()
        def comparator(batch: DataFrame) = Similarity.ivfTopKServe(standing, batch,
            "vec_id", "embedding", km.centroids, k = Int.MaxValue, nProbe = 3)
          .filter(col("cosine") >= 0.35)
          .select(col("probe_id").as("vec_id"), col("corpus_id").as("dup_of"))
        val micro = run.select(col("vec_id"), col("dup_of")).cache()
        val shard = graft.streaming.Events.simProbeStream(
            streamOf(e.filter(isBatch), "vec_id", "embedding"),
            standing, km.centroids, nProbe = 3, threshold = 0.35)
          .select(col("vec_id"), col("dup_of")).cache()
        System.err.println(s"[sim_stream_probe] micro_pairs=${micro.count()} " +
          s"shard_pairs=${shard.count()}")
        evalGateRow(s,
          e.filter(isBatch).agg(count(lit(1)).as("n_batch"))
            .crossJoin(setEq(micro, comparator(e.filter(col("vec_id") % 50 === 0)), "m")
              .crossJoin(setEq(shard, comparator(e.filter(isBatch)), "b"))
              .select((col("m") && col("b")).as("equal_cross_ok")))
            .crossJoin(micro.union(shard).filter(col("vec_id") === col("dup_of"))
              .agg((count(lit(1)) === 0).as("self_free_ok")))
            .select(col("n_batch"), col("equal_cross_ok"), col("self_free_ok")),
          Seq(standing, micro, shard), ("n_batch", "equal_cross_ok", "self_free_ok"))
      }),
      // streaming vector probe gate: batch bucket is vec_id % 10 = 0;
      // the comparator equality and self-freeness are Spark-side
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS equal_cross_ok, true AS self_free_ok
          |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin),
    // STREAMING VECTOR-STORE UPDATE — the other half of the streaming
    // IVF lifecycle (sim_stream_probe reads the standing store; this
    // GROWS it): accepted vectors stream in via AvailableNow +
    // checkpoint, each micro-batch assigned under the frozen quantizer
    // and upserted into a delta posting store by idempotent
    // per-batch dynamic-partition overwrite. Gate: (base ∪ delta)
    // set-equals ivfAssign of the grown corpus (a lossy sink, a
    // double-applied batch, or a drifted assignment breaks it), AND
    // serving from the streamed store equals serving from the rebuild.
    Record("sim_ivf_stream_update", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
      val isBatch = col("vec_id") % 10 === 0
      val sid = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-ivf-stream-$sid").getAbsolutePath
      val row = try {
        ModelStore.saveIvfPostings(
          Similarity.ivfAssign(e.filter(!isBatch), "vec_id", "embedding",
            km.centroids), s"$base/postings")
        graft.streaming.Events.ivfUpsertStream(
          graft.streaming.Events.readTableStream(s, dir, "embeddings")
            .filter(isBatch).select(col("vec_id"), col("embedding")),
          km.centroids, s"$base/delta", s"$base/ckpt")
        val store = ModelStore.loadIvfPostings(s, s"$base/postings")
          .union(ModelStore.loadIvfDelta(s, s"$base/delta")).cache()
        val rebuilt = Similarity.ivfAssign(e, "vec_id", "embedding",
          km.centroids).cache()
        val probes = e.filter(col("vec_id") % 37 === 0)
        def sel(a: DataFrame) = Similarity.ivfTopKServe(a, probes,
            "vec_id", "embedding", km.centroids, k = 5, nProbe = 3)
          .select(col("probe_id"), col("corpus_id"), col("rank"))
        try e.filter(isBatch).agg(count(lit(1)).as("n_batch"))
          .crossJoin(setEq(store.select(col("corpus_id"), col("bucket")),
            rebuilt.select(col("corpus_id"), col("bucket")), "store_ok"))
          .crossJoin(setEq(sel(store), sel(rebuilt), "serve_ok"))
          .select(col("n_batch"), col("store_ok"), col("serve_ok"))
          .collect()(0)
        finally Seq(store, rebuilt).foreach(_.unpersist())
      } finally {
        try {
          val hp = new org.apache.hadoop.fs.Path(base)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
        } catch { case _: Throwable => () }
      }
      import s.implicits._
      Seq((row.getLong(0), row.getBoolean(1), row.getBoolean(2)))
        .toDF("n_batch", "store_ok", "serve_ok")
    },
      // streaming store-update gate: same batch bucket; the
      // store-vs-rebuild and serve equalities are Spark-side anti-joins
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS store_ok, true AS serve_ok
          |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin),
    // VECTOR-STORE COMPACTION — the maintenance step the rebuild
    // policy's churn counter schedules: fold the accumulated per-batch
    // delta partitions back into one compact base relation. Assignment
    // purity makes it a pure rewrite; the gate proves (a) the compacted
    // base set-equals the from-scratch assignment of the grown corpus,
    // (b) serving from it is identical, and (c) the delta store is
    // actually gone (a compaction that silently keeps feeding from the
    // delta would pass (a)+(b) and lie about the maintenance).
    Record("sim_ivf_compact", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
      val isBatch = col("vec_id") % 10 === 0
      val sid = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-ivf-compact-$sid").getAbsolutePath
      val row = try {
        ModelStore.saveIvfPostings(
          Similarity.ivfAssign(e.filter(!isBatch), "vec_id", "embedding",
            km.centroids), s"$base/postings")
        // two ingest batches land as two delta partitions, then compact
        val batch = Similarity.ivfAssign(e.filter(isBatch), "vec_id",
          "embedding", km.centroids)
        ModelStore.upsertIvfPostings(batch.filter(col("corpus_id") % 20 === 0),
          s"$base/delta", batchId = 0L)
        ModelStore.upsertIvfPostings(batch.filter(col("corpus_id") % 20 =!= 0),
          s"$base/delta", batchId = 1L)
        ModelStore.compactIvfPostings(s, s"$base/postings", s"$base/delta")
        val store = ModelStore.loadIvfPostings(s, s"$base/postings").cache()
        val rebuilt = Similarity.ivfAssign(e, "vec_id", "embedding",
          km.centroids).cache()
        val probes = e.filter(col("vec_id") % 37 === 0)
        def sel(a: DataFrame) = Similarity.ivfTopKServe(a, probes,
            "vec_id", "embedding", km.centroids, k = 5, nProbe = 3)
          .select(col("probe_id"), col("corpus_id"), col("rank"))
        val deltaGone = !new org.apache.hadoop.fs.Path(s"$base/delta")
          .getFileSystem(s.sparkContext.hadoopConfiguration)
          .exists(new org.apache.hadoop.fs.Path(s"$base/delta"))
        try e.filter(isBatch).agg(count(lit(1)).as("n_batch"))
          .crossJoin(setEq(store.select(col("corpus_id"), col("bucket")),
            rebuilt.select(col("corpus_id"), col("bucket")), "eq")
            .crossJoin(setEq(sel(store), sel(rebuilt), "serve_eq"))
            .select((col("eq") && col("serve_eq")).as("compact_ok")))
          .withColumn("delta_gone", lit(deltaGone))
          .select(col("n_batch"), col("compact_ok"), col("delta_gone"))
          .collect()(0)
        finally Seq(store, rebuilt).foreach(_.unpersist())
      } finally {
        try {
          val hp = new org.apache.hadoop.fs.Path(base)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
        } catch { case _: Throwable => () }
      }
      import s.implicits._
      Seq((row.getLong(0), row.getBoolean(1), row.getBoolean(2)))
        .toDF("n_batch", "compact_ok", "delta_gone")
    },
      // compaction gate: same batch bucket; rebuild/serve equality and
      // the delta-store removal are Spark-side proofs
      oracle =
        """SELECT cast(count(*) as bigint) AS n_batch,
          |       true AS compact_ok, true AS delta_gone
          |FROM embeddings WHERE vec_id % 10 = 0""".stripMargin),
    // THE MAINTENANCE LOOP CLOSED END-TO-END: the rebuild policy's
    // ledger arithmetic DRIVES the compaction instead of just flagging
    // it — policy fires ⇒ compactIvfPostings runs ⇒ the delta store is
    // gone and serving reads one compact relation; policy doesn't fire
    // ⇒ nothing moves and the delta stays. Two scenarios from
    // deterministic id buckets make it falsifiable in both directions,
    // and the oracle replays the trigger arithmetic itself (churn basis
    // points over the ledger counts) — a mis-threshold breaks the hash,
    // not just a flag. store_ok additionally requires the post-loop
    // store (base ∪ surviving delta) to set-equal the from-scratch
    // assignment AND the delta's existence to match the decision.
    Record("index_maintenance_loop", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val (_, km) = Clustering.kmeans(e, "vec_id", "embedding", k = 8, maxIter = 4)
      val sid = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val root = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-ivf-maint-$sid").getAbsolutePath
      def scenario(name: String, batchPred: Column)
          : (String, Long, Long, Long, Boolean, Boolean) = {
        val basePath = s"$root/$name/postings"
        val deltaPath = s"$root/$name/delta"
        val corpus0 = e.filter(!batchPred)
        ModelStore.saveIvfPostings(Similarity.ivfAssign(corpus0, "vec_id",
          "embedding", km.centroids), basePath)
        ModelStore.upsertIvfPostings(Similarity.ivfAssign(e.filter(batchPred),
          "vec_id", "embedding", km.centroids), deltaPath, batchId = 0L)
        // one fused aggregate for both ledger counts (optimization
        // round 11): two .count() actions were two scan jobs
        val cnt = e.agg(
          sum(when(batchPred, 0L).otherwise(1L)).as("n0"),
          sum(when(batchPred, 1L).otherwise(0L)).as("na")).collect()(0)
        val n0 = cnt.getLong(0)
        val na = cnt.getLong(1)
        val (_, churnBp, due) = ModelStore.rebuildDue(n0, 0L, na)
        if (due) ModelStore.compactIvfPostings(s, basePath, deltaPath)
        val dp = new org.apache.hadoop.fs.Path(deltaPath)
        val deltaExists = dp.getFileSystem(
          s.sparkContext.hadoopConfiguration).exists(dp)
        val store = ModelStore.loadIvfPostings(s, basePath)
          .union(if (deltaExists) ModelStore.loadIvfDelta(s, deltaPath)
            else ModelStore.loadIvfPostings(s, basePath).limit(0))
        val rebuilt = Similarity.ivfAssign(e, "vec_id", "embedding", km.centroids)
        val eq = setEq(store.select(col("corpus_id"), col("bucket")),
          rebuilt.select(col("corpus_id"), col("bucket")), "eq")
          .collect()(0).getBoolean(0)
        (name, n0, na, churnBp, due, eq && (deltaExists != due))
      }
      val rows = try Seq(
        scenario("heavy_ingest", col("vec_id") % 4 === 0),  // ~33% churn: fires
        scenario("light_ingest", col("vec_id") % 97 === 0)) // ~1%: must not
      finally {
        try {
          val hp = new org.apache.hadoop.fs.Path(root)
          hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
        } catch { case _: Throwable => () }
      }
      import s.implicits._
      rows.toDF("scenario", "n_at_build", "n_added", "churn_bp",
        "maintained", "store_ok")
    },
      // maintenance loop: the oracle replays the TRIGGER arithmetic
      // (churn bp over the ledger counts, threshold 2000) per scenario;
      // the store/delta consistency proof is Spark-side
      oracle =
        """WITH h AS (SELECT count(*) FILTER (vec_id % 4 <> 0) AS n0,
          |                  count(*) FILTER (vec_id % 4 = 0) AS na
          |           FROM embeddings),
          |l AS (SELECT count(*) FILTER (vec_id % 97 <> 0) AS n0,
          |             count(*) FILTER (vec_id % 97 = 0) AS na
          |      FROM embeddings)
          |SELECT 'heavy_ingest' AS scenario,
          |       cast(n0 as bigint) AS n_at_build,
          |       cast(na as bigint) AS n_added,
          |       cast(na * 10000 // n0 as bigint) AS churn_bp,
          |       na * 10000 // n0 >= 2000 AS maintained,
          |       true AS store_ok
          |FROM h
          |UNION ALL
          |SELECT 'light_ingest',
          |       cast(n0 as bigint), cast(na as bigint),
          |       cast(na * 10000 // n0 as bigint),
          |       na * 10000 // n0 >= 2000, true
          |FROM l""".stripMargin),
    // THE RETRAIN HALF OF THE LIFECYCLE (round-10 verdict item 2):
    // volume-triggered compaction (index_maintenance_loop) cannot see
    // DISTRIBUTION drift — a batch of vectors that all land in one
    // bucket leaves the trained centroids describing a corpus that no
    // longer exists. ModelStore.retrainDue measures assignment-
    // distribution drift (total-variation bp between the store's
    // build-time bucket counts and its current ones — one KB-sized
    // aggregate of what the index already materializes, never a vector
    // scan) and, when it fires, the loop RETRAINS: new k-means
    // centroids over the grown corpus + a full reassign replacing the
    // store. Two scenarios from the same ingest volume make it
    // falsifiable in both directions — "shifted_drift" ingests vectors
    // displaced off the training manifold (all mass into few buckets ⇒
    // fires ⇒ store must equal a from-scratch assignment under the NEW
    // centroids), "stable_ingest" ingests unshifted vectors from the
    // same distribution (distribution holds ⇒ must NOT fire ⇒ store
    // still serves under the OLD centroids). store_ok is a set-equality
    // proof against an independently recomputed assignment either way;
    // a mis-threshold, a broken drift statistic, or a retrain that
    // forgets to reassign flips a pinned boolean and breaks the hash.
    Record("index_retrain_loop", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val isBatch = col("vec_id") % 4 === 0
      val corpus0 = e.filter(!isBatch)
      val (_, km0) = Clustering.kmeans(corpus0, "vec_id", "embedding", k = 8, maxIter = 4)
      // scenario-invariant state, computed once: the store at build time
      val basePostings = Similarity.ivfAssign(corpus0, "vec_id",
        "embedding", km0.centroids).select(col("corpus_id"), col("cv"), col("bucket"))
        .cache()
      val buildCounts = basePostings.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n")).select(col("bucket"), col("n"))
      val nAtBuild = corpus0.count()
      def scenario(name: String, batch: DataFrame)
          : (String, Long, Long, Boolean, Boolean) = {
        val deltaPostings = Similarity.ivfAssign(batch, "vec_id",
          "embedding", km0.centroids).select(col("corpus_id"), col("cv"), col("bucket"))
          .cache()
        try {
          val currentCounts = basePostings.unionByName(deltaPostings)
            .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
            .select(col("bucket"), col("n"))
          val (_, due) = ModelStore.retrainDue(buildCounts, currentCounts)
          val corpus = corpus0.unionByName(batch)
          // fires ⇒ retrain (new centroids over the grown corpus) + full
          // reassign; quiet ⇒ the old store keeps serving. Either way the
          // served store is constructed INCREMENTALLY — per-part
          // assignment unioned, the way maintenance actually touches a
          // store — never as the same one-shot expression the verifier
          // below recomputes, so the set-equality is falsifiable: a
          // maintenance bug that leaves any part under the old quantizer
          // (e.g. a retrain that reassigns only the batch) breaks it.
          val served =
            if (due) {
              val (_, km1) = Clustering.kmeans(corpus, "vec_id", "embedding",
                k = 8, maxIter = 4)
              (Similarity.ivfAssign(corpus0, "vec_id", "embedding", km1.centroids)
                .unionByName(
                  Similarity.ivfAssign(batch, "vec_id", "embedding", km1.centroids)),
                km1.centroids)
            } else (basePostings.unionByName(deltaPostings), km0.centroids)
          // independent recomputation: the incrementally-maintained store
          // must set-equal a from-scratch assignment of the grown corpus
          // under the centroids the policy chose (assignment purity makes
          // whole-vs-parts the invariant, as in sim_ivf_stream_update)
          val expected = Similarity.ivfAssign(corpus, "vec_id", "embedding",
            served._2)
          val eq = setEq(served._1.select(col("corpus_id"), col("bucket")),
            expected.select(col("corpus_id"), col("bucket")), "eq")
            .collect()(0).getBoolean(0)
          (name, nAtBuild, batch.count(), due, eq)
        } finally { deltaPostings.unpersist(); () }
      }
      val shifted = e.filter(isBatch).withColumn("embedding",
        transform(col("embedding"), x => x + lit(3.0f)))
      val rows =
        try Seq(
          scenario("shifted_drift", shifted),
          scenario("stable_ingest", e.filter(isBatch)))
        finally { basePostings.unpersist(); () }
      import s.implicits._
      rows.toDF("scenario", "n_at_build", "n_added", "retrained", "store_ok")
    },
      // retrain gate: the ledger counts are replayed from the id
      // buckets; the drift decision and the store set-equality are
      // pinned booleans — the shifted scenario MUST fire (vectors
      // displaced off the training manifold concentrate the bucket
      // distribution), the stable one MUST NOT, and either way the
      // served store must equal a from-scratch assignment under the
      // centroids the policy chose (Spark-side proof)
      oracle =
        """WITH c AS (SELECT count(*) FILTER (vec_id % 4 <> 0) AS n0,
          |                  count(*) FILTER (vec_id % 4 = 0) AS na
          |           FROM embeddings)
          |SELECT 'shifted_drift' AS scenario,
          |       cast(n0 as bigint) AS n_at_build,
          |       cast(na as bigint) AS n_added,
          |       true AS retrained, true AS store_ok
          |FROM c
          |UNION ALL
          |SELECT 'stable_ingest', cast(n0 as bigint), cast(na as bigint),
          |       false, true
          |FROM c""".stripMargin),
    // ASYMMETRIC containment dedup: ordered pairs where ≥ 70% of doc a's
    // distinct 5-char shingles also occur in doc b — the quote/substring
    // duplication Jaccard misses (a short doc embedded in a long one has
    // low Jaccard but containment ≈ 1). Gate = the exact all-pairs form
    // on shingle STRINGS over the same 200-doc scope as dedup_winnow, so
    // DuckDB replays every (n_common, n_a) integer with its own substr
    // shingling; the threshold test is all-integer (10·common ≥ 7·|A|),
    // no float boundary. The corpus-scale form, Dedup.containmentPairs
    // (a shared-gram inverted-index screen over 64-bit shingle hashes
    // with the maxDocFreq boilerplate valve), drops valve-capped pairs
    // and counts hashes, not strings, so it holds no contract against
    // this one; it is not timed separately
    Record("dedup_containment", (s, dir) => {
      val prep = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id").as("id"),
          graft.functions.TextHashFunctions.shingleSet(col("text"), 5).as("sh"))
        .repartition(s.sparkContext.defaultParallelism, col("id"))
      val a = prep.select(col("id").as("id_a"), col("sh").as("sh_a"))
      val b = prep.select(col("id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
          size(col("sh_a")).cast("long").as("n_a"))
        .filter(col("n_common") * 10L >= col("n_a") * 7L)
    },
      oracle =
        """WITH d AS (
          |  SELECT doc_id, lower(regexp_replace(text, '[\t\n\x0b\f\r ]+', ' ', 'g')) AS t
          |  FROM documents WHERE doc_id < 200),
          |g AS (
          |  SELECT doc_id,
          |         CASE WHEN length(t) < 5 THEN [t]
          |              ELSE list_distinct([substr(t, i, 5) for i in range(1, length(t) - 3)]) END AS sh
          |  FROM d)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |       cast(len(list_intersect(a.sh, b.sh)) as bigint) AS n_common,
          |       cast(len(a.sh) as bigint) AS n_a
          |FROM g a JOIN g b ON a.doc_id <> b.doc_id
          |WHERE len(list_intersect(a.sh, b.sh)) * 10 >= len(a.sh) * 7""".stripMargin),
  )
}
