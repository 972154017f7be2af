package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.SparkEntry._

/** Multimodal plumbing and the generated sources (§2.1 S1): media
  * features, resizing, frames, multimodal dedup and pruning, the index
  * rebuild policy, the q4112 generator and the DataSource V2 sources.
  */
private[graft] object MultimodalQueries {

  /** gen_q4112's fixed-seed generator configuration. */
  private val genQ4112Config = graft.model.GenConfig(
    innerTuples = 1000, innerSelectivity = 1.0, innerValMax = 999,
    outerTuples = 100000, outerSelectivity = 1.0, outerValMax = 999,
    groups = 100, hhGroups = 5, hhProbability = 0.8, seed = 77)

  /** The generated data source's rows, and the four id aggregates
    * source_agg_pushdown pushes into it.
    */
  private def genSource(s: SparkSession): DataFrame =
    s.read.format("graft.sources.GenSource")
      .option("rows", 20000L).option("seed", 4112L)
      .option("valMax", 1000000L).option("partitions", 8).load()

  private def idAggregates(d: DataFrame): DataFrame =
    d.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx"), sum(col("id")).as("sm"))

  def records: Seq[Record] = Seq(
    // COLUMN-PRUNING PROOF for payload-carrying media tables, as a
    // gated fact (the layout_bucketed pattern: the scale property is
    // asserted IN the query output, so a regression fails CORRECTNESS,
    // not just a spec): a metadata-only aggregate over the media view
    // must never read the payload source column — the parquet leaf's
    // output names, inspected from the physical plan at build time,
    // must exclude `text`. At 100 TB this pruning is the difference
    // between scanning kilobytes of metadata and petabytes of bytes
    Record("multimodal_prune", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      val agg = media.groupBy(col("modality"))
        .agg(count(lit(1)).as("n_media"),
          sum(col("width").cast("long") * col("height")).as("sum_pixels"),
          max(col("duration_ms")).as("max_duration_ms"))
      // sparkPlan, not executedPlan: under AQE the executed plan is an
      // AdaptiveSparkPlanExec WRAPPER with no children — collectLeaves
      // returns the wrapper itself (whose output is the final schema),
      // never the parquet scan. Column pruning is a logical-phase
      // optimization, so the pre-adaptive physical plan shows it
      val scanned = agg.queryExecution.sparkPlan.collectLeaves()
        .flatMap(_.output.map(_.name)).toSet
      agg.withColumn("pruned_ok",
        lit(!scanned.contains("text") && scanned.contains("doc_id")))
    },
      // the oracle recomputes the LCG metadata from doc_id (the media
      // view's arithmetic is engine-portable by design) and pins
      // pruned_ok — a plan that starts reading the payload column
      // flips the boolean and fails the hash gate
      oracle =
        """SELECT 'image' AS modality, count(*) AS n_media,
          |       cast(sum(((doc_id * 48271 + 11) % 1920 + 1) *
          |                ((doc_id * 69621 + 7) % 1080 + 1)) as bigint)
          |         AS sum_pixels,
          |       cast(max((doc_id * 16807 + 3) % 600000) as bigint)
          |         AS max_duration_ms,
          |       true AS pruned_ok
          |FROM documents""".stripMargin),
    // AGGREGATE PUSHDOWN into the DSv2 source — COUNT/MIN/MAX/SUM over
    // the generated id range answered ANALYTICALLY by the source
    // (GenScanBuilder.pushAggregation, complete pushdown: Spark's
    // Aggregate node disappears and the scan emits the 1-row answer;
    // the query is O(1) at any scale — the strongest form of the
    // footer-stats shortcut parquet gives COUNT(*)). Gate: (a) the
    // pushed plan has NO logical Aggregate while the residual-filter
    // plan (price ≥ 0 is not pushable, blocking agg pushdown) keeps
    // one — falsifiable on both sides; (b) both paths return identical
    // values; the oracle recomputes the arithmetic series.
    Record("source_agg_pushdown", (s, _) =>
      idAggregates(genSource(s).filter(col("id") > 5000L)),
      // the residual-filter plan (price ≥ 0 is not pushable, blocking agg
      // pushdown) is the verifier: it keeps its Aggregate node, the run's
      // plan has none, and both return identical values
      check = Some((s, _, run) => {
        val raw = idAggregates(genSource(s).filter(col("id") > 5000L && col("price") >= 0L))
        def hasAgg(d: DataFrame): Boolean = d.queryExecution.optimizedPlan
          .collectFirst {
            case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
          }.isDefined
        val p = run.collect()(0)
        val r = raw.collect()(0)
        import s.implicits._
        Seq((p.getLong(3), !hasAgg(run) && hasAgg(raw),
          (0 until 4).forall(i => p.getLong(i) == r.getLong(i))))
          .toDF("sum_id", "pushed_ok", "equal_ok")
      }),
      // aggregate-pushdown gate: the oracle recomputes the pushed
      // SUM(id) as the arithmetic series over the filtered id range
      // (id > 5000 of 1..20000); plan-shape and pushed-vs-raw equality
      // are Spark-side
      oracle =
        """SELECT cast(sum(i) as bigint) AS sum_id,
          |       true AS pushed_ok, true AS equal_ok
          |FROM range(5001, 20001) t(i)""".stripMargin),
    Record("multimodal_features", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media, dims = 8).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"), col("payload_hash"))
    },
      // multimodal metadata stand-ins are LCG arithmetic on the id and
      // md5 content hashes — fully reproducible in SQL
      oracle =
        """SELECT doc_id AS media_id, 'image' AS modality,
          |       strlen(text)::BIGINT AS n_bytes,
          |       md5(text) AS payload_hash
          |FROM documents""".stripMargin),
    Record("multimodal_resize", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.resizePlan(media, maxSide = 256)
    },
      oracle =
        """WITH m AS (SELECT doc_id AS media_id,
          |    ((doc_id * 48271 + 11) % 1920 + 1)::INT AS width,
          |    ((doc_id * 69621 + 7) % 1080 + 1)::INT AS height
          |  FROM documents)
          |SELECT media_id, width, height,
          |       ceil(width * least(256.0 / width, 256.0 / height, 1.0))::INT AS target_width,
          |       ceil(height * least(256.0 / width, 256.0 / height, 1.0))::INT AS target_height
          |FROM m""".stripMargin),
    Record("multimodal_frames", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, everyMs = 60000L)
        .select(col("media_id"), col("frame_ts_ms"), col("frame_ref"))
    },
      oracle =
        """WITH m AS (SELECT doc_id AS media_id,
          |    (doc_id * 16807 + 3) % 600000 AS duration_ms
          |  FROM documents)
          |SELECT media_id, ts AS frame_ts_ms,
          |       md5(media_id || ':' || ts) AS frame_ref
          |FROM m, unnest(range(0, greatest(duration_ms - 1, 0) + 1, 60000)) AS u(ts)""".stripMargin),
    // byte-block banded near-dup over BINARY payloads (round-8 verdict
    // item 8 — the dedup family extended to opaque media bytes):
    // signature = distinct xxhash64 per 32-byte block, inverted-index
    // screen (lossless for threshold > 0), exact Jaccard verify over
    // the sorted block-hash sets. The oracle replays the ENTIRE
    // pipeline on the text payloads (pure ASCII here, so char slices ==
    // byte blocks): per-block md5 signatures, the shared-block
    // candidate join, and the same correctly-rounded Jaccard division
    Record("dedup_multimodal", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.payloadNearDupPairs(media, blockSize = 32, threshold = 0.5)
    },
      // full replay of the byte-block near-dup pipeline: the corpus is
      // pure ASCII (len == octet_length for every doc, both sf tiers),
      // so DuckDB's char-indexed substr(text, i*32+1, 32) slices the
      // same 32 bytes Spark's binary substring does; md5-vs-xxhash64
      // block keys are interchangeable equality proxies, and the
      // Jaccard is the same correctly-rounded division of exact ints
      oracle =
        """WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) > 0),
          |b AS (SELECT doc_id,
          |        unnest([md5(substr(text, i*32 + 1, 32))
          |                for i in range(0, 1 + (len(text) - 1) // 32)]) AS bh
          |      FROM d),
          |bd AS (SELECT DISTINCT doc_id, bh FROM b),
          |cand AS (SELECT a.doc_id AS ia, x.doc_id AS ib, count(*)::BIGINT AS inter
          |         FROM bd a JOIN bd x USING (bh)
          |         WHERE a.doc_id < x.doc_id GROUP BY 1, 2),
          |sz AS (SELECT doc_id, count(*)::BIGINT AS n FROM bd GROUP BY 1)
          |SELECT ia AS id_a, ib AS id_b,
          |       inter * 1.0 / (sa.n + sb.n - inter) AS jaccard
          |FROM cand JOIN sz sa ON sa.doc_id = cand.ia
          |          JOIN sz sb ON sb.doc_id = cand.ib
          |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5""".stripMargin),
    // CONTENT-SHIFTED multimodal near-dup (round-9 verdict item 8) —
    // the class the byte-block screen above documents as out of scope:
    // a shifted/re-encoded payload shares no aligned blocks, but its
    // DECODED features survive. Compose the decode stage
    // (Multimodal.extractFeatures — deterministic stub codec, real
    // schema/batching) with the embedding dedup family: hyperplane-LSH
    // banding screens candidates, exact cosine verifies. Gate mirrors
    // dedup_embedding: every LSH pair is in the exact all-pairs set
    // (subset_ok — candidates re-verify with the same cosine kernel),
    // and the screen recalls ≥1% of it (recall_ok — the 8-plane band
    // collision floor for near-threshold pairs; identical payloads
    // collide with prob 1). n_media is the SQL-replayable count.
    Record("dedup_multimodal_semantic", (s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      // spread the decode stage across cores (the single-split local scan
      // ran it serially — see spreadForCpu) and FILL the three caches in
      // dependency order before the gate's one collect: the gate plan's
      // broadcast-exchange futures otherwise all hit the still-empty
      // caches at once and each recomputes the full subtree — profiled
      // at 31 jobs/rep with the exact-cosine crossJoin evaluated 3×
      // (taskSum 9.3 s + 4.5 s + 3.1 s for one 9.3 s computation).
      // Optimization round 12, guide §2-fixed-cost / §5-caching.
      val feats = Multimodal.extractFeatures(
          spreadForCpu(media, col("media_id")), dims = 16).toDF()
        .select(col("media_id"), col("feature")).cache()
      feats.count()
      val lsh = Dedup.embeddingPairs(feats, "media_id", "feature",
        threshold = 0.6, planes = 16)
        .select(col("id_a"), col("id_b")).cache()
      val exact = Dedup.embeddingPairsExact(feats, "media_id", "feature",
        threshold = 0.6).cache()
      val (nMedia, nLsh, nExact, nHit) = try {
        lsh.union(exact).count() // one job fills BOTH pair caches
        // both pair sets are distinct by construction (candidates pass a
        // .distinct(); the exact crossJoin emits each ordered pair once),
        // so |lsh ∖ exact| = |lsh| − |lsh ∩ exact| — the anti-join of the
        // old 4-subtree gate plan collapses into count arithmetic over
        // one semi-join, and the 1-row invariant is assembled on the
        // driver instead of as crossJoined aggregates (each extra
        // subtree cost its own exchanges + broadcast-build jobs; the
        // whole row is 3 counts the oracle replays anyway)
        (media.count(), lsh.count(), exact.count(),
          lsh.join(exact, Seq("id_a", "id_b"), "left_semi").count())
      } finally Seq(feats, lsh, exact).foreach(_.unpersist())
      import s.implicits._
      Seq((nMedia, nHit == nLsh,
        nExact > 0 && nHit >= nExact * 0.01))
        .toDF("n_media", "subset_ok", "recall_ok")
    },
      // content-shifted multimodal gate: stub-codec features are not
      // SQL-expressible; subset/recall proofs are Spark-side anti-joins
      // against the exact all-pairs comparator over the SAME features
      oracle =
        """SELECT cast(count(*) as bigint) AS n_media,
          |       true AS subset_ok, true AS recall_ok
          |FROM documents""".stripMargin),
    // INDEX REBUILD POLICY (round-9 verdict item 7) — incremental
    // upkeep is provably exact (the standing-update/forget gates), so
    // the remaining operational question is WHEN drift warrants a
    // scheduled rebuild. The ledger is the three counters every
    // maintenance op increments; the policy is pure basis-point
    // arithmetic (ModelStore.rebuildDue), replayed integer-for-integer
    // by the oracle. Two scenarios, both from deterministic id buckets:
    // heavy churn (batch ingest + 1-in-7 takedowns) must flag, light
    // churn (1-in-97 takedowns, no ingest) must not — falsifiable in
    // both directions.
    Record("index_rebuild_policy", (s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus0 = docs.filter(col("doc_id") % 10 =!= 0)
      def ledger(deleted: DataFrame, added: DataFrame) =
        corpus0.agg(count(lit(1)).as("n0"))
          .crossJoin(deleted.agg(count(lit(1)).as("nd")))
          .crossJoin(added.agg(count(lit(1)).as("na"))).collect()(0)
      def rowOf(scenario: String, r: org.apache.spark.sql.Row) = {
        val (delBp, churnBp, due) =
          ModelStore.rebuildDue(r.getLong(0), r.getLong(1), r.getLong(2))
        (scenario, r.getLong(0), r.getLong(1), r.getLong(2), delBp, churnBp, due)
      }
      val heavy = rowOf("heavy_churn", ledger(
        corpus0.filter(col("doc_id") % 7 === 0),
        docs.filter(col("doc_id") % 10 === 0)))
      val light = rowOf("light_churn", ledger(
        corpus0.filter(col("doc_id") % 97 === 0),
        docs.limit(0)))
      import s.implicits._
      Seq(heavy, light).toDF("scenario", "n_at_build", "n_deleted",
        "n_added", "deleted_bp", "churn_bp", "rebuild_due")
    },
      // rebuild policy: full integer basis-point replay of the ledger
      // arithmetic over the same deterministic id buckets
      oracle =
        """WITH n0 AS (SELECT count(*) AS n0 FROM documents WHERE doc_id % 10 <> 0),
          |hd AS (SELECT count(*) AS nd FROM documents
          |       WHERE doc_id % 10 <> 0 AND doc_id % 7 = 0),
          |ha AS (SELECT count(*) AS na FROM documents WHERE doc_id % 10 = 0),
          |ld AS (SELECT count(*) AS nd FROM documents
          |       WHERE doc_id % 10 <> 0 AND doc_id % 97 = 0)
          |SELECT 'heavy_churn' AS scenario,
          |       cast(n0 as bigint) AS n_at_build,
          |       cast(hd.nd as bigint) AS n_deleted,
          |       cast(ha.na as bigint) AS n_added,
          |       cast(hd.nd * 10000 // n0 as bigint) AS deleted_bp,
          |       cast((hd.nd + ha.na) * 10000 // n0 as bigint) AS churn_bp,
          |       (hd.nd * 10000 // n0 >= 500
          |         OR (hd.nd + ha.na) * 10000 // n0 >= 2000) AS rebuild_due
          |FROM n0, hd, ha
          |UNION ALL
          |SELECT 'light_churn',
          |       cast(n0 as bigint),
          |       cast(ld.nd as bigint),
          |       cast(0 as bigint),
          |       cast(ld.nd * 10000 // n0 as bigint),
          |       cast(ld.nd * 10000 // n0 as bigint),
          |       (ld.nd * 10000 // n0 >= 500 OR ld.nd * 10000 // n0 >= 2000)
          |FROM n0, ld""".stripMargin),
    // Seeded distributed q4112_gen-contract generator + the full query
    // over it, emitted as the reference's own contract
    // `assert(gen_res == run_res)` (q4112_main.c:127): the Catalyst
    // plan's answer, the generator's independent RDD-oracle answer, and
    // their equality. The config is fixed-seed so both answers are
    // deterministic constants — the oracle SQL pins them, turning this
    // into a real regression gate on BOTH the generator and the engine.
    Record("gen_q4112", (s, _) =>
      Q4112.part2(
        graft.gen.Q4112Gen.items(s, genQ4112Config).toDF(),
        graft.gen.Q4112Gen.orders(s, genQ4112Config).toDF(),
        "id", "itemId", "price", "quantity", "storeId"),
      // the generator's independent RDD oracle is the verifier
      check = Some((s, _, run) => {
        val genAnswer = graft.gen.Q4112Gen
          .oracleFullRdd(graft.gen.Q4112Gen.orders(s, genQ4112Config), genQ4112Config)
          .getOrElse(sys.error("generator oracle produced no groups"))
        run.select(col("avg_avg_value").as("engine_answer"),
          lit(genAnswer).as("gen_answer"),
          (col("avg_avg_value") === lit(genAnswer)).as("answers_equal"))
      }),
      // generator contract gate: the fixed-seed config makes both the
      // engine's and the generator-oracle's answer a deterministic
      // constant; pinning them here turns `assert(gen_res == run_res)`
      // (q4112_main.c:127) into a regression gate on generator AND engine
      oracle =
        """SELECT cast(246440 AS BIGINT) AS engine_answer,
          |       cast(246440 AS BIGINT) AS gen_answer,
          |       true AS answers_equal""".stripMargin),
    // DataSource V2 generator (sources/GenSource): the q4112 items
    // generator as a REAL pushdown-aware Spark source. Gate: the
    // source's row SET is exactly the declarative generator's (anti-
    // joins both ways), aggregates agree, and the count matches the
    // constant the oracle expects. Pruning/pushdown/statistics behavior
    // is pinned by SourceV2Spec
    Record("source_gen_v2", (s, dir) => {
      val rows = 20000L; val genSeed = 4112L; val valMax = 1000000L
      val v2 = s.read.format("graft.sources.GenSource")
        .option("rows", rows).option("seed", genSeed)
        .option("valMax", valMax).option("partitions", 8).load()
      val decl = gen.Q4112Gen.items(s, graft.model.GenConfig(
        innerTuples = rows, innerSelectivity = 1.0, innerValMax = valMax,
        outerTuples = rows, outerSelectivity = 1.0, outerValMax = 100L,
        groups = 1L, hhGroups = 0L, hhProbability = 0.0, seed = genSeed)).toDF()
      val aggV2 = v2.agg(count(lit(1)).as("n_v2"), sum(col("price")).as("s_v2"))
      val aggD = decl.agg(count(lit(1)).as("n_d"), sum(col("price")).as("s_d"))
      val extra = v2.join(decl, Seq("id", "price"), "left_anti")
        .agg(count(lit(1)).as("n_extra"))
      val missing = decl.join(v2, Seq("id", "price"), "left_anti")
        .agg(count(lit(1)).as("n_missing"))
      aggV2.crossJoin(aggD).crossJoin(extra).crossJoin(missing)
        .select(col("n_v2").as("n_rows"),
          (col("n_v2") === col("n_d") && col("s_v2") === col("s_d"))
            .as("agg_agree_ok"),
          (col("n_extra") === 0L && col("n_missing") === 0L)
            .as("rowset_equal_ok"))
    },
      // gated DSv2 source: the equality booleans are computed Spark-side
      // (the oracle engine cannot evaluate the xxhash64 fold)
      oracle =
        """SELECT CAST(20000 AS BIGINT) AS n_rows,
          |       true AS agg_agree_ok, true AS rowset_equal_ok""".stripMargin),
  )
}
