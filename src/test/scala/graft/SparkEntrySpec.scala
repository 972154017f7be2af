package graft

/** Driver-contract smoke: every named query runs on sf0.001 and returns
  * rows; every oracle key maps to a real query; the flagship entry works.
  */
class SparkEntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("deletePaths deletes each directory and skips a missing one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-exit")
    java.nio.file.Files.createDirectories(dir.resolve("a/b"))
    java.nio.file.Files.write(dir.resolve("a/b/part-0"), Array[Byte](1, 2))
    val gone = dir.resolveSibling(dir.getFileName.toString + "-never-written").toString
    SparkEntry.deletePaths(Seq(gone, dir.toString))
    assert(!java.nio.file.Files.exists(dir))
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(missing.isEmpty, s"oracle entries without a query: $missing")
  }

  test("every query is oracle-gated (no rows-only checks left)") {
    val ungated = SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
    assert(ungated.isEmpty, s"queries without an oracle: $ungated")
  }

  test("sql_recursive_cyclic's static unroll equals the engine's WITH RECURSIVE") {
    // r12: the query unrolls the depth-capped cycle-guarded recursion
    // statically; this pins it row-for-row to the recursion machinery
    // it replaced (the oracle replays the same SQL in DuckDB)
    Engine.table(spark, sfDir, "nation").createOrReplaceTempView("rcs_nation")
    val viaEngine = spark.sql(
      """WITH edges AS (
        |  SELECT n_nationkey AS src, (2 * n_nationkey + 1) % 25 AS dst
        |  FROM rcs_nation
        |  UNION ALL
        |  SELECT n_nationkey, (3 * n_nationkey + 2) % 25 FROM rcs_nation)
        |SELECT * FROM (
        |  WITH RECURSIVE reach(start, node, path) AS (
        |    SELECT n_nationkey, n_nationkey, array(n_nationkey)
        |    FROM rcs_nation
        |    UNION ALL
        |    SELECT r.start, e.dst, array_append(r.path, e.dst)
        |    FROM reach r JOIN edges e ON r.node = e.src
        |    WHERE NOT array_contains(r.path, e.dst)
        |      AND size(r.path) < 6)
        |  SELECT start, count(DISTINCT node) AS n_reachable,
        |         max(size(path)) AS max_path_len
        |  FROM reach GROUP BY start)""".stripMargin)
    val viaUnroll = SparkEntry.queries("sql_recursive_cyclic")(spark, sfDir)
    assert(viaUnroll.count() > 0)
    assert(viaUnroll.exceptAll(viaEngine).count() === 0)
    assert(viaEngine.exceptAll(viaUnroll).count() === 0)
  }

  test("README query counts match the registry (no drift)") {
    val n = SparkEntry.queries.size
    val readme = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(readme.contains(s"$n named queries"),
      s"README does not state '$n named queries' — registry has $n")
  }

  // the checked form: the run body's output through its check, so
  // every check runs here too
  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"query $name returns rows on sf0.001") {
      assert(SparkEntry.checked(name)(spark, sfDir).count() > 0, s"$name returned 0 rows")
    }
  }

  test("no check ignores its input: checking an emptied run throws or changes the rows") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    for (name <- SparkEntry.checks.keys.toSeq.sorted) {
      val check = SparkEntry.checks(name)
      val run = SparkEntry.queries(name)(spark, sfDir)
      val full = rows(check(spark, sfDir, run))
      val emptied =
        try Some(rows(check(spark, sfDir, run.limit(0))))
        catch { case scala.util.control.NonFatal(_) => None }
      assert(!emptied.contains(full), s"$name's check returns the same rows for an empty run")
    }
  }

  test("embed_rp plans shuffle-free: the projection is one map-only scan") {
    val df = SparkEntry.queries("embed_rp")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"JL projection must not shuffle — sign matrix is plan-time literal:\n$plan")
  }

  test("events_attribution plans ONE exchange (the per-user window sort)") {
    val df = SparkEntry.queries("events_attribution")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val n = "Exchange".r.findAllIn(plan).length
    assert(n == 1, s"expected exactly one Exchange (user window), got $n:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"attribution must be a window carry-forward, not a join:\n$plan")
  }

  test("agg_rolling_distinct and join_asof_nearest never plan a range join") {
    for (name <- Seq("agg_rolling_distinct", "join_asof_nearest")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
        s"$name must not range-join:\n$plan")
    }
  }

  test("q4112_part1_nlj plans as BroadcastNestedLoopJoin and matches the hash join") {
    val df = SparkEntry.queries("q4112_part1_nlj")(spark, sfDir)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin"),
      s"expected a nested-loop join (reference J1/J2), got:\n$physical")
    // same query through the hash-join path on the same filtered inputs
    import org.apache.spark.sql.functions._
    val it = graft.Engine.table(spark, sfDir, "part")
      .select(col("p_partkey"), floor(col("p_retailprice")).as("price"))
      .filter(col("p_partkey") < 2000)
    val or = graft.Engine.table(spark, sfDir, "lineitem")
      .select(col("l_partkey"), floor(col("l_quantity")).as("quantity"))
      .filter(col("l_partkey") < 2000)
    val hash = graft.ops.Q4112.part1(it, or, "p_partkey", "l_partkey",
      "price", "quantity").collect().head.getLong(0)
    assert(df.collect().head.getLong(0) === hash)
  }

  test("sketch-invariant gates hold: fm_ok / hll_ok / approx_ok / recall_ok all true") {
    import org.apache.spark.sql.functions.col
    val k = (col("l_orderkey") * 10 + col("l_linenumber")).as("k")
    val fmDebug = graft.Engine.table(spark, sfDir, "lineitem").select(k)
      .agg(org.apache.spark.sql.functions.countDistinct(col("k")),
        graft.functions.FlajoletMartin.fmCountDistinct(col("k"), logPartitions = 8))
      .head()
    assert(SparkEntry.checked("distinct_fm")(spark, sfDir)
      .filter(!col("fm_ok")).isEmpty,
      s"FM outside [n/2, 4n]: exact=${fmDebug.getLong(0)} fm=${fmDebug.getLong(1)}")
    assert(SparkEntry.checked("distinct_hll")(spark, sfDir)
      .filter(!col("hll_ok")).isEmpty, "HLL estimate outside 3·rsd")
    assert(SparkEntry.queries("agg_percentile_approx")(spark, sfDir)
      .filter(!col("approx_ok")).isEmpty, "approx percentile off by > 1")
    // the recall gate must clear its floor at EVERY test sf (the driver
    // gates sf0.01; the others guard against data-shape sensitivity)
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = graft.Engine.table(spark, d, "embeddings")
      val pr = e.filter(col("vec_id") <= 5)
      val bt = graft.ops.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        pr, "vec_id", "embedding", k = 5).select(col("probe_id"), col("corpus_id"))
      val iv = graft.ops.Similarity.ivfTopK(e, "vec_id", "embedding",
        pr, "vec_id", "embedding", k = 5, nCentroids = 8, nProbe = 3)
        .select(col("probe_id"), col("corpus_id"))
      val nb = bt.count(); val nh = bt.join(iv, Seq("probe_id", "corpus_id"), "left_semi").count()
      assert(SparkEntry.checked("sim_recall_ivf")(spark, d)
        .filter(!col("recall_ok")).isEmpty, s"IVF recall below floor at $d: $nh/$nb")
    }
  }

  test("hh_cms_exact keeps the sketch probe out of UDF land (codegen expression)") {
    val df = SparkEntry.queries("hh_cms_exact")(spark, sfDir)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("UDF"), s"CMS probe still a UDF:\n$physical")
    assert(df.queryExecution.optimizedPlan.toString.contains("cms_might_be_heavy"))
  }

  test("round-4 sketch gates hold at EVERY test sf (driver gates only sf0.01)") {
    import org.apache.spark.sql.functions.col
    // each gated query emits (count-the-oracle-recomputes, ok-booleans);
    // asserting the booleans across sfs guards the thresholds against
    // data-shape sensitivity the same way the sim_recall_ivf loop does
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val sh = SparkEntry.checked("dedup_simhash")(spark, d).head()
      assert(sh.getBoolean(1), s"simhash banding != exhaustive hamming<=3 at $d")
      assert(sh.getBoolean(2), s"simhash pair below exact-Jaccard 0.8 at $d")
      val wn = SparkEntry.checked("dedup_winnow")(spark, d).head()
      assert(wn.getBoolean(1), s"winnow screen missed an exact J>=0.8 pair at $d")
      assert(wn.getBoolean(2), s"winnow pair below exact-Jaccard 0.5 at $d")
      val em = SparkEntry.checked("dedup_embedding")(spark, d).head()
      assert(em.getBoolean(1), s"embedding LSH pair outside exact cos>=0.25 set at $d")
      assert(em.getBoolean(2), s"embedding LSH recall below 1% floor at $d")
      val sd = SparkEntry.checked("dedup_semantic")(spark, d).head()
      assert(sd.getBoolean(1), s"semantic pair outside exact cos>=0.25 set at $d")
      assert(sd.getBoolean(2), s"semantic within-cluster recall below 1/k floor at $d")
      assert(SparkEntry.checked("text_fingerprint")(spark, d)
        .filter(!col("bounds_ok")).isEmpty, s"winnow sketch size outside bounds at $d")
    }
  }

  test("every checks key has a matching queries entry") {
    // a typo'd key would leave its query's output unchecked
    val unknown = SparkEntry.checks.keySet.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"checks keys not in queries: $unknown")
  }

  test("the family records make up the registry, each check in its own query's record") {
    val families = SparkEntry.families
    assert(families.map(_.size).sum === SparkEntry.queries.size)
    val records = families.flatten
    assert(records.map(_.name).toSet === SparkEntry.queries.keySet)
    val checkedNames = records.filter(_.check.isDefined).map(_.name)
    assert(checkedNames.toSet === SparkEntry.checks.keySet)
    assert(checkedNames.size === SparkEntry.checks.size)
  }

  test("a query name registered twice fails registry assembly, naming it") {
    val r = SparkEntry.Record("dup_query", (s, _) => s.emptyDataFrame, oracle = "SELECT 1")
    val e = intercept[IllegalArgumentException](
      SparkEntry.byName(Seq(r, r.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("dup_query"), e.getMessage)
  }

  test("tpch_q21 plans the EXISTS / NOT EXISTS pair as one semi and one anti join") {
    val physical = SparkEntry.queries("tpch_q21")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(physical.contains("LeftSemi"), s"EXISTS not a semi join:\n$physical")
    assert(physical.contains("LeftAnti"), s"NOT EXISTS not an anti join:\n$physical")
    assert(!physical.contains("CartesianProduct"), s"q21 fell to a cartesian:\n$physical")
  }

  test("linregMilli recovers exact coefficients on residual-free data") {
    // y = 3 + 2*x1 - x2 over 4 non-collinear points: residuals are
    // zero, so the least-squares solution is the generating plane and
    // every milli coefficient is exact
    val pts = Seq((1L, 1L), (2L, 1L), (1L, 3L), (5L, 2L))
    def y(x1: Long, x2: Long) = 3L + 2L * x1 - x2
    val rows = pts.map { case (x1, x2) => (x1, x2, y(x1, x2)) }
    val sums = Seq(
      rows.size.toLong,
      rows.map(_._1).sum, rows.map(_._2).sum,
      rows.map(r => r._1 * r._1).sum, rows.map(r => r._1 * r._2).sum,
      rows.map(r => r._2 * r._2).sum, rows.map(_._3).sum,
      rows.map(r => r._1 * r._3).sum, rows.map(r => r._2 * r._3).sum)
    assert(SparkEntry.linregMilli(sums) === ((3000L, 2000L, -1000L, true)))
  }

  test("linregMilli flags a singular system instead of dividing by zero") {
    // x2 = 2*x1 everywhere: collinear features, det = 0
    val rows = Seq((1L, 2L, 5L), (2L, 4L, 7L), (3L, 6L, 9L))
    val sums = Seq(
      rows.size.toLong,
      rows.map(_._1).sum, rows.map(_._2).sum,
      rows.map(r => r._1 * r._1).sum, rows.map(r => r._1 * r._2).sum,
      rows.map(r => r._2 * r._2).sum, rows.map(_._3).sum,
      rows.map(r => r._1 * r._3).sum, rows.map(r => r._2 * r._3).sum)
    assert(SparkEntry.linregMilli(sums) === ((0L, 0L, 0L, false)))
  }

  test("dedup_minhash equals the exact all-pairs Jaccard set on the test corpus") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Engine.table(spark, sfDir, "documents")
    val lsh = SparkEntry.queries("dedup_minhash")(spark, sfDir)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 5, threshold = 0.5)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exact,
      s"LSH missed ${exact.diff(lsh)} / extra ${lsh.diff(exact)}")
  }
}
