package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._

/** The reference's one query, generalized: inner equi-join (FK→PK) then
  * integer-average aggregation, ungrouped (part 1 — q4112_hj_1.c:10-77)
  * or grouped by a key with a final integer avg-of-avgs (part 2 —
  * q4112.c:470-577).
  *
  * All averages are 64-bit integer floor division (`sum DIV count`), NOT
  * Spark's float `avg()` — the reference mandates integer-only arithmetic
  * (4112_project_2.pdf p.3; divisions at q4112.c:326, :576).
  *
  * Physical mapping (scale rationale):
  *  - The build side is broadcast when small (the reference hard-codes
  *    items as build side — q4112.h:45-50); callers pick the strategy via
  *    [[JoinStrategy]], which maps 1:1 onto the reference's four engines.
  *  - The grouped aggregate relies on Spark's partial aggregation
  *    (map-side combine) — the same design as the reference's
  *    thread-local pre-aggregation cache (q4112.c:225-297): hot groups
  *    collapse before the shuffle, so heavy-hitter skew (hh configs)
  *    costs one combiner entry per partition, not a hot reducer. When
  *    statistics bound the group domain, the partial aggregate is a
  *    per-task array instead and the arrays are merged range by range
  *    in a reduce-scatter ([[denseGroupedAvg]]), with no hash map on
  *    either side of the shuffle.
  *  - The final avg-of-avgs is a single ungrouped aggregate over one row
  *    per group — negligible at any scale.
  */
object Q4112 {

  /** The reference's four interchangeable physical engines (Makefile:7)
    * surfaced as join strategy hints. Catalyst + AQE pick the best
    * strategy on `Auto`; the explicit variants exist for parity and
    * benchmarking, exactly like the reference's one-binary-per-algorithm
    * layout.
    */
  sealed trait JoinStrategy { def hint: Option[String] }
  case object Auto extends JoinStrategy { val hint = None }
  case object BroadcastHash extends JoinStrategy { val hint = Some("broadcast") }
  case object ShuffledHash extends JoinStrategy { val hint = Some("shuffle_hash") }
  case object SortMerge extends JoinStrategy { val hint = Some("merge") }

  // ------------------------------------------------------------------
  // Relation-keyed caches — build-once semantics for per-relation work.
  //
  // Keyed on the CANONICALIZED logical plan (structural equality, the
  // same notion Spark's own `sameResult` uses), so repeated queries
  // over an UNCHANGED relation reuse: (a) the dense-key broadcast array
  // (a dimension-table index is built once per table version, not once
  // per query — round-4 measured the per-query build at 17.9 s of
  // cfg18's 28.6 s), (b) the adaptive sampler's shared-mass statistic
  // (~1-3 s inside every timed query), and (c) min/max column stats for
  // the pack-bounds proof. This is the cache any engine keeps next to
  // its catalog; callers that REPLACE data under an identical plan
  // (e.g. the Matrix harness re-creating a catalog table per config)
  // must call [[clearRelationCaches]] at the boundary.
  // ------------------------------------------------------------------
  private val denseCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, String, String),
      (org.apache.spark.broadcast.Broadcast[Array[Long]], Long)]
  private val sampleCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, String), (Long, Long, Double)] // (tot, sampleNdv, sharedMass)
  private val minMaxCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, Seq[String]), Option[Seq[(Long, Long)]]]
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[LogicalPlan, java.lang.Long]
  private val nullCountCache =
    new java.util.concurrent.ConcurrentHashMap[(LogicalPlan, String), java.lang.Long]

  /** Drop every relation-keyed cache entry (and destroy the cached
    * broadcasts). Call when data changes under an unchanged plan —
    * table overwrite, new generator config behind the same view name.
    */
  def clearRelationCaches(): Unit = {
    denseCache.values.forEach { v => v._1.destroy() }
    denseCache.clear()
    sampleCache.clear()
    minMaxCache.clear()
    rowCountCache.clear()
    nullCountCache.clear()
    LayoutRegistry.clear() // routed layouts are relation-keyed too
  }

  /** min/max per column as Longs, from CATALOG/plan column statistics
    * when present (ANALYZE TABLE ... FOR COLUMNS; zero jobs) — the
    * 100 TB path, a planner must not pre-pay a scan for numbers the
    * catalog already knows — falling back to ONE cached agg scan for
    * bare un-analyzed sources (paid once per relation, not per query).
    */
  def minMaxLongsOpt(df: DataFrame, cols: Seq[String]): Option[Seq[(Long, Long)]] = {
    val plan = df.queryExecution.optimizedPlan
    def toLong(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => throw new IllegalArgumentException(
        s"non-integral column stat: $other (${other.getClass.getName})")
    }
    val fromStats: Option[Seq[(Long, Long)]] = {
      val stats = plan.stats
      val perCol = cols.map { c =>
        plan.output.find(_.name.equalsIgnoreCase(c)).flatMap { a =>
          stats.attributeStats.get(a).flatMap { cs =>
            for (mn <- cs.min; mx <- cs.max) yield (toLong(mn), toLong(mx))
          }
        }
      }
      if (perCol.forall(_.isDefined)) Some(perCol.map(_.get)) else None
    }
    fromStats.map(Some(_)).getOrElse {
      minMaxCache.computeIfAbsent((plan.canonicalized, cols), { _ =>
        val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        // an empty relation (or an all-NULL column) yields NULL min/max —
        // report "no stats" so callers fall back to the plain plan
        // instead of NPE-ing in the planner (round-9 advice item 3);
        // toLong, not getLong: int-stored columns aggregate to Int
        if (cols.indices.exists(i => r.isNullAt(2 * i) || r.isNullAt(2 * i + 1))) None
        else Some(cols.indices.map(i => (toLong(r.get(2 * i)), toLong(r.get(2 * i + 1)))))
      })
    }
  }

  /** [[minMaxLongsOpt]] for callers that have already proven the relation
    * non-empty; throws on missing stats (empty/all-NULL input).
    */
  def minMaxLongs(df: DataFrame, cols: Seq[String]): Seq[(Long, Long)] =
    minMaxLongsOpt(df, cols).getOrElse(throw new IllegalStateException(
      s"no min/max stats for ${cols.mkString(",")} (empty or all-NULL input)"))

  /** NULL count for one column — catalog column stats when present
    * (zero jobs), else one cached agg scan per (relation, column). The
    * planner's bridge between schema nullability (which Catalyst sets
    * pessimistically: any %-derived column is "nullable") and the
    * DATA's actual nulls, which is what null-intolerant physical forms
    * ([[sharedDenseGroupedAvg]]) care about.
    */
  def nullCountLong(df: DataFrame, c: String): Long = {
    val plan = df.queryExecution.optimizedPlan
    statsNullCount(plan, c).getOrElse {
      nullCountCache.computeIfAbsent((plan.canonicalized, c), { _ =>
        java.lang.Long.valueOf(
          df.agg(count(when(col(c).isNull, 1)).as("n")).head().getLong(0))
      }).longValue()
    }
  }

  /** Catalog/plan-statistics null count for one column, zero jobs. The
    * single resolution path [[nullCountLong]] and [[colsCarryNulls]]
    * both go through, so they can never disagree on the same
    * (relation, column).
    */
  private def statsNullCount(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      c: String): Option[Long] =
    plan.output.find(_.name.equalsIgnoreCase(c)).flatMap { a =>
      plan.stats.attributeStats.get(a).flatMap(_.nullCount.map(_.toLong))
    }

  /** Does the column carry ACTUAL nulls? Schema-first short-circuit (a
    * non-nullable column provably cannot), then the data's null count
    * from [[nullCountLong]] — the router's null-freedom proof for the
    * null-intolerant physical forms.
    */
  private[graft] def colCarriesNulls(df: DataFrame, c: String): Boolean =
    colsCarryNulls(df, Seq(c))

  /** [[colCarriesNulls]] over several columns of ONE relation, with at
    * most ONE data scan total: schema non-nullability and catalog/cached
    * stats resolve columns job-free, and every column still unresolved
    * is answered by a single multi-count aggregate (the fact table is
    * 1e9 rows on the raw-parquet route — one pass, not one per column).
    */
  private[graft] def colsCarryNulls(df: DataFrame, cols: Seq[String]): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    var carries = false
    val unresolved = scala.collection.mutable.ArrayBuffer[String]()
    cols.foreach { c =>
      if (df.schema(c).nullable) {
        val cached = Option(nullCountCache.get((plan.canonicalized, c))).map(_.longValue())
        statsNullCount(plan, c).orElse(cached) match {
          case Some(n) => if (n > 0L) carries = true
          case None => unresolved += c
        }
      }
    }
    if (!carries && unresolved.nonEmpty) {
      val aggs = unresolved.toSeq.map(c => count(when(col(c).isNull, 1)).as(s"n_$c"))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      unresolved.zipWithIndex.foreach { case (c, i) =>
        val n = row.getLong(i)
        nullCountCache.put((plan.canonicalized, c), java.lang.Long.valueOf(n))
        if (n > 0L) carries = true
      }
    }
    carries
  }

  /** Test hook: makes the router behave as if on a cluster so the
    * shared-dense fallback path is assertable without spinning up a
    * multi-JVM master (round-10 verdict item 8). Production value is
    * always false; [[sharedDenseLocalOk]] consults it.
    */
  private[graft] var simulateClusterForTest: Boolean = false

  /** Is the single-JVM shared-dense form admissible here? */
  private def sharedDenseLocalOk(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.isLocal && !simulateClusterForTest

  /** Relation row count from plan/catalog statistics when present (zero
    * jobs — a cached relation knows its row count, an ANALYZEd table has
    * stats), else ONE count per relation, cached. Never a scan per query.
    */
  private def relationRows(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong).getOrElse {
      rowCountCache.computeIfAbsent(
        df.queryExecution.optimizedPlan.canonicalized,
        _ => java.lang.Long.valueOf(df.count())).longValue()
    }

  /** True when the build side's key domain is provably contiguous
    * (max − min + 1 == rows) and small enough for one array — the shape
    * of every surrogate-key dimension, and the precondition for the
    * dense-array perfect-hash probe ([[part1Dense]]/[[part2Dense]]).
    * Decided from CACHED statistics (catalog column stats or the
    * once-per-relation min/max scan, plus the relation row count): zero
    * extra jobs on repeat queries, so the adaptive planners can prefer
    * the dense probe over a hash-map probe whenever it is legal — a
    * bounds-check + array index per probe row beats a BytesToBytesMap
    * lookup at every build size (the reference exploits the same layout
    * fact: items.id is contiguous, q4112.h:14). Returns false (never
    * throws) for non-integral keys or missing relations.
    */
  def denseEligible(items: DataFrame, itemKey: String): Boolean =
    try {
      val Seq((mn, mx)) = minMaxLongs(items, Seq(itemKey))
      val rows = relationRows(items)
      rows > 0L && mx - mn + 1L == rows && rows <= Int.MaxValue.toLong
    } catch { case scala.util.control.NonFatal(_) => false }

  /** The physical aggregation plan [[part2Adaptive]] last chose, for the
    * harness's CSV plan column (benchmark rows must name the plan that
    * actually ran, not "auto"). Driver-side only, set once per
    * `part2Adaptive` call before any job runs — the Matrix/Bench loops
    * are single-threaded drivers, so a plain volatile is sufficient.
    */
  @volatile var lastChosenPlan: String = "none"

  /** The layout advice the adaptive planners last emitted ("" when the
    * chosen plan was already exchange-free). Surfaced so harnesses and
    * specs can assert the hint fires; the human-facing copy goes to
    * stdout at plan time, where `Explain` runs show it next to the plan.
    */
  @volatile var lastAdvice: String = ""

  private def advise(msg: String): Unit = {
    lastAdvice = msg
    if (msg.nonEmpty) println(s"[layout-advice] $msg")
  }

  /** True when `df`'s scan output is already hash-clustered on `keyCol` —
    * a bucketed table (or a cached scan of one), the layout written by
    * [[graft.sources.Tables.writeBucketed]]. A grouped aggregate on the
    * cluster key over such a scan needs NO exchange: Catalyst's
    * `EnsureRequirements` sees the `HashPartitioning` already satisfies
    * the aggregate's `ClusteredDistribution` and elides the shuffle.
    * This is how the adaptive planner detects the exchange-free layout
    * instead of requiring an env-var override (round-3 verdict item 1);
    * the reference's analogue is its layout-aware hand-tuned table
    * (q4112_hj_1.c:38-43, README-2.txt:32-43).
    */
  def clusteredOn(df: DataFrame, keyCol: String): Boolean =
    df.queryExecution.sparkPlan.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.length == 1 && (h.expressions.head match {
          case a: Attribute => a.name.equalsIgnoreCase(keyCol)
          case _ => false
        })
      case _ => false
    }

  /** True when `a` and `b` are co-partitioned for an equi-join on
    * (aKey == bKey): both scans report a single-column HashPartitioning
    * on their join key with the SAME partition count — the layout
    * [[graft.sources.Tables.writeBucketed]] produces on both sides. An
    * equi-join over such scans needs no exchange at all:
    * EnsureRequirements sees both children already satisfy the join's
    * clustered distribution. Partition counts must match — with unequal
    * bucket counts Spark re-shuffles one side, which is no longer the
    * exchange-free plan.
    */
  def coPartitioned(a: DataFrame, aKey: String, b: DataFrame, bKey: String): Boolean = {
    def parts(df: DataFrame, key: String): Option[Int] =
      df.queryExecution.sparkPlan.outputPartitioning match {
        case h: HashPartitioning if h.expressions.length == 1 =>
          h.expressions.head match {
            case attr: Attribute if attr.name.equalsIgnoreCase(key) => Some(h.numPartitions)
            case _ => None
          }
        case _ => None
      }
    (parts(a, aKey), parts(b, bKey)) match {
      case (Some(x), Some(y)) => x == y
      case _ => false
    }
  }

  /** Integer division `sumCol div cntCol` (both Long; non-negative in all
    * reference configs, so truncating and floor division coincide).
    */
  def intDiv(sumCol: Column, cntCol: Column): Column =
    call_function("div", sumCol, cntCol)

  /** items ⋈ orders with the chosen physical strategy.
    * @param items  (key, price)  — build side
    * @param orders (fkey, group, quantity) — probe side
    */
  def join(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      strategy: JoinStrategy = BroadcastHash): DataFrame = {
    val hinted = strategy.hint.fold(items)(h => items.hint(h))
    orders.join(hinted, orders(orderKey) === hinted(itemKey), "inner")
  }

  /** Build the broadcast value array for the dense-key probe path.
    * Requires the build side's keys to form a contiguous integer domain
    * (verified; throws otherwise) — the shape of every dimension table
    * with a surrogate key, and of the reference's items.id (q4112.h:14).
    */
  def denseValuesArray(
      items: DataFrame,
      itemKey: String,
      valueCol: String): (org.apache.spark.broadcast.Broadcast[Array[Long]], Long) = {
    // build-once per (relation, key, value): a dimension index is a
    // property of the table version, not of the query — see the cache
    // block at the top of this object
    val cacheKey = (items.queryExecution.optimizedPlan.canonicalized, itemKey, valueCol)
    denseCache.computeIfAbsent(cacheKey,
      _ => buildDenseValuesArray(items, itemKey, valueCol))
  }

  private def buildDenseValuesArray(
      items: DataFrame,
      itemKey: String,
      valueCol: String): (org.apache.spark.broadcast.Broadcast[Array[Long]], Long) = {
    val t0 = System.nanoTime()
    val s = items.agg(min(col(itemKey)), max(col(itemKey)), count(lit(1))).head()
    val (mn, mx, n) = (s.getLong(0), s.getLong(1), s.getLong(2))
    require(mx - mn + 1L == n,
      s"dense-key path requires a contiguous domain: [$mn,$mx] holds $n keys")
    require(n <= Int.MaxValue, s"domain too large for one array: $n")
    // pack each partition into primitive arrays; when the partition's keys
    // are already an ascending contiguous run — true for every
    // range-partitioned surrogate-key dim, e.g. spark.range output or a
    // key-sorted parquet file — ship ONLY the values (8 B/key, keys
    // reconstructed from the run start) and fill with one arraycopy.
    // Non-contiguous partitions fall back to (keys, values) pairs. Either
    // way the driver-side assembly is the same data path Spark's own
    // BroadcastExchangeExec uses (executeCollect → build relation), at
    // half the bytes on the fast path.
    val chunkRdd = items.select(col(itemKey), col(valueCol)).rdd.mapPartitions { it =>
      val ks = new scala.collection.mutable.ArrayBuilder.ofLong
      val vs = new scala.collection.mutable.ArrayBuilder.ofLong
      var first = Long.MinValue
      var prev = Long.MinValue
      var contiguous = true
      it.foreach { r =>
        val k = r.getLong(0)
        if (first == Long.MinValue) first = k
        else if (contiguous && k != prev + 1L) contiguous = false
        prev = k
        if (!contiguous) ks += k
        vs += r.getLong(1)
      }
      val varr = vs.result()
      if (first == Long.MinValue) Iterator.empty
      else if (contiguous) Iterator.single((first, null: Array[Long], varr))
      else {
        // keys recorded only after the break — rebuild the full key array
        val tail = ks.result()
        val all = new Array[Long](varr.length)
        val nContig = varr.length - tail.length
        var i = 0
        while (i < nContig) { all(i) = first + i; i += 1 }
        System.arraycopy(tail, 0, all, nContig, tail.length)
        Iterator.single((first, all, varr))
      }
    }
    val arr = new Array[Long](n.toInt)
    // stream each partition's chunk into the target array AS IT ARRIVES
    // (runJob resultHandler — serialized calls, happens-before on
    // return) instead of collect()-ing all chunks first: the driver
    // never holds the full 8-16 B/key chunk set NEXT TO `arr`, and each
    // chunk is unreachable the moment its arraycopy finishes. Halves
    // peak driver allocation at inner=1e8 — the allocation spike that
    // made build times swing 3-58 s under a loaded heap (SCALING.md
    // round-4 footnote) — while keeping the same data path
    // (task-result fetch, as Spark's own BroadcastExchangeExec uses).
    val fill = (chunks: Array[(Long, Array[Long], Array[Long])]) =>
      chunks.foreach { case (first, ks, vs) =>
        if (ks == null) System.arraycopy(vs, 0, arr, (first - mn).toInt, vs.length)
        else {
          var i = 0
          while (i < ks.length) { arr((ks(i) - mn).toInt) = vs(i); i += 1 }
        }
      }
    items.sparkSession.sparkContext.runJob[
      (Long, Array[Long], Array[Long]), Array[(Long, Array[Long], Array[Long])]](
      chunkRdd,
      (it: Iterator[(Long, Array[Long], Array[Long])]) => it.toArray,
      (_: Int, chunks: Array[(Long, Array[Long], Array[Long])]) => fill(chunks))
    val bc = items.sparkSession.sparkContext.broadcast(arr)
    System.err.println(f"[dense-build] n=$n build=${(System.nanoTime() - t0) / 1e9}%.3f s")
    (bc, mn)
  }

  /** Part 1 via the dense-key array probe ([[graft.functions.DenseArrayLookup]]):
    * the "perfect hash join" plan a hand-tuner would write for a dense
    * dimension — no hash, no probe chain, the whole join is one codegen'd
    * bounds-check + array index per probe row.
    */
  def part1Dense(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String): DataFrame = {
    val (bc, mn) = denseValuesArray(items, itemKey, priceCol)
    // the cast widens 32-bit-stored keys (the narrow ingest layout,
    // Matrix round 10) and is a no-op on long columns; the long×int
    // product below promotes to long before any sum, per the P1 contract
    orders
      .select(graft.functions.DenseLookup(bc, mn)(col(orderKey).cast("long")).as("price"),
        col(quantityCol).as("q"))
      .where(col("price").isNotNull) // inner-join drop semantics
      .agg(sum(col("price") * col("q")).as("s"), count(lit(1)).as("c"))
      .select(expr("s div c").as("avg_value"))
  }

  /** Part 2 via the dense-key array probe: lookup + filter + two-level
    * integer aggregation, no join operator in the plan at all.
    */
  def part2Dense(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String): DataFrame = {
    val (bc, mn) = denseValuesArray(items, itemKey, priceCol)
    orders
      .select(graft.functions.DenseLookup(bc, mn)(col(orderKey).cast("long")).as("price"),
        col(quantityCol).as("q"), col(groupCol))
      .where(col("price").isNotNull)
      .groupBy(col(groupCol))
      .agg(sum(col("price") * col("q")).as("s"), count(lit(1)).as("c"))
      .select(expr("s div c").as("avg_value"))
      .agg(sum(col("avg_value")).as("ss"), count(lit(1)).as("cc"))
      .select(expr("ss div cc").as("avg_avg_value"))
  }

  /** The joined (group, v = price*quantity) projection, via the dense
    * array probe when the build side is a contiguous-key dimension, else
    * a broadcast hash join — the common front half of every part-2 plan.
    */
  private[graft] def groupedValues(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      dense: Boolean): DataFrame =
    if (dense) {
      val (bc, mn) = denseValuesArray(items, itemKey, priceCol)
      orders
        .select(graft.functions.DenseLookup(bc, mn)(col(orderKey).cast("long")).as("price"),
          col(quantityCol).as("q"), col(groupCol))
        .where(col("price").isNotNull)
        .select(col(groupCol), (col("price") * col("q")).as("v"))
    } else
      join(items, orders, itemKey, orderKey, BroadcastHash)
        .select(col(groupCol), (col(priceCol) * col(quantityCol)).as("v"))

  /** Part 2 with map-side partial aggregation BYPASSED: pre-partition the
    * slim (group, v) rows on the group key, so the one exchange ships raw
    * 16-byte rows and aggregation happens post-shuffle over complete
    * groups, with a bounded (≈ groups / numPartitions)-entry map per
    * reducer.
    *
    * This is the right plan when groups ≈ rows (singleton-heavy): partial
    * aggregation collapses nothing for singleton groups yet still builds a
    * per-task hash map of every distinct group the task sees — tens of
    * millions of entries that overflow the aggregation memory, spill, and
    * sort-merge, all for zero exchange savings. The reference faces the
    * identical decision and resolves it with the same information: its FM
    * sketch (q4112.c:336-377) estimates the group count up front, sizes
    * the global table from it, and its thread-local pre-aggregation only
    * pays off when groups are few enough to cache (README-2.txt:32-43).
    * [[part2Adaptive]] reuses our A5 operator (FlajoletMartin) to make
    * exactly that call.
    */
  def part2Bypass(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      numPartitions: Int,
      dense: Boolean = false): DataFrame =
    groupedValues(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol, dense)
      .repartition(numPartitions, col(groupCol))
      .groupBy(col(groupCol))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .select(expr("s div c").as("avg_value"))
      .agg(sum(col("avg_value")).as("ss"), count(lit(1)).as("cc"))
      .select(expr("ss div cc").as("avg_avg_value"))

  /** [[part2Bypass]] with the exchange rows PACKED into one long:
    * group ⋅ 2^34 + v (valid while group < 2^29 and v < 2^34 — checked
    * against the reference value caps: v = price·quantity ≤ 99999², and
    * the matrix tops out at 1e8 groups). Cuts the dominant cost of the
    * singleton-group shape — the raw-row exchange through disk — from
    * 24 B to 16 B per UnsafeRow. The groupBy keys on the unpack
    * expression, which canonicalizes equal to the repartition
    * expression, so the plan keeps exactly ONE exchange
    * (PackedBypassSpec pins this).
    *
    * PRECONDITION: 0 ≤ group < 2^29 and 0 ≤ v = price·quantity < 2^34
    * for EVERY row — a negative v (negative price or quantity) or an
    * oversized group borrows into the other field's bits and silently
    * corrupts the aggregate. With `checked = true` (default) each row is
    * validated in the pack projection and an unpackable row raises an
    * error; [[part2Adaptive]] passes `checked = false` because it has
    * already proven the bounds from min/max statistics over the same
    * columns — per-row checks would re-pay four comparisons per row for
    * facts the planner established once.
    */
  def part2BypassPacked(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      numPartitions: Int,
      dense: Boolean = false,
      checked: Boolean = true): DataFrame = {
    val packExpr = shiftleft(col(groupCol), 34) + col("v")
    val guarded =
      if (!checked) packExpr
      else when(
        col(groupCol) >= 0 && col(groupCol) < (1L << 29) &&
          col("v") >= 0 && col("v") <= ((1L << 34) - 1),
        packExpr)
        .otherwise(raise_error(format_string(
          "part2BypassPacked: unpackable row: group=%d v=%d (need 0 <= group < 2^29, 0 <= v < 2^34)",
          col(groupCol), col("v"))))
    // widen a 32-bit-stored group before shifting: shiftleft on an INT
    // masks the shift amount to 5 bits (34 ≡ 2) and would silently
    // corrupt the packing; the cast is a no-op on long columns
    val packed = groupedValues(items, orders, itemKey, orderKey, priceCol, quantityCol,
      groupCol, dense)
      .select(col(groupCol).cast("long").as(groupCol), col("v"))
      .select(guarded.as("p"))
    val g = shiftright(col("p"), 34)
    packed
      .repartition(numPartitions, g)
      .groupBy(g.as("g"))
      .agg(sum(col("p").bitwiseAND(lit((1L << 34) - 1))).as("s"), count(lit(1)).as("c"))
      .select(expr("s div c").as("avg_value"))
      .agg(sum(col("avg_value")).as("ss"), count(lit(1)).as("cc"))
      .select(expr("ss div cc").as("avg_avg_value"))
  }

  /** Group-domain ceiling for [[part2DenseAgg]]: 2²² slots = 64 MB of
    * accumulators per task (two long arrays) — L3-adjacent, and bounded
    * at ~2 GB across 32 concurrent tasks. Above this the arrays stop
    * fitting cache and the hash aggregate's locality is no worse.
    */
  val DenseAggMaxDomain: Long = 1L << 22

  /** Part 2 with the PARTIAL AGGREGATE itself dense — the reference's
    * own accumulation shape (q4112.c:225-297 aggregates into a sized
    * global array after its FM sketch bounds the group count): when the
    * group domain is contiguous and bounded ([lo, hi], hi−lo+1 ≤
    * [[DenseAggMaxDomain]], proven from cached column min/max
    * statistics), each task accumulates sum/count into two plain long
    * arrays indexed by (group − lo). This replaces the per-row
    * UnsafeFixedWidthAggregationMap probe (hash + row compare over a
    * ~1e6-entry map that misses cache) with a bounds-checked array add —
    * the profiled r9 attribution put that probe at the center of the
    * cold cfg10/17 gap (one uniform CPU-bound stage, ~430 ns/row, zero
    * spill). The arrays are then merged by a reduce-scatter, not by
    * hashing: see [[denseGroupedAvg]].
    *
    * Exactness: identical arithmetic to [[part2]] — long sums with the
    * same wrap semantics inside a task, `s div c` per group, integer
    * avg-of-avgs. Array indexing is total on the proven [lo, hi] domain.
    */
  def part2DenseAgg(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      minGroup: Long,
      domain: Int,
      dense: Boolean = false): DataFrame =
    denseGroupedAvg(
      groupedValues(items, orders, itemKey, orderKey, priceCol,
        quantityCol, groupCol, dense)
        .select(col(groupCol).cast("long"), col("v").cast("long")),
      minGroup, domain)

  // slots per reducer range in [[denseGroupedAvg]]: ~1 MB of merge arrays
  private val DenseAggSlotsPerReducer = 1 << 16

  /** One task's share of one reducer's slot range in [[denseGroupedAvg]]:
    * a dense slice of the range (`slots == null`) or, for a range less
    * than half occupied, (slot, sum, count) triples, slots relative to
    * the range start. `hasV(j)`: entry j saw a non-NULL v; null when the
    * input is non-nullable.
    */
  private final case class DenseChunk(
      slots: Array[Int], sums: Array[Long], cnts: Array[Long], hasV: Array[Boolean])

  /** The dense-accumulation stage of [[part2DenseAgg]] over a prepared
    * (group, v) projection — exposed separately so the accumulation can
    * be measured/tested without the join front half.
    *
    * Merge: a reduce-scatter of the per-task arrays. The slots split into
    * R = min(session shuffle partitions, ⌈domain / 2^16⌉) ranges; each
    * task ships one [[DenseChunk]] per non-empty range to that range's
    * reducer, which adds its chunks slot by slot and emits one
    * (Σ s div c, #groups) row. A tiny ungrouped Catalyst aggregate over
    * those R rows gives `ss div cc`. A chunk is a dense slice only when
    * at least half its slots are occupied (16 bytes a slot, 17 with NULL
    * tracking), else triples (20-21 bytes a group), so the shuffle never
    * carries more per group than the 36-byte (g, s, c) UnsafeRow record
    * that the Catalyst partial/final merge of earlier rounds shipped —
    * and no side hashes a key. The cross-task sum uses `Math.addExact`,
    * so it raises on overflow exactly where that plan's ANSI `sum(s)`
    * did.
    *
    * Retries: the chunks go through an ordinary stateless shuffle, so a
    * retried map task recomputes its chunks and replaces the failed
    * attempt's output — it can never double count, unlike the
    * JVM-shared table of [[sharedDenseGroupedAvg]], which must refuse a
    * retry.
    */
  def denseGroupedAvg(gv: DataFrame, minGroup: Long, domain: Int): DataFrame = {
    require(domain > 0 && domain <= DenseAggMaxDomain,
      s"dense aggregate domain out of range: $domain")
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = gv.sparkSession
    val mg = minGroup
    val dom = domain
    // slot `dom` past the domain holds the NULL group
    val nSlots = dom + 1
    val nRed = math.max(1, math.min(spark.sessionState.conf.numShufflePartitions,
      (dom + DenseAggSlotsPerReducer - 1) / DenseAggSlotsPerReducer))
    val width = (nSlots + nRed - 1) / nRed
    // a task's chunks, keyed by reducer
    val chunks = (sums: Array[Long], cnts: Array[Long], hasV: Array[Boolean]) =>
      Iterator.range(0, nRed).flatMap { r =>
        val lo = r * width
        val hi = math.min(nSlots, lo + width)
        var k = 0
        var i = lo
        while (i < hi) { if (cnts(i) != 0L) k += 1; i += 1 }
        if (k == 0) None
        else if (2 * k >= hi - lo)
          Some(r -> DenseChunk(null, sums.slice(lo, hi), cnts.slice(lo, hi),
            if (hasV == null) null else hasV.slice(lo, hi)))
        else {
          val at = new Array[Int](k)
          k = 0
          i = lo
          while (i < hi) { if (cnts(i) != 0L) { at(k) = i - lo; k += 1 }; i += 1 }
          Some(r -> DenseChunk(at, at.map(j => sums(lo + j)), at.map(j => cnts(lo + j)),
            if (hasV == null) null else at.map(j => hasV(lo + j))))
        }
      }
    // Nullability decided from gv's SCHEMA, once, at plan time: the
    // unguarded loop reads primitives directly and would misread a NULL
    // group as 0 (silent cross-group merge when minGroup == 0, executor
    // crash otherwise — round-9 advice item 2). A nullable input takes a
    // guarded loop that reproduces the hash plan's semantics exactly:
    // NULL group is its own group; `count(lit(1))` counts every row;
    // `sum(v)` skips NULL v and is itself NULL when a group saw no
    // non-NULL v (tracked per slot in `hasV`). Column min/max stats
    // ignore NULLs, so non-NULL groups remain provably in-domain.
    val nullable = gv.schema.fields.exists(_.nullable)
    val mapped = gv.queryExecution.toRdd.mapPartitions { it =>
      val sums = new Array[Long](nSlots)
      val cnts = new Array[Long](nSlots)
      val hasV = if (nullable) new Array[Boolean](nSlots) else null
      if (!nullable) while (it.hasNext) {
        val r = it.next() // primitives read immediately; row reuse is fine
        val g = (r.getLong(0) - mg).toInt
        sums(g) += r.getLong(1)
        cnts(g) += 1L
      } else while (it.hasNext) {
        val r = it.next()
        val g = if (r.isNullAt(0)) dom else (r.getLong(0) - mg).toInt
        cnts(g) += 1L
        if (!r.isNullAt(1)) { sums(g) += r.getLong(1); hasV(g) = true }
      }
      chunks(sums, cnts, hasV)
    }
    val reduced = mapped
      .partitionBy(new org.apache.spark.HashPartitioner(nRed))
      .mapPartitionsWithIndex { (r, it) =>
        val n = math.max(0, math.min(nSlots, (r + 1) * width) - r * width)
        val sums = new Array[Long](n)
        val cnts = new Array[Long](n)
        val hasV = new Array[Boolean](n)
        it.foreach { case (_, ch) =>
          var j = 0
          while (j < ch.cnts.length) {
            val i = if (ch.slots == null) j else ch.slots(j)
            if (ch.cnts(j) != 0L) {
              sums(i) = Math.addExact(sums(i), ch.sums(j))
              cnts(i) += ch.cnts(j)
              hasV(i) ||= ch.hasV == null || ch.hasV(j)
            }
            j += 1
          }
        }
        var ss = 0L
        var anyV = false
        var cc = 0L
        var i = 0
        while (i < n) {
          if (cnts(i) != 0L) {
            cc += 1L
            if (hasV(i)) { ss = Math.addExact(ss, sums(i) / cnts(i)); anyV = true }
          }
          i += 1
        }
        Iterator.single[InternalRow](new GenericInternalRow(Array[Any](if (anyV) ss else null, cc)))
      }
    val schema = StructType(Seq(
      StructField("ss", LongType, nullable = true),
      StructField("cc", LongType, nullable = false)))
    org.apache.spark.sql.graft.bridge.internalDataFrame(spark, reduced, schema)
      .agg(sum(col("ss")).as("ss"), sum(col("cc")).as("cc"))
      .select(expr("ss div cc").as("avg_avg_value"))
  }

  /** Domain bound for [[part2SharedDense]]: 2^27 slots = 2 GB of
    * accumulator arrays shared by ALL tasks in the JVM — covers the
    * reference's 1e8-singleton-group worst case (q4112.csv cfg4/11/18)
    * where the per-task bound [[DenseAggMaxDomain]] cannot (32
    * concurrent per-task copies would need 64 GB).
    */
  val SharedDenseMaxDomain: Long = 1L << 27

  /** JVM-shared accumulation state for [[sharedDenseGroupedAvg]],
    * keyed by a per-EXECUTION id the driver mints before launching the
    * accumulation job and removes in a `finally` after it — so a failed
    * or poisoned job can never leak the 2 GB arrays, and concurrent
    * executions never share a table. (The r10 form keyed by
    * (stageId, stageAttempt) and relied on a last-task-out countdown;
    * partial execution — `show()`/`limit`/`take` run SUBSETS of the
    * partitions across several jobs — left the countdown unreachable,
    * silently returning zero rows and leaking one table per job,
    * ADVICE r10 item 1.)
    */
  private[graft] object SharedDense {
    final class State(dom: Int) {
      val sums = new java.util.concurrent.atomic.AtomicLongArray(dom)
      val cnts = new java.util.concurrent.atomic.AtomicLongArray(dom)
      @volatile var poisoned = false
    }
    val tables =
      new java.util.concurrent.ConcurrentHashMap[String, State]
  }

  /** Live shared-dense table count — test hook for the no-leak contract
    * (every execution removes its table in a `finally`, success or not).
    */
  private[graft] def sharedDenseLiveTables: Int = SharedDense.tables.size()

  /** Part 2 as the reference's OWN t16 algorithm — one shared sized
    * accumulation table, all threads CAS into it, one final scan
    * (q4112.c:225-297 accumulates into a global array sized to the
    * group domain; README-2.txt:32-43 on why that wins the singleton
    * shapes). This is the plan the 1e8-singleton-group configs
    * (q4112.csv cfg4/11/18) need and that no exchange-based plan can
    * match WITHOUT a stored layout: partial aggregation collapses
    * nothing when groups are ~singleton per task, so every
    * shuffle-based form ships ~1e9 rows through local disk (measured
    * 6.1× the C, 9.6 GB shuffle + 14 GB spill per rep), while the
    * shared table collapses the global ~10 rows/group to one slot
    * update each and ships NOTHING.
    *
    * SCOPE — single-JVM by design, like the reference it mirrors: the
    * C's t16 number is a shared-memory single-node algorithm, and this
    * operator is its Spark-local expression ([[SparkSession]] master
    * local[*], asserted). On a multi-executor cluster the same shape
    * needs either per-executor tables + a merge exchange (= Spark's own
    * partial aggregate, which the singleton profile defeats) or the
    * stored bucketed layout, which IS the shipped cluster answer
    * (0.98× the C, registry-routed — SCALING.md round 9). The planner
    * therefore only chooses this form when `sparkContext.isLocal`.
    *
    * SAFETY — a shared mutable table must not double-count: local mode
    * fails the job on the FIRST task failure (maxFailures=1, no
    * speculation), so no partial-accumulation retry can land; defense
    * in depth, any task observing `attemptNumber > 0` poisons the
    * state and throws, and a failure listener drops the table so a
    * failed job never leaks the 2 GB arrays. Exactness: identical long
    * wrap arithmetic and integer avg-of-avgs as [[part2]] (`s div c`
    * per slot, `ss div cc` over slots), oracle-asserted per rep by the
    * Matrix harness and by the `q4112_part2_shared_dense` gate.
    */
  def part2SharedDense(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      minGroup: Long,
      domain: Long,
      dense: Boolean = false,
      provenNonNull: Boolean = false): DataFrame = {
    val gv = groupedValues(items, orders, itemKey, orderKey, priceCol,
      quantityCol, groupCol, dense)
    // stats-proven null-freedom rewrite (round-10 verdict item 1): when
    // the router has PROVEN from data statistics that neither the group
    // nor v can be null, AssertNotNull strips Catalyst's pessimistic
    // nullability (parquet schemas and %-derived columns are always
    // marked nullable) so the unguarded accumulation loop runs on raw
    // fact tables — and stale stats still fail LOUDLY at the first
    // actual null instead of miscounting (q4112.h:14,24 is the
    // reference's version of this contract: keys/values are never NULL
    // by construction, so its kernel carries no null branch at all).
    def pin(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (!provenNonNull) c
      else org.apache.spark.sql.graft.bridge.toColumn(
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          org.apache.spark.sql.graft.bridge.toExpression(c)))
    sharedDenseGroupedAvg(
      gv.select(pin(col(groupCol).cast("long")).as(groupCol),
        pin(col("v").cast("long")).as("v")),
      minGroup, domain)
  }

  /** The shared-table stage of [[part2SharedDense]] over a prepared
    * (group, v) projection. Requires local mode (single JVM) and a
    * group domain within [[SharedDenseMaxDomain]].
    *
    * EAGER by design (ADVICE r10 item 1): the accumulation runs as ONE
    * `runJob` over ALL partitions at call time, and the returned
    * DataFrame is the already-materialized single result row. Lazy
    * forms of a shared-table countdown break under partial execution —
    * `show()`/`limit`/`take` run partition SUBSETS across several
    * jobs, so a per-job "last task out" countdown never fires, the
    * query silently returns zero rows, and every job leaks a 2 GB
    * table. Running the one job ourselves guarantees every partition
    * accumulates exactly once, the final scan happens on the driver
    * (same JVM — local mode is required), and the `finally` removes
    * the shared state on EVERY exit path, success or failure.
    *
    * NULL handling: a NULL group has no slot and a NULL v would need
    * the hash plans' sum-skips-NULL semantics, so when the projection's
    * schema admits nulls the loop checks per row and refuses an actual
    * NULL loudly rather than miscounting — [[part2Adaptive]] only
    * routes here after proving from DATA statistics (null counts) that
    * the group, quantity, and price columns carry no nulls, and then
    * pins the projection non-nullable (AssertNotNull) so the unguarded
    * loop runs. A group outside the stats-proven [minGroup,
    * minGroup+domain) window fails with an explicit "stale statistics"
    * error instead of corrupting memory.
    *
    * Combine-cache size: the per-task direct-mapped cache defaults to
    * 2^13 entries — the reference's measured best (q4112.c:232-233,
    * README-2.txt:10-12 measured 2^10/2^13/2^15) AND ours: the
    * round-11 replay of that ablation at 1e9 on the three pole shapes
    * (SCALING.md round 11) reproduces the C's curve — 2^10 thrashes
    * the 1e4-hot-group shape (5.20 s vs 2.83 s), 2^15 pays its flush
    * scan everywhere, 2^13 wins the sum. `SPARK_GRAFT_CACHE_BITS`
    * overrides it for A/B ablation.
    */
  def sharedDenseGroupedAvg(gv: DataFrame, minGroup: Long, domain: Long): DataFrame = {
    require(gv.sparkSession.sparkContext.isLocal,
      "shared dense aggregation is the single-JVM (reference t16) form; " +
        "on a cluster use the bucketed layout (Tables.writeBucketed)")
    require(domain > 0 && domain <= SharedDenseMaxDomain,
      s"shared dense domain out of range: $domain")
    val spark = gv.sparkSession
    import spark.implicits._
    val mg = minGroup
    val domL = domain
    val dom = domain.toInt
    // Schema nullability is NOT trusted either way: Catalyst marks any
    // %-derived column nullable (division-by-zero rule) even when no
    // null can occur, and the dense-lookup join marks its price output
    // nullable despite its isNotNull filter. When the schema admits
    // nulls, the accumulation loop checks per row and refuses an ACTUAL
    // null LOUDLY (the adaptive router proves null-freedom from data
    // stats and pins the schema before routing here, so its plans take
    // the unguarded loop).
    val nullGuard = gv.schema.fields.exists(_.nullable)
    val cacheBits = sys.env.get("SPARK_GRAFT_CACHE_BITS").map(_.toInt).getOrElse(13)
    require(cacheBits >= 4 && cacheBits <= 20,
      s"SPARK_GRAFT_CACHE_BITS out of range: $cacheBits")
    val rdd0 = gv.queryExecution.toRdd
    if (rdd0.getNumPartitions == 0)
      // a provably-empty relation plans zero partitions; the ungrouped
      // aggregate still emits one NULL row
      return Seq(Option.empty[Long]).toDF("avg_avg_value")
    val key = java.util.UUID.randomUUID().toString
    SharedDense.tables.put(key, new SharedDense.State(dom))
    val res: Option[Long] =
      try {
        spark.sparkContext.runJob(rdd0,
          (ctx: org.apache.spark.TaskContext,
           it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
          // the closure must carry only the KEY — capturing the state
          // itself would serialize the 2 GB arrays into the task binary
          val st = SharedDense.tables.get(key)
          if (st == null || ctx.attemptNumber() > 0) {
            // a retried task may have partially accumulated in its first
            // attempt; a shared table cannot un-count, so poison and fail
            // (local mode fails the job on first task failure anyway —
            // this is defense in depth)
            if (st != null) st.poisoned = true
            throw new IllegalStateException(
              "shared dense aggregate saw a task retry; rerun with a shuffle plan")
          }
          val sums = st.sums
          val cnts = st.cnts
          // per-task combine cache in front of the shared table — the
          // reference's own design (q4112.c:232-233, log_entries = 13, its
          // measured-best size): heavy-hitter groups accumulate in a
          // direct-mapped L2-resident cache instead of CASing the same
          // shared cache line from every thread (hhp=1.0 shapes would
          // otherwise serialize on ~100 hot slots), and cold keys
          // evict-flush through. Singleton-flood shapes pay one
          // L1-resident hash+branch per row over the bare CAS loop.
          val cacheMask = (1 << cacheBits) - 1
          val ck = new Array[Int](1 << cacheBits) // slot + 1; 0 = empty
          val cs = new Array[Long](1 << cacheBits)
          val cc = new Array[Long](1 << cacheBits)
          def accumulate(g: Int, v: Long): Unit = {
            val h = ((g * -1640531527) >>> (32 - cacheBits)) & cacheMask
            if (ck(h) == g + 1) { cs(h) += v; cc(h) += 1L }
            else {
              val old = ck(h)
              if (old != 0) {
                sums.addAndGet(old - 1, cs(h))
                cnts.addAndGet(old - 1, cc(h))
              }
              ck(h) = g + 1; cs(h) = v; cc(h) = 1L
            }
          }
          // bounds check per row (round-10 verdict "what's wrong"): a
          // group outside the proven window means the routing statistics
          // were stale — fail with a diagnosis, never index out of (or
          // worse, INTO the wrong slot of) the shared arrays
          def slot(g: Long): Int = {
            val gi = g - mg
            if (gi < 0L || gi >= domL)
              throw new IllegalStateException(
                s"shared dense aggregate saw group $g outside the " +
                  s"stats-proven domain [$mg, ${mg + domL}) — stale " +
                  "statistics? rerun with a shuffle plan")
            gi.toInt
          }
          if (nullGuard) {
            while (it.hasNext) {
              val r = it.next()
              if (r.isNullAt(0) || r.isNullAt(1))
                throw new IllegalStateException(
                  "shared dense aggregate received a NULL group or v; use the hash plan")
              accumulate(slot(r.getLong(0)), r.getLong(1))
            }
          } else {
            while (it.hasNext) {
              val r = it.next()
              accumulate(slot(r.getLong(0)), r.getLong(1))
            }
          }
          // flush the local cache into the shared table
          var ci = 0
          while (ci <= cacheMask) {
            if (ck(ci) != 0) {
              sums.addAndGet(ck(ci) - 1, cs(ci))
              cnts.addAndGet(ck(ci) - 1, cc(ci))
            }
            ci += 1
          }
        })
        val st = SharedDense.tables.get(key)
        if (st == null || st.poisoned)
          throw new IllegalStateException("shared dense aggregate poisoned")
        // the final scan, single-threaded on the driver (same JVM):
        // per-slot integer avg, then the integer avg of those — the
        // same `s div c` / `ss div cc` truncation as the SQL plans
        // (all-Java long division; non-negative by the packing bounds'
        // contract, and exact for negatives too since Java and Spark's
        // IntegralDivide both truncate toward zero)
        var ss = 0L
        var cc = 0L
        var i = 0
        while (i < dom) {
          val c = st.cnts.get(i)
          if (c != 0L) { ss += st.sums.get(i) / c; cc += 1L }
          i += 1
        }
        if (cc == 0L) None else Some(ss / cc)
      } finally SharedDense.tables.remove(key)
    Seq(res).toDF("avg_avg_value")
  }

  /** Pure bounds check for the packed exchange, fed with column min/max
    * statistics: true only when EVERY row they can describe packs into
    * group·2^34 + v without a field borrowing into the other's bits.
    * SOUND for any row set realizing the stats (maxPrice·maxQty bounds
    * every per-row v; `maxQty <= (2^34−1) / maxPrice` in integer
    * division is equivalent to `maxPrice·maxQty <= 2^34−1` without the
    * multiply overflowing), and EXACT for a singleton — the property
    * spec (PackedBoundsSpec) pins both directions at the boundaries.
    * Negative minima are rejected outright: a single negative price or
    * quantity makes v < 0 and silently corrupts the packed aggregate.
    */
  def packBoundsOk(
      minGroup: Long, maxGroup: Long,
      minPrice: Long, maxPrice: Long,
      minQty: Long, maxQty: Long): Boolean =
    minGroup >= 0 && maxGroup < (1L << 29) &&
      minQty >= 0 && minPrice >= 0 &&
      maxQty <= ((1L << 34) - 1) / math.max(1L, maxPrice)

  /** Reducer count for the bypass plan: ~500k groups per reducer map
    * (a few tens of MB — L3-resident), floored at the session shuffle
    * parallelism, capped to keep task-launch overhead sane.
    */
  def bypassPartitions(estGroups: Long, sessionShuffle: Int): Int =
    math.min(4096L, math.max(sessionShuffle.toLong, estGroups / 500000L)).toInt

  /** The adaptive planner's sample: (rows sampled, distinct keys,
    * shared-key mass) of `groupCol` over the first rows of up to 64
    * partitions strided across `orders`. Read as `InternalRow`s (no
    * external-row conversion) and counted by sorting the primitive keys.
    *
    * A PARTITION SUBSET, not a Bernoulli sample: sample(frac) visits
    * every partition, i.e. a full extra scan at 100 TB. Striding (not
    * partitions 0..k) guards against layouts where the group key
    * correlates with partition order. A full-scan FM estimate was
    * measured at 3.5-16 s per run at 1e9 rows — more than many queries
    * it was steering; this sample reads ~2M rows total and decides
    * identically on every measured shape. FM remains the standalone A5
    * surface (distinct_fm, Aggregates.distinctFm).
    */
  private[graft] def sampleSharedMass(orders: DataFrame, groupCol: String): (Long, Long, Double) = {
    // cast: int-stored group columns must still read as longs below
    val slim = orders.select(col(groupCol).cast("long")).queryExecution.toRdd
    // a provably-empty relation plans zero partitions — there is
    // nothing to sample and runJob on partition 0 would throw
    if (slim.getNumPartitions == 0) return (0L, 0L, 1.0)
    val nParts = slim.getNumPartitions
    val targetRows = 2000000L
    // ALWAYS spread the sample across many partitions (capped at 64,
    // strided across the range), never concentrate it in few: reading
    // the target rows from one big partition samples only that
    // partition's PREFIX, and a structured prefix poisons the decision —
    // measured at 1e9: the q4112 generator opens with a
    // one-row-per-group enumeration run, so a partition-0-only sample
    // read 2M singletons, called sharedMass = 0.0 on an hhp=1.0 config
    // whose true task-window shared mass is ~0.9, and picked the packed
    // bypass where partial/final is 3-6× faster. With the sample strided
    // over ≥32 partitions the prefix contributes ≤ a few percent.
    val kParts = math.min(nParts, 64)
    val perPart = math.max(1L, targetRows / kParts).toInt
    val stride = math.max(1, nParts / kParts)
    val partIds = (0 until nParts by stride).take(kParts)
    // per partition: the non-NULL keys and the NULL-key row count
    val chunks = orders.sparkSession.sparkContext.runJob(slim, (it: Iterator[InternalRow]) => {
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      var nulls = 0L
      var i = 0
      while (i < perPart && it.hasNext) {
        val r = it.next()
        if (r.isNullAt(0)) nulls += 1L else b += r.getLong(0)
        i += 1
      }
      (b.result(), nulls)
    }, partIds)
    sharedKeyMass(Array.concat(chunks.map(_._1).toSeq: _*), chunks.map(_._2).sum)
  }

  /** (n, distinct keys, share of the n keys that occur more than once)
    * of a key sample, counted by sorting `keys` in place; `nulls` more
    * rows carry the NULL key, which counts as one key. The driver sorts
    * between jobs, so on all cores (2M keys, 4 cores: ~70 vs ~230 ms).
    */
  private[graft] def sharedKeyMass(keys: Array[Long], nulls: Long = 0L): (Long, Long, Double) = {
    java.util.Arrays.parallelSort(keys)
    var ndv = if (nulls > 0L) 1L else 0L
    var shared = if (nulls > 1L) nulls else 0L
    var i = 0
    while (i < keys.length) {
      var j = i + 1
      while (j < keys.length && keys(j) == keys(i)) j += 1
      ndv += 1L
      if (j - i > 1) shared += j - i
      i = j
    }
    val n = keys.length + nulls
    (n, ndv, if (n == 0L) 1.0 else shared.toDouble / n)
  }

  /** Part 2 with the physical aggregation plan chosen from a MEASURED
    * statistic — the same decision the reference drives with its A5
    * sketch (estimate the group profile, then shape the aggregation,
    * q4112.c:336-377; thread-local pre-agg only pays when groups cache,
    * README-2.txt:32-43). The statistic here is SHARED-KEY MASS from a
    * ~2M-row deterministic sample: the fraction of rows whose group key
    * recurs within the sample. An ndv estimate alone cannot tell an
    * all-singleton table (partial agg collapses nothing, spills, and the
    * exchange ships ~every row anyway) from a skewed one with the same
    * ndv (heavy groups collapse map-side to one combiner entry per
    * task) — measured at 1e9 rows, the bypass wins the first shape
    * (96 s vs 307 s/OOM) and loses the second (69 s vs 32 s), and
    * shared mass separates them where ndv cannot. Low shared mass means
    * partial aggregation cannot collapse most of the input → skip
    * straight to the (packed) raw exchange; anything else keeps
    * Catalyst's partial/final split.
    */
  def part2Adaptive(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      dense: Boolean = false,
      bypassRatio: Long = 16L): DataFrame = {
    val t0 = System.nanoTime()
    val _ = bypassRatio // subsumed by the shared-mass rule (kept for source compat)
    // the dense perfect-hash probe is chosen by the PLANNER whenever the
    // build side is a contiguous-key dimension (cached stats, no job) —
    // the caller's `dense` flag remains as a forced override. Measured
    // motivation: the 1e9-row probe of a 1e5-entry broadcast hash map
    // costs ~175 ns/row (part-2 cfg8 at 3.6× the reference); the array
    // probe is a bounds-check + index into an L2-resident array.
    // LAYOUT FIRST, statistics second: an exchange-free stored layout
    // beats every shuffle-shaping decision the statistics could make,
    // and the checks are free (registry lookup + plan inspection, no
    // job). Strongest first: a registered JOINED-BUCKETED layout is the
    // (group, v) projection already materialized clustered on the group
    // key — no join, no exchange at query time (measured 0.16-1.09× the
    // reference where the cold plans sat at 2.4-13×, SCALING.md). The
    // registry routes the ORIGINAL relation's plan to the layout, so a
    // user querying the raw tables gets the plan they paid for at
    // ingest without knowing it exists (round-8 verdict item 1).
    LayoutRegistry.joinedFor(items, orders, itemKey, orderKey,
      priceCol, quantityCol, groupCol).foreach { layout =>
      lastChosenPlan = "joined_bucketed"
      advise("")
      System.err.println(f"[part2-adaptive] layout: registered joined-bucketed " +
        f"(group, v) on $groupCol -> exchange-free scan+aggregate, " +
        f"est=${(System.nanoTime() - t0) / 1e9}%.3f s")
      return layout
        .groupBy(col(groupCol))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .select(expr("s div c").as("avg_value"))
        .agg(sum(col("avg_value")).as("ss"), count(lit(1)).as("cc"))
        .select(expr("ss div cc").as("avg_avg_value"))
    }
    // next: the probe relation stored clustered on the group key —
    // either the caller handed us the bucketed scan directly
    // ([[clusteredOn]] on `orders`, the round-3 path), or the registry
    // maps the raw relation to its bucketed form (routed). Either way
    // the partial/final aggregate needs no exchange. This folds the
    // round-3 `SPARK_GRAFT_P2_PLAN=bucketed` env-var mode into the
    // planner (measured 12-22× → 2.4-2.9× of the reference on the
    // singleton-group shapes, SCALING.md).
    val routedOrders = LayoutRegistry.bucketedFor(orders, groupCol)
    val probeOrders = routedOrders.getOrElse(orders)
    val useDense = dense || denseEligible(items, itemKey)
    if (clusteredOn(probeOrders, groupCol)) {
      lastChosenPlan = if (routedOrders.isDefined) "bucketed_routed" else "bucketed"
      advise("")
      System.err.println(f"[part2-adaptive] layout: clustered on $groupCol" +
        f"${if (routedOrders.isDefined) " (routed via registry)" else ""} " +
        f"-> exchange-free partial/final, est=${(System.nanoTime() - t0) / 1e9}%.3f s")
      return if (useDense)
        part2Dense(items, probeOrders, itemKey, orderKey, priceCol, quantityCol, groupCol)
      else
        part2(items, probeOrders, itemKey, orderKey, priceCol, quantityCol, groupCol,
          BroadcastHash)
    }
    // Row count: from relation statistics when they exist (a materialized
    // cached relation counts its rows; a catalog table has ANALYZE
    // stats) — at 100 TB a count() is a full scan, and the planner must
    // not pre-pay a scan per query for a number the catalog already
    // knows. The count() fallback only triggers for bare un-analyzed
    // sources.
    val rows = relationRows(orders)
    // The decision statistic is SHARED-KEY MASS (scaladoc above) from a
    // ~2M-row deterministic sample ([[sampleSharedMass]]), cached per
    // (relation, column) — a table's group profile is a property of the
    // table version, so repeated queries over an unchanged relation skip
    // the sample job entirely (it was measured at 1-3 s INSIDE every
    // timed query)
    val (tot, sampleNdv, sharedMass) = sampleCache.computeIfAbsent(
      (orders.queryExecution.optimizedPlan.canonicalized, groupCol),
      _ => sampleSharedMass(orders, groupCol))
    // sharedMass < 0.4 already implies partial aggregation would leave
    // ≥60% of the rows uncollapsed — it subsumes any ndv-ratio test
    val bypass = tot > 0L && sharedMass < 0.4
    // packing bound, measured only when it matters: group·2^34 + v must
    // fit a signed long with NO negative field — min checks included
    // because a single negative price or quantity makes v borrow into
    // the group bits and silently corrupt the aggregate (the per-row
    // guard in part2BypassPacked is skipped on this path precisely
    // because these stats prove it can't fire)
    val packable = bypass && {
      // catalog/plan column stats when present (zero jobs), one cached
      // agg scan per relation otherwise — never a scan per query
      // missing stats (empty/all-NULL relation) ⇒ not provably packable —
      // the unpacked bypass is always safe
      (minMaxLongsOpt(orders, Seq(groupCol, quantityCol)),
        minMaxLongsOpt(items, Seq(priceCol))) match {
        case (Some(Seq((minGroup, maxGroup), (minQty, maxQty))),
              Some(Seq((minPrice, maxPrice)))) =>
          packBoundsOk(minGroup, maxGroup, minPrice, maxPrice, minQty, maxQty)
        case _ => false
      }
    }
    // LOW shared mass means no exchange-based plan can win: partial
    // aggregation collapses ~nothing, so every shuffle form ships
    // ~every row through local disk. In a single JVM the reference's
    // own answer applies — ONE shared sized table all threads CAS
    // into (q4112.c:225-297), zero exchange — whenever the group
    // domain provably fits 2^27 slots and the projection is
    // non-nullable (a NULL group has no slot). Cluster deployments
    // route to the bucketed layout instead (part2SharedDense scaladoc).
    // null-freedom is proven against the DATA (cached null counts /
    // catalog stats), never the schema flag, which Catalyst sets
    // pessimistically for any parquet or %-derived column: the GROUP
    // must carry no actual nulls (a NULL group has no slot) and the
    // VALUE inputs (orders.quantity, items.price) none either — a NULL
    // v needs the hash plans' sum-skips-NULL semantics, where the
    // shared loop would fail at runtime (ADVICE r10 item 2: the
    // documented hash-family fallback now actually checks v's inputs).
    // Raw nullable-schema parquet facts with clean data PASS this gate
    // (round-10 verdict item 1): the stats prove null-freedom and
    // part2SharedDense pins the projection non-nullable.
    val sharedDenseStats =
      if (!bypass || !sharedDenseLocalOk(items) ||
          colsCarryNulls(orders, Seq(groupCol, quantityCol)) ||
          colCarriesNulls(items, priceCol)) None
      else minMaxLongsOpt(orders, Seq(groupCol)).collect {
        case Seq((mn, mx)) if mx >= mn && {
          val w = mx - mn; w >= 0L && w < SharedDenseMaxDomain
        } => (mn, mx - mn + 1L)
      }
    System.err.println(f"[part2-adaptive] rows=$rows sampled=$tot " +
      f"sampleNdv=$sampleNdv sharedMass=$sharedMass%.3f bypass=$bypass packable=$packable " +
      f"sharedDense=${sharedDenseStats.isDefined} " +
      f"est=${(System.nanoTime() - t0) / 1e9}%.3f s")
    // the missed-layout hint (round-4 verdict item 7): every exchange-
    // based plan below ships rows through a shuffle that the bucketed
    // layout would elide — say so AT PLAN TIME, strongest where the
    // exchange is the scale-killer (low shared mass: partial agg
    // collapses ~nothing). The shared-dense form is already
    // exchange-free — no layout to recommend.
    if (sharedDenseStats.isDefined) advise("")
    else advise(f"this aggregate takes a ${if (bypass) "raw-row" else "partial/final"} " +
      f"exchange on '$groupCol' (sampled sharedMass=$sharedMass%.2f); storing the " +
      f"probe table bucketed on '$groupCol' (Tables.writeBucketed) would make it " +
      "exchange-free")
    if (bypass) {
      val shuffle = items.sparkSession.sessionState.conf.numShufflePartitions
      if (sharedDenseStats.isDefined) {
        val (minGroup, domain) = sharedDenseStats.get
        lastChosenPlan = "shared_dense"
        return part2SharedDense(items, orders, itemKey, orderKey, priceCol,
          quantityCol, groupCol, minGroup, domain, useDense,
          provenNonNull = true)
      }
      // linear extrapolation DELIBERATELY overestimates ndv on
      // singleton-heavy samples (every sampled-once group scales by
      // rows/tot; a Chao1-style correction would estimate ~6× lower on
      // the 1e8-group shapes) — the estimate only sizes the reducer
      // count, where erring toward MORE, smaller aggregation maps is
      // the safe direction (bounded ~500k-entry maps, no spill), at the
      // cost of more, cheaper tasks
      val estGroups = (sampleNdv.toDouble * rows / math.max(1L, tot)).toLong
      val parts = bypassPartitions(estGroups, shuffle)
      if (packable) {
        lastChosenPlan = "packed"
        part2BypassPacked(items, orders, itemKey, orderKey, priceCol, quantityCol,
          groupCol, parts, useDense, checked = false)
      } else {
        lastChosenPlan = "bypass"
        part2Bypass(items, orders, itemKey, orderKey, priceCol, quantityCol,
          groupCol, parts, useDense)
      }
    } else {
      // partial-aggregation family. When the group domain is contiguous
      // and bounded (cached min/max stats — same source as the packing
      // bound), the dense-ARRAY partial aggregate replaces the per-task
      // hash map: the r9 1e9 profile put the cold partial plan's cost in
      // one uniform CPU-bound stage (~430 ns/row, zero spill) dominated
      // by the ~1e6-entry aggregation-map probe; array indexing removes
      // it, and the arrays merge by slot range instead of through a
      // final hash aggregate, with the same arithmetic.
      // Dense routing requires (a) stats at all — an empty/all-NULL
      // relation has none and must fall back, not NPE (advice item 3);
      // (b) a domain width that provably fits: the width `maxGroup −
      // minGroup` is computed ONCE and required non-negative, because for
      // domains wider than 2^63 the long subtraction wraps NEGATIVE and
      // would otherwise pass the `< DenseAggMaxDomain` bound with a
      // garbage array size (advice item 1).
      // (mn, domain) with domain = width + 1; the w >= 0 guard rejects
      // >2^63-wide wrapped domains and the w + 1 > 0 guard the
      // width == Long.MaxValue overflow of the increment itself
      val mm = minMaxLongsOpt(orders, Seq(groupCol)).collect {
        case Seq((mn, mx)) if mx >= mn && {
          val w = mx - mn; w >= 0L && w + 1L > 0L
        } => (mn, mx - mn + 1L)
      }
      val denseStats = mm.collect {
        case (mn, w) if w <= DenseAggMaxDomain => (mn, w.toInt)
      }
      // the band ABOVE the per-task cap but inside the shared cap: a
      // 2^22..2^27 domain with HIGH shared mass still floods the
      // partial hash maps with its singleton tail (cfg5-family at 1e9:
      // 50 GB spill, ~10× the C) — in a single JVM the shared CAS
      // table + the per-task combine cache (the C's exact design)
      // handles head and tail both. Same null-freedom proof as the
      // bypass-branch route.
      val sharedStats =
        if (denseStats.isDefined || !sharedDenseLocalOk(items)) None
        else mm.collect {
          case (mn, w) if w <= SharedDenseMaxDomain &&
            !colsCarryNulls(orders, Seq(groupCol, quantityCol)) &&
            !colCarriesNulls(items, priceCol) => (mn, w)
        }
      if (denseStats.isDefined) {
        val (minGroup, domain) = denseStats.get
        lastChosenPlan = "partial_dense"
        part2DenseAgg(items, orders, itemKey, orderKey, priceCol, quantityCol,
          groupCol, minGroup, domain, useDense)
      } else if (sharedStats.isDefined) {
        val (minGroup, domain) = sharedStats.get
        lastChosenPlan = "shared_dense"
        advise("")
        part2SharedDense(items, orders, itemKey, orderKey, priceCol,
          quantityCol, groupCol, minGroup, domain, useDense,
          provenNonNull = true)
      } else if (useDense) {
        lastChosenPlan = "partial"
        part2Dense(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol)
      } else {
        lastChosenPlan = "partial"
        part2(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol, BroadcastHash)
      }
    }
  }

  /** Part 1 with the join plan chosen from the table LAYOUT — the same
    * layout-first rule as [[part2Adaptive]]: when both tables are stored
    * bucketed on their join keys (co-partitioned scans,
    * [[coPartitioned]] — a free plan inspection, no job), take the
    * co-located per-bucket hash join: no exchange, no sort, no
    * driver-side broadcast/dense build, the Spark-native form of the
    * reference's J4 range-partitioned parallel build+probe
    * (q4112_hj.c:163-183; measured at 1e9: cfg6/7/8 drop from
    * 2.0-2.7× the C to 1.07-1.8×, SCALING.md round-4 part-1 table).
    * Otherwise fall back to the measured default: the dense-array probe
    * for a large contiguous-key build side, broadcast hash for a small
    * one.
    */
  def part1Adaptive(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      dense: Boolean = false): DataFrame =
    if (coPartitioned(items, itemKey, orders, orderKey)) {
      lastChosenPlan = "bucketed-shj"
      advise("")
      part1(items, orders, itemKey, orderKey, priceCol, quantityCol, ShuffledHash)
    } else if (dense || denseEligible(items, itemKey)) {
      lastChosenPlan = "dense"
      // the dense probe needs a driver-side broadcast build per items
      // version — the co-located layout removes it (measured: part-1
      // 1e8-inner configs 2.0-2.7× → 1.07-1.77×, SCALING.md round 4).
      // Only worth saying when that build is material: a caller-forced
      // dense path, or a build side big enough (≥1e7 rows, where the
      // build was measured in seconds) — for a small contiguous dim the
      // auto-chosen dense probe is already the plan you'd want.
      if (dense || relationRows(items) >= 10000000L)
        advise(s"this join broadcasts a dense '$itemKey' array built on the driver; " +
          s"storing BOTH tables bucketed on their join keys ('$itemKey'/'$orderKey', " +
          "Tables.writeBucketed) would give an exchange-free co-located hash join")
      else advise("")
      part1Dense(items, orders, itemKey, orderKey, priceCol, quantityCol)
    } else {
      lastChosenPlan = "broadcast"
      advise("") // a small broadcast build side is already the plan you'd want
      part1(items, orders, itemKey, orderKey, priceCol, quantityCol, BroadcastHash)
    }

  /** Part 1: SELECT avg(price * quantity) — single integer average
    * (q4112_hj_1.c:49-77). Output column: `avg_value` (Long).
    */
  def part1(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      strategy: JoinStrategy = BroadcastHash): DataFrame =
    join(items, orders, itemKey, orderKey, strategy)
      .agg(
        sum(col(priceCol) * col(quantityCol)).as("s"),
        count(lit(1)).as("c"))
      .select(expr("s div c").as("avg_value"))

  /** Part 2 intermediate: per-group integer average
    * (q4112.c:210-331, A2+A4 first level). Output: (group, avg_value).
    */
  def grouped(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      strategy: JoinStrategy = BroadcastHash): DataFrame =
    join(items, orders, itemKey, orderKey, strategy)
      .groupBy(col(groupCol))
      .agg(
        sum(col(priceCol) * col(quantityCol)).as("s"),
        count(lit(1)).as("c"))
      .select(col(groupCol), expr("s div c").as("avg_value"))

  /** Part 2 full: avg over groups of the per-group average, both levels
    * integer floor division (q4112.c:553-576). Output column:
    * `avg_avg_value` (Long).
    */
  def part2(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String,
      strategy: JoinStrategy = BroadcastHash): DataFrame =
    grouped(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol, strategy)
      .agg(sum(col("avg_value")).as("ss"), count(lit(1)).as("cc"))
      .select(expr("ss div cc").as("avg_avg_value"))
}
