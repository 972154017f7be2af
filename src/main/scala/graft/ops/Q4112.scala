package graft.ops

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{ColumnarToRowExec, ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField,
  StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

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
  *  - A build side whose keys fill a contiguous domain exactly once is
  *    broadcast as a plain value array instead ([[denseValuesArray]]).
  *    Part 1 and the dense partial aggregate then probe it with one
  *    kernel over the scan's columnar batches ([[probeAccumulate]]): the
  *    probe, the multiply and the accumulate run in one loop per batch,
  *    with no Catalyst row pipeline, and each task hands back only its
  *    accumulators. The kernel is stateless on retry, and `explain()`
  *    shows its per-task output as `Scan ExistingRDD`.
  *  - The grouped aggregate is dense whenever the group column's cached
  *    min/max bound its domain ([[part2DenseAgg]]): up to 2^22 slots each
  *    task accumulates into plain arrays, and up to 2^27 slots (with a
  *    dense build side) each row folds into the reference's 2^13
  *    direct-mapped combine cache (q4112.c:225-297), whose evictions ship
  *    to the reducer that owns their slot range. Either way the reducers
  *    add by slot, with no hash map on either side of the shuffle
  *    ([[mergeDenseChunks]]). A wider or unbounded domain takes Spark's
  *    hash partial aggregation, whose map-side combine plays the same
  *    role as the cache: hot groups collapse before the shuffle.
  *  - The final avg-of-avgs is a single ungrouped aggregate over one row
  *    per group or reducer — negligible at any scale.
  *  - Every form works out its physical facts from the `items`/`orders`
  *    it is given, through the relation caches below: whether the build
  *    side is dense ([[denseEligible]]) and the group domain
  *    ([[minMaxLongsOpt]]). None takes them as parameters, so a fact has
  *    one source, and a form asks with the same columns as
  *    [[part2Adaptive]], so building it after the planner runs no job.
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
  // cfg18's 28.6 s), (b) min/max column stats for the dense test and
  // the group domain, and (c) row counts. This is the cache any engine
  // keeps next to its catalog; callers that REPLACE data under an
  // identical plan (e.g. the Matrix harness re-creating a catalog table
  // per config) must call [[clearRelationCaches]] at the boundary.
  // ------------------------------------------------------------------
  // a build side that breaks the dense contract caches its reason
  // (Left), so the adaptive planners pay the failed build once
  private val denseCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, String, String), Either[String, (Broadcast[Array[Long]], Long)]]
  private val minMaxCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, Seq[String]), Option[Seq[(Long, Long)]]]
  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[LogicalPlan, java.lang.Long]

  /** Drop every relation-keyed cache entry (and destroy the cached
    * broadcasts). Call when data changes under an unchanged plan —
    * table overwrite, new generator config behind the same view name.
    */
  def clearRelationCaches(): Unit = {
    denseCache.values.forEach(_.foreach(_._1.destroy()))
    denseCache.clear()
    minMaxCache.clear()
    rowCountCache.clear()
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

  /** True when the build side's keys fill a contiguous domain exactly
    * once and small enough for one array — the shape of every
    * surrogate-key dimension, and the precondition for the dense-array
    * perfect-hash probe ([[part1Dense]]/[[part2Dense]]). The cheap test
    * comes first, from CACHED statistics (catalog column stats or the
    * once-per-relation min/max scan, plus the relation row count):
    * max − min + 1 == rows. That test alone passes duplicate-plus-gap
    * keys ((1, 1, 3) has min 1, max 3 and 3 rows), so an eligible
    * relation then takes the build itself, which verifies that every
    * slot is written exactly once; the build (or its failure) is cached
    * per relation and reused by the dense plan, so this adds no job.
    * The adaptive planners prefer the dense probe whenever it is legal —
    * a bounds-check + array index per probe row beats a hash-map lookup
    * at every build size (the reference exploits the same layout fact:
    * items.id is contiguous, q4112.h:14). Returns false (never throws)
    * for non-integral keys or missing relations.
    */
  def denseEligible(items: DataFrame, itemKey: String, valueCol: String): Boolean =
    eligibleDenseBuild(items, itemKey, valueCol).isDefined

  /** The cached dense build of a [[denseEligible]] build side, else None. */
  private def eligibleDenseBuild(
      items: DataFrame,
      itemKey: String,
      valueCol: String): Option[(Broadcast[Array[Long]], Long)] =
    try {
      val Seq((mn, mx)) = minMaxLongs(items, Seq(itemKey))
      val rows = relationRows(items)
      if (rows > 0L && mx - mn + 1L == rows && rows <= Int.MaxValue.toLong)
        denseBuild(items, itemKey, valueCol).toOption
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

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
    * stdout at plan time, where `Probe` runs show it next to the plan.
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
    * Requires the build side's non-NULL keys to fill a contiguous integer
    * domain exactly once, with non-NULL values (verified; a stated
    * `require` fails otherwise) — the shape of every dimension table
    * with a surrogate key, and of the reference's items.id (q4112.h:14).
    * An empty build side gives an empty array, which every probe misses.
    */
  def denseValuesArray(
      items: DataFrame,
      itemKey: String,
      valueCol: String): (Broadcast[Array[Long]], Long) =
    denseBuild(items, itemKey, valueCol) match {
      case Right(built) => built
      case Left(why) => throw new IllegalArgumentException(s"requirement failed: $why")
    }

  // build-once per (relation, key, value): a dimension index is a
  // property of the table version, not of the query — see the cache
  // block at the top of this object
  private def denseBuild(items: DataFrame, itemKey: String, valueCol: String) =
    denseCache.computeIfAbsent(
      (items.queryExecution.optimizedPlan.canonicalized, itemKey, valueCol),
      _ => buildDenseValuesArray(items, itemKey, valueCol))

  /** One partition's share of the dense build: its values, and either
    * the first key of an ascending contiguous run (`keys == null`) or
    * every key; `nulls` rows carried a NULL key or value and were not
    * shipped.
    */
  private final case class DenseBuildChunk(
      first: Long, keys: Array[Long], values: Array[Long], nulls: Long)

  private def buildDenseValuesArray(
      items: DataFrame,
      itemKey: String,
      valueCol: String): Either[String, (Broadcast[Array[Long]], Long)] = {
    val t0 = System.nanoTime()
    val sc = items.sparkSession.sparkContext
    // min, max and rows from the relation caches that denseEligible has
    // already filled, not a stats job of the build's own
    val n = relationRows(items)
    if (n == 0L) return Right((sc.broadcast(new Array[Long](0)), 0L))
    val (mn, mx) = minMaxLongsOpt(items, Seq(itemKey)) match {
      case Some(Seq(m)) => m
      case _ => return Left(s"dense-key path requires non-NULL keys: '$itemKey' is all NULL")
    }
    if (mx - mn + 1L != n)
      return Left(s"dense-key path requires a contiguous domain: [$mn,$mx] holds $n keys")
    if (n > Int.MaxValue) return Left(s"domain too large for one array: $n")
    // pack each partition into primitive arrays, reading its (key, value)
    // batches natively; when the partition's keys are already an
    // ascending contiguous run — true for every range-partitioned
    // surrogate-key dim, e.g. spark.range output or a key-sorted parquet
    // file — ship ONLY the values (8 B/key, keys reconstructed from the
    // run start) and fill with one arraycopy. Non-contiguous partitions
    // fall back to (keys, values) pairs. Either way the driver-side
    // assembly is the same data path Spark's own BroadcastExchangeExec
    // uses (task results → build relation), at half the bytes on the
    // fast path.
    val src = batchSource(items, Seq(itemKey, valueCol))
    val (kInt, vInt) = (src.isInt(0), src.isInt(1))
    val chunkOf = (bs: Iterator[ColumnarBatch]) => {
      val ks = new scala.collection.mutable.ArrayBuilder.ofLong
      val vs = new scala.collection.mutable.ArrayBuilder.ofLong
      var first = 0L
      var prev = 0L
      var any = false
      var contiguous = true
      var nulls = 0L
      bs.foreach { b =>
        val kc = b.column(0)
        val vc = b.column(1)
        var i = 0
        while (i < b.numRows) {
          if (kc.isNullAt(i) || vc.isNullAt(i)) nulls += 1L
          else {
            val k = readLong(kc, kInt, i)
            if (!any) { first = k; any = true }
            else if (contiguous && k != prev + 1L) contiguous = false
            prev = k
            if (!contiguous) ks += k
            vs += readLong(vc, vInt, i)
          }
          i += 1
        }
      }
      val varr = vs.result()
      if (contiguous) DenseBuildChunk(first, null, varr, nulls)
      else {
        // keys recorded only after the break — rebuild the full key array
        val tail = ks.result()
        val all = new Array[Long](varr.length)
        val nContig = varr.length - tail.length
        var i = 0
        while (i < nContig) { all(i) = first + i; i += 1 }
        System.arraycopy(tail, 0, all, nContig, tail.length)
        DenseBuildChunk(first, all, varr, nulls)
      }
    }
    val arr = new Array[Long](n.toInt)
    // min, max and rows alone pass duplicate-plus-gap keys ((1, 1, 3)
    // has min 1, max 3 and 3 rows), which would leave the gap's slot 0:
    // every slot must be written exactly once
    val written = new java.util.BitSet(n.toInt)
    var nulls = 0L
    var fault: String = null
    def place(lo: Long, len: Int): Boolean =
      if (lo < 0L || lo + len > n) { fault = s"key ${lo + mn} outside [$mn,$mx]"; false }
      else {
        val dup = written.nextSetBit(lo.toInt)
        if (dup >= 0 && dup < lo + len) { fault = s"key ${dup + mn} occurs twice"; false }
        else { written.set(lo.toInt, (lo + len).toInt); true }
      }
    // stream each partition's chunk into the target array AS IT ARRIVES
    // (runJob resultHandler — serialized calls, happens-before on
    // return) instead of collect()-ing all chunks first: the driver
    // never holds the full 8-16 B/key chunk set NEXT TO `arr`, and each
    // chunk is unreachable the moment its arraycopy finishes. Halves
    // peak driver allocation at inner=1e8 — the allocation spike that
    // made build times swing 3-58 s under a loaded heap (SCALING.md
    // round-4 footnote). A fault is recorded, not thrown: an exception
    // in the handler would surface as a wrapped job failure.
    sc.runJob(src.batches, chunkOf, (_: Int, c: DenseBuildChunk) => {
      nulls += c.nulls
      if (fault == null) {
        if (c.keys == null) {
          if (c.values.nonEmpty && place(c.first - mn, c.values.length))
            System.arraycopy(c.values, 0, arr, (c.first - mn).toInt, c.values.length)
        } else {
          var i = 0
          while (fault == null && i < c.keys.length) {
            if (place(c.keys(i) - mn, 1)) arr((c.keys(i) - mn).toInt) = c.values(i)
            i += 1
          }
        }
      }
    })
    if (nulls > 0L)
      return Left(s"dense-key path requires non-NULL keys and values: $nulls rows carry a NULL")
    if (fault != null)
      return Left(s"dense-key path requires each key in [$mn,$mx] exactly once: $fault")
    if (written.cardinality() != n)
      return Left(s"dense-key path requires each key in [$mn,$mx] exactly once: " +
        s"${written.cardinality()} of $n written")
    val bc = sc.broadcast(arr)
    System.err.println(f"[dense-build] n=$n build=${(System.nanoTime() - t0) / 1e9}%.3f s")
    Right((bc, mn))
  }

  /** Per-task columnar input of the dense probe kernel: batches holding
    * the requested columns in order, which of them are int-stored, which
    * are nullable, and where the batches come from (`kind`, which names
    * the kernel's RDD: "columnar" is the scan's own output, "rows" the
    * row-to-batch fallback).
    */
  private final case class BatchSource(
      batches: RDD[ColumnarBatch], isInt: Array[Boolean], nullable: Array[Boolean], kind: String)

  // rows per batch in the row-to-batch fallback (the vectorized parquet
  // reader's default batch size)
  private val FallbackBatchRows = 4096

  /** The batches of `cols` of `df`. Int and long columns are read as
    * stored (the Matrix narrow layout keeps 32-bit columns); any other
    * type is cast to long in the projection. When the executed
    * projection is a columnar scan — a cached `InMemoryTableScan`, or a
    * vectorized parquet scan under its `ColumnarToRow` and at most a
    * column-reordering `Project` — the kernel reads that scan's batches
    * directly; anything else is executed as rows and copied into batches.
    */
  private def batchSource(df: DataFrame, cols: Seq[String]): BatchSource = {
    val raw = df.select(cols.map(col): _*)
    val proj = raw.select(raw.schema.fields.toSeq.map { f =>
      f.dataType match {
        case IntegerType | LongType => col(f.name)
        case _ => col(f.name).cast(LongType).as(f.name)
      }
    }: _*)
    val fields = proj.schema.fields
    val isInt = fields.map(_.dataType == IntegerType)
    val nullable = fields.map(_.nullable)
    // a scan that also emits rows (the cached scan) is the plan's root,
    // with no transition above it; a file scan whose column order is
    // not the requested one sits under a reordering Project
    val plan = proj.queryExecution.executedPlan
    val scan = plan match {
      case WholeStageCodegenExec(ProjectExec(list, ColumnarToRowExec(s)))
          if list.forall(_.isInstanceOf[Attribute]) => s
      case WholeStageCodegenExec(ColumnarToRowExec(s)) => s
      case ColumnarToRowExec(s) => s
      case s => s
    }
    val at = plan.output.map(a => scan.output.indexWhere(_.exprId == a.exprId)).toArray
    if (scan.supportsColumnar && !at.contains(-1)) {
      val batches = scan.executeColumnar()
      BatchSource(
        if (at.toSeq == at.indices) batches
        else batches.mapPartitions(_.map { b =>
          val p = new ColumnarBatch(at.map(b.column))
          p.setNumRows(b.numRows)
          p
        }),
        isInt, nullable, "columnar")
    } else {
      val types = fields.map(_.dataType)
      BatchSource(proj.queryExecution.toRdd.mapPartitions(rowsToBatches(_, types)),
        isInt, nullable, "rows")
    }
  }

  private def rowsToBatches(rows: Iterator[InternalRow], types: Array[DataType]): Iterator[ColumnarBatch] = {
    val vecs = types.map(t => new OnHeapColumnVector(FallbackBatchRows, t))
    val batch = new ColumnarBatch(vecs.map(v => v: ColumnVector))
    new Iterator[ColumnarBatch] {
      def hasNext: Boolean = rows.hasNext
      def next(): ColumnarBatch = {
        vecs.foreach(_.reset())
        var n = 0
        while (n < FallbackBatchRows && rows.hasNext) {
          val r = rows.next()
          var j = 0
          while (j < vecs.length) {
            if (r.isNullAt(j)) vecs(j).putNull(n)
            else if (types(j) == IntegerType) vecs(j).putInt(n, r.getInt(j))
            else vecs(j).putLong(n, r.getLong(j))
            j += 1
          }
          n += 1
        }
        batch.setNumRows(n)
        batch
      }
    }
  }

  private def readLong(v: ColumnVector, isInt: Boolean, i: Int): Long =
    if (isInt) v.getInt(i).toLong else v.getLong(i)

  /** One task's dense accumulators: per slot Σ v, row count, and (when
    * v can be NULL) whether any v was non-NULL.
    */
  private final class DenseAcc(slots: Int, trackV: Boolean) {
    val sums = new Array[Long](slots)
    val cnts = new Array[Long](slots)
    val hasV: Array[Boolean] = if (trackV) new Array[Boolean](slots) else null
  }

  /** The dense probe-and-aggregate kernel: one batch of (key, quantity
    * [, group]) columns from [[batchSource]], probed into the dense value
    * array and accumulated into `acc` — the reference's probe loop over
    * column arrays (q4112_hj_1.c:49-77), with no row ever materialized.
    * Per row, one loop does the bounds-checked array index, the multiply
    * and the accumulate. Without a group column every row goes to slot
    * 0 (part 1); with one, to slot group − `mg`, and a NULL group to
    * slot `nullSlot`. A group outside [mg, mg + nullSlot) means the
    * routing statistics were stale, and fails loudly.
    *
    * Semantics are the Catalyst plan's: a NULL or out-of-domain key
    * drops the row (inner join); a NULL quantity counts the row but adds
    * nothing, and marks nothing in `hasV`, so a slot with no non-NULL
    * product reads NULL. `exact` is the session's `spark.sql.ansi.enabled`:
    * `Math.multiplyExact`/`addExact` raise on overflow like the ANSI
    * plan; off, the arithmetic wraps like the legacy plan.
    *
    * The kernel keeps no state outside `acc`, which its task allocates,
    * so a retried task recomputes its own result and cannot double count.
    *
    * Measured and not shipped, in a single-file Java loop on a 4-core
    * host (2 threads × 5e6 probes into a 1e7-entry array):
    *  - a radix-partitioned probe (partition the keys into cache-sized
    *    ranges, then probe range by range) ran at 25-49 ns/row against
    *    30-39 ns/row for this direct probe;
    *  - an `int[]` value array (half the bytes) ran at 25-30 ns/row
    *    against 30-39 for `long[]`.
    * The tight loop is not memory-bound, so neither pays for its extra
    * pass or its narrower value domain.
    */
  private def probeAccumulate(
      b: ColumnarBatch, isInt: Array[Boolean], arr: Array[Long], mn: Long,
      mg: Long, nullSlot: Int, exact: Boolean, acc: DenseAcc): Unit = {
    val n = b.numRows
    val kc = b.column(0)
    val qc = b.column(1)
    val gc = if (b.numCols > 2) b.column(2) else null
    val (kInt, qInt) = (isInt(0), isInt(1))
    val gInt = gc != null && isInt(2)
    val kNulls = kc.hasNull
    val qNulls = qc.hasNull
    val gNulls = gc != null && gc.hasNull
    val sums = acc.sums
    val cnts = acc.cnts
    val hasV = acc.hasV
    val len = arr.length
    var i = 0
    while (i < n) {
      if (!(kNulls && kc.isNullAt(i))) {
        val k = readLong(kc, kInt, i) - mn
        if (k >= 0L && k < len) {
          val g =
            if (gc == null) 0
            else if (gNulls && gc.isNullAt(i)) nullSlot
            else {
              val gi = readLong(gc, gInt, i) - mg
              if (gi < 0L || gi >= nullSlot) throw outOfDomain(gi + mg, mg, nullSlot)
              gi.toInt
            }
          cnts(g) += 1L
          if (!(qNulls && qc.isNullAt(i))) {
            val p = arr(k.toInt)
            val q = readLong(qc, qInt, i)
            sums(g) = if (exact) Math.addExact(sums(g), Math.multiplyExact(p, q)) else sums(g) + p * q
            if (hasV != null) hasV(g) = true
          }
        }
      }
      i += 1
    }
  }

  /** Part 1 via the dense-key array probe: the "perfect hash join" plan
    * a hand-tuner would write for a dense dimension — no hash, no probe
    * chain, no row pipeline. Each task runs [[probeAccumulate]] over the
    * scan's columnar batches of (orderKey, quantity) and emits one
    * (s, c) row: Σ price·quantity (NULL when no product was non-NULL) and
    * the matched row count. A Catalyst `sum`/`sum` over those rows and
    * `s div c` finish, so cross-task overflow and the empty-input NULL
    * are the Catalyst plan's. The frame is lazy: the kernel runs when it
    * is collected (the value array is built, once per relation, here).
    * `explain()` shows the per-task rows as `Scan ExistingRDD`. Stateless
    * on retry: a retried task recomputes its row.
    */
  def part1Dense(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String): DataFrame = {
    val (bc, mn) = denseValuesArray(items, itemKey, priceCol)
    val src = batchSource(orders, Seq(orderKey, quantityCol))
    val isInt = src.isInt
    val exact = orders.sparkSession.sessionState.conf.ansiEnabled
    val perTask = src.batches.mapPartitions { bs =>
      val acc = new DenseAcc(1, trackV = true)
      val arr = bc.value
      bs.foreach(b => probeAccumulate(b, isInt, arr, mn, 0L, 0, exact, acc))
      Iterator.single[InternalRow](new GenericInternalRow(Array[Any](
        if (acc.hasV(0)) acc.sums(0) else null, acc.cnts(0))))
    }.setName(s"dense probe over ${src.kind}")
    bridge.internalDataFrame(orders.sparkSession, perTask, StructType(Seq(
      StructField("s", LongType, nullable = true),
      StructField("c", LongType, nullable = false))))
      .agg(sum(col("s")).as("s"), sum(col("c")).as("c"))
      .select(expr("s div c").as("avg_value"))
  }

  /** Part 2 via the dense-key array probe: lookup + filter + two-level
    * integer aggregation, no join operator in the plan at all. The
    * forced dense form: it fails its stated `require` on a build side
    * that is not dense.
    */
  def part2Dense(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String): DataFrame =
    avgOfGroupAvgs(
      denseGroupedValues(denseValuesArray(items, itemKey, priceCol), orders, orderKey,
        quantityCol, groupCol),
      col(groupCol), col("v"))

  /** The two-level integer average every part-2 plan ends in: per
    * `group`, `Σ v div count` (`avg_value`), then the same over those
    * values (`avg_avg_value`; q4112.c:553-576).
    */
  private def avgOfGroupAvgs(df: DataFrame, group: Column, v: Column): DataFrame =
    df.groupBy(group)
      .agg(sum(v).as("s"), count(lit(1)).as("c"))
      .select(expr("s div c").as("avg_value"))
      .agg(sum(col("avg_value")).as("ss"), count(lit(1)).as("cc"))
      .select(expr("ss div cc").as("avg_avg_value"))

  private def denseGroupedValues(
      build: (Broadcast[Array[Long]], Long),
      orders: DataFrame,
      orderKey: String,
      quantityCol: String,
      groupCol: String): DataFrame = {
    val (bc, mn) = build
    orders
      .select(graft.functions.DenseLookup(bc, mn)(col(orderKey).cast("long")).as("price"),
        col(quantityCol).as("q"), col(groupCol))
      .where(col("price").isNotNull)
      .select(col(groupCol), (col("price") * col("q")).as("v"))
  }

  /** The joined (group, v = price*quantity) projection, via the dense
    * array probe when the build side is a contiguous-key dimension
    * ([[denseEligible]]), else a broadcast hash join — the front half of
    * [[denseGroupedAvg]] and of the joined-bucketed layout.
    */
  private[graft] def groupedValues(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String): DataFrame =
    eligibleDenseBuild(items, itemKey, priceCol) match {
      case Some(build) => denseGroupedValues(build, orders, orderKey, quantityCol, groupCol)
      case None =>
        join(items, orders, itemKey, orderKey, BroadcastHash)
          .select(col(groupCol), (col(priceCol) * col(quantityCol)).as("v"))
    }

  /** Per-task array cap of the dense aggregate: no task of
    * [[part2DenseAgg]] or [[denseGroupedAvg]] holds accumulator arrays
    * of more than 2^22 slots (64 MB, two long arrays), on either side of
    * the shuffle. A domain up to this cap is accumulated per task in
    * arrays; a wider one (with a dense build side) goes through the
    * combine cache, and its merge splits into more reducer ranges
    * instead of growing any one task's arrays.
    */
  val DenseAggMaxDomain: Long = 1L << 22

  /** Group-domain ceiling of [[part2DenseAgg]] with a dense build side:
    * 2^27 slots, which covers the reference's 1e8-group configs
    * (q4112.csv cfg4/11/18) in at most 32 reducer ranges of
    * [[DenseAggMaxDomain]] slots. A wider domain takes the hash plan.
    */
  val RangeDenseMaxDomain: Long = 1L << 27

  /** Part 2 with the PARTIAL AGGREGATE itself dense — the reference's
    * own accumulation shape (q4112.c:225-297 aggregates into a sized
    * global array after its FM sketch bounds the group count): the
    * group domain [lo, hi] is proven from cached column min/max
    * statistics, and every row adds into slot (group − lo) of plain
    * arrays instead of probing a hash map (hash + row compare over a
    * ~1e6-entry UnsafeFixedWidthAggregationMap that misses cache — the
    * profiled r9 attribution put that probe at the center of the cold
    * cfg10/17 gap, ~430 ns/row, zero spill). The per-slot sums are then
    * merged by slot range, not by hashing: see [[mergeDenseChunks]].
    *
    * With a dense build side ([[denseEligible]]) the probe kernel reads
    * the scan's columnar batches of (orderKey, quantity, group): probe,
    * multiply and add in one loop, with no join operator and no row
    * pipeline. A domain of up to [[DenseAggMaxDomain]] slots adds into
    * per-task arrays ([[probeAccumulate]]); one of up to
    * [[RangeDenseMaxDomain]] slots folds each row into the reference's
    * combine cache ([[probeCombine]]), whose evictions ship to the
    * reducer that owns their slot, so a task's memory is bounded by a
    * constant, not by the domain or the row count. Otherwise a broadcast
    * hash join feeds (group, v) rows to [[denseGroupedAvg]], within
    * [[DenseAggMaxDomain]].
    *
    * The domain comes from the group column's cached min/max
    * ([[groupDomain]], the statistics [[part2Adaptive]] routes on); a
    * group column that is not byte, short, int or long, or a domain past
    * the cap, fails a stated `require`.
    *
    * Exactness: identical arithmetic to [[part2]] — products and sums
    * inside a task and across tasks raise on overflow when the session
    * runs ANSI and wrap when it does not, `s div c` per group, integer
    * avg-of-avgs, NULL groups and NULL values as the hash plan treats
    * them. A group outside the domain (statistics gone stale under an
    * unchanged plan) fails loudly. Every form is an ordinary stateless
    * shuffle, so a retried task cannot double count.
    */
  def part2DenseAgg(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String): DataFrame = {
    val build = eligibleDenseBuild(items, itemKey, priceCol)
    val (mg, dom) = groupDomain(orders, groupCol,
      if (build.isDefined) RangeDenseMaxDomain else DenseAggMaxDomain)
    val spark = orders.sparkSession
    val exact = spark.sessionState.conf.ansiEnabled
    val ranges = slotRanges(spark, dom)
    build match {
      case Some((bc, mn)) =>
        val src = batchSource(orders, Seq(orderKey, quantityCol, groupCol))
        val isInt = src.isInt
        val trackV = src.nullable(1)
        // slot `dom` past the domain holds the NULL group
        val chunks =
          if (dom <= DenseAggMaxDomain) src.batches.mapPartitions { bs =>
            val acc = new DenseAcc(dom + 1, trackV)
            val arr = bc.value
            bs.foreach(b => probeAccumulate(b, isInt, arr, mn, mg, dom, exact, acc))
            accChunks(acc, ranges)
          } else src.batches.mapPartitions { bs =>
            val cache = new CombineCache(ranges, trackV, exact)
            val arr = bc.value
            bs.flatMap { b =>
              probeCombine(b, isInt, arr, mn, mg, dom, exact, cache)
              cache.shipped()
            } ++ cache.flush()
          }
        mergeDenseChunks(spark, chunks.setName(s"dense probe over ${src.kind}"), ranges, exact)
      case None =>
        denseGroupedAvg(
          groupedValues(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol)
            .select(col(groupCol).cast("long"), col("v").cast("long")),
          mg, dom)
    }
  }

  /** Can the dense forms index by `c`? Only byte, short, int and long
    * columns: the kernel reads any other type through a cast to long,
    * which would merge groups (2.5 and 2.0 both read 2).
    */
  private def integralColumn(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

  /** The group domain of `orders` as (min group, slots), from the cached
    * min/max statistics [[part2Adaptive]] routes on (same columns, so
    * the same cache entry). An empty or all-NULL group column has no
    * min/max and takes one slot, which no row uses: the answer is still
    * the hash plan's. A group column that is not integral, a domain of
    * more than `cap` slots, or one wider than 2^63 (the width
    * subtraction wraps negative) fails a stated `require`.
    */
  private def groupDomain(orders: DataFrame, groupCol: String, cap: Long): (Long, Int) = {
    require(integralColumn(orders, groupCol), s"dense aggregate needs a byte, short, int " +
      s"or long group column: '$groupCol' is ${orders.schema(groupCol).dataType.simpleString}")
    minMaxLongsOpt(orders, Seq(groupCol)) match {
      case Some(Seq((mn, mx))) =>
        require(mx - mn >= 0L && mx - mn < cap,
          s"group domain [$mn, $mx] of '$groupCol' exceeds $cap slots")
        (mn, (mx - mn + 1L).toInt)
      case _ => (0L, 1)
    }
  }

  private def outOfDomain(g: Long, mg: Long, slots: Int) = new IllegalStateException(
    s"dense aggregate saw group $g outside the stats-proven domain [$mg, ${mg + slots}) " +
      "— stale statistics?")

  // slots per reducer range in [[mergeDenseChunks]]: ~1 MB of merge arrays
  private val DenseAggSlotsPerReducer = 1 << 16

  /** The reducer ranges of a merge over `slots` slots (the domain plus
    * the NULL group): `n` ranges of `width` slots, range r from slot
    * r · width. R = max(⌈slots / [[DenseAggMaxDomain]]⌉, min(session
    * shuffle partitions, ⌈domain / 2^16⌉)), so no reducer holds more
    * than the per-task array cap.
    */
  private final case class SlotRanges(slots: Int, n: Int, width: Int)

  private def slotRanges(spark: org.apache.spark.sql.SparkSession, domain: Int): SlotRanges = {
    val slots = domain + 1
    val n = math.max(((slots + DenseAggMaxDomain - 1) / DenseAggMaxDomain).toInt,
      math.max(1, math.min(spark.sessionState.conf.numShufflePartitions,
        (domain + DenseAggSlotsPerReducer - 1) / DenseAggSlotsPerReducer)))
    SlotRanges(slots, n, (slots + n - 1) / n)
  }

  /** One task's share of one reducer's slot range in [[mergeDenseChunks]]:
    * a dense slice of the range (`slots == null`) or (slot, sum, count)
    * triples, slots relative to the range start. `hasV(j)`: entry j saw
    * a non-NULL v; null when the input is non-nullable.
    */
  private final case class DenseChunk(
      slots: Array[Int], sums: Array[Long], cnts: Array[Long], hasV: Array[Boolean])

  /** The dense partial aggregate of [[part2DenseAgg]] over a prepared
    * (group, v) projection, both long — the form for a build side that
    * is joined by hash; exposed separately so the accumulation can be
    * measured and tested without the join front half. Each task adds
    * its rows into a [[DenseAcc]] with slot `domain` for the NULL group;
    * the arrays are merged as described at [[mergeDenseChunks]], which
    * the kernel forms of [[part2DenseAgg]] share.
    *
    * NULLs: nullability is decided from gv's SCHEMA, once, at plan time:
    * the unguarded loop reads primitives directly and would misread a
    * NULL group as 0 (silent cross-group merge when minGroup == 0,
    * executor crash otherwise — round-9 advice item 2). A nullable input
    * takes a guarded loop that reproduces the hash plan's semantics
    * exactly: NULL group is its own group; `count(lit(1))` counts every
    * row; `sum(v)` skips NULL v and is itself NULL when a group saw no
    * non-NULL v (tracked per slot in `hasV`). Column min/max stats
    * ignore NULLs, so non-NULL groups remain provably in-domain.
    *
    * Overflow: a task adds with `Math.addExact` when the session runs
    * ANSI, so two rows of v = 2^62 in one task raise like the hash plan's
    * `sum(v)`, and wraps when it does not.
    *
    * A group outside [minGroup, minGroup + domain) means the domain's
    * statistics were stale, and fails loudly like the kernel's, instead
    * of adding into the NULL slot or a wrapped live slot.
    */
  private[graft] def denseGroupedAvg(gv: DataFrame, minGroup: Long, domain: Int): DataFrame = {
    require(domain > 0 && domain <= DenseAggMaxDomain,
      s"dense aggregate domain out of range: $domain")
    val mg = minGroup
    val dom = domain
    val exact = gv.sparkSession.sessionState.conf.ansiEnabled
    val nullable = gv.schema.fields.exists(_.nullable)
    val ranges = slotRanges(gv.sparkSession, dom)
    // qualified: an unqualified call would make this local def, and the
    // task closure that calls it, capture the (unserializable) object
    def slot(g: Long): Int = {
      val gi = g - mg
      if (gi < 0L || gi >= dom) throw Q4112.outOfDomain(g, mg, dom)
      gi.toInt
    }
    val chunks = gv.queryExecution.toRdd.mapPartitions { it =>
      val acc = new DenseAcc(dom + 1, nullable)
      val sums = acc.sums
      val cnts = acc.cnts
      val hasV = acc.hasV
      if (!nullable) while (it.hasNext) {
        val r = it.next() // primitives read immediately; row reuse is fine
        val g = slot(r.getLong(0))
        val v = r.getLong(1)
        sums(g) = if (exact) Math.addExact(sums(g), v) else sums(g) + v
        cnts(g) += 1L
      } else while (it.hasNext) {
        val r = it.next()
        val g = if (r.isNullAt(0)) dom else slot(r.getLong(0))
        cnts(g) += 1L
        if (!r.isNullAt(1)) {
          val v = r.getLong(1)
          sums(g) = if (exact) Math.addExact(sums(g), v) else sums(g) + v
          hasV(g) = true
        }
      }
      accChunks(acc, ranges)
    }
    mergeDenseChunks(gv.sparkSession, chunks, ranges, exact)
  }

  /** One task's [[DenseAcc]] as [[DenseChunk]]s keyed by reducer, one per
    * non-empty range. A chunk is a dense slice only when at least half
    * its slots are occupied (16 bytes a slot, 17 with NULL tracking),
    * else triples (20-21 bytes a group), so the shuffle never carries
    * more per group than the 36-byte (g, s, c) UnsafeRow record that the
    * Catalyst partial/final merge of earlier rounds shipped.
    */
  private def accChunks(acc: DenseAcc, ranges: SlotRanges): Iterator[(Int, DenseChunk)] = {
    val (sums, cnts, hasV) = (acc.sums, acc.cnts, acc.hasV)
    Iterator.range(0, ranges.n).flatMap { r =>
      val lo = r * ranges.width
      val hi = math.min(ranges.slots, lo + ranges.width)
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
  }

  // entries per shipped chunk of combine-cache evictions (~84 KB)
  private val EvictChunk = 1 << 12

  /** The reference's per-thread combine cache (q4112.c:232-233) in front
    * of the range-partitioned merge: a direct-mapped cache of 2^13
    * (slot, Σ v, count) entries. Heavy-hitter groups accumulate in it
    * without leaving the task; a row whose entry holds another slot
    * evicts that entry into the buffer of the reducer range owning it,
    * and each full buffer of [[EvictChunk]] entries leaves as one
    * [[DenseChunk]] of triples. Memory is the cache plus one buffer per
    * range: constant in the domain and the row count.
    *
    * Size: 2^13 entries is the reference's measured best (q4112.c:232-233,
    * log_entries = 13; README-2.txt:10-12 measured 2^10/2^13/2^15) AND
    * ours: the round-11 replay of that ablation at 1e9 on the three pole
    * shapes (SCALING.md round 11, measured in front of the JVM-shared
    * accumulation table this cache used to feed) reproduces the C's
    * curve — 2^10 thrashes the 1e4-hot-group shape (5.20 s vs 2.83 s),
    * 2^15 pays its flush scan everywhere, 2^13 wins the sum.
    *
    * Overflow: with `exact` (ANSI) an entry adds with `Math.addExact`,
    * and the reducer adds the evicted partial sums the same way.
    */
  private final class CombineCache(ranges: SlotRanges, trackV: Boolean, exact: Boolean) {
    private val bits = 13
    private val keys = new Array[Int](1 << bits) // slot + 1; 0 = empty
    private val sums = new Array[Long](1 << bits)
    private val cnts = new Array[Long](1 << bits)
    private val hasV = new Array[Boolean](1 << bits)
    // per reducer range: the buffer being filled and its fill count
    private val bufs = new Array[DenseChunk](ranges.n)
    private val fill = new Array[Int](ranges.n)
    private val full = scala.collection.mutable.ArrayBuffer[(Int, DenseChunk)]()

    /** Count one row of slot `g`, adding `v` when `withV` (the row's
      * product is not NULL).
      */
    def add(g: Int, v: Long, withV: Boolean): Unit = {
      val h = (g * -1640531527) >>> (32 - bits)
      if (keys(h) != g + 1) {
        if (keys(h) != 0) evict(h)
        keys(h) = g + 1; sums(h) = 0L; cnts(h) = 0L; hasV(h) = false
      }
      cnts(h) += 1L
      if (withV) {
        sums(h) = if (exact) Math.addExact(sums(h), v) else sums(h) + v
        hasV(h) = true
      }
    }

    private def evict(h: Int): Unit = {
      val g = keys(h) - 1
      val r = g / ranges.width
      if (bufs(r) == null) bufs(r) = DenseChunk(new Array[Int](EvictChunk),
        new Array[Long](EvictChunk), new Array[Long](EvictChunk),
        if (trackV) new Array[Boolean](EvictChunk) else null)
      val b = bufs(r)
      val j = fill(r)
      b.slots(j) = g - r * ranges.width
      b.sums(j) = sums(h)
      b.cnts(j) = cnts(h)
      if (trackV) b.hasV(j) = hasV(h)
      if (j + 1 < EvictChunk) fill(r) = j + 1
      else { full += r -> b; bufs(r) = null; fill(r) = 0 }
    }

    /** The chunks filled since the last call. */
    def shipped(): Iterator[(Int, DenseChunk)] =
      if (full.isEmpty) Iterator.empty
      else { val out = full.toList; full.clear(); out.iterator }

    /** Evict every entry, then ship every buffer, full or not. */
    def flush(): Iterator[(Int, DenseChunk)] = {
      var h = 0
      while (h < keys.length) { if (keys(h) != 0) evict(h); keys(h) = 0; h += 1 }
      for (r <- bufs.indices if fill(r) > 0) {
        val (b, k) = (bufs(r), fill(r))
        full += r -> DenseChunk(b.slots.take(k), b.sums.take(k), b.cnts.take(k),
          if (trackV) b.hasV.take(k) else null)
      }
      shipped()
    }
  }

  /** [[probeAccumulate]]'s probe for a domain too wide for per-task
    * arrays: the same reads, the same row drops and the same
    * stale-statistics check, with each matched row folded into `cache`
    * instead of an array slot. A loop of its own, so the array kernel's
    * loop gains no work.
    */
  private def probeCombine(
      b: ColumnarBatch, isInt: Array[Boolean], arr: Array[Long], mn: Long,
      mg: Long, nullSlot: Int, exact: Boolean, cache: CombineCache): Unit = {
    val n = b.numRows
    val (kc, qc, gc) = (b.column(0), b.column(1), b.column(2))
    val (kInt, qInt, gInt) = (isInt(0), isInt(1), isInt(2))
    val (kNulls, qNulls, gNulls) = (kc.hasNull, qc.hasNull, gc.hasNull)
    val len = arr.length
    var i = 0
    while (i < n) {
      if (!(kNulls && kc.isNullAt(i))) {
        val k = readLong(kc, kInt, i) - mn
        if (k >= 0L && k < len) {
          val g =
            if (gNulls && gc.isNullAt(i)) nullSlot
            else {
              val gi = readLong(gc, gInt, i) - mg
              if (gi < 0L || gi >= nullSlot) throw outOfDomain(gi + mg, mg, nullSlot)
              gi.toInt
            }
          if (qNulls && qc.isNullAt(i)) cache.add(g, 0L, withV = false)
          else {
            val p = arr(k.toInt)
            val q = readLong(qc, qInt, i)
            cache.add(g, if (exact) Math.multiplyExact(p, q) else p * q, withV = true)
          }
        }
      }
      i += 1
    }
  }

  /** Merge per-task [[DenseChunk]]s keyed by reducer range into the
    * part-2 answer by a reduce-scatter: reducer r owns slots
    * [r · width, (r + 1) · width) of `ranges` (the last slot is the NULL
    * group), adds its chunks slot by slot into arrays of at most
    * [[DenseAggMaxDomain]] slots, and emits one (Σ s div c, #groups)
    * row. A tiny ungrouped Catalyst aggregate over those R rows gives
    * `ss div cc`. No side hashes a key. Cross-task sums use
    * `Math.addExact` when `exact` (the session's ANSI flag), so they
    * raise on overflow exactly where the hash plan's ANSI `sum(s)` does.
    *
    * Retries: the chunks go through an ordinary stateless shuffle, so a
    * retried map task recomputes its chunks and replaces the failed
    * attempt's output — it can never double count.
    */
  private def mergeDenseChunks(
      spark: org.apache.spark.sql.SparkSession,
      chunks: RDD[(Int, DenseChunk)],
      ranges: SlotRanges,
      exact: Boolean): DataFrame = {
    val add = (a: Long, b: Long) => if (exact) Math.addExact(a, b) else a + b
    val reduced = chunks
      .partitionBy(new org.apache.spark.HashPartitioner(ranges.n))
      .mapPartitionsWithIndex { (r, it) =>
        val n = math.max(0, math.min(ranges.slots, (r + 1) * ranges.width) - r * ranges.width)
        val sums = new Array[Long](n)
        val cnts = new Array[Long](n)
        val hasV = new Array[Boolean](n)
        it.foreach { case (_, ch) =>
          var j = 0
          while (j < ch.cnts.length) {
            val i = if (ch.slots == null) j else ch.slots(j)
            if (ch.cnts(j) != 0L) {
              sums(i) = add(sums(i), ch.sums(j))
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
            if (hasV(i)) { ss = add(ss, sums(i) / cnts(i)); anyV = true }
          }
          i += 1
        }
        Iterator.single[InternalRow](new GenericInternalRow(Array[Any](if (anyV) ss else null, cc)))
      }
    val schema = StructType(Seq(
      StructField("ss", LongType, nullable = true),
      StructField("cc", LongType, nullable = false)))
    bridge.internalDataFrame(spark, reduced, schema)
      .agg(sum(col("ss")).as("ss"), sum(col("cc")).as("cc"))
      .select(expr("ss div cc").as("avg_avg_value"))
  }

  /** Part 2 with the physical aggregation plan chosen from the stored
    * layout and one statistic, the group column's cached min/max — the
    * reference sizes its one aggregation table from an estimate of the
    * group domain the same way (q4112.c:336-377), and Azure Synapse's
    * Spark optimizer (VLDB 2021) likewise takes the aggregation strategy
    * from statistics rather than from a menu of hand-tuned forms. In
    * order (`lastChosenPlan` names the outcome):
    *  - `joined_bucketed`, `bucketed`/`bucketed_routed`: an exchange-free
    *    stored layout;
    *  - `partial_dense`: a group domain under 2^22 slots
    *    ([[DenseAggMaxDomain]]), per-task arrays in [[part2DenseAgg]];
    *  - `range_dense`: a domain under 2^27 slots ([[RangeDenseMaxDomain]])
    *    with a dense build side, the combine cache in [[part2DenseAgg]];
    *  - `partial`: anything else (a wider or unbounded domain, a gappy
    *    build side past 2^22 slots, a group column that is not byte,
    *    short, int or long), Catalyst's hash partial/final aggregate.
    */
  def part2Adaptive(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String,
      groupCol: String): DataFrame = {
    val t0 = System.nanoTime()
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
      return avgOfGroupAvgs(layout, col(groupCol), col("v"))
    }
    // next: the probe relation stored clustered on the group key —
    // either the caller handed us the bucketed scan directly
    // ([[clusteredOn]] on `orders`, the round-3 path), or the registry
    // maps the raw relation to its bucketed form (routed). Either way
    // the partial/final aggregate needs no exchange. This folds the
    // round-3 bucketed env-var mode into the planner (measured
    // 12-22× → 2.4-2.9× of the reference on the singleton-group shapes,
    // SCALING.md).
    val routedOrders = LayoutRegistry.bucketedFor(orders, groupCol)
    val probeOrders = routedOrders.getOrElse(orders)
    // the dense perfect-hash probe whenever the build side is a
    // contiguous-key dimension (cached stats, no job). Measured
    // motivation: the 1e9-row probe of a 1e5-entry broadcast hash map
    // costs ~175 ns/row (part-2 cfg8 at 3.6× the reference); the array
    // probe is a bounds-check + index into an L2-resident array. The
    // forms below read the same cached fact.
    val useDense = denseEligible(items, itemKey, priceCol)
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
    // the group domain's width max − min, from the cached min/max the
    // dense form reads again (same columns, so no job). None for a group
    // column the dense forms cannot index by (asked before the
    // statistics, which only integral columns have as longs), for an
    // empty or all-NULL column (no stats: fall back, don't NPE — advice
    // r9 item 3) and for a domain wider than 2^63, whose width
    // subtraction wraps negative and would otherwise pass every cap
    // (advice r9 item 1)
    val width =
      if (!integralColumn(orders, groupCol)) None
      else minMaxLongsOpt(orders, Seq(groupCol)).collect {
        case Seq((mn, mx)) if mx - mn >= 0L => mx - mn
      }
    lastChosenPlan =
      if (width.exists(_ < DenseAggMaxDomain)) "partial_dense"
      else if (useDense && width.exists(_ < RangeDenseMaxDomain)) "range_dense"
      else "partial"
    System.err.println(f"[part2-adaptive] groupDomain=${width.fold("none")(w => s"${w + 1}")} " +
      f"denseBuild=$useDense -> $lastChosenPlan est=${(System.nanoTime() - t0) / 1e9}%.3f s")
    // the missed-layout hint (round-4 verdict item 7): every plan below
    // ships its partial aggregates through an exchange on the group key
    // that the bucketed layout would elide — say so AT PLAN TIME
    advise(f"this aggregate takes an exchange on '$groupCol'; storing the probe table " +
      f"bucketed on '$groupCol' (Tables.writeBucketed) would make it exchange-free")
    if (lastChosenPlan != "partial")
      part2DenseAgg(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol)
    else if (useDense) part2Dense(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol)
    else part2(items, orders, itemKey, orderKey, priceCol, quantityCol, groupCol, BroadcastHash)
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
    * for a contiguous-key build side ([[denseEligible]]), broadcast hash
    * for any other.
    */
  def part1Adaptive(
      items: DataFrame,
      orders: DataFrame,
      itemKey: String,
      orderKey: String,
      priceCol: String,
      quantityCol: String): DataFrame =
    if (coPartitioned(items, itemKey, orders, orderKey)) {
      lastChosenPlan = "bucketed-shj"
      advise("")
      part1(items, orders, itemKey, orderKey, priceCol, quantityCol, ShuffledHash)
    } else if (denseEligible(items, itemKey, priceCol)) {
      lastChosenPlan = "dense"
      // the dense probe needs a driver-side broadcast build per items
      // version — the co-located layout removes it (measured: part-1
      // 1e8-inner configs 2.0-2.7× → 1.07-1.77×, SCALING.md round 4).
      // Only worth saying when that build is material: a build side of
      // ≥1e7 rows, where the build was measured in seconds — for a small
      // contiguous dim the dense probe is already the plan you'd want.
      if (relationRows(items) >= 10000000L)
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
    avgOfGroupAvgs(join(items, orders, itemKey, orderKey, strategy), col(groupCol),
      col(priceCol) * col(quantityCol))
}
