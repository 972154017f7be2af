package graft

import graft.ops.Q4112
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property pinning for the packed-exchange bounds guard
  * ([[Q4112.packBoundsOk]]) — the planner admits the 16 B/row packed
  * shuffle only when min/max statistics PROVE every row packs into
  * group·2^34 + v losslessly. Drives group/price/quantity to the field
  * boundaries and asserts:
  *
  *  1. SOUNDNESS — any row set the guard accepts round-trips every row
  *     through pack/unpack bit-exactly (so the skipped per-row check in
  *     the adaptive path can never corrupt an aggregate);
  *  2. EXACTNESS on singletons — the integer-division v bound is tight:
  *     a lone row is accepted iff it is genuinely packable, including
  *     at group = 2^29 − 1 and price·quantity = 2^34 − 1 exactly;
  *  3. the runtime guard [[Q4112.part2BypassPacked]] applies when the
  *     statistics do not prove the bounds raises on each rejection class
  *     (negative price, negative quantity, oversized group, oversized v)
  *     instead of returning silently wrong aggregates.
  */
class PackedBoundsSpec extends SparkSpec {
  import spark.implicits._

  private val GMAX = (1L << 29) - 1
  private val VMAX = (1L << 34) - 1

  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    (1 to n).foreach { i => f(g.pureApply(Gen.Parameters.default, Seed(4112L + i))) }

  private def pack(g: Long, v: Long): Long = (g << 34) + v
  private def unpackG(p: Long): Long = p >> 34
  private def unpackV(p: Long): Long = p & VMAX

  // boundary-heavy generator: hits 0, the exact caps, one-off-the-cap,
  // and negatives far more often than uniform sampling would
  private def around(cap: Long): Gen[Long] = Gen.frequency(
    4 -> Gen.choose(0L, cap),
    3 -> Gen.oneOf(0L, 1L, cap - 1, cap, cap + 1, cap * 2),
    2 -> Gen.choose(-3L, 3L),
    1 -> Gen.choose(-cap, -1L))

  private val rowGen: Gen[(Long, Long, Long)] = for {
    g <- around(1L << 29)
    p <- around(1L << 17) // prices around 2^17 make p·q straddle 2^34
    q <- around(1L << 17)
  } yield (g, p, q)

  test("soundness: an accepted row set round-trips every row bit-exactly") {
    val setGen = Gen.listOfN(8, rowGen)
    forAll(setGen, n = 300) { rows =>
      val gs = rows.map(_._1); val ps = rows.map(_._2); val qs = rows.map(_._3)
      val ok = Q4112.packBoundsOk(gs.min, gs.max, ps.min, ps.max, qs.min, qs.max)
      if (ok) rows.foreach { case (g, p, q) =>
        val v = p * q
        assert(v >= 0 && v <= VMAX, s"guard admitted v=$v out of range")
        assert(unpackG(pack(g, v)) === g, s"group $g corrupted by pack")
        assert(unpackV(pack(g, v)) === v, s"v $v corrupted by pack")
      }
    }
  }

  test("exactness: a singleton is accepted iff it is genuinely packable") {
    forAll(rowGen, n = 500) { case (g, p, q) =>
      val accepted = Q4112.packBoundsOk(g, g, p, p, q, q)
      val v = BigInt(p) * BigInt(q) // overflow-free ground truth
      val truly = g >= 0 && g <= GMAX && p >= 0 && q >= 0 && v <= VMAX
      assert(accepted === truly,
        s"guard=$accepted truth=$truly for g=$g p=$p q=$q v=$v")
    }
  }

  test("exact boundary row packs and aggregates correctly end-to-end") {
    // v = price·quantity = 2^34 − 1 exactly (VMAX is prime-factorable
    // as 3 · 5726623061); group at its cap
    val items = Seq((1L, 3L)).toDF("id", "price")
    val orders = Seq((1L, 5726623061L, GMAX)).toDF("itemId", "quantity", "storeId")
    assert(Q4112.packBoundsOk(GMAX, GMAX, 3L, 3L, 5726623061L, 5726623061L))
    val out = Q4112.part2BypassPacked(items, orders, "id", "itemId", "price",
      "quantity", "storeId", numPartitions = 3).collect().head.getLong(0)
    assert(out === VMAX) // single group, avg = v, avg-of-avgs = v
  }

  test("checked packed path raises on every rejection class") {
    def run(price: Long, qty: Long, group: Long): Unit = {
      val items = Seq((1L, price)).toDF("id", "price")
      val orders = Seq((1L, qty, group)).toDF("itemId", "quantity", "storeId")
      Q4112.part2BypassPacked(items, orders, "id", "itemId", "price",
        "quantity", "storeId", numPartitions = 3).collect()
    }
    for ((p, q, g) <- Seq(
        (-2L, 5L, 1L),               // negative price
        (2L, -5L, 1L),               // negative quantity
        (2L, 5L, 1L << 29),          // group over cap
        (3L, 5726623062L, 1L))) {    // v = VMAX + 3, over cap
      val e = intercept[Exception] { run(p, q, g) }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("unpackable row")),
        s"expected unpackable-row error for p=$p q=$q g=$g, got $e")
      // and the stats guard rejects the same shape
      assert(!Q4112.packBoundsOk(g, g, p, p, q, q))
    }
  }
}
