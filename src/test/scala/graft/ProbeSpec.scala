package graft

import java.nio.file.Files

/** `Probe plans` and `Probe time` on the shared session. `distinct_hll`
  * groups by a key (its plan has an exchange) and has a check, and
  * `plans` writes the run body's plans only: one file, no gate file.
  */
class ProbeSpec extends SparkSpec {

  private def stdout(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("plans writes the static and the final adaptive plan of both forms") {
    val dir = Files.createTempDirectory("probe-plans")
    Probe.run(spark, Seq("plans", dir.toString, "t", "distinct_hll"), sfDir)
    val text = Files.readString(dir.resolve("distinct_hll_t.txt"))
    val Array(static, finalPlan) = text.split("=== final adaptive plan ===")
    assert(static.contains("isFinalPlan=false") && static.contains("Exchange"))
    assert(finalPlan.contains("isFinalPlan=true"))
    assert(!Files.exists(dir.resolve("distinct_hll_t_gate.txt")))
  }

  test("time prints per-job and per-stage lines and a parseable min/median line") {
    val out = stdout(Probe.run(spark, Seq("time", "1", "distinct_hll"), sfDir))
    val lines = out.linesIterator.toSeq
    assert(lines.exists(_.startsWith("[prof] === distinct_hll rep 1 total")), out)
    assert(lines.exists(_.startsWith("[prof] [job ")), out)
    val stage = """\[prof\] \[stage +\d+\] wall= *[\d.]+ s tasks= *(\d+) sum= *[\d.]+ s max= *[\d.]+ s .*shufW= *[\d.]+ MB.*""".r
    assert(lines.collect { case stage(n) => n.toInt }.exists(_ > 0), out)
    val timing = """\[timeq\] distinct_hll +min=([\d.]+) med=([\d.]+) all=([\d.]+)""".r
    val Seq((min, med)) = lines.collect { case timing(a, b, _) => (a.toDouble, b.toDouble) }
    assert(min > 0 && min == med, out)
  }

  test("unknown subcommand fails with the usage") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, Seq("explain"), sfDir))
    assert(e.getMessage.contains("usage"))
  }
}
