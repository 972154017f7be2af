package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each query's checked form
  * (`SparkEntry.checked`: the run body Bench times, passed through the
  * query's check) → parquet, plus oracle_sql.json, for the driver's
  * DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName ...] — names limit the dump to a
    // subset (local iteration); the driver always runs the 2-arg form
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Engine.session()
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as an `err` row in the driver's
    // CORRECTNESS json, never as a silently-missing key (round 4 lost 9
    // queries that way): collect failures and write _errors.json beside
    // oracle_sql.json so the driver (and any human) sees a red row.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // sorted: deterministic run order, so any cross-query session effect
    // (cache warmth, conf, catalog state) reproduces identically per run
    SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.isEmpty || only(name))
      .foreach { name =>
      try SparkEntry.checked(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg.take(500)
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} FAILED queries: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
