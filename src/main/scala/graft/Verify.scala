package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `runMain graft.Verify <sfDir> <outDir> [name ...]`: with names, only
  * those queries are dumped (`tools/check.py <outDir> <sfDir> <names>`
  * checks just them); with none, every query runs. `oracle_sql.json`
  * always covers the whole inventory. Each query's wall seconds land in
  * `_timings.json`, so the slow queries of a long check are named.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = Harness.session(Harness.cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures are first-class: r10's fixture regression silently dropped 22
    // rows from the correctness artifact (stderr-only), which read as
    // "coverage shrank" rather than "queries are broken". Every throwing
    // query lands in _failed.json (empty object on a clean run) so breakage
    // can never again masquerade as a coverage choice.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val todo = if (names.isEmpty) SparkEntry.queries.keys.toSeq else names.toSeq
    todo.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[verify] $name failed: unknown query")
          failed(name) = "unknown query"
        case Some(fn) =>
          val t0 = System.nanoTime()
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          }
          timings(name) = "%.3f".formatLocal(java.util.Locale.ROOT,
            (System.nanoTime() - t0) / 1e9)
          // Same between-query hygiene as Bench: a query's checkpoints and
          // memos must not crowd the next one (a long sf0.1 run otherwise
          // accumulates every query's pinned blocks).
          Harness.teardown(spark)
      }
    }
    writeJson(s"$outDir/_failed.json", failed.map { case (k, v) => k -> jq(v) })
    writeJson(s"$outDir/_timings.json", timings)
    writeJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.map { case (k, v) => k -> jq(v) })
    spark.stop()
  }

  /** A flat JSON object of already-encoded values, keys escaped by [[jq]]. */
  private def writeJson(path: String,
      entries: collection.Map[String, String]): Unit = {
    val json = entries
      .map { case (k, v) => s"${jq(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
