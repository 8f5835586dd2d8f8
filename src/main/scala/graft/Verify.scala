package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result to `$outDir/<name>` as parquet. A failing
    * query must leave a VISIBLE record, not a silent gap: a missing dump
    * dir makes the driver's CORRECTNESS file SHRINK (r7: 142 entries vs
    * 177 registered) instead of showing red rows — a gate that can shrink
    * without failing is not a gate. On error, write a `_ERROR` sentinel
    * inside the (parquet-less) dump dir so the driver's read fails loudly
    * and records an err row, and return the failure map for errors.json.
    * Factored out of main so a spec can drive it with a deliberately
    * throwing query and pin the sentinel behavior.
    */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, String)] = {
    val failures = Seq.newBuilder[(String, String)]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures += name -> msg.linesIterator.take(3).mkString(" | ").take(500)
        val dir = Paths.get(s"$outDir/$name")
        Files.createDirectories(dir)
        Files.writeString(dir.resolve("_ERROR"), msg)
      }
    }
    failures.result()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Fail loudly ONCE on fixture drift before running every query into it
    // (r7: one re-encoded column → 35 buried per-query AnalysisExceptions).
    graft.sources.Tables.smokeCheck(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // Same optional dev-iteration filter as Bench; a correctness run sets
    // no filter, so it always dumps the full query set.
    val (_, selected) = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val failures = dumpAll(spark, sfDir, outDir, selected)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
    // Exit explicitly: a leaked non-daemon thread (observed once after a
    // full sf0.1 dump — streaming micro-batch machinery outliving its
    // query) otherwise keeps the JVM alive AFTER all artifacts are
    // written, and the driver's gate would stall on process exit with the
    // work already done. Everything is flushed by this point.
    sys.exit(0)
  }
}
