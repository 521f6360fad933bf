package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected SparkEntry query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare.
  * Run: graft.Verify <sfDir> <outDir> [prefix…] (no prefix: every query;
  * [[SparkEntry.select]]). A prefix that matches nothing exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, prefixes @ _*) = args
    val (names, unmatched) = SparkEntry.select(prefixes)
    unmatched.foreach(p => System.err.println(s"[verify] no query matches $p"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Sessions.defaultCpus)
    val spark = Sessions.local("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // every Throwable, not only NonFatal: a StackOverflowError in one
    // deep plan must not cost the other queries their outputs
    names.foreach { name =>
      try SparkEntry.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = names.flatMap(k => SparkEntry.oracleSql.get(k).map(v => s"${q(k)}: ${q(v)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (unmatched.nonEmpty) sys.exit(1)
  }
}
