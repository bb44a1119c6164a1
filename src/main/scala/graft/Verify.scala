package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py).
  * `Verify <sfDir> <outDir> [query…]`: with no query names every
  * registry face is dumped; with names only those faces and their
  * oracle SQL, in the same dump shape. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query…]")
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSet
    val chosen: String => Boolean = n => names.isEmpty || names(n)
    names.filterNot(SparkEntry.queries.contains).foreach(n =>
      System.err.println(s"[verify] unknown query: $n"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's documented tuning profile (GraftSession), so what the
    // oracle verifies is the same configuration the bench measures
    val spark = GraftSession.local(cpus.toInt, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => chosen(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
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
    val json = SparkEntry.oracleSql.filter(kv => chosen(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
