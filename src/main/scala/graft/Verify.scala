package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [onlyPrefix,...] — the optional third arg is a
    // local-iteration filter (comma-separated name prefixes); the driver's
    // two-arg call runs everything.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = Session.local(Session.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
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
    // Filtered mode covers every query already dumped into outDir (this
    // run's and earlier ones'), so incremental dumps stay checkable with
    //   python3 scripts/selfcheck.py <sfDir> <outDir>
    val dumped: String => Boolean = if (only.isEmpty) _ => true else
      Option(new java.io.File(outDir).listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getName).toSet
    def write(file: String, m: Map[String, String]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    write("oracle_sql.json", SparkEntry.oracleSql.filter(kv => dumped(kv._1)))
    // Bench-cut tags next to the oracle SQL so duckbench.py derives the
    // like-for-like cut from the repo's single source of truth.
    write("bench_tags.json", SparkEntry.benchTags)
    // Oracle cost classes so duckbench can skip the deliberately
    // brute-force oracles above a scale threshold (--skip-quadratic).
    write("oracle_cost.json", SparkEntry.oracleCost)
    spark.stop()
  }
}
