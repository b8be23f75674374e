package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run every query, dumping each result to `outDir/<name>` parquet.
    * A query whose construction or write throws MUST leave a visible trace
    * (r6 post-mortem: four broken queries silently vanished from the
    * driver's correctness artifact because failure produced no output at
    * all): each failure writes `outDir/<name>._ERROR.txt` with the
    * exception, and the collected map is also dumped as
    * `outDir/errors.json` — so a red query can never shrink the artifact
    * unnoticed. Returns name → error message for the failures. */
  private[graft] def dumpQueries(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
  ): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch {
        case e: Throwable =>
          val sw = new java.io.StringWriter()
          e.printStackTrace(new java.io.PrintWriter(sw))
          val msg = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[verify] $name FAILED: $msg")
          Files.writeString(Paths.get(s"$outDir/$name._ERROR.txt"), sw.toString)
          Some(name -> msg)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    val sfDir = args(0); val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = graft.harness.GraftSession.cpus
    // partition-count soak hook: the gate normally runs at partitions =
    // cpus; overriding (e.g. 200) flushes any partition-count-sensitive
    // assumption (banding, checkpoint reuse, per-shard windows) — every
    // registered query must hash identically at ANY partition count
    val parts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt).getOrElse(cpus)
    val spark = graft.harness.GraftSession.local(cpus, parts)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    val errors = dumpQueries(spark, sfDir, outDir, selected)
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object when green) so a consumer can distinguish
    // "no failures" from "failures were never recorded".
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${if (errors.size == 1) "y" else "ies"} failed: " +
        errors.keys.toSeq.sorted.mkString(", "))
    spark.stop()
  }
}
