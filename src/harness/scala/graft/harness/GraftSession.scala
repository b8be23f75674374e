package graft.harness

import org.apache.spark.sql.SparkSession

/** The one local session the dev mains (Bench, Verify, PlanDump) and the
  * test suites run on, plus the fixtures the bench rows read. */
object GraftSession {

  /** Core count for the dev mains: `$SPARK_GRAFT_CPUS`, else every core the
    * JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with `partitions` shuffle partitions, log level WARN. */
  def local(cpus: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      // TypedImperativeAggregate (minhash/simhash) groups far exceed the
      // 128-group default before the sort-based fallback kicks in
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Input fixtures the bench rows read, built outside any timed region:
    * the pipeline catalog and CSV fixture (one-time per sf dir,
    * `_READY`-marker cached) and the phrase-battery row's positional store
    * (rebuilt on every call; overwrite resets it via the staged swap). */
  def prepareBenchFixtures(spark: SparkSession, sfDir: String): Unit = {
    PipelineDemo.ensureCatalog(spark, sfDir)
    graft.gates.CatalogScanGates.ensureCsvFixture(spark, sfDir)
    graft.operators.KeywordSearch.bm25IndexBuild(
      spark.read.parquet(s"$sfDir/documents.parquet"), "text", "doc_id",
      graft.gates.SimilarityGates.benchPhraseStore(sfDir), overwrite = true, positions = true)
  }
}
