package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog._

/** Job census of `toDatasetDict` over chunk-map groups: building the frames
  * runs no Spark job beyond the group-records collect, consuming a group
  * runs as many jobs however many assets it holds, and repeated loads leave
  * no cache entries beyond the one shared entries frame per decode chain. */
class LoadCensusSpec extends AnyFunSuite {
  import JobCensus.Census
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def census[A](body: => A): (A, Census) = JobCensus(spark)(body)

  private val Coords = Seq("member_id", "time", "lat", "variable", "coords")

  private def zarrStore(k: Int): String = {
    val dir = Files.createTempDirectory("graft_census_zarr").toString
    val rows =
      (for (t <- 0L until 4L; l <- 0L until 3L)
        yield ("tas", Seq("time", "lat"), Seq(t, l), k * 100.0 + t * 10 + l)) ++
        (0L until 4L).map(t => ("time", Seq("time"), Seq(t), (k * 4 + t).toDouble))
    graft.sources.ZarrWriter.write(rows.toDF("variable", "dims", "coords", "value"), dir,
      maxChunkBytes = 48)
    dir
  }

  private lazy val stores: Seq[String] = (0 until 4).map(zarrStore)

  /** One zarr group (`source_id` "A") of `n` assets, one member each. */
  private def catalog(n: Int): EsmCatalog = {
    val rows = stores.take(n).zipWithIndex.map { case (p, i) => ("A", s"r$i", p, "zarr") }
    val local = rows.toDF("source_id", "member_id", "path", "format")
    // RDD-backed, like a scanned table: a local relation runs no jobs
    val df = spark.createDataFrame(local.rdd, local.schema)
    val model = EsmCatalogModel(esmcatVersion = "0.1.0", id = Some("load"),
      assets = Assets("path", None, Some("format")),
      aggregationControl = Some(AggregationControl("variable", List("source_id"),
        List(Aggregation(AggregationType.JoinNew, "member_id")))),
      catalogDict = Some(Nil))
    new EsmCatalog(spark, model, df, Set.empty, Map.empty,
      storageOptions = Map("graft.kerchunk.decode" -> "coords"))
  }

  private def consume(dsets: Map[String, DataFrame]): Long = {
    val rows = spark.sparkContext.longAccumulator
    dsets.values.foreach(_.queryExecution.toRdd.foreach(_ => rows.add(1L)))
    rows.value
  }

  test("building a zarr group's frames runs only the group-records collect") {
    val cat = catalog(2)
    cat.keys // the group pass, outside the census
    val (dsets, built) = census(cat.toDatasetDict(Coords))
    assert(dsets.keySet == Set("A"))
    assert(built.actions.size == 1 && built.actions.head.startsWith("collect"), built)
    assert(!built.actions.exists(_.startsWith("count")), built)
    assert(consume(dsets) == 2 * (12 + 4))
  }

  test("consuming a 4-asset zarr group runs as many jobs as a 2-asset one") {
    def loadJobs(n: Int): Int = {
      val cat = catalog(n)
      cat.keys
      val dsets = cat.toDatasetDict(Coords)
      consume(dsets) // warm: codegen and the shared entries cache
      val dsets2 = cat.toDatasetDict(Coords)
      val (rows, c) = census(consume(dsets2))
      assert(rows == n * (12 + 4))
      c.jobs
    }
    val two  = loadJobs(2)
    val four = loadJobs(4)
    assert(two == four, s"2 assets: $two jobs, 4 assets: $four jobs")
  }

  test("repeated loads of one group grow the persisted RDDs by at most one per load") {
    val cat = catalog(2)
    cat.keys
    consume(cat.toDatasetDict(Coords))
    val before = spark.sparkContext.getPersistentRDDs.size
    val loads = 3
    (1 to loads).foreach(_ => assert(consume(cat.toDatasetDict(Coords)) == 2 * (12 + 4)))
    val grown = spark.sparkContext.getPersistentRDDs.size - before
    assert(grown <= loads, s"$loads loads of a 2-asset group left $grown new persisted RDDs")
  }
}
