package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.EsmCatalog
import graft.sources.HttpFetch

/** The reference opens catalogs over plain https everywhere (fsspec,
  * cat.py:238-280; the tutorial catalogs tutorial.py:9-56 are https URLs).
  * This spec pins the engine's http catalog plane against a local fixture
  * server: descriptor + relative catalog_file resolve over http, iterable
  * columns decode, search/keys work, downloads cache, and oversized bodies
  * refuse. No external egress — the server binds a loopback ephemeral port
  * and serves catalogs the spec writes itself: the FIXTURES.md §1.2
  * `multi-variable-catalog` (tuple-literal cells, relative catalog_file)
  * and an `access-columns-with-lists` catalog whose table is gzipped.
  */
class HttpCatalogSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = TestSpark.spark
  private val fixtureDir: java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_http_catalogs")
    CatalogFixtures.multiVariable(dir)
    CatalogFixtures.accessColumnsWithLists(dir)
    dir
  }
  private val hits = new AtomicInteger(0)
  private var server: HttpServer = _
  private def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      hits.incrementAndGet()
      val rel = exchange.getRequestURI.getPath.stripPrefix("/")
      val p = fixtureDir.resolve(rel)
      if (Files.isRegularFile(p)) {
        val bytes = Files.readAllBytes(p)
        exchange.sendResponseHeaders(200, bytes.length.toLong)
        exchange.getResponseBody.write(bytes)
      } else exchange.sendResponseHeaders(404, -1L)
      exchange.close()
    })
    server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop(0)

  override protected def withFixture(test: NoArgTest) = {
    // each test starts from a cold cache so hit-counting is deterministic
    val cacheRoot = Paths.get("/tmp/graft_http_cache")
    if (Files.exists(cacheRoot)) {
      val walk = Files.walk(cacheRoot)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    hits.set(0)
    super.withFixture(test)
  }

  test("open_esm_datastore over http: relative catalog_file, iterables, search, keys") {
    val cat = EsmCatalog.open(spark, s"$base/multi-variable-catalog.json")
    assert(cat.df.count() > 0)
    // the tuple-literal variable column must arrive decoded
    assert(cat.columnsWithIterables.contains("variable"))
    val hit = cat.search(Map("variable" -> Seq("SHF")))
    assert(hit.df.count() > 0)
    assert(cat.keys.nonEmpty)
  }

  test("gzipped csv asset table over http") {
    val cat = EsmCatalog.open(spark, s"$base/access-columns-with-lists.json")
    assert(cat.df.count() > 0)
    assert(cat.columnsWithIterables.nonEmpty)
  }

  test("second open is served from the cache, not the network") {
    EsmCatalog.open(spark, s"$base/multi-variable-catalog.json").df.count()
    val afterFirst = hits.get()
    assert(afterFirst >= 2, "first open must fetch descriptor + table")
    val cat2 = EsmCatalog.open(spark, s"$base/multi-variable-catalog.json")
    assert(cat2.df.count() > 0)
    assert(hits.get() === afterFirst, "cached open must not re-hit the server")
  }

  test("kerchunk reference json over http: index parses; inline refs decode") {
    // serve a minimal kerchunk doc from memory on a dedicated context
    val doc =
      """{"version": 1, "refs": {
        |  ".zgroup": "{\"zarr_format\": 2}",
        |  "v/.zarray": "{\"zarr_format\": 2, \"dtype\": \"<i4\", \"shape\": [2], \"chunks\": [2], \"compressor\": null, \"filters\": null, \"order\": \"C\"}",
        |  "v/.zattrs": "{\"_ARRAY_DIMENSIONS\": [\"x\"]}",
        |  "v/0": "base64:AQAAAAIAAAA="
        |}}""".stripMargin
    server.createContext("/kerchunk/index.json", { exchange =>
      val bytes = doc.getBytes("UTF-8")
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    val entries = graft.sources.KerchunkIndex.read(spark, s"$base/kerchunk/index.json")
    assert(entries.count() === 4L)
    val decoded = graft.sources.KerchunkIndex.decodeTyped(
      graft.sources.KerchunkIndex.materializeChunks(entries),
      graft.sources.KerchunkIndex.arrayMeta(entries))
    import org.apache.spark.sql.functions.col
    assert(decoded.orderBy("idx").select("value").collect().map(_.getDouble(0)).toSeq
      === Seq(1.0, 2.0))
  }

  test("404 refuses with a status-bearing error") {
    val e = intercept[java.io.IOException] {
      HttpFetch.fetchCached(s"$base/no-such-catalog.json")
    }
    assert(e.getMessage.contains("404"))
  }

  test("size cap refuses oversized bodies and points at the override option") {
    val e = intercept[java.io.IOException] {
      HttpFetch.fetchCached(s"$base/multi-variable-catalog.csv", maxBytes = 16L)
    }
    assert(e.getMessage.contains(HttpFetch.MaxBytesOption))
    val cached = intercept[java.io.IOException] {
      HttpFetch.fetchCached(s"$base/multi-variable-catalog.csv", maxBytes = 16L)
    }
    assert(cached.getMessage.contains(HttpFetch.MaxBytesOption),
      "a refused fetch must not leave a partial cache entry behind")
  }

}
