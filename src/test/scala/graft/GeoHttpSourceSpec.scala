package graft

import com.sun.net.httpserver.HttpServer
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** GeoJSON scan + http(s)/hf staging sources (SURVEY.md §2.1 rows
  * "GDAL/geo scan" and "HuggingFace/http(s) scan").
  */
class GeoHttpSourceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private lazy val engine = LakeEngine(spark)

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  test("GeoJSON FeatureCollection scans to WKB rows with properties") {
    val dir = tmpDir("geojson")
    Files.writeString(Paths.get(dir, "cities.geojson"),
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[13.4,52.5]},
        | "properties":{"name":"Berlin","pop":3700000}},
        |{"type":"Feature","geometry":{"type":"Polygon",
        |  "coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]]},
        | "properties":{"name":"Square","tags":["a","b"]}}
        |]}""".stripMargin)
    Files.writeString(Paths.get(dir, "bare.geojson"),
      """{"type":"LineString","coordinates":[[0,0],[3,4]]}""")

    val df = engine.createLakeTable("geo", dir, format = Some("gdal"))
    assert(df.count() == 3)

    functions.PgFunctions.register(spark)
    val byType = spark.sql(
      """SELECT geom_type, st_astext(geometry) AS wkt,
        |  st_area(geometry) AS a, st_length(geometry) AS l,
        |  properties['name'] AS name
        |FROM geo ORDER BY geom_type""".stripMargin).collect()
    assert(byType.map(_.getString(0)).toSeq ==
      Seq("ST_LineString", "ST_Point", "ST_Polygon"))
    val line = byType(0); val point = byType(1); val poly = byType(2)
    assert(line.getString(1) == "LINESTRING(0 0, 3 4)")
    assert(line.getDouble(3) == 5.0)
    assert(point.getString(1) == "POINT(13.4 52.5)")
    assert(point.getString(4) == "Berlin")
    assert(poly.getDouble(2) == 16.0)
    assert(poly.getString(4) == "Square")

    // non-scalar properties keep their JSON form
    val tags = spark.sql(
      "SELECT properties['tags'] FROM geo WHERE properties['name'] = 'Square'")
      .head().getString(0)
    assert(tags == """["a","b"]""")
  }

  test("GeoJSON single Feature and GeometryCollection parse") {
    val fs = sources.GeoJson.parseFeatures(
      """{"type":"Feature","properties":{"k":"v"},
        |"geometry":{"type":"GeometryCollection","geometries":[
        |  {"type":"Point","coordinates":[1,2]},
        |  {"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]]]}
        |]}}""".stripMargin)
    assert(fs.length == 1)
    val (wkb, gtype, props) = fs.head
    assert(gtype == "ST_GeometryCollection")
    assert(props == Map("k" -> "v"))
    assert(graft.functions.Geometry.toWkt(
      graft.functions.Geometry.parseWkb(wkb)) ==
      "GEOMETRYCOLLECTION(POINT(1 2), MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0))))")
  }

  test("http table: stage, scan, and cache-hit on re-scan") {
    val docRoot = tmpDir("httpsrc")
    Files.writeString(Paths.get(docRoot, "people.csv"),
      "id,name\n1,ada\n2,grace\n")
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      hits.incrementAndGet()
      val f = Paths.get(docRoot, ex.getRequestURI.getPath.stripPrefix("/"))
      if (Files.exists(f)) {
        val bytes = Files.readAllBytes(f)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    try {
      // unique query param defeats any cache left by earlier runs
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/people.csv" +
        s"?v=${System.nanoTime()}"
      val df = engine.createLakeTable("people_http", url)
      assert(df.count() == 2)
      assert(df.columns.toSeq == Seq("id", "name"))
      assert(hits.get() == 1)
      // second table over the same URL: served from the local cache
      engine.createLakeTable("people_http2", url)
      assert(spark.table("people_http2").count() == 2)
      assert(hits.get() == 1)
    } finally server.stop(0)
  }

  test("hf:// URLs translate to the public resolve form") {
    assert(sources.HttpSource.resolveUrl(
      "hf://datasets/org/repo/data/train.parquet") ==
      "https://huggingface.co/datasets/org/repo/resolve/main/data/train.parquet")
    assert(sources.HttpSource.resolveUrl("hf://org/repo/model.bin") ==
      "https://huggingface.co/org/repo/resolve/main/model.bin")
    // @revision and the @~parquet convert-branch alias
    assert(sources.HttpSource.resolveUrl(
      "hf://datasets/org/repo@v1.2/data/x.parquet") ==
      "https://huggingface.co/datasets/org/repo/resolve/v1.2/data/x.parquet")
    assert(sources.HttpSource.resolveUrl(
      "hf://datasets/org/repo@~parquet/default/train/0000.parquet") ==
      "https://huggingface.co/datasets/org/repo/resolve/" +
        "refs%2Fconvert%2Fparquet/default/train/0000.parquet")
    assert(sources.HttpSource.resolveUrl("https://x.test/a.csv") ==
      "https://x.test/a.csv")
    intercept[IllegalArgumentException] {
      sources.HttpSource.resolveUrl("hf://datasets/only-two")
    }
  }

  test("hf:// wildcard expands via the tree API and scans multi-shard") {
    // two parquet shards under the layout the HF parquet branch uses
    val repoRoot = Paths.get(tmpDir("hfrepo"))
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(repoRoot.resolve("p0").toString)
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.parquet(repoRoot.resolve("p1").toString)
    def onlyParquet(d: String): java.nio.file.Path =
      Files.list(repoRoot.resolve(d)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    val shard0 = onlyParquet("p0"); val shard1 = onlyParquet("p1")

    val treeHits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      val uri = ex.getRequestURI.toString
      def send(code: Int, bytes: Array[Byte],
          headers: Map[String, String] = Map.empty): Unit = {
        headers.foreach { case (k, v) => ex.getResponseHeaders.add(k, v) }
        ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      if (uri.startsWith("/api/datasets/org/multi/tree/refs%2Fconvert%2Fparquet")) {
        // paginated: page 1 (train shard + a non-matching json) links
        // to page 2 (test shard)
        if (treeHits.incrementAndGet() == 1)
          send(200,
            """[{"type":"file","path":"default/train/0000.parquet","size":10},
              |{"type":"file","path":"default/train/state.json","size":2},
              |{"type":"directory","path":"default/test"}]""".stripMargin
              .getBytes(UTF_8),
            Map("Link" ->
              s"""<$base/api/datasets/org/multi/tree/refs%2Fconvert%2Fparquet?recursive=true&cursor=p2>; rel="next""""))
        else
          send(200,
            """[{"type":"file","path":"default/test/0000.parquet","size":5}]"""
              .getBytes(UTF_8))
      } else if (uri.startsWith(
          "/datasets/org/multi/resolve/refs%2Fconvert%2Fparquet/default/train/0000.parquet")) {
        send(200, Files.readAllBytes(shard0))
      } else if (uri.startsWith(
          "/datasets/org/multi/resolve/refs%2Fconvert%2Fparquet/default/test/0000.parquet")) {
        send(200, Files.readAllBytes(shard1))
      } else send(404, Array.emptyByteArray)
    })
    server.start()
    System.setProperty("graft.hf.endpoint",
      s"http://127.0.0.1:${server.getAddress.getPort}")
    try {
      val df = engine.createLakeTable("hf_multi",
        "hf://datasets/org/multi@~parquet/**/*.parquet")
      assert(df.count() == 3) // both shards, json ignored
      assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(1L, 2L, 3L))
      // no match → loud refusal
      intercept[IllegalArgumentException] {
        sources.HttpSource.expand(
          "hf://datasets/org/multi@~parquet/**/*.csv")
      }
    } finally {
      System.clearProperty("graft.hf.endpoint")
      server.stop(0)
    }
  }
}
