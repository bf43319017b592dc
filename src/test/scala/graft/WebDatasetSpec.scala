package graft

import graft.sources.WebDataset
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WebDataset sharding: byte-deterministic tars, sample adjacency,
  * exact write→read round-trip, and an independent parse of the
  * produced bytes with java's own tar-less reader (the header layout
  * is asserted field-by-field against the ustar spec).
  */
class WebDatasetSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def fixture(n: Int) = {
    val rows = (0L until n.toLong).map { i =>
      (i, Map(
        "txt" -> s"document $i body".getBytes(UTF_8),
        "json" -> s"""{"id":$i}""".getBytes(UTF_8)))
    }
    rows.toDF("doc_id", "parts")
  }

  test("round-trip: every sample and component survives, shards uniform") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wds").toString
    val n = WebDataset.write(fixture(23), "doc_id", "parts", dir, 5)
    assert(n == 5) // 23 samples at 5/shard
    val back = WebDataset.read(spark, dir)
    assert(back.count() == 23)
    val rows = back.collect().map { r =>
      r.getAs[Long]("sample_id") ->
        r.getAs[Map[String, Array[Byte]]]("components")
    }.toMap
    (0L until 23L).foreach { i =>
      val c = rows(i)
      assert(new String(c("txt"), UTF_8) == s"document $i body")
      assert(new String(c("json"), UTF_8) == s"""{"id":$i}""")
    }
    // shard sizes: 5,5,5,5,3 — and components of one sample adjacent
    val perShard = back.groupBy("shard").count()
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(perShard == Seq(3L, 5L, 5L, 5L, 5L))
  }

  test("output bytes are deterministic across partitionings") {
    val d1 = java.nio.file.Files.createTempDirectory("graft_wds1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_wds2").toString
    WebDataset.write(fixture(17), "doc_id", "parts", d1, 4)
    WebDataset.write(fixture(17).repartition(7), "doc_id", "parts", d2, 4)
    def bytesOf(dir: String) = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir)).toArray.map(_.toString).sorted
      .map(p => java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)).toSeq)
    assert(bytesOf(d1).toSeq == bytesOf(d2).toSeq)
  }

  test("ustar header fields per spec; foreign entry types refuse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wds3").toString
    WebDataset.write(fixture(1), "doc_id", "parts", dir, 10)
    val tar = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "shard-000000.tar"))
    // first entry: 0.json (extension-sorted), magic + checksum valid
    assert(new String(tar, 0, 6, UTF_8) == "0.json")
    assert(new String(tar, 257, 5, UTF_8) == "ustar")
    val stated = Integer.parseInt(
      new String(tar, 148, 6, UTF_8), 8)
    val computed = (0 until 512).map { i =>
      if (i >= 148 && i < 156) ' '.toInt else tar(i) & 0xff
    }.sum
    assert(stated == computed)
    // size field is octal of the json payload
    val size = Integer.parseInt(
      new String(tar, 124, 11, UTF_8).trim, 8)
    assert(size == """{"id":0}""".getBytes(UTF_8).length)
    // a directory-typed entry refuses on read
    val mut = tar.clone(); mut(156) = '5'
    assert(intercept[Exception](WebDataset.parseTar(mut))
      .getMessage.contains("unsupported"))
  }

  test("engine view over shards") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wds4").toString
    WebDataset.write(fixture(8), "doc_id", "parts", dir, 3)
    WebDataset.read(spark, dir).createOrReplaceTempView("wds_t")
    val got = spark.sql(
      """SELECT sample_id, decode(components['txt'], 'UTF-8') AS t
        |FROM wds_t ORDER BY sample_id""".stripMargin).collect()
    assert(got.length == 8 && got(3).getString(1) == "document 3 body")
  }

  test("empty input writes zero shards instead of crashing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wds5").toString
    val n = WebDataset.write(
      fixture(8).filter(org.apache.spark.sql.functions.lit(false)),
      "doc_id", "parts", dir, 3)
    assert(n == 0)
    assert(new java.io.File(dir).listFiles().forall(!_.getName.endsWith(".tar")))
  }

  test("oversized tar entry refuses instead of wrapping the offset") {
    // hand-build one ustar header claiming an over-2GiB payload
    val hdr = new Array[Byte](1024)
    "big.bin".getBytes.copyToArray(hdr, 0)
    "77777777777".getBytes.copyToArray(hdr, 124) // octal ~8.5 GB
    hdr(156) = '0'
    val e = intercept[IllegalArgumentException](WebDataset.parseTar(hdr))
    assert(e.getMessage.contains("exceeds the supported range"))
  }
}
