package graft.pcap

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** The DSv2 connector must agree byte-for-byte with the typed source,
  * split planning included.
  */
class PcapDataSourceSpec extends SparkSpec {
  import Fixtures._

  private lazy val pcapFile: String = {
    val rnd = new scala.util.Random(11)
    val recs = (0 until 400).map { i =>
      val app = new Array[Byte](rnd.nextInt(250)); rnd.nextBytes(app)
      (2000.0 + i, frame(s"10.1.${i % 4}.1", "10.9.9.9", 2000 + i, 443,
        if (i % 2 == 0) 6 else 17, app))
    }
    val dir = Files.createTempDirectory("dsv2").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "cap.pcap")
    Files.write(f.toPath, pcapOf(recs: _*))
    f.getAbsolutePath
  }

  test("format(\"pcap\") short name resolves and matches the typed source") {
    val viaDs = spark.read.format("pcap").load(pcapFile)
    assert(viaDs.schema == PcapTable.schema)
    val a = viaDs.select("timestamp", "src_ip", "src_port", "protocol")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Double])
    val b = PcapSource.packets(spark, Seq(pcapFile))
      .select("timestamp", "src_ip", "src_port", "protocol")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Double])
    assert(a.length == 400 && a.sameElements(b))
  }

  test("splitBytes option multiplies partitions without changing rows") {
    val one = spark.read.format("pcap").load(pcapFile)
    val many = spark.read.format("pcap").option("splitBytes", 4096).load(pcapFile)
    assert(one.rdd.getNumPartitions == 1)
    assert(many.rdd.getNumPartitions > 5)
    assert(many.count() == one.count())
    // payload bytes identical across split plans
    val h1 = one.select(md5(col("payload")).as("h")).orderBy("h").collect().map(_.getString(0))
    val h2 = many.select(md5(col("payload")).as("h")).orderBy("h").collect().map(_.getString(0))
    assert(h1.sameElements(h2))
  }

  test("split sizes outside (0, 2 GiB - overhang] are refused by both readers") {
    // 0 divided by zero; >= 4 GiB wrapped the per-split read buffer's
    // .toInt and silently dropped every record past the wrap
    Seq(0L, 5L << 30).foreach { bytes =>
      intercept[IllegalArgumentException] {
        PcapSource.packetsSplittable(spark, Seq(pcapFile), targetSplitBytes = bytes)
      }
      intercept[IllegalArgumentException] {
        spark.read.format("pcap").option("splitBytes", bytes).load(pcapFile).count()
      }
    }
  }

  test("load(a, b) decodes the JSON paths option, commas in paths included") {
    val recs = (0 until 7).map(i => (3000.0 + i, frame("10.2.0.1", "10.9.9.9", 4000 + i, 53, 17)))
    val commaDir = new java.io.File(Files.createTempDirectory("dsv2").toFile, "dir,with,comma")
    assert(commaDir.mkdirs())
    val second = new java.io.File(commaDir, "cap.pcap")
    Files.write(second.toPath, pcapOf(recs: _*))
    try {
      val n = spark.read.format("pcap").load(pcapFile, second.getAbsolutePath).count()
      assert(n == 400L + 7L, s"expected 407 rows from the two captures, got $n")
    } finally graft.queries.Fixtures.deleteRecursively(commaDir.getParentFile)
  }

  test("SQL over the connector: CREATE TABLE USING pcap") {
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW packets_sql USING pcap OPTIONS (path '$pcapFile')")
    val n = spark.sql("SELECT protocol, COUNT(*) AS n FROM packets_sql GROUP BY protocol ORDER BY protocol")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == Map("6" -> 200L, "17" -> 200L))
  }
}
