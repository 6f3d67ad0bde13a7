package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The session factory is the only source of session confs: the shared
  * test session must carry the factory defaults it does not override,
  * and no other file may build a session of its own. */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the factory's confs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") == "256")
    assert(conf.get("spark.io.compression.codec") == "zstd")
    assert(conf.get("spark.sql.parquet.compression.codec") == "zstd")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("the test session's overrides win over the factory defaults") {
    assert(spark.sparkContext.master == "local[2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") == "/tmp/graft_test_warehouse")
  }

  test("Session.scala is the only file that builds a session") {
    // split so this file does not match its own scan
    val needle = Seq("SparkSession", "builder").mkString(".")
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val s = Files.walk(Paths.get(d))
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.exists(_.endsWith(Paths.get("graft", "Session.scala"))))
    val hits = files.filter(f => Files.readString(f).contains(needle))
      .map(_.toString)
    assert(hits == Seq("src/main/scala/graft/Session.scala"))
  }
}
