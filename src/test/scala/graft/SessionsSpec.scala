package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

class SessionsSpec extends SparkSpec {

  test("a Sessions session carries the extensions and every setting") {
    withFreshSession(cpus = 3) { s =>
      val cos = s.sql(
        "SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d))")
        .head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get(
        "spark.sql.legacy.bucketedTableScan.outputOrdering") == "true")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "3")
    }
  }

  test("Sessions.scala is the only session builder under src/") {
    val builder = "SparkSession" + ".builder"
    val hits = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        Files.readString(p).contains(builder))
      .map(_.toString).toSeq
    assert(hits == Seq("src/main/scala/graft/Sessions.scala"))
  }
}
