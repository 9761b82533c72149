package graft

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

class ProfileSpec extends SparkSpec {

  test("run: per-query JSON and plan files; unknown names fail") {
    val out = Files.createTempDirectory("profile_spec").toString
    val failed = Profile.run(spark, sfDir, out,
      Seq("q_topk_rewrite", "q_topk_rewrite", "q_no_such_query"))
    assert(failed.map(_._1) == Seq("q_no_such_query"))
    assert(!spark.sparkContext.isStopped)

    val json = parse(Files.readString(Paths.get(out, "q_topk_rewrite.json")))
    def int(k: String): BigInt = json \ k match {
      case JInt(v) => v; case other => fail(s"$k: $other") }
    def dbl(k: String): Double = json \ k match {
      case JDouble(v) => v; case other => fail(s"$k: $other") }
    val rows = SparkEntry.queries("q_topk_rewrite")(spark, sfDir).count()
    assert(int("rows") == rows)
    assert(int("jobs") >= 1)
    assert(int("stages") >= 1 && int("tasks") >= int("stages"))
    assert(dbl("wall_s") > 0)
    Seq("shuffle_read_mb", "shuffle_write_mb", "scan_mb", "spill_mb")
      .foreach(k => assert(dbl(k) >= 0))
    assert((json \ "stage_table").children.size == int("stages"))
    assert(Files.readString(Paths.get(out, "q_topk_rewrite.plan.txt"))
      .contains("Physical Plan"))
    assert(!Files.exists(Paths.get(out, "q_no_such_query.json")))
  }
}
