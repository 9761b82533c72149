package graft.plans

import graft.SparkSpec

class GraftExtensionsSpec extends SparkSpec {

  test("native functions are SQL-callable via session extensions") {
    withFreshSession(cpus = 2) { s =>
      val cos = s.sql(
        "SELECT cosine_similarity(array(1.0d, 2.0d), array(1.0d, 2.0d)) AS c")
        .collect().head.getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)

      val sig = s.sql(
        "SELECT simhash64(array('alpha', 'beta')) AS h")
        .collect().head.getLong(0)
      assert(sig != 0L) // nonzero signature for a nonempty token stream

      val sh = s.sql("SELECT shingle_hashes('abcdef', 5) AS sh")
        .collect().head.getSeq[Long](0)
      assert(sh.length == 2) // 'abcde', 'bcdef'
      val shD = s.sql("SELECT shingle_hashes('aaaaaa', 5, true) AS sh")
        .collect().head.getSeq[Long](0)
      assert(shD.length == 1) // dedup'd identical windows

      val hb = s.sql(
        "SELECT hyperplane_buckets(array(1.0d, -0.5d)) AS b")
        .collect().head.getSeq[Int](0)
      assert(hb.length == graft.functions.HyperplaneBuckets.nBands)
      assert(hb.forall(b => b >= 0 && b < 256))

      val ms = s.sql(
        "SELECT minhash_signature(array(7L, 11L, 13L)) AS sig")
        .collect().head.getSeq[Long](0)
      assert(ms.length == graft.functions.MinHashSignature.numHashes)

      val ic = s.sql(
        "SELECT sorted_intersect_count(array(1L,2L,5L), array(2L,5L,9L)) AS c")
        .collect().head.getLong(0)
      assert(ic == 2L)
    }
  }

  test("SQL results equal the Column-API expressions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val viaCol = Seq("the quick brown fox").toDF("t")
      .select(graft.functions.SimHash64(split(col("t"), " ")).as("h"))
      .as[Long].collect().head
    val viaSql = withFreshSession(cpus = 2) { s =>
      s.sql("SELECT simhash64(split('the quick brown fox', ' ')) AS h")
        .collect().head.getLong(0)
    }
    assert(viaCol == viaSql)
  }
}
