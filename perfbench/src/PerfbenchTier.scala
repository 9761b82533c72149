package graft.ext

import org.apache.spark.sql.SparkSession

/** The artifact-tier hooks the benchmark needs that the library keeps
  * package-private: the BPE trainer (a set-up artifact) and the JVM
  * memos that hold trained artifacts in memory once read.
  */
object PerfbenchTier {

  def bpeMerges(spark: SparkSession, sfDir: String): Int =
    BpeOps.trainedMerges(spark, sfDir).size

  /** Drops every in-memory copy of a trained artifact, so the next read
    * comes from the persisted tier, as in a process that just started.
    * The unigram piece memo has no clear hook; it is emptied through
    * reflection. */
  def forgetMemos(): Unit = {
    BpeOps.clearMemos()
    VectorOps.clearMemos()
    val memo = UnigramOps.getClass.getDeclaredFields
      .filter(_.getName.endsWith("pieceCache"))
    require(memo.nonEmpty, "UnigramOps has no pieceCache memo to drop")
    memo.foreach { f =>
      f.setAccessible(true)
      f.get(UnigramOps).asInstanceOf[java.util.Map[_, _]].clear()
    }
  }
}
