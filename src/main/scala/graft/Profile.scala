package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query profile: `runMain graft.Profile <sfDir> <outDir> [q ...]`.
  *
  * With no names it runs every Bench row (the declared queries plus
  * q_ann_index_build); names may repeat, which splits cold from warm.
  * For each name it clears the cache, times `count()`, prints
  * `TIMED <q> rows=<n> sec=<s>` and writes
  *  - `<outDir>/<q>.json`: wall seconds, rows, jobs, stages, tasks,
  *    shuffle read/write, scan and spill MB, and the per-stage table
  *    (slowest first);
  *  - `<outDir>/<q>.plan.txt`: the frame's formatted physical plan
  *    (the plan-evidence dumps under `plans/rNN/`).
  * Queries that build artifacts or run training rounds materialize work
  * while CONSTRUCTING their frame; that work is timed and counted, and
  * the plan is the final frame's.
  */
object Profile {

  /** Profiles `names` (every Bench row when empty) and returns the failed
    * names with their errors. The session is left running.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          names: Seq[String]): Seq[(String, String)] = {
    val rows = Bench.rows
    val byName = rows.toMap
    val metrics = new StageMetrics
    spark.sparkContext.addSparkListener(metrics)
    Files.createDirectories(Paths.get(outDir))
    try (if (names.isEmpty) rows.map(_._1) else names).flatMap { q =>
      spark.catalog.clearCache()
      val mark = metrics.settled
      val t0 = System.nanoTime()
      try {
        val df = byName(q)(spark, sfDir)
        val n = df.count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"TIMED $q rows=$n sec=$sec%.2f")
        val (jobs, stages) = metrics.since(mark)
        def mb(bytes: Long) = StageMetrics.mb(bytes, per = 1000)
        def mbs(s: StageStat) =
          s""""shuffle_read_mb":${mb(s.shuffleReadBytes)},""" +
            s""""shuffle_write_mb":${mb(s.shuffleWriteBytes)},""" +
            s""""scan_mb":${mb(s.scanBytes)},""" +
            s""""spill_mb":${mb(s.spillBytes)}"""
        val total = StageStat(-1, "", stages.map(_.tasks).sum, 0L, 0L,
          stages.map(_.scanBytes).sum, stages.map(_.shuffleReadBytes).sum,
          stages.map(_.shuffleWriteBytes).sum, stages.map(_.spillBytes).sum)
        val table = stages.sortBy(-_.wallMs).map { s =>
          s"""{"stage":${s.id},"name":${Json.str(s.name)},""" +
            s""""tasks":${s.tasks},"wall_ms":${s.wallMs},""" +
            s""""cpu_ms":${s.cpuMs},${mbs(s)}}"""
        }
        Files.writeString(Paths.get(outDir, s"$q.json"),
          s"""{"query":${Json.str(q)},"wall_s":$sec,"rows":$n,""" +
            s""""jobs":$jobs,"stages":${stages.size},""" +
            s""""tasks":${total.tasks},${mbs(total)},""" +
            table.mkString("\"stage_table\":[", ",", "]}\n"))
        Files.writeString(Paths.get(outDir, s"$q.plan.txt"),
          df.queryExecution.explainString(FormattedMode))
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[profile] $q FAILED: $e")
          Some(q -> e.toString)
      }
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <outDir> [q ...]")
    val spark = Sessions.get()
    val failed =
      try run(spark, args(0), args(1), args.drop(2).toSeq)
      finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[profile] ${failed.size} failed: " +
        failed.map(_._1).mkString(" "))
      sys.exit(1)
    }
  }
}
