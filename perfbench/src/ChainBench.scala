package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, col}

import graft.SparkEntry

/** Chain benchmark main: sets up and runs one workload in one
  * SparkSession, the way `graft.Runner` runs its chains, and writes the
  * measurements to `<work>/result.json`, which `perfbench/run.py` turns
  * into the benchmark's result.
  *
  * {{{
  * ChainBench --workload daily|corpus|incremental --data <dir>
  *   --work <dir> --trace 0|1
  * ChainBench --list
  * }}}
  *
  * The working directory must be `--work`, holding no `target/`: the
  * artifact root and the paths the library resolves against the working
  * directory all land in `<work>/target`, so the run starts from empty
  * artifact directories.
  *
  * Set-up is JVM start to a ready session plus building the workload's
  * artifact tier (`Workloads.tier`). The in-memory copies of the tier
  * are then dropped (JVM memos, catalog registrations, cached data), so
  * the timed pass reads the persisted tier as a scheduled run in a new
  * process does. Output checks run after the pass: the declared queries
  * are written to `<work>/dump` in the layout of `tools/check.py`. A
  * traced run also writes every span to `<work>/spans.json`.
  */
object ChainBench {

  /** Layers that build persisted artifacts: their spans count the files
    * they create under the artifact directories. */
  val artifactLayers: Set[String] = Set(Workloads.Dedup, Workloads.Bpe,
    Workloads.Unigram, Workloads.Lm, Workloads.Micro, Workloads.Stream)

  /** Layers where a cached-RDD leak was found before. */
  val leakLayers: Set[String] = Set(Workloads.CustomerReport, Workloads.Micro,
    Workloads.Dedup, Workloads.VecProbe, Workloads.Stream)

  /** One timed pass. `aborts` maps a chain to the task that stopped it
    * and the message it threw. */
  final case class Pass(ms: Double, chainMs: Seq[(String, Double)],
                        rows: Seq[(String, Long)],
                        taskMs: Seq[(String, Double)],
                        aborts: Seq[(String, (String, String))],
                        cachedLeft: Int, peakBytes: Long, spans: Seq[Span])

  private final class Tracing(val listener: SpanListener) {
    private var next = 0
    def span(name: String, layer: String, parent: Int): Span = {
      next += 1
      val s = new Span(next, name, layer, parent, Clock.nowMs)
      listener.register(s)
      s
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.contains("--list")) {
      // task order only: the closures are built but never run
      val wl = new Workloads(null, "")
      Workloads.chains.foreach(c => wl.chain(c).foreach(t => println(s"$c ${t.name}")))
      return
    }
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val dataDir = opts("--data")
    val work = new File(opts("--work")).getAbsoluteFile
    val artifacts = new File(work, "target")
    val traced = opts.getOrElse("--trace", "0") == "1"

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // session: from JVM start (class loading included) to a ready session
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sc = spark.sparkContext
    val wl = new Workloads(spark, dataDir)
    wl.tier(workload)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    forgetTier(spark)

    val storage = new StorageListener
    sc.addSparkListener(storage)
    val chains = wl.workload(workload)

    def files(): Set[String] =
      if (!artifacts.exists()) Set.empty
      else Files.walk(artifacts.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p)).map(_.toString).toSet

    /** Runs each chain fail-fast, as Runner.runChain does. */
    def runPass(tracing: Option[Tracing]): Pass = {
      PerfbenchBus.drain(sc)
      storage.resetPeak()
      val before = sc.getPersistentRDDs.keySet
      val chainMs = mutable.ArrayBuffer.empty[(String, Double)]
      val rows = mutable.ArrayBuffer.empty[(String, Long)]
      val taskMs = mutable.ArrayBuffer.empty[(String, Double)]
      val aborts = mutable.ArrayBuffer.empty[(String, (String, String))]
      val spans = mutable.ArrayBuffer.empty[Span]
      def span(name: String, layer: String, parent: Option[Span]) =
        tracing.map { tr =>
          val s = tr.span(name, layer, parent.map(_.id).getOrElse(-1))
          spans += s
          s
        }
      val root = span("pass", "pass", None)
      val start = Clock.nowMs
      chains.foreach { case (chain, tasks) =>
        val cs = span(chain, "chain", root)
        val c0 = Clock.nowMs
        val it = tasks.iterator
        var aborted = false
        while (!aborted && it.hasNext) {
          val t = it.next()
          val ts = span(t.name, t.calls.map(_.layer).mkString("+"), cs)
          val t0 = Clock.nowMs
          try {
            var n = 0L
            t.calls.foreach { c =>
              span(c.layer, c.layer, ts) match {
                case None => n += c.run()
                case Some(s) =>
                  val keepFiles = artifactLayers(c.layer)
                  val filesBefore = if (keepFiles) files() else Set.empty[String]
                  val rddsBefore = sc.getPersistentRDDs.keySet
                  sc.setLocalProperty(SpanListener.Key, s.id.toString)
                  try n += c.run()
                  finally {
                    sc.setLocalProperty(SpanListener.Key, null)
                    s.endMs = Clock.nowMs
                    s.cachedRddsLeft =
                      (sc.getPersistentRDDs.keySet -- rddsBefore).size
                    if (keepFiles) s.artifactWrites = (files() -- filesBefore).size
                  }
              }
            }
            rows += t.name -> n
          } catch {
            case e: Throwable =>
              aborted = true
              aborts += chain -> (t.name -> String.valueOf(e.getMessage))
          } finally {
            val end = Clock.nowMs
            taskMs += t.name -> (end - t0)
            ts.foreach(_.endMs = end)
          }
        }
        val c1 = Clock.nowMs
        chainMs += chain -> (c1 - c0)
        cs.foreach(_.endMs = c1)
      }
      val ms = Clock.nowMs - start
      root.foreach(_.endMs = start + ms)
      PerfbenchBus.drain(sc)
      val byId = spans.map(s => s.id -> s).toMap
      spans.reverseIterator.foreach(s => byId.get(s.parent).foreach(_.absorb(s)))
      val left = (sc.getPersistentRDDs.keySet -- before).size
      Pass(ms, chainMs.toSeq, rows.toSeq, taskMs.toSeq, aborts.toSeq, left,
        storage.peakBytes, spans.toSeq)
    }

    val tracing =
      if (!traced) None
      else {
        val listener = new SpanListener
        sc.addSparkListener(listener)
        Some(new Tracing(listener))
      }
    // the timed pass: the chains against the tier the set-up built
    val pass = runPass(tracing)

    // output checks, outside the timed pass. The declared queries among
    // the tasks are written from the frames the pass counted (a task the
    // pass never reached leaves no output, which the check reports),
    // concurrently: the frames are small and their jobs mostly wait on
    // the driver.
    val dump = new File(work, "dump").getPath
    val declared = wl.declared(workload).toSeq.sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try declared.flatMap { case (t, q) => wl.frames.get(t).map { df =>
      pool.submit(new Runnable {
        def run(): Unit = df.write.mode("overwrite").parquet(s"$dump/$q")
      })
    } }.foreach(_.get())
    finally pool.shutdown()
    Files.createDirectories(Paths.get(dump))
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json.obj(
      declared.map { case (_, q) => q -> Json.str(SparkEntry.oracleSql(q)) }))
    val contract =
      if (!chains.exists(_._1 == "corpus")) Seq.empty
      else graft.ext.VectorOps.embedExpectations(spark, dataDir)
        .filter(!col("passed")).select("rule_name", "n_violations")
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").toSeq.sorted
    val recall = wl.frames.get(Workloads.Recall)
      .map(_.agg(avg("recall")).head().getDouble(0))
    System.err.println(f"perfbench: session ${sessionS}%.1fs, tier " +
      f"${setupS - sessionS}%.1fs, pass ${pass.ms / 1e3}%.1fs, output " +
      f"${(System.currentTimeMillis() - jvmStart) / 1e3 - setupS - pass.ms / 1e3}%.1fs")

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "session_s" -> Json.num(sessionS),
      "setup_s" -> Json.num(setupS),
      "chain_s" -> Json.num(pass.ms / 1e3),
      "peak_storage_mb" -> Json.num(pass.peakBytes / 1048576.0),
      "cached_rdds_left" -> pass.cachedLeft.toString,
      "attempted" -> (pass.rows.size + pass.aborts.size).toString,
      "aborts" -> Json.obj(pass.aborts.map { case (c, (t, m)) =>
        c -> Json.obj(Seq("task" -> Json.str(t), "message" -> Json.str(m)))
      }),
      "chain_parts_s" -> Json.obj(pass.chainMs.map { case (c, ms) =>
        c -> Json.num(ms / 1e3) }),
      "rows" -> Json.obj(pass.rows.map { case (t, n) => t -> n.toString }),
      "task_s" -> Json.obj(pass.taskMs.map { case (t, ms) =>
        t -> Json.num(ms / 1e3) }),
      "contract_failing" -> contract.map(Json.str).mkString("[", ",", "]"),
      "ann_recall" -> recall.map(Json.num).getOrElse("null"),
      "layers" -> Json.obj((
        if (!traced) Map.empty[String, Double]
        else layerMetrics(pass) + ("trace.chain_s" -> pass.ms / 1e3)
      ).toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(new File(work, "result.json").toPath, result)
    if (traced)
      Files.writeString(new File(work, "spans.json").toPath, spansJson(pass))
    spark.stop()
  }

  /** Drops what the set-up left in the JVM besides the persisted tier:
    * trained-artifact memos, the catalog registrations of the bucketed
    * tables (a new process re-registers them from their files) and any
    * cached data. */
  private def forgetTier(spark: SparkSession): Unit = {
    graft.ext.PerfbenchTier.forgetMemos()
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Per-layer metrics of one traced pass: each layer's call spans summed.
    * Layers the workload never calls report 0. */
  def layerMetrics(p: Pass): Map[String, Double] = {
    val calls = p.spans.filter(s => !p.spans.exists(_.parent == s.id))
    val mb = 1048576.0
    Workloads.layers.flatMap { l =>
      val ss = calls.filter(_.layer == l)
      def sum(f: Span => Double) = ss.map(f).sum
      Seq(
        s"$l.wall_s" -> sum(_.wallMs) / 1e3,
        s"$l.driver_only_s" -> sum(_.driverOnlyMs) / 1e3,
        s"$l.task_busy_s" -> sum(_.taskBusyMs.toDouble) / 1e3,
        s"$l.jobs" -> sum(_.jobs.toDouble),
        s"$l.shuffle_write_mb" -> sum(_.shuffleWriteBytes.toDouble) / mb,
        s"$l.spill_mb" -> sum(_.spillBytes.toDouble) / mb) ++
        (l match {
          case Workloads.Ingest => Seq(
            s"$l.scan_mb" -> sum(_.scanBytes.toDouble) / mb,
            s"$l.output_mb" -> sum(_.outputBytes.toDouble) / mb)
          case Workloads.VecBuild =>
            Seq(s"$l.output_mb" -> sum(_.outputBytes.toDouble) / mb)
          case Workloads.VecProbe =>
            Seq(s"$l.scan_mb" -> sum(_.scanBytes.toDouble) / mb)
          case _ => Seq.empty
        }) ++
        (if (leakLayers(l))
          Seq(s"$l.cached_rdds_left" -> sum(_.cachedRddsLeft.toDouble))
        else Seq.empty) ++
        (if (artifactLayers(l))
          Seq(s"$l.artifact_writes" -> sum(_.artifactWrites.toDouble))
        else Seq.empty)
    }.toMap + ("chain.cached_rdds_left" -> p.cachedLeft.toDouble)
  }

  private def spansJson(p: Pass): String =
    p.spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "parent" -> s.parent.toString,
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "wall_s" -> Json.num(s.wallMs / 1e3),
        "driver_only_s" -> Json.num(s.driverOnlyMs / 1e3),
        "task_busy_s" -> Json.num(s.taskBusyMs / 1e3),
        "jobs" -> s.jobs.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
        "spill_bytes" -> s.spillBytes.toString,
        "scan_bytes" -> s.scanBytes.toString,
        "output_bytes" -> s.outputBytes.toString,
        "cached_rdds_left" -> s.cachedRddsLeft.toString,
        "artifact_writes" -> s.artifactWrites.toString))
    }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
