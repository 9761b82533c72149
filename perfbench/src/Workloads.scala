package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ext.{BpeOps, CurationOps, DedupOps, EventOps, LmOps,
  PerfbenchTier, SampleOps, ScoringOps, TextOps, UnigramOps, VectorOps}
import graft.io.Bucketing
import graft.pipelines.{CustomerSalesReport, Ingestion, MicroQueries,
  ProductPerformance, SupplierPerformance}
import graft.streaming.EventStream

/** One call into a layer's public function; its span is named after the
  * layer (the module the call enters). */
final case class Call(layer: String, run: () => Long)

/** One chain task: the Runner task name and the layer calls it makes. */
final case class Task(name: String, calls: Seq[Call])

/** The benchmark's chains and workloads. The chains `daily`, `corpus` and
  * `incremental` mirror the task lists of `graft.Runner` name for name and
  * in order (the self-test `perfbench/selftest.py` fails when they drift
  * apart); `ann` is the IVF index refresh the corpus chain would end
  * with, spelled out as the build and the declared probes. The `daily`
  * workload runs the daily chain; the `corpus` workload runs the corpus
  * chain, then the incremental chain and the index refresh over the same
  * corpus, as the scheduler of the training-data side runs them in a day.
  *
  * Each task that counts a frame keeps it in [[frames]], so the output
  * checks can write the frames the timed pass produced instead of
  * evaluating every query again.
  */
final class Workloads(spark: SparkSession, dir: String) {
  import Workloads._

  /** The frame each task counted in the latest pass, by task name. */
  val frames = mutable.LinkedHashMap.empty[String, DataFrame]

  /** Tasks whose frame is a declared query (`graft.SparkEntry`), checked
    * against its DuckDB oracle: every daily task, the incremental tasks
    * that are declared queries, and the corpus tasks whose row counts
    * depend on the seeded clones (LSH candidates, split membership). The
    * other corpus tasks and the ANN probes are checked by row count. */
  def declared(workload: String): Map[String, String] = workload match {
    case "daily" => daily.map(t => t.name -> s"q_${t.name}").toMap
    case "corpus" => Map("dedup_clusters" -> "q_dedup_clusters_lsh",
      "split_leakage" -> "q_split_leakage",
      "snapshot_diff" -> "q_snapshot_diff",
      "corpus_drift" -> "q_corpus_drift",
      "incremental_score" -> "q_incremental_score",
      "ingest_funnel" -> "q_ingest_funnel")
  }

  /** The set-up of a workload: builds every persisted artifact its pass
    * reads but does not build itself, into the empty artifact root (the
    * IVF index is not among them: the pass builds it). The artifacts are
    * independent, so they are built concurrently, as a scheduler builds
    * independent tasks. */
  def tier(workload: String): Unit = {
    val builds: Seq[() => Any] = workload match {
      case "daily" => Seq(
        () => Bucketing.bucketed(spark, dir, "lineitem", "l_orderkey"),
        () => Bucketing.bucketed(spark, dir, "orders", "o_orderkey"))
      case "corpus" => Seq(
        () => DedupOps.lshPairs(spark, dir),
        () => DedupOps.lshIndex(spark, dir),
        () => PerfbenchTier.bpeMerges(spark, dir),
        () => UnigramOps.trainedPieces(spark, dir),
        () => LmOps.trainTablesShared(spark, dir))
    }
    // the library's objects are initialised on this thread first: two
    // threads initialising objects that refer to each other can deadlock
    Seq(Bucketing, DedupOps, BpeOps, UnigramOps, LmOps, TextOps, CurationOps)
      .foreach(_.hashCode)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try builds.map(b => pool.submit(new Runnable { def run(): Unit = b() }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  private def task(name: String, layer: String)(run: => Long): Task =
    Task(name, Seq(Call(layer, () => run)))

  private def frame(name: String, layer: String)(df: => DataFrame): Task =
    task(name, layer) {
      val d = df
      frames(name) = d
      d.count()
    }

  def daily: Seq[Task] = Seq(
    frame("expectations", Micro)(MicroQueries.expectations(spark, dir)),
    frame("ingest_suppliers", Ingest)(Ingestion.suppliers(spark, dir)),
    frame("ingest_products", Ingest)(Ingestion.products(spark, dir)),
    frame("ingest_customers", Ingest)(Ingestion.customers(spark, dir)),
    frame("ingest_sales", Ingest)(Ingestion.sales(spark, dir)),
    frame("supplier_performance", SupplierPerf)(SupplierPerformance(spark, dir)),
    frame("product_performance", ProductPerf)(ProductPerformance(spark, dir)),
    frame("customer_sales_report", CustomerReport)(
      CustomerSalesReport(spark, dir)),
    frame("daily_anomalies", Events)(EventOps.dailyAnomalies(spark, dir)))

  def corpus: Seq[Task] = Seq(
    frame("pii_scrub", Text)(TextOps.piiScrub(spark, dir)),
    frame("source_diversity", Sample)(SampleOps.sourceDiversity(spark, dir)),
    frame("gopher_rules", Curation)(CurationOps.gopherRules(spark, dir)),
    frame("corpus_curate", Text)(TextOps.corpusCurate(spark, dir)),
    frame("boilerplate_apply", Curation)(CurationOps.boilerplateApply(spark, dir)),
    task("lsh_recall_gate", Dedup) { DedupOps.lshRecallGate(spark, dir); 1L },
    frame("dedup_clusters", Dedup)(DedupOps.dedupClustersLsh(spark, dir)),
    frame("dup_spans", Dedup)(DedupOps.dupSpans(spark, dir)),
    frame("dup_spans_apply", Dedup)(DedupOps.dupSpansApply(spark, dir)),
    frame("dup_span_runs", Dedup)(DedupOps.dupSpanRuns(spark, dir)),
    frame("model_score", Scoring)(ScoringOps.modelScore(spark, dir)),
    frame("decontaminate", Curation)(CurationOps.decontaminateBloom(spark, dir)),
    frame("decontaminate_spans", Curation)(
      CurationOps.decontaminateSpans(spark, dir)),
    frame("contamination_score", Curation)(
      CurationOps.contaminationScore(spark, dir)),
    frame("pack_sequences", Curation)(CurationOps.packSequences(spark, dir)),
    frame("oov_rate", Text)(TextOps.oovRate(spark, dir)),
    Task("tokenizer_fertility", Seq(
      Call(Bpe, () => BpeOps.compressionRatio(spark, dir).count()),
      Call(Unigram, () => UnigramOps.unigramFertility(spark, dir).count()))),
    frame("fluency_buckets", Lm)(LmOps.perplexityBuckets(spark, dir)),
    frame("dsir_weights", Sample)(SampleOps.dsirWeights(spark, dir)),
    frame("train_split", Sample)(SampleOps.trainValTestSplit(spark, dir)),
    frame("split_leakage", Dedup)(DedupOps.splitLeakage(spark, dir)),
    frame("curriculum", Sample)(SampleOps.curriculum(spark, dir)),
    frame("shard_assign", Sample)(SampleOps.shardAssign(spark, dir)),
    // the gate exactly as Runner runs it: any failing rule aborts the chain
    task("embed_contract", VecProbe) {
      val bad = VectorOps.embedExpectations(spark, dir)
        .filter(!col("passed")).count()
      if (bad > 0) throw new IllegalStateException(contractAbort(bad))
      1L
    },
    frame("ann_index_refresh", VecProbe)(VectorOps.annIvfSq8(spark, dir)))

  /** `Runner.incrementalChain`: one drift report, persisted, serves the
    * dashboard count and the index gate. */
  def incremental: Seq[Task] = {
    lazy val drift = MicroQueries.corpusDrift(spark, dir).persist()
    Seq(
      frame("snapshot_diff", Micro)(MicroQueries.snapshotDiff(spark, dir)),
      frame("corpus_drift", Micro)(drift),
      task("drift_index_gate", Micro) {
        try MicroQueries.driftIndexGateFrom(drift, MicroQueries.driftGateTvMax)
        finally { drift.unpersist(false); () }
        1L
      },
      task("tokenizer_drift_gate", Unigram) {
        UnigramOps.tokenizerDriftGate(spark, dir,
          DedupOps.incrementalBatchDocs(spark, dir))
        1L
      },
      frame("incremental_score", Micro)(MicroQueries.incrementalScore(spark, dir)),
      frame("ingest_funnel", Stream)(EventStream.ingestFunnelStats(spark, dir)))
  }

  /** The IVF index refresh: the build into its empty index directory,
    * then every declared probe family against it and the recall report. */
  def ann: Seq[Task] = Seq(
    frame("index_build", VecBuild)(VectorOps.buildIvfPqIndex(spark, dir)),
    frame("ann_ivf", VecProbe)(VectorOps.annIvf(spark, dir)),
    frame("ann_ivf_sq8", VecProbe)(VectorOps.annIvfSq8(spark, dir)),
    frame("ann_ivf_pq", VecProbe)(VectorOps.annIvfPq(spark, dir)),
    frame("ann_ivf_pqr", VecProbe)(VectorOps.annIvfPqr(spark, dir)),
    frame("ann_ivf_filtered", VecProbe)(VectorOps.annIvfFiltered(spark, dir)),
    frame("ann_pq_rerank_sweep", VecProbe)(VectorOps.annPqRerankSweep(spark, dir)),
    frame(Recall, VecProbe)(VectorOps.annRecall(spark, dir)))

  /** A Runner chain by name. */
  def chain(name: String): Seq[Task] = name match {
    case "daily" => daily
    case "corpus" => corpus
    case "incremental" => incremental
    case other => throw new IllegalArgumentException(s"unknown chain '$other'")
  }

  /** The chains one workload's timed pass runs, in order. */
  def workload(name: String): Seq[(String, Seq[Task])] = name match {
    case "daily" => Seq("daily" -> daily)
    case "corpus" =>
      Seq("corpus" -> corpus, "incremental" -> incremental, "ann" -> ann)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

object Workloads {
  /** The chains that mirror `graft.Runner`. */
  val chains: Seq[String] = Seq("daily", "corpus", "incremental")

  val Ingest = "pipelines.Ingestion"
  val SupplierPerf = "pipelines.SupplierPerformance"
  val ProductPerf = "pipelines.ProductPerformance"
  val CustomerReport = "pipelines.CustomerSalesReport"
  val Micro = "pipelines.MicroQueries"
  val Events = "ext.EventOps"
  val Text = "ext.TextOps"
  val Sample = "ext.SampleOps"
  val Curation = "ext.CurationOps"
  val Dedup = "ext.DedupOps"
  val Scoring = "ext.ScoringOps"
  val Bpe = "ext.BpeOps"
  val Unigram = "ext.UnigramOps"
  val Lm = "ext.LmOps"
  val VecBuild = "ext.VectorOps.build"
  val VecProbe = "ext.VectorOps.probe"
  val Stream = "streaming.EventStream"

  val layers: Seq[String] = Seq(Ingest, SupplierPerf, ProductPerf,
    CustomerReport, Micro, Events, Text, Sample, Curation, Dedup, Scoring,
    Bpe, Unigram, Lm, VecBuild, VecProbe, Stream)

  /** The [[ann]] task whose frame is the recall report. */
  val Recall = "ann_recall"

  /** The message `embed_contract` aborts the corpus chain with, exactly as
    * Runner throws it. */
  def contractAbort(bad: Long): String =
    s"embeddings contract: $bad rule(s) failing — index build aborted"
}
