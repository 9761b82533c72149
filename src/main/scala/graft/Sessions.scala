package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every entry point and suite uses
  * (the reference's shared session helper, transform_utils.py:12–32).
  * Further `spark.*` settings come from `spark-submit --conf` or
  * `-Dspark.*` system properties, which Spark reads on its own.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, or 4 when unset. */
  val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Local mode on `cpus` cores with `cpus` shuffle partitions, unless
    * `SPARK_GRAFT_MASTER` names a cluster manager (spark://host:7077).
    */
  def get(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // bucketed fact scans emit per-bucket sort order (Bucketing writes
      // exactly one file per bucket, which makes this safe) so fact-fact
      // merge joins run sort-free as well as shuffle-free
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // the events fixture is TIMESTAMP(NANOS) parquet; its reader
      // requires this mapping and fails loudly if unset (EventOps.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
