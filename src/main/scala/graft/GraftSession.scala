package graft

import org.apache.spark.sql.SparkSession

/** The one session policy every graft entry runs under — Bench, Verify,
  * ScaleData, Probe and the spec suite's shared session:
  *  - the flat-float cache serializer and the scan extension that reads
  *    it back columnar (both static confs: they must be set before the
  *    session exists);
  *  - `local[cpus]` with shuffle width = cpus, so every exchange fans
  *    out to exactly the task slots the box has;
  *  - UTC session time (the DuckDB oracle compares timestamps in UTC);
  *  - no UI, WARN logging, and [[SparkEntry.tune]].
  * Callers pass only what really differs: the width and, for Bench's
  * concurrent serving sections, extra confs. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the caller's own default width. */
  def cpus(default: => String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def local(cpus: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.cache.serializer",
        "graft.functions.GraftCachedBatchSerializer")
      .config("spark.sql.extensions", "graft.plans.GraftCacheScanExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.tune(spark)
  }
}
