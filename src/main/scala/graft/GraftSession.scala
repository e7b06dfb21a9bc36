package graft

import org.apache.spark.sql.SparkSession

/** One place for the session configuration every graft entry point shares —
  * and the documentation of which knobs move when the same code leaves
  * local[N] for a 1000-executor cluster.
  *
  * Local (tests, Verify/Bench/Smoke/ScaleProbe/Plans mains):
  *  - `shuffle.partitions` = cores: at single-digit-GB scale, 200 (the
  *    default) mostly measures task-launch overhead.
  *  - `nanosAsLong`: the events table is ns-precision parquet, which Spark
  *    cannot read natively (TESTDATA.md; `Tables.events` re-derives µs).
  *  - UTC session timezone: date/timestamp results must not depend on the
  *    host's zone (the DuckDB oracle runs in UTC).
  *
  * At cluster scale, change (only) these:
  *  - `shuffle.partitions`: 2–3× total executor cores; AQE coalesces the
  *    excess per-stage, so err high — undersized partitions spill.
  *  - leave AQE at its Spark 4 defaults (enabled: runtime join demotion,
  *    skew-join splitting, partition coalescing) — the operators here are
  *    written to let it work: equi-joins with broadcastable dims, partial
  *    aggregation everywhere, no driver-side loops except the documented
  *    O(log N)-round component fold.
  *  - `spark.sql.files.maxPartitionBytes` (default 128 MB) governs scan
  *    parallelism against the 100 TB input; raise only with fat executors.
  */
object GraftSession {

  /** Local session for the driver-contract mains and specs. */
  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores requested via SPARK_GRAFT_CPUS, with a per-main default. */
  def envCpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)
}
