package graft

import org.apache.spark.sql.SparkSession

/** The one way this engine builds a SparkSession. The mirror CLI, the
  * driver mains (Verify, Bench), the tools and the test suites all call
  * `GraftSession(cores)`, so the plan the CLI runs is the plan Verify
  * hash-checks, Bench times and PlanSpec pins.
  *
  * Only confs that change results are set:
  *  - `spark.sql.extensions=graft.GraftSessionExtensions` — the native
  *    expressions (`rolling_hash`, `minhash_sig`, …) the queries call;
  *  - UTC session time zone;
  *  - `nanosAsLong` — a TIMESTAMP(NANOS) parquet column reads as epoch-nanos
  *    LONG (Spark 4 otherwise fails the read with PARQUET_TYPE_ILLEGAL); a
  *    MICROS encoding is normalized by `EventTicks.toNanos`;
  *  - shuffle partitions = the context's `defaultParallelism` (`cores` under
  *    `local[cores]`, the cluster's core count under spark-submit) instead of
  *    Spark's fixed 200.
  *
  * The master is `local[cores]` unless the JVM already carries
  * `spark.master` (spark-submit `--master`, `-Dspark.master=…`), which
  * SparkConf picks up itself, like every other `-Dspark.*` property.
  * Broadcast thresholds stay Spark's defaults: join strategy is the
  * optimizer's choice, and the few joins that must not broadcast carry
  * hints. The UI is left alone, so a spark-submit run keeps it (build.sbt
  * turns it off for sbt-launched runs and tests).
  */
object GraftSession {
  def apply(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cores]")
    val spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
