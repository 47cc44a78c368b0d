package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for graft's mains. Every main runs with
  * the same policy:
  *
  *  - `local[cpus]`, with cpus = `SPARK_GRAFT_CPUS` or, unset, the
  *    machine's available processors;
  *  - `spark.sql.shuffle.partitions` = `SPARK_GRAFT_SHUFFLE_PARTITIONS`
  *    (default cpus);
  *  - adaptive execution = `SPARK_GRAFT_AQE` (default true). Verify's
  *    config-sensitivity probe sets both;
  *  - UTC session time zone;
  *  - `nanosAsLong`: `Tables` adapts to whichever physical type
  *    `events.ts` ships as, and the TIMESTAMP(NANOS) generation needs
  *    the flag;
  *  - no UI, WARN logging.
  *
  * `taskAttempts` is local mode's attempts per task: at 1, the default,
  * the first task failure fails the job; FaultRehearsal sets 3 so Spark
  * retries the task. */
object Session {
  def local(taskAttempts: Int = 1): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus, $taskAttempts]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
