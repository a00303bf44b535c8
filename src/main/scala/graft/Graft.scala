package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the harness (single-JVM `local[N]`) but every setting is the
  * one we'd ship on a real cluster: AQE on (runtime coalesce, skew-join
  * split, join demotion), UTC session time, shuffle partitions sized to the
  * parallelism instead of Spark's default 200. On a 1000-executor cluster
  * the only knobs that change are master, shuffle partitions (sized to
  * ~2-3x total cores) and memory.
  */
object Graft {

  /** Default local parallelism: this machine's cores, unless a
    * deployment sets SPARK_GRAFT_CPUS. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A failure as one stderr-sized line: exception class and the first
    * line of its message (the message alone is `null` for an NPE). */
  def failureLine(e: Throwable): String =
    e.getClass.getName + Option(e.getMessage)
      .flatMap(_.linesIterator.nextOption()).fold("")(": " + _)

  /** Shuffle partitions sized to the DATA, not the box: on a cluster this
    * is ~2-3x total cores and grows with the input; the scale sweeps
    * (SCALING.md) set it via SPARK_GRAFT_SHUFFLE because a fixed 32 that
    * is right at sf0.1 under-partitions a 100x corpus into spilling
    * reducers — the knob, not the plan, is what changes with scale. */
  def defaultShuffle: Int = sys.env.get("SPARK_GRAFT_SHUFFLE")
    .map(_.toInt).getOrElse(defaultCpus.toInt)

  def session(
      master: String = s"local[$defaultCpus]",
      shufflePartitions: Int = defaultShuffle,
      appName: String = "graft"
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // input-split budget: at 100x data the default 128 MB leaves a
      // compute-heavy table in a handful of splits and cores idle; sized
      // per deployment like shuffle partitions (SPARK_GRAFT_SPLIT_MB)
      .config("spark.sql.files.maxPartitionBytes",
        s"${sys.env.get("SPARK_GRAFT_SPLIT_MB").map(_.toInt).getOrElse(128)}m")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // The events table carries parquet TIMESTAMP(NANOS); without this
      // Spark refuses the file outright.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
