package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Tuned for the driver harness (single JVM, `local[N]`) but every setting is
  * what we would ship on a real cluster: AQE on (runtime re-planning, skew-join
  * splitting, partition coalescing), UTC session time zone (oracle parity),
  * shuffle partitions sized to the parallelism at hand rather than the 200
  * default.
  */
object GraftSession {
  /** Local parallelism: `SPARK_GRAFT_CPUS` when set, else this machine's
    * cores.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String, master: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Let the planner pick shuffled-hash over sort-merge when its size
      // conditions hold (build side per partition under the broadcast
      // threshold), and let AQE rewrite SMJ->SHJ at runtime for small
      // post-shuffle partitions: skips both sort passes on the many
      // mid-size equi-joins. Spark's own size guards bound the hash
      // build, so this is safe at any scale; SMJ remains the fallback.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as raw nanos and convert in TestData.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    master.orElse(Some(s"local[$cpus]")).foreach(b.master)
    b
  }

  def local(appName: String): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
