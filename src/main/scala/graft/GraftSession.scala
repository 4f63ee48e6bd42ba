package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session recipe every entry point shares (the CLI, the
  * bench, the verify/plan mains and the test harness): `local[cpus]`
  * with as many shuffle partitions as cores, AQE on, UTC, the
  * TIMESTAMP(NANOS) parquet read the fixtures need, UI off.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** The caller's live session, if there is one. */
  def existing: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** The live session unchanged — an embedded caller's settings are its
    * own — or else a new one from `b`, logging at WARN.
    */
  def get(b: SparkSession.Builder = builder()): SparkSession =
    existing.getOrElse {
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
}
