package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every entry point shares (Bench, Verify,
  * PlanAudit and the test session): `local[cores]` with one shuffle
  * partition per core, UI off, the session zone pinned to UTC (events.ts
  * may arrive as TIMESTAMP_NTZ and its epoch conversion goes through the
  * session zone), and the legacy nanos conf for the driver's
  * TIMESTAMP(NANOS) events feed — session-level, so query builders never
  * mutate shared conf. `conf` carries what a caller adds on top. */
object GraftSession {
  /** Core count from `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(4)

  def apply(cores: Int, logLevel: String = "WARN",
            conf: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
