package graft

import org.apache.spark.sql.SparkSession

/** The local session the driver and dev mains run under (`Bench`,
  * `Verify`, `ProfileOne`, `ProfileStream`, `ExplainDump`):
  * `local[SPARK_GRAFT_CPUS]` with as many shuffle partitions, UTC, AQE
  * on, no UI, and nanosecond parquet timestamps read as longs (older
  * testdata generations need it). `GraftRun` builds its own session
  * (Hive, FAIR scheduling, zstd).
  */
object LocalSpark {
  def cpus(default: Int): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** `extra` confs go on the builder, after the shared six. */
  def session(defaultCpus: Int, extra: Seq[(String, String)] = Nil): SparkSession = {
    val n = cpus(defaultCpus)
    extra.foldLeft(SparkSession.builder()
        .master(s"local[$n]")
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
  }
}
