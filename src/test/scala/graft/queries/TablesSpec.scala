package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.Scratch

/** Physical-type conformance for the driver testdata read path. The
  * driver has regenerated `/root/testdata` with DIFFERENT parquet
  * physical types between rounds (TIMESTAMP(NANOS) through round 4,
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ from
  * round 5) — this spec pins the contract that whatever the file
  * stores, every consumer sees plain `TIMESTAMP`, so a future
  * generation change fails in `sbt test` rather than silently breaking
  * 11 gates in the driver's artifacts (the round-5 regression).
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("TablesSpec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def assume_data(): Unit =
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir not found")

  test("events.ts reads as TIMESTAMP whatever the parquet physical type is") {
    assume_data()
    val df = Tables.t(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts must normalize to TIMESTAMP, got ${df.schema("ts").dataType}")
    // and the value survives the normalization: usable by the two
    // constructs that reject NTZ — unix_micros and a watermark
    import org.apache.spark.sql.functions._
    val n = df.where(unix_micros(col("ts")) > 0).count()
    assert(n > 0)
  }

  test("no table exposes TIMESTAMP_NTZ or raw long event time") {
    assume_data()
    Tables.all.foreach { name =>
      val schema = Tables.t(spark, sfDir, name).schema
      schema.fields.foreach { f =>
        assert(f.dataType != TimestampNTZType,
          s"$name.${f.name} is TIMESTAMP_NTZ — normalizeTs must cast it")
        assert(!(f.name == "ts" && f.dataType == LongType),
          s"$name.ts is raw long (nanos) — normalizeTs must convert it")
      }
    }
  }

  test("a streaming scan of events watermarks without analysis errors") {
    assume_data()
    // the exact construct that broke in round 5: a file-source stream
    // over the real events parquet feeding withWatermark("ts", ...)
    import org.apache.spark.sql.functions._
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = Tables.normalizeTs(
      spark.readStream.schema(batchSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir))
    val agg = stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).count()
    val q = agg.writeStream.format("memory")
      .queryName("tables_spec_ntz").outputMode("complete")
      .option("checkpointLocation",
        Scratch.onDisk("tables_spec_ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("tables_spec_ntz").count() > 0)
  }
}
