package graft.streaming

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The bounded runners skip the trailing no-data micro-batch where
  * their output provably cannot depend on it (inner join s04, left-semi
  * join s17, dedup s05/s09 — emission is arrival/match-time for all
  * four). This spec pins the properties that make the skip safe:
  *
  *  1. each of the four streamed results still equals the BATCH
  *     equivalent computed from the same table (the oracle checks the
  *     same equality against DuckDB; this is the in-repo tripwire);
  *  2. the conf flip is scoped — after the runner returns, the session
  *     conf is back to its pre-call state, and a query started on the
  *     same session at the same moment (the left-outer join s08, whose
  *     no-data batch is load-bearing) does not capture it.
  */
class StreamingNoDataSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("StreamingNoDataSpec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val key = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Rows as sorted strings: a multiset compare, so a duplicated row fails too. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def events = graft.queries.Tables.t(spark, sfDir, "events")

  private val Race = """race_(s0[48])_(\d)""".r

  /** The attribution runners' read-back projection (s04, s08). */
  private def attribution(df: DataFrame): DataFrame =
    df.select(col("user_id"), col("click_id"), col("purchase_id"),
      date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
      date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
      col("value"))

  if (new java.io.File(sfDir).isDirectory) {
    test("s04 inner-join runner equals the batch time-window join, conf restored") {
      val before = spark.conf.getOption(key)
      val streamed = StreamingOps
        .runBoundedAttribution(spark, sfDir, "nodata_s04")
        .collect().map(_.toSeq).toSet
      assert(spark.conf.getOption(key) == before,
        "noDataMicroBatches conf must be restored after the bounded run")
      val ev = graft.queries.Tables.t(spark, sfDir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("purchase_ts"), col("value"))
      val batch = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") > col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"streamed inner join (${streamed.size} rows) != batch join (${batch.size} rows)")
    }

    test("s05 dedup runner equals the batch per-type totals of the original stream") {
      val streamed = StreamingOps
        .runBoundedDedupDelivery(spark, sfDir, "nodata_s05")
        .collect().map(_.toSeq).toSet
      val batch = graft.queries.Tables.t(spark, sfDir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        "duplicate-delivery dedup must restate the original stream's totals")
    }

    test("s09 incremental-dedup runner equals the same dedup over the batch tables") {
      val streamed = rows(StreamingOps.runBoundedIncrementalDedup(spark, sfDir, "nodata_s09"))
      val docs = graft.queries.Tables.raw(spark, sfDir, "documents")
      val redelivered = docs.unionByName(docs.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      val batch = rows(StreamingOps.streamIncrementalDedup(
        redelivered, docs.where(col("doc_id") % 5 === 1)))
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"streamed dedup (${streamed.size} rows) != batch dedup (${batch.size} rows)")
    }

    test("s17 semi-join runner equals the batch time-window semi join") {
      val streamed = rows(StreamingOps.runBoundedSemiConversion(spark, sfDir, "nodata_s17"))
      val batch = rows(StreamingOps.streamClickConversionSemi(events)
        .select(col("user_id"), col("click_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts")))
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"streamed semi join (${streamed.size} rows) != batch semi join (${batch.size} rows)")
    }

    test("s04 and s08 started at once on one session each keep their own confs") {
      val keys = Seq(key, "spark.sql.shuffle.partitions",
        "spark.sql.streaming.stateStore.providerClass")
      def confs = keys.map(k => k -> spark.conf.getOption(k))
      val before = confs
      val inner = rows(attribution(StreamingOps.streamClickAttribution(events)))
      val outer = rows(attribution(StreamingOps.streamClickAttributionLeftOuter(events)))
      assert(outer.size > inner.size, "the fixture must have unmatched clicks")
      // s04's started event is delivered inside its start(), while its
      // confs are on the session: holding it there until s08 has started
      // (or 2 s) lands an unguarded s08 start inside that window every
      // round instead of by chance
      val s08Started = Array.fill(4)(new CountDownLatch(1))
      val widen = new StreamingQueryListener {
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          Option(e.name).getOrElse("") match {
            case Race("s08", r) => s08Started(r.toInt).countDown()
            case Race("s04", r) => s08Started(r.toInt).await(2, TimeUnit.SECONDS)
            case _ =>
          }
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(widen)
      val pool = Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try for (round <- 1 to 3) {
        val go = new CountDownLatch(1)
        val s04 = Future {
          go.await()
          rows(StreamingOps.runBoundedAttribution(spark, sfDir, s"race_s04_$round"))
        }
        val s08 = Future {
          go.await()
          rows(StreamingOps.runBoundedLeftOuterAttribution(spark, sfDir, s"race_s08_$round"))
        }
        go.countDown()
        val (got04, got08) = (Await.result(s04, 5.minutes), Await.result(s08, 5.minutes))
        // compared outside assert(): its message would print every row
        val (same08, same04) = (got08 == outer, got04 == inner)
        assert(same08, s"round $round: s08 (${got08.size} rows) != batch left join " +
          s"(${outer.size} rows) — unmatched clicks lost")
        assert(same04, s"round $round: s04 (${got04.size} rows) != batch join " +
          s"(${inner.size} rows)")
        assert(confs == before, s"round $round: session confs not restored")
      } finally {
        pool.shutdown()
        spark.streams.removeListener(widen)
      }
    }
  }
}
