package steadybench

import java.nio.file.Files
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftRun
import graft.core.macros.AssetCompiler

/** bq2bq_backfill: an Optimus-style replay. Each op is one round that
  * replays one day through `GraftRun.run` for four jobs, one per load
  * method, reading generated Parquet sources into day-partitioned
  * destinations:
  *  - REPLACE over a two-day window, compiled into two break-marker
  *    slices that run with CONCURRENCY=2;
  *  - REPLACE_MERGE with a PARTITION_FILTER (reads the table it rewrites);
  *  - MERGE, a user-authored upsert script (reads the table it rewrites);
  *  - APPEND, which only writes.
  * Rounds cycle through the days, and each destination commits once per
  * round.
  */
final class Backfill(c: Ctx) extends Workload {
  import c._

  private val days = 9
  private val rowsPerDay = 1500
  private val users = 300
  private val categories =
    Seq("books", "games", "garden", "home", "music", "sports", "tools", "toys")
  private val day0 = LocalDate.of(2024, 3, 1)
  private def day(k: Int): String = day0.plusDays(k.toLong).toString
  private val modulus = 1000000007L

  private case class Job(name: String, table: String, method: String,
      cols: Seq[String], extraEnv: Int => Map[String, String])

  private val jobs = Seq(
    Job("replace", "daily_category", "REPLACE", Seq("category", "n", "amount"),
      _ => Map("CONCURRENCY" -> "2")),
    Job("replace_merge", "user_daily", "REPLACE_MERGE",
      Seq("user_id", "region", "orders", "amount"),
      k => Map("PARTITION_FILTER" -> s"d = '${day(k)}'")),
    Job("merge", "category_totals", "MERGE", Seq("category", "orders", "amount"),
      _ => Map.empty),
    Job("append", "order_log", "APPEND", Seq("order_id", "user_id", "amount"),
      _ => Map.empty))

  private val queries = Map(
    // an Optimus asset template: AssetCompiler renders it once per day
    "replace" ->
      """SELECT category, count(*) AS n, sum(amount) AS amount, d
        |FROM `bench.src.orders`
        |WHERE d >= '{{ .DSTART | Date }}' AND d < '{{ .DEND | Date }}'
        |GROUP BY category, d""".stripMargin,
    "replace_merge" ->
      """SELECT o.user_id, u.region, count(*) AS orders, sum(o.amount) AS amount, o.d
        |FROM `bench.src.orders` o JOIN `bench.src.users` u ON o.user_id = u.user_id
        |WHERE o.d >= '__dstart__' AND o.d < '__dend__'
        |GROUP BY o.user_id, u.region, o.d""".stripMargin,
    "merge" ->
      """MERGE INTO `bench.dw.category_totals` T
        |USING (
        |  SELECT category, count(*) AS orders, sum(amount) AS amount, d
        |  FROM `bench.src.orders`
        |  WHERE d >= '__dstart__' AND d < '__dend__'
        |  GROUP BY category, d) S
        |ON T.category = S.category AND T.d = S.d
        |WHEN MATCHED THEN UPDATE SET orders = S.orders, amount = S.amount
        |WHEN NOT MATCHED THEN INSERT (category, orders, amount, d)
        |  VALUES (S.category, S.orders, S.amount, S.d)""".stripMargin,
    "append" ->
      """SELECT order_id, user_id, amount, d FROM `bench.src.orders`
        |WHERE d >= '__dstart__' AND d < '__dend__' AND amount > 50000""".stripMargin)

  /** job → day → (rows, checksum), as plain Spark computes them. */
  private var expected: Map[String, Map[String, (Long, Long)]] = Map.empty
  private val appended = mutable.Map[String, Int]().withDefaultValue(0)
  private var rounds = 0
  private var xcomSlotMs, listenerSlotMs = 0L

  /** Row count and checksum of each day partition of a destination. */
  private def checksums(df: DataFrame, cols: Seq[String]): Map[String, (Long, Long)] =
    df.groupBy(col("d").cast("string"))
      .agg(count(lit(1)), sum(pmod(xxhash64(cols.map(col): _*), lit(modulus))))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  def prepare(): String = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val dg = new Digest
    val orders = for (k <- 0 until days; i <- 0 until rowsPerDay) yield {
      val id = k.toLong * rowsPerDay + i
      val u = rng.nextInt(users).toLong
      val cat = categories(rng.nextInt(categories.size))
      val amt = 100L + rng.nextInt(99900)
      dg.add(s"orders|$id|$u|$cat|$amt|${day(k)}")
      (id, u, cat, amt, day(k))
    }
    val regions = Seq("apac", "emea", "latam", "na")
    val us = (0 until users).map { u =>
      val r = regions(rng.nextInt(regions.size))
      dg.add(s"users|$u|$r")
      (u.toLong, r)
    }
    val src = work.resolve("sources")
    orders.toDF("order_id", "user_id", "category", "amount", "d")
      .write.partitionBy("d").parquet(src.resolve("orders").toString)
    us.toDF("user_id", "region").write.parquet(src.resolve("users").toString)
    spark.sql("CREATE DATABASE bench__src")
    spark.sql("CREATE DATABASE bench__dw")
    spark.sql("CREATE TABLE bench__src.orders (order_id BIGINT, user_id BIGINT, " +
      s"category STRING, amount BIGINT, d STRING) USING parquet PARTITIONED BY (d) " +
      s"LOCATION '${src.resolve("orders")}'")
    spark.sql("MSCK REPAIR TABLE bench__src.orders")
    spark.sql("CREATE TABLE bench__src.users (user_id BIGINT, region STRING) " +
      s"USING parquet LOCATION '${src.resolve("users")}'")
    spark.sql("CREATE TABLE bench__dw.daily_category (category STRING, n BIGINT, " +
      "amount BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
    spark.sql("CREATE TABLE bench__dw.user_daily (user_id BIGINT, region STRING, " +
      "orders BIGINT, amount BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
    spark.sql("CREATE TABLE bench__dw.category_totals (category STRING, orders BIGINT, " +
      "amount BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
    spark.sql("CREATE TABLE bench__dw.order_log (order_id BIGINT, user_id BIGINT, " +
      "amount BIGINT, d STRING) USING parquet PARTITIONED BY (d)")

    // the expected destinations, computed with plain Spark from the inputs
    val o = spark.read.parquet(src.resolve("orders").toString)
      .withColumn("d", col("d").cast("string"))
    val u = spark.read.parquet(src.resolve("users").toString)
    val byCategory = o.groupBy(col("category"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("amount"))
    def tagged(job: String, df: DataFrame, cols: Seq[String]) =
      df.select(lit(job).as("job"), col("d"), pmod(xxhash64(cols.map(col): _*), lit(modulus)).as("h"))
    expected = Seq(
      tagged("replace", byCategory, Seq("category", "n", "amount")),
      tagged("replace_merge", o.join(u, "user_id").groupBy(col("user_id"), col("region"), col("d"))
        .agg(count(lit(1)).as("orders"), sum(col("amount")).as("amount")),
        Seq("user_id", "region", "orders", "amount")),
      tagged("merge", byCategory, Seq("category", "n", "amount")),
      tagged("append", o.where(col("amount") > 50000), Seq("order_id", "user_id", "amount")))
      .reduce(_ unionByName _)
      .groupBy(col("job"), col("d")).agg(count(lit(1)), sum(col("h")))
      .collect().toSeq
      .groupBy(_.getString(0))
      .map { case (job, rs) => job -> rs.map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3)))).toMap }
    jobs.foreach(j => Files.createDirectories(work.resolve(s"jobs/${j.name}/in")))
    dg.hex
  }

  private def rfc3339(d: String) = s"${d}T00:00:00Z"

  def op(i: Int): Done = {
    rounds += 1
    val k = i % (days - 1)
    val written = mutable.ArrayBuffer[(String, String)]()
    jobs.foreach { j =>
      if (j != jobs.head) Probe.sample()
      val span = if (j.name == "replace") 2 else 1
      val (ds, de) = (day(k), day(k + span))
      val dir = work.resolve(s"jobs/${j.name}")
      val sql =
        if (j.name != "replace") queries(j.name)
        else AssetCompiler.compileAssets(j.method, Map("query.sql" -> queries(j.name)),
          Map("DSTART" -> rfc3339(ds), "DEND" -> rfc3339(de)),
          LocalDate.parse(ds).atStartOfDay, LocalDate.parse(de).atStartOfDay)("query.sql")
      Files.writeString(dir.resolve("in/query.sql"), sql)
      val xcom = dir.resolve("xcom.json")
      val env = Map(
        "JOB_DIR" -> dir.toString, "XCOM_PATH" -> xcom.toString,
        "DSTART" -> ds, "DEND" -> de, "EXECUTION_TIME" -> s"${de}T02:00:00",
        "JOB_LABELS" -> s"owner=steadybench,job=${j.name}",
        "PROJECT" -> "bench", "DATASET" -> "dw", "TABLE" -> j.table,
        "LOAD_METHOD" -> j.method) ++ j.extraEnv(k)
      trace.span(s"load.${j.name}_s")(GraftRun.run(env, spark))
      if (trace.enabled) {
        val x = Files.readString(xcom)
        def num(key: String) = s""""$key": (\\d+)""".r.findFirstMatchIn(x).get.group(1).toDouble
        trace.count("xcom.slot_s", num("slot_millis") / 1e3)
        trace.count("xcom.bytes_processed_mb", num("total_bytes_processed") / 1e6)
      }
      (0 until span).foreach(s => written += ((j.name, day(k + s))))
      if (j.name == "append") appended(day(k)) += 1
    }
    // rows this round committed; an APPEND partition's earlier rounds
    // count only in the check's expected totals
    val rows = written.map { case (j, d) => expected(j)(d)._1 }.sum
    val appendTimes = appended(day(k))
    Done(rows, () => {
      jobs.flatMap { j =>
        val ds = written.collect { case (n, d) if n == j.name => d }.toSeq
        val want = ds.map { d =>
          val (n, s) = expected(j.name)(d)
          val times = if (j.name == "append") appendTimes else 1
          s"${j.table}/$d" -> ((n * times, s * times))
        }.toMap
        val got = checksums(spark.table(s"bench__dw.${j.table}").where(col("d").isin(ds: _*)),
          j.cols).map { case (d, v) => s"${j.table}/$d" -> v }
        Checks.partitions(want, got)
      }
    })
  }

  override def layers(ops: Seq[(OpTrace, Long)]): Map[String, Double] = {
    def perOp(f: OpTrace => Double) = Workload.mean(ops.map(o => f(o._1)))
    // commit tail: from the last job of a GraftRun.run call to its return
    def tail(t: OpTrace): Double = t.calls.filter(_._1.startsWith("load.")).map {
      case (_, s, e) =>
        val lastJobEnd = t.jobs.collect { case (a, b) if a >= s && b <= e => b }
        (e - lastJobEnd.maxOption.getOrElse(s)) / 1e3
    }.sum
    xcomSlotMs = ops.map(o => (o._1.counts("xcom.slot_s") * 1e3).toLong).sum
    // the task time of the jobs that ran inside the GraftRun.run calls
    listenerSlotMs = ops.map { case (t, _) =>
      t.calls.filter(_._1.startsWith("load.")).flatMap { case (_, s, e) =>
        t.jobStages.collect { case (a, b, stages) if a >= s && b <= e => stages }.flatten
      }.distinct.map(t.stageRunMs).sum
    }.sum
    jobs.map(j => s"load.${j.name}_s" -> perOp(_.spans(s"load.${j.name}_s"))).toMap ++ Map(
      "commit.tail_s" -> perOp(tail),
      "commit.rows_written_per_row" ->
        ops.map(_._1.recordsWritten).sum.toDouble / math.max(1L, ops.map(_._2).sum),
      "xcom.slot_s" -> perOp(_.counts("xcom.slot_s")),
      "xcom.bytes_processed_mb" -> perOp(_.counts("xcom.bytes_processed_mb")))
  }

  override def facts: Map[String, Any] = Map(
    "days" -> days, "rows_per_day" -> rowsPerDay, "users" -> users,
    // each round commits once to each destination
    "commits_per_destination" -> rounds,
    "jobs" -> jobs.map(j => s"${j.method} -> bench__dw.${j.table}"),
    // xcom slot_millis is the program's own listener total; the
    // benchmark's listener sees the same tasks (checks excluded)
    "xcom_slot_ms" -> xcomSlotMs, "listener_task_run_ms" -> listenerSlotMs)
}
