package graft.queries

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.config.{LoadMethod, TaskConfig}
import graft.core.macros.AssetCompiler
import graft.core.window.CustomWindow
import graft.engine.{DmlRunner, Lineage, MetricsCollector, ScriptRunner, TransformRunner}
import graft.streaming.StreamingOps.Scratch

/** End-to-end flows through the engine layer (SURVEY §2A operators
  * A1–A27): each query seeds a destination table in a fresh temp
  * warehouse database, drives the real load-method strategy through
  * [[graft.engine.TransformRunner]], and returns the final destination
  * table contents — hash-checked against a DuckDB oracle that recomputes
  * the expected end state from the source parquet.
  *
  * Date-typed columns are carried as ISO `yyyy-MM-dd` strings end-to-end
  * (partition values and oracle-compare friendly).
  */
object EngineQueries {
  import Tables.t

  type Q = (SparkSession, String) => DataFrame

  private val execTime = LocalDateTime.of(2024, 5, 1, 10, 0, 0)

  /** fresh database at a fresh temp location (no stale files). */
  private def freshDb(s: SparkSession, db: String): Unit = {
    s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val loc = Scratch.onDisk(s"graft_$db")
    s.sql(s"CREATE DATABASE $db LOCATION '$loc'")
  }

  /** Build a catalog fixture once per (db, source dir) per JVM. Queries
    * whose *measured* body is a join over pre-written catalog tables
    * (bucketed join, DPP) must not pay the saveAsTable setup inside the
    * timed body on every bench iteration — the setup is fixture, not
    * query. Re-invocations with the same source dir reuse the tables.
    */
  private val builtFixtures = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def fixtureOnce(s: SparkSession, db: String, dir: String)(setup: => Unit): Unit = {
    // keyed per Spark APPLICATION, not per JVM: a test JVM runs many
    // sequential SparkSessions (one per spec), and a fixture built in a
    // stopped session's catalog does not exist in the next one's
    val key = s"${s.sparkContext.applicationId}|$db|$dir"
    builtFixtures.synchronized {
      if (!builtFixtures.contains(key)) {
        freshDb(s, db)
        setup
        builtFixtures.add(key)
      }
    }
  }

  /** e16 core: builds the bucketed-table fixtures and returns the
    * co-located join with its PHYSICAL PLAN PINNED under a
    * no-broadcast conf window (`executedPlan` is forced inside the
    * window and cached on the Dataset, so later consumption — the
    * gate's localCheckpoint, the audit's explain — reuses the
    * exchange-free sort-merge plan instead of replanning with
    * broadcast back on).
    */
  private[graft] def bucketedJoinPlan(s: SparkSession, d: String): DataFrame = {
    Tables.views(s, d, "orders", "customer")
    fixtureOnce(s, "graft__pg16", d) {
      t(s, d, "orders").write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", Scratch.onDisk("b_orders"))
        .mode("overwrite").saveAsTable("graft__pg16.orders_b")
      t(s, d, "customer").write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", Scratch.onDisk("b_cust"))
        .mode("overwrite").saveAsTable("graft__pg16.customer_b")
    }
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = s.table("graft__pg16.orders_b")
        .join(s.table("graft__pg16.customer_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("c_mktsegment"))
      joined.queryExecution.executedPlan // force planning inside the conf window
      joined
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Per-run destination restore for the range-partitioning gates: the
    * transform under test mutates the destination, so each run rebuilds
    * it — but from the db's JVM-lifetime `seed` snapshot, as ONE
    * static-mode INSERT OVERWRITE (drops every stale partition, writes
    * the seed's) instead of DROP TABLE + CREATE + INSERT: metastore
    * round-trips, not data volume, dominate this path. The gates also
    * cap the bucket domain (`o_custkey < 1000` → 10 ranges) so the
    * per-partition metastore cost doesn't scale with SF — the gate
    * measures range ROUTING, not partition-registration throughput.
    */
  private def reseedRangeDest(s: SparkSession, db: String, table: String): Unit =
    reseedDest(s, db, table, "cnt BIGINT, bucket INT", "bucket")

  /** Generic per-run destination restore from the db's JVM-lifetime
    * `seed` snapshot (see [[reseedRangeDest]] note): one static-mode
    * INSERT OVERWRITE drops every stale partition and rewrites the
    * seed's. Seed column order must end with the partition column.
    */
  private def reseedDest(s: SparkSession, db: String, table: String,
      ddlCols: String, partCol: String): Unit = {
    if (!s.catalog.tableExists(s"$db.$table"))
      s.sql(s"CREATE TABLE $db.$table ($ddlCols) USING PARQUET PARTITIONED BY ($partCol)")
    val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try s.sql(s"INSERT OVERWRITE TABLE $db.$table PARTITION ($partCol) SELECT * FROM $db.seed")
    finally s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  /** Bench warmup hook: run the queries whose first execution builds a
    * JVM-lifetime [[fixtureOnce]] database, so timed runs measure the
    * operator, not one-time fixture construction (same rationale the
    * e16/e18 fixtures established — fixtures are not the query).
    */
  def warmFixtures(s: SparkSession, dir: String): Unit =
    Seq("e07_merge_replace_auto", "e08_merge_replace_filter",
      "e14_partition_decorator", "e15_spillover", "e16_bucketed_join",
      "e18_dynamic_partition_pruning", "e28_range_partitioned",
      "e36_range_append", "e38_range_replace")
      .foreach(n => queries(n)(s, dir).count())

  private def conf(dataset: String, table: String, method: LoadMethod,
      filter: Option[String] = scala.None, concurrency: Int = 2): TaskConfig =
    TaskConfig(
      destinationProject = "graft", destinationDataset = dataset,
      destinationTableName = table, sqlType = "STANDARD",
      loadMethod = method, executionProject = "graft",
      filterExpression = filter, concurrency = concurrency)

  val queries: Map[String, Q] = Map(

    // --- A2–A4 + scripting: DECLARE / SET / CREATE TEMP TABLE ----------
    "e01_script_runner" -> { (s, d) =>
      Tables.views(s, d, "orders")
      val script =
        """DECLARE threshold INT64 DEFAULT 100000;
          |DECLARE statuses ARRAY<STRING> DEFAULT array('F', 'O');
          |SET threshold = threshold + 50000;
          |CREATE TEMP TABLE big_orders AS (
          |  SELECT o_orderpriority, o_orderstatus, o_totalprice
          |  FROM orders
          |  WHERE o_totalprice > threshold AND o_orderstatus IN UNNEST(statuses)
          |);
          |SELECT o_orderpriority, count(1) AS cnt
          |FROM big_orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
      new ScriptRunner(s).run(script).get
    },

    // --- A1+A15+A19: REPLACE on DAY-partitioned dest, 3 slices,
    //     break-marker split, concurrent partition jobs ----------------
    "e02_replace_partitioned" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg2")
      s.sql("CREATE TABLE graft__pg2.booking_counts (cnt BIGINT, d STRING) USING PARQUET PARTITIONED BY (d)")
      // seed two partitions outside the window — they must survive
      s.sql("""INSERT INTO graft__pg2.booking_counts PARTITION (d)
              |SELECT count(1) AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
              |FROM orders WHERE o_orderdate >= '1995-12-29' AND o_orderdate < '1995-12-31'
              |GROUP BY 2""".stripMargin)
      val template = Map(AssetCompiler.QueryFileName ->
        """SELECT count(1) AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |GROUP BY 2""".stripMargin)
      val w = CustomWindow(LocalDateTime.of(1996, 1, 1, 0, 0), LocalDateTime.of(1996, 1, 4, 0, 0))
      val sliced = AssetCompiler.compileAssets("REPLACE", template, Map(),
        w.start, w.end)(AssetCompiler.QueryFileName)
      new TransformRunner(s).transform(
        conf("pg2", "booking_counts", LoadMethod.Replace), sliced, w, execTime)
      s.table("graft__pg2.booking_counts").orderBy("d")
    },

    // --- A14: REPLACE_ALL — whole window into the start partition ------
    "e03_replace_all" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg3")
      s.sql("CREATE TABLE graft__pg3.monthly (cnt BIGINT, revenue DOUBLE, d STRING) USING PARQUET PARTITIONED BY (d)")
      s.sql("""INSERT INTO graft__pg3.monthly PARTITION (d = '1997-12-01')
              |SELECT count(1), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              |FROM orders WHERE o_orderdate >= '1997-12-01' AND o_orderdate < '1998-01-01'""".stripMargin)
      val sql =
        """SELECT count(1) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'""".stripMargin
      // monthly windows arrive pre-resolved as concrete dstart/dend
      // (SURVEY A7 note: XWindow raises on "M"; Optimus resolves upstream)
      val w = CustomWindow(LocalDateTime.of(1998, 1, 1, 0, 0), LocalDateTime.of(1998, 2, 1, 0, 0))
      new TransformRunner(s).transform(
        conf("pg3", "monthly", LoadMethod.ReplaceAll), sql, w, execTime)
      s.table("graft__pg3.monthly").orderBy("d")
    },

    // --- A17: user-authored MERGE (dml sample shape) -------------------
    "e04_merge_dml" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg4")
      s.sql("CREATE TABLE graft__pg4.counts (date STRING, count BIGINT) USING PARQUET")
      s.sql("""INSERT INTO graft__pg4.counts
              |SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS date, count(1) AS count
              |FROM orders
              |WHERE o_orderdate >= '1996-01-05' AND o_orderdate < '1996-01-20'
              |  AND o_orderstatus = 'F'
              |GROUP BY 1""".stripMargin)
      val merge =
        """MERGE `graft.pg4.counts` S
          |using
          |(
          |select count(1) as count, date_format(o_orderdate, 'yyyy-MM-dd') as date
          |from orders
          |where o_orderdate >= '__dstart__' and o_orderdate < '__dend__'
          |group by date
          |) N
          |on S.date = N.date
          |WHEN MATCHED then
          |UPDATE SET `count` = N.count
          |when not matched then
          |INSERT (`date`, `count`) VALUES(N.date, N.count)""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1996, 1, 1, 0, 0), LocalDateTime.of(1996, 1, 16, 0, 0))
      new TransformRunner(s).transform(
        conf("pg4", "counts", LoadMethod.Merge), merge, w, execTime)
      s.table("graft__pg4.counts").orderBy("date")
    },

    // --- A10/A13: APPEND with execution-time macro ---------------------
    "e05_append" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg5")
      s.sql("CREATE TABLE graft__pg5.events_log (o_orderkey BIGINT, o_totalprice DOUBLE, load_timestamp TIMESTAMP) USING PARQUET")
      s.sql("""INSERT INTO graft__pg5.events_log
              |SELECT o_orderkey, o_totalprice, TIMESTAMP '2024-01-01 00:00:00'
              |FROM orders WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1995-01-03'""".stripMargin)
      val sql =
        """SELECT o_orderkey, o_totalprice, CAST('__execution_time__' AS TIMESTAMP) AS load_timestamp
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1995, 2, 1, 0, 0), LocalDateTime.of(1995, 2, 3, 0, 0))
      new TransformRunner(s).transform(
        conf("pg5", "events_log", LoadMethod.Append), sql, w, execTime)
      s.table("graft__pg5.events_log").orderBy("o_orderkey", "load_timestamp")
    },

    // --- A21/A22: lineage extraction (Catalyst + regex + annotations) --
    "e06_lineage" -> { (s, _) =>
      import s.implicits._
      val sql =
        """-- a comment with proj.dataset.fake_table inside
          |WITH sub AS (
          |  SELECT * FROM `proj.playground.booking_log`
          |)
          |SELECT s.*, u.name
          |FROM sub s
          |JOIN proj.playground.users u ON s.user_id = u.id
          |JOIN /* @ignoreupstream */ proj.audit.access_log a ON a.id = u.id
          |/* block comment with proj.dataset.other_fake */""".stripMargin
      val regex = Lineage.findDependenciesWithRegex(sql, "proj.playground.dest")
      val catalyst = Lineage.findDependenciesWithCatalyst(s, sql, "proj.playground.dest")
      (regex.dependencies.sorted.map(("regex", _)) ++
        regex.ignored.sorted.map(("ignored", _)) ++
        catalyst.dependencies.sorted.map(("catalyst", _)))
        .toDF("method", "dep").orderBy("method", "dep")
    },

    // --- A16 auto: REPLACE_MERGE partition auto-discovery --------------
    "e07_merge_replace_auto" -> { (s, d) =>
      Tables.views(s, d, "orders")
      // table-level re-seed from a JVM-lifetime snapshot (see e28 note)
      fixtureOnce(s, "graft__pg7", d) {
        s.sql("CREATE TABLE graft__pg7.seed (cnt BIGINT, d STRING) USING PARQUET")
        s.sql("""INSERT INTO graft__pg7.seed
                |SELECT count(1) AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
                |FROM orders WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-03-01'
                |GROUP BY 2""".stripMargin)
      }
      reseedDest(s, "graft__pg7", "sample_replace", "cnt BIGINT, d STRING", "d")
      val sql =
        """SELECT count(1) AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |  AND o_orderstatus = 'F'
          |GROUP BY 2""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1996, 2, 1, 0, 0), LocalDateTime.of(1996, 3, 1, 0, 0))
      new TransformRunner(s).transform(
        conf("pg7", "sample_replace", LoadMethod.ReplaceMerge), sql, w, execTime)
      s.table("graft__pg7.sample_replace").orderBy("d")
    },

    // --- A16 filter: REPLACE_MERGE with user PARTITION_FILTER ----------
    "e08_merge_replace_filter" -> { (s, d) =>
      Tables.views(s, d, "orders")
      // table-level re-seed from a JVM-lifetime snapshot (see e28 note)
      fixtureOnce(s, "graft__pg8", d) {
        s.sql("CREATE TABLE graft__pg8.seed (cnt BIGINT, d STRING) USING PARQUET")
        s.sql("""INSERT INTO graft__pg8.seed
                |SELECT count(1) AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
                |FROM orders WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-03-01'
                |GROUP BY 2""".stripMargin)
      }
      reseedDest(s, "graft__pg8", "sample_replace", "cnt BIGINT, d STRING", "d")
      val sql =
        """SELECT count(1) AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |  AND o_orderstatus = 'F'
          |GROUP BY 2""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1996, 2, 1, 0, 0), LocalDateTime.of(1996, 2, 11, 0, 0))
      new TransformRunner(s).transform(
        conf("pg8", "sample_replace", LoadMethod.ReplaceMerge,
          filter = Some("d >= '1996-02-01' AND d < '1996-03-01'")), sql, w, execTime)
      s.table("graft__pg8.sample_replace").orderBy("d")
    },

    // --- A12: DELETE FROM rewrite --------------------------------------
    "e09_delete" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg9")
      s.sql("CREATE TABLE graft__pg9.counts (d STRING, cnt BIGINT) USING PARQUET")
      s.sql("""INSERT INTO graft__pg9.counts
              |SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS d, count(1) AS cnt
              |FROM orders WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-02-01'
              |GROUP BY 1""".stripMargin)
      new DmlRunner(s, new TransformRunner(s))
        .run("DELETE FROM `graft.pg9.counts` WHERE d < '1996-01-10'")
      s.table("graft__pg9.counts").orderBy("d")
    },

    // --- scripted transaction: DML + control flow in ONE script ---------
    "e57_scripted_transaction" -> { (s, d) =>
      // The BigQuery conditional-commit idiom: a transaction whose
      // COMMIT/ROLLBACK decision is an IF over the in-transaction
      // state. Exercises the scripting↔DML seam: DELETE/INSERT route
      // to the shared DmlRunner, the script-path INSERT is pinned for
      // rollback, and the IF body's COMMIT lands on the same open
      // transaction.
      Tables.views(s, d, "nation")
      freshDb(s, "graft__pg57")
      new ScriptRunner(s).run(
        """DECLARE min_keep INT64 DEFAULT 10;
          |CREATE TABLE `graft.pg57.t` AS
          |SELECT CAST(n_nationkey AS INT64) AS id, CAST(n_regionkey AS INT64) AS r FROM nation;
          |BEGIN TRANSACTION;
          |DELETE FROM `graft.pg57.t` WHERE r >= 3;
          |INSERT INTO graft.pg57.t
          |SELECT CAST(n_nationkey + 100 AS INT64), CAST(n_regionkey AS INT64)
          |FROM nation WHERE n_regionkey = 0;
          |IF (SELECT count(1) FROM graft.pg57.t) >= min_keep THEN
          |  COMMIT TRANSACTION;
          |ELSE
          |  ROLLBACK TRANSACTION;
          |END IF;
          |SELECT id, r FROM graft.pg57.t ORDER BY id""".stripMargin).get
    },

    // --- materialized view: create, go stale, CALL-refresh ---------------
    "e56_materialized_view" -> { (s, d) =>
      // BigQuery MVs auto-refresh in the background; the engine's
      // refresh is the published manual call. The gate creates the MV,
      // mutates the base table via DML (the MV stays stale — the
      // documented contract), then CALL-refreshes: the final read must
      // show the post-mutation aggregate.
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg56")
      val sr = new ScriptRunner(s)
      sr.run(
        """CREATE TABLE `graft.pg56.base` AS
          |SELECT o_orderpriority, o_totalprice FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01';
          |CREATE OR REPLACE MATERIALIZED VIEW `graft.pg56.mv` AS
          |SELECT o_orderpriority, count(1) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64) AS revenue
          |FROM graft.pg56.base GROUP BY 1""".stripMargin)
      new DmlRunner(s, new TransformRunner(s)).run(
        "DELETE FROM `graft.pg56.base` WHERE o_totalprice < 50000")
      sr.run(
        """CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.pg56.mv');
          |SELECT * FROM graft.pg56.mv ORDER BY o_orderpriority""".stripMargin).get
    },

    // --- materialized view: PARTITION-SCOPED incremental refresh --------
    "e58_mv_partition_refresh" -> { (s, d) =>
      // BigQuery MVs refresh incrementally; here the base is
      // partitioned by o_orderpriority and the MV groups by it, so
      // each base partition maps to one MV partition. The INSERT
      // appends files into exactly ONE base partition; the CALL must
      // recompute only that partition (the refresh scan is pruned —
      // PlanAuditSpec pins it) and leave the other four images
      // untouched. The final read proves the refreshed aggregate.
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg58")
      val sr = new ScriptRunner(s)
      sr.run(
        """CREATE TABLE `graft.pg58.base` PARTITION BY o_orderpriority AS
          |SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01';
          |CREATE MATERIALIZED VIEW `graft.pg58.mv` AS
          |SELECT o_orderpriority, count(1) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64) AS revenue
          |FROM graft.pg58.base GROUP BY 1;
          |INSERT INTO graft.pg58.base
          |SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
          |  AND o_orderpriority = '1-URGENT'""".stripMargin)
      sr.run(
        """CALL BQ.REFRESH_MATERIALIZED_VIEW('graft.pg58.mv');
          |SELECT o_orderpriority, cnt, revenue
          |FROM graft.pg58.mv ORDER BY o_orderpriority""".stripMargin).get
    },

    // --- multi-statement transactions: committed, rolled-back, aborted --
    "e55_transactions" -> { (s, d) =>
      // BigQuery BEGIN/COMMIT/ROLLBACK TRANSACTION over the snapshot-
      // based parquet engine: the committed block's writes stick, the
      // explicit ROLLBACK block vanishes, and a failing statement
      // auto-rolls its block back before the error surfaces — the
      // final table must show ONLY the committed block.
      Tables.views(s, d, "nation")
      freshDb(s, "graft__pg55")
      s.sql("CREATE TABLE graft__pg55.acct (id BIGINT, bal BIGINT) USING PARQUET")
      s.sql("""INSERT INTO graft__pg55.acct
              |SELECT CAST(n_nationkey AS BIGINT), CAST(100 AS BIGINT)
              |FROM nation""".stripMargin)
      val dml = new DmlRunner(s, new TransformRunner(s))
      dml.run(
        """BEGIN TRANSACTION;
          |UPDATE `graft.pg55.acct` SET bal = bal + src.n_nationkey * 10
          |FROM nation src
          |WHERE id = src.n_nationkey AND src.n_regionkey = 0;
          |DELETE FROM `graft.pg55.acct` WHERE id >= 20;
          |COMMIT TRANSACTION""".stripMargin)
      dml.run(
        """BEGIN TRANSACTION;
          |UPDATE `graft.pg55.acct` SET bal = 0 WHERE TRUE;
          |ROLLBACK TRANSACTION""".stripMargin)
      try dml.run(
        """BEGIN TRANSACTION;
          |DELETE FROM `graft.pg55.acct` WHERE id < 5;
          |UPDATE `graft.pg55.acct` SET bal = missing_col WHERE id = 5;
          |COMMIT""".stripMargin)
      catch { case _: Exception => () } // aborted block must leave no trace
      s.table("graft__pg55.acct").orderBy("id")
    },

    // --- ingestion-time partitioning (_PARTITIONTIME → _ingest_date) ---
    "e10_ingestion_time_replace" -> { (s, d) =>
      Tables.views(s, d, "events")
      freshDb(s, "graft__pg10")
      s.sql("CREATE TABLE graft__pg10.event_counts (event_type STRING, cnt BIGINT, _ingest_date STRING) USING PARQUET PARTITIONED BY (_ingest_date)")
      s.sql("""INSERT INTO graft__pg10.event_counts PARTITION (_ingest_date)
              |SELECT event_type, count(1) AS cnt, date_format(ts, 'yyyy-MM-dd') AS _ingest_date
              |FROM events WHERE ts >= '2024-01-05' AND ts < '2024-01-08'
              |GROUP BY 1, 3""".stripMargin)
      val sql =
        """SELECT event_type, count(1) AS cnt, date_format(ts, 'yyyy-MM-dd') AS _ingest_date
          |FROM events
          |WHERE ts >= '__dstart__' AND ts < '__dend__'
          |GROUP BY 1, 3""".stripMargin
      val w = CustomWindow(LocalDateTime.of(2024, 1, 10, 0, 0), LocalDateTime.of(2024, 1, 13, 0, 0))
      new TransformRunner(s).transform(
        conf("pg10", "event_counts", LoadMethod.Replace), sql, w, execTime)
      s.table("graft__pg10.event_counts").orderBy("_ingest_date", "event_type")
    },

    // --- A26/A27: metrics + dry-run — dry-run must leave dest untouched
    "e11_dryrun_metrics" -> { (s, d) =>
      import s.implicits._
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg11")
      s.sql("CREATE TABLE graft__pg11.counts (d STRING, cnt BIGINT) USING PARQUET")
      s.sql("""INSERT INTO graft__pg11.counts VALUES ('seed', 42)""")
      val metrics = new MetricsCollector(s)
      val sql =
        """SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS d, count(1) AS cnt
          |FROM orders WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |GROUP BY 1""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1996, 1, 1, 0, 0), LocalDateTime.of(1996, 1, 5, 0, 0))
      new TransformRunner(s).transform(
        conf("pg11", "counts", LoadMethod.Replace), sql, w, execTime, dryRun = true)
      val rows = s.table("graft__pg11.counts").count() // dry run wrote nothing
      metrics.detach()
      val xcomOk = metrics.xcomJson("2024-05-01T10:00:00").contains("total_bytes_processed")
      Seq(("dest_rows_after_dryrun", rows), ("xcom_json_well_formed", if (xcomOk) 1L else 0L))
        .toDF("probe", "value").orderBy("probe")
    },

    // --- federated/external source + registered UDF (the Spark
    //     equivalent of the gsheet-backed table + JS temp function in
    //     samples/tasks/select/federated_table/query.sql) --------------
    "e12_external_source_udf" -> { (s, d) =>
      val csvDir = Scratch.onDisk("graft_ext")
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("source"))
        .coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(csvDir.toString)
      s.sql("DROP TABLE IF EXISTS graft_ext_gsheet")
      s.sql(s"""CREATE TABLE graft_ext_gsheet (doc_id BIGINT, lang STRING, source STRING)
               |USING csv OPTIONS (path '$csvDir', header 'true')""".stripMargin)
      // registered Scala UDF standing in for the JS CREATE TEMP FUNCTION
      s.udf.register("cleanup_tag", (v: String) =>
        if (v == null) null else v.trim.toLowerCase.replace("src", "source_"))
      s.sql("""SELECT DISTINCT cleanup_tag(source) AS tag, lang,
              |  CAST(count(1) AS DECIMAL(38,9)) AS total_sample
              |FROM graft_ext_gsheet GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
        .withColumn("total_sample", col("total_sample").cast("double"))
    },

    // --- BigQuery scripting control flow: WHILE + IF ------------------
    "e20_script_control_flow" -> { (s, d) =>
      // Driver-side control flow (conditions are scalar SELECTs — the
      // way BigQuery's coordinator runs them) around fully distributed
      // statements: a WHILE loop raises a threshold until fewer than
      // 1000 orders exceed it, an IF picks the band, and the body
      // statements run as normal Spark SQL.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """DECLARE threshold INT64 DEFAULT 0;
          |DECLARE iterations INT64 DEFAULT 0;
          |WHILE (SELECT count(1) FROM orders WHERE o_totalprice > threshold) >= 1000 DO
          |  SET threshold = threshold + 100000;
          |  SET iterations = iterations + 1;
          |END WHILE;
          |IF threshold > 400000 THEN
          |  CREATE TEMP TABLE sel AS (SELECT 'high' AS band, o_orderstatus, count(1) AS cnt
          |    FROM orders WHERE o_totalprice > threshold GROUP BY o_orderstatus);
          |ELSE
          |  CREATE TEMP TABLE sel AS (SELECT 'low' AS band, o_orderstatus, count(1) AS cnt
          |    FROM orders WHERE o_totalprice > threshold GROUP BY o_orderstatus);
          |END IF;
          |SELECT band, o_orderstatus, cnt, threshold AS final_threshold,
          |  iterations AS n_iterations
          |FROM sel ORDER BY o_orderstatus""".stripMargin).get
    },

    // --- small-file compaction (partitioned-table maintenance) ---------
    "e21_partition_compaction" -> { (s, d) =>
      // The maintenance operator every long-lived partitioned table
      // needs at 100 TB: daily appends fragment partitions into many
      // small files (here one 8-way-repartitioned insert → 8 files per
      // partition); compaction rewrites each partition's content keyed
      // by the partition column so each lands in one task → one file,
      // without changing a row. Read-own-write safety: the compacted
      // content is materialized (localCheckpoint) before the dynamic
      // partition overwrite, like the REPLACE_MERGE filter path. The
      // audit lists partition dirs driver-side — partition metadata,
      // calendar-bounded, the same listing a table format's manifest
      // would serve.
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg21")
      s.sql(
        """CREATE TABLE graft__pg21.frag (o_orderkey BIGINT, o_totalprice DOUBLE, d STRING)
          |USING PARQUET PARTITIONED BY (d)""".stripMargin)
      s.sql(
        """INSERT INTO graft__pg21.frag PARTITION (d)
          |SELECT /*+ REPARTITION(8, o_orderkey) */
          |  o_orderkey, o_totalprice, date_format(o_orderdate, 'yyyy-MM-dd') AS d
          |FROM orders
          |WHERE o_orderdate >= '1995-03-01' AND o_orderdate < '1995-03-04'""".stripMargin)
      val snap = s.table("graft__pg21.frag")
        .repartition(col("d")).localCheckpoint(true)
      snap.write.mode("overwrite").insertInto("graft__pg21.frag")
      val loc = s.sql("DESCRIBE TABLE EXTENDED graft__pg21.frag")
        .where(col("col_name") === "Location").select("data_type").head.getString(0)
      val root = new org.apache.hadoop.fs.Path(loc)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val fileCounts = fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("d="))
        .map { dir =>
          val n = fs.listStatus(dir.getPath).count(f =>
            !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
          (dir.getPath.getName.stripPrefix("d="), n.toLong)
        }.toSeq
      import s.implicits._
      s.table("graft__pg21.frag").groupBy(col("d"))
        .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
        .join(fileCounts.toDF("d", "n_files"), "d")
        .orderBy(col("d"))
    },

    // --- federated JSON-lines source with nested schema ---------------
    "e19_json_source" -> { (s, d) =>
      // The JSON sibling of e12's CSV external table: explicit schema
      // (no inference scan at 100 TB), a nested struct field navigated
      // with dot syntax, and a filter on the nested field.
      val jsonDir = Scratch.onDisk("graft_json")
      t(s, d, "documents")
        .select(col("doc_id"), struct(col("lang"), col("source")).as("meta"),
          col("n_chars"))
        .coalesce(1).write.mode("overwrite").json(jsonDir.toString)
      s.sql("DROP TABLE IF EXISTS graft_ext_json")
      s.sql(s"""CREATE TABLE graft_ext_json
               |  (doc_id BIGINT, meta STRUCT<lang: STRING, source: STRING>, n_chars BIGINT)
               |USING json OPTIONS (path '$jsonDir')""".stripMargin)
      s.sql("""SELECT meta.lang AS lang, count(1) AS n_docs,
              |  sum(n_chars) AS total_chars
              |FROM graft_ext_json WHERE meta.source <> 'src0'
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // --- federated ORC source (columnar sibling of e12/e19) ------------
    "e25_orc_source" -> { (s, d) =>
      // Third external-table format: ORC with explicit schema — like
      // parquet, a columnar source whose predicate pushdown and column
      // pruning reach the stripe reader.
      val orcDir = Scratch.onDisk("graft_orc")
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").orc(orcDir.toString)
      s.sql("DROP TABLE IF EXISTS graft_ext_orc")
      s.sql(s"""CREATE TABLE graft_ext_orc
               |  (doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT)
               |USING orc OPTIONS (path '$orcDir')""".stripMargin)
      s.sql("""SELECT lang, count(1) AS n_docs, sum(n_chars) AS total_chars
              |FROM graft_ext_orc WHERE source <> 'src0'
              |GROUP BY 1 ORDER BY 1""".stripMargin)
    },

    // --- UPDATE + TRUNCATE TABLE (the remaining BigQuery DML verbs) ----
    "e27_update_truncate" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg27")
      s.sql("""CREATE TABLE graft__pg27.counts (d STRING, status STRING, cnt BIGINT)
              |USING PARQUET""".stripMargin)
      s.sql("""INSERT INTO graft__pg27.counts
              |SELECT date_format(o_orderdate, 'yyyy-MM-dd'), o_orderstatus, count(1)
              |FROM orders
              |WHERE o_orderdate >= '1997-03-01' AND o_orderdate < '1997-03-08'
              |GROUP BY 1, 2""".stripMargin)
      s.sql("CREATE TABLE graft__pg27.scratch (x BIGINT) USING PARQUET")
      s.sql("INSERT INTO graft__pg27.scratch VALUES (1), (2), (3)")
      val dml = new DmlRunner(s, new TransformRunner(s))
      dml.run(
        """UPDATE `graft.pg27.counts` SET cnt = cnt + 1000000 WHERE status = 'F';
          |TRUNCATE TABLE `graft.pg27.scratch`""".stripMargin)
      s.table("graft__pg27.counts")
        .unionByName(s.sql(
          """SELECT '__truncated__' AS d, 'n/a' AS status,
            |  (SELECT count(1) FROM graft__pg27.scratch) AS cnt""".stripMargin))
        .orderBy("d", "status")
    },

    // --- custom DataSource V2: executor-side synthetic corpus ----------
    "e26_synthetic_source" -> { (s, _) =>
      // [[graft.sources.SyntheticDocs]] — no input files exist; 10k
      // docs generate on executors across 8 partitions, fields derived
      // from md5(doc_id) so DuckDB replays the generator exactly. The
      // aggregate never reads `text`, and the pruning contract means
      // the readers never generate it (PlanAuditSpec asserts the
      // pruned schema).
      s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "10000").option("partitions", "8").load()
        .where(col("doc_id") % 3 === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
        .orderBy(col("lang"))
    },

    // --- ALLOW_FIELD_ADDITION: schema evolution on append --------------
    "e13_schema_evolution" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg13")
      s.sql("CREATE TABLE graft__pg13.sample (o_orderkey BIGINT, o_totalprice DOUBLE) USING PARQUET")
      s.sql("""INSERT INTO graft__pg13.sample
              |SELECT o_orderkey, o_totalprice FROM orders
              |WHERE o_orderdate >= '1995-03-01' AND o_orderdate < '1995-03-08'""".stripMargin)
      val sql =
        """SELECT o_orderkey, o_totalprice, o_orderstatus AS test_column
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1995, 4, 1, 0, 0), LocalDateTime.of(1995, 4, 8, 0, 0))
      new TransformRunner(s).transform(
        conf("pg13", "sample", LoadMethod.Append).copy(allowFieldAddition = true),
        sql, w, execTime)
      s.table("graft__pg13.sample").orderBy("o_orderkey")
    },

    // --- range partitioning: REPLACE_MERGE on an integer-range dest ----
    "e28_range_partitioned" -> { (s, d) =>
      // BigQuery range_partitioning (transformation.py:98-116) mapped to
      // an integer partition column holding the range start (buckets of
      // 100 custkeys). Seed covers buckets 0–900 over Jan–Feb 1996 (capped domain; see reseedRangeDest note); the
      // transform source only touches buckets 0 and 100 (o_custkey < 200), so
      // REPLACE_MERGE auto must replace those wholesale and leave all
      // other range partitions untouched.
      Tables.views(s, d, "orders")
      // the transform mutates the seeded table, so every run re-seeds —
      // but only the TABLE: the database and the seed aggregate are
      // JVM-lifetime fixture (no metastore DROP DATABASE churn, no
      // re-aggregation of orders inside a timed bench body)
      fixtureOnce(s, "graft__pg28", d) {
        s.sql("CREATE TABLE graft__pg28.seed (cnt BIGINT, bucket INT) USING PARQUET")
        s.sql("""INSERT INTO graft__pg28.seed
                |SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
                |FROM orders WHERE o_custkey < 1000 AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-03-01'
                |GROUP BY 2""".stripMargin)
      }
      reseedRangeDest(s, "graft__pg28", "cust_ranges")
      val sql =
        """SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |  AND o_custkey < 200
          |GROUP BY 2""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1996, 2, 1, 0, 0), LocalDateTime.of(1996, 3, 1, 0, 0))
      new TransformRunner(s).transform(
        conf("pg28", "cust_ranges", LoadMethod.ReplaceMerge), sql, w, execTime)
      s.table("graft__pg28.cust_ranges").orderBy("bucket")
    },

    // --- range partitioning: APPEND lands in the right ranges ----------
    "e36_range_append" -> { (s, d) =>
      // APPEND on a range-partitioned destination routes rows into their
      // integer range partitions (dispatcher (Append, RangeColumn) →
      // tableTransform insertInto). Seed Jan, append Feb — per-bucket
      // totals must accumulate.
      Tables.views(s, d, "orders")
      // table-level re-seed from a JVM-lifetime snapshot (see e28 note)
      fixtureOnce(s, "graft__pg36", d) {
        s.sql("CREATE TABLE graft__pg36.seed (cnt BIGINT, bucket INT) USING PARQUET")
        s.sql("""INSERT INTO graft__pg36.seed
                |SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
                |FROM orders WHERE o_custkey < 1000 AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-02-01'
                |GROUP BY 2""".stripMargin)
      }
      reseedRangeDest(s, "graft__pg36", "cust_ranges")
      val sql =
        """SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |  AND o_custkey < 1000
          |GROUP BY 2""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1996, 2, 1, 0, 0), LocalDateTime.of(1996, 3, 1, 0, 0))
      new TransformRunner(s).transform(
        conf("pg36", "cust_ranges", LoadMethod.Append), sql, w, execTime)
      s.table("graft__pg36.cust_ranges")
        .groupBy(col("bucket")).agg(sum(col("cnt")).as("total"))
        .orderBy(col("bucket"))
    },

    // --- range partitioning: REPLACE truncates the whole table ---------
    "e38_range_replace" -> { (s, d) =>
      // REPLACE on a range-partitioned destination is the reference's
      // whole-table TableTransformation (transformation.py:68-80:
      // time_partitioning None → WRITE_TRUNCATE over task_queries[0]).
      // Seed covers buckets 0–900 over Jan–Feb 1996 (capped domain; see reseedRangeDest note); the transform source
      // only produces buckets 0 and 100, so every OTHER seeded range
      // partition must be GONE afterwards — and the second break-marker
      // slice (which would add bucket 9999) must never run.
      Tables.views(s, d, "orders")
      // table-level re-seed from a JVM-lifetime snapshot (see e28 note)
      fixtureOnce(s, "graft__pg38", d) {
        s.sql("CREATE TABLE graft__pg38.seed (cnt BIGINT, bucket INT) USING PARQUET")
        s.sql("""INSERT INTO graft__pg38.seed
                |SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
                |FROM orders WHERE o_custkey < 1000 AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-03-01'
                |GROUP BY 2""".stripMargin)
      }
      reseedRangeDest(s, "graft__pg38", "cust_ranges")
      val sql =
        """SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |  AND o_custkey < 200
          |GROUP BY 2""".stripMargin +
          AssetCompiler.BreakMarker +
          "SELECT CAST(1 AS BIGINT) AS cnt, 9999 AS bucket"
      val w = CustomWindow(LocalDateTime.of(1996, 2, 1, 0, 0), LocalDateTime.of(1996, 3, 1, 0, 0))
      new TransformRunner(s).transform(
        conf("pg38", "cust_ranges", LoadMethod.Replace), sql, w, execTime)
      s.table("graft__pg38.cust_ranges").orderBy("bucket")
    },

    // --- SELECT * REPLACE through the script runner --------------------
    "e37_star_replace" -> { (s, d) =>
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT * REPLACE (o_totalprice * 2 AS o_totalprice,
          |                  upper(o_orderpriority) AS o_orderpriority)
          |FROM (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
          |      WHERE o_orderdate >= '1997-03-01' AND o_orderdate < '1997-03-08')
          |ORDER BY o_orderkey""".stripMargin).get
    },

    // --- BigQuery-only literal forms end-to-end ------------------------
    "e39_literal_forms" -> { (s, d) =>
      // raw strings (backslashes literal — the regex reaches the engine
      // unmangled), triple-quoted strings (bare quotes inside), and a
      // typed NUMERIC literal, all through the script runner
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        "SELECT o_orderkey,\n" +
          "  REGEXP_EXTRACT(o_orderpriority, r'\\d+') AS prio_num,\n" +
          "  '''it's a \"test\"''' AS tq,\n" +
          "  CAST(NUMERIC '1.25' AS FLOAT64) AS num,\n" +
          "  r'a\\.b' AS raw_s\n" +
          "FROM orders\n" +
          "WHERE o_orderdate >= '1997-03-01' AND o_orderdate < '1997-03-08'\n" +
          "ORDER BY o_orderkey").get
    },

    // --- BQ HLL sketch namespace end-to-end through the script engine:
    //     INIT aggregates into a mergeable binary sketch, EXTRACT reads
    //     the estimate, MERGE_PARTIAL ∪ MERGE re-aggregate it — the d16
    //     tolerance-boolean pattern makes the estimate gate-checkable
    //     (if the sketch drifts >5 % from exact, the hash check fails) --
    "e40_hll_script" -> { (s, d) =>
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """CREATE TEMP TABLE order_sketches AS (
          |  SELECT o_orderstatus,
          |    HLL_COUNT.INIT(o_custkey, 14) AS sk,
          |    count(DISTINCT o_custkey) AS exact_custkeys
          |  FROM orders GROUP BY o_orderstatus
          |);
          |SELECT o_orderstatus, exact_custkeys,
          |  abs(HLL_COUNT.EXTRACT(sk) - exact_custkeys) * 20 <= exact_custkeys AS within_5pct,
          |  abs((SELECT HLL_COUNT.MERGE(sk) FROM order_sketches)
          |    - (SELECT count(DISTINCT o_custkey) FROM orders)) * 20
          |    <= (SELECT count(DISTINCT o_custkey) FROM orders) AS merge_within_5pct
          |FROM order_sketches ORDER BY o_orderstatus""".stripMargin).get
    },

    // --- stored procedures: CREATE PROCEDURE / CALL with IN, OUT and
    //     INOUT parameters, nested CALL, fresh body scope ---------------
    "e41_procedures" -> { (s, d) =>
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """DECLARE n_f INT64; DECLARE rev_f FLOAT64;
          |DECLARE n_o INT64; DECLARE rev_o FLOAT64;
          |DECLARE grand FLOAT64 DEFAULT 0.0;
          |CREATE PROCEDURE graft.tools.bounded_count(IN st STRING, IN cap FLOAT64, OUT c INT64)
          |BEGIN
          |  SET c = (SELECT count(1) FROM orders
          |           WHERE o_orderstatus = st AND o_totalprice < cap);
          |END;
          |CREATE OR REPLACE PROCEDURE graft.tools.status_stats(
          |    IN st STRING, IN cap FLOAT64, OUT n INT64, OUT rev FLOAT64,
          |    INOUT acc FLOAT64)
          |BEGIN
          |  DECLARE hits INT64;
          |  CALL graft.tools.bounded_count(st, cap, hits);
          |  SET n = hits;
          |  SET rev = (SELECT CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64)
          |             FROM orders
          |             WHERE o_orderstatus = st AND o_totalprice < cap);
          |  SET acc = acc + rev;
          |END;
          |CALL graft.tools.status_stats('F', 150000.0, n_f, rev_f, grand);
          |CALL graft.tools.status_stats('O', 150000.0, n_o, rev_o, grand);
          |DROP PROCEDURE graft.tools.bounded_count;
          |SELECT 'F' AS status, n_f AS cnt, rev_f AS revenue, grand AS grand_total
          |UNION ALL
          |SELECT 'O', n_o, rev_o, grand
          |ORDER BY status""".stripMargin).get
    },

    // --- SQL-level PIVOT / UNPIVOT round trip through the script engine
    //     (BigQuery and Spark share the syntax; UNPIVOT drops NULL
    //     cells by default in both) -------------------------------------
    "e42_pivot_unpivot" -> { (s, d) =>
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """CREATE TEMP TABLE pv AS (
          |  SELECT * FROM (
          |    SELECT o_orderpriority AS prio,
          |      CONCAT('Q', CAST(EXTRACT(QUARTER FROM o_orderdate) AS STRING)) AS qtr,
          |      CAST(o_totalprice AS NUMERIC) AS price
          |    FROM orders
          |    WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
          |  )
          |  PIVOT(CAST(SUM(price) AS FLOAT64) FOR qtr IN ('Q1', 'Q2', 'Q3', 'Q4'))
          |);
          |SELECT prio, qtr, rev
          |FROM pv UNPIVOT(rev FOR qtr IN (Q1, Q2, Q3, Q4))
          |ORDER BY prio, qtr""".stripMargin).get
    },

    // --- GROUP BY ALL + SELECT * EXCEPT end-to-end ---------------------
    "e43_group_by_all" -> { (s, d) =>
      // Two everyday BigQuery idioms the dialect layer must pass through
      // untouched: GROUP BY ALL (group on every non-aggregate select
      // item) and a bare `* EXCEPT (col)` projection (the dialect's own
      // QUALIFY/`* REPLACE` rewrites EMIT `* EXCEPT`, so a user-written
      // one must survive the same passes).
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """CREATE TEMP TABLE g AS (
          |  SELECT o_orderstatus, o_orderpriority, count(1) AS n,
          |    CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64) AS rev
          |  FROM orders
          |  WHERE o_orderdate >= '1995-06-01' AND o_orderdate < '1995-07-01'
          |  GROUP BY ALL
          |);
          |SELECT * EXCEPT (rev) FROM g
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin).get
    },

    // --- REPEAT…UNTIL + CASE…END CASE through the script interpreter ---
    "e46_repeat_case_script" -> { (s, d) =>
      // The two scripting statement forms the round-6 verdict flagged
      // missing: a post-tested REPEAT loop accumulates three monthly
      // aggregates (self-referencing CREATE OR REPLACE TEMP TABLE is
      // safe — contents checkpoint eagerly), then a statement CASE
      // with an operand picks the verdict label. The oracle replays
      // the unrolled loop as one GROUP BY.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """DECLARE m INT64 DEFAULT 0;
          |DECLARE label STRING DEFAULT 'pending';
          |CREATE TEMP TABLE acc AS (
          |  SELECT CAST(0 AS INT64) AS mon, CAST(0 AS INT64) AS cnt
          |  FROM (SELECT 1) WHERE FALSE);
          |REPEAT
          |  SET m = m + 1;
          |  CREATE OR REPLACE TEMP TABLE acc AS (
          |    SELECT * FROM acc
          |    UNION ALL
          |    SELECT m AS mon, count(1) AS cnt FROM orders
          |    WHERE EXTRACT(MONTH FROM o_orderdate) = m
          |      AND EXTRACT(YEAR FROM o_orderdate) = 1995);
          |UNTIL m >= 3
          |END REPEAT;
          |CASE (SELECT count(1) FROM acc)
          |  WHEN 3 THEN SET label = 'complete';
          |  ELSE SET label = 'partial';
          |END CASE;
          |SELECT mon, cnt, label AS verdict FROM acc ORDER BY mon""".stripMargin).get
    },

    // --- BigQuery 2/3/4-arg INSTR (forward/backward, nth occurrence) ---
    "e44_instr" -> { (s, d) =>
      // The last loud-unresolved string-vocabulary item (COVERAGE packs
      // 3–4): INSTR with position (negative = backward from the end)
      // and occurrence, via the native codegen'd graft_instr. The
      // oracle replays each form with DuckDB's 2-arg instr plus
      // substr/reverse algebra, so every column hash-checks. Per-row
      // string scan, no shuffle — scales with the scan.
      Tables.views(s, d, "documents")
      new ScriptRunner(s).run(
        """SELECT doc_id,
          |  CAST(INSTR(text, 'the') AS INT64) AS p1,
          |  INSTR(text, 'the', 5) AS p2,
          |  INSTR(text, 'the', 1, 2) AS p3,
          |  INSTR(text, 'the', -1) AS p4
          |FROM documents
          |ORDER BY doc_id""".stripMargin).get
    },

    // --- FARM_FINGERPRINT via native FarmHash Fingerprint64 ------------
    "e45_farm_fingerprint" -> { (s, d) =>
      // rows-only by design: no SQL engine exposes FarmHash. The gate
      // self-verifies with published test vectors instead (the same
      // discipline as d89's planted doc): Fingerprint64('') = k2 by
      // the spec's zero-length branch, and Fingerprint64('abc') =
      // 2640714258260161385 (pyfarmhash's documented value; short
      // inputs share the farmhashna::HashLen0to16 path with Hash64).
      // A long-input vector pins the >64-byte loop: repeat('abc', 100).
      require(graft.functions.FarmHashKernels.fingerprint64(
        Array.emptyByteArray) == 0x9ae16a3b2f90404fL,
        "FarmHash empty-input vector (k2) broken")
      require(graft.functions.FarmHashKernels.fingerprint64(
        "abc".getBytes("UTF-8")) == 2640714258260161385L,
        "FarmHash 'abc' known vector broken")
      Tables.views(s, d, "documents")
      new ScriptRunner(s).run(
        """SELECT doc_id,
          |  FARM_FINGERPRINT(text) AS fp_text,
          |  FARM_FINGERPRINT(CONCAT(lang, '|', CAST(doc_id AS STRING))) AS fp_key
          |FROM documents
          |ORDER BY doc_id""".stripMargin).get
    },

    "e45b_farm_fingerprint_fixture" -> { (s, _) =>
      // real rows+schema+hash oracle for the FarmHash kernel (r10 ask
      // #9): a fixed 12-string fixture covering every length-class
      // branch (0/1-16/17-32/33-64/>64 bytes, multi-byte UTF-8), with
      // the DuckDB oracle a literal VALUES table of expected INT64
      // fingerprints. The published vectors ('' = k2 = 0x9ae16a3b...,
      // 'abc' = 2640714258260161385 per pyfarmhash) anchor the
      // implementation; the remaining rows pin it against drift.
      new ScriptRunner(s).run(
        """SELECT CAST(t.id AS INT64) AS id, FARM_FINGERPRINT(t.s) AS fp
          |FROM UNNEST([
          |  STRUCT(0 AS id, '' AS s), STRUCT(1, 'a'), STRUCT(2, 'abc'),
          |  STRUCT(3, 'message digest'), STRUCT(4, 'farmhash64'),
          |  STRUCT(5, '0123456789abcdef'), STRUCT(6, '0123456789abcdefg'),
          |  STRUCT(7, 'The quick brown fox jumps over the lazy dog'),
          |  STRUCT(8, REPEAT('a', 32)), STRUCT(9, REPEAT('ab', 20)),
          |  STRUCT(10, REPEAT('abc', 100)),
          |  STRUCT(11, 'graft-engine-fixture-é中文')
          |]) AS t
          |ORDER BY id""".stripMargin).get
    },

    // --- pack 6: APPROX_TOP_COUNT / APPROX_TOP_SUM / PERCENTILE_CONT /
    //     PERCENTILE_DISC through the dialect ---------------------------
    // --- DDL lifecycle: views, column DDL, LIKE/COPY --------------------
    "e61_ddl_lifecycle" -> { (s, d) =>
      // BigQuery DDL beyond CTAS: ADD COLUMN (metadata-only, IF NOT
      // EXISTS emulated), RENAME/DROP COLUMN (staged rebuild — v1
      // parquet tables have no column metadata ops), CREATE TABLE COPY
      // and a standard view over the result, all with BigQuery FQNs.
      Tables.views(s, d, "region")
      freshDb(s, "graft__pg61")
      new ScriptRunner(s).run(
        """CREATE TABLE `graft.pg61.t` AS
          |SELECT CAST(r_regionkey AS INT64) AS k, r_name FROM region;
          |ALTER TABLE `graft.pg61.t` ADD COLUMN IF NOT EXISTS score INT64;
          |ALTER TABLE `graft.pg61.t` RENAME COLUMN r_name TO name;
          |ALTER TABLE `graft.pg61.t` DROP COLUMN score;
          |CREATE TABLE `graft.pg61.t2` COPY `graft.pg61.t`;
          |CREATE VIEW `graft.pg61.v` AS SELECT k + 100 AS k2, name FROM graft.pg61.t2;
          |SELECT k2, name FROM graft.pg61.v ORDER BY k2""".stripMargin).get
    },

    "e80_wave15_vocab" -> { (s, d) =>
      // probe-wave-15 vocabulary under the oracle: 3-arg ROUND modes,
      // type-preserving SIGN, ARRAY_INCLUDES family, SPLIT_SUBSTR.
      // ROUND operands are exact halves (k + 0.5 on integer k), so the
      // HALF_EVEN/HALF_AWAY split is exercised at the boundary where
      // the two modes actually differ.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  CAST(ROUND(CAST(n_nationkey AS FLOAT64) + 0.5, 0, 'ROUND_HALF_EVEN') AS INT64) AS r_even,
          |  CAST(ROUND(CAST(n_nationkey AS FLOAT64) + 0.5, 0, 'ROUND_HALF_AWAY_FROM_ZERO') AS INT64) AS r_away,
          |  SIGN(n_nationkey - 12) AS sgn,
          |  ARRAY_INCLUDES([2, 3, 5, 7, 11, 13, 17, 19, 23], n_nationkey) AS is_prime,
          |  ARRAY_INCLUDES_ALL([0, 1, 2], [CAST(MOD(n_nationkey, 3) AS INT64)]) AS mod_ok,
          |  SPLIT_SUBSTR(n_name, 'A', 2) AS tail_a
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e79_pipe_syntax" -> { (s, d) =>
      // BigQuery pipe query syntax: WHERE/EXTEND/AGGREGATE…GROUP BY/
      // ORDER BY are Spark-4.1-native (same design lineage); |> RENAME
      // is the one operator Spark lacks and rewrites via * EXCEPT
      // (Dialect.rewritePipeRename). Integer-derived cents keep the
      // cross-engine sums exact in any order.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """FROM orders
          ||> WHERE o_orderkey <= 3000
          ||> EXTEND CAST(o_totalprice * 100 AS INT64) AS cents
          ||> RENAME o_orderpriority AS prio
          ||> AGGREGATE CAST(COUNT(*) AS INT64) AS n, SUM(cents) AS sum_cents
          |   GROUP BY prio
          ||> ORDER BY prio""".stripMargin).get
    },

    "e78_persistent_udf" -> { (s, d) =>
      // Persistent (dataset-qualified) SQL UDFs: CREATE FUNCTION
      // `p.d.f` registers under a flattened name, call sites (backticked
      // or bare) rewrite through FnRegistry; DROP FUNCTION removes it.
      // Session-persisted (BigQuery persists to the dataset — documented
      // scope in the handler).
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """CREATE OR REPLACE FUNCTION `graft-local.lib.tax`(p FLOAT64, r FLOAT64)
          |RETURNS FLOAT64 AS (p * (1 + r));
          |CREATE OR REPLACE FUNCTION nat_label(k INT64) AS (CONCAT('n-', CAST(k AS STRING)));
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  `graft-local.lib.tax`(CAST(n_nationkey AS FLOAT64), 0.5) AS taxed,
          |  nat_label(n_nationkey) AS lbl
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e77_geography" -> { (s, d) =>
      // GEOGRAPHY point subset: constructor with latitude validation,
      // accessors, WKT render/parse roundtrip, spherical ST_DISTANCE on
      // BigQuery's R=6371010 sphere and ST_DWITHIN. The oracle restates
      // the identical IEEE haversine (explicit π/180 multiply — see
      // Dialect.haversineSql); meters cast to INT64 absorb last-ulp
      // libm differences between engines. Coordinates carry .5/.25
      // fractions so WKT formatting never hits the integral-render path.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    ST_GEOGPOINT(CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5,
          |                 CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75) AS p
          |  FROM nation)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  ST_X(p) AS x, ST_Y(p) AS y,
          |  ST_ASTEXT(p) AS wkt,
          |  CAST(ST_DISTANCE(p, ST_GEOGPOINT(0.25, 0.25)) AS INT64) AS dist_m,
          |  ST_DWITHIN(p, ST_GEOGPOINT(0.25, 0.25), 5000000) AS within_5000km,
          |  ST_X(ST_GEOGFROMTEXT(ST_ASTEXT(p))) AS rt_x
          |FROM pts ORDER BY id""".stripMargin).get
    },

    "e81_geography_linestring" -> { (s, d) =>
      // GEOGRAPHY linestring increment (r10 ask #8): ST_MAKELINE over
      // data-driven points + literal-WKT LINESTRING parse, measured by
      // ST_LENGTH (haversine segment sum, R = 6371010 m, left-to-right
      // fold). Same IEEE discipline as e77: explicit d2r multiply,
      // squares by self-multiply, INT64 cast absorbs last-ulp libm
      // drift. Coordinates keep .5/.25/.75 fractions so every segment
      // is engine-identical; |lat| stays under 81 so lat-1 is valid.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5 AS lon,
          |    CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75 AS lat
          |  FROM nation)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  CAST(ST_LENGTH(ST_MAKELINE([ST_GEOGPOINT(lon, lat),
          |                              ST_GEOGPOINT(lon + 1.0, lat),
          |                              ST_GEOGPOINT(lon + 1.0, lat - 1.0)])) AS INT64)
          |    AS len_m,
          |  CAST(ST_LENGTH(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 0, 1 1)')) AS INT64)
          |    AS unit_len_m
          |FROM pts ORDER BY id""".stripMargin).get
    },

    "e82_geography_polygon" -> { (s, d) =>
      // Spherical polygons (r11 — converts most of the remaining
      // GEOGRAPHY skip): per nation a 2°×1° geodesic quad, its
      // holed variant, and the perimeter. ST_AREA is the exact van
      // Oosterom–Strackee spherical-excess fan sum on R = 6371010 m
      // (see functions/SphericalGeo); the oracle restates the entire
      // IEEE chain vertex-by-vertex, and INT64 casts absorb the
      // Java-vs-libm trig last-ulp drift.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5 AS lon,
          |    CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75 AS lat
          |  FROM nation),
          |shapes AS (
          |  SELECT n_nationkey,
          |    ST_MAKEPOLYGON(ST_MAKELINE([
          |      ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)
          |    ])) AS quad,
          |    [[ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)],
          |     [ST_GEOGPOINT(lon + 0.5, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.75),
          |      ST_GEOGPOINT(lon + 0.5, lat + 0.75)]] AS holed
          |  FROM pts)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  CAST(ST_AREA(quad) AS INT64) AS area_m2,
          |  CAST(ST_AREA(holed) AS INT64) AS holed_m2,
          |  CAST(ST_PERIMETER(quad) AS INT64) AS perim_m
          |FROM shapes ORDER BY id""".stripMargin).get
    },

    "e84_geography_contains" -> { (s, d) =>
      // polygon × point predicates (r11): per nation the 2°×1° quad and
      // its holed variant probed at CONSTRUCTED inside/outside/in-hole
      // points — the oracle states the expected booleans by
      // construction (each probe sits ≥ 0.25° from every edge; the
      // geodesic-vs-parallel bulge at 2° spans is < 0.01°, so the
      // construction is unambiguous)
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5 AS lon,
          |    CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75 AS lat
          |  FROM nation),
          |shapes AS (
          |  SELECT n_nationkey, lon, lat,
          |    [[ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)]]
          |      AS quad,
          |    [[ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)],
          |     [ST_GEOGPOINT(lon + 0.5, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.75),
          |      ST_GEOGPOINT(lon + 0.5, lat + 0.75)]] AS holed
          |  FROM pts)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  ST_CONTAINS(quad, ST_GEOGPOINT(lon + 1.0, lat + 0.5)) AS inside,
          |  ST_CONTAINS(quad, ST_GEOGPOINT(lon + 3.0, lat + 0.5)) AS outside,
          |  ST_CONTAINS(holed, ST_GEOGPOINT(lon + 0.75, lat + 0.5)) AS in_hole,
          |  ST_CONTAINS(holed, ST_GEOGPOINT(lon + 1.5, lat + 0.5)) AS in_shell,
          |  ST_WITHIN(ST_GEOGPOINT(lon + 1.0, lat + 0.5), quad) AS within_q,
          |  ST_INTERSECTS(quad, ST_GEOGPOINT(lon - 1.0, lat + 0.5)) AS isect_out
          |FROM shapes ORDER BY id""".stripMargin).get
    },

    "e86_geography_intersects" -> { (s, d) =>
      // shape-dispatching ST_INTERSECTS (r12): per nation the 2°×1°
      // quad probed with CONSTRUCTED line/polygon pairings — crossing
      // lines, interior lines, disjoint shapes, overlapping/contained
      // polygons, and the symmetric point-first form (r11 ADVICE). The
      // oracle states the booleans by construction: every probe sits
      // ≥ 0.25° from every vertex, and the geodesic-vs-parallel bulge
      // over a 3° span is < 0.004° even at |lat| ≈ 80, so each
      // crossing/miss is unambiguous.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5 AS lon,
          |    CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75 AS lat
          |  FROM nation),
          |shapes AS (
          |  SELECT n_nationkey, lon, lat,
          |    [[ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)]]
          |      AS quad,
          |    ST_MAKELINE([ST_GEOGPOINT(lon - 0.5, lat + 0.5),
          |                 ST_GEOGPOINT(lon + 2.5, lat + 0.5)]) AS horiz
          |  FROM pts)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  ST_INTERSECTS(horiz, quad) AS line_cross,
          |  ST_INTERSECTS(ST_MAKELINE([ST_GEOGPOINT(lon + 0.5, lat + 0.4),
          |    ST_GEOGPOINT(lon + 1.5, lat + 0.6)]), quad) AS line_inside,
          |  ST_INTERSECTS(ST_MAKELINE([ST_GEOGPOINT(lon + 0.5, lat + 2.4),
          |    ST_GEOGPOINT(lon + 1.5, lat + 2.6)]), quad) AS line_out,
          |  ST_INTERSECTS(horiz, ST_MAKELINE([ST_GEOGPOINT(lon + 1.0, lat),
          |    ST_GEOGPOINT(lon + 1.0, lat + 1.0)])) AS ll_cross,
          |  ST_INTERSECTS(horiz, ST_MAKELINE([ST_GEOGPOINT(lon + 1.0, lat + 0.75),
          |    ST_GEOGPOINT(lon + 1.0, lat + 1.0)])) AS ll_miss,
          |  ST_INTERSECTS(quad,
          |    [[ST_GEOGPOINT(lon + 1.0, lat + 0.5), ST_GEOGPOINT(lon + 3.0, lat + 0.5),
          |      ST_GEOGPOINT(lon + 3.0, lat + 1.5), ST_GEOGPOINT(lon + 1.0, lat + 1.5)]])
          |    AS pp_overlap,
          |  ST_INTERSECTS(quad,
          |    [[ST_GEOGPOINT(lon + 5.0, lat), ST_GEOGPOINT(lon + 7.0, lat),
          |      ST_GEOGPOINT(lon + 7.0, lat + 1.0), ST_GEOGPOINT(lon + 5.0, lat + 1.0)]])
          |    AS pp_far,
          |  ST_INTERSECTS(quad,
          |    [[ST_GEOGPOINT(lon + 0.5, lat + 0.25), ST_GEOGPOINT(lon + 1.5, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.5, lat + 0.75), ST_GEOGPOINT(lon + 0.5, lat + 0.75)]])
          |    AS pp_inner,
          |  ST_INTERSECTS(ST_GEOGPOINT(lon + 1.0, lat + 0.5), quad) AS pt_flipped
          |FROM shapes ORDER BY id""".stripMargin).get
    },

    "e89_geography_contains_shapes" -> { (s, d) =>
      // ST_CONTAINS over polygon×linestring / polygon×polygon (r12,
      // closes the non-(polygon, point) pairing skip): per nation the
      // 2°×1° quad and its holed variant probed with CONSTRUCTED
      // shapes — an interior line, the same line over the hole (segment
      // crossing), a line wholly inside the hole (vertex interiority),
      // a beside-the-hole line, interior/overlapping/hole-spanning
      // polygons, plus the flipped ST_WITHIN and ST_COVERS spellings.
      // Every margin is ≥ 0.1°; the geodesic-vs-parallel bulge over
      // these spans is < 0.004°, so each verdict is unambiguous.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5 AS lon,
          |    CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75 AS lat
          |  FROM nation),
          |shapes AS (
          |  SELECT n_nationkey, lon, lat,
          |    [[ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)]]
          |      AS quad,
          |    [[ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)],
          |     [ST_GEOGPOINT(lon + 0.5, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.75),
          |      ST_GEOGPOINT(lon + 0.5, lat + 0.75)]] AS holed,
          |    ST_MAKELINE([ST_GEOGPOINT(lon + 0.25, lat + 0.5),
          |                 ST_GEOGPOINT(lon + 1.75, lat + 0.5)]) AS mid
          |  FROM pts)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  ST_CONTAINS(quad, mid) AS ln_in,
          |  ST_CONTAINS(holed, mid) AS ln_over_hole,
          |  ST_CONTAINS(holed, ST_MAKELINE([ST_GEOGPOINT(lon + 0.75, lat + 0.4),
          |    ST_GEOGPOINT(lon + 0.75, lat + 0.6)])) AS ln_in_hole,
          |  ST_CONTAINS(holed, ST_MAKELINE([ST_GEOGPOINT(lon + 1.25, lat + 0.4),
          |    ST_GEOGPOINT(lon + 1.75, lat + 0.6)])) AS ln_beside_hole,
          |  ST_CONTAINS(quad,
          |    [[ST_GEOGPOINT(lon + 1.25, lat + 0.25), ST_GEOGPOINT(lon + 1.75, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.75, lat + 0.75), ST_GEOGPOINT(lon + 1.25, lat + 0.75)]])
          |    AS pp_in,
          |  ST_CONTAINS(holed,
          |    [[ST_GEOGPOINT(lon + 0.25, lat + 0.1), ST_GEOGPOINT(lon + 1.25, lat + 0.1),
          |      ST_GEOGPOINT(lon + 1.25, lat + 0.9), ST_GEOGPOINT(lon + 0.25, lat + 0.9)]])
          |    AS pp_spans_hole,
          |  ST_CONTAINS(quad,
          |    [[ST_GEOGPOINT(lon + 1.0, lat + 0.5), ST_GEOGPOINT(lon + 3.0, lat + 0.5),
          |      ST_GEOGPOINT(lon + 3.0, lat + 1.5), ST_GEOGPOINT(lon + 1.0, lat + 1.5)]])
          |    AS pp_overlap,
          |  ST_WITHIN(mid, quad) AS within_ln,
          |  ST_COVERS(quad,
          |    [[ST_GEOGPOINT(lon + 1.25, lat + 0.25), ST_GEOGPOINT(lon + 1.75, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.75, lat + 0.75), ST_GEOGPOINT(lon + 1.25, lat + 0.75)]])
          |    AS covers_pp
          |FROM shapes ORDER BY id""".stripMargin).get
    },

    "e95_geohash" -> { (s, d) =>
      // ST_GEOHASH / ST_GEOGPOINTFROMGEOHASH (r12): the published
      // 'ezs42' vector as a constant leg, plus per-nation laws the
      // oracle states by construction — decode-reencode identity at
      // the same length (the cell center is inside its own cell),
      // the prefix property (a shorter geohash of the same point is a
      // prefix of a longer one), and BigQuery's default length 20.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5 AS lon,
          |    CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75 AS lat
          |  FROM nation)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  ST_GEOHASH(ST_GEOGPOINT(-5.6, 42.6), 5) AS vec,
          |  (ST_GEOHASH(ST_GEOGPOINTFROMGEOHASH(
          |     ST_GEOHASH(ST_GEOGPOINT(lon, lat), 8)), 8)
          |   = ST_GEOHASH(ST_GEOGPOINT(lon, lat), 8)) AS rt,
          |  STARTS_WITH(ST_GEOHASH(ST_GEOGPOINT(lon, lat), 9),
          |    ST_GEOHASH(ST_GEOGPOINT(lon, lat), 4)) AS pfx,
          |  CAST(LENGTH(ST_GEOHASH(ST_GEOGPOINT(lon, lat))) AS INT64) AS dlen
          |FROM pts ORDER BY id""".stripMargin).get
    },

    "e94_kll_quantiles" -> { (s, d) =>
      // KLL_QUANTILES (r12): per-priority INT64 sketches over orders at
      // precision 65536 — above every verify scale's row count, so the
      // sketch is EXACT order statistics and the oracle replicates the
      // documented rank rule (smallest v with rank ≥ max(1, ceil(φ·n)))
      // with window functions. The merge legs pin MERGE_PARTIAL /
      // MERGE_POINT / MERGE_INT64 against the same rule globally.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT o_orderpriority AS p,
          |  KLL_QUANTILES.EXTRACT_POINT_INT64(
          |    KLL_QUANTILES.INIT_INT64(o_orderkey, 65536), 0.5) AS med,
          |  KLL_QUANTILES.EXTRACT_POINT_INT64(
          |    KLL_QUANTILES.INIT_INT64(o_orderkey, 65536), 0.25) AS q1,
          |  KLL_QUANTILES.EXTRACT_POINT_INT64(
          |    KLL_QUANTILES.INIT_INT64(o_orderkey, 65536), 0.0) AS mn,
          |  KLL_QUANTILES.EXTRACT_POINT_INT64(
          |    KLL_QUANTILES.INIT_INT64(o_orderkey, 65536), 1.0) AS mx,
          |  (SELECT KLL_QUANTILES.MERGE_POINT_INT64(sk, 0.5) FROM (
          |     SELECT KLL_QUANTILES.INIT_INT64(o_orderkey, 65536) AS sk
          |     FROM orders GROUP BY o_orderpriority)) AS gmed,
          |  (SELECT KLL_QUANTILES.MERGE_INT64(sk2, 2)[OFFSET(1)] FROM (
          |     SELECT KLL_QUANTILES.INIT_INT64(o_orderkey, 65536) AS sk2
          |     FROM orders GROUP BY o_orderpriority)) AS gmid,
          |  (SELECT KLL_QUANTILES.MERGE_INT64(sk3, 2)[OFFSET(2)] FROM (
          |     SELECT KLL_QUANTILES.INIT_INT64(o_orderkey, 65536) AS sk3
          |     FROM orders GROUP BY o_orderpriority)) AS gmax
          |FROM orders GROUP BY o_orderpriority ORDER BY p""".stripMargin).get
    },

    "e93_text_analyze" -> { (s, d) =>
      // TEXT_ANALYZE (r12): the standalone tokenizer over nation names
      // (NATION_<k> in this testdata — '_' is a LOG_ANALYZER delimiter,
      // so the oracle recomputes the joined token list with plain
      // lower/replace) plus a fixed-punctuation constant leg exercising
      // the full delimiter class, and a NO_OP leg.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  ARRAY_TO_STRING(TEXT_ANALYZE(n_name), '/') AS toks,
          |  CAST(ARRAY_LENGTH(TEXT_ANALYZE(n_name)) AS INT64) AS ntok,
          |  ARRAY_TO_STRING(TEXT_ANALYZE('A.b-c_D;e f'), '/') AS punct,
          |  TEXT_ANALYZE(n_name, analyzer => 'NO_OP_ANALYZER')[OFFSET(0)]
          |    AS noop
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e92_geography_metadata" -> { (s, d) =>
      // GEOGRAPHY metadata/accessor family (r12): per nation a 3-point
      // line and the holed quad — types/counts/dimensions are shape
      // constants, and the POINTN/STARTPOINT/ENDPOINT accessors return
      // vertices whose coordinates are EXACT arithmetic (lon + 2.0
      // etc., no trig), so ST_X/ST_Y round-trip bit-identically in the
      // oracle's plain additions.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH pts AS (
          |  SELECT n_nationkey,
          |    CAST(MOD(n_nationkey * 29, 320) AS FLOAT64) - 159.5 AS lon,
          |    CAST(MOD(n_nationkey * 17, 160) AS FLOAT64) - 79.75 AS lat
          |  FROM nation),
          |shapes AS (
          |  SELECT n_nationkey, lon, lat,
          |    ST_MAKELINE([ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |                 ST_GEOGPOINT(lon + 2.0, lat + 1.0)]) AS path,
          |    [[ST_GEOGPOINT(lon, lat), ST_GEOGPOINT(lon + 2.0, lat),
          |      ST_GEOGPOINT(lon + 2.0, lat + 1.0), ST_GEOGPOINT(lon, lat + 1.0)],
          |     [ST_GEOGPOINT(lon + 0.5, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.25),
          |      ST_GEOGPOINT(lon + 1.0, lat + 0.75),
          |      ST_GEOGPOINT(lon + 0.5, lat + 0.75)]] AS holed
          |  FROM pts)
          |SELECT CAST(n_nationkey AS INT64) AS id,
          |  ST_GEOMETRYTYPE(ST_GEOGPOINT(lon, lat)) AS t_pt,
          |  ST_GEOMETRYTYPE(path) AS t_ln,
          |  ST_GEOMETRYTYPE(holed) AS t_pg,
          |  CAST(ST_NUMPOINTS(path) AS INT64) AS np_ln,
          |  CAST(ST_NPOINTS(holed) AS INT64) AS np_pg,
          |  CAST(ST_DIMENSION(path) AS INT64) AS dim_ln,
          |  ST_X(ST_STARTPOINT(path)) AS sx,
          |  ST_Y(ST_ENDPOINT(path)) AS ey,
          |  ST_X(ST_POINTN(path, 2)) AS mx,
          |  ST_Y(ST_POINTN(path, -2)) AS my
          |FROM shapes ORDER BY id""".stripMargin).get
    },

    "e91_aes_cbc_raw_keys" -> { (s, _) =>
      // AES_CBC_PKCS raw keys (r12, converts the last encryption-
      // surface skip): the ciphertext constant was produced OUTSIDE the
      // engine (openssl aes-128-cbc, IV prepended) — decrypting it
      // through KEYS.ADD_KEY_FROM_RAW_BYTES proves byte-interop, not a
      // roundtrip through our own writer; the GCM roundtrip leg proves
      // a CBC key in the keyset leaves authenticated paths intact.
      new ScriptRunner(s).run(
        """SELECT CAST(1 AS INT64) AS id,
          |  AEAD.DECRYPT_STRING(kc,
          |    FROM_BASE64('AQ4bKDVCT1xpdoOQnaq3xABaFXYgSE4QD7quG/Tsz/k7GPJ+6FOWai+ARw1pXeIQ'),
          |    'aad ignored for cbc') AS cbc_pt,
          |  AEAD.DECRYPT_STRING(kc, AEAD.ENCRYPT(kc, 'rt', 'ad'), 'ad') AS gcm_rt,
          |  CAST(KEYS.KEYSET_LENGTH(kc) AS INT64) AS n,
          |  CAST(KEYS.KEYSET_LENGTH(KEYS.ADD_KEY_FROM_RAW_BYTES(kc,
          |    'AES_CBC_PKCS', CAST(REPEAT('j', 24) AS BYTES))) AS INT64) AS n24
          |FROM (SELECT KEYS.ADD_KEY_FROM_RAW_BYTES(
          |  KEYS.NEW_KEYSET('AEAD_AES_GCM_256'), 'AES_CBC_PKCS',
          |  FROM_BASE64('AwoRGB8mLTQ7QklQV15lbA==')) AS kc)""".stripMargin).get
    },

    "e90_ml_feature_cross" -> { (s, d) =>
      // ML.FEATURE_CROSS (r12, converts the FEATURE_CROSS skip): static
      // expansion of STRUCT(nm, rk, ini) at degree 3 — three pairwise
      // crossings plus the triple, values '_'-joined; the oracle
      // recomputes every concatenation directly. The NULL leg pins
      // NULL-propagation (concat, not concat_ws).
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  ML.FEATURE_CROSS(STRUCT(n_name AS nm,
          |    CAST(n_regionkey AS STRING) AS rk,
          |    SUBSTR(n_name, 1, 1) AS ini), 3).nm_X_rk AS nm_rk,
          |  ML.FEATURE_CROSS(STRUCT(n_name AS nm,
          |    CAST(n_regionkey AS STRING) AS rk,
          |    SUBSTR(n_name, 1, 1) AS ini), 3).rk_X_ini AS rk_ini,
          |  ML.FEATURE_CROSS(STRUCT(n_name AS nm,
          |    CAST(n_regionkey AS STRING) AS rk,
          |    SUBSTR(n_name, 1, 1) AS ini), 3).nm_X_rk_X_ini AS triple,
          |  ML.FEATURE_CROSS(STRUCT(n_name AS nm,
          |    IF(MOD(n_nationkey, 2) = 0, CAST(NULL AS STRING), 'x') AS odd))
          |    .nm_X_odd AS with_null
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e85_ml_quantile_bucketize" -> { (s, _) =>
      // ML.QUANTILE_BUCKETIZE by EXACT interpolated quantile boundaries
      // (r12, converts the last ML-namespace skip — the documented
      // blocker was ntile-vs-boundary tie behavior). The fixture makes
      // every tie decision explicit: leg 'u' is 1..18 with 4 buckets —
      // boundaries 5.25/9.5/13.75 fall strictly BETWEEN data values, so
      // each bin is unambiguous; leg 'ties' is [1,2,2,2,3,4] with 2
      // buckets — the median boundary is exactly 2.0, pinning the
      // lower-bucket tie rule (ntile would split the equal 2s across
      // buckets). The oracle states every label by construction.
      new ScriptRunner(s).run(
        """SELECT 'u' AS leg, CAST(x AS INT64) AS id,
          |  ML.QUANTILE_BUCKETIZE(x, 4) OVER () AS bkt
          |FROM UNNEST(GENERATE_ARRAY(1, 18)) AS x
          |UNION ALL
          |SELECT 'ties', CAST(off AS INT64),
          |  ML.QUANTILE_BUCKETIZE(v, 2) OVER ()
          |FROM UNNEST([1, 2, 2, 2, 3, 4]) AS v WITH OFFSET off
          |ORDER BY leg, id""".stripMargin).get
    },

    "e87_tink_keyset_interop" -> { (s, _) =>
      // Tink keyset byte-interop (r12 — converts the r11 documented
      // keyset-format deviation): keysets are real serialized Tink
      // protos (type URLs and JSON layout observable via
      // KEYSET_TO_JSON), AEAD ciphertexts carry the TINK output prefix
      // (first byte 0x01, total 5 + 12 + |pt| + 16), DETERMINISTIC is
      // RFC 5297 AES-SIV (pinned to the RFC's own vectors in
      // AesSivSpec), and the envelope surface (NEW_WRAPPED_KEYSET /
      // REWRAP_KEYSET / KEYSET_CHAIN) rides the local KMS stand-in.
      // Keys are random per run, so the gate states LAWS (roundtrips,
      // lengths, fixed layout bytes) whose outcomes are constant.
      new ScriptRunner(s).run(
        """WITH ks AS (
          |  SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k,
          |         KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256') AS dk,
          |         KEYS.NEW_WRAPPED_KEYSET('kms://prod/key1',
          |                                 'AEAD_AES_GCM_256') AS w)
          |SELECT CAST(1 AS INT64) AS id,
          |  JSON_VALUE(KEYS.KEYSET_TO_JSON(k), '$.key[0].keyData.typeUrl')
          |    AS gcm_url,
          |  JSON_VALUE(KEYS.KEYSET_TO_JSON(dk), '$.key[0].keyData.typeUrl')
          |    AS siv_url,
          |  JSON_VALUE(KEYS.KEYSET_TO_JSON(k), '$.key[0].outputPrefixType')
          |    AS prefix,
          |  JSON_VALUE(KEYS.KEYSET_TO_JSON(k), '$.key[0].status') AS status,
          |  KEYS.KEYSET_LENGTH(KEYS.KEYSET_FROM_JSON(KEYS.KEYSET_TO_JSON(
          |    KEYS.ROTATE_KEYSET(k, 'AEAD_AES_GCM_256')))) AS rot_len,
          |  KEYS.KEYSET_LENGTH(KEYS.ADD_KEY_FROM_RAW_BYTES(k, 'AES_GCM',
          |    CAST(REPEAT('p', 16) AS BYTES))) AS add16_len,
          |  AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON(KEYS.KEYSET_TO_JSON(k)),
          |    AEAD.ENCRYPT(k, 'interop', 'ad'), 'ad') AS json_rt,
          |  DETERMINISTIC_DECRYPT_STRING(dk,
          |    DETERMINISTIC_ENCRYPT(dk, 'det', 'ad'), 'ad') AS det_rt,
          |  TO_HEX(SUBSTR(AEAD.ENCRYPT(k, 'p', 'a'), 1, 1)) AS tink_first_byte,
          |  BYTE_LENGTH(AEAD.ENCRYPT(k, 'p', 'a')) AS ct_len,
          |  AEAD.DECRYPT_STRING(KEYS.KEYSET_CHAIN('kms://prod/key1', w),
          |    AEAD.ENCRYPT(KEYS.KEYSET_CHAIN('kms://prod/key1', w), 'env', 'ad'),
          |    'ad') AS chain_rt,
          |  AEAD.DECRYPT_STRING(
          |    KEYS.KEYSET_CHAIN('kms://dr/key2',
          |      KEYS.REWRAP_KEYSET('kms://prod/key1', 'kms://dr/key2', w)),
          |    AEAD.ENCRYPT(KEYS.KEYSET_CHAIN('kms://prod/key1', w), 'moved', 'ad'),
          |    'ad') AS rewrap_rt,
          |  SAFE.AEAD.DECRYPT_STRING(KEYS.KEYSET_CHAIN('kms://WRONG', w),
          |    AEAD.ENCRYPT(KEYS.KEYSET_CHAIN('kms://prod/key1', w), 'x', 'ad'),
          |    'ad') IS NULL AS wrong_res
          |FROM ks""".stripMargin).get
    },

    "e88_empty_agg_null" -> { (s, d) =>
      // ARRAY_AGG/STRING_AGG over ZERO input rows → NULL like BigQuery
      // (r12, BOTH halves of the r11 documented edge: the plain
      // aggregate position takes a count(1)=0 guard, and the OVER form
      // duplicates the window clause onto a count(1) guard — an empty
      // frame yields NULL; Catalyst collapses the identical specs into
      // one Window operator). Every lowering shape — plain, ordered,
      // separator+ordered, DISTINCT, empty/non-empty frames — probed,
      // plus non-empty legs proving the guard is inert.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """WITH src AS (
          |  SELECT CAST(o_orderkey AS INT64) AS x, o_orderpriority AS s
          |  FROM orders WHERE o_orderkey < 0)
          |SELECT CAST(1 AS INT64) AS id,
          |  ARRAY_AGG(x) IS NULL AS arr_null,
          |  ARRAY_AGG(x ORDER BY x) IS NULL AS arr_ord_null,
          |  ARRAY_AGG(DISTINCT x) IS NULL AS arr_dist_null,
          |  STRING_AGG(s) IS NULL AS str_null,
          |  STRING_AGG(s, '|' ORDER BY s) IS NULL AS str_ord_null,
          |  COUNT(1) AS n,
          |  (SELECT STRING_AGG(v, '-' ORDER BY v)
          |   FROM UNNEST(['b', 'a', 'c']) AS v) AS nonempty,
          |  (SELECT LOGICAL_AND(frame IS NULL) FROM (
          |     SELECT STRING_AGG(v) OVER (ORDER BY v
          |       ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS frame, v
          |     FROM UNNEST(['a', 'b', 'c']) AS v) WHERE v = 'a')
          |    AS empty_frame_null,
          |  (SELECT MAX(frame) FROM (
          |     SELECT STRING_AGG(v) OVER (ORDER BY v
          |       ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS frame, v
          |     FROM UNNEST(['a', 'b', 'c']) AS v) WHERE v = 'c')
          |    AS trailing_frame
          |FROM src""".stripMargin).get
    },

    "e83_tojson_chr" -> { (s, _) =>
      // TO_JSON (canonical JSON type text) and code-point CHR (r11):
      // fixture rows with a VALUES oracle, e45b-style — DuckDB's json
      // preserves insertion order, so the expected texts are written
      // pre-sorted the way the engine's canonicalization emits them
      new ScriptRunner(s).run(
        """SELECT CAST(t.id AS INT64) AS id,
          |  TO_JSON(STRUCT(t.id AS b, 'x' AS a)) AS j,
          |  TO_JSON(t.id) AS jn,
          |  CHR(96 + CAST(t.id AS INT64)) AS low,
          |  CHR(959 + CAST(t.id AS INT64)) AS greek
          |FROM UNNEST([STRUCT(1 AS id), STRUCT(2), STRUCT(3)]) AS t
          |ORDER BY id""".stripMargin).get
    },

    "e76_ml_preprocess" -> { (s, d) =>
      // ML namespace (closes part of the round-9 namespace skip):
      // DISTANCE (all three metrics), LP_NORM, BUCKETIZE, NGRAMS as
      // codegen'd higher-order array expressions; the analytic scalers
      // expand into window aggregates over the shared OVER clause. The
      // hash-exact oracle design: element-wise doubles restate as the
      // same IEEE expression; window statistics feed on INTEGER-valued
      // doubles (min/max exact, avg = exact-sum/count — both engines
      // bit-identical). STANDARD_SCALER is spec-covered instead:
      // stddev_samp is Welford-accumulated and merge order would break
      // the cross-engine hash.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT CAST(o_orderkey AS INT64) AS id,
          |  ML.DISTANCE([o_totalprice, 1.0], [100.0, 2.0], 'EUCLIDEAN') AS dist_e,
          |  ML.DISTANCE([o_totalprice, 1.0], [100.0, 2.0], 'COSINE') AS dist_c,
          |  ML.DISTANCE([o_totalprice, 1.0], [100.0, 2.0], 'MANHATTAN') AS dist_m,
          |  ML.LP_NORM([3.0, CAST(MOD(o_orderkey, 10) AS FLOAT64)], 1) AS l1,
          |  ML.BUCKETIZE(o_totalprice, [50000, 150000]) AS bkt,
          |  ARRAY_TO_STRING(ML.NGRAMS(SPLIT(o_orderpriority, '-'), [1, 2], '_'), ',') AS ngr,
          |  ML.MIN_MAX_SCALER(CAST(MOD(o_orderkey, 97) AS FLOAT64))
          |    OVER (PARTITION BY o_orderpriority) AS mm,
          |  ML.IMPUTER(CASE WHEN MOD(o_orderkey, 7) = 0 THEN CAST(NULL AS FLOAT64)
          |                  ELSE CAST(MOD(o_orderkey, 50) AS FLOAT64) END, 'mean')
          |    OVER (PARTITION BY o_orderpriority) AS imean
          |FROM orders WHERE o_orderkey <= 5000
          |ORDER BY id""".stripMargin).get
    },

    "e76b_standard_scaler" -> { (s, _) =>
      // ML.STANDARD_SCALER against a tolerance-free fixture (closes the
      // spec-only gap the r10 verdict flagged): per-group values
      // {10g+1, 10g+2, 10g+3} have mean 10g+2 and sample variance
      // EXACTLY 1 under every Welford processing/merge order — every
      // intermediate delta is a multiple of 0.5 over counts 2–3, so
      // each mean/M2 update is IEEE-exact — making the scaled output
      // exactly v - (10g+2); the oracle restates that closed form, no
      // cross-engine stddev accumulation involved.
      new ScriptRunner(s).run(
        """SELECT CAST(t.g AS INT64) AS g, CAST(t.v AS INT64) AS v,
          |  ML.STANDARD_SCALER(CAST(t.v AS FLOAT64)) OVER (PARTITION BY t.g)
          |    AS scaled
          |FROM UNNEST([
          |  STRUCT(0 AS g, 1 AS v), STRUCT(0, 2), STRUCT(0, 3),
          |  STRUCT(1, 11), STRUCT(1, 12), STRUCT(1, 13),
          |  STRUCT(2, 21), STRUCT(2, 22), STRUCT(2, 23),
          |  STRUCT(3, 31), STRUCT(3, 32), STRUCT(3, 33)
          |]) AS t
          |ORDER BY g, v""".stripMargin).get
    },

    "e75_aead" -> { (s, d) =>
      // AEAD/KEYS/DETERMINISTIC_* surface (closes part of the round-9
      // namespace skip): roundtrip laws are the oracle — decrypt ∘
      // encrypt is identity under matching keyset+AAD, deterministic
      // encryption is stable per (keyset, plaintext, aad) while AEAD
      // draws a fresh nonce per call, and a wrong AAD authenticates
      // loud (SAFE. → NULL). Keysets ride a one-row cross join so every
      // row shares them; see AeadKernels for the documented
      // keyset-format deviation from Tink.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n.n_nationkey AS INT64) AS id,
          |  AEAD.DECRYPT_STRING(ks.k,
          |    AEAD.ENCRYPT(ks.k, n.n_name, CAST(n.n_nationkey AS STRING)),
          |    CAST(n.n_nationkey AS STRING)) AS rt,
          |  DETERMINISTIC_DECRYPT_STRING(ks.dk,
          |    DETERMINISTIC_ENCRYPT(ks.dk, CONCAT('c-', n.n_name), 'ad'), 'ad') AS drt,
          |  DETERMINISTIC_ENCRYPT(ks.dk, n.n_name, 'a') =
          |    DETERMINISTIC_ENCRYPT(ks.dk, n.n_name, 'a') AS det_stable,
          |  SAFE.AEAD.DECRYPT_STRING(ks.k,
          |    AEAD.ENCRYPT(ks.k, n.n_name, 'good'), 'bad') IS NULL AS bad_aad,
          |  AEAD.DECRYPT_STRING(KEYS.ROTATE_KEYSET(ks.k, 'AEAD_AES_GCM_256'),
          |    AEAD.ENCRYPT(ks.k, CONCAT('r-', n.n_name), 'ad'), 'ad') AS rot_rt,
          |  KEYS.KEYSET_LENGTH(KEYS.ROTATE_KEYSET(ks.k, 'AEAD_AES_GCM_256'))
          |    AS klen2
          |FROM nation n CROSS JOIN (
          |  SELECT KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS k,
          |         KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256') AS dk) ks
          |ORDER BY id""".stripMargin).get
    },

    "e74_gap_fill_origin" -> { (s, d) =>
      // GAP_FILL's origin + ignore_null_values arguments (closes the
      // round-9 documented skip). Inputs are per-(grp, offset-hour)
      // aggregates keyed by their UNALIGNED min timestamp; origin
      // re-aligns each row into its origin + k*width bucket. Every
      // fifth bucket carries an EXISTING NULL observation —
      // ignore_null_values => false makes locf carry it and linear
      // anchor on it (NULL across its gaps), which the oracle restates
      // with exist-flag windows.
      Tables.views(s, d, "events")
      new ScriptRunner(s).run(
        """CREATE TEMP TABLE gfo_src AS (
          |  SELECT grp, MIN(ts0) AS ts,
          |    CASE WHEN MOD(bk, 5) = 2 THEN CAST(NULL AS FLOAT64)
          |         ELSE CAST(SUM(CAST(value * 100 AS INT64)) AS FLOAT64) END AS v1,
          |    CASE WHEN MOD(bk, 5) = 2 THEN CAST(NULL AS FLOAT64)
          |         ELSE CAST(SUM(CAST(value * 100 AS INT64)) AS FLOAT64) END AS v2
          |  FROM (
          |    SELECT CAST(MOD(user_id, 3) AS INT64) AS grp, ts AS ts0,
          |      DIV(UNIX_MICROS(ts) - UNIX_MICROS(TIMESTAMP '1970-01-01 00:30:00+00'),
          |          3600000000) AS bk,
          |      value
          |    FROM events
          |    WHERE EXTRACT(HOUR FROM ts) NOT IN (2, 7, 13, 20)
          |  )
          |  GROUP BY grp, bk);
          |SELECT CAST(grp AS INT64) AS grp, CAST(ts AS STRING) AS h,
          |  v1 AS v_locf, v2 AS v_lin
          |FROM GAP_FILL(TABLE gfo_src, ts_column => 'ts',
          |  bucket_width => INTERVAL 1 HOUR,
          |  partitioning_columns => ['grp'],
          |  value_columns => [('v1', 'locf'), ('v2', 'linear')],
          |  origin => TIMESTAMP '1970-01-01 00:30:00+00',
          |  ignore_null_values => false)
          |ORDER BY grp, h""".stripMargin).get
    },

    "e73_net_domains" -> { (s, d) =>
      // NET.HOST / PUBLIC_SUFFIX / REG_DOMAIN over the bundled ICANN
      // public-suffix list (closes the round-9 documented skip). Leg 1:
      // BigQuery's own documented example URLs (wildcard *.ck, the
      // !www.ck exception, unicode↔Punycode, private-section exclusion,
      // case-preserving results) — the oracle restates the expected
      // values as literals, which the DialectExecSpec PSL suite pins to
      // the same data. Leg 2: a constructed-URL column over `nation`,
      // suffix fixed by construction so DuckDB re-derives with string
      // math — proves the kernel distributes over a real scan.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """WITH lits AS (
          |  SELECT CAST(1000 + off AS INT64) AS id, NET.HOST(u) AS host,
          |    NET.PUBLIC_SUFFIX(u) AS suffix, NET.REG_DOMAIN(u) AS rd
          |  FROM UNNEST(['http://abc.xyz',
          |               '//user:password@a.b:80/path?query',
          |               'https://[::1]:80',
          |               '    www.Example.Co.UK    ',
          |               'filename.txt',
          |               'foo.bar.ck',
          |               'www.ck',
          |               'foo.blogspot.com',
          |               'http://例子.卷筒纸.中国',
          |               'a..com',
          |               '.com',
          |               'http://1.2.3.4/',
          |               'mailto:someone@foo.example.org']) AS u WITH OFFSET off
          |), nat AS (
          |  SELECT CAST(n_nationkey AS INT64) AS id,
          |    NET.HOST(url) AS host, NET.PUBLIC_SUFFIX(url) AS suffix,
          |    NET.REG_DOMAIN(url) AS rd
          |  FROM (SELECT n_nationkey,
          |          CONCAT('https://user@www.', REPLACE(LOWER(n_name), ' ', '-'),
          |                 '.Co.UK:8080/x?q=1') AS url
          |        FROM nation)
          |)
          |SELECT id, host, suffix, rd FROM lits
          |UNION ALL SELECT id, host, suffix, rd FROM nat
          |ORDER BY id""".stripMargin).get
    },

    // --- vocabulary pack 8 (cont.): JSON construction + conversion ------
    "e72_gap_fill" -> { (s, d) =>
      // GAP_FILL over hourly per-group event aggregates with forced
      // gaps (hours 3/4/9/15 filtered out): locf carries the last
      // observation, linear interpolates between observed neighbors
      // (exact-int-derived doubles — both engines compute the same
      // IEEE expression, emitted unrounded). The INT64 cast inside the
      // aggregate exercises the round-half-away kernel under oracle.
      Tables.views(s, d, "events")
      new ScriptRunner(s).run(
        """CREATE TEMP TABLE gf_src AS (
          |  SELECT CAST(MOD(user_id, 3) AS INT64) AS grp,
          |    TIMESTAMP_TRUNC(ts, HOUR) AS h,
          |    CAST(SUM(CAST(value * 100 AS INT64)) AS FLOAT64) AS v1,
          |    CAST(SUM(CAST(value * 100 AS INT64)) AS FLOAT64) AS v2
          |  FROM events
          |  WHERE EXTRACT(HOUR FROM ts) NOT IN (3, 4, 9, 15)
          |  GROUP BY 1, 2);
          |SELECT CAST(grp AS INT64) AS grp, CAST(h AS STRING) AS h,
          |  v1 AS v_locf, v2 AS v_lin
          |FROM GAP_FILL(TABLE gf_src, ts_column => 'h',
          |  bucket_width => INTERVAL 1 HOUR,
          |  partitioning_columns => ['grp'],
          |  value_columns => [('v1', 'locf'), ('v2', 'linear')])
          |ORDER BY grp, h""".stripMargin).get
    },

    "e71_range_sessionize" -> { (s, d) =>
      // RANGE_SESSIONIZE over per-customer order-date ranges: pure
      // window SQL (running max-end decides breaks, prefix-sum builds
      // session ids, min/max over the session window the bounds) —
      // shuffles once on the partition columns. DuckDB restates the
      // same windows over plain date columns.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """CREATE TEMP TABLE rs_src AS (
          |  SELECT o_orderkey AS k, o_custkey AS cust,
          |    RANGE(CAST(o_orderdate AS DATE),
          |          DATE_ADD(CAST(o_orderdate AS DATE), INTERVAL 20 DAY)) AS r
          |  FROM orders WHERE o_orderkey <= 2000);
          |SELECT CAST(k AS INT64) AS k, CAST(cust AS INT64) AS cust,
          |  CAST(RANGE_START(session_range) AS STRING) AS sess_lo,
          |  CAST(RANGE_END(session_range) AS STRING) AS sess_hi
          |FROM RANGE_SESSIONIZE(TABLE rs_src, 'r', ['cust'])
          |ORDER BY k""".stripMargin).get
    },

    "e70_interval_vocab" -> { (s, d) =>
      // BigQuery full-range INTERVAL: mixed-range literals (parts are
      // independent — hour 49 is legal) lower to make_interval, whose
      // CalendarInterval holds months/days/micros separately like
      // BigQuery's INTERVAL; JUSTIFY_DAYS/HOURS/INTERVAL normalize with
      // the documented 30-day-month / 24-hour-day rules; CAST AS STRING
      // renders BigQuery's canonical 'Y-M D H:M:S'. DuckDB re-derives
      // each rendering with integer math + printf.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  CAST(JUSTIFY_DAYS(INTERVAL (n_nationkey * 7) DAY) AS STRING) AS jd,
          |  CAST(JUSTIFY_HOURS(INTERVAL (n_nationkey * 11) HOUR) AS STRING) AS jh,
          |  CAST(JUSTIFY_INTERVAL(INTERVAL '5 49:20:30' DAY TO SECOND) AS STRING) AS ji,
          |  CAST(INTERVAL '1-2 3 4:5:6' YEAR TO SECOND AS STRING) AS mix
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e69_range_vocab" -> { (s, d) =>
      // BigQuery RANGE<T> family over the engine's struct<range_start,
      // range_end> representation (half-open, NULL bound = UNBOUNDED):
      // typed literal, constructor, point containment, overlap,
      // unbounded-side intersection, and GENERATE_RANGE_ARRAY bucket
      // counts. Pure per-row scalar work — DuckDB re-derives every
      // column with plain date comparisons and integer math.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT CAST(o_orderkey AS INT64) AS id,
          |  RANGE_CONTAINS(RANGE<DATE> '[1995-01-01, 1996-01-01)',
          |                 CAST(o_orderdate AS DATE)) AS in95,
          |  RANGE_CONTAINS(RANGE<DATE> '[1995-01-01, UNBOUNDED)',
          |                 CAST(o_orderdate AS DATE)) AS ge95,
          |  RANGE_OVERLAPS(RANGE(CAST(o_orderdate AS DATE),
          |                       DATE_ADD(CAST(o_orderdate AS DATE), INTERVAL 30 DAY)),
          |                 RANGE<DATE> '[1995-06-01, 1995-07-01)') AS near_jun,
          |  CAST(RANGE_END(RANGE_INTERSECT(RANGE<DATE> '[UNBOUNDED, 1996-07-01)',
          |       RANGE(CAST(o_orderdate AS DATE),
          |             DATE_ADD(CAST(o_orderdate AS DATE), INTERVAL 90 DAY)))) AS STRING) AS clip_hi,
          |  ARRAY_LENGTH(GENERATE_RANGE_ARRAY(
          |       RANGE(DATE '1995-01-01',
          |             DATE_ADD(DATE '1995-01-01', INTERVAL MOD(o_orderkey, 50) + 10 DAY)),
          |       INTERVAL 7 DAY)) AS nbuckets
          |FROM orders
          |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1994-01-01' AND DATE '1996-06-30'
          |ORDER BY id""".stripMargin).get
    },

    "e68_datetime_net_vocab" -> { (s, d) =>
      // round-9 probe closures, oracled: TIME/DATETIME constructors,
      // Sunday-start TIMESTAMP_TRUNC(WEEK), timezone-arg truncation,
      // EXTRACT … AT TIME ZONE, NET IP kernels, FORMAT spec coercion,
      // non-literal INTERVAL expressions, MAKE_INTERVAL named args.
      // All per-row scalar work; DuckDB re-derives every column with
      // its own date/printf/IP arithmetic.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  TIME(MOD(n_nationkey, 24), 30, 45) AS t1,
          |  CAST(DATETIME(2024, 1, MOD(n_nationkey, 28) + 1, 9, 0, 0) AS STRING) AS dt1,
          |  CAST(TIMESTAMP_TRUNC(TIMESTAMP_ADD(TIMESTAMP '2024-01-01 00:00:00',
          |                                     INTERVAL n_nationkey DAY), WEEK) AS STRING) AS wk_sun,
          |  CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-03-15 10:00:00', DAY, 'Asia/Jakarta') AS STRING) AS trunc_tz,
          |  EXTRACT(HOUR FROM TIMESTAMP '2024-01-15 10:00:00' AT TIME ZONE 'Asia/Jakarta') AS hr_tz,
          |  NET.IPV4_TO_INT64(NET.IP_FROM_STRING(
          |    CONCAT('10.0.', CAST(MOD(n_nationkey, 256) AS STRING), '.7'))) AS ip64,
          |  NET.IP_TO_STRING(NET.IPV4_FROM_INT64(
          |    167772167 + CAST(n_nationkey AS INT64) * 256)) AS ipstr,
          |  FORMAT('%05.1f|%x', CAST(n_nationkey AS NUMERIC) * 1.5,
          |         CAST(n_nationkey AS INT64) + 250) AS fmt,
          |  CAST(DATE '2024-01-01' + INTERVAL (MOD(n_nationkey, 5) + 1) DAY AS STRING) AS dplus,
          |  CAST(TIMESTAMP '2024-02-01 00:00:00'
          |       + MAKE_INTERVAL(1, minute => CAST(n_nationkey AS INT64)) AS STRING) AS mi
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e67_ddl_dml_vocab" -> { (s, d) =>
      // round-9 probe closures, end to end: explicit-schema CTAS with a
      // PARTITION BY tail (declared-name insert — partitioned tables
      // reorder partition columns), INTO-less INSERT, ALTER COLUMN SET
      // DATA TYPE (rebuild with cast), struct-field UPDATE (withField,
      // siblings preserved), and CREATE VIEW OPTIONS. The oracle
      // re-derives the final table constructively.
      Tables.views(s, d, "nation")
      val sr = new ScriptRunner(s)
      sr.run("DROP SCHEMA IF EXISTS `graft.pg67` CASCADE")
      val pg67loc = Scratch.onDisk("graft_pg67")
      sr.run(
        s"""CREATE SCHEMA `graft.pg67` OPTIONS(location = '$pg67loc');
          |CREATE TABLE `graft.pg67.t`
          |  (id INT64, name STRING, region INT64, score INT64,
          |   s STRUCT<x INT64, y STRING>)
          |PARTITION BY region AS
          |  SELECT CAST(n_nationkey AS INT64), n_name,
          |         CAST(n_regionkey AS INT64),
          |         CAST(n_nationkey AS INT64) * 3,
          |         STRUCT(CAST(n_nationkey AS INT64) * 2 AS x,
          |                UPPER(n_name) AS y)
          |  FROM nation;
          |INSERT `graft.pg67.t` (id, name, region, score, s)
          |  VALUES (100, 'extra', 9, 300, STRUCT(0, 'Z'));
          |ALTER TABLE `graft.pg67.t` ALTER COLUMN score SET DATA TYPE FLOAT64;
          |UPDATE `graft.pg67.t` SET s.x = s.x + 1000 WHERE region = 0;
          |CREATE OR REPLACE VIEW `graft.pg67.v`
          |  OPTIONS(description = 'round-9 ddl vocab') AS
          |  SELECT id, name, region, score, s.x AS sx, s.y AS sy
          |  FROM graft.pg67.t""".stripMargin)
      sr.run("SELECT id, name, region, score, sx, sy FROM graft.pg67.v ORDER BY id").get
    },

    "e66_json_mutators" -> { (s, d) =>
      // JSON mutator family (JSON_SET / JSON_REMOVE / JSON_STRIP_NULLS /
      // JSON_ARRAY_INSERT / JSON_ARRAY_APPEND) over the canonical-string
      // JSON representation, including nested-path creation, array
      // padding, include_arrays/each-element named arguments, and LAX
      // read-back of a mutated field. The oracle re-derives every
      // output with DuckDB's constructors (keys written in sorted
      // order — the engine's canonicalization). Per-row string work,
      // no shuffle beyond the final sort.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  JSON_SET(JSON_OBJECT('a', CAST(n_nationkey AS INT64), 'b', n_name),
          |           '$.c.d', CAST(n_regionkey AS INT64)) AS jset,
          |  JSON_SET(JSON_OBJECT('a', CAST(n_nationkey AS INT64)),
          |           '$.a', CONCAT(n_name, '!'), '$.z[1]', true) AS jset2,
          |  JSON_REMOVE(JSON_OBJECT('a', 1, 'b', CAST(n_regionkey AS INT64), 'c', n_name),
          |              '$.a') AS jrm,
          |  JSON_REMOVE(JSON_ARRAY(CAST(n_nationkey AS INT64), n_name,
          |                         CAST(n_regionkey AS INT64)), '$[1]') AS jrm_arr,
          |  JSON_STRIP_NULLS(JSON_OBJECT('a', IF(MOD(n_nationkey, 2) = 0, NULL, n_name),
          |                               'b', CAST(n_regionkey AS INT64))) AS jstrip,
          |  JSON_STRIP_NULLS(JSON_ARRAY(NULL, CAST(n_nationkey AS INT64), NULL),
          |                   include_arrays => false) AS jstrip2,
          |  JSON_ARRAY_INSERT(JSON_ARRAY(CAST(n_nationkey AS INT64), 'end'),
          |                    '$[1]', n_name) AS jins,
          |  JSON_ARRAY_APPEND(JSON_ARRAY(CAST(n_regionkey AS INT64)),
          |                    '$', CAST(n_nationkey AS INT64)) AS japp,
          |  LAX_INT64(JSON_QUERY(JSON_SET(JSON '{}', '$.n',
          |                                CAST(n_nationkey AS INT64)), '$.n')) AS lax_rt,
          |  ARRAY_TO_STRING(JSON_KEYS(JSON_SET(
          |    JSON_OBJECT('a', CAST(n_nationkey AS INT64), 'b', n_name),
          |    '$.c.d', CAST(n_regionkey AS INT64))), ',') AS jkeys
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e65_json_vocab" -> { (s, d) =>
      // JSON literals, constructors and LAX/strict converters over the
      // canonical-string JSON representation — DuckDB's json_object/
      // json_array emit the identical canonical encoding, so every
      // column hash-checks. All per-row codegen'd string work.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  JSON_OBJECT('name', n_name, 'region', CAST(n_regionkey AS INT64)) AS jobj,
          |  JSON_ARRAY(CAST(n_nationkey AS INT64), n_name, NULL) AS jarr,
          |  JSON_TYPE(PARSE_JSON(CASE MOD(n_nationkey, 3)
          |    WHEN 0 THEN '{"x": 1}' WHEN 1 THEN '[1, 2]' ELSE '3.5' END)) AS jt,
          |  LAX_INT64(PARSE_JSON(CONCAT('"', CAST(n_nationkey AS STRING), '"'))) AS li,
          |  LAX_STRING(PARSE_JSON(CAST(n_regionkey AS STRING))) AS ls,
          |  INT64(JSON '42') + CAST(n_nationkey AS INT64) AS strict_i,
          |  JSON_VALUE(JSON_OBJECT('name', n_name), '$.name') AS jv,
          |  STRING(PARSE_JSON(CONCAT('"', n_name, '"'))) AS strict_s
          |FROM nation ORDER BY id""".stripMargin).get
    },

    // --- vocabulary pack 8 (cont.): scripting composition ---------------
    "e64_script_composition" -> { (s, d) =>
      // labeled loops (CONTINUE/BREAK to the OUTER loop from inside the
      // inner one), SET tuple multi-assignment from a struct select,
      // and a TVF parameterized by the loop results — one script, one
      // oracled answer. The loop runs driver-side (BigQuery's own
      // coordinator evaluates scripting control flow the same way);
      // the data pass stays one distributed scan.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """DECLARE total INT64 DEFAULT 0;
          |DECLARE i INT64 DEFAULT 0;
          |DECLARE lo INT64; DECLARE hi INT64;
          |outer_l: WHILE i < 5 DO
          |  SET i = i + 1;
          |  inner_l: LOOP
          |    SET total = total + 1;
          |    IF MOD(total, 5) = 0 THEN
          |      CONTINUE outer_l;
          |    END IF;
          |    IF total >= 18 THEN
          |      BREAK outer_l;
          |    END IF;
          |  END LOOP inner_l;
          |END WHILE outer_l;
          |SET (lo, hi) = (SELECT AS STRUCT MIN(CAST(n_nationkey AS INT64)),
          |                                 MAX(CAST(n_nationkey AS INT64))
          |                FROM nation);
          |CREATE OR REPLACE TABLE FUNCTION nation_band(a INT64, b INT64) AS (
          |  SELECT CAST(n_nationkey AS INT64) AS id, n_name
          |  FROM nation WHERE n_nationkey BETWEEN a AND b
          |);
          |SELECT id, n_name, total AS total_v, i AS i_v
          |FROM nation_band(lo + i, hi - total) ORDER BY id""".stripMargin).get
    },

    // --- vocabulary pack 8 (cont.): TIME family, week-start parts,
    //     position/occurrence regexp forms --------------------------------
    "e63_time_week_vocab" -> { (s, d) =>
      // TIME is an 'HH:mm:ss' string anchored on the epoch date for
      // arithmetic (wrap-around past midnight falls out of the
      // timestamp math); WEEK(<WEEKDAY>) variants of EXTRACT /
      // LAST_DAY / DATE_DIFF generalize the Sunday-start formulas;
      // REGEXP_INSTR's occurrence argument routes to a native
      // code-point-correct kernel, REGEXP_EXTRACT's position form to
      // substr composition. All per-row codegen — no shuffle beyond
      // the final sort.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  TIME_ADD(TIME '23:30:00', INTERVAL n_nationkey * 37 MINUTE) AS t_wrap,
          |  TIME_TRUNC(TIME_ADD(TIME '10:15:30', INTERVAL n_nationkey HOUR), HOUR) AS ttrunc,
          |  TIME_DIFF(TIME_ADD(TIME '06:00:00', INTERVAL n_nationkey * 7 MINUTE),
          |            TIME '01:30:00', MINUTE) AS tdiff,
          |  EXTRACT(TIME FROM TIMESTAMP_ADD(TIMESTAMP '2024-01-01 05:06:07',
          |                                  INTERVAL n_nationkey MINUTE)) AS tpart,
          |  EXTRACT(WEEK(MONDAY) FROM DATE_ADD(DATE '2024-01-01',
          |                                     INTERVAL n_nationkey DAY)) AS wmon,
          |  CAST(LAST_DAY(DATE_ADD(DATE '2024-01-01', INTERVAL n_nationkey * 11 DAY),
          |                WEEK(TUESDAY)) AS STRING) AS ld,
          |  DATE_DIFF(DATE_ADD(DATE '2024-01-01', INTERVAL n_nationkey * 13 DAY),
          |            DATE '2024-01-01', WEEK(FRIDAY)) AS wdiff,
          |  CAST(REGEXP_INSTR(n_name, '[^ ]+', 1, 2) AS INT64) AS ri,
          |  REGEXP_EXTRACT(n_name, '[A-Z]+', 2) AS re2
          |FROM nation ORDER BY id""".stripMargin).get
    },

    // --- vocabulary pack 8: schema DDL, table functions, full MERGE ----
    "e62_tvf_merge_vocab" -> { (s, d) =>
      // round-8 probe closures: CREATE SCHEMA (dataset DDL), CREATE
      // TABLE FUNCTION (TVF expanded at statement-prep into a typed
      // parameter-substituted subquery — Catalyst sees one plan, so
      // pushdown/pruning work through the call), and the two MERGE
      // clause forms BigQuery supports that the engine previously
      // dropped silently: WHEN MATCHED … DELETE and WHEN NOT MATCHED
      // BY SOURCE … UPDATE. The MERGE rewrite stays one left join +
      // one anti join — no per-clause passes.
      Tables.views(s, d, "nation")
      val sr = new ScriptRunner(s)
      sr.run("DROP SCHEMA IF EXISTS `graft.pg62` CASCADE")
      // dataset location option (fresh temp dir — same staleness
      // discipline as freshDb: a prior JVM's warehouse leftovers must
      // not shadow this run's table)
      val pg62loc = Scratch.onDisk("graft_pg62")
      sr.run(
        s"""CREATE SCHEMA `graft.pg62` OPTIONS(description = 'pack-8 vocab', location = '$pg62loc');
          |CREATE TABLE `graft.pg62.acct` AS
          |  SELECT CAST(n_nationkey AS INT64) AS id,
          |         CAST(n_regionkey AS INT64) AS region,
          |         CAST(100 AS INT64) AS bal
          |  FROM nation;
          |MERGE INTO `graft.pg62.acct` T
          |USING (SELECT CAST(n_nationkey AS INT64) AS id,
          |              CAST(n_regionkey AS INT64) * 10 AS delta
          |       FROM nation WHERE n_regionkey <= 2) S
          |ON T.id = S.id
          |WHEN MATCHED AND T.id >= 20 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET bal = T.bal + S.delta
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET bal = -1;
          |CREATE TABLE FUNCTION bal_at_least(floor_b INT64) AS (
          |  SELECT id, region, bal FROM graft.pg62.acct WHERE bal >= floor_b
          |)""".stripMargin)
      sr.run("SELECT id, region, bal FROM bal_at_least(-5) ORDER BY id").get
    },

    // --- analytic/array vocabulary (pack 7, continued) ------------------
    "e60_analytic_vocab" -> { (s, d) =>
      // round-8 probe closures: IGNORE NULLS inside the analytic call's
      // parens (BigQuery spelling → Spark's boolean arg), ARRAY(SELECT)
      // subquery (→ scalar collect_list subquery), SAFE_OFFSET /
      // SAFE_ORDINAL on call-result and literal bases (→
      // try_element_at), and the bare ARRAY[…] literal prefix.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  FIRST_VALUE(CASE WHEN MOD(n_nationkey, 2) = 0 THEN n_name END IGNORE NULLS)
          |    OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS fv,
          |  SPLIT(n_name, 'A')[SAFE_OFFSET(0)] AS first_chunk,
          |  SPLIT(n_name, 'A')[SAFE_OFFSET(9)] AS beyond,
          |  ARRAY[10, 20, 30][SAFE_ORDINAL(MOD(n_nationkey, 3) + 1)] AS pick,
          |  ARRAY_LENGTH(ARRAY(SELECT n_name FROM nation WHERE n_regionkey = 0)) AS arr_n
          |FROM nation ORDER BY id""".stripMargin).get
    },

    // --- JSON type surface (vocabulary pack 7) --------------------------
    "e59_json_type" -> { (s, d) =>
      // BigQuery's JSON type maps to the canonical JSON string:
      // PARSE_JSON validates+canonicalizes (via Spark's variant
      // round-trip), TO_JSON_STRING serializes structs, and the
      // JSON_VALUE accessor reads either. All per-row codegen'd
      // expressions — no shuffle beyond the final sort.
      Tables.views(s, d, "nation")
      new ScriptRunner(s).run(
        """SELECT CAST(n_nationkey AS INT64) AS id,
          |  TO_JSON_STRING(STRUCT(n_name AS name, CAST(n_regionkey AS INT64) AS r)) AS j,
          |  JSON_VALUE(PARSE_JSON(CONCAT('{"k" :  "', n_name, '"}')), '$.k') AS k
          |FROM nation ORDER BY id""".stripMargin).get
    },

    "e47_pack6_analytics" -> { (s, d) =>
      // Top-k rides the native Space-Saving aggregate
      // (functions/TopCount.scala): o_orderpriority has 5 distinct
      // values << the sketch capacity, so counts/sums are EXACT and
      // the DuckDB oracle restates them verbatim. The percentile pair
      // runs in BigQuery's analytic (OVER) position; the oracle
      // replays the interpolation / first-cume_dist≥f formulas on a
      // sorted list, so every column hash-checks. Both aggregates are
      // mergeable bounded-buffer sketches — map-side combine, O(k)
      // state per group at any corpus size.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """CREATE TEMP TABLE tc AS (
          |  SELECT o_orderstatus,
          |    APPROX_TOP_COUNT(o_orderpriority, 3) AS top3,
          |    APPROX_TOP_SUM(o_orderpriority, MOD(o_orderkey, 97), 2) AS ts2
          |  FROM orders GROUP BY o_orderstatus);
          |CREATE TEMP TABLE pct AS (
          |  SELECT DISTINCT o_orderstatus,
          |    PERCENTILE_CONT(o_custkey, 0.5) OVER (PARTITION BY o_orderstatus) AS med_cont,
          |    PERCENTILE_DISC(o_custkey, 0.25) OVER (PARTITION BY o_orderstatus) AS q1_disc
          |  FROM orders);
          |SELECT c.o_orderstatus, c.kind, c.v, c.w, p.med_cont, p.q1_disc
          |FROM (
          |  SELECT o_orderstatus, 'count' AS kind, t.value AS v, t.count AS w
          |  FROM tc, UNNEST(top3) AS t
          |  UNION ALL
          |  SELECT o_orderstatus, 'sum' AS kind, t.value AS v, t.sum AS w
          |  FROM tc, UNNEST(ts2) AS t
          |) c JOIN pct p ON c.o_orderstatus = p.o_orderstatus
          |ORDER BY o_orderstatus, kind, w DESC, v""".stripMargin).get
    },

    // --- aggregate modifiers: ANY_VALUE(x HAVING MAX|MIN y), ordered
    //     ARRAY_AGG with DESC/LIMIT ------------------------------------
    "e48_agg_modifiers" -> { (s, d) =>
      // HAVING keys are the unique o_orderkey so argmax/argmin are
      // tie-free (BQ's ANY_VALUE HAVING is nondeterministic among
      // ties, same as max_by — a gate must not depend on that);
      // ordered ARRAY_AGG slices are keyed the same way. All four
      // lower to single mergeable aggregates — no window, no
      // post-sort of the group's rows beyond the bounded slice.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT o_orderstatus,
          |  ANY_VALUE(o_orderpriority HAVING MAX o_orderkey) AS last_prio,
          |  ANY_VALUE(o_orderpriority HAVING MIN o_orderkey) AS first_prio,
          |  ARRAY_TO_STRING(ARRAY_AGG(o_orderpriority ORDER BY o_orderkey LIMIT 5), ',') AS first5,
          |  ARRAY_TO_STRING(ARRAY_AGG(o_orderpriority ORDER BY o_orderkey DESC LIMIT 3), ',') AS last3
          |FROM orders
          |GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin).get
    },

    // --- FOR SYSTEM_TIME AS OF: time travel over rewrite snapshots -----
    "e49_time_travel" -> { (s, d) =>
      // BigQuery's time travel falls out of its storage engine; the
      // parquet engine gets it from the staged-swap commit protocol:
      // every whole-table rewrite RETAINS the old image as a snapshot,
      // and the dialect resolves the clause to the snapshot current at
      // the requested wall-clock time. The gate deletes half the rows,
      // then reads both the pre-delete state (AS OF a captured ts) and
      // the current state in one statement.
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg49")
      s.sql("CREATE TABLE graft__pg49.counts (d STRING, cnt BIGINT) USING PARQUET")
      s.sql("""INSERT INTO graft__pg49.counts
              |SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS d, count(1) AS cnt
              |FROM orders WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-02-01'
              |GROUP BY 1""".stripMargin)
      Thread.sleep(5)
      val tMid = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      Thread.sleep(5)
      new DmlRunner(s, new TransformRunner(s))
        .run("DELETE FROM `graft.pg49.counts` WHERE d < '1996-01-10'")
      new ScriptRunner(s).run(
        s"""SELECT 'asof' AS version, count(1) AS n_days, sum(cnt) AS n_orders
           |FROM `graft.pg49.counts` FOR SYSTEM_TIME AS OF TIMESTAMP '$tMid'
           |UNION ALL
           |SELECT 'current' AS version, count(1) AS n_days, sum(cnt) AS n_orders
           |FROM `graft.pg49.counts`
           |ORDER BY version""".stripMargin).get
    },

    // --- VECTOR_SEARCH: BigQuery vector search surface over the ANN ---
    "e50_vector_search" -> { (s, d) =>
      // BigQuery's VECTOR_SEARCH table function on the Spark engine:
      // brute-force top-k with BigQuery's (query, base, distance)
      // result shape — the same plan BigQuery gives an unindexed
      // table; the IVF/PQ ops are the indexed path. Sequential
      // double-fold distances so DuckDB replays the identical IEEE
      // sequence; deterministic struct tie-break.
      Tables.views(s, d, "embeddings")
      new ScriptRunner(s).run(
        """SELECT query.vec_id AS qid, base.vec_id AS nid,
          |  round(distance, 4) AS dist
          |FROM VECTOR_SEARCH(
          |  TABLE embeddings, 'embedding',
          |  (SELECT * FROM embeddings WHERE vec_id >= 100 AND vec_id < 105),
          |  top_k => 3, distance_type => 'EUCLIDEAN')
          |ORDER BY qid, nid""".stripMargin).get
    },

    // --- SEARCH: BigQuery full-text search predicate -------------------
    "e51_search_fn" -> { (s, d) =>
      // BigQuery's SEARCH() over an unindexed column: LOG_ANALYZER
      // token containment as a codegen predicate — the filter rides
      // the scan (a search index is a pruning accelerator, not a
      // semantics change). Punctuated, mixed-case query exercises
      // both-side tokenization.
      Tables.views(s, d, "documents")
      new ScriptRunner(s).run(
        """SELECT doc_id, lang
          |FROM documents
          |WHERE SEARCH(text, 'Vector, (stream)!')
          |ORDER BY doc_id""".stripMargin).get
    },

    // --- CREATE [SNAPSHOT] TABLE ... CLONE -----------------------------
    "e52_clone_snapshot" -> { (s, d) =>
      // BigQuery table clones on the parquet engine: the clone
      // captures the source's image at clone time, so DML that later
      // rewrites the source must not leak into it. The snapshot form
      // additionally registers read-only (DML against it fails loud —
      // DmlRunnerSpec proves the gate).
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg52")
      s.sql("""CREATE TABLE graft__pg52.base (d STRING, cnt BIGINT)
              |USING PARQUET""".stripMargin)
      s.sql("""INSERT INTO graft__pg52.base
              |SELECT date_format(o_orderdate, 'yyyy-MM-dd'), count(1)
              |FROM orders
              |WHERE o_orderdate >= '1997-03-01' AND o_orderdate < '1997-03-15'
              |GROUP BY 1""".stripMargin)
      val sr = new ScriptRunner(s)
      sr.run("CREATE SNAPSHOT TABLE `graft.pg52.snap` CLONE `graft.pg52.base`")
      new DmlRunner(s, new TransformRunner(s)).run(
        "DELETE FROM `graft.pg52.base` WHERE d >= '1997-03-08'")
      sr.run(
        """SELECT 'base' AS src, count(1) AS n_rows, sum(cnt) AS total
          |FROM `graft.pg52.base`
          |UNION ALL
          |SELECT 'clone' AS src, count(1) AS n_rows, sum(cnt) AS total
          |FROM `graft.pg52.snap`
          |ORDER BY src""".stripMargin).get
    },

    // --- ALLOW_FIELD_RELAXATION: REQUIRED -> NULLABLE on append --------
    "e29_field_relaxation" -> { (s, d) =>
      // The destination declares `note` REQUIRED (engine-managed table
      // property — parquet can't carry NOT NULL); the append's source has
      // no `note` column, so the write needs mode relaxation. The
      // reference passes ALLOW_FIELD_RELAXATION together with
      // ALLOW_FIELD_ADDITION (bigquery_service.py:111-115).
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg29")
      s.sql("CREATE TABLE graft__pg29.noted (o_orderkey BIGINT, note STRING) USING PARQUET")
      s.sql("ALTER TABLE graft__pg29.noted SET TBLPROPERTIES ('graft.required.columns'='note')")
      s.sql("""INSERT INTO graft__pg29.noted
              |SELECT o_orderkey, o_orderstatus AS note FROM orders
              |WHERE o_orderdate >= '1995-03-01' AND o_orderdate < '1995-03-08'""".stripMargin)
      val sql =
        """SELECT o_orderkey
          |FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1995, 4, 1, 0, 0), LocalDateTime.of(1995, 4, 8, 0, 0))
      new TransformRunner(s).transform(
        conf("pg29", "noted", LoadMethod.Append).copy(allowFieldAddition = true),
        sql, w, execTime)
      s.table("graft__pg29.noted").orderBy("o_orderkey")
    },

    // --- A11: `table$YYYYMMDD` partition-decorator write ----------------
    "e14_partition_decorator" -> { (s, d) =>
      Tables.views(s, d, "orders")
      // table-level re-seed from a JVM-lifetime snapshot (see e28 note)
      fixtureOnce(s, "graft__pg14", d) {
        s.sql("CREATE TABLE graft__pg14.seed (cnt BIGINT, d STRING) USING PARQUET")
        s.sql("""INSERT INTO graft__pg14.seed
                |SELECT count(1) AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
                |FROM orders WHERE o_orderdate >= '1996-05-01' AND o_orderdate < '1996-05-04'
                |GROUP BY 2""".stripMargin)
      }
      reseedDest(s, "graft__pg14", "daily", "cnt BIGINT, d STRING", "d")
      val sql =
        """SELECT count(1) AS cnt FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
          |  AND o_orderstatus <> 'P'""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1996, 5, 2, 0, 0), LocalDateTime.of(1996, 5, 3, 0, 0))
      new TransformRunner(s).transform(
        conf("pg14", "daily$19960502", LoadMethod.Replace), sql, w, execTime)
      s.table("graft__pg14.daily").orderBy("d")
    },

    // --- A18 (repaired): spillover-driven partition recomputation ------
    // spillover query yields extra affected dates (first column); the
    // main query re-runs per distinct date into that partition.
    "e15_spillover" -> { (s, d) =>
      Tables.views(s, d, "orders")
      // table-level re-seed from a JVM-lifetime snapshot (see e28 note)
      fixtureOnce(s, "graft__pg15", d) {
        s.sql("CREATE TABLE graft__pg15.seed (cnt BIGINT, d STRING) USING PARQUET")
        s.sql("""INSERT INTO graft__pg15.seed
                |SELECT -1 AS cnt, date_format(o_orderdate, 'yyyy-MM-dd') AS d
                |FROM orders WHERE o_orderdate >= '1997-02-01' AND o_orderdate < '1997-03-01'
                |GROUP BY 2""".stripMargin)
      }
      reseedDest(s, "graft__pg15", "daily", "cnt BIGINT, d STRING", "d")
      val spilloverSql =
        """SELECT DISTINCT date_format(o_orderdate, 'yyyy-MM-dd') AS spill_date
          |FROM orders
          |WHERE o_orderdate >= '1997-02-01' AND o_orderdate < '1997-02-15'
          |ORDER BY 1""".stripMargin
      val mainSql =
        """SELECT count(1) AS cnt FROM orders
          |WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'""".stripMargin
      val w = CustomWindow(LocalDateTime.of(1997, 2, 1, 0, 0), LocalDateTime.of(1997, 2, 15, 0, 0))
      new TransformRunner(s).spilloverTransform(
        conf("pg15", "daily", LoadMethod.Replace), mainSql, spilloverSql, w, execTime, "d")
      s.table("graft__pg15.daily").orderBy("d")
    },

    // --- bucketed co-located join: pre-bucket both sides on the join
    //     key so the join runs with ZERO exchanges — the 100 TB strategy
    //     for repeated large-large joins ------------------------------
    "e16_bucketed_join" -> { (s, d) =>
      // materialize under the pinned no-broadcast physical plan;
      // localCheckpoint (not cache) so no cacheManager entry outlives
      // the gate in a long-lived JVM
      bucketedJoinPlan(s, d).localCheckpoint(true)
    },

    // --- dynamic partition pruning: the 100 TB fact–dim join shape -----
    "e18_dynamic_partition_pruning" -> { (s, d) =>
      // A date-partitioned fact joined to a filtered dimension on the
      // partition column: at scale the dim filter must prune fact
      // PARTITIONS at runtime (DPP), not scan 100 TB and filter rows.
      // The catalog fact table is partitioned by order year; the era
      // dim is broadcast and its filter reaches the fact scan as a
      // dynamicpruningexpression (asserted in PlanAuditSpec).
      import s.implicits._
      fixtureOnce(s, "graft__pg18", d) {
        t(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
          .write.partitionBy("o_year").mode("overwrite")
          .saveAsTable("graft__pg18.orders_p")
        (1992 to 1998)
          .map(y => (y, if (y == 1994 || y == 1995) "mid" else "other"))
          .toDF("d_year", "era")
          .write.mode("overwrite").saveAsTable("graft__pg18.years")
      }
      s.table("graft__pg18.orders_p")
        .join(s.table("graft__pg18.years").where(col("era") === "mid"),
          col("o_year") === col("d_year"))
        .groupBy(col("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("o_year"), col("o_orderstatus"))
    },

    // --- CREATE TEMP FUNCTION (SQL body) through the script runner -----
    "e17_sql_udf_script" -> { (s, d) =>
      Tables.views(s, d, "orders")
      // the UDF works in NUMERIC (exact): raw 2-dp prices cast exactly,
      // decimal multiply is exact — so the result is engine-independent
      // (a FLOAT64-computed discount would round differently at the
      // decimal boundary in DuckDB)
      val script =
        """CREATE TEMP FUNCTION discounted(price NUMERIC) RETURNS NUMERIC AS (price * 0.9);
          |SELECT o_orderpriority,
          |  CAST(SUM(discounted(CAST(o_totalprice AS NUMERIC))) AS DOUBLE) AS discounted_total
          |FROM orders
          |WHERE o_orderdate >= '1995-06-01' AND o_orderdate < '1995-09-01'
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
      new ScriptRunner(s).run(script).get
    },

    // --- BigQuery function vocabulary through the dialect layer --------
    "e22_bq_functions" -> { (s, d) =>
      // A BigQuery user's working vocabulary beyond the sample corpus:
      // COUNTIF / LOGICAL_* aggregates, SAFE_CAST / SAFE_DIVIDE,
      // STRING_AGG with ORDER BY, strftime-style FORMAT_/PARSE_DATE,
      // boundary-counting DATE_DIFF, INTERVAL date arithmetic, and
      // GENERATE_ARRAY — all submitted in BigQuery spelling and
      // rewritten by [[graft.engine.Dialect]] into codegen'd Spark
      // built-ins (no UDFs anywhere in this path).
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT
          |  o_orderpriority,
          |  COUNTIF(o_totalprice > 150000) AS n_big,
          |  LOGICAL_AND(o_totalprice > 0) AS all_pos,
          |  LOGICAL_OR(o_orderstatus = 'P') AS any_p,
          |  SAFE_DIVIDE(COUNTIF(o_orderstatus = 'P'), COUNTIF(o_orderstatus = 'X')) AS div_null,
          |  SAFE_CAST(MIN(o_orderpriority) AS INT64) AS prio_int,
          |  STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
          |  FORMAT_DATE('%Y/%m/%d', MIN(o_orderdate)) AS first_day,
          |  CAST(DATE_DIFF(DATE(MAX(o_orderdate)), DATE(MIN(o_orderdate)), DAY) AS INT64) AS span_days,
          |  CAST(DATE_DIFF(DATE(MAX(o_orderdate)), DATE(MIN(o_orderdate)), MONTH) AS INT64) AS span_months,
          |  CAST(TIMESTAMP_DIFF(TIMESTAMP('1998-08-02T12:00:00'),
          |                      TIMESTAMP('1998-08-01T00:00:00'), HOUR) AS INT64) AS hours36,
          |  CAST(ARRAY_LENGTH(GENERATE_ARRAY(1, 5)) AS INT64) AS gen5,
          |  ARRAY_TO_STRING(ARRAY_CONCAT(array('a', 'b'), array('c')), '-') AS abc
          |FROM orders
          |WHERE o_orderdate >= PARSE_TIMESTAMP('%Y-%m-%d', '1996-01-01')
          |  AND o_orderdate < CAST(DATE_ADD(DATE '1996-01-01', INTERVAL 3 MONTH) AS TIMESTAMP)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin).get
    },

    // --- vocabulary pack 2: literal-delimiter SPLIT, NULL-on-no-match
    //     REGEXP_EXTRACT, array literals + OFFSET access, BYTES-typed
    //     hashes with lowercase TO_HEX, DIV, boundary DATETIME_DIFF ----
    "e30_bq_functions2" -> { (s, d) =>
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT
          |  o_orderpriority,
          |  SPLIT(o_orderpriority, '-')[OFFSET(0)] AS prio_code,
          |  REGEXP_EXTRACT(o_orderpriority, '([0-9]+)') AS prio_digit,
          |  REGEXP_EXTRACT(o_orderpriority, 'zz([0-9]+)') AS no_match,
          |  COUNT(1) AS cnt,
          |  CAST(SUM(DIV(o_orderkey, 7)) AS INT64) AS div_sum,
          |  TO_HEX(MD5(o_orderpriority)) AS md5_hex,
          |  TO_BASE64(SHA256(o_orderpriority)) AS sha_b64,
          |  CAST(BYTE_LENGTH(o_orderpriority) AS INT64) AS n_bytes,
          |  [1, 2, 3][ORDINAL(2)] AS lit2,
          |  CAST(DATETIME_DIFF(DATETIME '1996-01-01 00:10:00',
          |                     DATETIME '1995-12-31 23:50:00', DAY) AS INT64) AS day_boundary
          |FROM orders
          |WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1995-02-01'
          |GROUP BY 1, 2, 3, 4, 7, 8, 9, 10, 11
          |ORDER BY o_orderpriority""".stripMargin).get
    },

    // --- semantic edges pinned cross-engine: Sunday-week EXTRACT,
    //     null-propagating LEAST/GREATEST, EXTRACT(DATE), ISOWEEK -----
    "e31_bq_semantics" -> { (s, d) =>
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT o_orderkey,
          |  CAST(EXTRACT(WEEK FROM o_orderdate) AS INT64) AS wk_sun,
          |  CAST(EXTRACT(ISOWEEK FROM o_orderdate) AS INT64) AS wk_iso,
          |  GREATEST(o_orderkey, o_custkey) AS g1,
          |  LEAST(o_orderkey, NULLIF(o_custkey, o_custkey)) AS l_null,
          |  CAST(EXTRACT(DATE FROM o_orderdate) AS STRING) AS d
          |FROM orders
          |WHERE o_orderdate >= '1997-06-01' AND o_orderdate < '1997-06-15'
          |ORDER BY o_orderkey""".stripMargin).get
    },

    // --- wildcard (sharded) tables + _TABLE_SUFFIX pruning -------------
    "e32_wildcard_tables" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg32")
      Seq("19960101", "19960102", "19960103").foreach { day =>
        val iso = java.time.LocalDate.parse(
          s"${day.take(4)}-${day.substring(4, 6)}-${day.substring(6)}")
        s.sql(s"""CREATE TABLE graft__pg32.daily_$day USING PARQUET AS
                 |SELECT o_orderkey, o_totalprice FROM orders
                 |WHERE o_orderdate >= '$iso' AND o_orderdate < '${iso.plusDays(1)}'"""
          .stripMargin)
      }
      new ScriptRunner(s).run(
        """SELECT _TABLE_SUFFIX AS shard, count(1) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64) AS revenue
          |FROM `graft.pg32.daily_*`
          |WHERE _TABLE_SUFFIX >= '19960102'
          |GROUP BY 1 ORDER BY 1""".stripMargin).get
    },

    // --- INFORMATION_SCHEMA.TABLES / .COLUMNS over a known dataset -----
    "e33_information_schema" -> { (s, _) =>
      // fixed DDL → fully-determined metadata, so the oracle is a
      // literal VALUES restatement (DuckDB can't see our catalog)
      freshDb(s, "graft__pg33")
      s.sql("CREATE TABLE graft__pg33.alpha (id BIGINT, name STRING) USING PARQUET")
      s.sql("CREATE TABLE graft__pg33.beta (ts TIMESTAMP, v DOUBLE, note STRING) USING PARQUET")
      s.sql("CREATE VIEW graft__pg33.gamma AS SELECT id FROM graft__pg33.alpha")
      new ScriptRunner(s).run(
        """SELECT table_name, 'TABLE' AS kind, table_type AS detail,
          |       CAST(0 AS INT64) AS pos
          |FROM `graft.pg33.INFORMATION_SCHEMA.TABLES`
          |UNION ALL
          |SELECT table_name, column_name AS kind, data_type AS detail,
          |       CAST(ordinal_position AS INT64) AS pos
          |FROM `graft.pg33.INFORMATION_SCHEMA.COLUMNS`
          |ORDER BY table_name, pos, kind""".stripMargin).get
    },

    // --- CREATE OR REPLACE TABLE ... AS (CTAS through scripting) -------
    "e34_create_table_as" -> { (s, d) =>
      Tables.views(s, d, "orders")
      freshDb(s, "graft__pg34")
      // seed an old version so OR REPLACE proves it drops before create
      s.sql("CREATE TABLE graft__pg34.ctas (old_col STRING) USING PARQUET")
      new ScriptRunner(s).run(
        """CREATE OR REPLACE TABLE `graft.pg34.ctas` AS
          |SELECT o_orderpriority, count(1) AS cnt,
          |  CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64) AS revenue
          |FROM orders
          |WHERE o_orderdate >= '1996-03-01' AND o_orderdate < '1996-04-01'
          |GROUP BY 1;
          |SELECT * FROM graft.pg34.ctas ORDER BY o_orderpriority""".stripMargin).get
    },

    // --- EXPORT DATA: write-out + read-back round trip -----------------
    "e35_export_data" -> { (s, d) =>
      Tables.views(s, d, "orders")
      val dir = Scratch.onDisk("graft_e35")
      new ScriptRunner(s).run(
        s"""EXPORT DATA OPTIONS(uri='$dir/out/part-*.csv', format='CSV',
           |  header=true, overwrite=true) AS
           |SELECT o_orderpriority, count(1) AS cnt FROM orders
           |WHERE o_orderdate >= '1996-06-01' AND o_orderdate < '1996-07-01'
           |GROUP BY 1""".stripMargin)
      s.read.option("header", "true")
        .schema("o_orderpriority STRING, cnt BIGINT")
        .csv(s"$dir/out")
        .orderBy("o_orderpriority")
    },

    // --- LOAD DATA FROM FILES: EXPORT DATA's read-side twin -------------
    "e53_load_data" -> { (s, d) =>
      // BigQuery's batch-load statement. The gate proves both modes and
      // both schema sources: OVERWRITE with an explicit column list
      // creates the table from CSV part files EXPORT DATA wrote, then
      // INTO (no column list — schema comes from the existing
      // destination) appends the same files, so every row appears
      // exactly twice. The load is a distributed scan → catalog write;
      // only the row count touches the driver.
      Tables.views(s, d, "nation")
      freshDb(s, "graft__pg53")
      val dir = Scratch.onDisk("graft_e53")
      new ScriptRunner(s).run(
        s"""EXPORT DATA OPTIONS(uri='$dir/nat/part-*.csv', format='CSV',
           |  header=true, overwrite=true) AS
           |SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey < 2;
           |LOAD DATA OVERWRITE `graft.pg53.loaded`
           |  (n_nationkey INT64, n_name STRING, n_regionkey INT64)
           |FROM FILES(format='CSV', uris=['$dir/nat/part-*.csv'], skip_leading_rows=1);
           |LOAD DATA INTO `graft.pg53.loaded`
           |FROM FILES(format='CSV', uris=['$dir/nat/part-*.csv'], skip_leading_rows=1);
           |SELECT n_nationkey, n_name, n_regionkey, COUNT(1) AS copies
           |FROM graft.pg53.loaded GROUP BY 1, 2, 3 ORDER BY n_nationkey""".stripMargin).get
    },

    // --- CREATE EXTERNAL TABLE: live reads over files ------------------
    "e54_external_table" -> { (s, d) =>
      // BigQuery external-table DDL: unlike LOAD DATA (a snapshot into
      // managed storage), the external table reads the files LIVE at
      // every query. Maps to a Spark catalog table USING CSV over the
      // exported glob — the scan (with pushdown) happens at SELECT
      // time, never at DDL time.
      Tables.views(s, d, "region")
      freshDb(s, "graft__pg54")
      val dir = Scratch.onDisk("graft_e54")
      new ScriptRunner(s).run(
        s"""EXPORT DATA OPTIONS(uri='$dir/reg/part-*.csv', format='CSV',
           |  header=true, overwrite=true) AS
           |SELECT r_regionkey, r_name FROM region;
           |CREATE EXTERNAL TABLE `graft.pg54.ext` (r_regionkey INT64, r_name STRING)
           |OPTIONS(format='CSV', uris=['$dir/reg/part-*.csv'], skip_leading_rows=1);
           |SELECT r_regionkey, r_name FROM graft.pg54.ext ORDER BY r_regionkey"""
          .stripMargin).get
    },

    // --- QUALIFY: post-window filtering in BigQuery evaluation order ---
    "e23_qualify" -> { (s, d) =>
      // Latest-order-per-customer, the canonical QUALIFY use. The
      // dialect rewrites it to a subquery whose window expressions
      // evaluate before the filter — one shuffle on the partition key,
      // same plan as a hand-written row_number subquery.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT o_custkey, CAST(DATE(o_orderdate) AS STRING) AS order_date, o_totalprice
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-03-01'
          |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
          |ORDER BY o_custkey""".stripMargin).get
    },

    // --- FROM-position UNNEST with ordinal offset -----------------------
    "e24_from_unnest" -> { (s, d) =>
      // BigQuery's table-operator UNNEST (with WITH OFFSET) → Spark
      // LATERAL VIEW posexplode: per-row array flattening stays inside
      // whole-stage codegen, no shuffle introduced by the generator.
      Tables.views(s, d, "orders")
      new ScriptRunner(s).run(
        """SELECT o_orderkey, tag, CAST(off AS INT64) AS off
          |FROM (SELECT o_orderkey, array('x', 'y', 'z') AS tags
          |      FROM orders WHERE o_orderkey < 50) t,
          |  UNNEST(t.tags) AS tag WITH OFFSET AS off
          |ORDER BY o_orderkey, off""".stripMargin).get
    }
  )

  val oracleSql: Map[String, String] = Map(
    "e46_repeat_case_script" ->
      """SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon,
        |  count(1) AS cnt, 'complete' AS verdict
        |FROM orders
        |WHERE EXTRACT(YEAR FROM o_orderdate) = 1995
        |  AND EXTRACT(MONTH FROM o_orderdate) <= 3
        |GROUP BY 1 ORDER BY mon""".stripMargin,

    "e44_instr" ->
      """SELECT doc_id,
        |  CAST(instr(text, 'the') AS BIGINT) AS p1,
        |  CAST(CASE WHEN instr(substr(text, 5), 'the') = 0 THEN 0
        |       ELSE instr(substr(text, 5), 'the') + 4 END AS BIGINT) AS p2,
        |  CAST(CASE WHEN instr(text, 'the') = 0 THEN 0
        |       WHEN instr(substr(text, instr(text, 'the') + 1), 'the') = 0 THEN 0
        |       ELSE instr(text, 'the')
        |         + instr(substr(text, instr(text, 'the') + 1), 'the') END AS BIGINT) AS p3,
        |  CAST(CASE WHEN instr(reverse(text), reverse('the')) = 0 THEN 0
        |       ELSE length(text) - 1 - instr(reverse(text), reverse('the')) END AS BIGINT) AS p4
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // expected fingerprints precomputed from the kernel, which is
    // itself anchored by the published ''/k2 and 'abc' vectors (and by
    // FarmHashSpec's per-branch coverage) — this VALUES oracle turns
    // FarmHash drift into a hash-gate failure
    "e45b_farm_fingerprint_fixture" ->
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(-7286425919675154353 AS BIGINT)),
        |  (1, -5528939962900187677),
        |  (2, 2640714258260161385),
        |  (3, -8236639965996807062),
        |  (4, 9177206421943589912),
        |  (5, 6105018409752412263),
        |  (6, -6422696535518490038),
        |  (7, -6071270166956912332),
        |  (8, -1553158580277161704),
        |  (9, -1667097326275720742),
        |  (10, -5713926820395479967),
        |  (11, 5989536810975750178)
        |) AS t(id, fp) ORDER BY id""".stripMargin,

    "e47_pack6_analytics" ->
      """WITH tc AS (
        |  SELECT o_orderstatus, o_orderpriority AS v,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    CAST(sum(o_orderkey % 97) AS BIGINT) AS wsum
        |  FROM orders GROUP BY 1, 2
        |), topc AS (
        |  SELECT o_orderstatus, 'count' AS kind, v, cnt AS w,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY cnt DESC, v) AS rn
        |  FROM tc
        |), tops AS (
        |  SELECT o_orderstatus, 'sum' AS kind, v, wsum AS w,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |                       ORDER BY wsum DESC, v) AS rn
        |  FROM tc
        |), pct AS (
        |  SELECT o_orderstatus,
        |    list_sort(list(o_custkey)) AS arr,
        |    count(*) AS n
        |  FROM orders GROUP BY 1
        |), p AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN n % 2 = 1 THEN CAST(arr[CAST((n + 1) // 2 AS INT)] AS DOUBLE)
        |         ELSE (arr[CAST(n // 2 AS INT)] + arr[CAST(n // 2 + 1 AS INT)]) / 2.0
        |    END AS med_cont,
        |    CAST(arr[CAST(ceil(0.25 * n) AS INT)] AS BIGINT) AS q1_disc
        |  FROM pct
        |)
        |SELECT c.o_orderstatus, c.kind, c.v, c.w, p.med_cont, p.q1_disc
        |FROM (SELECT * FROM topc WHERE rn <= 3
        |      UNION ALL SELECT * FROM tops WHERE rn <= 2) c
        |JOIN p ON c.o_orderstatus = p.o_orderstatus
        |ORDER BY c.o_orderstatus, c.kind, c.w DESC, c.v""".stripMargin,

    "e48_agg_modifiers" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderpriority, o_orderkey) AS last_prio,
        |  arg_min(o_orderpriority, o_orderkey) AS first_prio,
        |  array_to_string(list(o_orderpriority ORDER BY o_orderkey)[1:5], ',') AS first5,
        |  array_to_string(list(o_orderpriority ORDER BY o_orderkey DESC)[1:3], ',') AS last3
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "e01_script_runner" ->
      """SELECT o_orderpriority, count(1) AS cnt
        |FROM orders
        |WHERE o_totalprice > 150000 AND o_orderstatus IN ('F', 'O')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "e02_replace_partitioned" ->
      """SELECT count(1) AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |FROM orders
        |WHERE (o_orderdate >= TIMESTAMP '1995-12-29' AND o_orderdate < TIMESTAMP '1995-12-31')
        |   OR (o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-01-04')
        |GROUP BY 2 ORDER BY d""".stripMargin,

    "e03_replace_all" ->
      """SELECT cnt, revenue, d FROM (
        |  SELECT count(1) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |    '1997-12-01' AS d
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-12-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |  UNION ALL
        |  SELECT count(1) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |    '1998-01-01' AS d
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1998-02-01'
        |) ORDER BY d""".stripMargin,

    "e04_merge_dml" ->
      """WITH seed AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date, count(1) AS count
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-05' AND o_orderdate < TIMESTAMP '1996-01-20'
        |    AND o_orderstatus = 'F'
        |  GROUP BY 1
        |), src AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date, count(1) AS count
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-01-16'
        |  GROUP BY 1
        |)
        |SELECT coalesce(s.date, n.date) AS date,
        |  CAST(coalesce(n.count, s.count) AS BIGINT) AS count
        |FROM seed s FULL OUTER JOIN src n ON s.date = n.date
        |ORDER BY date""".stripMargin,

    "e05_append" ->
      """SELECT o_orderkey, o_totalprice, load_timestamp FROM (
        |  SELECT o_orderkey, o_totalprice, TIMESTAMP '2024-01-01 00:00:00' AS load_timestamp
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-01-03'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, TIMESTAMP '2024-05-01 10:00:00' AS load_timestamp
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-02-01' AND o_orderdate < TIMESTAMP '1995-02-03'
        |) ORDER BY o_orderkey, load_timestamp""".stripMargin,

    "e06_lineage" ->
      """SELECT * FROM (VALUES
        |  ('catalyst', 'proj.playground.booking_log'),
        |  ('catalyst', 'proj.playground.users'),
        |  ('ignored',  'proj.audit.access_log'),
        |  ('ignored',  'proj:audit.access_log'),
        |  ('regex',    'proj.playground.booking_log'),
        |  ('regex',    'proj.playground.users')
        |) AS t(method, dep) ORDER BY method, dep""".stripMargin,

    // auto mode replaces ONLY partitions present in the source (the
    // generated MERGE deletes IN UNNEST(source partitions)); February
    // dates with no 'F' orders keep their seeded counts.
    "e07_merge_replace_auto" ->
      """WITH feb_f AS (
        |  SELECT count(1) AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-02-01' AND o_orderdate < TIMESTAMP '1996-03-01'
        |    AND o_orderstatus = 'F'
        |  GROUP BY 2
        |), seed AS (
        |  SELECT count(1) AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-03-01'
        |  GROUP BY 2
        |)
        |SELECT cnt, d FROM (
        |  SELECT * FROM seed WHERE d NOT IN (SELECT d FROM feb_f)
        |  UNION ALL
        |  SELECT * FROM feb_f
        |) ORDER BY d""".stripMargin,

    "e08_merge_replace_filter" ->
      """SELECT cnt, d FROM (
        |  SELECT count(1) AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT count(1) AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-02-01' AND o_orderdate < TIMESTAMP '1996-02-11'
        |    AND o_orderstatus = 'F'
        |  GROUP BY 2
        |) ORDER BY d""".stripMargin,

    "e09_delete" ->
      """SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d, count(1) AS cnt
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-10' AND o_orderdate < TIMESTAMP '1996-02-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "e50_vector_search" ->
      """WITH q AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id >= 100 AND vec_id < 105
        |), d AS (
        |  SELECT q.vec_id AS qid, b.vec_id AS nid,
        |    sqrt(list_reduce(list_transform(range(1, len(b.embedding) + 1),
        |      i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
        |         * (CAST(q.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))),
        |      (a, x) -> a + x)) AS dist
        |  FROM q CROSS JOIN embeddings b
        |), r AS (
        |  SELECT qid, nid, dist,
        |    row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS rn
        |  FROM d
        |)
        |SELECT qid, nid, round(dist, 4) AS dist
        |FROM r WHERE rn <= 3 ORDER BY qid, nid""".stripMargin,

    "e52_clone_snapshot" ->
      """WITH g AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
        |    CAST(count(1) AS BIGINT) AS cnt
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-03-01'
        |    AND o_orderdate < TIMESTAMP '1997-03-15'
        |  GROUP BY 1
        |)
        |SELECT * FROM (
        |  SELECT 'base' AS src, CAST(count(1) AS BIGINT) AS n_rows,
        |    CAST(sum(cnt) AS BIGINT) AS total
        |  FROM g WHERE d < '1997-03-08'
        |  UNION ALL
        |  SELECT 'clone' AS src, CAST(count(1) AS BIGINT) AS n_rows,
        |    CAST(sum(cnt) AS BIGINT) AS total
        |  FROM g
        |) ORDER BY src""".stripMargin,

    "e51_search_fn" ->
      """WITH tk AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(text),
        |      '[\s\[\]<>(){}|!;,''"*&?+/:=@.\-$%\\_]+'), t -> t != '') AS toks
        |  FROM documents
        |)
        |SELECT doc_id, lang FROM tk
        |WHERE list_contains(toks, 'vector') AND list_contains(toks, 'stream')
        |ORDER BY doc_id""".stripMargin,

    "e49_time_travel" ->
      """WITH base AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d, count(1) AS cnt
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
        |  GROUP BY 1
        |)
        |SELECT version, n_days, n_orders FROM (
        |  SELECT 'asof' AS version, CAST(count(1) AS BIGINT) AS n_days,
        |    CAST(sum(cnt) AS BIGINT) AS n_orders
        |  FROM base
        |  UNION ALL
        |  SELECT 'current' AS version, CAST(count(1) AS BIGINT) AS n_days,
        |    CAST(sum(cnt) AS BIGINT) AS n_orders
        |  FROM base WHERE d >= '1996-01-10'
        |) ORDER BY version""".stripMargin,

    "e10_ingestion_time_replace" ->
      """SELECT event_type, cnt, _ingest_date FROM (
        |  SELECT event_type, count(1) AS cnt, CAST(CAST(ts AS DATE) AS VARCHAR) AS _ingest_date
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-08'
        |  GROUP BY 1, 3
        |  UNION ALL
        |  SELECT event_type, count(1) AS cnt, CAST(CAST(ts AS DATE) AS VARCHAR) AS _ingest_date
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-13'
        |  GROUP BY 1, 3
        |) ORDER BY _ingest_date, event_type""".stripMargin,

    "e11_dryrun_metrics" ->
      """SELECT * FROM (VALUES
        |  ('dest_rows_after_dryrun', CAST(1 AS BIGINT)),
        |  ('xcom_json_well_formed', CAST(1 AS BIGINT))
        |) AS t(probe, "value") ORDER BY probe""".stripMargin,

    "e12_external_source_udf" ->
      """SELECT DISTINCT lower(trim(replace(source, 'src', 'source_'))) AS tag, lang,
        |  CAST(CAST(count(1) AS DECIMAL(38,9)) AS DOUBLE) AS total_sample
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e19_json_source" ->
      """SELECT lang, count(1) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE source <> 'src0' GROUP BY 1 ORDER BY 1""".stripMargin,

    // the WHILE loop finds the smallest k (steps of 25000) with fewer
    // than 1000 orders above it — restated as a min-over-range scan
    "e20_script_control_flow" ->
      """WITH ks AS (SELECT k FROM range(0, 100) t(k)),
        |cnt AS (SELECT k, (SELECT count(1) FROM orders WHERE o_totalprice > k*100000) AS c FROM ks),
        |sel AS (SELECT min(k) AS k FROM cnt WHERE c < 1000)
        |SELECT CASE WHEN k*100000 > 400000 THEN 'high' ELSE 'low' END AS band,
        |  o_orderstatus, count(1) AS cnt,
        |  CAST(k*100000 AS BIGINT) AS final_threshold, CAST(k AS BIGINT) AS n_iterations
        |FROM orders, sel WHERE o_totalprice > k*100000
        |GROUP BY 1, 2, 4, 5 ORDER BY o_orderstatus""".stripMargin,

    "e21_partition_compaction" ->
      """SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
        |  count(1) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS n_files
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-03-04'
        |GROUP BY 1 ORDER BY d""".stripMargin,

    "e13_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice, test_column FROM (
        |  SELECT o_orderkey, o_totalprice, NULL AS test_column
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-03-08'
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus AS test_column
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-04-01' AND o_orderdate < TIMESTAMP '1995-04-08'
        |) ORDER BY o_orderkey""".stripMargin,

    "e36_range_append" ->
      """SELECT CAST(floor(o_custkey/100)*100 AS INT) AS bucket, count(1) AS total
        |FROM orders
        |WHERE o_custkey < 1000
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-03-01'
        |GROUP BY 1 ORDER BY bucket""".stripMargin,

    "e37_star_replace" ->
      """SELECT o_orderkey, upper(o_orderpriority) AS o_orderpriority,
        |  o_totalprice * 2 AS o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-03-08'
        |ORDER BY o_orderkey""".stripMargin,

    "e38_range_replace" ->
      """SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-02-01' AND o_orderdate < TIMESTAMP '1996-03-01'
        |  AND o_custkey < 200
        |GROUP BY 2 ORDER BY bucket""".stripMargin,

    "e28_range_partitioned" ->
      """WITH fresh AS (
        |  SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-02-01' AND o_orderdate < TIMESTAMP '1996-03-01'
        |    AND o_custkey < 200
        |  GROUP BY 2
        |), seed AS (
        |  SELECT count(1) AS cnt, CAST(floor(o_custkey/100)*100 AS INT) AS bucket
        |  FROM orders
        |  WHERE o_custkey < 1000
        |    AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-03-01'
        |  GROUP BY 2
        |)
        |SELECT cnt, bucket FROM fresh
        |UNION ALL
        |SELECT cnt, bucket FROM seed WHERE bucket NOT IN (SELECT bucket FROM fresh)
        |ORDER BY bucket""".stripMargin,

    "e39_literal_forms" ->
      """SELECT o_orderkey,
        |  regexp_extract(o_orderpriority, '\d+') AS prio_num,
        |  'it''s a "test"' AS tq,
        |  CAST(1.25 AS DOUBLE) AS num,
        |  'a\.b' AS raw_s
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-03-08'
        |ORDER BY o_orderkey""".stripMargin,

    "e40_hll_script" ->
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS exact_custkeys,
        |  true AS within_5pct, true AS merge_within_5pct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "e42_pivot_unpivot" ->
      """SELECT o_orderpriority AS prio,
        |  'Q' || CAST(EXTRACT(quarter FROM o_orderdate) AS VARCHAR) AS qtr,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e43_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(count(1) AS BIGINT) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01' AND o_orderdate < TIMESTAMP '1995-07-01'
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "e41_procedures" ->
      """WITH agg AS (
        |  SELECT o_orderstatus AS status, count(1) AS cnt,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders
        |  WHERE o_orderstatus IN ('F', 'O') AND o_totalprice < 150000.0
        |  GROUP BY 1
        |), g AS (
        |  SELECT 0.0 + (SELECT revenue FROM agg WHERE status = 'F')
        |             + (SELECT revenue FROM agg WHERE status = 'O') AS grand_total
        |)
        |SELECT a.status, a.cnt, a.revenue, g.grand_total
        |FROM agg a, g ORDER BY a.status""".stripMargin,

    "e29_field_relaxation" ->
      """SELECT o_orderkey, note FROM (
        |  SELECT o_orderkey, o_orderstatus AS note
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-03-01' AND o_orderdate < TIMESTAMP '1995-03-08'
        |  UNION ALL
        |  SELECT o_orderkey, NULL AS note
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-04-01' AND o_orderdate < TIMESTAMP '1995-04-08'
        |) ORDER BY o_orderkey""".stripMargin,

    "e14_partition_decorator" ->
      """SELECT cnt, d FROM (
        |  SELECT count(1) AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-05-01' AND o_orderdate < TIMESTAMP '1996-05-04'
        |    AND CAST(CAST(o_orderdate AS DATE) AS VARCHAR) <> '1996-05-02'
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT count(1) AS cnt, '1996-05-02' AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-05-02' AND o_orderdate < TIMESTAMP '1996-05-03'
        |    AND o_orderstatus <> 'P'
        |) ORDER BY d""".stripMargin,

    // Feb 1-14 partitions get recomputed true counts; the rest of the
    // seeded month keeps the sentinel -1.
    "e15_spillover" ->
      """SELECT cnt, d FROM (
        |  SELECT count(1) AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-02-01' AND o_orderdate < TIMESTAMP '1997-02-15'
        |  GROUP BY 2
        |  UNION ALL
        |  SELECT -1 AS cnt, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-02-15' AND o_orderdate < TIMESTAMP '1997-03-01'
        |  GROUP BY 2
        |) ORDER BY d""".stripMargin,

    "e16_bucketed_join" ->
      """SELECT c_mktsegment, count(1) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "e18_dynamic_partition_pruning" ->
      """SELECT year(o_orderdate) AS o_year, o_orderstatus, count(1) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE year(o_orderdate) IN (1994, 1995)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e17_sql_udf_script" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1))) AS DOUBLE) AS discounted_total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01' AND o_orderdate < TIMESTAMP '1995-09-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "e25_orc_source" ->
      """SELECT lang, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE source <> 'src0' GROUP BY 1 ORDER BY 1""".stripMargin,

    "e27_update_truncate" ->
      """SELECT d, status, cnt FROM (
        |  SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
        |    o_orderstatus AS status,
        |    CAST(count(1) + CASE WHEN o_orderstatus = 'F' THEN 1000000 ELSE 0 END AS BIGINT) AS cnt
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-03-08'
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT '__truncated__' AS d, 'n/a' AS status, CAST(0 AS BIGINT) AS cnt
        |) ORDER BY d, status""".stripMargin,

    // replays the executor-side generator: every field is a pure
    // function of md5(doc_id)
    "e26_synthetic_source" ->
      """WITH ids AS (SELECT unnest(range(0, 10000)) AS doc_id),
        |g AS (
        |  SELECT doc_id,
        |    'l' || CAST(('0x' || substring(md5('lang-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS VARCHAR) AS lang,
        |    20 + ('0x' || substring(md5('len-' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 30 AS n_tokens
        |  FROM ids
        |)
        |SELECT lang, count(1) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM g WHERE doc_id % 3 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "e35_export_data" ->
      """SELECT o_orderpriority, count(1) AS cnt FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-06-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "e53_load_data" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey, CAST(2 AS BIGINT) AS copies
        |FROM nation WHERE n_regionkey < 2 ORDER BY n_nationkey""".stripMargin,

    "e54_external_table" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        |FROM region ORDER BY r_regionkey""".stripMargin,

    "e57_scripted_transaction" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, CAST(n_regionkey AS BIGINT) AS r
        |FROM nation WHERE n_regionkey < 3
        |UNION ALL
        |SELECT CAST(n_nationkey + 100 AS BIGINT), CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_regionkey = 0
        |ORDER BY id""".stripMargin,

    "e56_materialized_view" ->
      """SELECT o_orderpriority, count(1) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
        |  AND o_totalprice >= 50000
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "e61_ddl_lifecycle" ->
      """SELECT CAST(r_regionkey AS BIGINT) + 100 AS k2, r_name AS name
        |FROM region ORDER BY k2""".stripMargin,

    // DuckDB's json_object/json_array share the canonical encoding;
    // type names and conversions restate as plain expressions
    // independent re-derivations: DuckDB's own make_timestamp/printf/
    // dayofweek arithmetic (0=Sunday) and integer IP math
    // the same bucket spine + window fills, restated: generate_series
    // buckets, IGNORE NULLS last/first_value, identical IEEE linear
    // expression over epoch micros
    // leg 1 expected values are literals (no PSL in DuckDB — they are
    // BigQuery's documented outputs, pinned by the DialectExecSpec PSL
    // suite); leg 2 re-derives with string math since the suffix is
    // fixed by construction
    // half-boundary rounding restated arithmetically (k+0.5 rounds to k
    // iff k even under HALF_EVEN, always k+1 under HALF_AWAY); the
    // SPLIT_SUBSTR tail-after-first-'A' collapses to a substr
    "e80_wave15_vocab" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  CAST(CASE WHEN n_nationkey % 2 = 0 THEN n_nationkey
        |            ELSE n_nationkey + 1 END AS BIGINT) AS r_even,
        |  CAST(n_nationkey + 1 AS BIGINT) AS r_away,
        |  CAST(CASE WHEN n_nationkey > 12 THEN 1 WHEN n_nationkey < 12 THEN -1
        |            ELSE 0 END AS BIGINT) AS sgn,
        |  n_nationkey IN (2, 3, 5, 7, 11, 13, 17, 19, 23) AS is_prime,
        |  true AS mod_ok,
        |  CASE WHEN strpos(n_name, 'A') = 0 THEN ''
        |       ELSE substr(n_name, strpos(n_name, 'A') + 1) END AS tail_a
        |FROM nation ORDER BY id""".stripMargin,

    // the pipe chain restated as standard SQL (DuckDB has no pipes)
    "e79_pipe_syntax" ->
      """SELECT o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders WHERE o_orderkey <= 3000
        |GROUP BY prio ORDER BY prio""".stripMargin,

    // the UDF bodies restated inline (exact integer-derived doubles)
    "e78_persistent_udf" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  CAST(n_nationkey AS DOUBLE) * (1 + 0.5) AS taxed,
        |  'n-' || CAST(n_nationkey AS VARCHAR) AS lbl
        |FROM nation ORDER BY id""".stripMargin,

    // the identical haversine spelled out (same constant, same
    // association order); sin is squared by self-multiply so the
    // argument sign convention cannot matter
    "e77_geography" ->
      """WITH pts AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    CAST(n_nationkey * 29 % 320 AS DOUBLE) - 159.5 AS lon,
        |    CAST(n_nationkey * 17 % 160 AS DOUBLE) - 79.75 AS lat
        |  FROM nation
        |), dist AS (
        |  SELECT id, lon, lat,
        |    (2.0 * 6371010.0 * asin(least(1.0, sqrt(
        |      sin(((0.25 * 0.017453292519943295) - (lat * 0.017453292519943295)) / 2.0)
        |        * sin(((0.25 * 0.017453292519943295) - (lat * 0.017453292519943295)) / 2.0)
        |      + cos(lat * 0.017453292519943295) * cos(0.25 * 0.017453292519943295)
        |        * sin(((0.25 * 0.017453292519943295) - (lon * 0.017453292519943295)) / 2.0)
        |        * sin(((0.25 * 0.017453292519943295) - (lon * 0.017453292519943295)) / 2.0)
        |    )))) AS hav
        |  FROM pts
        |)
        |SELECT id, lon AS x, lat AS y,
        |  'POINT(' || regexp_replace(CAST(lon AS VARCHAR), '\.0$', '')
        |    || ' ' || regexp_replace(CAST(lat AS VARCHAR), '\.0$', '') || ')' AS wkt,
        |  CAST(round(hav) AS BIGINT) AS dist_m,
        |  hav <= 5000000.0 AS within_5000km,
        |  lon AS rt_x
        |FROM dist ORDER BY id""".stripMargin,

    // segment-by-segment haversine restatement (same constant, same
    // association order as the engine's left-to-right fold; a 2-term
    // double sum is order-exact because IEEE addition is commutative)
    "e81_geography_linestring" -> {
      def hav(lat1: String, lon1: String, lat2: String, lon2: String): String = {
        val d2r = "0.017453292519943295"
        val sdlat = s"sin((($lat2 * $d2r) - ($lat1 * $d2r)) / 2.0)"
        val sdlon = s"sin((($lon2 * $d2r) - ($lon1 * $d2r)) / 2.0)"
        s"(2.0 * 6371010.0 * asin(least(1.0, sqrt($sdlat * $sdlat + " +
          s"cos($lat1 * $d2r) * cos($lat2 * $d2r) * $sdlon * $sdlon))))"
      }
      s"""WITH pts AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS id,
         |    CAST(n_nationkey * 29 % 320 AS DOUBLE) - 159.5 AS lon,
         |    CAST(n_nationkey * 17 % 160 AS DOUBLE) - 79.75 AS lat
         |  FROM nation)
         |SELECT id,
         |  CAST(round(${hav("lat", "lon", "lat", "(lon + 1.0)")}
         |    + ${hav("lat", "(lon + 1.0)", "(lat - 1.0)", "(lon + 1.0)")}) AS BIGINT)
         |    AS len_m,
         |  CAST(round(${hav("0.0", "0.0", "0.0", "1.0")}
         |    + ${hav("0.0", "1.0", "1.0", "1.0")}) AS BIGINT) AS unit_len_m
         |FROM pts ORDER BY id""".stripMargin
    },

    // every pairing's truth value is fixed by construction (probes
    // ≥ 0.25° from vertices; geodesic bulge < 0.004° over these spans)
    "e86_geography_intersects" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  true AS line_cross, true AS line_inside, false AS line_out,
        |  true AS ll_cross, false AS ll_miss, true AS pp_overlap,
        |  false AS pp_far, true AS pp_inner, true AS pt_flipped
        |FROM nation ORDER BY id""".stripMargin,

    // every containment verdict fixed by construction (margins ≥ 0.1°,
    // geodesic bulge < 0.004°): the interior line holds in the plain
    // quad, fails over/inside the hole, holds beside it; the interior
    // polygon holds, the hole-spanning one trips the a-hole-inside-b
    // test, the overlapping one fails the vertex test
    "e89_geography_contains_shapes" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  true AS ln_in, false AS ln_over_hole, false AS ln_in_hole,
        |  true AS ln_beside_hole, true AS pp_in, false AS pp_spans_hole,
        |  false AS pp_overlap, true AS within_ln, true AS covers_pp
        |FROM nation ORDER BY id""".stripMargin,

    // the vector is published; the laws hold by construction
    "e95_geohash" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, 'ezs42' AS vec,
        |  true AS rt, true AS pfx, CAST(20 AS BIGINT) AS dlen
        |FROM nation ORDER BY id""".stripMargin,

    // the sketch is exact below precision, so the oracle replicates
    // the engine's documented rank rule (smallest v with rank ≥
    // max(1, ceil(φ·n))) with window functions; all values BIGINT
    "e94_kll_quantiles" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS p, CAST(o_orderkey AS BIGINT) AS v
        |  FROM orders),
        |r AS (
        |  SELECT p, v,
        |    row_number() OVER (PARTITION BY p ORDER BY v) AS rn,
        |    count(*) OVER (PARTITION BY p) AS n
        |  FROM d),
        |g AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    count(*) OVER () AS n
        |  FROM d)
        |SELECT p,
        |  min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) AS med,
        |  min(CASE WHEN rn >= ceil(0.25 * n) THEN v END) AS q1,
        |  min(v) AS mn, max(v) AS mx,
        |  (SELECT min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) FROM g) AS gmed,
        |  (SELECT min(CASE WHEN rn >= ceil(0.5 * n) THEN v END) FROM g) AS gmid,
        |  (SELECT max(v) FROM g) AS gmax
        |FROM r GROUP BY p ORDER BY p""".stripMargin,

    // this testdata's nation names are NATION_<k> — '_' is in the
    // delimiter class, so the token join is lower+replace on '_' and
    // every name yields exactly 2 tokens; the punctuation leg is a
    // constant by construction
    "e93_text_analyze" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  replace(lower(n_name), '_', '/') AS toks,
        |  CAST(2 AS BIGINT) AS ntok,
        |  'a/b/c/d/e/f' AS punct, n_name AS noop
        |FROM nation ORDER BY id""".stripMargin,

    // shape constants by construction; accessor coordinates are exact
    // additions, bit-identical across engines
    "e92_geography_metadata" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  'ST_Point' AS t_pt, 'ST_LineString' AS t_ln, 'ST_Polygon' AS t_pg,
        |  CAST(3 AS BIGINT) AS np_ln, CAST(8 AS BIGINT) AS np_pg,
        |  CAST(1 AS BIGINT) AS dim_ln,
        |  CAST(n_nationkey * 29 % 320 AS DOUBLE) - 159.5 AS sx,
        |  CAST(n_nationkey * 17 % 160 AS DOUBLE) - 79.75 + 1.0 AS ey,
        |  CAST(n_nationkey * 29 % 320 AS DOUBLE) - 159.5 + 2.0 AS mx,
        |  CAST(n_nationkey * 17 % 160 AS DOUBLE) - 79.75 AS my
        |FROM nation ORDER BY id""".stripMargin,

    // interop law: the plaintext of the externally-produced (openssl)
    // CBC ciphertext is a fixed constant; roundtrip/lengths likewise
    "e91_aes_cbc_raw_keys" ->
      """SELECT CAST(1 AS BIGINT) AS id, 'row-level cbc interop' AS cbc_pt,
        |  'rt' AS gcm_rt, CAST(2 AS BIGINT) AS n, CAST(3 AS BIGINT) AS n24""".stripMargin,

    // the oracle recomputes every '_'-joined crossing; even ids NULL out
    "e90_ml_feature_cross" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  n_name || '_' || CAST(n_regionkey AS VARCHAR) AS nm_rk,
        |  CAST(n_regionkey AS VARCHAR) || '_' || SUBSTR(n_name, 1, 1) AS rk_ini,
        |  n_name || '_' || CAST(n_regionkey AS VARCHAR) || '_'
        |    || SUBSTR(n_name, 1, 1) AS triple,
        |  CASE WHEN n_nationkey % 2 = 0 THEN NULL
        |       ELSE n_name || '_x' END AS with_null
        |FROM nation ORDER BY id""".stripMargin,

    // every bucket label fixed by construction (boundaries 5.25/9.5/
    // 13.75 for leg 'u'; exact-2.0 median tie → lower bucket for 'ties')
    "e85_ml_quantile_bucketize" ->
      """SELECT 'u' AS leg, CAST(x AS BIGINT) AS id,
        |  CASE WHEN x <= 5 THEN 'bin_1' WHEN x <= 9 THEN 'bin_2'
        |       WHEN x <= 13 THEN 'bin_3' ELSE 'bin_4' END AS bkt
        |FROM range(1, 19) t(x)
        |UNION ALL
        |SELECT 'ties', i, b FROM (VALUES
        |  (CAST(0 AS BIGINT), 'bin_1'), (1, 'bin_1'), (2, 'bin_1'),
        |  (3, 'bin_1'), (4, 'bin_2'), (5, 'bin_2')) AS v(i, b)
        |ORDER BY leg, id""".stripMargin,

    // interop laws: every output is a constant fixed by the Tink wire
    // layout (type URLs, TINK prefix byte, ciphertext arithmetic) or a
    // roundtrip identity — keys are random per run, outcomes are not
    "e87_tink_keyset_interop" ->
      """SELECT CAST(1 AS BIGINT) AS id,
        |  'type.googleapis.com/google.crypto.tink.AesGcmKey' AS gcm_url,
        |  'type.googleapis.com/google.crypto.tink.AesSivKey' AS siv_url,
        |  'TINK' AS prefix, 'ENABLED' AS status,
        |  CAST(2 AS BIGINT) AS rot_len, CAST(2 AS BIGINT) AS add16_len,
        |  'interop' AS json_rt, 'det' AS det_rt,
        |  '01' AS tink_first_byte, CAST(34 AS BIGINT) AS ct_len,
        |  'env' AS chain_rt, 'moved' AS rewrap_rt, true AS wrong_res""".stripMargin,

    // truth values fixed by construction; DuckDB's own empty-input
    // array_agg/string_agg also yield NULL, so the booleans double-check
    "e88_empty_agg_null" ->
      """SELECT CAST(1 AS BIGINT) AS id,
        |  true AS arr_null, true AS arr_ord_null, true AS arr_dist_null,
        |  true AS str_null, true AS str_ord_null,
        |  CAST(0 AS BIGINT) AS n, 'a-b-c' AS nonempty,
        |  true AS empty_frame_null, 'a,b' AS trailing_frame""".stripMargin,

    // the probe points' membership is fixed by construction
    "e84_geography_contains" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  true AS inside, false AS outside, false AS in_hole,
        |  true AS in_shell, true AS within_q, false AS isect_out
        |FROM nation ORDER BY id""".stripMargin,

    "e83_tojson_chr" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), '{"a":"x","b":1}', '1', 'a', 'π'),
        |  (2, '{"a":"x","b":2}', '2', 'b', 'ρ'),
        |  (3, '{"a":"x","b":3}', '3', 'c', 'ς')
        |) AS t(id, j, jn, low, greek) ORDER BY id""".stripMargin,

    // the full van Oosterom–Strackee chain restated vertex-by-vertex
    // with the kernel's exact association order (SphericalGeo.scala);
    // INT64 casts absorb Java-vs-libm trig last-ulp drift
    "e82_geography_polygon" -> {
      val d2r = "0.017453292519943295"
      def ux(lon: String, lat: String) = s"(cos($lat * $d2r) * cos($lon * $d2r))"
      def uy(lon: String, lat: String) = s"(cos($lat * $d2r) * sin($lon * $d2r))"
      def uz(lat: String) = s"sin($lat * $d2r)"
      type P = (String, String)
      def tri(p0: P, p1: P, p2: P): String = {
        val (x0, y0, z0) = (ux(p0._1, p0._2), uy(p0._1, p0._2), uz(p0._2))
        val (x1, y1, z1) = (ux(p1._1, p1._2), uy(p1._1, p1._2), uz(p1._2))
        val (x2, y2, z2) = (ux(p2._1, p2._2), uy(p2._1, p2._2), uz(p2._2))
        val det = s"$x0 * ($y1 * $z2 - $z1 * $y2) + $y0 * ($z1 * $x2 - $x1 * $z2)" +
          s" + $z0 * ($x1 * $y2 - $y1 * $x2)"
        val denom = s"1.0 + ($x0 * $x1 + $y0 * $y1 + $z0 * $z1)" +
          s" + ($x1 * $x2 + $y1 * $y2 + $z1 * $z2)" +
          s" + ($x2 * $x0 + $y2 * $y0 + $z2 * $z0)"
        s"2.0 * atan2($det, $denom)"
      }
      def ringArea(ps: Seq[P]): String =
        s"abs((${tri(ps(0), ps(1), ps(2))}) + (${tri(ps(0), ps(2), ps(3))}))" +
          " * 6371010.0 * 6371010.0"
      def hav(p1: P, p2: P): String = {
        val sdlat = s"sin((${p2._2} * $d2r - ${p1._2} * $d2r) / 2.0)"
        val sdlon = s"sin((${p2._1} * $d2r - ${p1._1} * $d2r) / 2.0)"
        s"2.0 * 6371010.0 * asin(least(1.0, sqrt($sdlat * $sdlat + " +
          s"cos(${p1._2} * $d2r) * cos(${p2._2} * $d2r) * $sdlon * $sdlon)))"
      }
      val quad: Seq[P] = Seq(("lon", "lat"), ("(lon + 2.0)", "lat"),
        ("(lon + 2.0)", "(lat + 1.0)"), ("lon", "(lat + 1.0)"))
      val hole: Seq[P] = Seq(("(lon + 0.5)", "(lat + 0.25)"),
        ("(lon + 1.0)", "(lat + 0.25)"), ("(lon + 1.0)", "(lat + 0.75)"),
        ("(lon + 0.5)", "(lat + 0.75)"))
      val perim = s"(${hav(quad(0), quad(1))}) + (${hav(quad(1), quad(2))})" +
        s" + (${hav(quad(2), quad(3))}) + (${hav(quad(3), quad(0))})"
      s"""WITH pts AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS id,
         |    CAST(n_nationkey * 29 % 320 AS DOUBLE) - 159.5 AS lon,
         |    CAST(n_nationkey * 17 % 160 AS DOUBLE) - 79.75 AS lat
         |  FROM nation)
         |SELECT id,
         |  CAST(round(${ringArea(quad)}) AS BIGINT) AS area_m2,
         |  CAST(round((${ringArea(quad)}) - (${ringArea(hole)})) AS BIGINT)
         |    AS holed_m2,
         |  CAST(round($perim) AS BIGINT) AS perim_m
         |FROM pts ORDER BY id""".stripMargin
    },

    // every ML lowering restated as the same IEEE expression; the
    // 2-part o_orderpriority split makes NGRAMS a closed form
    "e76_ml_preprocess" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice AS p, o_orderpriority,
        |    CAST(o_orderkey % 97 AS DOUBLE) AS mx,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |         ELSE CAST(o_orderkey % 50 AS DOUBLE) END AS iv
        |  FROM orders WHERE o_orderkey <= 5000
        |)
        |SELECT CAST(o_orderkey AS BIGINT) AS id,
        |  sqrt((p - 100.0) * (p - 100.0) + (1.0 - 2.0) * (1.0 - 2.0)) AS dist_e,
        |  1.0 - (p * 100.0 + 1.0 * 2.0)
        |      / (sqrt(p * p + 1.0 * 1.0) * sqrt(100.0 * 100.0 + 2.0 * 2.0)) AS dist_c,
        |  abs(p - 100.0) + abs(1.0 - 2.0) AS dist_m,
        |  3.0 + CAST(o_orderkey % 10 AS DOUBLE) AS l1,
        |  CASE WHEN p < 50000 THEN 'bin_1' WHEN p < 150000 THEN 'bin_2'
        |       ELSE 'bin_3' END AS bkt,
        |  str_split(o_orderpriority, '-')[1] || ',' || str_split(o_orderpriority, '-')[2]
        |   || ',' || str_split(o_orderpriority, '-')[1] || '_' || str_split(o_orderpriority, '-')[2] AS ngr,
        |  (mx - min(mx) OVER w) / (max(mx) OVER w - min(mx) OVER w) AS mm,
        |  coalesce(iv, avg(iv) OVER w) AS imean
        |FROM base
        |WINDOW w AS (PARTITION BY o_orderpriority)
        |ORDER BY id""".stripMargin,

    // the fixture's exact unit variance makes the scaler a closed form
    "e76b_standard_scaler" ->
      """SELECT g, v, CAST(v - (10 * g + 2) AS DOUBLE) AS scaled
        |FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT)), (0, 2), (0, 3),
        |  (1, 11), (1, 12), (1, 13),
        |  (2, 21), (2, 22), (2, 23),
        |  (3, 31), (3, 32), (3, 33)
        |) AS t(g, v) ORDER BY g, v""".stripMargin,

    // the encryption laws restate as identities: roundtrips return the
    // plaintext columns, determinism/authentication checks are constants
    "e75_aead" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  n_name AS rt, 'c-' || n_name AS drt,
        |  true AS det_stable, true AS bad_aad,
        |  'r-' || n_name AS rot_rt, CAST(2 AS BIGINT) AS klen2
        |FROM nation ORDER BY id""".stripMargin,

    // the same origin re-alignment (integer floor-division on epoch
    // micros) and exist-flag fills restated: locf carries the last
    // EXISTING row's value (struct wrapper distinguishes absent rows
    // from NULL observations), linear anchors on existing rows so a
    // NULL anchor propagates NULL through the arithmetic
    "e74_gap_fill_origin" ->
      """WITH raw AS (
        |  SELECT CAST(user_id % 3 AS BIGINT) AS grp, ts,
        |    (epoch_us(ts) - epoch_us(TIMESTAMP '1970-01-01 00:30:00')) // 3600000000 AS bk,
        |    value
        |  FROM events
        |  WHERE EXTRACT(HOUR FROM ts) NOT IN (2, 7, 13, 20)
        |), src AS (
        |  SELECT grp, bk,
        |    CASE WHEN bk % 5 = 2 THEN NULL
        |         ELSE CAST(SUM(CAST(value * 100 AS BIGINT)) AS DOUBLE) END AS v
        |  FROM raw GROUP BY grp, bk
        |), al AS (
        |  SELECT grp, TIMESTAMP '1970-01-01 00:30:00' + bk * INTERVAL '1 hour' AS h, v
        |  FROM src
        |), spans AS (
        |  SELECT grp, min(h) AS lo, max(h) AS hi FROM al GROUP BY grp
        |), buckets AS (
        |  SELECT grp, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h FROM spans
        |), joined AS (
        |  SELECT b.grp, b.h, a.v, a.grp IS NOT NULL AS ex
        |  FROM buckets b LEFT JOIN al a ON b.grp = a.grp AND b.h = a.h
        |), filled AS (
        |  SELECT grp, h, v, ex,
        |    (last_value(CASE WHEN ex THEN {'v': v} END IGNORE NULLS) OVER pw).v AS v_locf,
        |    (last_value(CASE WHEN ex THEN {'v': v, 't': h} END IGNORE NULLS) OVER pw) AS ps,
        |    (first_value(CASE WHEN ex THEN {'v': v, 't': h} END IGNORE NULLS) OVER fw) AS ns
        |  FROM joined
        |  WINDOW pw AS (PARTITION BY grp ORDER BY h
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         fw AS (PARTITION BY grp ORDER BY h
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT grp, CAST(h AS VARCHAR) AS h, v_locf,
        |  (CASE WHEN ex THEN v
        |        ELSE ps.v + (ns.v - ps.v)
        |          * (epoch_us(h) - epoch_us(ps.t))
        |          / (epoch_us(ns.t) - epoch_us(ps.t)) END) AS v_lin
        |FROM filled
        |ORDER BY grp, h""".stripMargin,

    "e73_net_domains" ->
      """WITH lits(id, host, suffix, rd) AS (VALUES
        |  (1000, 'abc.xyz', 'xyz', 'abc.xyz'),
        |  (1001, 'a.b', NULL, NULL),
        |  (1002, '[::1]', NULL, NULL),
        |  (1003, 'www.Example.Co.UK', 'Co.UK', 'Example.Co.UK'),
        |  (1004, 'filename.txt', NULL, NULL),
        |  (1005, 'foo.bar.ck', 'bar.ck', 'foo.bar.ck'),
        |  (1006, 'www.ck', 'ck', 'www.ck'),
        |  (1007, 'foo.blogspot.com', 'com', 'blogspot.com'),
        |  (1008, '例子.卷筒纸.中国', '中国', '卷筒纸.中国'),
        |  (1009, 'a..com', NULL, NULL),
        |  (1010, '.com', 'com', NULL),
        |  (1011, '1.2.3.4', NULL, NULL),
        |  (1012, 'foo.example.org', 'org', 'example.org')
        |), nat AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id,
        |    'www.' || replace(lower(n_name), ' ', '-') || '.Co.UK' AS host,
        |    'Co.UK' AS suffix,
        |    replace(lower(n_name), ' ', '-') || '.Co.UK' AS rd
        |  FROM nation
        |)
        |SELECT CAST(id AS BIGINT) AS id, host, suffix, rd FROM lits
        |UNION ALL SELECT id, host, suffix, rd FROM nat
        |ORDER BY id""".stripMargin,

    "e72_gap_fill" ->
      """WITH src AS (
        |  SELECT CAST(user_id % 3 AS BIGINT) AS grp,
        |    date_trunc('hour', ts) AS h,
        |    CAST(SUM(CAST(value * 100 AS BIGINT)) AS DOUBLE) AS v
        |  FROM events
        |  WHERE EXTRACT(HOUR FROM ts) NOT IN (3, 4, 9, 15)
        |  GROUP BY 1, 2
        |), spans AS (
        |  SELECT grp, min(h) AS lo, max(h) AS hi FROM src GROUP BY grp
        |), buckets AS (
        |  SELECT grp, unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
        |  FROM spans
        |), joined AS (
        |  SELECT b.grp, b.h, s.v
        |  FROM buckets b LEFT JOIN src s ON b.grp = s.grp AND b.h = s.h
        |), filled AS (
        |  SELECT grp, h, v,
        |    last_value(v IGNORE NULLS) OVER pw AS v_locf,
        |    last_value(v IGNORE NULLS) OVER pw AS pv,
        |    first_value(v IGNORE NULLS) OVER fw AS nv,
        |    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER pw AS pt,
        |    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER fw AS nt
        |  FROM joined
        |  WINDOW pw AS (PARTITION BY grp ORDER BY h
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         fw AS (PARTITION BY grp ORDER BY h
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT CAST(grp AS BIGINT) AS grp, CAST(h AS VARCHAR) AS h,
        |  v_locf,
        |  (CASE WHEN v IS NOT NULL THEN v
        |        WHEN pv IS NULL OR nv IS NULL THEN NULL
        |        ELSE pv + (nv - pv)
        |          * (epoch_us(h) - epoch_us(pt))
        |          / (epoch_us(nt) - epoch_us(pt)) END) AS v_lin
        |FROM filled
        |ORDER BY grp, h""".stripMargin,

    // the same session algorithm over plain date columns: running
    // max-end break flags, prefix-sum ids, min/max session bounds
    "e71_range_sessionize" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_custkey AS cust,
        |    CAST(o_orderdate AS DATE) AS s,
        |    CAST(o_orderdate AS DATE) + 20 AS e
        |  FROM orders WHERE o_orderkey <= 2000
        |), flagged AS (
        |  SELECT *, CASE WHEN max(e) OVER pw IS NULL THEN 1
        |                 WHEN s <= max(e) OVER pw THEN 0 ELSE 1 END AS newf
        |  FROM src WINDOW pw AS (PARTITION BY cust ORDER BY s, e
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |), sids AS (
        |  SELECT *, sum(newf) OVER (PARTITION BY cust ORDER BY s, e
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT CAST(k AS BIGINT) AS k, CAST(cust AS BIGINT) AS cust,
        |  CAST(min(s) OVER sw AS VARCHAR) AS sess_lo,
        |  CAST(max(e) OVER sw AS VARCHAR) AS sess_hi
        |FROM sids WINDOW sw AS (PARTITION BY cust, sid)
        |ORDER BY k""".stripMargin,

    // canonical renderings re-derived with integer division/modulo
    "e70_interval_vocab" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  printf('0-%d %d 0:0:0', (n_nationkey * 7) // 30, (n_nationkey * 7) % 30) AS jd,
        |  printf('0-0 %d %d:0:0', (n_nationkey * 11) // 24, (n_nationkey * 11) % 24) AS jh,
        |  '0-0 7 1:20:30' AS ji,
        |  '1-2 3 4:5:6' AS mix
        |FROM nation ORDER BY id""".stripMargin,

    // every range predicate restated as plain date comparisons; bucket
    // count = ceil(days / 7) with the partial bucket kept
    "e69_range_vocab" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS id,
        |  (CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |   AND CAST(o_orderdate AS DATE) < DATE '1996-01-01') AS in95,
        |  (CAST(o_orderdate AS DATE) >= DATE '1995-01-01') AS ge95,
        |  (CAST(o_orderdate AS DATE) < DATE '1995-07-01'
        |   AND DATE '1995-06-01' < CAST(o_orderdate AS DATE) + 30) AS near_jun,
        |  CAST(least(DATE '1996-07-01', CAST(o_orderdate AS DATE) + 90) AS VARCHAR) AS clip_hi,
        |  CAST(((o_orderkey % 50 + 10) + 6) // 7 AS BIGINT) AS nbuckets
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1994-01-01' AND DATE '1996-06-30'
        |ORDER BY id""".stripMargin,

    "e68_datetime_net_vocab" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  printf('%02d:%02d:%02d', CAST(n_nationkey % 24 AS INT), 30, 45) AS t1,
        |  CAST(make_timestamp(2024, 1, CAST(n_nationkey % 28 + 1 AS INT), 9, 0, 0) AS VARCHAR) AS dt1,
        |  CAST(CAST((DATE '2024-01-01' + n_nationkey * INTERVAL 1 DAY)
        |       - dayofweek(DATE '2024-01-01' + n_nationkey * INTERVAL 1 DAY) * INTERVAL 1 DAY
        |       AS TIMESTAMP) AS VARCHAR) AS wk_sun,
        |  '2024-03-14 17:00:00' AS trunc_tz,
        |  CAST(17 AS BIGINT) AS hr_tz,
        |  CAST(167772160 + (n_nationkey % 256) * 256 + 7 AS BIGINT) AS ip64,
        |  '10.0.' || CAST(n_nationkey AS VARCHAR) || '.7' AS ipstr,
        |  printf('%05.1f|%x', n_nationkey * 1.5, n_nationkey + 250) AS fmt,
        |  CAST(CAST(DATE '2024-01-01' + (n_nationkey % 5 + 1) * INTERVAL 1 DAY
        |       AS DATE) AS VARCHAR) AS dplus,
        |  CAST(TIMESTAMP '2024-02-01 00:00:00' + INTERVAL 1 YEAR
        |       + n_nationkey * INTERVAL 1 MINUTE AS VARCHAR) AS mi
        |FROM nation ORDER BY id""".stripMargin,

    // the final table re-derived constructively: base rows with the
    // region-0 struct-field bump and the retyped score, plus the
    // INTO-less-INSERT row
    "e67_ddl_dml_vocab" ->
      """SELECT id, name, region, CAST(score AS DOUBLE) AS score, sx, sy FROM (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
        |    CAST(n_regionkey AS BIGINT) AS region,
        |    n_nationkey * 3 AS score,
        |    CAST(n_nationkey * 2 +
        |      CASE WHEN n_regionkey = 0 THEN 1000 ELSE 0 END AS BIGINT) AS sx,
        |    UPPER(n_name) AS sy
        |  FROM nation
        |  UNION ALL
        |  SELECT 100, 'extra', 9, 300, 0, 'Z'
        |) ORDER BY id""".stripMargin,

    // every mutated document re-derived constructively (keys in sorted
    // order — the engine canonicalizes through the variant round-trip)
    "e66_json_mutators" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  json_object('a', CAST(n_nationkey AS BIGINT), 'b', n_name,
        |              'c', json_object('d', CAST(n_regionkey AS BIGINT))) AS jset,
        |  json_object('a', n_name || '!', 'z', json('[null,true]')) AS jset2,
        |  json_object('b', CAST(n_regionkey AS BIGINT), 'c', n_name) AS jrm,
        |  json_array(CAST(n_nationkey AS BIGINT), CAST(n_regionkey AS BIGINT)) AS jrm_arr,
        |  CASE WHEN n_nationkey % 2 = 0 THEN json_object('b', CAST(n_regionkey AS BIGINT))
        |       ELSE json_object('a', n_name, 'b', CAST(n_regionkey AS BIGINT)) END AS jstrip,
        |  json_array(NULL, CAST(n_nationkey AS BIGINT), NULL) AS jstrip2,
        |  json_array(CAST(n_nationkey AS BIGINT), n_name, 'end') AS jins,
        |  json_array(CAST(n_regionkey AS BIGINT), CAST(n_nationkey AS BIGINT)) AS japp,
        |  CAST(n_nationkey AS BIGINT) AS lax_rt,
        |  'a,b,c,c.d' AS jkeys
        |FROM nation ORDER BY id""".stripMargin,

    "e65_json_vocab" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  json_object('name', n_name, 'region', CAST(n_regionkey AS BIGINT)) AS jobj,
        |  json_array(CAST(n_nationkey AS BIGINT), n_name, NULL) AS jarr,
        |  CASE CAST(n_nationkey % 3 AS INT) WHEN 0 THEN 'object'
        |       WHEN 1 THEN 'array' ELSE 'number' END AS jt,
        |  CAST(n_nationkey AS BIGINT) AS li,
        |  CAST(n_regionkey AS VARCHAR) AS ls,
        |  CAST(42 + n_nationkey AS BIGINT) AS strict_i,
        |  n_name AS jv,
        |  n_name AS strict_s
        |FROM nation ORDER BY id""".stripMargin,

    // the loop trace resolves to constants an independent reader can
    // re-derive: total counts 1..18 with CONTINUE at multiples of 5 and
    // BREAK at 18 (so i stops at 4); the band is [lo+4, hi-18] = [4, 6]
    "e64_script_composition" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name,
        |  CAST(18 AS BIGINT) AS total_v, CAST(4 AS BIGINT) AS i_v
        |FROM nation WHERE n_nationkey BETWEEN 4 AND 6 ORDER BY id""".stripMargin,

    // independent restatements: time values via epoch-anchored
    // timestamp math, week-start parts via dayofweek arithmetic
    // (DuckDB dayofweek is 0=Sunday; +1 aligns to Spark's 1=Sunday),
    // regexp positions via the single-space structure of nation names
    "e63_time_week_vocab" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  strftime(TIMESTAMP '1970-01-01 23:30:00'
        |           + (n_nationkey * 37) * INTERVAL 1 MINUTE, '%H:%M:%S') AS t_wrap,
        |  strftime(date_trunc('hour', TIMESTAMP '1970-01-01 10:15:30'
        |           + n_nationkey * INTERVAL 1 HOUR), '%H:%M:%S') AS ttrunc,
        |  CAST(270 + 7 * n_nationkey AS BIGINT) AS tdiff,
        |  strftime(TIMESTAMP '2024-01-01 05:06:07'
        |           + n_nationkey * INTERVAL 1 MINUTE, '%H:%M:%S') AS tpart,
        |  CAST((dayofyear(DATE '2024-01-01' + n_nationkey * INTERVAL 1 DAY) + 6
        |        - ((7 + 2 - (dayofweek(date_trunc('year',
        |             DATE '2024-01-01' + n_nationkey * INTERVAL 1 DAY)) + 1)) % 7)) // 7
        |       AS BIGINT) AS wmon,
        |  CAST(CAST(DATE '2024-01-01' + (11 * n_nationkey) * INTERVAL 1 DAY
        |        + (6 - (((dayofweek(DATE '2024-01-01' + (11 * n_nationkey) * INTERVAL 1 DAY)
        |                  + 1) - 3 + 7) % 7)) * INTERVAL 1 DAY AS DATE) AS VARCHAR) AS ld,
        |  CAST(((DATE '2024-01-01' + (13 * n_nationkey) * INTERVAL 1 DAY
        |         - (((dayofweek(DATE '2024-01-01' + (13 * n_nationkey) * INTERVAL 1 DAY)
        |             + 1) - 6 + 7) % 7) * INTERVAL 1 DAY)::DATE
        |        - (DATE '2024-01-01'
        |           - (((dayofweek(DATE '2024-01-01') + 1) - 6 + 7) % 7) * INTERVAL 1 DAY)::DATE)
        |       // 7 AS BIGINT) AS wdiff,
        |  CAST(CASE WHEN contains(n_name, ' ') THEN strpos(n_name, ' ') + 1
        |            ELSE 0 END AS BIGINT) AS ri,
        |  regexp_extract(n_name[2:], '[A-Z]+') AS re2
        |FROM nation ORDER BY id""".stripMargin,

    // matched deletes (region<=2, id>=20) drop; matched updates add
    // 10·region; unmatched-by-source rows flip to -1; the TVF filter
    // bal >= -5 keeps everything that survived
    "e62_tvf_merge_vocab" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  CAST(n_regionkey AS BIGINT) AS region,
        |  CAST(CASE WHEN n_regionkey <= 2 THEN 100 + n_regionkey * 10
        |            ELSE -1 END AS BIGINT) AS bal
        |FROM nation
        |WHERE NOT (n_regionkey <= 2 AND n_nationkey >= 20)
        |ORDER BY id""".stripMargin,

    "e60_analytic_vocab" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  first_value(CASE WHEN n_nationkey % 2 = 0 THEN n_name END IGNORE NULLS)
        |    OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS fv,
        |  string_split(n_name, 'A')[1] AS first_chunk,
        |  string_split(n_name, 'A')[10] AS beyond,
        |  ([10, 20, 30])[(n_nationkey % 3) + 1] AS pick,
        |  (SELECT CAST(count(1) AS BIGINT) FROM nation WHERE n_regionkey = 0) AS arr_n
        |FROM nation ORDER BY id""".stripMargin,

    "e59_json_type" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  to_json(struct_pack(name := n_name, r := CAST(n_regionkey AS BIGINT))) AS j,
        |  json_extract_string('{"k" :  "' || n_name || '"}', '$.k') AS k
        |FROM nation ORDER BY id""".stripMargin,

    // the refreshed MV aggregate: January orders with the 1-URGENT
    // partition counted twice (the appended copy)
    "e58_mv_partition_refresh" ->
      """WITH base AS (
        |  SELECT o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
        |  UNION ALL
        |  SELECT o_totalprice, o_orderpriority FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
        |    AND o_orderpriority = '1-URGENT'
        |)
        |SELECT o_orderpriority, count(1) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM base GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // only the committed transaction's writes may show: +10·id for
    // region-0 nations, ids >= 20 deleted; the rolled-back zeroing and
    // the aborted delete leave no trace
    "e55_transactions" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  CAST(100 + CASE WHEN n_regionkey = 0 THEN n_nationkey * 10 ELSE 0 END AS BIGINT) AS bal
        |FROM nation WHERE n_nationkey < 20 ORDER BY id""".stripMargin,

    "e34_create_table_as" ->
      """SELECT o_orderpriority, count(1) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-03-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "e33_information_schema" ->
      """SELECT * FROM (VALUES
        |  ('alpha', 'TABLE', 'BASE TABLE', CAST(0 AS BIGINT)),
        |  ('alpha', 'id',    'BIGINT',     CAST(1 AS BIGINT)),
        |  ('alpha', 'name',  'STRING',     CAST(2 AS BIGINT)),
        |  ('beta',  'TABLE', 'BASE TABLE', CAST(0 AS BIGINT)),
        |  ('beta',  'ts',    'TIMESTAMP',  CAST(1 AS BIGINT)),
        |  ('beta',  'v',     'DOUBLE',     CAST(2 AS BIGINT)),
        |  ('beta',  'note',  'STRING',     CAST(3 AS BIGINT)),
        |  ('gamma', 'TABLE', 'VIEW',       CAST(0 AS BIGINT)),
        |  ('gamma', 'id',    'BIGINT',     CAST(1 AS BIGINT))
        |) AS t(table_name, kind, detail, pos)
        |ORDER BY table_name, pos, kind""".stripMargin,

    "e32_wildcard_tables" ->
      """SELECT strftime(o_orderdate, '%Y%m%d') AS shard, count(1) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-02' AND o_orderdate < TIMESTAMP '1996-01-04'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "e31_bq_semantics" ->
      """SELECT o_orderkey,
        |  CAST((dayofyear(o_orderdate) + 6 -
        |        ((7 - CAST(dayofweek(date_trunc('year', o_orderdate)) AS INT)) % 7)) // 7
        |       AS BIGINT) AS wk_sun,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS wk_iso,
        |  GREATEST(o_orderkey, o_custkey) AS g1,
        |  CAST(NULL AS BIGINT) AS l_null,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-06-01' AND o_orderdate < TIMESTAMP '1997-06-15'
        |ORDER BY o_orderkey""".stripMargin,

    "e30_bq_functions2" ->
      """SELECT
        |  o_orderpriority,
        |  string_split(o_orderpriority, '-')[1] AS prio_code,
        |  regexp_extract(o_orderpriority, '([0-9]+)', 1) AS prio_digit,
        |  NULLIF(regexp_extract(o_orderpriority, 'zz([0-9]+)', 1), '') AS no_match,
        |  count(1) AS cnt,
        |  CAST(sum(o_orderkey // 7) AS BIGINT) AS div_sum,
        |  md5(o_orderpriority) AS md5_hex,
        |  to_base64(unhex(sha256(o_orderpriority))) AS sha_b64,
        |  CAST(strlen(o_orderpriority) AS BIGINT) AS n_bytes,
        |  CAST(2 AS INT) AS lit2,
        |  CAST(date_diff('day', TIMESTAMP '1995-12-31 23:50:00',
        |                 TIMESTAMP '1996-01-01 00:10:00') AS BIGINT) AS day_boundary
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-02-01'
        |GROUP BY 1, 2, 3, 4, 7, 8, 9, 10, 11
        |ORDER BY o_orderpriority""".stripMargin,

    "e22_bq_functions" ->
      """SELECT
        |  o_orderpriority,
        |  count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_pos,
        |  bool_or(o_orderstatus = 'P') AS any_p,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE)
        |    / nullif(count(*) FILTER (WHERE o_orderstatus = 'X'), 0) AS div_null,
        |  TRY_CAST(MIN(o_orderpriority) AS BIGINT) AS prio_int,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  strftime(MIN(o_orderdate), '%Y/%m/%d') AS first_day,
        |  date_diff('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS span_days,
        |  date_diff('month', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS span_months,
        |  date_diff('hour', TIMESTAMP '1998-08-01 00:00:00', TIMESTAMP '1998-08-02 12:00:00') AS hours36,
        |  CAST(len(generate_series(1, 5)) AS BIGINT) AS gen5,
        |  array_to_string(list_concat(['a', 'b'], ['c']), '-') AS abc
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // DuckDB supports QUALIFY natively — the oracle is the same query
    "e23_qualify" ->
      """SELECT o_custkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date, o_totalprice
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-03-01'
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY o_custkey""".stripMargin,

    // zipped unnest replays BigQuery's UNNEST ... WITH OFFSET
    "e24_from_unnest" ->
      """SELECT o_orderkey, unnest(['x', 'y', 'z']) AS tag,
        |  CAST(unnest([0, 1, 2]) AS BIGINT) AS off
        |FROM orders WHERE o_orderkey < 50
        |ORDER BY o_orderkey, off""".stripMargin
  )
}
