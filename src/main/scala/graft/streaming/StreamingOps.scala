package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured Streaming extension (optional beyond reference parity —
  * SURVEY §2B.10 notes the reference has no streaming surface).
  *
  * Pattern: file-source stream → event-time window + watermark →
  * stateful aggregation → sink. Exercised in tests/queries by streaming
  * the `events` parquet through a bounded run (`processAllAvailable`),
  * so the final state is deterministic and batch-oracle-checkable.
  *
  * Scale posture: the same topology runs unbounded on a cluster — the
  * watermark bounds state, the aggregation is partition-parallel, and
  * the sink below is swappable for kafka/parquet/foreachBatch.
  */
object StreamingOps {

  /** Scratch space for stream checkpoints and bounded-run fixtures:
    * a JVM-lifetime root on `/dev/shm` (tmpfs) when writable — per-
    * micro-batch checkpoint I/O is pure fixed cost in a bounded local
    * run and never needs to survive the JVM — falling back to the
    * default temp dir otherwise. `onDisk` hands out directories under a
    * second root in the default temp dir, for the gates' catalog
    * fixtures (database and dataset locations, external table files,
    * export targets), which stay on disk. Both roots and all under them
    * are deleted when the JVM exits. `once` builds a keyed fixture a
    * single time per JVM (e.g. the split source files a replay streams
    * from).
    */
  private[graft] object Scratch {
    private val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    private def rootAt(base: java.nio.file.Path, prefix: String): java.nio.file.Path = {
      val d = java.nio.file.Files.createTempDirectory(base, prefix)
      // deleteOnExit cannot remove a non-empty directory: drop the tree
      sys.addShutdownHook {
        try org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[scratch] could not delete scratch root $d: $e")
        }
      }
      d
    }
    private lazy val root: java.nio.file.Path = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      rootAt(if (java.nio.file.Files.isWritable(shm)) shm else tmp, "graft_stream_")
    }
    private lazy val diskRoot = rootAt(tmp, "graft_fixtures_")
    def fresh(prefix: String): String =
      java.nio.file.Files.createTempDirectory(root, prefix).toString
    def onDisk(prefix: String): String =
      java.nio.file.Files.createTempDirectory(diskRoot, prefix).toString
    private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def once(key: String)(build: String => Unit): String =
      built.computeIfAbsent(key, { k =>
        val d = fresh(k.replaceAll("[^A-Za-z0-9]", "_") + "_")
        build(d)
        d
      })
  }

  /** Fresh tmpfs checkpoint per query start: bounded runs must never
    * resume a prior run's offsets (a resumed file-source stream would
    * skip already-processed files and return empty state).
    */
  private def ckpt(): String = Scratch.fresh("ckpt_")

  /** Stateful streaming creates one state store per shuffle partition
    * per stateful operator per micro-batch; that fixed cost dominates a
    * bounded local run. Cap the state partitions of a bounded query
    * (state partitioning is fixed at query start from this conf —
    * production sizes it to the cluster the same way).
    */
  private val StatePartitions = "spark.sql.shuffle.partitions" -> "8"

  /** Skip the trailing no-data micro-batch for queries whose OUTPUT
    * provably cannot depend on it — the INNER and LEFT SEMI
    * stream-stream joins, which emit every result row at match time
    * inside a data batch, and the dedups, which emit first-seen rows in
    * their arrival batch; the no-data batch only evicts expired state
    * (an eviction scan + one commit per state store: measured 1.0-2.2 s
    * of the bounded run, ~40% of s04's wall). NOT applicable to the
    * left-outer join (s08: unmatched rows emit on watermark passage,
    * i.e. exactly in a no-data batch) or to append-mode aggregations
    * (s16: final windows emit there) — those keep the default. On an
    * unbounded run the same setting merely defers state eviction to the
    * next data batch, which for a continuously-fed pipeline is the next
    * trigger anyway.
    */
  private val NoDataBatchesOff = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** The RocksDB state store provider (transformWithState requires it;
    * s18/s22 pin that results are invariant under it).
    */
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Held from a run's conf set through `start()` to the restore. Spark
    * clones the session conf into the stream inside `start()`, so that
    * window is the only time a run's confs are visible on the session —
    * and a query started on it concurrently would capture them (an s08
    * inheriting s04's no-data skip silently loses its unmatched rows).
    * The runs themselves still overlap.
    */
  private object StartLock

  /** The one bounded run: starts `df` through `sink` from `checkpoint`
    * (fresh unless a recovery phase shares one) with `confs` set on the
    * session for the start only, waits for it (`processAllAvailable`
    * unless the caller waits its own way) and always stops it. Returns
    * the stopped query; its `recentProgress` stays readable.
    */
  private def run(df: DataFrame, outputMode: String, confs: Seq[(String, String)],
      checkpoint: String = ckpt(), await: StreamingQuery => Unit = _.processAllAvailable())(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val conf = df.sparkSession.conf
    val q = StartLock.synchronized {
      val prev = confs.map { case (k, _) => k -> conf.getOption(k) }
      confs.foreach { case (k, v) => conf.set(k, v) }
      try sink(df.writeStream.option("checkpointLocation", checkpoint)
        .outputMode(outputMode)).start()
      finally prev.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
    }
    try await(q) finally q.stop()
    q
  }

  private def memory(queryName: String): DataStreamWriter[Row] => DataStreamWriter[Row] =
    _.format("memory").queryName(queryName)

  /** [[run]] into a memory sink; returns the sink table. */
  private def toMemory(df: DataFrame, queryName: String, outputMode: String,
      confs: (String, String)*): DataFrame = {
    run(df, outputMode, confs)(memory(queryName))
    df.sparkSession.table(queryName)
  }

  /** Tumbling event-time window counts with a watermark. */
  def windowedEventCounts(events: DataFrame, windowLength: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Per-user sessionization with a 30-minute inactivity gap, as a
    * streaming session-window aggregation. Complete output mode keeps
    * the bounded run deterministic (every session, including those open
    * at end-of-stream, is in the final state); on an unbounded cluster
    * run the same plan switches to append mode + watermark so state is
    * evicted as sessions close.
    */
  def sessionize(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Bounded-stream sessionization → memory sink → final state. */
  def runBoundedSessionAgg(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    toMemory(sessionize(boundedEventStream(spark, sfDir), "30 minutes"),
        queryName, "complete", StatePartitions)
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** First occurrence of each (user, event_type) — streaming exact
    * dedup with explicit keyed state via flatMapGroupsWithState: state
    * is the set of event types already seen per user (bounded by the
    * type vocabulary, so it never grows with the stream). Within-batch
    * arrival order isn't event-time order, so each batch's group is
    * ordered explicitly before the state is applied.
    */
  def streamFirstSeen(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)]
    typed.groupByKey(_._3)
      .flatMapGroupsWithState[Set[String], (Long, String, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { case (uid, it, state) =>
        var seen = state.getOption.getOrElse(Set.empty[String])
        val out = Seq.newBuilder[(Long, String, Long, Double)]
        it.toSeq.sortBy(e => (e._2.getTime, e._1)).foreach {
          case (id, _, _, tpe, v) =>
            if (!seen.contains(tpe)) {
              seen += tpe
              out += ((uid, tpe, id, v))
            }
        }
        state.update(seen)
        out.result().iterator
      }
      .toDF("user_id", "event_type", "event_id", "value")
  }

  /** Bounded-stream first-seen dedup → memory sink → final rows. */
  def runBoundedFirstSeen(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    toMemory(streamFirstSeen(boundedEventStream(spark, sfDir)),
        queryName, "append", StatePartitions)
      .orderBy(col("user_id"), col("event_type"))

  /** Stream-stream self-join: click → purchase attribution within a
    * 30-minute window. Both sides carry watermarks and the join
    * condition is time-range-bounded, so the join state Spark keeps is
    * capped at ~1.5 h of events per side regardless of stream length —
    * the canonical unbounded-safe stream-stream join shape.
    */
  def streamClickAttribution(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Bounded-stream attribution join → memory sink → final rows. */
  def runBoundedAttribution(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    toMemory(streamClickAttribution(boundedEventStream(spark, sfDir)),
        queryName, "append", StatePartitions, NoDataBatchesOff)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))

  /** LEFT OUTER stream-stream attribution: every click, with its
    * purchases inside the 30-minute window or NULL if none came. The
    * semantics Spark gives this are subtle and central: an unmatched
    * click is held in state and emitted with NULLs only once the
    * watermark passes click_ts + 30 min — before that, a match could
    * still arrive. Same time-range bound as the inner join, so state
    * stays capped at ~1.5 h of events per side on an unbounded run.
    */
  def streamClickAttributionLeftOuter(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Bounded left-outer attribution run. A bounded stream never
    * advances the watermark past its own tail, so the last ~1.5 h of
    * unmatched clicks would stay in state forever and the run would
    * not equal the batch left join. Fix: two sentinel events (one per
    * side, user_id = −1) 30 days past the corpus flow through both
    * watermark nodes, pushing the event-time horizon over every real
    * click; the trailing no-data micro-batch then evicts and emits the
    * remaining unmatched rows. The sentinels themselves match nothing
    * and are filtered from the sink.
    */
  def runBoundedLeftOuterAttribution(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val ev = graft.queries.Tables.t(spark, sfDir, "events")
    val sentinelTs: Column = lit(new java.sql.Timestamp(
      ev.agg(max(col("ts"))).head.getTimestamp(0).getTime + 2592000000L)) // +30 d in millis
    def sentinel(tpe: String, id: Long) = ev.limit(1)
      .withColumn("event_id", lit(id)).withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit(tpe)).withColumn("value", lit(0.0))
      .withColumn("ts", sentinelTs)
    // the sentinel file is deterministic per source dir → JVM-lifetime
    // fixture, not per-run setup
    val dir = Scratch.once(s"sentinel|$sfDir") { d =>
      sentinel("click", -1L).unionByName(sentinel("purchase", -2L))
        .coalesce(1).write.mode("overwrite").parquet(d)
    }
    val sentinels = graft.queries.Tables.normalizeTs(
      spark.readStream.schema(
        spark.read.parquet(dir).schema).parquet(dir))
    val joined = streamClickAttributionLeftOuter(
      boundedEventStream(spark, sfDir).unionByName(sentinels))
    toMemory(joined, queryName, "append", StatePartitions)
      .where(col("user_id") >= 0)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("value"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Exactly-once restatement of an at-least-once delivery: two copies
    * of the stream (duplicate delivery) unioned, then
    * dropDuplicatesWithinWatermark on the event id. State holds only
    * ids newer than the watermark horizon — bounded regardless of
    * stream length, unlike a plain dropDuplicates whose state grows
    * forever. This is the standard front door of a streaming ingestion
    * pipeline consuming a redelivering bus.
    */
  def streamDedupDelivery(delivery1: DataFrame, delivery2: DataFrame): DataFrame =
    delivery1.unionByName(delivery2)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Bounded duplicate-delivery dedup → memory sink → per-type totals
    * (equal to the batch totals of the ORIGINAL stream iff the dedup
    * removed every redelivered copy).
    */
  def runBoundedDedupDelivery(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val dedup = streamDedupDelivery(
      boundedEventStream(spark, sfDir), boundedEventStream(spark, sfDir))
    // dropDuplicatesWithinWatermark emits first-seen rows in their
    // arrival batch; the no-data batch only expires state — output-
    // identical without it (see NoDataBatchesOff)
    toMemory(dedup, queryName, "append", StatePartitions, NoDataBatchesOff)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Stream-static enrichment: the event stream joins a static
    * dimension (broadcast — the dim is re-read per micro-batch but
    * never shuffled), then aggregates per segment. The static side
    * needs no watermark; state is bounded by the segment vocabulary.
    * This is the canonical "enrich the firehose with a slowly-changing
    * dim" topology.
    */
  def streamStaticEnrichment(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Bounded stream-static enrichment → memory sink → final state. */
  def runBoundedEnrichment(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val dim = graft.queries.Tables.raw(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    toMemory(streamStaticEnrichment(boundedEventStream(spark, sfDir), dim),
        queryName, "complete", StatePartitions)
      .select(col("c_mktsegment"), col("n_events"), col("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** Exactly-once-style sink for a non-transactional store: update-mode
    * windowed aggregation → foreachBatch upsert keyed on
    * (window_start, event_type). Each micro-batch emits only the keys
    * whose state changed; the sink replaces exactly those keys in the
    * target (read-current → anti-join → union → overwrite — the plain-
    * parquet stand-in for MERGE INTO; on a transactional table the
    * same foreachBatch body becomes one MERGE). The input is split
    * into two files and streamed with maxFilesPerTrigger=1, so keys
    * genuinely get upserted across batches, and the final target
    * equals the batch aggregation no matter how the batches sliced it.
    *
    * The watermark is effectively unbounded here because the bounded
    * replay delivers the time range out of order across batches; an
    * unbounded production run would use a real delay and accept
    * late-drop semantics — the sink topology is identical.
    */
  def runBoundedForeachBatchUpsert(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    // the 2-file split of the source is deterministic per source dir →
    // JVM-lifetime fixture, not per-run setup
    val src = Scratch.once(s"s07src|$sfDir") { d =>
      graft.queries.Tables.raw(spark, sfDir, "events").repartition(2)
        .write.mode("overwrite").parquet(d)
    }
    val schema = spark.read.parquet(src).schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val events = graft.queries.Tables.normalizeTs(raw)
    val agg = windowedEventCounts(events, "1 hour", "3650 days")
    val target = Scratch.fresh("s07tgt_") + "/t"
    val upsert: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val b = batch
          .select(col("window.start").as("ws"), col("event_type"),
            col("cnt"), col("sum_value"))
          .localCheckpoint(true)
        val cur =
          try Some(spark.read.parquet(target)) catch { case _: Throwable => None }
        val next = cur match {
          case None => b
          // localCheckpoint materializes the merged state before the
          // overwrite so the read-own-write cycle is safe on parquet
          case Some(c) => c.join(b.select(col("ws"), col("event_type")),
              Seq("ws", "event_type"), "left_anti")
            .unionByName(b).localCheckpoint(true)
        }
        next.write.mode("overwrite").parquet(target)
      }
    run(agg, "update", Seq(StatePartitions))(_.queryName(queryName).foreachBatch(upsert))
    spark.read.parquet(target)
      .select(date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** File-source stream over the events parquet with the same
    * event-time physical-type normalization `Tables.t` applies on the
    * batch side (nanos-as-long → micros; TIMESTAMP_NTZ → TIMESTAMP).
    */
  private def boundedEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val batchSchema = graft.queries.Tables.raw(spark, sfDir, "events").schema
    val stream = spark.readStream
      .schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    graft.queries.Tables.normalizeTs(stream)
  }

  /** Run the events parquet as a bounded stream into a memory sink;
    * returns the complete final aggregation state.
    */
  def runBoundedWindowAgg(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    windowCountsToMemory(spark, sfDir, queryName, StatePartitions)

  /** s01's hourly windowed counts into a memory sink, read back in
    * window order; s18 runs the same plan under the RocksDB provider.
    */
  private def windowCountsToMemory(spark: SparkSession, sfDir: String,
      queryName: String, confs: (String, String)*): DataFrame =
    toMemory(windowedEventCounts(boundedEventStream(spark, sfDir), "1 hour", "1 hour"),
        queryName, "complete", confs: _*)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Streaming incremental document dedup — the streaming face of the
    * batch d30 operator: new documents arrive as a stream carrying
    * duplicate deliveries (10% of docs re-sent under a new id), get
    * content-hashed, anti-joined against a STATIC historical hash set
    * (stream-static left anti isn't supported, so left outer + IS NULL
    * — the static side broadcasts, no stream state), then deduped
    * within the stream by `dropDuplicates` keyed state. Output columns
    * are functions of the text alone, so which physical duplicate
    * survives is immaterial. On an unbounded run the in-stream dedup
    * switches to `dropDuplicatesWithinWatermark` over the ingest
    * timestamp (s05's shape) so state stays horizon-bounded; the
    * historical set refreshes per micro-batch like s06's dimension.
    */
  def streamIncrementalDedup(docs: DataFrame, historical: DataFrame): DataFrame = {
    val hist = historical.select(md5(col("text")).as("hist_hash")).distinct()
    docs
      .withColumn("text_hash", md5(col("text")))
      .join(broadcast(hist), col("text_hash") === col("hist_hash"), "left_outer")
      .where(col("hist_hash").isNull)
      .select(col("text_hash"), col("n_chars"))
      .dropDuplicates("text_hash")
  }

  /** Per-user running aggregates via `transformWithState` — Spark 4's
    * arbitrary-stateful-processing API (the successor of
    * flatMapGroupsWithState; requires the RocksDB state store). State is
    * one ValueState[(count, max value, last event id)] per user: O(users)
    * regardless of stream length, the shape a 100 TB / unbounded run
    * needs. Outputs avoid floating accumulation entirely (count, MAX,
    * event-time-latest id), so results are exact under any arrival
    * order; within a batch the group iterator is ordered explicitly
    * before folding, like s03.
    */
  private class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp, Double), (Long, Long, Double, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[(Long, Double, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double, Long, Long)]("totals",
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, Double)],
        timerValues: TimerValues): Iterator[(Long, Long, Double, Long)] = {
      var (n, mx, lastTs, lastId) =
        if (totals.exists()) totals.get() else (0L, Double.NegativeInfinity, Long.MinValue, -1L)
      rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach { case (_, id, ts, v) =>
        n += 1
        if (v > mx) mx = v
        if (ts.getTime > lastTs || (ts.getTime == lastTs && id > lastId)) {
          lastTs = ts.getTime; lastId = id
        }
      }
      totals.update((n, mx, lastTs, lastId))
      Iterator((user, n, mx, lastId))
    }
  }

  /** Bounded transformWithState run: one batch, so the emitted rows are
    * the final per-user totals. The RocksDB provider is set only for
    * this query's start (transformWithState requires it).
    */
  def runBoundedTransformWithState(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    import spark.implicits._
    val typed = boundedEventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[(Long, Long, java.sql.Timestamp, Double)]
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val out = typed.groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
    toMemory(out.toDF("user_id", "n_events", "max_value", "last_event_id"),
        queryName, "append", StatePartitions, RocksDb)
      .orderBy(col("user_id"))
  }

  /** Streaming heavy hitters — the Misra-Gries sketch inside a
    * watermarked streaming aggregation (the streaming face of d26, the
    * same way s11 streams the HLL): per event-time day, the sketch
    * tracks ≤ k candidate event types in one bounded buffer per
    * window, and the exact pass re-counts only the candidates. The
    * gate pins exactly the sketch's merge-order-independent guarantee
    * — every type with true frequency > n/k survives ANY micro-batch
    * slicing — so the filtered result equals the batch restatement.
    */
  def runBoundedStreamingHeavyHitters(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    graft.functions.MisraGries.register(spark)
    val agg = boundedEventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(expr("graft_heavy_hitters(event_type)").as("cands"),
        count(lit(1)).as("n_events"))
    val sink = toMemory(agg, queryName, "complete", StatePartitions)
    val exact = graft.queries.Tables.t(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    sink
      .select(col("window"), col("n_events"),
        explode(col("cands")).as("event_type"))
      .join(exact, Seq("window", "event_type"))
      .where(col("cnt") * 64 > col("n_events"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"), col("n_events"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Quality-gated ingest router — the standard streaming curation
    * front door: each micro-batch splits on a deterministic quality
    * rule and lands in a separate sink (accepted corpus vs quarantine
    * for review). foreachBatch writes both sides from ONE pass over
    * the batch; at scale each sink is an append-only table and the
    * router adds no shuffle at all (the rule is a per-row projection).
    * Returns the per-(verdict, lang) audit aggregate read back from
    * the two sinks.
    */
  def runBoundedQualityRouter(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val accepted = Scratch.fresh("s12acc_") + "/t"
    val quarantined = Scratch.fresh("s12qua_") + "/t"
    val route: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val judged = batch.withColumn("ok",
          col("n_chars") >= 100 &&
            size(split(trim(col("text")), "\\s+")) >= 20)
        judged.where(col("ok")).drop("ok")
          .write.mode("append").parquet(accepted)
        judged.where(!col("ok")).drop("ok")
          .write.mode("append").parquet(quarantined)
      }
    run(boundedDocStream(spark, sfDir), "append", Seq(StatePartitions))(
      _.queryName(queryName).foreachBatch(route))
    def audit(path: String, verdict: String): DataFrame =
      (try spark.read.parquet(path) catch {
        case _: Throwable => spark.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit("").as("lang"), lit(0L).as("n_chars"))
      })
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(verdict).as("verdict"), col("lang"), col("n_docs"), col("sum_chars"))
    audit(accepted, "accepted").unionByName(audit(quarantined, "quarantined"))
      .orderBy(col("verdict"), col("lang"))
  }

  private def boundedDocStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = graft.queries.Tables.raw(spark, sfDir, "documents").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
  }

  /** Bounded incremental-dedup run: historical = docs with
    * doc_id % 5 == 1; the stream is the full corpus plus re-deliveries
    * of every doc_id % 10 == 0 under id + 1,000,000.
    */
  def runBoundedIncrementalDedup(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val docs = boundedDocStream(spark, sfDir)
    val redelivered = docs.unionByName(
      boundedDocStream(spark, sfDir).where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val historical = graft.queries.Tables.raw(spark, sfDir, "documents")
      .where(col("doc_id") % 5 === 1)
    // unwatermarked dropDuplicates emits first-seen rows in their
    // arrival batch and never evicts — the no-data batch is pure
    // store-commit overhead here (see NoDataBatchesOff)
    toMemory(streamIncrementalDedup(redelivered, historical),
        queryName, "append", StatePartitions, NoDataBatchesOff)
      .orderBy(col("text_hash"))
  }

  /** Streaming cardinality sketches — the streaming face of the batch
    * d15/d17 HLL operators: distinct users per (day window, event_type)
    * estimated by the custom mergeable-register HLL aggregate
    * ([[graft.functions.HllSketch]]) inside a watermarked streaming
    * aggregation. The streaming state per group is the 2 KB register
    * buffer, NOT the user set — exact `countDistinct` is unsupported in
    * streaming precisely because its state would be member-sized; this
    * is how production monitors distinct-key cardinality on an
    * unbounded stream. The bounded run's estimates are deterministic
    * (register merges commute), so the post-stream accuracy gate is a
    * stable boolean the oracle pins TRUE. Bound: within 7.5 % relative
    * OR 4 absolute — the floor covers the linear-counting regime where
    * 5 % of a two-digit per-(day,type) count is below one estimator σ
    * (measured max deviation: 3 abs at sf0.01, 4.9 % rel at sf0.1).
    */
  def runBoundedStreamingHll(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    graft.functions.HllSketch.register(spark)
    val agg = boundedEventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(expr("graft_hll(user_id)").as("est_users"))
    val sink = toMemory(agg, queryName, "complete", StatePartitions)
    val exact = graft.queries.Tables.t(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    sink
      .join(exact, Seq("window", "event_type"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n_exact"),
        (abs(col("est_users") - col("n_exact")) <=
          greatest(col("n_exact") * 0.075, lit(4.0))).as("within_tol"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Streaming volume-anomaly monitor: the hourly windowed counts
    * stream into a live state table (the same watermark + tumbling-
    * window aggregation a production monitor maintains); the scoring
    * pass then flags every (type, hour) whose count exceeds 2× that
    * type's mean hourly volume. The comparison is the integer
    * cross-multiplication `cnt · n_windows > 2 · total` — no float
    * division, hash-exact. On an unbounded run the scoring pass is a
    * `foreachBatch` over the sink table against a slowly-refreshed
    * baseline; state stays capped by the watermark either way.
    */
  def runBoundedAnomalyFlags(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val agg = windowedEventCounts(boundedEventStream(spark, sfDir), "1 hour", "1 hour")
    // snapshot the sink before the self-join: two scans of the same
    // MemoryPlan share attribute ids and fail join resolution
    val st = toMemory(agg, queryName, "complete", StatePartitions)
      .select(col("event_type"), col("window.start").as("ws"), col("cnt"))
      .localCheckpoint(true)
    val base = st.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_windows"))
    st.join(broadcast(base), "event_type")
      .select(col("event_type"),
        date_format(col("ws"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("cnt"), col("n_windows"), col("total"),
        (col("cnt") * col("n_windows") > col("total") * 2).as("is_spike"))
      .orderBy(col("event_type"), col("window_start"))
  }

  /** Trigger.AvailableNow — the batch-scheduled streaming mode a
    * production incremental pipeline runs: process EVERYTHING
    * available at start (respecting per-batch rate limits, here
    * maxFilesPerTrigger=1 over a two-file source → two micro-batches),
    * then stop on its own; the next scheduled run resumes from the
    * checkpoint. Unlike processAllAvailable (a test-only wait), the
    * trigger itself terminates the query — the gate pins that the
    * self-terminating run still processes every file and its final
    * state equals the batch aggregation.
    */
  def runBoundedAvailableNow(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Scratch.once(s"avail|$sfDir") { d =>
      val ev = graft.queries.Tables.t(spark, sfDir, "events")
      def writeOne(df: DataFrame, name: String): Unit = {
        val tmp = Scratch.fresh("avail_part_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        Files.move(part.toPath, Paths.get(d, name))
      }
      writeOne(ev.where(col("event_id") % 2 === 0), "00_a.parquet")
      writeOne(ev.where(col("event_id") % 2 =!= 0), "01_b.parquet")
    }
    val schema = spark.read.parquet(s"$src/00_a.parquet").schema
    val agg = graft.queries.Tables.normalizeTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    run(agg, "complete", Seq(StatePartitions), await = { q =>
      q.awaitTermination(120000)
      require(!q.isActive, "AvailableNow query must self-terminate")
    })(memory(queryName).andThen(_.trigger(Trigger.AvailableNow())))
    spark.table(queryName).orderBy(col("event_type"))
  }

  /** Stream-static SCD2 enrichment: events join a slowly-changing
    * dimension on key AND event-time validity interval (ts ∈
    * [valid_from, valid_to)) — so an event picks the dimension
    * version that was CURRENT at event time, not at processing time.
    * Stream-static joins are stateless and re-plan the static side
    * per micro-batch, so an interval (non-equi) condition costs
    * nothing extra; the dim broadcasts. s06 is the plain lookup; this
    * is the temporally-correct form a backfill-safe pipeline needs.
    */
  def runBoundedScd2Enrichment(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val dim = graft.queries.Tables.t(spark, sfDir, "customer")
      .where(col("c_custkey") < 100)
      .select(col("c_custkey").as("key"), col("c_mktsegment"))
      .withColumn("version", explode(expr("array(1, 2)")))
      .withColumn("valid_from", when(col("version") === 1,
        lit("1970-01-01 00:00:00")).otherwise(lit("2024-01-16 00:00:00")).cast("timestamp"))
      .withColumn("valid_to", when(col("version") === 1,
        lit("2024-01-16 00:00:00")).otherwise(lit("2100-01-01 00:00:00")).cast("timestamp"))
    val ev = boundedEventStream(spark, sfDir)
      .withColumn("key", col("user_id") % 100)
    val agg = ev.join(broadcast(dim),
        ev("key") === dim("key") &&
          col("ts") >= col("valid_from") && col("ts") < col("valid_to"))
      .groupBy(col("version"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    toMemory(agg, queryName, "complete", StatePartitions)
      .orderBy(col("version"), col("c_mktsegment"))
  }

  /** Checkpoint recovery — the exactly-once contract across restarts:
    * a query is stopped after consuming half the input, then a NEW
    * query starts from the SAME checkpoint and consumes the rest. Two
    * things must both hold for the final totals to equal the batch
    * aggregation: the recovered source must NOT re-read the committed
    * first half (re-reading would double those counts), and the
    * aggregation state must be RESTORED from the state store (losing
    * it would halve them). Complete-mode memory sink → the final
    * table is the full recovered state.
    */
  def runBoundedCheckpointRecovery(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    recover(spark, sfDir, queryName, StatePartitions)

  /** The two-phase recovery run behind s19 and s22: both phases start
    * under `confs` from one shared checkpoint.
    */
  private def recover(spark: SparkSession, sfDir: String, queryName: String,
      confs: (String, String)*): DataFrame = {
    val src = Scratch.fresh("recov_src_")
    val ck = ckpt()
    val ev = graft.queries.Tables.t(spark, sfDir, "events")
    def phase(qn: String): Unit = run(
      graft.queries.Tables.normalizeTs(
          spark.readStream.schema(ev.schema).parquet(src))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")),
      "complete", confs, checkpoint = ck)(memory(qn))
    ev.where(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(src)
    phase(queryName + "_p1")
    ev.where(col("event_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(src)
    phase(queryName)
    spark.table(queryName).orderBy(col("event_type"))
  }

  /** s18 × s19 — the PRODUCTION pairing: checkpoint recovery ON the
    * RocksDB state store provider. Recovery is where the backend
    * actually earns its keep (the restarted query must reload its
    * aggregation state from RocksDB snapshot + changelog, not heap),
    * so the two properties are pinned together: the recovered run's
    * final totals must equal the batch aggregation over ALL events —
    * no re-read of the committed half, no state loss across the
    * provider-backed restart. Both phases start under the provider
    * conf, so it is baked into both phases' state stores.
    */
  def runBoundedRocksDbRecovery(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    recover(spark, sfDir, queryName, StatePartitions, RocksDb)

  /** The windowed aggregation (s01's plan) on the RocksDB state store —
    * the provider a production cluster runs, because the default
    * HDFS-backed store keeps every version of all state in executor
    * heap and OOMs at large key cardinality; RocksDB spills to local
    * disk with changelog checkpointing, so state scales with disk,
    * not heap. The gate pins that results are IDENTICAL under the
    * provider swap — state backend must be invisible to semantics.
    */
  def runBoundedWindowAggRocksDB(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    windowCountsToMemory(spark, sfDir, queryName, StatePartitions, RocksDb)

  /** Stream-stream LEFT SEMI join — the third join flavor next to the
    * inner (s04) and left-outer (s08) attributions: emit each click
    * AT MOST ONCE as soon as any purchase lands in its 30-minute
    * window, never the purchase columns. Same time-range bound, same
    * ~1.5 h-per-side state cap; unlike the outer join no sentinel is
    * needed — matched rows emit without waiting for the watermark.
    */
  def streamClickConversionSemi(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "left_semi")
  }

  /** Bounded left-semi conversion run → memory sink → matched clicks. */
  def runBoundedSemiConversion(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame =
    toMemory(streamClickConversionSemi(boundedEventStream(spark, sfDir)),
        queryName, "append", StatePartitions, NoDataBatchesOff)
      .select(col("user_id"), col("click_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"))
      .orderBy(col("user_id"), col("click_id"))

  /** Late-data accounting under a watermark — the semantics that make
    * unbounded aggregation state evictable at all: once the watermark
    * passes a window's end, that window is emitted+evicted and any
    * row still arriving for it is DROPPED (and counted). The bounded
    * replay pins exactly that: four files stream in a controlled
    * order (mtime-spaced; maxFilesPerTrigger=1) —
    *   batches 1–2: every event, on time, split in two halves. TWO
    *     batches because Spark double-lags the late-record filter: a
    *     batch evicts with the watermark computed from the PREVIOUS
    *     batch, but drops late input with the watermark from one
    *     batch EARLIER (so rows racing the watermark inside a single
    *     trigger are never dropped) — late data landing in batch N is
    *     filtered by the watermark as of batch N−2;
    *   batch 3: every 7th event re-delivered 30 days LATE (beyond the
    *     1 h allowed lateness → every row must drop, counted by the
    *     state operator's numRowsDroppedByWatermark);
    *   batch 4: a far-future sentinel that pushes the watermark past
    *     every real window so append mode emits them all.
    * Final counts must equal the batch aggregation of the ON-TIME
    * stream alone, and the audit column must equal the late file's
    * distinct (window, type) group count — the drop filter sits above
    * the partial aggregate, so it counts dropped GROUPS, not rows.
    * Dropping is total, emission is complete.
    */
  def runBoundedLateDataAudit(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Scratch.once(s"late|$sfDir") { d =>
      val ev = graft.queries.Tables.t(spark, sfDir, "events")
      val sentinelTs = new java.sql.Timestamp(
        ev.agg(max(col("ts"))).head.getTimestamp(0).getTime + 2592000000L)
      def writeOne(df: DataFrame, name: String, mtimeMs: Long): Unit = {
        val tmp = Scratch.fresh("late_part_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val dst = Paths.get(d, name)
        Files.move(part.toPath, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
      }
      val t0 = System.currentTimeMillis() - 60000
      writeOne(ev.where(col("event_id") % 2 === 0), "00_ontime_a.parquet", t0)
      writeOne(ev.where(col("event_id") % 2 =!= 0), "01_ontime_b.parquet", t0 + 5000)
      writeOne(ev.where(col("event_id") % 7 === 0)
        .withColumn("ts", col("ts") - expr("INTERVAL 30 DAYS")),
        "02_late.parquet", t0 + 10000)
      writeOne(ev.limit(1)
        .withColumn("event_id", lit(-1L)).withColumn("user_id", lit(-1L))
        .withColumn("event_type", lit("view")).withColumn("value", lit(0.0))
        .withColumn("ts", lit(sentinelTs)),
        "03_sentinel.parquet", t0 + 15000)
    }
    val schema = spark.read.parquet(s"$dir/00_ontime_a.parquet").schema
    val stream = graft.queries.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val q = run(agg, "append", Seq(StatePartitions))(memory(queryName))
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    spark.table(queryName)
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("cnt"))
      .withColumn("n_dropped_late", lit(dropped))
      .orderBy(col("day"), col("event_type"))
  }

  /** Streaming per-user conversion funnel as an event-order state
    * machine in keyed state: t1 = first view, t2 = first click
    * strictly after t1, t3 = first purchase strictly after t2; stage =
    * how far the user got. Unlike the windowed batch funnel (q57),
    * the stage advances ACROSS micro-batches — t1 may arrive hours
    * before the click that upgrades the user to stage 2 — so the
    * state is the three timestamps (micros; −1 = unset) plus the last
    * emitted stage, and a row is emitted only when the stage changes.
    * State is 4 longs per user — bounded by the user population, not
    * the stream length. Comparisons are full-precision micros (equal
    * timestamps do NOT advance the funnel, matching the oracle's
    * strict `>`); within-batch arrival order is normalized by an
    * explicit (ts, event_id) sort before the state is applied.
    */
  def streamFunnel(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val typed = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed.groupByKey(_._3)
      .flatMapGroupsWithState[(Long, Long, Long, Int), (Long, Int, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { case (uid, it, state) =>
        var (t1, t2, t3, emitted) = state.getOption.getOrElse((-1L, -1L, -1L, -1))
        it.toSeq.sortBy(e => (micros(e._2), e._1)).foreach { case (_, ts, _, tpe) =>
          val us = micros(ts)
          tpe match {
            case "view"     if t1 < 0                       => t1 = us
            case "click"    if t1 >= 0 && t2 < 0 && us > t1 => t2 = us
            case "purchase" if t2 >= 0 && t3 < 0 && us > t2 => t3 = us
            case _ =>
          }
        }
        val stage = if (t3 >= 0) 3 else if (t2 >= 0) 2 else if (t1 >= 0) 1 else 0
        def ms(us: Long): Long = if (us < 0) -1L else us / 1000
        val out =
          if (stage != emitted) Iterator((uid, stage, ms(t1), ms(t2), ms(t3)))
          else Iterator.empty
        state.update((t1, t2, t3, stage))
        out
      }
      .toDF("user_id", "stage", "t1_ms", "t2_ms", "t3_ms")
  }

  /** Bounded-stream funnel → memory sink → final per-user stages. */
  def runBoundedFunnel(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val sink = toMemory(streamFunnel(boundedEventStream(spark, sfDir)),
      queryName, "append", StatePartitions)
    // the append-mode sink holds one row per stage TRANSITION (the
    // state machine emits on every upgrade); with 2+ micro-batches a
    // user can appear at stage 1 and again at stage 3 — reduce to the
    // final (max-stage) row per user so the result is batch-equivalent
    // regardless of how the source files split into triggers
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("stage").desc)
    sink
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .orderBy(col("user_id"))
  }

  /** Streaming distribution-drift monitor: per event-time day, the
    * total-variation distance (permille) between that day's event-type
    * mix and the whole-run mix — the alert a pipeline fires when a
    * source changes behavior mid-crawl. The STREAM holds only
    * watermarked (day, type) counts — state is days×types,
    * vocabulary-sized, never per-event; the TV fold runs batch-side on
    * the tiny sink table over the COMPLETE day×type grid (absent cells
    * count as zero, so a type that vanishes for a day still registers
    * as drift). Integer permille math end to end — engine-exact.
    */
  def runBoundedDriftMonitor(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val agg = boundedEventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // the sink table is days×types rows; checkpoint it so the three
    // derivations below (day totals × type totals ⟕ cells) join as
    // clean re-instanced relations, not conflicting self-references
    val counts = toMemory(agg, queryName, "complete", StatePartitions)
      .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"))
      .localCheckpoint(true)
    val dayTotals = counts.groupBy("day").agg(sum(col("n")).as("n_day"))
    val global = counts.groupBy("event_type").agg(sum(col("n")).as("g"))
    val gTotal = global.agg(sum(col("g")).as("g_total"))
    dayTotals.crossJoin(global) // complete day×type grid — tiny
      .join(counts, Seq("day", "event_type"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(gTotal))
      .withColumn("diff", abs(expr("n * 1000 div n_day")
        - expr("g * 1000 div g_total")))
      .groupBy(col("day"), col("n_day"))
      .agg(expr("sum(diff) div 2").as("tv_permille"))
      .withColumn("drifted", col("tv_permille") >= 100)
      .orderBy(col("day"))
  }

  /** Streaming filter funnel — the streaming face of the batch d142
    * report: per-(source, stage) doc/token attrition counters kept as
    * a COMPLETE-mode aggregation. The group cardinality is
    * sources × 4 stages (bounded by construction), so the streaming
    * state is a few dozen counter rows no matter how much data flows —
    * the same reason s11 can hold HLL registers and s13 a Misra-Gries
    * buffer. The stage label is the identical per-row CASE the batch
    * gate uses; the bounded run must reproduce the batch d142 result
    * exactly (same oracle).
    */
  def runBoundedStreamFilterFunnel(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    val agg = boundedDocStream(spark, sfDir)
      .select(col("source"),
        split(lower(trim(col("text"))), "\\s+").as("toks"),
        length(col("text")).cast("long").as("n_chars"))
      .select(col("source"), size(col("toks")).cast("long").as("n_words"),
        col("n_chars"),
        expr("""size(filter(toks, t -> t in ('the','a','of','and','to','in','is')))""")
          .cast("long").as("n_stop"))
      .withColumn("stage", expr(
        """CASE
          |  WHEN n_words < 10 OR n_words > 5000 THEN '1_length'
          |  WHEN n_chars < n_words * 3 OR n_chars > n_words * 12 THEN '2_word_shape'
          |  WHEN n_stop * 50 < n_words THEN '3_stopword'
          |  ELSE '4_kept' END""".stripMargin))
      .groupBy(col("source"), col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
    toMemory(agg, queryName, "complete", StatePartitions)
      .orderBy(col("source"), col("stage"))
  }

  /** Streaming ingest-time decontamination: d133's exact verbatim
    * 8-gram gate applied where production applies it — at ingest, per
    * micro-batch, before a doc reaches the training store. The static
    * eval gram index broadcasts into each batch's probe join; the
    * aggregation is batch-local and still EXACT because contamination
    * is per-doc and a doc arrives in exactly one batch — so the stream
    * holds ZERO state (no watermark, no store) and the operator's cost
    * scales with the batch, never the history. Flagged docs append to
    * a quarantine log; the bounded run must reproduce the batch d133
    * result bit-for-bit (same oracle).
    */
  def runBoundedStreamDecontamination(spark: SparkSession, sfDir: String,
      queryName: String): DataFrame = {
    // register the native hash expressions BEFORE the stream starts:
    // the micro-batch session is cloned at stream start, so functions
    // registered later (inside foreachBatch) don't reach the clone
    graft.functions.BitSketchExpressions.register(spark)
    // 2-file split so the run crosses micro-batches, proving the
    // batch-local aggregation composes across them
    val src = Scratch.once(s"s24src|$sfDir") { d =>
      graft.queries.Tables.raw(spark, sfDir, "documents").repartition(2)
        .write.mode("overwrite").parquet(d)
    }
    val schema = spark.read.parquet(src).schema
    def stream(): DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val isBench = col("doc_id") % 50 === 0 && col("doc_id") < 1000000L
    // same planted corpus as the batch gate: copies of every %10 doc
    // share all interior 8-grams with their original
    val docs = stream().unionByName(stream().where(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" zzz"))))
    // the eval slice is benchmark-sized; settle it once, not per batch
    val evalDocs = graft.queries.Tables.raw(spark, sfDir, "documents")
      .where(isBench).select(col("doc_id"), col("text")).localCheckpoint(true)
    val target = Scratch.fresh("s24tgt_") + "/t"
    val probe: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val flagged = graft.ops.TextDedup.exactNgramContamination(
          batch.where(!isBench), evalDocs, n = 8)
        flagged.write.mode("append").parquet(target)
      }
    run(docs, "append", Nil)(_.queryName(queryName).foreachBatch(probe))
    spark.read.parquet(target).orderBy(col("doc_id"))
  }
}
