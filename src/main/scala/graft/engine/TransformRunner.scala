package graft.engine

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.config.{LoadMethod, TaskConfig, WriteDisposition}
import graft.core.macros.{AssetCompiler, QueryMacros}
import graft.core.window.TaskWindow

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Destination partitioning, as the reference probes it from the
  * catalog (`transformation.py:71-116`).
  */
sealed trait PartitionSpec
object PartitionSpec {
  case object Unpartitioned extends PartitionSpec
  /** DAY time-partitioning on a column. */
  final case class DayColumn(field: String) extends PartitionSpec
  /** ingestion-time table: engine-managed `_ingest_date` column
    * (BigQuery `_PARTITIONTIME`).
    */
  case object IngestionTime extends PartitionSpec
  /** integer range partitioning (BigQuery `range_partitioning`,
    * `transformation.py:98-116`): the destination is partitioned by an
    * integer column holding the range start (the generated-partition-
    * column mapping from SURVEY §1.1 — bounded partition count at scale).
    */
  final case class RangeColumn(field: String) extends PartitionSpec
}

/** The transformation dispatcher + load strategies — the Spark-native
  * restatement of `transformation.py:22-428` (A1, A10–A17) and the
  * concurrent executor (A19).
  *
  * Scale design: partition writes use dynamic partition overwrite (one
  * distributed pass, no driver loops over data); the MultiPartition path
  * submits per-partition Spark jobs concurrently (fair scheduling), each
  * pruned to one partition's predicate so input scans stay bounded.
  */
class TransformRunner(spark: SparkSession) {
  import PartitionSpec._

  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  private def script(sql: String): DataFrame =
    new ScriptRunner(spark).run(sql).getOrElse(
      throw new IllegalArgumentException("query produced no result set"))

  private def render(sql: String, conf: TaskConfig, window: TaskWindow,
      executionTime: LocalDateTime): String =
    QueryMacros.render(sql, window, executionTime, conf.destinationTable)

  /** Catalog name for a BigQuery-style `project.dataset.table` FQN:
    * `project__dataset` database (hyphens sanitized) + table name.
    */
  def catalogName(fqn: String): String = {
    val (clean, _) = Dialect.normalizeTableName(fqn)
    clean.split("\\.") match {
      case Array(p, d, t) => s"${sanitize(p)}__${sanitize(d)}.$t"
      case Array(d, t) => s"${sanitize(d)}.$t"
      case _ => clean
    }
  }
  private def sanitize(s: String) = s.replace("-", "_")

  /** REQUIRED-mode columns of a destination (engine-managed metadata;
    * see ALLOW_FIELD_RELAXATION note in [[tableTransform]]).
    */
  private def requiredColumns(dest: String): Set[String] =
    spark.sql(s"SHOW TBLPROPERTIES $dest").collect()
      .find(_.getString(0) == "graft.required.columns")
      .map(_.getString(1).split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  def partitionSpecOf(catalogTable: String): PartitionSpec = {
    val cols = spark.catalog.listColumns(catalogTable).collect()
    val integral = Set("tinyint", "smallint", "int", "bigint")
    cols.find(_.isPartition).map { c =>
      if (c.name == "_ingest_date") IngestionTime
      else if (integral(c.dataType.toLowerCase)) RangeColumn(c.name)
      else DayColumn(c.name)
    }.getOrElse(Unpartitioned)
  }

  /** A1: dispatch on LoadMethod × destination partitioning —
    * `transformation.py:50-161`.
    */
  /** QUERY_PRIORITY → scheduler pool (config.py:159-163): INTERACTIVE
    * jobs outweigh BATCH under FAIR scheduling. The local property is
    * inherited by the concurrent executor's worker threads, so every job
    * a strategy submits lands in the run's pool.
    */
  private def applyPriority(conf: TaskConfig): Unit = {
    val pool = conf.queryPriority match {
      case graft.core.config.QueryPriority.Batch => "batch"
      case graft.core.config.QueryPriority.Interactive => "interactive"
    }
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
  }

  def transform(conf: TaskConfig, sqlQuery: String, window: TaskWindow,
      executionTime: LocalDateTime, dryRun: Boolean = false): Unit = {
    applyPriority(conf)
    val dest = catalogName(conf.destinationTable)
    val spec = partitionSpecOf(dest)
    // heal a crashed staged-swap commit before touching the table
    if (spec != Unpartitioned && !dryRun) PartitionCommit.recover(spark, dest)
    // `table$YYYYMMDD` partition decorator → route the whole result into
    // that one partition (PartitionLoader, loader.py:15-32)
    val (_, decorator) = Dialect.normalizeTableName(conf.destinationTable)
    decorator.foreach { dec =>
      val pdate = s"${dec.substring(0, 4)}-${dec.substring(4, 6)}-${dec.substring(6, 8)}"
      val pfield = spec match {
        case DayColumn(f) => f
        case IngestionTime => "_ingest_date"
        case Unpartitioned => throw new IllegalArgumentException(
          s"partition decorator on unpartitioned table ${conf.destinationTable}")
        case RangeColumn(_) => throw new IllegalArgumentException(
          s"date partition decorator on range-partitioned table ${conf.destinationTable}")
      }
      val df = script(render(sqlQuery, conf, window, executionTime))
      if (dryRun) { df.explain(); return }
      conf.loadMethod.writeDisposition match {
        case WriteDisposition.WriteTruncate => writeStaticPartition(df, dest, pfield, pdate)
        case WriteDisposition.WriteAppend =>
          val cols = spark.table(dest).schema.fieldNames.filterNot(_ == pfield)
          val routed = df.select((cols.map(col) :+ lit(pdate).as(pfield)).toIndexedSeq: _*)
          routed.write.mode("append").insertInto(dest)
      }
      return
    }
    (conf.loadMethod, spec) match {
      case (LoadMethod.Merge, _) =>
        dmlTransform(conf, sqlQuery, window, executionTime, dryRun)
      case (LoadMethod.Append, _) =>
        tableTransform(conf, sqlQuery, window, executionTime, dryRun)
      // REPLACE with time_partitioning None splits on the break marker and
      // runs only the FIRST slice (transformation.py:68-80 task_queries[0])
      case (LoadMethod.Replace, Unpartitioned) =>
        tableTransform(conf, AssetCompiler.splitOnMarker(sqlQuery).head,
          window, executionTime, dryRun)
      case (LoadMethod.ReplaceAll, DayColumn(f)) =>
        singlePartitionTransform(conf, sqlQuery, window, executionTime, f, dryRun)
      case (LoadMethod.Replace, DayColumn(f)) =>
        multiPartitionTransform(conf, sqlQuery, window, executionTime, f, dryRun)
      case (LoadMethod.Replace, IngestionTime) =>
        multiPartitionTransform(conf, sqlQuery, window, executionTime, "_ingest_date", dryRun)
      case (LoadMethod.ReplaceMerge, DayColumn(f)) =>
        mergeReplaceTransform(conf, sqlQuery, window, executionTime, f, dryRun)
      // range_partitioning (transformation.py:98-116): REPLACE_MERGE on a
      // range-partitioned destination uses the same MergeReplace strategy
      // with partition_column_name = range_partitioning.field (INTEGER)
      case (LoadMethod.ReplaceMerge, RangeColumn(f)) =>
        mergeReplaceTransform(conf, sqlQuery, window, executionTime, f, dryRun)
      // REPLACE only branches on time_partitioning (transformation.py:
      // 68-93): a range-partitioned table has time_partitioning None and
      // falls to the whole-table TableTransformation (WRITE_TRUNCATE,
      // task_queries[0] after break-marker split). tableTransform switches
      // to static partition overwrite for this case so stale range
      // partitions absent from the result are dropped, like a truncate.
      case (LoadMethod.Replace, RangeColumn(_)) =>
        tableTransform(conf, AssetCompiler.splitOnMarker(sqlQuery).head,
          window, executionTime, dryRun)
      case (LoadMethod.ReplaceAll, RangeColumn(_)) => throw new IllegalArgumentException(
        "REPLACE_ALL writes a date partition decorator (table$YYYYMMDD), which is " +
          "invalid for a range-partitioned destination; use REPLACE_MERGE or REPLACE")
      case (m, s) => throw new IllegalArgumentException(
        s"unsupported load method $m for partitioning $s")
    }
  }

  /** A13 + A10: whole-table strategy. Honors ALLOW_FIELD_ADDITION
    * (schema evolution: BigQuery `SchemaUpdateOption.ALLOW_FIELD_ADDITION`,
    * `bigquery_service.py:111-115`) by ALTERing new columns onto the
    * destination before the write.
    */
  def tableTransform(conf: TaskConfig, sql: String, window: TaskWindow,
      executionTime: LocalDateTime, dryRun: Boolean): Unit = {
    val rendered = render(sql, conf, window, executionTime)
    val df = script(rendered)
    if (dryRun) { df.explain(); return }
    val dest = catalogName(conf.destinationTable)
    if (conf.allowFieldAddition) {
      val existing = spark.table(dest).schema.fieldNames.map(_.toLowerCase).toSet
      val added = df.schema.fields.filterNot(f => existing(f.name.toLowerCase))
      if (added.nonEmpty) {
        val colsDdl = added.map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
        spark.sql(s"ALTER TABLE $dest ADD COLUMNS ($colsDdl)")
      }
    }
    // ALLOW_FIELD_RELAXATION: the reference passes BOTH schema update
    // options whenever allow_field_addition is set (bigquery_service.py:
    // 111-115), so the same flag also permits REQUIRED -> NULLABLE mode
    // evolution. Parquet v1 catalog tables can't carry NOT NULL, so
    // REQUIRED columns are engine-managed metadata in the table property
    // `graft.required.columns`; a write whose schema is nullable (or
    // missing -> null-filled) on a REQUIRED column either relaxes the
    // mode (flag on) or fails the job like BigQuery's schema check.
    val required = requiredColumns(dest)
    if (required.nonEmpty) {
      val relaxed = required.filter { r =>
        df.columns.find(_.equalsIgnoreCase(r)) match {
          case Some(c) => df.schema(c).nullable
          case scala.None => true // absent from source: null-filled below
        }
      }
      if (relaxed.nonEmpty) {
        if (conf.allowFieldAddition) {
          val remaining = (required -- relaxed).mkString(",")
          spark.sql(s"ALTER TABLE $dest SET TBLPROPERTIES " +
            s"('graft.required.columns'='$remaining')")
        } else throw new IllegalArgumentException(
          s"field(s) ${relaxed.toSeq.sorted.mkString(", ")} of $dest would change mode " +
            "REQUIRED -> NULLABLE; set ALLOW_FIELD_ADDITION=true to allow " +
            "schema relaxation (SchemaUpdateOption.ALLOW_FIELD_RELAXATION)")
      }
    }
    val destCols = spark.table(dest).schema.fieldNames
    val aligned = destCols.map { c =>
      if (df.columns.exists(_.equalsIgnoreCase(c))) col(c)
      else lit(null).cast(spark.table(dest).schema(c).dataType).as(c)
    }
    val mode = conf.loadMethod.writeDisposition match {
      case WriteDisposition.WriteAppend => "append"
      case WriteDisposition.WriteTruncate => "overwrite"
    }
    val out = df.select(aligned.toIndexedSeq: _*)
    val pField = spark.catalog.listColumns(dest).collect()
      .find(_.isPartition).map(_.name)
    (mode, pField) match {
      case ("overwrite", Some(field)) =>
        // WRITE_TRUNCATE on a partitioned destination must replace the
        // WHOLE table — stale partitions absent from the result must
        // not survive. Staged swap with every existing partition on the
        // drop list is a true truncate AND crash-atomic (the old static-
        // mode INSERT OVERWRITE committed partition-at-a-time).
        val existing = spark.sql(s"SHOW PARTITIONS $dest").collect()
          .map(_.getString(0).stripPrefix(field + "=")).toSeq
        stagedDynamicReplace(dest, field, out, dropValues = existing)
      case _ => out.write.mode(mode).insertInto(dest)
    }
  }

  /** A14 + A11: REPLACE_ALL — whole window's result into the single
    * partition at window.start (`transformation.py:235-270`).
    */
  def singlePartitionTransform(conf: TaskConfig, sql: String, window: TaskWindow,
      executionTime: LocalDateTime, partitionField: String, dryRun: Boolean): Unit = {
    val rendered = render(sql, conf, window, executionTime)
    val df = script(rendered)
    if (dryRun) { df.explain(); return }
    val dest = catalogName(conf.destinationTable)
    val pdate = window.start.format(DateTimeFormatter.ISO_LOCAL_DATE)
    writeStaticPartition(df, dest, partitionField, pdate)
  }

  /** static partition overwrite: route every row of df into $pdate. */
  private def writeStaticPartition(df: DataFrame, dest: String,
      partitionField: String, pdate: String): Unit = {
    df.createOrReplaceTempView("__graft_src")
    val cols = spark.table(dest).schema.fieldNames
    val dataCols = cols.filterNot(_ == partitionField).mkString(", ")
    spark.sql(
      s"""INSERT OVERWRITE TABLE $dest PARTITION ($partitionField = '$pdate')
         |SELECT $dataCols FROM __graft_src""".stripMargin)
  }

  /** A15 + A11 + A19: REPLACE on a partitioned destination — split the
    * pre-compiled query on the break marker, one query per daily
    * partition (dest partition = slice end − 1 day), run concurrently
    * (`transformation.py:362-428`).
    *
    * Scale note: when the query has no break markers (single slice), we
    * use one-pass dynamic partition overwrite — semantically equal and
    * one distributed job instead of N.
    */
  def multiPartitionTransform(conf: TaskConfig, sql: String, window: TaskWindow,
      executionTime: LocalDateTime, partitionField: String, dryRun: Boolean): Unit = {
    val dest = catalogName(conf.destinationTable)
    val queries = AssetCompiler.splitOnMarker(sql)
    val delta = java.time.Duration.ofDays(1)
    val nPartitions = Iterator.iterate(window.start)(_.plus(delta))
      .takeWhile(_.isBefore(window.end)).size

    if (queries.size == 1) {
      // single-pass fast path: one distributed stage write of every
      // touched partition, then the crash-atomic swap
      val df = script(render(queries.head, conf, window, executionTime))
      if (dryRun) { df.explain(); return }
      stagedDynamicReplace(dest, partitionField, df)
      return
    }
    // reference semantics (transformation.py: `len(task_queries) <
    // len(datetime_list)` is the only error): FEWER queries than
    // partitions leaves days unwritten → error; EXTRA trailing slices
    // (e.g. a break marker after the last query) are ignored
    if (queries.size < nPartitions)
      throw new IllegalArgumentException(
        s"query count ${queries.size} is less than partition count $nPartitions")

    // every slice STAGES its partition concurrently (distinct dirs, no
    // contention), and only after ALL slices succeed does the journaled
    // swap publish them — a crash at any point leaves the destination
    // fully-old (pre-journal) or recoverable-to-fully-new (post-journal)
    val stageDir = PartitionCommit.newStageDir(spark, dest)
    val destSchema = spark.table(dest).schema
    val tasks = queries.take(nPartitions).zipWithIndex.map { case (q, i) =>
      val sliceStart = window.start.plus(delta.multipliedBy(i.toLong))
      val sliceEnd = sliceStart.plus(delta)
      val pdate = sliceEnd.minus(delta).format(DateTimeFormatter.ISO_LOCAL_DATE)
      () => {
        val w = graft.core.window.CustomWindow(sliceStart, sliceEnd)
        val df = script(render(q, conf, w, executionTime))
        if (!dryRun) {
          val dataCols = destSchema.fields.filterNot(_.name == partitionField)
          val routed = df.select(
            dataCols.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
          routed.write.mode("overwrite").parquet(
            new org.apache.hadoop.fs.Path(stageDir, s"$partitionField=$pdate").toString)
        }
      }
    }
    ConcurrentTaskExecutor.execute(tasks.map(t => () => { t(); () }), conf.concurrency)
    if (!dryRun)
      PartitionCommit.commit(spark, dest, partitionField, stageDir, Seq.empty)
  }

  /** Stage a dynamically-partitioned result (partition column IN the
    * frame) and publish via the crash-atomic swap — same replaced-
    * partition semantics as dynamic-mode `INSERT OVERWRITE`, without
    * its partition-at-a-time commit window.
    */
  private def stagedDynamicReplace(dest: String, partitionField: String,
      df: DataFrame, dropValues: Seq[String] = Seq.empty): Unit = {
    val schema = spark.table(dest).schema
    // positional alignment + cast, matching insertInto semantics
    val renamed = df.toDF(schema.fieldNames.toIndexedSeq: _*)
    val aligned = renamed.select(
      schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    val stageDir = PartitionCommit.newStageDir(spark, dest)
    aligned.write.partitionBy(partitionField).mode("overwrite")
      .parquet(stageDir.toString)
    PartitionCommit.commit(spark, dest, partitionField, stageDir, dropValues)
  }

  /** A16 + A12: REPLACE_MERGE — replace affected partitions, either via
    * the user PARTITION_FILTER or auto-discovery of touched partitions
    * (`transformation.py:306-359`, templates `query.py:6-62`).
    *
    * Parquet rewrite of the generated MERGE (ON FALSE): delete dest
    * rows matching the filter / in the source's partition set, insert
    * all source rows — implemented as per-partition overwrite of
    * (dest − deleted) ∪ source, pruned to affected partitions only.
    */
  def mergeReplaceTransform(conf: TaskConfig, sql: String, window: TaskWindow,
      executionTime: LocalDateTime, partitionField: String, dryRun: Boolean): Unit = {
    val dest = catalogName(conf.destinationTable)
    val rendered = render(sql, conf, window, executionTime)
    val source = script(rendered)
    if (dryRun) {
      // emit the generated MERGE script text in the reference's exact
      // template form next to the Spark plan, so dry-run shows what a
      // BigQuery user would recognize (query.py:6-62)
      val destCols = spark.table(dest).columns.toSeq
      val text = conf.filterExpression match {
        case Some(f) => MergeTextRenderer.fromFilter(
          rendered, conf.destinationTable, destCols, source.columns.toSeq, f)
        case scala.None => MergeTextRenderer.auto(
          rendered, conf.destinationTable, destCols, source.columns.toSeq, partitionField)
      }
      println(text)
      source.explain()
      return
    }
    val destDf = spark.table(dest)

    conf.filterExpression match {
      case Some(filter) =>
        val f = Dialect.rewrite(filter)
        // affected partitions: any partition holding filter-matched dest
        // rows or source rows. The filter may empty a partition entirely
        // (MERGE deletes with no replacement) — an emptied partition
        // stages no directory and rides the commit's drop list.
        // Partition values are calendar-bounded metadata (safe to
        // collect). The rewritten content of every affected partition
        // STAGES before the destination mutates at all (reading dest
        // while staging is safe), then the journaled swap publishes —
        // crash-atomic, unlike the old drop-partitions-then-append.
        val affected = destDf.where(expr(f)).select(col(partitionField)).distinct()
          .union(source.select(col(partitionField)).distinct()).distinct()
        val keep = destDf.join(affected.withColumnRenamed(partitionField, "__p"),
            col(partitionField) === col("__p"), "left_semi")
          // SQL deletes only rows where the filter is TRUE — a NULL
          // filter result keeps the row (not(NULL) is NULL and would
          // silently drop it)
          .where(not(coalesce(expr(f), lit(false))))
          .unionByName(source.select(destDf.columns.map(col).toIndexedSeq: _*))
        val parts = affected.collect().map(_.get(0).toString).toSeq
        stagedDynamicReplace(dest, partitionField, keep, dropValues = parts)
      case scala.None =>
        // auto mode: partitions touched by source get replaced wholesale
        // (delete IN UNNEST(partitions) + insert source ≡ replacing every
        // source-present partition)
        stagedDynamicReplace(dest, partitionField,
          source.select(destDf.columns.map(col).toIndexedSeq: _*))
    }
  }

  /** A18: spillover — the reference ships this broken and undispatched
    * (`transformation.py:431-522`: wrong ctor arity, undefined field);
    * this is the repaired semantics: run the spillover query, take the
    * DISTINCT dates of its first column, and re-run the main query once
    * per date into that daily partition (concurrently, A19).
    *
    * The date collect is partition metadata (calendar-bounded), not data.
    */
  def spilloverTransform(conf: TaskConfig, mainSql: String, spilloverSql: String,
      window: TaskWindow, executionTime: LocalDateTime,
      partitionField: String, dryRun: Boolean = false): Unit = {
    applyPriority(conf)
    val dest = catalogName(conf.destinationTable)
    if (dryRun) {
      // dry-run must not run jobs — the spillover date collect IS a job,
      // so explain both plans for the requested window instead
      script(render(spilloverSql, conf, window, executionTime)).explain()
      script(render(mainSql, conf, window, executionTime)).explain()
      return
    }
    val spillover = script(render(spilloverSql, conf, window, executionTime))
    val dates = spillover.select(col(spillover.columns.head))
      .distinct().collect()
      .map(r => java.time.LocalDate.parse(r.get(0).toString.take(10)))
      .sorted
    val tasks = dates.toSeq.map { date =>
      () => {
        val w = graft.core.window.CustomWindow(date.atStartOfDay, date.plusDays(1).atStartOfDay)
        val df = script(render(mainSql, conf, w, executionTime))
        if (!dryRun) {
          val cols = spark.table(dest).schema.fieldNames.filterNot(_ == partitionField)
          val routed = df.select(
            (cols.map(col) :+ lit(date.toString).as(partitionField)).toIndexedSeq: _*)
          routed.write.mode("overwrite").insertInto(dest)
        }
        ()
      }
    }
    ConcurrentTaskExecutor.execute(tasks, conf.concurrency)
  }

  /** A17 + A12: MERGE — the user-authored script, executed after
    * rendering with full scripting (DECLARE/SET, IF, loops, procedures)
    * and one end-of-script transaction contract: [[DmlRunner.run]] runs
    * it through ScriptRunner's loop.
    */
  def dmlTransform(conf: TaskConfig, sql: String, window: TaskWindow,
      executionTime: LocalDateTime, dryRun: Boolean): Unit = {
    val rendered = render(sql, conf, window, executionTime)
    if (dryRun) return
    new DmlRunner(spark, this).run(rendered)
  }
}

/** Crash-atomic multi-partition replacement — stage, journal, swap.
  *
  * The reference inherits atomicity from BigQuery's job commit
  * (`executor/bumblebee/bigquery_service.py:96-141`); a parquet engine
  * must build it: per-partition INSERT OVERWRITEs commit one partition
  * at a time, so a mid-write crash leaves some partitions new and some
  * old. The protocol here is the classic write-ahead commit:
  *
  *  1. STAGE — every new partition's content is written under the
  *     table location in a dot-prefixed dir (`.graft_stage_<tx>/f=v`;
  *     Spark's file index ignores dot-paths without `=`), touching
  *     nothing the table serves. A crash here leaves the destination
  *     FULLY OLD.
  *  2. COMMIT POINT — a journal listing every swap/drop action is
  *     written and atomically RENAMED to `.graft_commit.json`.
  *  3. SWAP — per partition: old dir → per-tx trash, staged dir →
  *     final; then MSCK SYNC + cache refresh, then the journal is
  *     removed. Every step is idempotent, so a crash anywhere in 3
  *     leaves the journal in place and [[recover]] (run by
  *     `TransformRunner.transform` before every load, or explicitly)
  *     replays to FULLY NEW.
  *
  * The swap itself is driver-side directory renames — O(partitions)
  * metadata ops, no data movement, which is why it stays cheap at
  * 100 TB while the heavy distributed write happens in stage.
  */
object PartitionCommit {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** test hook: simulate a crash after N swap actions (-1 = off). */
  private[engine] var crashAfterActions: Int = -1

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  def tableLocation(spark: SparkSession, dest: String): Path = {
    val row = spark.sql(s"DESCRIBE FORMATTED $dest").collect()
      .find(r => r.getString(0).trim.equalsIgnoreCase("Location"))
      .getOrElse(throw new IllegalStateException(s"no Location for $dest"))
    new Path(row.getString(1).trim)
  }

  def newStageDir(spark: SparkSession, dest: String): Path = {
    val tx = java.util.UUID.randomUUID().toString.replace("-", "")
    new Path(tableLocation(spark, dest), s".graft_stage_$tx")
  }

  private def journalPath(loc: Path) = new Path(loc, ".graft_commit.json")

  /** Replace dest's partitions with the contents staged under
    * `stageDir` (subdirs `field=value`) and drop `dropValues`
    * partitions that staged nothing (a MERGE can empty a partition).
    */
  def commit(spark: SparkSession, dest: String, field: String,
      stageDir: Path, dropValues: Seq[String]): Unit = {
    val loc = tableLocation(spark, dest)
    val fs = fsOf(spark, loc)
    // heal a crashed predecessor BEFORE journaling: a POSIX rename over
    // an existing journal would silently replace it and lose that tx's
    // remaining swap actions (concurrent writers to one destination
    // remain unsupported — single-writer per table, like the reference).
    // Orphaned transaction pins heal first — this commit's snapshot
    // pruning must not delete a dead transaction's pinned images.
    TxnPin.healOrphans(spark, loc)
    if (fs.exists(journalPath(loc))) replay(spark, dest, loc)
    val stagedVals =
      if (fs.exists(stageDir))
        fs.listStatus(stageDir).filter(_.isDirectory)
          .map(_.getPath.getName).filter(_.startsWith(field + "="))
          .map(_.stripPrefix(field + "=")).toSeq
      else Seq.empty
    val actions = stagedVals.map((_, true)) ++
      dropValues.filterNot(stagedVals.contains).map((_, false))
    if (actions.isEmpty) { fs.delete(stageDir, true); return }
    val tx = stageDir.getName.stripPrefix(".graft_stage_")
    // write-ahead journal; its atomic rename into place IS the commit
    // point — before it the destination is untouched, after it replay
    // (here or via recover after a crash) completes the swap
    val tmp = new Path(loc, s".graft_commit_$tx.tmp")
    val out = fs.create(tmp, true)
    out.write((s"$tx\n$field\n${stageDir.getName}\n" +
      actions.map { case (v, s) => s"$v\t$s" }.mkString("\n")).getBytes("UTF-8"))
    out.close()
    if (!fs.rename(tmp, journalPath(loc)))
      throw new IllegalStateException(
        s"commit journal already present for $dest — recover() it first")
    replay(spark, dest, loc)
  }

  /** Heal a crashed commit: roll back any orphaned transaction pin
    * (a transaction whose JVM died — BigQuery rolls those back
    * server-side), then finish a crashed statement swap if a journal
    * is present. No-op otherwise. Idempotent.
    */
  def recover(spark: SparkSession, dest: String): Unit =
    recover(spark, dest, healPins = true)

  private[engine] def recover(spark: SparkSession, dest: String,
      healPins: Boolean): Unit = {
    val loc = tableLocation(spark, dest)
    if (healPins) TxnPin.healOrphans(spark, loc)
    if (fsOf(spark, loc).exists(journalPath(loc))) replay(spark, dest, loc)
  }

  /** Crash-atomic WHOLE-TABLE replacement (the DML rewrite path:
    * DELETE/UPDATE/MERGE produce the complete new contents): stage is
    * a plain parquet write under the table location, then this swap is
    * two journaled phases of driver-side renames — (1) every current
    * non-hidden child moves to trash, a phase marker lands, (2) staged
    * children move in. A crash anywhere replays: before the journal
    * the destination is untouched, during phase 1 the replay finishes
    * trashing (staged files can't be in the destination yet), after
    * the marker the replay never re-trashes the already-moved new
    * files. Same single-writer contract as [[commit]]; the reference
    * inherits this atomicity from BigQuery DML jobs
    * (executor/bumblebee/bigquery_service.py:96-141).
    */
  def commitFull(spark: SparkSession, dest: String, stageDir: Path,
      partitioned: Boolean): Unit = {
    val loc = tableLocation(spark, dest)
    val fs = fsOf(spark, loc)
    // same pre-heal contract as [[commit]] (a LIVE transaction's pins
    // are skipped — only ownerless ones roll back)
    TxnPin.healOrphans(spark, loc)
    if (fs.exists(journalPath(loc))) replay(spark, dest, loc)
    val tx = stageDir.getName.stripPrefix(".graft_stage_")
    val marker = if (partitioned) "__FULL_P__" else "__FULL__"
    val tmp = new Path(loc, s".graft_commit_$tx.tmp")
    val out = fs.create(tmp, true)
    out.write(s"$tx\n$marker\n${stageDir.getName}".getBytes("UTF-8"))
    out.close()
    if (!fs.rename(tmp, journalPath(loc)))
      throw new IllegalStateException(
        s"commit journal already present for $dest — recover() it first")
    replay(spark, dest, loc)
  }

  private def replayFull(spark: SparkSession, dest: String, loc: Path,
      tx: String, partitioned: Boolean, stageName: String): Unit = {
    val fs = fsOf(spark, loc)
    val stageDir = new Path(loc, stageName)
    val trashDir = new Path(loc, s".graft_trash_$tx")
    val phase2 = new Path(loc, s".graft_commit_$tx.phase2")
    var n = 0
    def step(from: Path, to: Path): Unit = {
      fs.rename(from, to)
      n += 1
      if (crashAfterActions >= 0 && n >= crashAfterActions)
        throw new IllegalStateException("simulated crash mid-commit")
    }
    if (!fs.exists(phase2)) {
      // phase 1: old contents aside (all graft internals are
      // dot-prefixed, so "non-hidden" = the table's own files)
      fs.mkdirs(trashDir)
      fs.listStatus(loc).map(_.getPath)
        .filter(p => !p.getName.startsWith("."))
        .foreach(p => step(p, new Path(trashDir, p.getName)))
      fs.create(phase2, true).close()
    }
    // phase 2: staged contents in (idempotent — moved files vanish
    // from the stage listing)
    if (fs.exists(stageDir))
      fs.listStatus(stageDir).map(_.getPath)
        .filter(p => !p.getName.startsWith("."))
        .foreach(p => step(p, new Path(loc, p.getName)))
    if (partitioned)
      spark.sql(s"MSCK REPAIR TABLE $dest SYNC PARTITIONS")
    spark.catalog.refreshTable(dest)
    fs.delete(stageDir, true)
    // the trashed pre-write image becomes a TIME-TRAVEL snapshot: the
    // data that was current until this commit's wall-clock boundary
    retainSnapshot(fs, loc, trashDir, tx)
    fs.delete(phase2, false)
    fs.delete(journalPath(loc), false)
  }

  /** How many retained snapshots (full images + partial markers) a
    * table keeps — the engine's time-travel horizon, the bounded
    * analogue of BigQuery's 7-day window.
    */
  private[engine] var snapshotKeep: Int = 8

  /** Pointer-based transaction seam: an open transaction registers a
    * listener here to learn where each full-table swap parked the
    * pre-write image (`(tableLocation, snapshotDir)`), and pins the
    * snapshot dirs its rollback would restore from so [[pruneSnapshots]]
    * cannot delete them mid-transaction. Zero rows move through either
    * hook — both track directory POINTERS only.
    */
  private[engine] val retainListeners =
    new java.util.concurrent.CopyOnWriteArrayList[(Path, Path) => Unit]()
  private[engine] val prunePins: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def snapMillis(name: String): Long = {
    val rest = name.stripPrefix(".graft_snap_")
    (if (rest.startsWith("partial_")) rest.stripPrefix("partial_") else rest)
      .takeWhile(_.isDigit).toLong
  }

  private def retainSnapshot(fs: FileSystem, loc: Path, trashDir: Path,
      tx: String): Unit = {
    if (fs.exists(trashDir)) {
      val snap = new Path(loc, s".graft_snap_${System.currentTimeMillis}_$tx")
      if (fs.rename(trashDir, snap)) {
        retainListeners.forEach(l => l(loc, snap))
      } else if (!retainListeners.isEmpty) {
        // an open transaction may be counting on this image for
        // rollback — losing it silently would strand the txn's pins
        throw new IllegalStateException(
          s"could not retain pre-write image $trashDir as $snap")
      } else fs.delete(trashDir, true)
    }
    pruneSnapshots(fs, loc)
  }

  /** Oldest time-travel boundary this table can still answer for: any
    * `FOR SYSTEM_TIME AS OF` older than the horizon fails loud (the
    * snapshot that held that data was pruned) — BigQuery errors the
    * same way outside its 7-day window.
    */
  private def horizonMillis(fs: FileSystem, loc: Path): Long =
    fs.listStatus(loc).map(_.getPath.getName)
      .filter(_.startsWith(".graft_horizon_"))
      .map(_.stripPrefix(".graft_horizon_").takeWhile(_.isDigit).toLong)
      .foldLeft(0L)(math.max)

  private def raiseHorizon(fs: FileSystem, loc: Path, millis: Long): Unit = {
    val old = fs.listStatus(loc).map(_.getPath)
      .filter(_.getName.startsWith(".graft_horizon_"))
    if (horizonMillis(fs, loc) < millis) {
      // marker FIRST, then retire old markers: a crash in between
      // leaves the max intact
      fs.create(new Path(loc, s".graft_horizon_$millis"), true).close()
      old.foreach(p => fs.delete(p, false))
    }
  }

  private def pruneSnapshots(fs: FileSystem, loc: Path): Unit = {
    val victims = fs.listStatus(loc).map(_.getPath)
      .filter(_.getName.startsWith(".graft_snap_"))
      .filterNot(p => prunePins.contains(p.toString))
      .sortBy(p => snapMillis(p.getName))
      .dropRight(snapshotKeep)
    if (victims.nonEmpty) {
      // record the boundary BEFORE deleting: a crash in between keeps
      // resolveAsOf conservative (fails loud though data still exists)
      raiseHorizon(fs, loc, victims.map(p => snapMillis(p.getName)).max)
      victims.foreach(p => fs.delete(p, true))
    }
  }

  /** Where a `FOR SYSTEM_TIME AS OF` read of `table` resolves. */
  private[engine] sealed trait AsOf
  private[engine] case object AsOfCurrent extends AsOf
  private[engine] case object AsOfEmpty extends AsOf
  private[engine] final case class AsOfSnapshot(path: Path) extends AsOf

  /** Resolve a historical read: the snapshot with the smallest commit
    * boundary AFTER the requested time holds the data that was current
    * at that time; no boundary after it means the current table
    * qualifies. A partition-level load boundary in between fails loud —
    * those commits retain no full image, so the nearest full snapshot
    * would smuggle in later partition changes.
    */
  private[engine] def resolveAsOf(spark: SparkSession, table: String,
      tsMillis: Long): AsOf = {
    val loc =
      try tableLocation(spark, table)
      catch {
        case e: Exception => throw new UnsupportedOperationException(
          s"FOR SYSTEM_TIME AS OF: $table has no storage location (view or " +
            "temp view?) — time travel needs a parquet table destination", e)
      }
    val fs = fsOf(spark, loc)
    // pruned-horizon guard: a request older than the oldest pruned
    // boundary would silently resolve to a LATER surviving image (or
    // the current table) — data from after the requested time.
    // BigQuery fails loud outside its window; so do we.
    val horizon = horizonMillis(fs, loc)
    if (tsMillis < horizon)
      throw new UnsupportedOperationException(
        s"FOR SYSTEM_TIME AS OF: the requested time predates $table's " +
          s"retained snapshot horizon ($horizon ms epoch) — older images " +
          s"were pruned (snapshotKeep=$snapshotKeep)")
    val after = fs.listStatus(loc).map(_.getPath.getName)
      .filter(_.startsWith(".graft_snap_"))
      .map(n => (snapMillis(n), n.startsWith(".graft_snap_partial_"), n))
      .filter(_._1 > tsMillis)
      .sortBy(_._1)
    after.headOption match {
      case None => AsOfCurrent
      case Some((_, true, _)) =>
        throw new UnsupportedOperationException(
          s"FOR SYSTEM_TIME AS OF: a partition-level load on $table sits " +
            "between the requested time and the nearest full snapshot — " +
            "time travel spans whole-table rewrites (DML, REPLACE) only")
      case Some((_, false, name)) =>
        val p = new Path(loc, name)
        val hasData = fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          !n.startsWith(".") && !n.startsWith("_") &&
            (st.isDirectory || st.getLen > 0)
        }
        if (hasData) AsOfSnapshot(p) else AsOfEmpty
    }
  }

  private def replay(spark: SparkSession, dest: String, loc: Path): Unit = {
    val fs = fsOf(spark, loc)
    val journal = journalPath(loc)
    val in = fs.open(journal)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val (tx, field, stageName) = (lines(0), lines(1), lines(2))
    if (field == "__FULL__" || field == "__FULL_P__")
      return replayFull(spark, dest, loc, tx, field == "__FULL_P__", stageName)
    val stageDir = new Path(loc, stageName)
    val trashDir = new Path(loc, s".graft_trash_$tx")
    fs.mkdirs(trashDir)
    var n = 0
    lines.drop(3).filter(_.nonEmpty).foreach { l =>
      val parts = l.split("\t")
      val (v, hasStaged) = (parts(0), parts(1).toBoolean)
      val fin = new Path(loc, s"$field=$v")
      val stg = new Path(stageDir, s"$field=$v")
      val trash = new Path(trashDir, s"$field=$v")
      // move the old content aside exactly once; the staged-exists
      // guard keeps a replay from trashing ALREADY-SWAPPED content
      // when the post-swap state has fin present and stg gone
      if (fs.exists(fin) && !fs.exists(trash) &&
          (!hasStaged || fs.exists(stg)))
        fs.rename(fin, trash)
      if (hasStaged && fs.exists(stg))
        fs.rename(stg, fin)
      n += 1
      if (crashAfterActions >= 0 && n >= crashAfterActions)
        throw new IllegalStateException("simulated crash mid-commit")
    }
    // catalog + reader caches pick up added/dropped partitions; the
    // journal clears LAST — a crash before this line replays cleanly
    spark.sql(s"MSCK REPAIR TABLE $dest SYNC PARTITIONS")
    spark.catalog.refreshTable(dest)
    fs.delete(stageDir, true)
    // partition commits keep no full image; the marker makes the
    // boundary VISIBLE so a time-travel read across it fails loud
    // instead of returning the nearest full snapshot's wrong data
    fs.create(new Path(loc,
      s".graft_snap_partial_${System.currentTimeMillis}_$tx"), true).close()
    pruneSnapshots(fs, loc)
    fs.delete(trashDir, true)
    fs.delete(journal, false)
  }
}

/** A19: bounded thread-pool fan-out — `transformation.py:528-545`.
  * Unlike the reference (TODO at `transformation.py:539`), failures
  * propagate.
  */
object ConcurrentTaskExecutor {
  def execute(tasks: Seq[() => Unit], concurrency: Int): Unit = {
    require(concurrency > 0, "concurrency must be > 0")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // wrap in Try so one failure doesn't race pool shutdown against
      // still-running siblings; all tasks finish, then first error throws
      val futures = tasks.map(t => Future(scala.util.Try(t())))
      val results = Await.result(Future.sequence(futures), Duration.Inf)
      results.collectFirst { case scala.util.Failure(e) => throw e }
    } finally pool.shutdown()
  }
}
