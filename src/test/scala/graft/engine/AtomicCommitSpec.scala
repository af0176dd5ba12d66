package graft.engine

import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.config.{LoadMethod, TaskConfig}
import graft.core.window.CustomWindow
import graft.streaming.StreamingOps.Scratch

/** Crash-atomicity of the staged-swap partition commit (VERDICT r6 #2):
  * the reference gets multi-partition atomicity from BigQuery's job
  * commit; the parquet engine must guarantee a crashed write leaves the
  * destination either FULLY OLD (crash before the journal lands) or
  * recoverable to FULLY NEW (crash after — [[PartitionCommit.recover]]
  * finishes the swap, and every `transform` run heals first).
  */
class AtomicCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val marker = "\n--*--optimus-break-marker--*--\n"

  private def conf(method: LoadMethod = LoadMethod.Replace,
      filter: Option[String] = None) = TaskConfig(
    destinationProject = "ac", destinationDataset = "ds",
    destinationTableName = "t", sqlType = "STANDARD",
    loadMethod = method, executionProject = "ac",
    filterExpression = filter)

  private def freshDest(rows: (Long, String)*): Unit = {
    spark.sql("DROP DATABASE IF EXISTS ac__ds CASCADE")
    val loc = Scratch.onDisk("acspec")
    spark.sql(s"CREATE DATABASE ac__ds LOCATION '$loc'")
    spark.sql(
      "CREATE TABLE ac__ds.t (v BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
    rows.foreach { case (v, d) =>
      spark.sql(s"INSERT INTO ac__ds.t PARTITION (d = '$d') VALUES ($v)")
    }
  }

  private def contents(): Seq[(Long, String)] =
    spark.table("ac__ds.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def window2d = CustomWindow(
    LocalDateTime.parse("2021-01-01T00:00"), LocalDateTime.parse("2021-01-03T00:00"))

  test("crash during STAGE leaves the destination fully old") {
    freshDest((1L, "2021-01-01"), (2L, "2021-01-02"))
    val old = contents()
    // slice 2 throws while staging (before any journal exists)
    val sql = Seq("SELECT 10 AS v",
      "SELECT assert_true(false, 'boom') AS v").mkString(marker)
    intercept[Throwable] {
      new TransformRunner(spark).multiPartitionTransform(
        conf(), sql, window2d, LocalDateTime.now(), "d", dryRun = false)
    }
    assert(contents() == old, "a pre-commit crash must not touch the table")
  }

  test("crash MID-SWAP recovers to fully new via the journal") {
    freshDest((1L, "2021-01-01"), (2L, "2021-01-02"))
    val sql = Seq("SELECT 10 AS v", "SELECT 20 AS v").mkString(marker)
    PartitionCommit.crashAfterActions = 1 // die after the first rename pair
    try {
      val e = intercept[IllegalStateException] {
        new TransformRunner(spark).multiPartitionTransform(
          conf(), sql, window2d, LocalDateTime.now(), "d", dryRun = false)
      }
      assert(e.getMessage.contains("simulated crash"))
    } finally PartitionCommit.crashAfterActions = -1
    // the journal survived the crash — recovery completes the swap
    PartitionCommit.recover(spark, "ac__ds.t")
    assert(contents() == Seq((10L, "2021-01-01"), (20L, "2021-01-02")))
    // idempotent: a second recover is a no-op
    PartitionCommit.recover(spark, "ac__ds.t")
    assert(contents() == Seq((10L, "2021-01-01"), (20L, "2021-01-02")))
  }

  test("the next transform() run heals a crashed commit automatically") {
    freshDest((1L, "2021-01-01"), (2L, "2021-01-02"))
    val sql = Seq("SELECT 10 AS v", "SELECT 20 AS v").mkString(marker)
    PartitionCommit.crashAfterActions = 1
    try intercept[IllegalStateException] {
      new TransformRunner(spark).multiPartitionTransform(
        conf(), sql, window2d, LocalDateTime.now(), "d", dryRun = false)
    } finally PartitionCommit.crashAfterActions = -1
    // a fresh engine run against the same destination recovers first,
    // then applies its own load on top of the healed (fully-new) state
    new TransformRunner(spark).transform(
      conf(), Seq("SELECT 100 AS v", "SELECT 200 AS v").mkString(marker),
      window2d, LocalDateTime.now())
    assert(contents() == Seq((100L, "2021-01-01"), (200L, "2021-01-02")))
  }

  test("a new commit heals a crashed predecessor before journaling") {
    freshDest((1L, "2021-01-01"), (2L, "2021-01-02"))
    val sql1 = Seq("SELECT 10 AS v", "SELECT 20 AS v").mkString(marker)
    PartitionCommit.crashAfterActions = 1
    try intercept[IllegalStateException] {
      new TransformRunner(spark).multiPartitionTransform(
        conf(), sql1, window2d, LocalDateTime.now(), "d", dryRun = false)
    } finally PartitionCommit.crashAfterActions = -1
    // direct strategy call (no transform()-level recover): commit()
    // itself must replay the stale journal before writing its own —
    // a silent journal overwrite would lose the crashed tx's actions
    val sql2 = Seq("SELECT 100 AS v", "SELECT 200 AS v").mkString(marker)
    new TransformRunner(spark).multiPartitionTransform(
      conf(), sql2, window2d, LocalDateTime.now(), "d", dryRun = false)
    assert(contents() == Seq((100L, "2021-01-01"), (200L, "2021-01-02")))
  }

  test("MERGE_REPLACE filter crash mid-swap: emptied partition drops on recovery") {
    freshDest((1L, "2021-01-01"), (20L, "2021-01-02"))
    // filter deletes every v >= 10 row: partition 01-02 empties (drop
    // action), source adds 01-03 (staged swap); 01-01 is untouched
    PartitionCommit.crashAfterActions = 1
    try intercept[IllegalStateException] {
      new TransformRunner(spark).mergeReplaceTransform(
        conf(LoadMethod.ReplaceMerge, Some("v >= 10")),
        "SELECT 30 AS v, '2021-01-03' AS d",
        window2d, LocalDateTime.now(), "d", dryRun = false)
    } finally PartitionCommit.crashAfterActions = -1
    PartitionCommit.recover(spark, "ac__ds.t")
    assert(contents() == Seq((1L, "2021-01-01"), (30L, "2021-01-03")))
  }

  test("successful staged swap equals the old per-partition semantics") {
    freshDest((1L, "2021-01-01"), (2L, "2021-01-02"), (3L, "2020-12-31"))
    val sql = Seq("SELECT 10 AS v", "SELECT 20 AS v").mkString(marker)
    new TransformRunner(spark).multiPartitionTransform(
      conf(), sql, window2d, LocalDateTime.now(), "d", dryRun = false)
    // window partitions replaced; the out-of-window partition survives
    assert(contents() == Seq((3L, "2020-12-31"),
      (10L, "2021-01-01"), (20L, "2021-01-02")))
  }

  // --- DML whole-table rewrite (commitFull: two-phase full swap) -------

  private def freshDml(rows: (String, Long)*): Unit = {
    spark.sql("DROP DATABASE IF EXISTS dmlac CASCADE")
    val loc = Scratch.onDisk("dmlac")
    spark.sql(s"CREATE DATABASE dmlac LOCATION '$loc'")
    spark.sql("CREATE TABLE dmlac.t (k STRING, v BIGINT) USING parquet")
    val values = rows.map { case (k, v) => s"('$k', $v)" }.mkString(", ")
    spark.sql(s"INSERT INTO dmlac.t VALUES $values")
  }

  private def dmlState(): Seq[(String, Long)] =
    spark.table("dmlac.t").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  private def dmlTableFiles(): Int = {
    val loc = PartitionCommit.tableLocation(spark, "dmlac.t")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(loc).count(!_.getPath.getName.startsWith("."))
  }

  test("DML rewrite crash during STAGE leaves the table fully old") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val old = dmlState()
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    // the predicate throws while the new contents stage — no journal
    // exists yet, so the destination must be untouched
    intercept[Throwable] {
      dml.run("DELETE FROM `dmlac.t` WHERE assert_true(v > 99, 'boom') IS NULL")
    }
    assert(dmlState() == old)
  }

  test("DML rewrite crash in PHASE 1 (trashing old files) recovers to fully new") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    PartitionCommit.crashAfterActions = 1 // die after the first old-file move
    try intercept[IllegalStateException] {
      dml.run("DELETE FROM `dmlac.t` WHERE v < 3")
    } finally PartitionCommit.crashAfterActions = -1
    PartitionCommit.recover(spark, "dmlac.t")
    assert(dmlState() == Seq(("c", 3L)))
    PartitionCommit.recover(spark, "dmlac.t") // idempotent
    assert(dmlState() == Seq(("c", 3L)))
  }

  test("DML rewrite crash in PHASE 2 (moving staged files in) recovers without re-trashing") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val nOld = dmlTableFiles()
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    // phase 1 takes nOld renames and lands the phase marker; the
    // (nOld+1)-th action is the FIRST staged move — a replay after
    // this crash must skip phase 1 (never trash the new files)
    PartitionCommit.crashAfterActions = nOld + 1
    try intercept[IllegalStateException] {
      dml.run("UPDATE `dmlac.t` SET v = v * 10 WHERE v >= 2")
    } finally PartitionCommit.crashAfterActions = -1
    PartitionCommit.recover(spark, "dmlac.t")
    assert(dmlState() == Seq(("a", 1L), ("b", 20L), ("c", 30L)))
  }

  test("PARTITIONED DML rewrite crash recovers, emptied partitions drop (MSCK path)") {
    spark.sql("DROP DATABASE IF EXISTS dmlacp CASCADE")
    val loc = Scratch.onDisk("dmlacp")
    spark.sql(s"CREATE DATABASE dmlacp LOCATION '$loc'")
    spark.sql(
      "CREATE TABLE dmlacp.t (v BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
    spark.sql("INSERT INTO dmlacp.t PARTITION (d = '01') VALUES (1), (2)")
    spark.sql("INSERT INTO dmlacp.t PARTITION (d = '02') VALUES (30)")
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    // the DELETE empties partition 02 entirely; crash mid-phase-1
    PartitionCommit.crashAfterActions = 1
    try intercept[IllegalStateException] {
      dml.run("DELETE FROM `dmlacp.t` WHERE v >= 2")
    } finally PartitionCommit.crashAfterActions = -1
    PartitionCommit.recover(spark, "dmlacp.t")
    val got = spark.table("dmlacp.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got == Seq((1L, "01")))
    // the emptied partition is gone from the catalog too
    assert(spark.sql("SHOW PARTITIONS dmlacp.t").collect().map(_.getString(0))
      .toSeq == Seq("d=01"))
  }

  // --- kill-inside-transaction: pointer-based rollback heals first ----

  private def dataFileNames(): Set[String] = {
    val loc = PartitionCommit.tableLocation(spark, "dmlac.t")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(loc).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
  }

  test("kill mid-commit INSIDE a transaction: rollback heals the swap then restores pre-txn") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    dml.runStatement("BEGIN TRANSACTION")
    dml.runStatement("UPDATE `dmlac.t` SET v = v + 100 WHERE k = 'a'")
    // the next statement dies in PHASE 1 of its full swap (old files
    // half-trashed, journal in place)
    PartitionCommit.crashAfterActions = 1
    try intercept[IllegalStateException] {
      dml.runStatement("DELETE FROM `dmlac.t` WHERE k = 'b'")
    } finally PartitionCommit.crashAfterActions = -1
    dml.runStatement("ROLLBACK TRANSACTION")
    assert(dmlState() == Seq(("a", 1L), ("b", 2L), ("c", 3L)),
      "rollback must first replay the crashed statement's journal, then restore")
  }

  test("kill in PHASE 2 inside a transaction: rollback still restores pre-txn") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    dml.runStatement("BEGIN TRANSACTION")
    dml.runStatement("UPDATE `dmlac.t` SET v = v * 10 WHERE v >= 2")
    val n = dataFileNames().size
    PartitionCommit.crashAfterActions = n + 1 // first staged move of the NEXT swap
    try intercept[IllegalStateException] {
      dml.runStatement("DELETE FROM `dmlac.t` WHERE k = 'c'")
    } finally PartitionCommit.crashAfterActions = -1
    dml.runStatement("ROLLBACK TRANSACTION")
    assert(dmlState() == Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("rollback restores the ORIGINAL parquet files by rename — zero rows rewritten") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val before = dataFileNames()
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    dml.run(
      """BEGIN TRANSACTION;
        |UPDATE `dmlac.t` SET v = 0 WHERE TRUE;
        |INSERT INTO dmlac.t VALUES ('z', 99);
        |TRUNCATE TABLE `dmlac.t`;
        |ROLLBACK TRANSACTION""".stripMargin)
    assert(dmlState() == Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    assert(dataFileNames() == before,
      "the restored table must hold the same physical files, proving a " +
        "pointer (rename) restore rather than a row-copy rewrite")
  }

  test("a transaction ORPHANED by JVM death rolls back on the next engine write") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    dml.runStatement("BEGIN TRANSACTION")
    dml.runStatement("UPDATE `dmlac.t` SET v = 0 WHERE TRUE")
    dml.runStatement("DELETE FROM `dmlac.t` WHERE k = 'b'")
    // simulate the JVM dying: all in-memory txn state vanishes, the
    // durable pin file stays behind as an orphan
    dml.abandonTxnForTest()
    assert(dmlState() == Seq(("a", 0L), ("c", 0L)),
      "sanity: the dead txn's intermediate state is on disk before healing")
    // the next engine write to the table heals first (BigQuery rolls
    // back a transaction whose session died) — a fresh runner, an
    // unrelated statement
    val dml2 = new DmlRunner(spark, new TransformRunner(spark))
    dml2.run("DELETE FROM `dmlac.t` WHERE FALSE")
    assert(dmlState() == Seq(("a", 1L), ("b", 2L), ("c", 3L)),
      "the orphaned transaction must roll back before the new write applies")
  }

  test("orphan healing replays a crashed mid-statement journal from the pin file") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    dml.runStatement("BEGIN TRANSACTION")
    dml.runStatement("UPDATE `dmlac.t` SET v = v + 10 WHERE k = 'a'")
    PartitionCommit.crashAfterActions = 1 // die mid-swap of the DELETE
    try intercept[IllegalStateException] {
      dml.runStatement("DELETE FROM `dmlac.t` WHERE k = 'c'")
    } finally PartitionCommit.crashAfterActions = -1
    dml.abandonTxnForTest() // and the JVM dies too
    PartitionCommit.recover(spark, "dmlac.t")
    assert(dmlState() == Seq(("a", 1L), ("b", 2L), ("c", 3L)),
      "healing must finish the crashed swap, then restore the pre-txn files")
    // idempotent: the pin file is gone, a second recover is a no-op
    PartitionCommit.recover(spark, "dmlac.t")
    assert(dmlState() == Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("a long transaction's pinned pre-txn image survives snapshot pruning") {
    freshDml(("a", 1L))
    val keep = PartitionCommit.snapshotKeep
    PartitionCommit.snapshotKeep = 1
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    try {
      dml.runStatement("BEGIN TRANSACTION")
      // each rewrite parks an image and prunes to 1 — the pinned
      // pre-txn image must be exempt or rollback has nothing to restore
      (1 to 3).foreach(_ =>
        dml.runStatement("UPDATE `dmlac.t` SET v = v + 1 WHERE TRUE"))
      dml.runStatement("ROLLBACK TRANSACTION")
    } finally PartitionCommit.snapshotKeep = keep
    assert(dmlState() == Seq(("a", 1L)))
  }

  test("PARTITIONED table transaction rollback restores rows and partitions") {
    spark.sql("DROP DATABASE IF EXISTS dmltxp CASCADE")
    val loc = Scratch.onDisk("dmltxp")
    spark.sql(s"CREATE DATABASE dmltxp LOCATION '$loc'")
    spark.sql(
      "CREATE TABLE dmltxp.t (v BIGINT, d STRING) USING parquet PARTITIONED BY (d)")
    spark.sql("INSERT INTO dmltxp.t PARTITION (d = '01') VALUES (1), (2)")
    spark.sql("INSERT INTO dmltxp.t PARTITION (d = '02') VALUES (30)")
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    dml.run(
      """BEGIN TRANSACTION;
        |UPDATE `dmltxp.t` SET v = v * 100 WHERE d = '01';
        |DELETE FROM `dmltxp.t` WHERE d = '02';
        |ROLLBACK TRANSACTION""".stripMargin)
    val got = spark.table("dmltxp.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got == Seq((1L, "01"), (2L, "01"), (30L, "02")),
      "partition-dir relpaths must restore (the DELETE emptied d=02)")
    assert(spark.sql("SHOW PARTITIONS dmltxp.t").collect().map(_.getString(0))
      .toSeq.sorted == Seq("d=01", "d=02"),
      "the emptied partition must re-register in the catalog on rollback")
  }

  test("DROP then re-CREATE inside a transaction rolls back to the original table") {
    freshDml(("a", 1L), ("b", 2L))
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    dml.run(
      """BEGIN TRANSACTION;
        |DROP TABLE `dmlac.t`;
        |CREATE TABLE dmlac.t AS SELECT 'z' AS k, CAST(9 AS BIGINT) AS v;
        |ROLLBACK TRANSACTION""".stripMargin)
    assert(dmlState() == Seq(("a", 1L), ("b", 2L)),
      "the original definition AND files must return after drop+recreate")
  }

  test("the next DML statement heals a crashed full swap before its own commit") {
    freshDml(("a", 1L), ("b", 2L), ("c", 3L))
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    PartitionCommit.crashAfterActions = 1
    try intercept[IllegalStateException] {
      dml.run("DELETE FROM `dmlac.t` WHERE v < 2")
    } finally PartitionCommit.crashAfterActions = -1
    // commitFull heals the stale journal first, then applies its own
    // rewrite on the healed (fully-new) state: delete of v<2 already
    // happened, this one drops v=2 as well
    dml.run("DELETE FROM `dmlac.t` WHERE v < 3")
    assert(dmlState() == Seq(("c", 3L)))
  }
}
