package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.Scratch

/** `FOR SYSTEM_TIME AS OF` resolved against the full pre-write images
  * the staged-swap commit protocol retains: every whole-table rewrite
  * (DML, REPLACE) moves the old contents to a `.graft_snap_<millis>`
  * snapshot instead of deleting them, and the dialect replaces the
  * clause's table with the snapshot that was current at the requested
  * time. Partition-level loads leave a partial-boundary marker so a
  * read across one fails loud instead of returning wrong data.
  */
class TimeTravelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshDest(): Unit = {
    spark.sql("DROP DATABASE IF EXISTS tt__ds CASCADE")
    val loc = Scratch.onDisk("ttspec")
    spark.sql(s"CREATE DATABASE tt__ds LOCATION '$loc'")
    spark.sql("CREATE TABLE tt__ds.t (v BIGINT, k STRING) USING parquet")
    spark.sql("INSERT INTO tt__ds.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
  }

  private def ts(): String = {
    Thread.sleep(5) // commit boundaries are wall-clock millis
    val s = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    Thread.sleep(5)
    s
  }

  private def values(sql: String): Seq[Long] =
    new ScriptRunner(spark).run(sql).get.collect().map(_.getLong(0)).toSeq.sorted

  test("AS OF reads the snapshot current at the requested time, per rewrite") {
    freshDest()
    val t1 = ts()
    new DmlRunner(spark, new TransformRunner(spark))
      .run("DELETE FROM `tt.ds.t` WHERE v = 1")
    val t2 = ts()
    new DmlRunner(spark, new TransformRunner(spark))
      .run("UPDATE `tt.ds.t` SET v = v * 10 WHERE v = 2")
    assert(values("SELECT v FROM `tt.ds.t`") == Seq(3L, 20L).sorted)
    assert(values(
      s"SELECT v FROM `tt.ds.t` FOR SYSTEM_TIME AS OF TIMESTAMP '$t1'") ==
      Seq(1L, 2L, 3L))
    assert(values(
      s"SELECT v FROM `tt.ds.t` FOR SYSTEM_TIME AS OF TIMESTAMP '$t2'") ==
      Seq(2L, 3L))
    // a future timestamp reads the current table
    assert(values(
      "SELECT v FROM `tt.ds.t` FOR SYSTEM_TIME AS OF " +
        "TIMESTAMP_ADD(CURRENT_TIMESTAMP(), INTERVAL 1 HOUR)") ==
      Seq(3L, 20L).sorted)
  }

  test("the clause composes with aliases, joins and the dialect's expr grammar") {
    freshDest()
    val t1 = ts()
    new DmlRunner(spark, new TransformRunner(spark))
      .run("DELETE FROM `tt.ds.t` WHERE v >= 2")
    val out = new ScriptRunner(spark).run(
      s"""SELECT old.v AS was, cur.v AS now
         |FROM `tt.ds.t` FOR SYSTEM_TIME AS OF TIMESTAMP '$t1' AS old
         |JOIN `tt.ds.t` AS cur ON old.k = cur.k
         |ORDER BY was""".stripMargin).get.collect()
    assert(out.length == 1 && out.head.getLong(0) == 1L)
  }

  test("a partition-level load between ts and the snapshot fails loud") {
    freshDest()
    val t1 = ts()
    // partition commit path: retains no image, only a boundary marker
    val loc = PartitionCommit.tableLocation(spark, "tt__ds.t")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new org.apache.hadoop.fs.Path(loc,
      s".graft_snap_partial_${System.currentTimeMillis}_x"), true).close()
    Thread.sleep(5)
    new DmlRunner(spark, new TransformRunner(spark))
      .run("DELETE FROM `tt.ds.t` WHERE v = 1")
    val e = intercept[UnsupportedOperationException] {
      values(s"SELECT v FROM `tt.ds.t` FOR SYSTEM_TIME AS OF TIMESTAMP '$t1'")
    }
    assert(e.getMessage.contains("partition-level"))
  }

  test("snapshot retention is bounded") {
    freshDest()
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    (1 to 12).foreach(i => dml.run(s"UPDATE `tt.ds.t` SET v = v + 0 WHERE v < $i"))
    val loc = PartitionCommit.tableLocation(spark, "tt__ds.t")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val snaps = fs.listStatus(loc)
      .count(_.getPath.getName.startsWith(".graft_snap_"))
    assert(snaps <= 8, s"retention cap exceeded: $snaps")
  }

  test("a request older than the pruned horizon fails loud, not a later image") {
    freshDest()
    val t0 = ts()
    val dml = new DmlRunner(spark, new TransformRunner(spark))
    val keep = PartitionCommit.snapshotKeep
    PartitionCommit.snapshotKeep = 2
    // 5 rewrites: the 3 oldest boundaries prune away — the data that
    // was current at t0 no longer exists anywhere
    try (1 to 5).foreach(i =>
      dml.run(s"UPDATE `tt.ds.t` SET v = v + 0 WHERE v < $i"))
    finally PartitionCommit.snapshotKeep = keep
    val e = intercept[UnsupportedOperationException] {
      values(s"SELECT v FROM `tt.ds.t` FOR SYSTEM_TIME AS OF TIMESTAMP '$t0'")
    }
    assert(e.getMessage.contains("horizon"),
      s"resolving to a surviving (later) snapshot would return data from " +
        s"AFTER the requested time; got: ${e.getMessage.take(120)}")
    // times inside the retained window still resolve
    assert(values(
      "SELECT v FROM `tt.ds.t` FOR SYSTEM_TIME AS OF " +
        "TIMESTAMP_ADD(CURRENT_TIMESTAMP(), INTERVAL 1 HOUR)") == Seq(1L, 2L, 3L))
  }
}
