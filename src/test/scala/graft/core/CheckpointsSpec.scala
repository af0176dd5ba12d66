package graft.core

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.Scratch

/** Checkpoints.cut must be a localCheckpoint on a bare local session
  * and a RELIABLE checkpoint (recompute-safe at cluster scale) once a
  * checkpoint dir is configured — and a gate that runs through the cut
  * must produce identical rows either way.
  */
class CheckpointsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .appName("CheckpointsSpec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("cut falls back to localCheckpoint with no checkpoint dir") {
    import spark.implicits._
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val out = Checkpoints.cut(Seq(1, 2, 3).toDF("x"))
    assert(out.as[Int].collect().sorted === Array(1, 2, 3))
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("cut writes a reliable checkpoint when spark.sql.graft.checkpointDir is set, and a gate through it is row-identical") {
    import spark.implicits._
    assume(new java.io.File(sfDir).isDirectory)
    val before = graft.SparkEntry.queries("q61_graph_reachability")(spark, sfDir)
      .collect().map(_.toString).sorted
    val dir = Scratch.onDisk("graft_ckpt_")
    spark.conf.set("spark.sql.graft.checkpointDir", dir)
    try {
      val out = Checkpoints.cut(Seq(4, 5).toDF("x"))
      assert(out.as[Int].collect().sorted === Array(4, 5))
      assert(spark.sparkContext.getCheckpointDir.isDefined)
      // the cut materialized into the reliable dir, not executor blocks
      def files(f: java.io.File): Int =
        if (f.isFile) 1 else Option(f.listFiles()).map(_.map(files).sum).getOrElse(0)
      assert(files(new java.io.File(dir)) > 0)
      // the q61 BFS loop cuts per hop: same rows under reliable cuts
      val after = graft.SparkEntry.queries("q61_graph_reachability")(spark, sfDir)
        .collect().map(_.toString).sorted
      assert(after === before)
    } finally {
      spark.conf.unset("spark.sql.graft.checkpointDir")
      // later suites in the same JVM must get localCheckpoint behavior
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}
