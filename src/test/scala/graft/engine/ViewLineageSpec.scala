package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingOps.Scratch

/** Analyzer-based lineage resolves views to base tables — the corpus
  * behavior of `main_test.go:855-964` (view1 → viewtable1/2) without a
  * network dry-run.
  */
class ViewLineageSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("views expand to base tables; CTEs and direct scans mix") {
    val loc = Scratch.onDisk("lineage_vw")
    spark.sql("DROP DATABASE IF EXISTS lin CASCADE")
    spark.sql(s"CREATE DATABASE lin LOCATION '$loc'")
    spark.sql("CREATE TABLE lin.viewtable1 (id BIGINT, v STRING) USING parquet")
    spark.sql("CREATE TABLE lin.viewtable2 (id BIGINT, w STRING) USING parquet")
    spark.sql("CREATE TABLE lin.direct (id BIGINT) USING parquet")
    spark.sql("""CREATE VIEW lin.view1 AS
                |SELECT a.id, a.v, b.w FROM lin.viewtable1 a
                |JOIN lin.viewtable2 b ON a.id = b.id""".stripMargin)

    val deps = Lineage.findDependenciesWithAnalyzer(spark,
      """WITH x AS (SELECT * FROM lin.view1)
        |SELECT x.id FROM x JOIN lin.direct d ON x.id = d.id""".stripMargin)

    assert(deps.toSet == Set("lin.viewtable1", "lin.viewtable2", "lin.direct"),
      s"got $deps")
  }
}
