package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A23: the 24 h lineage cache (`main.go:527-557`) — TTL expiry,
  * collision-safe keying on the (query, destination) pair itself, and
  * destination-sensitivity.
  */
class LineageCacheSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val q1 = "SELECT * FROM proj.playground.cache_src_a"
  private val dest = "proj.playground.cache_dest"

  test("within TTL the same (query, destination) returns the cached result") {
    val t0 = 1000L
    val first = Lineage.cachedAt(spark, q1, dest, t0)
    val second = Lineage.cachedAt(spark, q1, dest, t0 + Lineage.CacheTtlMillis - 1)
    assert(second eq first, "expected the identical cached Result instance")
    assert(first.dependencies == Seq("proj.playground.cache_src_a"))
  }

  test("past TTL the entry is recomputed (and re-cached at the new time)") {
    val t0 = 5000L
    val q = "SELECT * FROM proj.playground.cache_src_ttl"
    val first = Lineage.cachedAt(spark, q, dest, t0)
    val expired = Lineage.cachedAt(spark, q, dest, t0 + Lineage.CacheTtlMillis)
    assert(!(expired eq first), "entry at exactly TTL age must be recomputed")
    assert(expired.dependencies == first.dependencies)
    // the recompute refreshed the timestamp: cached again from the new time
    val third = Lineage.cachedAt(spark, q, dest, t0 + Lineage.CacheTtlMillis + 10)
    assert(third eq expired)
  }

  test("key is the (query, destination) pair, not its hash — different " +
      "destinations don't serve each other's entries") {
    val q = "SELECT * FROM proj.playground.cache_src_b"
    val t0 = 9000L
    val rA = Lineage.cachedAt(spark, q, "proj.playground.dest_a", t0)
    val rB = Lineage.cachedAt(spark, q, "proj.playground.dest_b", t0)
    assert(!(rA eq rB), "distinct destinations must compute distinct entries")
    // destination matters to the result: the destination is pre-seeded as
    // a pseudo table, so a self-referencing query drops it from deps
    val selfQ = "SELECT * FROM proj.playground.dest_a"
    val self = Lineage.cachedAt(spark, selfQ, "proj.playground.dest_a", t0)
    val other = Lineage.cachedAt(spark, selfQ, "proj.playground.dest_b", t0)
    assert(self.dependencies.isEmpty,
      s"self-reference must be excluded, got ${self.dependencies}")
    assert(other.dependencies == Seq("proj.playground.dest_a"))
  }

  test("different queries with equal hash inputs never collide") {
    // two distinct (query, destination) pairs whose concatenations are
    // equal — an Int/hash key or naive string concat would collide
    val t0 = 12000L
    val a = Lineage.cachedAt(spark, "SELECT * FROM proj.playground.x", "p.d.t2", t0)
    val b = Lineage.cachedAt(spark, "SELECT * FROM proj.playground.x2", "p.d.t", t0)
    assert(!(a eq b))
    assert(a.dependencies == Seq("proj.playground.x"))
    assert(b.dependencies == Seq("proj.playground.x2"))
  }

  test("one query for more destinations than the bound: the cache clears, " +
      "and an evicted entry is recomputed") {
    val q = "SELECT * FROM proj.playground.cache_src_bound"
    val t0 = 15000L
    val first = Lineage.cachedAt(spark, q, "proj.bound.d0", t0)
    (1 to Lineage.CacheMax + 1).foreach { i =>
      Lineage.cachedAt(spark, q, s"proj.bound.d$i", t0)
      assert(Lineage.cacheSize <= Lineage.CacheMax + 1)
    }
    val again = Lineage.cachedAt(spark, q, "proj.bound.d0", t0)
    assert(!(again eq first), "the entry must have been evicted by the overflow clear")
    assert(again == first)
  }
}
