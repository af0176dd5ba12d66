package steadybench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check passes on a correct result and fails on a result
  * perturbed the way a wrong program would perturb it.
  */
class ChecksSpec extends AnyFunSuite {

  test("backfill: a lost row, a changed value or a missing partition fails") {
    val want = Map("t/2024-03-01" -> ((10L, 777L)), "t/2024-03-02" -> ((12L, 900L)))
    assert(Checks.partitions(want, want).isEmpty)
    assert(Checks.partitions(want, want + ("t/2024-03-01" -> ((9L, 777L)))).nonEmpty)
    assert(Checks.partitions(want, want + ("t/2024-03-02" -> ((12L, 901L)))).nonEmpty)
    assert(Checks.partitions(want, want - "t/2024-03-02").nonEmpty)
  }

  test("lineage: a missing, an extra, an ignored or a repeated table fails") {
    val want = Set("p.d.orders", "p.r.regions")
    assert(Checks.lineage("x", want, Seq("p.r.regions", "p.d.orders")).isEmpty)
    assert(Checks.lineage("x", want, Seq("p.d.orders")).nonEmpty)
    assert(Checks.lineage("x", want, Seq("p.d.orders", "p.r.regions", "p.r.users")).nonEmpty)
    assert(Checks.lineage("x", want, Seq("p.d.orders", "p.r.regions", "p.d.orders")).nonEmpty)
  }

  private val docs = Map(
    1L -> "a b c d e f g h i j",
    2L -> "a b c d e f g h i x",
    3L -> "q r s t u v w x y z",
    4L -> "q r s t u v w x y k")

  test("shingles and Jaccard follow word 3-grams") {
    assert(Checks.shingles(" A b  c d ") == Set("a b c", "b c d"))
    assert(Checks.jaccard(Checks.shingles(docs(1L)), Checks.shingles(docs(2L))) == 7.0 / 9)
  }

  test("dedup: a low-Jaccard pair, wrong labels or lost recall fails") {
    val pairs = Seq((1L, 2L), (3L, 4L))
    val labels = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L)
    val planted = Seq((1L, 2L), (3L, 4L))
    val (ok, recall) = Checks.dedup(docs, pairs, labels, planted, 0.3, 0.9)
    assert(ok.isEmpty && recall == 1.0)
    // a pair of unrelated documents
    assert(Checks.dedup(docs, pairs :+ ((1L, 3L)),
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L), planted, 0.3, 0.9)._1.nonEmpty)
    // labels that do not match the components of the pairs
    assert(Checks.dedup(docs, pairs, labels + (4L -> 4L), planted, 0.3, 0.0)._1.nonEmpty)
    // a planted pair not found
    val (lost, r) = Checks.dedup(docs, Seq((1L, 2L)), Map(1L -> 1L, 2L -> 1L), planted, 0.3, 0.9)
    assert(lost.nonEmpty && r == 0.5)
  }

  test("components are min-labelled") {
    assert(Checks.components(Seq((5L, 3L), (3L, 9L), (7L, 8L))) ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 7L -> 7L, 8L -> 7L))
  }

  test("stream: a changed, missing, extra or reordered row fails") {
    val want = Seq("[1,a]", "[2,b]", "[3,c]")
    assert(Checks.sameRows("q", want, want).isEmpty)
    assert(Checks.sameRows("q", want, Seq("[1,a]", "[2,B]", "[3,c]")).nonEmpty)
    assert(Checks.sameRows("q", want, want.take(2)).nonEmpty)
    assert(Checks.sameRows("q", want, want :+ "[4,d]").nonEmpty)
    assert(Checks.sameRows("q", want, want.reverse).nonEmpty)
  }
}
