package steadybench

/** Output checks. Each returns the list of problems it found; an op
  * whose check returns any problem counts as failed.
  */
object Checks {

  /** Destination partitions: (row count, checksum) per key. */
  def partitions(expected: Map[String, (Long, Long)],
      actual: Map[String, (Long, Long)]): Seq[String] =
    expected.toSeq.sortBy(_._1).flatMap { case (k, want) =>
      actual.get(k) match {
        case Some(got) if got == want => None
        case got => Some(s"partition $k: expected (rows, checksum) $want, got ${got.orNull}")
      }
    }

  /** Lineage must equal the recorded dependency set exactly. */
  def lineage(path: String, expected: Set[String], got: Seq[String]): Seq[String] =
    if (got.toSet == expected && got.distinct.size == got.size) Nil
    else Seq(s"$path lineage ${got.sorted.mkString(",")} != expected " +
      expected.toSeq.sorted.mkString(","))

  /** Word 3-gram shingles, as `TextDedup.shingled` defines documents. */
  def shingles(text: String): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else (a intersect b).size.toDouble / (a union b).size

  /** Min-label connected components of an undirected pair graph. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** Near-duplicate output: every pair's exact Jaccard, recomputed here,
    * reaches `threshold`; the labels are the components of the pairs;
    * and planted-pair recall reaches `recallFloor`. Returns the problems
    * and the recall.
    */
  def dedup(docs: Map[Long, String], pairs: Seq[(Long, Long)],
      labels: Map[Long, Long], planted: Seq[(Long, Long)], threshold: Double,
      recallFloor: Double): (Seq[String], Double) = {
    val sh = scala.collection.mutable.Map[Long, Set[String]]()
    def s(id: Long) = sh.getOrElseUpdate(id, shingles(docs(id)))
    val low = pairs.filter { case (a, b) =>
      !docs.contains(a) || !docs.contains(b) || jaccard(s(a), s(b)) < threshold }
    val problems = Seq.newBuilder[String]
    if (low.nonEmpty)
      problems += s"${low.size} pairs below Jaccard $threshold, e.g. ${low.head}"
    if (components(pairs) != labels)
      problems += "component labels differ from the components of the returned pairs"
    val found = planted.count { case (a, b) =>
      labels.get(a).exists(la => labels.get(b).contains(la)) }
    val recall = if (planted.isEmpty) 1.0 else found.toDouble / planted.size
    if (recall < recallFloor)
      problems += f"planted-pair recall $recall%.4f ($found of ${planted.size}) < floor $recallFloor"
    (problems.result(), recall)
  }

  /** A query's rows must equal its batch form's rows, order included. */
  def sameRows(name: String, expected: Seq[String], got: Seq[String]): Seq[String] =
    if (expected == got) Nil
    else {
      val i = expected.indices.find(i => i >= got.size || expected(i) != got(i))
        .getOrElse(expected.size)
      Seq(s"$name: ${got.size} rows vs ${expected.size} expected; first difference at row $i: " +
        s"${got.lift(i).orNull} vs ${expected.lift(i).orNull}")
    }
}
