package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** One timed pass over the query map: returns (per-query seconds for
    * queries that ran, names of queries that threw). A failure is LOUD —
    * named on stderr, returned for the JSON `errors` field, and its time
    * is excluded so a breaking query can only ever grow the reported
    * total, never shrink it.
    */
  def timeQueries(qs: Seq[(String, (SparkSession, String) => DataFrame)],
      spark: SparkSession, sfDir: String): (Map[String, Double], Seq[String]) = {
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errs = scala.collection.mutable.ListBuffer[String]()
    qs.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        times(name) = (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        errs += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
    }
    (times.toMap, errs.toList)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSpark.cpus(32)
    // platform CPU throttling makes single totals bounce ~2.7× on
    // identical code (see commit 4c5ba18): run the suite N times and
    // report per-query MEDIANS + every run's total. Default 3: with 2
    // runs the median is the MEAN of both, so any one-time cost paid in
    // run 1 (lazy catalog fixtures, first-touch codegen) bleeds 50 %
    // into the reported number; the median of 3 is the middle run.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // dev-only subset (comma-separated name prefixes), mirroring
    // Verify's 3rd arg; the driver never sets it = full suite
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    def selected = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val spark = LocalSpark.session(32)
    spark.sparkContext.setLogLevel("WARN")
    // warm the FS cache / codegen paths so the first measured query
    // doesn't absorb session start-up cost, and build the JVM-lifetime
    // catalog/stream fixtures so run 1 times operators, not fixtures
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => }
    try graft.queries.EngineQueries.warmFixtures(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] fixture warmup failed: ${e.getMessage}") }
    // one UNTIMED warmup sweep: without it, timed run 1 absorbs JIT +
    // codegen-cache + catalog warmup (BENCH_r06 run_totals spread was
    // 2.5×), and a real first-run regression can hide inside that noise
    locally {
      val (_, warmErrs) = timeQueries(selected, spark, sfDir)
      if (warmErrs.nonEmpty)
        System.err.println(s"[bench] warmup errors: ${warmErrs.mkString(",")}")
    }
    // drop persisted intermediates between runs: persist() registers by
    // canonicalized plan, so without this runs 2+ silently reuse run 1's
    // cached candidate-pair frames and time less than the real work
    val runs = (1 to nRuns).map { _ =>
      spark.catalog.clearCache()
      timeQueries(selected, spark, sfDir)
    }
    val errors = runs.flatMap(_._2).distinct.sorted
    // medians over queries that succeeded in EVERY run; a query that
    // failed anywhere contributes no time and shows up in `errors`
    val names = selected.map(_._1).filterNot(errors.contains)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val medians = names.map(n => n -> median(runs.map(_._1(n)))).toMap
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val totals = runs.map(_._1.values.sum)
    val total = medians.values.sum
    val runsJson = totals.map(fmt).mkString("[", ",", "]")
    val errsJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the driver captures only the LAST ~2000 chars of output, so the
    // stdout line carries total + the 25 slowest queries (the ones worth
    // trending); the complete per-query map goes to BENCH_FULL_c<cores>.json;
    // one builder writes both, so the two records cannot drift apart
    val bySlowest = medians.toSeq.sortBy(-_._2)
    def line(queries: Seq[(String, Double)]): String = {
      val qs = queries.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${names.size},"n_runs":$nRuns,"run_totals":$runsJson,"errors":$errsJson,"queries":$qs,"sf":"$sfDir"}"""
    }
    // subset runs must not clobber the last full suite's record, and the
    // driver's lower-core scaling sweep must not clobber the 32-core one:
    // the record file is suffixed with the core count it measured
    if (only.isEmpty) {
      val record = s"BENCH_FULL_c$cpus.json"
      try java.nio.file.Files.write(java.nio.file.Paths.get(record),
        (line(bySlowest) + "\n").getBytes("UTF-8"))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] could not write $record: $e")
      }
    }
    // stop the session BEFORE printing: the driver keeps only the output
    // TAIL, and spark.stop()'s shutdown logging after the JSON line is
    // exactly what truncated BENCH_r05's parse (parsed: null)
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop() catch { case _: Throwable => }
    println(line(bySlowest.take(25)))
  }
}
