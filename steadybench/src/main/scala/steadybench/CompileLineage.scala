package steadybench

import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable

import graft.core.macros.{AssetCompiler, QueryMacros}
import graft.core.window.CustomWindow
import graft.engine.{Dialect, Lineage, StatementSplitter}

/** compile_lineage: each op compiles one generated job asset for one
  * window, as the executor does before it runs anything, and extracts its
  * lineage both ways: `AssetCompiler.compileAssets`, `QueryMacros.render`,
  * `StatementSplitter.split`, `Dialect.rewrite` per statement, then
  * `Lineage.findDependenciesInScript` and `findDependenciesWithRegex`.
  * No data is read.
  *
  * An op is a round of twelve compiles, one hot and one fresh of each of
  * the six job classes, so that its time has one mode. A hot compile
  * replays one of a few (job, window) pairs, whose statements repeat; a
  * fresh one draws a new pair. The distinct statements of a run
  * far exceed `Dialect`'s 2048-entry rewrite cache, so the cache both
  * hits and misses.
  */
final class CompileLineage(c: Ctx) extends Workload {
  import c._

  private val nJobs = 600
  private val nDays = 730
  /** Jobs come in six classes: three shapes, templated or not. */
  private val classes = 6
  private val hotPerClass = 8
  private val perOp = 2 * classes
  private val day0 = LocalDate.of(2023, 1, 1)

  /** A generated job: its asset, destination and recorded dependencies. */
  final case class Job(method: String, sql: String, dest: String, deps: Set[String])

  private var jobs: IndexedSeq[Job] = IndexedSeq.empty
  private var hot: IndexedSeq[IndexedSeq[(Int, Int)]] = IndexedSeq.empty
  private val seen = mutable.HashSet[String]()
  private var statements, repeats = 0L

  /** Job `j`, drawn with `rng`. Templated (REPLACE) jobs carry Optimus
    * `{{ .DSTART | Date }}` placeholders; the others use the executor's
    * `__dstart__` macros. Some joins carry `@ignoreupstream`, some
    * comments name decoy tables; neither is a dependency.
    */
  def genJob(j: Int, rng: scala.util.Random): Job = {
    val templated = j % 2 == 0
    val method = if (templated) "REPLACE" else Seq("MERGE", "APPEND")(j / 2 % 2)
    val (ds, de) =
      if (templated) ("{{ .DSTART | Date }}", "{{ .DEND | Date }}") else ("__dstart__", "__dend__")
    val p = s"proj_${rng.nextInt(7)}"
    val d = s"ds_${rng.nextInt(11)}"
    val orders = s"$p.$d.orders_$j"
    val regions = s"$p.ref.regions_${rng.nextInt(40)}"
    val refunds = s"$p.$d.refunds_$j"
    val users = s"$p.ref.users_${rng.nextInt(50)}"
    val ignoreUsers = rng.nextInt(3) == 0
    val decoy = if (rng.nextBoolean()) s"-- retired: FROM `$p.old.orders_$j`\n" else ""
    val usersJoin =
      if (ignoreUsers) s"JOIN /* @ignoreupstream */ `$users` u ON u.user_id = s.user_id\n"
      else s"JOIN `$users` u ON u.user_id = s.user_id\n"
    val threshold = rng.nextInt(100)
    val (sql, deps) = j % 3 match {
      case 0 =>
        (s"""-- job $j: $method into __destination_table__
            |${decoy}DECLARE lookback INT64 DEFAULT ${1 + rng.nextInt(9)};
            |CREATE TEMP TABLE stage_$j AS
            |SELECT o.user_id, SUM(o.amount) AS amt, COUNT(*) AS n
            |FROM `$orders` o
            |WHERE o.d >= DATE_SUB(DATE '$ds', INTERVAL lookback DAY) AND o.d < DATE '$de'
            |GROUP BY o.user_id;
            |SELECT s.user_id, s.amt, r.region, CAST('__execution_time__' AS TIMESTAMP) AS loaded_at
            |FROM stage_$j s
            |LEFT JOIN `$regions` r ON s.user_id = r.user_id
            |${usersJoin}WHERE s.n > $threshold""".stripMargin,
          Set(orders, regions) ++ (if (ignoreUsers) Set() else Set(users)))
      case 1 =>
        (s"""${decoy}WITH base AS (
            |  SELECT user_id, amount, d FROM `$orders` WHERE d >= '$ds' AND d < '$de'
            |), s AS (
            |  SELECT b.user_id, SUM(b.amount) AS amt FROM base b GROUP BY b.user_id
            |)
            |SELECT s.user_id, s.amt, g.region FROM s
            |JOIN `$regions` g ON s.user_id = g.user_id
            |${usersJoin}WHERE s.amt > $threshold""".stripMargin,
          Set(orders, regions) ++ (if (ignoreUsers) Set() else Set(users)))
      case _ =>
        (s"""${decoy}SELECT t.user_id, SUM(t.amt) AS amt FROM (
            |  SELECT user_id, amount AS amt FROM `$orders` WHERE d >= '$ds' AND d < '$de'
            |  UNION ALL
            |  SELECT user_id, -refund AS amt FROM `$refunds` WHERE d >= '$ds' AND d < '$de'
            |) t
            |JOIN `$regions` r ON t.user_id = r.user_id
            |WHERE r.region <> 'test' AND t.amt > $threshold
            |GROUP BY t.user_id""".stripMargin,
          Set(orders, refunds, regions))
    }
    Job(method, sql, s"$p.dw.out_$j", deps)
  }

  def prepare(): String = {
    val rng = new scala.util.Random(seed)
    val dg = new Digest
    jobs = (0 until nJobs).map { j =>
      val job = genJob(j, rng)
      dg.add(s"${job.method}|${job.dest}|${job.deps.toSeq.sorted.mkString(",")}|${job.sql}")
      job
    }
    hot = (0 until classes).map(c => (0 until hotPerClass).map { _ =>
      val p = (jobOfClass(c, rng), rng.nextInt(nDays))
      dg.add(s"hot|$p")
      p
    })
    dg.hex
  }

  private def jobOfClass(c: Int, rng: scala.util.Random): Int =
    classes * rng.nextInt(nJobs / classes) + c

  /** The (job, first day) of compile `k` of op `i`. Every op compiles
    * one hot pair and one fresh draw of each job class.
    */
  private def pick(i: Int, k: Int): (Int, Int) = {
    val r = new scala.util.Random(seed * 1000003L + i * perOp + k)
    val c = k / 2
    if (k % 2 == 0) hot(c)(r.nextInt(hotPerClass)) else (jobOfClass(c, r), r.nextInt(nDays))
  }

  def op(i: Int): Done = {
    val got = mutable.ArrayBuffer[(Job, String, Seq[String])]()
    val rows = (0 until perOp).map(k => compile(pick(i, k), got)).sum
    Done(rows, () => got.toSeq.flatMap { case (job, path, deps) =>
      Checks.lineage(path, job.deps, deps) })
  }

  /** Compiles one job for one window; returns the statements compiled. */
  private def compile(pair: (Int, Int),
      got: mutable.ArrayBuffer[(Job, String, Seq[String])]): Long = {
    val (j, d) = pair
    val job = jobs(j)
    val start = day0.plusDays(d.toLong).atStartOfDay
    // REPLACE assets span two days, so AssetCompiler slices them in two
    val end = start.plusDays(if (job.method == "REPLACE") 2 else 1)
    val execTime = end.plusHours(2)
    def rfc(t: LocalDateTime) = AssetCompiler.fmtRfc3339(t)
    val compiled = trace.span("macros.render_s") {
      AssetCompiler.compileAssets(job.method, Map(AssetCompiler.QueryFileName -> job.sql),
        Map("DSTART" -> rfc(start), "DEND" -> rfc(end)), start, end)(AssetCompiler.QueryFileName)
    }
    val slices = AssetCompiler.splitOnMarker(compiled)
    var rows = 0L
    slices.zipWithIndex.foreach { case (slice, s) =>
      val w = CustomWindow(start.plusDays(s.toLong), start.plusDays(s + 1L))
      val rendered = trace.span("macros.render_s")(QueryMacros.render(slice, w, execTime, job.dest))
      val stmts = trace.span("splitter.split_s")(StatementSplitter.split(rendered))
      trace.span("dialect.rewrite_s")(stmts.foreach(st => Dialect.rewrite(st)))
      trace.count("dialect.statements", stmts.size.toDouble)
      stmts.foreach { st => statements += 1; if (!seen.add(st)) repeats += 1 }
      rows += stmts.size
      val cat = trace.span("lineage.catalyst_s")(
        Lineage.findDependenciesInScript(spark, rendered, job.dest))
      val rx = trace.span("lineage.regex_s")(Lineage.findDependenciesWithRegex(rendered, job.dest))
      got += ((job, s"job $j catalyst", cat.dependencies))
      got += ((job, s"job $j regex", rx.dependencies))
    }
    rows
  }

  override def layers(ops: Seq[(OpTrace, Long)]): Map[String, Double] =
    Seq("macros.render_s", "splitter.split_s", "dialect.rewrite_s", "lineage.catalyst_s",
      "lineage.regex_s").map(k => k -> Workload.mean(ops.map(_._1.spans(k)))).toMap +
      ("dialect.statements" -> Workload.mean(ops.map(_._1.counts("dialect.statements"))))

  override def facts: Map[String, Any] = Map(
    "jobs" -> nJobs, "days" -> nDays, "hot_pairs" -> classes * hotPerClass, "compiles_per_op" -> perOp,
    "statements" -> statements, "distinct_statements" -> seen.size,
    "repeated_statement_share" -> (if (statements == 0) 0.0 else repeats.toDouble / statements))
}
