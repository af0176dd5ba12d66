package steadybench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM, one client in a
  * closed loop. Set-up (session, inputs, warm-up) is timed from the
  * launch of the JVM; then ops run for the given seconds, each checked
  * after its timer stops. The run record goes to `--record` as JSON.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --work DIR --record FILE --launch-ms EPOCH_MS
  */
object Main {

  /** Task slots: below the 4 cores of the reference box, leaving one for
    * GC, JIT and the driver.
    */
  val Slots = 3
  val ShufflePartitions = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val launchMs = a("launch-ms").toDouble
    val jvmStartS = (ManagementFactory.getRuntimeMXBean.getStartTime - launchMs) / 1e3

    val t0 = System.nanoTime
    val spark = session(workload, work)
    val sessionS = (System.nanoTime - t0) / 1e9
    val rootsFile = work.resolve("scratch_roots.txt")
    val trace = new Trace(spark, traced, root =>
      Files.writeString(rootsFile, root + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND))
    val ctx = Ctx(spark, trace, seed, work)
    val wl: Workload = workload match {
      // one day of an Optimus-style DAG: the bq2bq jobs, then the day's
      // dedup batch, then a bounded stream run
      case "bq2bq_backfill" => new Round(Seq("backfill" -> new Backfill(ctx),
        "dedup" -> new Dedup(ctx), "stream" -> new Stream(ctx)))
      case "compile_lineage" => new CompileLineage(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t1 = System.nanoTime
    val digest = wl.prepare()
    val inputsS = (System.nanoTime - t1) / 1e9

    val h = new Harness(wl, trace)
    val t2 = System.nanoTime
    h.warmUp(seconds)
    val warmupS = (System.nanoTime - t2) / 1e9
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    h.measure(seconds)
    val heapLiveMb = heapLive()

    val e2e = h.endToEnd ++ Map("setup_s" -> setupS, "heap_live_mb" -> heapLiveMb)
    val layers =
      if (!traced) Map.empty[String, Double]
      else h.layers ++ Map("jvm.jit_s" -> jitS, "setup.session_s" -> sessionS,
        "setup.inputs_s" -> inputsS, "setup.warmup_s" -> warmupS)
    val rt = ManagementFactory.getRuntimeMXBean
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "input_digest" -> digest,
      "environment" -> Map(
        "jvm_args" -> rt.getInputArguments.toArray.toSeq,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "warehouse" -> spark.conf.get("spark.sql.warehouse.dir"),
        "local_dir" -> spark.sparkContext.getConf.get("spark.local.dir"),
        "checkpoints" -> ("stream checkpoints: StreamingOps scratch root (see scratch_roots); " +
          "no reliable checkpoint dir, so lineage cuts are local checkpoints")),
      "setup" -> Map("jvm_start_s" -> jvmStartS, "session_s" -> sessionS,
        "inputs_s" -> inputsS, "warmup_s" -> warmupS, "warmup_ops" -> h.warmupOps),
      "attempted" -> h.attempted, "failed" -> h.failed, "failures" -> h.failures.take(5),
      "measured_ops" -> h.samples.size,
      "jit_cpu_s_in_measured_phase" -> h.jitCpuMeasuredNs / 1e9, "jit_threads" -> h.jitThreads, "op_wall_s" -> h.samples,
      "op_p90_s" -> (if (h.samples.size >= 100) Harness.quantile(h.samples.toSeq, 0.9) else -1.0),
      "end_to_end" -> e2e, "per_layer" -> layers, "peak_rss_mb" -> peakRss(),
      "op_probe_s" -> h.probes, "op_probe_cpu_s" -> h.probeCpus,
      "decomposition" -> h.decomposition, "facts" -> wl.facts,
      "scratch_roots" -> trace.scratchRoots.toSeq.sorted,
      "untagged_sql_executions" -> trace.untaggedExecs)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(a("record")).toFile, record)
    spark.stop()
  }

  /** The session GraftRun.main builds, with its resources pinned: task
    * slots, shuffle partitions, and every scratch place under `work`.
    * Only the backfill needs the Hive metastore GraftRun.main uses.
    */
  def session(workload: String, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName(s"steadybench-$workload")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s =
      if (workload != "bq2bq_backfill") b.getOrCreate()
      else b.config("spark.hadoop.javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=${work.resolve("metastore_db")};create=true")
        .enableHiveSupport().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Heap the run's objects still hold once the measured phase is over:
    * used heap after a full collection. The first collection lets Spark's
    * context cleaner drop the blocks of unreachable RDDs and broadcasts;
    * the second counts what is left.
    */
  def heapLive(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024)
  }

  /** Peak resident set of this process, from /proc. */
  def peakRss(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** The closed loop: one client, the next op starts when the last ends. */
final class Harness(wl: Workload, trace: Trace) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.toArray.toSeq
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])

  var attempted, failed = 0
  val failures = mutable.ArrayBuffer[String]()
  var warmupOps = 0
  private var next = 0
  val samples = mutable.ArrayBuffer[Double]()
  /** The probe's wall and CPU seconds over each measured op. */
  val probes, probeCpus = mutable.ArrayBuffer[Double]()
  private var cpuProbes, rowsProbes = 0.0
  private var cpuNs, gcMs, gcCount, rows = 0L
  private val measured = mutable.ArrayBuffer[(OpTrace, Long)]()
  private val scratchMb = mutable.ArrayBuffer[Double]()
  val decomposition = mutable.ArrayBuffer[Map[String, Any]]()

  /** The JIT compiler threads; the JVM runs with a fixed number of them. */
  private val compilerThreads: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Nil
    else {
      val st = Files.list(tasks)
      try st.toArray.toSeq.map(_.asInstanceOf[Path]).filter { t =>
        scala.util.Try(Files.readString(t.resolve("comm")).trim).toOption
          .exists(c => c.startsWith("C1 CompilerThre") || c.startsWith("C2 CompilerThre"))
      } finally st.close()
    }
  }
  def jitThreads: Int = compilerThreads.size
  private val tickNs = 1e9 / 100 // USER_HZ, the unit of /proc CPU times

  /** CPU time of the JIT compiler threads, in ns. */
  private def jitCpuNs(): Long = compilerThreads.map { t =>
    scala.util.Try {
      val f = Files.readString(t.resolve("stat"))
      val after = f.substring(f.lastIndexOf(')') + 2).split(" ")
      ((after(11).toLong + after(12).toLong) * tickNs).toLong
    }.getOrElse(0L)
  }.sum

  var jitCpuMeasuredNs = 0L

  private def gcTotals = (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)

  private def scratchBytes(): Long = trace.scratchRoots.toSeq.map { r =>
    val p = Paths.get(r)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally st.close()
    }
  }.sum

  /** Runs one op and its check; returns (wall s, cpu ns, rows, ok, the
    * probe's wall and CPU seconds over the op). The CPU time is the
    * process's less its JIT compiler threads', whose work is the JVM
    * warming up rather than the program running. The probe runs on this
    * thread just before and just after the op, outside its timers, and
    * wherever the workload samples it inside the op, whose time is then
    * left out of the op's; the means of the samples are the op's probe
    * times. CPU time is set against the probe's CPU time: when the machine
    * takes the CPU away, wall time grows but CPU time does not.
    */
  private def runOne(): (Double, Long, Long, Boolean, (Double, Double)) = {
    val i = next
    next += 1
    attempted += 1
    val scratch0 = if (trace.enabled) scratchBytes() else 0L
    Probe.take()
    Probe.sample()
    val before = Probe.take()
    trace.begin(i)
    val j0 = jitCpuNs()
    val c0 = os.getProcessCpuTime
    val w0 = System.nanoTime
    val done = try Right(wl.op(i)) catch { case e: Throwable => Left(e) }
    val inside = Probe.take()
    val wall = (System.nanoTime - w0) / 1e9 - inside.map(_._1).sum
    val jit = jitCpuNs() - j0
    val cpu = os.getProcessCpuTime - c0 - jit - inside.map(_._2).sum
    trace.end(i)
    Probe.sample()
    val all = before ++ inside ++ Probe.take()
    val probe = (Workload.mean(all.map(_._1)), Workload.mean(all.map(_._2 / 1e9)))
    if (trace.enabled) scratchMb += (scratchBytes() - scratch0) / 1e6
    val problems = done match {
      case Left(e) => Seq(s"op $i threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(d) =>
        try d.check() catch { case e: Throwable => Seq(s"op $i check threw $e") }
    }
    if (problems.nonEmpty) { failed += 1; failures ++= problems.map(p => s"op $i: $p") }
    (wall, cpu, done.map(_.rows).getOrElse(0L), problems.isEmpty, probe)
  }

  /** Runs ops for at least half the measured seconds, until the last two
    * op times lie within 15% of each other, or until three quarters of the
    * measured seconds are spent on warming up.
    */
  def warmUp(seconds: Double): Unit = {
    val t0 = System.nanoTime
    def elapsed = (System.nanoTime - t0) / 1e9
    val walls = mutable.ArrayBuffer[Double]()
    def settled = walls.size >= 2 && elapsed >= seconds / 2 &&
      { val l = walls.takeRight(2); l.max <= 1.15 * l.min }
    while (walls.isEmpty || (!settled && elapsed < 0.75 * seconds))
      walls += runOne()._1
    warmupOps = walls.size
  }

  def measure(seconds: Double): Unit = {
    val (g0, c0) = gcTotals
    val j0 = jitCpuNs()
    val t0 = System.nanoTime
    val first = next
    while (next == first || (System.nanoTime - t0) / 1e9 < seconds) {
      val i = next
      val (wall, cpu, r, ok, probe) = runOne()
      if (ok) {
        samples += wall; cpuNs += cpu; rows += r
        probes += probe._1; probeCpus += probe._2; cpuProbes += cpu / 1e9 / probe._2; rowsProbes += wall / probe._1
      }
      if (trace.enabled) {
        val t = trace.op(i)
        measured += ((t, r))
        decomposition += decompose(t)
      }
    }
    val (g1, c1) = gcTotals
    gcMs = g1 - g0
    gcCount = c1 - c0
    jitCpuMeasuredNs = jitCpuNs() - j0
  }

  /** Splits an op's wall time into job time, Catalyst time outside jobs,
    * and the driver gap. The gap is the rest of the wall time, so the
    * three add up by construction. What can fail is the attribution: a
    * job or Catalyst phase attributed to the op but lying partly outside
    * its [start, end] window counts in `attributed_outside_ms`, and the
    * op is `contained` only if that is 0.
    */
  private def decompose(t: OpTrace): Map[String, Any] = {
    val wall = t.endMs - t.startMs
    val intervals = t.jobs ++ t.phases.map(p => (p._2, p._3))
    val jobs = Trace.unionMs(t.jobs, t.startMs, t.endMs)
    val both = Trace.unionMs(intervals, t.startMs, t.endMs)
    val outside = intervals.map { case (a, b) =>
      math.max(0L, t.startMs - a) + math.max(0L, b - t.endMs) }.sum
    Map("op" -> t.op, "wall_s" -> wall / 1e3, "jobs_s" -> jobs / 1e3,
      "catalyst_outside_jobs_s" -> (both - jobs) / 1e3, "driver_gap_s" -> (wall - both) / 1e3,
      "attributed_outside_ms" -> outside, "contained" -> (outside == 0))
  }

  /** Times as measured, and the same times in probe units: each op's
    * wall time divided by the probe's mean wall time over that op, its CPU
    * time by the probe's mean CPU time.
    */
  def endToEnd: Map[String, Double] = {
    val n = math.max(1, samples.size)
    Map(
      "op_p50_s" -> Harness.quantile(samples.toSeq, 0.5),
      "rows_per_s" -> rows / math.max(1e-9, samples.sum),
      "cpu_s_per_op" -> cpuNs / 1e9 / n,
      "op_p50_probes" -> Harness.quantile(samples.zip(probes).map(x => x._1 / x._2).toSeq, 0.5),
      "rows_per_probe" -> rows / math.max(1e-9, rowsProbes),
      "cpu_probes_per_op" -> cpuProbes / n)
  }

  def layers: Map[String, Double] = {
    val ops = measured.toSeq
    val n = math.max(1, ops.size)
    def perOp(f: OpTrace => Double) = Workload.mean(ops.map(o => f(o._1)))
    def phase(name: String) = perOp(t => t.phases.filter(_._1 == name)
      .map(p => math.max(0L, math.min(p._3, t.endMs) - math.max(p._2, t.startMs))).sum / 1e3)
    val busy = perOp(t => Trace.unionMs(t.jobs, t.startMs, t.endMs) / 1e3)
    val taskRun = perOp(_.taskRunMs / 1e3)
    Map(
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "exec.jobs" -> perOp(_.nJobs.toDouble),
      "exec.stages" -> perOp(_.nStages.toDouble),
      "exec.tasks" -> perOp(_.nTasks.toDouble),
      "exec.busy_s" -> busy,
      "exec.task_cpu_s" -> perOp(_.taskCpuNs / 1e9),
      "exec.scheduler_delay_s" -> perOp(_.schedDelayMs / 1e3),
      "exec.slot_occupancy" -> (if (busy == 0) 0.0 else taskRun / (Main.Slots * busy)),
      "exec.shuffle_write_mb" -> perOp(_.shuffleWrite / 1e6),
      "exec.shuffle_read_mb" -> perOp(_.shuffleRead / 1e6),
      "exec.spill_mb" -> perOp(_.spill / 1e6),
      "exec.input_mb" -> perOp(_.input / 1e6),
      "exec.output_mb" -> perOp(_.output / 1e6),
      "exec.failed_tasks" -> perOp(_.failedTasks.toDouble),
      "driver.gap_s" -> Workload.mean(decomposition.map(_("driver_gap_s").asInstanceOf[Double])),
      "jvm.gc_s" -> gcMs / 1e3 / n,
      "jvm.gc_count" -> gcCount.toDouble / n,
      "stream.scratch_mb_per_op" -> Workload.mean(scratchMb)) ++ wl.layers(ops)
  }
}

object Harness {
  /** Linear-interpolated quantile, as numpy's default computes it. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** A fixed CPU task, the same in every run and independent of the
  * program: string building, hashing and map updates. Its time tracks the
  * speed the machine gives the thread that runs it, which on a shared host
  * swings by half within seconds; a probe on another thread does not
  * track it.
  */
object Probe {
  private val words = Array.tabulate(4096)(i => "w" + Integer.toString(i * 7919 % 10007, 36))
  @volatile private var sink = 0
  private val threads = ManagementFactory.getThreadMXBean
  /** (wall s, CPU ns) of the samples kept since the last `take`. */
  private val kept = mutable.ArrayBuffer[(Double, Long)]()

  /** Runs the probe on the calling thread and keeps its time for the op
    * in progress. A workload whose ops are long calls it between its
    * calls into the program, so that the op's probe time follows the
    * machine's speed through the op.
    */
  def sample(): Unit = {
    val c0 = threads.getCurrentThreadCpuTime
    val t = run()
    val c = threads.getCurrentThreadCpuTime - c0
    kept.synchronized(kept += ((t, c)))
  }

  /** The samples kept since the last call. */
  def take(): Seq[(Double, Long)] = kept.synchronized {
    val t = kept.toSeq
    kept.clear()
    t
  }

  def run(): Double = {
    val t0 = System.nanoTime
    val m = new java.util.HashMap[String, Integer]()
    val sb = new java.lang.StringBuilder
    var h = 0
    var i = 0
    while (i < 10000) {
      sb.setLength(0)
      sb.append(words(i & 4095)).append('_').append(i % 97)
      val s = sb.toString
      m.merge(s, 1, (a: Integer, b: Integer) => Integer.valueOf(a + b))
      h += s.toUpperCase.hashCode
      i += 1
    }
    sink = h + m.size
    (System.nanoTime - t0) / 1e9
  }
}
