package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only query profiler: `runMain graft.ProfileOne <sfDir> <prefix>[,<prefix>...] [nRuns]`.
  *
  * The [[LocalSpark]] session, plus a listener that attributes,
  * per timed query run: number of Spark jobs, summed task time, summed
  * stage wall time, and the driver-side gap (wall time not covered by
  * any running job = planning/analysis/collect overhead). The gap is
  * what per-query fixed-cost work (file listing, footer reads, Catalyst
  * passes, AQE re-planning) shows up as — guide §1's "decide whether
  * the time is compute, shuffle or scheduler/driver" question answered
  * without a UI.
  */
object ProfileOne {

  /** `k=v;k=v` → pairs. An entry that is not `k=v` throws, naming it: a
    * dropped A/B conf would silently profile the baseline instead.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$entry' is not k=v")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val prefixes = args(1).split(",").toSeq
    val nRuns = if (args.length > 2) args(2).toInt else 2
    // extra session confs for A/B runs: SPARK_GRAFT_CONF="k=v;k=v"
    val spark = LocalSpark.session(32, sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConf))
    spark.sparkContext.setLogLevel("ERROR")

    // jobId → (submitTime, endTime); stage metrics accumulated globally
    val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    @volatile var taskTimeMs = 0L
    @volatile var stageWallMs = 0L
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobSpans.put(e.jobId, (e.time, -1L))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val prev = jobSpans.getOrDefault(e.jobId, (e.time, -1L))
        jobSpans.put(e.jobId, (prev._1, e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        taskTimeMs += si.taskMetrics.executorRunTime
        stageWallMs += (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
        shuffleReadB += si.taskMetrics.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    for ((name, fn) <- sel; i <- 1 to nRuns) {
      spark.catalog.clearCache()
      jobSpans.clear(); taskTimeMs = 0; stageWallMs = 0; shuffleReadB = 0; shuffleWriteB = 0
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val wallMs = (System.nanoTime() - t0) / 1e6
      // listener events are async; give the bus a moment to drain
      Thread.sleep(400)
      val spans = {
        import scala.jdk.CollectionConverters._
        jobSpans.values.asScala.toSeq.map { case (s, e0) => (s, if (e0 < 0) s else e0) }
      }
      // merge overlapping job intervals → wall time covered by ≥1 job
      val covered = spans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
        case (acc @ ((cs, ce) :: tl), (s, e)) =>
          if (s <= ce) (cs, math.max(ce, e)) :: tl else (s, e) :: acc
        case (Nil, span) => span :: Nil
      }.map { case (s, e) => e - s }.sum
      println(f"PROFILE $name run$i wall=${wallMs / 1000}%.2fs jobs=${spans.size}%d " +
        f"jobWall=${covered / 1000.0}%.2fs driverGap=${(wallMs - covered) / 1000}%.2fs " +
        f"taskTime=${taskTimeMs / 1000.0}%.2fs stageWall=${stageWallMs / 1000.0}%.2fs " +
        f"shufR=${shuffleReadB / 1048576.0}%.1fMB shufW=${shuffleWriteB / 1048576.0}%.1fMB rows=$rows%d")
    }
    spark.stop()
  }
}
