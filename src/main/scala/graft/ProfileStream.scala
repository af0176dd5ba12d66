package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Dev-only streaming profiler: `runMain graft.ProfileStream <sfDir> <gate>[,<gate>...]`.
  *
  * Runs each named gate from [[SparkEntry.queries]] three times — the
  * gate itself, with its own confs, sinks and checkpoints — and prints
  * every micro-batch's progress JSON: the durationMs breakdown
  * (addBatch/latestOffset/walCommit/...) and the state operator metrics
  * (commit times, rows, memory). This answers where a bounded streaming
  * gate's time goes, which ProfileOne's whole-run aggregates cannot.
  */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val gates = args(1).split(",").toSeq.map { n =>
      n -> SparkEntry.queries.getOrElse(n, throw new IllegalArgumentException(s"no gate named $n"))
    }
    val spark = LocalSpark.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    // started events reach listeners synchronously inside start(),
    // progress and terminated ones later through the listener bus, in
    // order per query: once every started query has reported its end,
    // all of its progress has been printed
    val started, terminated = new AtomicInteger
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        println(s"  PROGRESS ${e.progress.name} ${e.progress.json}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.incrementAndGet()
    })
    for ((name, fn) <- gates; i <- 1 to 3) {
      val t0 = System.nanoTime()
      val rows = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val deadline = System.nanoTime() + 30000000000L
      while (terminated.get < started.get && System.nanoTime() < deadline) Thread.sleep(20)
      if (terminated.get < started.get)
        System.err.println(s"[profile] $name run$i: progress may be incomplete, listener bus not drained in 30 s")
      println(f"RUN $name run$i wall=$wall%.2fs rows=$rows")
    }
    spark.stop()
  }
}
