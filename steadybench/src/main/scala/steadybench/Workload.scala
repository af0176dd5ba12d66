package steadybench

import java.nio.file.Path
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** What every workload is given: the session, the tracer, the seed its
  * inputs come from and a directory of its own.
  */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long, work: Path)

/** The user rows an op completed, and the check of its output, which
  * the harness runs after the op's timer has stopped.
  */
final case class Done(rows: Long, check: () => Seq[String])

trait Workload {
  /** Generates the inputs from the seed; returns their digest. */
  def prepare(): String

  /** Runs op `i`. */
  def op(i: Int): Done

  /** Facts about the inputs and outputs, for the run record. */
  def facts: Map[String, Any] = Map.empty

  /** This workload's own per-layer metrics, as means per op. */
  def layers(ops: Seq[(OpTrace, Long)]): Map[String, Double] = Map.empty
}

/** SHA-256 over the generated inputs, in the order they are made. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
  def hex: String = md.digest().map(b => f"$b%02x").mkString
}

object Workload {
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A workload whose op is one round of its parts' ops, run in order, so
  * that the op's time has one mode. Each part's layers see its own rows.
  */
final class Round(parts: Seq[(String, Workload)]) extends Workload {
  private val partRows = scala.collection.mutable.Map[(Int, String), Long]()
  private var prepareS = Map.empty[String, Double]

  def prepare(): String = {
    val dg = new Digest
    prepareS = parts.map { case (name, w) =>
      val t0 = System.nanoTime
      dg.add(w.prepare())
      name -> (System.nanoTime - t0) / 1e9
    }.toMap
    dg.hex
  }

  def op(i: Int): Done = {
    val done = parts.zipWithIndex.map { case ((name, w), k) =>
      if (k > 0) Probe.sample()
      val d = w.op(i)
      partRows((i, name)) = d.rows
      d
    }
    Done(done.map(_.rows).sum, () => done.flatMap(_.check()))
  }

  override def layers(ops: Seq[(OpTrace, Long)]): Map[String, Double] =
    parts.flatMap { case (name, w) =>
      w.layers(ops.map { case (t, _) => (t, partRows.getOrElse((t.op, name), 0L)) })
    }.toMap

  override def facts: Map[String, Any] =
    Map("round" -> parts.map(_._1), "prepare_s" -> prepareS) ++ parts.map { case (name, w) => name -> w.facts }
}
