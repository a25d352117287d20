package graftbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A benchmark workload: seeded inputs and a closed-loop round (the
  * next operation starts only after the previous returns). A round is
  * the smallest unit whose operation mix is the workload's mix, so the
  * harness only ever stops between rounds; one untimed round warms the
  * JVM and Spark up first. */
trait Workload {
  /** Generate the inputs and their ground truth from the seed. */
  def setup(): Unit
  /** One round; only a timed round contributes to the metrics. */
  def round(index: Int, checks: Checks, timed: Boolean): Unit
  /** End-to-end metrics other than `setup_s`. */
  def endToEnd: Seq[(String, Metric)]
  /** Workload-specific per-layer values the span table cannot derive. */
  def perLayer(t: Tracer): Map[String, Double] = Map.empty
  def inputRows: Long
  def inputBytes: Long
  /** Operations in the latency population, for the result stamp. */
  def samples: Map[String, Int]
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Run independent generator tasks a few at a time (Spark accepts
    * concurrent jobs from several driver threads). */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }
}

/** Latency samples by kind. */
final class Samples {
  private val by = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(kind: String, s: Double): Unit = by.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
  def apply(kind: String): Seq[Double] = by.get(kind).map(_.toSeq).getOrElse(Nil)
  def count(kind: String): Int = by.get(kind).map(_.size).getOrElse(0)
}
