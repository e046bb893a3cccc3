package graft.perfbench

import org.apache.spark.sql.Dataset
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Records every timed call into the engine: its wall time, the items it
  * processed, and whether its answer was right. Checks run after the
  * clock stops, so a wrong answer costs a failure, never a faster time. */
final class Ledger(tracer: Option[Tracer]) {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[(Double, Double)]]()
  private val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  /** Off during warm-up: calls are still checked, but not timed. */
  var recording = false
  /** In the traced run, cycles alternate between traced and untraced. */
  var tracing = false

  /** Time `f`; `items` and `check` see its result afterwards. */
  def call[A](kind: String)(f: => A)(items: A => Double, check: A => Boolean): Option[A] =
    run(kind, f, None)(items, check)

  /** Time building and collecting a Dataset (its plan is traced). */
  def collect[T](kind: String)(build: => Dataset[T])(items: Array[T] => Double,
                                                     check: Array[T] => Boolean): Option[Array[T]] = {
    var ds: Dataset[T] = null
    run(kind, { ds = build; ds.collect() }, Some(() => Option(ds).map(_.toDF())))(items, check)
  }

  private def run[A](kind: String, f: => A,
                     plan: Option[() => Option[org.apache.spark.sql.DataFrame]])
                    (items: A => Double, check: A => Boolean): Option[A] = {
    attempted += 1
    val span = if (tracing) tracer.map(_.open()) else None
    val t0 = System.nanoTime()
    val r = Try(f)
    val secs = (System.nanoTime() - t0) / 1e9
    span.foreach { case (id, start) =>
      tracer.get.close(id, kind, start, plan.flatMap(p => Try(p()).toOption.flatten))
    }
    r match {
      case Success(v) =>
        if (Try(check(v)).getOrElse(false)) {
          if (recording) samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ((secs, items(v)))
        } else fail(s"$kind: wrong answer")
        Some(v)
      case Failure(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  private def fail(why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += why
    System.err.println(s"perfbench: FAILED $why")
  }

  def failureNotes: Seq[String] = failures.toSeq

  /** Wall seconds of each recorded call of `kind`. */
  def secs(kind: String): Seq[Double] = samples.get(kind).map(_.map(_._1).toSeq).getOrElse(Nil)

  /** Items per second of each recorded call of `kind`. */
  def rates(kind: String): Seq[Double] =
    samples.get(kind).map(_.map { case (s, n) => n / s }.toSeq).getOrElse(Nil)

  def kinds: Seq[String] = samples.keys.toSeq
}

object Stats {
  /** NaN without samples: the run then reports no value for the metric. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      Some((100 * (s.size - 10) / s.size, s(s.size - 11)))
    }
}
