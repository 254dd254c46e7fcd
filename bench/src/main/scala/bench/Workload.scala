package bench

/** What one timed op hands back: its plan/exec split (seconds, the op's
  * own measurement; 0 where the split does not apply) and a check that the
  * loop runs after the clock has stopped. The check returns the reason the
  * output is wrong, or None. */
final case class Done(planS: Double, execS: Double,
    check: () => Option[String])

/** One operation of a pass: a query to its full result, a sync pass, a read
  * of the sink, or a streaming lifecycle. */
final case class Op(name: String, run: () => Done)

/** One timed or warm-up op as the loop recorded it. */
final case class OpRec(pass: Int, name: String, wallS: Double, planS: Double,
    execS: Double, failure: Option[String], startMs: Long, endMs: Long)

/** What the loop knows when a workload reports its per-layer metrics. */
final case class LayerInput(recs: Seq[OpRec], passes: Seq[Int],
    tracer: Tracer)

trait Workload {
  /** Staging before the first op: fixtures, tables. Billed to `setup_s`. */
  def stage(): Unit

  /** The op list of pass `pass` (passes count from 1; the first
    * `Main.WarmupPasses` are untimed). */
  def ops(pass: Int): Seq[Op]

  /** Checks that can only run once the timed loop is over (oracle
    * digests): (pass, op name, reason) of every wrong answer. */
  def lateFailures(): Seq[(Int, String, String)] = Nil

  /** Workload-specific per-layer metrics of the traced passes. */
  def layerMetrics(in: LayerInput): Seq[Metric] = Nil
}

final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
