package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Everything a workload run needs. `work` is a scratch directory inside
  * the checkout that the run owns.
  */
case class Ctx(spark: SparkSession, seed: Long, seconds: Int, tracer: Tracer,
    work: java.io.File)

/** One timed operation (an algorithm call or a micro-batch loop) and what
  * its output checks found. `retained` is the storage still held above
  * the pre-operation baseline once the benchmark has dropped the result;
  * it is recorded, not failed, because the engine frees some checkpoints
  * only when the garbage collector reclaims their RDDs.
  */
case class OpRec(name: String, key: String, wallS: Double, ok: Boolean,
    detail: String, retained: Storage, workUnits: Double, span: Span)

/** What a workload run measured. `latencies` are the per-operation samples
  * behind `op_p50_s` / `op_tail_s` (algorithm calls or micro-batches) and
  * `units` their spans; `runS` and `workUnits` are per round; `report`
  * and `layer` hold the workload's own end-to-end and per-layer figures
  * for the text report and the trace file, `records` its own trace
  * records (one per micro-batch in `cdc_stream`).
  */
case class Outcome(setupS: Double, runS: Double, checked: Seq[OpRec],
    latencies: Seq[Double], units: Seq[Span], workUnits: Double,
    report: ListMap[String, Metric], layer: ListMap[String, Metric],
    records: org.json4s.JValue)

trait Workload {
  def name: String
  def run(ctx: Ctx, sessionS: Double): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(GraphBatch, CdcStream)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Run `body` at least once and until `seconds` have passed; returns the
    * per-round results. Each round is one full unit of the workload, so a
    * faster engine runs more rounds rather than reporting a different unit.
    */
  def rounds[A](seconds: Int)(body: Int => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[A]
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += body(i)
      i += 1
    }
    out.result()
  }

  /** `setupS`: session start plus the median of `reps` set-up repetitions.
    * Every repetition but the last is torn down with `drop`.
    */
  def repeatSetup[A](reps: Int)(build: => A)(drop: A => Unit): (A, Double) = {
    val timed = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val a = build
      (a, (System.nanoTime() - t0) / 1e9)
    }
    timed.init.foreach { case (a, _) => drop(a) }
    (timed.last._1, Stats.median(timed.map(_._2)))
  }

  def check(cond: Boolean, what: => String, fails: collection.mutable.Buffer[String]): Unit =
    if (!cond) fails += what
}
