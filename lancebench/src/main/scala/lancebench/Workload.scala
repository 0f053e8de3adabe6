package lancebench

import org.apache.spark.sql.SparkSession

/** One op of a closed loop: `run` makes the call(s) and returns the check
  * of their output, which the runner calls after the timer stops. A
  * check returns the name of the failed check, if any. `after` runs in
  * traced cycles only, after the timer stops: calls made for figures the
  * timed call does not expose. */
final case class Op(kind: String, write: Boolean, rows: Long, run: () => (() => Option[String]),
                    after: Option[() => Unit] = None)

final case class OpRec(id: Long, kind: String, write: Boolean, rows: Long,
                       startMs: Double, endMs: Double, traced: Boolean, failure: Option[String]) {
  def ms: Double = endMs - startMs
}

/** Context handed to a workload: the session, the tracer and the
  * workload's private scratch directory. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: java.nio.file.Path,
                val seed: Long, val cores: Int) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

trait Workload {
  /** Ops that make up one cycle of the mix; traced runs alternate tracing
    * off and on per cycle, starting and ending untraced. */
  def cycle: Int
  /** Set-ups made per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Whether `rows_per_s` applies (table rows or input docs per second
    * of op wall); where it does not, ops are the unit of work. */
  def countsRows: Boolean = true
  /** Engine-facing set-up into `dir`; timed, repeated into fresh dirs,
    * the last one is kept for the loop. */
  def setup(dir: java.nio.file.Path): Unit
  /** Untimed warm-up before the timed set-ups (class loading, codegen),
    * on scratch data under `dir`, so that every timed set-up is warm. */
  def warmUp(dir: java.nio.file.Path): Unit = ()
  /** Untimed preparation after set-up: reference answers and warm-up. */
  def prepare(): Unit = ()
  def op(i: Long): Op
  /** Maintenance a traced run makes once after its loop, traced. */
  def maintenance: Option[Op] = None
  /** Checks after the loop (traced in a traced run); failures by name. */
  def finish(): Seq[String]
  /** `answer_recall`: the share of the exact answer the workload's
    * approximate operators returned, in [0, 1]. */
  def answerRecall: Metric
  /** Printed figures this workload adds to the common ones. */
  def figures: Seq[Metric]
  /** Bytes on disk (datasets and indexes) per logical byte of live rows
    * at the end of the run, where the workload defines it. */
  def spaceAmp: Option[Double] = None
}
