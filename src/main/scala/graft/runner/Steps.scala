package graft.runner

import graft.Waves

/** One runner step's outcome. As in the reference's per-step row-count
  * checkpoints (rahil/load_data.py:47-60), a step with no rows failed.
  */
case class StepResult(step: String, ok: Boolean, rows: Long, error: Option[String])

private[runner] object StepResult {
  def counted(step: String, rows: Long): StepResult =
    StepResult(step, rows > 0, rows, if (rows > 0) None else Some("empty result"))

  def failed(step: String, e: Exception): StepResult =
    StepResult(step, ok = false, 0L, Some(e.getMessage))
}

/** The runners' step trail, in recorded order, with the reference's
  * abort-on-failure sequencing (rahil/run_dimensional_etl.py:31-59):
  * once a step failed, no later step runs.
  */
private[runner] final class Steps {
  private val rs = scala.collection.mutable.ArrayBuffer.empty[StepResult]

  def ok: Boolean = rs.forall(_.ok)

  def +=(r: StepResult): Unit = rs += r

  def results: Seq[StepResult] = rs.toSeq

  /** Step `name` running `f`, which returns the step's row count. */
  def step(name: String)(f: => Long): () => StepResult = () =>
    try StepResult.counted(name, f)
    catch { case e: Exception => StepResult.failed(name, e) }

  /** Run `steps` concurrently as one dependency wave (`graft.Waves`). */
  def wave(steps: Seq[() => StepResult]): Unit =
    if (ok) rs ++= Waves(steps)
}
