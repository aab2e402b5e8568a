package graft.pipeline

import org.apache.spark.sql.DataFrame

/** The frames one job caches, released together when the job ends — the
  * lifetime of the reference's `dask.persist` in
  * `check_valid_data_fraction` (plugins/__init__.py:1014-1032), whose
  * persisted arrays die with the job's scene.
  *
  * [[Runner]] opens one scope per priority slice, hands it to the plugins
  * as [[PipelineContext.scope]] and closes it in a `finally`, so no
  * cached frame outlives its job, however the job ended: success, abort,
  * crash or timeout. [[persist]] is the only way a pipeline plugin caches
  * a frame. A timed-out plugin's thread can keep running after the close;
  * what it persists then is not cached at all. */
final class JobScope private (private var open: Boolean) {
  private var frames = List.empty[DataFrame]

  /** `df` persisted until the scope closes; `df` as it is on a closed
    * scope. */
  def persist(df: DataFrame): DataFrame = synchronized {
    if (open) { frames ::= df; df.persist() } else df
  }

  /** Release every frame persisted through this scope; later
    * [[persist]] calls cache nothing. */
  def close(): Unit = synchronized {
    open = false
    frames.foreach(_.unpersist(blocking = false))
    frames = Nil
  }
}

object JobScope {
  /** A scope for one job; the opener must [[JobScope.close]] it. */
  def open(): JobScope = new JobScope(open = true)

  /** The scope of a context built outside [[Runner]] (a plugin called on
    * its own): nothing is cached, so nothing can leak. */
  val none: JobScope = new JobScope(open = false)
}
