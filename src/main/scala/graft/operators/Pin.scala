package graft.operators

import org.apache.spark.sql.DataFrame

/** Eager materialization of a small multi-consumer frame with lineage
  * truncation — the one place that decides between RELIABLE and LOCAL
  * checkpoints, so every operator that pins a frame inherits the same
  * escape hatch instead of hard-coding `localCheckpoint(true)`.
  *
  * Why eager at all: a frame consumed by several siblings INSIDE ONE
  * action cannot be protected by a lazy `persist()` — the consumers race
  * the cache fill and each may evaluate the full lineage (the
  * kCoreBounded lesson, r16; the sizes-frame fix, r17). Materializing it
  * in its own small job up front runs the expensive subtree exactly once
  * and hands every consumer a leaf.
  *
  * Why the dir switch: `localCheckpoint` stores blocks on executors and
  * SKIPS the lineage — on a real cluster one lost executor FAILS the job
  * (a truncated leaf cannot be recomputed), which is the wrong trade for
  * long multi-executor runs. When the SparkContext has a checkpoint dir
  * configured (`sc.setCheckpointDir`, as any production deployment
  * should), the pin upgrades itself to a reliable filesystem-backed
  * `checkpoint`, immune to executor loss. Without one — the single-JVM
  * bench/verify shape — it falls back to the executor-local form, whose
  * blocks this process owns anyway. Same rule `connectedComponents` has
  * always applied to its iteration frames; centralized here (r18) so the
  * gate/sizes/pair pins follow it too.
  *
  * Note the pins are EAGER BY CONSTRUCTION: building an operator graph
  * that calls this runs Spark jobs at plan-construction time (visible in
  * PlanDump), and the pinned blocks live until the frame is GC'd or the
  * session cache is cleared — the documented lifecycle of the fan-out
  * operators. Reliable checkpoint FILES outlive the frame: they stay
  * under the checkpoint dir until the context cleaner removes them,
  * which it only does when `spark.cleaner.referenceTracking
  * .cleanCheckpoints` is set (a deployment setting, off by default).
  */
object Pin {

  /** Materialize `df` now (one job), truncating lineage: reliable
    * checkpoint when the context has a checkpoint dir, local otherwise.
    * Both forms run the subtree once: the eager checkpoint writes its
    * files from the job that computes the frame (`RDD.doCheckpoint`,
    * not a count followed by a second write job), so no persist is
    * needed around it — PinSpec counts the evaluations.
    */
  def eager(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(true)
    else df.localCheckpoint(true)
}
