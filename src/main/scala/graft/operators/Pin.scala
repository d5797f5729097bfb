package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.PinBridge

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
  * Why measured statistics: Spark's checkpoint leaf keeps the ORIGIN
  * plan's size estimate, which for an aggregate or a join is a guess far
  * above what the job produced (a 1,000-row aggregate reads ~11.4 MiB),
  * enough to flip a downstream broadcast-hash join to sort-merge. The
  * pin has just stored the rows, so it knows their size: the leaf it
  * returns carries the bytes actually stored (the blocks of a local
  * pin, the checkpoint files of a reliable one) as its `sizeInBytes`.
  * The origin estimate stays only when nothing was measured. A pin is
  * also cheap to PLAN on: consumers plan over a leaf, not over the
  * lineage a lazy `persist` keeps and re-matches on every cache lookup.
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
  * Lifecycle: pins are EAGER BY CONSTRUCTION — building an operator
  * graph that calls this runs Spark jobs at plan-construction time
  * (visible in PlanDump). [[free]] releases a pin at once: its blocks,
  * and a reliable pin's checkpoint files. An unfreed pin's blocks live
  * until the frame is GC'd or the session cache is cleared (the
  * documented lifecycle of the fan-out operators), and its reliable
  * checkpoint FILES until the context cleaner removes them, which it only
  * does when `spark.cleaner.referenceTracking.cleanCheckpoints` is set (a
  * deployment setting, off by default).
  */
object Pin {

  /** Materialize `df` now (one job), truncating lineage: reliable
    * checkpoint when the context has a checkpoint dir, local otherwise.
    * Both forms run the subtree once: the eager checkpoint writes its
    * files from the job that computes the frame (`RDD.doCheckpoint`,
    * not a count followed by a second write job), so no persist is
    * needed around it — PinSpec counts the evaluations. The returned
    * leaf carries the measured size (see the object doc).
    */
  def eager(df: DataFrame): DataFrame = {
    val pinned =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(true)
      else df.localCheckpoint(true)
    measuredBytes(pinned).fold(pinned)(PinBridge.withSize(pinned, _))
  }

  /** Release what holds `df`'s rows, without blocking: a pin's stored
    * blocks and a reliable pin's checkpoint files, or, for a frame that
    * is not a pin, its `persist` cache entry. A freed pin cannot be read
    * again (its lineage is gone), so free it only after every frame
    * built on it has been materialized.
    */
  def free(df: DataFrame): Unit = PinBridge.leafRdd(df) match {
    case Some(rdd) =>
      PinBridge.release(rdd)
      rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
    case None => df.unpersist(blocking = false)
  }

  /** Bytes a pin stored: its checkpoint files when reliable, its blocks
    * when local; None when neither can be read.
    */
  private def measuredBytes(pinned: DataFrame): Option[Long] =
    PinBridge.leafRdd(pinned).flatMap { rdd =>
      rdd.getCheckpointFile match {
        case Some(f) =>
          val p = new Path(f)
          Some(p.getFileSystem(rdd.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength)
        case None => PinBridge.storedBytes(rdd)
      }
    }
}
