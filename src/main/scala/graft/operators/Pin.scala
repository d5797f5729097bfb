package graft.operators

import java.util.concurrent.ConcurrentLinkedDeque

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.PinBridge
import org.apache.spark.storage.StorageLevel

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
  * and a reliable pin's checkpoint files. Nothing else does: neither
  * `spark.catalog.clearCache()` nor `Dataset.unpersist` releases a pin
  * (PinSpec), so an unfreed pin's blocks live until its RDD is
  * garbage-collected, and its reliable checkpoint FILES until the
  * context cleaner removes them, which it only does when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is set (a
  * deployment setting, off by default).
  *
  * Ownership: inside a [[scope]], [[cache]] and [[eager]] register what
  * they create with the innermost scope of the current thread, which
  * frees it all on exit, newest first, throw or no throw. A bench
  * query, a stream batch and a pipeline section each run in one, so an
  * operator's caches live exactly as long as the work that reads them
  * and it needs no release code of its own. Outside any scope nothing
  * is owned (a library caller's `persist` semantics). A scope-owned
  * frame must not back anything that outlives the scope, such as an
  * application-lifetime memo: a freed pin cannot be re-read.
  */
object Pin {

  /** The frames one [[scope]] owns; `parallel` branches add to it too. */
  final class Scope private[Pin] () {
    private[Pin] val owned = new ConcurrentLinkedDeque[DataFrame]()
  }

  private val open = ThreadLocal.withInitial[List[Scope]](() => Nil)

  /** Run `body` in a new scope on this thread, then free every frame
    * [[cache]] and [[eager]] registered in it, newest first, whether
    * `body` returned or threw. A frame built over what the scope owned
    * must be consumed inside it.
    */
  def scope[T](body: => T): T = {
    val s = new Scope
    val outer = open.get
    open.set(s :: outer)
    var returned = false
    try { val r = body; returned = true; r }
    finally {
      open.set(outer)
      val failures = Iterator.continually(s.owned.pollLast()).takeWhile(_ != null)
        .flatMap(df => Try(release(df)).failed.toOption).toList
      // a failed free never hides the body's own throwable
      if (returned) failures.headOption.foreach { e =>
        failures.tail.foreach(e.addSuppressed)
        throw e
      }
    }
  }

  /** Run `body` in a nested scope and hand the frame it returns to the
    * enclosing scope, freeing everything else `body` registered: the
    * "iterate, keep the result, drop the intermediates" shape. A result
    * the nested scope owns (a pin, or a filled cache) moves as it is;
    * a frame cached elsewhere is returned as it is; any other result is
    * pinned into the enclosing scope while its inputs are still live.
    */
  def scoped(body: => DataFrame): DataFrame = {
    val outer = open.get
    scope {
      val out = body
      if (open.get.head.owned.remove(out)) adopt(outer)(own(out))
      else if (out.storageLevel != StorageLevel.NONE) out
      else adopt(outer)(eager(out))
    }
  }

  /** This thread's open scopes, for a forked branch to [[adopt]]. */
  def openScopes: List[Scope] = open.get

  /** Run `body` with `scopes` (another thread's [[openScopes]]) open. */
  def adopt[T](scopes: List[Scope])(body: => T): T = {
    val prev = open.get
    open.set(scopes)
    try body finally open.set(prev)
  }

  /** Lazily `persist` `df` at `level`, owned by the innermost open
    * scope. A frame that is already cached (by the caller, or by an
    * earlier `cache` of the same plan) comes back as it is and stays
    * its owner's: the scope neither re-caches nor frees it.
    */
  def cache(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else own(df.persist(level))

  /** Materialize `df` now (one job), truncating lineage: reliable
    * checkpoint when the context has a checkpoint dir, local otherwise.
    * Both forms run the subtree once: the eager checkpoint writes its
    * files from the job that computes the frame (`RDD.doCheckpoint`,
    * not a count followed by a second write job), so no persist is
    * needed around it — PinSpec counts the evaluations. The returned
    * leaf carries the measured size (see the object doc) and is owned
    * by the innermost open scope.
    */
  def eager(df: DataFrame): DataFrame = own(pin(df))

  /** Release what holds `df`'s rows, without blocking: a pin's stored
    * blocks and a reliable pin's checkpoint files, or, for a frame that
    * is not a pin, its `persist` cache entry. A freed pin cannot be read
    * again (its lineage is gone), so free it only after every frame
    * built on it has been materialized. The frame leaves its scope; a
    * loop frees this way to bound its peak.
    */
  def free(df: DataFrame): Unit = {
    open.get.foreach(_.owned.remove(df))
    release(df)
  }

  private def own(df: DataFrame): DataFrame = {
    open.get.headOption.foreach(_.owned.add(df))
    df
  }

  private def pin(df: DataFrame): DataFrame = {
    val pinned =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(true)
      else df.localCheckpoint(true)
    measuredBytes(pinned).fold(pinned)(PinBridge.withSize(pinned, _))
  }

  private def release(df: DataFrame): Unit = PinBridge.leafRdd(df) match {
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
