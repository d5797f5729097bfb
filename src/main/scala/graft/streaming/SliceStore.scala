package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Layout
import graft.operators.Maintenance.CompactionResult

/** An APPEND-ONLY SLICE STORE — the reference's incremental cadence
  * (append one slice per calendar batch, serve a merged view, compact
  * later; `jhub_proc.py:268-276`) as one protocol over a parquet
  * directory and its commit log ([[StoreLog]], the table-format design
  * of Delta Lake, VLDB 2020). One value per store kind
  * ([[SliceStore.Bloom]], [[SliceStore.Ivf]], [[SliceStore.Count]],
  * [[SliceStore.Cardinality]], [[SliceStore.ZoneMap]],
  * [[SliceStore.ZoneStats]]); every kind gets the same operations:
  *
  *   - [[append]] stamps a slice with its `batch_id`, stages its files
  *     and commits a version that adds them; [[stream]] is the
  *     `foreachBatch` shell around it, so a streaming query maintains
  *     the store one micro-batch slice at a time and history is never
  *     rescanned;
  *   - [[view]] reads the latest version's files (one root read, never
  *     a listing), then the kind's replay collapse, then its
  *     cross-slice merge;
  *   - [[compact]] folds the latest version's files through the same
  *     collapse + merge and commits a version that removes them and adds
  *     the fold. Its removals are files of its own snapshot only, so a
  *     concurrent append survives; a crash before the commit leaves the
  *     store as it was.
  *
  * Replay model: `foreachBatch` is at-least-once — a batch that crashed
  * after its append re-appends the IDENTICAL slice under the SAME
  * `batch_id`. Each kind's collapse is idempotent over such a duplicate
  * (per `batch_id` + key), and its merge is associative-commutative, so
  * the view equals the batch recompute over every distinct batch ever
  * appended, in any arrival order. The merge runs over store rows only
  * (one per key per slice), never over data rows.
  *
  * Compaction contract of the batch-bounded kinds (count, cardinality,
  * zone-map, zone-stats): `throughBatch` must be a batch id that can
  * never replay again — a LATER batch has already committed to the
  * stream's checkpoint (Structured Streaming replays at most the last
  * uncommitted batch). Batches ≤ `throughBatch` fold into one slice
  * stamped `throughBatch`; newer slices are kept verbatim, so the tail
  * still collapses its replays. Folding a batch that then replays would
  * double-count it: the replayed appendix would collapse against
  * nothing and merge on top of the folded base.
  */
final class SliceStore private (
    val kind: String,
    partitionColumn: Option[String],
    batchBounded: Boolean,
    collapse: DataFrame => DataFrame,
    merge: DataFrame => DataFrame,
    serve: DataFrame => DataFrame) {

  /** Append one slice under `batchId` (replacing any `batch_id` column
    * the slice carries), partitioned by the kind's partition column if
    * it has one: its files are staged, then one version adds them. */
  def append(slice: DataFrame, batchId: Long, path: String): Unit = {
    val log = new StoreLog(slice.sparkSession, path)
    val added = log.stage(slice.withColumn("batch_id", lit(batchId)),
      partitionColumn)
    log.commit("append", batchId)(v => Some(StoreLog.files(v) ++ added))
  }

  /** Maintain the store from a stream: every micro-batch becomes
    * `slice(batch)`, appended under the micro-batch id. `Trigger
    * .AvailableNow` drains what is present then stops. */
  def stream(rows: DataFrame, path: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow())
            (slice: DataFrame => DataFrame): DataStreamWriter[Row] =
    rows.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        append(slice(batch.toDF()), batchId, path)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** What the store currently serves: the latest version's files, the
    * replay collapse, the cross-slice merge. */
  def view(spark: SparkSession, path: String): DataFrame = {
    val log = new StoreLog(spark, path)
    val (_, v) = log.latest().getOrElse(throw new IllegalArgumentException(
      s"$kind store $path has no committed version"))
    serve(log.read(v.files))
  }

  /** Rewrite the store through its own collapse + merge; the served
    * view is identical before and after by construction. `throughBatch`
    * is required by the batch-bounded kinds (contract in the class
    * doc) and refused by the fold-everything kinds (Bloom, IVF). */
  def compact(spark: SparkSession, path: String,
              throughBatch: Option[Long] = None): CompactionResult =
    compactWith(spark, path, throughBatch, identity)

  /** [[compact]] with a test seam: `tap` runs on the folded frame after
    * the snapshot is resolved and before the fold is written — exactly
    * where a concurrent `foreachBatch` append lands relative to it. */
  private[graft] def compactWith(spark: SparkSession, path: String,
                                 throughBatch: Option[Long],
                                 tap: DataFrame => DataFrame): CompactionResult = {
    require(throughBatch.isDefined == batchBounded,
      if (batchBounded) s"$kind store compaction needs throughBatch"
      else s"$kind store compaction folds every slice; drop throughBatch")
    val log = new StoreLog(spark, path)
    val snapshot = StoreLog.files(log.latest())
    if (snapshot.isEmpty) return CompactionResult(0, 0L, 0, 0L)
    val folded = tap(fold(log.read(snapshot), throughBatch))
    val added = log.stage(partitionColumn.fold(folded.coalesce(1))(c =>
      folded.repartition(col(c))), partitionColumn)
    val snapped = snapshot.map(_.path).toSet
    val (_, committed) = log.commit("compact", throughBatch.getOrElse(-1L)) {
      latest =>
        val live = StoreLog.files(latest)
        require(snapped.subsetOf(live.map(_.path).toSet),
          s"$kind store $path: a concurrent compaction retired part of " +
            "this one's snapshot; re-run it on the new version")
        Some(live.filterNot(f => snapped(f.path)) ++ added)
    }.get
    CompactionResult(snapshot.size, snapshot.map(_.size).sum,
      committed.files.size, committed.files.map(_.size).sum)
  }

  private def fold(df: DataFrame, throughBatch: Option[Long]): DataFrame = {
    val cols = df.columns.map(col).toSeq
    throughBatch match {
      case None => merge(collapse(df)).select(cols: _*)
      case Some(b) =>
        merge(collapse(df.where(col("batch_id") <= b)))
          .withColumn("batch_id", lit(b))
          .select(cols: _*)
          .unionByName(df.where(col("batch_id") > b))
    }
  }
}

object SliceStore {

  /** File-level Bloom index ([[graft.operators.BloomIndex.build]]
    * slices: `(chunk, word, bitmap)`). The merge is `bit_or` per
    * (chunk, word), and OR is idempotent: a replayed slice re-ORs the
    * identical bits, so no collapse is needed at all, and late rows for
    * an old chunk OR into it. For the same reason compaction folds every
    * snapshot file with no batch bound (stamped with the newest folded
    * batch) — a batch replayed after compaction re-ORs harmlessly. The
    * view is `(chunk, word, bitmap)`, identical to a rebuild over every
    * row ever appended; it ignores the batch stamp.
    */
  val Bloom: SliceStore = {
    val merge = (d: DataFrame) => d.groupBy(col("chunk"), col("word"))
      .agg(bit_or(col("bitmap")).as("bitmap"),
        max(col("batch_id")).as("batch_id"))
    new SliceStore("bloom", None, batchBounded = false, identity, merge,
      merge.andThen(_.drop("batch_id")))
  }

  /** IVF vector index ([[graft.operators.Ivf.assign]] slices:
    * `(vec_id, v, list_id)`), PARTITIONED BY `list_id`, so a probe of
    * nprobe lists reads nprobe/nlist of the directories. The model
    * must stay fixed for the store's life (re-fitting would re-route new
    * vectors away from the lists old ones were filed under), and
    * `vec_id` values are unique across the stream (route vector updates
    * through a CDC store — an updated vector may change lists).
    *
    * The view is the RAW read, with `list_id` a partition column
    * (PlanAuditSpec pins the PartitionFilters): a replayed slice's
    * duplicate rows are bit-identical, and
    * [[graft.operators.Ivf.topKStored]] absorbs them after pruning,
    * which keeps the dedup candidate-sized. Do not hand the view to
    * plain `topK`. Compaction drops the duplicates by (list_id, vec_id)
    * — idempotent under any replay, so no batch bound — and rewrites one
    * file per list, keeping the directory layout.
    */
  val Ivf: SliceStore = new SliceStore("ivf", Some("list_id"),
    batchBounded = false, _.dropDuplicates("list_id", "vec_id"), identity,
    identity)

  /** Per-(group, bucket) count partials
    * ([[graft.operators.Anomaly.countSeries]] slices:
    * `(group, bucket, cnt)`) — the volume-monitoring store both
    * detectors read: apply
    * [[graft.operators.Anomaly.robustCountAnomaliesFromSeries]] or
    * [[graft.operators.Anomaly.cusumDriftFromSeries]] to the view. A
    * replay rewrites the identical partial, so `max(cnt)` per
    * (batch_id, group, bucket) collapses it exactly; partials then SUM
    * across batches. Late events for an old bucket are not a special
    * case: their batch appends another partial and the sum absorbs it.
    * View: `(group, bucket, cnt)`, the batch recompute's series.
    */
  val Count: SliceStore = batchFolded("count",
    _.groupBy(col("batch_id"), col("group"), col("bucket"))
      .agg(max(col("cnt")).as("cnt")),
    _.groupBy(col("group"), col("bucket")).agg(sum(col("cnt")).as("cnt")))

  /** Per-group HLL sketches
    * ([[graft.operators.Cardinality.sliceSketches]] slices without the
    * `slice` column: `(group, sketch, n_rows)`). A sketch's registers
    * are the max over the batch's value hashes, so a replayed duplicate
    * unions to the identical registers; only `n_rows` would
    * double-count, so the collapse takes `max(n_rows)` per
    * (batch_id, group). The merge is the register-max union plus the
    * row-count sum ([[graft.operators.Cardinality.mergeSliceSketches]]).
    * View: `(group, n_distinct, n_rows, n_slices)`. Compaction keeps
    * `n_distinct` and `n_rows`; `n_slices` counts physical slices and
    * drops to 1 + tail.
    */
  val Cardinality: SliceStore = batchFolded("cardinality",
    _.groupBy(col("batch_id"), col("group"))
      .agg(hll_union_agg(col("sketch")).as("sketch"),
        max(col("n_rows")).as("n_rows")),
    d => graft.operators.Cardinality.mergeSliceSketches(d.drop("batch_id")),
    "sketch")

  /** Curve-prefix zone map ([[graft.operators.Layout.zoneMap]] slices:
    * `(bucket, min_x, max_x, min_y, max_y, n_rows)`). `x`/`y` must be
    * the NORMALIZED curve inputs with bounds fixed at stream start
    * ([[graft.operators.Layout.normalize16]] with a constant max): an
    * unbounded stream cannot re-derive its domain per batch without the
    * bucket boundaries drifting between slices. Replay story as
    * [[ZoneStats]], whose collapse and merge this shares.
    */
  val ZoneMap: SliceStore = zoneBoxes("zone-map")

  /** Raw-value zone stats ([[graft.operators.Layout.rawZoneMap]]
    * slices: `(bucket, min_<c>, max_<c>…, n_rows)`, integral or string
    * dimensions, inferred from the `min_`/`max_` columns) — the store
    * [[graft.plans.ZoneMapPruning.attachFromStore]] registers pruning
    * from, with a bucket-bounded metadata read. min/max are idempotent
    * over a replayed identical slice and `n_rows` takes the max per
    * (batch_id, bucket); the box union (min of mins, max of maxes,
    * summed rows — [[graft.operators.Layout.mergeRawZoneMaps]]) is
    * associative-commutative in the numeric and the binary-string
    * order alike, so the view equals rebuilding the stats from every
    * row ever streamed. `bucket` must be the same pure projection the
    * table's layout writer used.
    */
  val ZoneStats: SliceStore = zoneBoxes("zone-stats")

  private def batchFolded(kind: String, collapse: DataFrame => DataFrame,
                          merge: DataFrame => DataFrame,
                          internal: String*): SliceStore =
    new SliceStore(kind, None, batchBounded = true, collapse, merge,
      d => merge(collapse(d)).drop(("batch_id" +: internal): _*))

  private def zoneBoxes(kind: String): SliceStore = {
    def dims(d: DataFrame): Seq[String] =
      d.columns.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
        .toSeq.filter(c => d.columns.contains(s"max_$c"))
    batchFolded(kind,
      { d =>
        val aggs = dims(d).flatMap { c =>
          Seq(min(col(s"min_$c")).as(s"min_$c"),
            max(col(s"max_$c")).as(s"max_$c"))
        } :+ max(col("n_rows")).as("n_rows")
        d.groupBy(col("batch_id"), col("bucket")).agg(aggs.head, aggs.tail: _*)
      },
      d => Layout.mergeRawZoneMaps(dims(d))(d.drop("batch_id")))
  }
}
