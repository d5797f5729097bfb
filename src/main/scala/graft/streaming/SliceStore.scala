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
  *   - [[append]] stages a slice and commits a version that adds its
  *     files under the writer's transaction; [[stream]] is the
  *     `foreachBatch` shell around it, so a streaming query maintains
  *     the store one micro-batch slice at a time and history is never
  *     rescanned;
  *   - [[view]] reads the latest version's files (one root read, never
  *     a listing), then the kind's cross-slice merge;
  *   - [[compact]] folds the latest version's files through the same
  *     merge and commits a version that removes them and adds the fold.
  *     Its removals are files of its own snapshot only, so a concurrent
  *     append survives; a crash before the commit leaves the store as it
  *     was (its fold stays on disk, unread), and a commit that throws —
  *     a concurrent compaction retired part of the snapshot — deletes
  *     the fold it staged.
  *
  * Replay: the log commits each `(appId, batchId)` transaction at most
  * once ([[StoreLog]]), so a replayed `foreachBatch` call appends
  * nothing, before or after a compaction, and a fresh checkpoint's batch
  * 0 is a new writer's first batch. Each kind's merge is
  * associative-commutative, so the view equals the batch recompute over
  * every committed batch, in any arrival order. The merge runs over
  * store rows only (one per key per slice), never over data rows.
  */
final class SliceStore private (
    val kind: String,
    partitionColumn: Option[String],
    merge: DataFrame => DataFrame,
    internal: String*) {

  /** Append one slice under `txn`, partitioned by the kind's partition
    * column if it has one: its files are staged, then one version adds
    * them — nothing at all when `txn`'s writer already committed it. */
  def append(slice: DataFrame, txn: Txn, path: String): Unit =
    new StoreLog(slice.sparkSession, path).append(slice, txn, partitionColumn)

  /** Maintain the store from a stream: every micro-batch becomes
    * `slice(batch)`, appended under the streaming query's id and the
    * micro-batch id. `Trigger.AvailableNow` drains what is present then
    * stops. */
  def stream(rows: DataFrame, path: String, checkpointDir: String,
             trigger: Trigger = Trigger.AvailableNow())
            (slice: DataFrame => DataFrame): DataStreamWriter[Row] =
    rows.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        append(slice(batch.toDF()), Txn.ofStream(batch.sparkSession, batchId),
          path)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** What the store currently serves: the latest version's files through
    * the cross-slice merge. */
  def view(spark: SparkSession, path: String): DataFrame = {
    val log = new StoreLog(spark, path)
    val (_, v) = log.latest().getOrElse(throw new IllegalArgumentException(
      s"$kind store $path has no committed version"))
    merge(log.read(v.files)).drop(internal: _*)
  }

  /** Rewrite the store through its own merge; the served view is
    * identical before and after by construction. */
  def compact(spark: SparkSession, path: String): CompactionResult =
    compactWith(spark, path, identity)

  /** [[compact]] with a test seam: `tap` runs on the folded frame after
    * the snapshot is resolved and before the fold is written — exactly
    * where a concurrent `foreachBatch` append lands relative to it. */
  private[graft] def compactWith(spark: SparkSession, path: String,
                                 tap: DataFrame => DataFrame): CompactionResult = {
    val log = new StoreLog(spark, path)
    val snapshot = StoreLog.files(log.latest())
    if (snapshot.isEmpty) return CompactionResult(0, 0L, 0, 0L)
    val slices = log.read(snapshot)
    val folded = tap(merge(slices).select(slices.columns.map(col).toSeq: _*))
    val added = log.stage(partitionColumn.fold(folded.coalesce(1))(c =>
      folded.repartition(col(c))),
      s"compact-${java.util.UUID.randomUUID().toString.take(8)}",
      partitionColumn)
    val snapped = snapshot.map(_.path).toSet
    // only this compaction's fresh tag names `added`: when the commit
    // throws, no one else can own them
    val (_, committed) = try log.commit(None) { latest =>
      val live = StoreLog.files(latest)
      require(snapped.subsetOf(live.map(_.path).toSet),
        s"$kind store $path: a concurrent compaction retired part of " +
          "this one's snapshot; re-run it on the new version")
      live.filterNot(f => snapped(f.path)) ++ added
    }.get catch { case e: Throwable => log.discard(added); throw e }
    CompactionResult(snapshot.size, snapshot.map(_.size).sum,
      committed.files.size, committed.files.map(_.size).sum)
  }
}

object SliceStore {

  /** File-level Bloom index ([[graft.operators.BloomIndex.build]]
    * slices: `(chunk, word, bitmap)`). The merge is `bit_or` per
    * (chunk, word), so late rows for an old chunk OR into it. The view
    * is `(chunk, word, bitmap)`, identical to a rebuild over every row
    * ever appended.
    */
  val Bloom: SliceStore = new SliceStore("bloom", None,
    _.groupBy(col("chunk"), col("word")).agg(bit_or(col("bitmap")).as("bitmap")))

  /** IVF vector index ([[graft.operators.Ivf.assign]] slices:
    * `(vec_id, v, list_id)`), PARTITIONED BY `list_id`, so a probe of
    * nprobe lists reads nprobe/nlist of the directories. The model
    * must stay fixed for the store's life (re-fitting would re-route new
    * vectors away from the lists old ones were filed under), and
    * `vec_id` values are unique across the stream (route vector updates
    * through a CDC store — an updated vector may change lists).
    *
    * The view is the RAW read, with `list_id` a partition column
    * (PlanAuditSpec pins the PartitionFilters), for
    * [[graft.operators.Ivf.topK]] to probe. Compaction rewrites one file
    * per list, keeping the directory layout.
    */
  val Ivf: SliceStore = new SliceStore("ivf", Some("list_id"), identity)

  /** Per-(group, bucket) count partials
    * ([[graft.operators.Anomaly.countSeries]] slices:
    * `(group, bucket, cnt)`) — the volume-monitoring store both
    * detectors read: apply
    * [[graft.operators.Anomaly.robustCountAnomaliesFromSeries]] or
    * [[graft.operators.Anomaly.cusumDriftFromSeries]] to the view.
    * Partials SUM across slices. Late events for an old bucket are not
    * a special case: their batch appends another partial and the sum
    * absorbs it. View: `(group, bucket, cnt)`, the batch recompute's
    * series.
    */
  val Count: SliceStore = new SliceStore("count", None,
    _.groupBy(col("group"), col("bucket")).agg(sum(col("cnt")).as("cnt")))

  /** Per-group HLL sketches
    * ([[graft.operators.Cardinality.sliceSketches]] slices without the
    * `slice` column: `(group, sketch, n_rows)`). The merge is the
    * register-max union plus the row-count sum
    * ([[graft.operators.Cardinality.mergeSliceSketches]]).
    * View: `(group, n_distinct, n_rows, n_slices)`. Compaction keeps
    * `n_distinct` and `n_rows`; `n_slices` counts physical slices and
    * drops to 1.
    */
  val Cardinality: SliceStore = new SliceStore("cardinality", None,
    graft.operators.Cardinality.mergeSliceSketches, "sketch")

  /** Curve-prefix zone map ([[graft.operators.Layout.zoneMap]] slices:
    * `(bucket, min_x, max_x, min_y, max_y, n_rows)`). `x`/`y` must be
    * the NORMALIZED curve inputs with bounds fixed at stream start
    * ([[graft.operators.Layout.normalize16]] with a constant max): an
    * unbounded stream cannot re-derive its domain per batch without the
    * bucket boundaries drifting between slices. Merged as
    * [[ZoneStats]].
    */
  val ZoneMap: SliceStore = zoneBoxes("zone-map")

  /** Raw-value zone stats ([[graft.operators.Layout.rawZoneMap]]
    * slices: `(bucket, min_<c>, max_<c>…, n_rows)`, integral or string
    * dimensions, inferred from the `min_`/`max_` columns) — the store
    * [[graft.plans.ZoneMapPruning.attachFromStore]] registers pruning
    * from, with a bucket-bounded metadata read. The box union (min of
    * mins, max of maxes, summed rows —
    * [[graft.operators.Layout.mergeRawZoneMaps]]) is
    * associative-commutative in the numeric and the binary-string
    * order alike, so the view equals rebuilding the stats from every
    * row ever streamed. `bucket` must be the same pure projection the
    * table's layout writer used.
    */
  val ZoneStats: SliceStore = zoneBoxes("zone-stats")

  private def zoneBoxes(kind: String): SliceStore =
    new SliceStore(kind, None, { d =>
      val dims = d.columns.filter(_.startsWith("min_")).map(_.stripPrefix("min_"))
        .toSeq.filter(c => d.columns.contains(s"max_$c"))
      Layout.mergeRawZoneMaps(dims)(d)
    })
}
