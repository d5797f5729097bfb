package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipelines.JhubPipeline

/** Structured Streaming extension (SURVEY §7.4): the reference's
  * incrementality is calendar-batch (previous-hour globs,
  * jhub_proc.py:268-276); the natural Spark-first upgrade is a file
  * stream with checkpointed source tracking — same transform, the
  * engine's file-source log replaces the manual hour masks.
  */
object Streams {

  /** Streaming variant of the jhub pipeline: watch `inputDir` for new
    * fluent-bit JSON, apply the SAME batch transform (the lineage is
    * identical — one definition serves both modes), write parquet with
    * exactly-once file-sink semantics.
    *
    * `Trigger.AvailableNow` drains everything present then stops — the
    * scheduled-batch replacement; pass a processing-time trigger for a
    * long-running daemon.
    */
  def jhubStream(spark: SparkSession, inputDir: String, schema: StructType,
                 outDir: String, checkpointDir: String,
                 trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] = {
    val raw = spark.readStream.schema(schema).json(inputDir)
    JhubPipeline.transform(raw)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
  }

  /** Watermarked tumbling-window event counts — the streaming twin of the
    * q_events_hourly batch query: 1-hour windows, late data admitted up
    * to `lateness`, per-window per-type counts and exact decimal value
    * sums. Works on any streaming DataFrame with (ts, event_type, value).
    */
  def eventCountsHourly(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("event_hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** One micro-batch through the contract dual-sink: record the result
    * under `<table>#<batchId>` for the report, but RETHROW on failure —
    * a swallowed exception would let the engine commit the batch's
    * offsets, permanently skipping its rows; failing the query instead
    * leaves the checkpoint at the failed batch, so a restart replays it
    * (append-mode re-run, the reference's idempotency model).
    *
    * The failure check is on THIS attempt's outcome (a local capture),
    * never a scan of `ctx.report`: a replay re-runs the batch under the
    * SAME stage name, and a report scan would find the previous
    * attempt's recorded Left first — the retry could then never
    * succeed, re-appending its rows on every attempt while the
    * checkpoint stayed stuck.
    */
  private def saveBatchOrFail(ctx: graft.pipelines.PipelineContext,
      contract: graft.sinks.Contract,
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long,
      loadDate: Option[java.sql.Date]): Unit = {
    var failure: Option[Throwable] = None
    ctx.stage(s"${contract.table}#$batchId") {
      try ctx.saveTable(batch, contract,
        modeOverride = Some(org.apache.spark.sql.SaveMode.Append),
        loadDate = loadDate)
      catch { case e: Throwable => failure = Some(e); throw e }
    }
    failure.foreach { e =>
      throw new IllegalStateException(
        s"dual-sink batch $batchId failed; failing the query so the " +
          "checkpoint does not advance past it", e)
    }
  }

  /** Streaming ingestion through the SAME dual-sink contract machinery as
    * the batch pipelines: each micro-batch goes through
    * [[graft.pipelines.PipelineContext.saveTable]] — contract projection,
    * serving DDL, parquet staging + JDBC write, reconciliation — in
    * append mode (the only sane streaming mode for an accumulating
    * table). Checkpointing makes the SOURCE exactly-once; the sinks are
    * effectively-once per batch like any foreachBatch writer, which
    * matches the reference's append-mode daily-load idempotency model
    * (re-running a failed batch re-appends — same behavior its calendar
    * batches have, SURVEY §2.10 O5).
    *
    * `loadDate` stamps/partitions staging exactly like the batch path, so
    * a streaming drain and a daily batch land in the same layout.
    */
  def dualSinkStream(stream: DataFrame, ctx: graft.pipelines.PipelineContext,
                     contract: graft.sinks.Contract, checkpointDir: String,
                     loadDate: Option[java.sql.Date] = None,
                     trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        saveBatchOrFail(ctx, contract, batch, batchId, loadDate)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** The reference's hourly-incremental production cadence composed as
    * ONE path (jhub_proc.py:268-276: process the latest hour partition,
    * append into the dated staging table): each micro-batch lands
    * through the contract dual-sink ([[dualSinkStream]] semantics
    * verbatim) AND appends its zone-stats slice
    * ([[SliceStore.ZoneStats]], bucket = the batch's `load_date` stamp)
    * to `storePath` — the stats writer moves WITH the table writer,
    * which is exactly the freshness contract
    * [[graft.plans.ZoneMapPruning]]'s soundness note demands of the
    * metadata attach paths. After (any number of) runs,
    * `ZoneMapPruning.attachFromStore(spark, stagingPath, "load_date",
    * storePath)` registers the staging table with a metadata read and
    * a DATA-column predicate prunes `load_date` directories.
    *
    * Ordering makes the composition safe: the slice is written only
    * AFTER the dual-sink stage succeeded — a failed batch rethrows
    * first ([[dualSinkStream]]'s checkpoint-holding contract), so the
    * replay re-runs BOTH halves; the replayed slice commits nothing (the
    * store log takes each (query id, batch id) once) and the replayed
    * data append is the reference's append-mode idempotency model.
    * Stats therefore never lead the data, and a batch's rows are never
    * served prunable before their slice lands only in the window
    * between the two writes of ITS OWN batch — an attach in that
    * window sees the store MISSING the freshly written bucket only on
    * day one (whole-bucket coverage check fails loudly), or a box union
    * that simply hasn't widened yet; re-attach after the drain, as the
    * daily cadence does.
    */
  def dualSinkZoneStatsStream(stream: DataFrame,
      ctx: graft.pipelines.PipelineContext, contract: graft.sinks.Contract,
      checkpointDir: String, loadDate: java.sql.Date, zoneDims: Seq[String],
      storePath: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        saveBatchOrFail(ctx, contract, batch, batchId, Some(loadDate))
        // slice over the CONTRACT-projected frame — the stats must
        // describe exactly what landed in staging, not the raw batch
        SliceStore.ZoneStats.append(graft.operators.Layout.rawZoneMap(
            contract.select(batch.toDF()).withColumn("load_date",
              lit(loadDate)),
            col("load_date"), zoneDims),
          Txn.ofStream(batch.sparkSession, batchId), storePath)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** Streaming incremental near-dedup — the streaming-native form of the
    * daily curation funnel
    * ([[graft.pipelines.CorpusPipeline.curateIncrement]]): each
    * micro-batch of raw (doc_id, text) documents is quality-gated,
    * deduped against itself AND against the accumulated signature store,
    * its survivors appended to `curatedPath` and their MinHash
    * signatures committed to the store at `sigStorePath` — so the NEXT
    * batch dedups against everything kept so far, including earlier
    * batches of this same stream. The store is a [[StoreLog]] store:
    * each batch reads the latest version's files (no listing) and
    * commits one version adding its signatures, and a batch's dedup
    * cost is one banded equi-join against signatures — accumulated text
    * is never rescanned, which is what makes the shape viable on an
    * unbounded stream.
    *
    * Same effectively-once model as [[dualSinkStream]]: a failing batch
    * fails the query (foreachBatch exceptions propagate), so the
    * checkpoint cannot advance past dropped rows. Replay: a batch whose
    * signature commit landed is skipped whole (the store log records the
    * query id's last committed batch); a batch that crashed BETWEEN the
    * curated append and the signature commit re-appends its curated rows
    * (duplicates in `curatedPath`). Signatures are deliberately
    * committed last — the other order would let a replayed batch skip
    * rows that never landed in `curatedPath` (data loss beats
    * duplication is the wrong trade). Downstream consumers wanting
    * exactly-once should exact-dedup on doc_id, which is one hash
    * aggregate.
    */
  def incrementalDedupStream(docs: DataFrame, sigStorePath: String,
                             curatedPath: String, checkpointDir: String,
                             cfg: graft.pipelines.CorpusPipeline.Config =
                               graft.pipelines.CorpusPipeline.Config(),
                             trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val store = new StoreLog(spark, sigStorePath)
        val txn = Txn.ofStream(spark, batchId)
        val latest = store.latest()
        // one scope per batch: the funnel's pins and the ref side's
        // cache are freed when the batch's two writes are done, so no
        // cache state carries from one batch to the next
        if (!StoreLog.committed(latest, txn)) graft.operators.Pin.scope {
          // empty-store bootstrap: derive the signature schema from an
          // empty slice of the batch instead of hand-declaring it
          val refSigs = latest.fold(graft.operators.Dedup.minhashSignatures(
              batch.toDF().limit(0), col("doc_id"), col("text"),
              cfg.numHashes, cfg.shingleSize, cfg.hash))(v => store.read(v._2.files))
          val (curated, keptSigs) = graft.pipelines.CorpusPipeline
            .curateIncrement(batch.toDF(), refSigs, cfg)
          graft.sinks.ParquetSink.write(curated, curatedPath,
            org.apache.spark.sql.SaveMode.Append)
          // signatures commit AFTER the curated write (see the replay
          // note for why this order); refSigs names the files of the
          // version read above, so they don't feed back into this
          // batch's own dedup
          store.append(keptSigs, txn)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)

  /** Continuously maintain a MERGE-INTO snapshot store from a change
    * stream (id, seq, op, payload): each micro-batch folds through
    * [[graft.operators.Cdc.applyChangeSetVersioned]] — the upgrade
    * from "nightly cdc_merge job" to "always-fresh serving snapshot".
    *
    * The versioned store is what makes this safe under streaming
    * semantics: foreachBatch is at-least-once (a batch can REPLAY
    * after a crash), and replaying changes against the versioned
    * snapshot is a no-op because their seqs are no longer newer than
    * the store's — the idempotence the plain [[graft.operators
    * .Cdc.applyChangeSet]] cannot give across restarts. Cross-batch
    * ordering is likewise covered (stale stragglers in a later batch
    * lose to the stored seq; tombstones block resurrections).
    *
    * Store layout: one generation directory per version of the
    * store's commit log ([[StoreLog]]). Each batch writes the whole
    * folded snapshot into a fresh `gen-<version>-<random>` directory and
    * commits a version naming exactly its files; the base it folds onto
    * is the latest version's files, never overwritten in place. A crash
    * before the commit leaves an orphan directory no version names; the
    * batch's replay deletes it and folds onto the committed base again.
    * A store directory holding data but no log fails the batch loudly
    * instead of bootstrapping an empty base over it; an empty one
    * bootstraps from the change stream's own schema.
    *
    * Replay: each batch commits under its streaming query id and batch
    * id, and the log commits a transaction at most once ([[StoreLog]]).
    * A batch that replays after its version landed (only the stream's
    * checkpoint commit was lost) commits nothing; a fresh checkpoint is
    * a new writer, so its batch 0 applies. Data re-fed under a fresh
    * checkpoint re-applies, which the versioned fold makes a semantic
    * no-op (stale seqs are shielded), into a new version.
    *
    * Retention: the log keeps the newest `keepGenerations` versions
    * (the live one included; default 2 = live + its predecessor) and
    * deletes an older generation only after a later version commits: a
    * reader that resolved the live version just before a concurrent
    * commit still has every file of its snapshot on disk, and
    * [[readGeneration]] / [[generationDiff]] can time-travel
    * `keepGenerations − 1` steps back — raise it to make "diff me
    * against last week" survive (retention is generations × batch
    * cadence of history, priced in snapshots on disk). The floor is 2:
    * retaining only the live generation would delete the snapshot a
    * concurrent reader just resolved. At 100 TB you'd swap this writer
    * for MERGE INTO on a transactional table and keep the same
    * versioned-fold semantics upstream.
    */
  def cdcMergeStream(changes: DataFrame, storePath: String,
                     checkpointDir: String, id: String,
                     seq: String = "seq", op: String = "op",
                     trigger: Trigger = Trigger.AvailableNow(),
                     generationFiles: Option[Int] = None,
                     keepGenerations: Int = 2): DataStreamWriter[org.apache.spark.sql.Row] = {
    require(keepGenerations >= 2,
      s"keepGenerations must be >= 2 (live + superseded — retaining " +
        s"only the live generation would delete the snapshot a " +
        s"concurrent reader just resolved), got $keepGenerations")
    changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        cdcMergeBatch(batch.toDF(), Txn.ofStream(batch.sparkSession, batchId),
          storePath, id, seq, op, generationFiles, keepGenerations)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
  }

  /** One [[cdcMergeStream]] micro-batch, committed under `txn`. */
  private[graft] def cdcMergeBatch(batch: DataFrame, txn: Txn,
      storePath: String, id: String, seq: String, op: String,
      generationFiles: Option[Int], keepGenerations: Int): Unit = {
    val log = new StoreLog(batch.sparkSession, storePath)
    log.commit(Some(txn), keepGenerations) { latest =>
      val base = latest.fold(graft.operators.Cdc.versionSnapshot(
        batch.drop(seq, op).limit(0))) { case (_, v) =>
        log.read(v.files, generationOf(v))
      }
      val next0 = graft.operators.Cdc.applyChangeSetVersioned(
        base, batch, id, seq, op)
      // generationFiles: every batch REWRITES the store, so the
      // merge's shuffle parallelism would otherwise dictate the file
      // count of even a tiny snapshot forever (the small-file problem
      // inside our own store). The coalesce adds no exchange — it
      // concatenates the join's partitions, the same shuffle-free
      // bin-packing Maintenance.compactTable uses. Leave None when
      // the snapshot is genuinely large: natural partitioning IS the
      // parallelism of the next batch's scan.
      val next = generationFiles.map(next0.coalesce).getOrElse(next0)
      log.sweep(txn)
      log.stage(next, txn.tag, dir = f"gen-${latest.fold(0L)(_._1 + 1)}%012d-" +
        java.util.UUID.randomUUID().toString.take(8))
    }
  }

  /** The generation directory of a CDC store version. */
  private def generationOf(v: StoreVersion): String =
    v.files.head.path.takeWhile(_ != '/')

  /** The generations a [[cdcMergeStream]] store's log retains, oldest
    * first, the live one last — at most `keepGenerations` of them.
    */
  def listGenerations(spark: SparkSession, storePath: String): Seq[String] =
    new StoreLog(spark, storePath).versions().map(v => generationOf(v._2))

  /** Time travel: the VERSIONED frame of one retained generation (as
    * [[graft.operators.Cdc.applyChangeSetVersioned]] wrote it —
    * project through [[graft.operators.Cdc.snapshotView]] for the live
    * rows). With the default retention the previous generation is
    * always readable.
    */
  def readGeneration(spark: SparkSession, storePath: String,
                     genName: String): DataFrame = {
    val log = new StoreLog(spark, storePath)
    val retained = log.versions().map(_._2)
    val v = retained.find(generationOf(_) == genName).getOrElse(
      throw new IllegalArgumentException(s"generation $genName is not " +
        s"retained under $storePath (have: " +
        s"${retained.map(generationOf).mkString(",")})"))
    log.read(v.files, genName)
  }

  /** What changed between two generations of a [[cdcMergeStream]]
    * store, as a [[graft.operators.Snapshot.diff]] classification of
    * the LIVE views (added / removed / changed / unchanged by the
    * given content column) — the "what did last night's fold actually
    * touch" audit, and the incremental-reprocessing driver ("recompute
    * only the changed ids"). Both sides are one parquet scan; the diff
    * is one full-outer join keyed on id.
    */
  def generationDiff(spark: SparkSession, storePath: String,
                     fromGen: String, toGen: String,
                     id: Column, content: Column): DataFrame =
    graft.operators.Snapshot.diff(
      graft.operators.Cdc.snapshotView(readGeneration(spark, storePath, fromGen)),
      graft.operators.Cdc.snapshotView(readGeneration(spark, storePath, toGen)),
      id, content)

  /** Read the live snapshot a [[cdcMergeStream]] store currently
    * serves: the latest version's files, projected to the live rows.
    *
    * Concurrency contract: the version is resolved eagerly but its
    * files are scanned lazily, so materialize the view promptly. The
    * log deletes a superseded generation only after a LATER version
    * commits, so a view is safe across ONE concurrent commit, not an
    * unbounded backlog (pin a longer retention by reading
    * [[readGeneration]] output into a persisted frame if you need a
    * long-lived handle).
    */
  def cdcStoreView(spark: SparkSession, storePath: String): DataFrame = {
    val log = new StoreLog(spark, storePath)
    val (_, v) = log.latest().getOrElse(throw new IllegalArgumentException(
      s"no committed version under $storePath"))
    graft.operators.Cdc.snapshotView(log.read(v.files, generationOf(v)))
  }

  /** Stream-static enrichment: join each micro-batch against a dimension
    * DataFrame, broadcast by default — the dimension is the small side by
    * construction, and broadcasting keeps the stream side shuffle-free,
    * which is the only sane shape for an unbounded stream.
    *
    * Dimension freshness caveat: a plain `spark.read.parquet(path)`
    * DataFrame snapshots its FILE LISTING at creation, so files appended
    * to the path later are NOT picked up between batches. For a slowly-
    * changing dimension use a catalog table (`spark.table`, re-resolved
    * per batch) or rebuild the dimension inside a foreachBatch writer.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String],
                   joinType: String = "left",
                   broadcastDim: Boolean = true): DataFrame =
    stream.join(if (broadcastDim) broadcast(dim) else dim, keys, joinType)

  /** Watermarked stream-stream inner join (the attribution shape: right
    * events joined to the left event they follow within `maxDelay`).
    * Both sides buffer in state; the TIME-BOUND condition + watermarks
    * are what let the engine evict state — an unconstrained stream-stream
    * join grows state forever, so the bound is mandatory here, not an
    * option. Key columns must be distinctly named per side (pre-alias).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       keyLeft: String, keyRight: String,
                       tsLeft: String, tsRight: String,
                       maxDelay: String = "1 hour",
                       lateness: String = "10 minutes"): DataFrame =
    left.withWatermark(tsLeft, lateness)
      .join(right.withWatermark(tsRight, lateness),
        col(keyLeft) === col(keyRight) &&
          col(tsRight) >= col(tsLeft) &&
          col(tsRight) <= col(tsLeft) + expr(s"INTERVAL $maxDelay"))

  // --- stateful sessionization -----------------------------------------

  case class SessionEvent(user_id: Long, ts: Timestamp)
  case class SessionAcc(startMs: Long, lastMs: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)

  /** Streaming gap-based sessionization via flatMapGroupsWithState: one
    * open session per user in state; an event beyond `gapSeconds` of the
    * previous one closes and emits the session; the event-time timeout
    * (watermark past last + gap) flushes sessions of idle users. The
    * streaming twin of [[graft.operators.Sessionize.sessions]].
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapSeconds: Long,
                       lateness: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L

    def close(user: Long, s: SessionAcc): SessionOut =
      SessionOut(user, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n)

    def fn(user: Long, batch: Iterator[SessionEvent],
           state: GroupState[SessionAcc]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(user, _)).iterator
        state.remove()
        out
      } else {
        val out = Seq.newBuilder[SessionOut]
        var acc = state.getOption
        batch.toSeq.sortBy(_.ts.getTime).foreach { e =>
          val t = e.ts.getTime
          acc match {
            case Some(s) if t - s.lastMs <= gapMs =>
              acc = Some(s.copy(lastMs = math.max(s.lastMs, t), n = s.n + 1))
            case Some(s) =>
              out += close(user, s)
              acc = Some(SessionAcc(t, t, 1))
            case None =>
              acc = Some(SessionAcc(t, t, 1))
          }
        }
        acc.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        }
        out.result().iterator
      }
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  // --- stateful funnel tracking -----------------------------------------

  case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)

  /** Per-user funnel state: `applied` is the greedy-earliest chain
    * folded from FINALIZED events (ts already behind the watermark —
    * no earlier event can still arrive for them); `pending` buffers
    * step events still inside the lateness window as (tsMs, stepIdx)
    * pairs, folded in event-time order once the watermark passes them.
    */
  case class FunnelBuf(applied: List[Long], pending: List[(Long, Int)])
  case class FunnelOut(user_id: Long, n_steps: Int, t_first: Timestamp,
                       t_last: Timestamp, completed: Boolean)

  /** Streaming ordered-funnel tracking via flatMapGroupsWithState — the
    * streaming twin of [[graft.operators.EventAnalytics.funnelTimes]]:
    * per-user state is the greedy-earliest step chain; an event
    * advances the funnel iff it is the NEXT step and strictly after
    * the last reached one. The event-time timeout flushes a
    * `completed = false` row for users idle past `idleFlushSeconds`,
    * giving downstream a drop-off-by-stage signal without waiting for
    * the stream to end.
    *
    * ORDERING CONTRACT — equal to the batch operator for EVERY arrival
    * order within the watermark bound: step events are buffered in
    * state while their event time is still inside the lateness window
    * and folded into the chain in EVENT-TIME order only once the
    * watermark passes them (at which point no earlier event can still
    * arrive — the engine drops rows behind the watermark). So a step-1
    * event arriving a micro-batch AFTER a later step-2 event still
    * completes the funnel, exactly as the batch form would. The price
    * is latency, not correctness: a completion emits when the
    * watermark passes its last event (≤ `lateness` of event time
    * behind the live edge), not in the arrival micro-batch. Ties on
    * ts fold by step position (earlier funnel stage first) — the same
    * replay-stable rule the batch sort uses.
    *
    * State bound: `applied` is ≤ steps longs; `pending` holds only
    * STEP-TYPED events (off-funnel traffic is never buffered) whose
    * event time is within `lateness` of the watermark — bounded by the
    * user's step-event rate × lateness window, the standard stateful-
    * streaming bound (the stream-stream join buffers strictly more).
    */
  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
                   idleFlushSeconds: Long,
                   lateness: String = "10 minutes"): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"duplicate funnel steps: $steps")
    require(idleFlushSeconds > 0,
      s"idleFlushSeconds must be positive, got $idleFlushSeconds")
    import events.sparkSession.implicits._
    val idleMs = idleFlushSeconds * 1000L
    val nSteps = steps.size
    val stepPos = steps.zipWithIndex.toMap

    def out(user: Long, timesMs: List[Long], completed: Boolean): FunnelOut =
      FunnelOut(user, timesMs.size, new Timestamp(timesMs.head),
        new Timestamp(timesMs.last), completed)

    /** Fold every pending event the watermark has passed (strictly —
      * an event AT the watermark could still be joined by an equal-ts
      * peer) into the chain in (ts, step) order, emitting completions.
      */
    def foldFinal(user: Long, buf: FunnelBuf, wm: Long,
                  emitted: scala.collection.mutable.Builder[FunnelOut, Seq[FunnelOut]])
        : FunnelBuf = {
      val (fin, still) = buf.pending.partition(_._1 < wm)
      var applied = buf.applied
      fin.sorted.foreach { case (t, idx) =>
        if (applied.size < nSteps && idx == applied.size &&
            (applied.isEmpty || t > applied.last)) {
          applied = applied :+ t
          if (applied.size == nSteps) {
            emitted += out(user, applied, completed = true)
            applied = Nil // conversion done; a fresh funnel may start
          }
        }
      }
      FunnelBuf(applied, still)
    }

    /** Store `buf` and arm the timeout at the earliest actionable
      * instant: the oldest pending event (to fold it when the
      * watermark passes) or the idle-flush deadline — clamped past the
      * watermark, because a non-advancing batch can leave the desired
      * timeout BEHIND it and setTimeoutTimestamp throws on that (which
      * would kill the query on routine out-of-funnel traffic).
      */
    def park(state: GroupState[FunnelBuf], buf: FunnelBuf, wm: Long): Unit =
      if (buf.applied.isEmpty && buf.pending.isEmpty) state.remove()
      else {
        val targets = buf.pending.map(_._1) ++
          (if (buf.applied.nonEmpty && buf.pending.isEmpty)
             List(buf.applied.last + idleMs)
           else Nil)
        state.update(buf)
        state.setTimeoutTimestamp(math.max(targets.min, wm + 1L))
      }

    def fn(user: Long, batch: Iterator[FunnelEvent],
           state: GroupState[FunnelBuf]): Iterator[FunnelOut] = {
      val wm = state.getCurrentWatermarkMs()
      val emitted = Seq.newBuilder[FunnelOut]
      val prior = state.getOption.getOrElse(FunnelBuf(Nil, Nil))
      val incoming = if (state.hasTimedOut) Nil
        else batch.flatMap(e => stepPos.get(e.event_type)
          .map(idx => (e.ts.getTime, idx))).toList
      var buf = foldFinal(user,
        prior.copy(pending = prior.pending ++ incoming), wm, emitted)
      if (buf.pending.isEmpty && buf.applied.nonEmpty &&
          wm >= buf.applied.last + idleMs) {
        // genuinely idle: nothing can still arrive before the deadline
        emitted += out(user, buf.applied, completed = false)
        buf = FunnelBuf(Nil, Nil)
      }
      park(state, buf, wm)
      emitted.result().iterator
    }

    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /** Stateless quality gate for a document stream — the ingest-time
    * companion to [[graft.operators.Dedup.decontaminationGate]]: the
    * Gopher rule conjunction and the rational-logit score are pure
    * per-row projections ([[graft.operators.Quality.gopherKeepCol]] /
    * `logitScoreCol`), so they apply to a streaming frame unchanged —
    * no watermark, no state store, no shuffle; rejected documents never
    * reach the sink, and the surviving rows carry their score for
    * downstream threshold re-cuts. Works identically on a batch frame
    * (same plan), which is what the spec asserts.
    */
  def qualityGateStream(docs: DataFrame, text: Column,
                        minScore: Double = 0.5,
                        applyGopherRules: Boolean = true): DataFrame = {
    import graft.operators.Quality
    val scored = docs.withColumn("quality_score", Quality.logitScoreCol(text))
    val gated = scored.filter(col("quality_score") >= minScore)
    if (applyGopherRules) gated.filter(Quality.gopherKeepCol(text))
    else gated
  }
}
