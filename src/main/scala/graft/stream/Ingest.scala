package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Upsert

/** ST1/ST2: the reference's per-upload micro-batch path re-expressed as
  * Structured Streaming (reference: fastapi_app.py:614-778 upload endpoint;
  * main.py:270-277 skip-existing idempotence).
  *
  * The upload endpoint becomes a file source watching an inbox directory:
  * every new parquet file is one micro-batch (`Trigger.AvailableNow` drains
  * what's there and stops — the test/driver shape; a live deployment uses
  * the default continuous trigger). `foreachBatch` applies the same
  * set-oriented sink semantics as the batch path: dropDuplicates within the
  * batch, anti-join against the sink for cross-batch idempotence (the
  * ON CONFLICT DO NOTHING equivalent), then a partitioned append.
  *
  * Scale notes: the anti-join shuffles on the key only; checkpointing gives
  * exactly-once file-source progress, and the sink append is atomic per
  * batch via Spark's file commit protocol. At 100 TB the sink would be a
  * transactional table format; the operator shape is unchanged.
  */
object Ingest {

  /** Start the inbox→clean→dedup→append pipeline. `transform` is the
    * per-batch cleaning/aggregation chain (the reference's extract→clean→agg
    * spine); `key` is the idempotence key; `readOptions` passes file-source
    * options through (e.g. `maxFilesPerTrigger` — tests use it to force a
    * multi-batch drain).
    *
    * The per-batch anti-join below re-reads the SINK — O(sink) per
    * micro-batch. That is the small-sink shortcut, sanctioned for the
    * bounded-table upload scenario (st15) only; anything whose sink grows
    * without bound (the st17 crawl ledger) runs [[startStateful]], whose
    * state-store dedup is O(batch) per batch. The sanction is structural,
    * not just prose: `boundedSink` has no default and anything but `true`
    * is rejected at call time, so every new call site must spell out the
    * acknowledgment (and a reviewer greps one token to audit them all).
    */
  def start(
      spark: SparkSession,
      inbox: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      key: String,
      transform: DataFrame => DataFrame,
      boundedSink: Boolean,
      readOptions: Map[String, String] = Map.empty): StreamingQuery = {
    require(boundedSink,
      "Ingest.start re-reads the WHOLE sink per micro-batch (O(sink)) for " +
        "cross-batch idempotence — sanctioned only while the sink stays " +
        "small and bounded (the st15 upload table). Pass boundedSink = true " +
        "to acknowledge that, or use Ingest.startStateful (O(batch) " +
        "state-store dedup) for any sink that grows without bound.")
    spark.readStream
      .schema(schema)
      .options(readOptions)
      .parquet(inbox)
      .transform(transform)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // The dedup/anti-join/append below are ordinary BATCH jobs running
        // on the stream's PRIVATE session clone — re-enable AQE there so a
        // micro-batch right-sizes its own shuffles and output files (a 50k-
        // row batch coalesces to ~1 partition instead of paying the global
        // shuffle width in tiny tasks and tiny parquet files; a huge batch
        // stays wide; the sink anti-join can flip to broadcast on runtime
        // sizes). StreamExecution forces AQE off on this clone to keep
        // STATEFUL plan partitioning stable — there are no stateful ops in
        // this stateless sink path, so the guard doesn't apply (and the
        // conf is scoped to the clone, never the user's session). Measured:
        // ~20-24% off addBatch at the st15 shape (BENCH_NOTES round 16).
        // Fail LOUDLY if a Spark upgrade ever hands foreachBatch the user's
        // session instead of the stream's private clone — silently leaking
        // the AQE flip into the caller's session is the one way this set
        // can go wrong (StreamIngestSpec pins the same invariant in CI).
        require(batch.sparkSession ne spark,
          "foreachBatch no longer runs on the stream's private session " +
            "clone; refusing to mutate the caller's session conf")
        batch.sparkSession.conf.set("spark.sql.adaptive.enabled", "true")
        val deduped = batch.dropDuplicates(key)
        // read-back with the writer's schema, never inference: an
        // all-cleaned first batch leaves an empty sink whose inferred
        // schema would be row-less/column-less (the round-13 s5 rule —
        // every parquet read-back of a directory this engine wrote passes
        // the writer's schema explicitly)
        val toWrite =
          if (new java.io.File(sinkDir).exists())
            Upsert.skipExisting(deduped,
              spark.read.schema(deduped.schema).parquet(sinkDir), key)
          else deduped
        // The anti-join cannot observe the rows this very append writes:
        // the sink read above snapshots its file listing EAGERLY (the
        // InMemoryFileIndex lists at DataFrame-creation time, before the
        // write job starts), so the append executes against the pre-batch
        // listing. An earlier revision paid a full eager localCheckpoint
        // per batch for this guarantee — a second materialization of every
        // row, measured at ~40% of addBatch — which the snapshot already
        // provides for free.
        toWrite.write.mode("append").parquet(sinkDir)
        ()
      }
      .start()
  }

  /** Bounded-state streaming dedup: keys are only remembered within the
    * watermark horizon (`dropDuplicatesWithinWatermark`), so the seen-key
    * state is O(rate × horizon) instead of O(all keys ever) — the variant
    * to run forever when duplicates have event-time locality (retries,
    * replays, at-least-once upstreams). The documented trade-off, proven
    * by `StreamIngestSpec`: a duplicate arriving AFTER its key's state was
    * evicted is re-admitted — on a horizon shorter than the true
    * duplication window, correctness degrades to at-least-once and the
    * unbounded [[startStateful]] (or a sink-side MERGE) is required.
    */
  def dedupBounded(stream: DataFrame, key: String, tsCol: String,
      watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(key)

  /** `spark.sql.streaming.stateStore.providerClass` — pinned per QUERY at
    * first start (Spark records it in the checkpoint's offset metadata and
    * restores it on restart), so scoping the set/restore around `.start()`
    * gives this operator RocksDB without changing the session's default
    * for bounded-state queries (windowed aggs etc.), where the in-memory
    * HDFS-backed store is the right local choice.
    */
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Changelog checkpointing for the RocksDB paths (round 19): by default
    * every micro-batch commit SNAPSHOTS each partition's store — zip + copy
    * of every SST file per version (measured round 19: 32 files copied and
    * 0.5-5.6 s of summed fsync/zip latency per commit at the st16 shape,
    * vs ~0.1 s of actual puts). With changelog checkpointing the commit
    * uploads only the batch's delta (the changelog); full snapshots move to
    * the background maintenance task, and restart/replay reconstructs a
    * version as last-snapshot + changelog replay. Same exactly-once
    * contract (the version IS durable at commit), strictly less IO on the
    * commit path — the standard production setting for RocksDB state at
    * scale, and the restart-restore path is exactly what st16/st17 drive
    * through the oracle.
    */
  private val ChangelogConf =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** [[start]] with the cross-batch idempotence moved from the sink
    * anti-join into the STATE STORE: streaming `dropDuplicates(key)` keeps
    * the seen-key set in the checkpointed state backend — RocksDB, set
    * explicitly at query start below, because THIS path's state is
    * unbounded by design (the seen-key set grows forever) and RocksDB
    * keeps it on local disk + checkpoint instead of executor heap; the
    * conf is recorded in the checkpoint's offset metadata, so restarts
    * keep the provider regardless of the session. Each micro-batch then
    * does O(batch) state lookups instead of re-reading the whole sink.
    *
    * This is the 100 TB shape: the sink re-read in [[start]] costs a full
    * sink scan per batch (acceptable only while the sink is small), while
    * state-store dedup is constant-time per key and survives restarts via
    * the checkpoint. Crash-replay idempotence comes from the SINK layout:
    * each micro-batch overwrites its own `batch=<id>` partition dir, so a
    * batch replayed after a crash (state restored to the pre-batch version
    * re-emits the same rows) lands the same content in the same dir — an
    * exactly-once sink EFFECT without a transactional table format —
    * [[startTransactional]] IS that upgrade (manifest-committed sink,
    * replay = batch-id-ledger no-op) when readers can resolve manifests.
    * State is unbounded by design — the seen-key set IS the
    * semantic (ON CONFLICT DO NOTHING forever); when keys have event-time
    * locality, `dropDuplicatesWithinWatermark` bounds it instead.
    */
  def startStateful(
      spark: SparkSession,
      inbox: String,
      schema: StructType,
      sinkDir: String,
      checkpointDir: String,
      key: String,
      transform: DataFrame => DataFrame): StreamingQuery =
    statefulDedupStream(spark, inbox, schema, checkpointDir, key, transform) {
      (batch, batchId) =>
        // Idempotent-by-batch sink: each micro-batch owns the partition dir
        // batch=<id> and REPLACES it. A crash between the append and the
        // checkpoint commit replays the batch on restart — the state store
        // re-emits the same rows and the overwrite lands the same content
        // in the same dir, so replays cannot duplicate keys (a bare append
        // here would be at-least-once). Readers scan sinkDir recursively.
        batch.write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
    }

  /** [[startStateful]] writing through the TRANSACTIONAL manifest table
    * ([[ManifestTable.appendBatch]]) instead of `batch=<id>` partition
    * overwrite — the promised 100 TB upgrade of that sink effect, as real
    * engineering: each micro-batch commits atomically (hard-link manifest
    * publish), readers resolve the latest manifest and can never observe a
    * half-committed batch, and crash-replay is a batch-id-ledger no-op
    * rather than a byte-identical overwrite. Read the sink back with
    * [[ManifestTable.read]]; the o7 oracle row drives the crash window
    * end-to-end and st17 rides this path at the query surface.
    */
  def startTransactional(
      spark: SparkSession,
      inbox: String,
      schema: StructType,
      tableDir: String,
      checkpointDir: String,
      key: String,
      transform: DataFrame => DataFrame): StreamingQuery =
    statefulDedupStream(spark, inbox, schema, checkpointDir, key, transform) {
      (batch, batchId) => ManifestTable.appendBatch(batch, tableDir, batchId)
    }

  /** Shared spine of [[startStateful]]/[[startTransactional]]: file-source
    * inbox → transform → state-store dropDuplicates (RocksDB, pinned per
    * query at first start) → `sinkEffect` per micro-batch.
    *
    * Spark offers no per-query writeStream option for the state-store
    * provider, so it has to ride the session conf around `.start()` (the
    * query pins it into its checkpoint metadata at first start). The
    * set/start/restore window is a read-modify-write of SHARED session
    * state — synchronized on the session so a concurrent query start
    * can't capture RocksDB unintentionally and a concurrent conf.set
    * can't be clobbered by the restore. `.start()` returns as soon as the
    * query thread is launched (it doesn't await a batch), so the lock is
    * held for milliseconds, not the drain.
    */
  private def statefulDedupStream(
      spark: SparkSession,
      inbox: String,
      schema: StructType,
      checkpointDir: String,
      key: String,
      transform: DataFrame => DataFrame)(
      sinkEffect: (DataFrame, Long) => Unit): StreamingQuery =
    spark.synchronized {
      val prev = spark.conf.getOption(ProviderConf)
      // default-on, but an explicit session-level setting wins, so a
      // deployment can opt out without code changes
      val prevChangelog = spark.conf.getOption(ChangelogConf)
      spark.conf.set(ProviderConf, RocksDbProvider)
      if (prevChangelog.isEmpty) spark.conf.set(ChangelogConf, "true")
      try
        spark.readStream
          .schema(schema)
          .parquet(inbox)
          .transform(transform)
          .dropDuplicates(key)
          .writeStream
          .option("checkpointLocation", checkpointDir)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            sinkEffect(batch, batchId)
            ()
          }
          .start()
      finally {
        prev match {
          case Some(v) => spark.conf.set(ProviderConf, v)
          case None => spark.conf.unset(ProviderConf)
        }
        prevChangelog match {
          case Some(v) => spark.conf.set(ChangelogConf, v)
          case None => spark.conf.unset(ChangelogConf)
        }
      }
    }

  /** ST2 batch-shaped equivalent, for oracle-checkable use in queries():
    * union of per-"upload" frames with FIRST-arrival-wins dedup — the
    * ON CONFLICT DO NOTHING semantic (later uploads of an existing key are
    * ignored, matching the streaming path's anti-join).
    */
  def idempotentUnion(uploads: Seq[DataFrame], key: String, arrival: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = uploads.reduce(_ unionByName _)
    val w = Window.partitionBy(col(key)).orderBy(col(arrival).asc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
