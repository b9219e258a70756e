package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.{Stats, Unpivot}
import graft.stream.Ingest
import graft.QueryContext._

/** Structured Streaming queries (st2, st4-st12): watermarked windows,
  * stream-stream interval joins, stateful sessions, exactly-once dedup,
  * incremental aggregation, foreachBatch merge.
  *
  * Split from ScanStreamQueries in round 8. Two behavior-relevant changes
  * rode along with that split (not a pure move): st8_incremental_agg was
  * rewritten onto versioned state generations (replacing the
  * _SUCCESS-guarded in-place overwrite + eager localCheckpoint), and every
  * streaming query's checkpoint/sink dirs moved to QueryContext.scratchDir
  * (RAM-backed when /dev/shm is available). Round 9 additions: queries
  * whose emitted rows cannot depend on the trailing no-data micro-batch
  * (st5 inner join, st9 dedup — both emit on arrival) skip it via
  * QueryContext.withoutNoDataBatch, and st8 forces two micro-batches
  * instead of four (two suffice to exercise both foreachBatch merge paths).
  */
private[graft] object StreamingQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // ---- ST2 idempotent multi-upload union (first-arrival-wins) ------------
    "st2_idempotent_union" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val u1 = ev.filter(col("event_id") % 3 === 0).withColumn("arrival", lit(1))
      val u2 = ev.filter(col("event_id") % 3 === 1).withColumn("arrival", lit(2))
      val u3 = ev.filter(col("event_id") % 2 === 0).withColumn("arrival", lit(3))
      Ingest.idempotentUnion(Seq(u1, u2, u3), "event_id", "arrival")
        .groupBy("arrival")
        .agg(count(lit(1)).as("n"), Stats.sumMoney("value").as("sum_value"))
        .orderBy("arrival")
    },


    // ---- ST: event-time tumbling-window stats as a REAL streaming query ----
    // readStream over a parquet inbox → watermark + window() groupBy (shared
    // aggregate exprs with the batch A1/A3 path) → memory sink, drained with
    // Trigger.AvailableNow. Complete mode is the test-harness shape (memory
    // sink, all windows emitted for the oracle compare); a live deployment
    // uses append mode where the same watermark evicts closed-window state —
    // the property that keeps a 1000-executor job's state finite. The oracle
    // is the batch equivalent: hour-truncated group-by in DuckDB.
    "st4_stream_windowed" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "ts", "value")
      // one-time micros-normalized inbox per sfDir (the raw fixture is
      // TIMESTAMP(NANOS), which the streaming parquet source rejects); the
      // rewrite is ingest, not the measured operator
      val inbox = s"/tmp/graft_st4_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox)(ev.write.mode("overwrite").parquet(_))
      val ckpt = scratchDir("graft-st4-ckpt").toString
      s.catalog.dropTempView("st4_mem")
      // COMPLETE mode emits every window on every batch regardless of the
      // watermark — the trailing no-data batch only re-emits the identical
      // table (nothing is held back for eviction to release), so skipping
      // it cannot change the sink contents; it drops one micro-batch of
      // drained-run cost per invocation (round 18; the r9 st5/st9 rule)
      withoutNoDataBatch(s) {
        val q = graft.stream.WindowedStats.tumbling(
            s.readStream.schema(ev.schema).parquet(inbox),
            "ts", "1 hour", "1 hour", Seq("value"))
          .writeStream.format("memory").queryName("st4_mem")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      }
      rmTree(ckpt) // drained AvailableNow run; RocksDB state is dead weight
      s.table("st4_mem").orderBy("window_start")
    },


    // ---- ST: stream-stream event-time interval join (click→purchase
    // attribution). Both sides watermarked + the interval term in the join
    // condition is what lets Spark EVICT join state (left row once the
    // watermark passes click_ts + window, right row once it passes
    // purchase_ts) — without it state grows forever. Inner matches emit as
    // they arrive, so the drained AvailableNow run equals the batch join
    // the oracle computes; StreamJoinSpec drives the multi-batch path and
    // asserts the eviction actually happens. -------------------------------
    "st5_stream_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "ts", "user_id", "event_type")
      val inbox = s"/tmp/graft_st5_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox)(ev.write.mode("overwrite").parquet(_))
      val ckpt = scratchDir("graft-st5-ckpt").toString
      s.catalog.dropTempView("st5_mem")
      val src = s.readStream.schema(ev.schema).parquet(inbox)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      // inner-join append emits every match in the DATA batch it arrives in;
      // the trailing no-data batch only evicts state, so skipping it cannot
      // change the sink contents — it just drops ~0.5 s of drained-run cost
      withoutNoDataBatch(s) {
        val q = graft.stream.StreamJoin.intervalJoin(clicks, purchases, "user_id",
            "click_ts", "purchase_ts", watermark = "1 hour", windowSec = 3600L)
          .select("user_id", "click_id", "purchase_id")
          .writeStream.format("memory").queryName("st5_mem")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      }
      rmTree(ckpt)
      s.table("st5_mem").orderBy("click_id", "purchase_id")
    },


    // ---- ST: stream-stream LEFT OUTER interval join. Matches emit as
    // they arrive (inner path); an unmatched click emits null-extended
    // only when the watermark passes click_ts + window — state eviction
    // proving no future purchase can match. The global watermark is the
    // MIN across both sides' watermark nodes (multipleWatermarkPolicy
    // default), i.e. least(max click_ts, max purchase_ts) after the
    // drain, and the oracle encodes exactly that boundary (strict <;
    // StreamJoinSpec pins the eviction behavior). Single-file inbox ⇒
    // one data batch ⇒ no cross-batch late-arrival ambiguity (ingest,
    // not the operator). --------------------------------------------------
    "st7_stream_outer_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "ts", "user_id", "event_type")
      val inbox = s"/tmp/graft_st7_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox)(ev.coalesce(1).write.mode("overwrite").parquet(_))
      val ckpt = scratchDir("graft-st7-ckpt").toString
      s.catalog.dropTempView("st7_mem")
      val src = s.readStream.schema(ev.schema).parquet(inbox)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      val q = graft.stream.StreamJoin.intervalJoin(clicks, purchases, "user_id",
          "click_ts", "purchase_ts", watermark = "0 seconds", windowSec = 3600L,
          joinType = "leftOuter")
        .select("user_id", "click_id", "purchase_id")
        .writeStream.format("memory").queryName("st7_mem")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      rmTree(ckpt)
      s.table("st7_mem").orderBy("click_id", "purchase_id")
    },


    // ---- ST: incremental materialized view — the production streaming-ETL
    // pattern. An UPDATE-mode aggregation emits each key's new cumulative
    // total per micro-batch (maxFilesPerTrigger=1 forces two real
    // batches), and foreachBatch MERGES those deltas into a keyed parquet
    // table via the last-writer-wins upsert (version = batchId). However
    // the files split into batches, the last update per key carries its
    // final total, so the merged table equals the batch GROUP BY the
    // oracle runs — while state per key stays O(1) and the sink table is
    // queryable between batches, which is the whole point at 100 TB:
    // never recompute the view from scratch. -----------------------------
    "st8_incremental_agg" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("user_id", "value")
      // two files → two real micro-batches: enough to exercise BOTH
      // foreachBatch merge paths (None → initial write, Some → generation
      // merge) — the oracle is batch-count-independent, and four batches
      // only re-ran the Some path twice more at ~0.4 s each (r8 verdict's
      // one-shot item). New inbox path: the old 4-file dir may be cached.
      val inbox = s"/tmp/graft_st8_inbox2_${cacheTag(dir, "events")}"
      materializeOnce(inbox)(ev.repartition(2).write.mode("overwrite").parquet(_))
      val stateRoot = scratchDir("graft-st8-state")
      val ckpt = scratchDir("graft-st8-ckpt").toString
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(inbox)
      val agg = src.groupBy("user_id").agg(
        count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      // Versioned state generations (the st12 pattern): each batch reads
      // generation batchId-1 and writes generation batchId — no in-place
      // overwrite, so no lineage-severing checkpoint job per batch (one
      // materialization fewer per micro-batch than read-modify-write), and
      // a foreachBatch RETRY simply rewrites its own generation without
      // corrupting the previous one. This is also the shape a real
      // incremental-MV sink takes at scale: atomic snapshot publish, not
      // mutation.
      @volatile var current: Option[String] = None
      val q = agg.writeStream.outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val incoming = batch.withColumn("__ver", lit(batchId))
          val merged = current match {
            case Some(prev) => graft.operators.Upsert.lastWriterWins(
              s.read.parquet(prev), incoming, "user_id", "__ver", "__ver")
            case None => incoming
          }
          val next = s"$stateRoot/v$batchId"
          merged.write.mode("overwrite").parquet(next)
          current = Some(next)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      rmTree(ckpt)
      s.read.parquet(current.get)
        .select(col("user_id"), col("n_events"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy("user_id")
    },


    // ---- ST: stateful gap sessionization via flatMapGroupsWithState.
    // State per key is ONE open-session record (start, last, n) — O(active
    // keys), not O(events) — and the event-time timeout closes sessions for
    // keys that fall silent, so state drains even on an unbounded stream.
    // The drained AvailableNow run emits every session EXCEPT each key's
    // final one when the corpus watermark never passes its gap; the oracle
    // encodes exactly that closure rule (sid < max sid, or end+gap <
    // global max ts — Spark fires EventTimeTimeout on timeout < watermark,
    // strictly) over the batch lag+running-sum sessionization. ------------
    "st6_stream_sessions" -> { (s, dir) =>
      import s.implicits._
      implicit val sp: SparkSession = s
      // micros-normalized single-file inbox: one file ⇒ one data batch ⇒
      // per-key fold sees every event together (ingest, not the operator)
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("userId"), col("ts").cast("long").as("tsSec"))
      val inbox = s"/tmp/graft_st6_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox)(ev.coalesce(1).write.mode("overwrite").parquet(_))
      val ckpt = scratchDir("graft-st6-ckpt").toString
      s.catalog.dropTempView("st6_mem")
      val stream = s.readStream.schema(ev.schema).parquet(inbox)
        .as[graft.stream.SessionTracker.Event]
      val q = graft.stream.SessionTracker.sessions(stream, gapSeconds = 1800L)
        .writeStream.format("memory").queryName("st6_mem")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      rmTree(ckpt)
      s.table("st6_mem")
        .select(col("userId").as("user_id"), col("startSec").as("start_sec"),
          col("endSec").as("end_sec"), col("nEvents").as("n_events"))
        .orderBy("user_id", "start_sec")
    },


    // ---- streaming exactly-once dedup: the same event file lands in the
    // inbox TWICE (at-least-once delivery) and
    // dropDuplicatesWithinWatermark must emit each event exactly once.
    // Watermarked dedup state evicts once event-time passes, so the state
    // store holds a bounded window of keys — the property that lets this
    // run forever at ingest scale (plain dropDuplicates would pin every
    // key ever seen). Drained sink re-aggregated for the oracle. ---------
    "st9_stream_dedup" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "ts", "event_type", "value")
      val inbox = s"/tmp/graft_st9_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox) { p =>
        ev.coalesce(1).write.mode("overwrite").parquet(p)
        ev.coalesce(1).write.mode("append").parquet(p)
      }
      // fresh per invocation: a reused path would accumulate re-appended
      // files when the query runs again with a new checkpoint
      val out = scratchDir("graft-st9-out").toString + "/data"
      val ckpt = scratchDir("graft-st9-ckpt").toString
      // dedup emits each first-seen row in its DATA batch; the no-data
      // batch only evicts expired keys — skipping it leaves the sink
      // byte-identical (same reasoning as st5)
      withoutNoDataBatch(s) {
        val q = s.readStream.schema(ev.schema).parquet(inbox)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet")
          .option("path", out)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      }
      rmTree(ckpt)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct("event_id").as("n_distinct"),
          Stats.sumMoney("value").as("sum_value"))
        .orderBy("event_type")
    },


    // ---- stream-static enrichment join: the streaming fact joins a
    // BROADCAST dimension (no dimension state in the store, re-read per
    // micro-batch, so dim updates flow in without restarting the query) —
    // the standard shape for decorating an event stream with reference
    // data. Stateless, so append emits every enriched row on arrival. ----
    "st10_stream_static" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "ts", "user_id", "value")
      val inbox = s"/tmp/graft_st10_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox)(ev.write.mode("overwrite").parquet(_))
      val out = scratchDir("graft-st10-out").toString + "/data"
      val ckpt = scratchDir("graft-st10-ckpt").toString
      val dim = Tables.nation(s, dir).select("n_nationkey", "n_name")
      val q = s.readStream.schema(ev.schema).parquet(inbox)
        .withColumn("nkey", col("user_id") % 25)
        .join(broadcast(dim), col("nkey") === col("n_nationkey"))
        .select("event_id", "n_name", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      rmTree(ckpt)
      s.read.parquet(out)
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"), Stats.sumMoney("value").as("sum_value"))
        .orderBy("n_name")
    },


    // ---- CHAINED stateful streaming: watermarked dedup FEEDING a
    // windowed aggregation in ONE query (multiple stateful operators per
    // stream, Spark 3.4+) — the shape that used to force two queries with
    // an intermediate sink. The inbox holds every event twice; the hourly
    // stats must equal single-copy batch stats for every window the
    // watermark finalized (append emits a window once wm ≥ its end, so
    // the trailing partial window correctly stays open — the oracle
    // encodes that boundary). --------------------------------------------
    "st11_dedup_window_chain" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "ts", "event_type", "value")
      val inbox = s"/tmp/graft_st9_inbox_${cacheTag(dir, "events")}" // st9's doubled inbox
      materializeOnce(inbox) { p =>
        ev.coalesce(1).write.mode("overwrite").parquet(p)
        ev.coalesce(1).write.mode("append").parquet(p)
      }
      val out = scratchDir("graft-st11-out").toString + "/data"
      val ckpt = scratchDir("graft-st11-ckpt").toString
      val q = s.readStream.schema(ev.schema).parquet(inbox)
        .withWatermark("ts", "0 seconds")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_rows"),
          round(min("value"), 4).as("value_min"),
          round(max("value"), 4).as("value_max"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n_rows"), col("value_min"), col("value_max"))
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      rmTree(ckpt)
      s.read.parquet(out).orderBy("window_start")
    },


    // ---- foreachBatch streaming MERGE: the sink-side upsert pattern for
    // stores with no native streaming writer (JDBC, plain parquet tables,
    // vendor warehouses). Two inbox files + maxFilesPerTrigger=1 force two
    // real micro-batches; each batch folds into the previous table
    // GENERATION with an argmax-per-user merge. The merge op is
    // associative AND commutative (global argmax on (ts, event_id)), so
    // the result is independent of batch arrival order — the property
    // that makes the pattern restart-safe: replaying a batch after a
    // checkpoint recovery converges to the same table. Generations make
    // each batch's write atomic-by-rename-free overwrite-to-new-dir (a
    // read-modify-overwrite of ONE dir would corrupt on mid-write crash).
    "st12_foreachbatch_merge" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val inbox = s"/tmp/graft_st12_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox) { p =>
        ev.filter(col("event_id") % 2 === 0).coalesce(1)
          .write.mode("overwrite").parquet(p)
        ev.filter(col("event_id") % 2 === 1).coalesce(1)
          .write.mode("append").parquet(p)
      }
      val gens = scratchDir("graft-st12-gen").toString
      val ckpt = scratchDir("graft-st12-ckpt").toString
      @volatile var current: Option[String] = None
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(inbox)
        .writeStream
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          val merged = current match {
            case Some(prev) => s.read.parquet(prev).unionByName(batch.toDF())
            case None => batch.toDF()
          }
          val next = s"$gens/gen_$batchId"
          // the keyed last-row fold keeps the EVENT schema (incl. event_id),
          // so the next batch's merge can still tie-break on (ts, event_id)
          graft.operators.Upsert.lastRowPerKey(merged, Seq("user_id"), Seq("ts", "event_id"))
            .write.mode("overwrite").parquet(next)
          current = Some(next)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      rmTree(ckpt)
      s.read.parquet(current.get)
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
          col("event_type").as("last_type"),
          round(col("value"), 4).as("last_value"))
        .orderBy("user_id")
    },


    // ---- ST13 (round 10): STREAMING container ingest — the continuous
    // GDAC-sync shape. A binaryFile readStream watches an upload inbox
    // (here the s10 quarantine fleet: healthy classic CDF + healthy
    // HDF5-backed NetCDF-4 + four poison files), each micro-batch decodes
    // arrivals file-per-task through the SAME tolerant per-file decode as the
    // batch scan (`NetCdf.decodeTolerant`: poison skips per file, never kills
    // the stream), appending rows to a parquet sink. Stateless flatMap ⇒
    // exactly-once via the file-source log alone; at 100 TB this is
    // file-parallel with O(file) memory per task, and new drops decode
    // incrementally without rescanning the corpus. The oracle rebuilds the
    // per-float aggregate from the s7 closed form over the HEALTHY floats
    // (0-3 classic + 8 HDF5) — binary-fraction sums are order-exact. ------
    "st13_stream_netcdf" -> { (s, dir) =>
      import s.implicits._
      val inbox = "/tmp/graft_s10_netcdf_q_v3"
      materializeOnce(inbox)(graft.sources.NetCdfFixture.writeQuarantineFleet(_))
      val out = scratchDir("graft-st13-out") + "/data"
      val ckpt = scratchDir("graft-st13-ckpt")
      val binSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
      val q = s.readStream.format("binaryFile").schema(binSchema)
        .option("pathGlobFilter", "*.nc")
        .load(inbox)
        .select("content").as[Array[Byte]]
        .flatMap(graft.sources.NetCdf.decodeTolerant)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination()
      rmTree(ckpt)
      s.read.parquet(out)
        .groupBy("float_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("pres")).as("n_pres"),
          sum("pres").as("sum_pres"),
          sum("temp").as("sum_temp"),
          sum("psal").as("sum_psal"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy("float_id")
    },


    // ---- ST3 task-status state machine as a DRIVER-ORACLED row (the
    // reference's pending→processing→completed/failed dict,
    // fastapi_app.py:148-149,259-275): status events derived arithmetically
    // from the events table stream through the REAL mapGroupsWithState
    // tracker (stream/StatusTracker). The machine is monotone (status order
    // never decreases, terminal absorbs), so its sequential fold has a
    // CLOSED FORM the oracle computes set-wise: final status = first
    // terminal event if any, else processing-if-seen, else pending;
    // transitions/last_seq follow. Single-file inbox ⇒ one data batch ⇒
    // the in-batch seq sort IS the full replay order. --------------------
    "st14_status_replay" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).select(
        concat(lit("task_"), (col("user_id") % 97).cast("string")).as("taskId"),
        when(col("event_id") % 7 <= 1, "pending")
          .when(col("event_id") % 7 <= 4, "processing")
          .when(col("event_id") % 7 === 5, "completed")
          .otherwise("failed").as("status"),
        col("event_id").as("seq"))
      val inbox = s"/tmp/graft_st14_inbox_${cacheTag(dir, "events")}"
      materializeOnce(inbox)(ev.coalesce(1).write.mode("overwrite").parquet(_))
      val ckpt = scratchDir("graft-st14-ckpt").toString
      s.catalog.dropTempView("st14_mem")
      val src = s.readStream.schema(ev.schema).parquet(inbox)
        .as[graft.stream.StatusTracker.StatusEvent]
      // the tracker runs GroupStateTimeout.NoTimeout, so a no-data batch
      // has nothing to fire and update mode emits no rows from it —
      // skipping it is output-identical (round 18; the r9 st5/st9 rule)
      withoutNoDataBatch(s) {
        val q = graft.stream.StatusTracker.track(src)(s).toDF()
          .writeStream.format("memory").queryName("st14_mem")
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
        q.awaitTermination()
      }
      rmTree(ckpt)
      s.table("st14_mem")
        .select(col("taskId").as("task_id"), col("status"),
          col("transitions"), col("lastSeq").as("last_seq"))
        .orderBy("task_id")
    },


    // ---- S10/ST1 bulk chunked append through the REAL upload pipeline
    // (stream/Ingest.start: file-source inbox → clean → in-batch dedup →
    // sink anti-join → partitioned append), driver-oracled: two drains, the
    // second re-sending overlapping keys, so the cross-run idempotence
    // (ON CONFLICT DO NOTHING) is what the hash checks. Duplicate uploads
    // carry IDENTICAL payloads (same fixture rows), so any within-batch
    // pick is content-identical and the result is deterministic.
    // SCALE NOTE: Ingest.start's cross-batch idempotence re-reads the sink
    // per micro-batch — acceptable only while the sink is small (this
    // fixture); the 100 TB path is Ingest.startStateful (st16), whose
    // state-store dedup is O(batch) per batch. ----------------------------
    "st15_bulk_append" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val base = scratchDir("graft-st15")
      val inbox = s"$base/inbox"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
      new java.io.File(inbox).mkdirs()
      val clean = (df: DataFrame) => df.filter(col("value").isNotNull)
      ev.filter(col("event_id") % 3 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$inbox/u1")
      ev.filter(col("event_id") % 3 === 1).coalesce(1)
        .write.mode("overwrite").parquet(s"$inbox/u2")
      Ingest.start(s, s"$inbox/*", ev.schema, sink, ckpt, "event_id", clean,
          boundedSink = true)
        .awaitTermination()
      // second drain: u3 overlaps both prior uploads — the sink anti-join
      // must drop the re-sends and append only the genuinely new keys
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$inbox/u3")
      Ingest.start(s, s"$inbox/*", ev.schema, sink, ckpt, "event_id", clean,
          boundedSink = true)
        .awaitTermination()
      val out = s.read.schema(ev.schema).parquet(sink)
      // collect the 1-row aggregate EAGERLY, then reap the WHOLE scratch
      // tree (inbox+sink+ckpt): a ckpt-only cleanup leaves one RAM-backed
      // data dir per invocation for the life of the process (the reaper
      // skips live-PID dirs), which a long bench rep loop turns into an
      // unbounded /dev/shm leak (round-13 advice)
      collectThenReap(s, base)(
        out.agg(count(lit(1)).as("n_rows"),
          countDistinct("event_id").as("n_keys"),
          Stats.sumMoney("value").as("sum_value")))
    },


    // ---- S16/ST1 state-store upload ingest (stream/Ingest.startStateful:
    // streaming dropDuplicates keeps the seen-key set in the CHECKPOINTED
    // state store — O(batch) lookups instead of a full sink re-scan per
    // batch, the 100 TB shape), driver-oracled across a RESTART: run 2
    // resumes from the checkpoint and the RESTORED key set must drop run
    // 1's re-sent keys. Sink layout is batch=<id> partition dirs (replay-
    // idempotent overwrite); the aggregate reads the whole tree. ----------
    // ---- S6/ST1 incremental crawl ledger: index pages arrive across
    // micro-batches (a live crawl re-visits pages); the per-batch transform
    // runs the REAL link tokenizer + per-page naming inside the streaming
    // plan (stateless — posexplode + scalar exprs), and the checkpointed
    // STATE-STORE seen-set on file_name (Ingest.startStateful) is the
    // reference's skip-if-exists (download.py:26) made incremental: a
    // re-crawled page plans zero new downloads. Crawl 1 sees the even
    // pages; crawl 2 re-crawls everything — the even pages' files must not
    // double. SCALE NOTE: a crawl ledger grows without bound, so the dedup
    // must be O(batch) per batch — state-store lookups, NOT Ingest.start's
    // per-batch sink re-read (that O(sink) shortcut is sanctioned for the
    // bounded st15 upload table only). Round 17: the ledger sink rides the
    // TRANSACTIONAL manifest table (Ingest.startTransactional) — each
    // micro-batch commits via atomic manifest publish, the read-back
    // resolves the latest manifest instead of globbing the dir, and a
    // crash-replayed batch is a ledger no-op (o7 drives that window). ----
    "st17_crawl_ledger" -> { (s, dir) =>
      val pg = AcquireQueries.indexPages(s, dir)
      val base = scratchDir("graft-st17")
      val inbox = s"$base/inbox"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
      new java.io.File(inbox).mkdirs()
      val toPlan = (df: DataFrame) =>
        graft.sources.Acquire.ncLinks(df, "page_id", "html")
          .withColumn("file_name", concat(col("page_id").cast("string"),
            lit("_"), format_string("%03d", col("pos") + 1), lit(".nc")))
          .withColumn("url", concat(lit("https://data.example.net/argo/"),
            col("page_id"), lit("/"), col("href")))
      // state-store dedup emits on arrival; the trailing no-data batch only
      // evicts state, so skipping it cannot change the sink (the st16 rule)
      withoutNoDataBatch(s) {
        pg.filter(col("page_id") % 2 === 0).coalesce(1)
          .write.mode("overwrite").parquet(s"$inbox/c1")
        Ingest.startTransactional(s, s"$inbox/*", pg.schema, sink, ckpt, "file_name", toPlan)
          .awaitTermination()
        pg.coalesce(1).write.mode("overwrite").parquet(s"$inbox/c2")
        Ingest.startTransactional(s, s"$inbox/*", pg.schema, sink, ckpt, "file_name", toPlan)
          .awaitTermination()
      }
      val out = graft.stream.ManifestTable.read(s, sink, toPlan(pg.limit(0)).schema)
      collectThenReap(s, base)(
        out.groupBy((col("page_id") % 2 === 0).as("recrawled"))
          .agg(count(lit(1)).as("n_files"),
            countDistinct(col("file_name")).as("n_names"),
            sum(length(col("href"))).as("href_chars"))
          .orderBy("recrawled"))
    },

    // ---- O7 transactional manifest sink: the commit protocol driven
    // through its CRASH WINDOW (stream/ManifestTable — the 100 TB upgrade
    // of startStateful's partition-overwrite sink effect, round-17 verdict
    // item 5). Batch 0 commits; batch 1 CRASHES mid-commit (data + segment
    // on disk, manifest publish never runs) — the reader, resolving the
    // latest manifest, must see batch 0 ONLY (n_mid). The replayed batch 1
    // then commits a fresh attempt, a DUPLICATE delivery of the committed
    // batch is a ledger no-op, batch 2 commits, and vacuum reaps exactly
    // the one crashed attempt dir. The final aggregate therefore equals a
    // plain scan of the source — exactly-once across crash, replay, and
    // duplicate delivery — and every waypoint (mid-crash count, orphan
    // count) rides INSIDE the oracled row. --------------------------------
    "o7_txn_manifest" -> { (s, dir) =>
      import graft.stream.ManifestTable
      // a deterministic 20% slice: the protocol under test (crash window,
      // ledger, vacuum) is volume-independent, and the bench sweep should
      // price the COMMIT MACHINERY, not 5x bulk IO of the whole table
      val ev = Tables.events(s, dir).filter(col("user_id") % 5 === 0)
        .select("event_id", "user_id", "value")
      val base = scratchDir("graft-o7")
      val table = s"$base/table"
      val b = (i: Int) => ev.filter(col("event_id") % 3 === i)
      ManifestTable.appendBatch(b(0), table, 0L)
      // crash window: batch 1's data files + segment land, publish never runs
      ManifestTable.writeAttempt(b(1), table, 1L)
      val nMid = ManifestTable.read(s, table, ev.schema).count()
      ManifestTable.appendBatch(b(1), table, 1L) // crash-replay: commits
      ManifestTable.appendBatch(b(1), table, 1L) // duplicate delivery: no-op
      ManifestTable.appendBatch(b(2), table, 2L)
      // grace 0: single committer, and the point IS reaping the attempt we
      // just crashed — production callers take DefaultVacuumGraceMs so a
      // LIVE committer's in-flight attempt survives (round-17 advice)
      val reaped = ManifestTable.vacuum(table, 0L)
      val nOrphans = reaped.count(_.startsWith("data/")).toLong
      // the crashed attempt's never-published segment listing reaps too
      // (round-17 advice: these accumulated unboundedly under crash-replay)
      val nSegs = reaped.count(_.startsWith("_manifests/")).toLong
      val out = ManifestTable.read(s, table, ev.schema)
      collectThenReap(s, base)(
        out.agg(count(lit(1)).as("n_rows"),
          countDistinct("event_id").as("n_keys"),
          Stats.sumMoney("value").as("sum_value"))
        .withColumn("n_mid", lit(nMid))
        .withColumn("n_orphans_reaped", lit(nOrphans))
        .withColumn("n_segs_reaped", lit(nSegs)))
    },

    // ---- O8 commit-log maintenance: OPTIMIZE/expire/vacuum INSIDE the
    // manifest table (the lakehouse loop o1 runs on bare directories,
    // closed over the transactional format). Four 2-file batches commit;
    // compact() folds the fragmented listing into one ~128 MB-target file
    // as a NEW version (batch ids carry over — a replayed batch id stays a
    // no-op ACROSS the compaction, pinned by replay_noop); version 0 still
    // time-travels to batch 0's rows until expireSnapshots(keepLast=1)
    // drops v0..vN-1, after which vacuum reclaims exactly the four
    // pre-compaction attempt dirs. Version/dir counts ride the oracled row
    // as write-behavior-independent invariants (booleans + the constant
    // attempt-dir count; the compaction file count is target-DERIVED, the
    // o1 rule) — a round-17 fuzz lesson: the per-batch FILE count is NOT
    // a closed form over row counts (Spark writes a schema-only file for
    // an empty frame, and a file per task once any row exists, and both
    // vary with source shape/AQE), so the exact 8-file→1-file fold is
    // pinned by ManifestTableSpec on controlled inputs instead. ------------
    "o8_txn_compact" -> { (s, dir) =>
      import graft.stream.ManifestTable
      val ev = Tables.events(s, dir).filter(col("user_id") % 5 === 0)
        .select("event_id", "user_id", "value") // the o7 20%-slice rule
      val base = scratchDir("graft-o8")
      val table = s"$base/table"
      // coalesce(1) first so the round-robin repartition(2) fans out from
      // ONE input partition: exactly min(2, rows) non-empty output files,
      // the closed form the oracle recomputes per residue
      val b = (i: Int) =>
        ev.filter(col("event_id") % 4 === i).coalesce(1).repartition(2)
      (0 until 4).foreach(i => ManifestTable.appendBatch(b(i), table, i.toLong))
      val m0 = ManifestTable.latest(table)
      // target-DERIVED expectation (the o1 rule): at a larger scale factor
      // the snapshot exceeds one 128 MB file and the count moves with it
      val target = 128L << 20
      val bytes = m0.map(_.files.map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(table, f))).sum)
        .getOrElse(0L)
      val expectedAfter =
        if (bytes == 0L) 0L else math.max(1L, (bytes + target - 1) / target)
      // single committer here, so the capped-retry compact always wins
      // round 1 (the None "lost, run me later" arm needs real contention —
      // ManifestTableSpec drives that); grace-0 vacuum as in o7
      val (_, filesAfter) = ManifestTable.compact(s, table, ev.schema, target).get
      val nV0 = ManifestTable.readAt(s, table, ev.schema, 0L).count()
      val vBeforeReplay = ManifestTable.latest(table).map(_.version).getOrElse(-1L)
      ManifestTable.appendBatch(b(1), table, 1L) // replayed id: must be a no-op
      val vAfterReplay = ManifestTable.latest(table).map(_.version).getOrElse(-1L)
      val expired = ManifestTable.expireSnapshots(table, keepLast = 1)
      val reclaimed = ManifestTable.vacuum(table, 0L)
        .count(_.startsWith("data/")).toLong
      val out = ManifestTable.read(s, table, ev.schema)
      collectThenReap(s, base)(
        out.agg(count(lit(1)).as("n_rows"),
          countDistinct("event_id").as("n_keys"),
          Stats.sumMoney("value").as("sum_value"))
        .withColumn("compact_on_target", lit(filesAfter.toLong == expectedAfter))
        .withColumn("n_v0_rows", lit(nV0))
        .withColumn("replay_noop", lit(vAfterReplay == vBeforeReplay))
        // dense version chain 0..N with only the latest kept ⇒ the expired
        // count equals the latest version number
        .withColumn("expire_ok", lit(expired.size.toLong == vAfterReplay))
        .withColumn("n_dirs_reclaimed", lit(reclaimed)))
    },

    // ---- O9 data skipping through the manifest table (round-18 verdict
    // item 1): one range-partitioned commit gives the snapshot's files
    // DISJOINT event_id ranges; the footer min/max recorded in segment
    // lines at commit time then let a point probe at the minimum key open
    // ONE file instead of all of them (pruneFiles/readWhere). The oracled
    // invariants are write-behavior-independent (the o8 lesson — file
    // counts are not a closed form over row counts): skip_sound pins
    // pruned-scan == full-scan under the same predicate on ANY fixture,
    // skip_effective pins kept < total whenever the table has >1 file
    // (disjoint ranges guarantee it), and n_probe/aggregates are
    // fixture-derivable SQL. The exact 1-of-4 pruning is pinned on
    // controlled inputs in ManifestTableSpec. At 100 TB this is the entire
    // point of the format: a selective predicate over a z-ordered ledger
    // reads a sliver of the snapshot, not the snapshot. -------------------
    "o9_txn_skipping" -> { (s, dir) =>
      import graft.stream.ManifestTable
      import org.apache.spark.sql.sources.{EqualTo, Filter}
      val ev = Tables.events(s, dir).filter(col("user_id") % 5 === 0)
        .select("event_id", "user_id", "value") // the o7 20%-slice rule
      val base = scratchDir("graft-o9")
      val table = s"$base/table"
      ManifestTable.appendBatch(ev.repartitionByRange(4, col("event_id")), table, 0L)
      val minRow = ev.agg(min("event_id")).head()
      val probe = if (minRow.isNullAt(0)) 0L else minRow.getLong(0)
      val filters = Seq[Filter](EqualTo("event_id", probe))
      val man = ManifestTable.latest(table).get
      val kept = ManifestTable.pruneFiles(man, filters)
      val nPruned = ManifestTable.readWhere(s, table, ev.schema, filters)
        .filter(col("event_id") === probe).count()
      val out = ManifestTable.read(s, table, ev.schema)
      val nFull = out.filter(col("event_id") === probe).count()
      collectThenReap(s, base)(
        out.agg(count(lit(1)).as("n_rows"),
          countDistinct("event_id").as("n_keys"),
          Stats.sumMoney("value").as("sum_value"))
        .withColumn("n_probe", lit(nFull))
        .withColumn("skip_sound", lit(nPruned == nFull))
        .withColumn("skip_effective",
          lit(man.files.size <= 1 || kept.size < man.files.size)))
    },

    // ---- O10 copy-on-write MERGE into the manifest table (round-18
    // verdict item 2): the reference's ON CONFLICT DO UPDATE upsert
    // (db_handler.py:180-187) as a TABLE OPERATION — stats-pruned
    // candidate files, key-column-only broadcast-semi-join touch
    // detection, rewrite of exactly the touched files, untouched files
    // carried BY IDENTITY into the new version. The mutation log doubles
    // the value of every event_id % 7 == 0 row and inserts shifted new
    // keys; the final state hash-matches DuckDB's NOT-EXISTS + UNION ALL
    // replay, and the identity invariant (files removed from the listing
    // == files the merge reports touching; every other file path carries
    // over verbatim) rides the row as a boolean that holds on any
    // fixture. ------------------------------------------------------------
    "o10_txn_merge" -> { (s, dir) =>
      import graft.stream.ManifestTable
      val ev = Tables.events(s, dir).filter(col("user_id") % 5 === 0)
        .select("event_id", "user_id", "value") // the o7 20%-slice rule
      val base = scratchDir("graft-o10")
      val table = s"$base/table"
      ManifestTable.appendBatch(ev.repartitionByRange(4, col("event_id")), table, 0L)
      val before = ManifestTable.latest(table).get
      val updates = ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") * 2)
      val inserts = ev.filter(col("event_id") % 11 === 0)
        .withColumn("event_id", col("event_id") + lit(1000000000L))
      val (touched, totalBefore) = ManifestTable
        .merge(s, table, ev.schema, updates.unionByName(inserts), Seq("event_id")).get
      val after = ManifestTable.latest(table).get
      val removed = before.files.toSet -- after.files.toSet
      val identityOk = removed.size == touched && totalBefore == before.files.size &&
        (before.files.toSet -- removed).subsetOf(after.files.toSet)
      val out = ManifestTable.read(s, table, ev.schema)
      collectThenReap(s, base)(
        out.agg(count(lit(1)).as("n_rows"),
          countDistinct("event_id").as("n_keys"),
          Stats.sumMoney("value").as("sum_value"))
        .withColumn("merge_identity", lit(identityOk))
        .withColumn("merge_versioned", lit(after.version == before.version + 1)))
    },

    // ---- O11 schema evolution inside the manifest table (round-18
    // verdict item 4): generation 1 commits (event_id, value); generation
    // 2 commits a WIDER (event_id, value, user_id). The published schema
    // is the union (new fields append, nullable), v0's recorded schema
    // stays narrow for time travel, and the resolved read serves gen-1
    // files with nulls in the added column — the s6 mergeSchema semantics
    // INSIDE the format, where a 100 TB table cannot afford a
    // rewrite-on-widen. ---------------------------------------------------
    "o11_txn_schema_evo" -> { (s, dir) =>
      import graft.stream.ManifestTable
      val ev = Tables.events(s, dir).filter(col("user_id") % 5 === 0)
      val base = scratchDir("graft-o11")
      val table = s"$base/table"
      ManifestTable.appendBatch(
        ev.filter(col("event_id") % 2 === 0).select("event_id", "value"), table, 0L)
      ManifestTable.appendBatch(
        ev.filter(col("event_id") % 2 === 1).select("event_id", "value", "user_id"),
        table, 1L)
      val narrow0 = ManifestTable.schemaAt(table, 0L)
        .exists(_.fieldNames.toSeq == Seq("event_id", "value"))
      val wideNow = ManifestTable.latestSchema(table)
        .exists(_.fieldNames.toSeq == Seq("event_id", "value", "user_id"))
      val out = ManifestTable.read(s, table) // manifest-resolved schema
      collectThenReap(s, base)(
        out.agg(count(lit(1)).as("n_rows"),
          count(col("user_id")).as("n_wide"),
          count(when(col("user_id").isNull, 1)).as("n_narrow"),
          Stats.sumMoney("value").as("sum_value"))
        .withColumn("schema_v0_narrow", lit(narrow0))
        .withColumn("schema_latest_wide", lit(wideNow)))
    },

    "st16_stateful_upload" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val base = scratchDir("graft-st16")
      val inbox = s"$base/inbox"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
      new java.io.File(inbox).mkdirs()
      val clean = (df: DataFrame) => df.filter(col("value").isNotNull)
      withoutNoDataBatch(s) {
        ev.filter(col("event_id") % 5 <= 1).coalesce(1)
          .write.mode("overwrite").parquet(s"$inbox/u1")
        Ingest.startStateful(s, s"$inbox/*", ev.schema, sink, ckpt,
          "event_id", clean).awaitTermination()
        // restart: u2 re-sends (event_id % 5 = 1) — already ingested, must
        // be dropped by the RESTORED state — plus new keys (% 5 in 2,3)
        ev.filter(col("event_id") % 5 >= 1 && col("event_id") % 5 <= 3)
          .coalesce(1).write.mode("overwrite").parquet(s"$inbox/u2")
        Ingest.startStateful(s, s"$inbox/*", ev.schema, sink, ckpt,
          "event_id", clean).awaitTermination()
      }
      val out = s.read.schema(ev.schema).parquet(sink)
      collectThenReap(s, base)(
        out.agg(count(lit(1)).as("n_rows"),
          countDistinct("event_id").as("n_keys"),
          Stats.sumMoney("value").as("sum_value")))
    },
  )

  /** Evaluate `df` to local rows, remove the scratch tree it read from,
    * and re-wrap the rows as a DataFrame — so a query can clean up its
    * OWN scratch dir instead of leaving it for the (live-PID-skipping)
    * reaper. Only for tiny aggregates: the collect is the point.
    */
  private def collectThenReap(s: SparkSession, scratch: String)(
      df: DataFrame): DataFrame = {
    val rows = df.collect()
    val schema = df.schema
    rmTree(scratch)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
