package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.{Ingest, ManifestTable}

/** The transactional manifest sink (round-17 verdict item 5): atomic
  * hard-link publish, batch-id-ledger replay idempotence, reader isolation
  * from half-committed batches, vacuum safety, and the streaming path
  * (`Ingest.startTransactional`) end-to-end across a checkpoint restart.
  * The o7 oracle row drives the same crash window against the DuckDB
  * oracle; these specs pin the pieces the oracle row can't isolate
  * (concurrent publish races, vacuum never touching live files).
  */
class ManifestTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-manifest").toString + "/t"

  test("commits are atomic and versioned; read resolves exactly the latest snapshot") {
    val t = freshTable()
    assert(ManifestTable.latest(t).isEmpty)
    val schema = Seq((1L, "a")).toDF("id", "s").schema
    // empty table reads as an empty frame with the writer schema
    assert(ManifestTable.read(spark, t, schema).count() == 0)

    ManifestTable.appendBatch(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, 0L)
    ManifestTable.appendBatch(Seq((3L, "c")).toDF("id", "s"), t, 1L)
    val m = ManifestTable.latest(t).get
    assert(m.version == 1L && m.batchIds == Set(0L, 1L))
    val got = ManifestTable.read(spark, t, schema)
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("a half-committed batch is invisible to readers; vacuum reaps only the orphan") {
    val t = freshTable()
    val df = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    ManifestTable.appendBatch(df, t, 0L)
    // crash window: data + segment for batch 1, no publish
    ManifestTable.writeAttempt(Seq((9L, 90.0)).toDF("id", "v"), t, 1L)
    assert(ManifestTable.read(spark, t, df.schema).count() == 2,
      "reader must not see the unpublished attempt")
    // replay commits a FRESH attempt; the crashed one stays orphaned.
    // Default-grace vacuum must NOT reap it (it is seconds old — from
    // vacuum's view indistinguishable from a LIVE committer's in-flight
    // attempt, the round-17 advice race); grace-0 then reaps exactly the
    // orphan dir and its never-published segment listing.
    ManifestTable.appendBatch(Seq((9L, 90.0)).toDF("id", "v"), t, 1L)
    assert(ManifestTable.read(spark, t, df.schema).count() == 3)
    assert(ManifestTable.vacuum(t).isEmpty,
      "an attempt inside the grace window must survive vacuum")
    val reaped = ManifestTable.vacuum(t, 0L)
    assert(reaped.count(_.startsWith("data/b1_")) == 1, reaped.toString)
    assert(reaped.count(_.startsWith("_manifests/seg_")) == 1,
      s"the crashed attempt's orphan segment reaps too: $reaped")
    assert(reaped.size == 2, reaped.toString)
    // vacuum touched nothing live: full content still reads back
    val got = ManifestTable.read(spark, t, df.schema)
      .as[(Long, Double)].collect().sorted.toSeq
    assert(got == Seq((1L, 10.0), (2L, 20.0), (9L, 90.0)))
    assert(ManifestTable.vacuum(t, 0L).isEmpty, "second vacuum finds nothing")
  }

  test("duplicate delivery of a committed batch id is a no-op (ledger idempotence)") {
    val t = freshTable()
    val df = Seq((1L, "x")).toDF("id", "s")
    ManifestTable.appendBatch(df, t, 5L)
    val v1 = ManifestTable.latest(t).get.version
    ManifestTable.appendBatch(df, t, 5L)
    ManifestTable.appendBatch(df, t, 5L)
    assert(ManifestTable.latest(t).get.version == v1, "no new version on replay")
    assert(ManifestTable.read(spark, t, df.schema).count() == 1)
  }

  test("racing committers: every batch lands exactly once, versions are a dense chain") {
    // 8 threads commit 8 DISTINCT batch ids concurrently — the hard-link
    // publish means exactly one wins each version and losers retry on the
    // next; nothing is lost, nothing doubles, and the version history is
    // 0..7 with all ids present.
    val t = freshTable()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = ManifestTable.appendBatch(
            Seq((i.toLong, s"row$i")).toDF("id", "s"), t, i.toLong)
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val m = ManifestTable.latest(t).get
    assert(m.version == 7L, s"8 commits must occupy versions 0..7, got ${m.version}")
    assert(m.batchIds == (0L until 8L).toSet)
    val schema = Seq((1L, "a")).toDF("id", "s").schema
    val ids = ManifestTable.read(spark, t, schema)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 8L).toSeq, s"exactly-once per batch, got $ids")
  }

  test("compact folds the listing as a NEW version; time travel survives until expiry") {
    val t = freshTable()
    val schema = Seq((1L, 1.0)).toDF("id", "v").schema
    (0 until 4).foreach { i =>
      ManifestTable.appendBatch(
        Seq((i * 10L, i.toDouble), (i * 10L + 1, i + 0.5)).toDF("id", "v")
          .repartition(2), t, i.toLong)
    }
    val before = ManifestTable.latest(t).get
    assert(before.files.size == 8 && before.version == 3L)
    val (nb, na) = ManifestTable.compact(spark, t, schema, 128L << 20).get
    assert(nb == 8 && na == 1, s"8 fragments must fold to 1 file, got ($nb, $na)")
    val after = ManifestTable.latest(t).get
    assert(after.version == 4L, "compaction publishes a NEW version")
    assert(after.batchIds == before.batchIds, "ingest ledger carries over")
    // a replayed batch id is STILL a no-op after the rewrite
    ManifestTable.appendBatch(Seq((99L, 9.9)).toDF("id", "v"), t, 2L)
    assert(ManifestTable.latest(t).get.version == 4L)
    // content identical through the rewrite
    val all = ManifestTable.read(spark, t, schema).count()
    assert(all == 8)
    // time travel: v1 = batches 0-1 only, reading the ORIGINAL files
    assert(ManifestTable.readAt(spark, t, schema, 1L).count() == 4)
    // pre-compaction files are NOT vacuum fodder while old versions remain
    assert(ManifestTable.vacuum(t, 0L).isEmpty,
      "retained versions' files must survive vacuum")
    // expire everything but the compacted snapshot → originals reclaim
    val expired = ManifestTable.expireSnapshots(t, keepLast = 1)
    assert(expired == Seq(0L, 1L, 2L, 3L))
    assert(ManifestTable.manifestAt(t, 1L).isEmpty, "expired version gone")
    val reclaimed = ManifestTable.vacuum(t, 0L)
    assert(reclaimed.size == 4 && reclaimed.forall(_.startsWith("data/b")),
      s"exactly the four pre-compaction batch dirs reclaim: $reclaimed")
    assert(ManifestTable.read(spark, t, schema).count() == 8,
      "the compacted snapshot is untouched by expiry+vacuum")
  }

  test("concurrent readers always see a consistent committed snapshot, never a partial one") {
    // Snapshot-isolation under live commits: a reader loop resolves and
    // scans the table WHILE a writer commits batches of known shape (batch
    // i = i+1 rows, all rows carrying value i). Every read must be some
    // PREFIX of the commit history — total rows == sum of the first k
    // batch sizes AND max batch id == k-1 — never a torn mix (files from
    // an unpublished attempt, or a manifest whose segments are missing).
    val t = freshTable()
    val schema = Seq((0L, 0L)).toDF("batch", "x").schema
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reader = new Thread(() => {
      while (!stop.get() && bad.get() == null) {
        val rows = ManifestTable.read(spark, t, schema)
          .groupBy("batch").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (rows.nonEmpty) {
          val k = rows.keys.max.toInt + 1
          val expect = (0 until k).map(i => i.toLong -> (i + 1L)).toMap
          if (rows != expect)
            bad.set(s"torn read: $rows (expected prefix $expect)")
        }
      }
    }, "manifest-reader")
    reader.start()
    try (0 until 8).foreach { i =>
      ManifestTable.appendBatch(
        Seq.fill(i + 1)((i.toLong, 1L)).toDF("batch", "x"), t, i.toLong)
    } finally { stop.set(true); reader.join(30000) }
    assert(bad.get() == null, String.valueOf(bad.get()))
    assert(ManifestTable.read(spark, t, schema).count() == (1 to 8).sum)
  }

  test("data skipping: a selective predicate opens strictly fewer files, same answer") {
    // Controlled layout (the o8 lesson: file counts are only closed-form on
    // controlled inputs): four single-file batches with DISJOINT id ranges,
    // so footer min/max make exactly one file admissible per point probe.
    val t = freshTable()
    val schema = Seq((1L, 1.0, "a")).toDF("id", "v", "s").schema
    (0 until 4).foreach { i =>
      val rows = (i * 100 until i * 100 + 50).map(k => (k.toLong, k / 10.0, s"s$k"))
      ManifestTable.appendBatch(rows.toDF("id", "v", "s").coalesce(1), t, i.toLong)
    }
    val m = ManifestTable.latest(t).get
    assert(m.files.size == 4)
    assert(m.stats.size == 4, "every file carries footer stats")
    assert(m.stats.values.forall(_.contains("id")), m.stats.toString)
    // range predicate spanning one batch: 1 of 4 files survives pruning
    import org.apache.spark.sql.sources.{And, EqualTo, GreaterThanOrEqual, In,
      IsNull, IsNotNull, LessThan, StringStartsWith}
    val range = Seq[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("id", 100L), LessThan("id", 150L))
    val kept = ManifestTable.pruneFiles(m, range)
    assert(kept.size == 1, s"4 disjoint-range files, 1 admissible: $kept")
    // the pruned scan + residual predicate == the full scan + predicate
    val viaSkip = ManifestTable.readWhere(spark, t, schema, range)
      .filter(col("id") >= 100 && col("id") < 150)
    val viaFull = ManifestTable.read(spark, t, schema)
      .filter(col("id") >= 100 && col("id") < 150)
    assert(viaSkip.count() == 50 && viaFull.count() == 50)
    assert(viaSkip.agg(sum("id")).head.getLong(0) == viaFull.agg(sum("id")).head.getLong(0))
    // double + string stats prune too; In and prefix probes
    assert(ManifestTable.pruneFiles(m, Seq(EqualTo("v", 24.0))).size == 1,
      "v in [20, 24.9] only for batch 2's file")
    assert(ManifestTable.pruneFiles(m, Seq(In("id", Array(5L, 310L)))).size == 2)
    // lex ranges: "s30" lives in batch 0 (s30..s39) AND batch 3 (s300..s309)
    assert(ManifestTable.pruneFiles(m, Seq(StringStartsWith("s", "s30"))).size == 2)
    assert(ManifestTable.pruneFiles(m, Seq(StringStartsWith("s", "s15"))).size == 1,
      "only batch 0 holds an s15* string (batch 1 stops at s149)")
    assert(ManifestTable.pruneFiles(m, Seq(EqualTo("id", 9999L))).isEmpty,
      "out-of-range point probe opens ZERO files")
    // conjunction with an unknown column stays conservative, prunes on the known one
    assert(ManifestTable.pruneFiles(m,
      Seq(And(EqualTo("nope", 1L), EqualTo("id", 120L)))).size == 1)
    // null-count pruning: a file whose column is all-null is skippable for
    // IsNotNull (and for any value probe); a no-nulls file is skippable for IsNull
    val t2 = freshTable()
    ManifestTable.appendBatch(
      Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
        .toDF("id", "v").coalesce(1), t2, 0L)
    ManifestTable.appendBatch(
      Seq((3L, Option(3.0))).toDF("id", "v").coalesce(1), t2, 1L)
    val m2 = ManifestTable.latest(t2).get
    assert(ManifestTable.pruneFiles(m2, Seq(IsNotNull("v"))).size == 1,
      "the all-null file skips for IsNotNull")
    assert(ManifestTable.pruneFiles(m2, Seq(IsNull("v"))).size == 1,
      "the zero-nulls file skips for IsNull")
    assert(ManifestTable.pruneFiles(m2, Seq(EqualTo("v", 99.0))).isEmpty,
      "all-null file AND out-of-range file both prune for a value probe")
  }

  test("data skipping: timestamp stats prune on pushed Timestamp values") {
    val t = freshTable()
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")
    ManifestTable.appendBatch(
      Seq((1L, ts(1)), (2L, ts(5))).toDF("id", "at").coalesce(1), t, 0L)
    ManifestTable.appendBatch(
      Seq((3L, ts(10)), (4L, ts(20))).toDF("id", "at").coalesce(1), t, 1L)
    val m = ManifestTable.latest(t).get
    import org.apache.spark.sql.sources.GreaterThan
    assert(ManifestTable.pruneFiles(m, Seq(GreaterThan("at", ts(6)))).size == 1)
    assert(ManifestTable.pruneFiles(m, Seq(GreaterThan("at", ts(21)))).isEmpty)
  }

  test("merge: copy-on-write rewrites ONLY touched files; untouched survive by identity") {
    val t = freshTable()
    val schema = Seq((1L, 1.0)).toDF("id", "v").schema
    // one attempt dir holding TWO files split by id range, plus a second
    // batch far away — the merge below touches exactly one file of three
    ManifestTable.appendBatch(
      (0 until 100).map(k => (k.toLong, k.toDouble)).toDF("id", "v")
        .repartitionByRange(2, col("id")), t, 0L)
    ManifestTable.appendBatch(
      (1000 until 1050).map(k => (k.toLong, k.toDouble)).toDF("id", "v").coalesce(1),
      t, 1L)
    val before = ManifestTable.latest(t).get
    assert(before.files.size == 3)
    // upsert: update ids 0..9 (low half of batch 0), insert 5000..5004
    val delta = ((0 until 10).map(k => (k.toLong, -1.0)) ++
      (5000 until 5005).map(k => (k.toLong, k.toDouble))).toDF("id", "v")
    val Some((touched, total)) = ManifestTable.merge(spark, t, schema, delta, Seq("id"))
    assert(total == 3 && touched == 1, s"exactly the low-range file rewrites: ($touched, $total)")
    val after = ManifestTable.latest(t).get
    val untouchedBefore = before.files.toSet -- after.files.toSet // replaced
    assert(untouchedBefore.size == 1, "one file left the listing")
    assert((before.files.toSet - untouchedBefore.head).subsetOf(after.files.toSet),
      "untouched files carry over BY IDENTITY (same paths, no rewrite)")
    // untouched files keep their stat lines through the carry
    (before.files.toSet - untouchedBefore.head).foreach { f =>
      assert(after.stats.contains(f), s"stats carried for $f")
    }
    // semantics: last-writer-wins upsert
    val got = ManifestTable.read(spark, t, schema)
    assert(got.count() == 155, "100 + 50 + 5 inserts")
    assert(got.filter(col("id") < 10 && col("v") =!= -1.0).count() == 0)
    assert(got.filter(col("id") >= 5000).count() == 5)
    assert(got.select("id").distinct().count() == 155)
    // time travel still shows the pre-merge state
    assert(ManifestTable.readAt(spark, t, schema, before.version)
      .filter(col("id") < 10 && col("v") === -1.0).count() == 0)
    // expiry + vacuum reclaim the REPLACED file at FILE level: its attempt-
    // dir sibling is still live, so the dir must survive
    ManifestTable.expireSnapshots(t, keepLast = 1)
    val reclaimed = ManifestTable.vacuum(t, 0L)
    assert(reclaimed.contains(untouchedBefore.head),
      s"replaced file reclaims file-level: $reclaimed")
    assert(ManifestTable.read(spark, t, schema).count() == 155,
      "post-vacuum content intact")
  }

  test("merge: empty table inserts; empty delta is a no-op; key bounds prune candidates") {
    val t = freshTable()
    val schema = Seq((1L, 1.0)).toDF("id", "v").schema
    // empty delta on an absent table: nothing published
    val r0 = ManifestTable.merge(spark, t, schema,
      Seq.empty[(Long, Double)].toDF("id", "v"), Seq("id"))
    assert(r0 == Some((0, 0)) && ManifestTable.latest(t).isEmpty)
    // first merge = insert-all
    val r1 = ManifestTable.merge(spark, t, schema,
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), Seq("id"))
    assert(r1 == Some((0, 0)))
    assert(ManifestTable.read(spark, t, schema).count() == 2)
    // a delta whose key bounds miss every file touches nothing (stats
    // pruning short-circuits the key scan entirely)
    val r2 = ManifestTable.merge(spark, t, schema,
      Seq((100L, 9.0)).toDF("id", "v"), Seq("id"))
    assert(r2.exists(_._1 == 0), s"out-of-range delta must touch no files: $r2")
    assert(ManifestTable.read(spark, t, schema).count() == 3)
  }

  test("schema evolution: a widening commit unions fields; old files read as null") {
    val t = freshTable()
    ManifestTable.appendBatch(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), t, 0L)
    assert(ManifestTable.latestSchema(t).get.fieldNames.toSeq == Seq("id", "v"))
    ManifestTable.appendBatch(
      Seq((3L, 3.0, "c"), (4L, 4.0, "d")).toDF("id", "v", "tag"), t, 1L)
    val sch = ManifestTable.latestSchema(t).get
    assert(sch.fieldNames.toSeq == Seq("id", "v", "tag"), "new field appends")
    assert(sch("tag").nullable, "added fields arrive nullable")
    // v0's recorded schema stays narrow (time-travel reads the old shape)
    assert(ManifestTable.schemaAt(t, 0L).get.fieldNames.toSeq == Seq("id", "v"))
    // resolved read: nulls where a file predates the field
    val got = ManifestTable.read(spark, t)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v", "tag"))
    assert(got.filter(col("tag").isNull).count() == 2)
    assert(got.filter(col("tag").isNotNull).count() == 2)
    // a retype is NOT evolution
    intercept[IllegalArgumentException] {
      ManifestTable.appendBatch(Seq(("x", 1.0)).toDF("id", "v"), t, 2L)
    }
    // compaction carries the evolved schema and rewrites old rows wide
    val Some((nb, na)) = ManifestTable.compact(spark, t, sch, 128L << 20)
    assert(nb >= 2 && na == 1)
    assert(ManifestTable.read(spark, t).filter(col("tag").isNull).count() == 2)
  }

  test("latest() resolves through the hint, a stale hint, and no hint at all") {
    val t = freshTable()
    (0 until 5).foreach(i => ManifestTable.appendBatch(
      Seq((i.toLong, i.toString)).toDF("id", "s"), t, i.toLong))
    val dir = java.nio.file.Paths.get(t, "_manifests")
    val hint = dir.resolve("_latest.hint")
    assert(Files.exists(hint), "publish maintains the advisory pointer")
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim == "4")
    // stale hint: probe-forward finds the true head (versions are dense)
    Files.write(hint, "1".getBytes("UTF-8"))
    assert(ManifestTable.latest(t).get.version == 4L)
    // torn/corrupt hint: fall back to the listing
    Files.write(hint, "garbage".getBytes("UTF-8"))
    assert(ManifestTable.latest(t).get.version == 4L)
    // absent hint: fall back to the listing
    Files.delete(hint)
    assert(ManifestTable.latest(t).get.version == 4L)
    // expiry + a below-expiry stale hint: fall back, not a miss
    ManifestTable.expireSnapshots(t, keepLast = 2)
    Files.write(hint, "0".getBytes("UTF-8")) // points at an expired version
    assert(ManifestTable.latest(t).get.version == 4L)
  }

  test("compact under a competing committer does BOUNDED work and never loses an append") {
    // Deterministic assertion under nondeterministic interleaving: whatever
    // the race outcome, compact(maxAttempts = 2) may write at most TWO
    // rewrite attempts (the round-17 nit: the old loop could livelock,
    // paying a full-table rewrite per round forever), every concurrently
    // appended batch survives, and a quiet-period compact always lands.
    val t = freshTable()
    val schema = Seq((1L, 1L)).toDF("id", "x").schema
    (0 until 3).foreach(i => ManifestTable.appendBatch(
      Seq((i.toLong, 0L)).toDF("id", "x"), t, i.toLong))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appended = new java.util.concurrent.atomic.AtomicLong(3)
    val appender = new Thread(() => {
      var i = 3L
      while (!stop.get()) {
        ManifestTable.appendBatch(Seq((i, 0L)).toDF("id", "x"), t, i)
        appended.set(i + 1); i += 1
      }
    }, "contending-appender")
    appender.start()
    val res = try ManifestTable.compact(spark, t, schema, 128L << 20, maxAttempts = 2)
    finally { stop.set(true); appender.join(30000) }
    val dataDir = java.nio.file.Paths.get(t, "data")
    val dirStream = Files.list(dataDir)
    val rewriteAttempts =
      try dirStream.iterator().asScala.count(_.getFileName.toString.startsWith("c"))
      finally dirStream.close()
    assert(rewriteAttempts <= 2,
      s"maxAttempts=2 must bound rewrite attempts, saw $rewriteAttempts")
    assert(res.isEmpty || res.get._1 >= 3, res.toString)
    // nothing lost either way
    val n = appended.get()
    assert(ManifestTable.read(spark, t, schema).count() == n)
    assert(ManifestTable.latest(t).get.batchIds == (0L until n).toSet)
    // quiet period: the returned-None case is "run me later" — later works
    val settled = ManifestTable.compact(spark, t, schema, 128L << 20)
    assert(settled.exists(_._2 == 1), settled.toString)
    assert(ManifestTable.read(spark, t, schema).count() == n)
  }

  test("startTransactional: manifest-committed streaming ingest across a restart") {
    val base = Files.createTempDirectory("graft-txn-stream").toString
    val inbox = s"$base/inbox"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
    new java.io.File(inbox).mkdirs()
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "value")

    ev.filter(col("event_id") < 200).coalesce(1)
      .write.mode("overwrite").parquet(s"$inbox/u1")
    Ingest.startTransactional(spark, s"$inbox/*", ev.schema, table, ckpt,
      "event_id", df => df.filter(col("value").isNotNull)).awaitTermination()
    val n1 = ManifestTable.read(spark, table, ev.schema).count()
    assert(n1 == ev.filter(col("event_id") < 200 && col("value").isNotNull).count())

    // restart from the same checkpoint: u2 re-sends [100,200) (dropped by
    // the RESTORED state store) plus fresh [200,300)
    ev.filter(col("event_id") >= 100 && col("event_id") < 300).coalesce(1)
      .write.mode("overwrite").parquet(s"$inbox/u2")
    Ingest.startTransactional(spark, s"$inbox/*", ev.schema, table, ckpt,
      "event_id", df => df.filter(col("value").isNotNull)).awaitTermination()

    val out = ManifestTable.read(spark, table, ev.schema)
    val expected = ev.filter(col("event_id") < 300 && col("value").isNotNull)
    assert(out.count() == expected.count())
    assert(out.select("event_id").distinct().count() == out.count(), "unique keys")
    // the sink really is manifest-resolved: versions advanced once per
    // non-empty micro-batch and every data file is manifest-listed
    val m = ManifestTable.latest(table).get
    assert(m.batchIds.nonEmpty && m.files.nonEmpty)
    assert(ManifestTable.vacuum(table, 0L).isEmpty, "clean runs leave no orphans")
    QueryContext.rmTree(base)
  }

  /** WARN messages logged to `logger` while `body` runs. */
  private def warningsOf(logger: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val log = org.apache.logging.log4j.LogManager.getLogger(logger).asInstanceOf[Logger]
    log.addAppender(appender)
    try body finally { log.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("a footer that cannot be read commits the file without stats; reads keep it") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val t = freshTable()
    val schema = Seq((1L, 1.0)).toDF("id", "v").schema
    ManifestTable.appendBatch(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").coalesce(1), t, 0L)
    // the second commit runs in a session whose file system refuses every
    // open: the write succeeds, the footer read right after it fails
    val failing = spark.newSession()
    failing.conf.set("fs.file.impl", classOf[UnopenableLocalFs].getName)
    failing.conf.set("fs.file.impl.disable.cache", "true")
    val batch = failing.createDataFrame(Seq((50L, 5.0), (60L, 6.0))).toDF("id", "v")
    val warned = warningsOf(ManifestTable.getClass.getName) {
      ManifestTable.appendBatch(batch.coalesce(1), t, 1L)
    }
    assert(warned.size === 1, warned)
    assert(warned.head.contains("footer stats of") && warned.head.contains("b1_") &&
      warned.head.contains("java.io.IOException: cannot open"), warned)
    val m = ManifestTable.latest(t).get
    assert(m.batchIds === Set(0L, 1L) && m.files.size === 2)
    val (withStats, without) = m.files.partition(m.stats.contains)
    assert(withStats.size === 1 && without.size === 1, m.stats.toString)
    // a predicate only the stats-less file could satisfy: never pruned away
    assert(ManifestTable.pruneFiles(m, Seq(GreaterThan("id", 10L))) === without)
    assert(ManifestTable.pruneFiles(m, Seq(EqualTo("id", 1L))).toSet === m.files.toSet)
    val got = ManifestTable.readWhere(spark, t, schema, Seq(GreaterThan("id", 10L)))
      .as[(Long, Double)].collect().sorted.toSeq
    assert(got === Seq((50L, 5.0), (60L, 6.0)))
    assert(ManifestTable.read(spark, t, schema).count() === 4)
  }
}

/** A local file system whose every `open` fails: files can be written and
  * listed but not read back, as on a read error right after a write.
  */
class UnopenableLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream =
    throw new java.io.IOException(s"cannot open $f")
}
