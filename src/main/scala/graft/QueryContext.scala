package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.{Stats, Unpivot}
import graft.functions.Scalars
import graft.ingest.{Clean, Extract}
import graft.operators.{FuzzyJoin, Upsert}
import graft.sources.{Multimodal, NetCdf, NetCdfFixture}
import graft.stream.Ingest
import graft.vector.{Embed, Knn, SemanticWorkload}
import graft.dedup.Dedup
import graft.text.{Analysis, Summaries}

/** Shared plumbing for the query families split out of SparkEntry (round 7):
  * fixture-derived /tmp materialization cache, the reference deployment
  * pipeline subtrees shared by several queries, and the DuckDB CTE strings
  * the oracle twins interpolate. Moved verbatim; visibility widened from
  * SparkEntry-private to package-private.
  */
private[graft] object QueryContext {
  /** Shared by t6/t8: the reference deployment pipeline (events → tidy EAV →
    * bounds-clean → per-float aggregates), preprocess_floats_to_chromadb.py
    * :145-271. One row per float with timing/location/measurement stats.
    */
  def referenceFloatStats(s: SparkSession, dir: String): DataFrame = {
    import Stats.exactMean
    // 32-way pinned: the events fixture is one row group = one split, and
    // the tidy stage fans it into a 3-way union of per-branch projections —
    // without the repartition every branch's partial aggregation runs in a
    // single task (the exchange is planned once and reused by all branches)
    val raw = Tables.events(s, dir).repartition(32, col("user_id")).select(
      col("user_id").cast("string").as("float_id"),
      col("event_id").cast("string").as("profile_id"),
      col("ts").as("time"),
      expr("mod(value, 180) - 90").as("latitude"),
      expr("mod(value * 2, 360) - 180").as("longitude"),
      array(expr("mod(value, 45)"), lit(null).cast("double"),
        expr("mod(value, 50) - 5")).as("temperature"),
      array(expr("mod(value, 50)"), expr("mod(value, 40)"),
        lit(null).cast("double")).as("salinity"),
      array(expr("mod(value, 6000)"), lit(null).cast("double"),
        lit(null).cast("double")).as("pressure"))
    val cleaned = graft.ingest.Pipeline.clean(
      graft.ingest.Pipeline.tidy(raw), "2026-01-01")
    cleaned.groupBy("float_id").agg(
      min("time").as("t0"),
      countDistinct(col("profile_id")).as("n_prof"),
      ((min("latitude") + max("latitude")) / 2).as("latc"),
      ((min("longitude") + max("longitude")) / 2).as("lonc"),
      min("pressure").as("pmin"), max("pressure").as("pmax"),
      exactMean(col("pressure")).as("pmean"),
      min("temperature").as("tmin"), max("temperature").as("tmax"),
      exactMean(col("temperature")).as("tmean"),
      min("salinity").as("smin"), max("salinity").as("smax"),
      exactMean(col("salinity")).as("smean"),
      count(col("temperature")).as("tc"),
      count(col("salinity")).as("sc"),
      count(col("pressure")).as("pc"))
  }

  /** The T2 deployment-summary document text over [[referenceFloatStats]]
    * output (template: preprocess_floats_to_chromadb.py:145-271).
    */
  def referenceDocText: Column = {
    import Stats.{parityRound => pr}
    format_string(
      "On %s, Argo float %s (platform %s) recorded %s profile%s near latitude %.3f°%s and longitude %.3f°%s. Pressure ranged from %.1f dbar to %.1f dbar (mean ~%.0f dbar). Temperature ranged from %.1f°C to %.1f°C (mean %.1f°C). Salinity ranged from %.2f PSU to %.2f PSU (mean %.2f PSU). A total of %s measurements were taken.",
      Scalars.dateTh(col("t0")),
      concat(lit("b'"), col("float_id"), lit(" '")),
      concat(lit("b'"), col("float_id"), lit(" '")),
      col("n_prof").cast("string"),
      when(col("n_prof") === 1, "").otherwise("s"),
      abs(pr(col("latc"), 3)), when(col("latc") >= 0, "N").otherwise("S"),
      abs(pr(col("lonc"), 3)), when(col("lonc") >= 0, "E").otherwise("W"),
      pr(col("pmin"), 1), pr(col("pmax"), 1), pr(col("pmean"), 0),
      pr(col("tmin"), 1), pr(col("tmax"), 1), pr(col("tmean"), 1),
      pr(col("smin"), 2), pr(col("smax"), 2), pr(col("smean"), 2),
      (col("tc") + col("sc") + col("pc")).cast("string"))
  }

  /** Tag for one-time /tmp materializations (format conversions, layout
    * sinks): MD5 over the sfDir plus EVERY consumed table's name + size +
    * mtime, so regenerating any source fixture invalidates the cache
    * instead of being read through a stale conversion while the oracle
    * reads fresh data. (Callers must list every table the materialization
    * consumes; MD5 rules out the cross-sfDir aliasing String.hashCode
    * allowed.)
    */
  def cacheTag(dir: String, tables: String*): String = {
    val sig = tables.sorted.map { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      s"$t:${f.length}:${f.lastModified}"
    }.mkString(dir + "|", "|", "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  /** Per-invocation scratch directory for streaming checkpoints AND the
    * streaming data sinks whose contents back a query's result frame
    * (st9/st10/st11 parquet `out` dirs, st8/st12 state generations) —
    * preferring the RAM-backed `/dev/shm` when present AND roomy. A
    * streaming query's WAL, offset log, and state-store versions are pure
    * harness plumbing at local-bench scale — a cluster deployment points
    * `checkpointLocation` at durable shared storage — so billing ext4
    * latency to the engine overstates the streaming fixed cost. Semantics
    * are unchanged: the WAL is still written, state is still versioned and
    * committed, exactly-once still holds across the drain. Falls back to
    * java.io.tmpdir when /dev/shm is unavailable or has <4 GiB usable
    * (data sinks land here, not just metadata — a small tmpfs must not
    * fill where java.io.tmpdir would have succeeded).
    *
    * Dir names carry the owning PID, and the reaper (which keeps repeated
    * runs on a long-lived box from growing the RAM-backed fs without
    * bound) skips any sibling whose owner is still alive — a top-level
    * mtime check alone would reap a LIVE >2h run's checkpoint mid-query,
    * since dir mtimes don't update on nested writes.
    */
  def scratchDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    val minUsable = 4L << 30
    val base =
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= minUsable) {
        val d = new java.io.File(shm, "graft-scratch")
        d.mkdirs()
        val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
        val pidRe = ".*-pid(\\d+)-.*".r
        def ownerAlive(name: String): Boolean = name match {
          case pidRe(pid) =>
            ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
          case _ => false // pre-round-9 unstamped dir: age check governs
        }
        Option(d.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.lastModified() < cutoff &&
            !ownerAlive(f.getName))
          .foreach(f => try rmTree(f.toString) catch { case _: Exception => () })
        d.toPath
      } else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base,
      s"$prefix-pid${ProcessHandle.current().pid()}-").toString
  }

  /** Runs `body` with the trailing no-data micro-batch disabled, restoring
    * the previous setting after. ONLY legal for queries whose emitted rows
    * are all produced in data batches (inner stream-stream joins, dedup —
    * anything that emits on arrival): the no-data batch exists to advance
    * the watermark one last time so held-back state (outer-join nulls,
    * closed windows, fired timeouts) can emit, and those queries must keep
    * it.
    */
  def withoutNoDataBatch[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally old match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  def rmTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** One-time /tmp materialization with ATOMIC publish: the writer builds
    * into a process-unique scratch dir and renames it into place in one
    * filesystem operation, so a concurrent session (bench + verify on the
    * same sfDir) either sees no dir or a complete one — never a
    * half-overwritten sink. Losing the publish race is fine: the loser
    * discards its build and reads the winner's (same tag ⇒ same bytes).
    * A target left WITHOUT its `_SUCCESS` marker (a crashed pre-atomic
    * writer) is cleared and rebuilt rather than read through.
    */
  def materializeOnce(target: String)(write: String => Unit): Unit = {
    if (new java.io.File(s"$target/_SUCCESS").exists()) return
    rmTree(target)
    val tmp = s"$target.build-${ProcessHandle.current().pid()}"
    rmTree(tmp)
    write(tmp)
    try
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(target),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException |
           _: java.nio.file.AccessDeniedException =>
        rmTree(tmp) // lost the race — a complete publish is already there
    }
  }

  /** Shared by dd8/dd9: the verified-LSH near-dup pipeline over the
    * fixture corpus + injected variants (see dd8's query comment).
    */
  def dd8Pipeline(s: SparkSession, dir: String): DataFrame =
    dd8PipelineImpl(s, dir, full = true)

  /** The verified dup-PAIR list for connected-components consumers
    * (dd9/dd10/dd16): exactly the pair set of
    * `dd8Pipeline.filter(is_dup).select(id_a, id_b)` — same exact tier,
    * same LSH candidates, same rounded jaccard >= 0.5 decision — minus the
    * output-only payload: the star edges skip the nsh join (n_inter is
    * never read through a CC) and only two long columns flow through the
    * union. A left join to a no-duplicate aggregate cannot change the pair
    * set, but Catalyst cannot prove that (no uniqueness inference), so
    * pruning it by hand is the only way the trio's fresh invocations stop
    * paying its plan, codegen, and broadcast-build cost.
    */
  def ddDupPairs(s: SparkSession, dir: String): DataFrame =
    dd8PipelineImpl(s, dir, full = false)

  private def dd8PipelineImpl(s: SparkSession, dir: String, full: Boolean): DataFrame = {
    val base = Tables.documents(s, dir).select("doc_id", "text")
    val variants = base.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
      .withColumn("text", concat(col("text"), lit(" tailword")))
    val nd = Dedup.nearDupSpine(
      base.unionByName(variants).withColumn("side", lit(0)), Dedup.AnyPair)
    val verified = nd.verified
      .withColumn("jaccard", Stats.parityRound(col("jaccard"), 6))
      .withColumn("is_dup", col("jaccard") >= 0.5)
    // exact-tier star edges: linear rep→clone edges (jaccard exactly 1)
    // instead of enumerating clone pairs. CC consumers (dd9/dd10/dd16) see
    // the identical transitive closure: a clone's shingle set equals its
    // rep's, so one star edge reaches exactly the verified partners the
    // quadratic pair list would. n_inter is the rep's shingle count (0 for
    // shingle-less short texts). The DuckDB oracle mirrors the same tier.
    // SEMANTICS NOTE (round 10 change, documented round 11 per ADVICE): the
    // exact tier flags BYTE-IDENTICAL texts shorter than one shingle
    // (< 3 tokens) as dups with jaccard 1.0 — pairs the LSH tier alone
    // could never emit (no shingles, nsh = 0). Pre-round-10, identical
    // short texts were NOT flagged; consumers of dd8/dd9/dd10/dd16 group
    // counts should know the dup definition widened.
    // only digests with clones participate (n_copies > 1): the stars probe
    // side shrinks to the duplicated slice of the corpus. No broadcast
    // hints — that slice is data-sized in a clone-heavy corpus, so the
    // planner (AQE at the large tier) must keep the choice; at fixture
    // scale it broadcasts on its own
    val starBase = nd.slim
      .join(nd.reps.filter(col("n_copies") > 1).select("dg", "rep_id"), "dg")
      .filter(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("doc_id").as("id_b"))
    if (full) {
      val starEdges = starBase
        .join(nd.sizes.select(col("doc_id").as("id_a"), col("nsh")),
          Seq("id_a"), "left")
        .select(col("id_a"), col("id_b"),
          coalesce(col("nsh"), lit(0L)).as("n_inter"),
          lit(1.0).as("jaccard"), lit(true).as("is_dup"))
      verified.select("id_a", "id_b", "n_inter", "jaccard", "is_dup")
        .unionByName(starEdges)
    } else
      // star edges are dups by construction (identical text); the verified
      // side keeps the IDENTICAL rounded-jaccard decision as the full path
      verified.filter(col("is_dup")).select("id_a", "id_b")
        .unionByName(starBase)
  }

  /** Shared DuckDB CTEs for t6/t8: the reference deployment pipeline down to
    * the per-float aggregate `g` (mirror of [[referenceFloatStats]]).
    */
  val referenceFloatCte =
    """WITH tidy AS (
           SELECT CAST(user_id AS VARCHAR) AS float_id,
                  CAST(event_id AS VARCHAR) AS profile_id, ts AS time,
                  fmod(value, 180) - 90 AS latitude, fmod(value * 2, 360) - 180 AS longitude,
                  fmod(value, 45) AS temperature, fmod(value, 50) AS salinity,
                  fmod(value, 6000) AS pressure
           FROM events
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR), ts,
                  fmod(value, 180) - 90, fmod(value * 2, 360) - 180,
                  NULL, fmod(value, 40), NULL
           FROM events
           UNION ALL
           SELECT CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR), ts,
                  fmod(value, 180) - 90, fmod(value * 2, 360) - 180,
                  fmod(value, 50) - 5, NULL, NULL
           FROM events),
         cleaned AS (
           SELECT float_id, profile_id, time, latitude, longitude,
                  CASE WHEN temperature BETWEEN -5 AND 40 THEN temperature END AS temperature,
                  CASE WHEN salinity BETWEEN 0 AND 50 THEN salinity END AS salinity,
                  CASE WHEN pressure BETWEEN 0 AND 6000 THEN pressure END AS pressure
           FROM tidy
           WHERE latitude BETWEEN -90 AND 90 AND longitude BETWEEN -180 AND 180
             AND time >= TIMESTAMP '1999-01-01' AND time <= TIMESTAMP '2026-01-01'
             AND float_id IS NOT NULL AND float_id <> 'nan'
             AND (temperature IS NOT NULL OR salinity IS NOT NULL OR pressure IS NOT NULL)),
         g AS (
           SELECT float_id, min(time) AS t0, count(DISTINCT profile_id) AS n_prof,
                  (min(latitude) + max(latitude)) / 2 AS latc,
                  (min(longitude) + max(longitude)) / 2 AS lonc,
                  min(pressure) AS pmin, max(pressure) AS pmax,
                  floor(CAST(sum(CAST(pressure AS DECIMAL(27,6))) AS DOUBLE) / count(pressure) * 1000000.0 + 0.5) / 1000000.0 AS pmean,
                  min(temperature) AS tmin, max(temperature) AS tmax,
                  floor(CAST(sum(CAST(temperature AS DECIMAL(27,6))) AS DOUBLE) / count(temperature) * 1000000.0 + 0.5) / 1000000.0 AS tmean,
                  min(salinity) AS smin, max(salinity) AS smax,
                  floor(CAST(sum(CAST(salinity AS DECIMAL(27,6))) AS DOUBLE) / count(salinity) * 1000000.0 + 0.5) / 1000000.0 AS smean,
                  count(temperature) AS tc, count(salinity) AS sc, count(pressure) AS pc
           FROM cleaned GROUP BY float_id)"""

  /** Mirror of [[referenceDocText]] in DuckDB printf. */
  val referenceDocPrintf =
    """printf('On %s, Argo float %s (platform %s) recorded %s profile%s near latitude %.3f°%s and longitude %.3f°%s. Pressure ranged from %.1f dbar to %.1f dbar (mean ~%.0f dbar). Temperature ranged from %.1f°C to %.1f°C (mean %.1f°C). Salinity ranged from %.2f PSU to %.2f PSU (mean %.2f PSU). A total of %s measurements were taken.',
             CAST(day(t0) AS VARCHAR) || 'th ' || strftime(t0, '%b %Y'),
             'b''' || float_id || ' ''', 'b''' || float_id || ' ''',
             CAST(n_prof AS VARCHAR), CASE WHEN n_prof = 1 THEN '' ELSE 's' END,
             abs(floor(latc * 1000.0 + 0.5) / 1000.0),
             CASE WHEN latc >= 0 THEN 'N' ELSE 'S' END,
             abs(floor(lonc * 1000.0 + 0.5) / 1000.0),
             CASE WHEN lonc >= 0 THEN 'E' ELSE 'W' END,
             floor(pmin * 10.0 + 0.5) / 10.0, floor(pmax * 10.0 + 0.5) / 10.0,
             floor(pmean + 0.5),
             floor(tmin * 10.0 + 0.5) / 10.0, floor(tmax * 10.0 + 0.5) / 10.0,
             floor(tmean * 10.0 + 0.5) / 10.0,
             floor(smin * 100.0 + 0.5) / 100.0, floor(smax * 100.0 + 0.5) / 100.0,
             floor(smean * 100.0 + 0.5) / 100.0,
             CAST(tc + sc + pc AS VARCHAR))"""

}
