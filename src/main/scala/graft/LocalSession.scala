package graft

import org.apache.spark.sql.SparkSession

/** The three-tier bench profile, keyed on total input bytes (measured on
  * the round-7 rehearsal pair, BENCH_NOTES.md):
  *   - tiny (< 64 MiB): latency-bound — 4-wide shuffles, AQE/compression
  *     off (32-wide COSTS 1.6× at sf0.1: task overhead dominates KB
  *     shuffles).
  *   - mid (64 MiB – 2 GiB): shuffles carry real volume — cores-wide
  *     width, still no AQE (AQE's per-stage materialization doubled dd8 at
  *     ~sf1; width alone cut the heavy-query total 2.7×).
  *   - large (≥ 2 GiB): Spark defaults with AQE + compression — runtime
  *     re-planning and skew splitting keep cluster-scale plans healthy.
  * BenchProfileSpec pins the boundaries — a threshold typo must not
  * silently run sf1 in the interactive tier.
  */
object BenchProfile {
  final case class Profile(
      shufflePartitions: Int, aqe: Boolean, compress: Boolean, name: String)
  val InteractiveMax: Long = 64L << 20
  val MidMax: Long = 2L << 30
  def tier(inputBytes: Long, cpus: Int): Profile =
    if (inputBytes < InteractiveMax) Profile(4, aqe = false, compress = false, "interactive")
    else if (inputBytes < MidMax) Profile(cpus, aqe = false, compress = false, "mid")
    else Profile(cpus, aqe = true, compress = true, "large")

  /** Total bytes under `path`. A path that cannot be sized — missing,
    * misspelled or unreadable — counts as `Long.MaxValue`, so it selects
    * the large (Spark defaults) tier, never the latency-tuned one.
    */
  def inputBytes(path: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(size).sum else f.length()
    val root = new java.io.File(path)
    if (!root.exists()) Long.MaxValue
    else try size(root) catch { case _: Exception => Long.MaxValue }
  }

  def forDir(dir: String, cpus: Int): Profile = tier(inputBytes(dir), cpus)
}

/** The one session recipe every main builds through: the tier's shuffle
  * width, AQE and compression, plus the settings no tier changes.
  */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def confs(profile: BenchProfile.Profile): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> profile.shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> profile.aqe.toString,
    "spark.shuffle.compress" -> profile.compress.toString,
    "spark.shuffle.spill.compress" -> profile.compress.toString,
    // Pin UTC: Tables.events rebinds TIMESTAMP_NTZ fixtures via a session-TZ
    // cast; UTC makes that cast value-identical on any machine.
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // With the UI off, the status-store listener's per-execution/job/
    // stage bookkeeping serves nothing, and a 184-query bench sweep
    // generates ~1.5k executions of it (measured ~1 s off the sweep total
    // when clamped, round 9).
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "50"
  ) ++ graft.stream.LocalFsPerf.confs

  /** Log level ERROR, not WARN: WindowExec "No Partition Defined" and
    * similar WARNs print per execution and in round 4 pushed the bench's
    * machine-readable JSON line out of a log-tail capture window.
    */
  def apply(profile: BenchProfile.Profile, master: String = s"local[$cpus]"): SparkSession = {
    val spark = confs(profile)
      .foldLeft(SparkSession.builder().master(master)) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new graft.expressions.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The session for the tier that the input under `dir` selects. */
  def forDir(dir: String): SparkSession = apply(BenchProfile.forDir(dir, cpus))
}
