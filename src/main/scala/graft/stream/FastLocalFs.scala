package graft.stream

import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local-filesystem permission shim for containers without the Hadoop
  * native library (`libhadoop.so`).
  *
  * Without native IO, `RawLocalFileSystem.setPermission` falls back to
  * forking a `chmod` PROCESS per call (`Shell.execCommand`), and `create`/
  * `mkdirs` call it internally — measured at ~6.4 ms per fork on this box
  * (round 9), i.e. every task file, metadata-log entry, and
  * state-store delta write pays multiple forks. This subclass swaps that
  * single method for `java.nio.file.Files.setPosixFilePermissions` (~μs);
  * every other behavior, including CRC checksum files, is inherited
  * unchanged. The override is virtual, so the internal calls inside
  * `create`/`mkdirs` dispatch here too.
  *
  * Wired via `spark.hadoop.fs.file.impl` by [[LocalFsPerf]]. This is a
  * level-playing-field fix for the single-node bench (DuckDB's file writes
  * never fork), not a semantics change: on a real cluster the data path is
  * HDFS/S3 and this class never loads.
  */
class FastRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val perms = EnumSet.noneOf(classOf[PosixFilePermission])
    val bits = permission.toShort.toInt
    import PosixFilePermission._
    if ((bits & 0x100) != 0) perms.add(OWNER_READ)
    if ((bits & 0x080) != 0) perms.add(OWNER_WRITE)
    if ((bits & 0x040) != 0) perms.add(OWNER_EXECUTE)
    if ((bits & 0x020) != 0) perms.add(GROUP_READ)
    if ((bits & 0x010) != 0) perms.add(GROUP_WRITE)
    if ((bits & 0x008) != 0) perms.add(GROUP_EXECUTE)
    if ((bits & 0x004) != 0) perms.add(OTHERS_READ)
    if ((bits & 0x002) != 0) perms.add(OTHERS_WRITE)
    if ((bits & 0x001) != 0) perms.add(OTHERS_EXECUTE)
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
  }
}

/** The checksummed local filesystem over [[FastRawLocalFileSystem]] —
  * byte-compatible with Hadoop's default `LocalFileSystem` (same CRC files,
  * same rename/delete semantics), minus the per-file chmod forks.
  */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem)

/** One-stop wiring for the local-mode fs/checkpoint perf shims. */
object LocalFsPerf {
  val confs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FastLocalFileSystem].getName,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[NioCheckpointFileManager].getName,
    // Right-size the whole-stage-codegen source→class cache for a process
    // hosting the full 186-plan surface: the 100-entry default evicts and
    // Janino-RECOMPILES most codegen units on every re-execution once the
    // live plan set passes ~30 queries. Measured (round 10, full sweep at
    // sf0.1): 41.5 s → 22.3 s total, one-shots 32.5 → 18.4, zero per-query
    // regressions — and it finally explains the r9 "sweep tax" (t7's 0.42 s
    // in-sweep vs 0.145 s clean-session floor collapses to 0.11). Memory
    // cost is bounded (≤ ~5k compiled classes, tens of KB each). The same
    // setting belongs on any long-lived cluster driver/executor serving a
    // wide query surface.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    // Drop the codegen stage id from generated CLASS NAMES (it exists only
    // as a debugging aid): with it, two structurally identical stages from
    // different queries — ubiquitous across a 189-query surface built from
    // shared operators — generate different sources and MISS the Janino
    // cache; without it they share one compiled class. Interleaved A/B on
    // the heavy fresh-invocation subset (round 11, dd trio + gr3 + t8 +
    // pl2): sweep −6.5%, one-shots −12%, every round of the interleave in
    // the same direction. Debuggability loss is nil here (stage ids still
    // appear in explain output and task names).
    "spark.sql.codegen.useIdInClassName" -> "false")

  def tune(b: org.apache.spark.sql.SparkSession.Builder): org.apache.spark.sql.SparkSession.Builder =
    confs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
}
