package graft.tools

import org.apache.spark.sql.SparkSession

/** Micro-probe for the constant ~30ms walCommit/commitOffsets/latestOffset
  * costs the streaming progress reports surfaced: times raw checkpoint-file-manager writes on
  * /dev/shm vs /tmp to decide whether the cost is filesystem, metadata-log
  * machinery, or the progress reporter's own clock.
  */
object MetaLogProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.execution.streaming.checkpointing.{OffsetSeq, OffsetSeqLog}
    for (base <- Seq("/dev/shm/graft-probe-log", "/tmp/graft-probe-log")) {
      graft.QueryContext.rmTree(base)
      val log = new OffsetSeqLog(spark, base)
      val t0 = System.nanoTime()
      var i = 0
      while (i < 20) {
        log.add(i, OffsetSeq.fill())
        i += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"$base%-28s 20 adds: ${ms}%8.2f ms  (${ms / 20}%6.2f ms/add)")
      graft.QueryContext.rmTree(base)
    }
    // Is the cost Hadoop's local-fs create/rename (chmod fork) or the
    // metadata-log machinery? Time the raw fs ops both ways.
    val conf = spark.sessionState.newHadoopConf()
    for (base <- Seq("/dev/shm/graft-probe-raw", "/tmp/graft-probe-raw")) {
      graft.QueryContext.rmTree(base)
      new java.io.File(base).mkdirs()
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(conf)
      var t0 = System.nanoTime()
      for (i <- 0 until 20) {
        val tmp = new org.apache.hadoop.fs.Path(base, s".tmp$i")
        val out = fs.create(tmp, true)
        out.write(("x" * 100).getBytes); out.close()
        fs.rename(tmp, new org.apache.hadoop.fs.Path(base, s"f$i"))
      }
      println(f"$base%-28s hadoop-fs create+rename: ${(System.nanoTime() - t0) / 1e6 / 20}%6.2f ms/op")
      t0 = System.nanoTime()
      for (i <- 0 until 20) {
        val tmp = java.nio.file.Paths.get(base, s".ntmp$i")
        java.nio.file.Files.write(tmp, ("x" * 100).getBytes)
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(base, s"n$i"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      println(f"$base%-28s nio write+move:          ${(System.nanoTime() - t0) / 1e6 / 20}%6.2f ms/op")
      graft.QueryContext.rmTree(base)
    }
    // which hadoop op is slow? split create/close/rename/setPermission
    locally {
      val base = "/dev/shm/graft-probe-split"
      graft.QueryContext.rmTree(base); new java.io.File(base).mkdirs()
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(conf)
      println("fs class: " + fs.getClass.getName)
      var tCreate, tClose, tRename, tPerm = 0L
      for (i <- 0 until 20) {
        val tmp = new org.apache.hadoop.fs.Path(base, s".s$i")
        var t = System.nanoTime()
        val out = fs.create(tmp, true); tCreate += System.nanoTime() - t
        out.write(("x" * 100).getBytes)
        t = System.nanoTime(); out.close(); tClose += System.nanoTime() - t
        t = System.nanoTime()
        fs.rename(tmp, new org.apache.hadoop.fs.Path(base, s"d$i"))
        tRename += System.nanoTime() - t
        t = System.nanoTime()
        fs.setPermission(new org.apache.hadoop.fs.Path(base, s"d$i"),
          org.apache.hadoop.fs.permission.FsPermission.getFileDefault)
        tPerm += System.nanoTime() - t
      }
      println(f"create=${tCreate / 20e6}%6.2f close=${tClose / 20e6}%6.2f rename=${tRename / 20e6}%6.2f setPerm=${tPerm / 20e6}%6.2f ms/op")
      // and FileContext (what the default checkpoint manager uses)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
      val t0b = System.nanoTime()
      for (i <- 0 until 20) {
        val tmp = new org.apache.hadoop.fs.Path(base, s".fc$i")
        val out = fc.create(tmp,
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
            org.apache.hadoop.fs.CreateFlag.OVERWRITE))
        out.write(("x" * 100).getBytes); out.close()
        fc.rename(tmp, new org.apache.hadoop.fs.Path(base, s"fd$i"),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
      println(f"filecontext create+rename: ${(System.nanoTime() - t0b) / 20e6}%6.2f ms/op")
      graft.QueryContext.rmTree(base)
    }
    spark.stop()
  }
}
