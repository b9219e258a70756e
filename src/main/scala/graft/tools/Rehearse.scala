package graft.tools

/** One-command ~sf1 scale-regression gate.
  *
  * Builds the 10× key-shifted rehearsal fixture from sf0.1 if absent
  * ([[MakeScale]]), then one-shot-times the scale-sensitive query set with
  * the fixture's bench tier (mid at both sf1 and sf10) and fails (exit 1)
  * if any query errors, returns no rows, or blows its wall-time
  * threshold — so a plan
  * regression (a lost broadcast, a resurrected cartesian, a checkpoint
  * that stopped cutting lineage) fails HERE, in one local command, instead
  * of surfacing as a mysterious driver-bench blowup a round later.
  *
  * Thresholds are ~2× the times measured on this box in round 8 (see
  * BENCH_NOTES.md) — loose enough for background-load wobble, tight
  * enough that the asymptotic failures this gate exists for (quadratic
  * pair generation, O(diameter) CC rounds, wedge materialization) land
  * far past them.
  *
  * Usage: sbt "runMain graft.tools.Rehearse [srcSfDir] [rehearsalDir]"
  *   defaults:  /root/testdata/sf0.1  /tmp/graft_sf1
  */
object Rehearse {

  /** (query, max seconds) — the scale-sensitive set from the r7 verdict.
    * Ceilings re-tightened in round 10 to ~2.5× the fresh post-codegen-fix
    * measurements (BENCH_NOTES r10 table: dd8 7.95, dd9 8.36, dd16 7.10,
    * gr1 5.11, gr2 4.32, tp1 1.19, dc2 3.87, st4 1.93, st8 1.76, e8 0.45,
    * mm1 3.01) — the r7-era values had drifted to 4×+ actual, too loose to
    * catch a 2× regression.
    */
  val Gate: Seq[(String, Double)] = Seq(
    "dd8_lsh_verified" -> 20.0,
    "dd9_dup_groups" -> 21.0,
    "dd16_canonical_pick" -> 18.0,
    "gr1_pagerank" -> 13.0,
    "gr2_triangle_count" -> 11.0,
    "tp1_token_packing" -> 4.0,
    "dc2_neardup_decontam" -> 10.0,
    "st4_stream_windowed" -> 6.0,
    "st8_incremental_agg" -> 6.0, // round-9 2-batch generation rewrite
    "e8_ivf_recall" -> 2.5,
    "mm1_media_features" -> 8.0,
    // round 14: the new rows' scale shapes — BPE train is vocab-bounded
    // (one-shot barely moves sf0.1 -> sf1: 2.7 -> 2.9 s), tp6 adds the
    // corpus-sized broadcast-join encode pass, mm9 decodes every
    // transform-coded frame (~1 s at sf1); ceilings ~3x measured
    "ta13_bpe_train" -> 9.0,
    "tp6_bpe_pack" -> 12.0,
    "mm9_h264_residual" -> 4.0,
    // round 14: the S6 pipeline's scale-sensitive shape — 12 fixture pages
    // mean per-page HTML grows LINEARLY with the corpus (~2.5 MB/page at
    // sf1), so a superlinear tokenizer or a collect_list spill lands far
    // past the ceiling (~3x the measured 2.0 s one-shot)
    "acq2_download_plan" -> 6.0)

  /** The ~sf10 (100×) tier — round-10 verdict item 3: another order of
    * magnitude for the 5 TRULY asymptotic-risk families. Ceilings are
    * ~2× the times measured on this box at sf10 (BENCH_NOTES round-10
    * table); a superlinear blowup (hot LSH bucket from the clone-heavy
    * corpus escaping the exact-dedup pre-pass, CC round growth past
    * O(log n), pack bucket skew, IVF cell quadratic) lands 5-50× past
    * them. Opt-in (`runMain graft.tools.Rehearse sf10`) — the tier runs
    * minutes, not seconds.
    */
  val Gate10: Seq[(String, Double)] = Seq(
    "dd8_lsh_verified" -> 30.0,
    "dd9_dup_groups" -> 30.0,
    "dd16_canonical_pick" -> 35.0,
    "tp1_token_packing" -> 8.0,
    // post-rep-tier (the dd8 exact-dedup recipe applied per side): dc2's
    // sf10 one-shot is ~15 s even on a loaded box — the pre-fix shape ran
    // 94-240 s here because clone cliques made pair expansion quadratic in
    // the copy count (adjudicated by an interleaved HEAD-vs-r10-capture
    // A/B: no commit regression, the old "21-42 s band" was light-load
    // wobble over that inherently quadratic compute; BENCH_NOTES r10).
    "dc2_neardup_decontam" -> 30.0,
    // post-rep-tier like dc2 (measured 2.8 s one-shot at sf10); gated so
    // the cross-set clone-clique quadratic can't silently return
    "dd12_incremental_dedup" -> 15.0,
    "e8_ivf_recall" -> 5.0,
    // round 17: J2's gram banding at 1.5M dirty x 750k registry — the
    // scale where the old unconditional registry broadcast would OOM-risk
    // the driver and a lost band would go quadratic. Measured 2.2-3.5 s
    // one-shot at sf10 on the (size-conditional) shuffle path; ceiling
    // ~4x for this box's host-noise band.
    "j2_fuzzy_match" -> 12.0)

  def main(args: Array[String]): Unit = {
    val sf10 = args.headOption.contains("sf10")
    val rest = if (sf10) args.drop(1) else args
    val src = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = rest.drop(1).headOption
      .getOrElse(if (sf10) "/tmp/graft_sf10" else "/tmp/graft_sf1")
    val copies = if (sf10) 100 else 10
    // sized on the fixture about to be built: mid tier at sf1 and sf10
    val spark = graft.LocalSession(MakeScale.profile(src, copies))
    if (!new java.io.File(s"$dst/documents.parquet").exists()) {
      println(s"[rehearse] building ${copies}x fixture $dst from $src")
      MakeScale.build(spark, src, dst, copies = copies)
    } else println(s"[rehearse] reusing fixture $dst")
    spark.range(1000).selectExpr("sum(id)").collect() // session warm-up

    var failed = 0
    var nGates = 0
    // One timing/threshold/report body for every gate: `setup` runs inside
    // the try but OUTSIDE the timer (fixture builds), `body` returns the
    // row count plus an optional shape-failure detail. The error formatter
    // is null-message-safe (a bare NPE must print FAIL, not crash the
    // rehearsal mid-report), and the gate total is counted by execution
    // instead of a hand-maintained literal.
    def runGate(name: String, maxSec: Double, setup: () => Unit = () => ())(
        body: => (Long, Option[String])): Unit = {
      nGates += 1
      val r = try {
        setup()
        val t0 = System.nanoTime()
        val (rows, shapeFail) = body
        val sec = (System.nanoTime() - t0) / 1e9
        shapeFail match {
          case Some(detail) =>
            failed += 1; f"FAIL $name%-22s $sec%8.2f s  $detail"
          case None if sec > maxSec =>
            failed += 1
            f"FAIL $name%-22s $sec%8.2f s  over threshold $maxSec%.0f s  rows=$rows"
          case None => f"PASS $name%-22s $sec%8.2f s  rows=$rows"
        }
      } catch { case e: Throwable =>
        failed += 1
        val msg = Option(e.getMessage).getOrElse(e.toString)
        f"FAIL $name%-22s error: ${msg.take(120)}"
      }
      println(s"[rehearse] $r")
    }

    (if (sf10) Gate10 else Gate).foreach { case (name, maxSec) =>
      val fn = graft.SparkEntry.queries(name)
      runGate(name, maxSec) {
        val rows = fn(spark, dst).count()
        (rows, if (rows <= 0) Some("rows=0") else None)
      }
    }
    // Adversarial-shape gate for the large-star/small-star CC fallback
    // (round 9): a 100k-node PATH — 10× the property spec's size, the
    // chain shape that defeats plain min-label propagation — must
    // converge in O(log n) alternating rounds and label every node with
    // the component minimum. Not reachable through a SparkEntry query
    // (organic near-dup graphs never trip the fallback), so gated here.
    if (!sf10) runGate("cc_stars_100k_path", 60.0) {
      val path = spark.range(99999).selectExpr("id as id_a", "id + 1 as id_b")
      val labels = graft.dedup.Dedup.connectedComponentsStars(path)
      val bad = labels.filter(org.apache.spark.sql.functions.col("group_id") =!= 0L).count()
      val n = labels.count()
      (n, if (bad != 0 || n != 100000) Some(s"mislabeled=$bad n=$n") else None)
    }
    // Container-corpus gate: the NetCDF claim is "file-parallel over
    // millions of small per-float files" — exercise the shape at 1k files:
    // 800 classic CDF + 150 HDF5-backed + 50 poison, one binaryFile scan
    // decoding everything healthy plus the quarantine ledger accounting
    // for every file. Wall ceiling is generous (the gate exists to catch
    // a per-file cost regression — driver-side listing, per-task setup —
    // not to microbenchmark).
    if (!sf10) {
      // v2: 50 of the HDF5 files store their attributes DENSELY (fractal
      // heap) — the round-10 dense read path must hold at corpus scale
      val corpus = "/tmp/graft_nc_corpus_1k_v2"
      def buildCorpus(): Unit =
        if (!new java.io.File(s"$corpus/_SUCCESS").exists()) {
          val p = java.nio.file.Paths.get(corpus)
          java.nio.file.Files.createDirectories(p)
          (0 until 800).foreach { f =>
            java.nio.file.Files.write(p.resolve(f"cdf_$f%04d.nc"),
              graft.sources.NetCdfFixture.fileBytes(f))
          }
          (800 until 950).foreach { f =>
            java.nio.file.Files.write(p.resolve(f"h5_$f%04d.nc"),
              graft.sources.NetCdfFixture.hdf5FileBytes(f, denseAttrs = f >= 900))
          }
          (0 until 50).foreach { i =>
            java.nio.file.Files.write(p.resolve(f"poison_$i%02d.nc"),
              if (i % 2 == 0) graft.sources.NetCdfFixture.fileBytes(0).take(40 + i)
              else s"garbage payload $i".getBytes("UTF-8"))
          }
          java.nio.file.Files.write(p.resolve("_SUCCESS"), Array.emptyByteArray)
        }
      runGate("nc_corpus_1k_files", 30.0, setup = buildCorpus) {
        val rows = graft.sources.NetCdf.read(spark, corpus, tolerant = true).count()
        val ledger = graft.sources.NetCdf.scanStatus(spark, corpus)
          .groupBy("status").count().collect()
          .map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
        val expectRows = 950L * 30
        (rows,
          if (rows != expectRows || ledger.getOrElse("ok", 0L) != 950L ||
              ledger.getOrElse("corrupt", 0L) != 50L)
            Some(s"rows=$rows ledger=$ledger")
          else None)
      }
    }
    spark.stop()
    if (failed > 0) {
      println(s"[rehearse] $failed of $nGates gates FAILED")
      sys.exit(1)
    }
    println(s"[rehearse] all $nGates gates passed")
  }
}
