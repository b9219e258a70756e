package perfbench

/** The benchmark's own tests, runnable without Spark:
  *
  *     python3 perfbench/run.py --self-test
  *
  * Exits non-zero on the first failed expectation.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name $detail") }

  def main(args: Array[String]): Unit = {
    generatorsAreSeeded()
    percentileRule()
    selfTime()
    failedOpsAreCounted()
    metricsMatchBenchmarkJson()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }

  /** A seed always gives identical generator output; another seed does not. */
  def generatorsAreSeeded(): Unit = {
    def argo(seed: Long): Seq[Array[Byte]] = {
      val form = new Gen.ArgoForm(seed)
      Gen.argoSpecs(seed, 40).map(Gen.ncBytes(form, _))
    }
    def same(a: Seq[Array[Byte]], b: Seq[Array[Byte]]) =
      a.size == b.size && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }
    expect("argo corpus: same seed, same bytes", same(argo(7), argo(7)))
    expect("argo corpus: other seed, other bytes", !same(argo(7), argo(8)))
    def rows(seed: Long) = Gen.argoSpecs(seed, 40).groupBy(_.kind).map { case (k, fs) => k -> fs.map(_.rows).sorted }
    expect("argo corpus: volume per container kind does not depend on the seed", rows(7) == rows(8))
    val kinds = Gen.argoSpecs(7, 40).map(_.kind).toSet
    expect("argo corpus: every container kind occurs", Gen.Kinds.map(_._1).forall(kinds),
      s"missing ${Gen.Kinds.map(_._1).filterNot(kinds)}")
    expect("argo corpus: kind counts sum to the file count",
      Seq(9, 40, 41, 150, 300).forall(n => Gen.kindCounts(n).sum == n && Gen.argoSpecs(7, n).size == n))

    val v7 = Gen.vocab(500, 7)
    def docs(seed: Long) = Gen.dedupDocs(seed, 300, 1L, v7)
    expect("dedup corpus: same seed, same docs", docs(7) == docs(7))
    expect("dedup corpus: other seed, other docs", docs(7) != docs(8))
    expect("dedup corpus: vocabulary is seeded", Gen.vocab(500, 7) == v7 && Gen.vocab(500, 8) != v7)

    def uploads(seed: Long) = Gen.uploads(seed, 50, 10).flatMap(Gen.uploadRows(seed, _))
    expect("uploads: same seed, same rows", uploads(7) == uploads(7))
    expect("uploads: other seed, other rows", uploads(7) != uploads(8))
    expect("queries: same seed, same stream", Gen.chatQueries(7, 100) == Gen.chatQueries(7, 100))
    expect("queries: other seed, other stream", Gen.chatQueries(7, 100) != Gen.chatQueries(8, 100))
  }

  /** The tail percentile is the highest one with at least ten samples
    * beyond it, capped at the wanted one and floored at the median.
    */
  def percentileRule(): Unit = {
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    expect("200 samples support p95", near(Stats.tailPercentile(200, 95), 95))
    expect("1000 samples stay at the wanted p95", near(Stats.tailPercentile(1000, 95), 95))
    expect("100 samples support p90", near(Stats.tailPercentile(100, 95), 90))
    expect("150 samples support p93.3", near(Stats.tailPercentile(150, 95), 100 * (1 - 10.0 / 150)))
    expect("20 samples support only the median", near(Stats.tailPercentile(20, 95), 50))
    expect("10 samples fall back to the median", near(Stats.tailPercentile(10, 95), 50))
    val xs = (1 to 200).map(_.toDouble)
    val p = Stats.tailPercentile(xs.size, 95)
    expect("10 samples lie beyond the chosen percentile",
      xs.count(_ > Stats.percentile(xs, p)) == 10, s"${xs.count(_ > Stats.percentile(xs, p))}")
    expect("percentile interpolates linearly", near(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50), 2.5))
  }

  /** Self time is the span's duration minus the part its children cover. */
  def selfTime(): Unit = {
    val spans = Seq(
      Span(1, "root", 0, 1, 0, 100),
      Span(2, "a", 1, 1, 10, 30),
      Span(3, "b", 1, 1, 20, 50), // overlaps a: [10, 50] is covered once
      Span(4, "c", 1, 1, 90, 120), // sticks out of root: only [90, 100] counts
      Span(5, "a.inner", 2, 1, 12, 18))
    val self = Tracer.selfNs(spans)
    expect("root self time excludes its children once", self(1) == 50, s"${self(1)}")
    expect("a self time excludes only its own child", self(2) == 14, s"${self(2)}")
    expect("a leaf span's self time is its duration", self(5) == 6 && self(3) == 30)

    val layer = Seq(1.00, 1.10, 1.05, 0.95, 1.02)
    expect("a prefix step above the spread is a self time",
      Stats.selfTime(layer, layer.map(_ - 0.5)).exists(x => math.abs(x - 0.5) < 1e-9))
    expect("a prefix step within the spread is unresolved",
      Stats.selfTime(layer, Seq(1.04, 0.98, 1.06, 0.97, 1.01)).isLeft)
    expect("a negative prefix step is unresolved", Stats.selfTime(layer, layer.map(_ + 0.1)).isLeft)

    val t = new Tracer(true)
    t.span("outer") { Thread.sleep(30); t.span("inner")(Thread.sleep(30)) }
    val byName = t.selfSecondsByName
    expect("recorded spans nest", t.all.map(s => (s.name, s.parent)).toSet ==
      Set(("outer", 0), ("inner", t.all.find(_.name == "outer").get.id)))
    expect("recorded self times add up", byName("outer") >= 0.025 && byName("inner") >= 0.025, s"$byName")
    val off = new Tracer(false)
    expect("a disabled tracer records nothing", { off.span("x")(1); off.all.isEmpty })
  }

  /** A failing op lands in the fail ratio and not in the latencies. */
  def failedOpsAreCounted(): Unit = {
    val ledger = new Ledger
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to 4).foreach { i =>
      ledger.op(s"op$i") {
        if (i == 3) throw new IllegalStateException("forced failure")
        Thread.sleep(5)
      }.foreach(latencies += _._2)
    }
    expect("the failed op yields no latency", latencies.size == 3, s"${latencies.size}")
    expect("the failed op is counted", ledger.failed == 1 && ledger.attempted == 4)
    expect("fail ratio is failed over attempted", math.abs(ledger.failRatio - 0.25) < 1e-12)
    expect("the failure is named", ledger.failures.exists(_.contains("op3")))
    expect("an op failure is not a failed output check", ledger.failedChecks == 0)
    ledger.check("forced check", ok = false, "expected")
    expect("a failed check is counted and named",
      ledger.failedChecks == 1 && ledger.failed == 2 && ledger.failures.exists(_.contains("forced check")))
  }

  /** The metrics a run prints are the ones BENCHMARK.json declares, in order. */
  def metricsMatchBenchmarkJson(): Unit = {
    val path = java.nio.file.Paths.get("BENCHMARK.json")
    if (!java.nio.file.Files.exists(path)) { expect("BENCHMARK.json is present", ok = false); return }
    val json = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    def names(section: String): Seq[(String, String)] = {
      val from = json.indexOf("\"" + section + "\"")
      val body = json.substring(from, json.indexOf("]", from))
      """"name": "([^"]+)",\s*"unit": "([^"]+)"""".r.findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq
    }
    expect("end_to_end metrics match", names("end_to_end") == Main.EndToEnd, s"${names("end_to_end")}")
    expect("per_layer metrics match", names("per_layer") == Main.PerLayer,
      s"${names("per_layer").diff(Main.PerLayer)} vs ${Main.PerLayer.diff(names("per_layer"))}")
  }
}
