package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench tier boundaries (r7 verdict item 7): a threshold typo
  * must not silently run an sf1-sized input in the 4-wide interactive tier
  * (measured 2.7× slower on the heavy set) or an sf0.1 input cores-wide
  * (1.6× slower — task overhead dominates KB shuffles).
  */
class BenchProfileSpec extends AnyFunSuite {
  import BenchProfile._
  val cpus = 32

  test("interactive tier: below 64 MiB — 4-wide, AQE and compression off") {
    for (bytes <- Seq(0L, 1L << 20, InteractiveMax - 1)) {
      val p = tier(bytes, cpus)
      assert(p.name === "interactive", s"at $bytes")
      assert(p.shufflePartitions === 4)
      assert(!p.aqe && !p.compress)
    }
  }

  test("mid tier: [64 MiB, 2 GiB) — cores-wide, AQE still off") {
    for (bytes <- Seq(InteractiveMax, 160L << 20, MidMax - 1)) {
      val p = tier(bytes, cpus)
      assert(p.name === "mid", s"at $bytes")
      assert(p.shufflePartitions === cpus)
      assert(!p.aqe && !p.compress)
    }
  }

  test("large tier: >= 2 GiB — cores-wide with AQE and compression") {
    for (bytes <- Seq(MidMax, 100L << 30, Long.MaxValue)) {
      val p = tier(bytes, cpus)
      assert(p.name === "large", s"at $bytes")
      assert(p.shufflePartitions === cpus)
      assert(p.aqe && p.compress)
    }
  }

  test("an unreadable input dir (size = MaxValue) lands in the safest tier") {
    // Bench substitutes Long.MaxValue when sizing fails — that must select
    // the AQE/defaults tier, never the latency-tuned one
    assert(tier(Long.MaxValue, cpus).name === "large")
  }

  test("a missing or misspelled input dir sizes like an unreadable one") {
    // File.length() is 0 for a missing path: without the explicit check a
    // typo would size to 0 bytes and run in the 4-wide interactive tier
    val missing = java.nio.file.Files.createTempDirectory("graft-profile")
      .resolve("no-such-sf").toString
    assert(inputBytes(missing) === Long.MaxValue)
    assert(forDir(missing, cpus).name === "large")
    val underFile = java.nio.file.Files.createTempFile("graft-profile", ".bin")
      .resolve("sf0.1").toString
    assert(forDir(underFile, cpus).name === "large")
  }

  test("a readable dir sizes to its bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-profile")
    java.nio.file.Files.write(dir.resolve("t.parquet"), new Array[Byte](1000))
    assert(inputBytes(dir.toString) === 1000L)
    assert(forDir(dir.toString, cpus).name === "interactive")
  }
}
