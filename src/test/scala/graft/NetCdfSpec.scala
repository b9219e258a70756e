package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NetCdf
import graft.sources.NetCdf._
import graft.sources.NetCdfFixture

/** Unit coverage for the pure-Scala NetCDF classic (CDF-1) container layer:
  * byte-exact writer/parser round-trips, the reference loader's semantic
  * surface (alias table, fill-value nulling, time-unit decode,
  * ingest/load_data.py:226-375), and the distributed binaryFile read path.
  */
class NetCdfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("writer/parser round-trip preserves dims, attrs, and typed data") {
    val dims = Seq(NcDim("x", 3), NcDim("y", 2))
    val vars = Seq(
      NcVar("d", Seq(0), NC_DOUBLE, Seq("units" -> NcStr("m")),
        NcDoubles(Array(1.5, -2.25, 3.0))),
      NcVar("fl", Seq(0, 1), NC_FLOAT, Seq("_FillValue" -> NcFloats(Array(9f))),
        NcFloats(Array(1f, 2f, 3f, 4f, 5f, 6f))),
      NcVar("i", Seq(1), NC_INT, Nil, NcInts(Array(7, -8))))
    val parsed = NetCdf.parse(NetCdf.writeBytes(dims,
      Seq("title" -> NcStr("t")), vars))
    assert(parsed.dims === dims)
    assert(parsed.globalAttrs("title") === "t")
    val d = parsed.vars.find(_.name == "d").get
    assert(d.numeric.toSeq === Seq(1.5, -2.25, 3.0))
    assert(d.attrs("units") === "m")
    val fl = parsed.vars.find(_.name == "fl").get
    assert(fl.dims.map(_.size) === Seq(3, 2))
    assert(fl.numeric.toSeq === Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    assert(fl.attrs("_FillValue").asInstanceOf[Array[Double]].toSeq === Seq(9.0))
    assert(parsed.vars.find(_.name == "i").get.numeric.toSeq === Seq(7.0, -8.0))
  }

  test("odd-length names and char data pad to 4-byte boundaries correctly") {
    val dims = Seq(NcDim("prof", 2), NcDim("str5", 5))
    val chars = "ab   cd   ".getBytes("UTF-8") // 2 strings of width 5
    val vars = Seq(
      NcVar("abc", Seq(0), NC_DOUBLE, Nil, NcDoubles(Array(1.0, 2.0))),
      NcVar("nm", Seq(0, 1), NC_CHAR, Nil, NcChars(chars)))
    val parsed = NetCdf.parse(NetCdf.writeBytes(dims, Nil, vars))
    assert(parsed.vars.map(_.name) === Seq("abc", "nm"))
    assert(parsed.vars(1).chars.length === 10)
    assert(new String(parsed.vars(1).chars.take(5), "UTF-8").trim === "ab")
  }

  test("CDF-2 (64-bit offset) files round-trip and tabularize identically to CDF-1") {
    val v1 = NetCdfFixture.fileBytes(0)
    val f = NetCdf.parse(v1)
    // re-serialize the same content as CDF-2 and compare decoded tables
    val dims = f.dims
    val vars2 = f.vars.map { pv =>
      val data: NcVal = pv.ncType match {
        case NC_CHAR => NcChars(pv.chars)
        case NC_FLOAT => NcFloats(pv.numeric.map(_.toFloat))
        case NC_INT => NcInts(pv.numeric.map(_.toInt))
        case _ => NcDoubles(pv.numeric)
      }
      val attrs = pv.attrs.toSeq.map {
        case (k, s: String) => k -> NcStr(s)
        case (k, a: Array[Double]) if pv.ncType == NC_FLOAT =>
          k -> NcFloats(a.map(_.toFloat))
        case (k, a: Array[Double]) => k -> NcDoubles(a)
        case (k, other) => k -> NcStr(other.toString)
      }
      NcVar(pv.name, pv.dims.map(d => dims.indexWhere(_.name == d.name)),
        pv.ncType, attrs, data)
    }
    val v2 = NetCdf.writeBytes(dims, Nil, vars2, version = 2)
    assert(v2(3) === 2.toByte)
    assert(NetCdf.tabularize(NetCdf.parse(v2)) === NetCdf.tabularize(f))
  }

  test("CDF-5 (64-bit data) files round-trip: wide header fields + extended types") {
    val dims = Seq(NcDim("x", 3))
    val vars = Seq(
      NcVar("big", Seq(0), NC_INT64, Seq("units" -> NcStr("count")),
        NcLongs(Array(1L << 40, -5L, 42L))),
      NcVar("ub", Seq(0), NC_UBYTE, Nil, NcInts(Array(0, 127, 255))),
      NcVar("us", Seq(0), NC_USHORT, Nil, NcInts(Array(0, 40000, 65535))),
      NcVar("d", Seq(0), NC_DOUBLE, Nil, NcDoubles(Array(1.5, 2.5, -3.0))))
    val bytes = NetCdf.writeBytes(dims, Seq("title" -> NcStr("cdf5")), vars,
      version = 5)
    assert(bytes(3) === 5.toByte)
    val parsed = NetCdf.parse(bytes)
    assert(parsed.dims === dims)
    assert(parsed.globalAttrs("title") === "cdf5")
    assert(parsed.vars.find(_.name == "big").get.numeric.toSeq ===
      Seq((1L << 40).toDouble, -5.0, 42.0))
    assert(parsed.vars.find(_.name == "big").get.attrs("units") === "count")
    assert(parsed.vars.find(_.name == "ub").get.numeric.toSeq === Seq(0.0, 127.0, 255.0))
    assert(parsed.vars.find(_.name == "us").get.numeric.toSeq === Seq(0.0, 40000.0, 65535.0))
    assert(parsed.vars.find(_.name == "d").get.numeric.toSeq === Seq(1.5, 2.5, -3.0))
  }

  test("CDF-5 record layout tabularizes identically to its CDF-1 twin") {
    val v1 = NetCdf.tabularize(NetCdf.parse(NetCdfFixture.recordFileBytes(6)))
    val v5 = NetCdf.tabularize(NetCdf.parse(
      NetCdfFixture.recordFileBytes(6, version = 5)))
    assert(v5 === v1)
    val f1 = NetCdf.tabularize(NetCdf.parse(NetCdfFixture.fileBytes(7)))
    val f5 = NetCdf.tabularize(NetCdf.parse(
      NetCdfFixture.fileBytes(7, version = 5)))
    assert(f5 === f1)
  }

  test("extended types require CDF-5; truncated CDF-5 quarantines as corrupt") {
    intercept[IllegalArgumentException] {
      NetCdf.writeBytes(Seq(NcDim("x", 1)),
        Nil, Seq(NcVar("b", Seq(0), NC_INT64, Nil, NcLongs(Array(1L)))))
    }
    val e = intercept[NetCdfParseException] {
      NetCdf.parse(NetCdfFixture.fileBytes(7, version = 5).take(48))
    }
    assert(e.kind === "corrupt")
  }

  test("HDF5 magic classifies as unsupported-hdf5, not corrupt") {
    val hdf5 = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n') ++
      Array.fill[Byte](24)(0)
    val e = intercept[NetCdfParseException](NetCdf.parse(hdf5))
    assert(e.kind === "unsupported-hdf5")
    assert(e.getMessage.contains("convert"))
    val corrupt = intercept[NetCdfParseException](
      NetCdf.parse("garbage".getBytes("UTF-8")))
    assert(corrupt.kind === "corrupt")
  }

  test("decodeTimeMicros handles days/hours/seconds since with date or datetime epochs") {
    // 1950-01-01 is 7305 days before the Unix epoch
    val dayUs = 86400000000L
    assert(NetCdf.decodeTimeMicros("days since 1950-01-01 00:00:00", 7305.0) === 0L)
    assert(NetCdf.decodeTimeMicros("days since 1950-01-01", 7305.25) === dayUs / 4)
    assert(NetCdf.decodeTimeMicros("hours since 1970-01-01 00:00:00", 1.5) === 5400000000L)
    assert(NetCdf.decodeTimeMicros("seconds since 1970-01-02", -86400.0) === 0L)
    assertThrows[IllegalArgumentException](
      NetCdf.decodeTimeMicros("fortnights since 1970-01-01", 1.0))
  }

  test("tabularize: aliases, _FillValue and missing_value nulls, char float ids") {
    val rows = NetCdf.tabularize(NetCdf.parse(NetCdfFixture.fileBytes(2)))
    assert(rows.size === NetCdfFixture.N_PROF * NetCdfFixture.N_LEVELS)
    // float 2 stores PLATFORM_NUMBER as NC_CHAR — decoded to a trimmed string
    assert(rows.forall(_.float_id == "102"))
    // profile ids come from CYCLE_NUMBER, not positional index
    assert(rows.map(_.profile_id).distinct.sorted === (1000L to 1005L))
    // fill positions null out exactly per the closed form
    rows.foreach { r =>
      val (f, p, l) = (2, (r.profile_id - 1000).toInt, r.level.toInt)
      assert(r.pres.isEmpty === ((f + p + l) % 7 == 0), s"pres at $p/$l")
      assert(r.pres.forall(_ == l * 100 + p))
    }
    // odd file uses missing_value + "hours since" + lowercase names and must
    // decode to the same instants pattern as the closed form
    val odd = NetCdf.tabularize(NetCdf.parse(NetCdfFixture.fileBytes(1)))
    assert(odd.forall(_.float_id == "101"))
    val ts0 = odd.find(r => r.profile_id == 1000L && r.level == 0L).get.ts.get
    val expectMicros = NetCdf.decodeTimeMicros(
      "days since 1950-01-01 00:00:00", NetCdfFixture.juldDays(1, 0))
    assert(ts0.toInstant.toEpochMilli === expectMicros / 1000)
  }

  test("inspect reports dims and vars with dtype, shape, and attr counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-inspect").toString
    NetCdfFixture.writeFleet(dir)
    val rows = NetCdf.inspect(spark, dir).collect()
    assert(rows.length === 4 * (3 + 8)) // 3 dims + 8 vars per file
    val f102platform = rows.find(r =>
      r.getString(0) == "float_102.nc" && r.getString(2) == "PLATFORM_NUMBER").get
    assert(f102platform.getString(3) === "char")
    assert(f102platform.getString(4) === "6x8")
    val f101time = rows.find(r =>
      r.getString(0) == "float_101.nc" && r.getString(2) == "time").get
    assert(f101time.getString(3) === "double")
    assert(f101time.getLong(5) === 1L) // the units attr
  }

  test("record (UNLIMITED) variables round-trip through interleaved record slabs") {
    val dims = Seq(NcDim("rec", 0), NcDim("lev", 3), NcDim("str4", 4))
    val nRec = 4
    val vars = Seq(
      // fixed var first: record data must start after it
      NcVar("fixed", Seq(1), NC_INT, Nil, NcInts(Array(7, 8, 9))),
      // scalar-per-record double
      NcVar("t", Seq(0), NC_DOUBLE, Nil,
        NcDoubles((0 until nRec).map(_ * 1.5).toArray)),
      // (rec, lev) float — 12 bytes/record, 4-aligned
      NcVar("v", Seq(0, 1), NC_FLOAT, Nil,
        NcFloats((0 until nRec * 3).map(_.toFloat).toArray)),
      // char record var (rec, str4)
      NcVar("nm", Seq(0, 2), NC_CHAR, Nil,
        NcChars("ab  cd  ef  gh  ".getBytes("UTF-8"))))
    val bytes = NetCdf.writeBytes(dims, Nil, vars, version = 1, numrecs = nRec)
    val f = NetCdf.parse(bytes)
    assert(f.recordDim === Some("rec"))
    assert(f.dims.head === NcDim("rec", nRec)) // materialized record count
    assert(f.vars.find(_.name == "fixed").get.numeric.toSeq === Seq(7.0, 8.0, 9.0))
    val t = f.vars.find(_.name == "t").get
    assert(t.dims === Seq(NcDim("rec", nRec)))
    assert(t.numeric.toSeq === Seq(0.0, 1.5, 3.0, 4.5))
    val v = f.vars.find(_.name == "v").get
    assert(v.dims.map(_.size) === Seq(nRec, 3))
    assert(v.numeric.toSeq === (0 until 12).map(_.toDouble))
    val nm = f.vars.find(_.name == "nm").get
    assert(new String(nm.chars, "UTF-8") === "ab  cd  ef  gh  ")
  }

  test("single record variable: records are unpadded per the spec") {
    // one NC_SHORT record var with 3 values/record = 6 bytes/record; with
    // the single-record-var rule the stride is 6, NOT pad4(6) = 8. Write
    // the container by hand to prove the PARSER honors the rule.
    val dims = Seq(NcDim("r", 0), NcDim("k", 3))
    val nRec = 3
    val data = (1 to nRec * 3).map(_.toShort)
    // header via writeBytes with zero records, then append hand-packed slabs
    val empty = NetCdf.writeBytes(dims, Nil,
      Seq(NcVar("s", Seq(0, 1), NC_SHORT, Nil, NcChars(Array.empty))),
      version = 1, numrecs = 0)
    val buf = java.nio.ByteBuffer.allocate(empty.length + nRec * 6)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    buf.put(empty)
    data.foreach(buf.putShort)
    val bytes = buf.array()
    // patch numrecs (bytes 4-8) to the real count
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(4, nRec)
    val f = NetCdf.parse(bytes)
    assert(f.vars.head.numeric.toSeq === data.map(_.toDouble))
    // and the writer produces the same unpadded layout
    val written = NetCdf.writeBytes(dims, Nil,
      Seq(NcVar("s", Seq(0, 1), NC_SHORT, Nil, NcChars(Array.empty))),
      version = 1, numrecs = 0)
    assert(written.length === empty.length) // no record data emitted
  }

  test("STREAMING numrecs (-1) derives the record count from file length") {
    val bytes = NetCdfFixture.recordFileBytes(4)
    val patched = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(patched).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(4, -1)
    val f = NetCdf.parse(patched)
    assert(f.dims.find(_.name == "N_PROF").get.size === NetCdfFixture.N_PROF)
    assert(NetCdf.tabularize(f) === NetCdf.tabularize(NetCdf.parse(bytes)))
  }

  test("record fleet tabularizes to the fixed fleet's closed form (modulo epoch zone)") {
    val rec4 = NetCdf.tabularize(NetCdf.parse(NetCdfFixture.recordFileBytes(4)))
    assert(rec4.size === NetCdfFixture.N_PROF * NetCdfFixture.N_LEVELS)
    assert(rec4.forall(_.float_id == "104")) // char record var decode
    rec4.foreach { r =>
      val (f, p, l) = (4, (r.profile_id - 1000).toInt, r.level.toInt)
      assert(r.pres.isEmpty === ((f + p + l) % 7 == 0))
      assert(r.lat.contains(NetCdfFixture.lat(f, p)))
    }
    // float 104: "days since ... UTC" — the named zone is offset 0, so the
    // instants equal the plain closed form
    val ts4 = rec4.find(r => r.profile_id == 1000L && r.level == 0L).get.ts.get
    val base4 = NetCdf.decodeTimeMicros(
      "days since 1950-01-01 00:00:00", NetCdfFixture.juldDays(4, 0))
    assert(ts4.toInstant.toEpochMilli === base4 / 1000)
    // float 105: epoch at -02:00 — every instant shifts +2 h
    val rec5 = NetCdf.tabularize(NetCdf.parse(NetCdfFixture.recordFileBytes(5)))
    val ts5 = rec5.find(r => r.profile_id == 1000L && r.level == 0L).get.ts.get
    val base5 = NetCdf.decodeTimeMicros(
      "days since 1950-01-01 00:00:00", NetCdfFixture.juldDays(5, 0))
    assert(ts5.toInstant.toEpochMilli === base5 / 1000 + 2 * 3600 * 1000)
  }

  test("decodeTimeMicros: named zones, numeric offsets, attached suffixes") {
    val hourUs = 3600000000L
    assert(NetCdf.decodeTimeMicros("days since 1950-01-01 00:00:00 UTC", 7305.0) === 0L)
    assert(NetCdf.decodeTimeMicros("days since 1950-01-01 00:00:00 GMT", 7305.0) === 0L)
    assert(NetCdf.decodeTimeMicros("hours since 1970-01-01T00:00:00Z", 2.0) === 2 * hourUs)
    // epoch at -05:00 is five hours AFTER midnight UTC
    assert(NetCdf.decodeTimeMicros("hours since 1970-01-01 00:00:00 -05:00", 0.0) === 5 * hourUs)
    assert(NetCdf.decodeTimeMicros("hours since 1970-01-01T00:00:00+05:00", 0.0) === -5 * hourUs)
    assert(NetCdf.decodeTimeMicros("minutes since 1970-01-01", 90.0) === 5400000000L)
    assertThrows[IllegalArgumentException](
      NetCdf.decodeTimeMicros("days since not-a-date", 1.0))
  }

  test("scanStatus ledgers every file; tolerant read drops exactly the quarantined ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-status").toString
    NetCdfFixture.writeFleet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/truncated.nc"),
      NetCdfFixture.fileBytes(0).take(40)) // valid magic, truncated header
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/garbage.nc"),
      "not netcdf at all".getBytes("UTF-8"))
    // a VALID NetCDF-4 container beyond the HDF5 read subset (szip filter):
    // still the "convert, don't discard" triage — a bare signature would now
    // read as a truncated (corrupt) superblock since round 10 decodes HDF5
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/netcdf4.nc"), NetCdfFixture.hdf5SzipBytes)
    // columns: file, ok, status, error, n_rows
    val status = NetCdf.scanStatus(spark, dir).collect()
    assert(status.length === NetCdfFixture.N_FLOATS + 3)
    val bad = status.filter(!_.getBoolean(1))
    assert(bad.map(_.getString(0)).sorted.toSeq ===
      Seq("garbage.nc", "netcdf4.nc", "truncated.nc"))
    assert(bad.forall(r => !r.isNullAt(3) && r.getString(3).nonEmpty)) // error recorded
    // triage statuses: HDF5 is "convert", the others "discard"
    val byFile = bad.map(r => r.getString(0) -> r.getString(2)).toMap
    assert(byFile("netcdf4.nc") === "unsupported-hdf5")
    assert(byFile("garbage.nc") === "corrupt")
    assert(byFile("truncated.nc") === "corrupt")
    assert(status.filter(_.getBoolean(1)).forall(_.getString(2) == "ok"))
    val okRows = status.filter(_.getBoolean(1)).map(_.getLong(4)).sum
    assert(okRows === NetCdf.read(spark, dir, tolerant = true).count())
  }

  test("read scans .NC (uppercase) files and decodes record containers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-rec").toString
    NetCdfFixture.writeRecordFleet(dir)
    val df = NetCdf.read(spark, dir)
    assert(df.count() === 2L * NetCdfFixture.N_PROF * NetCdfFixture.N_LEVELS)
    import org.apache.spark.sql.functions.col
    val ids = df.select("float_id").distinct().collect().map(_.getString(0)).sorted
    assert(ids.toSeq === Seq("104", "105")) // 105 ships as .NC
    // inspect flags the record dim
    val recRow = NetCdf.inspect(spark, dir).where(col("name") === "N_PROF").collect()
    assert(recRow.forall(r => r.getString(3) == "record" &&
      r.getString(4) == NetCdfFixture.N_PROF.toString))
  }

  test("tolerant read skips corrupt files; strict read fails on them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-corrupt").toString
    NetCdfFixture.writeFleet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/float_999.nc"),
      "this is not a netcdf file".getBytes("UTF-8"))
    val n = NetCdf.read(spark, dir, tolerant = true).count()
    assert(n === NetCdfFixture.N_FLOATS * NetCdfFixture.N_PROF * NetCdfFixture.N_LEVELS)
    assertThrows[org.apache.spark.SparkException](
      NetCdf.read(spark, dir).count())
  }

  test("fuzz: corrupted containers parse or throw NetCdfParseException, nothing else") {
    // The quarantine contract: tolerant reads catch EXACTLY
    // NetCdfParseException, so parse() must never let malformed bytes
    // surface as any other exception class (OOM-sized allocations, raw
    // buffer underflows, NPEs). Deterministic fuzz: truncations at every
    // boundary flavor plus seeded random byte mutations of real files.
    val rnd = new scala.util.Random(42)
    val fuzzN = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(300)
    val bases = Seq(NetCdfFixture.fileBytes(0), NetCdfFixture.fileBytes(2),
      NetCdfFixture.recordFileBytes(4), NetCdfFixture.recordFileBytes(5))
    def check(bytes: Array[Byte], tag: String): Unit =
      try { NetCdf.parse(bytes); () }
      catch {
        case _: NetCdf.NetCdfParseException => ()
        case e: Throwable =>
          fail(s"$tag leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    for (base <- bases) {
      // truncations — header, dim list, attr list, var headers, data
      for (len <- Seq(0, 3, 4, 7, 8, 12, 40, 100, base.length / 2, base.length - 3))
        check(base.take(len.max(0)), s"truncate@$len")
      // random single/multi-byte mutations (incl. the length/offset fields)
      for (_ <- 1 to fuzzN) {
        val b = base.clone()
        for (_ <- 0 to rnd.nextInt(4))
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        check(b, "mutate")
      }
      // hostile length fields: huge counts in the first slots after magic
      for (pos <- Seq(4, 8, 12, 16, 20) if pos + 4 <= base.length) {
        val b = base.clone()
        val bb = java.nio.ByteBuffer.wrap(b)
        bb.putInt(pos, Int.MaxValue)
        check(b, s"maxint@$pos")
        bb.putInt(pos, -1)
        check(b, s"neg@$pos")
      }
    }
  }

  test("fuzz: decodeTimeMicros rejects malformed units only via parse exceptions") {
    val rnd = new scala.util.Random(7)
    val units = Seq(
      "days since 1950-01-01", "hours since 1950-01-01 00:00:00 UTC",
      "seconds since 1970-01-01T00:00:00Z", "minutes since 1999-12-31 23:59:59 -08:00")
    for (u <- units; _ <- 1 to 200) {
      val chars = u.toCharArray
      for (_ <- 0 to rnd.nextInt(3))
        chars(rnd.nextInt(chars.length)) = (32 + rnd.nextInt(90)).toChar
      val mutated = new String(chars)
      try { NetCdf.decodeTimeMicros(mutated, 1.5); () }
      catch {
        case _: IllegalArgumentException => () // NetCdfParseException included
        case e: Throwable =>
          fail(s"'$mutated' leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  test("empty scan directory yields empty frames, not errors") {
    // a sharded million-file crawl will hand some tasks empty directories
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-empty").toString
    assert(NetCdf.read(spark, dir).count() === 0)
    assert(NetCdf.read(spark, dir, tolerant = true).count() === 0)
    assert(NetCdf.scanStatus(spark, dir).count() === 0)
    assert(NetCdf.inspect(spark, dir).count() === 0)
  }

  test("binaryFile read path fans files out and yields the full fleet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-read").toString
    NetCdfFixture.writeFleet(dir)
    val df = NetCdf.read(spark, dir)
    assert(df.count() ===
      NetCdfFixture.N_FLOATS * NetCdfFixture.N_PROF * NetCdfFixture.N_LEVELS)
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    // one input file per task partition-able: at minimum all four floats land
    assert(df.select("float_id").distinct().count() === 4)
  }

  // ---- decode agreement: the ledger and the tolerant read see the same files

  private val BadUnits = "fortnights since 1950-01-01"
  private val TimeFill = -999.0

  /** Three files that share one unsupported time `units`: every time value
    * fill (stays ok, null `ts`), no records at all (stays ok, 0 rows), and
    * one real time value (quarantines as corrupt). The units string is only
    * ever parsed for a real value, so only the third file fails. The
    * record-less file holds the time variable alone: its profile count is
    * the record count, 0.
    */
  private def writeUnsupportedUnitsFiles(dir: String): Unit = {
    unitsFile(s"$dir/units_all_fill.nc", BadUnits, 120, Seq(TimeFill, TimeFill, TimeFill))
    NetCdf.writeFile(s"$dir/units_no_records.nc", Seq(NcDim("N_PROF", 0)), Nil,
      Seq(juld(BadUnits, Nil)))
    unitsFile(s"$dir/units_one_real.nc", BadUnits, 122, Seq(TimeFill, 9.5, TimeFill))
  }

  private def juld(units: String, times: Seq[Double]) = NcVar("JULD", Seq(0), NC_DOUBLE,
    Seq("units" -> NcStr(units), "_FillValue" -> NcDoubles(Array(TimeFill))),
    NcDoubles(times.toArray))

  /** One profile per time value, two levels each, under time `units`. */
  private def unitsFile(path: String, units: String, platform: Double,
      times: Seq[Double]): Unit = {
    val n = times.length
    NetCdf.writeFile(path, Seq(NcDim("N_PROF", n), NcDim("N_LEVELS", 2)), Nil,
      Seq(
        NcVar("PLATFORM_NUMBER", Seq(0), NC_DOUBLE, Nil, NcDoubles(Array.fill(n)(platform))),
        juld(units, times),
        NcVar("PRES", Seq(0, 1), NC_FLOAT, Nil, NcFloats(Array.tabulate(2 * n)(_.toFloat)))))
  }

  /** True when `e` or one of its causes is a [[NetCdf.NetCdfParseException]]. */
  private def causedByParse(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[NetCdf.NetCdfParseException])

  private def fleetDir(tag: String)(write: String => Unit): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-nc-$tag").toString
    write(d)
    d
  }

  /** Rows the tolerant read returns, per source file name. */
  private def tolerantRowsByFile(dir: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.input_file_name
    NetCdf.read(spark, dir, tolerant = true)
      .select(input_file_name().as("f")).groupBy("f").count().collect()
      .map { r => val f = r.getString(0); f.substring(f.lastIndexOf('/') + 1) -> r.getLong(1) }
      .toMap
  }

  test("scanStatus n_rows equals the tolerant read's rows per file, over every fleet") {
    val fleets = Seq(
      fleetDir("classic")(NetCdfFixture.writeFleet),
      fleetDir("cdf2") { d =>
        for (f <- 0 until NetCdfFixture.N_FLOATS)
          java.nio.file.Files.write(java.nio.file.Paths.get(d, s"float_${100 + f}.nc"),
            NetCdfFixture.fileBytes(f, version = 2))
      },
      fleetDir("cdf5")(NetCdfFixture.writeCdf5Fleet),
      fleetDir("record")(NetCdfFixture.writeRecordFleet),
      fleetDir("hdf5")(NetCdfFixture.writeHdf5Fleet),
      fleetDir("hdf5grp")(NetCdfFixture.writeHdf5GroupFleet),
      fleetDir("quarantine")(NetCdfFixture.writeQuarantineFleet),
      fleetDir("units")(writeUnsupportedUnitsFiles))
    // (status, error) of every file that does not decode
    val quarantined = Map(
      "upload_truncated.nc" -> ("corrupt", "name length 8 out of range"),
      "upload_garbage.nc" -> ("corrupt", "not a NetCDF classic file"),
      "upload_hdf5_truncated.nc" -> ("corrupt",
        "malformed HDF5 container: EOF address 4584 beyond file 60"),
      "upload_netcdf4.nc" -> ("unsupported-hdf5",
        "unsupported HDF5 feature: filter id 4 — valid NetCDF-4 container, " +
          "convert to classic CDF or extend the subset"),
      "units_one_real.nc" -> ("corrupt", s"unsupported time units: $BadUnits"))
    val seen = Seq.newBuilder[String]
    for (dir <- fleets) {
      val rows = tolerantRowsByFile(dir)
      val ledger = NetCdf.scanStatus(spark, dir).collect()
      assert(rows.keySet.subsetOf(ledger.map(_.getString(0)).toSet), dir)
      ledger.foreach { r =>
        val file = r.getString(0)
        seen += file
        val (ok, status, error, nRows) =
          (r.getBoolean(1), r.getString(2), Option(r.getString(3)), r.getLong(4))
        quarantined.get(file) match {
          case Some((kind, msg)) =>
            assert((ok, status, error, nRows) === ((false, kind, Some(msg), 0L)), file)
            assert(!rows.contains(file), file)
          case None =>
            assert((ok, status, error) === ((true, "ok", None)), file)
            assert(nRows === rows.getOrElse(file, 0L), file)
        }
      }
    }
    // every fleet file was ledgered, the quarantined ones included
    assert(quarantined.keySet.subsetOf(seen.result().toSet))
  }

  test("unsupported time units fail a file only when a real time value needs them") {
    val dir = fleetDir("units")(writeUnsupportedUnitsFiles)
    val ledger = NetCdf.scanStatus(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2), r.getLong(4))).toMap
    assert(ledger === Map(
      "units_all_fill.nc" -> ((true, "ok", 6L)),
      "units_no_records.nc" -> ((true, "ok", 0L)),
      "units_one_real.nc" -> ((false, "corrupt", 0L))))
    val rows = NetCdf.read(spark, dir, tolerant = true)
      .select("float_id", "ts", "pres").collect()
    assert(rows.map(_.getString(0)).toSet === Set("120"))
    assert(rows.length === 6 && rows.forall(_.isNullAt(1)))
    assert(rows.map(_.getDouble(2)).sorted.toSeq === (0 until 6).map(_.toDouble))
    // the strict read fails on the one file the ledger quarantines
    assertThrows[org.apache.spark.SparkException](NetCdf.read(spark, dir).count())
    // a numeric zone past ±18:00, standalone or attached, fails its file as
    // a parse error: never a DateTimeException that fails the whole job,
    // never dropped so that the epoch reads as UTC
    for ((units, tag) <- Seq("days since 1950-01-01 00:00:00 +99" -> "99",
        "days since 1950-01-01T00:00:00+19:00" -> "19")) {
      val zd = fleetDir(s"zone$tag") { d =>
        unitsFile(s"$d/units_zone.nc", units, 123, Seq(TimeFill, 9.5))
        unitsFile(s"$d/units_fill.nc", units, 124, Seq(TimeFill))
      }
      val zl = NetCdf.scanStatus(spark, zd).collect()
        .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
      assert(zl === Map("units_zone.nc" -> ((false, "corrupt")),
        "units_fill.nc" -> ((true, "ok"))), units)
      assert(NetCdf.read(spark, zd, tolerant = true).select("float_id").collect()
        .map(_.getString(0)).toSet === Set("124"), units)
      val e = intercept[Exception](NetCdf.read(spark, zd).count())
      assert(causedByParse(e), s"$units: $e")
    }
  }

  test("a record-less file with two record variables decodes to 0 rows") {
    val dir = fleetDir("norec") { d =>
      NetCdf.writeFile(s"$d/no_records.nc", Seq(NcDim("N_PROF", 0)), Nil,
        Seq(NcVar("PLATFORM_NUMBER", Seq(0), NC_DOUBLE, Nil, NcDoubles(Array.empty)),
          juld("days since 1950-01-01", Nil)))
    }
    val ledger = NetCdf.scanStatus(spark, dir).collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getString(2), r.getLong(4))).toSeq
    assert(ledger === Seq(("no_records.nc", true, "ok", 0L)))
    assert(NetCdf.read(spark, dir).count() === 0L)
    assert(NetCdf.read(spark, dir, tolerant = true).count() === 0L)
  }

  test("tabularize rows and their order are pinned for every healthy fleet file") {
    val files = (0 until NetCdfFixture.N_FLOATS).flatMap(f =>
      Seq(NetCdfFixture.fileBytes(f), NetCdfFixture.fileBytes(f, version = 2))) ++
      Seq(NetCdfFixture.recordFileBytes(4), NetCdfFixture.recordFileBytes(5),
        NetCdfFixture.recordFileBytes(6, version = 5), NetCdfFixture.fileBytes(7, version = 5),
        NetCdfFixture.hdf5FileBytes(8, charPlatform = true, zone = " UTC"),
        NetCdfFixture.hdf5FileBytes(9, record = true, zone = " -02:00"),
        NetCdfFixture.hdf5FileBytes(10, v2 = true),
        NetCdfFixture.hdf5FileBytes(11, denseAttrs = true),
        NetCdfFixture.hdf5GroupFileBytes(12), NetCdfFixture.hdf5GroupFileBytes(13),
        NetCdfFixture.hdf5GroupFileBytes(14, vlenPlatform = true))
    // one line per row, in decode order; ts as epoch micros (zone-free)
    val lines = files.flatMap(b => NetCdf.tabularize(NetCdf.parse(b))).map { r =>
      val ts = r.ts.map(t => t.getTime / 1000 * 1000000L + t.getNanos / 1000)
      Seq(r.float_id, r.profile_id, r.level, ts, r.lat, r.lon, r.pres, r.temp, r.psal)
        .mkString("|")
    }
    assert(lines.length === files.length * NetCdfFixture.N_PROF * NetCdfFixture.N_LEVELS)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5 === "6f5bef92e8f7a28be0f4859185ffa28d")
  }
}
