package graft.sources

import java.nio.{BufferUnderflowException, ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal NetCDF classic (CDF-1/CDF-2/CDF-5) container support, pure Scala.
  *
  * The reference ingests Argo profile data from NetCDF files via xarray
  * (ingest/load_data.py:201-224) and tabularizes them with an alias table,
  * fill-value nulling, and "days/hours since epoch" time decode
  * (ingest/load_data.py:226-375). This module re-expresses that as a
  * Spark-native source: the CDF binary format itself is parsed with a
  * compact reader (the classic format is a flat big-endian header + data
  * spec), and files fan out across executors through Spark's `binaryFile`
  * source — one task per file, O(file) memory, which matches the real
  * corpus shape (Argo publishes millions of small per-float .nc files; a
  * 100 TB sweep is file-parallel, not row-parallel, at the container
  * level).
  *
  * Scope: the full classic family — CDF-1 (magic CDF\x01), CDF-2 (\x02,
  * 64-bit data offsets), and CDF-5 (\x05, PnetCDF's 64-bit-data variant
  * where every NON_NEG header field widens to 8 bytes and the extended
  * numeric types NC_UBYTE/USHORT/UINT/INT64/UINT64 appear) — fixed-size
  * AND record (UNLIMITED-dimension) variables: both the shape of ERDDAP
  * tabledap .nc responses and of native per-float Argo profile files,
  * which commonly store N_PROF as the record dimension with per-profile
  * slabs interleaved.
  *
  * HDF5-backed NetCDF-4 containers (magic \x89HDF) delegate to the
  * [[Hdf5]] reader (round 10): superblock v0/v2-v3, contiguous + chunked
  * layouts with deflate/shuffle, dimension scales — the netCDF-4 classic
  * data model. Files beyond that subset (dense links, unknown filters,
  * compound types) quarantine with the distinct `unsupported-hdf5` kind so
  * an operator can tell "convert this file" from "discard this corrupt
  * upload" in the [[scanStatus]] ledger.
  */
object NetCdf {

  // nc_type tags (NetCDF classic spec; 7-11 are the CDF-5 additions)
  val NC_BYTE = 1; val NC_CHAR = 2; val NC_SHORT = 3
  val NC_INT = 4; val NC_FLOAT = 5; val NC_DOUBLE = 6
  val NC_UBYTE = 7; val NC_USHORT = 8; val NC_UINT = 9
  val NC_INT64 = 10; val NC_UINT64 = 11

  private val TAG_DIM = 0x0A
  private val TAG_VAR = 0x0B
  private val TAG_ATT = 0x0C

  /** A dimension; `size == 0` marks the record (UNLIMITED) dimension, as in
    * the on-disk format. At most one record dimension per file.
    */
  final case class NcDim(name: String, size: Int)

  /** Malformed-or-unsupported container bytes. The tolerant read path skips
    * EXACTLY this class — a genuine engine bug (NPE, arithmetic) still
    * fails the job instead of masquerading as a corrupt upload. Extends
    * IllegalArgumentException so callers treating parse errors as invalid
    * input keep working.
    *
    * `kind` classifies the failure for the quarantine ledger:
    * "corrupt" (malformed bytes — discard/re-upload) vs
    * "unsupported-hdf5" (a VALID NetCDF-4/HDF5 container this classic
    * parser doesn't read — convert, don't discard). The distinction is an
    * operator-facing signal, not control flow.
    */
  final class NetCdfParseException(
      msg: String, cause: Throwable = null, val kind: String = "corrupt")
      extends IllegalArgumentException(msg, cause)

  private def fail(msg: String): Nothing = throw new NetCdfParseException(msg)

  /** Attribute / data value container for the writer. */
  sealed trait NcVal
  final case class NcStr(s: String) extends NcVal
  final case class NcFloats(a: Array[Float]) extends NcVal
  final case class NcDoubles(a: Array[Double]) extends NcVal
  final case class NcInts(a: Array[Int]) extends NcVal
  final case class NcChars(a: Array[Byte]) extends NcVal
  final case class NcLongs(a: Array[Long]) extends NcVal // NC_INT64 (CDF-5)

  final case class NcVar(
      name: String, dimIds: Seq[Int], ncType: Int,
      attrs: Seq[(String, NcVal)], data: NcVal)

  // ------------------------------------------------------------------ writer

  private[sources] def typeSize(t: Int): Int = t match {
    case NC_BYTE | NC_CHAR | NC_UBYTE => 1
    case NC_SHORT | NC_USHORT => 2
    case NC_INT | NC_FLOAT | NC_UINT => 4
    case NC_DOUBLE | NC_INT64 | NC_UINT64 => 8
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  /** NON_NEG header-field width: 4 bytes in CDF-1/2, 8 in CDF-5 (every
    * count/size/length/dimid widens; tags and nc_type stay 4 bytes).
    */
  private def nnWidth(version: Int): Int = if (version == 5) 8 else 4

  private def putNonNeg(b: ByteBuffer, version: Int, v: Long): Unit =
    if (version == 5) b.putLong(v) else b.putInt(v.toInt)

  private def putName(b: ByteBuffer, version: Int, s: String): Unit = {
    val bytes = s.getBytes("UTF-8")
    putNonNeg(b, version, bytes.length); b.put(bytes)
    var i = bytes.length
    while (i % 4 != 0) { b.put(0.toByte); i += 1 }
  }

  private def putAttrVal(b: ByteBuffer, version: Int, v: NcVal): Unit = v match {
    case NcStr(s) =>
      val bytes = s.getBytes("UTF-8")
      b.putInt(NC_CHAR); putNonNeg(b, version, bytes.length); b.put(bytes)
      var i = bytes.length; while (i % 4 != 0) { b.put(0.toByte); i += 1 }
    case NcFloats(a) =>
      b.putInt(NC_FLOAT); putNonNeg(b, version, a.length); a.foreach(b.putFloat)
    case NcDoubles(a) =>
      b.putInt(NC_DOUBLE); putNonNeg(b, version, a.length); a.foreach(b.putDouble)
    case NcInts(a) =>
      b.putInt(NC_INT); putNonNeg(b, version, a.length); a.foreach(b.putInt)
    case NcLongs(a) =>
      b.putInt(NC_INT64); putNonNeg(b, version, a.length); a.foreach(b.putLong)
    case NcChars(a) =>
      b.putInt(NC_CHAR); putNonNeg(b, version, a.length); b.put(a)
      var i = a.length; while (i % 4 != 0) { b.put(0.toByte); i += 1 }
  }

  private def attrListSize(version: Int, attrs: Seq[(String, NcVal)]): Int = {
    val w = nnWidth(version)
    if (attrs.isEmpty) 4 + w
    else 4 + w + attrs.map { case (n, v) =>
      val nameSz = w + pad4(n.getBytes("UTF-8").length)
      val valSz = 4 + w + (v match {
        case NcStr(s) => pad4(s.getBytes("UTF-8").length)
        case NcFloats(a) => a.length * 4
        case NcDoubles(a) => a.length * 8
        case NcInts(a) => a.length * 4
        case NcLongs(a) => a.length * 8
        case NcChars(a) => pad4(a.length)
      })
      nameSz + valSz
    }.sum
  }

  private def putAttrList(b: ByteBuffer, version: Int,
      attrs: Seq[(String, NcVal)]): Unit =
    if (attrs.isEmpty) { b.putInt(0); putNonNeg(b, version, 0L) }
    else {
      b.putInt(TAG_ATT); putNonNeg(b, version, attrs.length)
      attrs.foreach { case (n, v) =>
        putName(b, version, n); putAttrVal(b, version, v)
      }
    }

  /** Serialize a classic file. `version` 1 = CDF-1 (32-bit data offsets),
    * 2 = CDF-2 (64-bit offsets — the format variant real >2 GiB Argo
    * aggregates ship in), 5 = CDF-5 (PnetCDF 64-bit data: every NON_NEG
    * header field is 8 bytes and the extended numeric types are allowed).
    *
    * Record variables: a dim of size 0 in `dims` is the record dimension;
    * a var whose FIRST dim id is that dim is a record var holding
    * `numrecs × perRecordCount` values in record-major order. Per the
    * spec, record data is laid out as `numrecs` interleaved records after
    * all fixed-size data, each var's per-record slab padded to 4 bytes —
    * except when there is exactly ONE record variable, where the spec
    * drops the padding.
    */
  def writeBytes(
      dims: Seq[NcDim], globalAttrs: Seq[(String, NcVal)],
      vars: Seq[NcVar], version: Int = 1, numrecs: Int = 0): Array[Byte] = {
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version")
    require(dims.count(_.size == 0) <= 1, "at most one record dimension")
    require(version == 5 || vars.forall(_.ncType <= NC_DOUBLE),
      "extended types (ubyte/ushort/uint/int64/uint64) require CDF-5")
    val recDimId = dims.indexWhere(_.size == 0)
    def isRec(v: NcVar): Boolean =
      recDimId >= 0 && v.dimIds.headOption.contains(recDimId)
    vars.foreach { v =>
      require(recDimId < 0 || !v.dimIds.drop(1).contains(recDimId),
        s"record dim must be the outermost dim: ${v.name}")
    }
    val recVars = vars.filter(isRec)
    val singleRec = recVars.length == 1
    def perRecCount(v: NcVar): Int =
      v.dimIds.filter(_ != recDimId).map(dims(_).size.toLong).product.toInt.max(1)
    def fixedCount(v: NcVar): Int =
      v.dimIds.map(dims(_).size.toLong).product.toInt.max(1)
    def slabPadded(v: NcVar): Int = {
      val raw = perRecCount(v) * typeSize(v.ncType)
      if (singleRec) raw else pad4(raw)
    }
    // header vsize: per-record bytes for record vars (padded, EXCEPT the
    // single-record-var case where the spec stores the exact unpadded size
    // — third-party readers may use it as the record stride), full padded
    // size for fixed vars
    def vsize(v: NcVar): Int =
      if (isRec(v)) slabPadded(v)
      else pad4(fixedCount(v) * typeSize(v.ncType))
    val w = nnWidth(version) // NON_NEG width: counts, lengths, dimids, vsize
    val beginSz = if (version == 1) 4 else 8

    val dimListSz =
      if (dims.isEmpty) 4 + w
      else 4 + w + dims.map(d => w + pad4(d.name.getBytes("UTF-8").length) + w).sum
    val varHdrSz = vars.map { v =>
      w + pad4(v.name.getBytes("UTF-8").length) + w + v.dimIds.length * w +
        attrListSize(version, v.attrs) + 4 + w + beginSz // nc_type, vsize, begin
    }.sum
    val headerSz = 4 + w + dimListSz + attrListSize(version, globalAttrs) +
      (if (vars.isEmpty) 4 + w else 4 + w + varHdrSz)

    // fixed vars lay out sequentially after the header (in var order); the
    // record block follows, each record var at its slab offset in record 0
    var off = headerSz
    val begins = vars.map { v =>
      if (isRec(v)) -1L
      else { val b = off.toLong; off += vsize(v); b }
    }
    val recordStart = off
    var recOff = 0
    val beginsResolved = vars.zip(begins).map { case (v, b) =>
      if (b >= 0) b
      else { val r = (recordStart + recOff).toLong; recOff += slabPadded(v); r }
    }
    val recsize = recOff
    val total = recordStart + numrecs * recsize
    val b = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)

    b.put('C'.toByte).put('D'.toByte).put('F'.toByte).put(version.toByte)
    putNonNeg(b, version, numrecs)
    if (dims.isEmpty) { b.putInt(0); putNonNeg(b, version, 0L) }
    else {
      b.putInt(TAG_DIM); putNonNeg(b, version, dims.length)
      dims.foreach { d =>
        putName(b, version, d.name); putNonNeg(b, version, d.size)
      }
    }
    putAttrList(b, version, globalAttrs)
    if (vars.isEmpty) { b.putInt(0); putNonNeg(b, version, 0L) }
    else {
      b.putInt(TAG_VAR); putNonNeg(b, version, vars.length)
      vars.zip(beginsResolved).foreach { case (v, begin) =>
        putName(b, version, v.name)
        putNonNeg(b, version, v.dimIds.length)
        v.dimIds.foreach(id => putNonNeg(b, version, id))
        putAttrList(b, version, v.attrs)
        b.putInt(v.ncType); putNonNeg(b, version, vsize(v))
        if (version == 1) b.putInt(begin.toInt) else b.putLong(begin)
      }
    }
    def putValues(v: NcVar, from: Int, n: Int): Unit = v.data match {
      case NcFloats(a) => (from until from + n).foreach(i => b.putFloat(a(i)))
      case NcDoubles(a) => (from until from + n).foreach(i => b.putDouble(a(i)))
      case NcInts(a) =>
        v.ncType match {
          case NC_SHORT | NC_USHORT =>
            (from until from + n).foreach(i => b.putShort(a(i).toShort))
          case NC_BYTE | NC_UBYTE =>
            (from until from + n).foreach(i => b.put(a(i).toByte))
          case _ => (from until from + n).foreach(i => b.putInt(a(i)))
        }
      case NcLongs(a) => (from until from + n).foreach(i => b.putLong(a(i)))
      case NcChars(a) => b.put(a, from, n)
      case NcStr(s) => b.put(s.getBytes("UTF-8"), from, n)
    }
    // fixed data blocks
    vars.filterNot(isRec).foreach { v =>
      val start = b.position()
      putValues(v, 0, fixedCount(v))
      while ((b.position() - start) % 4 != 0) b.put(0.toByte)
    }
    // interleaved records
    for (r <- 0 until numrecs; v <- vars if isRec(v)) {
      val start = b.position()
      val n = perRecCount(v)
      putValues(v, r * n, n)
      if (!singleRec)
        while ((b.position() - start) % 4 != 0) b.put(0.toByte)
    }
    b.array()
  }

  def writeFile(path: String, dims: Seq[NcDim],
      globalAttrs: Seq[(String, NcVal)], vars: Seq[NcVar]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      writeBytes(dims, globalAttrs, vars))

  // ------------------------------------------------------------------ parser

  /** A parsed variable: dims resolved — the record dim reported at its
    * actual record count — and numeric data widened to Double (NC_CHAR kept
    * as raw bytes for string assembly).
    */
  final case class ParsedVar(
      name: String, dims: Seq[NcDim], ncType: Int,
      attrs: Map[String, Any], numeric: Array[Double], chars: Array[Byte])

  /** `recordDim`: name of the UNLIMITED dimension if the file has one (its
    * entry in `dims` carries the materialized record count, not 0).
    */
  final case class ParsedFile(
      dims: Seq[NcDim], globalAttrs: Map[String, Any], vars: Seq[ParsedVar],
      recordDim: Option[String] = None)

  /** Unsigned widenings for the CDF-5 extended types, exact up to 2^53
    * (Double's integer range — beyond that INT64/UINT64 round, which the
    * tabular Double model shares with xarray's float64 promotion).
    */
  private def widen(b: ByteBuffer, t: Int): Double = t match {
    case NC_BYTE => b.get().toDouble
    case NC_UBYTE => (b.get() & 0xFF).toDouble
    case NC_SHORT => b.getShort.toDouble
    case NC_USHORT => (b.getShort & 0xFFFF).toDouble
    case NC_INT => b.getInt.toDouble
    case NC_UINT => (b.getInt.toLong & 0xFFFFFFFFL).toDouble
    case NC_FLOAT => b.getFloat.toDouble
    case NC_DOUBLE => b.getDouble
    case NC_INT64 => b.getLong.toDouble
    case NC_UINT64 =>
      val x = b.getLong
      if (x >= 0) x.toDouble else x.toDouble + 1.8446744073709552E19
  }

  /** NON_NEG header field: 4 bytes (CDF-1/2) or 8 (CDF-5), bounds-checked. */
  private def readNonNeg(b: ByteBuffer, wide: Boolean, what: String): Long = {
    val n = if (wide) b.getLong else b.getInt.toLong
    if (n < -1) fail(s"$what $n out of range") // -1 = STREAMING numrecs
    n
  }

  private def readName(b: ByteBuffer, wide: Boolean): String = {
    val n0 = readNonNeg(b, wide, "name length")
    if (n0 < 0 || n0 > b.remaining) fail(s"name length $n0 out of range")
    val n = n0.toInt
    val bytes = new Array[Byte](n); b.get(bytes)
    var i = n; while (i % 4 != 0) { b.get(); i += 1 }
    new String(bytes, "UTF-8")
  }

  private def readAttrVal(b: ByteBuffer, wide: Boolean): Any = {
    val t = b.getInt
    val n0 = readNonNeg(b, wide, "attr length")
    if (n0 < 0 || n0 * typeSizeChecked(t) > b.remaining) fail(s"attr length $n0 out of range")
    val n = n0.toInt
    t match {
      case NC_CHAR =>
        val bytes = new Array[Byte](n); b.get(bytes)
        var i = n; while (i % 4 != 0) { b.get(); i += 1 }
        new String(bytes, "UTF-8")
      case _ =>
        val a = Array.fill(n)(widen(b, t))
        var i = n * typeSize(t); while (i % 4 != 0) { b.get(); i += 1 }
        a
    }
  }

  private def typeSizeChecked(t: Int): Int =
    if (t >= NC_BYTE && t <= NC_UINT64) typeSize(t)
    else fail(s"unknown nc_type $t")

  private def readAttrList(b: ByteBuffer, wide: Boolean): Map[String, Any] = {
    val tag = b.getInt
    val n = readNonNeg(b, wide, "attr count")
    if (tag == 0 || n == 0) Map.empty
    else if (n < 0 || n > b.remaining) fail(s"attr count $n out of range")
    else (0 until n.toInt).map(_ =>
      readName(b, wide) -> readAttrVal(b, wide)).toMap
  }

  /** The HDF5 signature (`\x89HDF\r\n\x1a\n`) — a NetCDF-4 container,
    * delegated to the [[Hdf5]] reader (round 10). Files using HDF5 features
    * beyond that reader's subset still quarantine as `unsupported-hdf5`
    * ("convert, don't discard"); the reference opens all of these via
    * xarray's HDF5 engine (ingest/load_data.py:201-224).
    */
  private def isHdf5(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 0x89.toByte &&
      bytes(1) == 'H' && bytes(2) == 'D' && bytes(3) == 'F'

  def parse(bytes: Array[Byte]): ParsedFile =
    if (isHdf5(bytes)) Hdf5.parseToNetCdf(bytes)
    else try parseClassic(bytes) catch {
      case e: NetCdfParseException if !hasClassicMagic(bytes) =>
        // A userblock is ARBITRARY user bytes — it can even start with
        // 'CDF' — so the HDF5-behind-userblock probe runs on any failure
        // of a file that does NOT carry a complete classic magic+version
        // (spec: the superblock may sit at any power-of-two offset >=
        // 512; addresses are base-relative, so slicing realigns them).
        // Files whose first four bytes ARE valid classic magic get their
        // original error instead: probing those would let a corrupt
        // classic file that merely EMBEDS HDF5 bytes at a power-of-two
        // offset (e.g. an .h5 payload stored in a byte variable) be
        // silently re-parsed as that embedded file — fabricated rows.
        // (Residual corner: a userblock that itself begins with all four
        // valid classic magic bytes triages as corrupt; indistinguishable
        // without guessing.)
        val off = Hdf5.userblockOffset(bytes)
        if (off > 0)
          Hdf5.parseToNetCdf(
            java.util.Arrays.copyOfRange(bytes, off, bytes.length))
        else throw e
    }

  /** First four bytes are a complete classic magic: 'C''D''F' + a version
    * this parser recognizes (1/2/5).
    */
  private def hasClassicMagic(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 &&
      bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F' &&
      (bytes(3) == 1 || bytes(3) == 2 || bytes(3) == 5)

  private def parseClassic(bytes: Array[Byte]): ParsedFile = try {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val magic = Array(b.get(), b.get(), b.get())
    if (!magic.sameElements("CDF".getBytes))
      fail("not a NetCDF classic file")
    val version = b.get()
    if (version != 1 && version != 2 && version != 5)
      fail(s"unsupported CDF version $version")
    val wide = version == 5
    // -1 = STREAMING (count derived from length); 4-byte in CDF-1/2,
    // 8-byte in CDF-5
    val numrecsRaw = readNonNeg(b, wide, "numrecs")

    val dimTag = b.getInt
    val nDims = readNonNeg(b, wide, "dim count")
    if (nDims < 0 || nDims > bytes.length) fail(s"dim count $nDims out of range")
    val dims =
      if (dimTag == 0) Seq.empty
      else (0 until nDims.toInt).map { _ =>
        val name = readName(b, wide)
        val size = readNonNeg(b, wide, s"dim $name size")
        // a >2^31 dim cannot materialize in one in-memory slab here anyway;
        // boundedCount would also reject it against the file length
        if (size < 0 || size > Int.MaxValue) fail(s"dim $name size $size out of range")
        NcDim(name, size.toInt)
      }
    if (dims.count(_.size == 0) > 1) fail("multiple record dimensions")
    val recDimId = dims.indexWhere(_.size == 0)

    val gatts = readAttrList(b, wide)

    val varTag = b.getInt
    val nVars = readNonNeg(b, wide, "var count")
    if (nVars < 0 || nVars > bytes.length) fail(s"var count $nVars out of range")
    val headers =
      if (varTag == 0) Seq.empty
      else (0 until nVars.toInt).map { _ =>
        val name = readName(b, wide)
        val nd = readNonNeg(b, wide, s"dim list length for $name")
        if (nd < 0 || nd > nDims) fail(s"dim list length $nd out of range for $name")
        val dimIds = (0 until nd.toInt).map { _ =>
          val id = readNonNeg(b, wide, s"dim id for $name")
          if (id < 0 || id >= dims.length) fail(s"dim id $id out of range for $name")
          id.toInt
        }
        if (recDimId >= 0 && dimIds.drop(1).contains(recDimId))
          fail(s"record dim must be the outermost dim: $name")
        val attrs = readAttrList(b, wide)
        val t = b.getInt
        val vsize = readNonNeg(b, wide, s"vsize for $name")
        typeSizeChecked(t)
        val begin = if (version == 1) b.getInt.toLong else b.getLong
        (name, dimIds, attrs, t, vsize, begin)
      }

    def isRec(dimIds: Seq[Int]): Boolean =
      recDimId >= 0 && dimIds.headOption.contains(recDimId)
    // element counts computed in Long and bounded by the FILE LENGTH before
    // any allocation: a corrupt dim size or numrecs must quarantine as a
    // parse error, not OOM the executor with a multi-GB array request
    // (found by the NetCdfSpec fuzz pass)
    def boundedCount(n: Long, what: String): Int = {
      if (n < 0 || n > bytes.length.toLong.max(1L))
        fail(s"$what count $n exceeds file size ${bytes.length}")
      n.toInt
    }
    def perRec(dimIds: Seq[Int]): Int = boundedCount(
      dimIds.filter(_ != recDimId).map(dims(_).size.toLong).product.max(1),
      "per-record element")
    val recHeaders = headers.filter(h => isRec(h._2))
    val singleRec = recHeaders.length == 1
    // record stride: sum of per-record slabs, each padded to 4 — unless the
    // file has exactly one record var (spec drops the padding there)
    val recsize = recHeaders.map { h =>
      val raw = perRec(h._2) * typeSize(h._4)
      if (singleRec) raw else pad4(raw)
    }.sum
    val numrecs =
      if (numrecsRaw >= 0) {
        if (numrecsRaw > bytes.length) fail(s"numrecs $numrecsRaw exceeds file size")
        numrecsRaw.toInt
      } else { // STREAMING: every record is recsize bytes after the first slab
        val recordStart = recHeaders.map(_._6).minOption.getOrElse(bytes.length.toLong)
        if (recsize == 0) 0 else ((bytes.length - recordStart) / recsize).toInt
      }
    // the record region must fit in the file (guards a corrupt numrecs)
    if (recHeaders.nonEmpty && numrecs > 0) {
      val recordStart = recHeaders.map(_._6).min
      if (recordStart < 0 ||
          recordStart + (numrecs - 1).toLong * recsize > bytes.length)
        fail(s"record region ($numrecs records of $recsize bytes from " +
          s"$recordStart) exceeds file size ${bytes.length}")
    }

    def readValues(d: ByteBuffer, t: Int, into: Array[Double], from: Int, n: Int): Unit = {
      var i = 0
      while (i < n) { into(from + i) = widen(d, t); i += 1 }
    }

    val vars = headers.map { case (name, dimIds, attrs, t, _, begin) =>
      val rec = isRec(dimIds)
      // a record-less file reads nothing of a record variable, and the
      // classic layout puts every record variable after the first past EOF
      if (begin < 0 || (begin > bytes.length && !(rec && numrecs == 0)))
        fail(s"data offset $begin out of range for $name")
      val vdims = dimIds.map { i =>
        if (i == recDimId) NcDim(dims(i).name, numrecs) else dims(i)
      }
      val count =
        if (rec) boundedCount(numrecs.toLong * perRec(dimIds), s"$name element")
        else {
          val n = boundedCount(
            dimIds.map(dims(_).size.toLong).product.max(1), s"$name element")
          // fixed data must fit between begin and EOF
          if (begin + n.toLong * typeSize(t) > bytes.length)
            fail(s"data for $name ($n x ${typeSize(t)} B at $begin) " +
              s"exceeds file size ${bytes.length}")
          n
        }
      val d = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
      if (t == NC_CHAR) {
        val raw = new Array[Byte](count)
        if (rec) {
          val n = perRec(dimIds)
          for (r <- 0 until numrecs) {
            d.position((begin + r.toLong * recsize).toInt)
            d.get(raw, r * n, n)
          }
        } else { d.position(begin.toInt); d.get(raw) }
        ParsedVar(name, vdims, t, attrs, Array.empty, raw)
      } else {
        val a = new Array[Double](count)
        if (rec) {
          val n = perRec(dimIds)
          for (r <- 0 until numrecs) {
            d.position((begin + r.toLong * recsize).toInt)
            readValues(d, t, a, r * n, n)
          }
        } else { d.position(begin.toInt); readValues(d, t, a, 0, count) }
        ParsedVar(name, vdims, t, attrs, a, Array.empty)
      }
    }
    val dimsResolved = dims.map(d => if (d.size == 0) NcDim(d.name, numrecs) else d)
    ParsedFile(dimsResolved, gatts, vars,
      if (recDimId >= 0) Some(dims(recDimId).name) else None)
  } catch {
    // malformed bytes surface as buffer/array failures mid-read — those ARE
    // parse errors for a corrupt container; rethrow typed so the tolerant
    // path can catch them narrowly
    case e: NetCdfParseException => throw e
    case e @ (_: BufferUnderflowException | _: IndexOutOfBoundsException |
              _: NegativeArraySizeException | _: IllegalArgumentException) =>
      throw new NetCdfParseException(s"malformed NetCDF container: $e", e)
  }

  // ------------------------------------------------- Argo tabularization

  /** One tabular (profile, level) observation row. */
  final case class ProfileLevel(
      float_id: String, profile_id: Long, level: Long,
      ts: Option[java.sql.Timestamp], lat: Option[Double], lon: Option[Double],
      pres: Option[Double], temp: Option[Double], psal: Option[Double])

  /** The reference's variable alias table (ingest/load_data.py:239-250),
    * matched case-insensitively (it also probes lower/upper/title variants,
    * load_data.py:259-264).
    */
  private val aliases: Map[String, Seq[String]] = Map(
    "float_id" -> Seq("platform_number", "float_serial_no", "wmo_inst_type"),
    "profile_id" -> Seq("cycle_number", "profile_number"),
    "time" -> Seq("time", "juld", "reference_date_time", "date_time"),
    "latitude" -> Seq("latitude", "lat", "position_latitude"),
    "longitude" -> Seq("longitude", "lon", "position_longitude"),
    "pressure" -> Seq("pres", "pressure", "pres_adjusted"),
    "temperature" -> Seq("temp", "temperature", "temp_adjusted"),
    "salinity" -> Seq("psal", "salinity", "psal_adjusted"))

  /** Alias matching is on the PATH BASENAME: netCDF-4 enhanced-model files
    * surface subgroup members as `grp/var` (Hdf5.parseToNetCdf), and the
    * reference opens the group whose members carry the Argo names — so
    * `obs/PRES` must resolve exactly like a root-group `PRES`. Ties (the
    * same basename in two groups — not an Argo shape) go to the first
    * match in depth-first link order, deterministically.
    */
  private def resolve(f: ParsedFile, field: String): Option[ParsedVar] = {
    val names = aliases(field)
    def base(n: String): String = n.substring(n.lastIndexOf('/') + 1)
    names.iterator
      .flatMap(a => f.vars.find(v => base(v.name).equalsIgnoreCase(a)))
      .nextOption()
  }

  /** A variable's fill value: _FillValue wins over missing_value
    * (load_data.py:320-326). NaN when it has none — NaN equals nothing, and
    * [[clean]] nulls NaN either way.
    */
  private def fillOf(v: ParsedVar): Double =
    v.attrs.get("_FillValue").orElse(v.attrs.get("missing_value")) match {
      case Some(a: Array[Double]) if a.nonEmpty => a(0)
      case Some(d: Double) => d
      case _ => Double.NaN
    }

  /** Fill-value nulling against a variable's [[fillOf]]. */
  private def clean(x: Double, fill: Double): Option[Double] =
    if (x == fill || x.isNaN) None else Some(x)

  /** Offset seconds for a timezone token: named UTC zones, `Z`, or a
    * `±hh[:mm[:ss]]` / `±hhmm` numeric offset. None if not a zone token;
    * a numeric offset past ±18:00 (or a minute or second past 59) fails.
    */
  private def zoneOffsetSeconds(tok: String): Option[Int] = tok.toUpperCase match {
    case "Z" | "UTC" | "GMT" | "UT" => Some(0)
    case t if t.matches("[+-]\\d{1,2}(:?\\d{2})?(:?\\d{2})?") =>
      val sign = if (t.startsWith("-")) -1 else 1
      val digits = t.drop(1).replace(":", "")
      val (hh, mm, ss) = digits.length match {
        case 1 | 2 => (digits.toInt, 0, 0)
        case 4 => (digits.take(2).toInt, digits.drop(2).toInt, 0)
        case 6 => (digits.take(2).toInt, digits.slice(2, 4).toInt, digits.drop(4).toInt)
        case _ => return None
      }
      if (hh > 18 || mm > 59 || ss > 59 || hh * 3600 + mm * 60 + ss > 18 * 3600)
        fail(s"timezone offset $tok out of range")
      Some(sign * (hh * 3600 + mm * 60 + ss))
    case _ => None
  }

  /** Decode a time value per its `units` attribute — "days since <epoch>" /
    * "hours since <epoch>" / "minutes/seconds since" (load_data.py:357-368).
    * The epoch accepts a date or datetime, with an optional timezone as a
    * trailing token ("... 00:00:00 UTC", "... -05:00") or attached suffix
    * ("...T00:00:00Z") — common in real-world CF units strings; numeric
    * offsets are APPLIED (epoch at -02:00 is two hours after the same
    * wall-clock at UTC), not stripped. Returns micros since
    * 1970-01-01T00:00:00Z.
    */
  private[graft] def decodeTimeMicros(units: String, value: Double): Long =
    timeDecoder(units)(value)

  /** Parses a time `units` attribute once into value => micros since the
    * Unix epoch (see [[decodeTimeMicros]]); throws what it would throw.
    */
  private def timeDecoder(units: String): Double => Long = {
    val u = units.trim
    val lower = u.toLowerCase
    val scaleMicros =
      if (lower.startsWith("days since")) 86400000000.0
      else if (lower.startsWith("hours since")) 3600000000.0
      else if (lower.startsWith("minutes since")) 60000000.0
      else if (lower.startsWith("seconds since")) 1000000.0
      else fail(s"unsupported time units: $units")
    val toks = u.substring(lower.indexOf("since") + 5).trim
      .split("\\s+").filter(_.nonEmpty).toBuffer
    if (toks.isEmpty) fail(s"no epoch in time units: $units")
    // trailing standalone zone token(s): "00:00:00 UTC", "00:00 -05:00"
    var offsetSec = 0
    while (toks.length > 1 && zoneOffsetSeconds(toks.last).isDefined) {
      offsetSec = zoneOffsetSeconds(toks.last).get
      toks.remove(toks.length - 1)
    }
    var dt = (if (toks.length >= 2 && toks(1).headOption.exists(_.isDigit))
      s"${toks(0)}T${toks(1)}" else toks(0)).replace(' ', 'T')
    // attached suffix: trailing Z, or a +/- offset after the time part (a
    // '-' is only a zone marker past the first ':', never inside the date)
    val colon = dt.indexOf(':')
    val cut = Seq(
      if (dt.toUpperCase.endsWith("Z")) dt.length - 1 else -1,
      dt.indexOf('+'),
      if (colon >= 0) dt.indexOf('-', colon) else -1).filter(_ >= 0)
    if (cut.nonEmpty) {
      val at = cut.min
      offsetSec = zoneOffsetSeconds(dt.substring(at))
        .getOrElse(fail(s"bad timezone in time units: $units"))
      dt = dt.substring(0, at)
    }
    val ld = try {
      if (dt.contains("T")) java.time.LocalDateTime.parse(dt)
      else java.time.LocalDate.parse(dt).atStartOfDay()
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new NetCdfParseException(s"bad epoch in time units: $units", e)
    }
    val epochMicros =
      ld.toEpochSecond(java.time.ZoneOffset.ofTotalSeconds(offsetSec)) * 1000000L +
        ld.getNano / 1000L
    value => epochMicros + (value * scaleMicros).round
  }

  /** NC_CHAR variables hold fixed-width strings: a (N, STRLEN) char array is
    * N trimmed strings (the trailing dim is the string width).
    */
  private def charStrings(v: ParsedVar): Array[String] = {
    val width = if (v.dims.length >= 2) v.dims.last.size else v.chars.length
    v.chars.grouped(width.max(1))
      .map(g => new String(g, "UTF-8").trim.stripSuffix(" ").trim)
      .toArray
  }

  /** Numeric float ids print as integers when integral — the reference's
    * str(int(value)) conversion (load_data.py:278-289); NaN → "unknown".
    */
  private def floatIdString(x: Double): String =
    if (x.isNaN) "unknown"
    else if (x == math.rint(x)) x.toLong.toString
    else x.toString

  /** A level column: the raw value at (profile, level), NaN where the
    * variable is absent or has no such level, and the variable's fill.
    */
  private final class LevelColumn(ov: Option[ParsedVar], nLev: Int) {
    private val fill = ov.fold(Double.NaN)(fillOf)
    val raw: (Int, Int) => Double = ov match {
      case Some(v) if v.dims.length == 2 => (p, l) => v.numeric(p * nLev + l)
      case Some(v) => (p, l) => if (l == 0) v.numeric(p) else Double.NaN
      case None => (_, _) => Double.NaN
    }
    def apply(p: Int, l: Int): Option[Double] = clean(raw(p, l), fill)
  }

  /** One parsed file's tabular view: 2D (profile × level) measurement
    * arrays explode to one row per (profile, level); 1D per-profile vars
    * broadcast across that profile's levels. Record files parse to the same
    * shape — the record dim is materialized at its record count — so native
    * Argo per-float files (N_PROF unlimited) and ERDDAP fixed-size responses
    * tabularize identically.
    *
    * Aliases and fills resolve once per file, per-profile columns once per
    * profile. The time `units` parse is lazy: a file whose time values are
    * all fill, or that has no rows, never parses them, so an unsupported
    * units string fails only a file that has a real time value.
    */
  private final class Table(f: ParsedFile) {
    private val pres = resolve(f, "pressure")
    private val temp = resolve(f, "temperature")
    private val psal = resolve(f, "salinity")
    // Profile/level extents come from the first 2D measurement var; an
    // all-1D file (ERDDAP tabledap flat response) degenerates to 1 level.
    private val (nProf, nLev) = Seq(pres, temp, psal).flatten.find(_.dims.length == 2) match {
      case Some(v) => (v.dims(0).size, v.dims(1).size)
      case None =>
        val n = Seq(pres, temp, psal).flatten.headOption
          .orElse(resolve(f, "time"))
          .map(v => v.dims.headOption.map(_.size).getOrElse(1)).getOrElse(0)
        (n, 1)
    }

    private val floatIds: Int => String = resolve(f, "float_id") match {
      case Some(v) if v.ncType == NC_CHAR =>
        val s = charStrings(v); p => if (p < s.length) s(p) else "unknown"
      case Some(v) => p => floatIdString(v.numeric(p))
      case None => _ => "unknown"
    }
    private val profIds: Int => Long = resolve(f, "profile_id") match {
      case Some(v) => p => v.numeric(p).toLong
      case None => p => p.toLong
    }
    private val times: Int => Option[java.sql.Timestamp] = resolve(f, "time") match {
      case Some(v) =>
        val fill = fillOf(v)
        lazy val toMicros: Double => Long =
          v.attrs.get("units").collect { case s: String => s } match {
            case Some(u) => timeDecoder(u)
            case None => x => (x * 1000000.0).round // already epoch seconds
          }
        p => clean(v.numeric(p), fill).map { x =>
          val micros = toMicros(x)
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            micros / 1000000L, (micros % 1000000L) * 1000L))
        }
      case None => _ => None
    }
    private def oneD(ov: Option[ParsedVar]): Int => Option[Double] = ov match {
      case Some(v) => val fill = fillOf(v); p => clean(v.numeric(p), fill)
      case None => _ => None
    }
    private val lats = oneD(resolve(f, "latitude"))
    private val lons = oneD(resolve(f, "longitude"))
    private val presC = new LevelColumn(pres, nLev)
    private val tempC = new LevelColumn(temp, nLev)
    private val psalC = new LevelColumn(psal, nLev)

    /** Visits every (profile, level) in row order with its profile's
      * columns, read once per profile before its first level.
      */
    private def walk(level: (ProfileLevel, Int, Int) => Unit): Unit =
      if (nLev > 0) for (p <- 0 until nProf) {
        val profile = ProfileLevel(floatIds(p), profIds(p), 0L, times(p), lats(p), lons(p),
          None, None, None)
        for (l <- 0 until nLev) level(profile, p, l)
      }

    def rows: Seq[ProfileLevel] = {
      val out = Vector.newBuilder[ProfileLevel]
      walk { (profile, p, l) =>
        out += profile.copy(level = l.toLong,
          pres = presC(p, l), temp = tempC(p, l), psal = psalC(p, l))
      }
      out.result()
    }

    /** The length of [[rows]], making every read it makes in the same
      * order — so a file fails here exactly where it fails there — without
      * building a row.
      */
    def rowCount: Long = {
      walk { (_, p, l) => presC.raw(p, l); tempC.raw(p, l); psalC.raw(p, l) }
      nProf.max(0).toLong * nLev.max(0)
    }
  }

  /** Tabularize one parsed file: one row per (profile, level), in that
    * order (see [[Table]]).
    */
  def tabularize(f: ParsedFile): Seq[ProfileLevel] = new Table(f).rows

  /** One file's rows, or none when its container fails to parse — only a
    * [[NetCdfParseException]]: an engine bug still fails the job instead of
    * masquerading as a corrupt upload. The tolerant per-file decode of
    * [[read]] and of the st13 streaming ingest.
    */
  private[graft] def decodeTolerant(bytes: Array[Byte]): Seq[ProfileLevel] =
    try tabularize(parse(bytes))
    catch { case _: NetCdfParseException => Seq.empty }

  /** One container-metadata row: a dimension or a variable of one file. */
  final case class InspectRow(
      file: String, kind: String, name: String,
      dtype: Option[String], shape: String, n_attrs: Long)

  private def typeName(t: Int): String = t match {
    case NC_BYTE => "byte"; case NC_CHAR => "char"; case NC_SHORT => "short"
    case NC_INT => "int"; case NC_FLOAT => "float"; case NC_DOUBLE => "double"
    case NC_UBYTE => "ubyte"; case NC_USHORT => "ushort"; case NC_UINT => "uint"
    case NC_INT64 => "int64"; case NC_UINT64 => "uint64"
  }

  /** Matches `*.nc` case-insensitively on the suffix — the reference's
    * directory scan accepts both `*.nc` and `*.NC` (main.py:367-428).
    */
  private val NcGlob = "*.{nc,NC}"

  /** Schema inspection from container bytes — the reference's
    * `inspect_netcdf_file` report (ingest/load_data.py:158-199: dims with
    * sizes, variables with dtype/shape/attr counts) as a DataFrame, one
    * task per file like [[read]]. The record (UNLIMITED) dimension reports
    * its materialized record count with dtype `record`.
    */
  def inspect(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", NcGlob).load(path)
      .select("path", "content").as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val file = p.substring(p.lastIndexOf('/') + 1)
        val f = parse(bytes)
        f.dims.map(d =>
          InspectRow(file, "dim", d.name,
            if (f.recordDim.contains(d.name)) Some("record") else None,
            d.size.toString, 0L)) ++
          f.vars.map(v => InspectRow(file, "var", v.name,
            Some(typeName(v.ncType)), v.dims.map(_.size).mkString("x"),
            v.attrs.size.toLong))
      }
      .toDF()
  }

  /** Distributed read: every .nc file under `path` becomes one task's worth
    * of parse work via Spark's binaryFile source; rows fan out from
    * `flatMap`. File-parallel is the right unit for the Argo corpus (many
    * small per-float files); parsing is a single linear pass over the
    * file's bytes.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, tolerant = false)

  /** As [[read]]; with `tolerant = true` files whose CONTAINER fails to
    * parse ([[NetCdfParseException]] only — an engine bug still fails the
    * job) are skipped instead of failing the scan — the reference loader's
    * behavior (`load_netcdf_file` catches, logs, and returns None,
    * ingest/load_data.py:222-224). At corpus scale one truncated upload
    * must not kill a million-file scan. Skips are NOT silent: pair with
    * [[scanStatus]] for the per-file quarantine ledger (which files were
    * dropped and why — the o3 skip-accounting pattern, design note 28).
    */
  def read(spark: SparkSession, path: String, tolerant: Boolean): DataFrame = {
    import spark.implicits._
    val decode: Array[Byte] => Seq[ProfileLevel] =
      if (tolerant) decodeTolerant else bytes => tabularize(parse(bytes))
    spark.read.format("binaryFile").option("pathGlobFilter", NcGlob).load(path)
      .select("content").as[Array[Byte]]
      .flatMap(decode)
      .toDF()
  }

  /** Per-file parse status for a scan directory. `status` is the operator
    * triage signal: "ok", "corrupt" (malformed bytes — discard/re-upload),
    * or "unsupported-hdf5" (a valid NetCDF-4 container — convert it).
    */
  final case class ScanStatus(
      file: String, ok: Boolean, status: String, error: Option[String],
      n_rows: Long)

  /** The quarantine ledger for a tolerant scan: one row per file with parse
    * outcome, triage status, error message, and decoded row count — what
    * `read(tolerant = true)` dropped and why. Same file-per-task fan-out as
    * [[read]]; a million-file audit is one parallel pass. The row count
    * comes from the file's shape after the same reads [[tabularize]]
    * makes, so a file is quarantined here exactly when the tolerant read
    * skips it, and no row is built.
    */
  def scanStatus(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", NcGlob).load(path)
      .select("path", "content").as[(String, Array[Byte])]
      .map { case (p, bytes) =>
        val file = p.substring(p.lastIndexOf('/') + 1)
        try {
          ScanStatus(file, ok = true, "ok", None, new Table(parse(bytes)).rowCount)
        } catch {
          case e: NetCdfParseException =>
            ScanStatus(file, ok = false, e.kind, Some(e.getMessage), 0L)
        }
      }
      .toDF()
  }
}
