package graft.expressions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_md5_split(s)` → `array<bigint>` `[hi, lo]`: the MD5 digest of `s`
  * as two big-endian signed longs (bytes 0-7 and 8-15).
  *
  * Rationale: every signature pipeline here derives integer values (hex
  * digits, 20-bit minhash lanes) from `md5()`. The builtin route allocates
  * a fresh `MessageDigest` per row (commons-codec `DigestUtils`), encodes
  * 32 hex chars into a `UTF8String`, and then the query PARSES those chars
  * back to integers (`conv`/`substr`). This expression computes the digest
  * once per row on a per-thread reused `MessageDigest` and hands back the
  * raw 128 bits — every downstream value is a shift+mask away, entirely
  * inside whole-stage codegen.
  *
  * Parity: nibble `i` (0-based, hex-char order) of the digest is
  * `(hi >>> (60 - 4*i)) & 15` for `i < 16` and
  * `(lo >>> (124 - 4*i)) & 15` for `i >= 16` — identical to digit `i+1`
  * of the hex-text lane [[graft.agg.Stats.md5HexLane]], so DuckDB oracles
  * written against the hex form are unaffected.
  */
case class Md5Split(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_split expects string or binary, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_md5_split"

  override def nullSafeEval(input: Any): Any = {
    val bytes = child.dataType match {
      case StringType => input.asInstanceOf[UTF8String].getBytes
      case _ => input.asInstanceOf[Array[Byte]]
    }
    Md5Split.digestPair(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = child.dataType match {
        case StringType => s"$c.getBytes()"
        case _ => c
      }
      s"${ev.value} = graft.expressions.Md5Split$$.MODULE$$.digestPair($bytes);"
    })

  override protected def withNewChildInternal(newChild: Expression): Md5Split =
    copy(child = newChild)
}

object Md5Split {
  private val localDigest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Digest → [hi, lo] as an unboxed array (called from generated code). */
  def digestPair(bytes: Array[Byte]): ArrayData = {
    val md = localDigest.get()
    md.reset()
    val d = md.digest(bytes)
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (d(i) & 0xffL); i += 1 }
    while (i < 16) { lo = (lo << 8) | (d(i) & 0xffL); i += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(hi, lo))
  }

  /** Column form. */
  def apply(c: Column): Column =
    GraftExpressionBridge.column(Md5Split(GraftExpressionBridge.expression(c)))
}

/** `graft_shingle_md5(toks, n)` → `array<struct<sh_hi:bigint, sh_lo:bigint>>`:
  * the DISTINCT word n-gram shingles of a token array, each digested to the
  * same `[hi, lo]` MD5 split [[Md5Split]] produces for the shingle STRING
  * (tokens joined by single spaces) — fused into one native evaluation.
  *
  * Replaces the composed hot path of the dedup family
  * (`explode(array_distinct(shingles(toks, n)))` + `graft_md5_split`):
  * higher-order functions evaluate interpreted and allocate a `UTF8String`
  * per shingle plus an array per row; this expression streams each
  * shingle's token bytes straight into a per-thread reused MessageDigest —
  * token bytes are materialized ONCE per row, no intermediate shingle
  * strings, no distinct pass (first-occurrence dedup on the 128-bit digest
  * happens inline; collisions are the usual 2^-128 non-event).
  *
  * Parity: null tokens are skipped inside a shingle exactly like
  * `concat_ws(" ", ...)` skips them, so values match the composed form
  * byte-for-byte and every DuckDB oracle written against `md5(shingle)`
  * is unaffected.
  */
case class ShingleMd5(toks: Expression, n: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def left: Expression = toks
  override def right: Expression = n

  override def checkInputDataTypes(): TypeCheckResult = toks.dataType match {
    case ArrayType(StringType, _) =>
      if (n.foldable && n.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "graft_shingle_md5 expects a foldable int shingle width")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_md5 expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("sh_hi", LongType, nullable = false),
      StructField("sh_lo", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_shingle_md5"

  override def nullSafeEval(toksVal: Any, nVal: Any): Any =
    ShingleMd5.compute(toksVal.asInstanceOf[ArrayData], nVal.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k) =>
      s"${ev.value} = graft.expressions.ShingleMd5$$.MODULE$$.compute($t, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleMd5 =
    copy(toks = newLeft, n = newRight)
}

object ShingleMd5 {
  private val localDigest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Distinct shingle digests, first-occurrence order (mirrors
    * array_distinct over the shingle strings). Called from generated code.
    */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val len = arr.numElements()
    if (k <= 0 || len < k)
      return new GenericArrayData(Array.empty[Any])
    // token bytes once per row, reused by up to k shingles each
    val tokBytes = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      tokBytes(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes
      i += 1
    }
    val md = localDigest.get()
    val out = new java.util.ArrayList[Any](len - k + 1)
    // two-tier first-occurrence dedup: a map keyed on hi resolves ~all
    // cases in one probe; the rare distinct-lo-same-hi collisions fall
    // back to an exact composite-key set
    val dedup = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    val seen = new java.util.HashSet[(Long, Long)]()
    i = 0
    while (i <= len - k) {
      md.reset()
      var first = true
      var j = 0
      while (j < k) {
        val b = tokBytes(i + j)
        if (b != null) { // concat_ws skips nulls, including its separator
          if (!first) md.update(' '.toByte)
          md.update(b)
          first = false
        }
        j += 1
      }
      val d = md.digest()
      var hi = 0L; var lo = 0L
      var p = 0
      while (p < 8) { hi = (hi << 8) | (d(p) & 0xffL); p += 1 }
      while (p < 16) { lo = (lo << 8) | (d(p) & 0xffL); p += 1 }
      // 128-bit first-occurrence dedup: key on hi, verify lo (hi collisions
      // with differing lo get a composite re-check below)
      val prev = dedup.get(hi)
      if (prev == null) {
        dedup.put(hi, lo)
        out.add(InternalRow(hi, lo))
      } else if (prev.longValue() != lo) {
        // rare hi-collision with distinct lo: exact check on the FULL
        // 128-bit pair (a folded 64-bit key here could alias two distinct
        // digests that share hi and silently drop a shingle)
        if (seen.add((hi, lo))) out.add(InternalRow(hi, lo))
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column form. */
  def of(toksCol: Column, n: Int): Column =
    GraftExpressionBridge.column(ShingleMd5(
      GraftExpressionBridge.expression(toksCol),
      org.apache.spark.sql.catalyst.expressions.Literal(n)))
}

/** `graft_minhash_lanes(dgs, k)` → `array<bigint>`: the per-lane minima of
  * the first `k` 20-bit MinHash lanes over a `graft_shingle_md5` digest
  * array, null when the array is empty (no shingle, no signature).
  *
  * Lane `j` is bits [20j, 20j+20) of the 128-bit digest, counted from its
  * most significant bit — the same value `Dedup.minhashLane(j)` computes on
  * one exploded `(sh_hi, sh_lo)` row — so the lanes equal `Dedup.minhashAggs`
  * over the document's shingle rows without exploding them into rows and
  * grouping them back. One pass over the array computes every lane.
  */
case class MinHashLanes(dgs: Expression, k: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.IntegerType

  override def left: Expression = dgs
  override def right: Expression = k

  override def checkInputDataTypes(): TypeCheckResult =
    if (!MinHashLanes.isDigests(dgs.dataType)) TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_lanes expects array<struct<bigint,bigint>>, got ${dgs.dataType.simpleString}")
    else if (k.foldable && k.dataType == IntegerType &&
        Option(k.eval()).exists(v => (1 to 6).contains(v.asInstanceOf[Int])))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_minhash_lanes expects a foldable int lane count in 1..6 (md5 has 6 20-bit lanes)")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_lanes"

  override def nullSafeEval(dgsVal: Any, kVal: Any): Any =
    MinHashLanes.compute(dgsVal.asInstanceOf[ArrayData], kVal.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (d, n) =>
      s"""${ev.value} = graft.expressions.MinHashLanes$$.MODULE$$.compute($d, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashLanes =
    copy(dgs = newLeft, k = newRight)
}

object MinHashLanes {
  private val Mask = 0xfffffL

  /** Whether `dt` is a digest array: `array<struct<bigint, bigint>>`. */
  def isDigests(dt: DataType): Boolean = dt match {
    case ArrayType(org.apache.spark.sql.types.StructType(Array(h, l)), _) =>
      h.dataType == LongType && l.dataType == LongType
    case _ => false
  }

  /** Lane `j` of one digest `(hi, lo)`. */
  def lane(j: Int, hi: Long, lo: Long): Long = j match {
    case 0 => (hi >>> 44) & Mask
    case 1 => (hi >>> 24) & Mask
    case 2 => (hi >>> 4) & Mask
    case 3 => ((hi & 15L) << 16) | ((lo >>> 48) & 0xffffL)
    case 4 => (lo >>> 28) & Mask
    case 5 => (lo >>> 8) & Mask
    case _ => throw new IllegalArgumentException("md5 yields at most 6 20-bit lanes")
  }

  /** Per-lane minima, or null for an empty array. Called from generated code. */
  def compute(dgs: ArrayData, k: Int): ArrayData = {
    val n = dgs.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val d = dgs.getStruct(i, 2)
      val hi = d.getLong(0); val lo = d.getLong(1)
      var j = 0
      while (j < k) {
        val v = lane(j, hi, lo)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Column form. */
  def of(dgsCol: Column, k: Int): Column =
    GraftExpressionBridge.column(MinHashLanes(
      GraftExpressionBridge.expression(dgsCol),
      org.apache.spark.sql.catalyst.expressions.Literal(k)))
}

/** `graft_digest_overlap(a, b)` → `int`: how many digests two distinct
  * `graft_shingle_md5` arrays share, i.e. `|a ∩ b|` on the full 128 bits.
  * The smaller array goes into an open-addressing table keyed on the
  * digest, the larger one probes it: O(|a| + |b|), no boxing.
  * `size(array_intersect(a, b))` gives the same count, but on struct
  * elements it compares every pair through an interpreted ordering,
  * O(|a| · |b|) per candidate pair.
  */
case class DigestOverlap(a: Expression, b: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.IntegerType

  override def left: Expression = a
  override def right: Expression = b

  override def checkInputDataTypes(): TypeCheckResult =
    if (MinHashLanes.isDigests(a.dataType) && MinHashLanes.isDigests(b.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_digest_overlap expects two array<struct<bigint,bigint>>, got " +
        s"${a.dataType.simpleString} and ${b.dataType.simpleString}")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_digest_overlap"

  override def nullSafeEval(aVal: Any, bVal: Any): Any =
    DigestOverlap.count(aVal.asInstanceOf[ArrayData], bVal.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expressions.DigestOverlap$$.MODULE$$.count($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DigestOverlap =
    copy(a = newLeft, b = newRight)
}

object DigestOverlap {
  /** `|a ∩ b|` for two arrays of distinct digests. Called from generated code. */
  def count(a: ArrayData, b: ArrayData): Int = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    if (n == 0) return 0
    // power-of-two table at most half full; a slot is empty while its flag is unset
    val cap = Integer.highestOneBit(n * 2 - 1) << 1
    val mask = cap - 1
    val his = new Array[Long](cap); val los = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    def slot(hi: Long, lo: Long): Int = {
      val h = hi ^ (lo * 0x9e3779b97f4a7c15L)
      ((h ^ (h >>> 32)).toInt) & mask
    }
    var i = 0
    while (i < n) {
      val d = small.getStruct(i, 2)
      val hi = d.getLong(0); val lo = d.getLong(1)
      var s = slot(hi, lo)
      while (used(s)) s = (s + 1) & mask
      used(s) = true; his(s) = hi; los(s) = lo
      i += 1
    }
    var hits = 0
    i = 0
    val m = large.numElements()
    while (i < m) {
      val d = large.getStruct(i, 2)
      val hi = d.getLong(0); val lo = d.getLong(1)
      var s = slot(hi, lo)
      while (used(s) && !(his(s) == hi && los(s) == lo)) s = (s + 1) & mask
      if (used(s)) hits += 1
      i += 1
    }
    hits
  }

  /** Column form. */
  def apply(a: Column, b: Column): Column =
    GraftExpressionBridge.column(DigestOverlap(
      GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))
}
