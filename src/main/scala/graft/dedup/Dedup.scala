package graft.dedup

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Large-scale training-data deduplication operators.
  *
  * The reference dedups only by exact key (ON CONFLICT — ingest/db_handler.py
  * :180-245); a 100 TB training-data pipeline needs content-level dedup too.
  * All operators here are pure DataFrame compositions:
  *
  *   - exact: md5(content) hash-groupBy — one shuffle on the hash.
  *   - MinHash+LSH: shingle → per-seed min-hash signature → banded bucket
  *     keys → bucket groupBy. Candidate generation never does an O(n²) join:
  *     cost is bounded by bucket sizes, which is the property that makes it
  *     viable at 100 TB (the brute-force pairwise alternative is not).
  *   - SimHash: per-token bit votes → 16-bit fingerprint (hex-digit parity
  *     of md5 — chosen because it is expressible identically in the DuckDB
  *     oracle; the scale path widens to 64 bits with the same shape).
  *   - n-gram Jaccard: array_intersect/size over distinct shingle sets for
  *     an explicitly-generated candidate pair list (LSH output at scale).
  *
  * Hashes are md5 (same lowercase hex in Spark and DuckDB) so every operator
  * is oracle-checkable bit-for-bit.
  */
object Dedup {

  /** Lower-cased whitespace tokens, empties dropped. */
  def tokens(textCol: Column): Column =
    filter(split(lower(textCol), "\\s+"), t => t =!= "")

  /** Word n-gram shingles of a token array (empty array when too short).
    * Built with element_at (O(1) per access) rather than slice (which
    * materializes a sub-array per shingle) — ~n× less allocation on the
    * shingle-explode hot path.
    *
    * The token-array expression is bound ONCE as a lambda variable via a
    * single-element `transform(array(toks), tks => ...)` wrapper. Without
    * the binding, every reference to `toksCol` inside the inner lambda is a
    * full copy of the caller's expression tree — and higher-order functions
    * evaluate their lambda body INTERPRETED, re-evaluating children per
    * element, so a caller passing `tokens(text)` (split+lower+filter) would
    * re-run the regex split ~n× per shingle (~270× per document at n=3;
    * measured 3.5× slower steady-state / 14× cold on the dd8 pipeline).
    * The binding makes those references a variable lookup. NULL path is
    * unchanged: a null token array flows to the `otherwise` branch either
    * way, yielding an empty array.
    */
  def shingles(toksCol: Column, n: Int): Column =
    element_at(
      transform(array(toksCol), tks =>
        when(size(tks) >= n,
          transform(sequence(lit(0), size(tks) - n),
            i => concat_ws(" ", (1 to n).map(j => element_at(tks, i + lit(j))): _*)))
          .otherwise(array().cast("array<string>"))),
      1)

  /** Exact-dup groups: one row per distinct content hash with the surviving
    * (minimum) id and the copy count.
    */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("content_hash", md5(col(textCol)))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash lane `j` as a NUMERIC 20-bit value: nibbles [5j, 5j+5) of the
    * split digest (`sh_hi`/`sh_lo` from [[withShingleHash]]). Equals the
    * integer value of the 5-hex-char chunk at offset 5j of `md5(shingle)`
    * — and since those chunks are fixed-width lowercase hex, numeric MIN
    * and string MIN pick the same winner, so signatures (and every oracle
    * written against the hex form) are unchanged. Arithmetic >> plus mask
    * is sign-safe: the mask keeps exactly the shifted-down window.
    */
  def minhashLane(j: Int): Column = j match {
    case 0 => expr("(sh_hi >> 44) & 1048575")
    case 1 => expr("(sh_hi >> 24) & 1048575")
    case 2 => expr("(sh_hi >> 4) & 1048575")
    case 3 => expr("((sh_hi & 15) << 16) | ((sh_lo >> 48) & 65535)")
    case 4 => expr("(sh_lo >> 28) & 1048575")
    case 5 => expr("(sh_lo >> 8) & 1048575")
    case _ => throw new IllegalArgumentException("md5 yields at most 6 20-bit lanes")
  }

  /** MinHash signature columns over an exploded (`doc_id`, `shingle`) frame.
    * All lanes derive from ONE digest per shingle ([[withShingleHash]] —
    * 6× less hashing than one md5 per lane, which is what dominates the
    * shingle scan at scale); each lane is a shift+mask, the per-doc minimum
    * a numeric min, and all lanes aggregate in ONE groupBy (one shuffle).
    */
  def minhashAggs(numSeeds: Int): Seq[Column] = {
    require(numSeeds <= 6, "md5 provides 128 bits = at most 6 20-bit lanes")
    (0 until numSeeds).map(j => min(minhashLane(j)).as(s"mh$j"))
  }

  /** Compute the shingle digest ONCE per row, as two longs via the native
    * `graft_md5_split` expression — no 32-char hex string, no parse-back;
    * downstream lane extraction and join keys are integer ops.
    */
  def withShingleHash(df: DataFrame): DataFrame =
    df.withColumn("__mh", graft.expressions.Md5Split(col("shingle")))
      .withColumn("sh_hi", element_at(col("__mh"), 1))
      .withColumn("sh_lo", element_at(col("__mh"), 2))
      .drop("__mh")

  /** LSH band keys from a signature row: bands of `rowsPerBand` signature
    * entries hashed together. Numeric lanes are re-formatted to their
    * 5-char lowercase-hex form FIRST (per doc, not per shingle), so band
    * keys are byte-identical to the hex-lane implementation and the DuckDB
    * oracles keep matching. Returns an array<struct<band_id,band_key>>.
    */
  def bandKeys(numSeeds: Int, rowsPerBand: Int): Column = {
    val bands = (0 until numSeeds / rowsPerBand).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(j => format_string("%05x", col(s"mh$j")))
      struct(lit(b).as("band_id"), md5(concat(parts: _*)).as("band_key"))
    }
    array(bands: _*)
  }

  /** 16-bit SimHash over a (`doc_id`, `token`, `cnt`) frame. Bit b of a
    * token is the parity of hex digit b of md5(token); the document bit is
    * the sign of the count-weighted vote sum.
    *
    * All 16 bit-votes are computed as WIDE columns in one scan pass and
    * aggregated in ONE groupBy — not by exploding a bit-index column, which
    * would amplify the token frame 16× and add a second shuffle. (At 100 TB
    * that amplification is the difference between one pass and a broken
    * stage.)
    */
  def simhash16(docTokenCounts: DataFrame, idCol: String): DataFrame = {
    // bit b = parity (LSB) of hex digit b: one native graft_md5_split digest
    // (ThreadLocal MessageDigest, no hex round-trip), every bit a
    // shift+mask off the high 64 bits — identical values to the per-digit
    // instr form, so the DuckDB oracle is unchanged
    val withVotes = docTokenCounts
      .withColumn("hi", element_at(graft.expressions.Md5Split(col("token")), 1))
      .select(
        col(idCol) +:
          (0 until 16).map { b =>
            (col("cnt") * (expr(s"(hi >> ${(15 - b) * 4}) & 1") * 2 - 1)).as(s"v$b")
          }: _*)
    withVotes
      .groupBy(col(idCol))
      .agg(
        sum(col("v0")).as("w0"),
        (1 until 16).map(b => sum(col(s"v$b")).as(s"w$b")): _*)
      .select(
        col(idCol),
        (0 until 16)
          .map(b => when(col(s"w$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _)
          .cast("long").as("simhash16"))
  }

  /** Bit width of the wide SimHash: 63 keeps the fingerprint positive in a
    * signed 64-bit long, so shifts/masks behave identically in Spark and
    * DuckDB (1<<63 overflows DuckDB's BIGINT).
    */
  val WideBits = 63

  /** Wide (63-bit) SimHash over a (`doc_id`, `token`, `cnt`) frame — the
    * scale variant of [[simhash16]]. Bit b is bit (b mod 4) of md5 hex
    * digit (b div 4), aggregated in one groupBy with no row amplification.
    *
    * Counter packing: the signed vote w_b = Σ cnt·(bit±1) equals 2·S_b − T
    * where S_b = Σ cnt over rows with bit b set and T = Σ cnt, so only the
    * NON-NEGATIVE S_b need aggregating — and five 12-bit S counters pack
    * into each long. 63 bits therefore need 13 packed sum columns + 1
    * total, not 63 separate sums: a 63-field aggregate buffer generates
    * codegen methods past the JIT's compile limit and silently runs
    * interpreted (~8× slower, measured). Bound: T < 4096 per doc — chunk
    * longer docs upstream (fixtures max ~100 tokens).
    */
  def simhashWide(docTokenCounts: DataFrame, idCol: String): DataFrame = {
    val GroupSize = 5 // S counters per packed long (5 × 12 bits < 63)
    val CtrBits = 12
    val nGroups = (WideBits + GroupSize - 1) / GroupSize
    // The 16 hex digits come from ONE native graft_md5_split digest (per-
    // thread MessageDigest reuse, no 32-char hex string, no parse-back):
    // digit d == nibble d-1 == (hi >> (16-d)*4) & 15 — identical to
    // instr('0123456789abcdef', substr(md5(t), d, 1)) - 1, so the DuckDB
    // oracle (which keeps the hex form) is bit-identical.
    val withDigits = docTokenCounts
      .withColumn("hi", element_at(graft.expressions.Md5Split(col("token")), 1))
      .select(
        Seq(col(idCol), col("cnt")) ++
          (1 to 16).map { d =>
            expr(s"(hi >> ${(16 - d) * 4}) & 15").as(s"d$d")
          }: _*)
    val packed = withDigits.select(
      Seq(col(idCol), col("cnt")) ++
        (0 until nGroups).map { g =>
          val bits = (g * GroupSize) until math.min((g + 1) * GroupSize, WideBits)
          bits.zipWithIndex.map { case (b, pos) =>
            expr(s"((d${b / 4 + 1} >> ${b % 4}) & 1) * cnt") * lit(1L << (CtrBits * pos))
          }.reduce(_ + _).as(s"p$g")
        }: _*)
    packed
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("tot"),
        (0 until nGroups).map(g => sum(col(s"p$g")).as(s"s$g")): _*)
      .select(
        col(idCol),
        (0 until WideBits).map { b =>
          val g = b / GroupSize; val pos = b % GroupSize
          // bit set ⇔ w_b > 0 ⇔ 2·S_b > T
          when(shiftright(col(s"s$g"), CtrBits * pos)
            .bitwiseAND(lit((1L << CtrBits) - 1)) * 2 > col("tot"), lit(1L << b))
            .otherwise(0L)
        }.reduce(_ + _).cast("long").as("simhash"))
  }

  /** Hamming-ball near-dup candidates over wide simhashes. LSH on the
    * fingerprint itself: split into `bands` chunks — any pair within
    * Hamming distance < bands shares at least one exact chunk (pigeonhole),
    * so candidate generation is equi-joins on chunk values, never O(n²)
    * (pairs farther than `bands-1` bits may be missed unless they share a
    * chunk — the standard LSH recall trade-off).
    * Returns pairs with their exact Hamming distance ≤ `maxDist`.
    */
  def hammingPairs(sigs: DataFrame, idCol: String, hashCol: String,
      bands: Int, maxDist: Int): DataFrame = {
    val width = WideBits / bands
    val mask = (1L << width) - 1
    val banded = sigs.select(
      col(idCol), col(hashCol),
      posexplode(array((0 until bands).map(b =>
        struct(lit(b).as("band_id"),
          expr(s"($hashCol >> ${b * width}) & $mask").as("chunk"))): _*))
        .as(Seq("pos", "bc")))
      .select(col(idCol).as("id"), col(hashCol).as("h"),
        col("bc.band_id"), col("bc.chunk"))
    // Pairs are generated WITHIN each bucket from its gathered member list,
    // not by self-joining `banded`: a self-join consumes the (expensive)
    // signature lineage twice — exchange reuse only shares work up to the
    // last shuffle boundary — and shuffles every candidate pair again for
    // dedup. Here sigs flow through ONCE, one groupBy gathers each
    // bucket, and the i<j pair expansion is a per-bucket array transform
    // whose cost is bounded by bucket size (the LSH invariant; compose the
    // exact-dedup pre-pass upstream so identical documents can't create a
    // degenerate hot bucket). sort_array orders members by id, so taking
    // only later elements yields each pair exactly once with id_a < id_b.
    // Cross-band dedup WITHOUT a pair-level shuffle: a pair that collides
    // in several bands would be emitted once per matching band, but "does
    // band b match" is a pure function of the pair's XOR (chunk b of
    // x⊕y == 0), so each pair is kept only in its LOWEST matching band via
    // a local filter — replacing the `.distinct()` exchange that round 4
    // measured as one of dd6's three chained shuffles.
    val members = col("members")
    banded.groupBy("band_id", "chunk")
      .agg(sort_array(collect_list(struct(col("id"), col("h")))).as("members"))
      .filter(size(members) > 1)
      .select(col("band_id"), explode(flatten(transform(members, (x, i) =>
        transform(slice(members, i + lit(2), size(members)),
          y => struct(
            x.getField("id").as("id_a"),
            y.getField("id").as("id_b"),
            x.getField("h").bitwiseXOR(y.getField("h")).as("x")))))).as("p"))
      .filter((0 until bands).map(b =>
        (col("band_id") <= b) || (expr(s"(p.x >> ${b * width}) & $mask") =!= 0))
        .reduce(_ && _))
      .select(col("p.id_a"), col("p.id_b"),
        bit_count(col("p.x")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Jaccard similarity between two distinct-shingle array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter / (size(a) + size(b) - inter)
  }

  /** Distinct candidate pairs (id_a < id_b) from minhash band buckets.
    * Same bucket-gather + per-bucket i<j expansion recipe as
    * [[hammingPairs]]: signatures flow through ONCE (no self-join), pair
    * volume is bounded by bucket size (the LSH invariant — compose
    * [[exactDupGroups]] upstream so clones can't create a hot bucket).
    * Input: a signature frame with mh0..mh{n-1} columns and `idCol`.
    * Each bucket member carries its `side`, so `keep(side_a, side_b)`
    * selects pairs inside the bucket expansion — a cross-side filter
    * costs no join back to a side table.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
      numSeeds: Int, rowsPerBand: Int,
      side: Column = lit(0), keep: (Column, Column) => Column = AnyPair): DataFrame = {
    val members = col("members")
    sigs.select(col(idCol).as("id"), side.as("side"),
        explode(bandKeys(numSeeds, rowsPerBand)).as("b"))
      .select(col("id"), col("side"), col("b.band_id"), col("b.band_key"))
      .groupBy("band_id", "band_key")
      .agg(sort_array(collect_list(struct(col("id"), col("side")))).as("members"))
      .filter(size(members) > 1)
      .select(explode(flatten(transform(members, (x, i) =>
        transform(slice(members, i + lit(2), size(members)),
          y => struct(x("id").as("id_a"), x("side").as("side_a"),
            y("id").as("id_b"), y("side").as("side_b")))))).as("p"))
      .filter(keep(col("p.side_a"), col("p.side_b")))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Pair predicate that keeps every candidate. */
  val AnyPair: (Column, Column) => Column = (_, _) => lit(true)

  /** One signature row per document of a `(doc_id, text, side)` frame
    * that has at least one shingle: `(doc_id, side, dgs, nsh, mh0..)`, where
    * `dgs` is the document's distinct word-n-gram digests (the fused native
    * graft_shingle_md5: no interpreted HOF chain, no intermediate shingle
    * strings; ShingleMd5Spec pins parity with the composed
    * explode(array_distinct(shingles)) form), `nsh` their count and `mhj`
    * the minimum of MinHash lane j over them. The lanes come from one
    * native pass over the array (graft_minhash_lanes), in the same narrow
    * projection: no shingle-row explode, no group-by back to documents, no
    * shuffle. PropertySpec pins them against [[minhashAggs]] over
    * [[withShingleHash]] rows.
    *
    * Lazily checkpointed: band keys and the verify both read it, and round
    * 5 measured the tokenize+shingle+md5 recompute at ~10x the checkpoint
    * write even on a 584 KB corpus (dd8/dd9/dd10 at sf0.1: 11.1 s without
    * vs 7.9 s with). Shingle-less documents (null, empty, fewer tokens than
    * one shingle) are dropped on the checkpoint's read side: a filter on
    * `nsh` ahead of the checkpoint would be pushed down into its scan as a
    * second evaluation of the digest chain.
    */
  private[graft] def signatures(docs: DataFrame, shingleN: Int,
      numSeeds: Int): DataFrame =
    docs.select(col("doc_id"), col("side"),
        graft.expressions.ShingleMd5.of(tokens(col("text")), shingleN).as("dgs"))
      .select(col("doc_id"), col("side"), col("dgs"),
        size(col("dgs")).cast("long").as("nsh"),
        graft.expressions.MinHashLanes.of(col("dgs"), numSeeds).as("__mh"))
      .select(Seq("doc_id", "side", "dgs", "nsh").map(col) ++
        (0 until numSeeds).map(j => element_at(col("__mh"), j + 1).as(s"mh$j")): _*)
      .localCheckpoint(false)
      .filter(col("nsh") > 0)

  /** Every `id_a < id_b` pair of a `(doc_id, text, side)` frame that shares
    * a band bucket — a pair list, so no rep tier (SURVEY §9 decision 34
    * exempts pair-list outputs: they are themselves quadratic in clones).
    */
  def bandCandidates(docs: DataFrame, shingleN: Int = 3, numSeeds: Int = 6,
      rowsPerBand: Int = 2): DataFrame =
    lshCandidatePairs(signatures(docs, shingleN, numSeeds), "doc_id",
      numSeeds, rowsPerBand)

  /** The frames a [[nearDupSpine]] caller fans verified rep pairs back out
    * with:
    *   - `slim`: `(doc_id, side, dg)`, one md5 digest per input doc;
    *   - `reps`: `(dg, side, rep_id, n_copies)`, the minimum id of each
    *     (digest, side) and its copy count;
    *   - `sizes`: `(doc_id, nsh)`, distinct shingles per rep doc;
    *   - `verified`: `(id_b, id_a, n_inter, nsh_a, nsh_b, jaccard)` over the
    *     rep pairs the caller's predicate kept (see [[verifyJaccard]]).
    */
  final case class NearDups(slim: DataFrame, reps: DataFrame,
      sizes: DataFrame, verified: DataFrame)

  /** The near-duplicate spine every per-document LSH consumer runs (SURVEY
    * §9 decision 34): exact rep tier → per-document signatures (shingle
    * digests and MinHash lanes) → band candidates → Jaccard verify over
    * the digest arrays, over a `(doc_id, text, side)` frame (`side` an
    * int, constant for single-sided callers; doc ids unique across sides).
    *
    * EXACT TIER: byte-identical texts collapse to their min-id rep per
    * (digest, side) BEFORE any shingle work. Without it, in-bucket
    * candidate generation is O(c²) per clone group and the verify
    * amplifies that by shingles/doc — the sf10 rehearsal (100
    * identical copies per text) caught it as a 70 GB spill (dd8) and 94 s
    * (dc2). Expansion back is exact: clones share shingle sets, hence
    * signatures, buckets and jaccard, so a verified rep pair stands for
    * every clone pair of its two digests — callers fan out through `slim`
    * and `reps`. `slim` is checkpointed: every tier consumer (rep
    * selection, the semi join, callers' fan-out joins) reads its ~40 B rows
    * instead of re-scanning and re-hashing the corpus text; full text never
    * routes through the digest shuffle, and the rep corpus comes back by a
    * doc_id semi join. `reps` is NOT checkpointed: the semi join computes
    * it inline within the shingle job, and a fan-out's recompute is a slim
    * scan+md5+agg — cheaper than one more eager materialization.
    *
    * No repartition: the rep docs keep their input's partitioning. A
    * 32-way spread of the rep docs (what dd8 and dc2 did before the spine)
    * cost the perfbench `batch` dedup pass 28% in `side_p50_ms`, a spread
    * at the session's shuffle width 18%, and a 32-way spread of the input
    * ahead of the spine made dd9/dd10/dd16/dc2 18-30% slower at sf0.1 in
    * one SpotBench pair, while no spread at all was faster there too
    * (BENCH_NOTES "Near-dup spine").
    *
    * `keep(side_a, side_b)` selects candidates inside the band buckets (see
    * [[lshCandidatePairs]]); the pair list is consumed once by the verify,
    * so it is NOT checkpointed. The signature checkpoint is the spine's
    * second and last: band keys read its lanes, the verify its digest
    * arrays and sizes.
    */
  def nearDupSpine(docs: DataFrame, keep: (Column, Column) => Column,
      shingleN: Int = 3, numSeeds: Int = 6, rowsPerBand: Int = 2): NearDups = {
    val slim = docs.select(col("doc_id"), col("side"), md5(col("text")).as("dg"))
      .localCheckpoint(false)
    val reps = slim.groupBy("dg", "side")
      .agg(min("doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
    val repDocs = docs
      .join(reps.select(col("rep_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val sigs = signatures(repDocs, shingleN, numSeeds)
    val cands = lshCandidatePairs(sigs, "doc_id", numSeeds, rowsPerBand,
      col("side"), keep)
    NearDups(slim, reps, sigs.select("doc_id", "nsh"), verifyJaccard(cands, sigs))
  }

  /** Name of the thread a [[connectedComponents]] call warms its
    * checkpoints on.
    */
  private[graft] val WarmThreadName = "graft-cc-warm"

  /** Background checkpoint warms of ONE [[connectedComponentsWithStats]]
    * call. `warm` runs a `count()` over a lazily-checkpointed frame's RDD so
    * the workers compute its blocks WHILE the driver constructs and plans
    * the downstream round (analysis/codegen is single-threaded driver work
    * during which every worker core otherwise idles). Per-call work is
    * unchanged; nothing is cached across calls. Invariants:
    *   - warms run one at a time, on the handle's single thread;
    *   - every warm has finished and MARKED its checkpoint before the
    *     round's first action ([[await]]), which re-throws the first warm
    *     failure;
    *   - no warm escapes the call: [[close]], in the caller's `finally`,
    *     drops warms that have not started and waits out the running one.
    * Why marking must not overlap another job over the same RDD: a lazily-
    * checkpointed RDD is marked at the end of whichever job over it
    * finishes first, on that job's thread, under Spark's GLOBAL
    * `RDDCheckpointData$` lock, while a concurrent stage submission visiting
    * the same RDD takes the locks in the opposite order (RDD →
    * `RDDCheckpointData$` via `RDD.partitions`) — an ABBA deadlock, seen in
    * a jstack as a broadcast-exchange marking against
    * `dag-scheduler-event-loop`. Two concurrent warms of dependent frames
    * interleave the same way, hence one thread. Driver planning takes
    * neither lock, so planning may overlap a warm. Checkpointing may not:
    * with AQE on, `localCheckpoint(false)` runs the plan's query stages at
    * once, so a checkpoint built over a frame whose warm is still pending
    * deadlocks the same way (seen as round one's `next` against the seed's
    * warm). Hence only each round's own checkpoint is warmed, between its
    * construction and the round's [[await]].
    */
  private[graft] final class CcWarms {
    import java.util.concurrent.{ExecutionException, Executors, Future, TimeUnit}
    private var thread: Thread = null
    private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      thread = new Thread(r, WarmThreadName)
      thread.setDaemon(true)
      thread
    }
    private val pending = scala.collection.mutable.ArrayBuffer.empty[Future[_]]

    def warm(df: DataFrame): Unit = {
      val rdd = checkpointRdd(df)
      pending += pool.submit(new Runnable { def run(): Unit = { rdd.count(); () } })
    }

    def await(): Unit = {
      pending.foreach { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
      pending.clear()
    }

    def close(): Unit = {
      pending.foreach(_.cancel(false))
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      if (thread != null) thread.join()
      pending.clear()
    }
  }

  /** The RDD behind a `localCheckpoint`ed frame. A job over it plans and
    * compiles nothing: it computes (and marks) the checkpoint, or reads its
    * blocks once marked.
    */
  private def checkpointRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Unsettled-node ceiling under which a round runs the tier-2
    * bichromatic-edge probe (see the convergence comment inside
    * [[distributedLabels]]).
    */
  val BichromProbeMax = 65536L

  /** Pair-count ceiling of [[connectedComponents]]'s driver union-find: the
    * smaller of 2^20 pairs and one pair per 2 KiB of driver heap. Measured
    * on 4 cores with long ids (BENCH_NOTES "Small dup graphs on the
    * driver"): the driver path beat the distributed rounds at 515k, 1M and
    * 2M pairs; it ran 1M pairs in a 1 GiB heap and 2M in 2 GiB, but not 2M
    * in 1 GiB, where the rounds still ran. 2 KiB a pair keeps it at about
    * twice the heap it was seen to need; the 2^20 cap keeps the edge
    * collect far under `spark.driver.maxResultSize`'s 1 GiB default on a
    * large heap.
    */
  private[graft] val DriverUnionFindMax: Long =
    math.min(1L << 20, Runtime.getRuntime.maxMemory / 2048)

  /** Which algorithm produced a [[connectedComponentsWithStats]] labelling. */
  private[graft] sealed trait CcTier
  private[graft] object CcTier {
    /** The pair list fit under the driver bound: one union-find. */
    case object DriverUnionFind extends CcTier
    /** Min-label propagation with pointer jumping converged. */
    case object Propagation extends CcTier
    /** Propagation hit its round cap; large-star/small-star rounds labelled. */
    case object Stars extends CcTier
  }

  /** @param rounds propagation rounds run (none on the driver tier) */
  private[graft] final case class CcStats(tier: CcTier, rounds: Int)

  /** Connected components over an undirected pair list (id_a, id_b).
    * Returns (member_id, group_id = component minimum under the id type's
    * ordering), one row per distinct node, ids in the pairs' own type.
    *
    * The pair list is read ONCE, into a checkpoint of its directed edges
    * (both orientations of every pair); callers typically hand in an
    * expensive lineage (dd9/dd10/dd16 pass the whole LSH + verify
    * pipeline), and every later step reads that checkpoint's blocks. The
    * job that materializes it also counts it, and the count picks the path:
    *
    *   - at most [[DriverUnionFindMax]] pairs (2^20, less on a driver heap
    *     under 2 GiB): one more job collects the edges and a driver
    *     union-find that keeps each component's minimum id as its root
    *     labels them. The labels come back as a local relation, or over
    *     an RDD once they pass [[LocalLabelsMax]] rows. On a
    *     near-dup pair list of a few hundred pairs the distributed tiers
    *     spend ~15 jobs and ~45 generated classes a call, about 1 s of
    *     fixed cost, on what the union-find does in microseconds; up to
    *     the bound the driver path was measured faster too.
    *   - above it: min-label propagation with POINTER JUMPING over the
    *     checkpoint. Every node starts labeled with its own id; each round
    *     labels flow across edges (every node keeps the minimum seen), then
    *     every label is replaced by its label's label
    *     (`label(x) ← label(label(x))`) — the star-contraction step that
    *     halves remaining label-chain depth, so convergence is O(log
    *     diameter) rounds, not O(diameter): a 1M-node chain needs ~20
    *     rounds, not 1M. Per-round localCheckpoint stops lineage doubling.
    *     If the round cap is hit, the large-star/small-star rounds of
    *     [[connectedComponentsStars]] label the same checkpoint instead:
    *     partially propagated labels are never returned.
    *
    * Ids of a type whose values Spark does not compare by plain value
    * equality (floating point, binary, collated strings, nested types) take
    * the distributed path at any size.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithStats(pairs, maxIter)._1

  /** [[connectedComponents]] plus which tier labelled and how many
    * propagation rounds ran — the stats let specs pin the convergence-tier
    * behavior (e.g. that a diameter-2 graph exits on round ONE via the
    * post-jump probe) instead of only the labels, which every tier gets
    * right. `driverMax` is the driver-path bound in pairs; specs pass 0 to
    * drive the distributed tiers on small graphs.
    */
  private[graft] def connectedComponentsWithStats(
      pairs: DataFrame, maxIter: Int = 50,
      driverMax: Long = DriverUnionFindMax): (DataFrame, CcStats) = {
    // Each pair explodes into its two directed orientations inside the edge
    // checkpoint's own plan: a two-branch union would scan the caller's
    // lineage twice. The checkpoint is a narrow two-column frame whose
    // write cost is noise.
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(false)
    val edgeRdd = checkpointRdd(edges)
    val nPairs = edgeRdd.count() / 2 // materializes and marks the checkpoint
    val idType = edges.schema("src").dataType
    if (nPairs <= driverMax && valueKeyed(idType)) {
      val labels = unionFindLabels(edgeRdd.collect(), idType)
      val out = Seq(
        AttributeReference("member_id", idType, edges.schema("src").nullable)(),
        AttributeReference("group_id", idType, nullable = true)())
      (labelFrame(pairs.sparkSession, out, labels), CcStats(CcTier.DriverUnionFind, 0))
    } else distributedLabels(edges, maxIter)
  }

  /** Label-row count up to which the driver tier hands its labels back as
    * a local relation. A local relation carries its rows in the plan, and
    * every expression rewrite during analysis and optimization copies
    * them; above this count the labels go back as an RDD of their rows,
    * which costs one more job per action. Measured on 4 cores (BENCH_NOTES
    * "Small dup graphs on the driver"): the local relation was the faster
    * form at 4.7k labels, the RDD at 18.7k and above.
    */
  private[graft] val LocalLabelsMax = 8192

  private def labelFrame(spark: SparkSession, out: Seq[Attribute],
      labels: Seq[InternalRow]): DataFrame =
    if (labels.length <= LocalLabelsMax)
      GraftExpressionBridge.ofRows(spark, LocalRelation(out, labels))
    else {
      val toUnsafe = UnsafeProjection.create(out.map(_.dataType).toArray)
      val rows: Seq[InternalRow] = labels.map(r => toUnsafe(r).copy())
      val sc = spark.sparkContext
      GraftExpressionBridge.ofRdd(spark, out,
        sc.parallelize(rows, math.min(rows.length, sc.defaultParallelism)),
        BigInt(rows.length) * out.map(_.dataType.defaultSize).sum)
    }

  /** The distributed tiers of [[connectedComponentsWithStats]] over its
    * materialized edge checkpoint: propagation rounds, then the stars
    * fallback if the round cap is hit.
    */
  private def distributedLabels(edges: DataFrame, maxIter: Int): (DataFrame, CcStats) = {
    var labels: DataFrame = null
    var iter = 0
    var converged = false
    val warms = new CcWarms
    try {
      // Seed with round one's result directly: min-propagation from identity
      // labels yields label(x) = min(x, min neighbor id), which one grouped
      // aggregate over the edge list computes without the join — one fewer
      // propagation round (join + agg + checkpoint + convergence scan) on
      // every call, and the distinct() init job is folded into the same agg.
      // Checkpointed: the seed has two round-one consumers (the propagate
      // join and the merged union); without the checkpoint its aggregate
      // subtree appears twice in the round plan, doubling that plan's
      // analysis/codegen cost (driver-bound), while with it the round plan
      // sees two LogicalRDD leaves. Not warmed: round one's checkpoint is
      // built over it (see CcWarms); the first job over it computes it.
      labels = edges.groupBy(col("src").as("id"))
        .agg(least(min(col("dst")), min(col("src"))).as("label"))
        .localCheckpoint(false)
      while (iter < maxIter && !converged) {
        val prop = edges.join(labels, edges("src") === labels("id"))
          .select(col("dst").as("id"), col("label"))
        // labels covers every node (each appears as an edge src), so the
        // union's labels branch keeps a node's current label even when no
        // neighbor offers a smaller one. `mx` rides the SAME aggregate:
        // min != max at a node ⟺ the node still sees two different labels
        // across itself and its neighbors ⟺ some incident edge is
        // bichromatic under the PREVIOUS round's labels — the free
        // convergence signal (see below).
        val merged = labels.unionByName(prop)
          .groupBy("id").agg(min("label").as("label"), max("label").as("mx"))
        // pointer jump: label(x) ← label(label(x)). Labels are always node
        // ids of the same component with label(y) <= y, so the composition
        // stays in-component and non-increasing; chains contract by half
        // per round (left join: the component min labels itself).
        val parents = merged
          .select(col("id").as("pid"), col("label").as("plabel"))
        val next = merged.join(parents, col("label") === col("pid"), "left")
          .select(col("id"), coalesce(col("plabel"), col("label")).as("label"),
            (col("label") =!= col("mx")).as("nu"))
          .localCheckpoint(false)
        // Two-tier EXACT convergence test. Soundness rests on the invariant
        // that labels are always in-component node ids with label(x) <= x
        // (seed, propagate, and jump each preserve it): if every edge is
        // monochromatic then each component carries one label L, node L has
        // label(L) = L, and the component minimum m has label(m) = L <= m —
        // forcing L = m, so the labels ARE the component minima and the
        // round map is the identity.
        //   Tier 1 (free): nUnsettled counts nodes whose propagate multiset
        //   held two labels. Zero ⟺ the PREVIOUS labels were already
        //   monochromatic ⟺ this round was a no-op — the same stop round as
        //   a changed-row count, with no carried `old` column, and the agg
        //   runs as the SAME action that materializes the round checkpoint.
        //   Tier 2 (gated probe): the jump can merge the last label chains
        //   mid-round, so `next` may be converged a full round before tier 1
        //   can see it. A bichromatic-edge test under `next` detects that —
        //   but on a far-from-converged high-diameter graph it is a per-round
        //   surcharge with no chance of firing, so it runs only once
        //   nUnsettled is small (most components already settled; the
        //   near-dup norm reaches this on round one). The threshold trades
        //   one probe against skipping a whole round; 64k keeps the probe
        //   out of the bulk phase of adversarial chains while firing on
        //   every realistically-shaped tail.
        //   The probe is UNSETTLED-RESTRICTED (round 11; the former version
        //   joined the full edge list against the labels twice): if both
        //   endpoints of an edge were settled this round, each saw a single
        //   label across itself and its neighbors, so the two labels were
        //   equal and the jump maps both through the same parent — the edge
        //   is monochromatic. Any bichromatic edge therefore has an
        //   unsettled endpoint, and since `edges` carries both orientations,
        //   filtering on an unsettled src sees every candidate. No join back
        //   to dst labels either: deliver each unsettled node's label to its
        //   neighbors and compare against the neighbors' own labels in ONE
        //   narrow aggregate — a node holding two distinct labels ⟺ some
        //   incident edge is bichromatic. The unsettled build side is
        //   ≤ BichromProbeMax rows by the gate, so the broadcast is bounded
        //   by construction.
        // coalesce: an empty pair list converges on round one, not NPE.
        // The round checkpoint materializes on the warm thread while the
        // driver constructs and PLANS both convergence actions up front. The
        // probe plan is built unconditionally (its ~40-80 ms of
        // analysis+codegen used to sit in a driver gap between the two
        // actions); whether it EXECUTES keeps the exact tier-1 value gate
        // below, so semantics and the probe's bounded-broadcast argument
        // are unchanged. On a tier-1-converged round the probe plan is
        // discarded unexecuted — driver work wasted, but it overlapped the
        // checkpoint compute, so its wall cost is ~0.
        warms.warm(next)
        val unsettledAgg = next.agg(coalesce(
          sum(when(col("nu"), 1L).otherwise(0L)), lit(0L)))
        unsettledAgg.queryExecution.executedPlan // plan while the warm runs
        val sl = next.filter(col("nu"))
          .select(col("id").as("sid"), col("label").as("sl"))
        val probeAgg = edges.join(broadcast(sl), col("src") === col("sid"))
          .select(col("dst").as("id"), col("sl").as("lbl"))
          .unionByName(next.select(col("id"), col("label").as("lbl")))
          .groupBy("id").agg(min("lbl").as("mn"), max("lbl").as("mx"))
          .agg(coalesce(
            sum(when(col("mn") =!= col("mx"), 1L).otherwise(0L)),
            lit(0L)))
        probeAgg.queryExecution.executedPlan // plan while the warm runs
        // Barrier before the round's first action: the round's warm must
        // finish MARKING its checkpoint before a consumer action can submit
        // stages over it (the CcWarms note).
        warms.await()
        val nUnsettled = unsettledAgg.head.getLong(0)
        converged = nUnsettled == 0
        if (!converged && nUnsettled <= BichromProbeMax)
          converged = probeAgg.head.getLong(0) == 0
        labels = next.select("id", "label")
        iter += 1
      }
    } finally warms.close()
    // Partially-propagated labels are silently WRONG groups — never return
    // them. Instead of refusing outright, fall back to the alternating
    // large-star/small-star rounds, which converge in O(log n) rounds on ANY
    // graph shape (adversarial chains included) at the cost of a heavier
    // per-round edge rewrite. The checkpointed edge list carries both
    // orientations of every input pair (self-pairs included), so feeding it
    // back as a pair list preserves starsImpl's node set and — after its
    // canonicalize+distinct pass — its edge set exactly.
    if (!converged) (starsImpl(
        edges.select(col("src").as("id_a"), col("dst").as("id_b")), StarsMaxIter),
      CcStats(CcTier.Stars, iter))
    else (labels.select(col("id").as("member_id"), col("label").as("group_id")),
      CcStats(CcTier.Propagation, iter))
  }

  /** Id types whose values Spark groups and joins by plain value equality,
    * so a driver hash map keys them exactly as the distributed path does.
    */
  private def valueKeyed(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType => true
    case StringType => true // the default, binary collation only
    case _ => false
  }

  /** Component-minimum labels of a directed edge list (both orientations of
    * every pair, as the edge checkpoint holds it): one union-find whose
    * every root is its component's minimum id under the id type's Spark
    * ordering, so the labels equal the distributed tiers' bit for bit.
    * A null endpoint joins no component, as in propagation, where a null
    * key matches no join: the null node takes the least component minimum
    * among its non-null partners, or null if it has none.
    */
  private def unionFindLabels(edges: Array[InternalRow], idType: DataType): Seq[InternalRow] = {
    val ord = PhysicalDataType.ordering(idType)
    val index = new java.util.HashMap[Any, Integer]
    val ids = ArrayBuffer.empty[Any]
    val parent = ArrayBuffer.empty[Int]
    def node(id: Any): Int = {
      val known = index.get(id)
      if (known != null) known
      else { val n = ids.length; index.put(id, n); ids += id; parent += n; n }
    }
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var y = x
      while (parent(y) != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    var nullNode = false
    val nullPartners = ArrayBuffer.empty[Int]
    edges.foreach { e =>
      if (e.isNullAt(0)) {
        nullNode = true
        if (!e.isNullAt(1)) nullPartners += node(e.get(1, idType))
      } else {
        val a = find(node(e.get(0, idType)))
        if (!e.isNullAt(1)) {
          val b = find(node(e.get(1, idType)))
          if (a != b) { if (ord.lt(ids(a), ids(b))) parent(b) = a else parent(a) = b }
        }
      }
    }
    val labels = ids.indices.map(i => InternalRow(ids(i), ids(find(i))))
    if (!nullNode) labels
    else labels :+ InternalRow(null, nullPartners.map(p => ids(find(p))).minOption(ord).orNull)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the fallback path for graphs whose shape defeats the
    * min-label propagation above within its round cap. Each round rewrites
    * the edge list toward a forest of stars rooted at component minima:
    *
    *   - large-star: per node u with neighborhood N(u), connect every
    *     LARGER neighbor v > u to m = min(N(u) ∪ u).
    *   - small-star: per node u, connect every neighbor v ≤ u (and u
    *     itself) to m = min(N(u) ∪ u).
    *
    * Both operations preserve connectivity, never swap components, and the
    * alternation provably converges in O(log²  n) rounds (O(log n) in
    * practice) REGARDLESS of diameter — a path graph of any length
    * converges without the O(diameter) propagation the label-flow algorithm
    * would need without its pointer jumps. Convergence = the star edge set
    * reaches a fixpoint, checked EXACTLY (count equality + empty
    * difference; no checksums). Each round shuffles the edge list twice
    * (groupBy u for the two star ops) with per-node state O(1) — at 100 TB
    * the edge list is the only large frame in flight, and it shrinks
    * monotonically toward one edge per non-root node.
    *
    * Returns the same shape as [[connectedComponents]]: (member_id,
    * group_id = component minimum), one row per distinct node in `pairs`.
    */
  /** Default round cap for the stars algorithm — shared by the public
    * entry point and the connectedComponents fallback path so the two
    * cannot silently diverge. O(log² n) bound ⇒ 40 covers any realistic
    * graph by orders of magnitude.
    */
  val StarsMaxIter = 40

  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = StarsMaxIter): DataFrame =
    // same reasoning as [[connectedComponents]]: the input is consumed by
    // the canonical-edge pass AND the final node-set union (two more scans).
    // The fallback call from connectedComponents skips straight to
    // [[starsImpl]] — its input is already checkpointed, and a second
    // localCheckpoint would re-cache the whole edge list under a new RDD
    // on exactly the pathological-graph path where it is largest.
    starsImpl(pairs.localCheckpoint(false), maxIter)

  private def starsImpl(p: DataFrame, maxIter: Int): DataFrame = {
    // canonical undirected edges, self-loops dropped
    var edges = p
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    def directed(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    // large-star: m computed over the FULL neighborhood of u; emit (v, m)
    // for strictly-larger neighbors v
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = directed(e)
      val mins = nbrs.groupBy(col("u").as("lu"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      nbrs.filter(col("v") > col("u"))
        .join(mins, col("u") === col("lu"))
        .filter(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .distinct()
    }
    // small-star: m computed over the SMALLER-or-equal neighborhood; every
    // such neighbor (and u itself, unless u == m) connects to m. Operating
    // on the canonical (u=min, v=max) orientation, the "smaller neighbors
    // of x" are exactly the u-side partners of x's v-side appearances.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("v").as("su"))
        .agg(min(col("u")).as("m"))
      e.join(mins, col("v") === col("su"))
        .select(col("u"), col("v"), col("m"))
        .select(explode(array(
          struct(col("u").as("a"), col("m").as("b")),
          struct(col("v").as("a"), col("m").as("b")))).as("p"))
        .select(least(col("p.a"), col("p.b")).as("u"),
          greatest(col("p.a"), col("p.b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var iter = 0
    var converged = edges.isEmpty // an edgeless input is already a fixpoint
    while (iter < maxIter && !converged) {
      // smallStar consumes its input twice (min agg + join) — checkpoint
      // the large-star rewrite so it is computed once per round
      val ls = largeStar(edges).localCheckpoint(false)
      val next = smallStar(ls).localCheckpoint(false)
      // exact fixpoint test: same cardinality and no new edges. Both run on
      // checkpointed frames, so the cost is two scans of the (shrinking)
      // edge list, not a lineage replay.
      converged =
        next.count() == edges.count() && next.exceptAll(edges).isEmpty
      edges = next
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStars did not converge in $maxIter alternating " +
        "rounds — not expected for any finite graph (bound is O(log² n)); " +
        "raise maxIter")
    // fixpoint edges form stars (x, m): label both endpoints with the
    // component min, and keep isolated-in-`pairs` self-pair nodes labeled
    // by themselves via the union with the original node set
    val nodes = p.select(col("id_a").as("id"))
      .unionByName(p.select(col("id_b").as("id"))).distinct()
    val starLabels = directed(edges).groupBy(col("u").as("id"))
      .agg(min(col("v")).as("lbl"))
    nodes.join(starLabels, Seq("id"), "left")
      .select(col("id").as("member_id"),
        least(coalesce(col("lbl"), col("id")), col("id")).as("group_id"))
  }

  /** Exact-Jaccard verification of candidate pairs over per-document
    * digest arrays: each pair picks up both documents' signature rows
    * (`doc_id`, distinct digests `dgs`, their count `nsh` — see
    * [[signatures]]) by two equi-joins on the ids, and the intersection is
    * counted natively on the full 128-bit digests (graft_digest_overlap),
    * all in the join's own stage: no per-(pair, shingle) rows, no
    * aggregate, no shuffle beyond the joins'. The shuffle volume stays
    * |candidates| x 2 x shingles/doc digests, which LSH already bounded.
    * (The dd7 lesson is about interpreted HOF lambdas re-evaluating their
    * captured expressions per element; a native expression over an array
    * column has no such cost.)
    *
    * Only pairs that share a shingle are emitted (`n_inter > 0`): a band
    * key collision between disjoint documents is not a near-duplicate.
    * Catalyst pushes predicates on `n_inter` (this one, and callers'
    * thresholds) into the join condition, where the O(nsh) count runs
    * again — cheap next to the join itself.
    * Returns `(id_b, id_a, n_inter, nsh_a, nsh_b, jaccard)`.
    */
  def verifyJaccard(cands: DataFrame, sigs: DataFrame): DataFrame = {
    def side(s: String) = sigs.select(col("doc_id").as(s"id_$s"),
      col("dgs").as(s"dgs_$s"), col("nsh").as(s"nsh_$s"))
    cands.join(side("a"), "id_a").join(side("b"), "id_b")
      .select(col("id_b"), col("id_a"),
        graft.expressions.DigestOverlap(col("dgs_a"), col("dgs_b")).cast("long").as("n_inter"),
        col("nsh_a"), col("nsh_b"))
      .filter(col("n_inter") > 0)
      .withColumn("jaccard",
        col("n_inter") / (col("nsh_a") + col("nsh_b") - col("n_inter")))
  }
}
