package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Differential-fuzz fixture builder: writes seeded perturbations of a
  * scale-factor dir so the whole oracle surface can be replayed on data the
  * queries were never tuned against. Every oracle replay before round 12 ran
  * on the same fixed fixtures — a query could silently overfit to their
  * particular shape (a tie that never occurs, a branch never taken, an empty
  * group never hit). Both engines (Spark via graft.Verify, DuckDB via
  * tools/oracle_check.py) read the SAME perturbed parquet, so hash-compare
  * stays a valid differential test on any input: referential orphans,
  * degenerate tables, and 100%-duplicate corpora included.
  *
  * Variants (all fully deterministic in (variant, seed)):
  *   - rand    seeded per-table row sampling (40-95% keep, keyed on
  *             xxhash64(seed, pk)), clone injection on the dedup-facing
  *             tables (documents/embeddings/events: ~10% of rows re-appear
  *             under shifted ids with IDENTICAL payloads), 5% null
  *             injection on measurement/attribute columns, and a seeded
  *             repartition so physical row order differs from the base.
  *   - empty   every table written with zero rows (schema preserved).
  *   - single  exactly one deterministic row per table (min pk).
  *   - allnull every measurement/attribute column 100% null.
  *   - clones  documents all share one text; embeddings all share one
  *             vector (ids stay distinct) — the 100%-clone corpus.
  *   - utext   documents.text decorated with deterministic non-ASCII /
  *             whitespace-shaped suffixes keyed on doc_id — stresses the
  *             cross-engine text surface (tokenization regexes, lower(),
  *             length(), hashing, edit distance) with multi-byte UTF-8,
  *             which the ASCII-only base corpus never exercises.
  *   - uhard   the hostile unicode tier: NBSP / zero-width space /
  *             combining diacritics / ligature / final sigma (see the
  *             case body for the one deliberate exclusion, U+0130).
  *
  * events.ts round-trips through [[graft.Tables.events]] (normalizing any
  * driver encoding to TimestampType) and is written back as TIMESTAMP_NTZ —
  * the round-6+ driver encoding — so the fuzz fixture binds to the
  * timestamp-typed oracle family exactly like the base fixture does
  * (session TZ is UTC everywhere, so the cast is value-identical).
  *
  * Usage: runMain graft.tools.MakeFuzz <srcDir> <dstDir> <variant> [seed]
  */
object MakeFuzz {

  /** Primary-key columns per table (hashing domain for seeded decisions). */
  val pk: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Nullable measurement/attribute columns per table — never keys, never
    * event-time (null event-time rows have engine-specific drop semantics in
    * streaming and would make the comparison about the harness, not the
    * queries).
    */
  val nullable: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_acctbal"),
    "supplier" -> Seq("s_acctbal"),
    "part" -> Seq("p_retailprice"),
    "orders" -> Seq("o_totalprice"),
    "lineitem" -> Seq("l_discount", "l_tax"),
    "events" -> Seq("value", "props"),
    "documents" -> Seq("lang", "source"),
    "embeddings" -> Seq("label"))

  /** Tables that get identical-payload clone rows under shifted ids in the
    * rand variant (the dedup/ANN-facing surface), with the id column to
    * shift. lineitem/orders are left clone-free: partial fact clones only
    * manufacture referential orphans, which sampling already produces.
    */
  val cloneShift: Map[String, String] = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id")

  private val Shift = 500000000L
  val AllTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def readBase(spark: SparkSession, src: String, t: String): DataFrame =
    if (t == "events") graft.Tables.events(spark, src)
    else spark.read.parquet(s"$src/$t.parquet")

  /** Deterministic per-row uniform in [0,1000) keyed on (seed, salt, pk). */
  private def die(t: String, seed: Long, salt: String) =
    pmod(xxhash64(lit(seed) +: lit(salt) +: pk(t).map(col): _*), lit(1000L))

  def transform(t: String, base: DataFrame, variant: String, seed: Long): DataFrame =
    variant match {
      case "empty" => base.limit(0)
      case "single" =>
        // orderBy before limit: limit(1) alone is partition-order-dependent
        base.orderBy(pk(t).map(col): _*).limit(1)
      case "allnull" =>
        nullable.getOrElse(t, Nil).foldLeft(base)((df, c) =>
          df.withColumn(c, lit(null).cast(df.schema(c).dataType)))
      case "clones" =>
        // every row carries the min-id row's payload; ids stay distinct
        if (t == "documents") {
          val first = base.orderBy("doc_id").limit(1)
            .select(col("text").as("__t0"), col("lang").as("__l0"))
          base.crossJoin(broadcast(first))
            .withColumn("text", col("__t0")).withColumn("lang", col("__l0"))
            .drop("__t0", "__l0")
        } else if (t == "embeddings") {
          val first = base.orderBy("vec_id").limit(1)
            .select(col("embedding").as("__e0"))
          base.crossJoin(broadcast(first))
            .withColumn("embedding", col("__e0")).drop("__e0")
        } else base
      case "utext" =>
        // Deterministic unicode decoration of the document corpus: accented
        // Latin (2-byte UTF-8), CJK (3-byte), an emoji (4-byte, surrogate
        // pair in UTF-16 — stresses codepoint-vs-code-unit length bugs),
        // leading/trailing whitespace, and doubled inner spaces. n_chars is
        // NOT recomputed: it is upstream metadata, and queries that consume
        // it must not assume it matches length(text).
        if (t != "documents") base
        else {
          val suffixes = array(
            lit(""), lit(" café résumé"), lit(" 北京大学 研究"),
            lit(" naïve Ω"), lit(" data 🚀 pipeline"),
            lit("  double  space"), lit(" tab\tsep"))
          base.withColumn("text",
            when(col("text").isNull, col("text")).otherwise(
              concat(element_at(suffixes, (col("doc_id") % 7 + 1).cast("int")),
                col("text"),
                element_at(suffixes, (col("doc_id") % 5 + 1).cast("int")))))
        }
      case "uhard" =>
        // The hostile end of the unicode spectrum — NBSP and zero-width
        // space (is-it-whitespace disagreements: both engines' \s is
        // ASCII-only, verified consistent), combining diacritics (é as
        // e+U+0301: normalization-sensitive equality/hashing), Turkish
        // dotless ı, the ﬁ ligature, and a lone Greek final sigma ς —
        // all 192/192 green. DELIBERATELY EXCLUDED: dotted İ (U+0130),
        // the one probed character where the engines genuinely differ —
        // Spark's lower() applies Unicode FULL case mapping (İ → i +
        // combining dot, 2 codepoints; java.lang.String semantics) while
        // DuckDB's utf8proc applies the SIMPLE 1:1 mapping (İ → i) — a
        // documented cross-engine semantics difference (SURVEY §9), not
        // a query bug; differential testing has no ground truth there.
        if (t != "documents") base
        else {
          val suffixes = array(
            lit(""), lit(" a b"), lit(" zero​width"),
            lit(" café"), lit(" dotless ı"), lit(" ﬁne"),
            lit(" τέλος ς"))
          base.withColumn("text",
            when(col("text").isNull, col("text")).otherwise(
              concat(col("text"),
                element_at(suffixes, (col("doc_id") % 7 + 1).cast("int")))))
        }
      case "rand" =>
        // region/nation stay intact: they are tiny broadcast dims and the
        // degenerate-dim cases are covered by empty/single
        if (t == "region" || t == "nation") base
        else {
          val keepPct = 400 + Math.floorMod(
            scala.util.hashing.MurmurHash3.stringHash(t, seed.toInt), 560)
          val sampled = base.filter(die(t, seed, "keep") < lit(keepPct.toLong))
          // null injection BEFORE the clone union: the null die keys on the
          // pk, so nulling after the id shift would null clone rows
          // independently of their originals and break the documented
          // IDENTICAL-payload clone property on the nullable columns
          val nulled = nullable.getOrElse(t, Nil).foldLeft(sampled)((df, c) =>
            df.withColumn(c, when(die(t, seed, s"null:$c") < lit(50L),
              lit(null).cast(df.schema(c).dataType)).otherwise(col(c))))
          val cloned = cloneShift.get(t) match {
            case Some(idCol) =>
              val dup = nulled.filter(die(t, seed, "clone") < lit(100L))
                .withColumn(idCol, col(idCol) + lit(Shift))
              nulled.unionByName(dup)
            case None => nulled
          }
          // seeded physical re-order: different file/row order than the base
          // exposes order-sensitive tie-breaking in top-k/window queries
          cloned.repartition(4, die(t, seed, "order"))
        }
      case other => throw new IllegalArgumentException(s"unknown variant: $other")
    }

  def build(spark: SparkSession, src: String, dst: String,
      variant: String, seed: Long): Unit =
    AllTables.foreach { t =>
      val out = transform(t, readBase(spark, src, t), variant, seed)
      val enc = // write events back in the driver's TIMESTAMP_NTZ encoding
        if (t == "events") out.withColumn("ts", col("ts").cast(TimestampNTZType))
        else out
      // coalesce(1): an empty frame still yields one (0-row, schema-bearing)
      // part file, which both Spark and DuckDB's glob need to bind the view
      val parts = if (variant == "empty" || variant == "single") enc.coalesce(1) else enc
      parts.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[makefuzz] $t variant=$variant seed=$seed written")
    }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, variant) = args.take(3)
    val seed = if (args.length > 3) args(3).toLong else 0L
    val spark = graft.LocalSession.forDir(src)
    build(spark, src, dst, variant, seed)
    spark.stop()
  }
}
