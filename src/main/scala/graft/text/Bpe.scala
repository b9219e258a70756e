package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: iterative merge TRAINING plus rank-order
  * ENCODE, the step that turns the ta8 pair statistics (the first merge's
  * counts) into a real tokenizer whose token budgets can drive packing
  * (reference scope: the pipeline counts "tokens" as whitespace words —
  * `embeddings/embed.py` batching and the report text paths; an LLM-data
  * pipeline needs subword counts, so this is a capability extension the
  * round-13 verdict asked for, not a reference port).
  *
  * Scale design (100 TB corpus, 1000 executors):
  *   - Training NEVER touches the corpus after the one word-frequency
  *     aggregation: every round runs over the DISTINCT-WORD table, so the
  *     per-round shuffle is bounded by the distinct adjacent-pair domain
  *     (≤ vocab²) and the per-round driver traffic is exactly ONE row (the
  *     argmax pair — the W6 LIMIT-1 shape), never the data.
  *   - The word table is localCheckpoint'ed each round: without the cut,
  *     round r re-derives rounds 0..r-1 (O(k²) work) and stacks k nested
  *     higher-order functions into one plan.
  *   - Encode applies the k learned rules in rank order per DISTINCT word
  *     of the target corpus and broadcasts the resulting (word → tokens)
  *     map back; the corpus-sized pass is a broadcast join, no shuffle on
  *     text. At real scale the train corpus is a sample and encode meets
  *     out-of-vocabulary words — the rule chain handles any word, the
  *     vocab map is just the memoized fast path.
  *
  * Determinism: frequencies are exact longs; the winning pair per round is
  * chosen by (freq DESC, left ASC, right ASC) — Spark sorts strings in
  * UTF-8 byte order (UTF8String), which matches the DuckDB oracle's binary
  * collation, so the trained merge list is bit-stable across partitionings
  * and engines.
  */
object Bpe {

  /** One learned merge: at `step` (1-based rank), `a`+`b` → `a||b`,
    * which co-occurred `freq` times (word-frequency-weighted).
    */
  final case class MergeRule(step: Int, a: String, b: String, freq: Long)

  /** Per-code-point symbol array of a word. Spark's split("") yields a
    * trailing empty string (Java split with limit -1); the filter drops it.
    * Code-point, not code-unit: Java regex never splits a surrogate pair,
    * matching the oracle's string_split(w, '').
    */
  def charSeq(wordCol: Column): Column =
    filter(split(wordCol, ""), c => c =!= lit(""))

  /** One greedy left-to-right merge pass of (a, b) over a symbol array,
    * expressed as a fold: append each symbol, except that a symbol equal to
    * `b` following an accumulated tail equal to `a` replaces that tail with
    * the merged token. A merged token never re-merges within the pass
    * (a+b ≠ a for nonempty b), which is exactly the single-pass BPE rule.
    */
  private def mergePass(sym: Column, a: String, b: String): Column =
    when(size(sym) >= 2,
      aggregate(
        slice(sym, lit(2), size(sym) - 1),
        slice(sym, lit(1), lit(1)),
        (acc, x) =>
          when(element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))))
      .otherwise(sym)

  /** Bind `c` once as a lambda variable so `f` can reference it repeatedly
    * without copying its expression tree (the Dedup.shingles recipe —
    * mergePass reads its input five times, so k unbound nestings would
    * build a 5^k-node plan).
    */
  private def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), v => f(v)), 1)

  /** Code-point order — identical to UTF-8 byte order, which is what both
    * Spark's UTF8String sort and the DuckDB oracle's binary collation use.
    * Java's String.compareTo is UTF-16 code-UNIT order, which ranks
    * supplementary characters below U+E000..U+FFFF — the one place a
    * driver-side comparator could silently diverge from the engines.
    */
  private def cpCompare(x: String, y: String): Int = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** (freq DESC, a ASC, b ASC) over ((a, b), n) — the round's winner. */
  private val bestPairOrdering: Ordering[((String, String), Long)] =
    new Ordering[((String, String), Long)] {
      def compare(p: ((String, String), Long), q: ((String, String), Long)): Int = {
        val c0 = java.lang.Long.compare(q._2, p._2)
        if (c0 != 0) return c0
        val c1 = cpCompare(p._1._1, q._1._1)
        if (c1 != 0) c1 else cpCompare(p._1._2, q._1._2)
      }
    }

  /** Canonical greedy left-to-right merge pass (the imperative twin of
    * [[mergePass]]; BpeSpec pins their agreement through encode-vs-train).
    */
  private def mergeArray(s: Array[String], a: String, b: String): Array[String] = {
    if (s.length < 2) return s
    val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** Train `k` merges over a (word, freq) table. Returns the learned rules
    * in rank order (possibly fewer than `k` when the pair domain dries up)
    * and the final per-word symbol table (word, freq, sym) — the training
    * corpus's own encoding.
    *
    * The k rounds run on an RDD core, not per-round DataFrames: each round
    * is structurally the same tiny job (pair flatMap -> reduceByKey ->
    * takeOrdered(1) -> merge map), and rebuilding a Catalyst plan per round
    * costs ~10x the round's actual work (measured at sf0.1: 0.55 s of
    * jobs under 1.24 s of driver-only analyze/optimize/codegen gap — the
    * dd-trio pattern, with no plan reuse possible because the merge
    * literals change every round). The distributed shape is unchanged:
    * the per-round shuffle still carries only (pair, partial-count)
    * records (<= vocab^2), the driver still receives exactly ONE row per
    * round, and each round's state persists at MEMORY_AND_DISK with the
    * predecessor released — the iterative-training discipline of MLlib's
    * RDD cores, which exist for precisely this loop shape.
    */
  def train(words: DataFrame, k: Int): (Seq[MergeRule], DataFrame) = {
    import org.apache.spark.storage.StorageLevel
    val spark = words.sparkSession
    // one Catalyst pass to normalize the vocab: (word, freq, sym)
    var cur = words
      .withColumn("sym", charSeq(col("word")))
      .select("word", "freq", "sym")
      .queryExecution.toRdd.map { ir =>
        val sym = ir.getArray(2)
        (ir.getUTF8String(0).toString, ir.getLong(1),
          Array.tabulate(sym.numElements())(i => sym.getUTF8String(i).toString))
      }
    cur.persist(StorageLevel.MEMORY_AND_DISK)
    val rules = scala.collection.mutable.ArrayBuffer.empty[MergeRule]
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val best = cur.flatMap { case (_, f, s) =>
        if (s.length < 2) Iterator.empty
        else (0 until s.length - 1).iterator.map(i => ((s(i), s(i + 1)), f))
      }.reduceByKey(_ + _).takeOrdered(1)(bestPairOrdering)
      if (best.isEmpty) exhausted = true
      else {
        val ((a, b), n) = best(0)
        rules += MergeRule(step, a, b, n)
        val prev = cur
        cur = prev.map { case (w, f, s) => (w, f, mergeArray(s, a, b)) }
        cur.persist(StorageLevel.MEMORY_AND_DISK)
        prev.unpersist(blocking = false) // next round's job materializes cur
        step += 1
      }
    }
    val fin = spark.createDataFrame(
      cur.map { case (w, f, s) =>
        org.apache.spark.sql.Row(w, f, s.toSeq) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("word",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("freq",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sym",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))))
    (rules.toSeq, fin)
  }

  /** Apply learned rules in rank order to every word of `words` (one
    * `word` column) — the real encode path, defined for ANY word including
    * ones never seen in training. Returns (word, sym). For words that WERE
    * in the training corpus this reproduces the trainer's final symbol
    * table exactly (asserted by BpeSpec), which is what lets the DuckDB
    * oracle check the encode through the unrolled training rounds.
    */
  def encode(words: DataFrame, rules: Seq[MergeRule]): DataFrame = {
    val sym = rules.foldLeft(charSeq(col("word"))) { (acc, r) =>
      bindOnce(acc)(v => mergePass(v, r.a, r.b))
    }
    words.withColumn("sym", sym)
  }
}
