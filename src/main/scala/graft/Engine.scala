package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.dedup.Dedup
import graft.ingest.Pipeline
import graft.text.Analysis
import graft.vector.{Embed, Knn}

/** User-facing façade: one method per entry point of the reference
  * (SURVEY.md §3), so a user of `FloatChat-DataPipeLine` can switch to this
  * library call-for-call:
  *
  *   - CLI batch pipeline (`python main.py --mode file|data-folder`) →
  *     [[ingest]]
  *   - upload endpoint (`POST /upload`, fastapi_app.py:614-778) →
  *     [[ingestStream]]
  *   - semantic search (`collection.query`, db_handler.py:465-491) →
  *     [[search]]
  *   - plus the training-data operators the reference lacks:
  *     [[dedupExact]], [[nearDupCandidates]], [[qualityFilter]].
  *
  * Everything returns plain DataFrames — composable with any other Spark
  * code, optimized by Catalyst as one plan.
  */
class Engine(spark: SparkSession) {

  /** §3.1 batch lifecycle: raw profile rows (level arrays) → cleaned tidy
    * measurements → (floats summary, profiles EAV). The reference's
    * `process_raw_data` + `_store_data`, as two DataFrames.
    */
  def ingest(raw: DataFrame, timeUpper: String = "2100-01-01")
      : (DataFrame, DataFrame) = {
    val cleaned = Pipeline.clean(Pipeline.tidy(raw), timeUpper)
    (Pipeline.floats(cleaned), Pipeline.profiles(cleaned))
  }

  /** §3.1 container ingest: decode a directory of Argo-style NetCDF classic
    * (.nc) profile files to the tabular (profile, level) rows the
    * reference's loader produces — variable alias resolution, fill-value
    * nulling, days/hours-since epoch time decode
    * (ingest/load_data.py:201-375). One file per task via binaryFile;
    * compose with [[ingest]]'s cleaning chain downstream.
    */
  def ingestNetCdf(path: String): DataFrame =
    graft.sources.NetCdf.read(spark, path)

  /** As [[ingestNetCdf]], skipping files whose container fails to parse
    * (one truncated upload must not kill a million-file crawl). Skips are
    * accounted, not silent: pair with [[netCdfScanStatus]] for the
    * per-file quarantine ledger.
    */
  def ingestNetCdfTolerant(path: String): DataFrame =
    graft.sources.NetCdf.read(spark, path, tolerant = true)

  /** Per-file parse ledger for a NetCDF scan directory: (file, ok, error,
    * n_rows) — the audit companion of [[ingestNetCdfTolerant]].
    */
  def netCdfScanStatus(path: String): DataFrame =
    graft.sources.NetCdf.scanStatus(spark, path)

  /** §3.1 acquisition — the reference's `download_nc_files(url, max_files)`
    * (download.py:12-37), distributed: `pages` holds one row per fetched
    * index page (`pageCol`, `htmlCol`); `.nc` hrefs are extracted with the
    * codegen'd tokenizer, the first `maxFiles` planned in (page, position)
    * order with `{page}_{pos+1:03d}.nc` names and `{urlBase}{page}/{href}`
    * urls, and the bytes land in `destDir` executor-side with atomic
    * skip-if-exists. Returns the per-file (file_name, action, n_bytes,
    * error) ledger — `error` is the failing exception class + message on
    * `error` rows, null otherwise. IO hides behind
    * [[graft.sources.Transport]].
    */
  def downloadNcFiles(
      pages: DataFrame, pageCol: String, htmlCol: String, destDir: String,
      transport: graft.sources.Transport, maxFiles: Int = 300,
      urlBase: String = ""): DataFrame = {
    val nc = graft.sources.Acquire
      .ncLinks(pages.select(col(pageCol).as("page"), col(htmlCol)), "page", htmlCol)
    val planned = graft.sources.Acquire
      .downloadPlan(nc, "page", "pos", "href", maxFiles)
      .withColumn("url", concat(lit(urlBase), col("page"), lit("/"), col("href")))
    graft.sources.Acquire.download(planned, "url", "file_name", destDir, transport)
  }

  /** §3.1 acquisition — `download_sample_data(name)` call-for-call
    * (ingest/load_data.py:391-426): registry lookup, `sample_{name}.nc`
    * cache, fetch-on-miss, None on unknown name or failed fetch.
    */
  def downloadSampleData(
      name: String, registry: Map[String, String], cacheDir: String,
      transport: graft.sources.Transport): Option[String] =
    graft.sources.Acquire.fetchSample(name, registry, cacheDir, transport)

  /** §3.2 incremental path: watch `inbox` for new files, clean each
    * micro-batch, idempotently append by `key` into `sinkDir`.
    *
    * `boundedSink` is [[stream.Ingest.start]]'s structural acknowledgment
    * that the sink table stays small (its cross-batch idempotence re-reads
    * the sink per micro-batch); for an unboundedly-growing sink use
    * [[stream.Ingest.startStateful]] directly.
    */
  def ingestStream(
      inbox: String, schema: StructType, sinkDir: String,
      checkpointDir: String, key: String, boundedSink: Boolean,
      transform: DataFrame => DataFrame = identity): StreamingQuery =
    stream.Ingest.start(spark, inbox, schema, sinkDir, checkpointDir, key,
      transform, boundedSink)

  /** §3.2 incremental path at the 100 TB shape: state-store keyed dedup
    * (O(batch) per micro-batch) writing through the TRANSACTIONAL manifest
    * table — atomic per-batch commits, crash-replay a ledger no-op, readers
    * resolve snapshots via [[readTable]] and never see a half-committed
    * batch. See [[stream.ManifestTable]] for compaction / time travel /
    * snapshot expiry on the same table.
    */
  def ingestStreamTransactional(
      inbox: String, schema: StructType, tableDir: String,
      checkpointDir: String, key: String,
      transform: DataFrame => DataFrame = identity): StreamingQuery =
    stream.Ingest.startTransactional(spark, inbox, schema, tableDir,
      checkpointDir, key, transform)

  /** Latest committed snapshot of a manifest table written by
    * [[ingestStreamTransactional]] (or any [[stream.ManifestTable]] writer).
    */
  def readTable(tableDir: String, schema: StructType): DataFrame =
    stream.ManifestTable.read(spark, tableDir, schema)

  /** [[readTable]] with file-level data skipping: the per-file footer
    * stats recorded at commit time prune the snapshot's file list against
    * `filters` BEFORE the scan (conservative — a file is skipped only
    * when its min/max prove no row can match). The caller still applies
    * the full predicate to the returned frame; the skipping is purely
    * fewer files opened. See [[stream.ManifestTable.readWhere]].
    */
  def readTableWhere(tableDir: String, schema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter]): DataFrame =
    stream.ManifestTable.readWhere(spark, tableDir, schema, filters)

  /** Copy-on-write MERGE (upsert-by-key) into a manifest table: rewrites
    * only the files holding a delta key (stats-pruned candidates,
    * key-column broadcast-semi-join touch detection), carries every other
    * file by identity, publishes one new version. Returns (files touched,
    * files before); None if `maxAttempts` publish races were lost (run
    * again at a quieter moment). See [[stream.ManifestTable.merge]].
    */
  def mergeTable(tableDir: String, schema: StructType, delta: DataFrame,
      keys: Seq[String]): Option[(Int, Int)] =
    stream.ManifestTable.merge(spark, tableDir, schema, delta, keys)

  /** §3.3 semantic search: embed the query text with the deterministic
    * featurizer, score every document passing `metadataFilter`, return the
    * exact top-k (TakeOrderedAndProject — no full sort).
    */
  def search(
      documents: DataFrame, textCol: String, idCol: String,
      queryText: String, k: Int,
      metadataFilter: Column = lit(true), dim: Int = 64): DataFrame = {
    val docs = documents.filter(metadataFilter)
      .withColumn("__vec", Embed.embed(col(textCol), dim).cast("array<double>"))
    val q = spark.range(1).select(
      lit(0L).as("__query_id"),
      Embed.embed(lit(queryText), dim).cast("array<double>").as("__qvec"))
    Knn.topK(docs, "__vec", q, "__query_id", "__qvec", k, tiebreak = idCol)
      .drop("__vec", "__query_id")
  }

  /** Exact dedup: one surviving row per distinct `textCol` content (minimum
    * `idCol` wins), the hash-groupBy form.
    */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.join(
      Dedup.exactDupGroups(df, textCol, idCol)
        .select(col("keep_id").as(idCol)),
      Seq(idCol))

  /** MinHash+LSH near-duplicate candidate pairs over `textCol` (word
    * 3-gram shingles, 6 lanes, 3 bands): every `id_a < id_b` that shares a
    * band bucket. A pair list, so no exact-dedup pre-pass.
    */
  def nearDupCandidates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.bandCandidates(df.select(col(idCol).as("doc_id"), col(textCol).as("text"),
      lit(0).as("side")))

  /** Wide-SimHash hamming-ball near-dup pairs with a MANDATORY exact-dedup
    * pre-pass. Identical documents otherwise collapse onto identical
    * signatures and form degenerate LSH hot buckets whose in-bucket pair
    * expansion is quadratic in the clone count (the sf1 rehearsal measured
    * 3.5M candidate pairs on a dup-heavy corpus — BENCH_NOTES.md). The
    * pre-pass keeps one row per distinct content, so bucket sizes are
    * bounded by true near-dup diversity, not by copy counts.
    */
  def nearDupHamming(
      df: DataFrame, textCol: String, idCol: String,
      bands: Int = 3, maxDist: Int = 8): DataFrame = {
    val unique = dedupExact(df, textCol, idCol)
    val tc = unique
      .select(col(idCol), explode(Dedup.tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("cnt"))
    Dedup.hammingPairs(
      Dedup.simhashWide(tc, idCol), idCol, "simhash", bands, maxDist)
  }

  /** Production LSH near-dup path: the near-dup spine
    * ([[Dedup.nearDupSpine]]) — exact-dedup rep tier, then minhash-band
    * candidates verified by exact Jaccard, the same composition rule as
    * [[nearDupHamming]]. Identical documents collapse to identical minhash
    * signatures, so a clone-heavy corpus turns every band bucket quadratic
    * (the sf1 rehearsal measured 314k verified pairs / 16.8s without the
    * pre-pass vs 32.6k distinct-content candidates with it); keeping one
    * row per distinct content bounds bucket sizes by true near-dup
    * diversity. Returns verified (id_a, id_b, n_inter, jaccard) over the
    * exact-dup representatives.
    */
  def nearDupJaccard(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, numSeeds: Int = 6, rowsPerBand: Int = 2): DataFrame =
    Dedup.nearDupSpine(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"), lit(0).as("side")),
      Dedup.AnyPair, shingleN, numSeeds, rowsPerBand).verified

  /** Batched-inference embedding over a corpus: one encoder init per
    * partition, batch-50 encode calls (the real-model contract —
    * embeddings/embed.py:34-44,176-198). Adds `outCol: array<float>`.
    */
  def embedCorpus(df: DataFrame, textCol: String, outCol: String = "embedding",
      dim: Int = 64, batchSize: Int = 50): DataFrame =
    Embed.embedPartitioned(df, textCol, outCol, dim, batchSize)

  /** S15 assembled text-export report over any document frame
    * (export_chromadb_to_text.py:78-245 shape): header block, numbered
    * per-document sections, count footer. Returns ordered
    * (section_no, section) rows — write with `.orderBy.write.text(...)`.
    *
    * Scale shape (the a2 / [[graft.agg.Unpivot.withGroupId]] recipe):
    * global section numbering needs one total order, but only the NARROW
    * distinct-id projection flows through the single-partition rank window
    * — the document contents never collapse onto one task. The ranked
    * id→number map is broadcast-joined back, so the wide frame keeps its
    * partitioning. (EngineSpec gates this: the content column must not
    * appear below the window's exchange.)
    */
  def exportReport(docs: DataFrame, idCol: String, contentCol: String,
      collectionName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eq = "=" * 100; val d80 = "-" * 80; val d40 = "-" * 40
    val header = docs.agg(count(lit(1)).as("n"))
      .select(lit(0L).as("section_no"),
        concat(
          lit(eq + s"\nDATA EXPORT - $collectionName\n" + eq + "\nTotal Documents: "),
          col("n").cast("string"), lit("\n" + eq)).as("section"))
    val numbered = docs.select(col(idCol)).distinct()
      .withColumn("__i", row_number().over(Window.orderBy(col(idCol))))
    val sections = docs
      .join(broadcast(numbered), Seq(idCol))
      .select(
        col("__i").cast("long").as("section_no"),
        concat(
          lit("DOCUMENT #"), col("__i").cast("string"), lit("\n" + d80 + "\n"),
          lit("Document ID: "), col(idCol).cast("string"), lit("\n" + d40 + "\n"),
          lit("DOCUMENT CONTENT:\n"),
          coalesce(graft.text.JsonPretty.jsonPretty(col(contentCol)),
            col(contentCol).cast("string")),
          lit("\n\n" + eq)).as("section"))
    val footer = docs.agg(count(lit(1)).as("n"))
      .select((col("n") + 1).cast("long").as("section_no"),
        concat(lit("SUMMARY STATISTICS\n" + d80 + "\ntotal_documents: "),
          col("n").cast("string")).as("section"))
    header.unionByName(sections).unionByName(footer).orderBy("section_no")
  }

  /** Language-ID + quality scoring columns for corpus filtering. */
  def qualityFilter(df: DataFrame, textCol: String, minQuality: Double): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    df.withColumn("lang_pred", Analysis.langId(toks))
      .withColumn("quality", Analysis.qualityScore(toks))
      .filter(col("quality") >= minQuality)
  }

  /** Train a BPE tokenizer over `textCol` (k merges; see `ta13_bpe_train`):
    * returns the rank-ordered merge rules. The corpus is touched once (the
    * word-frequency aggregation); every round then runs over the
    * distinct-word table on the RDD core (shuffle ≤ vocab², one argmax row
    * to the driver per round).
    */
  def trainBpe(df: DataFrame, textCol: String, merges: Int = 256): Seq[graft.text.Bpe.MergeRule] = {
    val words = df
      .select(explode(Dedup.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    graft.text.Bpe.train(words, merges)._1
  }

  /** Tokenize `textCol` with trained BPE rules: adds `outCol` with the
    * subword-token COUNT per row (the packing/budget currency; see
    * `tp6_bpe_pack`). The rule chain encodes each DISTINCT word once and
    * the (word → count) map broadcasts back — no corpus shuffle.
    */
  def encodeBpeCounts(df: DataFrame, textCol: String,
      rules: Seq[graft.text.Bpe.MergeRule], outCol: String = "n_bpe_tokens"): DataFrame = {
    val vocab = df.select(explode(Dedup.tokens(col(textCol))).as("word")).distinct()
    val wt = graft.text.Bpe.encode(vocab, rules)
      .select(col("word"), size(col("sym")).cast("long").as("__wtok"))
    val withId = df.withColumn("__rid", monotonically_increasing_id())
    val counts = withId
      .select(col("__rid"), explode(Dedup.tokens(col(textCol))).as("word"))
      .join(broadcast(wt), Seq("word"))
      .groupBy("__rid").agg(sum("__wtok").as(outCol))
    withId.join(counts, Seq("__rid"), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(0L)))
      .drop("__rid")
  }

  /** Concat-and-chunk sequence packing: one row per (doc × training window
    * it overlaps) with `chunk_id`/`chunk_tokens`, offsets computed by the
    * scale-safe bucketed cumsum (never a single-partition window). See
    * `tp1_token_packing`.
    */
  def pack(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 2048): DataFrame = {
    val withTok = df.withColumn("__ntok",
      size(Dedup.tokens(col(textCol))).cast("long"))
    val withOff = graft.operators.Pack.globalCumsum(
      withTok, idCol, "__ntok", "start_off")
    graft.operators.Pack.chunk(withOff, "start_off", "__ntok", chunkTokens)
      .drop("__ntok")
  }

  /** n-gram-overlap decontamination: rows of `corpus` sharing at least one
    * `n`-gram with `evalSet` (both keyed by `idCol`/`textCol`), with the
    * per-doc hit count. The eval shingle set broadcasts — the corpus side
    * never shuffles on shingle. See `dc1_decontaminate`.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    def shingled(df: DataFrame) = df.select(col(idCol),
      explode(array_distinct(Dedup.shingles(Dedup.tokens(col(textCol)), n)))
        .as("__shingle"))
    corpus.transform(shingled)
      .join(broadcast(evalSet.transform(shingled).select("__shingle").distinct()),
        "__shingle")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hit_shingles"))
  }

  /** Per-source hash-threshold Bernoulli sampling for training-mixture
    * construction: keep a row iff its id-hash lane falls under the
    * source's rate. Pure row function — task retries can't resample.
    * `rates` maps source value → keep probability in [0,1]; unlisted
    * sources keep everything. See `sp3_mixture_sample`.
    */
  def sampleMixture(df: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double]): DataFrame = {
    // Lane from all 64 hash bits: modulo bias is 2^64 mod 100 / 2^64
    // (~2e-18), vs a single hash byte mod 100 which keeps ~29.3% of rows
    // at a documented 25% rate. Column API also keeps exotic column names
    // (spaces, dots, keywords) working without manual escaping.
    val hv = pmod(xxhash64(col(idCol).cast("string")), lit(100L))
    val rate = rates.foldLeft(lit(100.0)) { case (acc, (src, p)) =>
      when(col(sourceCol) === src, lit(p * 100)).otherwise(acc)
    }
    df.filter(hv < rate)
  }

  /** SCD Type-2 dimension history: collapse a mutation log into versioned
    * rows with `[valid_from, valid_to)` ranges and an `is_current` flag.
    * One shuffle on the business key, reused by both window passes; ties
    * at equal `tsCol` break on `seqCol` so the fold is deterministic under
    * task retries. See `d4_scd2_history`.
    */
  def scd2History(log: DataFrame, keyCol: String, tsCol: String,
      attrCol: String, seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(keyCol).orderBy(tsCol, seqCol)
    log.select(col(keyCol), col(tsCol), col(seqCol), col(attrCol))
      .withColumn("__prev", lag(attrCol, 1).over(byKey))
      .filter(col("__prev").isNull || col("__prev") =!= col(attrCol))
      .withColumn("version", row_number().over(byKey))
      .withColumn("valid_to", lead(tsCol, 1).over(byKey))
      .select(col(keyCol), col("version"), col(attrCol),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** CDC apply: fold an insert/update/delete change stream (`opCol` holds
    * 'D' for deletes) into final table state with ONE `max_by` aggregation
    * over the (tsCol, seqCol) ordering key — no window sort — then drop
    * deleted keys. The nightly CDC-compaction shape: shuffle once on the
    * primary key, no per-key driver state. See `d5_cdc_apply`.
    */
  def cdcApply(changes: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, opCol: String): DataFrame = {
    val others = changes.columns.filterNot(_ == keyCol)
    changes.groupBy(keyCol)
      .agg(max_by(struct(others.map(col): _*),
        struct(col(tsCol), col(seqCol))).as("__last"))
      .select(col(keyCol) +: others.map(c => col(s"__last.`$c`").as(c)): _*)
      .filter(col(opCol) =!= "D")
      .drop(opCol)
  }

  /** Leak-proof corpus split: the split is a pure function of the GROUP
    * key (crawl domain, repo, …), so near-identical rows clustered inside
    * a group can never straddle train/valid/test. Unbiased 64-bit lane
    * (same reasoning as [[sampleMixture]]). See `sp4_group_split`.
    */
  def groupSplit(df: DataFrame, groupCol: String,
      trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct + validPct <= 100, "split percentages exceed 100")
    val hv = pmod(xxhash64(col(groupCol).cast("string")), lit(100L))
    df.withColumn("split",
      when(hv < trainPct, "train")
        .when(hv < trainPct + validPct, "valid").otherwise(lit("test")))
  }

  /** Token-budget curriculum selection: aggregate per quality bin, then
    * mark the best-first bins whose cumulative tokens stay inside
    * `budgetFrac` of the corpus (the bin that crosses the budget is
    * included). The only window runs over the binned frame — cardinality
    * is the bin count, never the corpus. See `tp2_curriculum`.
    */
  def curriculumSelect(df: DataFrame, binCol: Column, tokensCol: Column,
      budgetFrac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val best = Window.orderBy(col("score_bin").desc)
    df.groupBy(binCol.as("score_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(tokensCol).as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens")
        .over(best.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__total", sum("n_tokens")
        .over(best.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("selected",
        (col("cum_tokens") - col("n_tokens")) < col("__total") * budgetFrac)
      .drop("__total")
  }

  /** Incremental dedup admission: classify each `batch` row as
    * `exact_dup` (content digest already in `index`), `near_dup`
    * (verified shingle Jaccard ≥ 0.5 against an index doc, integer-exact
    * threshold), or `new`. Ids must be unique across batch ∪ index.
    * Candidates are LSH-bucket-bounded and only cross-set pairs verify —
    * the crawl-admission op. See `dd12_incremental_dedup`.
    */
  def dedupIncremental(batch: DataFrame, index: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3): DataFrame = {
    // sides: batch 1, index 0; only cross-side pairs verify
    val nd = Dedup.nearDupSpine(
      batch.select(col(idCol).as("doc_id"), col(textCol).as("text"), lit(1).as("side"))
        .unionByName(index.select(col(idCol).as("doc_id"), col(textCol).as("text"),
          lit(0).as("side"))),
      (x, y) => x =!= y, shingleN)
    // every status is a semi or anti join of the one slim row per batch doc:
    // no aggregate, no sort, no re-read of the batch input
    val batchDocs = nd.slim.filter(col("side") === 1).select("doc_id", "dg")
    val indexDgs = nd.slim.filter(col("side") === 0).select("dg")
    // near tier: jaccard >= 0.5 in INTEGER form (2·|∩| >= |∪|) — no FP
    // division at the decision boundary. Verified ids are rep doc ids, so
    // the batch slim rows they name carry the digests whose every batch
    // clone is a near dup. The ids are broadcast by hint: there are two per
    // verified cross-side pair, but the planner sizes a join output as the
    // product of its inputs, plans a sort-merge join, and AQE turns it into
    // a broadcast only after both shuffles have run (perfbench `batch`: 4
    // more jobs and ~15 more generated classes a call)
    val nearDgs = batchDocs.join(broadcast(nd.verified
        .filter(col("n_inter") * 2 >= col("nsh_a") + col("nsh_b") - col("n_inter"))
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))),
      Seq("doc_id"), "left_semi")
      .select("dg")
    val notExact = batchDocs.join(indexDgs, Seq("dg"), "left_anti")
    def status(docs: DataFrame, s: String) =
      docs.select(col("doc_id").as(idCol), lit(s).as("status"))
    status(batchDocs.join(indexDgs, Seq("dg"), "left_semi"), "exact_dup")
      .unionByName(status(notExact.join(nearDgs, Seq("dg"), "left_semi"), "near_dup"))
      .unionByName(status(notExact.join(nearDgs, Seq("dg"), "left_anti"), "new"))
  }

  /** Small-file compaction to a byte target (shuffle-free). See
    * [[graft.sources.Layout.compact]] and `o1_compaction`. */
  def compact(inDir: String, outDir: String, targetBytes: Long): (Int, Int) =
    graft.sources.Layout.compact(spark, inDir, outDir, targetBytes)

  /** Z-order clustered write: sort by the Morton interleave of the two
    * quantized dimension columns (low 16 bits each) so parquet min/max
    * stays tight on both axes — 2-D scan pruning. See `o2_zorder_layout`.
    */
  def zorderWrite(df: DataFrame, xCol: Column, yCol: Column, outDir: String,
      files: Int = 32): Unit =
    df.withColumn("__z", graft.expressions.ZOrder2(
        xCol.cast("long"), yCol.cast("long")))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)

  /** Line-level boilerplate removal (CommonCrawl/CCNet): drop every line
    * appearing in more than `1/maxDocFraction` of documents, reassemble
    * the rest in original order. Two corpus passes by design — the tiny
    * high-frequency line set broadcasts into a re-scan instead of
    * materializing the exploded corpus. See `dd14_line_dedup`. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      maxDocFraction: Double = 0.05): DataFrame = {
    def lines(d: DataFrame) = d
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val denom = math.max(1L, math.round(1.0 / maxDocFraction))
    val boiler = lines(df).groupBy("line").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("n_total"))))
      .filter(col("nd") * denom > col("n_total"))
      .select(col("line"), lit(1).as("__b"))
    lines(df).join(broadcast(boiler), Seq("line"), "left")
      .groupBy(idCol)
      .agg(array_join(
        expr("transform(array_sort(collect_list(CASE WHEN __b IS NULL " +
          "THEN named_struct('pos', pos, 'line', line) END)), x -> x.line)"),
        "\n").as(textCol))
  }

  /** Exact substring-span duplication report (Lee et al.): per document,
    * the count of `n`-token spans occurring more than once corpus-wide and
    * the exact token coverage of their union. See `dd15_span_dedup`. */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    def spans(d: DataFrame) = d
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__ts) - $n), i -> named_struct(" +
          s"'start', CAST(i AS BIGINT), " +
          s"'span', array_join(slice(__ts, i + 1, $n), ' ')))")).as("sp"))
      .select(col(idCol), col("sp.start").as("start"), col("sp.span").as("span"))
    val dup = spans(df).groupBy("span").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("span")
    spans(df).join(dup, "span")
      .select(col(idCol), col("start"),
        explode(expr(s"sequence(start, start + ${n - 1})")).as("pos"))
      .groupBy(idCol)
      .agg(countDistinct("start").as("n_dup_spans"),
        countDistinct("pos").as("covered_tokens"))
  }

  /** Probability-proportional-to-size sample without replacement
    * (sequential Poisson, Ohlsson 1998): the `k` rows with the smallest
    * hash-uniform/weight key per stratum. Reproducible under task retry
    * (hash-keyed, no rand()). See `sp6_pps_sample`. */
  def ppsSample(df: DataFrame, idCol: String, weightCol: String,
      strataCols: Seq[String], k: Int): DataFrame = {
    val h = (1 to 4).map(i =>
      expr(s"instr('0123456789abcdef', substr(md5(cast(`$idCol` AS string)), $i, 1)) - 1") *
        lit(math.pow(16, 4 - i).toLong)).reduce(_ + _)
    graft.operators.TopK.perKey(
      df.withColumn("__skey", (h + lit(1)).cast("double") / col(weightCol)),
      keys = strataCols,
      order = Seq("__skey" -> true, idCol -> true), k = k,
      rankName = "__rank").drop("__skey", "__rank")
  }

  /** Sliding-window chunking with overlap for RAG / long-context prep:
    * one row per (doc, chunk), `window` tokens at `stride` spacing.
    * See `tp3_chunk_overlap`. */
  def chunkWithOverlap(df: DataFrame, idCol: String, textCol: String,
      window: Int = 512, stride: Int = 384): DataFrame =
    df.select(col(idCol), Dedup.tokens(col(textCol)).as("__ts"))
      .select(col(idCol), col("__ts"), explode(expr(
        s"sequence(0, CAST(greatest(ceil((size(__ts) - $window) / $stride.0), 0) AS INT))"))
        .as("chunk_id"))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        expr(s"array_join(slice(__ts, chunk_id * $stride + 1, $window), ' ')")
          .as("chunk_text"))

  /** BM25 top-k lexical retrieval for a batch of (query_id, term) pairs.
    * Exact rational-integer scoring (k1=6/5, b=3/4, linearized idf) — see
    * `ta10_bm25_topk` for the arithmetic and plan rationale. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queries: Seq[(Long, String)], k: Int = 10): DataFrame = {
    import spark.implicits._
    val glob = df.agg(count(lit(1)).as("nn"),
      sum(regexp_count(col(textCol), lit("\\S+")).cast("long")).as("aa"))
    val tf = df
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__ts"))
      .select(col(idCol), size(col("__ts")).cast("long").as("__dl"),
        explode(col("__ts")).as("__token"))
      .filter(col("__token").isin(queries.map(_._2).distinct: _*))
      .groupBy(idCol, "__dl", "__token").agg(count(lit(1)).as("__tf"))
      .localCheckpoint(false)
    val dfreq = tf.groupBy("__token").agg(count(lit(1)).as("__df"))
    val perq = tf.join(broadcast(dfreq), "__token")
      .crossJoin(broadcast(glob))
      .join(broadcast(queries.toDF("query_id", "__token")), "__token")
      .withColumn("__tscore",
        expr("(((2*(nn - __df) + 1) * 1000000) div (2*__df + 1)) * " +
          "((22 * __tf * aa * 1000000) div (10*aa*__tf + 3*aa + 9*__dl*nn)) " +
          "div 1000000"))
      .groupBy(col("query_id"), col(idCol))
      .agg(sum("__tscore").as("score"))
    graft.operators.TopK.perKey(perq, keys = Seq("query_id"),
      order = Seq("score" -> false, idCol -> true), k = k)
  }

  /** Snapshot diff: classify every key across two table versions as
    * added / removed / changed / unchanged. `valCols` take part in the
    * change test with null-safe equality. See `o6_snapshot_diff`. */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCol: String,
      valCols: Seq[String]): DataFrame = {
    // presence markers, not value-null tests: an all-null value tuple is a
    // legitimate row and must not masquerade as absence
    val av = a.select(col(keyCol) +:
      (valCols.map(c => col(c).as(s"__a_$c")) :+ lit(1).as("__in_a")): _*)
    val bv = b.select(col(keyCol) +:
      (valCols.map(c => col(c).as(s"__b_$c")) :+ lit(1).as("__in_b")): _*)
    val changed = valCols.map(c => !(col(s"__a_$c") <=> col(s"__b_$c")))
      .reduce(_ || _)
    av.join(bv, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("__in_a").isNull, lit("added"))
          .when(col("__in_b").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")))
      .drop("__in_a", "__in_b")
  }

  /** Data-quality constraint suite: null-count, duplicate-key, and
    * predicate-violation checks in ONE aggregation pass, plus an optional
    * referential-integrity check as a broadcast anti-join against a
    * dimension's key column. Returns one row per check:
    * (check_name, violations, passed) with integer violation counts —
    * the gate a pipeline consults before a training run reads the table.
    * See `dq1_constraint_suite`. */
  def constraintSuite(df: DataFrame, notNullCols: Seq[String],
      uniqueCols: Seq[String], predicates: Seq[(String, Column)] = Nil,
      refIntegrity: Option[(String, DataFrame, String)] = None): DataFrame = {
    val aggs =
      notNullCols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
        .as(s"completeness_$c")) ++
      uniqueCols.map(c => (count(lit(1)) - countDistinct(col(c)))
        .as(s"uniqueness_$c")) ++
      predicates.map { case (name, holds) =>
        sum(when(!holds, 1L).otherwise(0L)).as(name) }
    require(aggs.nonEmpty, "constraintSuite needs at least one check")
    val base = df.agg(aggs.head, aggs.tail: _*)
    val withRef = refIntegrity match {
      case Some((fk, dim, pk)) =>
        val orphan = df.select(fk).filter(col(fk).isNotNull)
          .join(broadcast(dim.select(pk)), col(fk) === col(pk), "left_anti")
          .agg(count(lit(1)).as(s"ref_integrity_$fk"))
        base.crossJoin(orphan) // both single aggregate rows
      case None => base
    }
    withRef.select(explode(array(withRef.columns.map(n =>
        struct(lit(n).as("check_name"), col(n).as("violations"))): _*)).as("c"))
      .select(col("c.check_name"), col("c.violations"),
        (col("c.violations") === 0L).as("passed"))
  }

  /** k-anonymity suppression: generalize the quasi-identifier columns of
    * every row whose QI group has fewer than `k` members (strings → "*",
    * numerics → -1), so no released row is identifiable among fewer than
    * k peers. One QI-histogram aggregation (bounded by QI-domain
    * cardinality, not corpus size) + a broadcast join back — no window
    * over raw rows. Adds a `suppressed` flag. See `pv1_k_anonymity`. */
  def kAnonymize(df: DataFrame, quasiIds: Seq[String], k: Int): DataFrame = {
    val groups = df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("__qi_n"))
    val joined = df.join(broadcast(groups), quasiIds)
    val generalized = quasiIds.foldLeft(joined) { (d, c) =>
      val fallback = d.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType => lit("*")
        case dt => lit(-1).cast(dt)
      }
      d.withColumn(c, when(col("__qi_n") >= k, col(c)).otherwise(fallback))
    }
    generalized.withColumn("suppressed", col("__qi_n") < k).drop("__qi_n")
  }

  /** Reciprocal-rank fusion of N ranked retrieval lanes. Each lane is a
    * DataFrame with `keyCols` (query grain), `idCol` (the ranked item)
    * and `rankCol` (1-based rank). Fused score is the exact integer
    * Σ 10⁹ div (c + rank) — no float reciprocals, so ordering is
    * deterministic across engines and runs. Lanes are unioned (one
    * shuffle at the (key, id) grain, input bounded by Σ lane sizes — cap
    * each lane with a top-k upstream) and the final top-k rides the
    * bounded-heap TopKPerKey. A lane missing an item simply contributes
    * nothing. Returns keyCols, idCol, n_lanes, rrf_score, rank.
    * See `rr1_hybrid_rrf` for the two-lane BM25+KNN instance. */
  def rrfFuse(lanes: Seq[DataFrame], keyCols: Seq[String], idCol: String,
      rankCol: String, k: Int, c: Int = 60): DataFrame = {
    require(lanes.nonEmpty, "rrfFuse needs at least one lane")
    // `/` on longs is double division, but 10⁹ over a small positive
    // divisor sits far inside double's 53-bit exactness window, so the
    // truncating cast equals exact integer `div` for every rank.
    val contrib = lanes.map(_.select(
      (keyCols.map(col) :+ col(idCol) :+
        (lit(1000000000L) / (lit(c.toLong) + col(rankCol).cast("long")))
          .cast("long").as("__contrib")): _*))
    val fused = contrib.reduce(_ unionByName _)
      .groupBy((keyCols :+ idCol).map(col): _*)
      .agg(count(lit(1)).as("n_lanes"), sum("__contrib").as("rrf_score"))
    graft.operators.TopK.perKey(fused, keys = keyCols,
      order = Seq("rrf_score" -> false, idCol -> true), k = k)
  }

  /** Cohort retention: bucket each user by first-seen epoch-week (exact
    * integer `unix_micros div week` — no date_trunc ISO-week surprises),
    * count distinct users per (cohort_week, offset_weeks) cell, and rate
    * each cell in exact basis points against the cohort size. Two
    * co-partitioned shuffles on the user column plus one at the cohort
    * grain; the cohort-size frame is weeks-sized, so it broadcasts at
    * any corpus scale. See `ret1_cohort_retention`. */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val weeks = df.filter(col(tsCol).isNotNull && col(userCol).isNotNull)
      .select(col(userCol).as("__user"),
        (unix_micros(col(tsCol)) / lit(604800000000L)).cast("long").as("__week"))
    val first = weeks.groupBy("__user").agg(min("__week").as("cohort_week"))
    val cells = weeks.join(first, "__user")
      .groupBy(col("cohort_week"),
        (col("__week") - col("cohort_week")).as("offset_weeks"))
      .agg(countDistinct("__user").as("n_users"))
    val sizes = first.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_week")
      .withColumn("retention_bp",
        (col("n_users") * 10000L / col("cohort_size")).cast("long"))
  }

  /** Ordered-funnel stage timestamps: per user, the first time each step
    * fired STRICTLY after the previous step's first completion. Output is
    * one row per user who completed step 1, with nullable `ts_1..ts_k`.
    *
    * Shape: every per-stage aggregate and join keys on the user column, so
    * Catalyst plans k hash aggregates + (k-1) joins that all share the one
    * user-hash partitioning — the big event table itself is scanned once
    * per stage but only its (user, ts) pairs for that stage's type move,
    * pre-filtered before the shuffle. Stage frames shrink monotonically
    * (funnel property), so the joins get cheaper as k grows.
    */
  def funnelSteps(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelSteps needs at least one step")
    val ev = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
    val first = ev.filter(col(typeCol) === steps.head)
      .groupBy(userCol).agg(min(tsCol).as("ts_1"))
    steps.zipWithIndex.drop(1).foldLeft(first) { case (acc, (step, i)) =>
      val prev = s"ts_$i"; val cur = s"ts_${i + 1}"
      val next = ev.filter(col(typeCol) === step)
        .select(col(userCol), col(tsCol).as("__t"))
      acc.join(next, Seq(userCol), "left")
        .groupBy((userCol +: (1 to i).map(j => s"ts_$j")).map(col): _*)
        // null-safe by construction: __t > null is null, so a user who
        // never reached step i gets a null ts_{i+1}, not dropped rows
        .agg(min(when(col("__t") > col(prev), col("__t"))).as(cur))
    }
  }
}
