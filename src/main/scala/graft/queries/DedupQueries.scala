package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.{Stats, Unpivot}
import graft.functions.Scalars
import graft.ingest.{Clean, Extract}
import graft.operators.{FuzzyJoin, Upsert}
import graft.sources.{Multimodal, NetCdf, NetCdfFixture}
import graft.stream.Ingest
import graft.vector.{Embed, Knn, SemanticWorkload}
import graft.dedup.Dedup
import graft.text.{Analysis, Summaries}
import graft.QueryContext._

/** Exact/near-duplicate detection suites (hash, MinHash+LSH, SimHash, spans).
  *
  * Split from SparkEntry (round 7) purely for file-size hygiene: entries are
  * unchanged; SparkEntry.queries concatenates the family maps.
  */
private[graft] object DedupQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- exact dedup: content-hash groupBy (training-data pipeline) --------
    "dd1_exact_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val dups = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
      Dedup.exactDupGroups(docs.unionByName(dups), "text", "doc_id")
        .groupBy("n_copies")
        .agg(count(lit(1)).as("n_groups"), min("keep_id").as("min_keep_id"))
        .orderBy("n_copies")
    },

    // ---- MinHash+LSH near-dup candidates (shingle→minhash→band→bucket) -----
    "dd2_minhash_lsh" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val dups = docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
      // 32-way pinned: the shingle+md5 scan is compute-bound and the source
      // parquet is a single row-group (one split), so without an explicit
      // repartition the whole hash workload runs in ONE task.
      val sh = Dedup.withShingleHash(
        docs.unionByName(dups)
          .repartition(32, col("doc_id"))
          .withColumn("toks", Dedup.tokens(col("text")))
          .select(col("doc_id"),
            explode(array_distinct(Dedup.shingles(col("toks"), 3))).as("shingle")))
      val mh = Dedup.minhashAggs(6)
      val sigs = sh.groupBy("doc_id").agg(mh.head, mh.tail: _*)
      sigs.select(col("doc_id"), explode(Dedup.bandKeys(6, 2)).as("band"))
        .select(col("doc_id"), col("band.band_id"), col("band.band_key"))
        .groupBy("band_id", "band_key").agg(count(lit(1)).as("n"))
        .groupBy("band_id")
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(when(col("n") > 1, 1).otherwise(0)).as("n_dup_buckets"),
          sum(expr("(n * (n - 1)) div 2")).as("n_candidate_pairs"))
        .orderBy("band_id")
    },

    // ---- SimHash fingerprints (16-bit, oracle-expressible) -----------------
    "dd3_simhash" -> { (s, dir) =>
      // 32-way pinned: single-row-group source, compute-bound token explode
      val tc = Tables.documents(s, dir)
        .repartition(32, col("doc_id"))
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      Dedup.simhash16(tc, "doc_id").orderBy("doc_id")
    },

    // ---- wide SimHash + hamming-ball LSH candidate pairs (scale path) ------
    "dd6_simhash_hamming" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 100 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" extraword")))
      // One shuffle for the whole signature computation: repartitioning the
      // (tiny) doc frame by doc_id up front parallelizes the tokenize+md5
      // scan across cores AND satisfies the clustering requirement of BOTH
      // downstream groupBys (doc_id+token, then doc_id — hash partitioning
      // on a key subset co-locates them), so neither inserts an exchange.
      // 32-way pinned explicitly: the md5-vote scan is compute-bound, so its
      // parallelism should track cores, not the session's shuffle width
      // (which a latency-tuned session keeps small for the tiny shuffles).
      val tc = docs.unionByName(variants)
        .repartition(32, col("doc_id"))
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      val sigs = Dedup.simhashWide(tc, "doc_id")
      Dedup.hammingPairs(sigs, "doc_id", "simhash", bands = 3, maxDist = 16)
        .orderBy("id_a", "id_b")
    },

    // ---- n-gram Jaccard similarity over candidate pairs --------------------
    "dd4_ngram_jaccard" -> { (s, dir) =>
      val sh = Tables.documents(s, dir)
        .withColumn("sh", array_distinct(Dedup.shingles(Dedup.tokens(col("text")), 2)))
      val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      a.join(b, col("doc_b") === col("doc_a") + 20)
        .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("jaccard", Stats.parityRound(Dedup.jaccard(col("sh_a"), col("sh_b")), 6))
        .select("doc_a", "doc_b", "n_inter", "jaccard")
        .orderBy("doc_a")
    },

    // ---- the COMPLETE near-dup pipeline: shingle → minhash → LSH bands →
    // candidate pairs → exact-Jaccard verification → flagged dup pairs.
    // dd2 stops at candidate counts; this runs the whole production path.
    // Candidates come from per-bucket i<j expansion (no self-join, pair
    // volume bounded by bucket size) and verification runs in the ROW
    // domain: shingle-hash rows join the candidate list per side and the
    // intersection is a (pair, shingle) match count — per-doc arrays never
    // cross a join, and the verify shuffle is |candidates| x doc size,
    // which LSH already pruned. The shingle frame is localCheckpoint-ed:
    // three consumers (signatures, side A, side B) read the tokenize+md5
    // scan ONCE instead of recomputing its lineage per branch.
    "dd8_lsh_verified" -> { (s, dir) =>
      dd8Pipeline(s, dir)
        .select("id_a", "id_b", "n_inter", "jaccard", "is_dup")
        .orderBy("id_a", "id_b")
    },

    // ---- dup-GROUP clustering: connected components over the verified
    // near-dup pairs (a driver union-find up to about a million pairs, else
    // min-label propagation rounds) — the "keep one representative per
    // cluster" step that turns
    // pairwise dedup output into an actionable training-corpus filter.
    // Oracled against a DuckDB RECURSIVE CTE transitive closure.
    "dd9_dup_groups" -> { (s, dir) =>
      val cc = Dedup.connectedComponents(ddDupPairs(s, dir))
      cc.join(cc.groupBy("group_id").agg(count(lit(1)).as("n_members")), "group_id")
        .select("member_id", "group_id", "n_members")
        .orderBy("member_id")
    },

    // ---- the dedup DELIVERABLE: the keep/drop decision table for the whole
    // corpus. Verified near-dup pairs → connected components → the canonical
    // member of each dup group is the group minimum (which IS the CC label),
    // every other member is dropped. Labels cover only dup-group members —
    // a vanishing fraction of a real corpus — so the decision join back to
    // the corpus is a narrow shuffle (broadcast when the dup set fits).
    // One row per doc: its group and whether it survives the dedup.
    "dd10_dedup_apply" -> { (s, dir) =>
      val base = Tables.documents(s, dir).select("doc_id")
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 100000).as("doc_id")))
      val labels = Dedup.connectedComponents(ddDupPairs(s, dir))
        .withColumnRenamed("member_id", "doc_id")
      corpus.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("group_id"), col("doc_id")).as("group_id"),
          (col("group_id").isNull || col("group_id") === col("doc_id")).as("kept"))
        .orderBy("doc_id")
    },

    // ---- canonical pick per dup cluster (dd10's policy upgrade): real
    // pipelines keep the BEST member of each duplicate group, not the
    // lowest id — here quality = content length, so the ' tailword'
    // clones (strictly longer) must beat their originals, which makes the
    // policy difference from dd10 visible in the output: every clone
    // cluster keeps the 100000+d member. Selection is one max_by
    // aggregate on (q, -doc_id) — argmax with a deterministic min-id tie
    // — then a group_id join-back; no window over members, no sort. ------
    "dd16_canonical_pick" -> { (s, dir) =>
      val base = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = base.unionByName(
          base.filter(col("doc_id") % 25 === 0)
            .select((col("doc_id") + 100000).as("doc_id"),
              concat(col("text"), lit(" tailword")).as("text")))
        .withColumn("q", length(col("text")).cast("long"))
        .select("doc_id", "q")
      val labels = Dedup.connectedComponents(ddDupPairs(s, dir))
        .withColumnRenamed("member_id", "doc_id")
      val labeled = corpus.join(labels, Seq("doc_id"), "left")
        .withColumn("group_id", coalesce(col("group_id"), col("doc_id")))
      val canon = labeled.groupBy("group_id")
        .agg(max_by(col("doc_id"), struct(col("q"), (-col("doc_id")).as("neg")))
          .as("canon_id"))
      labeled.join(canon, "group_id")
        .select(col("doc_id"), col("group_id"),
          (col("doc_id") === col("canon_id")).as("kept"), col("q"))
        .orderBy("doc_id")
    },

    // ---- MinHash estimator quality: signature-estimate vs exact Jaccard ----
    // The e8 recall metric proves the IVF path isn't silently lossy; this is
    // the same proof for MinHash — per candidate pair, the lane-match
    // estimate (matching lanes / 6) next to the exact shingle-set Jaccard
    // and the absolute error. Pairs cover both regimes: (d, d+100000) true
    // near-dups (one appended word) and (d, d+20) unrelated docs, so the
    // estimator is checked where it must fire AND where it must not.
    "dd7_minhash_est" -> { (s, dir) =>
      val base = Tables.documents(s, dir).select("doc_id", "text")
      val variants = base.filter(col("doc_id") % 20 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" extraword")))
      val docs = base.unionByName(variants).repartition(32, col("doc_id"))
      // Everything downstream runs in the ROW domain — one Generate to
      // (doc_id, shingle) rows (the dd2 shape), then narrow shuffles. Two
      // array-domain alternatives were measured 10-60× slower here: per-doc
      // shingle-array self-joins recompute the HOF lineage per join side,
      // and any filter/explode over the array column makes Catalyst infer a
      // size(sh)>0 predicate that INLINES the whole tokenize+shingle chain
      // into scan-side filters (interpreted, split() re-evaluated ~8× per
      // row, once per consumer branch). Shuffling shingle rows is also the
      // only shape that survives 100 TB — per-doc arrays never co-locate.
      val shRows = docs.select(col("doc_id"),
        explode(graft.expressions.ShingleMd5.of(Dedup.tokens(col("text")), 3)).as("__s"))
        .select(col("doc_id"), col("__s.sh_hi").as("sh_hi"), col("__s.sh_lo").as("sh_lo"))
      val mh = Dedup.minhashAggs(6)
      // signatures AND set sizes in ONE groupBy pass; docs with < 3 tokens
      // have no shingle rows, hence no signature (oracle inner join mirrors)
      val grouped = shRows.groupBy("doc_id")
        .agg(mh.head, (mh.tail :+ count(lit(1)).as("nsh")): _*)
        .select(col("doc_id"), col("nsh"),
          struct((0 until 6).map(j => col(s"mh$j")): _*).as("sig"))
      // Pair roles WITHOUT a self-join: each row emits one narrow
      // (pair_key, offset, side, payload) row per pair role — (d, d+100000)
      // near-dups and (d, d+20) dissimilar — and one groupBy zips the two
      // sides back together. The expensive lineage is consumed once; only
      // 6-lane numeric sig structs / single shingles travel the shuffles.
      def pairRoles(df: DataFrame, payload: String): DataFrame = df.select(
        explode(array(
          struct(col("doc_id").as("pk"), lit(100000L).as("off"), lit(0).as("side"), col(payload)),
          struct((col("doc_id") - 100000).as("pk"), lit(100000L).as("off"), lit(1).as("side"), col(payload)),
          struct(col("doc_id").as("pk"), lit(20L).as("off"), lit(0).as("side"), col(payload)),
          struct((col("doc_id") - 20).as("pk"), lit(20L).as("off"), lit(1).as("side"), col(payload))))
          .as("e"))
        .select(col("e.pk"), col("e.off"), col("e.side"), col(s"e.$payload"))
        // provably partnerless roles (near-pair keys not ≡0 mod 20, or keys
        // before the id range) would be dropped by the groupBy anyway —
        // filtering the narrow rows BEFORE the shuffle halves its volume
        .filter(col("pk") >= 0 &&
          (col("off") === 20 || col("pk") % 20 === 0))
      // a pair exists iff BOTH endpoints have a signature (non-null sides)
      val est = pairRoles(grouped.withColumn("pay",
          struct(col("sig"), col("nsh"))), "pay")
        .groupBy("pk", "off")
        .agg(
          max(when(col("side") === 0, col("pay.sig"))).as("sig_a"),
          max(when(col("side") === 1, col("pay.sig"))).as("sig_b"),
          max(when(col("side") === 0, col("pay.nsh"))).as("na"),
          max(when(col("side") === 1, col("pay.nsh"))).as("nb"))
        .filter(col("sig_a").isNotNull && col("sig_b").isNotNull)
      // exact intersection size per pair: a shingle is shared iff both
      // sides emitted it — two narrow aggregations, no array_intersect
      // (the shingle identity is its 128-bit digest pair, same as the join
      // keys everywhere else in the family)
      val ni = pairRoles(
          shRows.withColumn("shingle", struct(col("sh_hi"), col("sh_lo"))),
          "shingle")
        .groupBy("pk", "off", "shingle")
        .agg(min("side").as("s0"), max("side").as("s1"))
        .filter(col("s0") === 0 && col("s1") === 1)
        .groupBy("pk", "off").agg(count(lit(1)).as("ni"))
      val exactRaw = col("ni") / (col("na") + col("nb") - col("ni"))
      est.join(ni, Seq("pk", "off"), "left")
        .withColumn("ni", coalesce(col("ni"), lit(0L)))
        .withColumn("n_match", (0 until 6)
          .map(j => when(col(s"sig_a.mh$j") === col(s"sig_b.mh$j"), 1).otherwise(0))
          .reduce(_ + _).cast("long"))
        .withColumn("est_j", Stats.parityRound(col("n_match") / lit(6.0), 6))
        .withColumn("exact_j", Stats.parityRound(exactRaw, 6))
        .withColumn("abs_err",
          Stats.parityRound(abs(col("n_match") / lit(6.0) - exactRaw), 6))
        .select(col("pk").as("doc_a"), (col("pk") + col("off")).as("doc_b"),
          col("n_match"), col("est_j"), col("exact_j"), col("abs_err"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- embedding-cosine near-dup, banded sign-bit LSH (scale path) -------
    "dd5_embed_neardup" -> { (s, dir) =>
      // 24 hyperplane sign bits banded into 3×8-bit chunks (the dd6
      // pigeonhole pattern): a candidate pair must match one FULL 8-bit
      // chunk, so in-band bucket counts are 256 (vs 16 for a flat 4-bit
      // bucket) and in-bucket pair cost drops from O(N²/16) to O(N²/256)
      // per band — the difference between a bounded equi-join and a
      // quadratic blow-up at 100 TB. Pigeonhole: any pair within signature
      // hamming distance < 3 bands is guaranteed to share a chunk.
      // Norms are computed ONCE per row before the pair join, not per pair.
      val bits = 24; val bands = 3; val width = bits / bands
      val emb = Tables.embeddings(s, dir)
        .withColumn("vec", col("embedding").cast("array<double>"))
        .withColumn("nrm", Knn.l2norm(col("vec")))
        .withColumn("sig", (0 until bits).map(i =>
          when(element_at(col("vec"), i + 1) > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _))
      val banded = emb.select(col("vec_id"), col("vec"), col("nrm"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"),
            expr(s"(sig >> ${b * width}) & ${(1L << width) - 1}").as("chunk"))): _*)).as("bc"))
        .select(col("vec_id"), col("vec"), col("nrm"), col("bc.band_id"), col("bc.chunk"))
      val a = banded.select(col("band_id"), col("chunk"), col("vec_id").as("id_a"),
        col("vec").as("va"), col("nrm").as("na"))
      val b = banded.select(col("band_id"), col("chunk"), col("vec_id").as("id_b"),
        col("vec").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("band_id", "chunk")).filter(col("id_a") < col("id_b"))
        .withColumn("sim", round(
          when(col("na") * col("nb") > 0,
            Knn.dot(col("va"), col("vb")) / (col("na") * col("nb"))), 6))
        .select("id_a", "id_b", "sim")
        .distinct()
        .orderBy(col("sim").desc, col("id_a"), col("id_b"))
        .limit(20)
    },

    // ---- SemDeDup-style semantic dedup (Abbas et al. 2023 shape): coarse-
    // cluster the embedding space with the TRAINED IVF quantizer (k-means
    // cells), then within each cell flag items whose cosine to a LOWER-id
    // cell-mate reaches tau — greedy keep-first, the exactDupGroups rule
    // lifted to embedding space. Pair expansion is O(cell²) BOUNDED BY THE
    // QUANTIZER, never O(N²): at corpus scale the cell count grows with N
    // (SemDeDup's own operating point) so cell size stays a constant, and
    // the per-cell join is an equi-join on the cell id — the same bounded-
    // bucket discipline as dd2/dd5/dd6. Exact vector copies are injected
    // (every 20th, re-embedded content ⇒ identical vector) so the operator
    // provably fires; norms are computed once per row, not per pair. ------
    "dd11_semantic_dedup" -> { (s, dir) =>
      val tau = 0.98
      val base = Tables.embeddings(s, dir)
        .withColumn("vec", col("embedding").cast("array<double>"))
        .select("vec_id", "label", "vec")
      val copies = base.filter(col("vec_id") % 20 === 0)
        .withColumn("vec_id", col("vec_id") + 10000)
      // cells ∝ N (the SemDeDup/IVF operating point): target ~256 vectors
      // per cell so the in-cell pair term stays LINEAR in corpus size —
      // with a fixed cell count it grows quadratically (the ~sf1 rehearsal
      // measured exactly that on the 10 fixture labels). One count() to
      // size the quantizer is the standard stats-driven build step; the
      // oracle derives the same number in SQL.
      val all0 = base.unionByName(copies)
      val nCells = math.max(10L, all0.count() / 256)
      val all = all0.withColumn("label", col("vec_id") % nCells)
      // the trained index is the corpus-wide one-time artifact (three
      // consumers here: both pair sides and the final decision join) —
      // materialize it once, the tf/sigs recipe
      val cents = Knn.ivfTrain(all, "vec_id", "vec", "label", iters = 2)
      val index = Knn.ivfAssign(all, cents, "vec_id", "vec", "label")
        .withColumn("nrm", Knn.l2norm(col("vec")))
        .localCheckpoint(false)
      val a = index.select(col("label"), col("vec_id").as("id_a"),
        col("vec").as("va"), col("nrm").as("na"))
      val b = index.select(col("label"), col("vec_id").as("id_b"),
        col("vec").as("vb"), col("nrm").as("nb"))
      val dropped = a.join(b, "label").filter(col("id_a") < col("id_b"))
        .withColumn("sim", round(
          when(col("na") * col("nb") > 0,
            Knn.dot(col("va"), col("vb")) / (col("na") * col("nb"))), 6))
        .filter(col("sim") >= tau)
        .groupBy(col("id_b").as("vec_id"))
        .agg(min("id_a").as("kept_for"), count(lit(1)).as("n_close"))
      index.select("vec_id", "label")
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label").as("cell"),
          col("kept_for").isNotNull.as("is_dup"),
          coalesce(col("kept_for"), col("vec_id")).as("keep_id"),
          coalesce(col("n_close"), lit(0L)).as("n_close"))
    },

    // ---- incremental dedup against an existing corpus index: the crawl
    // op — an incoming batch is admitted only if it is neither an EXACT
    // copy (128-bit content digest semi-join) nor a NEAR copy (banded LSH
    // + digest-array Jaccard verify ≥ 0.5) of anything already kept: the
    // Engine.dedupIncremental entry point, over a %3 batch/index split. ---
    "dd12_incremental_dedup" -> { (s, dir) =>
      val base = Tables.documents(s, dir).select("doc_id", "text")
      // re-crawled pages: exact copies of index docs landing in the batch
      // (+300002 keeps them on the batch side of the %3 split), so the
      // exact tier provably fires — not just the near tier
      val recrawled = base.filter(col("doc_id") % 30 === 1)
        .withColumn("doc_id", col("doc_id") + 300002)
      val all = base.unionByName(recrawled)
      new Engine(s).dedupIncremental(all.filter(col("doc_id") % 3 === 0),
          all.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ---- line-level boilerplate removal (the CommonCrawl/CCNet recipe):
    // drop every LINE that appears in >5% of documents, keep the rest,
    // reassemble each document in original line order. The fixture text is
    // single-line, so boilerplate lines are injected deterministically
    // (the ta6 pattern): a footer on EVERY doc (must drop), a newsletter
    // line on every 3rd (must drop), and two low-frequency promo variants
    // (must KEEP — shared-but-rare is the no-fire case). Two corpus scans
    // by design: pass 1 reduces to the tiny high-frequency line set, which
    // broadcasts into pass 2's re-scan — at 100 TB a re-scan is cheap and
    // materializing the exploded corpus (the one-pass alternative) is not.
    // The threshold is RELATIVE (nd*20 > N), so the op is scale-stable.
    // Per-doc reassembly: collect_list skips the null-ed boilerplate
    // rows, array_sort restores line order (pos is the struct's leading
    // field), and the groupBy rides the pass-2 repartition clustering —
    // no extra shuffle. A doc can lose every line (clone-heavy corpora);
    // both sides pin that to the empty string, not NULL. ------------------
    "dd14_line_dedup" -> { (s, dir) =>
      def withLines(df: DataFrame): DataFrame = df
        .select(col("doc_id"),
          concat(
            col("text"),
            lit("\ncookie policy applies"),
            when(col("doc_id") % 3 === 0, lit("\nsubscribe to our newsletter"))
              .otherwise(lit("")),
            when(col("doc_id") % 50 === 0,
              concat(lit("\npromo code "),
                expr("cast((doc_id div 50) % 2 AS string)")))
              .otherwise(lit(""))).as("text2"))
        .repartition(32, col("doc_id"))
        .select(col("doc_id"),
          posexplode(split(col("text2"), "\n")).as(Seq("pos", "line")))
      val docs = Tables.documents(s, dir)
      // each doc contributes a line at most once (single content line +
      // distinct injected lines), so count(*) IS the containing-doc count
      // — no count(distinct) double-aggregation
      val freq = withLines(docs).groupBy("line").agg(count(lit(1)).as("nd"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      val boiler = freq.crossJoin(broadcast(total))
        .filter(col("nd") * 20 > col("n_total"))
        .select(col("line"), lit(1).as("is_b"))
      withLines(docs)
        .join(broadcast(boiler), Seq("line"), "left")
        .groupBy("doc_id")
        .agg(
          sum(when(col("is_b").isNull, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("is_b").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
          array_join(
            expr("transform(array_sort(collect_list(CASE WHEN is_b IS NULL " +
              "THEN named_struct('pos', pos, 'line', line) END)), x -> x.line)"),
            "\n").as("clean_text"))
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          length(col("clean_text")).cast("long").as("clean_len"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // ---- exact substring-span dedup (the Lee et al. "Deduplicating
    // Training Data" recipe at fixture scale): every 8-token span (stride
    // 1) that occurs MORE THAN ONCE corpus-wide is duplicated text; each
    // doc reports its duplicated-span count and the EXACT token coverage
    // of the union of its duplicated spans (overlaps counted once —
    // positions exploded and distinct-counted, not n_spans*8). The dup
    // span set is unbounded (clone-heavy corpora), so the marking join
    // carries NO broadcast hint: the planner broadcasts at fixture scale
    // and flips to a shuffle join past the threshold — the design never
    // assumes the dup set fits in memory; at real scale the span string
    // would be xxhash64'd to shrink the exchange (the oracle pairing
    // keeps the string key). Two corpus scans by design
    // (the dd14 argument: a re-scan beats materializing the span frame).
    // countDistinct(start)+countDistinct(pos) ride ONE aggregation (the
    // Expand doubles only dup-coverage rows, not the corpus). ------------
    "dd15_span_dedup" -> { (s, dir) =>
      def spans(df: DataFrame): DataFrame = df
        .repartition(32, col("doc_id")) // single-row-group source (dd2 reason)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ts) - 8), i -> named_struct(" +
            "'start', CAST(i AS BIGINT), " +
            "'span', array_join(slice(ts, i + 1, 8), ' ')))")).as("sp"))
        .select(col("doc_id"), col("sp.start").as("start"), col("sp.span").as("span"))
      val docs = Tables.documents(s, dir)
      val dup = spans(docs).groupBy("span")
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).select("span")
      val cov = spans(docs).join(dup, "span")
        .select(col("doc_id"), col("start"),
          explode(expr("sequence(start, start + 7)")).as("pos"))
        .groupBy("doc_id")
        .agg(countDistinct("start").as("n_dup_spans"),
          countDistinct("pos").as("covered"))
      docs
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("n_spans", greatest(col("n_tokens") - 7, lit(0L)))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(col("covered"), lit(0L)).as("covered_tokens"))
        .withColumn("dup_ppm",
          expr("CASE WHEN n_tokens > 0 THEN covered_tokens * 1000000 div n_tokens " +
            "ELSE CAST(0 AS BIGINT) END"))
        .orderBy("doc_id")
    },

    // ---- edit-distance dedup with exact-collapse first: raw part names
    // repeat thousands of times, so pairing ROWS would blow the buckets up
    // quadratically (the dd-family hot-bucket killer). Collapse to
    // DISTINCT names with multiplicities, bucket by (prefix, length band),
    // pair the distinct names in-bucket, verify with levenshtein, then
    // weigh each name pair by cnt_a·cnt_b — row-pair counts without ever
    // materializing row pairs. ------------------------------------------
    "dd13_editdistance_dedup" -> { (s, dir) =>
      val names = Tables.part(s, dir)
        .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("cnt"))
        .withColumn("pfx", substring(col("name"), 1, 3))
        .withColumn("lb", expr("length(name) div 4"))
        .localCheckpoint(false) // feeds the exact tier and the pair gather
      val exact = names.agg(
        (sum(col("cnt") * (col("cnt") - 1)) / 2).cast("long").as("n_part_pairs"),
        lit(0L).as("n_name_pairs"))
        .withColumn("d", lit(0L))
      val nm = col("members")
      val near = names
        .groupBy("pfx", "lb")
        .agg(sort_array(collect_list(struct(col("name"), col("cnt")))).as("members"))
        .filter(size(nm) > 1)
        .select(explode(flatten(transform(nm, (x, i) =>
          transform(slice(nm, i + lit(2), size(nm)),
            y => struct(x.getField("name").as("na"), y.getField("name").as("nb"),
              (x.getField("cnt") * y.getField("cnt")).as("w")))))).as("p"))
        .withColumn("d", levenshtein(col("p.na"), col("p.nb")).cast("long"))
        .filter(col("d") >= 1 && col("d") <= 3)
        .groupBy("d")
        .agg(sum(col("p.w")).as("n_part_pairs"), count(lit(1)).as("n_name_pairs"))
      exact.select("d", "n_name_pairs", "n_part_pairs")
        .unionByName(near.select("d", "n_name_pairs", "n_part_pairs"))
        .orderBy("d")
    },

    // ---- k-anonymity suppression (k = 8): quasi-identifier groups
    // (nation × market segment) smaller than k are generalized to
    // (-1, '*') so no released row is identifiable among fewer than k
    // peers. One hash aggregation builds the QI histogram — bounded by
    // QI-domain cardinality, not corpus size — and a broadcast join
    // stamps each row with its group size; no window over raw rows. -----
    "pv1_k_anonymity" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
      val groups = c.groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("group_n"))
      c.join(broadcast(groups), Seq("c_nationkey", "c_mktsegment"))
        .select(
          col("c_custkey"),
          when(col("group_n") >= 8, col("c_nationkey").cast("bigint"))
            .otherwise(lit(-1L)).as("nation_qi"),
          when(col("group_n") >= 8, col("c_mktsegment"))
            .otherwise(lit("*")).as("segment_qi"),
          col("group_n"),
          (col("group_n") < 8).as("suppressed"))
        .orderBy("c_custkey")
    },

    // ---- distributed n-gram language model as a quality filter: a corpus
    // bigram table (token-domain, min-count-trimmed at c >= 3) scores every
    // document by the fraction of its bigram OCCURRENCES the model knows —
    // the rational-arithmetic stand-in for perplexity (no libm ln, so
    // DuckDB and the JVM agree bit-for-bit). Scale shape: the trimmed model
    // is vocabulary²-bounded — far smaller than the corpus — so the
    // doc→model probe broadcasts (AQE flips it to shuffle past the
    // threshold); the per-doc count is the only data-sized shuffle, and it
    // carries (doc_id, hit-flag) pairs with map-side partials. -----------
    "lm1_bigram_novelty" -> { (s, dir) =>
      val bg = Tables.documents(s, dir)
        .repartition(32, col("doc_id")) // single-row-group source: spread the tokenize+explode
        .withColumn("toks", Dedup.tokens(col("text")))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(Dedup.shingles(col("toks"), 2)).as("bg"))
      val model = bg.groupBy("bg").agg(count(lit(1)).as("c")).filter(col("c") >= 3)
      bg.join(broadcast(model), Seq("bg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), count(col("c")).as("n_known"))
        .withColumn("novelty",
          Stats.parityRound(lit(1.0) - col("n_known") / col("n_bigrams"), 6))
        .orderBy("doc_id")
    },

    // ---- corpus-level source-overlap matrix: pairwise Jaccard of each
    // source's distinct 3-shingle set — the contamination/diversity
    // diagnostic run before mixing corpora into a training blend. The
    // shingle-domain frame aggregates to a per-shingle source SET (bounded
    // by the source count, not the corpus), pairs expand map-side inside
    // the row, and only (pair → count) rows shuffle — no shingle self-join
    // at any scale. -------------------------------------------------------
    "cs1_source_overlap" -> { (s, dir) =>
      val sh = Tables.documents(s, dir)
        .repartition(32, col("doc_id")) // single-row-group source: spread the shingle explode
        .select(col("source"),
          explode(array_distinct(
            Dedup.shingles(Dedup.tokens(col("text")), 3))).as("sh"))
        .distinct()
      // one shingle scan: the checkpointed source-set frame feeds sizes,
      // pairs, AND both broadcast join-backs (4 consumers otherwise re-run
      // the explode+distinct subtree end-to-end)
      val srcSets = sh.groupBy("sh")
        .agg(array_sort(collect_set("source")).as("ss"))
        .localCheckpoint(false)
      val sizes = srcSets.select(explode(col("ss")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = srcSets.select(explode(flatten(transform(col("ss"),
          (x, i) => transform(
            slice(col("ss"), i + lit(2),
              greatest(size(col("ss")) - i - 1, lit(0))),
            y => struct(x.as("s1"), y.as("s2")))))).as("p"))
        .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
        .agg(count(lit(1)).as("n_inter"))
      pairs
        .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n_s1"))), "s1")
        .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n_s2"))), "s2")
        .select(col("s1"), col("s2"), col("n_inter"), col("n_s1"), col("n_s2"),
          Stats.parityRound(
            col("n_inter") / (col("n_s1") + col("n_s2") - col("n_inter")), 6)
            .as("jaccard"))
        .orderBy("s1", "s2")
    },
  )
}
