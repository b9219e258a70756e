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

/** Text analysis, summarization documents, packing/sampling pipeline queries.
  *
  * Split from SparkEntry (round 7) purely for file-size hygiene: entries are
  * unchanged; SparkEntry.queries concatenates the family maps.
  */
private[graft] object TextPipelineQueries {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- full §3.1 lifecycle: raw arrays → tidy → clean → floats summary ---
    "pl1_full_pipeline" -> { (s, dir) =>
      val raw = Tables.events(s, dir).select(
        col("user_id").cast("string").as("float_id"),
        col("event_id").cast("string").as("profile_id"),
        col("ts").as("time"),
        expr("mod(value, 180) - 90").as("latitude"),
        expr("mod(value * 2, 360) - 180").as("longitude"),
        array(expr("mod(value, 45)"), lit(null).cast("double"),
          expr("mod(value, 50) - 5")).as("temperature"),
        array(expr("mod(value, 50)"), expr("mod(value, 40)"),
          lit(null).cast("double")).as("salinity"),
        array(expr("mod(value, 6000)"), lit(null).cast("double"),
          lit(null).cast("double")).as("pressure"))
      graft.ingest.Pipeline.floats(
        graft.ingest.Pipeline.clean(graft.ingest.Pipeline.tidy(raw), "2026-01-01"))
        .select("float_id", "first_ts", "last_ts", "n_distinct", "n_rows",
          "temperature_count", "temperature_min", "temperature_max", "temperature_mean",
          "salinity_count", "salinity_min", "salinity_max", "salinity_mean",
          "pressure_count", "pressure_min", "pressure_max", "pressure_mean")
        .orderBy("float_id")
    },

    // ---- exact-proportion stratified split: row_number within each stratum
    // over a content hash → exactly ceil(80%)/next 10%/rest per lang, fully
    // deterministic (no RNG). Integer threshold arithmetic (rn*10 <= cnt*8)
    // avoids 0.8*n float boundaries. Scale note: the rank is per-stratum, so
    // a mega-stratum serializes one partition — at 100 TB prefer sp1's
    // thresholded hash (no rank) unless exact proportions are contractual.
    "sp2_stratified_split" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val byLang = Window.partitionBy("lang")
      val rankW = byLang.orderBy(expr("md5(cast(doc_id as string))"), col("doc_id"))
      Tables.documents(s, dir)
        .select("doc_id", "lang", "n_chars")
        .withColumn("rn", row_number().over(rankW))
        .withColumn("cnt", count(lit(1)).over(byLang))
        .withColumn("split",
          when(col("rn") * 10 <= col("cnt") * 8, "train")
            .when(col("rn") * 10 <= col("cnt") * 9, "valid")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang", "split")
    },

    // ---- deterministic hash sampling + train/valid/test split: reproducible
    // ---- on any engine/cluster (no RNG), the training-corpus staple --------
    "sp1_hash_split" -> { (s, dir) =>
      // first 2 md5 hex digits of the id → uniform 0..255, engine-neutral
      val hexVal = (1 to 2).map(i =>
        (expr(s"instr('0123456789abcdef', substr(md5(cast(doc_id AS string)), $i, 1)) - 1") *
          lit(math.pow(16, 2 - i).toInt))).reduce(_ + _)
      Tables.documents(s, dir)
        .withColumn("h", hexVal % 100)
        .withColumn("split",
          when(col("h") < 80, "train").when(col("h") < 90, "valid").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang", "split")
    },

    // ---- T2 exact reference-template parity: the deployment document whose
    // ---- golden text ships in the reference's export (preprocess_floats_
    // ---- to_chromadb.py:145-271; chromadb_export_20250917_124841.txt:35-37).
    // ---- Every %.Nf argument is parity-rounded at its print scale first so
    // ---- Java/C printf cannot disagree on halfway cases.
    "t6_reference_doc" -> { (s, dir) =>
      referenceFloatStats(s, dir)
        .select(col("float_id"), referenceDocText.as("document"))
        .orderBy("float_id")
    },

    // ---- S15 assembled text-export report (export_chromadb_to_text.py:78-245):
    // ---- header block + numbered per-document sections (metadata + content,
    // ---- reusing the T2/T6 deployment documents) + the summary-statistics
    // ---- footer (export_summary_statistics, :196-245) — the reference's
    // ---- actual deliverable, as one ordered-section sink query. -------------
    "t8_report_export" -> { (s, dir) =>
      import Stats.{parityRound => pr}
      import org.apache.spark.sql.expressions.Window
      val eq = "=" * 100; val d80 = "-" * 80; val d40 = "-" * 40
      // one row per float after the heavy events-cleanup lineage; the three
      // report blocks (header/sections/footer) read it from a checkpoint
      // instead of recomputing the 3-stage pipeline per branch
      val g = referenceFloatStats(s, dir).localCheckpoint(false)
      val header = g.agg(count(lit(1)).as("n"))
        .crossJoin(Tables.events(s, dir).agg(
          date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("export_date")))
        .select(lit(0L).as("section_no"),
          concat(
            lit(eq + "\nCHROMADB DATA EXPORT - FLOAT EMBEDDINGS COLLECTION\n" +
              eq + "\nExport Date: "),
            col("export_date"),
            lit("\nCollection: float_embeddings\nTotal Documents: "),
            col("n").cast("string"),
            lit("\n" + eq)).as("section"))
      // global numbering window is fine here: input is the per-float
      // aggregate (one row per float), never raw data
      val sections = g
        .select(col("float_id"), referenceDocText.as("document"))
        .withColumn("i", row_number().over(Window.orderBy("float_id")))
        .select(
          col("i").cast("long").as("section_no"),
          concat(
            lit("DOCUMENT #"), col("i").cast("string"), lit("\n" + d80 + "\n"),
            lit("Document ID: doc_"), col("float_id"), lit("\n" + d40 + "\n"),
            lit("METADATA:\n  float_id: "), col("float_id"),
            lit("\n  collection: float_embeddings\n" + d40 + "\n"),
            lit("DOCUMENT CONTENT:\n"), col("document"),
            lit("\n\n" + eq)).as("section"))
      val footer = g.agg(
        count(lit(1)).as("n"),
        sum(when(col("tc") > 0, 1).otherwise(0)).as("ta"),
        sum(when(col("sc") > 0, 1).otherwise(0)).as("sa"),
        sum(when(col("pc") > 0, 1).otherwise(0)).as("pa"),
        min("latc").as("latmin"), max("latc").as("latmax"),
        min("lonc").as("lonmin"), max("lonc").as("lonmax"))
        .select((col("n") + 1).cast("long").as("section_no"),
          concat(
            lit("SUMMARY STATISTICS\n" + d80 + "\ntotal_documents: "),
            col("n").cast("string"),
            lit("\nmeasurement_availability: temperature="), col("ta").cast("string"),
            lit(" salinity="), col("sa").cast("string"),
            lit(" pressure="), col("pa").cast("string"),
            lit("\nlocation_bounds: lat["),
            format_string("%.3f", pr(col("latmin"), 3)), lit(", "),
            format_string("%.3f", pr(col("latmax"), 3)),
            lit("] lon["),
            format_string("%.3f", pr(col("lonmin"), 3)), lit(", "),
            format_string("%.3f", pr(col("lonmax"), 3)), lit("]")).as("section"))
      header.unionByName(sections).unionByName(footer).orderBy("section_no")
    },

    // ---- T1 exact reference-template parity (embeddings/embed.py:46-148):
    // ---- "Argo float X operated from ... in the <region> (latitude a to b,
    // ---- longitude c to d) with N profiles measuring ..., This float
    // ---- operated in <band>, <season> deployment." --------------------------
    "t7_reference_t1" -> { (s, dir) =>
      import Stats.{parityRound => pr}
      val raw = Tables.events(s, dir).select(
        col("user_id").cast("string").as("float_id"),
        col("event_id").cast("string").as("profile_id"),
        col("ts").as("time"),
        expr("mod(value, 180) - 90").as("latitude"),
        expr("mod(value * 2, 360) - 180").as("longitude"),
        array(expr("mod(value, 45)"), lit(null).cast("double"),
          expr("mod(value, 50) - 5")).as("temperature"),
        array(expr("mod(value, 50)"), expr("mod(value, 40)"),
          lit(null).cast("double")).as("salinity"),
        array(expr("mod(value, 6000)"), lit(null).cast("double"),
          lit(null).cast("double")).as("pressure"))
      val g = graft.ingest.Pipeline.clean(graft.ingest.Pipeline.tidy(raw), "2026-01-01")
        .groupBy("float_id")
        .agg(
          date_format(min("time"), "yyyy-MM-dd").as("d1"),
          date_format(max("time"), "yyyy-MM-dd").as("d2"),
          month(min("time")).as("m1"),
          countDistinct(col("profile_id")).as("n_prof"),
          min("latitude").as("lat_min"), max("latitude").as("lat_max"),
          min("longitude").as("lon_min"), max("longitude").as("lon_max"),
          min("temperature").as("tmin"), max("temperature").as("tmax"),
          min("salinity").as("smin"), max("salinity").as("smax"),
          max("pressure").as("pmax"))
        .withColumn("latc", Scalars.center(col("lat_min"), col("lat_max")))
        .withColumn("lonc", Scalars.center(col("lon_min"), col("lon_max")))
      g.select(col("float_id"),
        format_string(
          "Argo float %s operated from %s to %s in the %s (latitude %.1f to %.1f, longitude %.1f to %.1f) with %s profiles measuring temperature ranging from %.1f°C to %.1f°C, salinity from %.1f to %.1f PSU, pressures up to %.0f dbar. This float operated in %s, %s deployment.",
          col("float_id"), col("d1"), col("d2"),
          Scalars.oceanRegion(col("latc"), col("lonc")),
          pr(col("lat_min"), 1), pr(col("lat_max"), 1),
          pr(col("lon_min"), 1), pr(col("lon_max"), 1),
          col("n_prof").cast("string"),
          pr(col("tmin"), 1), pr(col("tmax"), 1),
          pr(col("smin"), 1), pr(col("smax"), 1),
          pr(col("pmax"), 0),
          Scalars.latBand(col("latc")),
          Scalars.season(col("m1"))).as("summary"))
        .orderBy("float_id")
    },

    // ---- T1 metadata summary template (embed.py:46-148) --------------------
    "t1_metadata_summary" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          min("ts").as("d1"), max("ts").as("d2"), count(lit(1)).as("n"),
          min("value").as("vmin"), max("value").as("vmax"))
        .withColumn("lat", expr("mod(vmin, 90)"))
        .withColumn("lon", expr("mod(vmax, 180)"))
        .select(col("user_id"),
          graft.text.Summaries.metadataSummary(
            col("user_id").cast("string"),
            date_format(col("d1"), "yyyy-MM-dd"),
            date_format(col("d2"), "yyyy-MM-dd"),
            col("lat"), col("lon"), col("n").cast("string")).as("summary"))
        .orderBy("user_id")
    },

    // ---- T3 upload description template (fastapi_app.py:524-555) -----------
    "t3_upload_description" -> { (s, dir) =>
      Tables.events(s, dir)
        .agg(
          date_format(min("ts"), "yyyy-MM-dd").as("d1"),
          date_format(max("ts"), "yyyy-MM-dd").as("d2"),
          min("value").as("vmin"), max("value").as("vmax"),
          Stats.exactMean(col("value"), 2).as("vmean"), count(col("value")).as("n"))
        .select(graft.text.Summaries.uploadDescription(
          col("d1"), col("d2"), col("vmin"), col("vmax"), col("vmean"),
          col("n").cast("string")).as("description"))
    },

    // ---- T4 EAV pivot-back profile summary (embed.py:305-361) --------------
    // min/max commute with the unpivot: aggregating each measure column
    // directly is algebraically identical to unpivoting to EAV rows first
    // (the oracle keeps the literal EAV CTE and hash-matches), but halves
    // the shuffle volume — toEav doubles rows per measure BEFORE the
    // groupBy, which at corpus scale is pure amplification of the exchange.
    "t4_profile_summary" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(
          min(col("l_quantity")).as("qmin"),
          max(col("l_quantity")).as("qmax"),
          min(col("l_extendedprice")).as("pmin"),
          max(col("l_extendedprice")).as("pmax"))
        .select(col("l_orderkey"),
          format_string(
            "Order %s with quantity from %.2f to %.2f and price from %.2f to %.2f",
            col("l_orderkey").cast("string"),
            round(col("qmin"), 2), round(col("qmax"), 2),
            round(col("pmin"), 2), round(col("pmax"), 2)).as("summary"))
        .orderBy("l_orderkey")
    },

    // ---- TF-IDF-weighted top terms per document — term frequency × inverse
    // document frequency as an EXACT integer score (tf·10⁶ div df: monotone
    // in tf/df, no log ⇒ no cross-engine FP risk, no rank flips), ranked by
    // the custom bounded-heap TopKPerKey operator (term rows never sort;
    // memory O(k·docs)). The df join shuffles on token — vocabulary-sized,
    // the small axis of any corpus.
    "ta5_tfidf_topk" -> { (s, dir) =>
      // tf feeds BOTH the df aggregation and the scored join — materialize
      // it once (lazy localCheckpoint, the dd8 recipe) instead of running
      // the tokenize+explode+agg lineage twice. ReuseExchange can't help
      // here: the shared subtree ends in an aggregate, not an exchange, and
      // column pruning specializes each branch's copy (verified on the
      // executed plan — only the scan shuffle was reused).
      val tf = Tables.documents(s, dir)
        .repartition(32, col("doc_id"))
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      // Broadcast the df side: it is one row per distinct token (the
      // vocabulary — the small axis of any corpus), while a sort-merge join
      // would re-shuffle the full (doc,token) frame on token AND force a
      // second shuffle back to doc_id for the top-k. Broadcasting keeps tf
      // partitioned by doc_id end-to-end, so TopK.perKey inserts no
      // exchange. (Past the broadcast threshold Spark falls back to a
      // shuffled join on its own — the flip is automatic at real scale.)
      val scored = tf.join(broadcast(dfreq), "token")
        .withColumn("score", expr("tf * 1000000 div df"))
        .select("doc_id", "token", "tf", "score")
      graft.operators.TopK.perKey(scored,
          keys = Seq("doc_id"),
          order = Seq("score" -> false, "token" -> true), k = 3)
        .withColumn("rank", col("rank").cast("long"))
      // no final orderBy: the oracle compare is row-sorted (order
      // insensitive), and a global rangepartition+sort of every (doc,term)
      // row is a whole extra exchange wave for presentation only
    },

    // ---- PII redaction: regex scrub of emails / phone numbers with per-doc
    // match counts AND the redacted text itself — the mandatory scrub pass
    // before a corpus ships to training. Patterns stay inside the
    // RE2 ∩ Java-regex common dialect so the oracle runs the same automaton;
    // regexp_count/regexp_replace are codegen'd builtins, one scan, no UDF.
    // The fixtures carry no PII, so matches are injected deterministically
    // on every 4th doc — the redactor is checked both where it must fire
    // and where it must not.
    "ta6_pii_redact" -> { (s, dir) =>
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\b\\d{3}-\\d{4}\\b"
      Tables.documents(s, dir).select("doc_id", "text")
        .withColumn("text",
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or call "),
              format_string("555-%04d", col("doc_id") % 10000)))
            .otherwise(col("text")))
        .select(col("doc_id"),
          regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
          regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("redacted"))
        .orderBy("doc_id")
    },

    // ---- Repetition signals (Gopher-style quality rules): per-doc
    // duplicate-segment and top-bigram concentration counts — the standard
    // "is this boilerplate/spam" gate in training-data curation. Segments
    // and bigrams explode ONCE into the row domain, then narrow per-doc
    // aggregates; every output is an exact integer so the oracle has no FP
    // edge, and the repetitive flag is the Gopher top-2gram rule (>18% of
    // bigrams) in integer math.
    "ta7_repetition" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
        .repartition(32, col("doc_id"))
      val segs = docs
        .select(col("doc_id"), explode(split(col("text"), "\\.")).as("seg0"))
        .select(col("doc_id"), trim(col("seg0")).as("seg"))
        .filter(col("seg") =!= "")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          countDistinct(col("seg")).as("n_distinct_segs"))
      val bg = docs
        .select(col("doc_id"),
          explode(Dedup.shingles(Dedup.tokens(col("text")), 2)).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram_n"))
      docs.select("doc_id")
        .join(segs, Seq("doc_id"), "left").join(bg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_segs"), lit(0L)).as("n_segs"),
          coalesce(col("n_distinct_segs"), lit(0L)).as("n_distinct_segs"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
          (coalesce(col("top_bigram_n"), lit(0L)) * 100 >
            coalesce(col("n_bigrams"), lit(0L)) * 18).as("repetitive"))
        .orderBy("doc_id")
    },

    // ---- language-ID heuristic (marker-word argmax) ------------------------
    "ta1_lang_id" -> { (s, dir) =>
      Tables.documents(s, dir)
        .repartition(32, col("doc_id")) // single-row-group source: spread the tokenize+score scan
        .withColumn("predicted", Analysis.langId(Dedup.tokens(col("text"))))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")
    },

    // ---- quality scoring (length/stopword recipe) --------------------------
    "ta2_quality_score" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Dedup.tokens(col("text")))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          Stats.parityRound(Analysis.avgTokenLen(col("toks")), 6).as("avg_token_len"),
          Stats.parityRound(Analysis.stopwordRatio(col("toks")), 6).as("stopword_ratio"),
          Stats.parityRound(Analysis.qualityScore(col("toks")), 6).as("quality"))
        .orderBy("doc_id")
    },

    // ---- token counting: whitespace + BPE-ish regex ------------------------
    "ta3_token_count" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", Dedup.tokens(col("text")))
        .withColumn("rtoks", Analysis.regexTokens(col("text")))
        .groupBy("source")
        .agg(
          sum(size(col("toks"))).as("sum_ws_tokens"),
          sum(size(col("rtoks"))).as("sum_re_tokens"),
          sum(ceil(col("n_chars") / 4.0).cast("long")).as("sum_bpe_est"))
        .orderBy("source")
    },

    // ---- document fingerprinting (k-min token-hash sketch) -----------------
    "ta4_fingerprint" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("fp", Analysis.fingerprint(Dedup.tokens(col("text"))))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          min("fp").as("min_fp"))
        .orderBy("source")
    },

    // ---- T2 deployment-summary template (preprocess_floats:145-271) --------
    "t2_deploy_summary" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          min("ts").as("t0"), count(lit(1)).as("n"),
          min("value").as("vmin"), max("value").as("vmax"))
        .withColumn("lat", expr("mod(vmin, 90)"))
        .select(col("user_id"),
          Summaries.deploymentSummary(
            Scalars.dateTh(col("t0")), col("user_id").cast("string"),
            col("n").cast("string"), col("lat"), col("vmin"), col("vmax"))
            .as("summary"))
        .orderBy("user_id")
    },

    // ---- T5 structured JSON doc (sync_supabase_to_chromadb.py:121-177) -----
    "t5_doc_json" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .withColumn("doc",
          to_json(struct(col("user_id"), col("n_events"), col("first_ts"), col("last_ts"))))
        .select("user_id", "doc")
        .orderBy("user_id")
    },

    // ---- the full training-data preparation funnel, composed end to end:
    // structural quality filter → exact dedup (keep-min-id per content) →
    // eval-overlap decontamination (broadcast eval shingles) → per-source
    // mixture sampling (hash threshold) → 2048-token sequence packing
    // (bucketed cumsum). One row out: the count at every funnel stage plus
    // token totals, with pack conservation visible (n_tokens must equal
    // packed_tokens). This is the pipeline a user actually runs over a
    // crawl; every stage reuses the individually-oracled operator. -------
    "pl2_training_pipeline" -> { (s, dir) =>
      // Every stage frame below has multiple consumers (its own funnel
      // count + the next stage — and sampled feeds Pack.globalCumsum's
      // three passes), so each is materialized ONCE via lazy
      // localCheckpoint (the ta5/dd8 recipe); without it the count
      // branches re-execute the whole upstream funnel per consumer
      // (measured 4.8s → 1.3s warm at sf0.1).
      val docs = Tables.documents(s, dir).select("doc_id", "source", "text", "n_chars")
      val quality = docs
        .withColumn("ntok", size(Dedup.tokens(col("text"))).cast("long"))
        .filter(col("n_chars") >= 100 && col("ntok") >= 10)
        .localCheckpoint(false)
      val minIds = quality.groupBy("text").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val deduped = quality.join(minIds, "doc_id").localCheckpoint(false)
      // contamination from the RAW corpus (same rule as dc1): any 3-gram
      // shared with the doc_id % 97 == 0 eval slice
      val sh = docs
        .repartition(32, col("doc_id"))
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(Dedup.tokens(col("text")), 3)))
            .as("shingle"))
        .localCheckpoint(false)
      val evalSh = sh.filter(col("doc_id") % 97 === 0).select("shingle").distinct()
      val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalSh), "shingle").select("doc_id").distinct()
      val clean = deduped.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint(false)
      val hv = (1 to 2).map(i =>
        (expr(s"instr('0123456789abcdef', substr(md5(cast(doc_id AS string)), $i, 1)) - 1") *
          lit(math.pow(16, 2 - i).toInt))).reduce(_ + _) % 100
      val sampled = clean
        .filter(hv < (expr("CAST(substr(source, 4) AS INT) % 4") * 25 + 25))
        .localCheckpoint(false)
      val withOff = graft.operators.Pack.globalCumsum(
        sampled.select("doc_id", "ntok"), "doc_id", "ntok", "start_off")
      val chunks = graft.operators.Pack.chunk(withOff, "start_off", "ntok", 2048)
      docs.agg(count(lit(1)).as("n_docs_in"))
        .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
        .crossJoin(deduped.agg(count(lit(1)).as("n_deduped")))
        .crossJoin(clean.agg(count(lit(1)).as("n_decontaminated")))
        .crossJoin(sampled.agg(count(lit(1)).as("n_sampled"),
          coalesce(sum("ntok"), lit(0L)).as("n_tokens")))
        .crossJoin(chunks.agg(countDistinct("chunk_id").as("n_chunks"),
          coalesce(sum("chunk_tokens"), lit(0L)).as("packed_tokens")))
    },

    // ---- weighted mixture sampling: per-source Bernoulli rates from the
    // id hash — the training-mixture construction step (sample web at 25%,
    // books at 100%, …). Hash-threshold sampling, not rand(): the decision
    // is a pure function of the row, so task retries and stragglers at
    // 1000-executor scale can't change the sample (rand() resample under
    // retry is a classic silent-skew bug), reruns are reproducible, and
    // the whole thing is map-side — no shuffle before the audit agg. -----
    "sp3_mixture_sample" -> { (s, dir) =>
      val hexVal = (1 to 2).map(i =>
        (expr(s"instr('0123456789abcdef', substr(md5(cast(doc_id AS string)), $i, 1)) - 1") *
          lit(math.pow(16, 2 - i).toInt))).reduce(_ + _)
      Tables.documents(s, dir)
        .withColumn("h", hexVal % 100)
        .withColumn("rate_pct",
          (expr("CAST(substr(source, 4) AS INT) % 4") * 25 + 25))
        .groupBy("source", "rate_pct")
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("h") < col("rate_pct"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("h") < col("rate_pct"), col("n_chars")).otherwise(lit(0L)))
            .as("sampled_chars"))
        .orderBy("source")
    },

    // ---- sliding-window chunking with overlap (the RAG / long-context
    // prep step tp1 does NOT cover: tp1 concatenates docs into fixed
    // windows; this SPLITS each long doc into 32-token chunks with a
    // 24-token stride so every token keeps ≥8 tokens of context at a
    // chunk boundary). Pure per-row arithmetic — sequence+explode+slice
    // are codegen'd builtins, chunk identity is (doc_id, chunk_id), and
    // NOTHING crosses rows: no shuffle at all until the presentation
    // sort. Short docs degrade to one whole-doc chunk; the md5 pins the
    // exact chunk text, so stride/window off-by-ones cannot hide. --------
    "tp3_chunk_overlap" -> { (s, dir) =>
      Tables.documents(s, dir)
        .repartition(32, col("doc_id")) // single-row-group source (dd2 reason)
        .select(col("doc_id"), Dedup.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("ts"),
          explode(expr(
            "sequence(0, CAST(greatest(ceil((size(ts) - 32) / 24.0), 0) AS INT))"))
            .as("chunk_id"))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          expr("slice(ts, chunk_id * 24 + 1, 32)").as("chunk"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(array_join(col("chunk"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },

    // ---- sequence packing (concat-and-chunk): documents concatenated in
    // doc_id order, the token stream cut into 2048-token training windows.
    // The global running offset uses Pack.globalCumsum — deterministic
    // key-range buckets + tiny totals aggregate + driver prefix scan +
    // per-bucket window — NOT the single-partition `sum() OVER (ORDER BY)`
    // the oracle is allowed to use at 60k rows. Every interior chunk must
    // hold exactly 2048 tokens; the oracle checks that invariant row by
    // row along with the doc spans. --------------------------------------
    "tp1_token_packing" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(Dedup.tokens(col("text"))).cast("long").as("ntok"))
      val withOff = graft.operators.Pack.globalCumsum(
        docs, "doc_id", "ntok", "start_off", buckets = 32)
      graft.operators.Pack.chunk(withOff, "start_off", "ntok", 2048)
        .groupBy("chunk_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("chunk_tokens").as("n_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("chunk_id")
    },

    // ---- leak-proof GROUP split: the split is a pure function of the
    // GROUP key (source), not the row id, so every document of a group
    // lands in the same split — the contamination-safe way to split
    // corpora where near-identical rows cluster inside groups (same crawl
    // domain, same repo). Same oracle-paired md5-lane recipe as sp1;
    // map-side decision, one shuffle for the audit agg. -------------------
    "sp4_group_split" -> { (s, dir) =>
      val hv = (1 to 2).map(i =>
        (expr(s"instr('0123456789abcdef', substr(md5(source), $i, 1)) - 1") *
          lit(math.pow(16, 2 - i).toInt))).reduce(_ + _) % 100
      Tables.documents(s, dir)
        .withColumn("split",
          when(hv < 80, "train").when(hv < 90, "valid").otherwise(lit("test")))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_groups"),
          sum("n_chars").as("sum_chars"))
        .orderBy("split")
    },

    // ---- BPE-style pair statistics: the first merge step of byte-pair
    // encoding — global frequency of adjacent character pairs inside
    // words, top 20. The explode is map-side; the groupBy key domain is
    // bounded by alphabet² (not corpus size), so the shuffle carries a
    // few KB of partial counts per task no matter how many TB of text
    // went in; top-k is TakeOrdered, never a global sort. -----------------
    "ta8_bpe_pairs" -> { (s, dir) =>
      // 32-way pinned (the dd2 lesson): the fixture parquet is one row
      // group = one split, so without the repartition the whole
      // tokenize+bigram explode — the compute-bound part — runs in ONE task
      Tables.documents(s, dir)
        .repartition(32, col("doc_id"))
        .select(explode(Dedup.tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
          .as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // ---- iterative BPE TRAINING (round 14): the k-merge loop ta8 only
    // took the first step of. Word-frequency table once from the corpus
    // (the only corpus-sized pass), then 8 rounds of: adjacent-pair stats
    // over the DISTINCT-WORD table (shuffle ≤ vocab², map-side combined),
    // argmax to the driver (ONE row/round), greedy merge fold, lineage cut.
    // Output = the learned merge table in rank order; the oracle replays
    // the identical 8 rounds as unrolled materialized CTEs in DuckDB. -----
    "ta13_bpe_train" -> { (s, dir) =>
      import graft.text.Bpe
      val words = Tables.documents(s, dir)
        .repartition(32, col("doc_id")) // ta8's lesson: one row group = one task
        .select(explode(Dedup.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (rules, _) = Bpe.train(words, k = 8)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("step",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("pair_a",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pair_b",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("merged",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("freq",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val rows = rules.map(r => Row(r.step, r.a, r.b, r.a + r.b, r.freq))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .orderBy("step")
    },

    // ---- BPE-token packing (round 14): tp1's concat-and-chunk windows,
    // but the budget is REAL subword counts from the trained tokenizer,
    // not whitespace words. Train (vocab-bounded rounds, as ta13), ENCODE
    // every distinct word through the rank-ordered rule chain (the true
    // encode path — works for out-of-vocab words too; BpeSpec pins
    // encode == trainer-final), broadcast the (word → n_tokens) map onto
    // the corpus, then pack 1024-token windows with the tp1 machinery
    // (bucketed global cumsum — no single-partition window). --------------
    "tp6_bpe_pack" -> { (s, dir) =>
      import graft.text.Bpe
      val docs = Tables.documents(s, dir).repartition(32, col("doc_id"))
      val words = docs
        .select(explode(Dedup.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (rules, fin) = Bpe.train(words, k = 8)
      // the trained table IS the encoding of every in-vocab word (identical
      // to running the rank-ordered rule chain — Bpe.encode — which BpeSpec
      // pins and which serves out-of-vocab words); reusing it keeps the
      // 8-level HOF chain out of this plan
      val wt = fin.select(col("word"), size(col("sym")).cast("long").as("wtok"))
      val docTok = docs
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("word"))
        .join(broadcast(wt), "word")
        .groupBy("doc_id").agg(sum("wtok").as("ntok"))
      val withOff = graft.operators.Pack.globalCumsum(
        docTok, "doc_id", "ntok", "start_off", buckets = 32)
      graft.operators.Pack.chunk(withOff, "start_off", "ntok", 1024)
        .groupBy("chunk_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("chunk_tokens").as("n_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
        .orderBy("chunk_id")
    },

    // ---- token-budget curriculum selection: bin documents by a quality
    // proxy (integer-exact avg word length), then take bins best-first
    // until half the corpus token budget is spent — the data-selection
    // step that turns scored corpora into a training mixture. The heavy
    // pass is one groupBy with a FIXED-width bin key (no global sort, no
    // ntile over raw rows); the cumulative window runs over the binned
    // frame whose cardinality is the bin count, not the corpus. ----------
    "tp2_curriculum" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val bins = Tables.documents(s, dir)
        .withColumn("ntok", size(Dedup.tokens(col("text"))))
        .filter(col("ntok") > 0)
        .withColumn("score_bin",
          least(greatest(expr("n_chars div ntok"), lit(3L)), lit(9L)))
        .groupBy("score_bin")
        .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
      val best = Window.orderBy(col("score_bin").desc)
      bins
        .withColumn("cum_tokens", sum("n_tokens")
          .over(best.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum("n_tokens")
          .over(best.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(col("score_bin"), col("n_docs"), col("n_tokens"), col("cum_tokens"),
          ((col("cum_tokens") - col("n_tokens")) * 2 < col("total")).as("selected"))
        .orderBy("score_bin")
    },

    // ---- temperature-weighted mixture: per-source sampling rates derived
    // from the α=0.5 tempered distribution (w_i = √n_i, the multilingual
    // rebalancing recipe), budget = half the corpus. The tempered weights
    // are per-value rounded to 6 dp and summed as EXACT decimals, so the
    // normalization is independent of partition order; the 20-row rate
    // table broadcasts back and the sample decision is the sp3
    // hash-threshold lane — pure row function, retry-safe, map-side. ------
    // ---- PPS sampling without replacement (sequential Poisson, Ohlsson
    // 1998): per language stratum, the k docs with the SMALLEST u/w where
    // u is a 16-bit uniform from md5(doc_id) (the sp3 hash-lane recipe ×4
    // digits) and w = n_chars — inclusion probability ≈ k·w/Σw, so long
    // documents are proportionally favored, and the hash keying makes the
    // draw reproducible under retries/reruns (the property `rand()` loses
    // on task replay). Cross-engine exactness: the ONLY float op is one
    // IEEE division of two integers, which is correctly rounded and hence
    // bit-identical in Spark and DuckDB — no ln/pow (libm-dependent), the
    // reason this key shape was chosen over the e^-classic Efraimidis–
    // Spirakis transform (same πps family). Map-side arithmetic, then the
    // bounded-heap TopK plan: one shuffle of k·strata candidate rows. ----
    "sp6_pps_sample" -> { (s, dir) =>
      val h = (1 to 4).map(i =>
        expr(s"instr('0123456789abcdef', substr(md5(cast(doc_id AS string)), $i, 1)) - 1") *
          lit(math.pow(16, 4 - i).toLong)).reduce(_ + _)
      val keyed = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"), h.as("h"))
        .withColumn("skey", (col("h") + 1).cast("double") / col("n_chars"))
      graft.operators.TopK.perKey(
          keyed.select("lang", "doc_id", "n_chars", "h", "skey"),
          keys = Seq("lang"),
          order = Seq("skey" -> true, "doc_id" -> true), k = 20)
        .select(col("lang"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("n_chars"), col("h").cast("long").as("h"))
        .orderBy("lang", "rank")
    },

    "sp5_temperature_mixture" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
        .withColumn("w", round(sqrt(col("n_total")), 6).cast("decimal(27,6)"))
      val tot = counts.agg(
        sum("w").as("sw"), sum("n_total").as("n_corpus"))
      val rates = counts.crossJoin(broadcast(tot))
        .withColumn("target", floor(
          col("w").cast("double") / col("sw").cast("double") *
            col("n_corpus").cast("double") * 0.5))
        .withColumn("rate_pct", least(lit(1.0),
          col("target").cast("double") / col("n_total").cast("double")) * 100)
        .select("source", "rate_pct")
      val hv = (1 to 2).map(i =>
        (expr(s"instr('0123456789abcdef', substr(md5(cast(doc_id AS string)), $i, 1)) - 1") *
          lit(math.pow(16, 2 - i).toInt))).reduce(_ + _) % 100
      docs.join(broadcast(rates), "source")
        .withColumn("h", hv)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_total"),
          Stats.parityRound(first(col("rate_pct")), 6).as("rate_pct"),
          sum(when(col("h") < col("rate_pct"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("h") < col("rate_pct"), col("n_chars")).otherwise(lit(0L)))
            .as("sampled_chars"))
        .orderBy("source")
    },

    // ---- corpus bigram LM scoring: the KenLM-style quality signal — a
    // bigram model estimated FROM the corpus (c(w1,w2)/c(w1·)), every doc
    // scored by its mean scaled conditional probability, all in integer
    // arithmetic (ppm, div) so ranks can't flip on FP. The model join is
    // keyed on (w1,w2), the same key the model agg just produced, so the
    // partitioning is reused; model size is vocabulary², sublinear in
    // corpus bytes. ------------------------------------------------------
    "ta9_bigram_lm" -> { (s, dir) =>
      // 32-way pinned (the dd2 lesson): single-row-group source, so the
      // tokenize+bigram explode feeding the checkpoint would otherwise run
      // in one task
      val toks = Tables.documents(s, dir)
        .repartition(32, col("doc_id"))
        .select(col("doc_id"), col("source"), Dedup.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
      val big = toks.select(col("doc_id"), col("source"),
          explode(expr("transform(sequence(1, size(ts) - 1), i -> " +
            "struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))")).as("b"))
        .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
        .localCheckpoint(false) // feeds both model counts and the scoring join
      val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = big.groupBy("w1").agg(count(lit(1)).as("c1"))
      val model = c2.join(c1, "w1")
        .select(col("w1"), col("w2"), expr("c2 * 1000000 div c1").as("p_ppm"))
      big.join(model, Seq("w1", "w2"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("nb"), sum("p_ppm").as("sump"))
        .withColumn("doc_score", expr("sump div nb"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("doc_score").as("sum_score"),
          min("doc_score").as("min_score"), max("doc_score").as("max_score"))
        .orderBy("source")
    },

    // ---- text normalization (the first scrub every crawl pipeline runs):
    // control chars / NBSP / zero-width spaces → space, whitespace runs
    // collapsed, ends trimmed. Dirt is injected deterministically (tab
    // prefix on evens, CRLF+NBSP suffix on %3, BEL on %5 — the ta6
    // fire/no-fire pattern: clean docs must pass through BYTE-identical,
    // pinned by the md5). Patterns live in the RE2 ∩ Java dialect
    // (hex classes, \s) so the oracle runs the same automaton; chained
    // regexp_replace is a codegen'd one-scan map — no shuffle before the
    // presentation sort. -------------------------------------------------
    "ta11_normalize" -> { (s, dir) =>
      val junkClass = "[\\x00-\\x1f\\x{00A0}\\x{200B}]"
      Tables.documents(s, dir)
        .withColumn("raw",
          concat(
            when(col("doc_id") % 2 === 0, lit("\t ")).otherwise(lit("")),
            col("text"),
            when(col("doc_id") % 3 === 0,
              lit("\r\nend\u00a0more")).otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit("\u0007\u200bx")).otherwise(lit(""))))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("len_raw"),
          trim(regexp_replace(regexp_replace(col("raw"), junkClass, " "),
            "\\s+", " ")).as("clean"))
        .select(col("doc_id"), col("len_raw"),
          length(col("clean")).cast("long").as("len_clean"),
          md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // ---- BM25 top-k retrieval: the lexical-search scoring loop over the
    // corpus, run for a broadcast batch of queries at once. All arithmetic
    // is EXACT rational integer (the ta5/ta9 recipe): k1=6/5, b=3/4 and
    // avgdl=A/N are cleared to one bigint numerator/denominator pair
    //   tf_norm_ppm = 22*tf*A*1e6 div (10*A*tf + 3*A + 9*dl*N)
    // and idf is the LINEARIZED (N-df+0.5)/(df+0.5) ratio in ppm — the ln
    // is deliberately omitted so both engines agree bit-for-bit (a
    // per-term monotone transform; documented, not hidden). Plan shape:
    // doc length rides in the tf GROUPING KEYS (functionally dependent on
    // doc_id — same cardinality, and it deletes the per-doc-length join a
    // textbook BM25 plan would shuffle); tf — the query-batch posting
    // list, the SMALL product of the corpus pass — is materialized once
    // (lazy localCheckpoint) because it feeds both df counts and scoring,
    // and its subtree ends in an aggregate that plan-DAG reuse cannot
    // dedupe (the ta5 lesson: without this the corpus is tokenized
    // twice); corpus token stats come from a second map-only scan branch
    // (columnar, no explode, no repartition — partial aggs do the work);
    // df/query/globals broadcast; top-k is the bounded-heap TopK plan. ---
    "ta10_bm25_topk" -> { (s, dir) =>
      import s.implicits._
      val qterms = Seq((0L, "spark"), (0L, "dup"), (1L, "hash"), (1L, "join"),
        (1L, "merge"), (2L, "window"), (2L, "sort"))
      // corpus stats: token COUNTS need no token array — regexp_count of
      // non-space runs equals the split-and-filter token count without
      // allocating 50k arrays per pass; the repartition spreads the regex
      // work off the single-row-group scan partition (serial otherwise)
      val glob = Tables.documents(s, dir)
        .select("doc_id", "text")
        .repartition(32, col("doc_id"))
        .agg(count(lit(1)).as("nn"),
          sum(regexp_count(col("text"), lit("\\S+")).cast("long")).as("aa"))
      // single-row-group fixture source: hash-spread BEFORE tokenizing so
      // the split+explode work parallelizes (dd2 reason)
      val tf = Tables.documents(s, dir)
        .select("doc_id", "text")
        .repartition(32, col("doc_id"))
        .select(col("doc_id"), Dedup.tokens(col("text")).as("ts"))
        .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
          explode(col("ts")).as("token"))
        .filter(col("token").isin(qterms.map(_._2).distinct: _*))
        .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
        .localCheckpoint(false)
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val perq = tf
        .join(broadcast(dfreq), "token")
        .crossJoin(broadcast(glob))
        .join(broadcast(qterms.toDF("query_id", "token")), "token")
        .withColumn("tscore",
          expr("(((2*(nn - df) + 1) * 1000000) div (2*df + 1)) * " +
            "((22 * tf * aa * 1000000) div (10*aa*tf + 3*aa + 9*dl*nn)) " +
            "div 1000000"))
        .groupBy("query_id", "doc_id").agg(sum("tscore").as("score"))
      graft.operators.TopK.perKey(perq,
          keys = Seq("query_id"),
          order = Seq("score" -> false, "doc_id" -> true), k = 10)
        .withColumn("rank", col("rank").cast("long"))
      // no final orderBy: the driver compare is row-sorted (ta5 reason);
      // rank already encodes the per-query ordering
    },

    // ---- DSIR-style importance selection, integer-exact: a token is
    // "target-leaning" when its target-slice (lang = 'en') frequency
    // beats its pool frequency, compared by int64 cross-multiplication
    // (tc·R > rc·T) — no float log-ratios, so the oracle hash-matches.
    // Docs where a majority of distinct tokens lean target are selected.
    // Token stats are vocabulary-sized (≪ corpus); the per-doc pass
    // joins distinct (doc, token) against that frame on token. Cross-
    // multiplication overflows int64 past ~3×10⁹ pool tokens — widen
    // both sides to DECIMAL when running beyond that. -------------------
    "tp4_importance_select" -> { (s, dir) =>
      // ONE tokenize pass, hash-spread off the single-row-group scan (dd2
      // reason), collapsed to per-(doc, token) occurrence counts and
      // materialized once — the token-stats branch and the per-doc
      // majority vote both read the checkpointed frame instead of
      // re-tokenizing the corpus (the naive three-branch lineage
      // re-tokenizes 3×, serially). `lean` is vocabulary-sized (≪ corpus),
      // so it broadcasts; beyond broadcast range drop the hint and the
      // token join falls back to shuffle on the SMALL (doc, token) frame.
      val tokCounts = Tables.documents(s, dir)
        .repartition(32, col("doc_id"))
        .select(col("doc_id"), col("lang"),
          explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("doc_id", "lang", "token").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false)
      val stats = tokCounts.groupBy("token").agg(
        sum("cnt").as("rc"),
        sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("tc"))
        .localCheckpoint(false) // vocabulary-sized; read twice (totals+lean)
      val totals = stats.agg(sum("rc").cast("long").as("pool_total"),
        sum("tc").cast("long").as("tgt_total"))
      val lean = stats.crossJoin(broadcast(totals))
        .select(col("token"),
          (col("tc") * col("pool_total") > col("rc") * col("tgt_total"))
            .as("lean"))
      tokCounts.select("doc_id", "token") // distinct by construction
        .join(broadcast(lean), "token")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("lean"), 1L).otherwise(0L)).as("n_lean"))
        .withColumn("selected", col("n_lean") * 2 >= col("n_tokens"))
        .orderBy("doc_id")
    },

    // ---- hybrid retrieval with reciprocal-rank fusion: the corpus is
    // "indexed twice" — a lexical BM25 lane over documents (ta10's exact
    // integer formula) and a semantic cosine-KNN lane over embeddings
    // (e3's shape), doc_id and vec_id addressing the same item space.
    // The two rankings are fused WITHOUT score calibration: rrf = 10⁹
    // div (60 + lex_rank) + 10⁹ div (60 + sem_rank). Integer division
    // keeps the fusion exact (no float reciprocals → no cross-engine
    // ulp), a missing lane contributes 0 via the full outer join, and
    // the final top-10 rides the bounded-heap TopKPerKey. Each lane is
    // top-20-bounded before the fuse, so the join input is
    // O(queries · k), independent of corpus size. ------------------------
    "rr1_hybrid_rrf" -> { (s, dir) =>
      import s.implicits._
      val qterms = Seq((0L, "spark"), (0L, "dup"), (1L, "hash"), (1L, "join"),
        (1L, "merge"), (2L, "window"), (2L, "sort"))
      val lex = new Engine(s).bm25TopK(
          Tables.documents(s, dir).select("doc_id", "text")
            .repartition(32, col("doc_id")),
          "doc_id", "text", qterms, k = 20)
        .select(col("query_id"), col("doc_id"),
          col("rank").cast("long").as("lex_rank"))
      val emb = Tables.embeddings(s, dir)
        .withColumn("vec", col("embedding").cast("array<double>"))
      val qvecs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
      val sem = Knn.topK(emb.filter(col("vec_id") >= 3).select("vec_id", "vec"),
          "vec", qvecs, "query_id", "qvec", k = 20, tiebreak = "vec_id")
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rank").cast("long").as("sem_rank"))
      val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_score",
          coalesce(expr("1000000000L div (60 + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000000L div (60 + sem_rank)"), lit(0L)))
      graft.operators.TopK.perKey(fused, keys = Seq("query_id"),
          order = Seq("rrf_score" -> false, "doc_id" -> true), k = 10)
        .withColumn("rank", col("rank").cast("long"))
    },

    // ---- markup strip: wrap each doc in deterministic HTML, then strip
    // tags + collapse whitespace with codegen'd regexp_replace — the
    // boilerplate-removal stage of a crawl pipeline. Pure per-row work:
    // the only shuffle is the per-language rollup. ----------------------
    "ta12_html_strip" -> { (s, dir) =>
      val html = concat(lit("<!DOCTYPE html><body><p id=\""), col("doc_id"),
        lit("\">"), regexp_replace(col("text"), "\n", "</p><p>"),
        lit("</p></body>"))
      val stripped = trim(regexp_replace(
        regexp_replace(html, "<[^>]*>", " "), " +", " "))
      Tables.documents(s, dir)
        .select(col("lang"), length(html).as("n_html"),
          length(stripped).as("n_text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_html").as("html_chars"), sum("n_text").as("text_chars"))
        .withColumn("reduction_pct", round(
          lit(100.0) * (col("html_chars") - col("text_chars"))
            / col("html_chars"), 2))
        .orderBy("lang")
    },

    // ---- per-source token-budget allocation: cap each source's token
    // contribution at its budget and report the implied keep rate — the
    // planning half of training-mixture construction (sampleMixture is
    // the apply half). One aggregate over the corpus; the budget table is
    // a literal CASE, so nothing joins or broadcasts. -------------------
    "sp8_token_budget" -> { (s, dir) =>
      val budget = when(col("source") === "src0", 40000L)
        .when(col("source") === "src5", 5000L)
        .when(col("source") === "src12", 100000L)
        .otherwise(20000L)
      Tables.documents(s, dir)
        .select(col("source"), expr("n_chars div 4").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("total_tokens"))
        .withColumn("budget_tokens", budget)
        .withColumn("kept_tokens", least(col("budget_tokens"), col("total_tokens")))
        .withColumn("keep_rate",
          round(col("kept_tokens") / col("total_tokens"), 6))
        .orderBy("source")
    },

    // ---- length-bucket batching plan: docs binned to power-of-two token
    // caps, per-bucket padding waste — the dynamic-batching table a
    // trainer uses to size batches. Literal CASE boundaries (no float
    // log2 knife-edge); one aggregate, map-side partials. ---------------
    "tp5_length_buckets" -> { (s, dir) =>
      val toks = expr("n_chars div 4")
      val cap = when(toks <= 16, 16L).when(toks <= 32, 32L)
        .when(toks <= 64, 64L).when(toks <= 128, 128L)
        .when(toks <= 256, 256L).when(toks <= 512, 512L)
        .when(toks <= 1024, 1024L).otherwise(2048L)
      Tables.documents(s, dir)
        .select(toks.as("toks"), cap.as("bucket_cap"))
        .groupBy("bucket_cap")
        .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_tokens"),
          sum(col("bucket_cap") - col("toks")).as("padding_waste"))
        .withColumn("waste_pct", round(
          lit(100.0) * col("padding_waste")
            / (col("padding_waste") + col("sum_tokens")), 2))
        .orderBy("bucket_cap")
    },

    // ---- deterministic per-stratum subsample: k docs per source chosen by
    // id-hash rank — the balanced-downsample op for training mixtures,
    // reproducible across runs and task retries because the "random" order
    // is md5 of the id (no seed state, no resampling drift). Rides the
    // bounded-heap TopKPerKey physical operator: O(k·strata) memory on
    // both sides of the exchange, so a 100 TB stratum never sorts. -------
    "sp9_stratified_take" -> { (s, dir) =>
      val hashed = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          md5(concat(lit("sp9:"), col("doc_id").cast("string"))).as("h"))
      graft.operators.TopK.perKey(hashed,
          keys = Seq("source"), order = Seq("h" -> true, "doc_id" -> true),
          k = 20, rankName = "rk")
        .withColumn("rk", col("rk").cast("long"))
        .orderBy("source", "rk")
    },

    // ---- temperature-flattened mixture (the multilingual alpha-sampling
    // recipe, alpha = 0.5): per-source keep-rate sqrt(c_min/c_s) keeps the
    // smallest source whole and downsamples every other source toward
    // c_s^0.5 — kept sizes ∝ sqrt(c_min·c_s). The keep decision is a pure
    // row predicate (md5 lane vs a broadcast ppm rate), so task retries
    // can't resample and the 100 TB side never shuffles for the sampling
    // itself; sqrt/floor are IEEE-correctly-rounded in both engines, so
    // the ppm rates agree bit-for-bit. -----------------------------------
    "sp10_temperature_mixture" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("c"))
      val rates = counts.crossJoin(broadcast(counts.agg(min("c").as("c_ref"))))
        .withColumn("rate_ppm",
          floor(sqrt(col("c_ref").cast("double") / col("c")) * 1000000.0)
            .cast("long"))
        .select("source", "rate_ppm")
      docs.join(broadcast(rates), "source")
        .withColumn("hv",
          conv(substring(md5(concat(lit("sp10:"), col("doc_id").cast("string"))),
            1, 8), 16, 10).cast("long") % 1000000L)
        .groupBy("source", "rate_ppm")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("hv") < col("rate_ppm"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("hv") < col("rate_ppm"), col("n_chars")).otherwise(0L))
            .as("kept_chars"))
        .select(col("source"), col("n_total"), col("rate_ppm"),
          col("n_kept"), col("kept_chars"))
        .orderBy("source")
    },
  )
}
