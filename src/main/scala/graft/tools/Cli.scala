package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine

/** Reference-CLI-compatible batch entry point (`main.py:502-651`):
  *
  * {{{
  *   runMain graft.tools.Cli --mode file --file <raw.parquet> --out <dir>
  *   runMain graft.tools.Cli --mode data-folder --data-dir <dir-or-glob> --out <dir>
  *   runMain graft.tools.Cli --mode sample [--sample sf0.001] --out <dir>
  *   runMain graft.tools.Cli --setup-db --out <dir>
  * }}}
  *
  * Mode mapping (reference → Spark):
  *   - `file`        (`process_netcdf_file`, main.py:165)   → read one raw
  *     parquet profile frame → [[Engine.ingest]] → floats/profiles sinks.
  *   - `data-folder` (`process_data_folder`, main.py:367)   → same over a
  *     directory/glob — Spark's S5 glob scan replaces the reference's
  *     per-file loop; all files become ONE distributed plan.
  *   - `sample`      (main.py:606) → the bundled fixture tables stand in
  *     for the reference's downloaded sample set (no network here).
  *   - `download`    (main.py:609, download.py) → S6 end-to-end: extract
  *     `.nc` hrefs (codegen'd `graft_extract_hrefs`) from index pages,
  *     plan the first `--max-files` (default 300, download.py:12) with
  *     skip-if-exists against `--dest`, and fetch executor-side. Index
  *     source is either `--index-dir` (local `*.html` pages, hrefs
  *     resolved relative to the dir — the zero-egress fixture path) or
  *     `--base-url` (a live HTTP listing fetched and downloaded through
  *     [[graft.sources.HttpTransport]] — the production wire, exercised
  *     in tests against a loopback server).
  *   - `--no-embeddings` (main.py:560) skips the embedding sink;
  *     `--setup-db` (main.py:565) only materializes the sink layout.
  *
  * Raw input contract (same tidy shape as `Pipeline.tidy`): one row per
  * profile with `float_id, profile_id, time, latitude, longitude` and
  * level-array measure columns `temperature, salinity, pressure`.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_MASTER is a deployment address, so the input is not
    // sized here: the large tier is Spark's defaults (AQE on).
    val cpus = graft.LocalSession.cpus
    val spark = graft.LocalSession(graft.BenchProfile.tier(Long.MaxValue, cpus),
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    val rc = run(spark, args)
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  /** Separated from main so tests can drive it on a shared session. */
  def run(spark: SparkSession, args: Array[String]): Int = {
    val opts = parse(args)
    val out = opts.getOrElse("out", "graft_out")
    val mode = opts.getOrElse("mode", "sample")
    if (opts.contains("setup-db")) {
      Seq("floats", "profiles", "embeddings").foreach(t => new java.io.File(s"$out/$t").mkdirs())
      println(s"[cli] initialized sink layout under $out")
      return 0
    }
    val raw: DataFrame = mode match {
      case "file" =>
        val f = opts.getOrElse("file", return err("--file required for file mode"))
        spark.read.parquet(f)
      case "data-folder" =>
        val d = opts.getOrElse("data-dir", return err("--data-dir required for data-folder mode"))
        spark.read.parquet(d)
      case "sample" =>
        val sf = opts.getOrElse("sample", "sf0.001")
        sampleRaw(spark, s"/root/testdata/$sf")
      case "download" =>
        val dest = opts.getOrElse("dest", s"$out/downloads")
        val maxFiles = opts.getOrElse("max-files", "300").toIntOption
          .getOrElse(return err("--max-files must be an integer"))
        opts.get("base-url") match {
          case Some(u) => return downloadHttpMode(spark, u, dest, maxFiles)
          case None =>
            val idx = opts.getOrElse("index-dir",
              return err("--index-dir or --base-url required for download mode"))
            return downloadMode(spark, idx, dest, maxFiles)
        }
      case other => return err(s"unknown mode '$other'")
    }
    val engine = new Engine(spark)
    val (floats, profiles) = engine.ingest(raw, opts.getOrElse("end-date", "2100-01-01"))
    floats.write.mode("overwrite").parquet(s"$out/floats")
    profiles.write.mode("overwrite").parquet(s"$out/profiles")
    val nf = spark.read.parquet(s"$out/floats").count()
    val np = spark.read.parquet(s"$out/profiles").count()
    if (!opts.contains("no-embeddings")) {
      // the reference embeds each float's metadata summary (main.py:320,
      // preprocess_floats_to_chromadb.py) — batch path, one init/partition
      val summaries = spark.read.parquet(s"$out/floats")
        .select(col("float_id"),
          format_string("Float %s: %s records from %s to %s",
            col("float_id"), col("n_rows"), col("first_ts"), col("last_ts")).as("doc"))
      engine.embedCorpus(summaries, "doc")
        .write.mode("overwrite").parquet(s"$out/embeddings")
      val ne = spark.read.parquet(s"$out/embeddings").count()
      println(s"[cli] mode=$mode floats=$nf profiles=$np embeddings=$ne -> $out")
    } else println(s"[cli] mode=$mode floats=$nf profiles=$np (embeddings skipped) -> $out")
    0
  }

  /** Fixture-backed stand-in for the reference's sample dataset: the events
    * table reshaped into the raw profile contract (same mapping as the
    * `pl1_full_pipeline` query, so `--mode sample` output is oracle-adjacent).
    */
  def sampleRaw(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.events(spark, sfDir).select(
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

  /** S6 bulk download over local index pages (download.py:12-37 twin).
    * Page key = the index file's basename, so a `2020_01.html` listing
    * yields the reference's exact `2020_01_{i:03d}.nc` names.
    */
  def downloadMode(spark: SparkSession, indexDir: String, dest: String,
      maxFiles: Int): Int = {
    val pages = spark.read.option("wholetext", "true").text(s"$indexDir/*.html")
      .select(
        regexp_extract(input_file_name(), "([^/]+)\\.html$", 1).as("page"),
        col("value").as("html"))
    val nc = graft.sources.Acquire.ncLinks(pages, "page", "html")
    val planned = graft.sources.Acquire
      .downloadPlan(nc, "page", "pos", "href", maxFiles)
      // reference layout: hrefs resolve relative to the index dir itself
      .withColumn("url", col("href"))
    val ledger = graft.sources.Acquire.download(
      planned, "url", "file_name", dest,
      new graft.sources.LocalTransport(indexDir))
    val byAction = ledger.groupBy("action").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[cli] mode=download $byAction -> $dest")
    0
  }

  /** S6 bulk download over a REAL HTTP index (download.py:12-37 on the
    * wire): fetch the listing page once on the driver (the reference's
    * single `requests.get`; the distributed page-frontier path is
    * [[Engine.downloadNcFiles]]), extract `.nc` hrefs, resolve each as
    * `base_url + link` (download.py:22), and stream the files
    * executor-side through [[graft.sources.HttpTransport]] — 8 KB chunks,
    * the reference's 300 s timeout, failed links accounted as `error`
    * rows. Page key = the last two URL path segments (`.../2020/01/` →
    * `2020_01`), reproducing the reference's `2020_01_{i:03d}.nc` names.
    */
  def downloadHttpMode(spark: SparkSession, baseUrl: String, dest: String,
      maxFiles: Int): Int = {
    import spark.implicits._
    val transport = graft.sources.HttpTransport.bulk
    val html = new String(transport.fetch(baseUrl),
      java.nio.charset.StandardCharsets.UTF_8)
    // normalize: without this, a --base-url missing its trailing slash
    // would concatenate into malformed file URLs and the crawl would
    // "succeed" as an all-error ledger
    val base = if (baseUrl.endsWith("/")) baseUrl else baseUrl + "/"
    val segs = java.net.URI.create(baseUrl).getPath.split("/").filter(_.nonEmpty)
    val page =
      if (segs.length >= 2) segs.takeRight(2).mkString("_")
      else segs.lastOption.getOrElse("index")
    val pages = Seq((page, html)).toDF("page", "html")
    val nc = graft.sources.Acquire.ncLinks(pages, "page", "html")
    val planned = graft.sources.Acquire
      .downloadPlan(nc, "page", "pos", "href", maxFiles)
      .withColumn("url", concat(lit(base), col("href")))
    val ledger = graft.sources.Acquire.download(
      planned, "url", "file_name", dest, transport)
    val byAction = ledger.groupBy("action").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[cli] mode=download(http) $byAction -> $dest")
    0
  }

  private def err(msg: String): Int = { System.err.println(s"[cli] $msg"); 2 }

  /** `--k v` pairs plus bare `--flag`s (reference flags: --no-embeddings,
    * --setup-db).
    */
  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("no-embeddings", "setup-db")
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case k :: v :: tail if k.startsWith("--") && !flags(k.drop(2)) && !v.startsWith("--") =>
        loop(tail, acc + (k.drop(2) -> v))
      case k :: tail if k.startsWith("--") =>
        loop(tail, acc + (k.drop(2) -> "true"))
      case _ :: tail => loop(tail, acc)
      case Nil => acc
    }
    loop(args.toList, Map.empty)
  }
}
