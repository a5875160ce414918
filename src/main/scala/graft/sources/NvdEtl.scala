package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ETL core, re-expressed Spark-first (SURVEY.md §2.1).
  *
  * Reference pipeline (bq-nvd.py:153-166): download feed → gunzip+parse JSON
  * (etl.py:19-49) → drop feed metadata, keep CVE_Items, drop CVEs whose IDs
  * already exist in the warehouse via a driver-side Python set
  * (etl.py:80-92) → bulk-append (bq.py:171-202).
  *
  * Spark-first differences, by design:
  *  - extract+transform is one declarative `spark.read.schema(...).json`
  *    (native gzip codec) + `explode(CVE_Items)` — no driver-side JSON pass;
  *    a set of feed files parallelizes per-file (each gz feed is one task;
  *    the 100 TB shape is many feeds, not one giant file): the bootstrap
  *    ingests, dedups and appends every feed in one load ([[loadFeeds]]),
  *    not one load per feed;
  *  - first writer wins, as in the reference's feed-by-feed load: a CVE
  *    already in the warehouse is never reloaded, and across the feeds of
  *    one load the row of the earliest feed (yearly feeds sorted, `recent`
  *    last) wins;
  *  - the incremental set-difference is a distributed left-anti join on the
  *    CVE ID — never a collected id list on the driver;
  *  - the warehouse is year-partitioned parquet, so queries over a CVE-year
  *    range prune partitions at the scan;
  *  - a load is ONE Spark write job ([[load]]): the delta flows from the
  *    anti-join straight into the append, which counts its own rows and
  *    writes each CVE year of the load as one file — no materialization
  *    barrier, no separate count pass (the argument for why the append can
  *    never read its own output is on [[load]]).
  */
object NvdEtl {

  /** The NVD BQ schema, parsed — never hand-translated into Scala. The
    * file is a committed DATA fixture (`fixtures/nvd/schema.json`), a
    * verbatim copy of the reference's schema.json (itself public NVD
    * column metadata, reference config.yml `nvd_schema`): the library
    * must not carry a RUNTIME dependency on the read-only reference
    * mount, which may be absent in deployment. Resolved repo-root-
    * relative first (the forked-JVM cwd convention FixturePath relies
    * on) so a deployment checkout anywhere works; the sandbox absolute
    * path is only the fallback for callers with a foreign cwd.
    */
  val DefaultSchemaPath: String = {
    val rel = "fixtures/nvd/schema.json"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(rel))) rel
    else s"/root/repo/$rel"
  }

  val FixturePath = "fixtures/nvd/nvdcve-1.1-fixture.json.gz"
  val RecentFixturePath = "fixtures/nvd/nvdcve-1.1-recent.json.gz"

  /** Absolute form shared by the SparkEntry queries and their oracle SQL —
    * the driver may run Spark and DuckDB from arbitrary working dirs, so
    * the contract surface pins ONE canonical location. Resolved from the
    * repo-root cwd when the checkout is visible there (the forked-JVM
    * convention, so any checkout location works — same rationale as
    * [[DefaultSchemaPath]]); the sandbox absolute path is only the
    * fallback for callers with a foreign cwd.
    */
  private def absOf(rel: String): String = {
    val p = java.nio.file.Paths.get(rel)
    if (java.nio.file.Files.exists(p)) p.toAbsolutePath.toString
    else s"/root/repo/$rel"
  }
  val FixtureAbsPath = absOf(FixturePath)
  val RecentFixtureAbsPath = absOf(RecentFixturePath)

  /** Schema of one CVE item (schema.json → StructType). */
  def itemSchema(schemaPath: String = DefaultSchemaPath): StructType =
    BqJsonSchema.parseFile(schemaPath)

  /** Schema of a whole NVD 1.1 feed file: string metadata the transform
    * drops (reference etl.py:75-77) + the CVE_Items array.
    */
  def feedSchema(schemaPath: String = DefaultSchemaPath): StructType =
    StructType(Seq(
      StructField("CVE_data_type", StringType),
      StructField("CVE_data_format", StringType),
      StructField("CVE_data_version", StringType),
      StructField("CVE_data_numberOfCVEs", StringType),
      StructField("CVE_data_timestamp", StringType),
      StructField("CVE_Items", ArrayType(itemSchema(schemaPath)))))

  /** The nested CVE ID path used throughout the reference
    * (bq.py:156-158 get_cve_ids, etl.py:87).
    */
  def cveId: Column = col("cve.CVE_data_meta.ID")

  /** Extract+transform: gz feed file(s) → one row per CVE, full nested
    * schema (reference etl.py:19-49 + the CVE_Items projection at :77).
    * `multiLine` because a feed is one JSON object, not NDJSON.
    *
    * `strict = true` mirrors the reference's fail-on-corrupt behavior
    * (etl.py raises JSONDecodeError): a malformed feed aborts the load
    * (FAILFAST). The default is PERMISSIVE — a corrupt feed contributes
    * zero rows instead of poisoning a thousand-feed batch, the posture a
    * 100 TB crawl ingest actually wants.
    *
    * Schema-drift guard (the reference tracks feeds frozen at 1.1;
    * NVD's successor API publishes `{"version": "2.0",
    * "vulnerabilities": [...]}` envelopes): a 2.0-shaped file parses
    * under the 1.1 schema as CVE_Items = null, and PERMISSIVE mode
    * would turn that into a SILENTLY EMPTY load — the worst failure
    * mode an incremental warehouse has. The read schema therefore
    * carries two probe fields (`version`, `vulnerabilities`) that a 1.1
    * feed never populates, and the envelope row raises loudly BEFORE
    * the explode when the 2.0 markers appear without CVE_Items. The
    * guard lives inside the explode input (a raise_error branch of the
    * CaseWhen), so no separate envelope scan or eager action is added
    * to the ingest hot path, and column pruning cannot drop it.
    */
  def ingest(spark: SparkSession, feedPath: String,
      schemaPath: String = DefaultSchemaPath,
      strict: Boolean = false): DataFrame =
    explodeFeeds(spark, Seq(feedPath), schemaPath, strict).select("item.*")

  /** The read behind [[ingest]], over any number of feed files in ONE
    * read (one task per gz file): one `item` struct per CVE, plus the
    * `perFeed` columns computed from each feed row (they may reference
    * the feed file's `_metadata`). The drift guard names the offending
    * file from the row's own input file, never from the list of paths.
    */
  private def explodeFeeds(spark: SparkSession, feedPaths: Seq[String],
      schemaPath: String, strict: Boolean, perFeed: Column*): DataFrame = {
    val itemsType = ArrayType(itemSchema(schemaPath))
    val probeSchema = feedSchema(schemaPath)
      .add(StructField("version", StringType))
      .add(StructField("vulnerabilities",
        ArrayType(StructType(Seq(StructField("cve",
          StructType(Seq(StructField("id", StringType)))))))))
    spark.read
      .schema(probeSchema)
      .option("multiLine", value = true)
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      // real NVD 1.1 feeds publish minute-precision timestamps
      // ("2019-04-09T20:15Z") — seconds and millis must both be optional
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm[:ss][.SSS]XXX")
      .json(feedPaths: _*)
      .select(explode(
        when(col("CVE_Items").isNull &&
            (col("vulnerabilities").isNotNull || col("version").isNotNull),
          // input_file_name(), not _metadata.file_path: the metadata
          // column adds two projections to every scan, ≈50 ms on a
          // 3-feed, 6,000-CVE ingest at local[4]; a message needs no more
          raise_error(concat(
            lit("NVD feed schema drift: expected a 1.1 feed with " +
              "CVE_Items, found API-2.0 markers (version="),
            coalesce(col("version"), lit("?")),
            lit(", file="), input_file_name(), lit(")"))).cast(itemsType))
          .otherwise(col("CVE_Items"))).as("item") +: perFeed: _*)
  }

  /** The reference transform's staging artifact (etl.py:94-116): scrubbed
    * CVE rows as newline-delimited JSON for a bulk loader. Our warehouse
    * loads parquet directly, but the NDJSON form remains part of the
    * reference surface — and Spark's json sink IS newline-delimited JSON,
    * written in parallel per partition (the reference serializes one CVE
    * at a time on the driver).
    */
  def toNdjson(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite").json(outDir)

  /** The warehouse's CVE-ID relation (reference bq.py:144-169
    * get_cve_ids) — kept DISTRIBUTED: the reference collects the ids into
    * a Python set on the driver; here they stay a DataFrame that joins,
    * never a driver-side collection.
    */
  def cveIds(warehouse: DataFrame): DataFrame =
    warehouse.select(cveId.as("cve_id"))

  /** Incremental set-difference (reference etl.py:80-92): keep only feed
    * CVEs whose ID is not already in the warehouse — a distributed
    * left-anti join replacing the reference's driver-side Python set.
    */
  def newCves(feed: DataFrame, warehouse: DataFrame): DataFrame =
    feed.join(cveIds(warehouse).withColumnRenamed("cve_id", "__existing_id"),
      cveId === col("__existing_id"), "left_anti")

  /** CVE year from the ID itself ("CVE-2024-1234" → 2024) — the stable
    * partitioning key (publishedDate can shift across feed revisions).
    */
  def cveYear: Column = substring(cveId, 5, 4).cast("int")

  /** Append to the year-partitioned parquet warehouse (replaces the GCS→BQ
    * bulk load, reference bq.py:171-202) and return the number of rows
    * appended. Caller is responsible for dedup via [[newCves]] — mirroring
    * the reference, where transform scrubs duplicates before load ever runs.
    *
    * The rows are hash-repartitioned by year first, so each year lands in
    * exactly one write task and a load writes one file per year, not one
    * per (task, year): opening a parquet writer for the nested CVE schema
    * costs more than the rows it writes. The partition count is explicit
    * so that AQE never coalesces the write into one serial task. An empty
    * delta writes no file.
    *
    * The count is an [[Observation]] attached AFTER the repartition, so its
    * `CollectMetrics` node runs in the write's result stage, whose
    * accumulator updates Spark merges once per partition; in a shuffle-map
    * stage a stage retry could count rows twice.
    */
  def append(df: DataFrame, warehouseDir: String): Long = {
    val rows = Observation()
    df.withColumn("cve_year", cveYear)
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("cve_year"))
      .observe(rows, count(lit(1)).as("n"))
      .write.partitionBy("cve_year").mode("append").parquet(warehouseDir)
    rows.get("n").asInstanceOf[Long]
  }

  /** The warehouse table, or an empty frame with the right schema if the
    * warehouse does not exist yet (greenfield).
    */
  def warehouse(spark: SparkSession, warehouseDir: String,
      schemaPath: String = DefaultSchemaPath): DataFrame = {
    val schema = itemSchema(schemaPath).add(StructField("cve_year", IntegerType))
    if (new java.io.File(warehouseDir).exists())
      spark.read.schema(schema).parquet(warehouseDir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** COUNT(cve.CVE_data_meta.ID) over the warehouse (reference
    * bq.py:125-127) — the probe behind the bootstrap decision.
    */
  def countCves(spark: SparkSession, warehouseDir: String): Long =
    warehouse(spark, warehouseDir).agg(count(cveId)).head().getLong(0)

  /** Bootstrap-vs-incremental decision (reference bq-nvd.py:70-85): a
    * warehouse with fewer than `threshold` CVEs is treated as greenfield.
    * The reference hardcodes 130000 ("there are over 130k CVEs in the NVD").
    */
  def bootstrapNeeded(spark: SparkSession, warehouseDir: String,
      threshold: Long = 130000L): Boolean =
    countCves(spark, warehouseDir) < threshold

  /** One load step over a single feed — [[loadFeeds]] of one path. */
  def loadFeed(spark: SparkSession, feedPath: String, warehouseDir: String,
      schemaPath: String = DefaultSchemaPath): Long =
    loadFeeds(spark, Seq(feedPath), warehouseDir, schemaPath)

  /** The one load path of the batch loader ([[loadFeeds]]) and the
    * streaming sink (`StreamOps.warehouseSink`): drop the CVEs of `feed`
    * already in the warehouse ([[newCves]]) and [[append]] the rest, as one
    * Spark write job. Returns the number of newly loaded CVEs.
    *
    * The delta is never materialized before the append, although the
    * append writes into the directory the anti-join reads. The append
    * still can never read its own output:
    *  - the anti-join's warehouse scan fixes its file list when
    *    [[warehouse]] builds the relation — `InMemoryFileIndex` lists the
    *    files once, and neither AQE re-planning nor a stage retry lists
    *    them again;
    *  - Spark allows an `Append` into a path the same plan reads; only
    *    `Overwrite` is rejected;
    *  - the committer publishes files only at job commit, so a failed load
    *    leaves no part files behind.
    */
  def load(spark: SparkSession, feed: DataFrame, warehouseDir: String,
      schemaPath: String = DefaultSchemaPath): Long =
    append(newCves(feed, warehouse(spark, warehouseDir, schemaPath)), warehouseDir)

  /** One load over any number of feed files (reference bq-nvd.py:87-104,
    * which loads the yearly feeds one after another): ingest them all in
    * one read, drop already-present CVEs, append the rest in one write
    * ([[load]]), one file per CVE year. Returns the number of newly loaded
    * CVEs.
    *
    * The result is exactly that of loading the feeds one by one in the
    * given order. Rows already in the warehouse win. Across feeds the
    * first writer wins: a row of feed i survives only if no earlier feed
    * holds its CVE ID. Within one feed every row survives, duplicate IDs
    * included — the anti-join never dedups a feed against itself. With a
    * single feed the first-writer step is the identity and is left out,
    * so a one-feed load shuffles only for the year repartition.
    */
  def loadFeeds(spark: SparkSession, feedPaths: Seq[String],
      warehouseDir: String, schemaPath: String = DefaultSchemaPath): Long =
    if (feedPaths.isEmpty) 0L
    else {
      val feed =
        if (feedPaths.size == 1) ingest(spark, feedPaths.head, schemaPath)
        else firstWriter(spark, feedPaths, schemaPath)
      load(spark, feed, warehouseDir, schemaPath)
    }

  /** [[ingest]] over several feed files, keeping for each CVE ID only the
    * rows of the earliest feed that holds it. A row's feed is its file's
    * position in `feedPaths`, matched on `_metadata.file_name`, so the
    * paths must name files with distinct names. Null IDs, which no
    * anti-join ever matches, all survive.
    */
  private def firstWriter(spark: SparkSession, feedPaths: Seq[String],
      schemaPath: String): DataFrame = {
    val names = feedPaths.map(p => new org.apache.hadoop.fs.Path(p).getName)
    require(names.distinct.size == names.size,
      s"feed file names must be distinct: ${feedPaths.mkString(", ")}")
    explodeFeeds(spark, feedPaths, schemaPath, strict = false,
        array_position(typedLit(names), col("_metadata.file_name")).as("__feed"))
      .select("item.*", "__feed")
      .withColumn("__first", min("__feed").over(Window.partitionBy(cveId)))
      .filter(col("__feed") === col("__first") || cveId.isNull)
      .drop("__feed", "__first")
  }

  /** The reference's whole driver flow (bq-nvd.py:153-163 main):
    * greenfield/broken warehouse → bootstrap every yearly feed; healthy
    * warehouse → load only the `recent` feed; either way one
    * [[loadFeeds]] call. Feed discovery is local-directory listing (the
    * HTTP fetch of download.py is out of scope in a zero-egress build). A
    * directory without feeds bootstraps nothing. Returns (bootstrapped?,
    * CVEs loaded).
    */
  def run(spark: SparkSession, feedDir: String, warehouseDir: String,
      recentFeedName: String = "nvdcve-1.1-recent.json.gz",
      threshold: Long = 130000L,
      schemaPath: String = DefaultSchemaPath): (Boolean, Long) = {
    val dir = new java.io.File(feedDir)
    require(dir.isDirectory, s"feed dir not found: $feedDir")
    val bootstrap = bootstrapNeeded(spark, warehouseDir, threshold)
    val feeds =
      if (bootstrap)
        // every feed file, yearly feeds first (reference bq-nvd.py:87-96
        // iterates 2002..now), recent last
        dir.listFiles().map(_.getName).filter(_.endsWith(".json.gz")).sorted
          .sortBy(_ == recentFeedName).toSeq
      else Seq(recentFeedName).filter(new java.io.File(dir, _).isFile)
    (bootstrap, loadFeeds(spark, feeds.map(f => s"$feedDir/$f"), warehouseDir, schemaPath))
  }
}
