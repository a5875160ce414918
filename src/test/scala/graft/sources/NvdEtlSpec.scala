package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Gates for nvd_ingest / nvd_incremental / nvd_load / nvd_bootstrap_detect
  * (SURVEY §2.1) over the committed deterministic feed fixtures.
  */
class NvdEtlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private val fixture = NvdEtl.FixturePath
  private val recent = NvdEtl.RecentFixturePath

  private def writeGz(path: String, text: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(path))
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The messages of an exception and all its causes. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  // the reference tracks feeds frozen at 1.1; NVD's successor API
  // wraps CVEs as {"version":"2.0","vulnerabilities":[{"cve":{...}}]}
  private val api2Feed =
    """{"resultsPerPage":1,"startIndex":0,"totalResults":1,
      |"format":"NVD_CVE","version":"2.0",
      |"timestamp":"2024-01-01T00:00:00.000",
      |"vulnerabilities":[{"cve":{"id":"CVE-2024-9999",
      |  "sourceIdentifier":"cve@mitre.org","vulnStatus":"Analyzed"}}]}
      |""".stripMargin

  test("nvd_ingest: gz feed → one row per CVE with the full nested schema") {
    val df = NvdEtl.ingest(spark, fixture)
    assert(df.schema === NvdEtl.itemSchema())
    assert(df.count() === 96)
    assert(df.select(NvdEtl.cveId).filter(NvdEtl.cveId.isNull).count() === 0)
    assert(df.select(NvdEtl.cveId).distinct().count() === 96)
  }

  test("nvd_ingest: doubly-nested repeated records survive round-trip") {
    val df = NvdEtl.ingest(spark, fixture)
    // k=3 → CVE-2005-1003: linux in nodes[0].cpe_match, no children payload
    val row = df.filter(NvdEtl.cveId === "CVE-2005-1003")
      .select(
        col("configurations.nodes").getItem(0).getField("operator").as("op"),
        size(col("configurations.nodes").getItem(0).getField("cpe_match")).as("n_match"),
        col("configurations.nodes").getItem(0).getField("cpe_match")
          .getItem(1).getField("cpe23Uri").as("uri2"),
        col("impact.baseMetricV2.cvssV2.baseScore").as("score"))
      .head()
    assert(row.getAs[String]("op") === "AND")
    assert(row.getAs[Int]("n_match") === 2)
    assert(row.getAs[String]("uri2").contains("linux_kernel"))
    assert(row.getAs[Double]("score") === ((3 * 37) % 100) / 10.0)
  }

  test("nvd_ingest: NULLABLE records absent from the feed are null") {
    val df = NvdEtl.ingest(spark, fixture)
    // k % 13 == 0 → impact omitted; 96/13 → k ∈ {0,13,26,...,91} = 8 CVEs
    assert(df.filter(col("impact").isNull).count() === 8)
    // k % 11 == 0 → empty nodes array, not null
    assert(df.filter(size(col("configurations.nodes")) === 0).count() === 9)
  }

  test("nvd_ingest: timestamps parse to the exact UTC instant") {
    val df = NvdEtl.ingest(spark, fixture)
    val s = df.filter(NvdEtl.cveId === "CVE-2002-1000")
      .select(unix_timestamp(col("publishedDate"))).head().getLong(0)
    // k=0 → 2002-01-01T00:00:00Z
    assert(s === java.time.Instant.parse("2002-01-01T00:00:00Z").getEpochSecond)
  }

  test("nvd_incremental: left-anti set difference drops already-loaded CVEs") {
    val boot = NvdEtl.ingest(spark, fixture)   // k 0..95
    val rec = NvdEtl.ingest(spark, recent)     // k 72..119
    val delta = NvdEtl.newCves(rec, boot)
    assert(delta.count() === 24)               // k 96..119 only
    assert(delta.filter(NvdEtl.cveId.isin(
      boot.select(NvdEtl.cveId).collect().map(_.getString(0)).toSeq: _*))
      .count() === 0)
  }

  test("nvd_ingest: corrupt feed → zero rows lenient, throws strict") {
    val dir = graft.TestSpark.tmpDir("nvd_corrupt")
    val path = s"$dir/broken.json.gz"
    writeGz(path, """{"CVE_data_type":"CVE","CVE_Items":[{"cve":{"CVE_data_""")
    // lenient (default): malformed file contributes nothing
    assert(NvdEtl.ingest(spark, path).count() === 0)
    // strict: mirrors the reference's raise-on-corrupt
    intercept[org.apache.spark.SparkException] {
      NvdEtl.ingest(spark, path, strict = true).count()
    }
  }

  test("nvd_ingest: a 2.0-API-shaped feed FAILS LOUDLY — never a " +
      "silently-empty load (r11 verdict #7)") {
    // an API-2.0 feed parses under the 1.1 schema as CVE_Items = null,
    // and the PERMISSIVE default would load ZERO rows without complaint —
    // an incremental warehouse would record a successful empty run forever
    val dir = graft.TestSpark.tmpDir("nvd_v2")
    val path = s"$dir/api2.json.gz"
    writeGz(path, api2Feed)
    for (strict <- Seq(false, true)) {
      val e = intercept[Exception] {
        NvdEtl.ingest(spark, path, strict = strict).count()
      }
      assert(msgs(e).exists(m => m.contains("schema drift") && m.contains("api2.json.gz")),
        s"strict=$strict raised without the drift diagnostic: $e")
    }
    // and the guard adds no false positives: the 1.1 fixture still loads
    assert(NvdEtl.ingest(spark, NvdEtl.FixtureAbsPath).count() > 0)
  }

  test("nvd_ingest: unknown extra fields at any depth ingest losslessly " +
      "(reference bq.py:193 ignore_unknown_values)") {
    // a drifted feed: extra keys at the feed top level, inside an item,
    // inside CVE_data_meta, inside a description leaf, and inside a
    // cpe_match element — the schema-driven read must DROP the unknowns
    // and keep every known field bit-identical, in both lenient and
    // strict modes (FAILFAST rejects malformed JSON, not drifted JSON)
    val dir = graft.TestSpark.tmpDir("nvd_drift")
    val path = s"$dir/drift.json.gz"
    writeGz(path,
      """{"CVE_data_type":"CVE","CVE_data_format":"MITRE",
        |"CVE_data_version":"4.0","CVE_data_numberOfCVEs":"2",
        |"CVE_data_timestamp":"2024-01-01T00:00Z",
        |"feed_extra_block":{"nested":[1,2,3]},
        |"CVE_Items":[
        | {"cve":{"data_type":"CVE","data_format":"MITRE","data_version":4.0,
        |   "CVE_data_meta":{"ID":"CVE-2024-0001","ASSIGNER":"cve@mitre.org",
        |     "new_meta_key":"drifted"},
        |   "description":{"description_data":[
        |     {"lang":"en","value":"known value","extra_leaf":7}]},
        |   "unknown_subtree":{"deep":{"deeper":true}}},
        |  "configurations":{"CVE_data_version":4.0,"nodes":[
        |    {"operator":"OR","cpe_match":[
        |      {"vulnerable":true,
        |       "cpe23Uri":"cpe:2.3:o:linux:linux_kernel:5.0:*:*:*:*:*:*:*",
        |       "novel_match_flag":false}]}]},
        |  "publishedDate":"2024-01-01T00:00Z",
        |  "lastModifiedDate":"2024-01-02T00:00Z",
        |  "item_extra_field":"ignored"},
        | {"cve":{"CVE_data_meta":{"ID":"CVE-2024-0002",
        |    "ASSIGNER":"cve@mitre.org"}},
        |  "publishedDate":"2024-01-03T00:00Z"}]}""".stripMargin)
    for (strict <- Seq(false, true)) {
      val df = NvdEtl.ingest(spark, path, strict = strict)
      // unknown fields never surface in the schema…
      assert(df.schema === NvdEtl.itemSchema())
      // …and never cost a row or a known value
      assert(df.count() === 2)
      val r = df.filter(NvdEtl.cveId === "CVE-2024-0001")
        .select(
          col("cve.description.description_data").getItem(0)
            .getField("value").as("desc"),
          col("configurations.nodes").getItem(0).getField("cpe_match")
            .getItem(0).getField("cpe23Uri").as("uri"),
          col("cve.CVE_data_meta.ASSIGNER").as("assigner"),
          unix_timestamp(col("publishedDate")).as("pub"))
        .head()
      assert(r.getAs[String]("desc") === "known value")
      assert(r.getAs[String]("uri").contains("linux_kernel"))
      assert(r.getAs[String]("assigner") === "cve@mitre.org")
      assert(r.getAs[Long]("pub") ===
        java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond)
    }
  }

  test("nvd_ndjson: transform emits NDJSON that round-trips the nested schema") {
    val out = TestSpark.tmpDir("nvd_ndjson")
    NvdEtl.toNdjson(NvdEtl.ingest(spark, fixture), out)
    // the artifact is genuine newline-delimited JSON: one object per line
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(part.nonEmpty)
    val lines = part.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.length === 96)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // round-trip: schema-driven read recovers every CVE and nested fields
    val back = spark.read.schema(NvdEtl.itemSchema()).json(out)
    assert(back.count() === 96)
    assert(back.select(NvdEtl.cveId).distinct().count() === 96)
    val row = back.filter(NvdEtl.cveId === "CVE-2005-1003")
      .select(
        col("configurations.nodes").getItem(0).getField("cpe_match")
          .getItem(1).getField("cpe23Uri").as("uri2"),
        unix_timestamp(col("publishedDate")).as("pub_s"))
      .head()
    assert(row.getAs[String]("uri2").contains("linux_kernel"))
    val orig = NvdEtl.ingest(spark, fixture)
      .filter(NvdEtl.cveId === "CVE-2005-1003")
      .select(unix_timestamp(col("publishedDate"))).head().getLong(0)
    assert(row.getAs[Long]("pub_s") === orig)
  }

  test("nvd_run: the reference's whole driver flow (bootstrap vs incremental)") {
    val wh = TestSpark.tmpDir("nvd_run_wh")
    // greenfield: bootstrap loads every feed in the dir (union, no dups)
    val (boot1, n1) = NvdEtl.run(spark, "fixtures/nvd", wh, threshold = 10)
    assert(boot1 && n1 === 120)
    // healthy warehouse: incremental path touches only the recent feed,
    // whose CVEs are all present → 0 loaded
    val (boot2, n2) = NvdEtl.run(spark, "fixtures/nvd", wh, threshold = 10)
    assert(!boot2 && n2 === 0)
    assert(NvdEtl.countCves(spark, wh) === 120)
  }

  test("nvd_load + nvd_bootstrap_detect: round-trip with overlap, no dup IDs") {
    val wh = TestSpark.tmpDir("nvd_wh")
    // greenfield → bootstrap needed at any sane threshold
    assert(NvdEtl.bootstrapNeeded(spark, wh, threshold = 10))
    assert(NvdEtl.countCves(spark, wh) === 0)

    assert(NvdEtl.loadFeed(spark, fixture, wh) === 96)
    assert(NvdEtl.countCves(spark, wh) === 96)
    assert(!NvdEtl.bootstrapNeeded(spark, wh, threshold = 90))

    // overlapping feed: only the 24 unseen CVEs load (first-writer-wins)
    assert(NvdEtl.loadFeed(spark, recent, wh) === 24)
    assert(NvdEtl.countCves(spark, wh) === 120)
    val ids = NvdEtl.warehouse(spark, wh).select(NvdEtl.cveId)
    assert(ids.distinct().count() === 120)

    // idempotent: loading the same feed again appends nothing
    assert(NvdEtl.loadFeed(spark, recent, wh) === 0)
    assert(NvdEtl.countCves(spark, wh) === 120)

    // year-partitioned layout → partition pruning at the scan
    val years = new java.io.File(wh).list().filter(_.startsWith("cve_year="))
    assert(years.length === 24)  // 2002..2025
    val y2024 = NvdEtl.warehouse(spark, wh).filter(col("cve_year") === 2024)
    assert(y2024.count() > 0)
    assert(y2024.select(NvdEtl.cveId).collect().forall(_.getString(0).startsWith("CVE-2024")))
    // the year predicate must prune at the scan, not filter post-read
    val plan = y2024.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cve_year"),
      s"expected partition pruning on cve_year in:\n$plan")
  }

  /** A 1.1 feed of minimal items, each (CVE ID or null, lastModifiedDate). */
  private def feed11(items: Seq[(String, String)]): String =
    items.map { case (id, modified) =>
      val meta = Option(id).map(i => s""""CVE_data_meta":{"ID":"$i"}""").getOrElse("")
      s"""{"cve":{$meta},"publishedDate":"2001-01-01T00:00Z",""" +
        s""""lastModifiedDate":"$modified"}"""
    }.mkString("""{"CVE_data_type":"CVE","CVE_Items":[""", ",", "]}")

  /** A bootstrap dir of four feeds, in run's order: a hand-built yearly
    * feed, the committed yearly fixture (k 0..95), a hand-built `modified`
    * feed and the committed recent fixture (k 72..119), which overlaps the
    * yearly one. The first hand-built feed shares IDs with both fixtures
    * under different payloads and repeats IDs inside itself; the second
    * repeats an ID the yearly fixture already holds; both carry a row
    * without an ID.
    */
  private def bootstrapDir(): String = {
    val dir = TestSpark.tmpDir("nvd_boot")
    for (f <- Seq(fixture, recent)) {
      val src = java.nio.file.Paths.get(f)
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(dir, src.getFileName.toString))
    }
    writeGz(s"$dir/nvdcve-1.1-2001.json.gz", feed11(Seq(
      "CVE-2002-1000" -> "2030-01-01T00:00Z", // k=0, yearly fixture
      "CVE-2005-1003" -> "2030-01-02T00:00Z", // k=3, yearly fixture, twice
      "CVE-2005-1003" -> "2030-01-03T00:00Z",
      "CVE-2006-1100" -> "2030-01-04T00:00Z", // k=100, recent fixture only
      "CVE-2001-0001" -> "2030-01-05T00:00Z", // nowhere else, twice
      "CVE-2001-0001" -> "2030-01-06T00:00Z",
      (null, "2030-01-07T00:00Z"))))
    writeGz(s"$dir/nvdcve-1.1-modified.json.gz", feed11(Seq(
      "CVE-2003-1001" -> "2031-01-01T00:00Z", // k=1, yearly fixture, twice
      "CVE-2003-1001" -> "2031-01-02T00:00Z",
      "CVE-2001-0002" -> "2031-01-03T00:00Z", // nowhere else
      (null, "2031-01-04T00:00Z"))))
    dir
  }

  /** The bootstrap as one load per feed, in run's order. */
  private def feedByFeed(dir: String, wh: String): Long =
    new java.io.File(dir).list().filter(_.endsWith(".json.gz")).sorted
      .sortBy(_ == "nvdcve-1.1-recent.json.gz")
      .map(f => NvdEtl.loadFeed(spark, s"$dir/$f", wh)).sum

  test("nvd_run: the one-load bootstrap equals loading feed by feed, " +
      "bit for bit") {
    val dir = bootstrapDir()
    // greenfield, then a warehouse under the threshold that already holds
    // the recent fixture — whose rows must win and never load twice
    for ((preload, loaded) <- Seq(false -> 126L, true -> 78L)) {
      val (fused, seq) = (TestSpark.tmpDir("nvd_fused"), TestSpark.tmpDir("nvd_seq"))
      if (preload) for (wh <- Seq(fused, seq))
        assert(NvdEtl.loadFeed(spark, recent, wh) === 48)
      val (boot, n) = NvdEtl.run(spark, dir, fused, threshold = 1000)
      assert(boot)
      assert(n === feedByFeed(dir, seq))
      assert(n === loaded)
      val (a, b) = (NvdEtl.warehouse(spark, fused), NvdEtl.warehouse(spark, seq))
      assert(a.count() === b.count())
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"preload=$preload: the warehouses differ")
      // the first hand-built feed beats the yearly fixture, in-feed
      // duplicates included; the recent fixture's k=100 row beats it only
      // where it was loaded before the bootstrap; the `modified` feed's
      // duplicates of a yearly-fixture ID both lose
      def years(id: String) = a.filter(NvdEtl.cveId === id)
        .select(date_format(col("lastModifiedDate"), "yyyy"))
        .collect().map(_.getString(0)).toSeq
      assert(years("CVE-2002-1000") === Seq("2030"))
      assert(years("CVE-2005-1003") === Seq("2030", "2030"))
      assert(years("CVE-2006-1100").size === 1)
      assert((years("CVE-2006-1100") === Seq("2030")) === !preload)
      assert(years("CVE-2003-1001").size === 1)
      assert(years("CVE-2003-1001") !== Seq("2031"))
      assert(a.filter(NvdEtl.cveId.isNull).count() === 2)
    }
  }

  test("nvd_run: a bootstrap dir without feeds loads nothing and writes nothing") {
    val dir = TestSpark.tmpDir("nvd_no_feeds")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "README.txt"), "no feeds".getBytes)
    val wh = s"${TestSpark.tmpDir("nvd_no_feeds_wh")}/warehouse"
    assert(NvdEtl.run(spark, dir, wh, threshold = 10) === ((true, 0L)))
    assert(!new java.io.File(wh).exists())
  }

  test("nvd_run: an API-2.0 feed among 1.1 feeds fails the bootstrap, " +
      "naming that one file") {
    val dir = bootstrapDir()
    writeGz(s"$dir/nvdcve-1.1-2024.json.gz", api2Feed)
    val e = intercept[Exception] {
      NvdEtl.run(spark, dir, TestSpark.tmpDir("nvd_drift_wh"), threshold = 10)
    }
    val m = msgs(e).mkString("\n")
    assert(m.contains("schema drift") && m.contains("nvdcve-1.1-2024.json.gz"), m)
    assert(!m.contains("nvdcve-1.1-fixture.json.gz"), m)
  }

  test("nvd_run: loads leave no reliable-checkpoint data behind") {
    val ckpt = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    def rdds() = Option(ckpt.list()).toSeq.flatten.filter(_.startsWith("rdd-")).toSet
    val before = rdds()
    val wh = TestSpark.tmpDir("nvd_ckpt_wh")
    assert(NvdEtl.run(spark, bootstrapDir(), wh, threshold = 10) === ((true, 126L)))
    assert(NvdEtl.run(spark, "fixtures/nvd", wh, threshold = 10) === ((false, 0L)))
    assert(rdds() -- before === Set.empty)
  }

  /** Every parquet file under `dir`, at any depth (`_temporary` included). */
  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally walk.close()
    }
  }

  test("nvd_load: a load with no new CVEs returns 0 and writes no file") {
    val wh = TestSpark.tmpDir("nvd_empty_load_wh")
    assert(NvdEtl.loadFeed(spark, recent, wh) === 48)
    val before = parquetFiles(wh).toSet
    assert(before.nonEmpty)
    assert(NvdEtl.loadFeed(spark, recent, wh) === 0)
    assert(parquetFiles(wh).toSet === before)
    // a feed without CVE items, into that warehouse and into a greenfield one
    val empty = s"${TestSpark.tmpDir("nvd_empty_feed")}/nvdcve-1.1-empty.json.gz"
    writeGz(empty, feed11(Nil))
    assert(NvdEtl.loadFeed(spark, empty, wh) === 0)
    assert(parquetFiles(wh).toSet === before)
    val green = s"${TestSpark.tmpDir("nvd_empty_green")}/warehouse"
    assert(NvdEtl.loadFeed(spark, empty, green) === 0)
    assert(parquetFiles(green) === Nil)
    assert(NvdEtl.countCves(spark, green) === 0)
  }

  test("nvd_run: a bootstrap that fails on an API-2.0 feed leaves no " +
      "parquet file in the warehouse") {
    val dir = bootstrapDir()
    writeGz(s"$dir/nvdcve-1.1-2024.json.gz", api2Feed)
    val wh = TestSpark.tmpDir("nvd_failed_wh")
    intercept[Exception](NvdEtl.run(spark, dir, wh, threshold = 10))
    assert(parquetFiles(wh) === Nil)
  }

  test("nvd_run: a bootstrap writes each CVE year as exactly one file") {
    val wh = TestSpark.tmpDir("nvd_layout_wh")
    // the fixtures are so small that AQE coalesces the first-writer shuffle
    // into one partition; a real bootstrap's delta spans many tasks, and
    // with coalescing off this one spans all of spark.sql.shuffle.partitions
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try assert(NvdEtl.run(spark, bootstrapDir(), wh, threshold = 10) === ((true, 126L)))
    finally spark.conf.unset(key)
    val years = new java.io.File(wh).listFiles().filter(_.getName.startsWith("cve_year="))
    assert(years.length === 26) // 2001..2025 and the null-ID rows' year
    for (y <- years)
      assert(y.list().count(_.endsWith(".parquet")) === 1, y.getName)
  }

  test("nvd_load: the load counts its rows in the write's own stage — no " +
      "Exchange between the CollectMetrics node and the write") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children
    }
    def find(p: SparkPlan)(f: SparkPlan => Boolean): Option[SparkPlan] =
      if (f(p)) Some(p) else kids(p).iterator.flatMap(find(_)(f)).nextOption()
    // the nodes from `p` down to the first CollectMetricsExec, both included
    def pathToMetrics(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case m: CollectMetricsExec => Some(List(m))
      case _ => kids(p).iterator.flatMap(pathToMetrics).nextOption().map(p :: _)
    }
    val wh = TestSpark.tmpDir("nvd_plan_wh")
    // the listener runs on the listener bus, after the load has returned
    val writes = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        find(qe.executedPlan)(p => p.isInstanceOf[DataWritingCommandExec] &&
          p.toString.contains(wh)).foreach(writes.put)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val write = try {
      assert(NvdEtl.loadFeed(spark, fixture, wh) === 96)
      writes.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally spark.listenerManager.unregister(listener)
    assert(write != null, "no write plan reached the listener")
    val path = pathToMetrics(write)
    assert(path.isDefined, s"no CollectMetrics under the write:\n$write")
    assert(!path.get.exists(p => p.isInstanceOf[Exchange] || p.isInstanceOf[QueryStageExec]),
      s"an Exchange sits between the count and the write:\n$write")
  }
}
