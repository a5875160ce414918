package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, exists}

import graft.{Bench, GraftCaches, GraftSession, SparkEntry}
import graft.sources.{FeedSource, LocalMirrorFetcher, NvdEtl, NvdFixtureGen}

/** One op of a pass: runs against graft's public entry points inside the
  * op span and returns None when its output is right, or what was wrong.
  */
final case class Op(name: String, run: () => Option[String])

/** A closed-loop workload: one caller runs `ops` back to back, a pass at a
  * time. `setup` generates the inputs into a fresh session; `afterPass`
  * measures and removes what a pass left on storage.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def ops(spark: SparkSession, tr: Tracer, pass: Int): Seq[Op]
  def afterPass(spark: SparkSession, pass: Int): Map[String, Double] = Map.empty
  def inputBytes: Long
}

/** The query workloads: each op builds one `SparkEntry.queries` DataFrame,
  * forces it through a sink, then releases the session's caches as every
  * graft embedding must. Inputs come from gen_tables.py, run as a
  * child process at set-up.
  */
final class QueryWorkload(queries: Seq[String], tablesDir: String, sf: String,
    generator: String, verifyDir: String) extends Workload {
  private var storagePeak = 0L

  def setup(spark: SparkSession): Unit = {
    Main.deleteTree(Paths.get(tablesDir))
    val p = new ProcessBuilder("python3", generator, tablesDir, sf).inheritIO().start()
    val rc = p.waitFor()
    require(rc == 0, s"table generator exited with $rc")
  }

  def inputBytes: Long = Main.treeBytes(Paths.get(tablesDir))

  def takeStoragePeak(): Long = { val p = storagePeak; storagePeak = 0L; p }

  private def op(spark: SparkSession, tr: Tracer, name: String,
      sink: DataFrame => Unit): Op = Op(name, () => {
    val fn = SparkEntry.queries(name)
    val df = tr.within("build", name)(fn(spark, tablesDir))
    tr.within("action", name)(sink(df))
    if (tr.isTracing) storagePeak = math.max(storagePeak,
      org.apache.spark.sql.graft.GraftRuntime.storageUsed(spark.sparkContext))
    tr.within("release", name)(GraftCaches.release(spark))
    None
  })

  /** Pass 0 writes every result as parquet for the caller to checksum
    * against the DuckDB oracle's recorded values; later passes use the
    * noop sink.
    */
  def ops(spark: SparkSession, tr: Tracer, pass: Int): Seq[Op] =
    queries.map(q => op(spark, tr, q,
      if (pass == 0) _.write.mode("overwrite").parquet(s"$verifyDir/$q")
      else _.write.format("noop").mode("overwrite").save()))
}

/** The reference's own job through graft.sources: stage the yearly feeds
  * from a local mirror, parse them, bootstrap an empty warehouse, probe it,
  * load an overlapping recent feed incrementally and answer the README
  * queries. Every pass starts from an empty warehouse.
  *
  * Inputs are NvdFixtureGen scale-mode feeds: `shards` yearly shards of
  * `perShard` CVEs (k in [0, n)), plus a recent feed that is the last shard
  * of an (n + fresh)-CVE generation in `recentShards` shards, so it holds
  * k in [(recentShards-1) * ((n+fresh)/recentShards), n + fresh): the seed
  * picks `recentShards` and with it how much of the recent feed overlaps
  * the bootstrap. Expected counts follow from the generator's index
  * arithmetic, not from observed output.
  */
final class NvdWorkload(runDir: Path, shards: Int, perShard: Int, fresh: Int,
    recentShards: Int) extends Workload {
  val n: Int = shards * perShard
  val total: Int = n + fresh
  val threshold: Long = n.toLong * 13 / 20 // the reference's 130k of ~200k
  private val mirror = runDir.resolve("mirror")
  val recentStart: Int = (recentShards - 1) * (total / recentShards)
  require(recentStart < n, "the recent feed must overlap the bootstrap")
  /** README EXISTS hits: linux cpe23Uri in nodes when k%3==0, nodes empty
    * when k%11==0 (NvdFixtureGen's structural knobs).
    */
  val linuxHits: Int = (0 until total).count(k => k % 3 == 0 && k % 11 != 0)

  private val shardNames = (0 until shards).map(s => f"shard$s%02d")
  private val source = FeedSource(urlBase = "mirror:/",
    fetcher = new LocalMirrorFetcher(mirror.toString))
  private def passDir(pass: Int) = runDir.resolve(s"pass$pass")

  def setup(spark: SparkSession): Unit = {
    Main.deleteTree(mirror)
    NvdFixtureGen.main(Array(mirror.toString, n.toString, shards.toString))
    val tmp = runDir.resolve("recent-gen")
    NvdFixtureGen.main(Array(tmp.toString, total.toString, recentShards.toString))
    Files.move(tmp.resolve(f"nvdcve-1.1-shard${recentShards - 1}%02d.json.gz"),
      mirror.resolve("nvdcve-1.1-recent.json.gz"), StandardCopyOption.REPLACE_EXISTING)
    Main.deleteTree(tmp)
  }

  def inputBytes: Long = Main.treeBytes(mirror)

  private def expect[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def ops(spark: SparkSession, tr: Tracer, pass: Int): Seq[Op] = {
    val stage = passDir(pass).resolve("stage").toString
    val wh = passDir(pass).resolve("warehouse").toString
    def act[T](f: => T): T = tr.within("action", "call")(f)
    Seq(
      Op("stage", () => expect("staged feeds",
        act(source.stageAll(shardNames, stage)).size, shards)),
      Op("ingest", () => {
        val df = tr.within("build", "ingest")(NvdEtl.ingest(spark, stage))
        act(df.write.format("noop").mode("overwrite").save())
        None
      }),
      Op("bootstrap", () => expect("bootstrap (bootstrapped, loaded)",
        act(NvdEtl.run(spark, stage, wh, threshold = threshold)), (true, n.toLong))),
      Op("probe", () => expect("bootstrapNeeded after bootstrap",
        act(NvdEtl.bootstrapNeeded(spark, wh, threshold)), false)),
      Op("incremental", () => {
        act(source.stageAll(Seq("recent"), stage))
        expect("incremental (bootstrapped, loaded)",
          act(NvdEtl.run(spark, stage, wh, threshold = threshold)), (false, fresh.toLong))
      }),
      Op("readme_count", () => expect("countCves",
        act(NvdEtl.countCves(spark, wh)), total.toLong)),
      Op("readme_linux", () => {
        // the reference README's doubly nested EXISTS over the warehouse
        val df = tr.within("build", "readme_linux")(NvdEtl.warehouse(spark, wh)
          .filter(exists(col("configurations.nodes"), node =>
            exists(node.getField("cpe_match"),
              m => m.getField("cpe23Uri").contains("linux")))))
        expect("linux EXISTS hits", act(df.count()), linuxHits.toLong)
      }))
  }

  override def afterPass(spark: SparkSession, pass: Int): Map[String, Double] = {
    val dir = passDir(pass)
    val ckpt = spark.sparkContext.getCheckpointDir.map(d => Paths.get(new java.net.URI(d)))
    val m = Map(
      "feed_b" -> Main.treeBytes(dir.resolve("stage")).toDouble,
      "warehouse_b" -> Main.treeBytes(dir.resolve("warehouse")).toDouble,
      "checkpoint_b" -> ckpt.map(Main.treeBytes).getOrElse(0L).toDouble,
      "cves_loaded" -> total.toDouble)
    Main.deleteTree(dir)
    // checkpointed RDDs of a finished pass are unreachable: remove their
    // files so storage does not grow pass over pass
    ckpt.foreach(c => Option(c.toFile.listFiles()).foreach(_.foreach(f => Main.deleteTree(f.toPath))))
    m
  }
}

final case class PassRec(index: Int, kind: String, traced: Boolean, span: Span,
    opWalls: Seq[(String, Double)], failures: Seq[(String, String)],
    evidence: Map[String, Double], codegen: (Double, Double),
    storagePeak: Long, sources: Map[String, Double])

object Main {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def codegenNow(): (Double, Double) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    // record_expected.py's entry: the oracle SQL of the named queries
    kv.get("dump_oracle").foreach { path =>
      val sql = kv("queries").split(",").map(q => q -> SparkEntry.oracleSql(q)).toMap
      Files.write(Paths.get(path),
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(sql.asJava))
      return
    }
    val workloadName = kv("workload")
    val seed = kv("seed").toLong
    val trace = kv("trace") == "1"
    val setups = kv("setups").toInt
    val cores = kv("cores").toInt
    val runDir = Paths.get(kv("run_dir")).toAbsolutePath
    val rng = new scala.util.Random(seed)

    val workload: Workload = workloadName match {
      case "nvd_etl" =>
        val Array(shards, perShard, fresh) = kv("nvd").split(",").map(_.toInt)
        // the recent feed is the last shard of a generation in 2*shards to
        // 2*shards+2 shards: the seed moves its overlap window while its
        // size stays within a few percent
        new NvdWorkload(runDir, shards, perShard, fresh,
          recentShards = 2 * shards + rng.nextInt(3))
      case _ =>
        new QueryWorkload(rng.shuffle(kv("queries").split(",").toSeq),
          runDir.resolve("tables").toString, kv("sf"), kv("generator"),
          runDir.resolve("verify").toString)
    }

    // ---- set-up, several times: session build + input generation ----
    var spark: SparkSession = null
    val setupTimes = (0 until setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build(cores)
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val tr = new Tracer(spark)

    val passes = mutable.ArrayBuffer.empty[PassRec]
    var attempted = 0
    def runPass(kind: String, traced: Boolean, ops: Seq[Op]): Unit = {
      tr.setTracing(traced)
      val idx = passes.size
      val walls = mutable.ArrayBuffer.empty[(String, Double)]
      val fails = mutable.ArrayBuffer.empty[(String, String)]
      val (s0, j0, b0) = Bench.statSample()
      val c0 = Bench.processCpuNanos()
      val g0 = Bench.gcMillis()
      val cg0 = codegenNow()
      val passSpan = tr.within("pass", s"$kind $idx") {
        val span = tr.current
        ops.foreach { op =>
          attempted += 1
          val t0 = tr.now
          val bad = tr.within("op", op.name) {
            try { val r = op.run(); tr.drain(); r }
            catch { case e: Throwable =>
              Some(s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)) }
          }
          walls += op.name -> (tr.now - t0) / 1e3
          bad.foreach(msg => fails += op.name -> msg)
        }
        span
      }
      val cg1 = codegenNow()
      val (s1, j1, b1) = Bench.statSample()
      val wall = walls.map(_._2).sum
      val cpu = (Bench.processCpuNanos() - c0) / 1e9
      val jiffies = (j1 - j0).toDouble
      val evidence = Map(
        "steal_pct" -> (if (jiffies > 0) 100.0 * (s1 - s0) / jiffies else -1.0),
        "foreign_pct" -> (if (jiffies > 0) math.max(0.0,
          100.0 * (b1 - b0) / jiffies - 100.0 * cpu / (wall * cores)) else -1.0),
        "jvm_cpu_s" -> cpu,
        "gc_s" -> (Bench.gcMillis() - g0) / 1e3)
      val storagePeak = workload match {
        case q: QueryWorkload => q.takeStoragePeak()
        case _ => 0L
      }
      passes += PassRec(idx, kind, traced, passSpan, walls.toSeq, fails.toSeq,
        evidence, (cg1._1 - cg0._1, cg1._2 - cg0._2), storagePeak,
        workload.afterPass(spark, idx))
    }

    val run = tr.within("run", s"seed $seed") {
      val span = tr.current
      tr.within("workload", workloadName) {
        runPass("first", trace, workload.ops(spark, tr, 0))
        // the JIT is still compiling the hot paths of the first pass: one
        // untimed pass lets it settle before the steady window opens
        runPass("warmup", traced = false, workload.ops(spark, tr, 1))
        // a fixed pass count, not a deadline: the JIT keeps speeding passes
        // up for minutes, so a deadline would make the number of passes,
        // and with it the median, depend on how fast the host ran
        val steadyPasses = if (trace) math.max(2, kv("steady_passes").toInt)
          else kv("steady_passes").toInt
        (0 until steadyPasses).foreach { i =>
          runPass("steady", traced = trace && i % 2 == 0, workload.ops(spark, tr, passes.size))
        }
      }
      span
    }
    tr.setTracing(false)

    val report = Report.build(tr, passes.toSeq, cores, trace, setupTimes)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workloadName)
    out.put("seed", seed)
    out.put("setup_s", setupTimes.asJava)
    out.put("attempted", attempted)
    out.put("failures", passes.flatMap(p => p.failures.map { case (o, m) =>
      Map("pass" -> p.index, "op" -> o, "error" -> m).asJava }).asJava)
    out.put("end_to_end", Report.javaMap(report.endToEnd))
    out.put("per_layer", Report.javaMap(report.perLayer))
    out.put("passes", report.passes)
    out.put("spans", report.spans(run))
    out.put("input_bytes", workload.inputBytes)
    out.put("spark_conf", sc.getConf.getAll.sorted.toMap.asJava)
    out.put("jvm", Map(
      "version" -> System.getProperty("java.vm.version"),
      "args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).mkString(" "),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "available_processors" -> Runtime.getRuntime.availableProcessors).asJava)
    out.put("vm_hwm_kb", Report.vmHwmKb())
    spark.stop()
    Files.write(Paths.get(kv("out")),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(out))
  }
}
