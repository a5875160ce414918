package perfbench

import scala.jdk.CollectionConverters._

/** Turns the recorded passes and spans into the benchmark's metrics.
  *
  * End-to-end metrics come from untraced passes only. Per-layer metrics are
  * sums over one pass, reported as the median over the traced steady
  * passes, except `catalyst.*` and `codegen.*`, which are the first pass's
  * (planning and compilation are what a fresh JVM pays; steady passes hit
  * the codegen cache).
  */
final case class Report(endToEnd: Map[String, Double], perLayer: Map[String, Double],
    passes: java.util.List[java.util.Map[String, Any]],
    spans: Span => java.util.List[java.util.Map[String, Any]])

object Report {
  private val MB = 1024.0 * 1024.0

  val NvdOps: Seq[String] =
    Seq("stage", "ingest", "bootstrap", "probe", "incremental", "readme_count", "readme_linux")

  /** Class of each job inside `bootstrap`, from the Spark call site of the
    * Dataset action it serves ("checkpoint at NvdEtl.scala:…", "parquet at
    * …"): the reliable checkpoint, the partitioned append's writes, and
    * everything else (counts and probes). Adaptive-execution stage jobs
    * carry an anonymous call site, so they take the site of a named job of
    * the same SQL execution.
    */
  def bootstrapClasses(jobs: Seq[Span]): Seq[(Span, String)] = {
    val named = jobs.filter(j => j.sqlExecution.isDefined && !j.name.startsWith("$anonfun"))
      .map(j => j.sqlExecution -> j.name).toMap
    jobs.map { j =>
      val site = if (j.sqlExecution.isEmpty) j.name else named.getOrElse(j.sqlExecution, j.name)
      j -> (if (site.startsWith("checkpoint")) "checkpoint"
        else if (site.startsWith("parquet") || site.startsWith("save")) "append"
        else "count")
    }
  }

  def javaMap(m: Map[String, Double]): java.util.Map[String, Any] =
    new java.util.TreeMap[String, Any](m.map { case (k, v) => k -> (v: Any) }.asJava)

  def vmHwmKb(): Long = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  } catch { case _: Throwable => -1L }

  private def descendants(idx: Map[Int, Seq[Span]], id: Int): Seq[Span] = {
    val kids = idx.getOrElse(id, Nil)
    kids ++ kids.flatMap(k => descendants(idx, k.id))
  }

  /** Per-layer sums over one traced pass. */
  private def layer(p: PassRec, idx: Map[Int, Seq[Span]], cores: Int): Map[String, Double] = {
    val ops = idx.getOrElse(p.span.id, Nil).filter(_.kind == "op")
    val all = descendants(idx, p.span.id)
    val jobs = all.filter(_.kind == "job")
    def sum(key: String, js: Seq[Span] = jobs) = js.map(_.counters(key)).sum
    def sumSpans(kind: String) = all.filter(_.kind == kind).map(_.dur).sum / 1e3
    val gap = ops.map { o =>
      o.dur - Tracer.covered(o, descendants(idx, o.id).filter(_.kind == "job"))
    }.sum / 1e3
    val wall = p.opWalls.map(_._2).sum
    val buildJobs = all.filter(_.kind == "build")
      .flatMap(b => descendants(idx, b.id)).count(_.kind == "job")
    val runS = sum("run_s")
    val base = Map(
      "operators.build_s" -> sumSpans("build"),
      "operators.build_jobs" -> buildJobs.toDouble,
      "operators.release_s" -> sumSpans("release"),
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> sum("stages"),
      "scheduler.stages_skipped" -> sum("stages_skipped"),
      "scheduler.tasks" -> sum("tasks"),
      "scheduler.driver_gap_s" -> gap,
      "scheduler.delay_s" -> sum("delay_s"),
      "tasks.run_s" -> runS,
      "tasks.cpu_s" -> sum("cpu_s"),
      "tasks.gc_s" -> sum("gc_s"),
      "tasks.failed" -> sum("tasks_failed"),
      "tasks.core_util" -> (if (wall > 0) runS / (wall * cores) else 0.0),
      "shuffle.write_mb" -> sum("shuffle_write_b") / MB,
      "shuffle.read_mb" -> sum("shuffle_read_b") / MB,
      "shuffle.fetch_wait_s" -> sum("fetch_wait_s"),
      "shuffle.spill_mb" -> sum("spill_b") / MB,
      "storage.input_mb" -> sum("input_b") / MB,
      "storage.output_mb" -> sum("output_b") / MB,
      "storage.cached_peak_mb" -> p.storagePeak / MB) ++
      Tracer.PlanningPhases.map { case (_, k) =>
        s"catalyst.$k" -> all.filter(_.kind != "job").map(_.counters(k)).sum } ++
      Map("codegen.compile_s" -> p.codegen._1, "codegen.compiles" -> p.codegen._2)

    val walls = p.opWalls.toMap
    val boot = ops.find(_.name == "bootstrap")
    val bootJobs = boot.toSeq.flatMap(b => descendants(idx, b.id)).filter(_.kind == "job")
    val bootClassed = bootstrapClasses(bootJobs)
    val feed = p.sources.getOrElse("feed_b", 0.0)
    val stored = p.sources.getOrElse("warehouse_b", 0.0) +
      p.sources.getOrElse("checkpoint_b", 0.0) + sum("shuffle_write_b")
    val sources = NvdOps.map(o => s"sources.${o}_s" -> walls.getOrElse(o, 0.0)) ++
      Seq("checkpoint", "count", "append").map { c =>
        s"sources.bootstrap_${c}_s" -> boot.map(b =>
          Tracer.covered(b, bootClassed.collect { case (j, `c`) => j }) / 1e3)
          .getOrElse(0.0)
      } ++ Seq(
        "sources.bootstrap_driver_gap_s" -> boot.map(b =>
          (b.dur - Tracer.covered(b, bootJobs)) / 1e3).getOrElse(0.0),
        "sources.cves_loaded" -> p.sources.getOrElse("cves_loaded", 0.0),
        "sources.feed_mb" -> feed / MB,
        "sources.warehouse_mb" -> p.sources.getOrElse("warehouse_b", 0.0) / MB,
        "sources.checkpoint_mb" -> p.sources.getOrElse("checkpoint_b", 0.0) / MB,
        "sources.stored_per_feed_byte" -> (if (feed > 0) stored / feed else 0.0))
    base ++ sources
  }

  def build(tr: Tracer, passes: Seq[PassRec], cores: Int, traced: Boolean,
      setupTimes: Seq[Double]): Report = {
    val idx = tr.childIndex
    val steady = passes.filter(_.kind == "steady")
    val first = passes.find(_.kind == "first").get
    def wall(p: PassRec) = p.opWalls.map(_._2).sum
    val untraced = steady.filterNot(_.traced)
    val opNames = first.opWalls.map(_._1)
    // a steady pass = the sum of each op's median over the untraced passes
    val passS = opNames.map(o => Main.median(untraced.flatMap(_.opWalls.toMap.get(o)))).sum

    val endToEnd =
      if (traced) Map.empty[String, Double]
      else Map(
        "setup_s" -> Main.median(setupTimes),
        "first_pass_s" -> wall(first),
        "pass_s" -> passS,
        "peak_rss_mb" -> vmHwmKb() / 1024.0)

    val layers = passes.filter(_.traced).map(p => p.index -> layer(p, idx, cores)).toMap
    val perLayer =
      if (!traced) Map.empty[String, Double]
      else {
        val tracedSteady = steady.filter(_.traced).map(p => layers(p.index))
        val keys = layers(first.index).keys
        val firstOnly = (k: String) => k.startsWith("catalyst.") || k.startsWith("codegen.")
        val attempted = passes.map(_.opWalls.size).sum
        keys.map { k =>
          k -> (if (firstOnly(k)) layers(first.index)(k) else Main.median(tracedSteady.map(_(k))))
        }.toMap ++ Map(
          "trace.overhead_s" ->
            (Main.median(steady.filter(_.traced).map(wall)) - Main.median(untraced.map(wall))),
          "ops.failure_ratio" -> passes.map(_.failures.size).sum.toDouble / attempted)
      }

    val passList = passes.map { p =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("index", p.index)
      m.put("kind", p.kind)
      m.put("traced", p.traced)
      m.put("wall_s", wall(p))
      m.put("ops_s", new java.util.LinkedHashMap[String, Any](
        p.opWalls.map { case (k, v) => k -> (v: Any) }.toMap.asJava))
      val contended = p.evidence("steal_pct") > 2.5 ||
        p.evidence("foreign_pct") * cores / 100.0 >= 0.5
      m.put("evidence", javaMap(p.evidence + ("contended" -> (if (contended) 1.0 else 0.0))))
      if (p.sources.nonEmpty) m.put("sources", javaMap(p.sources))
      layers.get(p.index).foreach(l => m.put("layers", javaMap(l)))
      m: java.util.Map[String, Any]
    }.asJava

    def spanList(root: Span): java.util.List[java.util.Map[String, Any]] =
      (root +: descendants(idx, root.id)).map { s =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("id", s.id)
        m.put("parent", s.parent)
        m.put("kind", s.kind)
        m.put("name", s.name)
        m.put("start_ms", s.start - root.start)
        m.put("dur_ms", s.dur)
        m.put("self_ms", s.dur - Tracer.covered(s, idx.getOrElse(s.id, Nil)))
        m: java.util.Map[String, Any]
      }.asJava

    Report(endToEnd, perLayer, passList, spanList)
  }
}
