package etlbench

/** Input sizes and loop settings, in one place. */
object Scale {
  /** Crawl scale of the ETL workloads: 1 is the published UPS corpus
    * (536 UPS works, 670 with the non-UPS ones, 2 pages). */
  val Etl = 1
  /** Setups per run; the median is reported. */
  val SetupRepeats = 3
  /** A run stops adding operations after this many times its window. */
  val MaxLoopFactor = 3.0
}

/** The per-layer metric names, printed on every workload (0 where the
  * workload does not run that layer). */
object Metrics {

  val PipelineCalls = Seq("ingest", "catalog", "flatview")
  /** Engine modules the operations run, counted per operation. */
  val Modules = Seq("Crossref", "Entities", "Warehouse", "Catalog",
    "FlatView", "Pipeline")
  /** The module the interactive requests run, counted per load. */
  val RequestModule = "Dashboard"
  val Charts = Seq("year", "country", "area")

  val perLayer: Seq[String] =
    Seq("fetch.s", "fetch.requests", "fetch.retries", "fetch.pages",
      "fetch.paced_s") ++
    PipelineCalls.flatMap(c => Seq("s", "jobs", "tasks", "busy_share",
      "shuffle_mb", "spill_mb", "written_mb", "files_written")
      .map(m => s"$c.$m")) ++
    Seq("ingest.novel_ratio", "warehouse.rewritten_mb",
      "warehouse.at_rest_mb") ++
    (Modules :+ RequestModule).flatMap(m =>
      Seq(s"module.$m.jobs", s"module.$m.exec_s")) ++
    Seq("jobs", "stages", "tasks", "busy_share", "exec_cpu_s", "gc_s",
      "job_wait_ms", "shuffle_mb", "spill_mb").map("spark." + _) ++
    Charts.map(c => s"chart.${c}_ms") ++
    Seq("plan_ms", "queue_ms", "jobs_per_load", "scan_mb_per_load",
      "files_per_load").map("dashboard." + _) ++
    CatalogCore.Names.map(q => s"query.${q.take(3)}_s") ++
    Seq("process.peak_rss_mb", "trace.op_s", "trace.overhead_share")

  def unitOf(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") || n == "s" => "s"
    case n if n.contains("_mb") => "MB"
    case n if n.endsWith("_share") || n.endsWith("_ratio") => "ratio"
    case _ => "count"
  }

  /** Totals over a set of jobs, keyed by the metric suffix. */
  def jobTotals(jobs: Seq[Tracer#Job], wallS: Double, cores: Int)
      : Map[String, Double] = Map(
    "jobs" -> jobs.size.toDouble,
    "stages" -> jobs.map(_.stages).sum.toDouble,
    "tasks" -> jobs.map(_.tasks).sum.toDouble,
    "busy_share" -> (if (wallS <= 0) 0.0
      else jobs.map(_.runMs).sum / 1000.0 / (wallS * cores)),
    "exec_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
    "gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
    "shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1e6,
    "spill_mb" -> jobs.map(_.spillBytes).sum / 1e6)

  /** Mean of submit → first task launch over jobs that ran a task. */
  def jobWaitMs(jobs: Seq[Tracer#Job]): Double = {
    val w = jobs.filter(_.firstLaunch != Long.MaxValue)
      .map(j => (j.firstLaunch - j.submit) / 1e6)
    if (w.isEmpty) 0.0 else w.sum / w.size
  }

  /** Spark-wide and per-module numbers, averaged per operation. */
  def sparkLayers(t: Tracer, ops: Seq[Long]): Map[String, Double] = {
    val n = ops.size.toDouble
    val jobs = ops.flatMap(t.jobsUnder)
    val wall = ops.map(o => (t.span(o).end - t.span(o).start) / 1e9).sum
    val tot = jobTotals(jobs, wall, Runtime.getRuntime.availableProcessors)
    Seq("jobs", "stages", "tasks", "exec_cpu_s", "gc_s", "shuffle_mb",
      "spill_mb").map(k => s"spark.$k" -> tot(k) / n).toMap ++
      Map("spark.busy_share" -> tot("busy_share"),
        "spark.job_wait_ms" -> jobWaitMs(jobs)) ++
      Modules.flatMap { m =>
        val js = jobs.filter(_.module == m)
        Seq(s"module.$m.jobs" -> js.size / n,
          s"module.$m.exec_s" -> js.map(_.runMs).sum / 1000.0 / n)
      }
  }
}

/** Minimal JSON output. */
object Json {
  def str(s: String): String = graft.EntryKit.jsonEscape(s)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0"
    else java.math.BigDecimal.valueOf(d).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Map[String, (Double, String)]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
