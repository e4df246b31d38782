package etlbench

import java.nio.file.Path
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.Warehouse
import graft.query.Dashboard
import graft.query.Dashboard.Filters

/** One user loading the dashboard over a freshly built warehouse, in a
  * closed loop. A load is the three charts issued at once from three
  * threads, each reading `vista_analisis` afresh, under a seeded mix of
  * filters (year range, type, sede, area). Each load's charts are
  * checked against the recount, outside its timed part. */
final class DashboardUser(spark: SparkSession, wh: Path, seed: Long) {

  private val pool = Executors.newFixedThreadPool(3)
  private var truth: Truth.Result = _
  /** Filter shapes per round of loads. */
  private val Shapes = 8

  /** Rounds of the eight filter shapes, always in this order, with
    * seeded values, so every seed loads the same mix of plans. */
  private val mix: IndexedSeq[Filters] = {
    val rnd = new Random(seed)
    val tipos = Seq("journal-article", "proceedings-article", "book-chapter")
    def year() = 2022 + rnd.nextInt(4)
    def tipo() = Some(tipos(rnd.nextInt(tipos.size)))
    def sede() = Some(Truth.SedeName(1 + rnd.nextInt(4)))
    def area() = Some(Gen.AreaName(1 + rnd.nextInt(4)))
    IndexedSeq.fill(8) { // rounds, each with its own seeded values
      val from = year()
      val to = from + rnd.nextInt(2026 - from)
      Seq(Filters(),
        Filters(anioFrom = Some(from), anioTo = Some(to)),
        Filters(tipo = tipo()),
        Filters(sede = sede()),
        Filters(area = area()),
        Filters(anioFrom = Some(from), tipo = tipo()),
        Filters(sede = sede(), area = area()),
        Filters(Some(from), Some(to), tipo(), sede(), area()))
    }.flatten
  }
  private var next = 0
  /** Traced loads: per chart (name, span id, plan seconds). */
  private val traced = mutable.ArrayBuffer[Seq[(String, Long, Double)]]()

  private val charts: Seq[(String, String, (DataFrame, Filters) => DataFrame)] =
    Seq(("year", "Dashboard.worksPerYear", Dashboard.worksPerYear),
      ("country", "Dashboard.worksPerCountry", Dashboard.worksPerCountry),
      ("area", "Dashboard.worksPerArea", Dashboard.worksPerArea))

  /** The recount the next loads are checked against. */
  def expect(t: Truth.Result): Unit = {
    truth = t
    expectedCache.clear()
  }

  /** Load repeatedly until `seconds` of load time and `minLoads` loads,
    * in whole rounds of the filter shapes and at least two of them, so
    * every run's median is taken over the same mix of first (cold) and
    * repeated plans. */
  def loop(seconds: Double, minLoads: Int,
      trace: Option[Main.Trace]): Seq[Main.Outcome] = {
    val out = mutable.ArrayBuffer[Main.Outcome]()
    while (out.size < math.max(minLoads, 2 * Shapes) ||
        out.map(_.wallS).sum < seconds || out.size % Shapes != 0)
      out += load(trace)
    out.toSeq
  }

  private def load(trace: Option[Main.Trace]): Main.Outcome = {
    val f = mix(next % mix.size)
    next += 1
    val (c0, t0) = (Main.cpuS(), System.nanoTime())
    val futures = charts.map { case (_, name, fn) =>
      pool.submit(new Callable[(Map[String, Long], Long, Double)] {
        def call() = {
          def body(plan: Boolean) = {
            val df = fn(Warehouse.read(spark, wh.toString, "vista_analisis"), f)
            val planS =
              if (plan) Main.timed(df.queryExecution.executedPlan)._2 else 0.0
            (Etl.chart(df), planS)
          }
          trace match {
            case None => val (r, _) = body(false); (r, 0L, 0.0)
            case Some(t) =>
              val ((r, planS), sp) = t.tracer.call(name, t.op)(body(true))
              (r, sp.id, planS)
          }
        }
      })
    }
    val got = try Some(futures.map(_.get())) catch {
      case e: Exception => e.printStackTrace(); None
    }
    val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, Main.cpuS() - c0)
    val ok = got.exists { g =>
      if (trace.isDefined)
        traced += charts.map(_._1).zip(g).map { case (c, (_, id, p)) => (c, id, p) }
      val right = g.map(_._1) == expected(f)
      if (!right) System.err.println(s"check: load under $f returned ${g.map(_._1)}")
      right
    }
    Main.Outcome(wall, cpu, charts.size, 1, if (ok) 0 else 1)
  }

  private val expectedCache = mutable.Map[Filters, Seq[Map[String, Long]]]()

  /** What each chart must show under `f`, from the recount. */
  private def expected(f: Filters): Seq[Map[String, Long]] =
    expectedCache.getOrElseUpdate(f, {
      val rows = truth.rows.filter(r =>
        f.anioFrom.forall(a => r.year.exists(_ >= a)) &&
          f.anioTo.forall(a => r.year.exists(_ <= a)) &&
          f.tipo.forall(t => r.tipo.contains(t)) &&
          f.sede.forall(r.sedes) && f.area.forall(r.areas))
      Seq(Truth.tally(rows.flatMap(_.year.map(_.toString))),
        Truth.tally(rows.flatMap(_.countries)), Truth.tally(rows.flatMap(_.areas)))
    })

  def close(): Unit = pool.shutdown()

  def layers(t: Tracer): Map[String, Double] = {
    val n = traced.size.toDouble
    if (n == 0) return Map.empty
    val all = traced.toSeq.flatten
    def ms(id: Long) = { val sp = t.span(id); (sp.end - sp.start) / 1e6 }
    val perChart = Metrics.Charts.map { c =>
      s"chart.${c}_ms" -> Main.median(all.filter(_._1 == c).map(x => ms(x._2)))
    }
    val chartJobs = all.map(x => t.jobsUnder(x._2))
    val jobs = chartJobs.flatten
    // time each chart's jobs waited for a first task: the queue behind
    // the sibling charts sharing the executor cores
    val queue = chartJobs.map(js => js.filter(_.firstLaunch != Long.MaxValue)
      .map(j => (j.firstLaunch - j.submit) / 1e6).sum)
    val files = Disk.snapshot(wh.resolve("vista_analisis")).keys
      .count(_.endsWith(".parquet"))
    val own = jobs.filter(_.module == Metrics.RequestModule)
    perChart.toMap ++ Map(
      s"module.${Metrics.RequestModule}.jobs" -> own.size / n,
      s"module.${Metrics.RequestModule}.exec_s" -> own.map(_.runMs).sum / 1000.0 / n,
      "dashboard.plan_ms" -> all.map(_._3 * 1000).sum / all.size,
      "dashboard.queue_ms" -> queue.sum / queue.size,
      "dashboard.jobs_per_load" -> jobs.size / n,
      "dashboard.scan_mb_per_load" -> jobs.map(_.inputBytes).sum / 1e6 / n,
      "dashboard.files_per_load" -> (files * charts.size).toDouble)
  }
}
