package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.Pipeline
import graft.etl.Warehouse
import graft.query.Dashboard
import graft.sources.CrossrefFetch

/** Serves generated pages to `CrossrefFetch` in memory and writes what it
  * fetched as page files. Rate-limit and unavailable responses are
  * injected from the seed; backoff and pacing waits are added up, not
  * slept, since there is no server to be polite to. */
final class Crawler(seed: Long) {
  import Crawler.Stats

  private val Empty = """{"message":{"next-cursor":"end","items":[]}}"""
  private val DatesOnly = "from-pub-date:2022-01-01,until-pub-date:2025-11-30"
  private val Params = Map("rows" -> "500",
    "filter" -> s"$DatesOnly,has-affiliation:true",
    "select" -> "DOI,title,author,published-online,issued,subject")

  def fetch(c: Gen.Crawl, dir: Path): Stats = {
    val rnd = new Random(seed)
    var requests, retries, streak = 0
    var paced = 0.0
    val transport: CrossrefFetch.Transport = (_, params, _) => {
      requests += 1
      val cursor = params("cursor")
      val idx = if (cursor == "*") 0
        else cursor.substring(cursor.lastIndexOf('-') + 1).toInt
      if (streak < 2 && rnd.nextDouble() < 0.1) {
        streak += 1
        retries += 1
        if (rnd.nextBoolean())
          CrossrefFetch.Response(429, "rate limited", Some(rnd.nextInt(3).toDouble))
        else CrossrefFetch.Response(503, "unavailable")
      } else {
        streak = 0
        CrossrefFetch.Response(200,
          if (idx < c.pages.size) c.pages(idx) else Empty)
      }
    }
    val pages = CrossrefFetch.fetchPages(transport, "memory://crossref/works",
      Params, DatesOnly, sleep = d => paced += d)
    Disk.deleteTree(dir)
    Files.createDirectories(dir)
    val corrupt = c.corrupt.groupBy(_._1)
    pages.zipWithIndex.foreach { case (body, i) =>
      val extra = corrupt.getOrElse(i, Nil).map(_._2)
      Files.write(dir.resolve(f"page-$i%05d.jsonl"),
        (body +: extra).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    Stats(pages.size, requests, retries, paced)
  }
}

object Crawler {
  final case class Stats(pages: Int, requests: Int, retries: Int,
      pacedS: Double)
}

object Etl {
  val CatalogCsv: String =
    """SedeID,Sede,AreaAcademica,PalabrasClave
      |1,Sede Cuenca,Ciencias de la Vida,cuenca;azuay
      |2,Sede Quito,Ingenierías y Arquitectura,quito;pichincha
      |3,Sede Guayaquil,Ciencias Sociales y Humanas,guayaquil;guayas
      |4,Otra,No definida,
      |""".stripMargin

  val Tables: Seq[String] = Seq("obras", "autores", "afiliaciones",
    "obra_tema", "obra_autor_afiliacion", "sedes_areas", "obras_clean",
    "oaa_clean", "vista_analisis")
  /** The tables ingest appends to. */
  val Facts: Seq[String] = Seq("obras", "obra_tema", "obra_autor_afiliacion")

  def lines(c: Gen.Crawl): Iterator[String] =
    c.pages.iterator ++ c.corrupt.iterator.map(_._2)

  def writeCsv(work: Path): Path = {
    val p = work.resolve("catalog.csv")
    Files.write(p, CatalogCsv.getBytes(UTF_8))
    p
  }

  /** Chart rows as label → works. */
  def chart(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap

  /** Differences between a built warehouse and the recount. */
  def mismatches(spark: SparkSession, wh: Path, t: Truth.Result): Seq[String] = {
    val tables = Tables.flatMap { name =>
      val n = Warehouse.read(spark, wh.toString, name).count()
      val want = t.tables(name)
      if (n == want) None else Some(s"$name has $n rows, expected $want")
    }
    val vista = Warehouse.read(spark, wh.toString, "vista_analisis")
    val charts = Seq(
      ("works per year", chart(Dashboard.worksPerYear(vista)), t.years),
      ("works per country", chart(Dashboard.worksPerCountry(vista)), t.countries),
      ("works per area", chart(Dashboard.worksPerArea(vista)), t.areas))
      .collect { case (n, got, want) if got != want =>
        s"$n: got $got, expected $want" }
    val dois = if (tables.isEmpty) Nil else {
      val got = vista.select("doi").collect().map(_.getString(0)).toSet
      val want = t.rows.map(_.doi).toSet
      Seq(s"works only in the warehouse: ${(got -- want).take(5)}; " +
        s"only in the recount: ${(want -- got).take(5)}")
    }
    tables ++ charts ++ dois
  }

  /** Input-side checks: the recount must match the generator's design,
    * and at scale 1 the published marginals. */
  def inputProblems(c: Gen.Crawl, d: Gen.Design, t: Truth.Result,
      seed: Long): Seq[String] = {
    def cmp(what: String, got: Map[String, Long], want: Map[String, Long]) =
      if (got == want) None else Some(s"$what: recount $got, design $want")
    val g = Truth.of(lines(Gen.generate(seed, 1)._1))
    Seq(
      cmp("obras", Map("n" -> t.tables("obras")), Map("n" -> d.upsWorks)),
      cmp("years", t.years, d.years), cmp("areas", t.areas, d.areas),
      cmp("countries", t.countries, d.countries),
      cmp("scale-1 obras", Map("n" -> g.tables("obras")),
        Map("n" -> Gen.UpsWorks.toLong)),
      cmp("scale-1 years", g.years,
        Gen.YearCounts.map { case (y, n) => y.toString -> n.toLong }.toMap),
      cmp("scale-1 areas", g.areas, Map("No definida" -> 253L,
        "Ciencias de la Vida" -> 264L, "Ingenierías y Arquitectura" -> 191L,
        "Ciencias Sociales y Humanas" -> 71L)),
      cmp("scale-1 labelled countries",
        g.countries.filter(kv => Set("AR", "CA", "CN", "DE", "FR", "IT", "PE")(kv._1)),
        Map("AR" -> 7L, "CA" -> 2L, "CN" -> 13L, "DE" -> 4L, "FR" -> 3L,
          "IT" -> 8L, "PE" -> 10L)),
    ).flatten
  }
}

/** `etl_cold`: fetch the crawl and run the whole pipeline into an empty
  * warehouse. The interactive requests are a user loading the dashboard
  * over the warehouse the last run left. */
final class Etl(spark: SparkSession, work: Path, seed: Long, s: Int)
    extends Main.Workload {

  private val wh = work.resolve("warehouse")
  private val pages = work.resolve("pages")
  private val crawler = new Crawler(seed)
  private val user = new DashboardUser(spark, wh, seed)
  private var crawl: Gen.Crawl = _
  private var design: Gen.Design = _
  private var csv: Path = _
  private var truth: Truth.Result = _
  /** What each traced operation measured, by its span. */
  private val traces = mutable.Map[Long, Map[String, Double]]()

  /** Like the batch job it stands for, the operation runs in a fresh JVM
    * with nothing warmed. */
  def warmup(): Unit = csv = Etl.writeCsv(work)

  def setup(): Unit = {
    val (c, d) = Gen.generate(seed, s)
    crawl = c
    design = d
    truth = Truth.of(Etl.lines(c))
  }

  override def inputProblems: Seq[String] =
    Etl.inputProblems(crawl, design, truth, seed)

  def op(trace: Option[Main.Trace]): Main.Outcome = {
    Disk.deleteTree(wh)
    val (ok, wall, cpu) = Main.clocked(try {
      trace match {
        case None =>
          crawler.fetch(crawl, pages)
          Pipeline.runAll(spark, pages.toString, csv.toString, wh.toString)
        case Some(t) => traces(t.op) = tracedOp(t)
      }
      true
    } catch {
      case e: Exception => e.printStackTrace(); false
    })
    val problems = if (!ok) Seq("run failed") else Etl.mismatches(spark, wh, truth)
    problems.foreach(p => System.err.println(s"check: $p"))
    Main.Outcome(wall, cpu, crawl.works, 1, if (problems.isEmpty) 0 else 1)
  }

  def requests(seconds: Double, minCount: Int,
      trace: Option[Main.Trace]): Seq[Main.Outcome] = {
    user.expect(truth)
    System.gc() // the run's garbage is not the first load's cost
    user.loop(seconds, minCount, trace)
  }

  override def close(): Unit = user.close()

  /** The operation as its public calls, each in a span, with the
    * warehouse listed and its tables read between the calls (outside
    * their spans). */
  private def tracedOp(t: Main.Trace): Map[String, Double] = {
    val tr = t.tracer
    val m = mutable.Map[String, Double]()
    val (f, fs) = tr.call("Crossref.fetchPages", t.op)(crawler.fetch(crawl, pages))
    m ++= Map("fetch.s" -> (fs.end - fs.start) / 1e9,
      "fetch.requests" -> f.requests, "fetch.retries" -> f.retries,
      "fetch.pages" -> f.pages, "fetch.paced_s" -> f.pacedS)
    val conf = spark.sparkContext.hadoopConfiguration
    val calls: Seq[(String, String, () => Unit)] = Seq(
      ("ingest", "Pipeline.ingest",
        () => Pipeline.ingest(spark, pages.toString, wh.toString)),
      ("catalog", "Pipeline.integrateCatalog",
        () => Pipeline.integrateCatalog(spark, csv.toString, wh.toString)),
      ("flatview", "Pipeline.buildFlatView",
        () => Pipeline.buildFlatView(spark, wh.toString)))
    var rewritten = 0.0
    var before = Disk.snapshot(wh)
    var had = Disk.contents(wh, before, conf)
    calls.foreach { case (key, name, body) =>
      val (_, span) = tr.call(name, t.op)(body())
      val after = Disk.snapshot(wh)
      val has = Disk.contents(wh, after, conf)
      val w = Disk.written(before, after)
      m(s"$key.written_mb") = Disk.mb(w)
      m(s"$key.files_written") = w.size
      m(s"$key.span") = span.id
      // bytes rewritten into tables that held the very same rows before
      rewritten += w.groupBy(kv => Disk.table(kv._1)).collect {
        case (tb, files) if had.get(tb).exists(_.rows > 0) &&
            had.get(tb) == has.get(tb) => Disk.mb(files)
      }.sum
      if (key == "ingest") {
        def rows(c: Map[String, Disk.Contents], tb: String) =
          c.get(tb).map(_.rows).getOrElse(0L)
        val appended = Etl.Facts.map(tb => rows(has, tb) - rows(had, tb)).sum
        m("ingest.novel_ratio") =
          appended.toDouble / Etl.Facts.map(truth.tables).sum
      }
      before = after
      had = has
    }
    m("warehouse.rewritten_mb") = rewritten
    m("warehouse.at_rest_mb") = Disk.mb(before)
    m.toMap
  }

  def layers(t: Tracer, ops: Seq[Long]): Map[String, Double] = {
    val measured = ops.map(traces)
    val n = measured.size.toDouble
    val cores = Runtime.getRuntime.availableProcessors
    def mean(k: String) = measured.map(_.getOrElse(k, 0.0)).sum / n
    val perCall = Metrics.PipelineCalls.flatMap { c =>
      val spans = measured.map(m => t.span(m(s"$c.span").toLong))
      val wall = spans.map(sp => (sp.end - sp.start) / 1e9).sum
      val jobs = spans.flatMap(sp => t.jobsUnder(sp.id))
      val tot = Metrics.jobTotals(jobs, wall, cores)
      Seq(s"$c.s" -> wall / n, s"$c.jobs" -> tot("jobs") / n,
        s"$c.tasks" -> tot("tasks") / n, s"$c.busy_share" -> tot("busy_share"),
        s"$c.shuffle_mb" -> tot("shuffle_mb") / n,
        s"$c.spill_mb" -> tot("spill_mb") / n)
    }
    val keys = measured.flatMap(_.keys).distinct.filterNot(_.endsWith(".span"))
    keys.map(k => k -> mean(k)).toMap ++ perCall ++ Metrics.sparkLayers(t, ops) ++
      user.layers(t)
  }
}
