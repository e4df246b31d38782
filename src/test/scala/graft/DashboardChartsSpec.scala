package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.query.Dashboard
import graft.query.Dashboard.Filters

/** The three dashboard charts (A9–A11) order their few result rows in
  * one task instead of through `orderBy`'s range shuffle. Under every
  * filter shape of a dashboard load they must return the rows of the
  * `orderBy` form in the same order, in at most two Spark jobs per
  * chart (partial-aggregate map stage + result stage) with the read,
  * and with no range-partitioning exchange in the executed plan.
  */
class DashboardChartsSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_dash").toString
    Pipeline.runAll(spark, resource("crossref"),
      resource("ups_institucional.csv"), d)
    d
  }

  /** The filter shapes of one dashboard round: none, year window, type,
    * sede, area, year + type, sede + area, and all five. */
  private val shapes = Seq(
    Filters(),
    Filters(anioFrom = Some(2023), anioTo = Some(2024)),
    Filters(tipo = Some("journal-article")),
    Filters(sede = Some("Sede Cuenca")),
    Filters(area = Some("No definida")),
    Filters(anioFrom = Some(2023), tipo = Some("journal-article")),
    Filters(sede = Some("Otra"), area = Some("Ciencias de la Vida")),
    Filters(Some(2022), Some(2025), Some("journal-article"),
      Some("Sede Cuenca"), Some("No definida")))

  /** The charts as they were written with `orderBy`, kept here as the
    * reference for rows and order. */
  private def filtered(vista: DataFrame, f: Filters): DataFrame =
    Seq[Option[Column]](
      f.anioFrom.map(col("anio") >= _),
      f.anioTo.map(col("anio") <= _),
      f.tipo.map(col("tipo") === _),
      f.sede.map(s => array_contains(split(col("sedes"), "; "), s)),
      f.area.map(a => array_contains(split(col("areas"), "; "), a)),
    ).flatten.foldLeft(vista)((d, p) => d.filter(p))

  private def orderByForm(vista: DataFrame, f: Filters, c: String,
      key: String): DataFrame = {
    val rows =
      if (c == "anio") filtered(vista, f).filter(col("anio").isNotNull)
        .select(col("anio"))
      else filtered(vista, f).select(explode(split(col(c), "; ")).as(key))
        .filter(length(col(key)) > 0)
    rows.groupBy(key).agg(count(lit(1)).as("nObras")).orderBy(key)
  }

  private val charts
      : Seq[(String, String, String, (DataFrame, Filters) => DataFrame)] =
    Seq(("A9", "anio", "anio", Dashboard.worksPerYear),
      ("A10", "paisesCodigo", "countryCode", Dashboard.worksPerCountry),
      ("A11", "areas", "area", Dashboard.worksPerArea))

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.treeString.toLowerCase

  for ((name, source, key, chart) <- charts)
    test(s"$name: orderBy rows and order, ≤ 2 jobs, no range exchange, all filter shapes") {
      val vista = Warehouse.read(spark, dir, "vista_analisis")
      val nonEmpty = shapes.map { f =>
        val reference = orderByForm(vista, f, source, key)
        val want = reference.collect().toSeq
        assert(plan(reference).contains("rangepartitioning"))
        val ((df, got), jobs) = jobsIn {
          val df = chart(Warehouse.read(spark, dir, "vista_analisis"), f)
          (df, df.collect().toSeq)
        }
        assert(jobs <= 2, s"$name under $f ran $jobs jobs")
        assert(df.columns.toSeq === Seq(key, "nObras"))
        assert(got === want, s"$name under $f")
        assert(!plan(df).contains("rangepartitioning"), s"$name under $f")
        want.nonEmpty
      }
      // the shapes are not vacuous on the fixture
      assert(nonEmpty.count(identity) >= 6)
    }
}
