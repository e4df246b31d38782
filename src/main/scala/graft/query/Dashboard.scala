package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Superset dashboard's aggregation queries over `Vista_Analisis`
  * (reference DASHPDF charts 1-3; SURVEY.md A9-A11), with the dashboard's
  * filter surface (time window, type, area, sede — TECHDOC §2.4) as
  * optional predicates that Catalyst pushes into the scan.
  */
object Dashboard {

  case class Filters(
      anioFrom: Option[Int] = None,
      anioTo: Option[Int] = None,
      tipo: Option[String] = None,
      sede: Option[String] = None,
      area: Option[String] = None)

  private def applyFilters(vista: DataFrame, f: Filters): DataFrame = {
    val preds: Seq[Column] = Seq(
      f.anioFrom.map(col("anio") >= _),
      f.anioTo.map(col("anio") <= _),
      f.tipo.map(col("tipo") === _),
      // multi-valued "; "-joined columns: membership test on the split
      f.sede.map(s => array_contains(split(col("sedes"), "; "), s)),
      f.area.map(a => array_contains(split(col("areas"), "; "), a)),
    ).flatten
    preds.foldLeft(vista)((d, p) => d.filter(p))
  }

  /** A chart's rows in `key` order. The partial aggregate stays
    * parallel; the final aggregate and the sort run in one task — a
    * chart is a handful of rows — so ordering needs no range shuffle
    * (`orderBy` adds a sample job and an exchange stage per chart).
    */
  private def sorted(key: String)(counts: DataFrame): DataFrame =
    counts.coalesce(1).sortWithinPartitions(key)

  /** A9 — works per year (DASHPDF chart 1). */
  def worksPerYear(vista: DataFrame, f: Filters = Filters()): DataFrame =
    applyFilters(vista, f)
      .filter(col("anio").isNotNull)
      .groupBy("anio").agg(count(lit(1)).as("nObras"))
      .transform(sorted("anio"))

  private def explodeMulti(vista: DataFrame, c: String, as: String) =
    vista.select(explode(split(col(c), "; ")).as(as))
      .filter(length(col(as)) > 0)

  /** A10 — works per collaborating country: a work counts once per
    * distinct country code in its multi-valued `paisesCodigo`
    * (DASHPDF chart 2).
    */
  def worksPerCountry(vista: DataFrame, f: Filters = Filters()): DataFrame =
    explodeMulti(applyFilters(vista, f), "paisesCodigo", "countryCode")
      .groupBy("countryCode").agg(count(lit(1)).as("nObras"))
      .transform(sorted("countryCode"))

  /** A11 — works per knowledge area (DASHPDF chart 3; sums exceed total
    * works because a work counts once per area).
    */
  def worksPerArea(vista: DataFrame, f: Filters = Filters()): DataFrame =
    explodeMulti(applyFilters(vista, f), "areas", "area")
      .groupBy("area").agg(count(lit(1)).as("nObras"))
      .transform(sorted("area"))
}
