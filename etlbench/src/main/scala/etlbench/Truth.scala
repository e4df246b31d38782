package etlbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.norm.Normalize

/** A direct recount of what the warehouse must hold after ingesting a set
  * of page lines, written as plain single-threaded code over the JSON. It
  * states the pipeline's documented rules once more (gate, entity keys,
  * relabelling, country detection) without sharing any of its plans, so
  * agreement between the two is evidence that both are right.
  */
object Truth {

  /** One UPS work as the dashboard sees it. */
  final case class Row(doi: String, year: Option[Int], tipo: Option[String],
      sedes: Set[String], areas: Set[String], countries: Set[String])

  final case class Result(tables: Map[String, Long], rows: Seq[Row]) {
    def years: Map[String, Long] = tally(rows.flatMap(_.year.map(_.toString)))
    def areas: Map[String, Long] = tally(rows.flatMap(_.areas))
    def countries: Map[String, Long] = tally(rows.flatMap(_.countries))
  }

  def tally(xs: Iterable[String]): Map[String, Long] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  val SedeName: Map[Int, String] = Map(1 -> "Sede Cuenca", 2 -> "Sede Quito",
    3 -> "Sede Guayaquil", 4 -> "Otra")
  private val Keywords = Seq((1, 0, "cuenca"), (1, 1, "azuay"),
    (2, 0, "quito"), (2, 1, "pichincha"), (3, 0, "guayaquil"),
    (3, 1, "guayas"))
  private val CountryRes = Normalize.countryPatterns.map { case (p, c, _) =>
    (s"(?U)\\b($p)\\b".r.unanchored, c) }
  private val DatePriority =
    Seq("published-online", "published-print", "issued", "created")

  private def isUps(k: String) = k.contains(Normalize.UpsTargetNorm)

  /** Catalog relabel (keyword match wins) over ingest classification. */
  def sedeOf(k: String): Int = {
    val kw = Keywords.filter(x => k.contains(x._3))
    if (kw.nonEmpty) kw.maxBy(x => x._1 * 1000 + x._2)._1
    else if (!isUps(k)) 4
    else if (k.contains("cuenca")) 1
    else if (k.contains("quito")) 2
    else if (k.contains("guayaquil")) 3
    else 4
  }

  def countryOf(k: String): Option[String] =
    CountryRes.collectFirst { case (re, c) if re.matches(k) => c }
      .orElse(if (isUps(k)) Some("EC") else None)

  private def text(n: JsonNode): Option[String] =
    Option(n).filter(_.isTextual).map(_.asText())

  private def doiOf(raw: String): String = {
    val t = raw.replaceAll("(?U)^\\s+|(?U)\\s+$", "")
    Normalize.unescapeHtml(t)
      .replaceAll("(?i)^(https?://(dx\\.)?doi\\.org/|doi:\\s*)", "")
      .replaceAll("(?U)^\\s+|(?U)\\s+$", "").toLowerCase
  }

  private def yearOf(item: JsonNode): Option[Int] =
    DatePriority.iterator.map { k =>
      val y = item.path(k).path("date-parts").path(0).path(0)
      if (y.isInt && y.asInt >= 1600 && y.asInt <= 2100) Some(y.asInt) else None
    }.collectFirst { case Some(y) => y }

  private def nameOf(a: JsonNode): String = {
    def f(k: String) = text(a.get(k)).getOrElse("")
    val joined = (f("given") + " " + f("family")).dropWhile(_ == ' ')
      .reverse.dropWhile(_ == ' ').reverse
    Normalize.normNfcJvm(if (joined.nonEmpty) joined
      else text(a.get("name")).orNull)
  }

  private def orcidOf(a: JsonNode): Option[String] =
    text(a.get("ORCID")).map(_.replaceAll("^https?://orcid\\.org/", "")
      .replaceAll("(?U)^\\s+|(?U)\\s+$", "")).filter(_.nonEmpty)

  /** An author occurrence: name key, ORCID, normalized affiliation keys. */
  private final case class Occ(name: String, orcid: Option[String],
      affs: Seq[String])

  /** Recount from page-file lines (unparseable lines are skipped, as the
    * permissive JSON scan turns them into null rows). */
  def of(lines: Iterator[String]): Result = {
    val mapper = new ObjectMapper
    val works = mutable.LinkedHashMap[String, JsonNode]()
    lines.foreach { line =>
      val env = try Some(mapper.readTree(line)) catch { case _: Exception => None }
      env.foreach(_.path("message").path("items").elements().asScala.foreach {
        item =>
          text(item.get("DOI")).map(doiOf).filter(_.nonEmpty)
            .foreach(d => works.getOrElseUpdate(d, item))
      })
    }
    val occs: Map[String, Seq[Occ]] = works.map { case (doi, item) =>
      doi -> item.path("author").elements().asScala.toSeq.flatMap { a =>
        val name = Normalize.normKeyJvm(nameOf(a))
        val affs = a.path("affiliation").elements().asScala.toSeq
          .flatMap(x => text(x.get("name"))).map(Normalize.normKeyJvm)
          .filter(_.nonEmpty).distinct
        if (name.isEmpty) None else Some(Occ(name, orcidOf(a), affs))
      }
    }.toMap
    val withAff = occs.values.flatten.filter(_.affs.nonEmpty)
    val orcidOfName: Map[String, Option[String]] = withAff.groupBy(_.name)
      .map { case (n, os) => n -> os.flatMap(_.orcid).minOption }
    def entity(name: String) = orcidOfName(name).getOrElse(name)
    val gated = works.keys.filter(d => occs(d).exists(_.affs.exists(isUps)))
      .toSeq
    val oaa = gated.flatMap(d => occs(d).flatMap(o =>
      o.affs.map(a => (d, entity(o.name), a)))).distinct
    val temas = gated.flatMap { d =>
      works(d).path("subject").elements().asScala.flatMap(x => text(x))
        .map(Normalize.normNfcJvm).filter(_.nonEmpty).map(d -> _)
    }.distinct
    val rows = gated.map { d =>
      val affs = occs(d).flatMap(_.affs).distinct
      val sedes = affs.map(sedeOf)
      Row(d, yearOf(works(d)), text(works(d).get("type")),
        sedes.map(SedeName).toSet, sedes.map(Gen.AreaName).toSet,
        affs.flatMap(countryOf).toSet)
    }
    val tables = Map(
      "obras" -> gated.size.toLong,
      "autores" -> withAff.map(o => entity(o.name)).toSet.size.toLong,
      "afiliaciones" -> withAff.flatMap(_.affs).toSet.size.toLong,
      "obra_tema" -> temas.size.toLong,
      "obra_autor_afiliacion" -> oaa.size.toLong,
      "sedes_areas" -> 4L,
      "obras_clean" -> gated.size.toLong,
      "oaa_clean" -> oaa.size.toLong,
      "vista_analisis" -> gated.size.toLong)
    Result(tables, rows)
  }
}
