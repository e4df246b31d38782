package etlbench

import java.text.Normalizer

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Seeded CrossRef corpus generator.
  *
  * At scale `s` the crawl holds exactly `s` times the published
  * dashboard marginals (BASELINE.md): 536 UPS works, years
  * 107/144/136/149, areas 253/264/191/71 and the country bars, plus about
  * 25 % non-UPS works that the UPS gate must reject. The seed decides
  * everything else: names, which work gets which year, area and
  * collaborator country, page order, and where the hazards go.
  *
  * Hazards injected, one for each normalizer or guard in the pipeline:
  * NFC, NFD and HTML-entity spellings of one name; several spellings of
  * one person tied together by ORCID; UPS affiliation spelling variants
  * with Cuenca/Quito/Guayaquil; duplicate DOIs in other DOI forms on
  * later pages; authorless works, affiliation-less and nameless authors;
  * invalid years ahead of valid ones; corrupt JSON lines; a 3,000-author
  * paper; one non-UPS affiliation string shared by half the corpus.
  */
object Gen {

  val PageSize = 500

  // Marginals at s = 1 (BASELINE.md, DASHPDF charts 1-3).
  val YearCounts: Seq[(Int, Int)] =
    Seq(2022 -> 107, 2023 -> 144, 2024 -> 136, 2025 -> 149)
  /** UPS works per sede class; class 4 means a UPS affiliation that names
    * no city, which lands in "No definida". */
  val SedeClassCounts: Seq[(Int, Int)] = Seq(1 -> 264, 2 -> 191, 3 -> 71, 4 -> 10)
  /** Collaborating-country bars. The labelled ones are read off the
    * dashboard; the unlabelled bars 5, 8, 16, 90, 7, 19, 2 are placed in
    * alphabetical ISO2 order on the countries left over, JP absent. */
  val CountryCounts: Seq[(String, Int)] = Seq("AR" -> 7, "BR" -> 5,
    "CA" -> 2, "CL" -> 8, "CN" -> 13, "CO" -> 16, "DE" -> 4, "ES" -> 90,
    "FR" -> 3, "GB" -> 7, "IT" -> 8, "MX" -> 19, "PE" -> 10, "US" -> 2)
  /** City works with a non-UPS Ecuadorian co-affiliation (adds "No
    * definida" without adding a country). */
  val LocalCollabWorks = 49
  val UpsWorks = 536
  val NonUpsWorks = 134

  val UpsVariants: Seq[String] = Seq(
    "Universidad Politécnica Salesiana",
    "UNIVERSIDAD POLITÉCNICA SALESIANA",
    "Universidad Polit&eacute;cnica Salesiana",
    Normalizer.normalize("Universidad Politécnica Salesiana",
      Normalizer.Form.NFD),
    "Universidad Politecnica Salesiana (UPS)")
  val CityForms: Map[Int, Seq[String]] = Map(
    1 -> Seq("Sede Cuenca", "Cuenca", "Campus El Vecino, Cuenca"),
    2 -> Seq("Sede Quito", "Quito", "Campus Sur, Quito"),
    3 -> Seq("Sede Guayaquil", "Guayaquil", "Campus Centenario, Guayaquil"),
    4 -> Seq(""))
  val Departments: Seq[String] = Seq("",
    "Grupo de Investigación en Inteligencia Artificial",
    "Departamento de Ingeniería Eléctrica", "Carrera de Biotecnología",
    "Carrera de Psicología", "Centro de Investigación en Materiales",
    "Departamento de Ciencias Ambientales",
    "Carrera de Ingeniería Mecánica", "Grupo de Investigación en Educación")
  val ForeignInstitutions: Map[String, Seq[String]] = Map(
    "AR" -> Seq("Universidad de Buenos Aires, Argentina",
      "Universidad Nacional de La Plata, Argentina"),
    "BR" -> Seq("Universidade de São Paulo, Brazil",
      "Universidade Federal do Rio de Janeiro, Brasil"),
    "CA" -> Seq("University of Toronto, Canada",
      "McGill University, Montreal, Canada"),
    "CL" -> Seq("Universidad de Chile, Santiago, Chile",
      "Pontificia Universidad Católica de Chile"),
    "CN" -> Seq("Tsinghua University, Beijing, China",
      "Zhejiang University, Hangzhou, China"),
    "CO" -> Seq("Universidad Nacional de Colombia, Bogotá, Colombia",
      "Universidad de los Andes, Colombia"),
    "DE" -> Seq("Technische Universität München, Germany",
      "University of Göttingen, Germany"),
    "ES" -> Seq("Universidad de Salamanca, Spain",
      "Universitat Politècnica de València, Spain",
      "Universidad Complutense de Madrid, Spain"),
    "FR" -> Seq("Université Paris-Saclay, France",
      "Université de Lyon, France"),
    "GB" -> Seq("University of Manchester, United Kingdom",
      "Imperial College London, United Kingdom"),
    "IT" -> Seq("Politecnico di Milano, Italy", "Università di Bologna, Italy"),
    "MX" -> Seq("Universidad Nacional Autónoma de México, Mexico",
      "Tecnológico de Monterrey, Mexico"),
    "PE" -> Seq("Pontificia Universidad Católica del Perú, Lima, Peru",
      "Universidad Nacional de Ingeniería, Lima, Peru"),
    "US" -> Seq("University of Florida, United States",
      "Purdue University, West Lafayette, United States"))
  val LocalInstitutions: Seq[String] = Seq(
    "Universidad Técnica de Ambato, Ecuador",
    "Universidad Técnica Particular de Loja, Ecuador",
    "Escuela Politécnica Nacional, Ecuador",
    "Universidad de las Fuerzas Armadas ESPE, Ecuador",
    "Yachay Tech University, Urcuquí, Ecuador")
  /** The hot key: a non-UPS string whose "cuenca" keyword relabels it to
    * the Cuenca sede. It only joins works already in that area, so it
    * moves no marginal. */
  val SharedAffiliation = "Hospital Vicente Corral Moscoso, Cuenca"
  /** English spelling the gate's Spanish target does not match. */
  val GateMiss = "Salesian Polytechnic University, Cuenca, Ecuador"

  private val Given = Seq("José", "María", "Andrés", "Ana", "Luis",
    "Verónica", "Raúl", "Sofía", "Ramón", "Inés", "Jorge", "Mónica", "Juan",
    "Lucía", "Germán", "Patricia", "Diego", "Carmen", "Iván", "Rocío",
    "Fernando", "Gabriela", "Hernán", "Paola", "Óscar", "Elena", "Martín",
    "Noemí")
  private val Family = Seq("Pérez", "González", "Rodríguez", "Sánchez",
    "Jiménez", "Muñoz", "Vásquez", "Ordóñez", "Zúñiga", "Quiñones",
    "Cárdenas", "Peña", "Álvarez", "León", "Ramírez", "Suárez", "Vélez",
    "Guzmán", "Ortíz", "Chávez", "Loja", "Tapia", "Calle", "Sigüenza",
    "Espinoza", "Morocho", "Guamán", "Tenesaca", "Pillco", "Quezada",
    "Carrión", "Zhunio", "Avilés", "Bermeo", "Crespo", "Idrovo", "Merchán",
    "Palacios", "Rivadeneira", "Salazar", "Müller", "Schmidt", "Rossi",
    "Dubois", "Wang", "Li", "Smith", "Brown", "Silva", "Santos")
  private val Words = Seq("análisis", "modelo", "sistema", "redes",
    "aprendizaje", "energía", "agua", "suelo", "educación", "salud",
    "control", "datos", "diseño", "evaluación", "impacto", "método",
    "optimización", "señales", "biomasa", "riego", "comunidad", "robótica",
    "microred", "calidad", "predicción", "andino", "sostenible")
  private val Subjects = Seq("Engineering", "Computer Science",
    "Environmental Science", "Education", "Psychology", "Medicine",
    "Agricultural and Biological Sciences", "Energy", "Social Sciences",
    "Ciencias Pol&iacute;ticas", "Ingeniería", "Biotecnología",
    "Materials Science")
  private val Types = Seq("journal-article", "journal-article",
    "journal-article", "journal-article", "proceedings-article",
    "book-chapter")
  private val Publishers = Seq("Elsevier BV", "MDPI AG", "Springer",
    "IEEE", "Editorial Abya-Yala", "Wiley", "Taylor &amp; Francis")
  private val Journals = Seq("Ingenius", "Sustainability", "Energies",
    "Revista Técnica", "Alteridad", "Universitas", "La Granja",
    "IEEE Access", "Applied Sciences")
  private val DoiPrefixes = Seq("10.17163", "10.3390", "10.1016",
    "10.1109", "10.1007")

  /** A person and the spellings the crawl has seen them under. */
  final class Person(val orcid: Option[String],
      val spellings: mutable.ArrayBuffer[(String, String)],
      val affiliations: Seq[String])

  /** One generated crawl: page bodies as served, plus corrupt lines that
    * end up in the page files (a torn write the pipeline must survive). */
  final case class Crawl(pages: Seq[String], corrupt: Seq[(Int, String)],
      works: Int)

  /** The designed marginals of a crawl, kept as the generator builds it. */
  final case class Design(years: Map[String, Long], areas: Map[String, Long],
      countries: Map[String, Long], upsWorks: Long)

  val AreaName: Map[Int, String] = Map(1 -> "Ciencias de la Vida",
    2 -> "Ingenierías y Arquitectura", 3 -> "Ciencias Sociales y Humanas",
    4 -> "No definida")

  def generate(seed: Long, s: Int): (Crawl, Design) =
    new Generator(seed, s).run()

  private final class Generator(seed: Long, s: Int) {
    private val rnd = new Random(seed)
    private val mapper = new ObjectMapper
    private val usedKeys = mutable.HashSet[String]()
    private val usedOrcids = mutable.HashSet[String]()
    private val usedDois = mutable.HashSet[String]()

    private def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    private def key(s: String) = graft.norm.Normalize.normKeyJvm(s)

    private def newOrcid(): String = {
      var o = ""
      while ({
        o = f"0000-000${rnd.nextInt(4)}-${rnd.nextInt(10000)}%04d-" +
          f"${rnd.nextInt(10000)}%04d"
        usedOrcids.contains(o)
      }) ()
      usedOrcids += o
      o
    }

    /** A spelling (given, family) whose name key no other person uses. */
    private def freshSpelling(given: String, family: String)
        : Option[(String, String)] = {
      val k = key(s"$given $family")
      if (usedKeys.contains(k)) None
      else { usedKeys += k; Some((given, family)) }
    }

    private def newPerson(orcidShare: Double, affs: Seq[String]): Person = {
      var sp: Option[(String, String)] = None
      while (sp.isEmpty) {
        val g = if (rnd.nextDouble() < 0.3) s"${pick(Given)} ${pick(Given)}"
          else pick(Given)
        sp = freshSpelling(g, s"${pick(Family)} ${pick(Family)}")
      }
      val orcid = if (rnd.nextDouble() < orcidShare) Some(newOrcid()) else None
      val p = new Person(orcid, mutable.ArrayBuffer(sp.get), affs)
      // ORCID holders are also seen under abbreviated spellings
      if (orcid.isDefined) addSpellings(p, rnd.nextInt(3))
      p
    }

    private def addSpellings(p: Person, n: Int): Unit = {
      val (g, f) = p.spellings.head
      val candidates = rnd.shuffle(Seq(
        (g.take(1) + ".", f), (g.split(' ').head, f.split(' ').head),
        (g.split(' ').head, f), (g.take(1) + ".", f.split(' ').head)))
      candidates.flatMap { case (a, b) => freshSpelling(a, b) }.take(n)
        .foreach(p.spellings += _)
    }

    private def entities(s: String): String = s.flatMap {
      case 'á' => "&aacute;"; case 'é' => "&eacute;"; case 'í' => "&iacute;"
      case 'ó' => "&oacute;"; case 'ú' => "&uacute;"; case 'ñ' => "&ntilde;"
      case 'ü' => "&#252;"; case c => c.toString
    }

    /** Same name, another encoding: NFC, NFD, HTML entities, or folded. */
    private def encode(s: String): String = rnd.nextInt(5) match {
      case 0 => Normalizer.normalize(s, Normalizer.Form.NFD)
      case 1 => entities(s)
      case _ => s
    }

    private def upsAffiliation(cls: Int): String = {
      val dept = pick(Departments)
      val city = pick(CityForms(cls))
      val country = if (rnd.nextBoolean()) "Ecuador" else ""
      Seq(dept, pick(UpsVariants), city, country).filter(_.nonEmpty)
        .mkString(", ")
    }

    // Person pools. UPS researchers belong to one sede class and keep
    // one or two affiliation strings of that class.
    private val upsPool: Map[Int, IndexedSeq[Person]] =
      SedeClassCounts.map { case (cls, n) =>
        val size = math.max(3, (n * s * 0.6).toInt)
        cls -> (0 until size).map { _ =>
          val affs = Seq.fill(1 + rnd.nextInt(2))(upsAffiliation(cls)).distinct
          newPerson(0.6, affs)
        }
      }.toMap
    private val foreignPool: Map[String, IndexedSeq[Person]] =
      ForeignInstitutions.map { case (cc, insts) =>
        cc -> (0 until math.max(2, 3 * s)).map(_ =>
          newPerson(0.3, Seq(pick(insts))))
      }
    private val localPool = (0 until math.max(3, 5 * s)).map(_ =>
      newPerson(0.2, Seq(pick(LocalInstitutions))))
    private val hospitalPool = (0 until math.max(4, 20 * s)).map(_ =>
      newPerson(0.1, Seq(SharedAffiliation)))
    private val gateMissPool = (0 until math.max(2, s)).map(_ =>
      newPerson(0.0, Seq(GateMiss)))

    private def authorNode(p: Person, seq: String,
        affs: Seq[String]): ObjectNode = {
      val a = mapper.createObjectNode()
      val (g, f) = pick(p.spellings.toSeq)
      if (rnd.nextDouble() < 0.1) a.put("name", encode(s"$g $f"))
      else { a.put("given", encode(g)); a.put("family", encode(f)) }
      p.orcid.foreach { o =>
        a.put("ORCID", if (rnd.nextBoolean()) s"https://orcid.org/$o"
          else if (rnd.nextBoolean()) s"http://orcid.org/$o" else o)
      }
      a.put("sequence", seq)
      val arr = a.putArray("affiliation")
      affs.foreach(n => arr.addObject().put("name", n))
      a
    }

    private def newDoi(): String = {
      var d = ""
      while ({
        d = s"${pick(DoiPrefixes)}/ups.${rnd.nextInt(100000)}." +
          rnd.alphanumeric.take(4).mkString.toLowerCase
        usedDois.contains(d)
      }) ()
      usedDois += d
      d
    }

    private def dateNode(year: Int): Seq[(String, ArrayNode)] = {
      def parts(y: Int) = {
        val outer = mapper.createArrayNode()
        val in = outer.addArray().add(y)
        if (rnd.nextDouble() < 0.8) in.add(1 + rnd.nextInt(12))
        if (rnd.nextDouble() < 0.6) in.add(1 + rnd.nextInt(28))
        outer
      }
      val keys = Seq("published-online", "published-print", "issued")
      val k = rnd.nextInt(keys.size)
      // an out-of-range year on a higher-priority key must be skipped
      val invalid = if (k > 0 && rnd.nextDouble() < 0.05)
        Seq(keys(0) -> parts(if (rnd.nextBoolean()) 0 else 3024)) else Nil
      // "created" ranks last: a different year there must not win
      val created = Seq("created" -> parts(year - rnd.nextInt(2)))
      invalid ++ Seq(keys(k) -> parts(year)) ++ created
    }

    private def workNode(doi: String, year: Int,
        authors: Option[Seq[ObjectNode]]): ObjectNode = {
      val w = mapper.createObjectNode()
      w.put("DOI", doi)
      w.putArray("title").add(
        Seq.fill(3 + rnd.nextInt(5))(pick(Words)).mkString(" ").capitalize)
      w.putArray("container-title").add(pick(Journals))
      w.put("publisher", pick(Publishers))
      w.put("type", pick(Types))
      w.put("is-referenced-by-count", rnd.nextInt(60))
      w.put("reference-count", rnd.nextInt(80))
      val subj = w.putArray("subject")
      rnd.shuffle(Subjects).take(rnd.nextInt(4)).foreach(subj.add)
      dateNode(year).foreach { case (k, parts) =>
        w.putObject(k).set[ObjectNode]("date-parts", parts)
      }
      authors.foreach { as =>
        val arr = w.putArray("author")
        as.foreach(arr.add)
      }
      w
    }

    private def sample[A](pool: IndexedSeq[A], n: Int): Seq[A] =
      rnd.shuffle(pool.indices.toList).take(n).map(pool)

    /** A UPS work of sede class `cls` with an optional collaborator. */
    private def upsWork(year: Int, cls: Int, collab: Option[String],
        width: Int = 0): ObjectNode = {
      val ups = sample(upsPool(cls), 1 + rnd.nextInt(3))
      val nodes = mutable.ArrayBuffer[ObjectNode]()
      ups.zipWithIndex.foreach { case (p, i) =>
        nodes += authorNode(p, if (i == 0) "first" else "additional",
          if (rnd.nextDouble() < 0.2) p.affiliations else Seq(pick(p.affiliations)))
      }
      collab.foreach { c =>
        val p = if (c == "EC") pick(localPool) else pick(foreignPool(c))
        nodes += authorNode(p, "additional", p.affiliations)
      }
      if (cls == 1) {
        val p = pick(hospitalPool)
        nodes += authorNode(p, "additional", p.affiliations)
      }
      if (rnd.nextDouble() < 0.05) // an author who lists no affiliation
        nodes += authorNode(pick(localPool), "additional", Nil)
      if (rnd.nextDouble() < 0.02) { // a nameless author is dropped
        val a = mapper.createObjectNode()
        a.put("sequence", "additional")
        a.putArray("affiliation").addObject().put("name", upsAffiliation(cls))
        nodes += a
      }
      // the wide collaboration paper: everyone shares the lead's string
      val shared = ups.head.affiliations.head
      (1 until width).foreach { _ =>
        nodes += authorNode(newPerson(0.5, Seq(shared)), "additional",
          Seq(shared))
      }
      workNode(newDoi(), year, Some(nodes.toSeq))
    }

    private def nonUpsWork(withHospital: Boolean): ObjectNode = {
      val year = 2022 + rnd.nextInt(4)
      if (rnd.nextDouble() < 0.08)
        return workNode(newDoi(), year,
          if (rnd.nextBoolean()) None else Some(Nil))
      val nodes = mutable.ArrayBuffer[ObjectNode]()
      (0 until 1 + rnd.nextInt(3)).foreach { i =>
        val p = rnd.nextInt(3) match {
          case 0 => pick(localPool)
          case 1 => pick(gateMissPool)
          case _ => pick(foreignPool(pick(CountryCounts)._1))
        }
        nodes += authorNode(p, if (i == 0) "first" else "additional",
          p.affiliations)
      }
      if (withHospital) {
        val p = pick(hospitalPool)
        nodes += authorNode(p, "additional", p.affiliations)
      }
      workNode(newDoi(), year, Some(nodes.toSeq))
    }

    private def expand[A](xs: Seq[(A, Int)], mult: Int): Seq[A] =
      xs.flatMap { case (a, n) => Seq.fill(n * mult)(a) }

    private def tally(xs: Iterable[String]): Map[String, Long] =
      xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

    /** The crawl: exact multiples of the published marginals. */
    private def works(): (Seq[ObjectNode], Design) = {
      val years = rnd.shuffle(expand(YearCounts, s))
      val classes = rnd.shuffle(expand(SedeClassCounts, s))
      val cityIdx = classes.indices.filter(classes(_) != 4)
      val collabs = expand(CountryCounts, s) ++
        Seq.fill(LocalCollabWorks * s)("EC")
      val collabAt = rnd.shuffle(cityIdx).zip(collabs).toMap
      val wide = classes.indexOf(2)
      val ups = classes.indices.map { i =>
        upsWork(years(i), classes(i), collabAt.get(i),
          if (i == wide) 3000 else 0)
      }
      val total = (UpsWorks + NonUpsWorks) * s
      val hospitalNonUps = total / 2 - SedeClassCounts.head._2 * s
      val non = (0 until NonUpsWorks * s).map(i => nonUpsWork(i < hospitalNonUps))
      val areas = classes.indices.flatMap { i =>
        (Seq(classes(i)) ++ collabAt.get(i).map(_ => 4)).distinct
          .map(AreaName)
      }
      val design = Design(tally(years.map(_.toString)), tally(areas),
        tally(classes.indices.flatMap(i => Seq("EC") ++
          collabAt.get(i).filter(_ != "EC"))), ups.size.toLong)
      (ups ++ non, design)
    }

    /** Shuffle into 500-work pages; ~2 % reappear on a later page under
      * another DOI spelling; every fifth page file gets corrupt lines. */
    private def paginate(works: Seq[ObjectNode]): Crawl = {
      val order = mutable.ArrayBuffer.from(rnd.shuffle(works))
      val dups = rnd.shuffle(works.indices.toList)
        .take(math.max(1, works.size / 50))
      dups.foreach { i =>
        val copy = works(i).deepCopy()
        val doi = copy.get("DOI").asText()
        copy.put("DOI", rnd.nextInt(3) match {
          case 0 => s"https://doi.org/$doi"
          case 1 => s"doi:${doi.toUpperCase}"
          case _ => s"  https://dx.doi.org/$doi "
        })
        val pos = order.indexWhere(_ eq works(i))
        val at = math.min(order.size, pos + PageSize + rnd.nextInt(PageSize))
        order.insert(at, copy)
      }
      val grouped = order.grouped(PageSize).toSeq
      val pages = grouped.zipWithIndex.map { case (items, i) =>
        val env = mapper.createObjectNode()
        val msg = env.putObject("message")
        msg.put("next-cursor", s"c$seed-${i + 1}")
        val arr = msg.putArray("items")
        items.foreach(arr.add)
        mapper.writeValueAsString(env)
      }
      val corrupt = pages.indices.filter(_ % 5 == 0).flatMap(i => Seq(
        i -> "{\"message\": {\"next-cursor\": \"x\", \"items\": [{\"DOI\": \"10.9",
        i -> "<html><body>502 Bad Gateway</body></html>"))
      Crawl(pages, corrupt, works.size)
    }

    def run(): (Crawl, Design) = {
      val (ws, design) = works()
      (paginate(ws), design)
    }
  }
}
