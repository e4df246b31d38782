package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Catalog, Entities, FlatView, Warehouse}
import graft.ingest.Crossref

/** End-to-end orchestration of the reference pipeline (SURVEY.md §3):
  * ingest JSONL pages → UPS gate → dimensions (batch ER) → facts
  * (idempotent keyed append) → catalog integration → flat analytics view.
  * Each stage is a DataFrame plan with one write action; re-running
  * `ingest` over the same pages is a no-op (K1 semantics).
  */
object Pipeline {

  /** Ingest one batch of CrossRef JSONL page files into the warehouse.
    * `maxWorks` is the F8 ingest cap (reference MAX_WORKS, PIPE:27):
    * like the reference's arrival-order cutoff, the surviving subset is
    * arbitrary-but-capped, via `limit`.
    */
  def ingest(spark: SparkSession, pagesPath: String, dir: String,
      maxWorks: Int = 1000000): Long = {
    // a re-run after a crash first finishes (or discards) any swap the
    // dead run left, so the dimension reads below see one whole table
    Warehouse.recover(spark, dir)
    val runId = java.util.UUID.randomUUID().toString
    Warehouse.logRun(spark, dir, runId, "start", pagesPath, 0L)

    val items = Crossref.readPages(spark, pagesPath)
    val allWorks = Crossref.works(items).cache()
    // DETERMINISTIC F8 cap: a bare limit over an unordered plan picks
    // an arbitrary subset PER EVALUATION — if the cache is lost
    // between the three fact appends (executor failure), each append
    // could see a different work subset and desynchronize the
    // warehouse. doi order makes the cap a pure function of the input
    // (the reference's arrival-order cutoff doesn't exist once pages
    // are a distributed dataset — same convention as the documented
    // lexicographic merge tiebreaks).
    val gated = Crossref.upsGate(allWorks).orderBy("doi")
      .limit(maxWorks).cache()

    // Dimensions resolve over ALL scanned works — the reference upserts
    // authors/affiliations while parsing, BEFORE the work-level UPS gate
    // (PIPE:604-659 vs 662-663); only facts are gated. Authors enter the
    // dimension only with >=1 valid affiliation (`if aff_ids:` PIPE:653).
    val affRows = Crossref.authorAffiliations(allWorks).cache()
    val occ = affRows
      .select("doi", "nombreLimpio", "nombreBusqueda", "orcid",
        "autorSecuencia")
    val autoresBatch = Entities.resolveAuthors(occ)
    val afilBatch = Entities.resolveAffiliations(affRows)

    // Incremental dimension merge: existing surrogate ids are preserved,
    // new entities append after the current max (PIPE:312-359 semantics).
    // EAGER localCheckpoint, not cache: overwriteSwap below renames
    // the very files these merged plans read — a best-effort cache
    // that loses blocks would recompute against a deleted directory
    // and die mid-run after facts were partially appended. The
    // checkpoint cuts the lineage before the swap.
    val autores = (if (Warehouse.exists(spark, dir, "autores"))
      Entities.mergeAuthors(Warehouse.read(spark, dir, "autores"),
        autoresBatch)
    else autoresBatch.drop("entityKey")).localCheckpoint()
    val afiliaciones = (if (Warehouse.exists(spark, dir, "afiliaciones"))
      Entities.mergeAffiliations(Warehouse.read(spark, dir, "afiliaciones"),
        afilBatch)
    else afilBatch).localCheckpoint()

    Warehouse.overwriteSwap(spark, autores, dir, "autores")
    Warehouse.overwriteSwap(spark, afiliaciones, dir, "afiliaciones")

    // Facts — idempotent keyed appends (K1).
    val obras = gated.drop("author", "subject")
    Warehouse.idempotentAppend(spark, obras, dir, "obras", Seq("doi"),
      partitionCols = Seq("anio"))
    Warehouse.idempotentAppend(spark, Crossref.obraTema(gated), dir,
      "obra_tema", Seq("doi", "tema"))

    // Bridge at (doi, autorId, afiliacionId) grain with A6/A7 semantics:
    // distinct affiliation set per author-in-work; sequence upgrades to
    // "first" if any occurrence was first, else the min non-null seq
    // (PIPE:653-659). Occurrence→entity mapping runs over the full
    // occurrence set (same ORCID propagation as the dimension build),
    // then facts are gated to UPS works.
    val mapped = Entities.mapOccurrencesToAuthors(affRows, autores)
      .join(gated.select("doi"), Seq("doi"), "left_semi")
    val oaa = mapped
      .join(afiliaciones.select("afiliacionBusqueda", "afiliacionId"),
        Seq("afiliacionBusqueda"))
      .groupBy("doi", "autorId", "afiliacionId")
      .agg(when(min(when(col("autorSecuencia") === "first", 0).otherwise(1))
        === 0, lit("first")).otherwise(min(when(
        col("autorSecuencia") =!= "first", col("autorSecuencia"))))
        .as("autorSecuencia"))
    Warehouse.idempotentAppend(spark, oaa, dir, "obra_autor_afiliacion",
      Seq("doi", "autorId", "afiliacionId"))

    if (!Warehouse.exists(spark, dir, "sedes_areas"))
      Warehouse.overwrite(Catalog.seededSedes(spark), dir, "sedes_areas")

    val n = Warehouse.read(spark, dir, "obras").count()
    Warehouse.logRun(spark, dir, runId, "finish", pagesPath, n)
    // release this batch's pinned state: per-batch caches would
    // otherwise accumulate across ingest calls and evict each other;
    // checkpoint blocks are pinned until driver GC (BUILD_NOTES), so
    // their backing RDDs are unpersisted explicitly
    Seq(allWorks, gated, affRows).foreach(_.unpersist())
    Seq(autores, afiliaciones).foreach(
      _.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(false)))
    n
  }

  /** Catalog integration + keyword relabel (§3.2). */
  def integrateCatalog(spark: SparkSession, csvPath: String,
      dir: String): Unit = {
    Warehouse.recover(spark, dir)
    val incoming = Catalog.readCsv(spark, csvPath)
    val existing =
      if (Warehouse.exists(spark, dir, "sedes_areas"))
        Warehouse.read(spark, dir, "sedes_areas")
      else Catalog.seededSedes(spark)
    val merged = Catalog.upsertSedes(existing, incoming)
    Warehouse.overwriteSwap(spark, merged, dir, "sedes_areas")
    // K3 — catalog CSV export (PIPE:396-398)
    Warehouse.writeCsv(Warehouse.read(spark, dir, "sedes_areas")
      .orderBy("sedeId"), s"$dir/export/sedes_areas_csv")

    val afil = Warehouse.read(spark, dir, "afiliaciones")
    val relabeled = Catalog.labelAffiliations(afil,
      Warehouse.read(spark, dir, "sedes_areas"))
    Warehouse.overwriteSwap(spark, relabeled, dir, "afiliaciones")
  }

  /** Cleanup + flat view (§3.3): *_clean tables and Vista_Analisis. */
  def buildFlatView(spark: SparkSession, dir: String): DataFrame = {
    val obras = FlatView.cleanObras(Warehouse.read(spark, dir, "obras"))
    val autores = Warehouse.read(spark, dir, "autores")
      .dropDuplicates("autorId")
    val afiliaciones = Warehouse.read(spark, dir, "afiliaciones")
      .dropDuplicates("afiliacionId")
    val oaa = FlatView.enforceRi(
      Warehouse.read(spark, dir, "obra_autor_afiliacion"),
      obras, autores, afiliaciones)
    val temas = Warehouse.read(spark, dir, "obra_tema")
      .join(obras.select("doi"), Seq("doi"), "left_semi")
      .dropDuplicates("doi", "tema")
    val sedes = Warehouse.read(spark, dir, "sedes_areas")

    Warehouse.overwrite(obras, dir, "obras_clean")
    Warehouse.overwrite(oaa, dir, "oaa_clean")

    val vista = FlatView.vistaAnalisis(obras, autores, afiliaciones, oaa,
      temas, sedes)
    Warehouse.overwrite(vista, dir, "vista_analisis")
    Warehouse.read(spark, dir, "vista_analisis")
  }

  /** Full run: ingest → catalog → flat view. */
  def runAll(spark: SparkSession, pagesPath: String, csvPath: String,
      dir: String): DataFrame = {
    ingest(spark, pagesPath, dir)
    integrateCatalog(spark, csvPath, dir)
    buildFlatView(spark, dir)
  }
}
