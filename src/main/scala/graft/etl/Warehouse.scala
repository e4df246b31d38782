package graft.etl

import org.apache.spark.sql.{AnalysisException, Column, DataFrame,
  DataFrameReader, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.ext.DirSwap

/** Parquet warehouse with idempotent keyed appends (reference K1:
  * `INSERT OR IGNORE`, PIPE:675-706) and full-replace writes (K2).
  *
  * K1 semantics set-at-a-time: dedup the batch on its key, anti-join
  * against the existing table, append only the novel keys — re-running
  * the same ingest is a no-op (the reference's "run 4-5×" convergence,
  * TECHDOC p.obj34, without row-at-a-time probes).
  */
object Warehouse {

  def path(dir: String, table: String): String = s"$dir/$table"

  /** Existence probe through the Hadoop FileSystem API — works for any
    * supported scheme (file://, hdfs://, s3a://), not just local paths.
    */
  def exists(spark: SparkSession, dir: String, table: String): Boolean = {
    val (fs, swap) = swapOf(spark, dir, table)
    fs.exists(swap.resolve(table))
  }

  /** The table's swap unit: `dir/.<table>.stage` / `.<table>.aside`. */
  private def swapOf(spark: SparkSession, dir: String,
      table: String): (FileSystem, DirSwap) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, new DirSwap(fs, root, table))
  }

  /** Members of `table`'s unit still staged: the whole table when its
    * stage holds data files directly, else — a partition merge — each
    * staged leaf partition directory still holding data files (a
    * promoted leaf leaves at most its empty parents behind).
    */
  private def stagedMembers(fs: FileSystem, swap: DirSwap,
      table: String): Seq[String] = {
    val staged = swap.stage(table)
    if (!fs.exists(staged)) Nil
    else if (fs.listStatus(staged).exists(isDataFile)) Seq(table)
    else partitionLeaves(fs, staged).map(rel => s"$table/$rel")
  }

  private def isDataFile(st: FileStatus): Boolean =
    st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")

  private def isPartitionDir(st: FileStatus): Boolean =
    st.isDirectory && st.getPath.getName.contains("=")

  /** Relative paths of the `k=v[/k=v…]` leaf dirs holding data files. */
  private def partitionLeaves(fs: FileSystem, base: Path): Seq[String] = {
    def walk(d: Path, rel: String): Seq[String] = {
      val kids = fs.listStatus(d).toSeq
      val sub = kids.filter(isPartitionDir).flatMap { st =>
        walk(st.getPath, (if (rel.isEmpty) "" else rel + "/") +
          st.getPath.getName)
      }
      if (rel.nonEmpty && kids.exists(isDataFile)) rel +: sub else sub
    }
    walk(base, "")
  }

  /** Writer entry: finish or discard a dead swap of `table`. */
  private def recover(spark: SparkSession, dir: String,
      table: String): Unit = {
    val (fs, swap) = swapOf(spark, dir, table)
    swap.recover(stagedMembers(fs, swap, table))
  }

  /** Finish or discard every dead swap under `dir`: run by each pipeline
    * stage before it builds plans that read the warehouse.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Debris = """\.(.+)\.(?:stage|aside)""".r
    if (fs.exists(root))
      fs.listStatus(root).toSeq.map(_.getPath.getName)
        .collect { case Debris(t) => t }.distinct
        .foreach(recover(spark, dir, _))
  }

  /** The table's data as readers see it, as the (basePath, paths) reads
    * to union: while a committed swap is mid-promote, its staged members
    * replace their live counterparts (see [[DirSwap]]). Mutates nothing.
    */
  private def sources(spark: SparkSession, dir: String,
      table: String): (FileSystem, Seq[(Path, Seq[Path])]) = {
    val (fs, swap) = swapOf(spark, dir, table)
    val staged = if (swap.committed) stagedMembers(fs, swap, table) else Nil
    val (live, stage) = (new Path(path(dir, table)), swap.stage(table))
    val reads =
      if (staged.isEmpty) Seq(live -> Seq(live))
      else if (staged == Seq(table)) Seq(stage -> Seq(stage))
      else {
        // partition merge mid-promote: live leaves not re-staged ∪ staged
        val rest = partitionLeaves(fs, live)
          .filterNot(rel => staged.contains(s"$table/$rel"))
          .map(rel => new Path(live, rel))
        (if (rest.isEmpty) Nil else Seq(live -> rest)) :+ (stage -> Seq(stage))
      }
    (fs, reads)
  }

  /** One `reader` read per [[sources]] entry, unioned by column name. */
  private def union(reads: Seq[(Path, Seq[Path])],
      reader: => DataFrameReader): DataFrame =
    reads.map { case (base, paths) =>
      reader.option("basePath", base.toString).parquet(paths.map(_.toString): _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  /** The table as readers see it (see [[sources]]), under the schema
    * from [[footerSchema]]: building the DataFrame runs no Spark job.
    */
  def read(spark: SparkSession, dir: String, table: String): DataFrame = {
    val (fs, reads) = sources(spark, dir, table)
    val schema = footerSchema(spark, fs, reads.flatMap(_._2))
    union(reads, spark.read.schema(schema))
  }

  /** The data schema Spark's own inference settles on without
    * `mergeSchema` — that of the first data file in path order — read
    * from the file's footer on the driver, with Spark's footer-to-schema
    * conversion under the session conf. Inference opens that same
    * footer inside a Spark job, a fixed cost that dominated small reads
    * such as a dashboard chart. Partition columns are not in the footer;
    * Spark still infers them from the paths. A missing path or one with
    * no data file fails as Spark's inference would.
    */
  private def footerSchema(spark: SparkSession, fs: FileSystem,
      roots: Seq[Path]): StructType = {
    roots.find(!fs.exists(_)).foreach(p => throw new AnalysisException(
      "PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString)))
    def files(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq.flatMap(st =>
      if (isDataFile(st)) Seq(st)
      else if (isPartitionDir(st)) files(st.getPath) else Nil)
    val first = roots.flatMap(files).minByOption(_.getPath.toString)
      .getOrElse(throw new AnalysisException(
        "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, fs.getConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Schema-evolution read (the reference's `_ensure_column` analog,
    * PIPE:200-205, moved to the read path): Parquet footer merge across
    * batches written under older, narrower schemas — missing columns
    * surface as nulls, no ALTER TABLE. Resolves the table like [[read]].
    */
  def readMerged(spark: SparkSession, dir: String, table: String): DataFrame =
    union(sources(spark, dir, table)._2,
      spark.read.option("mergeSchema", "true"))

  /** Write-side evolution: align a batch to `target` — missing columns
    * become typed nulls, present ones cast — so old writers can keep
    * appending after the schema widened (the other `_ensure_column`
    * direction).
    */
  def ensureColumns(df: DataFrame, target: StructType): DataFrame =
    df.select(target.fields.toSeq.map { f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)

  /** K2 — full replace. */
  def overwrite(df: DataFrame, dir: String, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(dir, table))

  /** Full replace of a table the plan also READS: stage the new table,
    * then swap it in as a one-member [[DirSwap]] unit — a lazy plan
    * reading `table` while overwriting `table` would otherwise truncate
    * its own input. A dead swap is finished or discarded first; a plan
    * that reads `table` must be built after that (see [[recover]]).
    */
  def overwriteSwap(spark: SparkSession, df: DataFrame, dir: String,
      table: String): Unit = {
    recover(spark, dir, table)
    val (_, swap) = swapOf(spark, dir, table)
    df.write.mode(SaveMode.Overwrite).parquet(swap.stage(table).toString)
    swap.commit(Seq(table))
  }

  /** K1 — keyed idempotent append. `partitionCols` (e.g. `anio` on obras)
    * lay the table out for partition pruning of the dashboard's year
    * filters — at scale the anti-join also prunes to touched partitions.
    */
  def idempotentAppend(spark: SparkSession, df: DataFrame, dir: String,
      table: String, keys: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, dir, table)
    val deduped = df.dropDuplicates(keys)
    def writer(d: DataFrame, mode: SaveMode) = {
      val w = d.write.mode(mode)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(path(dir, table))
    }
    if (!exists(spark, dir, table)) {
      writer(deduped, SaveMode.Overwrite)
    } else {
      val existing = read(spark, dir, table).select(keys.map(col): _*)
      // null-safe anti-join: dropDuplicates treats null keys as equal,
      // and the existence probe must agree — a null-rejecting equi-join
      // would classify a null-key row as novel on EVERY rerun, breaking
      // the re-run-is-a-no-op contract for exactly those rows
      val cond = keys.map(k => deduped(k) <=> existing(k))
        .reduce(_ && _)
      writer(deduped.join(existing, cond, "left_anti"), SaveMode.Append)
    }
  }

  /** MERGE-semantics keyed upsert, copy-on-write (the reference's
    * UPDATE-join + INSERT upsert, PIPE:417-428, without the full
    * recompute-and-swap): batch rows REPLACE existing rows with the same
    * key, novel keys are inserted, and only the partition directories the
    * batch touches are read, rewritten and swapped — every other
    * partition's files are left byte-identical on disk (asserted in
    * PipelineSpec). At 100 TB this is the difference between rewriting a
    * handful of `anio=` directories and rewriting the warehouse.
    *
    * Mechanics: the merged rows for the touched partitions (batch ∪
    * existing-anti-batch, partition-pruned read) are staged — fully
    * materialized BEFORE any live file moves — and the touched partition
    * directories are swapped in as ONE [[DirSwap]] unit, so readers see
    * all old or all new partitions, never a mix.
    *
    * Contract: partition values must be stable under updates (derive
    * them from the key, or include them in it) — a key that MOVED
    * partitions would leave its stale row in the old, untouched
    * partition. Un-partitioned tables degrade to a full
    * `overwriteSwap` rewrite (no finer copy-on-write unit exists).
    * Partition values must be non-null.
    */
  def mergeByKey(spark: SparkSession, batch: DataFrame, dir: String,
      table: String, keys: Seq[String],
      partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, dir, table)
    val deduped = batch.dropDuplicates(keys)
    def antiMerged(existing: DataFrame): DataFrame =
      deduped.unionByName(
        existing.join(deduped.select(keys.map(col): _*), keys, "left_anti"),
        allowMissingColumns = true)
    if (!exists(spark, dir, table)) {
      val w = deduped.write.mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(path(dir, table))
    } else if (partitionCols.isEmpty) {
      overwriteSwap(spark, antiMerged(read(spark, dir, table)), dir, table)
    } else {
      // touched partitions: the batch's distinct partition tuples. A
      // driver-side list by design — an incremental batch touches few
      // partitions; the list becomes the partition-pruning predicate on
      // the existing-side read.
      val touched = deduped.select(partitionCols.map(col): _*)
        .distinct().collect()
      if (touched.nonEmpty) {
        val pruned = read(spark, dir, table).filter(
          touched.map(r => partitionCols.zipWithIndex
            .map { case (c, i) => col(c) === lit(r.get(i)) }
            .reduce(_ && _)).reduce(_ || _))
        val (fs, swap) = swapOf(spark, dir, table)
        // stage: materializes the pruned existing read before any move
        antiMerged(pruned).write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCols: _*)
          .parquet(swap.stage(table).toString)
        swap.commit(stagedMembers(fs, swap, table))
      }
    }
  }

  /** Versioned snapshot table — the time-travel contract (Delta /
    * Iceberg style) in plain parquet: every commit writes a NEW
    * immutable `v=N` directory under `<table>@versions/`; a version is
    * COMMITTED iff Spark's `_SUCCESS` marker landed (written last), so
    * a crashed writer leaves an invisible dangling directory, never a
    * broken table — no pointer file to corrupt. Readers resolve
    * `latest` = max committed N with ONE directory listing
    * (metadata-scale), and reading any version scans only that
    * directory. Single-writer, like the other warehouse mutators.
    */
  private def versionRoot(dir: String, table: String): String =
    path(dir, table + "@versions")

  /** All version directories (committed or dangling) as
    * (version, hasSuccess) — shared by resolve/commit/vacuum so the
    * layout contract lives in one place. ONE top-level listing finds
    * the `v=N` dirs (foreign names — `v=3.tmp`, `_temporary` — are
    * skipped, not fatal), then one `_SUCCESS` existence probe per
    * version. That is O(#versions) metadata RPCs, NOT O(#data files):
    * a recursive listing would enumerate every data file of every
    * version on each resolve, which on an object store at 100 TB is
    * the expensive call, while #versions stays small by construction
    * (vacuum bounds it).
    */
  private def versionDirs(spark: SparkSession, dir: String,
      table: String): Seq[(Long, Boolean)] = {
    val root = new Path(versionRoot(dir, table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val dirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .flatMap(s =>
        s.getPath.getName.stripPrefix("v=").toLongOption
          .map(v => (v, s.getPath)))
    dirs.sortBy(_._1).map { case (v, p) =>
      (v, fs.exists(new Path(p, "_SUCCESS")))
    }
  }

  private def committedVersions(spark: SparkSession, dir: String,
      table: String): Seq[Long] =
    versionDirs(spark, dir, table).collect { case (v, true) => v }

  /** Commit `df` as the next version; returns the new version number. */
  def commitVersion(spark: SparkSession, df: DataFrame, dir: String,
      table: String): Long = {
    val all = versionDirs(spark, dir, table).map(_._1)
    val next = (all :+ 0L).max + 1
    df.write.mode(SaveMode.ErrorIfExists)
      .parquet(s"${versionRoot(dir, table)}/v=$next")
    next
  }

  def listVersions(spark: SparkSession, dir: String,
      table: String): Seq[Long] = committedVersions(spark, dir, table)

  /** Read a committed snapshot; `version = -1` resolves latest. */
  def readVersion(spark: SparkSession, dir: String, table: String,
      version: Long = -1L): DataFrame = {
    val vs = committedVersions(spark, dir, table)
    require(vs.nonEmpty, s"readVersion: no committed versions of $table")
    val v = if (version == -1L) vs.max else version
    require(vs.contains(v),
      s"readVersion: version $v of $table not committed " +
        s"(have ${vs.mkString(",")})")
    spark.read.parquet(s"${versionRoot(dir, table)}/v=$v")
  }

  /** Drop every committed snapshot except the newest `keep`, plus any
    * dangling (uncommitted) directory — metadata-scale, idempotent.
    */
  def vacuumVersions(spark: SparkSession, dir: String, table: String,
      keep: Int): Unit = {
    require(keep >= 1, "vacuumVersions: keep must be >= 1")
    val root = new Path(versionRoot(dir, table))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val live = committedVersions(spark, dir, table).takeRight(keep).toSet
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      // same foreign-name tolerance as versionDirs: a dir that doesn't
      // parse as v=<long> is not ours to delete — skip it, don't throw
      .filter(s =>
        s.getPath.getName.stripPrefix("v=").toLongOption
          .exists(v => !live.contains(v)))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Retention / TTL maintenance on a partitioned table: drop every
    * leaf partition directory whose partition VALUE sorts strictly
    * below `cutoff` (e.g. `anio < "2020"`, `day < "2024-01-01"` with
    * lexicographic-safe encodings). This is metadata-scale work —
    * directory listing + renames, zero data reads/writes, nothing
    * proportional to table bytes — which is the only acceptable cost
    * for expiring data at 100 TB (a filter-and-rewrite ages the whole
    * table through the cluster). Expired dirs are moved into a
    * `.expired-<stamp>` sibling first (one rename per partition), so a
    * crash mid-expiry never leaves a half-deleted partition visible,
    * then the stage is deleted. Returns the expired partition values.
    */
  def expirePartitions(spark: SparkSession, dir: String, table: String,
      partitionCol: String, cutoff: String): Seq[String] = {
    val base = new Path(path(dir, table))
    // resolve the FS from the path (like every other mutator here) —
    // FileSystem.get(conf) is the DEFAULT fs and throws "Wrong FS" for
    // an s3a:// table on an hdfs-default cluster
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Nil
    val prefix = s"$partitionCol="
    val expired = fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .filter { s =>
        val v = java.net.URLDecoder.decode(
          s.getPath.getName.stripPrefix(prefix), "UTF-8")
        v < cutoff
      }
    if (expired.nonEmpty) {
      val stage = new Path(base, s".expired-${System.nanoTime()}")
      fs.mkdirs(stage)
      expired.foreach { s =>
        // a silently failed rename would leave the partition live while
        // this method reports it expired — fail like overwriteSwap does
        require(fs.rename(s.getPath, new Path(stage, s.getPath.getName)),
          s"expirePartitions: rename failed for ${s.getPath}")
      }
      fs.delete(stage, true)
    }
    expired.map(s => java.net.URLDecoder.decode(
      s.getPath.getName.stripPrefix(prefix), "UTF-8")).sorted
  }

  /** K3 — CSV export with header (the reference's catalog emit,
    * PIPE:396-398). Single file, UTF-8.
    */
  def writeCsv(df: DataFrame, outPath: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(outPath)

  /** K4 — append-only audit log (Runs, PIPE:289-300,552-557,736-738):
    * event-sourced start/finish rows instead of update-in-place; run
    * params JSON-encoded via to_json (C16, PIPE:553).
    */
  def logRun(spark: SparkSession, dir: String, runId: String,
      phase: String, query: String, rowsIngested: Long): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{to_json, struct, lit, col}
    Seq((runId, phase, query, rowsIngested,
      java.time.Instant.now().toString))
      .toDF("runId", "phase", "source", "rowsIngested", "at")
      .withColumn("query", to_json(struct(col("source"),
        lit(500).as("rows"), lit("2022-01-01").as("from"),
        lit("2025-11-30").as("until"))))
      .drop("source")
      .write.mode(SaveMode.Append).parquet(path(dir, "runs"))
  }

  /** Per-key aggregate-view state: (n, s, mn, mx) over `value`. The sum
    * is decimal-exact (order-independent under any partitioning — the
    * money-sum discipline from CoreQueries) and held at decimal(38,2)
    * so the state type is CLOSED under [[mergeAggState]]: merging never
    * widens the type, so a view can absorb any number of batches.
    */
  def aggState(df: DataFrame, keys: Seq[String], value: Column): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(value.cast("decimal(18,2)")).cast("decimal(38,2)").as("s"),
      min(value).as("mn"), max(value).as("mx"))

  /** Incremental aggregate-view maintenance (insert-only deltas): fold a
    * new fact batch into the existing state WITHOUT touching base facts.
    * The batch is first reduced to per-key partials (count/sum/min/max
    * are all self-merging), then one union + re-aggregate combines
    * partials with state — the shuffle carries `|state keys| + |batch
    * keys|` rows, never the base table. At 100 TB this is the difference
    * between a view refresh proportional to the DELTA and a full
    * recompute; the result is provably identical to `aggState` over the
    * union of all batches (spec + q121's oracle recompute). Pair with
    * [[mergeByKey]] to persist the refreshed state copy-on-write.
    */
  def mergeAggState(state: DataFrame, batch: DataFrame, keys: Seq[String],
      value: Column): DataFrame =
    state.unionByName(aggState(batch, keys, value))
      .groupBy(keys.map(col): _*).agg(
        sum("n").as("n"),
        sum("s").cast("decimal(38,2)").as("s"),
        min("mn").as("mn"), max("mx").as("mx"))

  /** CDC change-log apply (latest-wins): fold an ordered stream of
    * row-level changes — upserts (`op` = "U"/"I") and deletes ("D"),
    * each stamped with a monotonically increasing sequence number (an
    * LSN / binlog position) — onto a base snapshot. Per key the change
    * with the highest `seqCol` wins; a winning delete removes the key,
    * a winning upsert replaces (or introduces) the row. Ties on the
    * sequence break deterministically by op descending ("U" > "I" >
    * "D") then by the payload — but a real change log has unique
    * sequence numbers per key, and callers should too.
    *
    * Scale shape: the change log is incremental — tiny against the
    * base — so the reduction to per-key winners shuffles only changes,
    * and both base-side probes (the anti-join that drops superseded
    * base rows) broadcast the winner keys. The 100 TB base is scanned
    * once and NEVER shuffled. Composes with [[mergeByKey]] for the
    * at-rest form (winners as the batch, copy-on-write partitions);
    * this is the pure-DataFrame kernel.
    *
    * `changes` must carry the base payload columns plus (`opCol`,
    * `seqCol`); the result has exactly the base schema.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, keys: Seq[String],
      seqCol: String = "seq", opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "applyChanges: keys must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val payload = base.columns.toSeq
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol).desc,
        struct(payload.map(col): _*).desc)
    val winners = changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val touched = winners.select(keys.map(col): _*)
    base.join(broadcast(touched), keys, "left_anti")
      .unionByName(winners.filter(col(opCol) =!= "D")
        .select(payload.map(col): _*))
  }

  /** Snapshot diff by key — the table-versioning audit primitive (what
    * changed between yesterday's warehouse and today's?): one null-safe
    * full-outer join on the key, change classification from key
    * presence + column-wise `<=>` comparison of the shared non-key
    * columns. Unchanged rows are dropped (at 100 TB the diff is the
    * small output; emitting unchanged rows would re-materialize the
    * table). Schemas must share the key columns; compared columns are
    * the non-key columns present on BOTH sides.
    */
  def tableDiff(before: DataFrame, after: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "tableDiff: keys must be non-empty")
    val shared = before.columns.toSeq.intersect(after.columns.toSeq)
      .filterNot(keys.contains)
    val b = before.select((keys ++ shared).map(col): _*)
      .withColumn("__b", lit(1))
    // keys renamed on the after side so the join can be NULL-SAFE: a
    // USING join matches with null-rejecting equality, which would
    // misreport an unchanged null-keyed row as removed + added
    val a = after.select(keys.map(c => col(c).as(s"__k_$c")) ++
      shared.map(c => col(c).as(s"__a_$c")): _*)
      .withColumn("__a", lit(1))
    val joined = b.join(a,
      keys.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _),
      "full_outer")
    val changed: Column =
      if (shared.isEmpty) lit(false)
      else shared.map(c => !(col(c) <=> col(s"__a_$c"))).reduce(_ || _)
    joined
      .withColumn("change_type",
        when(col("__b").isNull, "added")
          .when(col("__a").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(c => coalesce(col(c), col(s"__k_$c")).as(c)) :+
        col("change_type"): _*)
  }
}
