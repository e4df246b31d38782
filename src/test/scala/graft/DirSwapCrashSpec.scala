package graft

import java.net.URI

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Warehouse
import graft.ext.{Index, Layout}

/** Local filesystem under the `crashfs:` scheme that can simulate a
  * process death inside a directory swap. Counting starts when a unit's
  * aside root (`….aside`) is created — the swap's commit point — and
  * stops when the swap drops its stage root (`….stage`), so crash point
  * k is the on-disk state after exactly k of the swap's own mutations.
  * After the crash every further mutation fails too (a dead process
  * mutates nothing), so in-process rollback cannot run.
  */
class CrashFs extends RawLocalFileSystem {
  override def getUri: URI = CrashFs.uri
  override def getScheme: String = "crashfs"
  override def mkdirs(p: Path): Boolean =
    CrashFs.mutate(mkdir = true, p, !exists(p))(super.mkdirs(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean =
    CrashFs.mutate(mkdir = true, p, !exists(p))(super.mkdirs(p, perm))
  override def rename(src: Path, dst: Path): Boolean =
    CrashFs.mutate(mkdir = false, src, effective = true)(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    CrashFs.mutate(mkdir = false, p, exists(p)) {
      val r = super.delete(p, recursive)
      if (p.getName.endsWith(".stage")) CrashFs.swapDone()
      r
    }
}

object CrashFs {
  val uri: URI = URI.create("crashfs:///")
  final class Crash extends Error("simulated process death")

  private var crashAt = -1      // mutations allowed after the commit point
  private var seen = -1         // -1 = commit point not reached yet
  private var dead = false
  private val depth = new ThreadLocal[Int] { override def initialValue = 0 }

  def arm(k: Int): Unit = synchronized { crashAt = k; seen = -1; dead = false }
  def disarm(): Boolean = synchronized {
    val crashed = dead
    crashAt = -1; seen = -1; dead = false
    crashed
  }
  private[graft] def swapDone(): Unit = synchronized {
    if (seen >= 0) { crashAt = -1; seen = -1 }
  }

  def mutate[T](mkdir: Boolean, p: Path, effective: Boolean)(body: => T): T = {
    if (depth.get == 0 && effective) synchronized {
      if (dead) throw new Crash
      if (crashAt >= 0 && seen < 0 && mkdir && p.getName.endsWith(".aside"))
        seen = 0
      if (seen >= 0) {
        if (seen == crashAt) { dead = true; throw new Crash }
        seen += 1
      }
    }
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}

/** Every crash point of the one at-rest swap ([[graft.ext.DirSwap]]),
  * for every caller: a one-member unit (`overwriteSwap`), a partition
  * merge touching an existing and a new partition, the segmented
  * index's postings + manifest, and the zone sidecar; plus the
  * schema-evolution read (`readMerged`) over both warehouse swaps. At
  * each point a reader sees all-old or all-new, never a missing path,
  * and mutates nothing; the next writer converges to what it would
  * have produced after the old or the new state, with no swap debris
  * left behind.
  */
class DirSwapCrashSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.crashfs.impl", classOf[CrashFs].getName)

  private case class Row(name: String, setup: String => Unit,
      op: String => Unit, view: String => Seq[String],
      next: String => Unit)

  private def freshDir(): String =
    "crashfs://" + java.nio.file.Files.createTempDirectory("dirswap")

  private def local(dir: String) = new java.io.File(new URI(dir).getPath)

  private def listing(dir: String): Seq[String] = {
    val root = local(dir).toPath
    val s = java.nio.file.Files.walk(root)
    try s.toArray.map(p => root.relativize(p.asInstanceOf[java.nio.file.Path])
      .toString).toSeq.sorted
    finally s.close()
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def whView(dir: String): Seq[String] = {
    assert(Warehouse.exists(spark, dir, "t"), "live table missing")
    rows(Warehouse.read(spark, dir, "t").select("id", "v", "p"))
  }

  /** The schema-evolution read through the same resolution. */
  private def mergedView(dir: String): Seq[String] =
    rows(Warehouse.readMerged(spark, dir, "t").select("id", "v", "p"))

  private def facts(r: Seq[(Long, String, Int)]) = r.toDF("id", "v", "p")

  private val overwriteRow = Row("overwriteSwap (1 member)",
    dir => Warehouse.overwriteSwap(spark,
      facts(Seq((1L, "a", 0), (2L, "b", 0))), dir, "t"),
    dir => Warehouse.overwriteSwap(spark,
      facts(Seq((1L, "a2", 0), (3L, "c", 0))), dir, "t"),
    whView,
    dir => Warehouse.idempotentAppend(spark,
      facts(Seq((4L, "d", 0))), dir, "t", Seq("id")))

  private val mergeRow = Row("mergeByKey (existing + new partition)",
    dir => Warehouse.mergeByKey(spark,
      facts(Seq((1L, "a", 2020), (2L, "b", 2021), (3L, "c", 2022))),
      dir, "t", Seq("id"), Seq("p")),
    dir => Warehouse.mergeByKey(spark,
      facts(Seq((1L, "a2", 2020), (4L, "d", 2023))),
      dir, "t", Seq("id"), Seq("p")),
    whView,
    dir => Warehouse.mergeByKey(spark,
      facts(Seq((2L, "b2", 2021), (5L, "e", 2023))),
      dir, "t", Seq("id"), Seq("p")))

  private def idx(dir: String) = s"$dir/idx"
  private val compactRow = Row("compactSegments (postings + docs)",
    dir => {
      Index.writeSegment(Seq((1L, "join hash join"), (2L, "hash scan"))
        .toDF("doc_id", "text"), "doc_id", "text", idx(dir), seg = 0)
      Index.writeSegment(Seq((1L, "scan scan")).toDF("doc_id", "text"),
        "doc_id", "text", idx(dir), seg = 1)
    },
    dir => Index.compactSegments(spark, idx(dir)),
    dir => rows(Index.termLookupSegments(spark, idx(dir),
      Seq("join", "hash", "scan", "filter"), k = 5)),
    dir => Index.writeSegment(Seq((3L, "join filter")).toDF("doc_id", "text"),
      "doc_id", "text", idx(dir), seg = 2))

  private def zones(dir: String) = s"$dir/z"
  private def zoneBatch(lo: Long, hi: Long) =
    (lo to hi).map(i => (i, i * 5L)).toDF("id", "x")
  private val zoneRow = Row("zone sidecar (zoneAppend)",
    dir => Layout.zoneWrite(zoneBatch(1L, 80L), "x", 4, zones(dir)),
    dir => Layout.zoneAppend(zoneBatch(81L, 90L), "x", 1, zones(dir)),
    dir => {
      assert(Layout.zoneFiles(spark, zones(dir), lit(0L), lit(100000L))
        .nonEmpty)
      rows(Layout.zoneRead(spark, zones(dir), "x", lit(0L), lit(100000L)))
    },
    dir => {
      Layout.zoneAppend(zoneBatch(91L, 95L), "x", 1, zones(dir))
      // the directory itself holds no unreferenced part files either
      val n = spark.read.parquet(zones(dir)).count()
      val sidecar = spark.read.parquet(zones(dir) + ".zones")
        .agg(sum("rows")).collect().head.getLong(0)
      assert(n === sidecar)
    })

  private val mergedRows = Seq(overwriteRow, mergeRow).map(r =>
    r.copy(name = s"readMerged over ${r.name}", view = mergedView))

  for (row <- Seq(overwriteRow, mergeRow, compactRow, zoneRow) ++ mergedRows)
    test(s"every crash point of the swap: ${row.name}") {
      def run(steps: (String => Unit)*): Seq[String] = {
        val dir = freshDir()
        steps.foreach(_(dir))
        row.view(dir)
      }
      val oldView = run(row.setup)
      val newView = run(row.setup, row.op)
      val afterOld = run(row.setup, row.next)
      val afterNew = run(row.setup, row.op, row.next)
      var k = 0
      var crashed = true
      while (crashed) {
        val dir = freshDir()
        row.setup(dir)
        CrashFs.arm(k)
        try row.op(dir)
        catch { case _: CrashFs.Crash => }
        crashed = CrashFs.disarm()
        if (crashed) {
          val before = listing(dir)
          val seen = row.view(dir)
          assert(listing(dir) === before, s"crash point $k: reader mutated")
          val rolledBack = seen == oldView && oldView != newView
          assert(seen == oldView || seen == newView,
            s"crash point $k: torn view $seen")
          row.next(dir)
          assert(row.view(dir) ===
            (if (rolledBack) afterOld else afterNew), s"crash point $k")
          assert(!listing(dir).exists(f =>
            f.endsWith(".stage") || f.endsWith(".aside")),
            s"crash point $k: swap debris left")
        }
        k += 1
      }
      // at least: before commit, after commit, after stash, after promote
      assert(k > 4)
    }
}
