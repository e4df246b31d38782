package etlbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

/** Warehouse-at-rest accounting from directory listings. A snapshot maps
  * each data file (hidden and `_`-prefixed marker files skipped) to its
  * size and modification time; comparing two snapshots gives what a call
  * wrote, and reading the data files directly gives each table's rows
  * without running a Spark job. */
object Disk {

  final case class F(size: Long, mtime: Long)
  type Snap = Map[String, F]

  def snapshot(root: Path): Snap =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !hidden(root.relativize(p)))
        .map(p => root.relativize(p).toString ->
          F(Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally s.close()
    }

  private def hidden(rel: Path): Boolean =
    rel.iterator().asScala.exists { n =>
      val s = n.toString
      s.startsWith(".") || s.startsWith("_")
    }

  /** Files new or changed between two snapshots. */
  def written(before: Snap, after: Snap): Snap =
    after.filter { case (k, f) => !before.get(k).contains(f) }

  def table(rel: String): String = rel.takeWhile(_ != '/')

  def mb(s: Snap): Double = s.values.map(_.size).sum / 1e6

  /** A table's row count and an order-insensitive hash of its rows. */
  final case class Contents(rows: Long, hash: Long)

  /** Contents per table, read from its data files without Spark. A row's
    * partition directory is part of what is hashed. */
  def contents(root: Path, s: Snap, conf: Configuration): Map[String, Contents] =
    s.keys.filter(_.endsWith(".parquet")).toSeq.groupBy(table).map {
      case (t, files) =>
        var rows, hash = 0L
        files.foreach { f =>
          val partition = f.substring(t.length, f.lastIndexOf('/') + 1)
          val r = ParquetReader.builder(new GroupReadSupport,
            new org.apache.hadoop.fs.Path(root.resolve(f).toString))
            .withConf(conf).build()
          try {
            var g = r.read()
            while (g != null) {
              rows += 1
              hash += MurmurHash3.stringHash(partition + g.toString)
              g = r.read()
            }
          } finally r.close()
        }
        t -> Contents(rows, hash)
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
