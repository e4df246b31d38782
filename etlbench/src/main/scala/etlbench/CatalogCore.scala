package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

object CatalogCore {
  /** A fixed slice of q01-q47 (the graded bench's gate subset) with at
    * least one query on each engine module those queries use: core ETL
    * operators, the normalize/gram/vector/top-k expressions, text stats,
    * dedup, ANN, event streams and OLAP. All 47 take about 34 s a pass
    * on a 4-core host, more than one benchmark run can afford. */
  val Names: Seq[String] = Seq("q01_agg_sum", "q11_entity_resolution",
    "q15_text_norm", "q19_rollup_explode", "q24_lang_id",
    "q27_minhash_bands", "q30_ann_topk", "q31_events_tumbling", "q42_rollup",
    "q46_topk_udaf", "q47_norm_unicode")

  /** Input tables, relative to the checkout root. */
  val DataDir: Path = Paths.get("etlbench", "data", "catalog")
  val DigestFile: Path = Paths.get("etlbench", "catalog_digests.json")

  def recorded(): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(DigestFile), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Row count and an order-insensitive hash of the rows, with doubles
    * rounded to 6 significant digits so summation order cannot flip it. */
  def digest(df: DataFrame): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case d: Double => f"$d%.6g"
      case f: Float => f"${f.toDouble}%.6g"
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x => x.toString
    }
    val md = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    df.toLocalIterator().forEachRemaining { r =>
      n += 1
      val h = md.digest(canon(r).getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"$n:$sum%016x"
  }
}

/** `catalog_core`: q01-q47 over the bundled TPC-H-shaped tables, each with
  * `clearCache` first and the `noop` sink as the action, so final sorts
  * and computed columns are paid for. The seed fixes the query order.
  * Each query's rows are checked once against the digests recorded from
  * the seed code. */
final class CatalogCore(spark: SparkSession, seed: Long,
    record: Option[Path]) extends Main.Workload {

  private val dir = CatalogCore.DataDir.toAbsolutePath.toString
  private val order = new Random(seed).shuffle(CatalogCore.Names)
  private val runs = mutable.Map[String, Int]().withDefaultValue(0)
  private val traced = mutable.ArrayBuffer[(String, Long)]()
  private val latencies = mutable.ArrayBuffer[Main.Outcome]()

  private def query(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  private def noop(q: String): Unit = {
    spark.catalog.clearCache()
    query(q).write.format("noop").mode("overwrite").save()
  }

  private var digests: Seq[(String, String)] = Nil

  /** The untimed first pass collects every query and digests its rows;
    * the digests are checked (or recorded) at the end. */
  def warmup(): Unit =
    digests = CatalogCore.Names.map(q => q -> (try CatalogCore.digest(query(q))
      catch { case e: Exception => s"error: ${e.getMessage}" }))

  /** Resolve every input table (listing and footer schema). */
  def setup(): Unit =
    graft.Tables.testdataNames.foreach(t => graft.Tables.table(spark, dir, t).schema)

  def op(trace: Option[Main.Trace]): Main.Outcome = {
    var failed = 0
    val (_, wall, cpu) = Main.clocked(order.foreach { q =>
      runs(q) += 1
      try trace match {
        case None =>
          val (_, w, c) = Main.clocked(noop(q))
          latencies += Main.Outcome(w, c, 1, 0, 0)
        case Some(t) => traced += q -> t.tracer.call(s"query.$q", t.op)(noop(q))._2.id
      } catch {
        case e: Exception => failed += 1; e.printStackTrace()
      }
    })
    Main.Outcome(wall, cpu, order.size, order.size, failed)
  }

  /** An analyst's request is one query: its latency inside the passes
    * (already attempted and checked there). */
  def requests(seconds: Double, minCount: Int,
      trace: Option[Main.Trace]): Seq[Main.Outcome] =
    if (trace.isDefined) Nil else latencies.toSeq

  override def finish(): Int = {
    val got = digests
    record match {
      case Some(p) =>
        Files.write(p, got.map { case (q, d) => s"  ${Json.str(q)}: ${Json.str(d)}" }
          .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
        0
      case None =>
        val want = CatalogCore.recorded()
        got.map { case (q, d) =>
          if (want.get(q).contains(d)) 0
          else {
            System.err.println(s"check: $q digest $d, recorded ${want.get(q)}")
            math.max(1, runs(q))
          }
        }.sum
    }
  }

  def layers(t: Tracer, ops: Seq[Long]): Map[String, Double] =
    traced.filter(x => ops.contains(t.span(x._2).parent)).groupBy(_._1).map {
      case (q, xs) => s"query.${q.take(3)}_s" -> Main.median(xs.map {
        case (_, id) => val sp = t.span(id); (sp.end - sp.start) / 1e9 }.toSeq)
    } ++ Metrics.sparkLayers(t, ops) +
      ("warehouse.at_rest_mb" -> Disk.mb(Disk.snapshot(CatalogCore.DataDir)))
}
