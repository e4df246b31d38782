package etlbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measuring window.
  *
  * `--trace 0` times operations with nothing attached and prints the
  * end-to-end metrics. `--trace 1` runs the same operations and requests
  * traced and prints the per-layer metrics, then times one more
  * operation untraced and one traced for `trace.overhead_share`.
  * The last line of standard output is the JSON result.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, recordDigests: Option[Path])

  /** What one timed operation reports: its wall time and the CPU time
    * the whole process spent meanwhile. */
  final case class Outcome(wallS: Double, cpuS: Double, items: Int,
      attempted: Int, failed: Int)

  /** A workload: an untimed setup, timed batch operations, then timed
    * interactive requests, and a final check whose failures are counted
    * against them. */
  trait Workload {
    /** Untimed first use of the code paths the operations take. */
    def warmup(): Unit
    /** Prepare inputs and state; called several times, last one kept. */
    def setup(): Unit
    /** One timed batch operation (its own untimed reset and checks
      * included; only the timed part is in `wallS`). */
    def op(trace: Option[Trace]): Outcome
    /** Interactive requests against the state the operations left, for
      * `seconds` and at least `minCount` of them. */
    def requests(seconds: Double, minCount: Int,
        trace: Option[Trace]): Seq[Outcome]
    /** Checks that need all operations done; returns failures found. */
    def finish(): Int = 0
    /** Problems found in the generated inputs themselves. */
    def inputProblems: Seq[String] = Nil
    /** Per-layer metrics from the traced operations and requests. */
    def layers(t: Tracer, ops: Seq[Long]): Map[String, Double]
    def close(): Unit = ()
  }

  /** The tracer plus the span of the operation being run. */
  final case class Trace(tracer: Tracer, op: Long)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    Files.createDirectories(a.work)
    val spark = graft.EntryKit.session(graft.EntryKit.sessionBuilder()
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        a.work.resolve("spark-warehouse").toString))
    try run(spark, a, jvmStart)
    finally spark.stop()
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath,
      m.get("--record-digests").map(Paths.get(_)))
  }

  private def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "etl_cold" => new Etl(spark, a.work, a.seed, Scale.Etl)
    case "catalog_core" => new CatalogCore(spark, a.seed, a.recordDigests)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def run(spark: SparkSession, a: Args, jvmStart: Long): Unit = {
    val w = workload(spark, a)
    // Setup is repeated and its median reported, so work moved into it
    // shows up in setup_s rather than hiding in run-to-run noise.
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    w.warmup()
    val warmS = (System.currentTimeMillis() - jvmStart) / 1000.0 - sessionS
    val setups = (0 until Scale.SetupRepeats).map(_ => timed(w.setup())._2)
    val setupS = sessionS + warmS + median(setups)
    System.err.println(f"etlbench: session $sessionS%.2fs, warm-up $warmS%.2fs, " +
      s"setups ${setups.map(x => f"$x%.2f").mkString(" ")}s")

    val (metrics, outcomes) = if (!a.trace) {
      val ops = loop(a.seconds)(w.op(None))
      val reqs = w.requests(a.seconds, 1, None)
      val walls = ops.map(_.wallS)
      System.err.println(s"etlbench: ${ops.size} operations, ${reqs.size} requests, " +
        f"${ops.map(_.items).sum / walls.sum}%.2f items/s")
      (Map(
        "setup_s" -> (setupS, "s"),
        "run_s" -> (median(walls), "s"),
        "run_cpu_s" -> (median(ops.map(_.cpuS)), "s"),
        "request_p50_ms" -> (median(reqs.map(_.wallS)) * 1000, "ms")),
        ops ++ reqs)
    } else {
      val tracer = new Tracer(spark.sparkContext)
      val root = tracer.open(s"run:${a.workload}", 0L)
      val opSpans = mutable.ArrayBuffer[Long]()
      def tracedOp(): Outcome = {
        val s = tracer.open("op", root.id)
        opSpans += s.id
        val o = w.op(Some(Trace(tracer, s.id)))
        s.end = s.start + (o.wallS * 1e9).toLong
        o
      }
      val ops = loop(a.seconds)(tracedOp())
      val measured = opSpans.toList
      val rs = tracer.open("requests", root.id)
      val reqs = w.requests(a.seconds, 1, Some(Trace(tracer, rs.id)))
      rs.end = System.nanoTime()
      // Tracing overhead: one untraced and then one traced operation,
      // both warm, after those above; neither enters the layer figures.
      val plain = tracer.detached(w.op(None))
      val probe = tracedOp()
      System.err.println(f"etlbench: warm operation ${plain.wallS}%.2fs " +
        f"untraced, ${probe.wallS}%.2fs traced")
      root.end = System.nanoTime()
      tracer.drain()
      val layers = w.layers(tracer, measured) ++ Map(
        "trace.op_s" -> median(ops.map(_.wallS)),
        "trace.overhead_share" -> (probe.wallS / plain.wallS - 1),
        "process.peak_rss_mb" -> peakRssMb())
      writeSpans(tracer, a)
      (Metrics.perLayer.map(n => n -> (layers.getOrElse(n, 0.0),
        Metrics.unitOf(n))).toMap, ops ++ reqs :+ plain :+ probe)
    }
    w.close()
    val problems = w.inputProblems
    problems.foreach(p => System.err.println(s"input check: $p"))
    val all = outcomes
    val failed = all.map(_.failed).sum + w.finish() + problems.size
    val attempted = all.map(_.attempted).sum + problems.size
    println(Json.result(failed == 0, attempted, failed, metrics))
  }

  /** Run operations until their timed walls add up to `seconds`. */
  private def loop(seconds: Double)(op: => Outcome): Seq[Outcome] = {
    val out = mutable.ArrayBuffer[Outcome]()
    val deadline = System.nanoTime() + (Scale.MaxLoopFactor * seconds * 1e9).toLong
    while (out.isEmpty ||
        (out.map(_.wallS).sum < seconds && System.nanoTime() < deadline))
      out += op
    out.toSeq
  }

  private def writeSpans(t: Tracer, a: Args): Unit = {
    val dir = a.work.getParent.resolve("trace")
    Files.createDirectories(dir)
    val f = dir.resolve(s"spans-${a.workload}-${a.seed}.jsonl")
    Files.write(f, t.spansJson().toSeq.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    System.err.println(s"spans written to $f")
  }

  def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used, on all its threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Wall and process CPU seconds of `body`. */
  def clocked[A](body: => A): (A, Double, Double) = {
    val (c, t) = (cpuS(), System.nanoTime())
    val r = body
    (r, (System.nanoTime() - t) / 1e9, cpuS() - c)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** VmHWM: the most resident memory this process has held. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
