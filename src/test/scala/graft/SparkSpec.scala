package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.graft.vecDotRewrite.assumeNoNullElements", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def resource(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs `body` submits, counted through a job group. The status
    * store is fed asynchronously, so a marker job submitted after `body`
    * under its own group is awaited first: once it is visible, so is
    * every job `body` submitted before it.
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val (sc, group) = (spark.sparkContext, s"jobsIn-${java.util.UUID.randomUUID}")
    def inGroup[R](g: String)(f: => R): R = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val out = inGroup(group)(body)
    inGroup(group + "-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(group + "-marker").isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reached the status store")
      Thread.sleep(5)
    }
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Partition-less window operators in a query's physical plan —
    * subqueries included. Planned with AQE OFF: under AQE the
    * executed plan is an AdaptiveSparkPlanExec LEAF, so a tree
    * collect would see nothing and the assertion would pass
    * vacuously. The DataFrame is passed by name so its (lazy)
    * physical planning happens under the flipped conf.
    */
  def partitionlessWindows(df: => org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExecBase
          if w.partitionSpec.isEmpty => w
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }
}
