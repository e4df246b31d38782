package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.IntegerType

import graft.etl.Warehouse

/** The warehouse read path: `Warehouse.read` takes the table's schema
  * from the footer of its first data file, on the driver. It must be
  * exactly the schema Spark's own inference gives — field order, types
  * and the `anio` partition column — for the live table and for both
  * mid-promote views of a swap, and building the DataFrame must run no
  * Spark job.
  */
class WarehouseReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("graft_read").toString

  private lazy val built = {
    val dir = freshDir()
    Pipeline.runAll(spark, resource("crossref"),
      resource("ups_institucional.csv"), dir)
    dir
  }

  /** `Warehouse.read`, asserting that building it ran no Spark job. */
  private def read(dir: String, table: String): DataFrame = {
    val (df, jobs) = jobsIn(Warehouse.read(spark, dir, table))
    assert(jobs === 0, s"$table: building the read ran $jobs Spark jobs")
    df
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def move(from: String, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    assert(new File(from).renameTo(new File(to)), s"rename $from -> $to")
  }

  test("every table after runAll reads with Spark's inferred schema, running no job") {
    val dir = built
    val tables = new File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_ == "export").sorted.toSeq
    assert(tables === Seq("afiliaciones", "autores", "oaa_clean",
      "obra_autor_afiliacion", "obra_tema", "obras", "obras_clean", "runs",
      "sedes_areas", "vista_analisis"))
    // the counter sees the inference job that reading without a schema runs
    assert(jobsIn(spark.read.parquet(s"$dir/obras"))._2 >= 1)
    tables.foreach { t =>
      val inferred = spark.read.parquet(s"$dir/$t")
      val df = read(dir, t)
      assert(df.schema === inferred.schema, t)
      assert(rows(df) === rows(inferred), t)
    }
    val obras = read(dir, "obras").schema
    assert(obras.last.name === "anio" && obras.last.dataType === IntegerType)
  }

  test("mid-promote whole-table stage: read takes the staged copy's schema, no job") {
    val dir = freshDir()
    Warehouse.overwriteSwap(spark, Seq((1L, "a")).toDF("id", "v"), dir, "t")
    // a committed swap that stopped between stash and promote, with the
    // new copy one column wider
    Seq((2L, "b", 7)).toDF("id", "v", "w").write.parquet(s"$dir/.t.stage/t")
    move(s"$dir/t", s"$dir/.t.aside/t")
    val df = read(dir, "t")
    assert(df.schema === spark.read.parquet(s"$dir/.t.stage/t").schema)
    assert(rows(df) === Seq("2|b|7"))
    assert(rows(Warehouse.readMerged(spark, dir, "t")) === Seq("2|b|7"))
  }

  test("mid-promote partition merge: live leaves ∪ staged leaves, one schema, no job") {
    val dir = freshDir()
    Warehouse.mergeByKey(spark,
      Seq((1L, "a", 2020), (2L, "b", 2021)).toDF("id", "v", "anio"),
      dir, "t", Seq("id"), Seq("anio"))
    // a merge touching anio=2021 and the new anio=2023, committed and
    // stopped after stashing 2021
    Seq((2L, "b2", 2021), (3L, "c", 2023)).toDF("id", "v", "anio")
      .write.partitionBy("anio").parquet(s"$dir/.t.stage/t")
    move(s"$dir/t/anio=2021", s"$dir/.t.aside/t/anio=2021")
    val df = read(dir, "t")
    assert(df.schema === spark.read.parquet(s"$dir/t").schema)
    assert(df.schema.last.name === "anio" &&
      df.schema.last.dataType === IntegerType)
    val want = Seq("1|a|2020", "2|b2|2021", "3|c|2023")
    assert(rows(df) === want)
    assert(rows(Warehouse.readMerged(spark, dir, "t")
      .select("id", "v", "anio")) === want)
  }

  test("a missing table or one with no data file fails as Spark's inference does") {
    val dir = freshDir()
    new File(s"$dir/empty").mkdirs()
    for (t <- Seq("missing", "empty")) {
      val ours = intercept[AnalysisException](Warehouse.read(spark, dir, t))
      val spark0 = intercept[AnalysisException](spark.read.parquet(s"$dir/$t"))
      assert(ours.getCondition === spark0.getCondition, t)
      assert(ours.getMessage === spark0.getMessage, t)
    }
  }
}
