package graft

import org.apache.spark.sql.functions._

import graft.ext.Skew

/** Salting utilities: result equality with the unsalted formulation and
  * actual shard spread for the hot key.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 10k rows, 95% on key 1 — the classic hot-key shuffle
  private lazy val big = spark.range(10000)
    .select(col("id").as("row_id"),
      when(col("id") % 20 =!= 0, 1L).otherwise(col("id") % 7).as("k"),
      (col("id") * 3 % 101).as("v"))
    .cache()

  private lazy val dim = Seq(
    (0L, "zero"), (1L, "hot"), (2L, "two"), (3L, "three"),
    (4L, "four"), (5L, "five"), (6L, "six")).toDF("k", "label")

  test("saltedAgg: exact distinct count via two phases") {
    val expected = big.groupBy("k")
      .agg(count_distinct($"v").as("n_distinct"))
      .as[(Long, Long)].collect().toMap
    val got = Skew.saltedAgg(big, Seq("k"), saltFrom = col("row_id"),
      phase1 = Seq(collect_set($"v").as("vs")),
      phase2 = Seq(size(array_distinct(flatten(collect_list($"vs"))))
        .cast("long").as("n_distinct")),
      salt = 8)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }
}
