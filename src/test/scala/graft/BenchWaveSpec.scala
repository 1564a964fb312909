package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.state.SeenSet

/** The scaling headline's wave (`Bench.waveFetch`, timed by BenchOne) runs
  * the engine's dedup → politeness → fetch-join stages. Pin its fetch set
  * against an independent exact computation of the same wave.
  */
class BenchWaveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** (status → count, (rows, order-independent hash)) of (url, status). */
  private def summary(df: DataFrame) = {
    val st = df.groupBy(col("status")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fp = df.agg(count(lit(1)),
        sum(pmod(xxhash64(col("url"), col("status")), lit(1000000007L))))
      .head()
    (st, (fp.getLong(0), fp.getLong(1)))
  }

  test("bench wave fetch set equals first-wins → anti-join → top-64 per " +
      "host → left join to pages") {
    val (f, seen, pages) = Bench.waveInputs(spark, 20000)
    try {
      val filter = new SeenSet.Filter(bloom = false, cuckoo = false, seen)
      val (fetched, release) = Bench.waveFetch(f, seen, pages, filter)
      val got = summary(fetched.select(col("url"),
        coalesce(col("p_status"), lit(-1)).as("status")))
      release()

      val firstWins = f
        .withColumn("rn", row_number().over(Window.partitionBy(col("url"))
          .orderBy(col("depth").asc, col("rank").asc)))
        .filter(col("rn") === 1)
      val fresh = firstWins.join(seen, Seq("url"), "left_anti")
      val granted = fresh
        .withColumn("tok", row_number().over(Window.partitionBy(col("host"))
          .orderBy(col("priority").desc, col("rank").asc)))
        .filter(col("tok") <= 64)
      val want = summary(granted.select(col("url"))
        .join(pages.select(col("url"), col("status")), Seq("url"), "left")
        .select(col("url"), coalesce(col("status"), lit(-1)).as("status")))

      // every step of the wave binds on this input
      assert(fresh.count() < firstWins.count())
      assert(granted.count() < fresh.count())
      assert(want._1.keySet == Set(-1, 200, 503))
      assert(got == want)
    } finally { f.unpersist(); seen.unpersist(); pages.unpersist() }
  }

  test("waveBench times the wave and releases what it materialized") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assert(Bench.waveBench(spark, 5000, 1) > 0)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"waveBench left ${leaked.size} persisted RDDs")
  }
}
