package graft

import graft.sources.BucketedStore
import org.apache.spark.sql.functions._

class BucketedStoreSpec extends SparkSpec {

  private def countExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    df.count() // materialize so AQE finalizes the plan
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
  }

  test("bucketed tables join without shuffling the join key") {
    val dir = tempDir("graft-bucketed")
    val src = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")

    BucketedStore.writeBucketed(li, "li_b", s"$dir/li", "l_orderkey", numBuckets = 8)
    BucketedStore.writeBucketed(ord, "ord_b", s"$dir/ord", "o_orderkey", numBuckets = 8)

    // disable auto-broadcast so the join shape is governed by distribution,
    // not by the tiny test size
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joined(l: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))

      val plainEx = countExchanges(joined(li, ord))
      val bucketedEx = countExchanges(
        joined(BucketedStore.table(spark, "li_b"), BucketedStore.table(spark, "ord_b")))

      // plain: 2 join-side exchanges + 1 agg exchange; bucketed: agg only
      assert(plainEx >= 3, s"expected >=3 exchanges in plain join, got $plainEx")
      assert(bucketedEx == 1, s"expected only the agg exchange, got $bucketedEx")

      // and identical results
      val a = joined(li, ord).collect().map(_.toSeq).toSet
      val b = joined(BucketedStore.table(spark, "li_b"), BucketedStore.table(spark, "ord_b"))
        .collect().map(_.toSeq).toSet
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
