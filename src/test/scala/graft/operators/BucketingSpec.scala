package graft.operators

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Scale-design demonstration: pre-bucketing both sides of a recurring join
  * on the join key removes the per-query shuffle entirely — the physical
  * plan is a SortMergeJoin over bucket-aligned scans with NO
  * ShuffleExchange. At 100 TB this turns every repeated fact-fact join on
  * the same key into a scan-only operation. */
class BucketingSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    val warehouse = new java.io.File(SparkSpec.warehouse)
    try {
      graft.Tables.orders(spark, sf).write
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders")
      graft.Tables.lineitem(spark, sf).write
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem")

      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))

      // force a SMJ (no broadcast) to show bucket alignment doing the work
      val noBroadcast = spark.table("b_lineitem").hint("merge")
        .join(spark.table("b_orders").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
      val exchanges = noBroadcast.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join should not shuffle:\n${noBroadcast.queryExecution.executedPlan}")

      // and it still computes the right thing
      val viaBuckets = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val direct = graft.Tables.lineitem(spark, sf)
        .join(graft.Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(viaBuckets == direct)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      if (warehouse.exists()) rm(warehouse)
    }
  }
  test("NativeAsOfJoin on bucketed inputs plans no shuffle exchange") {
    // the exec DECLARES ClusteredDistribution instead of repartitioning,
    // so bucket-aligned scans satisfy it and EnsureRequirements inserts
    // only the in-partition sorts — the claim that separates the
    // Catalyst-native operator from the DataFrame-level sortMerge
    try {
      spark.range(2000)
        .selectExpr("id % 40 AS k", "id * 13 % 5000 AS t", "id AS lid")
        .write.bucketBy(8, "k").sortBy("k", "t")
        .mode("overwrite").saveAsTable("b_asof_l")
      spark.range(1500)
        .selectExpr("id % 40 AS rk", "id * 17 % 5000 + 1 AS rt", "id AS rid")
        .write.bucketBy(8, "rk").sortBy("rk", "rt")
        .mode("overwrite").saveAsTable("b_asof_r")
      val j = graft.plans.NativeAsOfJoin.join(
        spark.table("b_asof_l"), spark.table("b_asof_r"),
        "k", "t", "rk", "rt", 100000L)
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed as-of join should not shuffle:\n${j.queryExecution.executedPlan}")
      // parity against the unbucketed plan (which does shuffle)
      val direct = graft.plans.NativeAsOfJoin.join(
        spark.range(2000).selectExpr("id % 40 AS k", "id * 13 % 5000 AS t",
          "id AS lid"),
        spark.range(1500).selectExpr("id % 40 AS rk",
          "id * 17 % 5000 + 1 AS rt", "id AS rid"),
        "k", "t", "rk", "rt", 100000L)
      assert(j.selectExpr("lid", "rid").collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSet ==
        direct.selectExpr("lid", "rid").collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSet)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_asof_l")
      spark.sql("DROP TABLE IF EXISTS b_asof_r")
      ()
    }
  }
}
