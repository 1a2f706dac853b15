package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** [[OnePartitionSort]] on executed queries. Each case runs its frame and
  * reads the final AQE plan (the executed plan after the action;
  * PlanSpec pins the plans before execution). Where the rule fires, the
  * rows and their order must equal the same query without AQE, where the
  * sort always plans as a range exchange. */
class OnePartitionSortSpec extends SparkSpec {

  private def lineitem = Tables.lineitem(spark, sf)

  /** Rows of `df`, and its final plan with the initial plan left out. */
  private def run(df: DataFrame): (Seq[Row], String) = {
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (rows, plan.toString)
  }

  private def ranged(plan: String): Boolean =
    plan.contains("rangepartitioning")

  /** Runs `build()` with AQE, asserts it fired and that rows and order
    * equal the same frame run without AQE. */
  private def assertFires(build: () => DataFrame): Unit = {
    val (rows, plan) = run(build())
    assert(!ranged(plan), plan)
    assert(plan.contains("Coalesce 1"), plan)
    val (plain, plainPlan) = withConf("spark.sql.adaptive.enabled" -> "false") {
      run(build())
    }
    assert(ranged(plainPlan), plainPlan)
    assert(rows.nonEmpty)
    assert(rows === plain)
  }

  private def assertKeepsRange(df: DataFrame): String = {
    val (_, plan) = run(df)
    assert(ranged(plan), plan)
    assert(!plan.contains("Coalesce 1"), plan)
    plan
  }

  private def declared(name: String): () => DataFrame =
    () => SparkEntry.queries(name)(spark, sf)

  private def flagCounts: DataFrame =
    lineitem.groupBy("l_returnflag").agg(count(lit(1)).as("n"))

  test("q_agg_stats_moments: final sort runs without a range exchange") {
    assertFires(declared("q_agg_stats_moments"))
  }

  test("q_sql_pricing_summary: final sort runs without a range exchange") {
    assertFires(declared("q_sql_pricing_summary"))
  }

  test("a left-semi join between the stages and the sort still fires") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assertFires(() => flagCounts.join(
        lineitem.filter(col("l_quantity") > 40).groupBy("l_returnflag")
          .agg(max("l_quantity").as("q")),
        Seq("l_returnflag"), "left_semi").orderBy("l_returnflag"))
    }
  }

  test("minPartitionSize of 1 byte keeps the range exchange") {
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      assertKeepsRange(declared("q_agg_stats_moments")())
    }
  }

  test("an explode between the stage and the sort keeps the range exchange") {
    assertKeepsRange(flagCounts
      .select(col("l_returnflag"), explode(array(col("n"), col("n") + 1)).as("v"))
      .orderBy("l_returnflag", "v"))
  }

  test("an inner join between the stages and the sort keeps the range exchange") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = assertKeepsRange(flagCounts.join(
        lineitem.groupBy("l_returnflag").agg(sum("l_quantity").as("q")),
        Seq("l_returnflag")).orderBy("l_returnflag"))
      assert(plan.contains("SortMergeJoin") && plan.contains("Inner"), plan)
    }
  }

  test("a sort directly over a parquet scan keeps the range exchange") {
    assertKeepsRange(lineitem.select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber"))
  }

  test("a sort over a repartition(n) stage keeps the range exchange") {
    val plan = assertKeepsRange(lineitem.select("l_orderkey", "l_linenumber")
      .repartition(3).orderBy("l_orderkey", "l_linenumber"))
    assert(plan.contains("REPARTITION_BY_NUM"), plan)
  }
}
