package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

/** Which ops each workload runs, and at what scale. NOTES.md gives
  * the reasons; `expected.json` holds each op's correct output.
  */
object Membership {

  /** Queries whose cost is job orchestration: per-round
    * checkpoints and actions, dozens of jobs each, run at sf0.01.
    */
  val Iterative: Seq[String] = Seq("q_pagerank", "q_bpe_train")

  /** graft.Main tables with their partition keys, sf0.01. */
  val EltTables: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey", "nation" -> "n_nationkey", "customer" -> "c_custkey",
    "supplier" -> "s_suppkey", "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id", "documents" -> "doc_id")
  val EltKeys: Map[String, String] = EltTables.toMap

  /** At sf0.01 this sends lineitem (60,000 rows, repeated keys) down
    * the julienne path and orders (15,000) into two slices.
    */
  val EltRowsPerPartition = 10000L
  val EltTargetPartitionBytes: Long = 4L * 1024 * 1024

  /** Tables loaded into Derby: orders reads by range, lineitem by
    * julienne predicates, the rest over a single connection.
    */
  val JdbcTables: Seq[(String, String)] = Seq(
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey", "customer" -> "c_custkey",
    "part" -> "p_partkey", "events" -> "event_id")
  val JdbcKeys: Map[String, String] = JdbcTables.toMap
  val JdbcRowsPerPartition = 10000L

  /** Injected failures that prove a failing op fails the run. */
  val InjectedOp = "injected_failure"
  val MissingTable = "injected_missing_table"

  /** A query whose final action fails inside a Spark task. */
  def failingQuery(spark: SparkSession): DataFrame =
    spark.range(1).select(raise_error(lit("injected failure")).as("x"))
}
