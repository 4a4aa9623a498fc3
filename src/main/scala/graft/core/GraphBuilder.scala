package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Derives a [[PropertyGraph]] from the driver's TPC-H-ish parquet
  * tables (FIXTURES.md §3): FK structure → edges, rows → nodes, every
  * property stringified to match the reference's all-strings value
  * model (graph_utils/graph.rs:8).
  *
  * Node ids are deterministic `type:key` strings (orderable within a
  * type and reproducible in the DuckDB oracle); UUIDv7 ids are only for
  * engine-created elements.
  */
object GraphBuilder {

  private def m(kvs: (String, org.apache.spark.sql.Column)*): org.apache.spark.sql.Column =
    map(kvs.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*)

  def fromTables(spark: SparkSession, sfDir: String): PropertyGraph = {
    def t(n: String) = Tables(spark, sfDir, n)
    // one relation per table: each read lists the table's files again
    val (nation, customer, supplier, orders, lineitem) =
      (t("nation"), t("customer"), t("supplier"), t("orders"), t("lineitem"))

    val nodes =
      t("region").select(concat(lit("region:"), col("r_regionkey")).as("id"),
        lit("Region").as("label"), m("name" -> col("r_name")).as("properties"))
      .unionByName(nation.select(concat(lit("nation:"), col("n_nationkey")).as("id"),
        lit("Nation").as("label"), m("name" -> col("n_name")).as("properties")))
      .unionByName(customer.select(concat(lit("customer:"), col("c_custkey")).as("id"),
        lit("Customer").as("label"),
        m("name" -> col("c_name"), "acctbal" -> col("c_acctbal"),
          "mktsegment" -> col("c_mktsegment")).as("properties")))
      .unionByName(supplier.select(concat(lit("supplier:"), col("s_suppkey")).as("id"),
        lit("Supplier").as("label"),
        m("name" -> col("s_name"), "acctbal" -> col("s_acctbal")).as("properties")))
      .unionByName(t("part").select(concat(lit("part:"), col("p_partkey")).as("id"),
        lit("Part").as("label"),
        m("name" -> col("p_name"), "brand" -> col("p_brand"),
          "type" -> col("p_type"), "retailprice" -> col("p_retailprice")).as("properties")))
      .unionByName(orders.select(concat(lit("order:"), col("o_orderkey")).as("id"),
        lit("Order").as("label"),
        m("status" -> col("o_orderstatus"), "totalprice" -> col("o_totalprice"),
          "priority" -> col("o_orderpriority")).as("properties")))

    val empty = typedLit(Map.empty[String, String])
    val edges =
      nation.select(concat(lit("inregion:"), col("n_nationkey")).as("id"),
        concat(lit("nation:"), col("n_nationkey")).as("src"),
        concat(lit("region:"), col("n_regionkey")).as("dst"),
        lit("IN_REGION").as("label"), empty.as("properties"))
      .unionByName(customer.select(concat(lit("custnation:"), col("c_custkey")).as("id"),
        concat(lit("customer:"), col("c_custkey")).as("src"),
        concat(lit("nation:"), col("c_nationkey")).as("dst"),
        lit("FROM_NATION").as("label"), empty.as("properties")))
      .unionByName(supplier.select(concat(lit("suppnation:"), col("s_suppkey")).as("id"),
        concat(lit("supplier:"), col("s_suppkey")).as("src"),
        concat(lit("nation:"), col("s_nationkey")).as("dst"),
        lit("FROM_NATION").as("label"), empty.as("properties")))
      .unionByName(orders.select(concat(lit("placed:"), col("o_orderkey")).as("id"),
        concat(lit("customer:"), col("o_custkey")).as("src"),
        concat(lit("order:"), col("o_orderkey")).as("dst"),
        lit("PLACED").as("label"), empty.as("properties")))
      .unionByName(lineitem.select(
        concat(lit("contains:"), col("l_orderkey"), lit(":"), col("l_linenumber")).as("id"),
        concat(lit("order:"), col("l_orderkey")).as("src"),
        concat(lit("part:"), col("l_partkey")).as("dst"),
        lit("CONTAINS").as("label"),
        m("quantity" -> col("l_quantity"),
          "extendedprice" -> col("l_extendedprice")).as("properties")))
      .unionByName(lineitem
        .select(col("l_suppkey"), col("l_partkey")).distinct()
        .select(concat(lit("supplies:"), col("l_suppkey"), lit(":"), col("l_partkey")).as("id"),
          concat(lit("supplier:"), col("l_suppkey")).as("src"),
          concat(lit("part:"), col("l_partkey")).as("dst"),
          lit("SUPPLIES").as("label"), empty.as("properties")))

    PropertyGraph(nodes, edges)
  }
}
