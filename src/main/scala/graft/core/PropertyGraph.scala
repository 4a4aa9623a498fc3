package graft.core

import graft.core.Materialize.GraftMaterializeOps

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Immutable property-graph snapshot: two DataFrames with the schemas
  * of the reference's `Node` / `Relationship`
  * (graph_utils/graph.rs:11-31) — single scalar label, string→string
  * properties. Mutations return a NEW PropertyGraph (the reference
  * mutates two in-memory hash maps under a single writer thread; here
  * every mutation is a DataFrame transformation committed by the
  * driver, so reads stay distributed and mutation batches are
  * linearized exactly like the reference's engine thread).
  */
case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  def nodeCount: Long = nodes.count()
  def relationshipCount: Long = edges.count()

  /** Cut lineage + materialize after a mutation batch. Long mutation
    * chains otherwise build unbounded plan trees (the classic iterative
    * Spark pitfall); localCheckpoint is the in-session analog of the
    * snapshot write a cluster deployment would do via GraphStore. */
  def materialized: PropertyGraph =
    PropertyGraph(nodes.graftCheckpoint(), edges.graftCheckpoint())

  /** Commit a mutation that changed only the node table: the new nodes
    * are materialized, the unchanged edge table is kept as it is. */
  def commitNodes(newNodes: DataFrame): PropertyGraph =
    PropertyGraph(newNodes.graftCheckpoint(), edges)

  /** Commit a mutation that changed only the edge table. */
  def commitEdges(newEdges: DataFrame): PropertyGraph =
    PropertyGraph(nodes, newEdges.graftCheckpoint())

  /** Referential integrity of edges (graph.rs:58-65): both endpoints
    * must exist. Returns edges that violate it. */
  def danglingEdges: DataFrame = {
    val ids = nodes.select(col("id"))
    edges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .unionByName(edges.join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
  }
}

object PropertyGraph {
  val nodeSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("properties", MapType(StringType, StringType, valueContainsNull = false), nullable = false)))

  val edgeSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("src", StringType, nullable = false),
    StructField("dst", StringType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("properties", MapType(StringType, StringType, valueContainsNull = false), nullable = false)))

  def empty(spark: SparkSession): PropertyGraph = PropertyGraph(
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], nodeSchema),
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], edgeSchema))

  def nodesDf(spark: SparkSession, rows: Seq[(String, String, Map[String, String])]): DataFrame = {
    val rs = rows.map { case (id, label, props) =>
      Row(id, label, props)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, math.max(1, math.min(rows.size, 4))), nodeSchema)
  }

  def edgesDf(spark: SparkSession,
      rows: Seq[(String, String, String, String, Map[String, String])]): DataFrame = {
    val rs = rows.map { case (id, src, dst, label, props) => Row(id, src, dst, label, props) }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, math.max(1, math.min(rows.size, 4))), edgeSchema)
  }
}
