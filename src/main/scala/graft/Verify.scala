package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). An optional third
    // comma-separated query filter serves ad-hoc re-checks (e.g. the
    // 10x replica-structure audit) without re-dumping the whole pack.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER lets the cluster smoke run the identical pack
    // under local-cluster[n,cores,mem] (separate executor JVMs — catches
    // driver-locality assumptions local[n] can't); default unchanged
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.contains(name)))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val dynamic =
      try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracles failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.mapper.writeValueAsString((SparkEntry.oracleSql ++ dynamic).asJava))
    spark.stop()
  }
}
