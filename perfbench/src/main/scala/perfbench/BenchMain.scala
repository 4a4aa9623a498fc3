package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftExtensions
import graft.core.Materialize

/** Entry point of one benchmark run (started by `run.py`, which makes
  * the inputs and turns the raw record written here into metrics).
  *
  * Usage: perfbench.BenchMain --workload serve_mixed|batch_cold|dump
  *   --data DIR --work DIR --out FILE --seconds S --trace 0|1
  *   [--requests FILE --warmup-jobs N] [--orders FILE --warmup-passes N]
  *   [--queries Q1,Q2]
  */
object BenchMain {
  /** Reads the daemon's answers and writes the raw run record. Case class
    * fields are written in snake case (`startNs` as `start_ns`). */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // sized for a 4-core machine: 4 cores, 4 clients, 3 set-ups a run
    val cpus = "4"
    val trace = opt.getOrElse("trace", "0") == "1"
    val tracer = new Tracer(trace)
    val wallStart = System.nanoTime()
    // the same session shape the daemon builds (graft.Serve.main)
    val spark = Materialize.longLivedSessionConf
      .foldLeft(SparkSession.builder().withExtensions(new GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${opt("work")}/spark-local")
        .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - wallStart) / 1e9
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)

    val seconds = opt("seconds").toDouble
    val reps = 3
    val fields = opt("workload") match {
      case "serve_mixed" =>
        new ServeWorkload(spark, opt("data"), opt("work"),
          ServeWorkload.readRequests(opt("requests")), opt("warmup-jobs").toInt, clients = 4,
          seconds, reps,
          tracer, autosaveSecs = 5).run()
      case "batch_cold" =>
        val orders = Files.readAllLines(Paths.get(opt("orders")))
          .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty).map(_.split(",").toSeq)
        new BatchWorkload(spark, opt("data"), orders, opt("warmup-passes").toInt, seconds,
          reps, tracer).run()
      case "dump" =>
        BatchWorkload.dump(spark, opt("data"), opt("queries").split(",").toSeq, opt("work"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // listener events are delivered asynchronously; wait for the bus
    if (trace) Thread.sleep(500)
    val traced =
      if (!trace) Seq.empty
      else Seq("spans" -> tracer.all, "jobs" -> listener.all.map(j => j.synchronized(j.copy())))
    val out = ListMap.from(Seq("workload" -> opt("workload"), "session_s" -> sessionS,
      "main_s" -> (System.nanoTime() - wallStart) / 1e9,
      "cores" -> Runtime.getRuntime.availableProcessors()) ++ fields ++ traced)
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(out))
    spark.stop()
  }
}
