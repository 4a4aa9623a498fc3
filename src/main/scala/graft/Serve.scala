package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.api.{ApiServer, EngineBroker, GrpcApi}
import graft.engine.GraphSession
import graft.io.GraphStore

/** Headless daemon — parity with the reference's `--background` mode
  * (src/main.rs:214-289): load the active snapshot if one exists, serve
  * the HTTP API and the WebSocket REPL on one port over ONE shared
  * engine broker, then run the dirty-flag autosave check every 100 ms
  * as a fixed-delay task on its own `graft-autosave` thread (save when
  * a mutation has happened AND >5 s since the last save,
  * main.rs:250-265).
  *
  * This is also the durable commit policy for cluster deployments: the
  * in-session `localCheckpoint` commit (PropertyGraph.materialized)
  * does not survive executor loss, so the daemon periodically persists
  * the graph through GraphStore's atomic versioned snapshots and can
  * reload from the active snapshot on restart.
  *
  * Usage: graft.Serve --data DIR [--port 8787] (alias --ws-port)
  *        [--grpc-port 50051] [--bind 127.0.0.1] [--api-key K]
  *        [--log-dir D] [--autosave-secs 5]
  */
object Serve {

  /** Wires broker + servers + autosave; returns a handle for tests. */
  final class Daemon(session: GraphSession, dataDir: String,
      port: Int = 0, apiKey: Option[String] = None,
      logDir: Option[String] = None, autosaveSecs: Long = 5,
      bindAddr: String = "127.0.0.1",
      grpcPort: Option[Int] = None) {

    if (GraphStore.listVersions(dataDir).nonEmpty)
      session.graph = GraphStore.load(session.spark, dataDir)

    val broker = new EngineBroker(session, logDir)
    val api = new ApiServer(broker, port, apiKey, bindAddr)
    val grpc: Option[GrpcApi] =
      grpcPort.map(p => new GrpcApi(broker, p, apiKey, bindAddr))

    private val dirty = new AtomicBoolean(false)
    @volatile private var lastSaveNs = System.nanoTime()
    broker.onMutation = () => dirty.set(true)

    private val autosave =
      Executors.newSingleThreadScheduledExecutor(EngineBroker.daemonThreads("graft-autosave"))

    private def autosaveIfDue(): Unit =
      if (dirty.get() && (System.nanoTime() - lastSaveNs) / 1e9 >= autosaveSecs) {
        // clear BEFORE saving so a mutation landing mid-save re-marks
        // dirty; on a FAILED save re-mark ourselves, so the mutation is
        // retried next check instead of sitting unpersisted until
        // another mutation arrives (main.rs run_background clears only
        // after a successful save). A failed save must not escape: a
        // scheduled task that throws is never run again.
        dirty.set(false)
        try {
          GraphStore.save(session.graph, dataDir)
          lastSaveNs = System.nanoTime()
        } catch {
          case e: Exception =>
            dirty.set(true)
            System.err.println(s"[graft] autosave failed (will retry): ${e.getMessage}")
        }
      }

    /** Returns the bound API port (HTTP and WS) and gRPC port. */
    def start(): (Int, Option[Int]) = {
      val ap = api.start()
      // keep the BOUND port (start() returns it): with --grpc-port 0 the
      // configured value is useless for reaching the server
      val gp = grpc.map(_.start())
      autosave.scheduleWithFixedDelay(() => autosaveIfDue(), 100, 100, TimeUnit.MILLISECONDS)
      (ap, gp)
    }

    def stop(): Unit = {
      autosave.shutdownNow()
      grpc.foreach(_.stop())
      api.stop()
      broker.stop()
      // drop what the registered caches hold (bucketed tables and
      // their directories, the IVF centroids) so none of it outlives
      // the serving lifecycle
      graft.core.BoundedCache.invalidateAll()
    }
  }

  def main(args: Array[String]): Unit = {
    // settings file first (persistence/settings.rs parity: the daemon
    // reads the persisted config), CLI flags override. Like the
    // reference's one actix server, HTTP and WS share one port
    // (api_port, default 8787, glsh's default); --ws-port is kept as
    // an alias of --port.
    val settings = graft.io.AppSettings.load()
    var dataDir = settings.autosaveOverride.getOrElse("graft-data")
    var port = settings.apiPort
    var apiKey: Option[String] = settings.apiKey
    var logDir: Option[String] = settings.apiLogOverride
    var autosaveSecs = 5L
    var bindAddr = settings.apiBindAddr
    // gRPC starts when the settings enable it (settings.rs grpc_enabled/
    // grpc_port, main.rs parity) or --grpc-port is passed explicitly
    var grpcPort: Option[Int] =
      if (settings.grpcEnabled) Some(settings.grpcPort) else None
    // state.ron migration (GraphStore.importRon/exportRon): --import-ron
    // seeds the snapshot store from a reference state file before
    // serving; --export-ron writes the active snapshot as a
    // reference-loadable state.ron and exits.
    var importRonPath: Option[String] = None
    var exportRonPath: Option[String] = None
    var argv = args.toList
    while (argv.nonEmpty) argv = argv match {
      case "--import-ron" :: p :: t => importRonPath = Some(p); t
      case "--export-ron" :: p :: t => exportRonPath = Some(p); t
      case "--data" :: d :: t => dataDir = d; t
      case ("--port" | "--ws-port") :: p :: t => port = p.toInt; t
      case "--grpc-port" :: p :: t => grpcPort = Some(p.toInt); t
      case "--bind" :: a :: t => bindAddr = a; t
      case "--api-key" :: k :: t => apiKey = Some(k); t
      case "--log-dir" :: d :: t => logDir = Some(d); t
      case "--autosave-secs" :: s :: t => autosaveSecs = s.toLong; t
      case _ :: t => t
      case Nil => Nil
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // long-lived service: if spark.graft.durableCheckpoint is turned
    // on, the ContextCleaner must delete superseded checkpoint files
    // (set at context build — see Materialize.longLivedSessionConf)
    val spark = graft.core.Materialize.longLivedSessionConf
      .foldLeft(SparkSession.builder().withExtensions(new GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // honor the persisted driver-result cap (Executor.collectCapped)
    settings.maxResultRows.foreach(v =>
      spark.conf.set("spark.graft.maxResultRows", v.toString))
    importRonPath.foreach { p =>
      val g = graft.io.GraphStore.importRon(spark, p)
      val v = graft.io.GraphStore.save(g.materialized, dataDir)
      System.err.println(s"[graft] imported $p -> $dataDir/$v (active)")
    }
    exportRonPath.foreach { p =>
      graft.io.GraphStore.exportRon(graft.io.GraphStore.load(spark, dataDir), p)
      System.err.println(s"[graft] exported active snapshot -> $p")
      spark.stop()
      sys.exit(0)
    }
    val daemon = new Daemon(new GraphSession(spark), dataDir, port, apiKey,
      logDir, autosaveSecs, bindAddr = bindAddr, grpcPort = grpcPort)
    val (ap, gp) = daemon.start()
    System.err.println(s"[graft] daemon up: http+ws=$ap" +
      gp.map(p => s" grpc=$p").getOrElse("") +
      s" data=$dataDir autosave=${autosaveSecs}s (Ctrl+C to stop)")
    Thread.currentThread().join() // serve until killed
  }
}
