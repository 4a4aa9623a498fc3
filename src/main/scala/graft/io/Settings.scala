package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.JsonNode

import graft.Json

/** Settings persistence — parity with the reference's
  * `persistence/settings.rs`: a flat JSON settings file in the user
  * config dir (`$XDG_CONFIG_HOME/graft/settings.json`, falling back to
  * `~/.config/graft`), same field set and defaults
  * (settings.rs:8-58,180-182: LOD thresholds, API bind/port/key, gRPC
  * port, autosave/export/log dir overrides, background-on-close).
  * Read and written through [[graft.Json]]. Load tolerates missing keys
  * (serde `#[serde(default)]` semantics); save is atomic (tmp + rename,
  * like persist.rs:100-131).
  */
case class AppSettings(
    autosaveOverride: Option[String] = None,
    exportOverride: Option[String] = None,
    apiLogOverride: Option[String] = None,
    lodEnabled: Boolean = true,
    lodLabelMinZoom: Double = 0.7,
    lodHideLabelsNodeThreshold: Int = 200,
    apiEnabled: Boolean = false,
    apiBindAddr: String = "127.0.0.1",
    apiPort: Int = 8787,
    apiKey: Option[String] = None,
    grpcEnabled: Boolean = false,
    grpcPort: Int = 50051,
    backgroundOnClose: Boolean = false,
    // engine extension (no reference counterpart): driver-side result
    // cap applied by the daemon as spark.graft.maxResultRows
    maxResultRows: Option[Long] = None) {

  def apiEndpoint: String = s"$apiBindAddr:$apiPort"

  def toJson: String = {
    val n = Json.mapper.createObjectNode()
      .put("autosave_override", autosaveOverride.orNull)
      .put("export_override", exportOverride.orNull)
      .put("api_log_override", apiLogOverride.orNull)
      .put("lod_enabled", lodEnabled)
      .put("lod_label_min_zoom", lodLabelMinZoom)
      .put("lod_hide_labels_node_threshold", lodHideLabelsNodeThreshold)
      .put("api_enabled", apiEnabled)
      .put("api_bind_addr", apiBindAddr)
      .put("api_port", apiPort)
      .put("api_key", apiKey.orNull)
      .put("grpc_enabled", grpcEnabled)
      .put("grpc_port", grpcPort)
      .put("background_on_close", backgroundOnClose)
      .put("max_result_rows", maxResultRows.map(Long.box).orNull)
    Json.pretty.writeValueAsString(n)
  }
}

object AppSettings {

  /** `$XDG_CONFIG_HOME/graft` or `~/.config/graft` (the unix arm of
    * settings.rs:61-86's cross-platform config dir). */
  def configDir: Path =
    sys.env.get("XDG_CONFIG_HOME").map(Paths.get(_, "graft")).getOrElse(
      Paths.get(sys.env.getOrElse("HOME", "."), ".config", "graft"))

  def defaultPath: Path = configDir.resolve("settings.json")

  /** Load from `path` (default location otherwise); missing file or any
    * parse problem → defaults, missing keys → their defaults. */
  def load(path: Option[Path] = None): AppSettings = {
    val p = path.getOrElse(defaultPath)
    if (!Files.exists(p)) return AppSettings()
    try parse(Files.readString(p)) catch { case _: Exception => AppSettings() }
  }

  /** Atomic save: write tmp in the same dir, then rename over. */
  def save(s: AppSettings, path: Option[Path] = None): Path = {
    val p = path.getOrElse(defaultPath)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, s.toJson)
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    p
  }

  /** Missing and null keys, and values of the wrong JSON type, take
    * their defaults. */
  private[graft] def parse(json: String): AppSettings = {
    val root = Json.mapper.readTree(json)
    def field(key: String, ok: JsonNode => Boolean) = Option(root.get(key)).filter(ok)
    def str(key: String): Option[String] = field(key, _.isTextual).map(_.textValue)
    def num(key: String): Option[JsonNode] = field(key, _.isNumber)
    def bool(key: String): Option[Boolean] = field(key, _.isBoolean).map(_.booleanValue)
    val d = AppSettings()
    AppSettings(
      autosaveOverride = str("autosave_override"),
      exportOverride = str("export_override"),
      apiLogOverride = str("api_log_override"),
      lodEnabled = bool("lod_enabled").getOrElse(d.lodEnabled),
      lodLabelMinZoom = num("lod_label_min_zoom").map(_.doubleValue).getOrElse(d.lodLabelMinZoom),
      lodHideLabelsNodeThreshold =
        num("lod_hide_labels_node_threshold").map(_.intValue).getOrElse(d.lodHideLabelsNodeThreshold),
      apiEnabled = bool("api_enabled").getOrElse(d.apiEnabled),
      apiBindAddr = str("api_bind_addr").getOrElse(d.apiBindAddr),
      apiPort = num("api_port").map(_.intValue).getOrElse(d.apiPort),
      apiKey = str("api_key"),
      grpcEnabled = bool("grpc_enabled").getOrElse(d.grpcEnabled),
      grpcPort = num("grpc_port").map(_.intValue).getOrElse(d.grpcPort),
      backgroundOnClose = bool("background_on_close").getOrElse(d.backgroundOnClose),
      maxResultRows = num("max_result_rows").map(_.longValue))
  }
}
