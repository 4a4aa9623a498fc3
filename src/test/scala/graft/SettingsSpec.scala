package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.io.AppSettings

/** Settings persistence parity (persistence/settings.rs): defaults,
  * JSON round-trip, missing-key tolerance, atomic save. */
class SettingsSpec extends AnyFunSuite {

  test("defaults_match_reference") {
    val d = AppSettings()
    assert(d.lodEnabled && d.lodLabelMinZoom == 0.7 &&
      d.lodHideLabelsNodeThreshold == 200)
    assert(!d.apiEnabled && d.apiBindAddr == "127.0.0.1" && d.apiPort == 8787)
    assert(!d.grpcEnabled && d.grpcPort == 50051 && !d.backgroundOnClose)
    assert(d.apiEndpoint == "127.0.0.1:8787")
  }

  test("save_load_roundtrip") {
    val dir = Files.createTempDirectory("graft_settings")
    val p = dir.resolve("settings.json")
    val s = AppSettings(autosaveOverride = Some("/tmp/x"), lodEnabled = false,
      apiEnabled = true, apiPort = 9999, apiKey = Some("k"), grpcEnabled = true)
    AppSettings.save(s, Some(p))
    assert(AppSettings.load(Some(p)) == s)
    assert(!Files.exists(dir.resolve("settings.json.tmp")), "tmp file renamed away")
  }

  // Double.toString renders 0.0001 as "1.0E-4"; a number regex without
  // '-' in its char class matched only "1.0E", threw on toDouble, and
  // load()'s catch-all silently reset EVERY setting to defaults
  test("negative_exponent_numbers_roundtrip") {
    val dir = Files.createTempDirectory("graft_settings_exp")
    val p = dir.resolve("settings.json")
    val s = AppSettings(lodLabelMinZoom = 0.0001, apiKey = Some("keep-me"))
    AppSettings.save(s, Some(p))
    assert(AppSettings.load(Some(p)) == s,
      "a value save() itself wrote must parse back")
  }

  test("missing_keys_fall_back_to_defaults") {
    val partial = """{"api_port": 1234, "lod_enabled": false}"""
    val s = AppSettings.parse(partial)
    assert(s.apiPort == 1234 && !s.lodEnabled)
    assert(s.apiBindAddr == "127.0.0.1" && s.grpcPort == 50051 && s.apiKey.isEmpty)
  }

  test("escaped_strings_and_max_result_rows_roundtrip") {
    val dir = Files.createTempDirectory("graft_settings3")
    val p = dir.resolve("settings.json")
    // values save() itself escapes: quotes, backslashes (e.g. win
    // paths), control chars — plus the engine-extension result cap
    val s = AppSettings(
      autosaveOverride = Some("""C:\data\graft "prod" dir"""),
      apiKey = Some("k\\ey\"quoted\ttab"),
      maxResultRows = Some(50000L))
    AppSettings.save(s, Some(p))
    assert(AppSettings.load(Some(p)) == s)
    assert(AppSettings.parse("""{"max_result_rows": null}""").maxResultRows.isEmpty)
    // \b and \f are JSON escapes for backspace and form feed, not letters
    assert(AppSettings.parse("""{"api_key": "a\bb\fc"}""").apiKey.contains("a\bb\fc"))
  }

  test("missing_or_corrupt_file_yields_defaults") {
    val dir = Files.createTempDirectory("graft_settings2")
    assert(AppSettings.load(Some(dir.resolve("nope.json"))) == AppSettings())
    val bad = dir.resolve("bad.json")
    Files.writeString(bad, "not json at all {{{")
    assert(AppSettings.load(Some(bad)) == AppSettings())
  }
}
