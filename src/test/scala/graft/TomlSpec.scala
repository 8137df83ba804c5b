package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.topology.{ComponentConfig, ConfigKey, Toml}

class TomlSpec extends AnyFunSuite {

  test("tables, array-of-tables, scalars, arrays, comments") {
    val t = Toml.parse(
      """# a topology
        |[fields]
        |names = ["a", "b", "c"]   # trailing comment
        |
        |[general]
        |dont_validate_fields = true
        |
        |[input]
        |name = "List"
        |  [input.config]
        |  files = ["x.csv.gz", "y.csv"]
        |
        |[[filter]]
        |name = "NotNull"
        |  [filter.config]
        |  Fields = ["a"]
        |
        |[[filter]]
        |name = "ClauseFilter"
        |  [filter.config]
        |  Clause = "(a v)"
        |
        |[output]
        |name = "FileWriter"
        |procs = 2
        |fields = ["b"]
        |  [output.config]
        |  PathString = "/tmp/out.csv.gz"
        |""".stripMargin, env = Map.empty)

    assert(t("fields").asInstanceOf[Map[String, Any]]("names") == List("a", "b", "c"))
    assert(t("general").asInstanceOf[Map[String, Any]]("dont_validate_fields") == true)
    val filters = t("filter").asInstanceOf[List[Map[String, Any]]]
    assert(filters.map(_("name")) == List("NotNull", "ClauseFilter"))
    assert(filters(1).apply("config").asInstanceOf[Map[String, Any]]("Clause") == "(a v)")
    val out = t("output").asInstanceOf[Map[String, Any]]
    assert(out("procs") == 2L && out("fields") == List("b"))
  }

  test("string escapes, literal strings, unicode, ints, floats, bools") {
    val t = Toml.parse(
      """a = "x\ny\"z"
        |b = 'C:\raw\path'
        |sep = "\u001e"
        |n = 42
        |neg = -7
        |f = 3.14
        |t = true
        |""".stripMargin, env = Map.empty)
    assert(t("a") == "x\ny\"z")
    assert(t("b") == "C:\\raw\\path")
    assert(t("sep") == "\u001e")
    assert(t("n") == 42L && t("neg") == -7L && t("f") == 3.14 && t("t") == true)
  }

  test("triple-quoted multiline strings") {
    val t = Toml.parse(
      "clause = \"\"\"(or (a v5)\n  (b v6))\"\"\"\nnext = 1\n", env = Map.empty)
    assert(t("clause") == "(or (a v5)\n  (b v6))")
    assert(t("next") == 1L)
  }

  test("multiline arrays") {
    val t = Toml.parse("xs = [\n  \"a\",\n  \"b\",\n]\n", env = Map.empty)
    assert(t("xs") == List("a", "b"))
  }

  test("env expansion: ${VAR} substituted, unset → empty") {
    val t = Toml.parse("p = \"${HOME_X}/f\"\nq = \"${UNSET_VAR_12345}\"",
      env = Map("HOME_X" -> "/home/u"))
    assert(t("p") == "/home/u/f")
    assert(t("q") == "")
  }

  test("filters preserve declaration order (order-sensitive chain)") {
    val names = (1 to 12).map(i => s"F$i")
    val toml = names.map(n => s"[[filter]]\nname = \"$n\"\n").mkString
    val t = Toml.parse(toml, env = Map.empty)
    assert(t("filter").asInstanceOf[List[Map[String, Any]]].map(_("name")) == names)
  }

  test("parse errors are loud") {
    assertThrows[IllegalArgumentException](Toml.parse("key value-without-equals"))
    assertThrows[IllegalArgumentException](Toml.parse("a = @nope"))
  }

  test("humanized byte sizes: decimal 1000-based, binary 1024-based") {
    def sz(v: Any): Long =
      ComponentConfig(Map("RotateSize" -> v), "t").sizeBytes("RotateSize")
    assert(sz(700L) == 700L)
    assert(sz("700") == 700L)
    assert(sz("32MB") == 32000000L)
    assert(sz("32 MiB") == 32L * 1024 * 1024)
    assert(sz("1.5 GiB") == (1.5 * 1024 * 1024 * 1024).toLong)
    assert(sz("64kib") == 64L * 1024)
    assert(sz("2k") == 2000L)
    assertThrows[IllegalArgumentException](sz("12 parsecs"))
    assertThrows[IllegalArgumentException](sz(-1L))
    // unitless integer strings must not round-trip through Double
    assert(sz("9007199254740993") == 9007199254740993L)
    // overflow errors out ("too large", as go-humanize) instead of
    // silently saturating to Long.MaxValue
    assertThrows[IllegalArgumentException](sz("9999 PiB"))
    assertThrows[IllegalArgumentException](sz("99999999999999999999"))
  }

  test("a bound config reads declared defaults and overrides; missing and " +
      "undeclared keys fail loudly") {
    val keys = Seq(
      ConfigKey("Width", "declared as a string", default = Some("5")),
      ConfigKey("NumPerm", "declared as a long", default = Some(64L)),
      ConfigKey("Files", "declared as a list", default = Some(Seq("-"))),
      ConfigKey("Path", "required", required = true),
      ConfigKey("Opt", "optional, no default"))
    val cfg = ComponentConfig(Map("path" -> "/x", "numperm" -> 128L), "filter T").bind(keys)
    assert(cfg.int("Width") == 5L) // a default goes through the typed coercion
    assert(cfg.int("NumPerm") == 128L) // explicit override, case-insensitive
    assert(cfg.strList("Files") == Seq("-"))
    assert(cfg.str("path") == "/x")
    assert(!cfg.has("Width") && cfg.has("NumPerm"))
    assert(cfg.strOpt("Opt").isEmpty)
    assert(intercept[IllegalArgumentException](cfg.str("Opt")).getMessage ==
      "filter T: missing required key 'Opt'")
    val undeclared = intercept[IllegalArgumentException](cfg.int("Nope")).getMessage
    assert(undeclared.contains("filter T") && undeclared.contains("'Nope'"))
    // binding rejects unknown keys and missing required ones
    assert(intercept[IllegalArgumentException](ComponentConfig(
      Map("Path" -> "/x", "Bogus" -> 1L), "c").bind(keys)).getMessage.contains("Bogus"))
    assert(intercept[IllegalArgumentException](ComponentConfig(Map.empty, "c")
      .bind(keys)).getMessage.contains("missing required key 'Path'"))
    // a rebuilt table (a daemon's per-batch output config) keeps its binding
    val rebuilt = cfg.copy(raw = cfg.raw + ("Width" -> 7L))
    assert(rebuilt.int("Width") == 7L)
    assertThrows[IllegalArgumentException](rebuilt.str("Nope"))
    assert(keys(2).defaultToml.contains("[\"-\"]"))
  }

  test("an integer key holding a fraction fails loudly; an integral float passes") {
    val keys = Seq(ConfigKey("Shards", "s"), ConfigKey("Budget", "b"))
    def cfg(toml: String) = ComponentConfig(Toml.parse(toml, env = Map.empty),
      "filter PackRows").bind(keys)
    val e = intercept[IllegalArgumentException](cfg("Shards = 0.5").int("Shards"))
    assert(e.getMessage.contains("filter PackRows") && e.getMessage.contains("'Shards'"))
    assertThrows[IllegalArgumentException](cfg("Budget = 1024.9").int("Budget"))
    assert(cfg("Shards = 64.0").int("Shards") == 64L)
  }

  test("durations parse to milliseconds, keeping sub-second values") {
    assert(ComponentConfig.parseDuration("500ms") == 500L)
    assert(ComponentConfig.parseDuration("5s") == 5000L)
    assert(ComponentConfig.parseDuration("1m") == 60000L)
    assert(ComponentConfig.parseDuration("-1") == -1L)
  }

  test("a nested [output.fields] table fails loudly instead of writing all fields") {
    val toml =
      """[fields]
        |names = ["a", "b"]
        |[input]
        |name = "LogLines"
        |  [input.config]
        |  Lines = ["1,2"]
        |[output]
        |name = "Recorder"
        |[output.fields]
        |fields = ["a"]
        |""".stripMargin
    val e = intercept[IllegalArgumentException](
      graft.topology.Topology.configFromToml(Toml.parse(toml)))
    assert(e.getMessage.contains("fields must be an array"))
  }
}
