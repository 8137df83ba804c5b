package graft

import org.scalatest.funsuite.AnyFunSuite

/** CLI flag parsing (baker_cli.go:29-103 parity) and the -pprof
  * diagnostics server.
  */
class CliSpec extends AnyFunSuite {

  test("flag parsing: options in any order, toml positional, errors loud") {
    assert(Main.parse(List("t.toml")) == Right(Main.Flags(toml = Some("t.toml"))))
    assert(Main.parse(List("-v", "-pretty", "t.toml")) ==
      Right(Main.Flags(verbose = true, pretty = true, toml = Some("t.toml"))))
    assert(Main.parse(List("t.toml", "-q")) ==
      Right(Main.Flags(quiet = true, toml = Some("t.toml"))))
    assert(Main.parse(List("-pprof", "localhost:0", "t.toml")) ==
      Right(Main.Flags(pprof = Some("localhost:0"), toml = Some("t.toml"))))
    assert(Main.parse(List("-help")) == Right(Main.Flags(help = Some(None))))
    assert(Main.parse(List("-help", "*")) == Right(Main.Flags(help = Some(Some("*")))))
    assert(Main.parse(List("-help", "TCP")) == Right(Main.Flags(help = Some(Some("TCP")))))
    assert(Main.parse(List("-bogus")).isLeft)
    assert(Main.parse(List("-pprof")).isLeft)
    assert(Main.parse(List("a.toml", "b.toml")).isLeft)
  }

  test("-pprof server: /debug/stacks dumps thread stacks") {
    val addr = Diagnostics.serve("localhost:")
    val url = new java.net.URI(
      s"http://localhost:${addr.getPort}/debug/stacks").toURL
    val body = new String(url.openStream().readAllBytes(), "UTF-8")
    assert(body.contains("state="))
    assert(body.contains("    at "))
  }

  test("-pprof server: /debug/jfr answers a non-integer seconds with 400") {
    val addr = Diagnostics.serve("localhost:")
    val conn = new java.net.URI(
      s"http://localhost:${addr.getPort}/debug/jfr?seconds=abc").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      assert(conn.getResponseCode == 400)
      val body = new String(conn.getErrorStream.readAllBytes(), "UTF-8")
      assert(body.contains("seconds") && body.contains("abc"))
    } finally conn.disconnect()
  }

  test("-help NAME renders like -help and searches every kind") {
    val all = Main.help(None).toOption.get
    val datadog = Main.help(Some("datadog")).toOption.get
    assert(datadog.contains("### Datadog"))
    assert(datadog.contains("| Host | no | 127.0.0.1:8125 |"))
    assert(all.contains(datadog.linesIterator.drop(2).mkString("\n")))
    assert(Main.help(Some("*")) == Right(all))
    assert(Main.help(Some("NoSuchComponent")) == Left("unknown component: NoSuchComponent"))
  }
}
