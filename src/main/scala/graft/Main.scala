package graft

import org.apache.spark.sql.SparkSession

import graft.topology.{BuiltinComponents, Toml, Topology}

/** CLI entry point — the reference's MainCLI (baker_cli.go:29-103):
  *
  *   graft.Main [options] topology.toml   run a topology
  *   graft.Main -help                     print component docs (markdown)
  *   graft.Main -help NAME|'*'            docs for one component / all
  *
  * Options (baker_cli.go:35-41):
  *   -v       verbose logging (Spark INFO; reference: debug)
  *   -q       quiet logging (Spark ERROR; reference: warn)
  *   -pretty  accepted for parity — JVM logging is already textual
  *   -pprof host:port  serve JVM diagnostics over HTTP (reference serves
  *            Go pprof): /debug/stacks = all thread stacks (the goroutine
  *            dump analogue), /debug/jfr?seconds=N = a Java Flight
  *            Recorder capture of the next N seconds (async-profiler /
  *            pprof-profile analogue).
  *
  * Run under spark-submit on a cluster, or standalone (builds a local
  * session). Prints a final stats summary line fashioned after the
  * reference's StatsDumper (stats.go:131-139).
  */
object Main {

  private[graft] case class Flags(verbose: Boolean = false, quiet: Boolean = false,
      pretty: Boolean = false, pprof: Option[String] = None,
      help: Option[Option[String]] = None, toml: Option[String] = None)

  private[graft] def parse(args: List[String], f: Flags = Flags()): Either[String, Flags] =
    args match {
      case Nil => Right(f)
      case "-v" :: rest => parse(rest, f.copy(verbose = true))
      case "-q" :: rest => parse(rest, f.copy(quiet = true))
      case "-pretty" :: rest => parse(rest, f.copy(pretty = true))
      case "-pprof" :: addr :: rest if !addr.startsWith("-") =>
        parse(rest, f.copy(pprof = Some(addr)))
      case "-pprof" :: _ => Left("-pprof needs a host:port argument")
      case "-help" :: name :: rest if !name.startsWith("-") =>
        parse(rest, f.copy(help = Some(Some(name))))
      case "-help" :: rest => parse(rest, f.copy(help = Some(None)))
      case flag :: _ if flag.startsWith("-") => Left(s"unknown option: $flag")
      case path :: rest if f.toml.isEmpty => parse(rest, f.copy(toml = Some(path)))
      case extra :: _ => Left(s"unexpected argument: $extra")
    }

  /** The `-help` text: every component, or the components called `name`
    * (any kind) rendered the same way; Left for a name nothing is called.
    */
  private[graft] def help(name: Option[String]): Either[String, String] = name match {
    case None | Some("*") => Right(BuiltinComponents.all.renderHelp)
    case Some(n) =>
      val text = BuiltinComponents.all.named(n).renderHelp
      if (text.isEmpty) Left(s"unknown component: $n") else Right(text)
  }

  /** Compile a topology file as the CLI runs it: an input with a daemon
    * form compiles to it, and the run is a daemon; any other input
    * compiles to its batch frame.
    */
  private[graft] def compile(spark: SparkSession, tomlPath: String): Topology.Compiled =
    Topology.compileDaemon(spark, Topology.configFromToml(Toml.parseFile(tomlPath)))

  def main(args: Array[String]): Unit = parse(args.toList) match {
    case Left(err) =>
      System.err.println(err)
      System.err.println(
        "usage: graft.Main [-v|-q] [-pretty] [-pprof host:port] <topology.toml> | -help [component|'*']")
      sys.exit(1)
    case Right(f) if f.verbose && f.quiet =>
      System.err.println("logging can't both be verbose and quiet") // baker_cli.go:74
      sys.exit(1)
    case Right(f) if f.help.isDefined => help(f.help.get) match {
      case Right(text) => println(text)
      case Left(err) => System.err.println(err); sys.exit(1)
    }
    case Right(f) if f.toml.isEmpty =>
      System.err.println(
        "usage: graft.Main [-v|-q] [-pretty] [-pprof host:port] <topology.toml> | -help [component|'*']")
      sys.exit(1)
    case Right(f) =>
      val tomlPath = f.toml.get
      f.pprof.foreach(Diagnostics.serve)
      val spark = core.Graft.configure(
        SparkSession.builder().appName(s"graft ${new java.io.File(tomlPath).getName}")
          .master(sys.env.getOrElse("GRAFT_MASTER", "local[*]")))
        .getOrCreate()
      spark.sparkContext.setLogLevel(
        if (f.verbose) "INFO" else if (f.quiet) "ERROR" else "WARN")
      new graft.metrics.StatsDumper().attach(spark)
      try {
        val t0 = System.nanoTime()
        val compiled = compile(spark, tomlPath)
        if (compiled.projected.isStreaming) {
          // daemon topology (reference: api.go:58-66): run until signalled
          val ckpt = sys.env.getOrElse("GRAFT_CHECKPOINT_DIR",
            java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
          val trigger = sys.env.getOrElse("GRAFT_TRIGGER_MS", "60000").toLong
          val daemon = graft.streaming.Streaming.start(compiled, ckpt, trigger)
          sys.addShutdownHook {
            println(s"Stats: daemon stopping, total[w:${daemon.recordCount()}]")
          }
          daemon.awaitTermination()
        } else {
          val (result, metrics) = compiled.run()
          val secs = (System.nanoTime() - t0) / 1e9
          val read = metrics.getOrElse("input_records", -1L)
          val written = metrics.getOrElse("output_records", result.rows)
          println(f"Stats: total[w:$written,r:$read] speed[$secs%.1fs] " +
            s"files[${result.paths.size}]")
        }
      } finally spark.stop()
  }
}

/** The `-pprof` analogue: an HTTP server of JVM diagnostics (reference
  * serves Go's net/http/pprof, baker_cli.go:57-65). Built on the JDK's
  * own HttpServer + JFR — no dependencies.
  */
object Diagnostics {
  def serve(hostPort: String): java.net.InetSocketAddress = {
    val (host, port) = hostPort.lastIndexOf(':') match {
      case -1 => (hostPort, 0)
      case i =>
        val p = hostPort.substring(i + 1)
        (hostPort.substring(0, i), if (p.isEmpty) 0 else p.toInt)
    }
    val addr = new java.net.InetSocketAddress(
      if (host.isEmpty) "localhost" else host, port)
    val server = com.sun.net.httpserver.HttpServer.create(addr, 0)

    def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
        body: Array[Byte], ctype: String = "text/plain"): Unit = {
      ex.getResponseHeaders.set("Content-Type", ctype)
      ex.sendResponseHeaders(code, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    }

    // /debug/stacks — every thread's stack, the goroutine-dump analogue
    server.createContext("/debug/stacks", ex => {
      val sb = new StringBuilder
      import scala.jdk.CollectionConverters._
      for ((t, frames) <- Thread.getAllStackTraces.asScala.toSeq.sortBy(_._1.getName)) {
        sb.append(s"\"${t.getName}\" state=${t.getState}\n")
        frames.foreach(fr => sb.append(s"    at $fr\n"))
        sb.append('\n')
      }
      respond(ex, 200, sb.toString.getBytes("UTF-8"))
    })

    // /debug/jfr?seconds=N — record N seconds of JFR and return the file
    server.createContext("/debug/jfr", ex => {
      val param = Option(ex.getRequestURI.getQuery).flatMap(q =>
        q.split("&").collectFirst { case s if s.startsWith("seconds=") =>
          s.stripPrefix("seconds=")
        })
      val secs = param.fold(Option(10))(_.toIntOption).map(_.min(300).max(1))
      if (secs.isEmpty)
        respond(ex, 400, s"seconds must be an integer, got '${param.get}'".getBytes("UTF-8"))
      else try {
        val rec = new jdk.jfr.Recording()
        rec.enable("jdk.ExecutionSample")
          .withPeriod(java.time.Duration.ofMillis(10))
        rec.enable("jdk.GarbageCollection")
        rec.start()
        Thread.sleep(secs.get * 1000L)
        rec.stop()
        val tmp = java.nio.file.Files.createTempFile("graft-jfr", ".jfr")
        rec.dump(tmp)
        rec.close()
        val bytes = java.nio.file.Files.readAllBytes(tmp)
        java.nio.file.Files.delete(tmp)
        respond(ex, 200, bytes, "application/octet-stream")
      } catch {
        case e: Exception =>
          respond(ex, 500, s"jfr failed: ${e.getMessage}".getBytes("UTF-8"))
      }
    })

    server.setExecutor(null)
    server.start()
    org.apache.log4j.Logger.getLogger("graft.pprof")
      .warn(s"serving JVM diagnostics on ${server.getAddress}")
    server.getAddress
  }
}
