package graft.topology

import java.io.{BufferedReader, InputStreamReader, OutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

import scala.collection.mutable

import org.apache.spark.sql.functions._

/** WebSocket output — broadcasts each record's projected field tuple to all
  * connected WebSocket clients. reference: output/websocket.go:12-77 +
  * output/websocket/server.go (dev-only sink on :8080).
  *
  * Self-contained RFC6455 server (HTTP Upgrade handshake + unmasked
  * server→client text frames) — no dependencies, matching the zero-egress
  * build. Records are streamed through the driver (`toLocalIterator`), which
  * is exactly the reference's topology: every record funnels into the
  * single WS broadcaster; this sink is for development, not the 100 TB path.
  */
object WebSocketOutput {

  /** Bound port of the most recently started server (tests; 0-port support). */
  @volatile var lastBoundPort: Int = -1

  private val WsGuid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

  final class Server(port: Int) {
    private val server = new ServerSocket(port)
    private val clients = mutable.ArrayBuffer.empty[Socket]
    @volatile private var running = true
    val boundPort: Int = server.getLocalPort

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val s = server.accept()
          if (handshake(s)) clients.synchronized { clients += s }
          else s.close()
        } catch { case _: Exception if !running => () case _: Exception => () }
      }
    }, "graft-ws-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()

    /** HTTP Upgrade → 101 with Sec-WebSocket-Accept (RFC6455 §4.2.2). */
    private def handshake(s: Socket): Boolean = {
      val in = new BufferedReader(new InputStreamReader(s.getInputStream, UTF_8))
      var key: String = null
      var line = in.readLine()
      while (line != null && line.nonEmpty) {
        val i = line.indexOf(':')
        if (i > 0 && line.substring(0, i).equalsIgnoreCase("Sec-WebSocket-Key"))
          key = line.substring(i + 1).trim
        line = in.readLine()
      }
      if (key == null) return false
      val accept = Base64.getEncoder.encodeToString(
        MessageDigest.getInstance("SHA-1").digest((key + WsGuid).getBytes(UTF_8)))
      val resp = "HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: $accept\r\n\r\n"
      s.getOutputStream.write(resp.getBytes(UTF_8))
      s.getOutputStream.flush()
      true
    }

    /** One unmasked text frame (FIN + opcode 0x1, 7/16/64-bit length). */
    private def writeFrame(out: OutputStream, payload: Array[Byte]): Unit = {
      out.write(0x81)
      val n = payload.length
      if (n < 126) out.write(n)
      else if (n < 65536) { out.write(126); out.write(n >> 8); out.write(n & 0xff) }
      else {
        out.write(127)
        var i = 7
        while (i >= 0) { out.write(((n.toLong >> (8 * i)) & 0xff).toInt); i -= 1 }
      }
      out.write(payload)
      out.flush()
    }

    def clientCount: Int = clients.synchronized(clients.size)

    def sendAll(text: String): Unit = {
      val bytes = text.getBytes(UTF_8)
      clients.synchronized {
        val dead = clients.filter { c =>
          try { writeFrame(c.getOutputStream, bytes); false }
          catch { case _: Exception => true }
        }
        dead.foreach { c => try c.close() catch { case _: Exception => () }; clients -= c }
      }
    }

    def close(): Unit = {
      running = false
      clients.synchronized { clients.foreach(c => try c.close() catch { case _: Exception => () }) }
      try server.close() catch { case _: Exception => () }
    }
  }

  val desc: OutputDesc = OutputDesc(
    "WebSocket",
    "Broadcasts the projected fields of each record to all connected " +
      "WebSocket clients (development).",
    Seq(
      ConfigKey("Port", "TCP port to listen on (0 = ephemeral)", default = Some(8080L)),
      ConfigKey("WaitForClientSec", "wait up to this long for ≥1 client before sending",
        default = Some(0L)),
      ConfigKey("Separator", "separator between field values", default = Some(","))),
    raw = false,
    (ctx, cfg, df) => {
      val sep = cfg.str("Separator")
      val server = new Server(cfg.int("Port").toInt)
      lastBoundPort = server.boundPort
      try {
        val waitSec = cfg.int("WaitForClientSec")
        val deadline = System.nanoTime() + waitSec * 1000000000L
        while (server.clientCount == 0 && System.nanoTime() < deadline) Thread.sleep(20)
        val fields = ctx.outputFields
        require(fields.nonEmpty, "WebSocket: [output] fields required")
        val lines = df.select(
          concat_ws(sep, fields.map(f => coalesce(col(f).cast("string"), lit(""))): _*)
            .as("line"))
        var rows = 0L
        val it = lines.toLocalIterator()
        while (it.hasNext) { server.sendAll(it.next().getString(0)); rows += 1 }
        OutputResult(Nil, rows)
      } finally server.close()
    },
  )
}
