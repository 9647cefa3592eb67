package graft.serving

import java.io.{BufferedInputStream, BufferedReader, IOException, InputStreamReader, OutputStreamWriter, PrintWriter}
import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap

/** The one line-protocol TCP endpoint behind every graft server (the
  * reference's `LoopingClientHandler` + `StringClientHandler`): each
  * request line gets one `respond(line)` line back. One daemon thread
  * per connection, up to [[LineServer.MaxConnections]]; a connection
  * past that cap, or a line over [[LineServer.MaxLineBytes]], gets one
  * error line and is closed; whatever `respond` throws answers one
  * [[LineServer.error]] line. Threads start from the constructing
  * thread and inherit its Spark local properties (job group, job
  * tags), so a request's Spark jobs belong to whoever built the server.
  * `close()` ends every connection (a blocked client reads EOF), then
  * waits a bounded time for the threads.
  */
final class LineServer(name: String, port: Int, respond: String => String)
    extends AutoCloseable {
  import LineServer._

  private val server = new ServerSocket(port)
  private val conns = ConcurrentHashMap.newKeySet[Socket]()
  private val threads = ConcurrentHashMap.newKeySet[Thread]()
  private var open = true // guarded by `conns`

  def boundPort: Int = server.getLocalPort

  private def start(suffix: String)(body: => Unit): Unit = {
    val t = new Thread(() => try body finally threads.remove(Thread.currentThread()),
      s"$name-$boundPort$suffix")
    t.setDaemon(true)
    threads.add(t)
    t.start()
  }

  start("") {
    while (!server.isClosed) {
      try {
        val sock = server.accept()
        sock.setTcpNoDelay(true) // request-response: don't Nagle-buffer
        val admitted = conns.synchronized {
          open && conns.size < MaxConnections && {
            conns.add(sock); start("-conn")(serve(sock)); true
          }
        }
        if (!admitted)
          try reply(new OutputStreamWriter(sock.getOutputStream, UTF_8),
            error(s"$name refused the connection: $MaxConnections already open"))
          catch { case _: IOException => () }
          finally sock.close()
      } catch { case e: IOException =>
        if (!server.isClosed) System.err.println(s"[$name] accept failed: ${e.getMessage}")
      }
    }
  }

  private def serve(sock: Socket): Unit =
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      val out = new OutputStreamWriter(sock.getOutputStream, UTF_8)
      var buf = new Array[Byte](256)
      // the next request line into `buf`: its length, -1 at EOF, or
      // MaxLineBytes + 1 once it runs past the cap
      def readLine(): Int = {
        var b = in.read()
        if (b < 0) return -1
        var n = 0
        while (b >= 0 && b != '\n' && n <= MaxLineBytes) {
          if (n == buf.length) buf = java.util.Arrays.copyOf(buf, math.min(2 * n, MaxLineBytes + 1))
          buf(n) = b.toByte
          n += 1
          b = in.read()
        }
        if (b == '\n' && n > 0 && buf(n - 1) == '\r') n - 1 else n
      }
      var n = readLine()
      while (n >= 0 && n <= MaxLineBytes) {
        reply(out,
          try respond(new String(buf, 0, n, UTF_8))
          catch { case e: Throwable => error(Option(e.getMessage).getOrElse(e.getClass.getName)) })
        n = readLine()
      }
      if (n > MaxLineBytes) reply(out, error(s"request line over $MaxLineBytes bytes"))
    } catch { case _: IOException => () } // the client went away, or close()
    finally {
      conns.remove(sock)
      try sock.close() catch { case _: IOException => () }
    }

  override def close(): Unit = {
    conns.synchronized { open = false }
    try server.close() catch { case _: IOException => () }
    conns.forEach(s => try s.close() catch { case _: IOException => () })
    val deadline = System.nanoTime() + CloseWaitMs * 1000000L
    threads.forEach(t => t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
  }
}

object LineServer {
  val MaxConnections = 64
  /** Far above any caller's longest request (POINT key lists and TOPK
    * vectors run to kilobytes). */
  val MaxLineBytes: Int = 1 << 20
  private val CloseWaitMs = 2000L
  private val MaxErrorChars = 200

  private def reply(out: OutputStreamWriter, line: String): Unit = {
    out.write(line)
    out.write('\n')
    out.flush()
  }

  /** The protocol's one error line, `{"error":"<msg>"}`: `msg` cut to
    * 200 characters, with `"`, `\` and control characters escaped, so
    * the line parses as JSON and never spans two lines.
    */
  def error(msg: String): String = {
    val sb = new java.lang.StringBuilder("{\"error\":\"")
    msg.take(MaxErrorChars).foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"}").toString
  }
}

/** The blocking client side of [[LineServer]] — the reference's
  * `runtime/StringClient.java` shape: one request line out, one
  * response line back. Typed clients extend it with their verbs.
  */
class LineClient(host: String, port: Int) extends AutoCloseable {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
  private val out = new PrintWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8), true)

  def request(line: String): String = {
    out.println(line)
    val r = in.readLine()
    require(r != null, "server closed the connection")
    r
  }

  override def close(): Unit =
    try sock.close() catch { case _: IOException => () }
}
