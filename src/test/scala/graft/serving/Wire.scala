package graft.serving

import java.io.{BufferedReader, IOException, InputStreamReader}
import java.net.{Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8

/** A raw test connection to a line server, with a read timeout: a
  * server that never answers fails the spec instead of hanging it.
  */
final class Wire(port: Int, timeoutMs: Int = 10000) extends AutoCloseable {
  private val sock = new Socket("localhost", port)
  sock.setSoTimeout(timeoutMs)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
  private val out = sock.getOutputStream

  def send(line: String): Unit = {
    out.write((line + "\n").getBytes(UTF_8))
    out.flush()
  }

  /** The next response line; null at EOF. */
  def read(): String = in.readLine()

  def ask(line: String): String = { send(line); read() }

  /** Whether the server has closed this connection: EOF or a reset
    * within the timeout, not a silent one.
    */
  def closedByServer(): Boolean =
    try in.readLine() == null
    catch {
      case _: SocketTimeoutException => false
      case _: IOException => true
    }

  override def close(): Unit = sock.close()
}

object Wire {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** `line` parsed as one JSON object; throws if it is not valid JSON. */
  def json(line: String): com.fasterxml.jackson.databind.JsonNode = {
    require(line != null, "no response line")
    mapper.readTree(line)
  }

  /** Names of the live threads of the server `name` on `port`. */
  def liveThreads(name: String, port: Int): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val own = s"$name-$port"
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(n => n == own || n.startsWith(own + "-"))
  }
}
