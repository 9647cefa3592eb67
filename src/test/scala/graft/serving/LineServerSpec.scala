package graft.serving

import org.scalatest.funsuite.AnyFunSuite

/** The one line endpoint's connection model: error lines, the
  * connection and line caps, close(), and that no other main file
  * opens a socket of its own.
  */
class LineServerSpec extends AnyFunSuite {

  private def withServer(respond: String => String)(f: LineServer => Unit): Unit = {
    val srv = new LineServer("line-spec", 0, respond)
    try f(srv) finally srv.close()
  }

  test("whatever a responder throws comes back as one JSON error line; " +
    "the connection keeps serving") {
    val nasty = "a\nb\r\"c\\d\u0001\u001fe"
    withServer {
      case "boom" => throw new IllegalStateException(nasty)
      case "null" => throw new RuntimeException() // no message: the class name
      case l => s"""{"echo":${l.length}}"""
    } { srv =>
      val w = new Wire(srv.boundPort)
      try {
        assert(Wire.json(w.ask("boom")).get("error").asText == nasty)
        assert(Wire.json(w.ask("null")).get("error").asText == "java.lang.RuntimeException")
        assert(w.ask("four") == """{"echo":4}""")
        assert(Wire.json(LineServer.error("x" * 1000)).get("error").asText.length == 200)
      } finally w.close()
    }
  }

  test("past the connection cap a client gets one error line and EOF; " +
    "the admitted ones keep serving, and a freed slot admits again") {
    withServer(_ => "ok") { srv =>
      val admitted = (1 to LineServer.MaxConnections).map(_ => new Wire(srv.boundPort))
      try {
        admitted.foreach(w => assert(w.ask("hi") == "ok"))
        val over = new Wire(srv.boundPort)
        try {
          assert(Wire.json(over.read()).get("error").asText.contains("refused"))
          assert(over.closedByServer())
        } finally over.close()
        assert(admitted.last.ask("still") == "ok")
        admitted.head.close()
        val deadline = System.nanoTime() + 10000000000L
        var back = false
        while (!back && System.nanoTime() < deadline) {
          val w = new Wire(srv.boundPort)
          try back = w.ask("again") == "ok" finally w.close()
          if (!back) Thread.sleep(20)
        }
        assert(back, "a closed connection's slot was never freed")
      } finally admitted.foreach(_.close())
    }
  }

  test("a line at the cap is served; one byte over gets an error line and " +
    "its connection closed, and the server keeps serving") {
    withServer(l => l.length.toString) { srv =>
      val other = new Wire(srv.boundPort)
      try {
        val at = new Wire(srv.boundPort)
        try assert(at.ask("x" * LineServer.MaxLineBytes) == LineServer.MaxLineBytes.toString)
        finally at.close()
        val over = new Wire(srv.boundPort)
        try {
          val resp = over.ask("x" * (LineServer.MaxLineBytes + 1))
          assert(Wire.json(resp).get("error").asText.contains("request line over"))
          assert(over.closedByServer())
        } finally over.close()
        assert(other.ask("abc") == "3")
        assert(other.ask("abc\r") == "3", "a CRLF line ends before its CR")
      } finally other.close()
    }
  }

  test("close() ends every connection with EOF and leaves no thread behind") {
    val srv = new LineServer("line-spec", 0, identity)
    val port = srv.boundPort
    val ws = (1 to 3).map(_ => new Wire(port))
    try {
      ws.foreach(w => assert(w.ask("hi") == "hi"))
      assert(Wire.liveThreads("line-spec", port).size == 4) // acceptor + 3 handlers
      srv.close()
      ws.foreach(w => assert(w.closedByServer()))
      assert(Wire.liveThreads("line-spec", port).isEmpty)
    } finally { ws.foreach(_.close()); srv.close() }
  }

  test("no main file but LineServer.scala opens a listening or client socket") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} missing")
    val opens = """new\s+(java\.net\.)?(Server)?Socket\s*\(|(Server)?SocketChannel\s*\.\s*open""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      if (opens.findFirstIn(src).isDefined) Some(f.getName) else None
    }
    assert(hits == Seq("LineServer.scala"), s"sockets opened in $hits")
  }
}
