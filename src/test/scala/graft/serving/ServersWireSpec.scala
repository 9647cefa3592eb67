package graft.serving

import graft.SparkSpec
import graft.tgraph.query.{MultiQueryServer, QueryServer}

/** The four servers on the wire: hostile request tokens, more idle
  * clients than a fixed pool would hold, an over-long line, and
  * close(). Each server fronts an empty store, so no stream runs.
  */
class ServersWireSpec extends SparkSpec {
  import spark.implicits._

  private val OverLong = (1 << 20) + 1

  private def emptyDir(): String =
    java.nio.file.Files.createTempDirectory("graft-wire").toString

  /** (thread-name prefix, server, port, a request it answers without
    * an error line) for the two QueryServer-backed servers
    */
  private def queryServers(): Seq[(String, AutoCloseable, Int, String)] = {
    val q = new QueryServer(spark, emptyDir(), refreshMillis = 3600000L)
    val mq = new MultiQueryServer(Map(
      "a" -> new QueryServer(spark, emptyDir(), refreshMillis = 3600000L)))
    Seq(("query-server", q, q.boundPort, "COUNT"),
      ("multi-query-server", mq, mq.boundPort, "NS a COUNT"))
  }

  /** All four servers, as [[queryServers]]. */
  private def servers(): Seq[(String, AutoCloseable, Int, String)] = {
    val cb = Seq((0, 0, 0, 1000L), (0, 1, 0, -1000L)).toDF("sub", "cell", "pos", "mean_milli")
    val codes = Seq((1L, 0, 0L), (2L, 0, 1L)).toDF("cid", "sub", "cell")
    val ann = new AnnServer(codes, cb, m = 1, subDim = 1)
    val packed = new PackedStoreServer(spark, emptyDir())
    queryServers() ++ Seq(
      ("ann-server", ann, ann.boundPort, "COUNT"),
      ("packed-server", packed, packed.boundPort, "HISTORY"))
  }

  private def answered(resp: String): Boolean =
    resp != null && !Wire.json(resp).has("error")

  test("hostile tokens get valid JSON error lines, and the next request " +
    "on the connection gets its own answer") {
    val hostile = Map(
      "query-server" -> Seq("BOGUS\"\\", "BOGUS\u0001\u001f", "POINT 1\"\\", "PRED GE 1 LIMIT x\"\\"),
      "multi-query-server" -> Seq("BOGUS\"\\", "NS x\"\\ COUNT", "NS a BOGUS\"\\\u0001", "NS a POINT 1\"\\"),
      "ann-server" -> Seq("BOGUS\"\\", "BOGUS\u0001\u001f", "TOPK 1 1\"\\"),
      "packed-server" -> Seq("BOGUS\"\\", "BOGUS\u0001\u001f", "SCAN 1 BOGUS\"\\", "SCAN 1\"\\"))
    servers().foreach { case (name, srv, port, ok) =>
      val w = new Wire(port)
      try hostile(name).foreach { req =>
        val err = w.ask(req)
        assert(Wire.json(err).has("error"), s"$name: $req -> $err")
        val next = w.ask(ok)
        assert(answered(next), s"$name: after $req, $ok -> $next")
      } finally { w.close(); srv.close() }
    }
  }

  test("more idle clients than a fixed pool of 8 are all answered") {
    queryServers().foreach { case (name, srv, port, ok) =>
      val ws = (1 to 10).map(_ => new Wire(port))
      try ws.zipWithIndex.foreach { case (w, i) =>
        assert(answered(w.ask(ok)), s"$name: client ${i + 1} of 10 unanswered")
      } finally { ws.foreach(_.close()); srv.close() }
    }
  }

  test("an over-long line closes only its own connection") {
    servers().foreach { case (name, srv, port, ok) =>
      val other = new Wire(port)
      try {
        assert(answered(other.ask(ok)))
        val over = new Wire(port)
        try {
          assert(Wire.json(over.ask("x" * OverLong)).has("error"), name)
          assert(over.closedByServer(), s"$name kept an over-long line's connection")
        } finally over.close()
        assert(answered(other.ask(ok)), s"$name stopped serving after an over-long line")
        val fresh = new Wire(port)
        try assert(answered(fresh.ask(ok)), s"$name refused a new client")
        finally fresh.close()
      } finally { other.close(); srv.close() }
    }
  }

  test("close() ends every connection with EOF and leaves no handler thread") {
    servers().foreach { case (name, srv, port, ok) =>
      val w = new Wire(port)
      try {
        assert(answered(w.ask(ok)))
        srv.close()
        assert(w.closedByServer(), s"$name: a client outlived close()")
        assert(Wire.liveThreads(name, port).isEmpty, s"$name left threads behind")
      } finally { w.close(); srv.close() }
    }
  }
}
