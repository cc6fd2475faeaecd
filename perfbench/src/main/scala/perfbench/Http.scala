package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** One persistent HTTP/1.1 connection. The benchmark owns its
  * connections so it knows exactly how many are open and never pays a
  * TCP handshake inside a timed request; each request is written in one
  * `write` call.
  */
final class HttpConn(port: Int) extends AutoCloseable {
  private val sock = new Socket()
  sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
  sock.setSoTimeout(60000)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = sock.getOutputStream

  private def send(method: String, path: String, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    val head = s"$method $path HTTP/1.1\r\nHost: localhost\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n"
    out.write(head.getBytes(UTF_8) ++ b)
    out.flush()
  }

  /** Status line and headers (lower-cased names). */
  private def readHead(): (Int, Map[String, String]) = {
    val status = Http.readLine(in)
    require(status != null && status.startsWith("HTTP/1.1 "), s"bad status line: $status")
    val hs = Iterator.continually(Http.readLine(in)).takeWhile(l => l != null && l.nonEmpty)
      .map { l => val k = l.indexOf(':'); l.take(k).trim.toLowerCase -> l.drop(k + 1).trim }
      .toMap
    (status.split(' ')(1).toInt, hs)
  }

  /** A complete request/response exchange. */
  def request(method: String, path: String, body: String = ""): (Int, String) = {
    send(method, path, body)
    val (code, hs) = readHead()
    val bytes =
      if (hs.get("transfer-encoding").exists(_.equalsIgnoreCase("chunked")))
        new Http.Chunked(in).readAllBytes()
      else in.readNBytes(hs.getOrElse("content-length", "0").toInt)
    (code, new String(bytes, UTF_8))
  }

  def postKsql(path: String, ksql: String): (Int, String) =
    request("POST", path, s"""{"ksql":${Json.quote(ksql)}}""")

  /** Opens a held-open chunked response and returns its body as a stream. */
  def openStream(path: String, ksql: String): (Int, InputStream) = {
    send("POST", path, s"""{"ksql":${Json.quote(ksql)}}""")
    val (code, _) = readHead()
    (code, new Http.Chunked(in))
  }

  def close(): Unit = try sock.close() catch { case _: java.io.IOException => () }
}

object Http {
  /** One CRLF- or LF-terminated line; null at end of stream. */
  def readLine(in: InputStream): String = {
    val sb = new java.io.ByteArrayOutputStream()
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { sb.write(c); c = in.read() }
    val s = new String(sb.toByteArray, UTF_8)
    if (s.endsWith("\r")) s.dropRight(1) else s
  }

  /** Decodes a chunked transfer-encoded body. */
  final class Chunked(in: InputStream) extends InputStream {
    private var left = 0
    private var done = false
    private def nextChunk(): Unit = {
      val line = readLine(in)
      if (line == null) { done = true; return }
      val size = Integer.parseInt(line.takeWhile(_ != ';').trim, 16)
      if (size == 0) { readLine(in); done = true } else left = size
    }
    override def read(): Int = {
      if (done) return -1
      if (left == 0) {
        nextChunk()
        if (done) return -1
      }
      val c = in.read()
      left -= 1
      if (left == 0) readLine(in) // the CRLF after each chunk
      c
    }
  }
}
