package perfbench

import java.net.{HttpURLConnection, SocketTimeoutException, URI}

/** One answered request: status, time to the first response byte and to
  * the last, and the body. Times are `System.nanoTime` readings. */
final case class Reply(code: Int, startNs: Long, ttfbNs: Long, endNs: Long, body: Array[Byte])

/** A blocking loopback HTTP client for `POST /query`. */
object Http {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def post(port: Int, sql: String, format: String, timeoutMs: Int): Either[Failure, Reply] = {
    val payload = mapper.writeValueAsBytes(mapper.createObjectNode().put("query", sql))
    val start = System.nanoTime()
    try {
      val c = new URI(s"http://127.0.0.1:$port/query?format=$format").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(timeoutMs); c.setReadTimeout(timeoutMs)
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      os.write(payload); os.close()
      val code = c.getResponseCode // returns once the status line has arrived
      val ttfb = System.nanoTime()
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val body = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
      val end = System.nanoTime()
      if (code != 200) Left(Failure.Status(code)) else Right(Reply(code, start, ttfb, end, body))
    } catch {
      case _: SocketTimeoutException => Left(Failure.Timeout)
      case _: java.io.IOException => Left(Failure.Transport)
    }
  }
}
