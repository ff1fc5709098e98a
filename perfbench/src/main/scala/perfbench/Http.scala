package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** A loopback client for the in-process `HttpApi`. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  def send(method: String, pathAndQuery: String, body: Array[Byte] = Array.emptyByteArray,
           token: Option[String] = None, accept: Option[String] = None): Http.Reply = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
      .method(method,
        if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofByteArray(body))
    token.foreach(b.header("X-Token", _))
    accept.foreach(b.header("Accept", _))
    val t0 = System.nanoTime()
    val r = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    val t = System.nanoTime() - t0
    val hs = Map.newBuilder[String, String]
    r.headers().map().forEach((k, v) => if (!v.isEmpty) hs += k.toLowerCase -> v.get(0))
    Http.Reply(r.statusCode(), r.body(), hs.result(), t)
  }

  def login(user: String, pass: String): String = {
    val r = send("POST", s"/user/login?user=${Http.enc(user)}&pass=${Http.enc(pass)}")
    require(r.ok, s"login failed: ${r.status} ${r.text}")
    "\"token\":\"([^\"]+)\"".r.findFirstMatchIn(r.text).map(_.group(1))
      .getOrElse(throw new IllegalStateException(s"no token in ${r.text}"))
  }
}

object Http {
  final case class Reply(status: Int, body: Array[Byte], headers: Map[String, String],
                         nanos: Long) {
    def ok: Boolean = status / 100 == 2
    def text: String = new String(body, UTF_8)
  }

  def enc(s: String): String = java.net.URLEncoder.encode(s, UTF_8)
}
