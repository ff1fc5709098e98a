package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.engine.Catalog
import graft.server.HttpApi

/** An `HttpApi` on a fresh warehouse, bound to loopback, with a root
  * session.
  */
final class Served(env: Env, label: String) {
  val warehouse: Path = env.freshDir(label)
  val cat = new Catalog(env.spark, warehouse.toString)
  private val api = new HttpApi(cat)
  val http = new Http(api.start())
  val token: String = http.login("root", "")

  def stop(): Unit = api.stop()

  /** Runs one operation over HTTP. Returns the reply, or throws. */
  def exec(op: Op): Http.Reply = op match {
    case Op.Upload(u) => http.send("POST", "/sources" + u.query, u.body, Some(token))
    case Op.Sql(_, text, json, _) =>
      http.send("POST", "/sql", text.getBytes(UTF_8), Some(token),
        Some(if (json) "application/json" else "text/csv"))
    case Op.Search(ps) => http.send("GET", Op.searchPath(ps), token = Some(token))
    case Op.Meta(n, false) => http.send("GET", s"/source/name/${Http.enc(n)}", token = Some(token))
    case Op.Meta(n, true) => http.send("GET", s"/source/${Http.enc(n)}/versions", token = Some(token))
    case Op.Download(n, v) => http.send("GET", s"/source/${Http.enc(n)}/$v/download", token = Some(token))
    case Op.Operator(n, _) => throw new IllegalArgumentException(s"operator $n has no route")
  }

  /** Bytes of every file under the warehouse (data, catalog, acl.json). */
  def storedBytes: Long = Served.treeBytes(warehouse)
}

object Served {
  def treeBytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** The version number in a source JSON reply. */
  def version(body: String): Int =
    "\"version\":(\\d+)".r.findFirstMatchIn(body).map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"no version in reply: ${body.take(200)}"))

  /** Body lines without the trailing newline the streamer appends. */
  def lines(body: String): Seq[String] = body.split("\n", -1).toSeq.dropRight(1)
}
