package perfbench

import graft.engine.Names

/** One user operation. The HTTP clients and the traced replay execute
  * the same operations, so both see the same seeded request stream.
  */
sealed trait Op {
  /** Route label used for failure counts (`server.non2xx.<route>`). */
  def route: String
}

object Op {
  final case class Upload(u: Gen.Upload) extends Op { val route = "post_sources" }
  /** `check` computes the expected CSV lines; it is never run in a timed window. */
  final case class Sql(label: String, text: String, json: Boolean,
                       check: () => Seq[String]) extends Op { val route = "sql" }
  final case class Search(params: Seq[(String, String)]) extends Op { val route = "get_sources" }
  final case class Meta(name: String, versions: Boolean) extends Op {
    val route: String = if (versions) "versions" else "source_name"
  }
  final case class Download(name: String, version: Int) extends Op { val route = "download" }
  final case class Operator(name: String, subset: String) extends Op { val route = "operator" }

  val Routes: Seq[String] =
    Seq("post_sources", "sql", "get_sources", "source_name", "versions", "download", "operator")

  def searchPath(params: Seq[(String, String)]): String =
    "/sources" + params.map { case (k, v) => s"${Http.enc(k)}=${Http.enc(v)}" }.mkString("?", "&", "")
}

/** The query workload's read mix over the `Gen.Star` catalog, for
  * reader `client`. Requests come in blocks of eight (four `/sql`, two
  * searches, one metadata read and one download of `orders`) in a fixed
  * order, rotated per reader so their downloads do not line up; the four
  * `/sql` requests walk the six templates, also rotated per reader. The
  * seed picks every constant, the result format and the search and
  * metadata targets; the schedule is fixed so that runs with different
  * seeds overlap their requests the same way.
  */
final class ReadMix(star: Gen.Star, seed: Long, client: Int) {
  private val r = new java.util.Random(seed * 31 + client)
  private val names = star.tables.map(_.name).distinct :+ "events"
  private val columns = Seq("l_quantity", "p_brand", "o_custkey", "n_name", "c_name", "s_acctbal")
  private var i = 0
  private var sqls = 0

  def next(): Op = {
    val kind = ReadMix.Schedule((i + 3 * client) % ReadMix.BlockSize)
    i += 1
    kind match {
      case "sql" =>
        val t = (sqls + 2 * client) % star.SqlTemplates
        sqls += 1
        val (label, text, check) = star.sql(t, r)
        Op.Sql(label, text, json = r.nextBoolean(), check)
      case "search" => Op.Search(ReadMix.search(r, names, columns))
      case "meta" => Op.Meta(names(r.nextInt(names.size)), versions = r.nextBoolean())
      case _ => Op.Download("orders", 1)
    }
  }
}

object ReadMix {
  val Schedule: IndexedSeq[String] =
    IndexedSeq("sql", "search", "sql", "meta", "sql", "download", "sql", "search")
  val BlockSize: Int = Schedule.size

  def search(r: java.util.Random, names: Seq[String], columns: Seq[String]): Seq[(String, String)] = {
    val ps = Seq.newBuilder[(String, String)]
    r.nextInt(4) match {
      case 0 => ps += "q" -> names(r.nextInt(names.size)).takeWhile(_ != '.')
      case 1 => ps += "tag" -> Gen.Tags(r.nextInt(Gen.Tags.size))
      case 2 => ps += "column" -> columns(r.nextInt(columns.size))
      case _ => ()
    }
    ps += "sortBy" -> (if (r.nextBoolean()) "name" else "ix:desc")
    ps += "limit" -> (2 + r.nextInt(9)).toString
    ps.result()
  }

  /** A fixed probe of every read route over an arbitrary catalog, given
    * its (name, version, kind) entries: used where a workload has no
    * read mix of its own, so each traced run still covers every layer.
    */
  def probe(entries: Seq[(String, Int, String)]): Seq[Op] = {
    val csv = entries.filter(_._3 == "csv")
    val latest = csv.groupBy(_._1).values.map(_.maxBy(_._2)).toSeq.sortBy(_._1)
    val sqls = latest.take(3).map { case (n, _, _) =>
      val view = Names.sanitize(n, "")
      Op.Sql("probe", s"SELECT count(*) AS n FROM $view", json = false, () => Seq.empty)
    }
    val first = latest.headOption.toSeq
    sqls ++ Seq(
      Op.Search(Seq("tag" -> Gen.Tags.head, "sortBy" -> "name", "limit" -> "5")),
      Op.Search(Seq("q" -> "src", "limit" -> "5"))) ++
      first.flatMap { case (n, v, _) =>
        Seq(Op.Meta(n, versions = false), Op.Meta(n, versions = true), Op.Download(n, v))
      }
  }
}
