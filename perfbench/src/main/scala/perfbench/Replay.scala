package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.engine._

/** The traced path: executes operations in-process, on the calling
  * thread, through the same public layer functions `HttpApi`'s route
  * bodies call, in the same order, with a span around each call. The
  * engine is not modified; the spans sit at the layer boundaries.
  */
final class Replay(env: Env, tracer: Tracer, warehouse: Path, opsDir: Path) {
  private val spark = env.spark
  val cat = new Catalog(spark, warehouse.toString)
  val aclPath = s"$warehouse/acl.json"
  private var acl: Acl.State = {
    val st = Acl.State(admins = Set("root")).addUser("root", "")
    AclStore.save(spark, aclPath, st)
    st
  }
  val tally = new Tally
  private var requests = 0

  /** Runs one operation as a request; a failure counts against its route. */
  def run(op: Op): Unit = {
    requests += 1
    tracer.beginRequest(s"r$requests")
    val ok =
      try { tracer.span(s"server.${op.route}", tagOf(op))(exec(op)); true }
      catch { case _: Exception => false }
    tally.record(op.route, ok)
  }

  private def tagOf(op: Op): String = op match {
    case Op.Upload(u) => u.shape
    case Op.Sql(label, _, _, _) => label
    case Op.Operator(name, _) => name
    case _ => ""
  }

  private def exec(op: Op): Unit = op match {
    case Op.Upload(u) => upload(u)
    case Op.Sql(label, text, json, _) => sql(label, text, json)
    case Op.Search(ps) => search(ps)
    case Op.Meta(n, versions) =>
      val es = tracer.span("catalog.entries")(cat.entries).filter(_.name == n)
      if (es.isEmpty) throw new NoSuchElementException(s"no source $n")
      if (!acl.canRead(Some("root"), n)) throw Acl.Denied(n)
      if (!versions) es.maxBy(_.version)
    case Op.Download(n, v) =>
      if (!acl.canRead(Some("root"), n)) throw Acl.Denied(n)
      val e = tracer.span("catalog.entries")(cat.entries).find(x => x.name == n && x.version == v)
        .getOrElse(throw new NoSuchElementException(s"$n v$v"))
      val df = tracer.span("catalog.view")(cat.view(n, v))
      tracer.span("export.download", e.kind) {
        val bytes =
          if (e.kind == "json") Export.jsonRaw(df).getBytes("UTF-8").length.toLong
          else Export.csvLines(df).foldLeft(0L)((b, l) => b + l.getBytes("UTF-8").length + 1)
        tracer.note("bytes", bytes)
      }
    case Op.Operator(name, subset) =>
      tracer.span("ops.query", subset) {
        tracer.note("rows", SparkEntry.queries(name)(spark, opsDir.toString).count())
      }
      Replay.dropLeftoverBlocks(spark)
  }

  // POST /sources (HttpApi.scala, the "sources" POST route)
  private def upload(u: Gen.Upload): Unit = {
    val isNew = !tracer.span("catalog.entries")(cat.entries).exists(_.name == u.name)
    val ext = u.name.lastIndexOf('.') match {
      case -1 => if (u.kind == "json") ".json" else ".csv"
      case i => u.name.substring(i)
    }
    val tmp = Files.createTempFile(env.workDir, "upload", ext)
    try {
      Files.write(tmp, u.body)
      val ing =
        if (u.kind == "json") tracer.span("ingest.json", u.shape)(
          Ingest.json(spark, tmp.toString, Ingest.JsonOptions(path = "_")))
        else tracer.span("ingest.csv", u.shape)(Ingest.csv(spark, tmp.toString, Ingest.CsvOptions()))
      tracer.note("rows", u.rows)
      val e = tracer.span("catalog.ingest", u.shape)(cat.ingest(u.name, ing, u.kind, addedBy = "root"))
      u.tag.foreach(t => tracer.span("catalog.tag")(cat.tag(e.name, e.version, t)))
      if (isNew) {
        acl = acl.onCreate("root", e.name, public = true)
        tracer.span("acl.save")(AclStore.save(spark, aclPath, acl))
      }
      if (u.tag.nonEmpty) tracer.span("catalog.entries")(cat.entries)
    } finally Files.deleteIfExists(tmp)
  }

  // POST /sql: views, owner map, rewrite chain, gate, execution, stream
  private def sql(label: String, text: String, json: Boolean): Unit = {
    tracer.span("catalog.register_views")(cat.registerViews())
    val owner = tracer.span("catalog.sql_names")(cat.sqlNames).map { case (n, e) => n.toLowerCase -> e.name }
    val schemaOf: String => Option[Seq[String]] = n =>
      if (owner.contains(n.toLowerCase)) scala.util.Try(spark.table(n).columns.toSeq).toOption
      else None
    val rewritten = tracer.span("rewrite")(
      PgSelect.rewrite(PgJson.rewrite(PgStrings.escape(text)), schemaOf))
    // SqlGate.execute's body, split so summarize and analysis time apart
    val summary = tracer.span("gate.summarize")(SqlGate.summarize(spark, rewritten))
    summary.reads.foreach { t =>
      if (!owner.contains(t)) throw SqlGate.Denied(s"unknown table: $t")
      if (!owner.get(t).exists(ds => acl.canRead(Some("root"), ds))) throw SqlGate.Denied(t)
    }
    val df = tracer.span("gate.analyze")(spark.sql(rewritten))
    tracer.span("exec.sql", label) {
      val it = if (json) df.toJSON.toLocalIterator().asScala else Export.csvLines(df)
      tracer.note("bytes", it.foldLeft(0L)((b, l) => b + l.length + 1))
    }
  }

  // GET /sources
  private def search(ps: Seq[(String, String)]): Unit = {
    val p = ps.groupMap(_._1)(_._2)
    def p1(k: String) = p.get(k).flatMap(_.headOption)
    val spec = Search.SourcesSpec(
      limit = p1("limit").map(_.toInt),
      sortBy = p.getOrElse("sortBy", Seq.empty).map { s =>
        val (c, dir) = s.span(_ != ':'); (c, dir != ":desc") },
      filterTags = p.getOrElse("tag", Seq.empty),
      filterColumns = p.getOrElse("column", Seq.empty),
      searchQuery = p1("q"),
      readableBy = Some("root"))
    val names = tracer.span("catalog.entries")(cat.entries).map(_.name).distinct
    val aclDf = tracer.span("acl.can_read_df")(acl.canReadDf(spark, names))
    val total = tracer.span("search.count")(Search.count(cat.df, spec, Some(aclDf)))
    val ixs = tracer.span("search.apply")(
      Search(cat.df, spec, Some(aclDf)).select("ix").collect().map(_.getLong(0)).toSet)
    tracer.span("catalog.entries")(cat.entries).filter(e => ixs.contains(e.ix))
    tracer.note("total", total)
  }
}

object Replay {
  /** Drops blocks an operator left persisted, as graft.Bench does
    * between queries, so later queries run with the same free memory.
    */
  def dropLeftoverBlocks(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
