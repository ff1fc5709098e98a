package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** The traced run: one client replays a fixed list of the workload's
  * seeded requests twice through `Replay`, each time on a fresh
  * warehouse. The first replay warms the JVM; the second is measured.
  *
  * Determinism: the second replay's job, stage and task counts per span
  * are saved per workload and seed. A later traced run with the same
  * seed compares its counts with them and reports every span that
  * drifted (stderr and `trace.count_drift`).
  *
  * Layers the workload never reaches get a short fixed probe, so every
  * traced run reports every per-layer metric: ingest and query probe the
  * operators with `OpsProbe`, and operators builds a small star catalog
  * and probes each read route.
  */
object Traced {
  /** Operators the ingest and query traced runs probe: four matched-49
    * queries and the two cheapest of the heavy tail.
    */
  val OpsProbe: Seq[String] = Seq("q05_join_inner", "q12_agg_group", "q16_window_rank",
    "dd01_exact_dedup", "cf02_item_cosine", "pp05_dedup_pipeline")

  private def opsProbe: Seq[Op] = OperatorsWorkload.all.filter(o => OpsProbe.contains(o.name))

  private def readProbe(rp: Replay): Seq[Op] =
    ReadMix.probe(rp.cat.entries.map(e => (e.name, e.version, e.kind)))

  /** The replayed requests: a fixed list, then a probe that may depend on
    * the catalog the list built. Ingest replays the first seven uploads of
    * its schedule, which hold every shape; query builds its catalog and
    * replays the second reader's first block, whose `/sql` requests
    * include the join, top-k and Postgres-dialect templates.
    */
  private def plan(env: Env): (Seq[Op], Replay => Seq[Op]) = env.workload match {
    case "ingest" =>
      val mix = new Gen.UploadMix(env.seed)
      ((0 until 7).map(i => Op.Upload(mix(i))), rp => readProbe(rp) ++ opsProbe)
    case "query" =>
      val star = new Gen.Star(env.seed)
      val mix = new ReadMix(star, env.seed, 1)
      (star.uploads.map(Op.Upload) ++ Seq.fill(ReadMix.BlockSize)(mix.next()), _ => opsProbe)
    case _ =>
      val star = new Gen.Star(env.seed, orders = 2000)
      (OperatorsWorkload.all ++ star.uploads.map(Op.Upload), readProbe)
  }

  private def replay(env: Env, ops: Seq[Op], probe: Replay => Seq[Op]): (Seq[Span], Replay) = {
    val tracer = new Tracer(env.spark)
    val rp = new Replay(env, tracer, env.freshDir(s"trace-${env.workload}"),
      OperatorsWorkload.tablesDir(env))
    ops.foreach(rp.run)
    probe(rp).foreach(rp.run)
    val spans = tracer.finish()
    tracer.close()
    (spans, rp)
  }

  def run(env: Env): Outcome = {
    val (ops, probe) = plan(env)
    replay(env, ops, probe)
    Workloads.log("warm-up replay done")
    val (spans, rp) = replay(env, ops, probe)

    val out = env.workDir.getParent.resolve("out")
    Files.createDirectories(out)
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val spanFile = out.resolve(s"spans-${env.workload}-seed${env.seed}.jsonl")
    Files.write(spanFile, Trace.toJsonLines(spans, t0).mkString("", "\n", "\n").getBytes(UTF_8))
    val countFile = out.resolve(s"counts-${env.workload}-seed${env.seed}.txt")
    val counts = Trace.countLines(spans)
    val previous =
      if (Files.exists(countFile)) Some(Files.readAllLines(countFile, UTF_8).asScala.toSeq) else None
    val drift = previous.map(Trace.countDrift(_, counts)).getOrElse(Seq.empty)
    drift.take(20).foreach(d => System.err.println(s"count drift: $d"))
    Files.write(countFile, counts.mkString("", "\n", "\n").getBytes(UTF_8))

    val primary = env.workload match {
      case "ingest" => "server.post_sources"
      case "query" => "server.sql"
      case _ => "server.operator"
    }
    val layer = Layers.metrics(spans, rp) ++ Seq(
      ("trace.op_p50_ms", Layers.medMs(spans.filter(_.name == primary)), "ms"),
      ("trace.count_drift", drift.size.toDouble, "count"))
    val repo = out.getParent.getParent.getParent
    Outcome(correct = rp.tally.failed == 0, rp.tally, Seq.empty, Seq.empty, layer,
      meta = Seq("span_file" -> repo.relativize(spanFile).toString, "spans" -> spans.size,
        "count_drift_checked" -> previous.nonEmpty, "count_drift" -> drift.take(20),
        "requests" -> rp.tally.attempted, "catalog_entries" -> rp.cat.entries.size))
  }
}

/** Per-layer metrics from one replay's spans. Times are medians per
  * call; job/stage/task counts include the span's children. A layer the
  * replay did not reach reports 0.
  */
object Layers {
  def medMs(ss: Seq[Span]): Double = if (ss.isEmpty) 0.0 else Stats.median(ss.map(Trace.durationMs))

  def metrics(spans: Seq[Span], rp: Replay): Seq[(String, Double, String)] = {
    def named(n: String, tag: String = null) =
      spans.filter(s => s.name == n && (tag == null || s.tag == tag))
    def medCount(ss: Seq[Span], key: String): Double =
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(s => Trace.inclusive(s, spans).getOrElse(key, 0L).toDouble))
    def sumCount(ss: Seq[Span], key: String): Double =
      ss.map(s => Trace.inclusive(s, spans).getOrElse(key, 0L).toDouble).sum
    def children(parent: String, kids: Set[String]): Seq[Seq[Span]] =
      named(parent).map(p => spans.filter(s => s.parent == p.id && kids.contains(s.name)))
    def medSum(groups: Seq[Seq[Span]])(f: Span => Double): Double =
      if (groups.isEmpty) 0.0 else Stats.median(groups.map(_.map(f).sum))

    val parses = named("ingest.csv") ++ named("ingest.json")
    val parseS = parses.map(Trace.durationMs).sum / 1000
    val parseRows = named("server.post_sources").flatMap(_.notes.get("rows")).sum
    val searches = children("server.get_sources", Set("search.count", "search.apply"))
    val downloads = named("export.download")
    val execs = named("exec.sql")
    val ops = named("ops.query")
    val warehouse = java.nio.file.Paths.get(rp.cat.warehouse)
    def bytes(p: java.nio.file.Path) = if (Files.exists(p)) Served.treeBytes(p).toDouble else 0.0

    val byShape = Seq("csv_small", "csv_large", "json")
    val counts = Seq("jobs", "stages", "tasks", "shuffle_bytes", "executor_cpu_ms", "executor_run_ms", "gc_ms")
    val opsCounts = Seq("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
      "executor_cpu_ms", "executor_run_ms", "gc_ms")
    val unit = Map("shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "executor_cpu_ms" -> "ms",
      "executor_run_ms" -> "ms", "gc_ms" -> "ms").withDefaultValue("count")

    byShape.map(t => (s"ingest.parse_ms.$t", medMs(parses.filter(_.tag == t)), "ms")) ++ Seq(
      ("ingest.parse_jobs", medCount(parses, "jobs"), "count"),
      ("ingest.parse_rows_per_s", if (parseS > 0) parseRows / parseS else 0.0, "rows/s")) ++
      byShape.map(t => (s"catalog.ingest_ms.$t", medMs(named("catalog.ingest", t)), "ms")) ++ Seq(
      ("catalog.ingest_jobs", medCount(named("catalog.ingest"), "jobs"), "count"),
      ("catalog.tag_ms", medMs(named("catalog.tag")), "ms"),
      ("catalog.commit_bytes", bytes(warehouse.resolve("catalog")), "bytes"),
      ("catalog.entries_ms", medMs(named("catalog.entries")), "ms"),
      ("catalog.entries_jobs", medCount(named("catalog.entries"), "jobs"), "count"),
      ("catalog.register_views_ms", medMs(named("catalog.register_views")), "ms"),
      ("catalog.register_views_jobs", medCount(named("catalog.register_views"), "jobs"), "count"),
      ("catalog.view_ms", medMs(named("catalog.view")), "ms"),
      ("acl.save_ms", medMs(named("acl.save")), "ms"),
      ("acl.file_bytes", bytes(warehouse.resolve("acl.json")), "bytes"),
      ("acl.can_read_df_ms", medMs(named("acl.can_read_df")), "ms"),
      ("search.ms", medSum(searches)(Trace.durationMs), "ms"),
      ("search.jobs", medSum(searches)(s => Trace.inclusive(s, spans).getOrElse("jobs", 0L).toDouble), "count"),
      ("rewrite.ms", medMs(named("rewrite")), "ms"),
      ("gate.summarize_ms", medMs(named("gate.summarize")), "ms"),
      ("gate.analyze_ms", medMs(named("gate.analyze")), "ms"),
      ("exec.sql_ms", medMs(execs), "ms")) ++
      counts.map(k => (s"exec.$k", medCount(execs, k), unit(k))) ++ Seq(
      ("export.download_ms", medMs(downloads), "ms"),
      ("export.download_jobs", medCount(downloads, "jobs"), "count"),
      ("export.bytes", if (downloads.isEmpty) 0.0 else Stats.median(downloads.flatMap(_.notes.get("bytes"))), "bytes")) ++
      Seq("matched49", "heavy").flatMap { sub =>
        val ss = ops.filter(_.tag == sub)
        (s"ops.plan_ms.$sub", sumCount(ss, "plan_ms"), "ms") +:
          opsCounts.map(k => (s"ops.$k.$sub", sumCount(ss, k), unit(k)))
      } ++
      Op.Routes.map(r => (s"server.non2xx.$r", rp.tally.failedByRoute.getOrElse(r, 0L).toDouble, "count")) :+
      ("server.failed_frac", rp.tally.failedFrac, "ratio")
  }
}
