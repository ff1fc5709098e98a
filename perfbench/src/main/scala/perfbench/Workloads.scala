package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkEntry

object Workloads {
  val names: Seq[String] = Seq("ingest", "query", "operators")

  def run(env: Env): Outcome =
    if (env.trace) Traced.run(env)
    else env.workload match {
      case "ingest" => IngestWorkload.run(env)
      case "query" => QueryWorkload.run(env)
      case "operators" => OperatorsWorkload.run(env)
    }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()

  /** Progress on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${seconds(started)}%7.2f] $msg")

  /** Runs `clients` closed-loop threads; each calls `step(client)` while
    * `more(client)` holds. Returns the wall time until the last client
    * finished its last operation.
    */
  def closedLoop(clients: Int)(more: Int => Boolean)(step: Int => Unit): Double = {
    val t0 = System.nanoTime()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until clients).map { c =>
      val t = new Thread(() =>
        try { while (more(c)) step(c) }
        catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    ts.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    seconds(t0)
  }

  /** setup_s: session boot plus the median of several set-ups. */
  def setupS(env: Env, setups: Seq[Double]): Double = env.sessionBootS + Stats.median(setups)

  /** The end-to-end metrics every workload reports. p50_ms is the
    * latency of the workload's main operation.
    */
  def e2e(setup: Double, primary: Seq[Double], opsPerS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setup, "s"),
    ("p50_ms", if (primary.isEmpty) 0.0 else Stats.median(primary), "ms"),
    ("ops_per_s", opsPerS, "1/s"))

  /** A workload's own timing for the meta line, with its sample count. */
  def named(name: String, xs: Seq[Double], unit: String,
            stat: Seq[Double] => Double = Stats.median): (String, Double, String, Int) =
    (name, if (xs.isEmpty) 0.0 else stat(xs), unit, xs.size)

  val p90: Seq[Double] => Double = Stats.tailPercentile(_, 0.9)
}

import Workloads._

/** Two closed-loop writers upload one block of the seeded mix into an
  * empty catalog, in rounds: each round starts a fresh server on a fresh
  * warehouse, so every round does the same work, and rounds repeat until
  * `--seconds` of timed uploads have passed.
  */
object IngestWorkload {
  val Writers = 2

  /** Set-ups per run; setup_s reports their median. */
  val SetupRepeats = 3

  /** The warm-up: one small CSV, one JSON upload and one 20k-row CSV. */
  def warmUps(seed: Long): Seq[Gen.Upload] = {
    val mix = new Gen.UploadMix(seed + 1000003L, largeRows = 20000)
    val first = (0 until Gen.BlockSize).map(mix(_))
    Seq("csv_small", "json", "csv_large").flatMap(sh => first.find(_.shape == sh))
  }

  def run(env: Env): Outcome = {
    val warm = warmUps(env.seed)
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val s = new Served(env, s"ingest-setup$i")
      warm.foreach(u => require(s.exec(Op.Upload(u)).ok, s"warm-up upload ${u.name} failed"))
      s.stop()
      seconds(t0)
    }
    log(f"ingest set-ups: ${setups.map(x => f"$x%.1f").mkString(" ")} s")
    val block = (0 until Gen.BlockSize).map(new Gen.UploadMix(env.seed)(_))
    val tally = new Tally
    val lat = new Samples
    var correct = true
    var rounds = 0
    var timed = 0.0
    var stored = 0L
    while (rounds == 0 || timed < env.seconds) {
      rounds += 1
      val s = new Served(env, s"ingest-round$rounds")
      val (done, wall) = round(s, block, tally, lat)
      timed += wall
      log(f"round $rounds: ${done.size} uploads in $wall%.1f s")
      correct &&= check(s, done, tally)
      stored += s.storedBytes
      s.stop()
    }

    val uploads = lat.get("ingest")
    val rows = block.map(_.rows).sum * rounds
    val inBytes = block.map(_.body.length.toLong).sum * rounds
    Outcome(correct, tally,
      e2e(setupS(env, setups), uploads, uploads.size / timed),
      Seq(named("ingest_p50_ms", uploads, "ms"), named("ingest_p90_ms", uploads, "ms", p90),
        ("ingest_rows_per_s", rows / timed, "rows/s", uploads.size),
        ("stored_bytes_per_input_byte", stored.toDouble / inBytes.max(1L), "ratio", uploads.size)),
      meta = Seq("rounds" -> rounds, "catalog_entries" -> block.size, "uploads_by_shape" ->
        block.groupBy(_.shape).map { case (k, v) => k -> v.size }))
  }

  /** One round: the writers take the block's uploads in order from a
    * shared counter until none is left. Returns the uploads that got a
    * 201, with the version each was given, and the round's wall time.
    */
  def round(s: Served, block: Seq[Gen.Upload], tally: Tally, lat: Samples): (Seq[(Gen.Upload, Int)], Double) = {
    val done = new ConcurrentLinkedQueue[(Gen.Upload, Int)]()
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val taken = new ThreadLocal[Int]
    val wall = closedLoop(Writers) { _ =>
      taken.set(next.getAndIncrement())
      taken.get < block.size
    } { _ =>
      val u = block(taken.get)
      val ok =
        try {
          val r = s.exec(Op.Upload(u))
          if (r.ok) {
            lat.add("ingest", r.nanos / 1e6)
            done.add((u, Served.version(r.text)))
          }
          r.ok
        } catch { case _: Exception => false }
      tally.record("post_sources", ok)
    }
    (done.asScala.toSeq, wall)
  }

  /** The final catalog holds exactly the completed uploads, each with the
    * generator's row count, column types and tag; acl.json lists every
    * created source.
    */
  def check(s: Served, completed: Seq[(Gen.Upload, Int)], tally: Tally): Boolean = {
    val es = s.cat.entries
    var ok = es.size == completed.size
    tally.record("check.catalog_size", ok)
    completed.foreach { case (u, v) =>
      val good = es.find(e => e.name == u.name && e.version == v).exists(e =>
        e.rowCount == u.rows && e.colTypes == u.expectTypes && u.tag.forall(e.tags.contains))
      if (!good) System.err.println(s"check failed: ${u.name} v$v (${u.shape})")
      tally.record("check.entry", good)
      ok &&= good
    }
    val acl = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(s.warehouse.resolve("acl.json").toFile)
    val listed = acl.get("userAccess").elements().asScala.map(_.get("source").asText()).toSet
    val aclOk = completed.map(_._1.name).toSet.subsetOf(listed)
    tally.record("check.acl", aclOk)
    ok && aclOk
  }
}

/** Three closed-loop readers over a ten-entry star catalog, in rounds:
  * each reader sends one block of requests per round, and rounds repeat
  * until `--seconds` of rounds have passed.
  */
object QueryWorkload {
  val Readers = 3

  def build(s: Served, star: Gen.Star): Unit =
    star.uploads.foreach { u =>
      val r = s.exec(Op.Upload(u))
      require(r.ok, s"catalog upload ${u.name} failed: ${r.status} ${r.text.take(300)}")
    }

  /** One request of each read route. */
  def warmUp(s: Served, star: Gen.Star, seed: Long): Unit = {
    val (l, text, _) = star.sql(3, new java.util.Random(seed))
    Seq(Op.Sql(l, text, json = false, () => Seq.empty), Op.Search(Seq("tag" -> "finance")),
      Op.Meta("part", versions = true), Op.Download("orders", 1)).foreach { op =>
      val r = s.exec(op)
      require(r.ok, s"warm-up ${op.route} failed: ${r.status} ${r.text.take(300)}")
    }
  }

  def run(env: Env): Outcome = {
    val star = new Gen.Star(env.seed)
    star.uploads // generate before timing the set-up
    // One set-up only: building the catalog costs about as much as the
    // timed window, so repeating it would not fit a run's time budget.
    val t0 = System.nanoTime()
    val s = new Served(env, "query")
    build(s, star)
    warmUp(s, star, env.seed + 5)
    val setup = seconds(t0)
    log(f"query set-up: $setup%.1f s")

    val tally = new Tally
    val lat = new Samples
    val replies = new ConcurrentLinkedQueue[(Op, Http.Reply)]()
    val mixes = (0 until Readers).map(c => new ReadMix(star, env.seed, c))
    var rounds = 0
    var wall = 0.0
    while (rounds == 0 || wall < env.seconds) {
      rounds += 1
      val done = Array.fill(Readers)(0)
      val w = closedLoop(Readers)(c => done(c) < ReadMix.BlockSize) { c =>
        done(c) += 1
        val op = mixes(c).next()
        val ok =
          try {
            val r = s.exec(op)
            if (r.ok) {
              lat.add(key(op), r.nanos / 1e6)
              replies.add((op, r))
            } else System.err.println(s"${op.route} ${r.status}: ${r.text.take(300)}")
            r.ok
          } catch { case e: Exception => System.err.println(s"${op.route}: $e"); false }
        tally.record(op.route, ok)
      }
      wall += w
      log(f"round $rounds: ${Readers * ReadMix.BlockSize} requests in $w%.1f s")
    }
    s.stop()
    val correct = check(star, replies.asScala.toSeq, tally)

    val requests = replies.size
    val sql = lat.get("sql")
    val dls = replies.asScala.toSeq.filter(_._1.route == "download").map(_._2)
    val dlS = dls.map(_.nanos).sum / 1e9
    Outcome(correct, tally,
      e2e(env.sessionBootS + setup, sql, requests / wall),
      Seq(named("sql_p50_ms", sql, "ms"), named("sql_p90_ms", sql, "ms", p90),
        named("search_p50_ms", lat.get("search"), "ms"), named("meta_p50_ms", lat.get("meta"), "ms"),
        ("download_mb_per_s", if (dlS > 0) dls.map(_.body.length.toLong).sum / 1e6 / dlS else 0.0,
          "MB/s", dls.size),
        ("requests_per_s", requests / wall, "req/s", requests)),
      meta = Seq("rounds" -> rounds, "catalog_entries" -> star.uploads.size, "fact_rows" -> star.lineitem.rows.size,
        "samples" -> lat.counts))
  }

  private def key(op: Op): String = op match {
    case _: Op.Meta => "meta"
    case _: Op.Search => "search"
    case o => o.route
  }

  /** Checks the window's replies against the generator: every CSV `/sql`
    * result line by line (JSON results by row count), every `orders`
    * download byte for byte (rows in any order), the X-Total-Count of
    * every tag and column search and the source name of every metadata
    * read.
    */
  def check(star: Gen.Star, replies: Seq[(Op, Http.Reply)], tally: Tally): Boolean = {
    val (header, rows) = star.ordersDownload
    val sortedRows = rows.sorted
    val dlBytes = (header +: rows).map(_.length + 1).sum
    val latest = star.uploads.groupBy(_.name).values.map(_.maxBy(_.seq)).toSeq
    val columns = star.tables.groupBy(_.name).values.map(_.last).map(t => t.name -> t.header).toMap
    def total(ps: Seq[(String, String)]): Option[Int] = ps.map(_._1).filterNot(Set("sortBy", "limit")) match {
      case Seq("tag") =>
        val t = ps.toMap.apply("tag")
        Some(latest.count(_.tag.exists(_.toLowerCase.contains(t))))
      case Seq("column") =>
        val c = ps.toMap.apply("column")
        Some(latest.count(u => columns.get(u.name).exists(_.exists(_.contains(c)))))
      case _ => None
    }
    replies.map { case (op, r) =>
      val (what, ok) = op match {
        case Op.Sql(label, _, json, expect) =>
          val got = Served.lines(r.text)
          val want = expect()
          (s"sql $label", if (json) got.size == want.size - 1 else got == want)
        case _: Op.Download =>
          val got = Served.lines(r.text)
          ("download", r.body.length == dlBytes && got.headOption.contains(header) &&
            got.tail.sorted == sortedRows)
        case Op.Search(ps) =>
          ("search", total(ps).forall(t => r.headers.get("x-total-count").contains(t.toString)))
        case Op.Meta(n, _) => ("meta", r.text.contains(s""""name":${Json.str(n)}"""))
        case _ => ("reply", true)
      }
      if (!ok) System.err.println(s"check failed: $what: ${r.text.take(200)}")
      tally.record(s"check.${op.route}", ok)
      ok
    }.forall(identity)
  }
}

/** One thread, warm: the matched-49 baseline queries and the heavy tail
  * through `SparkEntry.queries`, on the bundled sf0.01 tables.
  */
object OperatorsWorkload {
  val Matched49: Seq[String] = Seq(
    "dd01_exact_dedup", "dd02_minhash_lsh", "dd03_simhash_pairs",
    "dd04_ngram_jaccard", "dd05_cosine_dups", "mm01_binary_meta",
    "q01_scan", "q02_filter_pushdown", "q03_project_expr",
    "q04_filter_like", "q05_join_inner", "q06_join_left",
    "q07_join_full", "q08_theta_join", "q09_semi_join",
    "q10_anti_join", "q11_agg_plain", "q12_agg_group", "q13_distinct",
    "q14_count_distinct", "q15_approx_count_distinct",
    "q16_window_rank", "q17_window_running", "q18_sort_multi",
    "q19_topk", "q20_limit_offset", "q21_union_all", "q22_intersect",
    "q23_except", "q24_except_all", "q25_cte", "q26_subquery_scalar",
    "q27_subquery_correlated", "q28_values", "q29_recursive_cte",
    "q30_rollup", "q31_string_funcs", "q32_date_math_funcs",
    "q33_case_when", "q34_array_funcs", "q35_json_access",
    "q36_json_agg", "sim01_cosine_topk", "sim02_lsh_topk",
    "st01_event_window", "tx01_token_stats", "tx02_quality",
    "tx03_langid", "tx04_fingerprint")
  val Heavy: Seq[String] = Seq(
    "gr04_modularity", "gr06_community_pipeline", "cf02_item_cosine", "pp09_incontext_packing",
    "sd02_semantic_clusters", "st11_ttl_dedup", "pp05_dedup_pipeline", "cu01_curriculum_order")

  def all: Seq[Op.Operator] =
    Matched49.map(Op.Operator(_, "matched49")) ++ Heavy.map(Op.Operator(_, "heavy"))

  def tablesDir(env: Env): Path = env.dataDir.resolve("sf0.01")

  def expectedRows(env: Env): Map[String, Long] = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(env.dataDir.resolve("operators_rows_sf0.01.json").toFile)
    j.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }

  def pass(env: Env, ops: Seq[Op.Operator]): Seq[(Op.Operator, Double, Long)] = {
    val dir = tablesDir(env).toString
    ops.map { op =>
      val t0 = System.nanoTime()
      val n =
        try SparkEntry.queries(op.name)(env.spark, dir).count()
        catch { case e: Exception => System.err.println(s"${op.name}: $e"); -1L }
      val t = seconds(t0)
      Replay.dropLeftoverBlocks(env.spark)
      (op, t, n)
    }
  }

  def run(env: Env): Outcome = {
    val expected = expectedRows(env)
    val t0 = System.nanoTime()
    pass(env, all)
    val setup = seconds(t0)

    val tally = new Tally
    val walls = new Samples
    val r = new java.util.Random(env.seed)
    val start = System.nanoTime()
    var passes = 0
    while (passes == 0 || seconds(start) < env.seconds) {
      val order = scala.util.Random.javaRandomToRandom(r).shuffle(all)
      pass(env, order).foreach { case (op, t, n) =>
        walls.add(op.name, t)
        val ok = expected.get(op.name).contains(n)
        if (!ok) System.err.println(s"check failed: ${op.name} rows $n vs ${expected.get(op.name)}")
        tally.record("operator", ok)
      }
      passes += 1
    }
    val wall = seconds(start)
    val perQuery = all.map(op => op -> Stats.median(walls.get(op.name)))
    def subset(s: String) = perQuery.filter(_._1.subset == s).map(_._2).sum
    val samples = all.flatMap(op => walls.get(op.name)).map(_ * 1000)
    Outcome(tally.failed == 0, tally,
      e2e(env.sessionBootS + setup, samples, samples.size / wall),
      Seq(("ops_matched49_s", subset("matched49"), "s", passes), ("ops_heavy_s", subset("heavy"), "s", passes)),
      meta = Seq("passes" -> passes, "tables" -> "sf0.01",
        "heavy_wall_s" -> perQuery.filter(_._1.subset == "heavy").map { case (o, t) => o.name -> t }.toMap))
  }

  /** Writes the expected row count of every query (run once, committed). */
  def main(args: Array[String]): Unit = {
    val dataDir = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val work = Files.createTempDirectory("perfbench-record")
    val spark = Main.session(work)
    val env = Env(spark, 0, "operators", 0, 0, trace = false, dataDir, work)
    val rows = pass(env, all).map { case (op, _, n) => op.name -> n }
    Files.write(dataDir.resolve("operators_rows_sf0.01.json"),
      (Json.value(rows.toMap) + "\n").getBytes(UTF_8))
    spark.stop()
  }
}
