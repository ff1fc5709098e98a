package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Main.session(work)

  override def afterAll(): Unit = spark.stop()

  private def span(id: Int, parent: Int, start: Long, end: Long, name: String = "s",
                   counters: Map[String, Long] = Map.empty) =
    Span(id, name, "", parent, "r1", start, end, counters)

  // ---- percentile rule ----

  test("p90 is the nearest rank once 100 samples leave 10 beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(xs, 0.9) == 90.0)
  }

  test("below 100 samples p90 drops to the highest rank with 10 samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    // nearest rank of p90 is 36, but only ranks <= 30 leave 10 samples beyond
    assert(Stats.tailPercentile(xs, 0.9) == 30.0)
    assert(Stats.tailPercentile((1 to 11).map(_.toDouble), 0.9) == 1.0)
  }

  test("with 10 or fewer samples the tail percentile falls back to the median") {
    assert(Stats.tailPercentile(Seq(5.0, 1.0, 3.0), 0.9) == 3.0)
    assert(Stats.tailPercentile((1 to 10).map(_.toDouble), 0.9) == 5.5)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  // ---- failure counting ----

  test("failures count per route against every attempt") {
    val t = new Tally
    t.record("sql", ok = true)
    t.record("sql", ok = false)
    t.record("download", ok = true)
    t.record("check.sql", ok = false)
    assert(t.attempted == 4)
    assert(t.failed == 2)
    assert(t.failedFrac == 0.5)
    assert(t.failedByRoute == Map("sql" -> 1L, "check.sql" -> 1L))
    assert(new Tally().failedFrac == 0.0)
  }

  // ---- span self time ----

  test("self time subtracts the union of the children, overlaps counted once") {
    val ms = 1000000L
    val root = span(1, 0, 0, 100 * ms)
    val all = Seq(root,
      span(2, 1, 10 * ms, 30 * ms), span(3, 1, 20 * ms, 40 * ms), // overlap: 10..40
      span(4, 1, 60 * ms, 70 * ms),
      span(5, 4, 61 * ms, 69 * ms)) // a grandchild does not count twice
    assert(Trace.selfMs(root, all) == 60.0)
    assert(Trace.selfMs(all(3), all) == 2.0)
    assert(Trace.durationMs(root) == 100.0)
  }

  test("inclusive counters add every descendant; drift compares them by position") {
    val a = Seq(span(1, 0, 0, 10, "outer", Map("jobs" -> 1L)),
      span(2, 1, 1, 5, "inner", Map("jobs" -> 2L, "tasks" -> 8L)))
    assert(Trace.inclusive(a.head, a) == Map("jobs" -> 3L, "tasks" -> 8L))
    val b = Seq(a.head, a(1).copy(counters = Map("jobs" -> 3L, "tasks" -> 8L)))
    assert(Trace.countLines(a) == Seq("outer[] 3 0 8", "inner[] 2 0 8"))
    assert(Trace.countDrift(Trace.countLines(a), Trace.countLines(a)).isEmpty)
    assert(Trace.countDrift(Trace.countLines(a), Trace.countLines(b)) ==
      Seq("#0 outer[] 3 0 8 vs outer[] 4 0 8", "#1 inner[] 2 0 8 vs inner[] 3 0 8"))
    assert(Trace.countDrift(Trace.countLines(a), Trace.countLines(a).take(1)) ==
      Seq("span count 2 vs 1"))
  }

  // ---- Spark jobs mapped to spans through the local property ----

  test("each job counts against the innermost open span") {
    val tracer = new Tracer(spark)
    tracer.beginRequest("r1")
    val sc = spark.sparkContext
    // RDD counts: exactly one job and one stage each, one task per slice
    tracer.span("outer") {
      sc.parallelize(1 to 10, 2).count()
      tracer.span("inner") {
        sc.parallelize(1 to 10, 3).count()
        sc.parallelize(1 to 10, 4).count()
      }
    }
    sc.parallelize(1 to 3, 1).count() // outside every span: attributed to none
    val spans = tracer.finish()
    tracer.close()
    val outer = spans.find(_.name == "outer").get
    val inner = spans.find(_.name == "inner").get
    assert(inner.parent == outer.id)
    assert(inner.request == "r1")
    assert(outer.counters.filter(kv => Trace.CountKeys.contains(kv._1)) ==
      Map("jobs" -> 1L, "stages" -> 1L, "tasks" -> 2L))
    assert(inner.counters.filter(kv => Trace.CountKeys.contains(kv._1)) ==
      Map("jobs" -> 2L, "stages" -> 2L, "tasks" -> 7L))
    assert(Trace.inclusive(outer, spans)("tasks") == 9L)
    assert(spark.sparkContext.getLocalProperty(Trace.SpanProperty) == null)
  }

  // ---- the query checks agree with the engine ----

  test("every /sql template returns the generator's answer through the replay path") {
    val env = Env(spark, 0, "query", 7, 1, trace = true, work, work)
    val star = new Gen.Star(7, orders = 300)
    val tracer = new Tracer(spark)
    val rp = new Replay(env, tracer, env.freshDir("spec"), work)
    star.uploads.foreach(u => rp.run(Op.Upload(u)))
    assert(rp.tally.failed == 0)
    rp.cat.registerViews()
    val r = new java.util.Random(3)
    (0 until star.SqlTemplates).foreach { t =>
      val (label, text, expect) = star.sql(t, r)
      val df = spark.sql(graft.engine.PgSelect.rewrite(graft.engine.PgJson.rewrite(
        graft.engine.PgStrings.escape(text)), n => scala.util.Try(spark.table(n).columns.toSeq).toOption))
      val got = graft.engine.Export.csvLines(df).toSeq
      assert(got == expect(), s"template $label")
    }
    tracer.close()
  }
}
