package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Seeded input generators. Every upload, table and query constant is a
  * pure function of the seed, and the generators keep what they made,
  * so the workloads can check the engine's outputs against it.
  */
object Gen {

  /** One upload of the ingest mix. `expectTypes` is the column type list
    * inference must produce (catalog display names).
    */
  final case class Upload(
      seq: Int, name: String, kind: String, shape: String, tag: Option[String],
      body: Array[Byte], rows: Long, expectTypes: Seq[String]) {
    def query: String =
      s"?name=${Http.enc(name)}&kind=$kind" + tag.map(t => s"&tag=${Http.enc(t)}").getOrElse("")
  }

  val Tags: Seq[String] = Seq("finance", "ops", "raw", "curated")

  private val Words = Seq("alpha", "beta", "gamma", "delta", "lagoon", "river",
    "sand", "reed", "heron", "tide", "marsh", "salt", "fen")
  private val Bools = Seq("true", "false", "yes", "no", "t", "f", "on", "off")

  /** Columns of every generated CSV/TSV upload and their inferred types.
    * Ints start at 2 because a lone 0 or 1 lexes as a bool literal.
    */
  val TabularHeader: Seq[String] = Seq("id", "qty", "price", "flag", "day", "note", "opt")
  val TabularTypes: Seq[String] =
    Seq("INTEGER", "INTEGER", "DOUBLE PRECISION", "BOOLEAN", "TEXT", "TEXT", "TEXT")

  // The generators below format by hand: String.format would dominate
  // the time to build a 100k-row upload.
  private def pad2(n: Int): String = if (n < 10) "0" + n else n.toString

  private def date(r: java.util.Random): String = {
    val y = 10 + r.nextInt(15)
    val m = 1 + r.nextInt(12)
    "20" + y + "-" + pad2(m) + "-" + pad2(1 + r.nextInt(28))
  }

  /** A non-negative amount of cents as a decimal with two places. */
  private def cents(n: Int): String = (n / 100) + "." + pad2(n % 100)

  /** A CSV (or TSV) with ints, reals, bool literals, dates, quoted text
    * holding commas, empty text fields and a few short (ragged) rows.
    */
  def tabular(r: java.util.Random, rows: Int, sep: Char): Array[Byte] = {
    val sb = new java.lang.StringBuilder(rows * 64)
    sb.append(TabularHeader.mkString(sep.toString)).append('\n')
    var i = 0
    while (i < rows) {
      val note =
        if (sep == ',') "\"" + Words(r.nextInt(Words.size)) + ", " + Words(r.nextInt(Words.size)) + "\""
        else Words(r.nextInt(Words.size)) + " " + Words(r.nextInt(Words.size))
      val fields = Seq(
        (i + 2).toString, (2 + r.nextInt(499)).toString,
        cents(r.nextInt(100000)), Bools(r.nextInt(Bools.size)), date(r), note,
        if (r.nextInt(4) == 0) "" else Words(r.nextInt(Words.size)))
      // about one row in fifty is ragged: its last one or two fields are missing
      val keep = if (r.nextInt(50) == 0) fields.size - 1 - r.nextInt(2) else fields.size
      sb.append(fields.take(keep).mkString(sep.toString)).append('\n')
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Newline-separated JSON documents (a multi-value JSON upload). */
  def jsonDocs(r: java.util.Random, docs: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder(docs * 80)
    var i = 0
    while (i < docs) {
      sb.append(s"""{"user":"u${r.nextInt(500)}","kind":"${Words(r.nextInt(Words.size))}",""")
        .append(s""""n":${2 + r.nextInt(90)},"ok":${r.nextBoolean()},""")
        .append(s""""props":{"depth":${r.nextInt(9)},"path":"/${Words(r.nextInt(Words.size))}"}}""")
        .append('\n')
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  /** The ingest workload's upload sequence, in blocks of `BlockSize`
    * following `Schedule`: eight small CSVs (200 to 2,000 rows, spread
    * evenly), one TSV, two JSON uploads and one 100k-row CSV. A third of
    * the uploads are new versions of an earlier source of the same shape
    * and a quarter carry a tag. The seed picks the data, which source a
    * version goes to and the tag; the schedule is fixed, so every block
    * carries the same work and runs ending on a block boundary see the
    * same mix whatever the seed.
    */
  final class UploadMix(seed: Long, largeRows: Int = 100000) {
    private val r = new java.util.Random(seed * 7919L + 17)
    private val made = mutable.ArrayBuffer.empty[Upload]

    def apply(i: Int): Upload = synchronized {
      while (made.size <= i) made += next(made.size)
      made(i)
    }

    private def next(seq: Int): Upload = {
      val slot = seq % BlockSize
      val (shape, version, tagged) = Schedule(slot)
      val n = shape match {
        case "csv_small" => 200 + Schedule.take(slot).count(_._1 == "csv_small") * 257 + r.nextInt(30)
        case "tsv" => 900 + r.nextInt(200)
        case "json" => 250 + r.nextInt(100)
        case _ => largeRows
      }
      val ext = shape match { case "tsv" => ".tsv"; case "json" => ".json"; case _ => ".csv" }
      val kind = if (shape == "json") "json" else "csv"
      val earlier = made.filter(_.shape == shape)
      val name =
        if (version && earlier.nonEmpty) earlier(r.nextInt(earlier.size)).name
        else s"src_$seq$ext"
      val tag = if (tagged) Some(Tags(r.nextInt(Tags.size))) else None
      val (body, types) = shape match {
        case "json" => (jsonDocs(r, n), Seq("JSON"))
        case "tsv" => (tabular(r, n, '\t'), TabularTypes)
        case _ => (tabular(r, n, ','), TabularTypes)
      }
      Upload(seq, name, kind, shape, tag, body, n.toLong, types)
    }
  }

  /** Per block slot: shape, whether it is a new version, whether tagged. */
  val Schedule: IndexedSeq[(String, Boolean, Boolean)] = IndexedSeq(
    ("csv_small", false, false), ("json", false, true), ("csv_small", true, false),
    ("csv_small", false, false), ("tsv", false, false), ("csv_small", true, false),
    ("csv_large", false, false), ("csv_small", false, true), ("json", true, false),
    ("csv_small", true, false), ("csv_small", false, false), ("csv_small", false, true))

  val BlockSize: Int = Schedule.size

  // ------------------------------------------------------------------
  // The query workload's catalog: a TPC-H-like star plus a JSON source.

  final case class Table(name: String, kind: String, tag: Option[String],
                         header: Seq[String], rows: IndexedSeq[IndexedSeq[String]]) {
    def csv: Array[Byte] = {
      val sb = new java.lang.StringBuilder(rows.size * 48)
      sb.append(header.mkString(",")).append('\n')
      rows.foreach(r => sb.append(r.map(Gen.csvField).mkString(",")).append('\n'))
      sb.toString.getBytes(UTF_8)
    }
  }

  def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  final case class Event(user: String, kind: String, n: Int)

  /** The star schema, sized so a fresh catalog builds in a few seconds. */
  final class Star(seed: Long, val orders: Int = 30000) {
    private val r = new java.util.Random(seed * 104729L + 3)
    val parts = 2000
    val suppliers = 100
    val customers = 1500
    val brands: IndexedSeq[String] = (1 to 25).map(i => f"Brand#$i%02d")
    val flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
    private val Discounts = (0 to 10).map(n => f"${n / 100.0 + 0.001}%.3f")

    val nation: Table = Table("nation", "csv", Some("reference"), Seq("n_nationkey", "n_name", "n_regionkey"),
      (0 until 25).map(i => IndexedSeq((i + 2).toString, s"NATION_${(i * 7) % 25}", ((i % 5) + 2).toString)))
    val region: Table = Table("region", "csv", Some("reference"), Seq("r_regionkey", "r_name"),
      (0 until 5).map(i => IndexedSeq((i + 2).toString, s"REGION_$i")))
    val part: Table = Table("part", "csv", Some("finance"),
      Seq("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice"),
      (0 until parts).map(i => IndexedSeq((i + 2).toString,
        s"${Words(r.nextInt(Words.size))} ${Words(r.nextInt(Words.size))}",
        brands(r.nextInt(brands.size)), (2 + r.nextInt(49)).toString,
        f"${900 + r.nextInt(110000) / 100.0}%.2f")))
    /** An older, smaller version of `part`, uploaded first. */
    val partV1: Table = part.copy(rows = part.rows.take(500))
    val supplier: Table = Table("supplier", "csv", None, Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      (0 until suppliers).map(i => IndexedSeq((i + 2).toString, f"Supplier#$i%04d",
        (2 + r.nextInt(25)).toString, f"${r.nextInt(1000000) / 100.0 - 999}%.2f")))
    val customer: Table = Table("customer", "csv", Some("ops"),
      Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
      (0 until customers).map(i => IndexedSeq((i + 2).toString, f"Customer#$i%05d",
        (2 + r.nextInt(25)).toString, Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD")(r.nextInt(4)))))
    /** The download target: ints and plain text only, so its CSV export
      * is predictable byte for byte.
      */
    val ordersT: Table = Table("orders", "csv", Some("finance"),
      Seq("o_orderkey", "o_custkey", "o_orderdate", "o_priority"),
      (0 until orders).map(i => IndexedSeq((i + 2).toString, (2 + r.nextInt(customers)).toString,
        date(r), s"${1 + r.nextInt(5)}-PRIORITY")))
    /** One to seven lines per order: about four times `orders` rows. */
    val lineitem: Table = {
      val rows = new mutable.ArrayBuffer[IndexedSeq[String]](orders * 4)
      (0 until orders).foreach { k =>
        (1 to 1 + r.nextInt(7)).foreach { ln =>
          rows += IndexedSeq((k + 2).toString, (2 + r.nextInt(parts)).toString,
            (2 + r.nextInt(suppliers)).toString, (ln + 1).toString, (2 + r.nextInt(49)).toString,
            cents(90000 + r.nextInt(10000000)), Discounts(r.nextInt(11)),
            date(r), flags(r.nextInt(3)), s"${Words(r.nextInt(Words.size))}, ${Words(r.nextInt(Words.size))}")
        }
      }
      Table("lineitem", "csv", Some("finance"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_discount", "l_shipdate", "l_returnflag", "l_comment"), rows.toIndexedSeq)
    }
    val notes: Table = Table("notes.tsv", "csv", Some("raw"), Seq("id", "note"),
      (0 until 300).map(i => IndexedSeq((i + 2).toString, s"${Words(r.nextInt(Words.size))} note")))
    val events: IndexedSeq[Event] = (0 until 2000).map(_ =>
      Event(s"u${r.nextInt(300)}", Words(r.nextInt(Words.size)), 2 + r.nextInt(90)))
    def eventsJson: Array[Byte] = events.map(e =>
      s"""{"user":"${e.user}","kind":"${e.kind}","n":${e.n}}""").mkString("", "\n", "\n").getBytes(UTF_8)

    /** Upload order; `part` gets two versions. */
    val tables: Seq[Table] = Seq(nation, region, partV1, supplier, customer, ordersT, lineitem, part)

    /** The catalog build as uploads: the tables, a TSV and the JSON source. */
    def uploads: Seq[Upload] = {
      val tabs = tables.map { t =>
        val shape = if (t eq lineitem) "csv_large" else "csv_small"
        Upload(0, t.name, "csv", shape, t.tag, t.csv, t.rows.size.toLong, Seq.empty)
      }
      val tsv = (notes.header +: notes.rows).map(_.mkString("\t")).mkString("", "\n", "\n")
      (tabs :+ Upload(0, notes.name, "csv", "tsv", notes.tag, tsv.getBytes(UTF_8), notes.rows.size.toLong,
        Seq.empty) :+ Upload(0, "events", "json", "json", Some("raw"), eventsJson, events.size.toLong,
        Seq.empty)).zipWithIndex.map { case (u, i) => u.copy(seq = i) }
    }

    private def li(c: String): Int = lineitem.header.indexOf(c)
    private lazy val liQty = lineitem.rows.map(_(li("l_quantity")).toInt)
    private lazy val liOrder = lineitem.rows.map(_(li("l_orderkey")).toInt)
    private lazy val liPart = lineitem.rows.map(_(li("l_partkey")).toInt)
    private lazy val liFlag = lineitem.rows.map(_(li("l_returnflag")))
    private lazy val liDate = lineitem.rows.map(_(li("l_shipdate")))

    /** Query templates with seeded constants. Each returns its label,
      * its text and a function computing the answer it must give, as the
      * CSV lines (header first) `/sql` returns.
      */
    def sql(template: Int, c: java.util.Random): (String, String, () => Seq[String]) = template match {
      case 0 =>
        val k = liOrder(c.nextInt(liOrder.size))
        ("point", s"SELECT l_linenumber, l_quantity FROM lineitem WHERE l_orderkey = $k " +
          "ORDER BY l_linenumber", () => "l_linenumber,l_quantity" +: lineitem.rows
            .filter(_(li("l_orderkey")).toInt == k).sortBy(_(li("l_linenumber")).toInt)
            .map(x => s"${x(li("l_linenumber"))},${x(li("l_quantity"))}"))
      case 1 =>
        val q = 2 + c.nextInt(45)
        val f = flags(c.nextInt(3))
        ("filter", s"SELECT count(*) AS n, sum(l_quantity) AS q FROM lineitem " +
          s"WHERE l_quantity > $q AND l_returnflag = '$f'", () => {
            val sel = liQty.indices.filter(i => liQty(i) > q && liFlag(i) == f)
            Seq("n,q", s"${sel.size},${if (sel.isEmpty) "" else sel.map(liQty(_).toLong).sum}")
          })
      case 2 =>
        val d = date(c)
        ("group", s"SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem " +
          s"WHERE l_shipdate >= '$d' GROUP BY l_returnflag ORDER BY l_returnflag", () => {
            val g = liQty.indices.filter(i => liDate(i) >= d).groupBy(liFlag).toSeq.sortBy(_._1)
            "l_returnflag,n,q" +: g.map { case (f, is) => s"$f,${is.size},${is.map(liQty(_).toLong).sum}" }
          })
      case 3 =>
        val s = 5 + c.nextInt(40)
        ("join", "SELECT p.p_brand, count(*) AS n, sum(l.l_quantity) AS q FROM lineitem l " +
          s"JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_size < $s " +
          "GROUP BY p.p_brand ORDER BY p.p_brand", () => {
            val brandOf = part.rows.map(x => x(0).toInt -> (x(2), x(3).toInt)).toMap
            val g = liPart.indices.filter(i => brandOf(liPart(i))._2 < s)
              .groupBy(i => brandOf(liPart(i))._1).toSeq.sortBy(_._1)
            "p_brand,n,q" +: g.map { case (b, is) => s"$b,${is.size},${is.map(liQty(_).toLong).sum}" }
          })
      case 4 =>
        val k = 3 + c.nextInt(8)
        ("topk", "SELECT o_custkey, sum(l_quantity) AS q FROM lineitem JOIN orders " +
          s"ON l_orderkey = o_orderkey GROUP BY o_custkey ORDER BY q DESC, o_custkey LIMIT $k", () => {
            val custOf = ordersT.rows.map(x => x(0).toInt -> x(1).toInt).toMap
            val top = liQty.indices.groupBy(i => custOf(liOrder(i)))
              .map { case (cu, is) => cu -> is.map(liQty(_).toLong).sum }.toSeq
              .sortBy { case (cu, q) => (-q, cu) }.take(k)
            "o_custkey,q" +: top.map { case (cu, q) => s"$cu,$q" }
          })
      case _ =>
        val lo = 2 + c.nextInt(40)
        // Postgres dialect: DISTINCT ON, ->> and :: casts
        // (DISTINCT ON over a select-list alias fails analysis, so the
        // aliases come from a subquery)
        ("pg", "SELECT DISTINCT ON (k) k, n FROM (SELECT json->>'kind' AS k, " +
          s"(json->>'n')::int AS n FROM events) e WHERE n >= $lo ORDER BY k, n DESC", () =>
            "k,n" +: events.filter(_.n >= lo).groupBy(_.kind).toSeq.sortBy(_._1)
              .map { case (k, es) => s"$k,${es.map(_.n).max}" })
    }

    val SqlTemplates = 6

    /** The CSV download of `orders` as `/source/orders/1/download`
      * streams it: header, then one line per row with its 1-based ix.
      */
    def ordersDownload: (String, Seq[String]) =
      (("ix" +: ordersT.header).mkString(","),
        ordersT.rows.zipWithIndex.map { case (x, i) => ((i + 1).toString +: x).map(csvField).mkString(",") })
  }
}
