package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** `bi_serve`: a closed loop of JDBC clients (stock Hive driver)
  * against `graft.Serve.start` over the seeded 10× replica. Each client
  * sends the next statement of a seeded dashboard stream as soon as it
  * has fetched the last row of the previous one. Three statement
  * classes: aggregates the cuboid lattice can answer (`routed`), key
  * and key-range lookups (`point`: filtered parquet scans, no index is
  * involved), and GROUP BYs outside the lattice (`fact_scan`).
  * Read-only.
  *
  * No source gives a dashboard's traffic mix, so the stream gives the
  * classes equal shares by design, and the headline latency does not
  * depend on the shares: it is the geometric mean of the three class
  * medians, which a speed-up of any one class moves by the same
  * proportion (its cube root). A median over the mixed stream would sit
  * on a class boundary and hide gains in the other classes. */
final class BiServe extends Workload {
  import BiServe._

  private val factor = 10
  private var data = ""
  private var server: org.apache.hive.service.server.HiveServer2 = _
  private var url = ""
  private var stream = IndexedSeq.empty[(String, String)]
  private val samples = ArrayBuffer.empty[Sample]
  private val answers = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val errors = new AtomicInteger(0)
  lazy val clients: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  def setup(ctx: Ctx, dir: String): Unit = {
    data = s"$dir/data"
    Replica.build(ctx.spark, ctx.opts.data, data, factor, ctx.opts.seed,
      Seq("lineitem", "orders"))
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    server = graft.Serve.start(ctx.spark, port, data)
    url = s"jdbc:hive2://localhost:$port/default"
    stream = statements(new scala.util.Random(ctx.opts.seed), 400)
  }

  private def connect(): java.sql.Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val deadline = System.nanoTime() + 60000000000L
    var conn: java.sql.Connection = null
    while (conn == null) {
      try conn = java.sql.DriverManager.getConnection(url, "perfbench", "")
      catch {
        case e: java.sql.SQLException =>
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(200)
      }
    }
    conn
  }

  private lazy val conns = (0 until clients).map(_ => connect())

  /** One statement of every class per client, outside the window. */
  def warmup(ctx: Ctx): Unit = conns.foreach { c =>
    Classes.foreach { cls =>
      val sql = stream.find(_._1 == cls).get._2
      val st = c.createStatement()
      try drain(st.executeQuery(sql)) finally st.close()
    }
  }

  def timed(ctx: Ctx, deadlineNs: Long): Unit = {
    val next = new AtomicInteger(0)
    val threads = conns.zipWithIndex.map { case (c, k) =>
      new Thread(() => {
        val mine = ArrayBuffer.empty[Sample]
        while (System.nanoTime() < deadlineNs) {
          val i = next.getAndIncrement()
          val (cls, sql) = stream(i % stream.size)
          val op = s"stmt/$cls#$i"
          val st = c.createStatement()
          try {
            val t0 = System.nanoTime()
            val rs = st.executeQuery(Recorder.stmtTag(op) + sql)
            val t1 = System.nanoTime()
            val rows = drain(rs)
            val t2 = System.nanoTime()
            answers.putIfAbsent(sql, rows)
            mine += Sample(cls, ctx.rec.addSpan("stmt", cls, op, t0, t2), t1 - t0, t2 - t1)
          } catch {
            case e: Throwable =>
              errors.incrementAndGet()
              System.err.println(s"[perfbench] client $k: ${e.getMessage}")
          } finally st.close()
        }
        samples.synchronized(samples ++= mine)
        ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Every JDBC answer must equal the in-session answer with aggregate
    * routing off (checked on a seeded sample of the distinct statements,
    * at least one per class). */
  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val sample = seenByClass.values.flatMap(s => ctx.rnd.shuffle(s).take(4)).toSeq
    spark.conf.set("spark.graft.aggRouting.enabled", "false")
    try sample.flatMap { sql =>
      val want = spark.sql(sql).collect().toSeq.map(_.toSeq.map(cell).mkString("|"))
      val got = answers.get(sql)
      if (got == want) None else Some(s"JDBC answer differs from the in-session answer: $sql")
    } finally spark.conf.set("spark.graft.aggRouting.enabled", "true")
  }

  /** The distinct statements answered in the window, by class. */
  private def seenByClass: Map[String, Seq[String]] = {
    val classOf = stream.map(_.swap).toMap
    answers.keySet().toArray.map(_.toString).toSeq.sorted.groupBy(classOf)
  }

  /** Share of the distinct routable statements whose optimized plan
    * reads a cuboid table instead of the fact. */
  private def routeHitFrac(ctx: Ctx): Double = {
    val routable = seenByClass.getOrElse("routed", Nil)
    routable.count { sql =>
      ctx.spark.sql(sql).queryExecution.optimizedPlan.toString.contains("cube_")
    }.toDouble / math.max(1, routable.size)
  }

  def attempted: Int = samples.size + errors.get
  def failed: Int = errors.get

  private def classMs(c: String): Double =
    Main.median(samples.filter(_.cls == c).map(_.span.wallS * 1e3).toSeq)

  def endToEnd(ctx: Ctx, windowS: Double) = {
    val ms = samples.map(_.span.wallS * 1e3).toSeq
    val perClass = Classes.map(c => s"${c}_ms_p50" -> classMs(c))
    val geo = math.exp(perClass.map(c => math.log(c._2)).sum / Classes.size)
    val rate = samples.size / windowS
    (geo, rate, Map("stmt_p50_ms" -> Main.median(ms), "stmt_p90_ms" -> Main.pct(ms, 0.9),
      "class_geomean_ms" -> geo, "statements" -> ms.size.toDouble, "stmts_per_s" -> rate) ++ perClass)
  }

  def perLayer(ctx: Ctx, windowS: Double): Map[String, Double] = {
    Main.sparkLayer(ctx, samples.map(_.span).toSeq, windowS) ++
      Map("serve.exec_ms_p50" -> Main.median(samples.map(_.execNs / 1e6).toSeq),
        "serve.fetch_ms_p50" -> Main.median(samples.map(_.fetchNs / 1e6).toSeq),
        "serve.routed_ms_p50" -> classMs("routed"), "serve.point_ms_p50" -> classMs("point"),
        "serve.fact_scan_ms_p50" -> classMs("fact_scan"), "plans.route_hit_frac" -> routeHitFrac(ctx))
  }

  def info: Map[String, Any] = Map("clients" -> clients, "replica_factor" -> factor,
    "distinct_statements" -> stream.map(_._2).distinct.size,
    "statements_run" -> samples.size,
    "per_class" -> samples.groupBy(_.cls).map { case (k, v) => k -> v.size })

  override def close(): Unit = {
    conns.foreach(c => try c.close() catch { case _: Throwable => () })
    if (server != null) server.stop()
  }
}

object BiServe {
  final case class Sample(cls: String, span: Span, execNs: Long, fetchNs: Long)

  val Classes = Seq("routed", "point", "fact_scan")

  private def drain(rs: java.sql.ResultSet): Seq[String] = {
    val n = rs.getMetaData.getColumnCount
    val out = ArrayBuffer.empty[String]
    while (rs.next()) out += (1 to n).map(i => cell(rs.getObject(i))).mkString("|")
    rs.close()
    out.toSeq
  }

  private val Stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val StampText = """\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?""".r

  /** One cell as text that reads the same from JDBC and from a Row:
    * timestamps arrive as `Timestamp` or text over JDBC and as
    * `LocalDateTime` in the session, decimals as either BigDecimal. */
  private def cell(v: Any): String = v match {
    case null => "NULL"
    case t: java.sql.Timestamp => Stamp.format(t.toLocalDateTime)
    case t: java.time.LocalDateTime => Stamp.format(t)
    case s: String if StampText.matches(s) =>
      Stamp.format(java.time.LocalDateTime.parse(s.replace(' ', 'T')))
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case other => other.toString
  }

  private val cuboids = Seq(Seq("l_returnflag"), Seq("l_suppkey"),
    Seq("l_returnflag", "l_linestatus"), Seq("l_linestatus", "l_suppkey"),
    Seq("l_returnflag", "l_shipdate"))

  /** The seeded dashboard stream: (class, SQL). Classes rotate in
    * equal shares (a design choice, not a measured mix), and so do the
    * shapes within a class (which cuboid grain, point or range, join or
    * not), so every prefix a run gets through has the same mix whatever
    * the seed; the seed picks the parameters. They come from a small
    * domain, so statements repeat the way dashboard tiles do. */
  def statements(rnd: scala.util.Random, n: Int): IndexedSeq[(String, String)] =
    (0 until n).map { i =>
      val j = i / 3
      i % 3 match {
        case 0 =>
          val d = cuboids(j % cuboids.size).mkString(", ")
          val flag = Seq("A", "N", "R")(rnd.nextInt(3))
          val where = if ((j / cuboids.size) % 2 == 0) "" else s" WHERE l_returnflag = '$flag'"
          "routed" -> (s"SELECT $d, COUNT(*) AS n, " +
            "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s_qty, " +
            "MIN(l_quantity) AS mn_qty, MAX(l_quantity) AS mx_qty " +
            s"FROM lineitem$where GROUP BY $d ORDER BY $d LIMIT 50")
        case 1 =>
          val key = rnd.nextInt(10) * 1000000000L + 1 + rnd.nextInt(6000)
          if (j % 2 == 0)
            "point" -> ("SELECT o_orderkey, o_custkey, o_orderstatus, " +
              s"CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders WHERE o_orderkey = $key")
          else
            "point" -> ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
              s"WHERE l_orderkey BETWEEN $key AND ${key + 20} ORDER BY l_orderkey, l_linenumber")
        case _ =>
          val disc = rnd.nextInt(5) * 0.02
          if (j % 2 == 0)
            "fact_scan" -> ("SELECT l_linenumber, COUNT(*) AS n, " +
              "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev FROM lineitem " +
              f"WHERE l_discount >= $disc%.2f GROUP BY l_linenumber ORDER BY l_linenumber")
          else
            "fact_scan" -> ("SELECT o_orderpriority, COUNT(*) AS n, " +
              "SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,2))) AS rev " +
              "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
              f"WHERE l_discount >= $disc%.2f GROUP BY o_orderpriority ORDER BY o_orderpriority")
      }
    }
}
