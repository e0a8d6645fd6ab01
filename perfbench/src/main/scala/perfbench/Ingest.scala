package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.operators.{Cube, Similarity, TextOps, VersionedTable}
import graft.streaming.StreamOps

/** `ingest`: one producer offers seeded CDC micro-batches through
  * `MemoryStream`s into the four streaming sinks (versioned upsert, ANN
  * index, search index, cuboid lattice) over the seeded 4× replica
  * loaded as initial state. The next batch is offered only after every
  * sink has committed the previous one; every `CompactEvery` batches
  * the table and both indexes compact; after every batch four reads
  * run (versioned point read, `changesBetween`, indexed BM25, IVF
  * probe). Writes beside reads on the `operators` code that the other
  * workloads only read.
  *
  * CDC shape per batch: orders get updates and inserts (the upsert sink
  * merges by key and has no delete path), documents and embeddings get
  * inserts, updates (a re-insert of a live id) and deletes, the fact
  * stream feeding the lattice is append-only. */
final class Ingest extends Workload {
  import Ingest._

  private val factor = 4
  private var dir = ""
  private var spark: SparkSession = _
  private var gen: Generator = _
  private var sinks = Seq.empty[Sink]
  private val commits = ArrayBuffer.empty[(String, Span)]
  private val reads = ArrayBuffer.empty[Span]
  private val compactions = ArrayBuffer.empty[Span]
  private var rowsCommitted = 0L
  private var batches = 0
  private var errors = 0
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  private var spaceAmp = Double.NaN

  private def root(name: String) = s"$dir/state/$name"

  def setup(ctx: Ctx, setupDir: String): Unit = {
    dir = setupDir
    spark = ctx.spark
    val data = s"$dir/data"
    Replica.build(spark, ctx.opts.data, data, factor, ctx.opts.seed,
      Seq("orders", "lineitem", "documents", "embeddings"))
    val orders = spark.read.parquet(s"$data/orders.parquet")
    val docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
    val fact = graft.Engine.table(spark, data, "lineitem").select(
      col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
      col("l_shipdate").cast("date").as("sd"), col("l_quantity").cast("long").as("q"))
    VersionedTable.commit(spark, root("orders"), orders)
    Similarity.ivfBuildIndex(emb, root("ivf"))
    TextOps.buildInvertedIndex(docs, root("invidx"))
    val base = fact.groupBy(BaseDims.map(col): _*)
      .agg(Measures.head.base, Measures.tail.map(_.base): _*)
    (Cuboids.map(c => c -> Cube.derive(base, c, Measures)) :+ (BaseDims -> base)).foreach {
      case (dims, df) => VersionedTable.commit(spark, latticeRoot(dims), df, overwrite = true)
    }
    gen = new Generator(new scala.util.Random(ctx.opts.seed),
      orders.collect(), docs.collect(), emb.collect(), fact.collect())
    sinks = startSinks(ctx)
  }

  /** Where the lattice sink keeps a cuboid: its dim names joined by
    * `_d` (the sink's encoding for alphanumeric names). */
  private def latticeRoot(dims: Seq[String]) = root("lattice") + "/" + dims.mkString("_d")

  private def startSinks(ctx: Ctx): Seq[Sink] = {
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val orders = MemoryStream[OrderRow]
    val vecs = MemoryStream[VecChange]
    val texts = MemoryStream[DocChange]
    val facts = MemoryStream[FactRow]
    def ck(n: String) = s"$dir/checkpoints/$n"
    val all = Seq(
      Sink("upsert", StreamOps.versionedUpsertSink(orders.toDF(), root("orders"),
        Seq("o_orderkey"), ck("upsert"), intervalMs = 0), b => orders.addData(b.orders)),
      Sink("ann", StreamOps.annIndexSink(vecs.toDF(), root("ivf"), ck("ann"), intervalMs = 0),
        b => vecs.addData(b.vecs)),
      Sink("search", StreamOps.searchIndexSink(texts.toDF(), root("invidx"), ck("search"),
        intervalMs = 0), b => texts.addData(b.docs)),
      Sink("lattice", StreamOps.latticeMaintenanceSink(facts.toDF(), root("lattice"),
        BaseDims, Measures, Cuboids, ck("lattice"), intervalMs = 0), b => facts.addData(b.facts)))
    all.foreach(s => ctx.rec.nameStream(s.query.id.toString, s.name))
    all
  }

  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(4)

  /** Offer one batch to every sink, wait for every commit, then read. */
  private def step(ctx: Ctx, record: Boolean): Unit = {
    val b = gen.next()
    val t0 = System.nanoTime()
    sinks.foreach(_.offer(b))
    val done = sinks.map { s =>
      pool.submit(new java.util.concurrent.Callable[(Sink, Long)] {
        def call() = { s.query.processAllAvailable(); (s, System.nanoTime()) }
      })
    }.map(_.get())
    batches += 1
    if (record) {
      done.foreach { case (s, t1) =>
        val id = s.query.lastProgress.batchId
        commits += ((s.name, ctx.rec.addSpan("trigger", s.name, s"trigger/${s.name}#$id", t0, t1)))
      }
      rowsCommitted += b.rows
    }
    if (batches % CompactEvery == 0) {
      def compact(name: String)(f: => Unit) =
        if (record) compactions += ctx.rec.span("compact", name)(f)._2 else f
      compact("versioned")(VersionedTable.compact(spark, root("orders")))
      compact("ivf")(Similarity.ivfCompact(spark, root("ivf")))
      compact("inverted")(TextOps.invertedIndexCompact(spark, root("invidx")))
    }
    def read(name: String)(df: => DataFrame): Unit =
      if (record) reads += ctx.rec.span("read", name)(Main.force(df))._2 else Main.force(df)
    val v = VersionedTable.versions(spark, root("orders")).last
    read("point")(VersionedTable.read(spark, root("orders"))
      .filter(col("o_orderkey") === gen.liveOrderKey()))
    read("changes")(VersionedTable.changesBetween(spark, root("orders"), v - 1, v))
    read("bm25")(TextOps.bm25TopKIndexed(spark, root("invidx"), gen.terms(), k = 10))
    read("ivf")(Similarity.ivfProbe(spark, root("ivf"), gen.liveVector(), k = 10))
  }

  def warmup(ctx: Ctx): Unit = step(ctx, record = false)

  def timed(ctx: Ctx, deadlineNs: Long): Unit = {
    if (ctx.opts.trace) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    while (System.nanoTime() < deadlineNs) {
      try step(ctx, record = true)
      catch {
        case e: Throwable =>
          errors += 1
          System.err.println(s"[perfbench] ingest batch threw: ${e.getMessage}")
          return
      }
    }
  }

  /** Final state against a from-scratch replay of every batch (kept by
    * the generator on the driver): the versioned table's rows, every
    * cuboid, BM25 top-k from the index against a scan of the live
    * documents, and exhaustive IVF probes against brute force over the
    * live vectors. Also measures space amplification. */
  def check(ctx: Ctx): Seq[String] = {
    val session = spark
    import session.implicits._
    sinks.foreach(_.query.stop())
    val out = ArrayBuffer.empty[String]
    def same(what: String, got: DataFrame, want: DataFrame): Unit = {
      val g = got.select(want.columns.toIndexedSeq.map(col): _*)
      if (g.exceptAll(want).count() != 0 || want.exceptAll(g).count() != 0)
        out += s"$what differs from the replay"
    }
    val liveOrders = spark.createDataFrame(
      spark.sparkContext.parallelize(gen.orders.values.toSeq, 4), gen.orderSchema)
    same("versioned table", VersionedTable.read(spark, root("orders")), liveOrders)
    val fact = gen.facts.toSeq.toDF("rf", "ls", "sd", "q")
    val base = fact.groupBy(BaseDims.map(col): _*)
      .agg(Measures.head.base, Measures.tail.map(_.base): _*)
    (Cuboids.map(c => c -> Cube.derive(base, c, Measures)) :+ (BaseDims -> base)).foreach {
      case (dims, want) =>
        same(s"cuboid ${dims.mkString(",")}", VersionedTable.read(spark, latticeRoot(dims)), want)
    }
    val liveDocs = gen.docs.toSeq.toDF("doc_id", "text")
    val terms = gen.terms()
    def top(df: DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), math.round(r.getAs[Double]("score") * 1e9))).toSeq
    if (top(TextOps.bm25TopKIndexed(spark, root("invidx"), terms, k = 10)) !=
        top(TextOps.bm25TopK(liveDocs, terms, k = 10)))
      out += s"indexed BM25 top-10 for ${terms.mkString(" ")} differs from a scan of the replay"
    val liveVecs = gen.vecs.toSeq.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    (0 until 3).foreach { _ =>
      val q = gen.liveVector()
      val got = Similarity.ivfProbe(spark, root("ivf"), q, k = 10, nprobe = 1 << 8)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val want = Similarity.bruteForceTopK(liveVecs, q, 10).select("vec_id").collect()
        .map(_.getLong(0)).toSeq
      if (got != want) out += s"exhaustive IVF top-10 $got differs from brute force $want"
    }
    val compact = ctx.dir("compact")
    Seq("orders" -> liveOrders, "docs" -> liveDocs, "vecs" -> liveVecs,
      "lattice" -> VersionedTable.read(spark, latticeRoot(BaseDims)))
      .foreach { case (n, df) => df.coalesce(1).write.parquet(s"$compact/$n") }
    spaceAmp = Main.dirBytes(new java.io.File(s"$dir/state")).toDouble /
      Main.dirBytes(new java.io.File(compact))
    out.toSeq
  }

  def attempted: Int = commits.size + reads.size + errors
  def failed: Int = errors

  def endToEnd(ctx: Ctx, windowS: Double) = {
    val ms = commits.map(_._2.wallS * 1e3).toSeq
    val rate = rowsCommitted / windowS
    (Main.median(ms), rate,
      Map("commit_p50_s" -> Main.median(ms) / 1e3, "commit_p90_s" -> Main.pct(ms, 0.9) / 1e3,
        "commits" -> ms.size.toDouble, "cdc_rows_per_s" -> rate,
        "read_p50_ms" -> Main.median(reads.map(_.wallS * 1e3).toSeq)))
  }

  def perLayer(ctx: Ctx, windowS: Double): Map[String, Double] = {
    val all = ctx.rec.allStats
    def jobs(ss: Seq[Span]) = ss.map(s => all.get(s.op).map(_.jobs).getOrElse(0L)).sum.toDouble
    val prog = progress.toArray.map(_.asInstanceOf[StreamingQueryProgress]).toSeq
    def dur(p: StreamingQueryProgress, k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val perSink = sinks.flatMap { s =>
      val mine = commits.filter(_._1 == s.name).map(_._2).toSeq
      val trig = prog.filter(p => p.id == s.query.id && p.numInputRows > 0).map(dur(_, "triggerExecution"))
      Seq(s"streaming.${s.name}.trigger_ms_p50" -> Main.median(trig),
        s"streaming.${s.name}.jobs" -> jobs(mine) / math.max(1, mine.size))
    }
    val upserts = commits.filter(_._1 == "upsert").map(_._2).toSeq
    val versions = VersionedTable.versions(spark, root("orders"))
    def compactS(n: String) = compactions.filter(_.name == n).map(_.wallS).sum
    def readP50(n: String) = Main.median(reads.filter(_.name == n).map(_.wallS * 1e3).toSeq)
    Main.sparkLayer(ctx, (commits.map(_._2) ++ reads ++ compactions).toSeq, windowS) ++
      perSink ++ Map(
      "streaming.add_batch_frac" -> prog.map(dur(_, "addBatch")).sum /
        math.max(1.0, prog.map(dur(_, "triggerExecution")).sum),
      "versioned.commit_jobs" -> jobs(upserts) / math.max(1, upserts.size),
      "versioned.files_per_commit" -> dataFiles(root("orders")).toDouble / math.max(1, versions.size),
      "versioned.write_amp" -> all.filter(_._1.startsWith("trigger/upsert")).values
        .map(_.output).sum.toDouble / math.max(1L, gen.orderBytesOffered),
      "versioned.compact_s" -> compactS("versioned"),
      "index.ivf_compact_s" -> compactS("ivf"),
      "index.inverted_compact_s" -> compactS("inverted"),
      "read.point_ms_p50" -> readP50("point"), "read.changes_ms_p50" -> readP50("changes"),
      "read.bm25_ms_p50" -> readP50("bm25"), "read.ivf_ms_p50" -> readP50("ivf"))
  }

  private def dataFiles(dirPath: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    walk(new java.io.File(dirPath))
  }

  def info: Map[String, Any] = Map("clients" -> 1, "replica_factor" -> factor,
    "batches" -> batches, "commits" -> commits.size, "reads" -> reads.size,
    "compact_every" -> CompactEvery, "space_amp" -> spaceAmp,
    "batch_rows" -> Map("orders" -> OrderChanges, "documents" -> DocChanges,
      "embeddings" -> VecChanges, "facts" -> FactInserts))

  override def close(): Unit = {
    sinks.foreach(s => try s.query.stop() catch { case _: Throwable => () })
    pool.shutdownNow()
    ()
  }
}

object Ingest {
  final case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double, o_orderdate: java.time.LocalDateTime, o_orderpriority: String)
  final case class VecChange(vec_id: Long, embedding: Seq[Float], change: String)
  final case class DocChange(doc_id: Long, text: String, change: String)
  final case class FactRow(rf: String, ls: String, sd: java.sql.Date, q: Long)
  final case class Batch(orders: Seq[OrderRow], vecs: Seq[VecChange], docs: Seq[DocChange],
      facts: Seq[FactRow]) {
    def rows: Long = orders.size + vecs.size + docs.size + facts.size
  }
  final case class Sink(name: String, query: StreamingQuery, offer: Batch => Unit)

  val CompactEvery = 4
  /** CDC rows per batch, about 0.5 % of each replica table. */
  val OrderChanges = 30
  val DocChanges = 10
  val VecChanges = 10
  val FactInserts = 120
  val BaseDims = Seq("rf", "ls", "sd")
  val Cuboids = Seq(Seq("rf", "ls"), Seq("sd"))
  val Measures = Seq(Cube.MeasureDef("n", Cube.MCountAll),
    Cube.MeasureDef("qty", Cube.MSum, col("q")))

  /** Seeded CDC batches plus the driver-side replay of the live state. */
  final class Generator(rnd: scala.util.Random, orderRows: Array[Row], docRows: Array[Row],
      vecRows: Array[Row], factRows: Array[Row]) {
    val orderSchema = orderRows.head.schema
    val orders = mutable.LinkedHashMap.from(orderRows.map(r => r.getLong(0) -> r))
    val docs = mutable.LinkedHashMap.from(docRows.map(r => r.getLong(0) -> r.getString(1)))
    val vecs = mutable.LinkedHashMap.from(vecRows.map(r => r.getLong(0) -> r.getSeq[Float](1)))
    val facts = ArrayBuffer.from(factRows.map(r =>
      (r.getString(0), r.getString(1), r.getDate(2), r.getLong(3))))
    private val words = docs.values.take(200).flatMap(_.split(" ")).toSeq.distinct.sorted
    private var batch = 0
    var orderBytesOffered = 0L

    private def pickLive[K](m: collection.Map[K, _]): K = m.keysIterator.drop(rnd.nextInt(m.size)).next()
    def liveOrderKey(): Long = pickLive(orders)
    def liveVector(): Seq[Double] = vecs(pickLive(vecs)).map(_.toDouble)
    def terms(): Seq[String] = Seq.fill(3)(words(rnd.nextInt(words.size))).distinct
    private def text() = Seq.fill(20 + rnd.nextInt(40))(words(rnd.nextInt(words.size))).mkString(" ")
    private def vector() = Seq.fill(64)(rnd.nextGaussian().toFloat)

    def next(): Batch = {
      batch += 1
      val fresh = 9000000000L + batch * 100000L
      val ord = (0 until OrderChanges).map { j =>
        val old = if (j % 2 == 0) Some(orders(liveOrderKey())) else None
        val key = old.map(_.getLong(0)).getOrElse(fresh + j)
        OrderRow(key, old.map(_.getLong(1)).getOrElse(rnd.nextInt(15000).toLong),
          Seq("O", "F", "P")(rnd.nextInt(3)), math.round(rnd.nextDouble() * 1e7) / 100.0,
          old.map(_.getAs[java.time.LocalDateTime](4))
            .getOrElse(java.time.LocalDateTime.of(1998, 8, 1, 0, 0)),
          s"${1 + rnd.nextInt(5)}-PRIORITY")
      }.groupBy(_.o_orderkey).values.map(_.last).toSeq.sortBy(_.o_orderkey)
      ord.foreach { o =>
        orders(o.o_orderkey) = Row(o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
          o.o_orderdate, o.o_orderpriority)
      }
      orderBytesOffered += ord.size * 64L
      // documents and vectors: inserts, updates (re-insert of a live id)
      // and deletes, each id changed at most once per batch
      def changes[V](live: mutable.LinkedHashMap[Long, V], n: Int, make: () => V)
          : Seq[(Long, V, String)] = {
        val touched = mutable.LinkedHashSet.empty[Long]
        (0 until n).flatMap { j =>
          rnd.nextInt(10) match {
            case k if k < 4 => Some((fresh + 50000 + j, make(), "insert"))
            case k =>
              val id = pickLive(live)
              if (!touched.add(id)) None
              else if (k < 7) Some((id, make(), "insert"))
              else Some((id, live(id), "delete"))
          }
        }
      }
      val vc = changes(vecs, VecChanges, () => vector())
      vc.foreach { case (id, v, c) => if (c == "delete") vecs.remove(id) else vecs(id) = v }
      val dc = changes(docs, DocChanges, () => text())
      dc.foreach { case (id, t, c) => if (c == "delete") docs.remove(id) else docs(id) = t }
      val fc = (0 until FactInserts).map { _ =>
        val (rf, ls, sd, _) = facts(rnd.nextInt(facts.size))
        (rf, ls, sd, 1L + rnd.nextInt(50))
      }
      facts ++= fc
      Batch(ord, vc.map { case (id, v, c) => VecChange(id, v, c) },
        dc.map { case (id, t, c) => DocChange(id, t, c) },
        fc.map { case (rf, ls, sd, q) => FactRow(rf, ls, sd, q) })
    }
  }
}
