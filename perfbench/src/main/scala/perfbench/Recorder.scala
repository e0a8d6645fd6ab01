package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one op (query, statement, trigger, stage,
  * read or compaction). Updated only from the listener-bus thread. */
final class OpStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var peakMem = 0L
  /** (start, end) of every job, epoch ms: the op's job-covered time. */
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
}

/** One timed call from the benchmark into a layer. `op` is the key its
  * Spark jobs are attributed under; `parent` is -1 at top level. */
final case class Span(id: Int, kind: String, name: String, parent: Int,
    op: String, startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def startMs: Long = Recorder.epochMs(startNs)
  def endMs: Long = Recorder.epochMs(endNs)
}

/** The benchmark's SparkListener plus its span log.
  *
  * Jobs are attributed by the local property [[OpKey]], which [[span]]
  * sets on the calling thread. Two other sources are decoded too:
  * streaming micro-batches (the query id and batch id Spark sets on the
  * stream thread, mapped through [[nameStream]]) and JDBC statements
  * (the op tag the client embeds as a SQL comment, which the Thrift
  * server copies into the job description). Spans stay in memory and
  * are written once, with the run record. */
final class Recorder(sc: SparkContext) extends SparkListener {
  import Recorder._

  private val opStats = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val streams = new ConcurrentHashMap[String, String]()
  private val spanLog = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)

  sc.addSparkListener(this)

  /** Attribute a streaming query's micro-batches to `sink`. */
  def nameStream(queryId: String, sink: String): Unit = { streams.put(queryId, sink); () }

  /** Time `f` as a span; Spark jobs it starts on this thread count
    * toward op `kind/name#id`. Returns the result and the span. */
  def span[T](kind: String, name: String)(f: => T): (T, Span) = {
    val id = nextId.getAndIncrement()
    val op = s"$kind/$name#$id"
    val parents = stack.get()
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try {
      val r = f
      val s = Span(id, kind, name, parents.headOption.getOrElse(-1), op,
        t0, System.nanoTime())
      spanLog.synchronized(spanLog += s)
      (r, s)
    } finally {
      stack.set(parents)
      sc.setLocalProperty(OpKey, prev)
    }
  }

  /** Record an externally timed span (sink triggers, JDBC statements). */
  def addSpan(kind: String, name: String, op: String, startNs: Long,
      endNs: Long): Span = {
    val s = Span(nextId.getAndIncrement(), kind, name, -1, op, startNs, endNs)
    spanLog.synchronized(spanLog += s)
    s
  }

  def spans: Seq[Span] = spanLog.synchronized(spanLog.toList)

  /** Drain the bus, then read every op's stats. */
  def allStats: Map[String, OpStats] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    opStats.asScala.toMap
  }

  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    opStats.clear(); spanLog.synchronized(spanLog.clear())
  }

  private def opOf(p: java.util.Properties): String = {
    if (p == null) return null
    val own = p.getProperty(OpKey)
    val qid = p.getProperty("sql.streaming.queryId")
    if (qid != null && streams.containsKey(qid))
      s"trigger/${streams.get(qid)}#${p.getProperty("streaming.sql.batchId")}"
    else if (own != null) own
    else Option(p.getProperty("spark.job.description")).flatMap(d =>
      StmtTag.findFirstMatchIn(d).map(_.group(1))).orNull
  }

  private def st(op: String) = opStats.computeIfAbsent(op, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    if (op != null) {
      val s = st(op)
      s.jobs += 1
      s.stages += e.stageIds.size
      e.stageIds.foreach(stageOp.put(_, op))
      jobStart.put(e.jobId, (op, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val started = jobStart.remove(e.jobId)
    if (started != null) st(started._1).jobSpans += ((started._2, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val op = stageOp.get(e.stageId)
    if (op == null) return
    val s = st(op)
    s.tasks += 1
    s.taskMs += m.executorRunTime
    s.gcMs += m.jvmGCTime
    s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
    s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    s.input += m.inputMetrics.bytesRead
    s.output += m.outputMetrics.bytesWritten
    s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
  }
}

object Recorder {
  val OpKey = "perfbench.op"
  private val nanoToEpoch = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** A System.nanoTime reading as epoch ms, the clock of listener events. */
  def epochMs(ns: Long): Long = (ns + nanoToEpoch) / 1000000L
  /** The tag a JDBC client puts in front of a statement. */
  def stmtTag(op: String): String = s"/*perfbench.op=$op*/ "
  private val StmtTag = """/\*perfbench\.op=([^*]+)\*/""".r

  /** Wall time of `[start, end]` not covered by any of `jobs` (ms). */
  def uncoveredMs(startMs: Long, endMs: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cur = startMs
    jobs.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    math.max(0L, endMs - startMs - covered)
  }
}
