package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the span that was open on the
  * same thread when this one started (0 = none); `op` is the id of the
  * client operation the span belongs to, shared by all its spans; `tag`
  * names what the call worked on (a sink table), if anything.
  */
final case class Span(
    id: Long,
    parent: Long,
    op: Long,
    name: String,
    tag: String,
    startNs: Long,
    var endNs: Long,
    attrs: mutable.Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** `router.fanout_s` → `router`: the layer the span times. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Benchmark-side tracing: spans opened around every call the benchmark
  * makes into an engine layer, plus Spark job/stage/task counts from a
  * listener the benchmark attaches, charged to the innermost open span.
  *
  * Off (the default) every entry point is a pass-through, so untraced
  * runs time the same calls with no span bookkeeping and no listener.
  * Spans live in memory and are written out when the run ends.
  */
object Trace {
  @volatile private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var currentOp = 0L
  @volatile private var ctx: SparkContext = _
  private val SpanProp = "perfbench.span"

  def on: Boolean = enabled

  def start(sc: SparkContext): Unit = {
    enabled = true
    ctx = sc
    sc.addSparkListener(Listener)
  }

  /** Begin a client operation; spans opened until the next call share
    * its id. Returns the op id.
    */
  def beginOp(): Long = { currentOp = nextId.incrementAndGet(); currentOp }

  /** Spans opened until the next [[beginOp]] belong to warm-up (op −1):
    * they are dumped but left out of the per-layer metrics.
    */
  def beginWarmup(): Unit = currentOp = -1L

  /** Time `body` as a span called `name`. */
  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val sc = Option(ctx)
      val stack = open.get
      val s = Span(nextId.incrementAndGet(), stack.headOption.fold(0L)(_.id),
        currentOp, name, tag, System.nanoTime(), 0L, mutable.Map.empty)
      spanById.put(s.id, s)
      open.set(s :: stack)
      val prevProp = sc.map(_.getLocalProperty(SpanProp)).orNull
      sc.foreach(_.setLocalProperty(SpanProp, s.id.toString))
      try body
      finally {
        s.endNs = System.nanoTime()
        open.set(stack)
        sc.foreach(_.setLocalProperty(SpanProp, prevProp))
        spans.synchronized { spans += s }
      }
    }

  /** Record a span whose duration was measured elsewhere (e.g. by
    * `StreamingQueryProgress`), ending now.
    */
  def record(name: String, seconds: Double, tag: String,
      attrs: (String, Double)*): Unit =
    if (enabled) {
      val end = System.nanoTime()
      val parent = Option(open.get).flatMap(_.headOption).fold(0L)(_.id)
      val s = Span(nextId.incrementAndGet(), parent, currentOp, name, tag,
        end - (seconds * 1e9).toLong, end, mutable.Map(attrs: _*))
      spans.synchronized { spans += s }
    }

  /** Add `v` to attribute `k` of the innermost open span on this thread. */
  def count(k: String, v: Double): Unit =
    if (enabled) open.get.headOption.foreach(s => charge(s.id, k, v))

  def all: Seq[Span] = spans.synchronized(spans.toList).sortBy(_.startNs)

  // Spark counts go to the span whose id the job's local properties carry.
  private val spanById =
    new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val stageSpan =
    new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def charge(spanId: Long, k: String, v: Double): Unit =
    Option(spanById.get(spanId)).foreach(s => s.attrs.synchronized {
      s.attrs(k) = s.attrs.getOrElse(k, 0.0) + v
    })

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProp))).map(_.toLong)
      id.foreach { sid =>
        charge(sid, "spark.jobs", 1)
        e.stageIds.foreach(st => stageSpan.put(st, sid))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { sid =>
        if (e.stageInfo.submissionTime.isDefined) charge(sid, "spark.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { sid =>
        charge(sid, "spark.tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          charge(sid, "spark.executor_run_s", m.executorRunTime / 1e3)
          charge(sid, "spark.shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          charge(sid, "spark.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          charge(sid, "spark.records_written",
            m.outputMetrics.recordsWritten.toDouble)
          charge(sid, "spark.bytes_written",
            m.outputMetrics.bytesWritten.toDouble)
        }
      }
  }

  /** Spans as JSON lines (one per span). */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","tag":"${s.tag}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""attrs":{$attrs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
