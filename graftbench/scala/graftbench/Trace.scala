package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer's public function. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      iter: Int, thread: String, start: Long, end: Long)

/** A Spark job, tagged with the innermost span open on the submitting
  * thread (local property [[Trace.SpanProp]]), with the summed metrics of
  * its tasks. */
final class JobRec(val id: Int, val span: Long, val start: Long) {
  @volatile var end: Long = 0L
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Span recorder. Every call is timed (the per-call latencies feed the
  * end-to-end percentiles); spans and job records are kept only when
  * tracing is on. Nothing is written until [[Trace.dump]] at exit. */
object Trace {
  val SpanProp = "graftbench.span"
  @volatile var enabled = false
  @volatile var sc: SparkContext = _
  @volatile var iteration = 0

  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()
  val calls = new ConcurrentLinkedQueue[(Int, String, String, Long)]()

  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val r = body
      calls.add((iteration, layer, name, System.nanoTime() - t0))
      return r
    }
    val id = ids.incrementAndGet()
    val outer = stack.get
    stack.set(id :: outer)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(outer)
      sc.setLocalProperty(SpanProp, outer.headOption.map(_.toString).orNull)
      spans.add(Span(id, outer.headOption.getOrElse(0L), layer, name, iteration,
        Thread.currentThread.getName, t0, t1))
      calls.add((iteration, layer, name, t1 - t0))
    }
  }

  /** Per-job task metrics, keyed by the job's span tag. */
  object Listener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      val rec = new JobRec(e.jobId, tag.map(_.toLong).getOrElse(0L), System.nanoTime())
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (rec <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        rec.tasks.incrementAndGet()
        rec.cpuNs.addAndGet(m.executorCpuTime)
        rec.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        rec.spillBytes.addAndGet(m.diskBytesSpilled)
      }
  }

  /** Stream triggers (micro-batches) with their iteration and duration. */
  object StreamListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val triggers = new ConcurrentLinkedQueue[(Int, Double)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      triggers.add((iteration, e.progress.batchDuration / 1000.0))
  }

  /** Spans and jobs as JSON arrays (times in seconds since `origin`). */
  def dump(origin: Long): String = {
    def s(ns: Long) = f"${(ns - origin) / 1e9}%.6f"
    val sp = spans.asScala.toSeq.sortBy(_.id).map { x =>
      s"""{"id":${x.id},"parent":${x.parent},"layer":${Json.str(x.layer)},""" +
        s""""name":${Json.str(x.name)},"iter":${x.iter},"thread":${Json.str(x.thread)},""" +
        s""""start":${s(x.start)},"end":${s(x.end)}}"""
    }
    val jb = Listener.jobs.values.asScala.toSeq.sortBy(_.id).filter(_.end > 0).map { j =>
      s"""{"id":${j.id},"span":${j.span},"start":${s(j.start)},"end":${s(j.end)},""" +
        s""""tasks":${j.tasks.get},"cpu_s":${j.cpuNs.get / 1e9},""" +
        s""""shuffle_mb":${j.shuffleBytes.get / 1048576.0},""" +
        s""""spill_mb":${j.spillBytes.get / 1048576.0}}"""
    }
    val tr = StreamListener.triggers.asScala.toSeq.map { case (i, d) => s"[$i,$d]" }
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${jb.mkString(",")}],""" +
      s""""triggers":[${tr.mkString(",")}]}"""
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Raw(s) => s
    case other => str(other.toString)
  }

  /** Pre-rendered JSON, inserted verbatim. */
  final case class Raw(json: String)
}
