package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.embed.Embedder
import graft.ops.Chat

/** Named counters shared by every thread of the JVM. Executor tasks run
  * in this JVM under `local[n]`, so the decorators below count from task
  * threads into the same place the client thread reads.
  */
object Counters {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(name: String, v: Long): Unit = m.computeIfAbsent(name, _ => new LongAdder).add(v)
  def get(name: String): Long = Option(m.get(name)).map(_.sum).getOrElse(0L)
  def reset(): Unit = m.clear()
}

/** One timed interval at a layer boundary. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, request: Long, start: Long, end: Long)

/** In-memory span recorder for the traced run. Spans are opened by the
  * benchmark around each call into a layer (client thread), by the
  * decorators around model, grader and embedder calls made on the client
  * thread, and by [[SparkMetrics]] for every Spark job, parented through
  * a job-local property. Self time is a span minus the union of its
  * children's intervals.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._
  @volatile var on = false
  @volatile var request = -1L
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  private val client = Thread.currentThread()

  def span[T](name: String)(body: => T): T =
    if (!on || Thread.currentThread() != client) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(RequestProp, request.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, if (parent < 0) null else parent.toString)
        add(Span(id, name, parent, request, t0, t1))
      }
    }

  def add(s: Span): Unit = synchronized { spans += s }
  def newId(): Int = synchronized { nextId += 1; nextId }
  def all: Seq[Span] = synchronized(spans.toList)
  def clear(): Unit = synchronized(spans.clear())

  /** Summed duration of spans called `name`, in ms. */
  def totalMs(name: String): Double = all.filter(_.name == name).map(s => (s.end - s.start) / 1e6).sum

  /** Summed self time of spans called `name`, in ms. */
  def selfMs(name: String): Double = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.filter(_.name == name).map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      (s.end - s.start - covered) / 1e6
    }.sum
  }

  /** Wall time in ms covered by at least one span called `name`. */
  def unionMs(name: String): Double = unionNs(all.filter(_.name == name).map(s => (s.start, s.end))) / 1e6

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val RequestProp = "perfbench.request"
  /** The tracer decorators report to; null while tracing is off. */
  @volatile var active: Tracer = null

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(t => t._2 > t._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Count a decorated call, time it, and span it when on the client thread. */
  def around[T](name: String, items: Long)(body: => T): T = {
    val t = active
    val t0 = System.nanoTime()
    try { if (t == null) body else t.span(name)(body) }
    finally {
      Counters.add(s"$name.calls", 1)
      Counters.add(s"$name.items", items)
      Counters.add(s"$name.ns", System.nanoTime() - t0)
    }
  }
}

/** Counting decorators, passed to the engine in place of the plain
  * embedder, chat model and grader during the traced run only.
  */
final case class CountingEmbedder(inner: Embedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(text: String): Array[Float] = Tracer.around("embed", 1)(inner.embed(text))
  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
    Tracer.around("embed", texts.size.toLong)(inner.embedBatch(texts))
}

final case class CountingModel(inner: Chat.ChatModel) extends Chat.ChatModel {
  def rewrite(question: String, history: Seq[String]): String =
    Tracer.around("chat.model", 1)(inner.rewrite(question, history))
  def generate(sysPrompt: String, context: String, question: String): String =
    Tracer.around("chat.model", 1)(inner.generate(sysPrompt, context, question))
}

final case class CountingGrader(inner: Chat.Grader) extends Chat.Grader {
  def relevant(question: String, context: String): Boolean =
    Tracer.around("chat.grader", 1)(inner.relevant(question, context))
}

/** Spark's own events for the traced run: a job span per job (parented
  * to the client span that launched it), task CPU, scheduler wait, GC,
  * shuffle and spill from task ends, and planning phases from the query
  * execution tracker.
  */
final class SparkMetrics(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  // job event times are wall-clock ms; spans are nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val open = new ConcurrentHashMap[Int, (Long, Int, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Counters.add("spark.jobs", 1)
    val p = Option(e.properties)
    def prop(k: String, d: Long) = p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(d)
    open.put(e.jobId, (e.time * 1000000L + offsetNs, prop(Tracer.SpanProp, -1).toInt,
      prop(Tracer.RequestProp, -1)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(open.remove(e.jobId)).foreach {
    case (start, parent, req) =>
      tracer.add(Span(tracer.newId(), "spark.job", parent, req, start, e.time * 1000000L + offsetNs))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    Counters.add("spark.task_cpu_ns", m.executorCpuTime)
    Counters.add("spark.gc_ms", m.jvmGCTime)
    Counters.add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
    Counters.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    val wait = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime
    Counters.add("spark.task_wait_ms", math.max(0L, wait))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Counters.add("spark.plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
