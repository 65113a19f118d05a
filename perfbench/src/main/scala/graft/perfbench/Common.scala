package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics over measured samples. Percentiles interpolate
  * linearly between order statistics (numpy's default), so a p90 over
  * few samples still moves smoothly with the data. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Progress lines on stderr, which `run.py` keeps in the run's log. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
}

/** Minimal JSON encoding for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Spans recorded by the benchmark around its calls into each layer:
  * workload -> phase -> query or micro-batch -> layer call, plus stage
  * spans reported by the Spark listener. Spans stay in memory and are
  * written as JSONL when the run ends. When tracing is off, `span` only
  * runs its body. */
object Trace {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long, thread: String)

  @volatile var enabled = false
  var runId = ""
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  /** the innermost open span on the benchmark's main thread; stage
    * spans from the listener thread are parented to it */
  @volatile var mainCurrent = 0L
  private var mainThread: Thread = _

  /** Wall clock in ns on the same base as Spark's stage timestamps. */
  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = baseNs + System.nanoTime()

  def start(run: String): Unit = {
    enabled = true; runId = run; mainThread = Thread.currentThread()
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      val parent = parents.headOption.getOrElse(0L)
      val onMain = Thread.currentThread() eq mainThread
      stack.set(id :: parents)
      if (onMain) mainCurrent = id
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, now(), Thread.currentThread().getName))
        stack.set(parents)
        if (onMain) mainCurrent = parent
      }
    }

  /** a span whose interval was measured elsewhere (listener stages) */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, startNs,
      endNs, "listener"))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name, in seconds: each span's duration minus the
    * part of its interval covered by the union of its children. */
  def selfTimes(): Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    ss.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      cs.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      out(s.name) += (s.endNs - s.startNs - covered) / 1e9
    }
    out.toMap
  }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb ++= Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "thread" -> Json.str(s.thread)))
      sb += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** Metrics and operation counts of one run, written as the result file
  * `run.py` reads. */
final class Result {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val notes = mutable.ArrayBuffer[String]()
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def fail(what: String): Unit = { failed.incrementAndGet(); notes += what }
  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted.get.toString,
    "failed" -> failed.get.toString,
    "notes" -> notes.take(50).map(Json.str).mkString("[", ",", "]"),
    "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })))
}

/** The live heap: heap in use right after each explicit full collection
  * (`System.gc()`), from the collectors' JMX notifications. The workloads
  * collect between phases and queries, outside the timed regions, so
  * these are the heap the program holds at those points, whatever the
  * collector's sizing of its young generation. */
object HeapWatch {
  private val samples = new ConcurrentLinkedQueue[Double]()
  @volatile private var on = false

  def install(): Unit = {
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (on && n.getType == com.sun.management.GarbageCollectionNotificationInfo
              .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (info.getGcCause == "System.gc()") {
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              samples.add(used / 1048576.0)
            }
          }, null, null)
      case _ => ()
    }
  }
  def start(): Unit = { samples.clear(); on = true }
  def stop(): Seq[Double] = { on = false; samples.asScala.toSeq }
}
