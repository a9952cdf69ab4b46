package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters summed over a set of tasks and jobs. */
final class Counters {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong      // executor run time
  val cpuNs = new AtomicLong      // executor CPU time
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong      // memory + disk bytes spilled
  val schedDelayMs = new AtomicLong

  def add(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get); tasks.addAndGet(o.tasks.get)
    runMs.addAndGet(o.runMs.get); cpuNs.addAndGet(o.cpuNs.get); gcMs.addAndGet(o.gcMs.get)
    shuffleRead.addAndGet(o.shuffleRead.get); shuffleWrite.addAndGet(o.shuffleWrite.get)
    spill.addAndGet(o.spill.get); schedDelayMs.addAndGet(o.schedDelayMs.get)
  }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble, "tasks" -> tasks.get.toDouble,
    "task_ms" -> runMs.get.toDouble, "task_cpu_ms" -> cpuNs.get / 1e6, "jvm_gc_ms" -> gcMs.get.toDouble,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble, "shuffle_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble, "scheduler_delay_ms" -> schedDelayMs.get.toDouble)
}

/** A traced interval: a call into one layer of the program. */
final case class Span(id: Long, parent: Long, name: String, request: String,
                      startNs: Long, endNs: Long, counters: Counters) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around each layer call, and Spark counters attributed to them.
  *
  * Each span runs its Spark jobs under a job group named after the span, so
  * a [[SparkListener]] can route every finished task to the span that
  * caused it. Spans are kept in memory and written out once, when the run
  * ends. With tracing off, `span` only evaluates its body: no job groups,
  * no listener, no allocation. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[List[(Long, Counters)]] { override def initialValue() = Nil }
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** Every task of the run, spans or not. */
  val total = new Counters

  private val groupPrefix = "perfbench-span-"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      total.jobs.incrementAndGet()
      if (g != null && byGroup.containsKey(g)) {
        byGroup.get(g).jobs.incrementAndGet()
        e.stageIds.foreach(stageGroup.put(_, g))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      total.stages.incrementAndGet()
      Option(stageGroup.get(e.stageInfo.stageId)).map(byGroup.get).foreach(c =>
        if (c != null) c.stages.incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val targets = total +: Option(stageGroup.get(e.stageId)).map(byGroup.get).filter(_ != null).toSeq
      val delay = math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      targets.foreach { c =>
        c.tasks.incrementAndGet()
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.schedDelayMs.addAndGet(delay)
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as a span named `name` for request `request`. */
  def span[T](name: String, request: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.incrementAndGet()
    val stack = current.get()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val c = new Counters
    val group = groupPrefix + id
    byGroup.put(group, c)
    current.set((id, c) :: stack)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      current.set(stack)
      stack.headOption match {
        case Some((p, _)) => sc.setJobGroup(groupPrefix + p, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans.add(Span(id, parent, name, request, t0, t1, c))
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) {
    // the listener bus delivers events asynchronously: poll until the task
    // count stops moving
    var last = -1L
    var n = 0
    while (n < 50 && total.tasks.get != last) {
      last = total.tasks.get; Thread.sleep(100); n += 1
    }
  }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq.sortBy(_.startNs)
  }

  /** Per span name: count, total and self time (duration minus the part of
    * its interval covered by child spans), and summed counters. */
  def layerTable: Seq[(String, Map[String, Double])] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var sum = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) sum += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      if (curE > curS) sum += curE - curS
      sum
    }
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, xs) =>
      val c = new Counters
      xs.foreach(s => c.add(s.counters))
      name -> (Map(
        "count" -> xs.size.toDouble,
        "total_ms" -> xs.map(_.ms).sum,
        "self_ms" -> xs.map(s => (s.endNs - s.startNs - covered(s)) / 1e6).sum) ++ c.toMap)
    }
  }

  /** Summed counters and wall time of every span with this name, of the
    * requests `request` accepts. */
  def layer(name: String, request: String => Boolean = _ => true): (Int, Double, Counters) = {
    val xs = all.filter(s => s.name == name && request(s.request))
    val c = new Counters
    xs.foreach(s => c.add(s.counters))
    (xs.size, xs.map(_.ms).sum, c)
  }

  def write(dir: java.io.File): Unit = {
    dir.mkdirs()
    val base = all.headOption.map(_.startNs).getOrElse(0L)
    val w = new java.io.PrintWriter(new java.io.File(dir, "spans.jsonl"), "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "request" -> s.request, "start_ms" -> (s.startNs - base) / 1e6,
        "end_ms" -> (s.endNs - base) / 1e6) ++ s.counters.toMap.toSeq))
    } finally w.close()
    val t = new java.io.PrintWriter(new java.io.File(dir, "layers.json"), "UTF-8")
    try t.println(Json.obj(layerTable.map { case (n, m) => n -> Json.Raw(Json.obj(m.toSeq)) }))
    finally t.close()
  }
}

/** Just enough JSON writing for the result line and the trace files. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = graft.model.PropValue.jsonString(s)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
