package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the harness's result and span files. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => str(other.toString)
  }

  def save(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      write(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** Job/stage/task totals of every job that ran under one job group. */
final class ExecAgg {
  var jobs, stages, tasks = 0L
  var jobWallMs, taskRunMs, taskCpuNs = 0L
  var inputBytes, outputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def +=(o: ExecAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    jobWallMs += o.jobWallMs; taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** Attributes Spark jobs to the job group the bench set around each call
  * into the engine. Registered only for traced passes. */
final class ExecListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, ExecAgg]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def agg(g: String): ExecAgg = byGroup.computeIfAbsent(g, _ => new ExecAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    agg(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) => agg(g).jobWallMs += e.time - t0 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    agg(stageGroup.getOrDefault(e.stageInfo.stageId, "-")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageGroup.getOrDefault(e.stageId, "-"))
      a.tasks += 1
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Remove and return the totals of one group (call after a drain). */
  def take(g: String): ExecAgg = synchronized {
    Option(byGroup.remove(g)).getOrElse(new ExecAgg)
  }
}

final case class Span(name: String, startNs: Long, endNs: Long, parent: Int,
                      attrs: Map[String, Any])

/** Spans recorded around the bench's own calls into each engine layer.
  * With `on = false` every method is a plain pass-through: untraced
  * passes run exactly the calls a user makes, with no listener, no job
  * groups and no extra planning. */
final class Tracer(spark: SparkSession, val t0Ns: Long) {
  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var listener: ExecListener = _
  private var groupSeq = 0L
  private val pending = ArrayBuffer.empty[(String, ExecAgg)]
  var on = false

  def start(): Unit = if (!on) {
    listener = new ExecListener
    sc.addSparkListener(listener)
    on = true
  }

  def stop(): Unit = if (on) {
    org.apache.spark.lakebench.Bus.drain(sc)
    pending.foreach { case (g, a) => a += listener.take(g) }
    pending.clear()
    sc.removeSparkListener(listener)
    on = false
  }

  /** Run `body` inside a named span; returns its value and duration in ms. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Double) = {
    val idx = if (on) {
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), attrs)
      stack = (spans.size - 1) :: stack
      spans.size - 1
    } else -1
    val t = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t) / 1e6)
    } finally if (idx >= 0) {
      spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      stack = stack.tail
    }
  }

  /** `span`, with every Spark job the body fires attributed to it. The
    * returned totals are filled in by `stop()`: the listener bus is
    * drained once per traced pass, not once per call. */
  def jobs[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Double, ExecAgg) = {
    val a = new ExecAgg
    if (!on) { val (v, ms) = span(name, attrs)(body); (v, ms, a) }
    else {
      groupSeq += 1
      val g = s"lakebench-$groupSeq"
      sc.setJobGroup(g, name, interruptOnCancel = false)
      val (v, ms) = try span(name, attrs)(body) finally sc.clearJobGroup()
      pending += g -> a
      (v, ms, a)
    }
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("name" -> s.name, "start_ms" -> (s.startNs - t0Ns) / 1e6,
      "end_ms" -> (s.endNs - t0Ns) / 1e6, "parent" -> s.parent) ++ s.attrs
  }
}

/** Process-wide counters read at pass boundaries. */
object Counters {
  private val cgm = org.apache.spark.metrics.source.CodegenMetrics
  def codegen: (Long, Double) = {
    val h = cgm.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
