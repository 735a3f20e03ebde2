package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed region of the traced run: a call into the program (or a
  * group of calls), tagged with the layer it exercises. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    pass: Int, startNs: Long, var endNs: Long = -1L)

/** Per-stage Spark counters, summed from the stage's task metrics. */
final case class StageStats(tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long,
    output: Long)

/** Spark-side counters, attributed to the innermost open span: every
  * span sets its id as a local property of the driver thread, which
  * each job it submits (directly, or from a thread it spawns) carries
  * in its properties. Registered only in the traced run. */
final class Counters extends SparkListener {
  val SpanProp = "perfbench.span"
  // job id -> (span id, start ms, end ms, stage ids)
  val jobs = mutable.LinkedHashMap.empty[Int, (Int, Long, Long, Seq[Int])]
  val stages = mutable.HashMap.empty[Int, StageStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = (span, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, t0, _, st) =>
      jobs(e.jobId) = (s, t0, e.time, st) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) =
        if (m == null) StageStats(i.numTasks, 0, 0, 0, 0, 0, 0, 0)
        else StageStats(i.numTasks, m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
}

/** Spans kept in memory, written as JSON when the run ends. */
final class Tracer(sc: org.apache.spark.SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var pass: Int = -1

  def apply[T](name: String, layer: String)(f: => T): T = {
    val s = Span(spans.size, name, layer, open.headOption.fold(-1)(_.id),
      pass, System.nanoTime())
    spans += s
    open = s :: open
    sc.setLocalProperty("perfbench.span", s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty("perfbench.span",
        open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Each span's own time: its duration minus its children's. */
  def selfNs: Map[Int, Long] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> ((s.endNs - s.startNs) - child.getOrElse(s.id, 0L)))
      .toMap
  }

  def json(t0: Long): String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      s""""parent":${s.parent},"pass":${s.pass},""" +
      s""""start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Minimal JSON rendering for the harness's own output files. */
object Json {
  def str(s: String): String = {
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

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString

  /** A collected Spark value, typed so the checker can tell decimals
    * and dates from doubles and strings. */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case s: Short => s.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case d: java.math.BigDecimal => str("dec:" + d.toPlainString)
    case d: scala.math.BigDecimal => str("dec:" + d.bigDecimal.toPlainString)
    case d: java.sql.Date => str("date:" + d.toString)
    case d: java.time.LocalDate => str("date:" + d.toString)
    case t: java.sql.Timestamp => str("ts:" + t.toLocalDateTime.toString)
    case t: java.time.LocalDateTime => str("ts:" + t.toString)
    case t: java.time.Instant => str("ts:" + t.toString)
    case s: String => str(s)
    case o => str(o.toString)
  }

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
