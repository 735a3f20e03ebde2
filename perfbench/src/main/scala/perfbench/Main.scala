package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The benchmark's JVM side: one workload, one session, over the
  * inputs `run.py` generated from the seed.
  *
  * Runs the workload's setup, then exactly one timed pass, then the
  * row counts and the correctness gate's data dumps, outside the pass.
  * Only calls into the program's public functions are timed. With
  * `--trace 1` the pass also records spans plus Spark listener
  * counters; its wall time against an untraced run's is the tracing
  * overhead. Results go to `<work>/jvm.json`; `run.py` turns them into
  * the benchmark's output.
  */
object Main {
  final case class Args(workload: String, trace: Boolean, data: String,
      work: String, startedMs: Long, cores: Int, triggers: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("trace") == "1", m("data"), m("work"),
      m("started-ms").toLong, m("cores").toInt,
      m.getOrElse("triggers", "0").toInt)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    // the inputs are generated while the session starts
    val ready = Paths.get(a.data, "READY")
    while (!Files.exists(ready)) Thread.sleep(20)
    try new Harness(spark, a).run()
    finally spark.stop()
  }
}

/** What one workload does; the harness drives it. */
trait Workload {
  /** Inputs, artifacts and the pass's start state (part of set-up). */
  def setup(): Unit
  /** The timed pass: every operation, through the harness's `op`. */
  def pass(): Unit
  /** Row counts and other facts of the pass, counted after it ends
    * (untimed, untraced); same-seed runs repeat them exactly. */
  def facts(): Map[String, Long] = Map.empty
  /** Bytes the pass left on disk (tables, stream dir, artifacts). */
  def leftBytes(): Long = 0L
  /** Traced-only calls measured outside the pass. */
  def traceExtras(): Unit = ()
  /** Write what the correctness gate checks under `dir`. */
  def gate(dir: Path): Unit
}

object Harness {
  /** Facts a workload reports that are per-layer metrics. */
  val LayerFacts: Set[String] = Set("sources.rows_in", "pipeline.rows_out",
    "stream.pairs", "stream.files_written", "stream.bytes_written",
    "stream.live_files", "artifact.bytes_written")
  /** Span pass ids: the timed pass, and the traced-only extras. */
  val Pass = 0
  val Extras = -2
}

final class Harness(val spark: SparkSession, val a: Main.Args) {
  val t0Ns: Long = System.nanoTime()
  val gateDir: Path = Paths.get(a.work, "gate")
  var tracer: Option[Tracer] = None
  private var timing = false
  private val opsLog = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  private val planPhases = mutable.ArrayBuffer.empty[(String, Double)]

  /** A traced region; a plain call when tracing is off. */
  def span[T](name: String, layer: String)(f: => T): T = tracer match {
    case Some(t) => t(name, layer)(f)
    case None => f
  }

  /** One operation a user waits on. A throw counts it as failed. */
  def op(name: String)(f: => Unit): Unit = {
    val t = System.nanoTime()
    val ok = try { f; true } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    if (timing) opsLog += ((name, (System.nanoTime() - t) / 1e9, ok))
  }

  /** A frame's recorded planning phases (traced pass only). */
  def recordPhases(df: org.apache.spark.sql.DataFrame): Unit =
    if (tracer.isDefined && timing)
      df.queryExecution.tracker.phases.foreach { case (k, v) =>
        planPhases += ((k, v.durationMs / 1e3)) }

  /** Heap in use after full GCs, with pauses between them so Spark's
    * ContextCleaner can release what the first collection orphaned. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(): Unit = {
    Files.createDirectories(gateDir)
    val w: Workload = a.workload match {
      case "tpch22" => new Tpch22(this)
      case "etl_day" =>
        new Sequence(Seq(new BlueFortyDag(this), new StreamDay(this)))
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    def phase[T](name: String)(f: => T): T = {
      val t = System.nanoTime()
      try f
      finally System.err.println(
        f"[perfbench] $name ${(System.nanoTime() - t) / 1e9}%.2f s")
    }
    phase("setup")(w.setup())
    val setupS = (System.currentTimeMillis() - a.startedMs) / 1e3

    // the one timed pass, traced when asked: listener and tracer are
    // attached only around it (and around the extras below)
    val tracing = new Tracer(spark.sparkContext)
    val listener = new Counters
    def traced[T](pass: Int)(f: => T): T =
      if (!a.trace) f
      else {
        spark.sparkContext.addSparkListener(listener)
        tracing.pass = pass
        tracer = Some(tracing)
        try f
        finally {
          tracer = None
          org.apache.spark.perfbench.ListenerSync.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
        }
      }
    val wall = phase("pass") {
      traced(Harness.Pass) {
        timing = true
        val t = System.nanoTime()
        span("pass", "harness") { w.pass() }
        timing = false
        (System.nanoTime() - t) / 1e9
      }
    }
    val heap = retainedHeapMb()
    val left = w.leftBytes()
    val facts = phase("facts")(w.facts())
    phase("gate")(w.gate(gateDir))

    val layers = Option.when(a.trace) {
      traced(Harness.Extras)(w.traceExtras())
      val l = new Layers(tracing, listener, planPhases.toSeq, a.cores)
      Files.write(Paths.get(a.work, "spans.json"), tracing.json(t0Ns).getBytes)
      val m = l.pass() ++ l.metrics(Harness.Extras)
        .filter(_._1.startsWith("tables.")) ++
        facts.collect { case (k, v) if Harness.LayerFacts(k) => k -> v.toDouble }
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }

    val ops = opsLog.map { case (n, s, ok) =>
      Json.obj(Seq("name" -> Json.str(n), "s" -> s.toString,
        "ok" -> ok.toString)) }
    val out = Json.obj(Seq(
      "setup_s" -> setupS.toString,
      "wall_s" -> wall.toString,
      "heap_mb" -> heap.toString,
      "left_bytes" -> left.toString,
      "rows" -> Json.obj(facts.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> v.toString }),
      "ops" -> ops.mkString("[", ",\n", "]")) ++
      layers.map("layers" -> _))
    Files.write(Paths.get(a.work, "jvm.json"), out.getBytes)
  }
}
