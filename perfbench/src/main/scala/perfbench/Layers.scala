package perfbench

/** Per-layer metrics of the traced pass, from the spans and the
  * listener's jobs and stages. A job counts toward the span that was
  * innermost when it was submitted and toward each of that span's
  * ancestors; a named metric sums over every span of that name. */
final class Layers(t: Tracer, c: Counters,
    phases: Seq[(String, Double)], cores: Int) {

  /** Span name → metric stem, and which of its totals are reported. */
  private val named: Seq[(String, String, Seq[String])] = Seq(
    ("build", "build.", Seq("s", "jobs")),
    ("exec", "exec.", Seq("s", "jobs")),
    ("tables.load", "tables.load_", Seq("s", "jobs")),
    ("sources.csv", "sources.csv_", Seq("s")),
    ("sources.xml_raw", "sources.xml_raw_", Seq("s")),
    ("sources.xml_shred", "sources.xml_shred_", Seq("s")),
    ("sources.infer", "sources.infer_", Seq("s")),
    ("sources.tsv", "sources.tsv_", Seq("s")),
    ("pipeline.reconcile", "pipeline.reconcile_", Seq("s")),
    ("pipeline.zip5", "pipeline.zip5_", Seq("s")),
    ("pipeline.closest", "pipeline.closest_", Seq("s", "tasks")),
    ("pipeline.weather", "pipeline.weather_", Seq("s")),
    ("pipeline.enrich", "pipeline.enrich_", Seq("s")),
    ("stream.pair", "stream.pair_", Seq("s", "jobs")),
    ("stream.fold", "stream.fold_", Seq("s", "jobs")),
    ("stream.compact", "stream.compact_", Seq("s", "jobs")),
    ("stream.serve", "stream.serve_", Seq("s", "jobs")),
    ("artifact.fold", "artifact.fold_", Seq("s", "jobs")),
    ("artifact.read", "artifact.read_", Seq("s", "jobs")))

  private val layerTags = Seq("builders", "spark", "tables", "sources",
    "pipeline", "streaming", "artifact", "harness")

  private val byId = t.spans.map(s => s.id -> s).toMap

  private def ancestry(id: Int): List[Int] =
    if (id < 0) Nil else id :: ancestry(byId(id).parent)

  // job id -> (span ids it counts toward, start ms, end ms, stage stats)
  private lazy val jobs = c.jobs.toSeq.map { case (j, (s, t0, t1, st)) =>
    (j, ancestry(s).toSet, t0, t1, st.flatMap(c.stages.get))
  }

  /** Metrics of the spans of pass `p`. */
  def metrics(p: Int): Map[String, Double] = {
    val spans = t.spans.filter(_.pass == p)
    val ids = spans.map(_.id).toSet
    val pj = jobs.filter(_._2.exists(ids))
    def secs(ss: Iterable[Span]) = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
    val spanned = named.flatMap { case (name, stem, kinds) =>
      val ss = spans.filter(_.name == name)
      val sid = ss.map(_.id).toSet
      val js = pj.filter(_._2.exists(sid))
      kinds.map {
        case "s" => s"${stem}s" -> secs(ss)
        case "jobs" => s"${stem}jobs" -> js.size.toDouble
        case "tasks" => s"${stem}tasks" -> js.flatMap(_._5).map(_.tasks).sum.toDouble
      }
    }.filter(_ => spans.nonEmpty)
    spanned.toMap
  }

  /** The timed pass's metrics, including the Spark-wide ones and the
    * planning phases of the frames it executed. */
  def pass(): Map[String, Double] = {
    val p = Harness.Pass
    val root = t.spans.find(s => s.name == "pass" && s.pass == p).get
    val spans = t.spans.filter(_.pass == p)
    val ids = spans.map(_.id).toSet
    val pj = jobs.filter(_._2.exists(ids))
    val st = pj.flatMap(_._5)
    val wall = (root.endNs - root.startNs) / 1e9
    val self = t.selfNs
    // driver time with no job running: the pass minus the union of
    // its jobs' [start, end] intervals
    val busy = pj.map(j => (j._3, if (j._4 < 0) j._3 else j._4)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (s, e)) =>
        if (s >= end) (acc + (e - s), e)
        else if (e > end) (acc + (e - end), e)
        else (acc, end)
      }._1 / 1e3
    val run = st.map(_.runMs).sum / 1e3
    val mb = 1048576.0
    val bySelf = spans.groupBy(_.layer).map { case (l, ss) =>
      s"self.${l}_s" -> ss.map(s => self(s.id)).sum / 1e9 }
    val covered = spans.filter(_.layer != "harness").map(s => self(s.id)).sum / 1e9
    val planned = phases.groupBy(_._1).map {
      case (k, v) => s"plan.${k}_s" -> v.map(_._2).sum }
    Map(
      "spark.jobs" -> pj.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.driver_gap_s" -> math.max(0.0, wall - busy),
      "spark.exec_run_s" -> run,
      "spark.exec_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.slot_util" -> run / (wall * cores),
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> st.map(_.spill).sum / mb,
      "spark.input_mb" -> st.map(_.input).sum / mb,
      "spark.output_mb" -> st.map(_.output).sum / mb,
      "trace.wall_s" -> wall,
      "trace.coverage" -> covered / wall) ++
      layerTags.map(l => s"self.${l}_s" -> 0.0) ++ bySelf ++ planned ++
      metrics(p)
  }
}
