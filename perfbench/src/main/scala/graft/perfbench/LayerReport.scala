package graft.perfbench

import scala.collection.mutable

/** Folds a finished [[Trace]] into per-layer metrics named
  * `<layer>.<metric>`.
  *
  * Span layers (one span per benchmark call) report:
  *   s            Σ span wall
  *   calls        spans
  *   jobs, tasks  Spark jobs tagged with the span, and their tasks
  *   task_s       Σ executorRunTime of those tasks
  *   driver_gap_s span wall minus the union of its jobs' intervals
  *   shuffle_mb   shuffle bytes the jobs wrote
  * `sources` is attributed by stage instead: every stage that read
  * input bytes (the Tables scans under every query, and the cached-frame
  * reads under the ml loops). Its driver_gap_s is the time those stages
  * were open with no task running. `spark` covers every job of the run;
  * its driver_gap_s is the traced wall with no job running.
  */
object LayerReport {

  val SpanLayers: Seq[String] = Seq("session",
    "operators.Relational", "operators.TpchShapes", "operators.Temporal",
    "operators.Analytics", "operators.Graph", "operators.Dedup",
    "operators.Similarity", "operators.TextAnalysis", "SharedBuilds",
    "ml.SparseBoost", "ml.SoftprobBoost", "ml.QuantileBoost", "ml.PoissonBoost",
    "ml.RankBoost", "ml.LinearBoost", "ml.mllib", "ml.score")

  val FitLayers: Seq[String] = SpanLayers.filter(l => l.startsWith("ml.") && l != "ml.score")

  /** The program's own job labels, round and class numbers stripped. */
  val Phases: Seq[String] = Seq("propose-edges", "init-margin", "grow",
    "margin-update", "loss", "gamma", "base-quantile", "input_count",
    "train_materialize")

  def phaseOf(description: String): String =
    description.stripPrefix("boost: ")
      .replaceAll("""^r\d+ """, "")
      .replaceAll("""class-\d+ """, "")
      .trim.replace(' ', '_')

  /** Total length covered by a set of [start, end) intervals. */
  def covered(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.toSeq.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  private final class Agg {
    var wallMs = 0L; var calls = 0L; var jobs = 0L; var tasks = 0L
    var runMs = 0L; var gapMs = 0L; var shuffleBytes = 0L
  }

  /** The top-level spans (set-ups and passes) make up the traced wall. */
  def compute(cores: Int): mutable.LinkedHashMap[String, Double] = Trace.synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val stagesByJob = Trace.stages.values.groupBy(_.jobKey)
    def stagesOf(j: JobRec): Iterable[StageRec] = stagesByJob.getOrElse(j.key, Nil)
    val jobsBySpan = Trace.jobs.values.groupBy(_.span)
    val spanLayer = Trace.spans.map(s => s.id -> s.layer).toMap

    val aggs = SpanLayers.map(_ -> new Agg).toMap
    Trace.spans.foreach { sp =>
      aggs.get(sp.layer).foreach { a =>
        val js = jobsBySpan.getOrElse(sp.id, Nil)
        a.wallMs += sp.end - sp.start
        a.calls += 1
        a.jobs += js.size
        a.gapMs += (sp.end - sp.start) -
          covered(js.map(j => (math.max(j.start, sp.start), math.min(j.end, sp.end))))
        js.flatMap(stagesOf).foreach { st =>
          a.tasks += st.tasks; a.runMs += st.runMs; a.shuffleBytes += st.shuffleWriteBytes
        }
      }
    }
    def put(layer: String, a: Agg): Unit = {
      out(s"$layer.s") = a.wallMs / 1e3
      out(s"$layer.calls") = a.calls.toDouble
      out(s"$layer.jobs") = a.jobs.toDouble
      out(s"$layer.tasks") = a.tasks.toDouble
      out(s"$layer.task_s") = a.runMs / 1e3
      out(s"$layer.driver_gap_s") = a.gapMs / 1e3
      out(s"$layer.shuffle_mb") = a.shuffleBytes / 1048576.0
    }
    SpanLayers.foreach(l => put(l, aggs(l)))
    FitLayers.foreach { l =>
      val a = aggs(l)
      out(s"$l.jobs_per_fit") = if (a.calls == 0) 0.0 else a.jobs.toDouble / a.calls
    }

    // boosting phases: jobs under a fit span, grouped by their label
    val fitJobs = Trace.jobs.values.filter(j =>
      spanLayer.get(j.span).exists(FitLayers.contains))
    val byPhase = fitJobs.groupBy(j => phaseOf(j.description))
    Phases.foreach { p =>
      val js = byPhase.getOrElse(p, Nil)
      out(s"ml.phase.$p.s") = covered(js.map(j => (j.start, j.end))) / 1e3
      out(s"ml.phase.$p.jobs") = js.size.toDouble
    }

    // SharedBuilds overlap: Σ job time over the build's wall
    val sbSpans = Trace.spans.filter(_.layer == "SharedBuilds")
    val sbJobMs = sbSpans.flatMap(s => jobsBySpan.getOrElse(s.id, Nil)).map(j => j.end - j.start).sum
    val sbWall = sbSpans.map(s => s.end - s.start).sum
    out("SharedBuilds.overlap") = if (sbWall == 0) 0.0 else sbJobMs.toDouble / sbWall

    // sources: every stage that read input
    val scans = Trace.stages.values.filter(st => st.inputBytes > 0 && st.completed > 0)
    val src = new Agg
    src.wallMs = covered(scans.map(st => (st.submitted, st.completed)))
    src.calls = scans.size
    src.jobs = scans.map(_.jobKey).toSet.size
    scans.foreach { st =>
      src.tasks += st.tasks; src.runMs += st.runMs; src.shuffleBytes += st.shuffleWriteBytes
    }
    src.gapMs = src.wallMs - covered(scans.flatMap(_.taskIntervals))
    put("sources", src)

    // spark: the whole traced run
    val roots = Trace.spans.filter(_.parent == 0)
    val rootWallMs = roots.map(s => s.end - s.start).sum
    val all = Trace.stages.values
    val sp = new Agg
    sp.wallMs = covered(Trace.jobs.values.map(j => (j.start, j.end)))
    sp.calls = roots.size
    sp.jobs = Trace.jobs.size
    all.foreach { st =>
      sp.tasks += st.tasks; sp.runMs += st.runMs; sp.shuffleBytes += st.shuffleWriteBytes
    }
    sp.gapMs = rootWallMs - sp.wallMs
    put("spark", sp)
    out("spark.core_busy") = if (rootWallMs == 0) 0.0 else sp.runMs.toDouble / (rootWallMs * cores)
    out("spark.empty_task_share") =
      if (sp.tasks == 0) 0.0 else all.map(_.emptyTasks).sum.toDouble / sp.tasks
    out("spark.spill_mb") = all.map(_.spillBytes).sum / 1048576.0
    out("spark.gc_s") = all.map(_.gcMs).sum / 1e3
    out("spark.failed_tasks") = all.map(_.failedTasks).sum.toDouble
    out
  }
}
