package perfbench

import scala.collection.mutable

import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** Sums one traced pass into per-layer counters.
  *
  * Input: the harness spans of the pass (pass, query, and its `build` /
  * `run` phases), the tracker of every built DataFrame, and what the
  * [[Tracer]] saw. A job belongs to the phase whose span id it carries
  * (or, failing that, whose interval holds its start); a stage belongs
  * to the first job that lists it. Catalyst phase times (analysis,
  * optimization, planning) are read from each distinct query
  * execution's tracker and charged to the harness phase in which they
  * started.
  */
object Layers {
  val planPhases: Seq[(String, String)] = Seq(
    QueryPlanningTracker.ANALYSIS -> "plans.analysis_s",
    QueryPlanningTracker.OPTIMIZATION -> "plans.optimization_s",
    QueryPlanningTracker.PLANNING -> "plans.planning_s")

  /** Returns (pass totals, per-query totals, job and stage spans). */
  def apply(spans: Seq[Span], dfTrackers: Seq[QueryPlanningTracker],
      traced: (Seq[JobRec], Seq[StageRec], Seq[QueryPlanningTracker]))
      : (Map[String, Double], Map[String, Map[String, Double]], Seq[Span]) = {
    val (jobs, stages, executions) = traced
    val phases = spans.filter(s => s.kind == "build" || s.kind == "run")
    val queryName = spans.filter(_.kind == "query").map(s => s.id -> s.name).toMap
    val phaseById = phases.map(p => p.id -> p).toMap
    def phaseAt(t: Double): Option[Span] = phases.find(p => p.start <= t && t <= p.end)

    val jobPhase: Map[Int, Span] = jobs.flatMap(j =>
      phaseById.get(j.phaseSpan).orElse(phaseAt(j.start)).map(j.jobId -> _)).toMap
    val stageJob: Map[Int, Int] = jobs.sortBy(-_.jobId)
      .flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap

    val plan = mutable.Map[Int, mutable.Map[String, Double]]()
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean]())
    for (t <- dfTrackers ++ executions if seen.add(t); (phase, key) <- planPhases;
         s <- t.phases.get(phase); p <- phaseAt(s.startTimeMs.toDouble)) {
      val m = plan.getOrElseUpdate(p.id, mutable.Map())
      m(key) = m.getOrElse(key, 0.0) + s.durationMs / 1000.0
    }

    val jobSpanIds = mutable.Map[Int, Int]()
    val extraSpans = mutable.ArrayBuffer[Span]()
    var nextId = spans.map(_.id).max
    def id(): Int = { nextId += 1; nextId }

    val perPhase: Seq[(Span, Map[String, Double])] = phases.map { p =>
      val js = jobs.filter(j => jobPhase.get(j.jobId).contains(p))
      js.foreach { j =>
        val jid = id(); jobSpanIds(j.jobId) = jid
        extraSpans += Span(jid, p.id, "job", s"job ${j.jobId}", j.start, j.end)
      }
      val jobIds = js.map(_.jobId).toSet
      val ss = stages.filter(s => stageJob.get(s.stageId).exists(jobIds))
      ss.foreach(s => extraSpans += Span(id(), jobSpanIds(stageJob(s.stageId)),
        "stage", s"stage ${s.stageId}.${s.attempt} ${s.name}", s.start, s.end))
      val busy = unionLength(ss.map(s => (s.start max p.start, s.end min p.end)))
      val wall = (p.end - p.start) / 1000
      def sum(f: StageRec => Double): Double = ss.map(f).sum
      val counters = Map(
        "driver.jobs" -> js.size.toDouble,
        "driver.stages" -> ss.size.toDouble,
        "driver.only_s" -> (wall - busy / 1000),
        "exchange.shuffle_write_bytes" -> sum(_.shuffleWriteBytes.toDouble),
        "exchange.shuffle_read_bytes" -> sum(_.shuffleReadBytes.toDouble),
        "exchange.tasks" -> sum(s => if (s.shuffleReadBytes > 0) s.tasks else 0),
        "scan.input_bytes" -> sum(_.inputBytes.toDouble),
        "scan.tasks" -> sum(s => if (s.inputBytes > 0) s.tasks else 0),
        "compute.run_s" -> sum(_.runMs / 1000.0),
        "compute.cpu_s" -> sum(_.cpuNs / 1e9),
        "compute.gc_s" -> sum(_.gcMs / 1000.0),
        "compute.spill_bytes" -> sum(_.spillBytes.toDouble),
        "io.bytes_written" -> sum(_.outputBytes.toDouble),
        "queries.build_s" -> (if (p.kind == "build") wall else 0.0),
        "queries.build_jobs" -> (if (p.kind == "build") js.size.toDouble else 0.0),
        "output.run_s" -> (if (p.kind == "run") wall else 0.0),
      ) ++ planPhases.map { case (_, k) =>
        k -> plan.get(p.id).flatMap(_.get(k)).getOrElse(0.0) }
      p -> counters
    }

    def total(ms: Seq[Map[String, Double]]): Map[String, Double] =
      ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val perQuery = perPhase.groupBy { case (p, _) => queryName(p.parent) }
      .map { case (q, xs) => q -> total(xs.map(_._2)) }
    (total(perPhase.map(_._2)), perQuery, extraSpans.toSeq)
  }

  /** Length of the union of [start, end) intervals (ms). */
  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = Double.NegativeInfinity
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (e > reach) { covered += e - (s max reach); reach = e }
    }
    covered
  }
}
