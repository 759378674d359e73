package graftbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Per-layer metrics of a traced run, from the benchmark's own timings of
  * its calls into graft and from its listener. Amounts are per warm pass,
  * averaged over the traced passes. */
object Layers {
  val families = Seq("dedup", "similarity", "text", "sketches", "multimodal",
    "curate")
  private val ingestOps = Map(
    "pq_append" -> "operators.pq_index.append_s",
    "pq_delete" -> "operators.pq_index.delete_s",
    "pq_probe" -> "operators.pq_index.probe_s",
    "pq_compact" -> "operators.pq_index.compact_s",
    "mh_probe_append" -> "operators.minhash_index.probe_append_s",
    "mh_delete" -> "operators.minhash_index.delete_s",
    "mh_compact" -> "operators.minhash_index.compact_s")

  def compute(r: Runner, wl: Workload, warmPasses: Seq[PassRecord],
              cores: Int, sessionBuild: Seq[Double],
              register: Seq[Double]): Map[String, (Double, String)] = {
    val tp = warmPasses.filter(_.traced)
    val untraced = warmPasses.filterNot(_.traced)
    val n = math.max(tp.size, 1).toDouble
    val tpNos = tp.map(_.pass).toSet
    val ops = r.samples.filter(s => tpNos(s.pass)).toSeq
    val all = new GroupStats
    tp.foreach(_.groups.values.foreach(all.add))
    val construct = new GroupStats
    for (p <- tp; (g, st) <- p.groups if g.endsWith(".c")) construct.add(st)
    val perPass = (x: Double) => x / n
    val wall = tp.map(_.wall).sum
    // op wall time not covered by any of its stages
    val stagesOf = tp.flatMap(_.groups).groupBy { case (g, _) =>
      g.takeWhile(_ != '.') }.map { case (op, gs) =>
        op -> gs.flatMap(_._2.stageSpans).map(s => (s._1.toDouble, s._2.toDouble)) }
    val driverS = ops.map { s =>
      val iv = stagesOf.getOrElse(s"op${s.seq}", Nil)
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }
      s.wall - Stats.covered(iv) / 1000.0
    }.sum
    val skew = Stats.median(tp.map(p =>
      (1.0 +: p.groups.values.map(_.worstSkew).toSeq).max))
    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "core.session_build_s" -> Stats.median(sessionBuild),
      "sources.register_s" -> Stats.median(register),
      "sources.scan_bytes" -> perPass(all.scanBytes),
      "sources.scan_rows" -> perPass(all.scanRows),
      "queries.construct_s" -> perPass(ops.map(_.construct).sum),
      "queries.construct_jobs" -> perPass(construct.jobs),
      "queries.execute_s" -> perPass(ops.map(_.execute).sum))
    for (f <- families)
      m(s"operators.$f.busy_s") =
        perPass(ops.filter(_.family == f).map(_.wall).sum)
    m("operators.dedup.candidates_per_pair") = wl match {
      case q: QueryWorkload => q.candidatesPerPair
      case _ => 0.0
    }
    for ((op, key) <- ingestOps)
      m(key) = perPass(ops.filter(_.name == op).map(_.wall).sum)
    wl match {
      case i: IngestWorkload =>
        m("operators.pq_index.files_live") = Stats.median(i.pqFilesLive.toSeq)
        m("operators.minhash_index.files_live") =
          Stats.median(i.mhFilesLive.toSeq)
        m("sinks.bytes_written") = perPass(i.bytesWritten)
        m("sinks.files_written") = perPass(i.filesWritten)
        m("operators.maintenance.write_amp") =
          i.bytesWritten.toDouble / math.max(i.userBytesApplied, 1L)
      case _ =>
        m("operators.pq_index.files_live") = 0.0
        m("operators.minhash_index.files_live") = 0.0
        m("sinks.bytes_written") = perPass(all.outputBytes)
        m("sinks.files_written") = 0.0
        m("operators.maintenance.write_amp") = 0.0
    }
    val runS = all.taskRunMs / 1000.0
    m ++= Seq(
      "spark.jobs" -> perPass(all.jobs),
      "spark.stages" -> perPass(all.stages),
      "spark.tasks" -> perPass(all.tasks),
      "spark.task_run_s" -> perPass(runS),
      "spark.task_cpu_s" -> perPass(all.taskCpuNs / 1e9),
      "spark.cpu_share" -> all.taskCpuNs / 1e9 / math.max(runS, 1e-9),
      "spark.gc_s" -> perPass(all.gcMs / 1000.0),
      "spark.shuffle_write_bytes" -> perPass(all.shuffleWriteBytes),
      "spark.shuffle_records" -> perPass(all.shuffleRecords),
      "spark.spill_bytes" -> perPass(all.spillBytes),
      "spark.task_skew" -> skew,
      "spark.driver_s" -> perPass(driverS),
      "spark.core_busy_share" -> runS / math.max(wall * cores, 1e-9),
      "trace.pass_s" -> Stats.median(tp.map(_.wall)),
      "trace.untraced_pass_s" -> Stats.median(untraced.map(_.wall)),
      // 0 when the deadline left no untraced pass to compare with
      "trace.overhead_share" ->
        (if (untraced.isEmpty) 0.0
         else Stats.median(tp.map(_.wall)) /
           Stats.median(untraced.map(_.wall)) - 1.0),
      // the pass timer against the operation timers: the share of a
      // traced pass that no operation accounts for, worst pass
      "trace.reconcile_gap_share" -> (0.0 +: tp.map { p =>
        1.0 - ops.filter(_.pass == p.pass).map(_.wall).sum / p.wall }).max)
    val self = selfTimes(r.spans.toSeq)
    for (k <- Seq("pass", "queries.construct", "queries.execute",
      "spark.stage")) m(s"self.${k}_s") = perPass(self.getOrElse(k, 0.0))
    m.map { case (k, v) => k -> (v, unit(k)) }.toMap
  }

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_share") || name.endsWith("_amp") ||
      name.endsWith("_skew") || name.endsWith("per_pair")) "1"
    else "count"

  /** Self time per span kind: a span's duration minus the part of it its
    * children cover. Stage spans overlap each other; their self time is
    * the union they cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val out = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
    for (s <- spans if s.kind != "spark.stage" && s.kind != "run") {
      val cov = Stats.covered(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start).toDouble, math.min(c.end, s.end).toDouble))
        .filter { case (a, b) => b > a })
      out(s.kind) += (s.end - s.start - cov) / 1e6
    }
    for ((p, cs) <- kids; if cs.exists(_.kind == "spark.stage"))
      out("spark.stage") += Stats.covered(cs.filter(_.kind == "spark.stage")
        .map(c => (c.start.toDouble, c.end.toDouble))) / 1e6
    out.toMap
  }

  /** Spans, one JSON object per line, in start order. */
  def writeTrace(r: Runner, path: String, mapper: ObjectMapper): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try r.spans.sortBy(_.start).foreach(s => w.println(mapper.writeValueAsString(
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "kind" -> s.kind, "start_us" -> s.start, "end_us" -> s.end,
        "op" -> s.op))))
    finally w.close()
  }
}
