package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.Sessions

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** The highest percentile with at least 10 samples beyond it:
    * (value, percentile, sample count). Fewer than 11 samples give the
    * maximum. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  /** Total length of the union of [a, b) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    for ((a, b) <- iv.sortBy(_._1)) {
      val lo = math.max(a, end)
      if (b > lo) total += b - lo
      end = math.max(end, b)
    }
    total
  }
}

/** The benchmark's JVM side. Arguments come from run.py:
  *   <workload> <seed> <seconds> <trace 0|1> <inputs> <work> <out.json>
  *   <setup reps> <cores> <budget seconds>
  * It builds the session through graft.core.Sessions.build and
  * registers the inputs `reps` times, builds indexes and runs one cold
  * pass that writes every answer for the checker, measures warm passes
  * for `seconds` (at least the workload's minimum), and writes its
  * measurements to out.json; run.py checks answers and prints. Warm
  * passes stop early, after at least one, when another would not end
  * within the budget, so a slow program still reports. */
object Main {
  def main(args: Array[String]): Unit = {
    val started = System.nanoTime()
    val Array(workload, seedS, secondsS, traceS, inputs, work, out, repsS,
      coresS, budgetS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val reps = repsS.toInt
    val cores = coresS.toInt
    val budget = budgetS.toDouble
    val r = new Runner(traced)
    val heap = new HeapWatch
    val names = Workload.queryLists.getOrElse(workload, Nil)
    val wl: Workload =
      if (workload == "ingest")
        new IngestWorkload(inputs, work, seed, probeSize = 16)
      else
        new QueryWorkload(names, seed, inputs, pairRatio = traced)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(s"$work/oracle_sql.json"), Map(
      "names" -> names,
      "sql" -> graft.SparkEntry.oracleSql.filter { case (k, _) =>
        names.contains(k) }))
    val setup = mutable.ArrayBuffer.empty[Double]
    val sessionBuild = mutable.ArrayBuffer.empty[Double]
    val register = mutable.ArrayBuffer.empty[Double]
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

    // set-up: session build and table registration, `reps` times (the
    // last session stays), then the index build and one cold pass that
    // also writes every answer for the checker
    for (rep <- 1 to reps) {
      if (r.spark != null) r.spark.stop()
      val t0 = System.nanoTime()
      r.spark = Sessions.build("graftbench", master = Some(s"local[$cores]"))
      sessionBuild += secs(t0)
      val t1 = System.nanoTime()
      wl.register(r)
      register += secs(t1)
      setup += secs(t0)
    }
    // the heap is watched over the cold pass, which runs every operation
    // once, starting from what set-up left alive
    System.gc()
    heap.armed = true
    val cold = r.runPass(0, traceThis = false) {
      wl.build(r)
      wl.pass(r, 0, Some(s"$work/answers"))
    }.wall
    val (peakHeapMb, liveHeapMb) = heap.close()

    // warm passes, at least the workload's minimum so one slow pass
    // cannot move the median; a traced run alternates traced and untraced
    // passes so it measures its own overhead, the traced one first so that
    // a run the deadline cuts to one pass still reports its layers
    val t0 = System.nanoTime()
    var n = 0
    var last = cold
    val minPasses =
      if (traced) wl.minPasses + wl.minPasses % 2 else wl.minPasses
    // time the checks and the shutdown after the window may take
    val closeS = 15.0
    def room = secs(started) + 1.5 * last + closeS < budget
    while (n < 1 || (n < wl.maxPasses && room &&
        (n < minPasses || secs(t0) < seconds))) {
      n += 1
      last = r.runPass(n, traceThis = traced && n % 2 == 1)(
        wl.pass(r, n, None)).wall
    }
    val measured = secs(t0)
    val verifyFailures = wl.verify(r)
    r.finish()
    r.spark.stop()

    val warmPasses = r.passes.filter(_.pass > 0).toSeq
    val warm = r.samples.filter(_.pass > 0).toSeq
    val timed = if (traced) warmPasses.filterNot(_.traced) else warmPasses
    val (tailV, tailP, tailN) = Stats.tail(warm.map(_.wall))
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(setup.toSeq) + cold, "s"),
      "pass_s" -> (Stats.median(timed.map(_.wall)), "s"),
      "op_p50_s" -> (Stats.median(warm.map(_.wall)), "s"),
      "op_tail_s" -> (tailV, "s"),
      "live_heap_mb" -> (liveHeapMb, "MB"),
      "peak_heap_mb" -> (peakHeapMb, "MB"))
    e2e ++= wl.extras(r, warm)

    val layers =
      if (traced) Layers.compute(r, wl, warmPasses, cores, sessionBuild.toSeq,
        register.toSeq)
      else Map.empty[String, (Double, String)]

    val failures = r.failures.toSeq ++ verifyFailures
    val doc = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> r.attempted, "failures" -> failures,
      "measured_s" -> measured, "passes" -> warmPasses.size,
      "setup_reps" -> setup.toSeq, "cold_pass_s" -> cold,
      "op_samples" -> warm.size,
      "op_tail_percentile" -> tailP, "op_tail_samples" -> tailN,
      "end_to_end" -> e2e.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "ops" -> warm.groupBy(_.name).map { case (k, ss) =>
        k -> Map("n" -> ss.size, "p50_s" -> Stats.median(ss.map(_.wall)),
          "construct_p50_s" -> Stats.median(ss.map(_.construct)),
          "execute_p50_s" -> Stats.median(ss.map(_.execute))) })
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(out), doc)
    if (traced) Layers.writeTrace(r, s"$work/trace.jsonl", mapper)
  }
}
