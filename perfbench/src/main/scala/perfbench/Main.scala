package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{BenchScale, RunPipeline, SparkEntry}
import graft.core.CacheScope

/** Runs one workload as a single closed-loop client and prints one JSON
  * result line. Usage:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <checkout> --work <scratch dir> --cores <n> [--record 1]
  * }}}
  *
  * `--record 1` writes the fingerprints of this run to
  * perfbench/reference.json instead of checking against it.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val code =
      try {
        new Bench(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1", Paths.get(opt("root")), Paths.get(opt("work")),
          opt("cores").toInt, opts.get("record").contains("1")).run()
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }
}

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  root: Path, work: Path, cores: Int, record: Boolean) {
  import Bench._

  private val mapper = new ObjectMapper()
  private val conf: JsonNode = mapper.readTree(root.resolve("perfbench/workloads.json").toFile)
  private val refPath = root.resolve("perfbench/reference.json")
  private val reference: JsonNode =
    if (Files.exists(refPath)) mapper.readTree(refPath.toFile) else mapper.createObjectNode()
  private val dataDir = root.resolve(conf.get("data").asText()).toString
  private val knownFailures = conf.get("known_failures").elements().asScala.map(_.asText()).toSet
  private val wl: JsonNode = Option(conf.get("workloads").get(workload))
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $workload"))
  /** (query, operator family) of the workload, in workloads.json order. */
  private val queries = wl.get("queries").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq
  private val runId = s"$workload-$seed-${System.currentTimeMillis()}"
  private val spans = new SpanLog(runId)
  private val listener = new LayerListener
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private var spark: SparkSession = _
  /** Root of the span tree: workload → pass, query or pipeline run → phase. */
  private val workloadSpan = spans.newId()

  /** Outcome of every checked unit (query, flagship job, pipeline output). */
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  private val recorded = mutable.LinkedHashMap.empty[String, String]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.LinkedHashMap.empty[String, String]

  private def check(unit: String, fp: Option[String]): Boolean = {
    val expected = Option(reference.get(unit)).map(_.asText())
    // recording still demands that repeated executions agree
    val ok =
      if (record) fp.exists(f => recorded.getOrElseUpdate(unit, f) == f)
      else !knownFailures.contains(unit) && fp.isDefined && expected == fp
    checks += unit -> ok
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $unit: got ${fp.getOrElse("error")}, " +
      s"expected ${expected.getOrElse("<no reference>")}")
    ok
  }

  /** graft.BenchScale's session (spark.local.dir comes from the launcher)
    * with the layer listener attached.
    */
  private def session(n: Int): SparkSession = {
    val s = BenchScale.session(n)
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(listener)
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    CacheScope.releaseGlobal()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Builds the session and reads every input table's schema, `times`
    * times; returns the seconds of each set-up.
    */
  private def setup(n: Int, times: Int): Seq[Double] = (1 to times).map { _ =>
    stopSession()
    val t0 = System.nanoTime()
    spark = session(n)
    InputTables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
    (System.nanoTime() - t0) / 1e9
  }

  private def span(parent: Long, name: String, kind: String, t0: Long, t1: Long,
                   attrs: Map[String, Double] = Map.empty): Long = {
    val id = spans.newId()
    spans.add(Span(id, parent, name, kind, t0, t1, attrs))
    id
  }

  def run(): Unit = {
    val load0 = BenchScale.loadAvg()
    val (busy0, self0) = Host.cpuTicks()
    val wall0 = System.nanoTime()
    Files.createDirectories(work)

    val setups = setup(cores, SetupRepeats)
    e2e("setup_s") = (Stats.median(setups), "s")
    layer("setup.cold_s") = (setups.head, "s")
    val t0 = System.nanoTime()

    runQueries()
    if (trace) runKernels()
    spans.add(Span(workloadSpan, 0L, workload, "workload", t0, System.nanoTime()))

    val failed = checks.count(!_._2)
    val attempted = checks.size
    e2e("ok_ratio") = ((attempted - failed).toDouble / math.max(attempted, 1), "ratio")
    notes("fail_ratio") = (failed.toDouble / math.max(attempted, 1)).toString
    notes("failed_units") = checks.filterNot(_._2).map(_._1).distinct.mkString(" ")
    stopSession()

    val (busy1, self1) = Host.cpuTicks()
    notes("load1_start") = load0.toString
    notes("other_cpu_s") = (((busy1 - busy0) - (self1 - self0)) / Host.Hz).toString
    notes("self_cpu_s") = ((self1 - self0) / Host.Hz).toString
    notes("wall_s") = ((System.nanoTime() - wall0) / 1e9).toString

    if (record) writeReference()
    val metrics = mapper.createObjectNode()
    declared(if (trace) "per_layer" else "end_to_end").foreach { case (k, u) =>
      val v = (if (trace) layer.get(k) else e2e.get(k)).map(_._1)
        .orElse(if (trace && !expectedLayer(k)) Some(0.0) else None)
        .getOrElse(throw new IllegalStateException(s"metric $k was not measured on $workload"))
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      metrics.putObject(k).put("value", v).put("unit", u)
    }
    val tracePath = work.resolve(s"trace/$runId.jsonl")
    if (trace) spans.write(tracePath)
    val recordPath = work.resolve(s"records/$runId.json")
    Files.createDirectories(recordPath.getParent)
    val rec = mapper.createObjectNode().put("run_id", runId).put("workload", workload)
      .put("seed", seed).put("seconds", seconds).put("trace", trace).put("cores", cores)
    val recMetrics = rec.putObject("metrics")
    (e2e ++ layer).foreach { case (k, (v, _)) => recMetrics.put(k, v) }
    val recNotes = rec.putObject("notes")
    notes.foreach { case (k, v) => recNotes.put(k, v) }
    Files.writeString(recordPath, mapper.writeValueAsString(rec) + "\n")

    (e2e ++ layer).foreach { case (k, (v, u)) => println(f"[perfbench] $k%-34s $v%.6g $u") }
    notes.foreach { case (k, v) => println(s"[perfbench] $k = $v") }
    println(s"[perfbench] record: $recordPath" + (if (trace) s", spans: $tracePath" else ""))
    val result = mapper.createObjectNode()
      .put("correct", failed == 0 || checks.filterNot(_._2).forall(c => knownFailures(c._1)))
      .put("attempted", attempted)
      .put("failed", failed)
    result.set("metrics", metrics)
    println(mapper.writeValueAsString(result))
  }

  /** Whether the traced run of this workload must measure layer metric `k`.
    * Only the layers the workload does not exercise report 0: families it
    * holds no query of, and the flagship or pipeline where it runs neither.
    */
  private def expectedLayer(k: String): Boolean = k.takeWhile(_ != '.') match {
    case "flagship" => wl.has("flagship_rep")
    case "pipeline" => wl.path("pipeline_in_trace").asBoolean(false)
    case f if Families.contains(f) => queries.exists(_._2 == f)
    case _ => true
  }

  // ---- queries ------------------------------------------------------------

  private def runQuery(name: String, family: String,
                       fn: (SparkSession, String) => DataFrame, traced: Boolean, parent: Long,
                       measureHeap: Boolean = false): QRec = {
    val sc = spark.sparkContext
    val id = spans.newId()
    listener.detailed = traced
    sc.setLocalProperty(LayerListener.TagKey, s"$id/build")
    val t0 = System.nanoTime()
    var t1 = 0L
    var fp: Option[String] = None
    var rows = 0L
    var plan: Option[(Long, Long, Double)] = None
    try {
      val df = fn(spark, dataDir)
      t1 = System.nanoTime()
      sc.setLocalProperty(LayerListener.TagKey, s"$id/action")
      val (agg, render) = if (name == FlagshipUnit) flagshipCheck(df)
        else (Fingerprint.plan(df), (r: Row) => Fingerprint.render(df, r))
      val (n, f) = render(agg.collect()(0))
      rows = n
      fp = Some(f)
      if (traced) {
        val phases = agg.queryExecution.tracker.phases.values
        if (phases.nonEmpty) plan = Some((phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max,
          phases.map(_.durationMs).sum / 1000.0))
      }
    } catch {
      case NonFatal(e) => System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
    } finally sc.setLocalProperty(LayerListener.TagKey, null)
    val t2 = System.nanoTime()
    if (t1 == 0L) t1 = t2
    // a full collection leaves the unit's live set (its persisted frames
    // still held); it costs too much to run inside the timed passes. The
    // blocks of earlier units' broadcasts stay on the heap until Spark's
    // ContextCleaner, polling every 100 ms, has seen the first collection
    // find them unreachable, so a second collection follows the wait.
    val heapB = if (!measureHeap) 0L else {
      System.gc()
      Thread.sleep(CleanerWaitMs)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val cacheB = if (traced) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
    CacheScope.releaseGlobal()
    val leaked = if (traced) sc.getPersistentRDDs.size else 0
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    check(name, fp)
    Bus.drain(sc)
    val b = listener.take(s"$id/build")
    val a = listener.take(s"$id/action")
    System.err.println(f"[perfbench] $name%-20s build ${(t1 - t0) / 1e9}%.3fs (${b.jobs} jobs) " +
      f"action ${(t2 - t1) / 1e9}%.3fs (${a.jobs} jobs) cpu ${(a.cpuNs + b.cpuNs) / 1e9}%.3fs" +
      (if (measureHeap) f" heap ${heapB / MB}%.1fMB" else ""))
    if (traced) {
      spans.add(Span(id, parent, name, "query", t0, t2, Map("build_jobs" -> b.jobs.toDouble,
        "action_jobs" -> a.jobs.toDouble, "cpu_s" -> (a.cpuNs + b.cpuNs) / 1e9)))
      span(id, "build", "build", t0, t1, Map("jobs" -> b.jobs.toDouble, "cpu_s" -> b.cpuNs / 1e9))
      plan.foreach { case (s, e, d) =>
        span(id, "plan", "plan", s * 1000000L + clockOffsetNs, e * 1000000L + clockOffsetNs, Map("phase_s" -> d))
      }
      span(id, "action", "action", t1, t2, Map("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
        "cpu_s" -> a.cpuNs / 1e9, "shuffle_write_mb" -> a.shuffleWriteB / MB))
    }
    QRec(name, family, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      plan.map(_._3).getOrElse(0.0), b, a, cacheB, leaked, rows, heapB)
  }

  /** The flagship's check: its integer columns are fingerprinted exactly,
    * and the double distance total (whose summation order follows the
    * partitioning) to 7 significant digits. Rows are the input points.
    */
  private def flagshipCheck(df: DataFrame): (DataFrame, Row => (Long, String)) = {
    val agg = df.agg(count(lit(1)), sum(col("n")),
      sum(xxhash64(col("tx"), col("ty"), col("n"), col("n_inside")).cast(DecimalType(38, 0))),
      sum(col("dist_sum")))
    (agg, r => (r.getLong(1), s"${r.getLong(0)}|${r.getLong(1)}|${r.getDecimal(2).toPlainString}|" +
      String.format(java.util.Locale.ROOT, "%.6e", Double.box(r.getDouble(3)))))
  }

  private def runQueries(): Unit = {
    val missing = queries.map(_._1).filterNot(SparkEntry.queries.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"queries listed for $workload are missing from " +
        s"SparkEntry.queries: ${missing.mkString(", ")}")

    // The first warm-up pass, where the heap is measured, keeps the listed
    // order for every seed: the post-collection heap grows through a pass
    // (Spark's retained status and cached generated classes), so a query's
    // reading depends on how many queries ran before it.
    def pass(p: Int, traced: Boolean, measureHeap: Boolean = false): Pass = {
      val order = if (measureHeap) queries else new Random(seed * 7919L + p).shuffle(queries)
      val t0 = System.nanoTime()
      val pid = spans.newId()
      val qs = order.map { case (n, fam) => runQuery(n, fam, SparkEntry.queries(n), traced, pid, measureHeap) }
      if (traced) spans.add(Span(pid, workloadSpan, s"pass $p", "pass", t0, System.nanoTime()))
      // unit times only: the per-unit collection and cache release between
      // units are benchmark housekeeping
      Pass(traced, qs.map(_.secs).sum, qs)
    }

    // warm-up passes (class loading, parquet footers, JIT), still checked;
    // the heap is measured in the first, each query's first run in the JVM.
    // After one warm-up pass the first timed pass still ran up to 1.5x
    // slower than the second.
    val warm = pass(0, traced = false, measureHeap = true)
    pass(-1, traced = false)
    // The pass count follows from --seconds and the workload's nominal
    // pass length alone, never from how fast the host runs: a run that got
    // one more pass would also get a lower best-of time. A traced run
    // alternates untraced and traced passes, starting untraced, so the
    // overhead estimate is not biased by the JIT warming up.
    val nPasses = math.max(if (trace) 3 else MinPasses,
      math.round(seconds / wl.get("pass_seconds").asDouble()).toInt)
    val timed = (1 to nPasses).map(p => pass(p, traced = trace && p % 2 == 0))
    val plain = timed.filterNot(_.traced).toSeq
    // each unit at its best over the timed passes: a pass that shares the
    // host with a burst of other work loses only the units the burst hit
    val best = plain.flatMap(_.qs).groupBy(_.name).values.toSeq
    e2e("suite_s") = (best.map(_.map(_.secs).min).sum, "s")
    latencies(best.map(_.map(_.secs).min))
    e2e("exec_cpu_s") = (best.map(_.map(q => q.build.cpuNs + q.action.cpuNs).min).sum / 1e9, "s")
    e2e("heap_peak_mb") = (warm.qs.map(_.heapB).max / MB, "MB")
    notes("passes") = s"${timed.size} timed (${timed.count(_.traced)} traced) + 2 warm-up"
    if (trace) {
      val traced = timed.filter(_.traced).toSeq
      layer("trace.overhead_s") =
        (Stats.median(traced.map(_.secs)) - Stats.median(plain.map(_.secs)), "s")
      queryLayers(traced)
      Option(wl.get("flagship_rep")).map(_.asInt()).foreach(flagshipScaling)
      if (Option(wl.get("pipeline_in_trace")).exists(_.asBoolean())) pipeline()
    }
  }

  private def latencies(xs: Seq[Double]): Unit = {
    val p50 = Stats.percentile(xs, 50)
    val p90 = Stats.percentile(xs, 90)
    e2e("query_p50_s") = (p50.value, "s")
    e2e("query_p90_s") = (p90.value, "s")
    notes("query_p50") = s"n=${p50.n} rank=${p50.rank} beyond=${p50.beyond}"
    notes("query_p90") = s"n=${p90.n} rank=${p90.rank} beyond=${p90.beyond}"
  }

  /** Layer metrics of the traced passes, as means per pass. */
  private def queryLayers(traced: Seq[Pass]): Unit = {
    val n = traced.size.toDouble
    val qs = traced.flatMap(_.qs)
    val b = qs.foldLeft(new Acc)((x, q) => x.add(q.build))
    val a = qs.foldLeft(new Acc)((x, q) => x.add(q.action))
    val both = new Acc().add(b).add(a)
    layer("build.s") = (qs.map(_.buildS).sum / n, "s")
    layer("build.jobs") = (b.jobs / n, "count")
    layer("build.cpu_s") = (b.cpuNs / 1e9 / n, "s")
    layer("plan.s") = (qs.map(_.planS).sum / n, "s")
    layer("action.s") = (qs.map(_.actionS).sum / n, "s")
    layer("action.jobs") = (a.jobs / n, "count")
    layer("action.stages") = (a.stages / n, "count")
    layer("sched.idle_core_s") = ((qs.map(_.actionS).sum * cores - a.runMs / 1000.0) / n, "s")
    exchange(both, n)
    layer("cache.mb") = (if (qs.isEmpty) 0.0 else qs.map(_.cacheB).max / MB, "MB")
    layer("cache.leaked_rdds") = (qs.map(_.leaked).sum / n, "count")
    queries.map(_._2).distinct.foreach { f =>
      val fq = qs.filter(_.family == f)
      layer(s"$f.wall_s") = (fq.map(_.secs).sum / n, "s")
      layer(s"$f.cpu_s") = (fq.map(q => q.build.cpuNs + q.action.cpuNs).sum / 1e9 / n, "s")
      layer(s"$f.build_jobs") = (fq.map(_.build.jobs).sum / n, "count")
    }
  }

  private def exchange(acc: Acc, n: Double): Unit = {
    layer("shuffle.write_mb") = (acc.shuffleWriteB / MB / n, "MB")
    layer("shuffle.read_mb") = (acc.shuffleReadB / MB / n, "MB")
    layer("shuffle.fetch_wait_s") = (acc.fetchWaitMs / 1000.0 / n, "s")
    layer("spill.mb") = (acc.spillB / MB / n, "MB")
    val skews = acc.taskMs.values.filter(_.size >= 2).map { ds =>
      ds.max / math.max(Stats.median(ds.map(_.toDouble).toSeq), 1.0)
    }.toSeq
    layer("task.skew") = (if (skews.isEmpty) 1.0 else Stats.percentile(skews, 90).value, "ratio")
  }

  // ---- flagship scaling ---------------------------------------------------

  /** The flagship at local[nproc] (4N) and local[nproc/4] (N), untraced,
    * median of [[ScalingJobs]] jobs each after one warm-up at each level.
    * Leaves the session at N.
    */
  private def flagshipScaling(rep: Int): Unit = {
    val fn = (s: SparkSession, d: String) => BenchScale.flagshipScale(s, d, rep)
    val nLo = math.max(1, cores / 4)
    def level(): Seq[QRec] = {
      runQuery(FlagshipUnit, FlagshipUnit, fn, traced = false, workloadSpan)
      (1 to ScalingJobs).map(_ => runQuery(FlagshipUnit, FlagshipUnit, fn, traced = false, workloadSpan))
    }
    val hi = level()
    stopSession()
    spark = session(nLo)
    val lo = level()
    val tHi = Stats.median(hi.map(_.secs))
    val tLo = Stats.median(lo.map(_.secs))
    val rows = hi.head.rows.toDouble
    layer("flagship.tN_s") = (tLo, "s")
    layer("flagship.t4N_s") = (tHi, "s")
    layer("flagship.scaling_eff") = (tLo / tHi / 4, "ratio")
    layer("flagship.rows_per_s") = (rows / tHi, "1/s")
    layer("flagship.cpu_ns_per_row") =
      (Stats.median(hi.map(q => (q.build.cpuNs + q.action.cpuNs).toDouble)) / rows, "ns")
    notes("flagship_rows_per_s") = (rows / tHi).toString
    notes("scaling_eff") = (tLo / tHi / 4).toString
    notes("flagship_levels") = s"N=local[$nLo], 4N=local[$cores], rep $rep, $ScalingJobs jobs each"
  }

  // ---- pipeline -----------------------------------------------------------

  private def stageOf(path: String, out: String): Option[String] = {
    val i = path.indexOf(out)
    if (i < 0) None else {
      val segs = path.substring(i + out.length).split('/').filter(_.nonEmpty)
      val s = if (segs.headOption.contains("lineage")) segs.lift(1) else segs.headOption
      s.map(x => if (x == "cc") "clusters" else x).filter(PipelineStages.contains)
    }
  }

  /** RunPipeline.run into a fresh directory, then again as a resume; checks
    * every stage output and that the resume executes nothing. Write time is
    * attributed to a stage by the output directory of each write execution.
    */
  private def pipeline(): Unit = {
    val out = work.resolve(s"pipeline/$runId")
    deleteTree(out)
    listener.takeWrites()
    val t0 = System.nanoTime()
    val executed = RunPipeline.run(spark, dataDir, out.toString)
    val t1 = System.nanoTime()
    CacheScope.releaseGlobal()
    Bus.drain(spark.sparkContext)
    val writes = listener.takeWrites().flatMap(w => stageOf(w.path, out.toString).map(_ -> w))
      .groupMap(_._1)(_._2)
    val stageS = writes.map { case (st, ws) => st -> ws.map(w => w.endMs - w.startMs).sum / 1000.0 }
    val r0 = System.nanoTime()
    val resumed = RunPipeline.run(spark, dataDir, out.toString)
    val r1 = System.nanoTime()
    CacheScope.releaseGlobal()
    Bus.drain(spark.sparkContext)
    listener.takeWrites()
    val sid = spans.newId()
    spans.add(Span(sid, workloadSpan, "pipeline cold", "pipeline", t0, t1))
    writes.foreach { case (st, ws) =>
      span(sid, st, "stage", ws.map(_.startMs).min * 1000000L + clockOffsetNs,
        ws.map(_.endMs).max * 1000000L + clockOffsetNs, Map("write_s" -> stageS(st)))
    }
    span(workloadSpan, "pipeline resume", "pipeline", r0, r1)

    CheckedOutputs.foreach { st =>
      val fp = try Some(Fingerprint.of(spark.read.parquet(out.resolve(st).toString))._2)
      catch { case NonFatal(e) => System.err.println(s"[perfbench] pipeline $st: ${e.getMessage}"); None }
      check(s"pipeline.$st", fp)
    }
    check("pipeline.resume_executes_nothing",
      Some(resumed.values.forall(_ == 0).toString).filter(_ == "true"))
    val files = Files.walk(out).iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    layer("pipeline.cold_s") = ((t1 - t0) / 1e9, "s")
    // a stage with no attributed write stays unmeasured and fails the run
    PipelineStages.foreach(st => stageS.get(st).foreach(v => layer(s"pipeline.$st.s") = (v, "s")))
    layer("pipeline.write_mb") = (files.map(Files.size).sum / MB, "MB")
    layer("pipeline.files") = (files.size.toDouble, "count")
    layer("pipeline.resume_s") = ((r1 - r0) / 1e9, "s")
    executed.get("clusterRounds").foreach(r => layer("pipeline.cluster_rounds") = (r.toDouble, "count"))
    deleteTree(out)
  }

  // ---- core kernels ---------------------------------------------------------

  private def runKernels(): Unit = {
    val pts = graft.sources.Synth.points(spark, dataDir).select("lon_fix", "lat_fix").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val texts = spark.read.parquet(s"$dataDir/documents.parquet").select("text").collect()
      .map(_.getString(0)).filter(_ != null)
    val t0 = System.nanoTime()
    Kernels.measure(seed, pts, texts).foreach { case (k, v) => layer(k) = (v, "ns") }
    span(workloadSpan, "core kernels", "kernels", t0, System.nanoTime())
  }

  // ---- output -------------------------------------------------------------

  /** (name, unit) of the metrics BENCHMARK.json declares under `key`. */
  private def declared(key: String): Seq[(String, String)] =
    mapper.readTree(root.resolve("BENCHMARK.json").toFile).get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  private def writeReference(): Unit = {
    val node = reference.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    recorded.foreach { case (k, v) => node.put(k, v) }
    mapper.writerWithDefaultPrettyPrinter().writeValue(refPath.toFile, node)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

object Bench {
  final case class QRec(name: String, family: String, secs: Double, buildS: Double,
                                actionS: Double, planS: Double, build: Acc, action: Acc,
                                cacheB: Long, leaked: Int, rows: Long, heapB: Long)

  final case class Pass(traced: Boolean, secs: Double, qs: Seq[QRec])

  val MB = 1048576.0
  val SetupRepeats = 5
  val MinPasses = 2
  val ScalingJobs = 3
  val CleanerWaitMs = 300L
  /** The unit name of graft.BenchScale.flagshipScale inside a query pass. */
  val FlagshipUnit = "flagship"
  val InputTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val Families = Seq("SpatialOps", "GraphOps", "DedupOps", "SearchOps", "LmOps",
    "SimilarityOps", "SketchOps")
  val PipelineStages = Seq("gate", "pairs", "clusters", "survivors", "tiles", "tilesum", "routes")
  val CheckedOutputs = Seq("gate", "pairs", "survivors", "tiles", "tilesum", "routes")
}
