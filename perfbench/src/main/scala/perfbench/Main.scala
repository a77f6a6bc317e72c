package perfbench

import graft.Catalog

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbenchshim.ListenerBusShim
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: one workload, one seed, one JVM.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --results <dir>
  * }}}
  *
  * Set-up starts the session, generates the fixture three times (the
  * seed twice, to check its bytes repeat, and the next seed once, to
  * check they change) and runs `WarmupIters` untimed warm-up
  * iterations. Then it runs verified iterations back to back for
  * `--seconds`. With `--trace 1` every second iteration records
  * per-layer spans, and single-layer probes run at the end. The last
  * stdout line is the result object; the results file under
  * `--results` keeps every sample, the spans and the run environment.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, results: Path)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("results")).toAbsolutePath)
    require(Workload.Names.contains(a.workload),
      s"unknown workload '${a.workload}' (expected one of ${Workload.Names.mkString(", ")})")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** At least this many measured iterations; a traced run needs at
    * least `MinTracedIters` of each kind.
    */
  val MinIters = 3
  /** Untimed iterations before measuring. The JIT keeps compiling
    * Spark's planning and scheduling code for many iterations: after
    * two, the next iterations of curation still ran 20-35% slower than
    * its 8th and later ones, after five about 5% slower.
    */
  val WarmupIters = 5
  val MinTracedIters = 2
  /** Past this many seconds since start no further iteration begins. */
  val HardStopS = 140.0

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val jvmStart = System.nanoTime()
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val envBefore = Env.snapshot()

    deleteTree(args.work)
    Files.createDirectories(args.work)

    val t0 = System.nanoTime()
    val spark = Session.start(cores, args.work)
    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    val sessionS = secs(t0)

    val w = Workload(args.workload, spark)
    val setupErrors = mutable.ArrayBuffer.empty[String]

    // fixture generation, timed three times; the first copy is used
    val gens = Seq(args.seed, args.seed, args.seed + 1).zipWithIndex.map { case (s, i) =>
      val t = System.nanoTime()
      val digest = w.generate(s, args.work.resolve(s"fixture-$i"))
      (digest, secs(t))
    }
    if (gens(0)._1 != gens(1)._1)
      setupErrors += s"seed ${args.seed} generated different state-file bytes twice"
    if (gens(0)._1 == gens(2)._1)
      setupErrors += s"seeds ${args.seed} and ${args.seed + 1} generated identical state-file bytes"
    deleteTree(args.work.resolve("fixture-1"))
    deleteTree(args.work.resolve("fixture-2"))
    val genS = Stats.median(gens.map(_._2))
    w.prepare(args.seed, args.work.resolve("fixture-0"))

    val runner = new Runner(spark, stats, w, args.work.resolve("out"))
    val warm = (0 until WarmupIters).map(i =>
      runner.iteration(s"warmup$i", traced = false, measureHeap = false))
    val setupS = sessionS + genS + warm.map(_.jobS).sum

    val runs = mutable.ArrayBuffer.empty[IterRun]
    val measureStart = System.nanoTime()
    def enough(traced: Boolean) =
      runs.count(r => r.traced == traced) >= (if (args.trace) MinTracedIters else MinIters)
    var i = 0
    while ((secs(measureStart) < args.seconds || !enough(false) || (args.trace && !enough(true))) &&
        secs(jvmStart) < HardStopS) {
      val traced = args.trace && i % 2 == 1
      runs += runner.iteration(s"it$i", traced, measureHeap = true)
      i += 1
    }

    val probeRec = new SpanRecorder(spark.sparkContext, enabled = true, "probe")
    val probe =
      if (!args.trace || runs.exists(_.error.nonEmpty)) ProbeRun(Map.empty, Nil, Map.empty)
      else {
        Session.hygiene(spark, args.work.resolve("probe"))
        val m =
          try w.probes(probeRec, args.work.resolve("probe"))
          catch { case e: Exception => setupErrors += s"probes: $e"; Map.empty[String, Double] }
        ListenerBusShim.drain(spark.sparkContext)
        ProbeRun(m, probeRec.spans, probeRec.spans.map(s => s.id -> stats.take(probeRec.key(s.id))).toMap)
      }
    spark.stop()
    val envAfter = Env.snapshot()
    deleteTree(args.work)

    val all = warm ++ runs
    val errors = setupErrors.toSeq ++ all.flatMap(r => r.error.map(e => s"${r.label}: $e"))
    val ok = runs.filter(_.error.isEmpty).toSeq
    val metrics: Seq[(String, String, Double)] =
      if (args.trace) Metrics.perLayer(ok, probe, cores)
      else Metrics.endToEnd(ok, setupS)
    val failed = all.count(_.error.nonEmpty)
    val correct = errors.isEmpty && ok.nonEmpty

    val env = Env.describe(cores, envBefore, envAfter)
    Files.createDirectories(args.results)
    val resultsFile = args.results.resolve(s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}.json")
    Files.write(resultsFile, json.writeValueAsBytes(Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "environment" -> env,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> gens.map(_._2),
        "warmup_s" -> warm.map(_.jobS), "setup_s" -> setupS),
      "errors" -> errors,
      "iterations" -> all.map(_.summary),
      "probe_spans" -> Metrics.spanTable(probe.spans, probe.spark),
      "metrics" -> metrics.map { case (n, u, v) => Map("name" -> n, "unit" -> u, "value" -> v) }
    )))

    errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    println(s"[perfbench] ${args.workload} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
      s"local[$cores] iterations=${runs.size} " +
      s"load=${envBefore.loadAvg.headOption.getOrElse(0.0)}->${envAfter.loadAvg.headOption.getOrElse(0.0)} " +
      s"steal_s=${env("cpu_steal_s")} " +
      s"failed_frac=${failed.toDouble / all.size} results=$resultsFile")
    metrics.foreach { case (n, u, v) => println(f"[perfbench]   $n%-28s $v%16.6f $u") }
    println(json.writeValueAsString(Map(
      "correct" -> correct, "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    sys.exit(if (correct) 0 else 1)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** One iteration's measurements. `spark` maps span id to the Spark work
  * charged to it.
  */
final case class IterRun(label: String, traced: Boolean, error: Option[String],
    jobS: Double, taskS: Double, heapMb: Double, spans: Seq[Span],
    spark: Map[Int, SpanSpark], counts: Map[String, Double]) {
  def summary: Map[String, Any] = Map(
    "label" -> label, "traced" -> traced, "error" -> error.getOrElse(""),
    "job_s" -> jobS, "task_s" -> taskS, "heap_retained_mb" -> heapMb,
    "counts" -> counts, "spans" -> Metrics.spanTable(spans, spark))
}

final case class ProbeRun(values: Map[String, Double], spans: Seq[Span], spark: Map[Int, SpanSpark])

/** Runs iterations with the cold-start hygiene around them. */
final class Runner(spark: SparkSession, stats: SparkStats, w: Workload, out: Path) {

  /** `measureHeap = false` skips the retained-heap GCs, for warm-up
    * iterations whose heap is not reported (their `heapMb` is 0).
    */
  def iteration(label: String, traced: Boolean, measureHeap: Boolean): IterRun = {
    Session.hygiene(spark, out)
    val rec = new SpanRecorder(spark.sparkContext, traced, label)
    val result =
      try Right(rec.span("iteration")(w.iterate(rec, out)))
      catch { case e: Exception => Left(e) }
    ListenerBusShim.drain(spark.sparkContext)
    val error = result match {
      case Left(e) => Some(e.toString)
      case Right(o) =>
        try w.check(o)
        catch { case e: Exception => Some(s"check failed: $e") }
    }
    w.release()
    val heapMb = if (measureHeap) Session.retainedHeapMb() else 0.0
    ListenerBusShim.drain(spark.sparkContext)
    val sparkBySpan = rec.spans.map(s => s.id -> stats.take(rec.key(s.id))).toMap
    stats.take("")
    val root = rec.spans.find(_.parent < 0).get
    // task_s is executor CPU time: on a shared host the tasks' run time
    // also counts the time their threads waited for a CPU
    IterRun(label, traced, error, root.durNs / 1e9,
      sparkBySpan.values.map(_.cpuNs).sum / 1e9, heapMb, rec.spans, sparkBySpan,
      result.map(_.counts).getOrElse(Map.empty))
  }
}

object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Spark's own job history is bounded, so the retained heap after an
      // iteration shows what the library keeps, not how many iterations ran
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "40")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "20")
    Catalog.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap in use after a full GC. The first GC lets Spark's cleaner
    * find the iteration's unreachable broadcasts and shuffles; after it
    * has dropped their blocks, the second GC frees them too.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Cold start for the next timed region: no cached data, no output
    * from an earlier iteration, and garbage collected.
    */
  def hygiene(spark: SparkSession, out: Path): Unit = {
    spark.catalog.clearCache()
    Main.deleteTree(out)
    System.gc()
  }
}

object Env {
  /** `stealTicks`: CPU time the hypervisor gave to others, all CPUs, in
    * clock ticks (-1 where the kernel does not report it).
    */
  final case class Snapshot(loadAvg: Seq[Double], stealTicks: Long, wallMs: Long)

  private def proc(name: String): Option[String] = {
    val f = Paths.get("/proc", name)
    if (Files.isReadable(f)) Some(new String(Files.readAllBytes(f), "UTF-8")) else None
  }

  def snapshot(): Snapshot = {
    val load = proc("loadavg").map(_.trim.split("\\s+").take(3).map(_.toDouble).toSeq)
      .getOrElse(Seq(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage))
    // first line of /proc/stat: cpu user nice system idle iowait irq softirq steal ...
    val steal = proc("stat").map(_.linesIterator.next().trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
    Snapshot(load, steal, System.currentTimeMillis())
  }

  def describe(cores: Int, before: Snapshot, after: Snapshot): Map[String, Any] = {
    require(cores <= Runtime.getRuntime.availableProcessors(), s"local[$cores] exceeds nproc")
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> s"local[$cores]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "git_commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "java" -> sys.props.getOrElse("java.version", ""),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "load_avg_before" -> before.loadAvg,
      "load_avg_after" -> after.loadAvg,
      // USER_HZ is 100 on every Linux platform Spark supports
      "cpu_steal_s" -> (if (before.stealTicks < 0) -1.0 else (after.stealTicks - before.stealTicks) / 100.0),
      "started_ms" -> before.wallMs,
      "ended_ms" -> after.wallMs)
  }
}
