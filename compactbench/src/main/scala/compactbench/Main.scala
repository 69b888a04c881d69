package compactbench

import java.io.{File, RandomAccessFile}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.meta.LocalCatalog

/** Entry point of the compaction benchmark. One JVM runs one workload for a
  * fixed wall time and prints one JSON result line (see README.md);
  * `--smoke` instead runs every workload once on tiny inputs. */
object Main {
  /** End-to-end metrics, reported from untraced repetitions. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "compact_s" -> "s", "commit_s" -> "s",
    "append_s" -> "s", "upsert_s" -> "s", "read_before_s" -> "s", "read_after_s" -> "s",
    "ingest_rows_per_s" -> "1/s", "write_amp" -> "ratio", "rewrite_bytes_ratio" -> "ratio",
    "files_after" -> "count")

  /** Spans whose Spark jobs are counted, and the counters reported per span. */
  val SparkSpans: Seq[String] =
    Seq("exec.rewrite", "exec.read", "meta.append", "meta.upsert", "compaction.validate",
      "unattributed")
  val SparkCounters: Seq[(String, String)] = Seq("jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_run_s" -> "s", "gc_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "slot_util" -> "ratio")

  /** Per-layer metrics, measured on traced repetitions; all of them go to
    * the record file. */
  val LayerAll: Seq[(String, String)] = Seq(
    "selection.plan_s" -> "s", "selection.groups" -> "count",
    "selection.files_planned" -> "count", "selection.bytes_planned" -> "bytes",
    "meta.load_s" -> "s", "meta.scan_tasks_s" -> "s", "meta.versions_written" -> "count",
    "meta.version_bytes" -> "bytes", "meta.append_s" -> "s", "meta.upsert_s" -> "s",
    "exec.rewrite_s" -> "s", "exec.rewrite_plan_max_s" -> "s", "exec.rewrite_plan_sum_s" -> "s",
    "exec.read_s" -> "s", "exec.read.files_scanned" -> "count", "exec.input_bytes" -> "bytes",
    "exec.output_bytes" -> "bytes", "exec.output_files" -> "count",
    "compaction.plan_s" -> "s", "compaction.commit_s" -> "s",
    "compaction.commit_attempts" -> "count", "compaction.commit_conflicts" -> "count",
    "compaction.validate_s" -> "s", "compaction.plan_parallelism" -> "ratio",
    "setup.fixture_s" -> "s", "trace.overhead_s" -> "s", "trace.span_coverage" -> "ratio",
    "jvm.peak_rss_mb" -> "MB") ++
    (for (s <- SparkSpans; (c, u) <- SparkCounters) yield s"$s.$c" -> u)

  /** The per-layer metrics on the result line — the ones an optimisation
    * is most likely to move, few enough for the line to stay under 1.9 KB. */
  val PerLayer: Seq[String] = Seq("selection.plan_s", "selection.groups", "meta.load_s",
    "meta.scan_tasks_s", "meta.version_bytes", "meta.append_s", "meta.upsert_s",
    "exec.rewrite_s", "exec.rewrite_plan_max_s", "exec.read_s", "exec.rewrite.task_run_s",
    "exec.rewrite.shuffle_write_bytes", "exec.rewrite.slot_util", "exec.read.task_run_s",
    "compaction.commit_s", "compaction.commit_attempts", "compaction.validate_s",
    "compaction.plan_parallelism", "trace.overhead_s", "trace.span_coverage", "jvm.peak_rss_mb")

  /** Spans whose durations feed per-layer times of the same name. */
  private val SpanTimes = Seq("selection.plan" -> "selection.plan_s", "meta.load" -> "meta.load_s",
    "meta.scan_tasks" -> "meta.scan_tasks_s")

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: File = new File("compactbench-work"),
      record: Option[File] = None, smoke: Boolean = false)

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t    => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t     => parse(t, o.copy(work = new File(v)))
    case "--record" :: v :: t   => parse(t, o.copy(record = Some(new File(v))))
    case "--smoke" :: t         => parse(t, o.copy(smoke = true))
    case Nil                    => o
    case other                  => sys.error(s"unknown arguments: ${other.mkString(" ")}")
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "mor_compact"    => new MorCompact(ctx)
    case "manifest_scale" => new ManifestScale(ctx)
    case other            => sys.error(s"unknown workload $other")
  }
  val Workloads = Seq("mor_compact", "manifest_scale")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.smoke || Workloads.contains(o.workload), s"--workload must be one of $Workloads")
    val nproc = Runtime.getRuntime.availableProcessors
    // task slots: one core fewer than the machine has, so the driver thread
    // (the client, planning, commits), the JIT compiler and the collector do
    // not preempt Spark tasks
    val cores = math.max(1, nproc - 1)
    deleteRecursively(o.work)
    o.work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("compactbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.SparkLogs.quietGlobalWindowWarning()
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    val conditions = mutable.LinkedHashMap[String, Any](
      "nproc" -> nproc,
      "slots" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version,
      "loadavg_start" -> loadavg())
    try {
      if (o.smoke) smoke(spark, o, cores, listener)
      else {
        val ok = run(spark, o, cores, listener, conditions)
        spark.stop()
        if (!ok) sys.exit(1)
      }
    } finally {
      if (!spark.sparkContext.isStopped) spark.stop()
      deleteRecursively(o.work)
    }
  }

  /** Runs each workload once, untraced then traced, on tiny inputs, and
    * prints one line per workload and mode with every metric emitted. */
  private def smoke(spark: SparkSession, o: Opts, cores: Int, listener: SpanListener): Unit =
    for (w <- Workloads; traced <- Seq(false, true)) {
      val dir = new File(o.work, s"$w-$traced")
      val ctx = new Ctx(spark, new Gen(spark, o.seed), dir, cores, smoke = true)
      val wl = workload(w, ctx)
      val fixture = Tracer.tagged(spark.sparkContext, "fixture")(
        wl.buildFixture(new LocalCatalog(dir.getPath)))
      wl.expectedRead
      val e2e = new Samples; val layer = new Samples
      val tracer = new Tracer(spark.sparkContext, traced)
      wl.repetition(0, fixture, tracer, e2e, layer)
      if (ctx.failed.get > 0) sys.error(s"smoke $w failed: ${ctx.problems.mkString("; ")}")
      val metrics =
        if (!traced) endToEnd(e2e)
        else perLayer(Seq(layer), e2e, e2e, tracer, listener, cores, 0.0)
          .filter(m => PerLayer.contains(m._1))
      println(Json.obj("smoke" -> w, "trace" -> (if (traced) 1 else 0),
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
      deleteRecursively(dir)
    }

  /** One measured run; returns whether every check passed. */
  private def run(spark: SparkSession, o: Opts, cores: Int, listener: SpanListener,
      conditions: mutable.LinkedHashMap[String, Any]): Boolean = {
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, new Gen(spark, o.seed), o.work, cores, smoke = false)
    val wl = workload(o.workload, ctx)
    conditions("fsync_ms") = fsyncProbe(o.work)
    val t0 = System.nanoTime()
    val fixture = Tracer.tagged(sc, "fixture")(wl.buildFixture(
      new LocalCatalog(new File(o.work, "fixture").getPath)))
    val fixtureS = (System.nanoTime() - t0) / 1e9
    wl.expectedRead

    // Repetitions until the measuring time is used up. A traced run
    // alternates untraced and traced repetitions, so the tracing overhead is
    // measured on the same JVM.
    val untraced = new Samples; val traced = new Samples
    val layers = mutable.ArrayBuffer.empty[Samples]
    val tracer = new Tracer(sc, enabled = true)
    val off = new Tracer(sc, enabled = false)
    def untracedRep(rep: Int, e2e: Samples): Unit =
      Tracer.tagged(sc, Tracer.Untraced)(wl.repetition(rep, fixture, off, e2e, new Samples))
    val repWalls = mutable.ArrayBuffer.empty[Double]
    def walled(body: => Unit): Unit = {
      val t0 = System.nanoTime(); body; repWalls += (System.nanoTime() - t0) / 1e9
    }
    val steal0 = stealSeconds()
    var start = System.nanoTime()
    var rep = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // a repetition starts only if a typical one ends at most half its
    // length past the measuring time, so a run measures about --seconds
    def enough = rep >= (if (o.trace) 4 else 3) &&
      elapsed + median(repWalls.takeRight(3).toSeq) / 2 > o.seconds
    try {
      // one unmeasured repetition first, so JIT compilation and Spark's lazy
      // set-up do not land in the first measured samples
      walled(untracedRep(-1, new Samples))
      start = System.nanoTime()
      while (!enough) walled {
        if (o.trace && rep % 2 == 1) {
          val layer = new Samples
          wl.repetition(rep, fixture, tracer, traced, layer)
          layers += layer
        } else untracedRep(rep, untraced)
        rep += 1
      }
    } catch {
      // a failed engine call was counted by Ctx.op; anything else counts once here
      case e: Throwable =>
        if (ctx.failed.get == 0) ctx.problem(s"${o.workload} rep $rep aborted: $e")
        else System.err.println(s"[compactbench] ${o.workload} rep $rep aborted: $e")
    }
    val measuredS = elapsed
    conditions("loadavg_end") = loadavg()
    conditions("steal_s") = stealSeconds() - steal0
    conditions("reps") = rep
    conditions("measured_s") = measuredS

    val e2e = endToEnd(untraced)
    val layerAll =
      if (!o.trace) Nil
      else perLayer(layers.toSeq, untraced, traced, tracer, listener, cores, fixtureS)
    val metrics = if (!o.trace) e2e else layerAll.filter(m => PerLayer.contains(m._1))
    val correct = ctx.failed.get == 0 && ctx.attempted.get > 0
    val line = Json.obj(
      "correct" -> correct,
      "attempted" -> ctx.attempted.get,
      "failed" -> ctx.failed.get,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))
    o.record.foreach { f =>
      f.getAbsoluteFile.getParentFile.mkdirs()
      val samples = (if (o.trace) traced else untraced).values
      Files.write(f.toPath, Json.obj(
        "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
        "conditions" -> Json.obj(conditions.toSeq: _*),
        "problems" -> ctx.problems.toSeq,
        "e2e" -> Json.obj(e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u,
          "n" -> untraced.values.get(k).map(_.size).getOrElse(0)) }: _*),
        "samples" -> Json.obj(samples.toSeq.map { case (k, vs) => k -> vs.toSeq }: _*),
        "per_layer" -> Json.obj(layerAll.map { case (k, (v, u)) =>
          k -> Json.obj("value" -> v, "unit" -> u) }: _*),
        "spans" -> tracer.all.map(s => Json.obj("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "rep" -> s.rep, "start_ns" -> (s.startNs - start),
          "end_ns" -> (s.endNs - start)))
      ).toString.getBytes(StandardCharsets.UTF_8))
    }
    System.err.println(s"[compactbench] ${o.workload} seed=${o.seed} trace=${o.trace} " +
      s"reps=$rep measured=${"%.1f".format(measuredS)}s fixture=${"%.1f".format(fixtureS)}s " +
      conditions.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(line)
    correct
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def endToEnd(s: Samples): Seq[(String, (Double, String))] =
    EndToEnd.map { case (k, u) => k -> (median(s.values.getOrElse(k, Nil).toSeq), u) }

  /** Per-layer metrics: medians over the calls of traced repetitions (or
    * over the repetitions, for per-repetition counts), and Spark counters
    * per span summed over a traced repetition. */
  private def perLayer(layers: Seq[Samples], untraced: Samples, traced: Samples, tracer: Tracer,
      listener: SpanListener, cores: Int, fixtureS: Double): Seq[(String, (Double, String))] = {
    org.apache.spark.BenchBridge.drainListeners(SparkSession.active.sparkContext)
    val spans = tracer.all
    val reps = spans.map(_.rep).distinct
    def spanSum(name: String, rep: Int): Double =
      spans.filter(s => s.name == name && s.rep == rep).map(_.seconds).sum
    val n = math.max(1, reps.size)
    val counters = listener.snapshot()
    val fromLayers = LayerAll.map(_._1).map(k => k -> layers.flatMap(_.values.getOrElse(k, Nil)))
      .filter(_._2.nonEmpty).map { case (k, vs) => k -> median(vs) }.toMap
    val fromSpans = SpanTimes.map { case (span, k) =>
      k -> median(spans.filter(_.name == span).map(_.seconds)) }.toMap
    val coverage = median(reps.map { r =>
      val root = spans.find(s => s.rep == r && s.name == "rep")
      root.map(rt => spans.filter(_.parent == rt.id).map(_.seconds).sum / rt.seconds).getOrElse(0.0)
    })
    val overhead = median(traced.values.getOrElse("rep_s", Nil).toSeq) -
      median(untraced.values.getOrElse("rep_s", Nil).toSeq)
    val sparkMetrics = for (s <- SparkSpans; (c, _) <- SparkCounters) yield {
      val ct = counters.getOrElse(s, new SpanCounters)
      val wall = reps.map(spanSum(s, _)).sum
      val v = c match {
        case "jobs"                => ct.jobs.toDouble / n
        case "stages"              => ct.stages.toDouble / n
        case "tasks"               => ct.tasks.toDouble / n
        case "task_run_s"          => ct.taskRunMs / 1e3 / n
        case "gc_s"                => ct.gcMs / 1e3 / n
        case "shuffle_write_bytes" => ct.shuffleWriteBytes.toDouble / n
        case "spill_bytes"         => ct.spillBytes.toDouble / n
        case "slot_util"           => if (wall > 0) ct.taskRunMs / 1e3 / (wall * cores) else 0.0
      }
      s"$s.$c" -> v
    }
    val all = fromLayers ++ fromSpans ++ sparkMetrics ++ Map(
      "setup.fixture_s" -> fixtureS,
      "trace.overhead_s" -> overhead,
      "trace.span_coverage" -> coverage,
      // peak RSS follows the collector's heap sizing more than the program,
      // too unsteady across runs to gate on, so it is reported here
      "jvm.peak_rss_mb" -> peakRssMb())
    LayerAll.map { case (k, u) => k -> (all.getOrElse(k, 0.0), u) }
  }

  /** CPU time the hypervisor gave to other guests while this machine's
    * vCPUs had work (all vCPUs, the `steal` column of /proc/stat, in
    * seconds at the usual 100 ticks a second). A run that measured while
    * it grew by many seconds was slowed by its neighbours. */
  private def stealSeconds(): Double =
    scala.util.Try {
      val cpu = Files.readAllLines(new File("/proc/stat").toPath).get(0).trim.split("\\s+")
      cpu(8).toDouble / 100
    }.getOrElse(0.0)

  private def loadavg(): String =
    scala.util.Try(new String(Files.readAllBytes(new File("/proc/loadavg").toPath)).trim)
      .getOrElse("n/a")

  private def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  /** Median latency of 16 small write+fsync calls in the work directory:
    * a stalled or contended disk shows here before it shows in a metric. */
  private def fsyncProbe(dir: File): Double = {
    val f = new File(dir, "fsync-probe")
    val buf = new Array[Byte](4096)
    val raf = new RandomAccessFile(f, "rw")
    try {
      median((1 to 16).map { i =>
        val t0 = System.nanoTime()
        raf.seek(0); buf(0) = i.toByte; raf.write(buf); raf.getFD.sync()
        (System.nanoTime() - t0) / 1e6
      })
    } finally { raf.close(); f.delete() }
  }

  def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}

/** Minimal JSON rendering for the result line and the record file. */
object Json {
  final class Obj(val fields: Seq[(String, Any)]) {
    override def toString: String =
      fields.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}")
  }
  def obj(fields: (String, Any)*): Obj = new Obj(fields)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def render(v: Any): String = v match {
    case null                   => "null"
    case s: String              => str(s)
    case b: Boolean             => b.toString
    case d: Double              => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float               => render(f.toDouble)
    case n: Int                 => n.toString
    case n: Long                => n.toString
    case o: Obj                 => o.toString
    case xs: Iterable[_]        => xs.map(render).mkString("[", ",", "]")
    case other                  => str(other.toString)
  }
}
