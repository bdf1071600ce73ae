package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** State shared by one run: its options, work directory, Spark session,
  * tracer, job listener and report. */
final class Harness(val workload: String, val seed: Long, val seconds: Int,
                    val traced: Boolean, val work: File) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(traced)
  val jobs = new JobSpans
  val report = new Report
  private var current: SparkSession = _

  def spark: SparkSession = current

  /** Starts a local session with the engine's configuration; every file
    * Spark writes stays under the run's work directory. */
  def startSession(nCores: Int): SparkSession = {
    stopSession()
    val s = graft.GraftSession.builder(s"local[$nCores]", nCores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.registerAll(s)
    if (traced) s.sparkContext.addSparkListener(jobs)
    current = s
    s
  }

  def stopSession(): Unit = if (current != null) {
    current.stop()
    current = null
  }

  def dir(name: String): File = {
    val d = new File(work, name)
    graft.LocalFiles.deleteRec(d)
    d.mkdirs()
    d
  }

  /** Seconds taken by `body`. */
  def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `pass` until the time budget is spent (at least `minPasses`
    * times; exactly `minPasses` times with a budget of 0) and returns the
    * wall of each pass. `after` runs untimed and outside the pass span, for
    * bookkeeping between passes. */
  def loop(budgetS: Double, minPasses: Int)(
      pass: Int => Unit, after: Int => Unit = _ => ()): Vector[Double] = {
    val deadline = System.nanoTime() + (budgetS * 1e9).toLong
    var walls = Vector.empty[Double]
    var cpus = Vector.empty[Double]
    while (walls.size < minPasses || System.nanoTime() < deadline) {
      val i = walls.size
      tracer.pass = i
      val c0 = Harness.processCpuS
      walls :+= tracer.span("pass", "bench")(time(pass(i)))
      cpus :+= Harness.processCpuS - c0
      report.attempted += 1
      after(i)
    }
    report.notes("pass_walls_s") = walls.map(w => f"$w%.3f").mkString(" ")
    report.notes("pass_cpu_s") = cpus.map(w => f"$w%.3f").mkString(" ")
    walls
  }

  /** Starts the session, then builds the workload's inputs and state `n`
    * times, discarding all but the last build. `setup_s` is the JVM start
    * plus the session start plus the median build. */
  def setup[T](n: Int)(build: Int => T)(discard: T => Unit): T = {
    val session = time(startSession(cores))
    report.notes("session_start_s") = f"$session%.3f"
    var last: Option[T] = None
    val walls = (0 until n).map { i =>
      last.foreach(discard)
      val t0 = System.nanoTime()
      last = Some(build(i))
      (System.nanoTime() - t0) / 1e9
    }
    report.endToEnd("setup_s") = (Harness.jvmStartS + session + Stats.median(walls), "s")
    report.notes("setup_builds_s") = walls.map(w => f"$w%.3f").mkString(" ")
    last.get
  }

  /** Bytes and file count under `d`. */
  def du(d: File): (Long, Long) = {
    if (!d.exists()) return (0L, 0L)
    val files = Files.walk(d.toPath).iterator().asScala.filter(p => Files.isRegularFile(p)).toVector
    (files.map(p => Files.size(p)).sum, files.size.toLong)
  }

  /** Files under `d` written at or after `sinceMs`: (bytes, count). */
  def written(d: File, sinceMs: Long): (Long, Long) = {
    if (!d.exists()) return (0L, 0L)
    val files = Files.walk(d.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs).toVector
    (files.map((p: Path) => Files.size(p)).sum, files.size.toLong)
  }

  /** The traced run's span tree and exclusive shares, built once after the
    * measured passes; `sparkLayer` fills the spark.* metrics. */
  lazy val trace: (Seq[Span], Map[Int, Double]) = {
    val spans = allSpans()
    (spans, sparkLayer(spans))
  }

  /** Span tree of the traced passes: benchmark spans plus one child span
    * per Spark job, parented to the innermost benchmark span open when the
    * job started. */
  private def allSpans(): Seq[Span] = {
    if (current != null) org.apache.spark.ListenerDrain(current.sparkContext)
    val bench = tracer.spans
    val jobSpans = jobs.jobs.flatMap { j =>
      val open = bench.filter(s => s.start <= j.start && s.end >= j.start)
      if (open.isEmpty) None
      else {
        val parent = open.maxBy(_.start)
        val (layer, method) = Layers.ofCallSite(j.callSite).getOrElse((parent.layer, "action"))
        Some(Span(tracer.newId(), s"job:$method", layer, parent.id, parent.pass,
          j.start, math.min(math.max(j.end, j.start), parent.end),
          Map("job" -> j.jobId.toDouble, "tasks" -> j.tasks.toDouble, "run_s" -> j.runS,
            "cpu_s" -> j.cpuS, "gc_s" -> j.gcS, "shuffle_write_bytes" -> j.shuffleWrite.toDouble,
            "shuffle_read_bytes" -> j.shuffleRead.toDouble, "spill_bytes" -> j.spill.toDouble,
            "skew" -> (if (j.stageSkews.isEmpty) 0.0 else j.stageSkews.maxBy(_._2)._1),
            "skew_weight" -> (if (j.stageSkews.isEmpty) 0.0 else j.stageSkews.maxBy(_._2)._2))))
      }
    }
    bench ++ jobSpans
  }

  /** Per-layer Spark metrics over the traced passes, per pass: jobs, tasks,
    * executor time, shuffle and spill bytes, the driver gap (pass wall not
    * covered by any job) and the task skew of each pass's heaviest stage.
    * Also checks that the exclusive shares of the job spans plus the driver
    * gap add back up to each pass wall. Returns the shares. */
  private def sparkLayer(spans: Seq[Span]): Map[Int, Double] = {
    val passes = spans.filter(s => s.name == "pass" && s.parent == -1)
    val shares = passes.flatMap(p => SelfTime.exclusive(p, spans)).toMap
    val jobsOf = spans.filter(_.name.startsWith("job:")).groupBy(_.pass)
    def perPass(f: Seq[Span] => Double): Double =
      if (passes.isEmpty) 0.0 else passes.map(p => f(jobsOf.getOrElse(p.pass, Nil))).sum / passes.size
    val gaps = passes.map { p =>
      val js = jobsOf.getOrElse(p.pass, Nil)
      val gap = p.dur - SelfTime.covered(p.start, p.end, js.map(j => (j.start, j.end)))
      val jobShare = js.map(j => shares.getOrElse(j.id, 0.0)).sum
      report.check(math.abs(jobShare + gap - p.dur) < 1e-6,
        f"trace: job self times ${jobShare}%.3f ms + driver gap $gap%.3f ms != pass wall ${p.dur}%.3f ms")
      gap / 1e3
    }
    val L = report.layers
    L("spark.jobs") = (perPass(_.size.toDouble), "count")
    L("spark.tasks") = (perPass(_.map(_.counts("tasks")).sum), "count")
    L("spark.driver_gap_s") = (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size, "s")
    L("spark.executor_run_s") = (perPass(_.map(_.counts("run_s")).sum), "s")
    L("spark.executor_cpu_s") = (perPass(_.map(_.counts("cpu_s")).sum), "s")
    L("spark.gc_s") = (perPass(_.map(_.counts("gc_s")).sum), "s")
    L("spark.shuffle_write_bytes") = (perPass(_.map(_.counts("shuffle_write_bytes")).sum), "bytes")
    L("spark.shuffle_read_bytes") = (perPass(_.map(_.counts("shuffle_read_bytes")).sum), "bytes")
    L("spark.spill_bytes") = (perPass(_.map(_.counts("spill_bytes")).sum), "bytes")
    val skews = passes.flatMap { p =>
      val js = jobsOf.getOrElse(p.pass, Nil).filter(_.counts("skew_weight") > 0)
      if (js.isEmpty) None else Some(js.maxBy(_.counts("skew_weight")).counts("skew"))
    }
    L("spark.task_skew") = (Stats.median(skews), "ratio")
    shares
  }

  /** Exclusive job seconds, summed over the traced passes, of the jobs in
    * `layer` whose "File.method" call site satisfies `site`. */
  def jobTime(spans: Seq[Span], shares: Map[Int, Double], layer: String,
              site: String => Boolean = _ => true): Double =
    spans.filter(s => s.name.startsWith("job:") && s.layer == layer && site(s.name.stripPrefix("job:")))
      .map(s => shares.getOrElse(s.id, 0.0)).sum / 1e3

  def spansJson(spans: Seq[Span], shares: Map[Int, Double]): String = {
    val kids = spans.groupBy(_.parent)
    spans.sortBy(_.start).map { s =>
      val self = SelfTime.selfTime(s, kids.getOrElse(s.id, Nil))
      val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},"parent":${s.parent},""" +
        s""""pass":${s.pass},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},""" +
        s""""self_ms":${Json.num(self)},"exclusive_ms":${Json.num(shares.getOrElse(s.id, 0.0))},"counts":$counts}"""
    }.mkString("[", ",", "]")
  }
}

object Harness {
  /** CPU seconds this JVM has used, all threads. */
  def processCpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Seconds from process start to the benchmark's entry point. */
  lazy val jvmStartS: Double = {
    val started = ProcessHandle.current().info().startInstant()
    if (started.isPresent) math.max(0.0, (System.currentTimeMillis() - started.get.toEpochMilli) / 1e3)
    else 0.0
  }

  /** Full evaluation of every output column: `count()` would let the
    * optimizer prune projections and joins away. */
  def evaluate(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())
}
