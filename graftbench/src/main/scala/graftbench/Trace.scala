package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval. Times are epoch milliseconds (fractional), so
  * benchmark spans (nanoTime-based) and Spark job spans (listener event
  * times) share one axis. `pass` is the id shared by every span of one
  * pass or round; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, layer: String, parent: Int, pass: Int,
                      start: Double, end: Double,
                      counts: Map[String, Double] = Map.empty) {
  def dur: Double = end - start
}

/** Self-time arithmetic over closed intervals. */
object SelfTime {

  /** Length of the union of `intervals` clipped to [lo, hi]. Overlapping
    * intervals count once. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval its
    * children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.dur - covered(span.start, span.end, children.map(c => (c.start, c.end)))

  /** Exclusive attribution of a root's wall to every span below it: each
    * instant goes to the deepest spans open at that instant, split evenly
    * when several siblings overlap (AQE runs independent stages as
    * concurrent jobs). The shares add up to the root's duration exactly,
    * and for spans without overlapping siblings a share equals the span's
    * self time. */
  def exclusive(root: Span, spans: Seq[Span]): Map[Int, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = {
      var d = 0
      var p = s.parent
      while (p >= 0 && p != root.id && byId.contains(p)) { d += 1; p = byId(p).parent }
      d + (if (s.id == root.id) 0 else 1)
    }
    def under(s: Span): Boolean = {
      var p = s.parent
      while (p >= 0) { if (p == root.id) return true; p = byId.get(p).map(_.parent).getOrElse(-1) }
      false
    }
    val members = (root +: spans.filter(s => s.id != root.id && under(s)))
      .map(s => (s, depth(s)))
    val cuts = members.flatMap { case (s, _) =>
      Seq(math.max(s.start, root.start), math.min(s.end, root.end))
    }.filter(t => t >= root.start && t <= root.end).distinct.sorted
    val share = mutable.Map[Int, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val open = members.filter { case (s, _) => s.start <= a && s.end >= b }
        if (open.nonEmpty) {
          val deepest = open.map(_._2).max
          val top = open.filter(_._2 == deepest)
          top.foreach { case (s, _) => share(s.id) += (b - a) / top.size }
        }
      case _ =>
    }
    share.toMap
  }
}

/** Span recorder kept in memory and written out when the run ends. When
  * disabled it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  private val recorded = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var pass: Int = -1

  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6
  def spans: Seq[Span] = synchronized(recorded.toVector)

  def newId(): Int = synchronized { nextId += 1; nextId - 1 }

  def add(s: Span): Unit = synchronized(recorded += s)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        add(Span(id, name, layer, parent, pass, t0, nowMs))
      }
    }
}

/** Per-job Spark metrics, summed over the job's tasks. */
final case class JobStats(jobId: Int, start: Double, end: Double, callSite: String,
                          tasks: Int, runS: Double, cpuS: Double, gcS: Double,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          stageSkews: Seq[(Double, Double)])

/** Turns every Spark job into a span. The job's layer comes from the first
  * engine source file on its call site (`graft.state.SeenStore` → state);
  * a job the benchmark itself triggers is attributed to the benchmark span
  * open around it. */
final class JobSpans extends SparkListener {
  private case class StageAcc(var tasks: Int = 0, var runMs: Long = 0, var cpuNs: Long = 0,
                              var gcMs: Long = 0, var sw: Long = 0, var sr: Long = 0,
                              var spill: Long = 0, durs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer())
  private val jobStart = mutable.Map[Int, (Double, String, Seq[Int])]()
  private val executions = mutable.Map[Long, (Long, String)]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val stages = mutable.Map[Int, StageAcc]()
  private val done = mutable.ArrayBuffer[JobStats]()

  /** SQL executions carry the call site of the Dataset action on the
    * calling thread; jobs that adaptive execution submits from its own
    * threads only reach the caller through their execution id. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executions(x.executionId) = (x.rootExecutionId.map(_.longValue).getOrElse(x.executionId), x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val finalStage = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      .flatMap(executions.get)
    val candidates = props.flatMap(p => Option(p.getProperty("callSite.long"))).toSeq ++
      exec.map(_._2) ++ exec.flatMap(x => executions.get(x._1)).map(_._2) ++ finalStage.map(_.details)
    val site = candidates.find(c => Layers.ofCallSite(c).isDefined)
      .orElse(candidates.headOption).getOrElse("")
    jobStart(e.jobId) = (e.time.toDouble, site, e.stageIds)
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, StageAcc())
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.sw += m.shuffleWriteMetrics.bytesWritten
      a.sr += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.durs += m.executorRunTime
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, site, stageIds) =>
      val accs = stageIds.flatMap(s => stages.get(s).filter(_ => stageToJob.get(s).contains(e.jobId)))
      val skews = accs.filter(_.durs.size >= 2).map { a =>
        val sorted = a.durs.sorted
        val med = math.max(1L, sorted(sorted.size / 2)).toDouble
        (sorted.last / med, a.runMs.toDouble)
      }
      done += JobStats(e.jobId, t0, e.time.toDouble, site,
        accs.map(_.tasks).sum, accs.map(_.runMs).sum / 1e3, accs.map(_.cpuNs).sum / 1e9,
        accs.map(_.gcMs).sum / 1e3, accs.map(_.sw).sum, accs.map(_.sr).sum,
        accs.map(_.spill).sum, skews)
    }
  }

  def jobs: Seq[JobStats] = synchronized(done.toVector)
}

object Layers {
  /** Module of an engine source file, by the package directory it lives in. */
  private val fileLayer: Map[String, String] = Map(
    "SeenStore.scala" -> "state", "TableIO.scala" -> "state", "Durable.scala" -> "state",
    "DigestIndex.scala" -> "state", "Buckets.scala" -> "state", "CuckooFilter.scala" -> "state",
    "WarcIO.scala" -> "sources", "PagesGen.scala" -> "sources",
    "Frontier.scala" -> "operators", "Crawl.scala" -> "operators", "Dedup.scala" -> "operators",
    "TextAnalysis.scala" -> "operators", "Multimodal.scala" -> "operators",
    "Similarity.scala" -> "operators", "AsOf.scala" -> "operators", "Mixing.scala" -> "operators",
    "TrainingData.scala" -> "operators", "Queries.scala" -> "operators",
    "GraftFunctions.scala" -> "functions", "GraftExtensions.scala" -> "functions",
    "FrontierStream.scala" -> "operators")

  private val Frame = """graft\.[\w.$]+\.([\w$]+)\(([\w]+\.scala):\d+\)""".r

  /** (layer, "File.method") of the first engine frame on a long-form call
    * site. */
  def ofCallSite(site: String): Option[(String, String)] =
    Frame.findAllMatchIn(site).collectFirst {
      case m if fileLayer.contains(m.group(2)) =>
        (fileLayer(m.group(2)), m.group(2).stripSuffix(".scala") + "." + m.group(1))
    }
}
