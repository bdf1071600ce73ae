package graftbench

import graft.operators.Frontier
import graft.sources.PagesGen
import graft.state.SeenStore
import graftbench.Harness.evaluate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** frontier_schedule: canonicalize → seen probe → politeness schedule over a
  * urls-only frontier (Zipf hosts, dirty urls), against a read-only seen
  * store holding ~30 % of the canonical hashes. */
object FrontierSchedule {
  val Urls = 200000L
  val Hosts = 1000
  val Budget = 64
  val SeenModulus = 10L
  val SeenBelow = 3L
  /** Untimed passes before measuring: on four cores the pass wall keeps
    * falling for about six passes while the JIT compiles the hot path. */
  val WarmPasses = 6
  val Cfg = Frontier.Config(defaultBudget = Budget)

  final case class Input(urls: DataFrame, canon: DataFrame, store: SeenStore.Store, storeDir: String)

  def canonical(urls: DataFrame): DataFrame =
    Frontier.canonicalize(urls)
      .select(col("url_norm"), col("url_hash"), col("host"), col("warc_ts"), col("depth"))

  def frontierUrls(h: Harness): DataFrame = {
    val urls = PagesGen.urls(h.spark, Urls, Hosts, h.seed, partitions = h.cores * 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    urls.count()
    urls
  }

  /** One fully evaluated canonicalize → seen probe → schedule pass. */
  def schedulePass(canon: DataFrame, store: SeenStore.Store): Unit = {
    val f = store.filterUnseen(canon)
    evaluate(Frontier.schedule(f.result, None, Cfg))
    f.release()
  }

  def run(h: Harness): Unit = {
    val L = h.report.layers
    var genS = Vector.empty[Double]
    val in = h.setup(3) { i =>
      var urls: DataFrame = null
      genS :+= h.time { urls = frontierUrls(h) }
      val canon = canonical(urls)
      val storeDir = h.dir(s"seen-$i").getPath
      val store = SeenStore(storeDir, SeenStore.Config(parts = h.cores))
      store.append(canon.filter(pmod(col("url_hash"), lit(SeenModulus)) < SeenBelow).select("url_hash"), 0L)
      Input(urls, canon, store, storeDir)
    }(_.urls.unpersist())
    (1 to WarmPasses).foreach(_ => schedulePass(in.canon, in.store))

    val walls =
      if (!h.traced) h.loop(h.seconds, 3)(_ => schedulePass(in.canon, in.store))
      else {
        // staged prefixes: each layer's time is what its stage adds
        var stage = Vector.empty[(Double, Double, Double)]
        val w = h.loop(h.seconds * 0.5, 3) { _ =>
          val a = h.tracer.span("canonicalize", "functions")(h.time(evaluate(in.canon)))
          val b = h.tracer.span("seen_probe", "state")(h.time {
            val f = in.store.filterUnseen(in.canon); evaluate(f.result); f.release()
          })
          val c = h.tracer.span("schedule", "operators")(h.time(schedulePass(in.canon, in.store)))
          stage :+= ((a, b, c))
        }
        val canonS = Stats.median(stage.map(_._1))
        val probeS = Stats.median(stage.map(s => math.max(0.0, s._2 - s._1)))
        L("functions.canonicalize_s") = (canonS, "s")
        L("functions.canonicalize_ns_per_row") = (canonS * 1e9 / Urls, "ns")
        L("state.seen_probe_s") = (probeS, "s")
        L("state.seen_probe_ns_per_row") = (probeS * 1e9 / Urls, "ns")
        L("operators.schedule_s") = (Stats.median(stage.map(s => math.max(0.0, s._3 - s._2))), "s")
        L("trace.pass_s") = (Stats.median(stage.map(_._3)), "s")
        w
      }

    // correctness and counts, untimed
    val last = in.store.filterUnseen(in.canon)
    val scheduled = Frontier.schedule(last.result, None, Cfg).persist(StorageLevel.MEMORY_AND_DISK)
    h.report.violations ++= Checks.frontier(scheduled, in.canon, Budget)
    val canonRows = in.canon.count()
    val unseen = last.result.count()
    val nScheduled = scheduled.count()
    scheduled.unpersist(); last.release()

    if (!h.traced) {
      val med = Stats.median(walls)
      h.report.endToEnd("pass_s") = (med, "s")
      h.report.extra("sustained_urls_per_s") = (Urls * walls.size / walls.sum, "urls/s")
      h.report.extra("schedule_urls_per_s") = (Urls / med, "urls/s")
      Stats.tail(walls).foreach { case (p, v) => h.report.extra(s"pass_s_$p") = (v, "s") }
    }
    h.report.notes("input") = s"$Urls urls, $Hosts Zipf hosts, budget $Budget, " +
      s"$canonRows canonical rows, $unseen unseen, $nScheduled scheduled, ${walls.size} passes"

    if (h.traced) {
      val sample = in.urls.select("url").limit(4000).collect().map(_.getString(0)).toIndexedSeq
      L("codec.url_normalize_ns") = (CodecLayer.urlNormalizeNs(sample), "ns")
      L("state.seen_drop_ratio") = (1.0 - unseen.toDouble / canonRows, "ratio")
      L("state.seen_probe_bytes") = (sketchBytes(in.storeDir), "bytes")
      L("operators.schedule_yield") = (nScheduled.toDouble / unseen, "ratio")
      L("sources.gen_s") = (Stats.median(genS), "s")

      // N→1 scaling on identical input and seen store, untraced: plain
      // passes at N cores here, then the 1-core side in a forked JVM. The
      // trace is built first, from this session's listener queue.
      h.trace
      h.spark.sparkContext.removeSparkListener(h.jobs)
      var ws = Vector.empty[Double]
      val deadline = System.nanoTime() + (h.seconds * 0.15 * 1e9).toLong
      while (ws.size < 3 || System.nanoTime() < deadline) ws :+= h.time(schedulePass(in.canon, in.store))
      val medN = Stats.median(ws)
      val med1 = oneCore(h, in.storeDir)
      h.report.extra("schedule_urls_per_s") = (Urls / medN, "urls/s")
      h.report.extra("schedule_urls_per_s_1core") = (Urls / med1, "urls/s")
      h.report.extra("scaling_eff_1_4") = (med1 / (medN * h.cores), "ratio")
    }
  }

  /** Median pass wall at one core, from a fresh JVM started with this JVM's
    * options and classpath (`OneCore`), over the same seeded frontier and
    * this run's seen store. */
  private def oneCore(h: Harness, storeDir: String): Double = {
    val work = h.dir("one-core")
    val out = new File(work, "stdout.txt")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java) ++ ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "graftbench.OneCore",
        h.seed.toString, storeDir, h.cores.toString, h.seconds.toString, work.getPath)
    val p = new ProcessBuilder(cmd: _*).redirectOutput(out)
      .redirectError(new File(work, "stderr.txt")).start()
    if (!p.waitFor(OneCore.TimeoutS, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      throw new IllegalStateException(s"1-core run exceeded ${OneCore.TimeoutS} s")
    }
    val lines = Files.readAllLines(out.toPath, UTF_8).asScala
    if (p.exitValue() != 0 || lines.isEmpty)
      throw new IllegalStateException(s"1-core run exited ${p.exitValue()}; see $work")
    lines.last.trim.toDouble
  }

  /** Bytes of the sketch and sorted-hash sidecar files a probe loads. */
  def sketchBytes(storeDir: String): Double =
    Files.walk(Paths.get(storeDir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.iterator().asScala.exists(_.toString == "sketch"))
      .map(p => Files.size(p)).sum.toDouble
}

/** The 1-core side of `scaling_eff_1_4`, run in its own JVM:
  * `OneCore <seed> <seen store dir> <seen parts> <seconds> <work dir>`.
  * Builds the seed's frontier at `local[1]` (same partitioning as the
  * parent), opens the parent's seen store read-only, runs the same warm-up
  * passes, then timed passes for 35 % of `seconds` (at least two), and
  * prints the median pass wall in seconds as its last line. */
object OneCore {
  val TimeoutS = 120L

  def main(args: Array[String]): Unit = {
    val Array(seed, storeDir, parts, seconds, work) = args
    val h = new Harness("frontier_schedule", seed.toLong, seconds.toInt, traced = false, new File(work))
    try {
      h.startSession(1)
      val canon = FrontierSchedule.canonical(FrontierSchedule.frontierUrls(h))
      val store = SeenStore(storeDir, SeenStore.Config(parts = parts.toInt))
      (1 to FrontierSchedule.WarmPasses).foreach(_ => FrontierSchedule.schedulePass(canon, store))
      val walls = h.loop(h.seconds * 0.35, 2)(_ => FrontierSchedule.schedulePass(canon, store))
      println(Stats.median(walls))
    } finally h.stopSession()
  }
}
