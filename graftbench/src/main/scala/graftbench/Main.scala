package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Prints a human-readable block with every metric by name and unit, the
  * host readings and the correctness verdicts, then, as the last line, one
  * JSON object with `correct`, `attempted`, `failed` and `metrics`
  * (end-to-end metrics untraced, per-layer metrics traced). The full
  * record, spans included, goes to `<work>/<workload>-<seed>-<trace>.json`.
  * Exits 1 when a correctness check fails, 2 on bad arguments.
  */
object Main {
  val Workloads: Map[String, Harness => Unit] = Map(
    "frontier_schedule" -> FrontierSchedule.run,
    "crawl_durable" -> CrawlDurable.run)

  /** Every per-layer metric; a layer a workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "codec.url_normalize_ns" -> "ns", "codec.http_decode_mb_per_s" -> "MB/s",
    "codec.sha1_base32_mb_per_s" -> "MB/s", "codec.warc_serialize_gzip_mb_per_s" -> "MB/s",
    "codec.warc_parse_mb_per_s" -> "MB/s", "codec.robots_parse_us" -> "us",
    "functions.canonicalize_s" -> "s", "functions.canonicalize_ns_per_row" -> "ns",
    "functions.extract_text_s" -> "s", "functions.extract_ns_per_byte" -> "ns",
    "state.seen_probe_s" -> "s", "state.seen_probe_ns_per_row" -> "ns",
    "state.seen_drop_ratio" -> "ratio", "state.seen_probe_bytes" -> "bytes",
    "state.seen_append_s" -> "s", "state.compact_s" -> "s", "state.round_jobs_s" -> "s",
    "state.files_per_round" -> "count", "state.bytes_per_round" -> "bytes",
    "operators.schedule_s" -> "s", "operators.schedule_yield" -> "ratio",
    "operators.digest_dedup_s" -> "s", "operators.revisit_ratio" -> "ratio",
    "operators.round_jobs_s" -> "s", "operators.fetch_hit_ratio" -> "ratio",
    "sources.gen_s" -> "s", "sources.round_jobs_s" -> "s", "sources.warc_write_s" -> "s", "sources.warc_read_s" -> "s",
    "sources.warc_files" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.driver_gap_s" -> "s",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
    "trace.pass_s" -> "s")

  def main(args: Array[String]): Unit = {
    Harness.jvmStartS // process start → here, read before any work
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    if (!Workloads.contains(workload) || !opts.contains("work")) {
      System.err.println(s"usage: Main --workload <${Workloads.keys.toSeq.sorted.mkString("|")}> " +
        "--seed <n> --seconds <s> --trace <0|1> --work <dir>")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    work.mkdirs()
    val h = new Harness(workload, seed, seconds, traced, work)

    val t0 = System.nanoTime()
    val cpu0 = Host.cpuTimes
    Host.record(h.report, h.cores) // on a quiet JVM, before any Spark work
    h.report.notes("jvm_start_s") = f"${Harness.jvmStartS}%.3f"
    h.report.notes("canary_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
    var spansJson = "[]"
    try {
      Workloads(workload)(h)
      if (traced) {
        val (spans, shares) = h.trace
        val ordered = PerLayer.map { case (k, u) => k -> h.report.layers.getOrElse(k, (0.0, u)) }
        h.report.layers.clear()
        h.report.layers ++= ordered
        spansJson = h.spansJson(spans, shares)
      }
      h.report.extra("peak_rss_mb") = (Host.peakRssMb, "MB")
    } finally h.stopSession()
    h.report.notes("run_s") = f"${(System.nanoTime() - t0) / 1e9}%.3f"
    h.report.host("steal_pct") = Host.stealPct(cpu0) // CPU the hypervisor took during the run
    Files.write(new File(work, s"$workload-$seed-${if (traced) 1 else 0}.json").toPath,
      h.report.toJson(workload, seed, traced, spansJson).getBytes(UTF_8))

    h.report.humanLines(workload).foreach(println)
    println(h.report.resultLine(traced))
    sys.exit(h.report.exitCode)
  }
}
