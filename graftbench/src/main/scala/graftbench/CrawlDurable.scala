package graftbench

import graft.codec.HttpCodec
import graft.functions.GraftFunctions.http_extract_text
import graft.operators.{Crawl, Frontier}
import graft.sources.{Page, PagesGen, WarcIO}
import graft.state.{DigestIndex, SeenStore, TableIO}
import graftbench.Harness.evaluate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.io.File

/** crawl_durable: a durable crawl, one `Crawl.crawl(maxRounds = 1)` call per
  * round resuming the same state directory, with robots (one host
  * disallows everything), Crawl-delay politeness, a cross-round digest
  * index and a gzip WARC sink. One page in ten carries the same ≥2048-byte
  * boilerplate body, so every round writes revisits. */
object CrawlDurable {
  val Pages = 4000L
  val Hosts = 100 // PagesGen links point into 100 hosts
  val Seeds = 200
  val PlantEvery = 10
  /** A run crawls round 0 from the seeds untimed (it also warms the JIT)
    * and times exactly the three rounds after it, so every run measures the
    * same round indices whatever its speed; the seen store compacts every
    * round after the first (the default is every eighth, which would take
    * 16 rounds to show twice). */
  val TimedRounds = 3

  final case class Input(pages: DataFrame, web: DataFrame, robots: DataFrame,
                         politeness: DataFrame, stateDir: File, warcDir: File, index: DigestIndex.Ref,
                         bodies: IndexedSeq[String])

  /** One robots.txt per host: a seed-chosen host disallows everything, the
    * others declare a Crawl-delay of 1-4 s and one disallowed path. */
  def robotsBodies(seed: Long): IndexedSeq[(String, String)] = {
    val blocked = 1 + java.lang.Math.floorMod(seed, (Hosts - 1).toLong).toInt
    (0 until Hosts).map { h =>
      val body =
        if (h == blocked) "User-agent: *\nDisallow: /\n"
        else s"User-agent: *\nDisallow: /doc/zz\nCrawl-delay: ${1 + h % 4}\n"
      (s"host$h.example", body)
    }
  }

  /** `PagesGen` pages in all four transfer modes, with every
    * `plantEvery`-th body replaced by one shared boilerplate page (served in
    * the same four modes), so one payload digest covers a planted share. */
  def webPages(spark: SparkSession, n: Long, hosts: Int, seed: Long, plantEvery: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).map { id =>
      val p = PagesGen.genPage(id, n, hosts, seed)
      if (id % plantEvery != plantEvery / 2) p
      else {
        val body = Boilerplate.text.getBytes("UTF-8")
        val base = Seq("Content-Type" -> "text/html; charset=UTF-8")
        val html = (id / plantEvery % 4) match {
          case 0 => HttpCodec.buildResponse(200, "OK", base :+ ("Content-Length" -> body.length.toString), body)
          case 1 =>
            val gz = HttpCodec.gzip(body)
            HttpCodec.buildResponse(200, "OK",
              base ++ Seq("Content-Encoding" -> "gzip", "Content-Length" -> gz.length.toString), gz)
          case 2 => HttpCodec.buildResponse(200, "OK", base :+ ("Transfer-Encoding" -> "chunked"),
            HttpCodec.chunkEncode(body, 512))
          case _ => HttpCodec.buildResponse(200, "OK",
            base ++ Seq("Content-Encoding" -> "gzip", "Transfer-Encoding" -> "chunked"),
            HttpCodec.chunkEncode(HttpCodec.gzip(body), 512))
        }
        p.copy(html = html, text = Boilerplate.text)
      }
    }
  }

  def run(h: Harness): Unit = {
    // seen store partitioned by core count, as for the frontier workload
    val cfg = Frontier.Config(defaultBudget = 8, seenParts = h.cores, seenCompactEvery = 1)
    val L = h.report.layers
    var genS = Vector.empty[Double]
    val in = h.setup(3) { i =>
      val spark = h.spark
      import spark.implicits._
      var pages: DataFrame = null
      var web: DataFrame = null
      genS :+= h.time {
        pages = webPages(spark, Pages, Hosts, h.seed, PlantEvery).toDF().persist(StorageLevel.MEMORY_AND_DISK)
        web = Crawl.asWeb(pages).persist(StorageLevel.MEMORY_AND_DISK)
        web.count()
      }
      val bodies = robotsBodies(h.seed)
      val robots = bodies.toDF("host", "body")
      val politeness = Frontier.budgetsFromRobots(robots, windowSec = 30.0, cfg).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSeq.toDF("host", "budget")
      val stateDir = h.dir(s"crawl-$i")
      val ref = DigestIndex.Ref(s"graftbench_digests_$i", new File(stateDir, "digests").getPath, h.cores)
      DigestIndex.drop(spark, ref)
      // the WARC sink writes outside the state directory, so the state
      // layer's write counts hold no archive output
      Input(pages, web, robots, politeness, stateDir, h.dir(s"warc-$i"), ref, bodies.map(_._2))
    } { old => old.web.unpersist(); old.pages.unpersist() }
    val seeds = PagesGen.seeds(Pages, Seeds, Hosts, h.seed)
    val state = in.stateDir.getPath
    val warc = in.warcDir

    var fetched = Vector.empty[Long]
    var mismatches = Vector.empty[Long]
    var written = Vector.empty[(Long, Long)]
    var roundStart = 0L
    def round(): Unit = {
      roundStart = System.currentTimeMillis()
      val res = Crawl.crawl(h.spark, in.web, seeds, 1, robots = Some(in.robots),
        politeness = Some(in.politeness), cfg = cfg, stateDir = Some(state),
        warcDir = Some(warc.getPath), digestIndex = Some(in.index))
      val c = res.rounds.headOption.getOrElse(Map.empty)
      fetched :+= c.getOrElse("fetched", 0L)
      mismatches :+= c.getOrElse("text_mismatches", 0L)
    }
    h.report.notes("round0_s") = f"${h.time(round())}%.3f"
    val walls = h.loop(budgetS = 0, minPasses = TimedRounds)(_ => round(),
      _ => written :+= h.written(in.stateDir, roundStart - 1))

    // correctness and state size, untimed
    val store = SeenStore(state + "/seen")
    val rounds = fetched.size
    val allFetched = TableIO.listSnapshots(state + "/fetched")
      .flatMap(id => TableIO.read(h.spark, state + "/fetched", Some(id)))
      .reduce(_ unionByName _)
    h.report.violations ++= Checks.crawl(rounds, store.committedIds.size, mismatches,
      Checks.refetched(allFetched))
    fetched.indices.foreach { r =>
      h.report.violations ++= Checks.archive(fetched(r), Checks.readBack(h.spark, s"$warc/round-$r"))
    }
    val seenUrls = store.seenHashes(h.spark).map(_.distinct().count()).getOrElse(0L)
    val seenBytes = h.du(new File(state, "seen"))._1

    val med = Stats.median(walls)
    h.report.endToEnd("pass_s") = (med, "s")
    h.report.extra("crawl_round_s_p50") = (med, "s")
    h.report.extra("crawl_round_samples") = (walls.size.toDouble, "count")
    Stats.tail(walls).foreach { case (p, v) => h.report.extra(s"crawl_round_s_$p") = (v, "s") }
    h.report.extra("crawl_pages_per_s") = (fetched.tail.sum / walls.sum, "pages/s")
    h.report.extra("seen_bytes_per_url") = (seenBytes.toDouble / math.max(1L, seenUrls), "bytes")
    h.report.notes("input") = s"$Pages pages, $Hosts hosts, $Seeds seeds, 1/$PlantEvery boilerplate, " +
      s"$rounds rounds, ${fetched.sum} fetched, $seenUrls seen urls, ${store.compactions.size} compactions"

    if (h.traced) {
      val (spans, shares) = h.trace
      def perRound(layer: String, site: String => Boolean = _ => true): Double =
        h.jobTime(spans, shares, layer, site) / walls.size
      L("state.seen_append_s") = (perRound("state", s => s.startsWith("SeenStore.") && s.contains("append")), "s")
      L("state.compact_s") = (perRound("state",
        s => s.startsWith("SeenStore.") && (s.contains("compact") || s.contains("gc"))), "s")
      L("state.round_jobs_s") = (perRound("state"), "s")
      L("state.files_per_round") = (Stats.median(written.map(_._2.toDouble)), "count")
      L("state.bytes_per_round") = (Stats.median(written.map(_._1.toDouble)), "bytes")
      L("state.seen_probe_bytes") = (FrontierSchedule.sketchBytes(state + "/seen"), "bytes")
      L("operators.round_jobs_s") = (perRound("operators"), "s")
      L("operators.fetch_hit_ratio") = (fetched.sum.toDouble / math.max(1L, seenUrls), "ratio")
      L("sources.round_jobs_s") = (perRound("sources"), "s")
      L("sources.gen_s") = (Stats.median(genS), "s")
      L("trace.pass_s") = (med, "s")
      layerPasses(h, in.pages)
      val sample = in.pages.select("url", "warc_ts", "html", "text").limit(300).collect().toIndexedSeq
      val records = sample.map(r => WarcIO.pageToRecord(r.getString(0), r.getTimestamp(1), r.getAs[Array[Byte]](2)))
      L("codec.url_normalize_ns") = (CodecLayer.urlNormalizeNs(sample.map(_.getString(0))), "ns")
      L("codec.http_decode_mb_per_s") = (CodecLayer.httpDecodeMbPerS(sample.map(_.getAs[Array[Byte]](2))), "MB/s")
      L("codec.sha1_base32_mb_per_s") = (CodecLayer.sha1Base32MbPerS(sample.map(_.getString(3).getBytes("UTF-8"))), "MB/s")
      L("codec.warc_serialize_gzip_mb_per_s") = (CodecLayer.warcSerializeGzipMbPerS(records), "MB/s")
      L("codec.warc_parse_mb_per_s") = (CodecLayer.warcParseMbPerS(records), "MB/s")
      L("codec.robots_parse_us") = (CodecLayer.robotsParseUs(in.bodies), "us")
    }
  }

  /** Traced runs only: the crawl's per-page stages run once each over the
    * whole page set, so their cost shows apart from the round's fixed
    * cost — extraction + digest, digest dedup, the WARC write and the read
    * back into pages. */
  private def layerPasses(h: Harness, pages: DataFrame): Unit = {
    val L = h.report.layers
    val htmlBytes = pages.agg(sum(length(col("html")))).head.getLong(0)
    L("functions.extract_text_s") = (h.time(evaluate(pages.select(http_extract_text(col("html"))))), "s")
    L("functions.extract_ns_per_byte") = (L("functions.extract_text_s")._1 * 1e9 / htmlBytes, "ns")
    val ex = Checks.extractStage(pages).persist(StorageLevel.MEMORY_AND_DISK)
    evaluate(ex)
    h.report.check(ex.filter(!col("text_ok")).count() == 0, "crawl: extracted text differs from the generator's")
    val dedup = Frontier.digestDedup(ex, Frontier.Config(), captureTsCol = "page_ts")
    L("operators.digest_dedup_s") = (h.time(evaluate(dedup)), "s")
    val dir = h.dir("warc-layer").getPath
    var files = 0L
    L("sources.warc_write_s") = (h.time { files = WarcIO.writeFetched(dedup, dir) }, "s")
    var back: Checks.ReadBack = null
    L("sources.warc_read_s") = (h.time { back = Checks.readBack(h.spark, dir) }, "s")
    L("sources.warc_files") = (files.toDouble, "count")
    L("operators.revisit_ratio") = (back.revisits.toDouble / Pages, "ratio")
    h.report.violations ++= Checks.archive(Pages, back)
    ex.unpersist()
  }
}

object Boilerplate {
  /** A 2.5 kB error page, identical wherever it is served. */
  val text: String = {
    val sb = new StringBuilder("<html><head><title>404 Not Found</title></head><body>")
    var i = 0
    while (sb.length < 2500) {
      sb.append(s"<p>The requested document was not found on this server ($i).</p>")
      i += 1
    }
    sb.append("</body></html>").toString
  }
}
