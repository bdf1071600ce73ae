package graftbench

import graft.codec.{Codecs, WarcCodec}
import graft.operators.Frontier
import graft.sources.{PagesGen, WarcIO}
import graft.state.SeenStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.io.{File, FileOutputStream}
import java.nio.file.Files

/** Traced-pass arithmetic and every correctness check, each shown to fail
  * on a planted violation. One local session serves the whole suite. */
class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = {
    new File(System.getProperty("java.io.tmpdir")).mkdirs()
    Files.createTempDirectory("graftbench-spec").toFile
  }
  private val h = new Harness("spec", 7L, 1, traced = true, work)

  override def beforeAll(): Unit = h.startSession(2)
  override def afterAll(): Unit = { h.stopSession(); graft.LocalFiles.deleteRec(work) }

  test("traced passes: job self times plus the driver gap add up to each pass wall") {
    val df = h.spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 7)
    val walls = h.loop(0, 2) { i =>
      h.tracer.span("agg", "operators")(Harness.evaluate(df.groupBy("k").count()))
      h.tracer.span("seen", "state") {
        SeenStore(new File(work, s"seen-$i").getPath, SeenStore.Config(parts = 2))
          .append(df.select(col("id").as("url_hash")), 0L)
      }
    }
    assert(walls.size == 2)
    val (spans, shares) = h.trace
    assert(h.report.violations.isEmpty, h.report.violations.mkString("; "))
    val passes = spans.filter(s => s.name == "pass" && s.parent == -1)
    assert(passes.size == 2)
    passes.foreach { p =>
      val jobs = spans.filter(s => s.name.startsWith("job:") && s.pass == p.pass)
      assert(jobs.nonEmpty)
      val gap = p.dur - SelfTime.covered(p.start, p.end, jobs.map(j => (j.start, j.end)))
      assert(math.abs(jobs.map(j => shares(j.id)).sum + gap - p.dur) < 1e-6)
    }
    // a job started inside the engine is attributed by its call site
    assert(spans.exists(s => s.layer == "state" && s.name.startsWith("job:SeenStore.")))
    assert(h.report.layers("spark.jobs")._1 > 0)
    assert(h.report.layers("spark.driver_gap_s")._1 > 0)
  }

  private def frontierCase(): (DataFrame, DataFrame) = {
    val canon = FrontierSchedule.canonical(PagesGen.urls(h.spark, 20000, 50, 7L))
    val unseen = canon.filter(pmod(col("url_hash"), lit(10L)) >= 3)
    (Frontier.schedule(unseen, None, Frontier.Config(defaultBudget = 16)).cache(), canon)
  }

  test("frontier checks pass on the real schedule and fail on each planted violation") {
    val (scheduled, canon) = frontierCase()
    assert(Checks.frontier(scheduled, canon, 16).isEmpty)
    def fails(planted: DataFrame, what: String): Unit = {
      val v = Checks.frontier(planted, canon, 16)
      assert(v.exists(_.contains(what)), v.mkString("; "))
    }
    val seenRow = canon.filter(pmod(col("url_hash"), lit(10L)) < 3).limit(1)
      .withColumn("batch_rank", lit(1))
    fails(scheduled.unionByName(seenRow), "in the seen store")
    val hot = scheduled.groupBy("host").count().filter(col("count") === 16).head.getString(0)
    val extra = scheduled.filter(col("host") === hot && col("batch_rank") === 1)
      .withColumn("batch_rank", lit(17))
    fails(scheduled.unionByName(extra), "beyond budget")
    fails(scheduled.withColumn("batch_rank", col("batch_rank") * 2), "not contiguous")
    fails(scheduled.filter(col("host") =!= hot), "independent count")
  }

  test("archive checks catch a text mismatch, a bad block digest and a lost record") {
    val pages = CrawlDurable.webPages(h.spark, 200, 10, 3L, 10).toDF().cache()
    val ex = Checks.extractStage(pages).cache()
    assert(ex.filter(!col("text_ok")).count() == 0)
    val planted = Checks.extractStage(pages.withColumn("text",
      when(col("url") === pages.head.getString(0), concat(col("text"), lit("x"))).otherwise(col("text"))))
    assert(planted.filter(!col("text_ok")).count() == 1)

    val dir = new File(work, "warc").getPath
    WarcIO.writeFetched(Frontier.digestDedup(ex, Frontier.Config(), "page_ts"), dir)
    val back = Checks.readBack(h.spark, dir)
    assert(Checks.archive(200, back).isEmpty)
    assert(back.revisits > 0) // the planted boilerplate shares one digest
    assert(Checks.archive(201, back).exists(_.contains("revisits for 201 captures")))

    val r = WarcIO.pageToRecord("https://host1.example/doc/x", new java.sql.Timestamp(0L),
      "HTTP/1.1 200 OK\r\n\r\nhi".getBytes("UTF-8"))
    val bad = r.copy(headers = r.headers + ("WARC-Block-Digest" -> "sha1:AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA"))
    val out = new FileOutputStream(new File(dir, "planted.warc.gz"))
    val w = Codecs.memberWriter(out, Codecs.GzipCompression)
    w.writeMember(WarcCodec.serialize(bad)); w.close(); out.close()
    val v = Checks.archive(200, Checks.readBack(h.spark, dir))
    assert(v.exists(_.contains("block digests")), v.mkString("; "))
    assert(v.exists(_.contains("records")), v.mkString("; "))
  }

  test("crawl checks catch mismatched text, missing seen increments and refetched urls") {
    val spark = h.spark
    import spark.implicits._
    assert(Checks.crawl(2, 2, Seq(0L, 0L), 0L).isEmpty)
    assert(Checks.crawl(2, 2, Seq(0L, 3L), 0L).exists(_.contains("text mismatches")))
    assert(Checks.crawl(2, 1, Seq(0L, 0L), 0L).exists(_.contains("seen increments")))
    val fetched = Seq("https://a.example/1", "https://a.example/2").toDF("url_norm")
    assert(Checks.refetched(fetched) == 0)
    val twice = fetched.unionByName(Seq("https://a.example/2").toDF("url_norm"))
    assert(Checks.crawl(2, 2, Seq(0L, 0L), Checks.refetched(twice)).exists(_.contains("fetched in two rounds")))
  }

  test("a run with a violation reports correct=false and exits 1") {
    val r = new Report
    r.endToEnd("pass_s") = (1.5, "s")
    r.attempted = 3
    assert(r.exitCode == 0 && r.resultLine(traced = false).startsWith("""{"correct": true, "attempted": 3"""))
    r.violations ++= Checks.crawl(2, 1, Seq(0L, 0L), 0L)
    assert(!r.correct && r.exitCode == 1)
    assert(r.resultLine(traced = false).contains(""""correct": false"""))
  }
}
