package graftbench

import graft.functions.GraftFunctions._
import graft.sources.WarcIO
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Correctness checks of every workload. Each returns the violations it
  * finds; a run with any violation reports `correct: false` and exits 1. */
object Checks {

  /** frontier_schedule: `scheduled` is `Frontier.schedule` output over the
    * canonical frontier `canon` minus the rows whose hash is in the seen
    * store (`pmod(url_hash, 10) < 3`), with a uniform per-host `budget`. */
  def frontier(scheduled: DataFrame, canon: DataFrame, budget: Int): Seq[String] = {
    val seen = scheduled.filter(pmod(col("url_hash"), lit(10L)) < 3).count()
    val perHost = scheduled.groupBy("host").agg(count(lit(1)).as("n"),
      min("batch_rank").as("lo"), max("batch_rank").as("hi"),
      countDistinct("batch_rank").as("d"))
    val overBudget = perHost.filter(col("n") > budget).count()
    val gaps = perHost.filter(col("lo") =!= 1 || col("hi") =!= col("n") || col("d") =!= col("n")).count()
    val got = scheduled.count()
    val expected = canon.filter(pmod(col("url_hash"), lit(10L)) >= 3)
      .groupBy("host").count()
      .agg(coalesce(sum(least(col("count"), lit(budget.toLong))), lit(0L))).head.getLong(0)
    Seq(
      (seen == 0, s"frontier: $seen scheduled rows are in the seen store"),
      (overBudget == 0, s"frontier: $overBudget hosts scheduled beyond budget $budget"),
      (gaps == 0, s"frontier: $gaps hosts have batch_rank not contiguous from 1"),
      (got == expected, s"frontier: scheduled $got rows, independent count says $expected")
    ).collect { case (false, msg) => msg }
  }

  /** Extraction stage over raw pages: canonical url, byte-identical text
    * extraction, payload digest, and `text_ok` against the generator's
    * text. */
  def extractStage(pages: DataFrame): DataFrame =
    graft.operators.Frontier.canonicalize(pages)
      .withColumn("extracted_text", http_extract_text(col("html")))
      .withColumn("text_ok", col("extracted_text") === col("text"))
      .withColumn("payload", encode(col("extracted_text"), "UTF-8"))
      .withColumn("payload_len", length(col("payload")).cast("long"))
      .withColumn("payload_digest", sha1_base32(col("payload")))
      .withColumn("page_ts", col("warc_ts"))
      .drop("payload")

  final case class ReadBack(records: Long, badDigests: Long, responses: Long, revisits: Long,
                            warcinfos: Long)

  /** Reads a WARC directory back into pages (`recordsToPages`), fully
    * evaluated, counting records and block-digest mismatches on the way. */
  def readBack(spark: SparkSession, dir: String): ReadBack = {
    val obs = Observation("readback")
    val recs = WarcIO.readRecords(spark, dir).observe(obs,
      count(lit(1)).as("records"),
      sum(when(col("block_digest") =!= col("computed_digest"), 1L).otherwise(0L)).as("bad"),
      sum(when(col("warc_type") === "response", 1L).otherwise(0L)).as("responses"),
      sum(when(col("warc_type") === "revisit", 1L).otherwise(0L)).as("revisits"),
      sum(when(col("warc_type") === "warcinfo", 1L).otherwise(0L)).as("warcinfos"))
    WarcIO.recordsToPages(recs).write.format("noop").mode("overwrite").save()
    val m = obs.get
    def l(k: String): Long = Option(m.getOrElse(k, null)).map(_.asInstanceOf[Long]).getOrElse(0L)
    ReadBack(l("records"), l("bad"), l("responses"), l("revisits"), l("warcinfos"))
  }

  /** An archive of `captures` rows written with `WarcIO.writeFetched` (a
    * response or revisit plus a request per row, one warcinfo per file) and
    * read back. */
  def archive(captures: Long, back: ReadBack): Seq[String] = Seq(
    (back.badDigests == 0, s"archive: ${back.badDigests} read-back block digests differ from recomputed"),
    (back.responses + back.revisits == captures,
      s"archive: read ${back.responses} responses + ${back.revisits} revisits for $captures captures"),
    (back.records == 2 * captures + back.warcinfos,
      s"archive: read ${back.records} records, wrote ${2 * captures + back.warcinfos}")
  ).collect { case (false, msg) => msg }

  /** Urls captured in more than one crawl round. */
  def refetched(fetched: DataFrame): Long =
    fetched.groupBy("url_norm").count().filter(col("count") > 1).count()

  /** crawl_durable: per-round text mismatches, committed seen increments
    * against rounds run, and urls fetched twice. */
  def crawl(rounds: Int, committed: Int, mismatches: Seq[Long], refetchedUrls: Long): Seq[String] = Seq(
    (mismatches.forall(_ == 0), s"crawl: text mismatches per round ${mismatches.mkString(",")}"),
    (committed == rounds, s"crawl: $committed seen increments committed for $rounds rounds"),
    (refetchedUrls == 0, s"crawl: $refetchedUrls urls fetched in two rounds")
  ).collect { case (false, msg) => msg }
}
