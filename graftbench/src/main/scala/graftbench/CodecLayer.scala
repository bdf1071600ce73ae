package graftbench

import graft.codec.{Codecs, Digests, HttpCodec, Robots, UrlNormalizer, WarcCodec, WarcRecord}

/** Single-thread codec kernels timed on a sample of the workload's own
  * inputs (traced runs only). Each kernel is warmed, then timed over three
  * short windows; the median window is reported. */
object CodecLayer {
  private val WindowS = 0.15

  /** Units of work per second for `unit` (one call returns the units it did). */
  private def rate(unit: () => Long): Double = {
    def window(): Double = {
      val t0 = System.nanoTime()
      val deadline = t0 + (WindowS * 1e9).toLong
      var units = 0L
      while (System.nanoTime() < deadline) units += unit()
      units / ((System.nanoTime() - t0) / 1e9)
    }
    window() // warm
    Stats.median(Seq(window(), window(), window()))
  }

  def urlNormalizeNs(urls: IndexedSeq[String]): Double =
    1e9 / rate { () => urls.foreach(u => require(UrlNormalizer.normalize(u) != null)); urls.size.toLong }

  def httpDecodeMbPerS(htmls: IndexedSeq[Array[Byte]]): Double = {
    val bytes = htmls.map(_.length.toLong).sum
    rate { () => htmls.foreach(h => require(HttpCodec.decodedBody(h) != null)); bytes } / 1e6
  }

  def sha1Base32MbPerS(payloads: IndexedSeq[Array[Byte]]): Double = {
    val bytes = payloads.map(_.length.toLong).sum
    rate { () => payloads.foreach(p => require(Digests.sha1Base32(p).length == 32)); bytes } / 1e6
  }

  /** Serialize + one gzip member per record, over the records' raw bytes. */
  def warcSerializeGzipMbPerS(records: IndexedSeq[WarcRecord]): Double = {
    val bytes = records.map(r => WarcCodec.serialize(r).length.toLong).sum
    rate { () =>
      val bos = new java.io.ByteArrayOutputStream(1 << 20)
      val w = Codecs.memberWriter(bos, Codecs.GzipCompression)
      records.foreach(r => w.writeMember(WarcCodec.serialize(r)))
      w.close()
      bytes
    } / 1e6
  }

  /** Gzip the records once, then time parse + block-digest recheck. */
  def warcParseMbPerS(records: IndexedSeq[WarcRecord]): Double = {
    val bos = new java.io.ByteArrayOutputStream(1 << 20)
    val w = Codecs.memberWriter(bos, Codecs.GzipCompression)
    records.foreach(r => w.writeMember(WarcCodec.serialize(r)))
    w.close()
    val gz = bos.toByteArray
    val bytes = records.map(r => WarcCodec.serialize(r).length.toLong).sum
    rate { () =>
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gz), 1 << 16)
      val back = try WarcCodec.readAll(in) finally in.close()
      back.foreach(r => require(r.computedBlockDigest == r.blockDigest))
      bytes
    } / 1e6
  }

  def robotsParseUs(bodies: IndexedSeq[String]): Double =
    1e6 / rate { () => bodies.foreach(b => require(Robots.parse(b, "graftbot") != null)); bodies.size.toLong }
}
