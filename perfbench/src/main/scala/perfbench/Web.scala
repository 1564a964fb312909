package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Counter-based randomness: every generated value is a pure function of
  * (seed, key, slot), so the output checks and the Spark-side generator
  * compute the same web without sharing any state.
  */
object Rng {
  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def at(seed: Long, key: Long, slot: Long): Long =
    mix(mix(mix(seed) ^ key) ^ slot)

  /** Uniform in [0, 1). */
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  def below(x: Long, n: Long): Long = java.lang.Math.floorMod(x, n)
}

/** Size and shape of a generated web. */
final case class WebShape(
    pages: Int, // page ids 0 until pages
    hosts: Int, // Zipf-like host skew over h0 … h(hosts-1)
    links: Int, // out-links per page
    seeds: Int) // page ids 0 until seeds start the crawl

/** A seeded synthetic web: the shape of the legacy engine bench (Zipf
  * hosts, N links per page, all pages 200 text/html). Host skew is
  * log-uniform: host = ⌊hosts^u⌋ - 1, so h0 holds the largest share and
  * the tail hosts hold a handful of pages.
  */
final case class Web(seed: Long, shape: WebShape) {
  import Rng._

  def host(i: Long): Int =
    math.min(shape.hosts - 1,
      math.pow(shape.hosts.toDouble, unit(at(seed, i, 0))).toInt - 1)

  def link(i: Long, k: Int): Long = below(at(seed, i, k + 1L), shape.pages)

  def url(i: Long): String = s"http://h${host(i)}.example.com/p/$i"

  def html(i: Long): String = {
    val sb = new StringBuilder("<html><body>")
    var k = 0
    while (k < shape.links) {
      sb.append("<a href=\"").append(url(link(i, k))).append("\">l").append(k)
        .append("</a>")
      k += 1
    }
    sb.append("</body></html>").toString
  }

  def seedIds: Seq[Long] = (0L until shape.seeds.toLong)

  /** One corpus row per page. */
  def rows(ids: Iterator[Long]): Iterator[Web.Page] =
    ids.map(i => Web.Page(url(i), 200, "text/html; charset=utf-8", null,
      html(i).getBytes(UTF_8)))

  /** The corpus as the engine sees it: (url, status, content_type,
    * location, html), hash-partitioned on url — the bucketed-corpus
    * deployment, so the fetch join shuffles only the frontier side.
    */
  def corpus(spark: SparkSession, parts: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(0L, shape.pages.toLong, 1L, parts).as[Long]
      .mapPartitions(it => self.rows(it))
      .toDF().repartition(parts, col("url"))
  }

  def seedsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    seedIds.map(url).toDF("url")
  }

  /** SHA-256 over every corpus row in id order: equal digests mean a
    * byte-identical web.
    */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows(Iterator.range(0, shape.pages).map(_.toLong))
      .foreach { p =>
        md.update(p.url.getBytes(UTF_8)); md.update(0: Byte)
        md.update(p.content_type.getBytes(UTF_8)); md.update(0: Byte)
        md.update(p.html); md.update(0: Byte)
      }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Web {
  final case class Page(
      url: String, status: Int, content_type: String, location: String,
      html: Array[Byte])
}
