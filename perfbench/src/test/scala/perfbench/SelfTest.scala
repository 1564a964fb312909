package perfbench

import org.apache.spark.sql.Row

/** Tests for the benchmark's own code: the seeded generators and the
  * arithmetic behind its metrics. Plain Scala, no Spark session; run with
  * `python3 perfbench/test.py`.
  */
object SelfTest {
  private var failed = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  threw $e"); false }
    if (ok) passed += 1 else failed += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--metrics")) {
      // the names BENCHMARK.json must list, for test.py to compare
      Main.EndToEnd.foreach { case (n, u) => println(s"end_to_end $n $u") }
      Main.PerLayer.foreach { case (n, u) => println(s"per_layer $n $u") }
      return
    }

    // ---- seeded web generator ------------------------------------------
    val shape = Main.SteadyWeb.copy(pages = 3000)
    check("same seed gives a byte-identical web") {
      Web(7, shape).digest == Web(7, shape).digest
    }
    check("a different seed changes the web") {
      Web(7, shape).digest != Web(8, shape).digest
    }
    check("a different shape changes the web") {
      Web(7, shape).digest != Web(7, shape.copy(links = shape.links + 1)).digest
    }
    check("links stay inside the page space") {
      val w = Web(3, shape)
      (0L until shape.pages).forall(i => (0 until shape.links).forall { k =>
        val j = w.link(i, k); j >= 0 && j < shape.pages
      })
    }
    check("hosts are skewed: h0 holds the largest share, every host id is valid") {
      val w = Web(3, shape)
      val counts = (0L until shape.pages).groupBy(w.host).map { case (h, v) => h -> v.size }
      counts.keys.forall(h => h >= 0 && h < shape.hosts) && counts(0) == counts.values.max &&
        counts(0) > 5 * shape.pages / shape.hosts
    }
    // ---- operator corpus -------------------------------------------------
    check("corpus tables are a fixed function of the content seed") {
      Corpus.tables.map(t => Checks.rowsHash(t._3)) == Corpus.tables.map(t => Checks.rowsHash(t._3))
    }
    check("the run seed permutes row order but keeps every table's rows") {
      Corpus.tables.forall { case (name, _, rows) =>
        val a = Corpus.order(name, rows, 1L)
        val b = Corpus.order(name, rows, 2L)
        a.toSet == rows.toSet && b.toSet == rows.toSet && (rows.length < 3 || a != b)
      }
    }
    check("corpus row counts match the sf0.001 shape") {
      Corpus.tables.map(t => t._1 -> t._3.length).toMap == Map(
        "region" -> 5, "nation" -> 25, "customer" -> 150, "supplier" -> 10, "part" -> 200,
        "orders" -> 1500, "lineitem" -> 6000, "events" -> 1000, "documents" -> 500,
        "embeddings" -> 500)
    }

    // ---- arithmetic ------------------------------------------------------
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("median of one sample is that sample") { Stats.median(Seq(7.5)) == 7.5 }
    check("fail ratio") {
      close(Stats.failRatio(0, 7), 0.0) && close(Stats.failRatio(1, 4), 0.25) &&
        scala.util.Try(Stats.failRatio(1, 0)).isFailure &&
        scala.util.Try(Stats.failRatio(5, 4)).isFailure
    }
    check("covered time merges overlapping and nested intervals") {
      Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L), (30L, 30L))) == 25L
    }
    check("self time subtracts children once, clipped to the parent") {
      Stats.selfTime(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L &&
        Stats.selfTime(0, 100, Nil) == 100L
    }

    // ---- output fingerprints ----------------------------------------------
    check("rows hash ignores row order") {
      val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", null), Row(3L, "c", 1.25))
      Checks.rowsHash(rows) == Checks.rowsHash(rows.reverse)
    }
    check("rows hash sees duplicates and changed values") {
      val rows = Seq(Row(1L, "a"), Row(2L, "b"))
      Checks.rowsHash(rows) != Checks.rowsHash(rows :+ Row(2L, "b")) &&
        Checks.rowsHash(rows) != Checks.rowsHash(Seq(Row(1L, "a"), Row(2L, "c")))
    }
    check("doubles compare at six significant digits; maps by key") {
      Checks.render(Row(1.0000001, Map("b" -> 2, "a" -> 1))) ==
        Checks.render(Row(1.0000002, Map("a" -> 1, "b" -> 2))) &&
        Checks.render(Row(1.00001)) != Checks.render(Row(1.00002)) &&
        Checks.render(Row(0.0)) == Checks.render(Row(-0.0))
    }

    println(s"$passed passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
