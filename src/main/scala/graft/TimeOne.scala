package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Ad-hoc query timer: `runMain graft.TimeOne <prefixes> [reps]`.
  * Runs every SparkEntry query whose name starts with one of the
  * comma-separated `prefixes` (default `q17`; `q` = all), in name order,
  * `reps` times each, against SPARK_GRAFT_SF_DIR (default sf0.01) in the
  * Bench queries phase's session shape (same warm-up query, same
  * name-ordered execution, so per-query effects of a change are measured in
  * the shape the contract times). Prints one `TIMEONE <name> rep=<r>
  * rows=<n> secs=<s>` line per run (`rows=FAILED` when the query threw)
  * and a `TIMEONE_TOTAL` line. Pair with GRAFT_WAVE_DEBUG=1 for per-stage
  * crawl-wave times.
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val prefixes = args.headOption.getOrElse("q17")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-timeone")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "64"))
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    try {
      // the Bench queries phase's warm-up query
      try SparkEntry.queries("q20_dedup_exact")(spark, sfDir).count()
      catch { case NonFatal(e) => println(s"TIMEONE warm-up FAILED: $e") }
      var total = 0.0
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => prefixes.exists(name.startsWith) }
        .foreach { case (name, fn) =>
          (1 to reps).foreach { r =>
            val t0 = System.nanoTime()
            val rows =
              try fn(spark, sfDir).count().toString
              catch { case NonFatal(e) => s"FAILED ($e)" }
            val secs = (System.nanoTime() - t0) / 1e9
            total += secs
            println(f"TIMEONE $name rep=$r rows=$rows secs=$secs%.3f")
          }
        }
      println(f"TIMEONE_TOTAL $total%.3f")
    } finally spark.stop()
  }
}
