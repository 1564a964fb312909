package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.model.CrawlSpec
import graft.queries._

/** The crawl-engine benchmark. One run = one workload:
  *
  *   --workload steady|operators --seed N --seconds S --trace 0|1
  *   --work DIR (a work directory the caller deletes) [--trace-dir DIR]
  *   [--goldens FILE]
  *
  * It starts a local[n] session on the n processors the JVM was given
  * (half of nproc, see run.py), builds the workload's inputs from the
  * seed three times, makes its one-time preparations and the workload's
  * untimed warm-up calls, then times calls for S seconds: it starts another
  * call only while the previous one would still fit (but makes at least
  * the workload's minCalls). The last stdout line is the result JSON;
  * everything else goes to stderr. See perfbench/METRICS.md for what each
  * metric means.
  */
object Main {

  val SetupRounds = 3

  /** The crawl workload: a web of 20k pages over 100 Zipf hosts with 4
    * links a page, crawled from 1,000 seeds with 5 politeness tokens per
    * host and wave and the Bloom seen-set prefilter on. Set-up commits
    * wave 0; each timed call resumes a copy of that state for one wave,
    * whose ~430 fetches face a seen set ~9× larger.
    */
  val SteadyWeb = WebShape(pages = 20000, hosts = 100, links = 4, seeds = 1000)
  val SteadySpec = CrawlSpec(startUrls = Nil, parserId = "all_links", robotsTxtDisabled = true,
    hostTokensPerWave = 5, bloomDedup = true)

  /** SparkEntry groups. PipelineQueries (q17/q18) is left out: it runs
    * CrawlJob.run, which the crawl workload times directly.
    */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "crawl" -> CrawlQueries.all, "text" -> TextQueries.all, "sim" -> SimQueries.all,
    "quality" -> QualityQueries.all, "webcorpus" -> WebCorpusQueries.all,
    "graph" -> GraphQueries.all, "event" -> EventQueries.all,
    "function" -> FunctionQueries.all, "multimodal" -> MultimodalQueries.all)
    .map { case (g, qs) => g -> qs.map(_.name).sorted }

  /** The queries ROADMAP names, timed one by one. q67 is left out: it
    * re-runs q66's connected components, and the pair cost 8 s of each
    * run's budget.
    */
  val Named = Seq("q01", "q16", "q39", "q66", "q72", "q82", "q87", "q89", "q96")

  /** Per group without a named query, its cheapest query on this corpus.
    * For graph that is q75, not q58 (graft.graph.HostRank): q58 cost 5 s
    * of each run's budget.
    */
  val Representatives = Seq("q41", "q75", "q52", "q32", "q60")

  /** The timed slice, in name order. */
  def slice: Seq[String] = {
    val all = Groups.flatMap(_._2)
    (Named ++ Representatives).map(n =>
      all.find(_.startsWith(n + "_")).getOrElse(sys.error(s"no query $n"))).sorted
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "pipeline.jobs_per_wave" -> "count", "pipeline.stages_per_wave" -> "count",
    "pipeline.driver_gap_s" -> "s", "pipeline.task_s_per_page" -> "s/page",
    "pipeline.cpu_s_per_page" -> "s/page", "pipeline.shuffle_write_bytes_per_page" -> "B/page",
    "pipeline.shuffle_read_bytes_per_page" -> "B/page", "pipeline.fetch_wait_s" -> "s",
    "pipeline.spill_bytes" -> "B", "pipeline.gc_s" -> "s", "pipeline.grant_ratio" -> "ratio",
    "pipeline.leaked_rdds" -> "count",
    "state.seen_rows" -> "count", "state.new_per_page" -> "ratio",
    "state.sketch_builds" -> "count", "state.commit_bytes_per_page" -> "B/page",
    "state.commit_files" -> "count", "state.antijoin_s" -> "s", "state.bloom_filter_s" -> "s") ++
    Groups.map(g => s"queries.${g._1}.s" -> "s") ++
    Named.map(n => s"queries.$n.s" -> "s") ++
    Seq("queries.shuffle_bytes" -> "B", "queries.spill_bytes" -> "B", "queries.gc_s" -> "s",
      "queries.leaked_rdds" -> "count", "bench.heap_peak_mb" -> "MB", "bench.traced_op_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traceDir: String, goldens: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true; case t => sys.error(s"--trace $t") },
      need("work"), m.getOrElse("trace-dir", need("work") + "/traces"), m.get("goldens"))
    require(Seq("steady", "operators").contains(a.workload),
      s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // the UI is off, so keep its status store small: retained job,
      // stage and SQL history would otherwise grow the heap figure
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Old-generation occupancy right after a full collection, in MB. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def readGoldens(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(q, n, h) = l.split("\\s+")
        q -> (n.toLong, h)
      }.toMap

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  def run(a: Args): Int = {
    val t0 = System.nanoTime()
    val tracer = new Tracer(java.util.UUID.randomUUID().toString)
    val log = (s: String) => System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $s")
    var failures = Vector.empty[String]
    var attempted = 0
    var failed = 0
    val timed = Vector.newBuilder[OpOut]
    var heapMb = 0.0
    var setupS = 0.0
    var probe = Map.empty[String, Double]
    var counters: Option[SparkCounters] = None

    val (_, wlSpan) = tracer.span(s"workload/${a.workload}") {
      val (spark, sessionSpan) = tracer.span("session")(session(a.work))
      counters = if (a.trace) Some(new SparkCounters) else None
      counters.foreach(spark.sparkContext.addSparkListener)
      val ctx = new Ctx(spark, a.seed, a.work, tracer, counters)
      try {
        val wl: Workload = a.workload match {
          case "steady" =>
            new CrawlWorkload(ctx, SteadyWeb, SteadySpec, committed = 1, resumed = 1)
          case "operators" =>
            new OperatorsWorkload(ctx, slice, a.goldens.map(readGoldens).getOrElse(Map.empty))
        }
        def account(o: OpOut): Unit = {
          attempted += o.attempted
          failed += o.failed
          failures ++= o.failures
        }
        val rounds = (1 to SetupRounds).map { r =>
          val s = tracer.span(s"setup/$r")(wl.build(r))._2.seconds
          log(f"setup round $r: $s%.3f s")
          s
        }
        val prepS = tracer.span("prepare")(wl.prepare())._2.seconds
        log(f"prepare: $prepS%.3f s")
        // untimed: JIT, caches and lazy set-up warm up on the first calls
        val (_, warmSpan) = tracer.span("warmup") {
          (1 to wl.warmupCalls).foreach { i =>
            val w = wl.op(s"warmup/$i")
            account(w)
            log(f"warm-up $i: ${w.seconds}%.3f s, ${w.items} items, failures ${w.failures}")
          }
        }
        setupS = sessionSpan.seconds + Stats.median(rounds) + prepS + warmSpan.seconds

        tracer.span("run") {
          val start = System.nanoTime()
          var i = 0
          var last = 0.0
          def elapsed = (System.nanoTime() - start) / 1e9
          // a call that would end past S is not started: with calls about
          // S long, "until S has passed" would time one call on some runs
          // and two on others
          while (i < wl.minCalls || elapsed + last <= a.seconds) {
            val callStart = elapsed
            i += 1
            val o = wl.op(s"call/$i")
            last = elapsed - callStart
            account(o)
            if (a.trace) heapMb = math.max(heapMb, oldGenAfterGcMb())
            if (o.failures.isEmpty) timed += o
            log(f"call $i: ${o.seconds}%.3f s, ${o.items} items, failures ${o.failures}")
          }
        }
        wl match {
          case c: CrawlWorkload if a.trace =>
            val (m, f) = c.dedupProbe(3)
            probe = m
            for (check <- Seq(f, c.verifyResume())) {
              attempted += 1
              if (check.nonEmpty) { failed += 1; failures ++= check }
            }
          case _ =>
        }
      } finally spark.stop()
    }

    val ok = timed.result()
    failures.foreach(f => log(s"FAILED: $f"))
    log(s"fail_ratio ${Stats.failRatio(failed, math.max(attempted, 1))} ($failed of $attempted)")
    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        def med(f: OpOut => Double) = if (ok.isEmpty) 0.0 else Stats.median(ok.map(f))
        Seq(
          ("setup_s", "s", setupS),
          ("op_s", "s", med(_.seconds)))
      } else {
        val layer = perLayer(ok) ++ probe + ("bench.heap_peak_mb" -> heapMb)
        val path = s"${a.traceDir}/${a.workload}-seed${a.seed}-${tracer.runId}.jsonl"
        tracer.write(path, counters)
        log(s"span file: $path (${tracer.all.length} spans, run ${wlSpan.seconds} s)")
        PerLayer.map { case (k, u) => (k, u, layer.getOrElse(k, 0.0)) }
      }
    val line = Json.obj(Seq(
      "correct" -> (failed == 0 && ok.nonEmpty).toString,
      "attempted" -> math.max(attempted, 1).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(line)
    0
  }

  /** Per-layer figures: the median over timed calls of each call's value;
    * for the query slice, per-group sums and the named queries.
    */
  def perLayer(ok: Seq[OpOut]): Map[String, Double] = {
    if (ok.isEmpty) return Map.empty
    val keys = ok.flatMap(_.layer.keys).distinct
    val direct = keys.filterNot(_.startsWith("q:")).map { k =>
      k -> Stats.median(ok.map(_.layer.getOrElse(k, 0.0)))
    }
    val qs = keys.filter(_.startsWith("q:")).map(_.drop(2))
    val grouped = if (qs.isEmpty) Nil else Groups.map { case (g, names) =>
      s"queries.$g.s" -> Stats.median(ok.map(o => names.map(n => o.layer.getOrElse(s"q:$n", 0.0)).sum))
    }
    val named = Named.flatMap { n =>
      qs.find(_.startsWith(n + "_")).map(q => s"queries.$n.s" -> Stats.median(ok.map(_.layer(s"q:$q"))))
    }
    (direct ++ grouped ++ named).toMap +
      ("bench.traced_op_s" -> Stats.median(ok.map(_.seconds)))
  }
}
