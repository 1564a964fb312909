package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.CrawlSpec
import graft.pipeline.CrawlJob
import graft.state.{SeenSet, StateStore}

/** One timed operation's outcome. `seconds` covers only the timed calls;
  * `layer` holds this operation's per-layer figures (traced runs).
  */
final case class OpOut(
    seconds: Double, items: Long, attempted: Int,
    failures: Seq[String], layer: Map[String, Double]) {
  def failed: Int = math.min(failures.length, attempted)
}

/** Everything a workload needs from its run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Tracer, val counters: Option[SparkCounters]) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def traced: Boolean = counters.isDefined

  /** Spark counters over a finished span. */
  def countersOf(s: Span): Option[Counters] = counters.map { c =>
    c.drain(spark.sparkContext)
    c.between(s.startMs, s.endMs)
  }

  /** Persistent RDDs beyond those in `keep`: what a call left behind. */
  def leaked(keep: Set[Int]): Seq[Int] =
    spark.sparkContext.getPersistentRDDs.keys.filterNot(keep).toSeq

  def release(keep: Set[Int]): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }
}

trait Workload {
  /** Timed calls a run makes even when `--seconds` has passed. */
  def minCalls: Int = 1
  /** Untimed calls before the timed ones. */
  def warmupCalls: Int = 1
  /** One set-up round: build the inputs from the seed, replacing any
    * earlier round's.
    */
  def build(round: Int): Unit
  /** One-time set-up after the rounds (e.g. a committed crawl to resume). */
  def prepare(): Unit = ()
  def op(label: String): OpOut
}

/** A resumed crawl through `CrawlJob.run` over a generated web: set-up
  * commits `committed` waves to a state directory, and each timed call
  * resumes a copy of it for `resumed` more waves.
  */
final class CrawlWorkload(ctx: Ctx, shape: WebShape, spec: CrawlSpec,
    committed: Int, resumed: Int) extends Workload {
  import ctx.spark

  private val web = Web(ctx.seed, shape)
  private val parts = 2 * ctx.cores
  private var corpus: DataFrame = _
  private var seeds: DataFrame = _
  private var keep = Set.empty[Int]
  private val baseDir = s"${ctx.work}/state"
  private var baseSeen = 0L
  private var first: Option[(Long, String, Long, String, String)] = None
  private var resumedFp: Option[(String, String)] = None // first call's (seen, records)
  private var calls = 0
  private var lastFetched: Option[Seq[String]] = None

  private val fullSpec = spec.copy(maxWaves = committed + resumed)

  // a resumed wave takes about as long as a run measures, so a run with a
  // slow first call would otherwise rest on that single sample
  override def minCalls: Int = 2

  def build(round: Int): Unit = {
    ctx.release(Set.empty)
    corpus = web.corpus(spark, parts).localCheckpoint(true)
    seeds = web.seedsDf(spark)
    keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
  }

  override def prepare(): Unit = {
    CrawlJob.run(spark, spec.copy(maxWaves = committed), corpus, seedsDf = Some(seeds),
      stateDir = Some(baseDir))
    require(StateStore.latestCommitted(baseDir).contains(committed - 1),
      s"set-up committed ${StateStore.latestCommitted(baseDir)}, expected wave ${committed - 1}")
    baseSeen = StateStore.readDeltas(spark, baseDir, "seen", committed - 1)
      .map(_.count()).getOrElse(0L)
    ctx.release(keep)
  }

  def op(label: String): OpOut = {
    calls += 1
    val dir = s"${ctx.work}/call-$calls"
    Files.copy(baseDir, dir)
    val before = Files.usage(dir)
    val builds0 = SeenSet.fullBuilds.get()
    val out = try {
      val ((res, recs, aud), span) = ctx.tracer.span(label) {
        val r = CrawlJob.run(spark, fullSpec, corpus, seedsDf = Some(seeds), stateDir = Some(dir))
        (r, Checks.fingerprint(r.records), Checks.fingerprint(r.audit))
      }
      val builds = SeenSet.fullBuilds.get() - builds0
      val order = res.crawlOrder.select("wave", "url").collect()
        .map(r => (r.getInt(0), r.getString(1)))
      val mine = order.filter(_._1 >= committed)
      val waves = res.waves - committed
      val failures = Seq.newBuilder[String]
      if (order.map(_._2).distinct.length != order.length)
        failures += s"$label: a url was fetched twice"
      if (mine.isEmpty || waves <= 0) failures += s"$label: fetched nothing"
      failures ++= reachable(label, order)
      val seenN = res.seen.count()
      val orderFp = Checks.fingerprint(res.crawlOrder)._2
      val id = (recs._1, recs._2, aud._1, aud._2, orderFp)
      first match {
        case None => first = Some(id)
        case Some(f) => if (f != id) failures += s"$label: output differs from the first call"
      }
      if (resumedFp.isEmpty) resumedFp = Some((Checks.fingerprint(res.seen)._2, recs._2))
      val leakedN = ctx.leaked(keep).length
      val after = Files.usage(dir)
      val layer = ctx.countersOf(span).fold(Map.empty[String, Double]) { c =>
        val pages = mine.length.toDouble
        val m = res.metrics.filter(col("wave") >= committed)
          .groupBy().pivot("metric", Seq("crawled", "frontier_size")).agg(sum("value"))
          .head()
        Map(
          "pipeline.jobs_per_wave" -> c.jobs.toDouble / waves,
          "pipeline.stages_per_wave" -> c.stages.toDouble / waves,
          "pipeline.driver_gap_s" -> (span.seconds - c.busyMs / 1e3).max(0.0),
          "pipeline.task_s_per_page" -> c.taskS / pages,
          "pipeline.cpu_s_per_page" -> c.cpuS / pages,
          "pipeline.shuffle_write_bytes_per_page" -> c.shuffleWrite / pages,
          "pipeline.shuffle_read_bytes_per_page" -> c.shuffleRead / pages,
          "pipeline.fetch_wait_s" -> c.fetchWaitS,
          "pipeline.spill_bytes" -> c.spillBytes.toDouble,
          "pipeline.gc_s" -> c.gcS,
          "pipeline.grant_ratio" -> asDouble(m, 0) / asDouble(m, 1).max(1.0),
          "pipeline.leaked_rdds" -> leakedN.toDouble,
          "state.seen_rows" -> seenN.toDouble,
          "state.new_per_page" -> (seenN - baseSeen) / pages,
          "state.sketch_builds" -> builds.toDouble,
          "state.commit_bytes_per_page" -> (after._1 - before._1) / pages,
          "state.commit_files" -> (after._2 - before._2).toDouble)
      }
      if (ctx.traced) lastFetched = Some(mine.map(_._2).toSeq)
      OpOut(span.seconds, mine.length, 1, failures.result(), layer)
    } catch {
      case NonFatal(e) =>
        OpOut(0, 0, 1, Seq(s"$label: threw ${e.getClass.getSimpleName}: ${e.getMessage}"), Map.empty)
    } finally {
      ctx.release(keep)
      Files.rm(dir)
    }
    out
  }

  private def asDouble(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.getAs[Number](i).doubleValue()

  /** Every crawl is a constrained BFS: each fetched url is a seed or a
    * link of a page fetched in an earlier wave.
    */
  private def reachable(label: String, order: Array[(Int, String)]): Seq[String] = {
    val idOf = (u: String) => u.substring(u.lastIndexOf('/') + 1).toLong
    val waveOf = order.map { case (w, u) => idOf(u) -> w }.toMap
    val seedSet = web.seedIds.toSet
    val parent = scala.collection.mutable.HashMap.empty[Long, Int]
    waveOf.foreach { case (i, w) =>
      (0 until shape.links).foreach { k =>
        val j = web.link(i, k)
        parent(j) = math.min(parent.getOrElse(j, Int.MaxValue), w)
      }
    }
    val bad = waveOf.count { case (i, w) =>
      !seedSet(i) && !parent.get(i).exists(_ < w)
    }
    if (bad > 0) Seq(s"$label: $bad fetched urls were not linked from an earlier wave") else Nil
  }

  /** Exact anti-join against the Bloom-prefiltered SeenSet path, on the
    * committed seen set from before the resumed wave and the last call's
    * candidates (its pages' out-links), so some candidates are new and
    * some are already seen. The two results must be the same non-empty
    * multiset of urls.
    */
  def dedupProbe(reps: Int): (Map[String, Double], Seq[String]) = lastFetched match {
    case None => (Map.empty, Nil)
    case Some(fetched) =>
      import spark.implicits._
      val seen = StateStore.readDeltas(spark, baseDir, "seen", committed - 1)
        .getOrElse(sys.error("the state directory holds no committed seen set"))
        .select("url").persist(StorageLevel.MEMORY_AND_DISK)
      val cands = fetched.flatMap { u =>
        val i = u.substring(u.lastIndexOf('/') + 1).toLong
        (0 until shape.links).map(k => web.url(web.link(i, k)))
      }.toDF("url").persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val seenN = seen.count()
        cands.count()
        def time(f: => (Long, String)): (Double, (Long, String)) = {
          val t0 = System.nanoTime()
          val r = f
          ((System.nanoTime() - t0) / 1e9, r)
        }
        val exact = (1 to reps).map(_ =>
          time(Checks.fingerprint(cands.join(seen, Seq("url"), "left_anti"))))
        val bloom = (1 to reps).map(_ =>
          time(Checks.fingerprint(SeenSet.filterNew(cands, SeenSet.build(seen, seenN)))))
        val fps = (exact ++ bloom).map(_._2).distinct
        val fail =
          if (exact.head._2._1 == 0) Seq("dedup probe: no candidate is new to the committed seen set")
          else if (fps.length != 1)
            Seq(s"SeenSet.filterNew disagrees with the exact anti-join: ${fps.mkString(" vs ")}")
          else Nil
        (Map("state.antijoin_s" -> Stats.median(exact.map(_._1)),
          "state.bloom_filter_s" -> Stats.median(bloom.map(_._1))), fail)
      } catch {
        case NonFatal(e) =>
          (Map.empty, Seq(s"dedup probe threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      } finally {
        cands.unpersist()
        seen.unpersist()
        ctx.release(keep)
      }
  }

  /** The ResumeSpec invariant at benchmark scale: the resumed calls end
    * with the seen set and records of one uninterrupted crawl of the same
    * spec. That crawl costs two more waves, so only traced runs make it.
    */
  def verifyResume(): Seq[String] =
    try {
      val direct = CrawlJob.run(spark, fullSpec, corpus, seedsDf = Some(seeds))
      val want = (Checks.fingerprint(direct.seen)._2, Checks.fingerprint(direct.records)._2)
      if (resumedFp.contains(want)) Nil
      else Seq("resumed crawl ended with another seen set or records than the uninterrupted crawl")
    } catch {
      case NonFatal(e) =>
        Seq(s"uninterrupted crawl threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally ctx.release(keep)
}

/** The `SparkEntry.queries` slice over generated corpus tables. */
final class OperatorsWorkload(ctx: Ctx, names: Seq[String],
    goldens: Map[String, (Long, String)]) extends Workload {
  import ctx.spark

  // one cold pass warms up (the default). Later passes still get a few
  // percent faster as the JIT warms up q66's and q16's iterative driver
  // loops, but the shared host's speed drifting between runs moves a pass
  // more than that, so more warm-up would only lengthen the runs. Two
  // timed passes keep one slow pass from setting op_s alone.
  override def minCalls: Int = 2

  private var dir: String = _
  def build(round: Int): Unit = {
    ctx.release(Set.empty)
    val d = s"${ctx.work}/corpus-$round"
    Corpus.write(spark, d, ctx.seed)
    Option(dir).foreach(Files.rm)
    dir = d
  }

  def op(label: String): OpOut = {
    val failures = Seq.newBuilder[String]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var total = 0.0
    var leaked = 0
    var shuffle = 0L
    var spill = 0L
    var gc = 0.0
    ctx.tracer.span(label) {
      names.foreach { q =>
        try {
          val (rows, span) = ctx.tracer.span(q) {
            graft.SparkEntry.queries(q)(spark, dir).collect().toSeq
          }
          total += span.seconds
          val got = Checks.rowsHash(rows)
          val want = goldens.get(q)
          if (!want.contains(got))
            failures += s"$label/$q: got $got, golden ${want.getOrElse("missing")}"
          leaked += spark.sparkContext.getPersistentRDDs.size
          layer(s"q:$q") = span.seconds
          ctx.countersOf(span).foreach { c =>
            shuffle += c.shuffleWrite
            spill += c.spillBytes
            gc += c.gcS
          }
        } catch {
          case NonFatal(e) =>
            failures += s"$label/$q: threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
    }
    val f = failures.result()
    if (ctx.traced) {
      layer("queries.shuffle_bytes") = shuffle.toDouble
      layer("queries.spill_bytes") = spill.toDouble
      layer("queries.gc_s") = gc
      layer("queries.leaked_rdds") = leaked.toDouble
    }
    OpOut(total, names.length, names.length, f, layer.toMap)
  }
}

/** Small file-tree helpers for state directories. */
object Files {
  def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new java.io.File(path))
  }

  def copy(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
  }

  /** (bytes, files) under a directory. */
  def usage(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists()) (0L, 0L)
    else {
      var bytes = 0L
      var files = 0L
      def go(f: java.io.File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
        else { bytes += f.length(); files += 1 }
      go(root)
      (bytes, files)
    }
  }
}
