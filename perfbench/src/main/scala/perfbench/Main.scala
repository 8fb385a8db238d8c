package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object Json {
  val mapper = new ObjectMapper()
}

/** Runs one workload once and prints its metrics; the last stdout line is
  * the result object `{correct, attempted, failed, metrics}`.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  * }}}
  *
  * The session is the same for every run: `local[4]`, 64 shuffle
  * partitions (one per table bucket), AQE off, Spark's local dir inside
  * `--work`, which is deleted at the end. One client thread drives the
  * engine (it is single-writer by contract).
  */
object Main {
  val Cores = 4
  val SetupRepeats = 3

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Workload.Buckets.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      // Few job, stage and SQL-execution records in the status store: it
      // trims them asynchronously past these limits, so how many are live
      // when the heap is read depends on timing.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val t00 = System.nanoTime()

  /** Progress to stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t00) / 1e9}%8.2f] $msg")

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", "")
    val selfCheckOnly = name == "selfcheck"
    val workload = Workload.all.find(_.name == name)
    if (workload.isEmpty && !selfCheckOnly) {
      System.err.println(s"unknown workload '$name'; one of ${Workload.all.map(_.name).mkString(", ")}, selfcheck")
      sys.exit(2)
    }
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer(spark.sparkContext, trace)
      val ctx = new Ctx(spark, seed, seconds, tracer, work)
      log(f"session up in $sessionS%.2f s")
      SelfCheck.run(ctx, withOracle = selfCheckOnly)
      if (selfCheckOnly) {
        ctx.failures.foreach(f => System.err.println(s"FAILED: $f"))
        println(s"self-check: ${ctx.attempted - ctx.failed} of ${ctx.attempted} checks passed")
        if (ctx.failed > 0) sys.exit(1)
        return
      }
      val w = workload.get
      val prepS = (1 to SetupRepeats).map { i =>
        val t = System.nanoTime(); w.prepare(ctx)
        val s = (System.nanoTime() - t) / 1e9
        log(f"prepare $i done in $s%.2f s")
        s
      }
      val tw = System.nanoTime()
      w.warmUp(ctx)
      val warmS = (System.nanoTime() - tw) / 1e9
      log(f"warm-up done in $warmS%.2f s")
      val setupS = sessionS + warmS + Stats.median(prepS)

      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val mStart = tracer.nowMs
      val r = w.measure(ctx)
      val mEnd = tracer.nowMs
      log(f"measure done in ${(mEnd - mStart) / 1000}%.2f s")
      val gc = (gcMs - gc0).toDouble
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      // The peak depends on when the collector ran; what the run keeps live
      // after a full collection does not. Spark's cleaner drops its
      // references asynchronously, after a collection, so the least of a few
      // collections is taken.
      val heapLiveMb = (1 to 3).map { _ =>
        System.gc(); Thread.sleep(200)
        heapPools.map(_.getUsage.getUsed).sum / 1048576.0
      }.min

      val e2e = r.e2e ++ Map("setup_s" -> M(setupS, "s"), "heap_live_mb" -> M(heapLiveMb, "MB"))
      val metrics =
        if (trace) Workload.withAllLayers(r.layers ++ Workload.execLayers(tracer, mStart, mEnd, gc) ++
          Map("exec.heap_peak_mb" -> M(heapPeakMb, "MB")))
        else e2e
      val unmeasured = metrics.collect { case (k, m) if m.value.isNaN || m.value.isInfinite => k }
      unmeasured.foreach(k => ctx.failures += s"metric $k was not measured")

      println(s"workload=$name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
        f"session_s=$sessionS%.3f warm_up_s=$warmS%.3f prepare_s=${prepS.map(s => f"$s%.3f").mkString(",")}")
      r.notes.foreach(println)
      r.ungated.toSeq.sortBy(_._1).foreach { case (k, m) => println(s"ungated $k = ${m.value} ${m.unit}") }
      e2e.toSeq.sortBy(_._1).foreach { case (k, m) => println(s"e2e $k = ${m.value} ${m.unit}") }
      if (trace) metrics.toSeq.sortBy(_._1).foreach { case (k, m) => println(s"layer $k = ${m.value} ${m.unit}") }
      println(s"ops_failed_frac = ${ctx.failed.toDouble / math.max(1L, ctx.attempted)} " +
        s"(${ctx.failed} of ${ctx.attempted} operations)")
      ctx.failures.foreach(f => System.err.println(s"FAILED: $f"))

      val tag = s"$name-seed$seed-trace${if (trace) 1 else 0}"
      Files.writeString(out.resolve(s"e2e-$tag.json"), Json.mapper.writeValueAsString(
        e2e.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit).asJava }.asJava))
      if (trace) {
        Files.writeString(out.resolve(s"trace-$tag.json"), tracer.toJson)
        val self = tracer.spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(tracer.selfMs).sum }
        self.toSeq.sortBy(-_._2).foreach { case (n, ms) => println(f"self_ms $n = $ms%.1f") }
      }

      val result = new java.util.LinkedHashMap[String, Any]()
      result.put("correct", ctx.failed == 0 && unmeasured.isEmpty)
      result.put("attempted", ctx.attempted)
      result.put("failed", ctx.failed)
      result.put("metrics", metrics.map { case (k, m) =>
        val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
        k -> Map[String, Any]("value" -> v, "unit" -> m.unit).asJava
      }.asJava)
      println(Json.mapper.writeValueAsString(result))
    } finally {
      spark.stop()
      Workload.rm(work.toString)
    }
  }
}

/** Checks of the benchmark's own arithmetic and oracle. The arithmetic is
  * checked at the start of every run; `withOracle` adds the Spark-side
  * oracle checks (`run.py --self-check`). Any failure makes the run
  * incorrect.
  */
object SelfCheck {
  def run(ctx: Ctx, withOracle: Boolean): Unit = {
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    ctx.check("self-check: percentiles") {
      val xs = Seq(4.0, 1.0, 3.0, 2.0)
      near(Stats.percentile(xs, 50), 2.5) && near(Stats.percentile(xs, 75), 3.25) &&
        near(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.1) && near(Stats.percentile(Seq(7.0), 90), 7.0)
    }
    ctx.check("self-check: growth") {
      near(Stats.growth(Seq(1.0, 1.0, 9.0, 1.0, 1.0, 2.0, 2.0, 2.0)), 2.0)
    }
    ctx.check("self-check: self time") {
      near(Stats.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 5.0), (7.0, 8.0), (9.0, 12.0), (-3.0, -1.0))), 4.0) &&
        near(Stats.selfTime(0, 10, Nil), 10.0)
    }
    if (!withOracle) return
    val spark = ctx.spark
    import spark.implicits._
    val g = Gen(ctx.seed, 50)
    val log = (0L until 400L).map(i => g.skewed(g.idBase + i)).toDF()
    val state = Oracle.lwwState(log)
    val good = Oracle.digest(state, Oracle.stateCols)
    ctx.check("self-check: digest is order-independent") {
      Oracle.digest(state.repartition(7).orderBy(col("path").desc), Oracle.stateCols) == good
    }
    ctx.check("self-check: digest rejects a planted wrong row")(Oracle.rejectsPlantedRow(state, good))
    ctx.check("self-check: digest rejects a dropped row replaced by a duplicate") {
      val swapped = state.orderBy("path").limit(good.rows.toInt - 1)
        .unionByName(state.orderBy("path").limit(1))
      Oracle.digest(swapped, Oracle.stateCols) != good
    }
    ctx.check("self-check: window fold equals the driver-side fold") {
      val events = (0L until 400L).map(i => g.skewed(g.idBase + i))
      val byKey = events.groupBy(e => (e.repo, e.path)).flatMap { case (_, es) => Oracle.foldKey(es) }
      state.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ==
        byKey.map(e => (e.repo, e.path, e.commit)).toSet
    }
  }
}
