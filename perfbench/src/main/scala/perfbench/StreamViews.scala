package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.merge.CdcApply
import graft.streaming.CdcPipeline
import graft.table.{JoinView, LakeTable, MaterializedView}
import Workload._

/** `stream_views`: envelope parquet files staged in two halves and tailed
  * by `CdcPipeline.start` (AvailableNow, one file per trigger) into a
  * merge-on-read table with `autoCompactDepth = 8`, keeping an aggregate
  * view (rows and content bytes per repo) and an inner join view against a
  * 5-row `lang` dimension in sync. The second half runs after a checkpoint
  * restart. The only workload that exercises streaming, MoR append and
  * compaction, view maintenance and restart re-fencing; it bypasses the
  * copy-on-write state read.
  */
final class StreamViews extends Workload {
  val name = "stream_views"
  val NumKeys = 2000
  val NumEvents = 8000L
  val FilesPerHalf = 1
  val CompactDepth = 8
  val Lookups = 24

  private var gen: Gen = _
  private var staged: String = _
  private var dim: LakeTable = _
  private var expect: Oracle.Digest = _
  private var expectRepos: Set[(String, Long, Long)] = Set.empty
  private var expectJoin: Oracle.Digest = _
  private var lookupKeys: Seq[(Seq[String], Option[Ev])] = Nil

  /** Progress of every microbatch with input, per query run, and the runs
    * that have terminated (the listener bus is asynchronous).
    */
  private final case class Progress(runId: java.util.UUID, batchId: Long, start: Double, triggerMs: Double,
      addBatchMs: Double, rows: Long, delivered: Double)
  private val progress = new ConcurrentHashMap[java.util.UUID, ArrayBuffer[Progress]]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  /** When each microbatch's flattened frame reached the engine apply, by
    * `runId:batchId` (recorded by a pass-through post-processor).
    */
  private val applyStart = new ConcurrentHashMap[String, Double]()
  private var listening = false

  private def listen(spark: SparkSession): Unit = if (!listening) {
    listening = true
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs
          progress.computeIfAbsent(p.runId, _ => ArrayBuffer()).synchronized {
            progress.get(p.runId) += Progress(p.runId, p.batchId,
              java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
              d.getOrDefault("triggerExecution", 0L).toDouble, d.getOrDefault("addBatch", 0L).toDouble,
              p.numInputRows, System.currentTimeMillis().toDouble)
          }
        }
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = terminated.add(e.runId)
    })
  }

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    listen(spark)
    gen = Gen(ctx.seed, NumKeys)
    staged = ctx.freshDir("staged")
    val log = gen.skewedLog(spark, 0, NumEvents).toDF()
    val mid = gen.idBase + NumEvents / 2 + 1
    Seq("h1" -> (col("lsn") <= mid), "h2" -> (col("lsn") > mid)).foreach { case (h, half) =>
      Gen.envelopes(log.where(half)).repartitionByRange(FilesPerHalf, col("source.lsn"))
        .write.parquet(s"$staged/$h")
    }
  }

  /** Copy the staged files of one half into the stream's input directory. */
  private def copyHalf(half: String, in: String): Unit = {
    Files.createDirectories(Paths.get(in))
    val s = Files.list(Paths.get(staged, half))
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, Paths.get(in, s"$half-${f.getFileName}")))
    finally s.close()
  }

  /** A finished round; `runs` is the cost of each query run, from
    * `start()` to termination (one microbatch each).
    */
  private final case class Round(base: LakeTable, view: LakeTable, joinView: LakeTable, runs: Seq[Cost],
      restartMs: Double, batches: Seq[Progress], span: Tracer.Span)

  /** One round: fresh tables and checkpoint, then each of `halves` in turn,
    * each by a new start of the query on the same checkpoint.
    */
  private def round(ctx: Ctx, halves: Seq[String] = Seq("h1", "h2")): Round = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val (in, ckpt) = (ctx.freshDir("in"), ctx.freshDir("ckpt"))
    val base = new LakeTable(ctx.freshDir("base"), numBuckets = Buckets, mergeOnRead = true,
      autoCompactDepth = CompactDepth)
    val view = new LakeTable(ctx.freshDir("view"), numBuckets = 1, keyCols = Seq("repo"))
    val joinView = new LakeTable(ctx.freshDir("joinview"), numBuckets = Buckets,
      keyCols = Seq("l_repo", "l_path", "r_lang"))
    val dv = MaterializedView.DerivedView(view, Seq("repo"), length(col("content")), "content_bytes")
    val jv = JoinView.DerivedJoinView(joinView, base, dim, leftOn = "lang", rightOn = "lang",
      leftCols = Seq("repo", "path", "lang", "commit"), rightCols = Seq("lang", "name"))
    val hook: DataFrame => DataFrame = df => {
      applyStart.put(Tracer.streamBatchKey(df.sparkSession.sparkContext), tr.nowMs)
      df
    }
    def start() = CdcPipeline.start(spark, in, ckpt, base, maxFilesPerTrigger = 1,
      views = Seq(dv), joinViews = Seq(jv), postProcessors = Seq(hook))
    val span = tr.open("streaming.round")
    try {
      val runs = halves.map { h =>
        copyHalf(h, in)
        ctx.quiesce()
        val t0 = tr.nowMs
        var q: org.apache.spark.sql.streaming.StreamingQuery = null
        val cost = ctx.timed(s"stream $h") { q = start(); q.awaitTermination() }
        Main.log(f"stream $h ${(tr.nowMs - t0) / 1000}%.2f s")
        (q.runId, t0, cost.getOrElse(Cost(Double.NaN, Double.NaN)))
      }
      val deadline = System.currentTimeMillis() + 10000
      while (!runs.forall(r => terminated.contains(r._1)) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      def batchesOf(r: java.util.UUID) = Option(progress.get(r)).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
      // restart: from the second start() to its first progress event
      val restart = runs.drop(1).headOption
        .flatMap { case (id, t0, _) => batchesOf(id).headOption.map(_.delivered - t0) }.getOrElse(Double.NaN)
      Round(base, view, joinView, runs.map(_._3), restart, runs.flatMap(r => batchesOf(r._1)), span)
    } finally tr.close(span)
  }

  /** The oracle's expected base state, aggregate view and join view, and
    * the check that its digest rejects a planted wrong row.
    */
  private def expectations(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val state = Oracle.lwwState(gen.skewedLog(spark, 0, NumEvents).toDF()).cache()
    expect = Oracle.digest(state, Oracle.stateCols)
    ctx.check("digest rejects a planted wrong row")(Oracle.rejectsPlantedRow(state, expect))
    expectRepos = Oracle.repoView(state)
    expectJoin = Oracle.digest(Oracle.langJoin(state, Gen.langDim(spark)), Oracle.joinCols)
    state.unpersist()
  }

  private def checkRound(ctx: Ctx, r: Round): Unit = {
    if (expect == null) expectations(ctx)
    r.batches.foreach(b => ctx.check(s"microbatch ${b.batchId}")(b.rows > 0))
    checkState(ctx, "streamed", r.base, expect)
    ctx.tracer.span("oracle.check") {
      ctx.check("aggregate view") {
        r.view.snapshot(ctx.spark).get.select("repo", "n_rows", "content_bytes").collect()
          .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet == expectRepos
      }
      ctx.check("join view") {
        Oracle.digest(r.joinView.snapshot(ctx.spark).get, Oracle.joinCols) == expectJoin
      }
    }
  }

  /** Builds the `lang` dimension and the lookup expectations, then runs the
    * first half through the pipeline.
    */
  def warmUp(ctx: Ctx): Unit = {
    val spark = ctx.spark
    dim = new LakeTable(ctx.freshDir("lang"), numBuckets = 1, keyCols = Seq("lang"))
    val d = CdcApply.applyBatch(spark, dim, Gen.langDim(spark), batchId = 0)
    ctx.check("lang dimension committed")(d.committed)
    expect = null
    val keys = gen.lookupIdx(present = Lookups * 3 / 4, absent = Lookups / 4)
    val evs = eventsOf(gen, keys.toSet, 0, NumEvents)
    lookupKeys = keys.map(k => gen.key(k) -> Oracle.foldKey(evs.getOrElse(k, Nil)))
    val r = round(ctx, halves = Seq("h1"))
    r.batches.foreach(b => ctx.check(s"warm-up microbatch ${b.batchId}")(b.rows > 0))
    lookupKeys.take(2).foreach { case (k, _) => r.base.lookup(spark, k).foreach(_.collect()) }
    Seq(r.base, r.view, r.joinView).foreach(t => rm(t.root))
  }

  /** Commit-log phases of each microbatch: base apply, compaction, view and
    * join-view commit stamps, against the microbatch's start.
    */
  private def phases(r: Round): Seq[Map[String, Double]] = {
    val baseCommits = r.base.commits()
    val viewAt = r.view.commits().map(c => c.batchId -> c.tsMs.toDouble).toMap
    val joinAt = r.joinView.commits().map(c => JoinView.decode(c.batchId)._1 -> c.tsMs.toDouble).toMap
    r.batches.flatMap { b =>
      val mine = baseCommits.filter(_.batchId == b.batchId).sortBy(_.version)
      val hook = Option(applyStart.get(s"${b.runId}:${b.batchId}"))
      for {
        apply <- mine.headOption
        h <- hook
        head = mine.last
        v <- viewAt.get(head.version)
        j <- joinAt.get(head.version)
      } yield Map(
        "apply" -> (apply.tsMs - h),
        "compaction" -> (head.tsMs - apply.tsMs).toDouble,
        "view" -> (v - head.tsMs),
        "join" -> (j - v),
        "overhead" -> (b.triggerMs - b.addBatchMs),
        "trigger" -> b.triggerMs,
        "hook" -> h,
        "applyEnd" -> apply.tsMs.toDouble,
        "rows" -> b.rows.toDouble)
    }
  }

  def measure(ctx: Ctx): Result = {
    val tr = ctx.tracer
    val (batchMs, runs, restarts, disk) =
      (ArrayBuffer[Double](), ArrayBuffer[Cost](), ArrayBuffer[Double](), ArrayBuffer[Double]())
    val (lookupCosts, scanned) = (ArrayBuffer[Cost](), ArrayBuffer[Cost]())
    val phaseRows = ArrayBuffer[Map[String, Double]]()
    var rowsReturned = 0L
    var rows = ArrayBuffer[Double]()
    var layers = Map.empty[String, M]
    var rounds = 0
    val measureStart = tr.nowMs
    val deadline = measureStart + ctx.seconds * 1000.0
    do {
      val r = round(ctx)
      rounds += 1
      runs ++= r.runs
      restarts += r.restartMs
      batchMs ++= r.batches.map(_.triggerMs)
      rows ++= r.batches.map(_.rows.toDouble)
      checkRound(ctx, r)
      ctx.quiesce()
      lookupKeys.foreach { case (k, e) =>
        lookup(ctx, r.base, k, e).foreach { case (c, n) => lookupCosts += c; rowsReturned += n }
      }
      scanned ++= scans(ctx, r.base, expect.rows)
      disk += diskPerLive(r.base)
      if (tr.enabled) {
        phaseRows ++= phases(r)
        r.batches.foreach(b => tr.record("streaming.microbatch", r.span.id, b.start, b.start + b.triggerMs,
          s"${b.runId}:${b.batchId}"))
        layers = shapeLayers(r.base) ++
          Map("table.last_commit_ms" -> M(Stats.median(lastCommitMs(ctx, r.base, 5)), "ms"))
      }
      Seq(r.base, r.view, r.joinView).foreach(t => rm(t.root))
    } while (tr.nowMs < deadline)
    if (tr.enabled) {
      tr.drain()
      def med(k: String) = Stats.median(phaseRows.map(_(k)).toSeq)
      val accounted = phaseRows.map(p =>
        (p("apply") + p("compaction") + p("view") + p("join") + p("overhead")) / p("trigger")).toSeq
      layers ++= applyLayers(tr, phaseRows.map(p => Window(p("hook"), p("applyEnd"), None, p("rows").toLong)).toSeq) ++
        lookupLayers(tr, measureStart, rowsReturned) ++ Map(
          "table.compaction_ms" -> M(Stats.mean(phaseRows.map(_("compaction")).toSeq), "ms"),
          "table.view_maintain_ms" -> M(med("view"), "ms"),
          "table.join_view_maintain_ms" -> M(med("join"), "ms"),
          "streaming.apply_ms" -> M(med("apply"), "ms"),
          "streaming.overhead_ms" -> M(med("overhead"), "ms"),
          "streaming.rows_per_microbatch" -> M(Stats.median(rows.toSeq), "count"),
          "streaming.restart_ms" -> M(Stats.median(restarts.toSeq), "ms"),
          "streaming.accounted_frac" -> M(Stats.median(accounted), "ratio"))
    }
    // Each query run is one microbatch, so its CPU is the microbatch's.
    val (e2e, walls) = endToEnd(NumEvents * rounds, runs.toSeq, batchMs.toSeq, runs.map(_.cpuMs).toSeq,
      lookupCosts.toSeq, scanned.toSeq, disk.toSeq)
    Result(e2e, walls, layers,
      Seq(s"rounds=$rounds microbatches=${batchMs.size} events_per_round=$NumEvents keys=$NumKeys",
        s"stream_events_per_s=${walls("events_per_s").value} events/s",
        s"microbatch_ms_p50=${Stats.median(batchMs.toSeq)} ms microbatch_growth=${Stats.growth(batchMs.toSeq)}",
        s"restart_s=${Stats.median(restarts.toSeq) / 1000.0} s scan_s=${walls("scan_ms").value / 1000.0} s"))
  }
}
