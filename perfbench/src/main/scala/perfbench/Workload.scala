package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.table.LakeTable

/** What one run of a workload needs: the session, its inputs' seed, the
  * measuring time, the tracer and a scratch directory that is deleted
  * afterwards. It also keeps the operation tally: an operation is an apply,
  * a lookup, a microbatch or a final-state check, and it fails if it throws
  * or disagrees with the oracle.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val tracer: Tracer,
    val work: Path) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  private var dirs = 0

  def freshDir(name: String): String = {
    dirs += 1
    work.resolve(s"$name-$dirs").toString
  }

  /** Count one operation; `ok` is its verdict. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Exception => failures += s"$what: $e"; false
    }
    if (!pass) {
      failed += 1
      if (failures.size < 20) failures += what
    }
  }

  /** Wait, before a timed operation, until the work the previous one left
    * behind has ended: a full collection, then until the process spends
    * at most one CPU tick in 100 ms (at most 3 s). The gated costs are the
    * process's CPU while an operation runs, and Spark's listener bus,
    * cleaner and the collector could go on for seconds after a streaming
    * round or an apply: without the wait, single lookups right after an
    * apply read up to ten times the usual CPU.
    */
  def quiesce(): Unit = {
    System.gc()
    val deadline = System.nanoTime() + 3000000000L
    var idle = false
    while (!idle && System.nanoTime() < deadline) {
      val c0 = Cost.cpuMs()
      Thread.sleep(100)
      idle = Cost.cpuMs() - c0 <= 10.0
    }
  }

  /** Run one timed operation; returns its cost, or None if it threw. */
  def timed(what: String)(body: => Unit): Option[Cost] = {
    val t0 = System.nanoTime()
    val c0 = Cost.cpuMs()
    try {
      body
      Some(Cost((System.nanoTime() - t0) / 1e6, Cost.cpuMs() - c0))
    } catch {
      case e: Exception =>
        attempted += 1; failed += 1
        if (failures.size < 20) failures += s"$what: $e"
        None
    }
  }
}

/** What an operation cost: its wall, and the CPU time the whole process
  * (Spark's executor threads included) spent while it ran, both in ms.
  */
final case class Cost(wallMs: Double, cpuMs: Double)

object Cost {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time used by this process so far. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6
}

/** A metric value and its unit. */
final case class M(value: Double, unit: String)

/** A workload run's results: the gated end-to-end metrics, the ungated
  * ones printed beside them (walls, and the scan's CPU), per-layer metrics
  * (traced runs) and readable notes such as sample counts.
  */
final case class Result(e2e: Map[String, M], ungated: Map[String, M], layers: Map[String, M], notes: Seq[String])

trait Workload {
  def name: String

  /** Builds this workload's inputs and state; run once per set-up repeat.
    * The last call's state is the one measured.
    */
  def prepare(ctx: Ctx): Unit

  /** Untimed first pass over every code path the measure loop uses. */
  def warmUp(ctx: Ctx): Unit

  /** Runs the closed loop for `ctx.seconds` and returns its metrics. */
  def measure(ctx: Ctx): Result
}

/** Helpers shared by the workloads. */
object Workload {
  val Buckets = 8
  val StateCols: Seq[String] = Seq("repo", "path", "commit", "lang", "content")

  def all: Seq[Workload] = Seq(new BulkReplay, new UpsertLookup, new StreamViews)

  def rm(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
  }

  /** Bytes on disk under a table's root over the bytes of the data files
    * its head commit references.
    */
  def diskPerLive(t: LakeTable): Double = {
    val live = t.lastCommit().toSeq.flatMap(_.files).map(f => Files.size(Paths.get(t.root, f.path))).sum
    dirBytes(t.root).toDouble / live
  }

  /** One point lookup, timed, checked against the driver-side fold of the
    * key's events. Returns the wall and the rows returned.
    */
  def lookup(ctx: Ctx, t: LakeTable, key: Seq[String], expect: Option[Ev]): Option[(Cost, Int)] = {
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    val ms = ctx.tracer.span("table.lookup") {
      ctx.timed("lookup") {
        rows = t.lookup(ctx.spark, key).map(_.select(StateCols.map(col): _*).collect()).getOrElse(Array.empty)
      }
    }
    ms.map { w =>
      ctx.check(s"lookup $key") {
        (rows.toSeq, expect) match {
          case (Seq(), None) => true
          case (Seq(r), Some(e)) =>
            r.getString(2) == e.commit && r.getString(3) == e.lang && r.getString(4) == e.content
          case _ => false
        }
      }
      (w, rows.length)
    }
  }

  /** Timed converged scans (`snapshot().count()`), each checked against the
    * expected row count once all have run (so computing the expectation
    * never overlaps a timed scan).
    */
  def scans(ctx: Ctx, t: LakeTable, expectRows: => Long, n: Int = 3): Seq[Cost] = {
    ctx.quiesce()
    val runs = (1 to n).flatMap { _ =>
      var c = -1L
      ctx.tracer.span("table.scan") {
        ctx.timed("scan") { c = t.snapshot(ctx.spark).map(_.count()).getOrElse(0L) }
      }.map(_ -> c)
    }
    runs.foreach { case (_, c) => ctx.check(s"scan count $c")(c == expectRows) }
    runs.map(_._1)
  }

  /** Final-state check: row count and digest of the table against the
    * oracle.
    */
  def checkState(ctx: Ctx, what: String, t: LakeTable, expect: Oracle.Digest): Unit =
    ctx.tracer.span("oracle.check") {
      ctx.check(s"$what state digest") {
        t.snapshot(ctx.spark).map(df => Oracle.digest(df, Oracle.stateCols)).contains(expect)
      }
    }

  /** Driver-side event lists of the given key indices over ids
    * `[from, until)` of a generator's skewed id space.
    */
  def eventsOf(g: Gen, keys: Set[Int], from: Long, until: Long): mutable.Map[Int, ArrayBuffer[Ev]] = {
    val out = mutable.Map[Int, ArrayBuffer[Ev]]()
    var i = from
    while (i < until) {
      val id = g.idBase + i
      val k = g.keyOf(id)
      if (keys.contains(k)) out.getOrElseUpdate(k, ArrayBuffer()) += g.event(id, k)
      i += 1
    }
    out
  }

  /** One engine apply of a traced run: its wall, the span whose job group
    * its jobs carry (None for a streaming apply, whose jobs are those
    * submitted inside the wall) and the events it was given.
    */
  final case class Window(start: Double, end: Double, span: Option[Tracer.Span], events: Long)

  /** Per-layer metrics of the merge, operators and table layers from the
    * traced apply windows of a run. Call after `Tracer.drain`.
    */
  def applyLayers(tr: Tracer, windows: Seq[Window]): Map[String, M] = {
    // applyBatch's first job is its stats pass; a replay's first window
    // also holds the replay's own log-bounds job before it.
    def stats(jobs: Seq[Tracer.JobRec]) = jobs.find(!_.callSite.startsWith("collect at CdcPipeline"))
    val per = windows.map { w =>
      val jobs = w.span.map(tr.jobsOf).getOrElse(tr.streamJobsBetween(w.start, w.end))
      val stages = jobs.flatMap(tr.stagesOf)
      val statsJob = stats(jobs)
      val work = jobs.filterNot(statsJob.contains).flatMap(tr.stagesOf)
      val reduceRead = work.filter(_.shuffleRead > 0).sortBy(-_.shuffleRead).headOption
      val skew = reduceRead.filter(_.taskRunMs.nonEmpty).map { s =>
        val ts = s.taskRunMs.map(_.toDouble).toSeq
        ts.max / math.max(1.0, Stats.median(ts))
      }
      val writeStage = stages.filter(_.outputBytes > 0).sortBy(-_.outputBytes).headOption
      (w.end - w.start,
        Stats.selfTime(w.start, w.end, jobs.filter(!_.end.isNaN).map(j => (j.submit, j.end))),
        jobs.size.toDouble,
        statsJob.filter(!_.end.isNaN).map(j => j.end - j.submit),
        stages.map(_.shuffleWrite).sum.toDouble,
        work.filter(_.shuffleWrite > 0).map(_.ms).sum,
        skew,
        writeStage.map(_.ms),
        stages.map(_.outputBytes).sum.toDouble,
        stages.map(_.inputBytes).sum.toDouble,
        w.events.toDouble)
    }
    def med(f: Seq[Double]) = if (f.isEmpty) 0.0 else Stats.median(f)
    Map(
      "merge.apply_ms" -> M(med(per.map(_._1)), "ms"),
      "merge.apply_self_ms" -> M(med(per.map(_._2)), "ms"),
      "merge.jobs_per_apply" -> M(med(per.map(_._3)), "count"),
      "merge.stats_job_ms" -> M(med(per.flatMap(_._4)), "ms"),
      "operators.shuffle_write_bytes_per_apply" -> M(med(per.map(_._5)), "bytes"),
      "operators.exchange_ms" -> M(med(per.map(_._6)), "ms"),
      "operators.reduce_task_skew" -> M(med(per.flatMap(_._7)), "ratio"),
      "table.stage_write_ms" -> M(med(per.flatMap(_._8)), "ms"),
      "table.bytes_written_per_event" -> M(per.map(_._9).sum / math.max(1.0, per.map(_._11).sum), "bytes"),
      "table.state_read_bytes_per_apply" -> M(med(per.map(_._10)), "bytes"))
  }

  /** Per-layer metrics of the run as a whole: executor busy share, GC and
    * spill inside `[from, to]`, and tracing cost.
    */
  def execLayers(tr: Tracer, from: Double, to: Double, gcMs: Double): Map[String, M] = {
    val stages = tr.allJobsBetween(from, to).flatMap(tr.stagesOf).distinctBy(_.id)
    Map(
      "exec.core_busy_frac" -> M(stages.map(_.runMs).sum / ((to - from) * Main.Cores), "ratio"),
      "exec.gc_ms" -> M(gcMs, "ms"),
      "exec.spill_bytes" -> M(stages.map(_.spill).sum.toDouble, "bytes"),
      "trace.listener_ms" -> M(tr.listenerMs, "ms"))
  }

  /** Per-layer metrics of the lookups made since `since`: input rows read
    * per row returned.
    */
  def lookupLayers(tr: Tracer, since: Double, rowsReturned: Long): Map[String, M] = {
    val read = tr.spans.filter(s => s.name == "table.lookup" && s.start >= since).flatMap(tr.jobsOf)
      .flatMap(tr.stagesOf).map(_.inputRecords).sum
    Map("table.lookup_rows_read_per_row" -> M(read.toDouble / math.max(1L, rowsReturned), "ratio"))
  }

  /** Table-shape metrics of a table's head. */
  def shapeLayers(t: LakeTable): Map[String, M] = {
    val head = t.lastCommit()
    Map(
      "table.data_files" -> M(head.map(_.files.size).getOrElse(0).toDouble, "count"),
      "table.max_stack_depth" -> M(head.map(c => t.stackDepths(c).values.maxOption.getOrElse(0))
        .getOrElse(0).toDouble, "count"),
      "table.commit_log_files" -> M(t.commitVersions().size.toDouble, "count"))
  }

  /** `lastCommit()` timed `n` times: the commit-log head read. */
  def lastCommitMs(ctx: Ctx, t: LakeTable, n: Int = 1): Seq[Double] =
    (1 to n).map { _ =>
      val t0 = System.nanoTime(); t.lastCommit(); (System.nanoTime() - t0) / 1e6
    }

  /** The per-layer metric names every workload reports (0 where a layer is
    * not reached).
    */
  val LayerNames: Seq[(String, String)] = Seq(
    "merge.apply_ms" -> "ms", "merge.apply_self_ms" -> "ms", "merge.jobs_per_apply" -> "count",
    "merge.stats_job_ms" -> "ms", "operators.shuffle_write_bytes_per_apply" -> "bytes",
    "operators.exchange_ms" -> "ms", "operators.reduce_task_skew" -> "ratio",
    "table.stage_write_ms" -> "ms", "table.bytes_written_per_event" -> "bytes",
    "table.state_read_bytes_per_apply" -> "bytes", "table.last_commit_ms" -> "ms",
    "table.lookup_rows_read_per_row" -> "ratio", "table.data_files" -> "count",
    "table.max_stack_depth" -> "count", "table.commit_log_files" -> "count",
    "table.compaction_ms" -> "ms", "table.view_maintain_ms" -> "ms", "table.join_view_maintain_ms" -> "ms",
    "streaming.apply_ms" -> "ms", "streaming.overhead_ms" -> "ms", "streaming.rows_per_microbatch" -> "count",
    "streaming.restart_ms" -> "ms", "streaming.accounted_frac" -> "ratio",
    "exec.core_busy_frac" -> "ratio", "exec.gc_ms" -> "ms", "exec.spill_bytes" -> "bytes",
    "exec.heap_peak_mb" -> "MB",
    "trace.listener_ms" -> "ms")

  def withAllLayers(got: Map[String, M]): Map[String, M] =
    LayerNames.map { case (n, u) => n -> got.getOrElse(n, M(0.0, u)) }.toMap

  /** Digest of the expected state of a flat log, after checking that the
    * digest rejects that state with one planted wrong row.
    */
  def expected(ctx: Ctx, log: DataFrame): Oracle.Digest = {
    val state = Oracle.lwwState(log).cache()
    try {
      val d = Oracle.digest(state, Oracle.stateCols)
      ctx.check("digest rejects a planted wrong row")(Oracle.rejectsPlantedRow(state, d))
      d
    } finally state.unpersist()
  }

  /** The end-to-end metrics every workload reports, from its samples: the
    * write path's operations (applies, replays, query runs) with the events
    * they wrote, per-commit walls and CPU times in commit order, lookups,
    * scans and disk-to-live ratios.
    *
    * The gated metrics are CPU times: on a shared host the wall of the same
    * work varied twofold between runs (time stolen by other tenants), while
    * the CPU the process itself spends varied far less. Walls are printed
    * beside them, and so is the scan's CPU: a scan is too short for its CPU
    * to be steady from run to run.
    */
  def endToEnd(events: Long, writes: Seq[Cost], commitMs: Seq[Double], commitCpuMs: Seq[Double],
      lookups: Seq[Cost], scanned: Seq[Cost], diskRatio: Seq[Double]): (Map[String, M], Map[String, M]) = {
    def pct(xs: Seq[Double], p: Double) = Stats.percentile(xs, p)
    val gated = Map(
      "events_per_cpu_s" -> M(events / (writes.map(_.cpuMs).sum / 1000.0), "events/s"),
      "commit_cpu_ms_p50" -> M(pct(commitCpuMs, 50), "ms"),
      "commit_cpu_ms_p75" -> M(pct(commitCpuMs, 75), "ms"),
      "lookup_cpu_ms_p50" -> M(pct(lookups.map(_.cpuMs), 50), "ms"),
      "lookup_cpu_ms_p75" -> M(pct(lookups.map(_.cpuMs), 75), "ms"),
      "disk_bytes_per_live_byte" -> M(Stats.median(diskRatio), "ratio"))
    val walls = Map(
      "events_per_s" -> M(events / (writes.map(_.wallMs).sum / 1000.0), "events/s"),
      "commit_ms_p50" -> M(pct(commitMs, 50), "ms"),
      "commit_ms_p75" -> M(pct(commitMs, 75), "ms"),
      "lookup_ms_p50" -> M(pct(lookups.map(_.wallMs), 50), "ms"),
      "lookup_ms_p75" -> M(pct(lookups.map(_.wallMs), 75), "ms"),
      "scan_ms" -> M(Stats.median(scanned.map(_.wallMs)), "ms"),
      "scan_cpu_ms" -> M(Stats.median(scanned.map(_.cpuMs)), "ms"))
    (gated, walls)
  }
}
