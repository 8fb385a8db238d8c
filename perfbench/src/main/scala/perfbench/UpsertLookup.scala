package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import graft.merge.CdcApply
import graft.table.LakeTable
import Workload._

/** `upsert_lookup`: a copy-on-write table preloaded untimed with one row per
  * key, then a closed loop of `applyBatch` calls of skewed events over the
  * same keys (state about 30x the batch), each followed on the same thread
  * by single-key lookups, present and absent. The bucketed state read, the
  * bucket rewrite and per-commit driver metadata dominate; the exchange
  * moves only the batch. The lookups put reads beside writes.
  */
final class UpsertLookup extends Workload {
  val name = "upsert_lookup"
  val NumKeys = 6000
  val BatchEvents = 200
  val WarmUpApplies = 2
  val LookupsPerApply = 6
  /** Measured applies a run makes at least, however short `--seconds`:
    * an apply's cost grows with the applies before it (later ones cost up
    * to 1.3x the first), so a run that stopped one apply earlier would
    * report other percentiles.
    */
  val MinApplies = 4
  /** Measured applies after which disk use is read: a fixed commit count,
    * since copy-on-write keeps every rewritten file until expiry.
    */
  val DiskProbeAfter = 3

  private var gen: Gen = _
  private var table: LakeTable = _
  private var preloadLog: DataFrame = _
  private var nextBatch = 1L
  private var lookupIdx: Seq[Int] = Nil
  private var nextLookup = 0
  /** Driver-side events of the lookup keys applied so far. */
  private val seen = mutable.Map[Int, ArrayBuffer[Ev]]()

  def prepare(ctx: Ctx): Unit = {
    gen = Gen(ctx.seed, NumKeys)
    table = new LakeTable(ctx.freshDir("upsert"), numBuckets = Buckets)
    preloadLog = gen.preload(ctx.spark).toDF()
    val r = CdcApply.applyBatch(ctx.spark, table, preloadLog, batchId = 0)
    ctx.check("preload committed")(r.committed)
    nextBatch = 1
  }

  private def batchEvents(b: Long): Seq[Ev] = {
    val from = gen.idBase + NumKeys + (b - 1) * BatchEvents
    (0 until BatchEvents).map(i => gen.skewed(from + i))
  }

  /** Apply the next batch; returns its wall (ms) and events, and in a traced
    * run its window.
    */
  private def applyNext(ctx: Ctx, windows: ArrayBuffer[Window], lastCommit: ArrayBuffer[Double])
      : Option[Cost] = {
    import ctx.spark.implicits._
    val b = nextBatch
    val events = batchEvents(b)
    val df = events.toDF()
    val tr = ctx.tracer
    ctx.quiesce()
    val s = tr.open("merge.apply")
    var result: CdcApply.BatchResult = null
    val ms = try ctx.timed(s"apply $b") { result = CdcApply.applyBatch(ctx.spark, table, df, batchId = b) }
    finally tr.close(s)
    nextBatch += 1
    if (tr.enabled) {
      windows += Window(s.start, s.end, Some(s), BatchEvents)
      lastCommit ++= lastCommitMs(ctx, table)
    }
    ms.foreach(_ => ctx.check(s"apply $b committed")(result.committed))
    val keys = lookupIdx.toSet
    events.foreach { e =>
      val k = gen.keyOf(e.lsn - 1)
      if (keys.contains(k)) seen.getOrElseUpdate(k, ArrayBuffer()) += e
    }
    ms
  }

  /** The next `n` lookups of the rotating key set, checked. */
  private def lookups(ctx: Ctx, n: Int): Seq[(Cost, Int)] = {
    ctx.quiesce()
    (1 to n).flatMap { _ =>
      val k = lookupIdx(nextLookup % lookupIdx.size)
      nextLookup += 1
      lookup(ctx, table, gen.key(k), Oracle.foldKey(seen.getOrElse(k, Nil)))
    }
  }

  def warmUp(ctx: Ctx): Unit = {
    lookupIdx = gen.lookupIdx(present = 24, absent = 6)
    seen.clear()
    lookupIdx.filter(_ < NumKeys).foreach(k =>
      seen(k) = ArrayBuffer(gen.event(gen.idBase + k, k, create = true)))
    (1 to WarmUpApplies).foreach { _ =>
      applyNext(ctx, ArrayBuffer(), ArrayBuffer())
      lookups(ctx, LookupsPerApply)
    }
    table.snapshot(ctx.spark).foreach(_.count())
  }

  def measure(ctx: Ctx): Result = {
    val tr = ctx.tracer
    val (applies, lookupCosts) = (ArrayBuffer[Cost](), ArrayBuffer[Cost]())
    val windows = ArrayBuffer[Window]()
    val lastCommit = ArrayBuffer[Double]()
    var rowsReturned = 0L
    val firstMeasured = nextBatch
    val measureStart = tr.nowMs
    val deadline = measureStart + ctx.seconds * 1000.0
    var disk = Double.NaN
    do {
      applies ++= applyNext(ctx, windows, lastCommit)
      if (nextBatch - firstMeasured == DiskProbeAfter) disk = diskPerLive(table)
      lookups(ctx, LookupsPerApply).foreach { case (c, n) => lookupCosts += c; rowsReturned += n }
    } while (tr.nowMs < deadline || nextBatch - firstMeasured < MinApplies)
    if (disk.isNaN) disk = diskPerLive(table)
    val applied = nextBatch - 1
    val log = preloadLog.unionByName(gen.skewedLog(ctx.spark, NumKeys, NumKeys + applied * BatchEvents).toDF())
    lazy val expect = expected(ctx, log)
    val scanned = scans(ctx, table, expect.rows)
    checkState(ctx, "upserted", table, expect)
    var layers = Map.empty[String, M]
    if (tr.enabled) {
      tr.drain()
      layers = applyLayers(tr, windows.toSeq) ++ lookupLayers(tr, measureStart, rowsReturned) ++ shapeLayers(table) ++
        Map("table.last_commit_ms" -> M(Stats.median(lastCommit.toSeq), "ms"))
    }
    val measuredEvents = (nextBatch - firstMeasured) * BatchEvents
    val walls = applies.map(_.wallMs).toSeq
    val (e2e, wallMetrics) = endToEnd(measuredEvents, applies.toSeq, walls, applies.map(_.cpuMs).toSeq,
      lookupCosts.toSeq, scanned, Seq(disk))
    Result(e2e, wallMetrics, layers,
      Seq(s"applies=${applies.size} batch_events=$BatchEvents keys=$NumKeys lookups=${lookupCosts.size}",
        s"upsert_events_per_s=${wallMetrics("events_per_s").value} events/s",
        s"apply_ms_p50=${Stats.percentile(walls, 50)} ms apply_ms_p75=${Stats.percentile(walls, 75)} ms " +
          s"apply_growth=${Stats.growth(walls)}"))
  }
}
