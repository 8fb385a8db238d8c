package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.streaming.CdcPipeline
import graft.table.LakeTable
import Workload._

/** `bulk_replay`: a skewed log as large as the state it converges to,
  * cached untimed, replayed with `CdcPipeline.replay` in 4 microbatches into
  * an empty copy-on-write table, then read back converged. The LWW reduce
  * exchange and the parquet stage write do the work; the bucketed state
  * join, views and streaming are bypassed.
  */
final class BulkReplay extends Workload {
  val name = "bulk_replay"
  val NumKeys = 3000
  val NumEvents = 60000L
  val Batches = 4

  private var gen: Gen = _
  private var log: DataFrame = _
  private var expect: Oracle.Digest = _
  private var lookupKeys: Seq[(Seq[String], Option[Ev])] = Nil

  def prepare(ctx: Ctx): Unit = {
    if (log != null) log.unpersist(blocking = true)
    gen = Gen(ctx.seed, NumKeys)
    log = gen.skewedLog(ctx.spark, 0, NumEvents).toDF().persist(StorageLevel.MEMORY_ONLY)
    log.count()
  }

  /** One replay into a fresh table. Returns its cost, each batch's cost
    * and the table; in a traced run each batch is its own span.
    */
  private def replay(ctx: Ctx, windows: ArrayBuffer[Window], lastCommit: ArrayBuffer[Double])
      : (Cost, Seq[Cost], LakeTable) = {
    val tr = ctx.tracer
    val table = new LakeTable(ctx.freshDir("replay"), numBuckets = Buckets)
    val marks = ArrayBuffer[Cost]()
    var batch: Tracer.Span = null
    val root = tr.open("streaming.replay")
    val t0 = Cost(tr.nowMs, Cost.cpuMs())
    batch = tr.open("merge.apply")
    val results = try CdcPipeline.replay(ctx.spark, log.select("*"), table, numBatches = Batches,
      onBatch = r => {
        marks += Cost(tr.nowMs, Cost.cpuMs())
        tr.close(batch)
        if (tr.enabled) {
          windows += Window(batch.start, batch.end, Some(batch), r.eventsIn)
          lastCommit ++= lastCommitMs(ctx, table)
        }
        batch = tr.open("merge.apply")
      })
    finally { tr.close(batch); tr.close(root) }
    val total = Cost(tr.nowMs - t0.wallMs, Cost.cpuMs() - t0.cpuMs)
    results.foreach(r => ctx.check(s"replay batch ${r.batchId} committed")(r.committed))
    val batches = (t0 +: marks.toSeq).sliding(2).map(p => Cost(p(1).wallMs - p(0).wallMs, p(1).cpuMs - p(0).cpuMs)).toSeq
    (total, batches, table)
  }

  def warmUp(ctx: Ctx): Unit = {
    expect = expected(ctx, log)
    val keys = gen.lookupIdx(present = 12, absent = 4)
    val evs = eventsOf(gen, keys.toSet, 0, NumEvents)
    lookupKeys = keys.map(k => gen.key(k) -> Oracle.foldKey(evs.getOrElse(k, Nil)))
    val (_, _, t) = replay(ctx, ArrayBuffer(), ArrayBuffer())
    lookupKeys.foreach { case (k, e) => lookup(ctx, t, k, e) }
    scans(ctx, t, expect.rows, n = 1)
    checkState(ctx, "warm-up replay", t, expect)
    rm(t.root)
  }

  def measure(ctx: Ctx): Result = {
    val tr = ctx.tracer
    val (replays, commits, lookups, scanned) =
      (ArrayBuffer[Cost](), ArrayBuffer[Cost](), ArrayBuffer[Cost](), ArrayBuffer[Cost]())
    val disk = ArrayBuffer[Double]()
    val windows = ArrayBuffer[Window]()
    val lastCommit = ArrayBuffer[Double]()
    var rowsReturned = 0L
    var layers = Map.empty[String, M]
    val measureStart = tr.nowMs
    val deadline = measureStart + ctx.seconds * 1000.0
    do {
      val (cost, batches, table) = replay(ctx, windows, lastCommit)
      replays += cost
      commits ++= batches
      lookupKeys.foreach { case (k, e) =>
        lookup(ctx, table, k, e).foreach { case (c, n) => lookups += c; rowsReturned += n }
      }
      scanned ++= scans(ctx, table, expect.rows)
      disk += diskPerLive(table)
      checkState(ctx, "replayed", table, expect)
      if (tr.enabled) layers = shapeLayers(table)
      rm(table.root)
    } while (tr.nowMs < deadline)
    if (tr.enabled) {
      tr.drain()
      layers ++= applyLayers(tr, windows.toSeq) ++ lookupLayers(tr, measureStart, rowsReturned) ++
        Map("table.last_commit_ms" -> M(Stats.median(lastCommit.toSeq), "ms"))
    }
    val (e2e, walls) = endToEnd(NumEvents * replays.size, replays.toSeq, commits.map(_.wallMs).toSeq,
      commits.map(_.cpuMs).toSeq, lookups.toSeq, scanned.toSeq, disk.toSeq)
    Result(e2e, walls, layers,
      Seq(s"replays=${replays.size} events_per_replay=$NumEvents keys=$NumKeys batches=$Batches " +
        s"commit_samples=${commits.size} lookup_samples=${lookups.size}",
        s"replay_events_per_s=${walls("events_per_s").value} events/s"))
  }
}
