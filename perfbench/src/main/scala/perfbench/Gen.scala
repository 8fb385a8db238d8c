package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One flat change event, in the column layout the engine applies
  * (`repo, path` key; `commit, lsn` order; `part` source partition).
  */
final case class Ev(repo: String, path: String, commit: String, lang: String,
    content: String, op: String, part: Int, lsn: Long, ts_ms: Long)

/** The benchmark's own seeded input generator. It shares no code with the
  * engine's generators, so a change to the engine's sources or envelope
  * code cannot change a workload.
  *
  * Event `i` of seed `s` is a pure function of `(s, i)`: the seed picks the
  * event-id space (`idBase`) and the key naming, and a SplitMix64 hash of
  * the id picks the key, the op, the lang and the content. `hotPct` percent
  * of the events fall on `HotKeys` keys spread over the key space; the
  * rest are uniform.
  */
final case class Gen(seed: Long, numKeys: Int, hotPct: Int = 20) {
  import Gen._

  /** First event id of this seed; lsn = id + 1 keeps lsns seed-disjoint. */
  val idBase: Long = (seed & 0xfffffL) * 1000000000L
  private val keyTag: String = java.lang.Long.toHexString(mix(seed ^ 0x5eedL) & 0xffffffL)

  def repo(k: Int): String = f"repo${k % NumRepos}%02d"
  def path(k: Int): String = s"src/$keyTag/f$k.txt"
  def key(k: Int): Seq[String] = Seq(repo(k), path(k))

  /** Key index of a skewed event. Hot keys are spread over the key space so
    * they land in different buckets.
    */
  def keyOf(id: Long): Int = {
    val h = mix(id ^ (seed * 0x9e3779b97f4a7c15L))
    if (java.lang.Long.remainderUnsigned(h, 100) < hotPct)
      ((java.lang.Long.remainderUnsigned(mix(h), HotKeys) * 7919L) % numKeys).toInt
    else java.lang.Long.remainderUnsigned(mix(h + 1), numKeys.toLong).toInt
  }

  /** Event `id` on key `k`; `create` forces an insert (preloads). */
  def event(id: Long, k: Int, create: Boolean = false): Ev = {
    val h = mix(id * 31 + seed)
    val lsn = id + 1
    val op =
      if (create) "c"
      else java.lang.Long.remainderUnsigned(h, 100) match {
        case r if r < DeletePct => "d"
        case r if r < 50        => "u"
        case _                  => "c"
      }
    val lang = Langs(java.lang.Long.remainderUnsigned(h >>> 8, Langs.size.toLong).toInt)
    val content =
      if (op == "d") null
      else {
        val body = java.lang.Long.toHexString(mix(h)) + java.lang.Long.toHexString(mix(h + 7))
        val extra = java.lang.Long.remainderUnsigned(h >>> 16, 48).toInt
        s"// rev $lsn " + (body * 4).take(48 + extra)
      }
    // ts_ms counts from the seed's first id: the envelope's ts_ns
    // (ts_ms * 10^6) must fit a long for every seed's id space.
    Ev(repo(k), path(k), f"c$lsn%016d", lang, content, op, (id % NumParts).toInt, lsn,
      1700000000000L + (lsn - idBase))
  }

  def skewed(id: Long): Ev = event(id, keyOf(id))

  /** Skewed events `[from, until)` of this seed's id space, generated
    * executor-side.
    */
  def skewedLog(spark: SparkSession, from: Long, until: Long): Dataset[Ev] = {
    import spark.implicits._
    val g = this
    spark.range(idBase + from, idBase + until, 1L, RangeSlices).map(id => g.skewed(id))
  }

  /** One insert per key, ids `[0, numKeys)`: the preload of a table. */
  def preload(spark: SparkSession): Dataset[Ev] = {
    import spark.implicits._
    val g = this
    spark.range(idBase, idBase + numKeys, 1L, RangeSlices)
      .map(id => g.event(id, (id - g.idBase).toInt, create = true))
  }

  /** Key indices to look up: `present` keys of the key space, a quarter of
    * them hot, and `absent` indices past the key space that no event names.
    */
  def lookupIdx(present: Int, absent: Int): Seq[Int] = {
    val hot = (0 until present / 4).map(j => ((j * 7919L) % numKeys).toInt)
    val cold = (0 until present - hot.size).map(j =>
      java.lang.Long.remainderUnsigned(mix(seed * 131 + j), numKeys.toLong).toInt)
    hot ++ cold ++ (0 until absent).map(numKeys + _)
  }
}

object Gen {
  val NumParts = 32
  /** Partitions the generated inputs are produced in. */
  val RangeSlices = 8
  val NumRepos = 64
  val HotKeys = 100
  val DeletePct = 4
  val Langs: Vector[String] = Vector("en", "de", "fr", "es", "zh")

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** The 5-row `lang` dimension as flat upsert events keyed by `lang`. */
  def langDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Langs.zipWithIndex.map { case (l, i) =>
      (l, s"language-$l", f"c${i + 1}%016d", "c", 0, (i + 1).toLong, 1700000000000L + i)
    }.toDF("lang", "name", "commit", "op", "part", "lsn", "ts_ms")
  }

  /** Debezium envelopes (before/after images, source position) of flat
    * events, in the column layout `CdcPipeline.start` reads.
    */
  def envelopes(events: DataFrame): DataFrame = {
    val row = struct(col("repo"), col("path"), col("commit"), col("lang"), col("content"))
    val nullRow = lit(null).cast("struct<repo:string,path:string,commit:string,lang:string,content:string>")
    events.select(
      when(col("op") === "c" || col("op") === "r", nullRow).otherwise(row).as("before"),
      when(col("op") === "d", nullRow).otherwise(row).as("after"),
      struct(lit("bench").as("version"), lit("perfbench").as("connector"), lit("bench").as("name"),
        col("ts_ms"), lit("false").as("snapshot"), lit("db").as("db"), lit("files").as("table"),
        col("part"), col("lsn")).as("source"),
      col("op"),
      col("ts_ms"),
      (col("ts_ms") * 1000L).as("ts_us"),
      (col("ts_ms") * 1000000L).as("ts_ns"),
      lit(null).cast("struct<id:string,total_order:bigint,data_collection_order:bigint>").as("transaction"))
  }
}
