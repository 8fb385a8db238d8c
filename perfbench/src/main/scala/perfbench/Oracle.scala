package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The benchmark's own correctness oracle. Independent of the engine: the
  * expected state is a window-function last-writer-wins fold of the
  * generated log, and tables are compared by row count plus an
  * order-independent digest.
  */
object Oracle {

  /** Row count and digest of a relation: the exact sum of a 64-bit hash of
    * each row, so row order and partitioning do not matter but any changed,
    * missing or extra row does.
    */
  final case class Digest(rows: Long, sum: BigDecimal)

  def digest(df: DataFrame, cols: Seq[Column]): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      lit(BigDecimal(0)).cast("decimal(38,0)"))).collect().head
    Digest(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Whether the digest tells a state from the same state with one row's
    * content changed: the check that a wrong row cannot pass unseen.
    */
  def rejectsPlantedRow(state: DataFrame, good: Digest): Boolean = {
    val victim = state.select("path").orderBy("path").head().getString(0)
    val planted = state.withColumn("content",
      when(col("path") === victim, concat(coalesce(col("content"), lit("")), lit(" planted")))
        .otherwise(col("content")))
    digest(planted, stateCols) != good
  }

  /** Digest columns of a base table row: key, commit, lang and the content's
    * sha256.
    */
  val stateCols: Seq[Column] =
    Seq(col("repo"), col("path"), col("commit"), col("lang"), sha2(coalesce(col("content"), lit("")), 256))

  /** Live state of a flat log: the last event of each key by (commit, lsn),
    * with keys whose last event is a delete dropped.
    */
  def lwwState(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("repo"), col("path")).orderBy(col("commit").desc, col("lsn").desc)
    log.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1 && col("op") =!= "d")
      .select("repo", "path", "commit", "lang", "content")
  }

  /** Driver-side fold of one key's events: the live winner, if any. */
  def foldKey(events: Iterable[Ev]): Option[Ev] =
    if (events.isEmpty) None
    else Some(events.maxBy(e => (e.commit, e.lsn))).filter(_.op != "d")

  /** Aggregate-view rows `(repo, n_rows, content_bytes)` expected from a
    * live state.
    */
  def repoView(state: DataFrame): Set[(String, Long, Long)] =
    state.groupBy("repo").agg(count(lit(1)), sum(length(col("content")).cast("long")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** Digest columns of the join view and of the oracle join. */
  val joinCols: Seq[Column] =
    Seq(col("l_repo"), col("l_path"), col("l_lang"), col("l_commit"), col("r_lang"), col("r_name"))

  /** The inner join of a live state with the `lang` dimension, in the join
    * view's column naming.
    */
  def langJoin(state: DataFrame, dim: DataFrame): DataFrame =
    state.select(col("repo").as("l_repo"), col("path").as("l_path"), col("lang").as("l_lang"),
      col("commit").as("l_commit"))
      .join(dim.select(col("lang").as("r_lang"), col("name").as("r_name")), col("l_lang") === col("r_lang"))
}
