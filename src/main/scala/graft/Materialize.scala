package graft

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** The one in-job materialization: every intermediate table a query
  * builds eagerly (loop state, a relation read by several consumers, a
  * result forced under scoped confs) goes through [[apply]] — the
  * engine's stand-in for the reference pipeline writing each dimension
  * before reusing it.
  *
  * One call builds the checkpoint lazily and forces it with one action
  * over the checkpointed RDD (the job an eager `localCheckpoint()` runs):
  * an aggregate that counts the rows and sums their `UnsafeRow` bytes.
  * The returned `LogicalRDD` leaf carries that count and size as its
  * statistics. (The block manager's figure for the same blocks is the
  * deserialized objects' footprint, 3.9× the row bytes for q69's narrow
  * label table, so it is not used.) Without them the leaf would carry
  * the optimizer's estimate of the INPUT plan, which for loop state
  * compounds per round into numbers with hundreds of digits and steers
  * join and runtime-filter choices.
  *
  * A relation the caller will broadcast declares `maxRows`; a larger
  * result fails here, naming the site, the bound and the count. The
  * bound is recorded in the leaf's RDD name, which every copy of the
  * plan shares (`newInstance` keeps the RDD) and the event log shows, so
  * plan checks read it with [[declaredBound]] instead of keeping name
  * lists. State that grows with the corpus declares none.
  *
  * Partitioning: the leaf keeps the executed plan's output partitioning,
  * and under adaptive execution (on by default, and in [[Session]]) that
  * is `UnknownPartitioning(0)` — a `repartition(k)` before this call does
  * NOT spare the next keyed operator its exchange.
  *
  * Blocks live in executor memory like any local checkpoint: an executor
  * lost after the call takes its blocks with it.
  */
object Materialize {
  private val BoundTag = """ maxRows=(\d+)$""".r.unanchored

  def apply(df: DataFrame, site: String, maxRows: Option[Long] = None): DataFrame = {
    val leaf = df.localCheckpoint(eager = false).queryExecution.logical.asInstanceOf[LogicalRDD]
    val (rows, bytes) = leaf.rdd.aggregate((0L, 0L))(
      (a, r) => (a._1 + 1, a._2 + r.asInstanceOf[UnsafeRow].getSizeInBytes),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    for (b <- maxRows if rows > b)
      throw new IllegalStateException(
        s"Materialize[$site]: $rows rows exceed the declared bound of $b rows")
    leaf.rdd.setName(site + maxRows.fold("")(b => s" maxRows=$b"))
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val stats = Statistics(sizeInBytes = bytes, rowCount = Some(BigInt(rows)))
    GraftSqlShim.ofRows(session, leaf.copy()(session, Some(stats), Some(leaf.constraints)))
  }

  /** The row bound a [[Materialize]] leaf was declared with, if any. */
  def declaredBound(leaf: LogicalRDD): Option[Long] =
    Option(leaf.rdd.name).collect { case BoundTag(b) => b.toLong }
}
