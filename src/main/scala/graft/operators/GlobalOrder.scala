package graft.operators

import org.apache.spark.sql.{Column, DataFrame, InternalFrames}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, JoinedRow, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** Distributed total ordering: global row number, dense rank and running
  * sum/max without the single-task sort an unpartitioned `Window.orderBy`
  * degenerates to (reference: the keyset pagination loop
  * sync_data.go:207-311 is the sequential single-node form of the same
  * total order). Every function is one two-phase [[scan]]:
  *   1. `repartitionByRange` + `sortWithinPartitions` — ONE range shuffle;
  *      partition i holds keys strictly below partition i+1, so the
  *      concatenation of the sorted partitions is the total order;
  *   2. a job returning one small summary per partition (count, sum, max
  *      or boundary keys), folded on the driver into each partition's
  *      starting state and the total;
  *   3. a narrow pass appending one LONG column from a stateful per-row
  *      labeller seeded with that state.
  * Both jobs read the sorted `InternalRow`s of one RDD, so the second
  * reuses the shuffle and rows never leave Catalyst's format. Results do
  * not depend on where the range sampler cuts (callers pass a unique
  * tiebreak; dense rank needs none). The result is a `LogicalRDD` leaf.
  */
object GlobalOrder {

  /** Persist the input for the sampling + shuffle double-read — UNLESS the
    * caller already did: the paired `unpersist` would DROP the caller's cache
    * and every later consumer would recompute it (q294: 5.9 s → 14.8 s). */
  private def borrowCache(df: DataFrame): (DataFrame, () => Unit) =
    if (df.storageLevel != StorageLevel.NONE) (df, () => ())
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, () => { p.unpersist(blocking = false); () })
    }

  /** `summarize` reduces one sorted partition; `starts` folds the summaries
    * (in partition order) into n+1 values — the state before partition i,
    * then the total; `label(start)` is partition i's per-row labeller. */
  private def scan[S: ClassTag](df: DataFrame, sortCols: Seq[Column], out: String)(
      summarize: Iterator[InternalRow] => S)(starts: Array[S] => Array[Long])(
      label: Long => InternalRow => Long): (DataFrame, Long) = {
    val spark = df.sparkSession
    val (input, release) = borrowCache(df)
    val qe = input
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*).queryExecution
    // planned under an execution id, as `Dataset.rdd` is: the sampling and
    // shuffle-stage jobs then carry this call site and SQL listeners see them
    val rows = SQLExecution.withNewExecutionId(qe, Some("toRdd"))(qe.toRdd)
    // after the summary job only the shuffle output is read
    val state = try starts(rows.mapPartitions(it => Iterator(summarize(it))).collect())
                finally release()
    val schema = df.schema.add(out, LongType, nullable = false)
    val labelled = rows.mapPartitionsWithIndex[InternalRow] { (i, it) =>
      val next = label(state(i))
      val v = new SpecificInternalRow(Seq(LongType))
      val joined = new JoinedRow
      val append = UnsafeProjection.create(schema)
      it.map { r => v.setLong(0, next(r)); append(joined(r, v)) }
    }
    (InternalFrames.fromRdd(spark, labelled, schema), state.last)
  }

  /** A non-null LONG column's reader: `getLong` reads NULL as 0, so a NULL
    * fails naming the column. */
  private def longValue(df: DataFrame, col: String, fn: String): InternalRow => Long = {
    val i = df.schema.fieldIndex(col)
    r => if (r.isNullAt(i)) throw new IllegalArgumentException(
      s"GlobalOrder.$fn: NULL in value column '$col'") else r.getLong(i)
  }

  /** Key runs over sorted rows: `next(r)` is true when r starts a new key
    * (its key differs from the previous row's, or it is the first row). */
  private final class KeyRuns(keys: Seq[Expression], ord: Ordering[InternalRow]) {
    private val key = UnsafeProjection.create(keys)
    var first, last: UnsafeRow = null
    def next(r: InternalRow): Boolean = {
      val k = key(r)
      val isNew = last == null || ord.compare(last, k) != 0
      if (isNew) { last = k.copy(); if (first == null) first = last }
      isNew
    }
  }

  def withRowNumber(df: DataFrame, sortCols: Seq[Column], out: String): DataFrame =
    withRowNumberAndTotal(df, sortCols, out)._1

  /** 1-based row numbers plus the row count, which callers needing `n`
    * (quantile cuts, equal-split buckets) get without a `count(*) over ()`
    * window or a second scan. */
  def withRowNumberAndTotal(df: DataFrame, sortCols: Seq[Column],
                            out: String): (DataFrame, Long) =
    scan(df, sortCols, out)(_.foldLeft(0L)((c, _) => c + 1))(_.scanLeft(0L)(_ + _)) {
      start => var rn = start; _ => { rn += 1; rn }
    }

  /** DENSE rank over key columns (equal keys share a rank; ranks start at
    * 1 with no gaps) plus the number of distinct keys — the prefix-doubling
    * suffix sort (X342/q364) re-ranks (rank, rank2) pairs every round and
    * stops on that count. A partition's summary is (first key, last key,
    * key runs); a partition whose first key equals the previous non-empty
    * partition's last key continues its rank. Keys compare with Spark's
    * ordering, so ties are `dense_rank()`'s for every type: NULLs first as
    * one rank, NaN equal to NaN, -0.0 equal to 0.0. */
  def withDenseRank(df: DataFrame, keyCols: Seq[String], out: String): (DataFrame, Long) = {
    val fields = keyCols.map(df.schema(_))
    val keys = fields.map(f => BoundReference(df.schema.fieldIndex(f.name), f.dataType, f.nullable))
    val ord = LazilyGeneratedOrdering.forSchema(StructType(fields))
    scan(df, keyCols.map(df.col), out) { it =>
      val runs = new KeyRuns(keys, ord)
      val n = it.foldLeft(0L)((n, r) => if (runs.next(r)) n + 1 else n)
      (runs.first, runs.last, n)
    } { summaries =>
      var rank = 0L
      var last: UnsafeRow = null
      summaries.map { case (first, lk, n) =>
        val start = if (first != null && last != null && ord.compare(last, first) == 0)
                      rank - 1 else rank
        if (first != null) { rank = start + n; last = lk }
        start
      } :+ rank
    } { start =>
      val runs = new KeyRuns(keys, ord)
      var rank = start
      r => { if (runs.next(r)) rank += 1; rank }
    }
  }

  /** Inclusive prefix sum of a non-null LONG `valueCol` over a total order
    * (cumulative revenue, Pareto cuts, equal-bytes packing), plus the
    * grand total. */
  def withRunningSum(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                     out: String): (DataFrame, Long) = {
    val value = longValue(df, valueCol, "withRunningSum")
    scan(df, sortCols, out)(_.foldLeft(0L)((a, r) => a + value(r)))(_.scanLeft(0L)(_ + _)) {
      start => var acc = start; r => { acc += value(r); acc }
    }
  }

  /** EXCLUSIVE prefix max of a non-null LONG `valueCol` over a total order
    * (watermark frontier, high-water marks): each row gets the max over
    * STRICTLY EARLIER rows; the first row gets `Long.MinValue` (no frontier
    * yet — callers must treat it as "none", not subtract from it). */
  def withRunningMax(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                     out: String): DataFrame = {
    val value = longValue(df, valueCol, "withRunningMax")
    scan(df, sortCols, out)(_.foldLeft(Long.MinValue)((a, r) => math.max(a, value(r))))(
      _.scanLeft(Long.MinValue)(math.max)) {
      start => var acc = start; r => { val prev = acc; acc = math.max(acc, value(r)); prev }
    }._1
  }
}
