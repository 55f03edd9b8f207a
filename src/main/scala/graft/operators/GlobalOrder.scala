package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.storage.StorageLevel

/** Distributed total ordering: global `row_number` without the
  * single-task sort an unpartitioned `Window.orderBy` degenerates to.
  *
  * The classic two-phase shape every engine uses for a scalable ORDER BY
  * + rank (reference: the keyset pagination loop sync_data.go:207-311 is
  * the sequential single-node version of the same total order):
  *   1. `repartitionByRange(sortCols)` + `sortWithinPartitions` — ONE
  *      range shuffle; partition i holds keys strictly below partition
  *      i+1, each sorted internally, so the concatenation is the total
  *      order;
  *   2. a count-per-partition job (returns numPartitions longs — driver
  *      tiny) turned into broadcast prefix offsets;
  *   3. a narrow map adding `offset(i) + local index`.
  *
  * Deterministic as long as `sortCols` is a total order (callers pass a
  * unique tiebreak): range boundary placement from sampling may vary, but
  * offsets shift with the boundaries, so the assigned numbers do not.
  *
  * The sorted frame is persisted (MEMORY_AND_DISK) between the count job
  * and the numbering pass so the range shuffle + sort run once, not twice.
  * Callers streaming into a write can `unpersist()` the input afterwards.
  */
object GlobalOrder {

  /** Persist the input for the sampling + shuffle double-read — UNLESS
    * the caller already persisted it. `persist` on an already-cached
    * frame is a no-op, but the paired `unpersist` DROPS the caller's
    * cache entry and silently forces every later consumer to recompute
    * the frame from scratch (measured on q294: the 5-pass layout sweep
    * re-derived its scan + Morton/Hilbert folds once PER PASS, 5.9 s →
    * 14.8 s at sf0.1). Borrow the caller's cache when one exists;
    * own-and-release only a cache this call created. */
  private def borrowCache(df: DataFrame): (DataFrame, () => Unit) =
    if (df.storageLevel != StorageLevel.NONE) (df, () => ())
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, () => { p.unpersist(blocking = false); () })
    }

  def withRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
                    numPartitions: Int = 0): DataFrame =
    withRowNumberAndTotal(df, sortCols, out, numPartitions)._1

  /** Same, plus the total row count — already known from the per-partition
    * count job, so callers needing `n` (quantile cuts, equal-split bucket
    * math) get it without a `count(*) over ()` single-partition window or
    * a second scan. */
  def withRowNumberAndTotal(df: DataFrame, sortCols: Seq[Column], out: String,
                    numPartitions: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    // RangePartitioner SAMPLES the input to place boundaries — an extra
    // pass over `df` before the shuffle pass. Persist the (caller-narrowed)
    // input so sampling + shuffle read the computed frame once, then drop
    // it as soon as the count job has run the shuffle's map stage.
    val (input, release) = borrowCache(df)
    val sorted = input.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    // ONE RDD instance shared by the count job and the numbering job: the
    // second job skips the completed shuffle map stage and re-reads the
    // shuffle files, so nothing table-sized needs to stay cached (only the
    // reduce-side within-partition sort repeats). No persist → no leaked
    // storage after the call.
    val sortedRdd = sorted.rdd
    val counts = sortedRdd
      .mapPartitionsWithIndex { (i, it) =>
        // count in a Long: Iterator.size returns Int and would wrap
        // negative past 2^31 rows in one range partition — silently
        // corrupting every offset at exactly the scale this exists for
        var c = 0L
        while (it.hasNext) { it.next(); c += 1 }
        Iterator((i, c))
      }
      .collect().sortBy(_._1).map(_._2)
    release()
    val offsets = counts.scanLeft(0L)(_ + _) // offsets(i) = rows before partition i
    val schema = sorted.schema.add(StructField(out, LongType, nullable = false))
    val numbered = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var rn = offsets(i)
      it.map { r => rn += 1; Row.fromSeq(r.toSeq :+ rn) }
    }
    (spark.createDataFrame(numbered, schema), offsets.last)
  }

  /** Distributed DENSE rank over key columns — equal keys share a rank,
    * ranks start at 1 and have no gaps — without the single-task sort an
    * unpartitioned `dense_rank()` window degenerates to. The workhorse of
    * the prefix-doubling suffix sort (X342/q364), where every doubling
    * round re-ranks (rank, rank2) pairs and needs the count of DISTINCT
    * keys back to decide termination.
    *
    * Same two-phase shape as [[withRowNumberAndTotal]], ONE range shuffle:
    *   1. `repartitionByRange(keyCols)` + `sortWithinPartitions` — equal
    *      keys are contiguous, possibly spanning a partition boundary;
    *   2. a per-partition summary job returning (count, firstKey, lastKey,
    *      keyChanges) — numPartitions tuples, driver tiny — merged on the
    *      driver into per-partition starting ranks (a boundary where
    *      lastKey(i) == firstKey(i+1) continues the run instead of
    *      starting a new rank);
    *   3. a narrow map assigning `startRank + local dense index`.
    *
    * Returns the ranked frame and the total number of distinct keys (free
    * from the driver merge). Deterministic regardless of range-boundary
    * placement: equal keys always sort adjacent, and the boundary merge
    * makes the assigned rank independent of WHERE the sampler cut. Null
    * keys sort first and form one rank of their own, like `dense_rank()`
    * over an ascending window. */
  def withDenseRank(df: DataFrame, keyCols: Seq[String], out: String,
                    numPartitions: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val cols = keyCols.map(df.col)
    val (input, release) = borrowCache(df)
    val sorted = input.repartitionByRange(p, cols: _*)
      .sortWithinPartitions(cols: _*)
    val sortedRdd = sorted.rdd // shared: summary job + ranking job reuse the shuffle
    val idxs = keyCols.map(sorted.schema.fieldIndex)
    // all-LONG keys (the prefix-doubling case: every round compares
    // (rank, r2) pairs over the whole suffix frame) take a primitive
    // comparison path — no per-row Seq[Any] allocation, no boxed
    // equality — with the generic path kept for string/mixed keys
    // (q364's radix round). Pure per-task work (guide §1.2 step 2);
    // identical ranks by construction. Null-aware per key: q364's r2
    // comes from lead(), so nullable LONG keys stay on this path.
    val allLong = idxs.forall(sorted.schema.fields(_).dataType == LongType)
    val idxArr = idxs.toArray
    val summaries = (if (allLong) sortedRdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator((i, 0L, null: Seq[Any], null: Seq[Any], 0L))
      else {
        val last = new Array[Long](idxArr.length)
        val lastNull = new Array[Boolean](idxArr.length)
        loadLongKeys(it.next(), idxArr, last, lastNull)
        val fk = boxLongKeys(last, lastNull)
        var changes = 0L
        var cnt = 1L
        while (it.hasNext) {
          cnt += 1
          if (loadLongKeys(it.next(), idxArr, last, lastNull)) changes += 1
        }
        Iterator((i, cnt, fk, boxLongKeys(last, lastNull), changes))
      }
    } else sortedRdd.mapPartitionsWithIndex { (i, it) =>
      if (!it.hasNext) Iterator((i, 0L, null: Seq[Any], null: Seq[Any], 0L))
      else {
        val fk: Seq[Any] = idxs.map(it.next().get)
        var last = fk
        var changes = 0L // key transitions within the partition
        var cnt = 1L
        while (it.hasNext) {
          val k: Seq[Any] = idxs.map(it.next().get)
          cnt += 1
          if (k != last) { changes += 1; last = k }
        }
        Iterator((i, cnt, fk, last, changes))
      }
    }).collect().sortBy(_._1)
    release()
    // rank of the FIRST row of each partition; runningRank = rank of the
    // last row seen so far, runningLast = its key (carried past empties)
    val firstRank = new Array[Long](summaries.length)
    var runningLast: Seq[Any] = null
    var runningRank = 0L
    summaries.foreach { case (i, cnt, fk, lk, changes) =>
      if (cnt == 0L) firstRank(i) = runningRank // partition empty — unused
      else {
        val startsNew = runningLast == null || fk != runningLast
        firstRank(i) = runningRank + (if (startsNew) 1L else 0L)
        runningRank = firstRank(i) + changes
        runningLast = lk
      }
    }
    val totalDistinct = runningRank
    val schema = sorted.schema.add(StructField(out, LongType, nullable = false))
    val ranked = (if (allLong) sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var rank = firstRank(i)
      val prev = new Array[Long](idxArr.length)
      val prevNull = new Array[Boolean](idxArr.length)
      var started = false
      it.map { r =>
        val diff = loadLongKeys(r, idxArr, prev, prevNull)
        if (!started) started = true
        else if (diff) rank += 1
        Row.fromSeq(r.toSeq :+ rank)
      }
    } else sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var rank = firstRank(i)
      var prev: Seq[Any] = null
      var started = false
      it.map { r =>
        val k: Seq[Any] = idxs.map(r.get)
        if (!started) started = true
        else if (k != prev) rank += 1
        prev = k
        Row.fromSeq(r.toSeq :+ rank)
      }
    })
    (spark.createDataFrame(ranked, schema), totalDistinct)
  }

  /** Load row `r`'s LONG keys at `idxs` into (`keys`, `nulls`) and report
    * whether any differs from what they held. A null key is held as
    * (`nulls(j)` = true, 0L), so a null and a 0 never compare equal. */
  private def loadLongKeys(r: Row, idxs: Array[Int], keys: Array[Long],
                           nulls: Array[Boolean]): Boolean = {
    var diff = false
    var j = 0
    while (j < idxs.length) {
      val isNull = r.isNullAt(idxs(j))
      val v = if (isNull) 0L else r.getLong(idxs(j))
      if (isNull != nulls(j) || v != keys(j)) { diff = true; nulls(j) = isNull; keys(j) = v }
      j += 1
    }
    diff
  }

  /** Boundary key for the driver merge: the generic path's Seq[Any] shape,
    * null where the key is null. */
  private def boxLongKeys(keys: Array[Long], nulls: Array[Boolean]): Seq[Any] =
    keys.indices.map(j => if (nulls(j)) null else keys(j))

  /** Distributed inclusive prefix sum over a total order — the running-sum
    * analogue of [[withRowNumberAndTotal]] (cumulative revenue, Pareto
    * cuts, equal-bytes packing). Same two-phase shape: ONE range shuffle,
    * a per-partition sums job (numPartitions longs — driver tiny) turned
    * into broadcast prefix offsets, then a narrow map accumulating within
    * each partition. `valueCol` must be LongType; the grand total comes
    * back for free from the offsets. */
  def withRunningSum(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                     out: String, numPartitions: Int = 0): (DataFrame, Long) = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val (input, release) = borrowCache(df)
    val sorted = input.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val sortedRdd = sorted.rdd // shared: sums job + summing job reuse the shuffle
    val vIdx = sorted.schema.fieldIndex(valueCol)
    // a NULL would auto-unbox to an opaque executor NPE inside getLong —
    // name the offending column instead
    def valueOf(r: Row): Long = {
      if (r.isNullAt(vIdx))
        throw new IllegalArgumentException(
          s"GlobalOrder.withRunningSum: NULL in value column '$valueCol'")
      r.getLong(vIdx)
    }
    val sums = sortedRdd
      .mapPartitionsWithIndex { (i, it) =>
        var acc = 0L
        it.foreach(r => acc += valueOf(r))
        Iterator((i, acc))
      }
      .collect().sortBy(_._1).map(_._2)
    release()
    val offsets = sums.scanLeft(0L)(_ + _) // offsets(i) = sum before partition i
    val schema = sorted.schema.add(StructField(out, LongType, nullable = false))
    val summed = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { r => acc += valueOf(r); Row.fromSeq(r.toSeq :+ acc) }
    }
    (spark.createDataFrame(summed, schema), offsets.last)
  }

  /** Distributed EXCLUSIVE prefix max over a total order — the
    * running-frontier analogue of [[withRunningSum]] (watermark frontier,
    * high-water marks). Each row gets the maximum of `valueCol` over all
    * STRICTLY EARLIER rows in the total order; the first row gets
    * `Long.MinValue` (no frontier yet — callers must treat it as "none",
    * not subtract from it). Same two-phase shape: ONE range shuffle, a
    * per-partition maxima job (numPartitions longs), broadcast prefix
    * maxima, then a narrow map carrying the frontier within each
    * partition. `valueCol` must be LongType and non-null. */
  def withRunningMax(df: DataFrame, sortCols: Seq[Column], valueCol: String,
                     out: String, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val p = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val (input, release) = borrowCache(df)
    val sorted = input.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val sortedRdd = sorted.rdd // shared: maxima job + carry job reuse the shuffle
    val vIdx = sorted.schema.fieldIndex(valueCol)
    def valueOf(r: Row): Long = {
      if (r.isNullAt(vIdx))
        throw new IllegalArgumentException(
          s"GlobalOrder.withRunningMax: NULL in value column '$valueCol'")
      r.getLong(vIdx)
    }
    val maxima = sortedRdd
      .mapPartitionsWithIndex { (i, it) =>
        var acc = Long.MinValue
        it.foreach(r => acc = math.max(acc, valueOf(r)))
        Iterator((i, acc))
      }
      .collect().sortBy(_._1).map(_._2)
    release()
    // offsets(i) = max over all partitions before i (MinValue for the first)
    val offsets = maxima.scanLeft(Long.MinValue)(math.max)
    val schema = sorted.schema.add(StructField(out, LongType, nullable = false))
    val carried = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var acc = offsets(i)
      it.map { r =>
        val prev = acc
        acc = math.max(acc, valueOf(r))
        Row.fromSeq(r.toSeq :+ prev)
      }
    }
    spark.createDataFrame(carried, schema)
  }
}
