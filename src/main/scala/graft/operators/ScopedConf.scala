package graft.operators

import org.apache.spark.sql.SparkSession

/** Scoped `spark.sql.shuffle.partitions` override for the iterative
  * operators (graph loops, SCC, PageRank, components): each loop sizes
  * its per-round shuffles to its OWN working set — `rows / 50k + 1`,
  * clamped to the session default — because a 32-partition shuffle of
  * a 200-row frontier is 31 empty tasks per round, 20+ rounds deep.
  *
  * SINGLE-QUERY ASSUMPTION (documented, deliberate): Spark's runtime
  * SQL conf is SESSION-scoped, so the override is visible to any query
  * that plans on the same `SparkSession` while `body` runs, and the
  * restore races interleaved overrides. Every `SparkEntry.queries`
  * entry runs alone (driver protocol: one query at a time), so this is
  * safe for the gates and the bench. A caller that interleaves
  * concurrent queries on one session should isolate the loop on
  * `spark.newSession()` (shares the SparkContext and catalog, clones
  * the conf) and pass THAT session's frames in — the helper then scopes
  * the override to the clone.
  */
object ScopedConf {
  private val Key = "spark.sql.shuffle.partitions"
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with shuffle partitions set to
    * `clamp(rows / rowsPerPartition + 1, 1, session default)`,
    * restoring the previous value afterwards (also on failure).
    */
  def withShufflePartitionsFor[T](
      spark: SparkSession,
      rows: Long,
      rowsPerPartition: Long = 50000L,
  )(body: => T): T = {
    val prev = spark.conf.get(Key)
    val parts = partitionsFor(spark, rows, rowsPerPartition)
    spark.conf.set(Key, parts.toString)
    try body finally spark.conf.set(Key, prev)
  }

  /** The partition count [[withShufflePartitionsFor]] would set —
    * exposed so a loop can pre-partition its STATIC side (edge table,
    * pointer table) to exactly the count its per-round shuffles will
    * use: [[Lineage.prep]] at this count makes every round's
    * equi-join read that side exchange-free AND sort-free, instead of
    * re-shuffling the full table once per round.
    */
  def partitionsFor(
      spark: SparkSession,
      rows: Long,
      rowsPerPartition: Long = 50000L,
  ): Int =
    math.max(1L, math.min(spark.conf.get(Key).toLong,
      rows / rowsPerPartition + 1L)).toInt

  /** Fixed shuffle-partition override for a scope, restored
    * afterwards (also on failure) — the non-streaming sibling of
    * [[withStreamingGate]] for gates that need a fixed small
    * partition count without a named memory sink.
    */
  def withShufflePartitions[T](
      spark: SparkSession,
      partitions: Int,
  )(body: => T): T = {
    val prev = spark.conf.get(Key)
    spark.conf.set(Key, partitions.toString)
    try body finally spark.conf.set(Key, prev)
  }

  /** The STREAMING-GATE scope every streaming query gate shares,
    * with the restore the hand-rolled sites kept forgetting:
    *
    *   - stops any active query already named `sinkName` and drops
    *     its temp view (a re-run on a warm session must not collide
    *     with the previous run's sink);
    *   - forces `noDataMicroBatches` ON for the scope — append-mode
    *     windowed aggs only finalize in the terminal no-data batch,
    *     and a session with it off would silently gate against an
    *     empty table — and RESTORES it afterwards (the hand-rolled
    *     sites set it and leaked it session-wide);
    *   - sizes shuffle partitions to the query's STATE-KEY
    *     cardinality (stateful operators allocate one state-store
    *     instance per shuffle partition per micro-batch, each with
    *     its own commit — a handful of keys under the session's 32
    *     partitions is mostly empty-store commits), restoring the
    *     session value afterwards;
    *   - optionally pins the RocksDB state-store provider
    *     (`transformWithState` requires it), restoring whatever the
    *     session had.
    *
    * All restores run on failure too. The SINGLE-QUERY ASSUMPTION
    * documented on [[withShufflePartitionsFor]] applies identically.
    */
  def withStreamingGate[T](
      spark: SparkSession,
      sinkName: String,
      partitions: Int = 8,
      rocksDb: Boolean = false,
  )(body: => T): T = {
    spark.streams.active
      .filter(q => Option(q.name).contains(sinkName)).foreach(_.stop())
    spark.catalog.dropTempView(sinkName)
    val prevParts = spark.conf.get(Key)
    val prevNoData = spark.conf.getOption(NoDataKey)
    val prevProvider = spark.conf.getOption(ProviderKey)
    spark.conf.set(Key, partitions.toString)
    spark.conf.set(NoDataKey, "true")
    if (rocksDb) spark.conf.set(ProviderKey, RocksDb)
    try body finally {
      spark.conf.set(Key, prevParts)
      prevNoData match {
        case Some(v) => spark.conf.set(NoDataKey, v)
        case None => spark.conf.unset(NoDataKey)
      }
      if (rocksDb) prevProvider match {
        case Some(p) => spark.conf.set(ProviderKey, p)
        case None => spark.conf.unset(ProviderKey)
      }
    }
  }
}
