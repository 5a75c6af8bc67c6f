package graft

import org.apache.spark.sql.DataFrame

/** Registry of DataFrames persisted INSIDE library operators (the IVF
  * ranked-cell table, the MinHash signature table): an operator cannot
  * know when its lazy result materializes, so it registers the cached
  * handle here and the CALLER releases after materializing — the
  * paired-release story for library composition (r5, verdict #8: these
  * persists previously relied solely on session-level cache clearing).
  *
  * Verify/Bench drain the registry after every query (alongside
  * `spark.catalog.clearCache()`); a library consumer composing
  * operators in one session calls [[releaseAll]] at its own batch
  * boundaries. Releasing only drops cache blocks — every registered
  * frame keeps full lineage, so a late re-materialization recomputes
  * instead of failing (never register localCheckpoint'd frames here).
  */
object InternalCaches {
  private val registered =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val pinnedRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** Register a persisted frame for later release; returns it. */
  private[graft] def register(df: DataFrame): DataFrame = {
    registered.add(df)
    df
  }

  /** Pin a multiply-consumed derivation EAGERLY (r16 verdict #1): an
    * eager localCheckpoint materializes once, truncates lineage, and
    * stores at MEMORY_AND_DISK — so (a) concurrent first consumers can
    * never each recompute the derivation while the lazy cache is still
    * filling (the sim_bm25 cpu_s 12→104 swing on identical code), and
    * (b) memory pressure EVICTS TO DISK instead of dropping blocks and
    * recomputing (persist() bounds nothing once its blocks are gone).
    * The backing RDD is registered so [[releaseAll]] frees the blocks
    * deterministically. Contract difference vs [[register]]: a pinned
    * frame has NO lineage — it must not be consumed after release
    * (Bench/Verify release only after the query fully materializes,
    * and every suite releases after its assertions).
    *
    * CLUSTER FAULT-TOLERANCE (r17 verdict #5): a localCheckpoint's
    * blocks live only on executor-local storage with no lineage — on a
    * real cluster, losing an executor that holds pinned blocks FAILS
    * the consuming job instead of recomputing. That is the right trade
    * for short-lived intermediates on a single box (this bench) and
    * for restartable queries, but a multi-hour 100 TB job pinning a
    * corpus derivation should checkpoint RELIABLY instead: once
    * `SparkContext.setCheckpointDir` names a fault-tolerant location
    * (HDFS/object store), every pin goes through
    * `Dataset.checkpoint(eager = true)` there and survives executor
    * loss. Without a checkpoint dir (every local run, the bench
    * included) pins stay local — the reliable path would only add a
    * write+read through the dir. Reliable checkpoint files are
    * reclaimed by the ContextCleaner
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`) rather than
    * [[releaseAll]]. */
  private[graft] def pinEager(df: DataFrame): DataFrame = {
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else {
      val cp = df.localCheckpoint(true)
      cp.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD => pinnedRdds.add(lr.rdd)
        case _ => () // unexpected shape: blocks still freed by the ContextCleaner
      }
      cp
    }
  }

  /** Unpersist every registered frame (idempotent, safe while lazy
    * results are still unmaterialized — they recompute). Best-effort by
    * design: a frame registered under a SparkContext that has since
    * stopped is skipped — its cache blocks died with the context, and
    * unpersisting through the dead context throws (caught in the full
    * suite run, where a later suite's releaseAll drained frames
    * registered by earlier suites' stopped sessions). */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = registered.poll()
    while (df != null) {
      try {
        if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking)
      } catch {
        case scala.util.control.NonFatal(_) => // cache is gone either way
      }
      df = registered.poll()
    }
    // pinned (localCheckpoint'd) frames: Dataset.unpersist is a no-op on
    // them, so the checkpoint blocks are freed through the backing RDD
    var rdd = pinnedRdds.poll()
    while (rdd != null) {
      try {
        if (!rdd.sparkContext.isStopped) rdd.unpersist(blocking)
      } catch {
        case scala.util.control.NonFatal(_) => // blocks are gone either way
      }
      rdd = pinnedRdds.poll()
    }
  }
}
