package graft

import org.apache.spark.sql.SparkSession

/** Cache lifecycle for a resident engine running many registered queries
  * in one session (Bench/Verify loop over all of [[SparkEntry.queries]]).
  *
  * Two distinct pools need clearing between queries:
  *  - the SQL CacheManager (`df.persist()` subtrees — the [[graft.operators.TermStats]]
  *    caller-owned convention), cleared by `catalog.clearCache()`;
  *  - persisted RDDs OUTSIDE the CacheManager — `localCheckpoint` blocks
  *    (BPE merge passes, label-propagation iterations, kmeans lineage
  *    truncation) register only in `SparkContext.persistentRdds`, so
  *    `clearCache()` never frees them and a long-lived session accumulates
  *    storage-memory blocks until the ContextCleaner happens to GC them.
  *
  * `clearAll` drains both — after it, `sc.getPersistentRDDs` is empty
  * (pinned by CacheLifecycleSpec), so a loop over the query registry runs
  * at steady storage memory. It leaves [[graft.sources.Tables]]' schema
  * memo alone: that holds catalog metadata keyed by file listing, no data.
  */
object Caches {
  def clearAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Run `body`, then unpersist exactly the RDDs it added to
    * `sc.getPersistentRDDs` — for one step of a long-running loop whose
    * eager checkpoints must not accumulate across iterations. Assumes no
    * CONCURRENT persist activity in the session while `body` runs (true
    * inside a foreachBatch, which Spark serializes per query).
    */
  private[graft] def releasingAdded[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = false))
  }
}
