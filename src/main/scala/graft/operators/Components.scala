package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Incremental connected components — the registry form of the graph
  * family ([[TextDedup.dupClusters]] is the global twin), completing the
  * incremental/registry pattern spans (q102), substrings (q114), near-dup
  * (q58), DSIR (q117), and cohorts (q116) already follow: an edge BATCH
  * folds into a persisted (node → label) registry without re-running
  * global CC over the accumulated graph. The reference recomputes its
  * graph domain from scratch every sync; this is its follower contract
  * (reference `src/etl.py:132-149`) applied to components.
  *
  * The fold is component CONTRACTION: batch endpoints look up their
  * current labels, each batch edge becomes an edge between component
  * representatives (or fresh nodes), and global CC runs on that
  * contracted graph ONLY — a graph bounded by the batch size, never the
  * corpus. New inter-component edges produce a ≤2·|batch|-row relabel
  * map; the registry applies it via a BROADCAST join (no registry
  * shuffle). Per-batch cost: one batch-keyed registry lookup, one tiny
  * CC, one broadcast-relabel scan of the registry — O(batch + registry
  * scan), vs O(accumulated edges · iterations) for a global re-run.
  *
  * Label invariant (inductive): every component's label is its MINIMUM
  * member node ([[TextDedup.dupClusters]]' representative choice). The
  * contracted graph's nodes are previous labels (each the min of its old
  * component) or fresh node ids, so the contracted min IS the global
  * min — after any fold the registry is bit-identical to global CC over
  * the union of all folded edges (ComponentsSpec pins the chaining
  * equivalence per batch; q120 pins it against the q118 oracle).
  *
  * Replay safety: re-folding an already-folded batch is a no-op — its
  * endpoints are all registered, its contracted edges are self-loops
  * (both sides carry the same label) and drop out, so the relabel map is
  * empty. The streaming twin
  * ([[graft.streaming.Incremental.streamingComponents]]) leans on this
  * for crash/replay idempotence (T6).
  */
object Components {

  /** An empty registry with `node`/`label` typed like `nodeCol`. */
  def emptyRegistry(spark: SparkSession, like: DataFrame,
                    nodeCol: String): DataFrame = {
    val t = like.schema(nodeCol).dataType
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("node", t), StructField("label", t))))
  }

  /** Fold one batch of undirected edges into a (node, label) registry.
    *
    * @param registry       current (node, label) state — every previously
    *                       seen node, labeled by its component's min node
    * @param batch          incoming edges; `a`/`b` name the endpoint cols
    *                       (same type as the registry's node column)
    * @param localThreshold forwarded to [[TextDedup.dupClusters]] for the
    *                       contracted-graph CC (tests use 0 to force the
    *                       iterative path)
    * @return the updated registry — same schema, caller owns persistence
    */
  def updateRegistry(registry: DataFrame, batch: DataFrame, a: String,
                     b: String, localThreshold: Long = 1000000L): DataFrame = {
    val reg = registry.select(col("node"), col("label"))
    // The batch is deduplicated even when the caller's is already
    // distinct: the dedup keeps the contracted-pair count honest for the
    // local-CC threshold AND doubles as AQE compaction of a
    // many-partition tiny batch (q120 measured skipping it 0.6 s SLOWER
    // at sf0.1).
    val e = batch.select(col(a).as("__ea"), col(b).as("__eb"))
      .filter(col("__ea") =!= col("__eb"))
      .distinct()
    // Current label of every batch endpoint (itself when unseen). The
    // lookup is batch-keyed: at scale the registry side is a bucketed
    // table and this is the q114 gram-registry join shape. Checkpointed
    // EAGERLY — it feeds the contracted edges (TWO stages of the same
    // downstream job, the la/lb lookups) and the new-node rows; a lazy
    // checkpoint was measured SLOWER in the q120 A/B (r13): sibling
    // stages read it before the first computation's cache lands, so the
    // batch-bounded frame gets computed two or three times instead of
    // once.
    val lab = e.select(col("__ea").as("n")).unionByName(e.select(col("__eb").as("n")))
      .distinct()
      .join(reg, col("n") === col("node"), "left_outer")
      .select(col("n"), coalesce(col("label"), col("n")).as("lab"),
        col("label").isNull.as("is_new"))
      .localCheckpoint(true)
    // Contract: batch edges between component representatives. Edges
    // internal to one existing component become self-loops and drop out.
    val contracted = e
      .join(lab.select(col("n").as("__ea"), col("lab").as("la")), Seq("__ea"))
      .join(lab.select(col("n").as("__eb"), col("lab").as("lb")), Seq("__eb"))
      .select(col("la"), col("lb")).filter(col("la") =!= col("lb"))
    // Global CC on the contracted graph only — batch-bounded, so the
    // one-task union-find path almost always serves it; the relabel map
    // is (old label → new min label), identity rows dropped.
    val relab = TextDedup.dupClusters(contracted, "la", "lb",
        localThreshold = localThreshold)
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("__old"), col("cluster").as("__new"))
    // Registry update: one broadcast-relabel pass over the existing rows
    // (labels move only when their component merged), plus the batch's
    // genuinely new nodes with their post-merge labels.
    val updatedExisting = reg
      .join(broadcast(relab), col("label") === col("__old"), "left_outer")
      .select(col("node"), coalesce(col("__new"), col("label")).as("label"))
    val newNodes = lab.filter(col("is_new"))
      .join(broadcast(relab), col("lab") === col("__old"), "left_outer")
      .select(col("n").as("node"), coalesce(col("__new"), col("lab")).as("label"))
    updatedExisting.unionByName(newNodes)
  }

  /** One read→fold→commit cycle against a parquet registry path, with
    * OWNED block lifecycle — the streaming-loop form
    * ([[graft.streaming.Incremental.streamingComponents]] calls this
    * per micro-batch). [[updateRegistry]] eagerly checkpoints its
    * endpoint-lookup frame (small, but one per call): a long-running
    * stream folding thousands of batches must not accumulate them, so
    * the blocks the fold added are released once the snapshot commit has
    * materialized ([[graft.Caches.releasingAdded]]). The registry read
    * heals a torn swap first ([[Merge.readRegistry]]).
    */
  def foldIntoParquet(spark: SparkSession, registryPath: String,
                      batch: DataFrame, a: String, b: String): Unit =
    graft.Caches.releasingAdded(spark) {
      val t = batch.schema(a).dataType
      val reg = Merge.readRegistry(spark, registryPath,
        StructField("node", t), StructField("label", t))
      Merge.replaceParquet(spark, registryPath,
        updateRegistry(reg, batch, a, b))
    }

  /** Serve the q118 output shape from a registry: (node, cluster,
    * cluster_size). ONE label-keyed exchange: the size is a whole-
    * partition window count over the label clustering (an aggregate +
    * join-back would re-shuffle the registry a second time for the same
    * key — PlanAudit showed exactly that SMJ + two exchanges). Rows per
    * label are component-bounded, so the window frame is too.
    */
  def components(registry: DataFrame): DataFrame =
    registry.select(col("node"), col("label").as("cluster"),
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("label"))).as("cluster_size"))
}
