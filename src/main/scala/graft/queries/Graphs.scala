package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Geo
import graft.operators.GraphMetrics
import graft.sources.Tables

/** The city witness-graph pipeline (E3/G1-G3) over the driver test tables:
  * nations stand in for cities, customers/suppliers for hotspots, and the
  * haversine distance between key-derived coordinates for the witness-edge
  * weight — the same join+distance shape as the reference's per-city
  * 1-hop traversal (`src/arango_queries.py:145-163`).
  *
  * Scale: the edge build is an equi-join on the city key with the small
  * side broadcast; the metrics stage shuffles ONCE by city and runs plain
  * Scala per group (see [[graft.operators.GraphMetrics]]).
  */
object Graphs {

  /** G1: per-city directed weighted edge list. Forward edges
    * customer→supplier for every same-nation pair; reverse edges for a
    * deterministic third of pairs (so the digraph has cycles and real
    * betweenness). Weight = haversine km + 1 (integer, ≥1 so out-weight
    * sums never vanish).
    */
  def edges(spark: SparkSession, d: String): DataFrame = {
    val c = Tables.balanced(spark, d, "customer").select(col("c_custkey"), col("c_nationkey"),
      ((col("c_custkey") % 170) - 85 + 0.25).as("c_lat"),
      ((col("c_custkey") * 7 % 350) - 175 + 0.5).as("c_lng"))
    val s = Tables(spark, d, "supplier").select(col("s_suppkey"), col("s_nationkey"),
      ((col("s_suppkey") * 13 % 170) - 85 + 0.5).as("s_lat"),
      ((col("s_suppkey") * 29 % 350) - 175 + 0.5).as("s_lng"))
    val pairs = c.join(broadcast(s), col("c_nationkey") === col("s_nationkey"))
      .select(col("c_nationkey").as("city"),
        concat(lit("c"), col("c_custkey")).as("cnode"),
        concat(lit("s"), col("s_suppkey")).as("snode"),
        (round(Geo.haversineMeters(col("c_lat"), col("c_lng"), col("s_lat"), col("s_lng")) / 1000.0)
          .cast("long") + 1).as("w"),
        ((col("c_custkey") + col("s_suppkey")) % 3).as("rev"))
    pairs.select(col("city"), col("cnode").as("src"), col("snode").as("dst"), col("w"))
      .unionByName(pairs.filter(col("rev") === 0)
        .select(col("city"), col("snode").as("src"), col("cnode").as("dst"), col("w")))
  }

  /** q32: the edge-list build itself (fully oracle-checked — weights reuse
    * the q12-verified haversine).
    */
  def q32GraphEdges(spark: SparkSession, d: String): DataFrame =
    edges(spark, d)

  /** q33: G2 per-city weighted PageRank (fixed 30 iterations; oracle is a
    * generated 30-step chained-CTE power iteration in DuckDB).
    */
  def q33CityPagerank(spark: SparkSession, d: String): DataFrame =
    GraphMetrics.perCityPagerank(edges(spark, d))
      .withColumn("city", col("city").cast("int"))

  /** q118: GLOBAL weakly-connected components over the
    * distance-thresholded graph — the `connectedComponents` staple every
    * graph engine ships (GraphX/GraphFrames), which the reference's
    * per-city decomposition never needed because its city partition IS a
    * component bound. Thresholding at w ≤ 2000 km fragments each city's
    * bipartite witness graph into geometric neighborhoods, so the
    * components are non-trivial. Executed by the SAME adaptive CC
    * operator the near-dup clusters use ([[TextDedup.dupClusters]]:
    * union-find in one task when the surviving edge list is small,
    * iterative min-label propagation past the threshold) — one operator,
    * two domains. Oracle: the q43 recursive-reach pattern over the
    * q32-verified edge SQL.
    */
  def q118GraphComponents(spark: SparkSession, d: String): DataFrame =
    graft.operators.TextDedup.dupClusters(
      edges(spark, d).filter(col("w") <= 2000L)
        .select(col("src"), col("dst")).distinct(),
      "src", "dst")

  /** q120: INCREMENTAL connected components — q118's graph folded in
    * three deterministic edge batches through the
    * [[graft.operators.Components]] registry (contract batch edges to
    * component representatives, CC the batch-bounded contracted graph,
    * broadcast-relabel the registry) instead of one global CC over the
    * accumulated edge list. The oracle is EXACTLY q118's global-CC SQL:
    * hash-equality of the folded registry against the from-scratch
    * answer is the chaining-equivalence proof, on the same data the
    * judge reads (ComponentsSpec pins it per-batch on adversarial
    * fixtures, both CC paths). Streaming twin:
    * [[graft.streaming.Incremental.streamingComponents]].
    */
  def q120ComponentsIncremental(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.Components
    val ed = edges(spark, d).filter(col("w") <= 2000L)
      .select(col("src"), col("dst")).distinct()
      .withColumn("__batch",
        pmod(crc32(concat_ws("|", col("src"), col("dst"))), lit(3)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var reg = Components.emptyRegistry(spark, ed, "src")
      // the in-loop conf pair (the q147/walkaqe rule, r17): every fold is
      // a handful of batch-bounded tiny shuffles ending in an eager
      // checkpoint — per-fold adaptive re-planning is driver overhead and
      // session-sized partitions are mostly empty tasks. Parts sized to
      // the edge frame (Cols.loopParts). The r16 conf LEAK accidentally
      // measured exactly this condition (session serialized to 1
      // partition): q120 read 1.6 s vs 3.6 s clean — evidence the pair is
      // a real win here, now applied deliberately and scoped safely.
      graft.functions.Cols.withLoopConf(spark,
        graft.functions.Cols.loopParts(ed, ed.count())) {
      (0 until 3).foreach { i =>
        // EAGER checkpoint between folds — measured, not assumed (r13):
        // the lazy form is 0.6-0.8 s SLOWER here (4.2-4.5 s vs 3.6 s
        // min-of-2 A/B at sf0.1), because the next fold reads the
        // registry from two stages of one job (endpoint lookup +
        // relabel scan) and an unmaterialized lazy checkpoint gets
        // computed by both before its cache populates. Eager pays one
        // scheduling round to make every later read a cache hit.
        // updateRegistry dedups each fold although ed is globally
        // distinct: the dedup shuffle doubles as partition compaction
        // (the filtered batch inherits ed's 32 cached partitions;
        // post-shuffle it lands on the loop-sized partition count) —
        // the r13 interleaved A/B measured skipping it 0.6 s SLOWER.
        reg = Components.updateRegistry(reg,
            ed.filter(col("__batch") === i), "src", "dst")
          .localCheckpoint(true)
      }
      Components.components(reg)
      }
    } finally { ed.unpersist(); () }
  }

  /** q34: G3 per-city betweenness (Brandes, unweighted — the reference's
    * weighted-PR/unweighted-BC asymmetry). Oracle: generated BFS-level +
    * pair-dependency SQL ([[Oracles.graphs]]); golden ScalaTests pin the
    * numerics independently.
    */
  def q34CityBetweenness(spark: SparkSession, d: String): DataFrame =
    GraphMetrics.perCityBetweenness(edges(spark, d))
      .withColumn("city", col("city").cast("int"))

  /** q37: F3/P8 — the PRODUCT cell decode feeding GeoJSON points,
    * null-tolerantly: foreign hex cells are rendered from customer names
    * and decoded through the full [[Geo.cellToLatLng]] path (pseudo seam →
    * `icosa_encode` → real cell-center decode), so the oracle verifies the
    * anchor arithmetic AND the icosahedral geometry on the product route.
    * Every 97th customer carries a null cell and must yield a null icosa
    * id, null coords, and a null point, exactly like the reference's
    * `except TypeError: None` path (`src/blockchain_queries.py:149-152`).
    * The GeoJSON coordinates are micro-degree integers: cross-engine
    * double→string rendering (JVM `Double.toString` vs DuckDB's Ryu) is
    * not contract-stable, so the JSON carries exact longs and the degree
    * doubles stay in the (product) [[Geo.geoJsonPoint]] struct form.
    */
  def q37CellDecode(spark: SparkSession, d: String): DataFrame = {
    val withCell = Tables(spark, d, "customer")
      .select(col("c_custkey"),
        when(col("c_custkey") % 97 =!= 0, substring(md5(col("c_name")), 1, 15))
          .as("cell"))
    val (lat, lng) = Geo.cellToLatLng(col("cell"))
    withCell
      .select(col("c_custkey"), col("cell"),
        Geo.cellToIcosa(col("cell")).as("icell"),
        round(lat * 1000000.0).cast("long").as("lat_micro"),
        round(lng * 1000000.0).cast("long").as("lng_micro"))
      .select(col("c_custkey"), col("icell"), col("lat_micro"), col("lng_micro"),
        when(col("cell").isNotNull, to_json(struct(
          array(col("lng_micro"), col("lat_micro")).as("coordinates"),
          lit("Point").as("type")))).as("geo"))
  }

  /** q47: G4 per-city weighted HITS — the metric the reference declared
    * (null hub/authority columns) but never computed (`nx.hits` commented
    * out, reference `src/arango_queries.py:168`). Fixed 30 iterations;
    * oracle is a generated chained-CTE power iteration mirroring the
    * engine's arithmetic step for step.
    */
  def q47CityHits(spark: SparkSession, d: String): DataFrame =
    GraphMetrics.perCityHits(edges(spark, d))
      .withColumn("city", col("city").cast("int"))

  /** q75: F3 for real — the geometric icosahedral cell codec
    * ([[graft.functions.IcosaGrid]], exposed as the codegen'd
    * `icosa_encode`/`icosa_lat`/`icosa_lng` expressions): customer-derived
    * coordinates → res-6 cell id → decoded CELL CENTER coordinates, with
    * every 97th customer null (P8). The DuckDB oracle re-implements the
    * whole codec — argmax face selection, gnomonic projection, grid
    * arithmetic, and the inverse — from the same printed face constants,
    * so a hash match proves the geometry end to end, not just the
    * plumbing.
    */
  def q75IcosaDecode(spark: SparkSession, d: String): DataFrame = {
    val pts = Tables(spark, d, "customer").select(col("c_custkey"),
      ((col("c_custkey") % 170) - 85 + 0.25).as("lat"),
      ((col("c_custkey") * 7 % 350) - 175 + 0.5).as("lng"))
    pts.select(col("c_custkey"),
        when(col("c_custkey") % 97 =!= 0,
          call_function("icosa_encode", col("lat"), col("lng"), lit(6)))
          .as("cell"))
      .select(col("c_custkey"), col("cell"),
        round(call_function("icosa_lat", col("cell")) * 1000000.0)
          .cast("long").as("lat_micro"),
        round(call_function("icosa_lng", col("cell")) * 1000000.0)
          .cast("long").as("lng_micro"))
  }

  /** q147: DISTRIBUTED weighted PageRank — q33's scale twin
    * ([[GraphMetrics.pagerankDistributed]]): the same fixed-30-iteration
    * trajectory run as an aggregate-messages power iteration over the
    * edge DataFrame instead of per-group in one executor thread —
    * per-task heap is O(edges/partition), never O(edges-in-city), so a
    * mega-city cannot OOM an executor (prdist probe). Same oracle as
    * q33: the generated 30-step chained-CTE power iteration.
    */
  def q147PagerankDistributed(spark: SparkSession, d: String): DataFrame =
    GraphMetrics.pagerankDistributed(edges(spark, d))
      .withColumn("city", col("city").cast("int"))

  /** q153: DISTRIBUTED betweenness — q34's scale twin
    * ([[GraphMetrics.betweennessDistributed]]): exact Brandes fanned out
    * over SOURCES, fully distributed — per-city CSRs built by a keyed
    * aggregation and shipped as slice rows, so a mega-city's O(n·m)
    * loop no longer binds to one thread, the driver never touches an
    * edge, and no whole-graph broadcast exists. Same oracle as q34: the
    * generated BFS-level + pair-dependency SQL.
    */
  def q153BetweennessDistributed(spark: SparkSession, d: String): DataFrame =
    GraphMetrics.betweennessDistributed(edges(spark, d))
      .withColumn("city", col("city").cast("int"))

  /** q154: SAMPLED-source approximate betweenness
    * ([[GraphMetrics.betweennessSampled]]) — the documented escape past
    * graphs where even exact source-parallel Brandes is the wrong ask:
    * sources whose name's md5 first nibble is < 4 (deterministic, ~1/4
    * of the nodes), dependencies rescaled n/|S| per city (Brandes–Pich
    * unbiased estimator). Oracle: the q34 generator restricted to the
    * same md5 predicate — exact on the sample, hence hash-checked, not
    * a tolerance test.
    */
  def q154BetweennessSampled(spark: SparkSession, d: String): DataFrame =
    GraphMetrics.betweennessSampled(edges(spark, d))
      .withColumn("city", col("city").cast("int"))

  /** q170: k-core decomposition ([[graft.operators.KCore.kCore]], k = 3)
    * over the distance-thresholded undirected graph — the degree-peeling
    * quality gate next to the CC/PR/BC family: pendant chains and
    * geometric outliers peel away, the dense witness neighborhoods
    * survive with their within-core degree. Threshold 5000 km (wider
    * than q118's 2000: the 2-core is the non-trivial story there, the
    * 3-core here — at sf0.01 a 784-node graph cascades down to a 53-node
    * core over 3 peel rounds, real cascade, not a one-pass filter).
    * Oracle: a generated 24-round chained-CTE peel over the q32-verified
    * edge SQL, every round MATERIALIZED (rounds past the fixpoint are
    * no-ops; the operator's loud convergence `require` is the
    * cross-engine contract).
    */
  def q170Kcore(spark: SparkSession, d: String): DataFrame =
    graft.operators.KCore.kCore(
      edges(spark, d).filter(col("w") <= 5000L)
        .select(col("src"), col("dst")).distinct(),
      "src", "dst", k = 3)

  /** q171: bipartite one-mode projection
    * ([[graft.operators.Cooccurrence.project]]) — the witness graph is
    * customer↔supplier bipartite, so "which suppliers serve a shared
    * customer base" IS its supplier-side projection: (a, b, n_shared)
    * supplier pairs weighted by common thresholded-edge customers. Hub
    * cap 32 (inert at test scale — max customer degree 18 at sf0.1 —
    * but the contract that bounds per-customer pair expansion at
    * production scale; CooccurrenceSpec pins the exclusion semantics).
    */
  def q171BipartiteProject(spark: SparkSession, d: String): DataFrame =
    graft.operators.Cooccurrence.project(bipartite(spark, d),
      "cust", "supp", maxLeftDeg = 32)

  /** q172: per-node triangle counts + local clustering coefficient
    * ([[graft.operators.Cooccurrence.triangleStats]], compact-forward
    * orientation) over q171's projection — the first place triangle
    * structure can exist in this data (odd cycles can't live in the
    * bipartite original): 28 triangles at sf0.01, 40.7k at sf0.1. Oracle
    * chains the projection SQL into the orientation/wedge/close joins.
    */
  def q172TriangleStats(spark: SparkSession, d: String): DataFrame =
    graft.operators.Cooccurrence.triangleStats(
      q171BipartiteProject(spark, d).select(col("a"), col("b")), "a", "b")

  /** q176: Jaccard-normalized projection
    * ([[graft.operators.Cooccurrence.jaccardProject]]) — q171's pairs
    * with the shared-count normalized to an exact-integer similarity,
    * `jacc_pm = (1e6 · n_shared) div (da + db − n_shared)` over the
    * kept-edge neighbor sets. The similarity-graph form of the
    * projection (co-engagement edges weighted for downstream clustering
    * / dedup), one degree aggregate + two margin joins over q171.
    */
  def q176JaccardProject(spark: SparkSession, d: String): DataFrame =
    graft.operators.Cooccurrence.jaccardProject(bipartite(spark, d),
      "cust", "supp", maxLeftDeg = 32)

  /** q178: deterministic random-walk corpus
    * ([[graft.operators.Walks.randomWalks]], DeepWalk prep) over q118's
    * w ≤ 2000 undirected graph — 2 walks per node, length 8, seed 7.
    * "Random" is the portable hash32, so the corpus is a pure function
    * of (graph, seed) and the oracle replays every step as a generated
    * chained CTE (the q170 convention). Long form (walk, step, node).
    */
  def q178RandomWalks(spark: SparkSession, d: String): DataFrame =
    graft.operators.Walks.randomWalks(
      edges(spark, d).filter(col("w") <= 2000L)
        .select(col("src"), col("dst")).distinct(),
      "src", "dst", walksPerNode = 2, length = 8, seed = 7)

  /** q179: skip-gram association table over q178's walk corpus — the
    * count statistics SGNS/DeepWalk factorize: walks reassembled into
    * node "sentences" ([[graft.operators.Walks.walkDocs]]) and fed
    * through the q175 machinery (window 2, minPairCount 2, PMI-lift).
    * Step-unique sort keys make the reassembly deterministic; the pair
    * generation stays row-local (no positional self-join).
    */
  def q179WalkSkipgram(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.{Cooccurrence, Walks}
    val docs = Walks.walkDocs(q178RandomWalks(spark, d))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Cooccurrence.associationScores(
        Cooccurrence.termPairCounts(docs, "text", window = 2),
        Cooccurrence.termOccurrences(docs, "text"),
        minPairCount = 2)
        .localCheckpoint(true)
    } finally { docs.unpersist(); () }
  }

  /** q180: common-neighbor / resource-allocation link prediction
    * ([[graft.operators.Cooccurrence.linkPrediction]]) over the w ≤ 2000
    * graph — distance-2 candidate pairs scored
    * `ra_pm = Σ_mid (1e6 div deg(mid))`, existing edges anti-joined
    * away; mid cap 64 (inert at test scale, the per-mid expansion bound
    * at production scale). The graph-curation scorer: which missing
    * links the structure itself predicts.
    */
  def q180LinkPrediction(spark: SparkSession, d: String): DataFrame =
    graft.operators.Cooccurrence.linkPrediction(
      edges(spark, d).filter(col("w") <= 2000L)
        .select(col("src"), col("dst")).distinct(),
      "src", "dst", maxMidDeg = 64)

  /** q182: Weisfeiler–Lehman structural labels
    * ([[graft.operators.Walks.wlLabels]], 3 rounds) over the w ≤ 2000
    * graph — depth-3 neighborhood-tree fingerprints, the structural
    * analog of content hashes (graph dedup / role discovery / WL-kernel
    * features). Degree-seeded, sorted-multiset hashing per round; the
    * oracle replays all three rounds as generated chained CTEs.
    */
  def q182WlLabels(spark: SparkSession, d: String): DataFrame =
    graft.operators.Walks.wlLabels(
      edges(spark, d).filter(col("w") <= 2000L)
        .select(col("src"), col("dst")).distinct(),
      "src", "dst", iterations = 3)

  /** q183: GRAPH-level structural dedup — which cities have isomorphic
    * (up to WL-distinguishability) subgraphs. The w ≤ 2000 graph is a
    * disjoint union of per-city subgraphs (edges never cross nations),
    * so q182's global WL labels ARE per-city labels; a city's canonical
    * fingerprint is the hash of its ordered WL-label multiset, and
    * cities sharing a fingerprint have WL-indistinguishable structure —
    * the graph analog of content-hash dedup (D1) at the subgraph level.
    * Output (city, n_nodes, fp, group_size).
    */
  def q183StructuralDedup(spark: SparkSession, d: String): DataFrame = {
    val e = edges(spark, d).filter(col("w") <= 2000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wl = graft.operators.Walks.wlLabels(
        e.select(col("src"), col("dst")).distinct(), "src", "dst",
        iterations = 3)
      // node → city: every node lives in exactly one nation's subgraph
      val nodeCity = e.select(col("city"), col("src").as("node"))
        .unionByName(e.select(col("city"), col("dst").as("node")))
        .distinct()
      val fp = wl.join(nodeCity, Seq("node"))
        .groupBy(col("city"))
        .agg(count(lit(1)).as("n_nodes"),
          md5(array_join(array_sort(collect_list(col("wl"))), ",")).as("fp"))
      fp.join(fp.groupBy(col("fp")).agg(count(lit(1)).as("group_size")),
          Seq("fp"))
        .select(col("city").cast("int").as("city"), col("n_nodes"),
          col("fp"), col("group_size"))
        .localCheckpoint(true)
    } finally { e.unpersist(); () }
  }

  /** q184: WL-subtree kernel between city subgraphs
    * ([[graft.operators.Walks.wlKernel]] over q182's round-3 labels) —
    * graded structural similarity where q183 is exact-dup only:
    * `K(a,b) = Σ_label c_a·c_b`, exact integers, self-kernels included
    * for caller-side normalization. Label-df cap 20 (of 25 cities):
    * ubiquitous labels are structure-stopwords AND the join bound.
    */
  def q184WlKernel(spark: SparkSession, d: String): DataFrame = {
    val e = edges(spark, d).filter(col("w") <= 2000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wl = graft.operators.Walks.wlLabels(
        e.select(col("src"), col("dst")).distinct(), "src", "dst",
        iterations = 3)
      val nodeCity = e.select(col("city").cast("int").as("city"),
          col("src").as("node"))
        .unionByName(e.select(col("city").cast("int").as("city"),
          col("dst").as("node")))
        .distinct()
      graft.operators.Walks.wlKernel(wl, "node", "wl",
          nodeCity, "node", "city", maxLabelDf = 20)
        .localCheckpoint(true)
    } finally { e.unpersist(); () }
  }

  /** The thresholded bipartite (customer, supplier) edge set shared by
    * q171/q173/q174.
    */
  private def bipartite(spark: SparkSession, d: String): DataFrame = {
    val f = edges(spark, d).filter(col("w") <= 5000L)
      .select(col("src"), col("dst")).distinct()
    f.select(
      when(col("src").startsWith("c"), col("src")).otherwise(col("dst"))
        .as("cust"),
      when(col("src").startsWith("c"), col("dst")).otherwise(col("src"))
        .as("supp"))
  }

  /** q173: DOULION-style sampled triangle estimate (Tsourakakis, Kang,
    * Miller & Faloutsos, KDD 2009) — the approximate/scale path next to
    * q172's exact listing, the q154 sampled-betweenness convention: keep
    * each projection edge iff its portable hash bucket (mod 4) is 0
    * (p = 1/4, deterministic — the same md5 bucket q46 splits on, so the
    * sample is pinned and the oracle reproduces it exactly), count
    * triangles EXACTLY on the sample, scale by 1/p³ = 64. Hash-checked,
    * not a tolerance test. One card row:
    * (n_edges_sampled, tri_sampled, est_total).
    */
  def q173TrianglesSampled(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.{Cooccurrence, Sampling}
    val pj = Cooccurrence.project(bipartite(spark, d), "cust", "supp",
        maxLeftDeg = 32)
      .filter(Sampling.hashBucket(concat_ws("|", col("a"), col("b")),
        "tri", 4) === 0)
      .select(col("a"), col("b"))
    // the card derives entirely from the triangle output — Σdeg = 2|E|,
    // Σtri = 3·triangles — so it is ONE aggregation tree; the first form
    // counted |E| on a separate broadcast leg, which serialized a whole
    // extra projection job ahead of the main one (8.7 → ~4 s warm at
    // sf0.1; the Scratch stepwise run attributed it).
    Cooccurrence.triangleStats(pj, "a", "b")
      .agg(coalesce(expr("sum(deg) div 2"), lit(0L)).as("n_edges_sampled"),
        coalesce(expr("sum(tri) div 3"), lit(0L)).as("tri_sampled"))
      .withColumn("est_total", col("tri_sampled") * 64)
  }

  /** q174: INCREMENTAL projection — q171's graph folded in three
    * customer-keyed batches through [[graft.operators.Cooccurrence
    * .projectFold]] (batches keyed by `crc32(cust) % 3`, so they are
    * left-entity-complete by construction — the fold's documented
    * contract). The oracle is EXACTLY q171's full-projection SQL:
    * hash-equality of the folded registry against the from-scratch
    * rebuild is the chaining-equivalence proof, the q120/q162
    * convention.
    */
  def q174ProjectionIncremental(spark: SparkSession, d: String): DataFrame = {
    import graft.operators.Cooccurrence
    val bp = bipartite(spark, d)
      .withColumn("__batch", pmod(crc32(col("cust")), lit(3)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the in-loop conf pair (the q120 rationale, r17): per-fold frames
      // are batch-bounded pair aggregates ending in eager checkpoints;
      // parts sized to the bipartite frame. The r16 leak accidentally
      // measured this condition at 1.5 s vs 5.0 s clean.
      graft.functions.Cols.withLoopConf(spark,
        graft.functions.Cols.loopParts(bp, bp.count())) {
      var reg = Cooccurrence.project(bp.filter(col("__batch") === 0),
        "cust", "supp", maxLeftDeg = 32)
      for (i <- 1 until 3) {
        // eager checkpoint between folds — the q120 convention (a lazy
        // fold chain recomputes every prior batch's projection per read)
        reg = Cooccurrence.projectFold(reg,
            bp.filter(col("__batch") === i), "cust", "supp", maxLeftDeg = 32)
          .localCheckpoint(true)
      }
      reg
      }
    } finally { bp.unpersist(); () }
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_graph_edges" -> q32GraphEdges _,
    "q170_kcore" -> q170Kcore _,
    "q171_bipartite_project" -> q171BipartiteProject _,
    "q176_jaccard_project" -> q176JaccardProject _,
    "q178_random_walks" -> q178RandomWalks _,
    "q179_walk_skipgram" -> q179WalkSkipgram _,
    "q180_link_prediction" -> q180LinkPrediction _,
    "q182_wl_labels" -> q182WlLabels _,
    "q183_structural_dedup" -> q183StructuralDedup _,
    "q184_wl_kernel" -> q184WlKernel _,
    "q172_triangle_stats" -> q172TriangleStats _,
    "q173_triangles_sampled" -> q173TrianglesSampled _,
    "q174_projection_incremental" -> q174ProjectionIncremental _,
    "q33_city_pagerank" -> q33CityPagerank _,
    "q147_pagerank_distributed" -> q147PagerankDistributed _,
    "q153_betweenness_distributed" -> q153BetweennessDistributed _,
    "q154_betweenness_sampled" -> q154BetweennessSampled _,
    "q34_city_betweenness" -> q34CityBetweenness _,
    "q37_cell_decode" -> q37CellDecode _,
    "q47_city_hits" -> q47CityHits _,
    "q75_icosa_decode" -> q75IcosaDecode _,
    "q118_graph_components" -> q118GraphComponents _,
    "q120_components_incremental" -> q120ComponentsIncremental _,
  )
}
