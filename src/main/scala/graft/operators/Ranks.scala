package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cols, Text}

/** Scale-safe exact ranking and deterministic corpus ordering.
  *
  * The naive form of "shuffle a corpus deterministically" is
  * `row_number() OVER (PARTITION BY source ORDER BY hash(id))` — which
  * plans every source's rows into ONE window partition: a handful of
  * sources over a huge corpus means a handful of tasks each sorting its
  * whole source (and the global training order — no PARTITION BY at all —
  * is a single task). Rank is the one common operator where the
  * declarative plan does NOT decompose by itself, so this file does the
  * distributed-sort-rank decomposition explicitly:
  *
  *   1. bucket each row by the HIGH bits of its own order key, so buckets
  *      are order-aligned (every key in bucket b sorts before every key
  *      in bucket b+1 within its group);
  *   2. rank inside (group, bucket) — the only window, max partition =
  *      group size / nBuckets;
  *   3. add back cross-bucket offsets from a tiny (group, bucket) count
  *      aggregate, prefix-summed and broadcast-joined onto the data.
  *
  * Same order, same tiebreak, same result as the naive window — pinned by
  * RanksSpec property tests — but partition size is a knob (`nBuckets`)
  * instead of a function of the group cardinality.
  *
  * [[interleave]] builds on it: the weighted source-mixing order every
  * pretraining data loader needs ("each prefix of the corpus holds the
  * source mix") with the GLOBAL position computed in closed form from the
  * per-source counts — no global window, no single-partition exchange
  * anywhere in the job.
  */
object Ranks {

  private val HashRange = 4294967296L // baseHash32 values live in [0, 2^32)

  /** Deterministic per-group shuffle rank (1-based): rows of each `group`
    * ranked by the salted portable hash of `id` (ties by `id` — total
    * order for unique ids). Equivalent to
    * `row_number() OVER (PARTITION BY group ORDER BY hash, id)` with the
    * partition-size problem removed as described above. `groups` may be
    * empty: a global deterministic shuffle (the naive twin would be a
    * SINGLE task sorting the corpus).
    */
  def shuffleRank(df: DataFrame, groups: Seq[String], id: String,
                  salt: String, nBuckets: Int = 64,
                  out: String = "rn"): DataFrame = {
    require(nBuckets >= 2 && (nBuckets & (nBuckets - 1)) == 0,
      s"nBuckets must be a power of two >= 2, got $nBuckets")
    val k = Cols.freeName(df, "__key")
    val b = Cols.freeName(df, "__bucket")
    val withK = df
      .withColumn(k, Text.baseHash32(concat(lit(s"$salt:"), col(id))))
      .withColumn(b, expr(s"`$k` div ${HashRange / nBuckets}L"))
    rankWithBuckets(withK, groups, k, b, id, out).drop(k)
  }

  /** Exact rank over an ARBITRARY long key (ascending, ties by `id`) —
    * the same decomposition as [[shuffleRank]], with order-aligned
    * buckets taken from the key's VALUE RANGE (one tiny min/max agg
    * broadcast back: `((k − min) · nBuckets) div (max − min + 1)` is
    * monotone in k and lands in [0, nBuckets)) instead of hash prefixes.
    * Ranks any ordering — a quality score, a timestamp — without a
    * global window. Bucket balance follows the key's distribution (a
    * pathological key clumped in one range degrades toward the naive
    * window, never below it). Two contracts are ENFORCED in-plan
    * (raise_error riding the min/max aggregate this already pays for —
    * the [[extendRegistry]] convention), because both would otherwise
    * corrupt ranks SILENTLY:
    * `(kmax − kmin) · nBuckets` must stay inside Long (a raw 64-bit hash
    * key overflows the bucket expression and breaks order alignment —
    * rank by the hash's high bits or a narrower key instead), and the
    * key must be non-NULL (a NULL key would vanish through the inner
    * offset join rather than rank). With `groups`, the range is still
    * computed globally — correct in any case (alignment is per-value),
    * balanced when group ranges are comparable.
    */
  def orderedRank(df: DataFrame, groups: Seq[String], key: String,
                  id: String, nBuckets: Int = 64,
                  out: String = "rn"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val kmin = Cols.freeName(df, "__kmin")
    val kmax = Cols.freeName(df, "__kmax")
    val b = Cols.freeName(df, "__bucket")
    val maxRange = Long.MaxValue / nBuckets
    val nulls = Cols.freeName(df, "__knulls")
    val mm = df
      .agg(min(col(key)).as(kmin), max(col(key)).cast("long").as(kmax),
        sum(when(col(key).isNull, 1L).otherwise(0L)).as(nulls))
      .select(col(kmin),
        // both guards chain on kmax, the column the bucket expression
        // actually consumes — a standalone validation column would be
        // PRUNED away with its raise_error by the optimizer
        when(coalesce(col(nulls), lit(0L)) > 0L,
          raise_error(concat(lit("orderedRank: "), col(nulls).cast("string"),
            lit(" NULL keys — a NULL key cannot be ranked and would " +
              "silently vanish through the offset join; filter or " +
              "coalesce them first"))).cast("long"))
        .when(col(kmax).cast("decimal(38,0)") - col(kmin) > maxRange,
          raise_error(concat(lit(s"orderedRank: key range ["),
            col(kmin).cast("string"), lit(", "), col(kmax).cast("string"),
            lit(s"] overflows the bucket expression at nBuckets=$nBuckets " +
              "(range must stay within Long.MaxValue/nBuckets); rank by " +
              "a narrower key"))).cast("long"))
        .otherwise(col(kmax)).as(kmax))
    val withB = df.crossJoin(broadcast(mm))
      .withColumn(b, expr(
        s"((`$key` - `$kmin`) * ${nBuckets}L) div (`$kmax` - `$kmin` + 1L)"))
      .drop(kmin, kmax)
    rankWithBuckets(withB, groups, key, b, id, out)
  }

  /** The shared decomposition core: in-bucket window ranks + broadcast
    * cross-bucket offsets. `b` must be order-aligned with `k` within
    * every group (caller guarantees); `k` is dropped only by callers
    * that own it.
    */
  private def rankWithBuckets(withK: DataFrame, groups: Seq[String],
                              k: String, b: String, id: String,
                              out: String): DataFrame = {
    // cross-bucket offsets: |groups|*nBuckets rows — tiny by construction,
    // the window over it runs on the aggregate, never on the data
    val cnt = Cols.freeName(withK, "__cnt")
    val off = Cols.freeName(withK, "__off")
    val offsets = withK.groupBy((groups :+ b).map(col): _*)
      .agg(count(lit(1)).as(cnt))
      .withColumn(off,
        coalesce(sum(col(cnt)).over(
          Window.partitionBy(groups.map(col): _*).orderBy(col(b).asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop(cnt)
    val inBucket = Window.partitionBy((groups :+ b).map(col): _*)
      .orderBy(col(k).asc, col(id).asc)
    withK
      .join(broadcast(offsets), (groups :+ b), "inner")
      .withColumn(out, col(off) + row_number().over(inBucket))
      .drop(b, off)
  }

  /** Deterministic weighted interleave — the curriculum order of a
    * source-mixed training corpus. Each source is shuffled by
    * [[shuffleRank]], its rows laid on an integer key ladder with stride
    * `lcm(weights)/weight` (heavier source = denser ladder), and the
    * global order is (key asc, source asc): every prefix of the order
    * holds the weight mix to within one row per source, with zero
    * randomness beyond the salt. The 1-based global position is added as
    * column `pos`.
    *
    * The global POSITION is where naive implementations re-introduce the
    * single task (`row_number()` over everything). Here it is computed in
    * closed form: ladder keys within a source are strictly increasing, so
    * a row's position is
    *
    *   pos = rn + Σ_{g sorting before its source on ties} min(N_g, key div s_g + 1)
    *            + Σ_{g sorting after}                     min(N_g, (key + s_g − 1) div s_g)
    *
    * — per-source counts broadcast as ONE collected struct array, the sum
    * a codegen'd `aggregate` over it, entirely row-local. Exact integers
    * end to end; RanksSpec pins equality with the naive global window.
    *
    * A source missing from `weights` fails loudly at runtime
    * (`raise_error`), not silently: an unweighted source would otherwise
    * vanish from the mix bookkeeping while still occupying positions.
    */
  def interleave(df: DataFrame, group: String, id: String, salt: String,
                 weights: Map[String, Int], nBuckets: Int = 64): DataFrame = {
    val strideOf = strideExpr(weights, group)
    val rn = Cols.freeName(df, "__rn")
    val s = Cols.freeName(df, "__stride")
    val k = Cols.freeName(df, "__lkey")
    val ranked = shuffleRank(df, Seq(group), id, salt, nBuckets, rn)
      .withColumn(s, strideOf)
      .withColumn(k, (col(rn) - 1) * col(s))
    // per-source ladder stats: one row per source, folded into a single
    // broadcast array — the closed-form sum never shuffles the data
    val stats = Cols.freeName(df, "__stats")
    val statsRow = ranked.groupBy(col(group).as("g"))
      .agg(lit(0L).as("c"), count(lit(1)).as("e"), first(col(s)).as("s"))
      .agg(collect_list(struct(col("g"), col("c"), col("e"), col("s")))
        .as(stats))
    ladderPositions(ranked, group, k, statsRow, stats)
      .drop(rn, s, k)
  }

  /** Extend a standing curriculum with an arriving batch WITHOUT moving
    * anything already served — the registry form of [[interleave]]. The
    * first `servedRows` positions of the standing order are frozen
    * verbatim (`frozen = true`); the unserved standing tail and the
    * arrivals re-interleave behind them, arrivals continuing each
    * source's ladder after its standing rows (`key =
    * (N_standing + rn_batch − 1) · stride`, same salt ⇒ same per-source
    * shuffle as a from-scratch run over the union).
    *
    * The closed form survives the split because the served prefix of the
    * global order restricted to one source is a PREFIX of that source's
    * ladder (the order is monotone in the key): the remainder of source g
    * is the contiguous ladder [c_g, e_g), so rows sorting before key K are
    * `clamp(K div s (+1 on ties) − c, 0, e − c)` — still per-source
    * broadcast stats, still zero global windows. With an empty batch and
    * servedRows = 0 this reproduces [[interleave]] exactly (spec-pinned).
    *
    * Lifecycle: the positioned standing frame is persisted internally
    * (three consumers: served split, remainder split, served-count
    * stats); the caller owns cleanup (the TermStats convention —
    * `Caches.clearAll` in Verify/Bench).
    */
  def extendOrder(standing: DataFrame, arriving: DataFrame, group: String,
                  id: String, salt: String, weights: Map[String, Int],
                  servedRows: Long, nBuckets: Int = 64): DataFrame = {
    require(servedRows >= 0, s"servedRows must be >= 0, got $servedRows")
    val strideOf = strideExpr(weights, group)
    val rn = Cols.freeName(standing, "__rn")
    val s = Cols.freeName(standing, "__stride")
    val k = Cols.freeName(standing, "__lkey")
    val outCols = standing.columns.toIndexedSeq.map(col) :+ col("pos")
    // standing order = interleave, with the rank/key plumbing kept
    val st = shuffleRank(standing, Seq(group), id, salt, nBuckets, rn)
      .withColumn(s, strideOf)
      .withColumn(k, (col(rn) - 1) * col(s))
    val stats0 = Cols.freeName(standing, "__stats0")
    val nByG = st.groupBy(col(group).as("g"))
      .agg(count(lit(1)).as("e"), first(col(s)).as("s"))
    val statsRow0 = nByG.select(col("g"), lit(0L).as("c"), col("e"), col("s"))
      .agg(collect_list(struct(col("g"), col("c"), col("e"), col("s")))
        .as(stats0))
    val stPos = ladderPositions(st, group, k, statsRow0, stats0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val served = stPos.filter(col("pos") <= servedRows)
    // arrivals continue each source's ladder after its standing rows
    val m = Cols.freeName(arriving, "__nstanding")
    val ar = shuffleRank(arriving, Seq(group), id, salt, nBuckets, rn)
      .withColumn(s, strideOf)
      .join(broadcast(nByG.select(col("g").as(group), col("e").as(m))),
        Seq(group), "left")
      .withColumn(k, (coalesce(col(m), lit(0L)) + col(rn) - 1) * col(s))
      .drop(m)
    // remainder stats: c = served rows per source (a prefix of its
    // ladder), e = standing + arriving rows; sources new in the batch
    // enter with c = 0, e = batch count
    val stats1 = Cols.freeName(standing, "__stats1")
    val servedByG = served.groupBy(col(group).as("g"))
      .agg(count(lit(1)).as("c"))
    val arByG = ar.groupBy(col(group).as("g"))
      .agg(count(lit(1)).as("ma"), first(col(s)).as("sa"))
    val statsRow1 = nByG
      .join(servedByG, Seq("g"), "full_outer")
      .join(arByG, Seq("g"), "full_outer")
      .select(col("g"), coalesce(col("c"), lit(0L)).as("c"),
        (coalesce(col("e"), lit(0L)) + coalesce(col("ma"), lit(0L))).as("e"),
        coalesce(col("s"), col("sa")).as("s"))
      .agg(collect_list(struct(col("g"), col("c"), col("e"), col("s")))
        .as(stats1))
    val remainder = stPos.filter(col("pos") > servedRows).drop("pos")
      .unionByName(ar)
    val remPos =
      ladderPositions(remainder, group, k, statsRow1, stats1)
    served.select(outCols: _*).withColumn("frozen", lit(true))
      .unionByName(remPos.select(outCols: _*).withColumn("frozen", lit(false)))
  }

  /** [[interleave]] with the per-source ladder index kept as column `j` —
    * the materialized-registry shape [[extendRegistry]] consumes, so
    * curriculum extension COMPOSES across epochs without ever recomputing
    * standing ranks.
    */
  def orderRegistry(df: DataFrame, group: String, id: String, salt: String,
                    weights: Map[String, Int], nBuckets: Int = 64): DataFrame = {
    val strideOf = strideExpr(weights, group)
    val rn = Cols.freeName(df, "__rn")
    val s = Cols.freeName(df, "__stride")
    val k = Cols.freeName(df, "__lkey")
    val ranked = shuffleRank(df, Seq(group), id, salt, nBuckets, rn)
      .withColumn(s, strideOf)
      .withColumn(k, (col(rn) - 1) * col(s))
    val stats = Cols.freeName(df, "__stats")
    val statsRow = ranked.groupBy(col(group).as("g"))
      .agg(lit(0L).as("c"), count(lit(1)).as("e"), first(col(s)).as("s"))
      .agg(collect_list(struct(col("g"), col("c"), col("e"), col("s")))
        .as(stats))
    ladderPositions(ranked, group, k, statsRow, stats)
      .withColumn("j", col(rn) - 1)
      .drop(rn, s, k)
  }

  /** One epoch step over a MATERIALIZED registry (the output shape of
    * [[orderRegistry]] / a previous extendRegistry, minus `frozen`): the
    * first `servedRows` positions freeze verbatim, arrivals continue each
    * source's ladder after its current end, and the unserved tail +
    * arrivals re-rank behind the actual frozen count. Unlike
    * [[extendOrder]] this never recomputes standing ranks — the registry
    * IS the state, so steps chain: reg1 = extendRegistry(reg0, b1, w1);
    * reg2 = extendRegistry(reg1, b2, w2); …
    *
    * Why composition is sound (the invariant each step preserves): the
    * global order restricted to one source is ascending in its ladder
    * index `j` — frozen rows are that source's smallest j's, the
    * remainder is ordered by key = j·stride — and per-source j's stay
    * contiguous [0, e_g) because arrivals append. So ANY later watermark
    * again cuts every source's ladder at a prefix, which is exactly what
    * the closed-form position arithmetic requires. RanksSpec pins
    * one-step equivalence with [[extendOrder]] and multi-step prefix
    * immutability.
    */
  def extendRegistry(registry: DataFrame, arriving: DataFrame, group: String,
                     id: String, salt: String, weights: Map[String, Int],
                     servedRows: Long, nBuckets: Int = 64): DataFrame = {
    require(servedRows >= 0, s"servedRows must be >= 0, got $servedRows")
    val strideOf = strideExpr(weights, group)
    // eager localCheckpoint, not persist: three subtrees consume the
    // registry (stats, frozen split, remainder) and the streaming twin
    // re-enters this per micro-batch — checkpoint blocks are GC-cleaned,
    // persists would need a caller unpersist hook
    val reg = (if (registry.columns.contains("frozen")) registry.drop("frozen")
               else registry)
      .localCheckpoint(true)
    val payload = reg.columns.filterNot(_ == "pos").toIndexedSeq
    val outCols = payload.map(col) :+ col("pos")
    val s = Cols.freeName(reg, "__stride")
    val k = Cols.freeName(reg, "__lkey")
    val rn = Cols.freeName(arriving, "__rn")
    // per-source state: e0 = ladder end (= row count, by the contiguity
    // invariant), c = rows already served at this watermark
    // the contiguity invariant ([0, e_g) ladder indices per source) is
    // what the closed form stands on — a corrupted registry (gaps,
    // duplicate j) would mis-position SILENTLY, so validate it inside
    // the stats aggregate this step already pays for: max(j)+1 must
    // equal the source's row count
    val regStats = reg.groupBy(col(group).as("g"))
      .agg(count(lit(1)).as("e0raw"),
        max(col("j")).as("mj"),
        sum(when(col("pos") <= servedRows, 1L).otherwise(0L)).as("c"))
      .withColumn("e0",
        when(col("mj") + 1 === col("e0raw"), col("e0raw"))
          .otherwise(raise_error(concat(
            lit("extendRegistry: non-contiguous ladder for source "),
            col("g").cast("string"), lit(" (max j "),
            col("mj").cast("string"), lit(", rows "),
            col("e0raw").cast("string"), lit(")"))).cast("long")))
      .select(col("g"), col("e0"), col("c"))
    val m = Cols.freeName(arriving, "__e0")
    val ar = shuffleRank(arriving, Seq(group), id, salt, nBuckets, rn)
      .join(broadcast(regStats.select(col("g").as(group), col("e0").as(m))),
        Seq(group), "left")
      .withColumn("j", coalesce(col(m), lit(0L)) + col(rn) - 1)
      .drop(m, rn)
    val arStats = ar.groupBy(col(group).as("g")).agg(count(lit(1)).as("ma"))
    val stats1 = Cols.freeName(reg, "__stats1")
    val statsRow1 = regStats
      .join(arStats, Seq("g"), "full_outer")
      .select(col("g"), coalesce(col("c"), lit(0L)).as("c"),
        (coalesce(col("e0"), lit(0L)) + coalesce(col("ma"), lit(0L))).as("e"))
      .withColumn("s", strideExpr(weights, "g"))
      .agg(collect_list(struct(col("g"), col("c"), col("e"), col("s")))
        .as(stats1))
    val remainder = reg.filter(col("pos") > servedRows).drop("pos")
      .unionByName(ar)
      .withColumn(s, strideOf)
      .withColumn(k, col("j") * col(s))
    val remPos = ladderPositions(remainder, group, k, statsRow1, stats1)
    reg.filter(col("pos") <= servedRows).select(outCols: _*)
      .withColumn("frozen", lit(true))
      .unionByName(remPos.select(outCols: _*).withColumn("frozen", lit(false)))
  }

  /** lcm(weights)/weight as a CASE over the group column; a source with
    * no weight fails loudly (`raise_error`), not silently — it would
    * otherwise vanish from the mix bookkeeping while occupying positions.
    */
  private def strideExpr(weights: Map[String, Int], group: String): Column = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.values.forall(_ > 0),
      s"weights must be positive, got $weights")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val L = weights.values.foldLeft(1L)((acc, w) => acc / gcd(acc, w) * w)
    weights.toSeq.sortBy(_._1)
      .foldRight(raise_error(concat(lit("no weight for source: "),
        col(group))).cast("long")) { case ((g, w), otherwise) =>
        when(col(group) === g, lit(L / w)).otherwise(otherwise)
      }
  }

  /** The closed-form global position over per-source ladder remainders:
    * `statsRow` is ONE row holding array<struct<g, c, e, s>> (source,
    * ladder start, ladder end, stride); each data row's position is
    * `base + 1 + Σ_g` rows of g's ladder [c_g, e_g) sorting strictly
    * before it under (key asc, source asc). SQL-lambda form because the
    * Column DSL has no integer division — `/` promotes longs to double,
    * and the whole point is exact ranks.
    */
  private def ladderPositions(ranked: DataFrame, group: String, k: String,
                              statsRow: DataFrame, statsCol: String): DataFrame =
    // the `x.c +` term makes the base the ACTUAL consumed-prefix size
    // Σ_g c_g (zero for a from-scratch order) — a watermark larger than
    // the standing corpus must not leave position gaps
    ranked.crossJoin(broadcast(statsRow))
      .withColumn("pos", expr(
        s"""1L + aggregate(`$statsCol`, 0L, (acc, x) -> acc + x.c +
           |  CASE WHEN x.g < `$group`
           |         THEN least(x.e - x.c, greatest(0L, (`$k` div x.s) + 1L - x.c))
           |       WHEN x.g > `$group`
           |         THEN least(x.e - x.c, greatest(0L, ((`$k` + x.s - 1L) div x.s) - x.c))
           |       ELSE (`$k` div x.s) - x.c END)""".stripMargin))
      .drop(statsCol)
}
