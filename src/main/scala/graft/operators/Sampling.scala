package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Cols, Text}

/** Deterministic content-hash sampling and dataset splitting — the
  * train/val/test assignment device a training-data pipeline needs.
  * `rand()`-based sampling is not reproducible across runs, engines, or
  * partitionings; hashing a stable id is, and is also STICKY: a document
  * keeps its split across pipeline re-runs and incremental refreshes, so
  * eval sets never silently leak into training data when the corpus grows.
  * Pure column arithmetic (md5 → 32-bit int → mod), fully pushdown/codegen
  * friendly, zero shuffle — the assignment is row-local.
  */
object Sampling {

  /** Hard ceiling on the group-table size the portable sorted-fold
    * normalizer ([[mixingWeights]] / [[epochAllocation]] /
    * [[negativeSamplingTable]]) will materialize into a single array row.
    * The fold exists for FP determinism (identical add order on every
    * engine), which inherently concentrates all group weights on one row;
    * 2^22 doubles ≈ 32 MB keeps that row comfortably inside an executor
    * while covering every intended cardinality (languages, domains,
    * BPE-era vocabularies). A word2vec-scale type vocabulary (10^7–10^8)
    * must NOT flow through this fold — it would put an 80–800 MB array on
    * one row — so the bound fails the job loudly (in-plan `raise_error`,
    * the [[Ranks.extendRegistry]] convention) instead of letting the
    * contract stay implied. The web-scale path is range-partitioned
    * integer prefix sums, not a bigger array.
    */
  val MaxFoldGroups: Long = 1L << 22

  /** The deterministic cross-group normalizer: fold `value` over ALL rows
    * of `groupTable` in sorted order (bit-identical total on any engine,
    * any partitioning) into a broadcast 1-row frame, failing loudly when
    * the table exceeds `maxGroups` (see [[MaxFoldGroups]]). The count
    * rides the same aggregate the fold already pays for.
    */
  private[graft] def foldTotalBounded(groupTable: DataFrame, value: Column,
                                      what: String,
                                      maxGroups: Long = MaxFoldGroups): DataFrame =
    broadcast(groupTable
      .select(
        aggregate(array_sort(collect_list(value)), lit(0.0),
          (acc, x) => acc + x).as("__tot"),
        count(lit(1)).as("__ng"))
      .select(
        when(col("__ng") <= maxGroups, col("__tot"))
          .otherwise(raise_error(concat(
            lit(s"$what: group table has "), col("__ng").cast("string"),
            lit(s" rows, over the $maxGroups single-array fold bound — " +
              "this normalizer is for bounded group tables (languages/" +
              "domains/tokenizer vocabularies); distribute the weight " +
              "computation instead"))).cast("double")).as("__tot")))

  /** Uniform bucket in [0, buckets) from the salted md5 of `id`. The salt
    * isolates experiments: different salts give independent assignments
    * over the same corpus.
    */
  def hashBucket(id: Column, salt: String, buckets: Int): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    Text.baseHash32(concat(lit(s"$salt:"), id)) % buckets
  }

  /** Keep a deterministic `pct`-percent sample (hash-gated filter; the
    * sample is a stable subset — re-running or scaling the corpus never
    * reshuffles membership).
    */
  def sampleByHash(df: DataFrame, id: String, salt: String, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")
    df.filter(hashBucket(col(id), salt, 100) < pct)
  }

  /** Cap each group at `n` rows, selected by salted-hash rank — the
    * language/domain-balancing step of a training-data mixing pipeline
    * ("at most N docs per language"). Hash order makes the selection a
    * deterministic uniform subsample that is STICKY per experiment salt:
    * growing a group past the cap replaces nothing already selected
    * unless new rows hash earlier. One shuffle on the group key.
    */
  def capPerGroup(df: DataFrame, groups: Seq[Column], id: String, salt: String,
                  n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val rn = Cols.freeName(df, "__rn")
    val w = Window.partitionBy(groups: _*)
      .orderBy(Text.baseHash32(concat(lit(s"$salt:"), col(id))).asc, col(id).asc)
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= n)
      .drop(rn)
  }

  /** Keep the top `frac` fraction of each group by `score` (descending,
    * ties broken by `tiebreak` ascending — supply a unique id for full
    * determinism): the per-group quality gate a curation pipeline runs
    * ("top 50% quality per language"). Exact rank-count arithmetic
    * (`rank ≤ ceil(frac · n)`), NOT interpolated percentiles — engines
    * disagree on interpolation, never on integer ranks. The ceil is
    * evaluated in INTEGER arithmetic (`(rn−1)·1e6 < frac_micro·n`, frac
    * to 6 decimal digits) — `ceil` of a double product is off by one
    * whenever frac·n lands just above an exact integer (0.07·100 =
    * 7.000000000000001). Two windows over one partitioning = a single
    * shuffle by the group key.
    */
  def topFractionByGroup(df: DataFrame, groups: Seq[Column], score: Column,
                         tiebreak: Column, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1], got $frac")
    import org.apache.spark.sql.expressions.Window
    val rn = Cols.freeName(df, "__rn")
    val n = Cols.freeName(df, "__n")
    val byGroup = Window.partitionBy(groups: _*)
    val fracMicro = math.round(frac * 1e6)
    df.withColumn(rn, row_number().over(byGroup.orderBy(score.desc, tiebreak.asc)))
      .withColumn(n, count(lit(1)).over(byGroup))
      .filter((col(rn) - 1) * 1000000L < lit(fracMicro) * col(n))
      .drop(rn, n)
  }

  /** Temperature-based mixing weights per group (α = 0.5): the multilingual
    * corpus-balancing rule (mBERT/XLM-R exponentiated-share sampling) —
    * upsample rare languages, damp dominant ones, `weight ∝ n_group^α`.
    * Returns (groups…, n_rows, weight_pm) with
    * `weight_pm = round(1e6 · √n_g / Σ_h √n_h)`; Σ weight_pm ≈ 1e6.
    *
    * α is FIXED at 0.5 because `sqrt` is IEEE-correctly-rounded in every
    * engine while `pow(x, α)` is not — an arbitrary-α weight would differ
    * in the last ulp across engines and fail a hash compare. The cross-group
    * normalizer is a sorted-array fold (identical add order everywhere),
    * broadcast back as a 1-row frame: the group-count table is tiny by
    * construction (one row per language/domain), so this is two keyed
    * aggregations and a broadcast — no extra shuffle.
    *
    * Cache lifecycle: the count table is persisted and CALLER-owned — clear
    * with `spark.catalog.clearCache()` after the terminal action (the
    * repo-wide convention, see [[TermStats]]).
    */
  def mixingWeights(df: DataFrame, groups: Seq[Column]): DataFrame = {
    // Persist: the count table feeds both the normalizer fold and the
    // crossJoin left side — without it the full-corpus aggregate runs twice.
    val counts = df.groupBy(groups: _*).agg(count(lit(1)).as("n_rows"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = foldTotalBounded(counts, sqrt(col("n_rows")),
      "Sampling.mixingWeights")
    counts.crossJoin(total)
      .withColumn("weight_pm",
        round(lit(1000000.0) * sqrt(col("n_rows")) / col("__tot")).cast("long"))
      .drop("__tot")
  }

  /** Temperature-RESAMPLED corpus (α = 0.5): [[mixingWeights]] turned
    * into an actual selected dataset — the step every mixing recipe ends
    * with (upsample rare domains, damp dominant ones, draw `total` docs).
    * Per-group target counts come from integer LARGEST-REMAINDER
    * apportionment of the micro-unit weights (base = (total·w_pm) div
    * 1e6; the ± rounding deficit goes to the largest/smallest remainders,
    * ties by group — all integer arithmetic, so Σ targets = `total`
    * exactly and every engine agrees bit-for-bit), clamped per group at
    * the group's population (WITHOUT-replacement semantics: a rare group
    * whose target exceeds its size contributes all of itself; the
    * with-replacement upsampling a trainer does via epoch repetition is
    * out of scope for a corpus SELECTION). Row selection within a group
    * is the [[capPerGroup]] salted-hash rank — deterministic, sticky per
    * experiment salt.
    *
    * Scale shape: the weight/apportionment table is one row per group
    * (languages/domains — tiny by construction), so its global windows
    * are a deliberate single-partition pass over ≤ |groups| rows; the
    * corpus itself pays ONE shuffle (the per-group rank window) plus a
    * broadcast of the target table. Cache lifecycle: [[mixingWeights]]
    * persists the count table — caller-owned (the [[TermStats]]
    * convention).
    */
  def temperatureResample(df: DataFrame, group: String, id: String,
                          salt: String, total: Long): DataFrame = {
    require(total > 0, s"total must be positive, got $total")
    import org.apache.spark.sql.expressions.Window
    val w = mixingWeights(df, Seq(col(group)))
    val tiny = Window.partitionBy() // ≤ |groups| rows — deliberate
    val ordD = Window.orderBy(col("__rem").desc, col(group).asc)
    val ordA = Window.orderBy(col("__rem").asc, col(group).asc)
    val targets = w
      .withColumn("__base", expr(s"(${total}L * weight_pm) div 1000000"))
      .withColumn("__rem", expr(s"(${total}L * weight_pm) % 1000000"))
      .withColumn("__deficit", lit(total) - sum(col("__base")).over(tiny))
      .withColumn("__rd", row_number().over(ordD))
      .withColumn("__ra", row_number().over(ordA))
      .select(col(group), greatest(lit(0L), least(col("n_rows"),
        col("__base")
          + when(col("__deficit") > 0 && col("__rd") <= col("__deficit"), 1L)
            .otherwise(0L)
          - when(col("__deficit") < 0 && col("__ra") <= -col("__deficit"), 1L)
            .otherwise(0L))).as("__target"))
    val rn = Cols.freeName(df, "__rn")
    val sel = Window.partitionBy(col(group))
      .orderBy(Text.baseHash32(concat(lit(s"$salt:"), col(id))).asc, col(id).asc)
    df.join(broadcast(targets), group)
      .withColumn(rn, row_number().over(sel))
      .filter(col(rn) <= col("__target"))
      .drop(rn, "__target")
  }

  /** Assign every row a named split by consecutive hash-bucket ranges, e.g.
    * `Seq("train" -> 90, "val" -> 5, "test" -> 5)`. Percents must sum to
    * 100 so the assignment is total (every row gets exactly one split).
    */
  def hashSplit(df: DataFrame, id: String, salt: String,
                splits: Seq[(String, Int)], splitCol: String = "split"): DataFrame = {
    require(splits.map(_._2).sum == 100,
      s"split percents must sum to 100, got ${splits.map(_._2).sum}")
    require(splits.forall(_._2 > 0), "every split needs a positive percent")
    val b = hashBucket(col(id), salt, 100)
    val cumulative = splits.scanLeft(0)(_ + _._2).tail
    val expr = splits.zip(cumulative).foldRight(lit(null).cast("string")) {
      case (((name, _), upper), otherwise) =>
        when(b < upper, lit(name)).otherwise(otherwise)
    }
    df.withColumn(splitCol, expr)
  }

  /** Proportional stratified sample of EXACTLY `totalN` rows (when the
    * corpus has that many) by largest-remainder apportionment — the
    * "build an N-doc eval set matching the corpus mix" operator. Each
    * stratum's allocation is `floor(n_g·N / T)` plus one of the
    * `N − Σ floor` leftovers, granted in order of largest remainder
    * (`n_g·N mod T` descending, stratum key ascending — fully
    * deterministic, and INTEGER end to end: quota arithmetic in doubles
    * drifts, apportionment off-by-ones are exactly the bugs
    * largest-remainder exists to avoid). Rows within a stratum are picked
    * by the [[capPerGroup]] salted-hash rank, so membership is sticky per
    * salt. A stratum smaller than its allocation contributes everything
    * it has (the result is then < N — the caller asked for more than
    * exists at that mix).
    *
    * Scale shape: the per-stratum count table is tiny (≤ #strata rows) —
    * its apportionment windows are single-partition over that table, not
    * the corpus; the corpus itself pays ONE shuffle on the stratum key
    * for the rank window, then a broadcast join against the allocations.
    */
  def proportionalSample(df: DataFrame, group: String, id: String,
                         salt: String, totalN: Long): DataFrame = {
    require(totalN > 0, s"totalN must be positive, got $totalN")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(group)).agg(count(lit(1)).as("__n"))
    val all = Window.partitionBy()
    val alloc = counts
      .withColumn("__t", sum(col("__n")).over(all))
      .withColumn("__base", expr(s"(__n * ${totalN}L) div __t"))
      .withColumn("__rem", expr(s"(__n * ${totalN}L) % __t"))
      .withColumn("__rr", row_number().over(
        all.orderBy(col("__rem").desc, col(group).asc)))
      .withColumn("__leftover", lit(totalN) - sum(col("__base")).over(all))
      .withColumn("__alloc",
        col("__base") + when(col("__rr") <= col("__leftover"), 1L).otherwise(0L))
      .select(col(group), col("__alloc"))
    val rn = Cols.freeName(df, "__rn")
    val w = Window.partitionBy(col(group))
      .orderBy(Text.baseHash32(concat(lit(s"$salt:"), col(id))).asc, col(id).asc)
    // Null-safe equality on the stratum key: groupBy above KEEPS a null
    // stratum (and allocates it quota), but a plain equi-join can never
    // match null keys — those allocated slots would silently vanish and
    // the result would under-fill the EXACTLY-totalN contract. <=> makes
    // null-stratum rows sampleable like any other stratum.
    val ga = Cols.freeName(df, "__g")
    df.withColumn(rn, row_number().over(w))
      .join(broadcast(alloc.withColumnRenamed(group, ga)), col(group) <=> col(ga))
      .filter(col(rn) <= col("__alloc"))
      .drop(rn, "__alloc", ga)
  }

  /** Leakage-free TEMPORAL split with a purge embargo — the time-series
    * counterpart of [[hashSplit]]: `train` is everything strictly before
    * `boundary − embargo`, `test` everything at/after `boundary`, and the
    * embargo band in between is labeled `embargo` and EXCLUDED from both.
    * The embargo is what makes the split leakage-free when features are
    * windowed: a trailing aggregate ([[Rolling.overRange]]), session, or
    * as-of join computed for a train row just under the boundary would
    * otherwise read events from the test period — the classic
    * time-series-CV purge (de Prado's purged k-fold, reduced to the one
    * holdout split a training pipeline ships). Row-local arithmetic —
    * zero shuffle, pushdown-friendly, and the label is a pure function of
    * the timestamp so re-runs and late-arriving data can never migrate a
    * row across the boundary.
    */
  def timeSplit(df: DataFrame, ts: Column, boundary: Long,
                embargo: Long): DataFrame = {
    require(embargo >= 0, s"embargo must be non-negative, got $embargo")
    df.withColumn("split",
      when(ts < boundary - embargo, "train")
        .when(ts >= boundary, "test")
        .otherwise("embargo"))
  }

  /** Data-constrained epoch allocation (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): given a token `budget` and the
    * per-domain unique-token supply, decide how many EPOCHS of each domain
    * a training run should take. Target tokens per domain come from the
    * same α=0.5 temperature weights as [[mixingWeights]] (upsample rare
    * domains) apportioned by cumulative-share differencing — target_g =
    * floor(B·C_g/W) − floor(B·C_{g−1}/W) over the group-ordered
    * cumulative weight C — so Σ targets = `budget` EXACTLY by
    * telescoping, for any budget and any weight rounding (the
    * largest-remainder form this replaced was only exact while the
    * ppm-rounding drift stayed under the domain count — r13 advice);
    * the B·C products run in DECIMAL(38,0), so budgets past 2^63/10^6
    * do not overflow. A domain whose target exceeds `maxEpochsMicro`
    * (micro-epochs, default 4.0 — the paper's "repeating beyond ~4 epochs
    * is worth almost nothing" knee) passes of its supply is CAPPED there,
    * and the shortfall is reported as `starved_tokens` (the tokens the
    * mix wanted but useful repetition cannot supply — the signal to go
    * collect more of that domain, not to repeat harder).
    *
    * One row per domain: `(group, u_tokens, weight_pm, target_tokens,
    * epochs_micro, served_tokens, starved_tokens)`. All-integer outside
    * the portable sqrt-weight fold (the [[mixingWeights]] rule).
    *
    * Scale shape: ONE corpus aggregate (map-side combined) to the
    * per-domain supply table; everything after runs on ≤ |domains| rows
    * (the deliberate single-partition windows of
    * [[temperatureResample]]). The supply table is persisted
    * (caller-owned, [[graft.operators.TermStats]] convention) because the
    * weight normalizer and the allocation both read it.
    */
  def epochAllocation(df: DataFrame, group: String, cost: Column,
                      budget: Long, maxEpochsMicro: Long = 4000000L): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxEpochsMicro > 0,
      s"maxEpochsMicro must be positive, got $maxEpochsMicro")
    import org.apache.spark.sql.expressions.Window
    val supply = df.groupBy(col(group)).agg(sum(cost).as("u_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = foldTotalBounded(supply, sqrt(col("u_tokens")),
      "Sampling.epochAllocation")
    val tiny = Window.partitionBy() // ≤ |domains| rows — deliberate
    val ordG = Window.orderBy(col(group).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    supply.crossJoin(total)
      .withColumn("weight_pm",
        round(lit(1000000.0) * sqrt(col("u_tokens")) / col("__tot")).cast("long"))
      .drop("__tot")
      // cumulative-share differencing: floor(B·C/W) is nondecreasing in
      // the cumulative weight C, its per-domain difference is ≥ 0 and
      // within 1 of the proportional share, and the sum telescopes to
      // floor(B·W/W) = B — exact with no deficit pass. DECIMAL(38,0)
      // holds B·C (≤ ~10^25 for a Long budget and ppm weights) where the
      // Long product overflowed past budget ≈ 9.2e12.
      .withColumn("__w", sum(col("weight_pm")).over(tiny))
      .withColumn("__cum", sum(col("weight_pm")).over(ordG))
      .withColumn("target_tokens",
        expr(s"(CAST($budget AS DECIMAL(38,0)) * __cum) div __w" +
          s" - (CAST($budget AS DECIMAL(38,0)) * (__cum - weight_pm)) div __w"))
      .withColumn("epochs_micro", least(lit(maxEpochsMicro),
        expr("(CAST(1000000 AS DECIMAL(38,0)) * target_tokens) div u_tokens")))
      .withColumn("served_tokens", least(col("target_tokens"),
        expr(s"(CAST($maxEpochsMicro AS DECIMAL(38,0)) * u_tokens) div 1000000")))
      .withColumn("starved_tokens",
        col("target_tokens") - col("served_tokens"))
      .select(col(group), col("u_tokens"), col("weight_pm"),
        col("target_tokens"), col("epochs_micro"), col("served_tokens"),
        col("starved_tokens"))
  }

  /** word2vec negative-sampling table (Mikolov et al., NeurIPS 2013):
    * draw probability ∝ count^{3/4} — the smoothing every SGNS trainer
    * hard-codes (damps stopword-class terms, lifts the tail). The
    * fractional power is computed as `sqrt(c) · sqrt(sqrt(c))`: sqrt is
    * IEEE correctly-rounded in every engine and multiplication rounds
    * identically, so the composition is bit-portable where `pow(c, 0.75)`
    * (libm, engine-dependent) is not — the [[mixingWeights]] float rule
    * extended to the one exponent word2vec needs. Weights normalize to
    * ppm via the sorted-fold total; `totalDraws` is apportioned by
    * cumulative-share differencing (Σ n_draws = totalDraws EXACTLY by
    * telescoping, the [[epochAllocation]] rule; HUGEINT-class DECIMAL
    * products, no overflow for any Long draw count). With-replacement
    * semantics — no population clamp: a rare term may get 0 draws, a hot
    * one many; the trainer replays the table, it never selects rows.
    *
    * Output one row per term: `(key, cnt, weight_pm, n_draws)`.
    *
    * Scale shape: one ≤ |vocab| count table in; the normalizer is one
    * sorted fold, the apportionment two windows over the same
    * single-partition vocab pass (BPE-era vocabularies are ≤ a few
    * hundred thousand rows — deliberate AND ENFORCED: the fold fails
    * loudly past [[MaxFoldGroups]]; a web-scale type vocabulary would
    * swap in range-partitioned prefix sums, same arithmetic).
    */
  def negativeSamplingTable(counts: DataFrame, key: String, cnt: String,
                            totalDraws: Long): DataFrame = {
    require(totalDraws > 0, s"totalDraws must be positive, got $totalDraws")
    import org.apache.spark.sql.expressions.Window
    def p34(c: Column) = sqrt(c) * sqrt(sqrt(c))
    val total = foldTotalBounded(counts, p34(col(cnt)),
      "Sampling.negativeSamplingTable")
    val tiny = Window.partitionBy() // ≤ |vocab| rows — deliberate
    val ordK = Window.orderBy(col(key).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(total)
      .withColumn("weight_pm",
        round(lit(1000000.0) * p34(col(cnt)) / col("__tot")).cast("long"))
      .drop("__tot")
      .withColumn("__w", sum(col("weight_pm")).over(tiny))
      .withColumn("__cum", sum(col("weight_pm")).over(ordK))
      .withColumn("n_draws",
        expr(s"CAST((CAST($totalDraws AS DECIMAL(38,0)) * __cum) div __w" +
          s" - (CAST($totalDraws AS DECIMAL(38,0)) * (__cum - weight_pm))" +
          s" div __w AS BIGINT)"))
      .select(col(key), col(cnt), col("weight_pm"), col("n_draws"))
  }
}
