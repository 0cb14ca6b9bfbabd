package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The as-of join family — `backward` (latest right row with
  * `right.time <= left.time` per key), `forward` (earliest at-or-after),
  * and `nearest` (closer of the two, ties backward) — the
  * temporal-enrichment operators a training-data pipeline needs for
  * "state as of event time" features (latest account snapshot per event,
  * last price before trade, closest purchase to click). The reference has
  * no as-of joins (SURVEY.md §2.3 — all its joins are equi-joins); this is
  * part of the beyond-reference scale-operator family the build brief asks
  * for. Streaming twin: [[graft.streaming.Streams.asofEnrichState]].
  *
  * Implementation is the single-shuffle union-window form, NOT a range join:
  * both sides union into one frame tagged by side, one window partitioned by
  * key and ordered by (time, side, tiebreak) carries the last-seen right
  * payload forward (`last(..., ignoreNulls)` — O(1) running state, no
  * per-key buffering), left rows then filter back out with the carried
  * payload attached. Cost = one shuffle on the key + a partition-local sort,
  * the same class as the equi-join it replaces; there is no candidate-pair
  * blowup at any key skew (contrast a time-range formulation, which explodes
  * on hot keys). At equal timestamps the right row IS visible to the left
  * row (inclusive bound: side orders right before left), and duplicate right
  * (key, time) rows resolve deterministically to the greatest `tiebreak`.
  */
object AsOf {

  /** Backward as-of join.
    *
    * @param left      probe side; all its columns pass through
    * @param right     build side; must share `keys` and `time` column names
    * @param keys      equi-key column names present on both sides
    * @param time      event-time column name present on both sides
    * @param tiebreak  right-side long column ordering duplicate (key, time)
    *                  rows; the greatest wins (required for determinism)
    * @param carry     right-side columns to attach to matched left rows
    * @param prefix    prefix for the attached columns (`prefix + name`);
    *                  unmatched left rows carry nulls, and `prefix + "age"`
    *                  = left.time − matched right.time
    * @param maxAge    optional tolerance: matches older than
    *                  `left.time − maxAge` are discarded (nulls attached) —
    *                  the pandas `merge_asof(tolerance=...)` contract
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               time: String, tiebreak: String, carry: Seq[String],
               prefix: String = "asof_", maxAge: Option[Long] = None): DataFrame = {
    require(carry.nonEmpty, "carry must name at least one right-side column")
    val keyCols = keys.map(col)
    val carryType = right.select(struct(carry.map(col): _*).as("p")).schema("p").dataType
    // Left rows pack into one struct so arbitrary left schemas survive the
    // union; right rows carry their payload struct and a null left struct.
    val lrowType = left.select(struct(left.columns.toIndexedSeq.map(col): _*).as("r"))
      .schema("r").dataType
    val l = left.select(
      keyCols :+ col(time).cast("long").as("__t") :+ lit(1).as("__side") :+
        lit(null).cast("long").as("__tb") :+
        struct(left.columns.toIndexedSeq.map(col): _*).as("__lrow") :+
        lit(null).cast(carryType).as("__carry"): _*)
    val r = right.select(
      keyCols :+ col(time).cast("long").as("__t") :+ lit(0).as("__side") :+
        col(tiebreak).cast("long").as("__tb") :+
        lit(null).cast(lrowType).as("__lrow") :+
        struct(carry.map(col): _*).as("__carry"): _*)
    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = l.unionByName(r)
      .withColumn("__m", last(col("__carry"), ignoreNulls = true).over(w))
      .withColumn("__mt",
        last(when(col("__side") === 0, col("__t")), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val inTol: Column = maxAge match {
      case Some(a) => col("__mt").isNotNull && col("__t") - col("__mt") <= a
      case None    => col("__mt").isNotNull
    }
    val out = left.columns.toIndexedSeq.map(c => col(s"__lrow.$c").as(c)) ++
      carry.map(c => when(inTol, col(s"__m.$c")).as(s"$prefix$c")) :+
      when(inTol, col("__t") - col("__mt")).as(s"${prefix}age")
    matched.select(out: _*)
  }

  /** Nearest as-of join: the right row minimizing |right.time − left.time|
    * per key, ties to the BACKWARD match (the pandas
    * `merge_asof(direction='nearest')` contract). One shuffle on the key
    * with two partition-local sorts: the backward window carries the last
    * preceding-or-equal right payload, a second window over the same
    * partitioning (ordered so the equal-time right row lands on the
    * following side) carries the first at-or-after payload, and a row-local
    * comparison picks the closer. `maxAge` bounds the distance in BOTH
    * directions.
    */
  def nearest(left: DataFrame, right: DataFrame, keys: Seq[String],
              time: String, tiebreak: String, carry: Seq[String],
              prefix: String = "asof_", maxAge: Option[Long] = None): DataFrame = {
    require(carry.nonEmpty, "carry must name at least one right-side column")
    val keyCols = keys.map(col)
    val carryType = right.select(struct(carry.map(col): _*).as("p")).schema("p").dataType
    val lrowType = left.select(struct(left.columns.toIndexedSeq.map(col): _*).as("r"))
      .schema("r").dataType
    val l = left.select(
      keyCols :+ col(time).cast("long").as("__t") :+ lit(1).as("__side") :+
        lit(null).cast("long").as("__tb") :+
        struct(left.columns.toIndexedSeq.map(col): _*).as("__lrow") :+
        lit(null).cast(carryType).as("__carry"): _*)
    val r = right.select(
      keyCols :+ col(time).cast("long").as("__t") :+ lit(0).as("__side") :+
        col(tiebreak).cast("long").as("__tb") :+
        lit(null).cast(lrowType).as("__lrow") :+
        struct(carry.map(col): _*).as("__carry"): _*)
    val wb = Window.partitionBy(keyCols: _*)
      .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Equal-time right rows must fall on the FOLLOWING side of a left row
    // here (inclusive forward bound), so sides order left-before-right at
    // ties; tiebreak descends so `first` picks the greatest.
    val wf = Window.partitionBy(keyCols: _*)
      .orderBy(col("__t").asc, col("__side").desc, col("__tb").desc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val rc = when(col("__side") === 0, col("__carry"))
    val rt = when(col("__side") === 0, col("__t"))
    val matched = l.unionByName(r)
      .withColumn("__mb", last(rc, ignoreNulls = true).over(wb))
      .withColumn("__mbt", last(rt, ignoreNulls = true).over(wb))
      .withColumn("__mf", first(rc, ignoreNulls = true).over(wf))
      .withColumn("__mft", first(rt, ignoreNulls = true).over(wf))
      .filter(col("__side") === 1)
    val ab = col("__t") - col("__mbt")
    val af = col("__mft") - col("__t")
    def within(age: Column, mt: Column): Column = maxAge match {
      case Some(a) => mt.isNotNull && age <= a
      case None    => mt.isNotNull
    }
    val okB = within(ab, col("__mbt"))
    val okF = within(af, col("__mft"))
    val useB = okB && (!okF || ab <= af)
    val useF = !useB && okF
    val out = left.columns.toIndexedSeq.map(c => col(s"__lrow.$c").as(c)) ++
      carry.map(c => when(useB, col(s"__mb.$c")).when(useF, col(s"__mf.$c"))
        .as(s"$prefix$c")) :+
      when(useB, ab).when(useF, af).as(s"${prefix}age")
    matched.select(out: _*)
  }

  /** Forward as-of join: the EARLIEST right row with `right.time >=
    * left.time` per key (the pandas `merge_asof(direction='forward')`
    * contract). Implemented by running [[backward]] over negated times —
    * same single-shuffle plan, and the carried age already comes out as
    * `right.time − left.time ≥ 0` (the negation cancels in the
    * difference). Duplicate right (key, time) rows still resolve to the
    * greatest `tiebreak`; a match may lie any distance in the future.
    * `carry` columns pass through unmodified (only the shared `time`
    * column participates in the negation), prefixed `asof_`.
    */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              time: String, tiebreak: String, carry: Seq[String]): DataFrame = {
    require(!carry.contains(time),
      s"carry must not include the shared time column '$time' (the negated twin is what the join runs on); alias it first")
    // Negate into a TEMP column so the caller's time column passes through
    // with its original type and values (negating in place would return a
    // long-typed column — and epoch seconds for a timestamp input — where
    // backward() returns the original, breaking callers that union the
    // two directions).
    val taken = left.columns.toSet ++ right.columns
    val negT = Iterator.from(0).map(i => s"__negt$i").find(!taken.contains(_)).get
    val ln = left.withColumn(negT, -col(time).cast("long"))
    val rn = right.withColumn(negT, -col(time).cast("long"))
    backward(ln, rn, keys, negT, tiebreak, carry)
      .drop(negT)
  }
}
