package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SFT example rendering — the step that turns interaction logs into
  * instruction-tuning training examples: each conversation's turns are laid
  * out in a chat template (`<|role|>content\n` per turn, concatenated in
  * time order) and every assistant turn's CONTENT span is reported as a
  * character range, which is exactly the loss mask a supervised fine-tune
  * needs (loss on assistant completions only, never on the prompt/user
  * side — the standard SFT masking contract).
  *
  * Offsets are 0-based character positions into the rendered string,
  * computed by window arithmetic (cumulative segment length), never by
  * re-searching the rendered text — substring search would mis-attribute
  * repeated content; cumulative arithmetic cannot.
  *
  * Scale shape: ONE shuffle on the conversation keys; the offset window
  * and the final per-conversation aggregate both reuse that clustering
  * (the grouping keys extend the window's partition keys, so
  * EnsureRequirements inserts no second exchange — same rule the
  * [[Sessionize.rollup]] plan relies on). String concatenation is the
  * ordered-struct rebuild idiom ([[Bpe]]'s `array_sort(collect_list)`),
  * all codegen'd built-ins.
  */
object Sft {

  /** One row per conversation: `(keys…, n_turns, n_assistant, rendered,
    * mask_starts, mask_ends)`. Mask span i covers
    * `rendered.substring(mask_starts(i), mask_ends(i))` = the i-th
    * assistant turn's content (role tag and trailing newline excluded);
    * spans are in turn order and empty when a conversation has no
    * assistant turn. The `assistant` role's content is the loss mask.
    *
    * @param keys     conversation identity (e.g. user, session)
    * @param time     turn order within a conversation
    * @param tiebreak total order for equal times (determinism)
    * @param role     turn role string (e.g. "user" / "assistant")
    * @param content  turn content string (rendered verbatim)
    */
  def renderChat(df: DataFrame, keys: Seq[Column], time: Column,
                 tiebreak: Column, role: Column,
                 content: Column): DataFrame = {
    val segment = concat(lit("<|"), role, lit("|>"), content, lit("\n"))
    val w = Window.partitionBy(keys: _*).orderBy(time.asc, tiebreak.asc)
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    val withOffsets = df
      .withColumn("__seg", segment)
      .withColumn("__cum",
        coalesce(sum(length(col("__seg"))).over(before), lit(0L)).cast("long"))
      .withColumn("__start", col("__cum") + length(role).cast("long") + 4L)
      .withColumn("__end",
        col("__cum") + length(col("__seg")).cast("long") - 1L)
      .withColumn("__mask", role === "assistant")
    val ordKey = struct(time.as("t"), tiebreak.as("b"))
    withOffsets
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("__mask"), 1L).otherwise(0L)).as("n_assistant"),
        array_join(transform(
          array_sort(collect_list(struct(ordKey.as("k"), col("__seg").as("s")))),
          x => x("s")), "").as("rendered"),
        transform(array_sort(collect_list(when(col("__mask"),
            struct(ordKey.as("k"), col("__start").as("v"))))),
          x => x("v")).as("mask_starts"),
        transform(array_sort(collect_list(when(col("__mask"),
            struct(ordKey.as("k"), col("__end").as("v"))))),
          x => x("v")).as("mask_ends"))
  }
}
