package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-sequence packing (the Megatron/T5 "pack documents into
  * fixed-length sequences" prep step): documents are laid out in a
  * deterministic pseudo-random order, token counts accumulate along
  * that order, and each document's bin is `start_offset / seqLen` —
  * contiguous packing, so a training job can build sequence `b` by
  * reading exactly the docs with `bin = b` in order.
  *
  * Scale shape: a single global cumulative sum would be a
  * one-partition window (serial at any size). Instead the global
  * order is (bucket, hash, id) with per-bucket cumsums — B parallel
  * windows — offset by the bucket prefix totals, which is a window
  * over B rows (tiny at any corpus size, broadcast back). The
  * assignment is identical to the serial cumsum over the same order,
  * and the oracle recomputes it row-for-row.
  */
object Pack {

  /** Output: (id, n_tokens, start_tok, bin, bin_offset) — every input
    * doc with its global token offset and sequence assignment.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, buckets: Int = 32, seed: String = "pack",
      keep: Seq[String] = Nil): DataFrame = {
    require(seqLen > 0 && buckets > 0)
    val key = TextOps.hash60(concat(lit(seed), col(idCol).cast("string")))
    val base = df.select(Seq(col(idCol).as("id"),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"),
      (key % buckets).as("bucket"), key.as("hk")) ++ keep.map(col): _*)
    val wb = Window.partitionBy("bucket").orderBy(col("hk"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // btotal as an unbounded window sum over the SAME bucket
    // partitioning as the cumsum: both window functions evaluate in one
    // pass over one exchange, where a separate groupBy(bucket) planned
    // its own partial-agg + exchange pass over the corpus (two
    // operations keyed the same way share one exchange)
    val wt = Window.partitionBy("bucket")
    val cum = base.withColumn("cum_in_bucket", sum("n_tokens").over(wb))
      .withColumn("btotal", sum("n_tokens").over(wt))
    // reduce the windowed frame to the B (bucket, btotal) rows: the
    // input is already hash-partitioned by bucket, so this agg needs no
    // exchange of its own
    val totals = cum.groupBy("bucket").agg(max("btotal").as("btotal"))
    // prefix over the B bucket totals only — the single-partition
    // window touches B rows, never the corpus
    val wp = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = totals
      .withColumn("prefix", coalesce(sum("btotal").over(wp), lit(0L)))
      .select("bucket", "prefix")
    cum.join(broadcast(prefixes), "bucket")
      .withColumn("start_tok",
        col("prefix") + col("cum_in_bucket") - col("n_tokens"))
      .select(Seq(col("id"), col("n_tokens"), col("start_tok"),
        (col("start_tok") / seqLen).cast("long").as("bin"),
        (col("start_tok") % seqLen).as("bin_offset")) ++ keep.map(col): _*)
  }
}
