package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-level overlap report between corpus slices — the
  * set-similarity cousin of [[Decontaminate]] (which answers "which
  * DOCUMENTS overlap"; this answers "how much do these DATASETS
  * overlap"). Slices are the values of a column (source, version,
  * snapshot date, language); the report gives, per unordered slice
  * pair, the distinct-shingle Jaccard and both containments — the
  * numbers a training-data curator reads before mixing two crawls or
  * diffing two dataset versions.
  *
  * Two paths, same contract as the dedup family:
  *  - [[overlapExact]]: exact report, judged against a DuckDB oracle
  *    (`q_corpus_overlap`). One scan, ONE wide shuffle (hash-agg on
  *    shingle); per-shingle state is the bounded set of slices
  *    containing it (slice count is small by contract — datasets, not
  *    documents), so the plan is linear in distinct (slice, shingle)
  *    pairs and survives a 100× corpus.
  *  - [[overlapSketch]]: KMV bottom-k sketches (k values per slice,
  *    ~8 KB at k=1024) with pairwise estimation on the merged
  *    sketches — the 100 TB path when even one row per distinct
  *    shingle is more shuffle than a summary needs. Deterministic
  *    (seeded by xxhash64), two bounded window stages (salted
  *    bottom-k then final bottom-k), estimate error ~1/sqrt(k);
  *    spec-pinned against [[overlapExact]] on the fixture.
  */
object CorpusOverlap {

  private def shinglesOf(textCol: Column, n: Int): Column =
    GraftBridge.column(graft.functions.WordShingles(
      GraftBridge.expression(TextOps.words(textCol)), n))

  /** (slice, shingle) pairs — the base relation both paths aggregate.
    * Not deduped here: the exact path's collect_set dedupes inside its
    * own shuffle; the sketch path dedupes (slice, hash) explicitly.
    */
  private def slicedShingles(df: DataFrame, sliceCol: String,
      textCol: String, n: Int): DataFrame =
    // no Par.spread: its exchange duplicates per branch (measured 0.85x
    // with it, anti-scaling to 0.65; PlanDump showed the spread run
    // burning 7.7 CPU-s against a 0.8 s single-task plan)
    df.select(col(sliceCol).cast("string").as("slice"),
        explode(shinglesOf(col(textCol), n)).as("g"))

  /** Exact pairwise overlap report:
    * (a_slice, b_slice, a_size, b_size, common, jaccard,
    *  containment_a, containment_b), one row per unordered slice pair
    * with at least one shared shingle, ordered by (a_slice, b_slice).
    *
    * Plan: explode shingles → groupBy(shingle) collecting the slice
    * set (collect_set dedupes map-side, so the one wide shuffle
    * carries at most one row per distinct (slice, shingle)) → explode
    * the ≤S² ordered pairs per shingle → hash-agg on the S²-bounded
    * pair key. Slice sizes fall out of the same aggregate, so the
    * corpus is scanned exactly once.
    */
  def overlapExact(df: DataFrame, sliceCol: String, textCol: String,
      n: Int = PipelineParams.ShingleN): DataFrame = {
    val present = slicedShingles(df, sliceCol, textCol, n)
      .groupBy("g").agg(collect_set(col("slice")).as("ss"))
    // sizes and pair intersections both derive from `present`; Spark
    // reuses the aggregated exchange for the two branches
    val sizes = present.select(explode(col("ss")).as("slice"))
      .groupBy("slice").agg(count(lit(1)).as("n"))
    val pairs = present
      .select(explode(col("ss")).as("a_slice"), col("ss"))
      .select(col("a_slice"), explode(col("ss")).as("b_slice"))
      .where(col("a_slice") < col("b_slice"))
      .groupBy("a_slice", "b_slice").agg(count(lit(1)).as("common"))
    val sa = broadcast(sizes.toDF("a_slice", "a_size"))
    val sb = broadcast(sizes.toDF("b_slice", "b_size"))
    pairs.join(sa, "a_slice").join(sb, "b_slice")
      .select(col("a_slice"), col("b_slice"), col("a_size"),
        col("b_size"), col("common"),
        round(col("common").cast("double") /
          (col("a_size") + col("b_size") - col("common")), 6)
          .as("jaccard"),
        round(col("common").cast("double") / col("a_size"), 6)
          .as("containment_a"),
        round(col("common").cast("double") / col("b_size"), 6)
          .as("containment_b"))
      .orderBy("a_slice", "b_slice")
  }

  /** KMV (k-minimum-values) bottom-k sketch per slice:
    * (slice, sketch sorted ascending, n_distinct_est). Hash order is
    * unsigned xxhash64 (sign-bit flip makes the signed sort match
    * unsigned order); the distinct-count estimator is the standard
    * (k-1)/u_k with u_k = kth value normalized to [0,1). Slices with
    * fewer than k distinct shingles carry their exact set (estimator
    * switches to the exact count).
    *
    * Bottom-k without an unbounded per-slice sort: stage 1 takes the
    * per-(slice, salt-bucket) bottom-k over `buckets` hash buckets
    * (each window partition holds ~distinct/S/buckets rows — size
    * `buckets` to the corpus the way shuffle partitions are sized);
    * stage 2 reduces the ≤ buckets·k survivors per slice.
    */
  def kmvSketches(df: DataFrame, sliceCol: String, textCol: String,
      k: Int = 1024, n: Int = PipelineParams.ShingleN,
      buckets: Int = 64): DataFrame = {
    require(k > 1, s"kmv: need k > 1 (got $k)")
    // dedupe (slice, h) BEFORE the bottom-k: a shingle repeated across
    // documents would otherwise occupy several of the k slots and skew
    // every estimate (KMV is defined over the distinct set). Hash-agg
    // shuffle, same keyspace the windows repartition on.
    val hashed = slicedShingles(df, sliceCol, textCol, n)
      .select(col("slice"),
        (xxhash64(col("g")).bitwiseXOR(lit(Long.MinValue))).as("h"))
      .distinct()
    val stage1 = hashed
      .withColumn("b", pmod(col("h"), lit(buckets)))
      .withColumn("rk", row_number().over(
        Window.partitionBy("slice", "b").orderBy("h")))
      .where(col("rk") <= k)
    val stage2 = stage1
      .withColumn("rk", row_number().over(
        Window.partitionBy("slice").orderBy("h")))
      .where(col("rk") <= k)
    stage2.groupBy("slice")
      .agg(sort_array(collect_list(col("h"))).as("sketch"),
        count(lit(1)).as("m"))
      .select(col("slice"), col("sketch"),
        when(col("m") < k, col("m").cast("double"))
          .otherwise(lit(k - 1.0) /
            ((element_at(col("sketch"), k).cast("double") -
              Long.MinValue.toDouble) / math.pow(2.0, 64)))
          .as("n_distinct_est"))
  }

  /** Merge two KMV sketches: bottom-k of the union. Bottom-k sketches
    * are mergeable EXACTLY — merge(sketch(A), sketch(B)) equals
    * sketch(A ∪ B) value-for-value (spec-pinned) — so per-partition,
    * per-day, or per-ingest sketches can be folded incrementally and
    * datasets diffed without ever rescanning the corpus: the natural
    * companion to the streaming ingest path at 100 TB.
    */
  def mergeSketch(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Sketch-estimated pairwise overlap report — same columns as
    * [[overlapExact]] with `_est` metrics. Estimation is the standard
    * KMV merge: U = bottom-k of sketch(A) ∪ sketch(B); jaccard ≈
    * |{x ∈ U : x ∈ A ∧ x ∈ B}| / |U|; intersection size ≈ jaccard ·
    * union estimate; containments divide by the per-slice estimates.
    * The pair table is S² rows of ≤k-element arrays — native array
    * functions, no shuffle beyond the sketch build.
    */
  def overlapSketch(df: DataFrame, sliceCol: String, textCol: String,
      k: Int = 1024, n: Int = PipelineParams.ShingleN,
      buckets: Int = 64): DataFrame = {
    val sk = kmvSketches(df, sliceCol, textCol, k, n, buckets)
    val a = sk.select(col("slice").as("a_slice"),
      col("sketch").as("sa"), col("n_distinct_est").as("na"))
    val b = sk.select(col("slice").as("b_slice"),
      col("sketch").as("sb"), col("n_distinct_est").as("nb"))
    val u = mergeSketch(col("sa"), col("sb"), k)
    val matched = size(array_intersect(
      array_intersect(col("u"), col("sa")), col("sb")))
    val unionEst =
      when(size(col("u")) < k, size(col("u")).cast("double"))
        .otherwise(lit(k - 1.0) /
          ((element_at(col("u"), k).cast("double") -
            Long.MinValue.toDouble) / math.pow(2.0, 64)))
    a.join(broadcast(b), col("a_slice") < col("b_slice"))
      .withColumn("u", u)
      .withColumn("jaccard_est",
        matched.cast("double") / size(col("u")))
      .select(col("a_slice"), col("b_slice"),
        col("na").as("a_size_est"), col("nb").as("b_size_est"),
        (col("jaccard_est") * unionEst).as("common_est"),
        col("jaccard_est"),
        (col("jaccard_est") * unionEst / col("na"))
          .as("containment_a_est"),
        (col("jaccard_est") * unionEst / col("nb"))
          .as("containment_b_est"))
      .orderBy("a_slice", "b_slice")
  }
}
