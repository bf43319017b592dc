package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling/shuffling (SURVEY.md §7 M6): training
  * pipelines need reproducible subsets and orderings — `rand()` is
  * neither reproducible across partitionings nor portable to the
  * oracle, so ordering keys come from the md5-derived 60-bit hash of
  * (seed, id): stable under repartitioning, identical in DuckDB.
  */
object Sampling {

  /** Hash-order key for (seed, id). */
  private def orderKey(idCol: String, seed: String) =
    TextOps.hash60(concat(lit(seed), col(idCol).cast("string")))

  /** Deterministic pseudo-random shuffle: stable total order. */
  def shuffled(df: DataFrame, idCol: String, seed: String): DataFrame =
    df.orderBy(orderKey(idCol, seed), col(idCol))

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis,
    * IPL 97(5) 2006, algorithm A-ES): row i draws u_i ~ U(0,1] from
    * the portable 60-bit hash of (seed, id) and the k largest keys
    * u_i^(1/w_i) form the sample — inclusion probability proportional
    * to weight, no replacement, one pass.
    *
    * Ordering by ln(u)/w is monotone-equivalent to u^(1/w); the
    * per-row scalar is quantized to an integer MICRO-unit BIGINT via
    * floor(x·1e6 + 0.5) — the [[Graph.pageRank]] contract: ·1e6, +0.5
    * and floor are exactly-rounded IEEE ops identical in any engine
    * (no double→DECIMAL cast, whose rounding rule is an engine-build
    * property), and a 1-ulp libm ln drift flips the floor only when
    * the scaled key lands within an ulp of an integer — so the
    * selection is deterministic AND engine-exact, ties broken by id.
    * Selection is a TakeOrdered top-k — per partition O(k), no global
    * sort shuffle, no driver data beyond the k winners. Weights must
    * be ≥ 1e-9 (strictly positive and far from BIGINT overflow of the
    * scaled key); rows violating that raise instead of silently
    * dropping. The output `es_key` column is part of the contract, so
    * the input must not already carry one.
    */
  def sampleWeighted(df: DataFrame, idCol: String, weight: Column,
      k: Int, seed: String): DataFrame = {
    requireFreshCols(df, "sampleWeighted", "es_key")
    df.withColumn("es_key", esKey(idCol, weight, seed))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
  }

  private def requireFreshCols(df: DataFrame, op: String,
      names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op: input already has column(s) ${clash.mkString(", ")} — " +
        "rename them first; these names are produced by the operator")
  }

  /** The A-ES selection key floor(ln(u)/w·1e6 + 0.5) as BIGINT (see
    * [[sampleWeighted]]). |ln(u)| ≤ 60·ln 2 ≈ 41.6, so any w ≥ 1e-9
    * keeps the scaled key under 2^63; smaller or non-positive (or
    * null) weights violate the A-ES contract and raise.
    */
  private def esKey(idCol: String, weight: Column, seed: String): Column = {
    // u in (0, 1]: (h+1) / 2^60 with h the 60-bit non-negative hash
    val u = (orderKey(idCol, seed) + 1).cast("double") /
      lit(1.152921504606846976e18)
    val key = floor((log(u) / weight) * lit(1e6) + lit(0.5)).cast("long")
    when(weight >= lit(1e-9), key).otherwise(raise_error(concat(
      lit("sampleWeighted: weight must be >= 1e-9, got "),
      coalesce(weight.cast("string"), lit("null")))))
  }

  /** Per-group weighted sampling without replacement: the k largest
    * A-ES keys WITHIN each group (per-language / per-source quotas —
    * the stratified counterpart of [[sampleWeighted]]). One
    * group-partitioned window, no global sort, no driver data.
    */
  def sampleWeightedBy(df: DataFrame, groupCol: String, idCol: String,
      weight: Column, kPerGroup: Int, seed: String): DataFrame = {
    requireFreshCols(df, "sampleWeightedBy", "es_key", "__rk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("es_key").desc, col(idCol))
    df.withColumn("es_key", esKey(idCol, weight, seed))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= kPerGroup)
      .drop("__rk")
  }

  /** k rows per stratum, chosen by hash order — balanced, reproducible
    * (one window shuffle on the stratum key).
    */
  def stratified(df: DataFrame, strataCol: String, idCol: String, k: Int,
      seed: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(orderKey(idCol, seed), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Deterministic train/eval split: hash bucket on (seed, id) —
    * scan-local (zero shuffles), stable under repartitioning and
    * re-runs, identical in the oracle. Adds a `split` column.
    */
  def splitAssign(df: DataFrame, idCol: String, seed: String): DataFrame = {
    import PipelineParams._
    // hash60 is non-negative (60-bit), so % == pmod on both engines
    df.withColumn("split",
      when(orderKey(idCol, seed) % SplitBuckets < SplitTrainBuckets,
        lit("train")).otherwise(lit("eval")))
  }

  /** Temperature-weighted domain mixing (the multilingual-corpus
    * α-sampling of Conneau & Lample, arXiv:1901.07291 §3.1, α = 0.5):
    * domain d is sampled with probability ∝ n_d^α, i.e. head domains
    * are downweighted and tail domains upweighted relative to their
    * natural frequency. Each row of domain d is accepted with rate
    * r_d = min(1, F·N·√n_d / (S·n_d)), S = Σ_d √n_d, so the expected
    * output size is F·N (up to per-domain capping at 1).
    *
    * Deterministic and portable: acceptance is hash60(seed,id) mod 1e6
    * < floor(round(r_d, 9)·1e6) — integer-vs-integer, with the rate
    * rounded to 9 decimals so both engines agree bit-for-bit. The
    * domain-rate table is one small aggregate broadcast back onto the
    * scan; the accept filter itself is scan-local, so the operator
    * costs one count-shuffle regardless of corpus size.
    */
  def mixTemperature(df: DataFrame, domainCol: String, idCol: String,
      targetFrac: Double, seed: String): DataFrame = {
    val counts = df.groupBy(domainCol).agg(count(lit(1)).as("__nd"))
    // corpus totals as a single-partition window over the tiny domain
    // table (one row per domain) instead of agg + crossJoin: one fewer
    // pass/broadcast stage on the critical path; the double-sum
    // reordering is absorbed by the round(..., 9) contract
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = counts
      .withColumn("__n", sum(col("__nd")).over(wAll))
      .withColumn("__s", sum(sqrt(col("__nd"))).over(wAll))
      .withColumn("__rate", least(lit(1.0),
        round(lit(targetFrac) * col("__n") * sqrt(col("__nd")) /
          (col("__s") * col("__nd")), 9)))
      .withColumn("__thr", floor(col("__rate") * 1e6).cast("long"))
      .select(col(domainCol), col("__thr"))
    df.join(broadcast(rates), domainCol)
      .filter(orderKey(idCol, seed) % 1000000L < col("__thr"))
      .drop("__thr")
  }

  /** [[mixTemperature]] with repetition: when a tail domain's target
    * rate exceeds 1 the row is EMITTED MULTIPLE TIMES (training
    * pipelines upsample small domains across epochs rather than
    * capping them) — `floor(r_d)` copies for every row plus one more
    * where the portable hash falls under the fractional part. Output
    * rows carry an `epoch` column (1-based copy number), so expected
    * output size is exactly F·N with no per-domain cap. Same scale
    * shape as the capped mixer: one count aggregate broadcast onto the
    * scan, then a scan-local explode of at most ⌈r_d⌉ copies.
    */
  def mixEpochs(df: DataFrame, domainCol: String, idCol: String,
      targetFrac: Double, seed: String): DataFrame = {
    val counts = df.groupBy(domainCol).agg(count(lit(1)).as("__nd"))
    val tot = counts.agg(sum(col("__nd")).as("__n"),
      sum(sqrt(col("__nd"))).as("__s"))
    val rates = counts.crossJoin(tot)
      .withColumn("__rate",
        round(lit(targetFrac) * col("__n") * sqrt(col("__nd")) /
          (col("__s") * col("__nd")), 9))
      .withColumn("__base", floor(col("__rate")).cast("long"))
      .withColumn("__extra_thr",
        floor((col("__rate") - floor(col("__rate"))) * 1e6).cast("long"))
      .select(col(domainCol), col("__base"), col("__extra_thr"))
    df.join(broadcast(rates), domainCol)
      .withColumn("__copies", col("__base") +
        when(orderKey(idCol, seed) % 1000000L < col("__extra_thr"), 1L)
          .otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(1L), col("__copies"))))
      .drop("__base", "__extra_thr", "__copies")
  }

  /** Quality-ranked selection under a global token budget — the
    * data-constrained curation step (FineWeb-Edu/DCLM shape): rank the
    * corpus by a quality score (best first, ids break ties), accumulate
    * token counts along that order, and mark every document whose
    * cumulative total fits the budget. The output is the exact greedy
    * prefix of the quality ordering.
    *
    * Scale shape: a naive `sum over (ORDER BY score)` window is a
    * one-partition serial pass. Here the corpus is range-partitioned on
    * the ranking key, cumsums run per partition in parallel, and the
    * per-partition totals (B rows) get a tiny prefix pass broadcast
    * back — the two-phase parallel prefix sum, same machinery as
    * [[Pack.packSequences]]. `spark_partition_id()` is safe as the
    * partition label because range partition i holds exactly the i-th
    * contiguous slice of the (score desc, id) order; the final
    * cumulative values are order-determined, independent of where the
    * range boundaries fall.
    *
    * Output: (id, score, n_tokens, cum_tokens, selected).
    */
  def selectByBudget(df: DataFrame, idCol: String, scoreCol: Column,
      tokensCol: Column, budget: Long, buckets: Int = 32): DataFrame = {
    require(budget >= 0 && buckets > 0)
    val base = df.select(col(idCol).as("id"), scoreCol.as("score"),
      tokensCol.cast("long").as("n_tokens"))
    val parted = base
      .repartitionByRange(buckets, col("score").desc, col("id").asc)
      .withColumn("__pid", spark_partition_id())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(col("score").desc, col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = parted.withColumn("__cum_in", sum("n_tokens").over(w))
    // B partition totals -> prefix over B rows only, broadcast back
    val totals = parted.groupBy("__pid").agg(sum("n_tokens").as("__ptotal"))
    val wp = org.apache.spark.sql.expressions.Window.orderBy("__pid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefixes = totals
      .withColumn("__prefix", coalesce(sum("__ptotal").over(wp), lit(0L)))
      .select("__pid", "__prefix")
    cum.join(broadcast(prefixes), "__pid")
      .withColumn("cum_tokens", col("__prefix") + col("__cum_in"))
      .withColumn("selected", col("cum_tokens") <= budget)
      .select("id", "score", "n_tokens", "cum_tokens", "selected")
  }

  /** UniMax language sampling (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): allocate a total token budget across languages by
    * WATER-FILLING — languages in (size asc, name asc) order each get
    * `min(maxEpochs · N_l, remaining / languages_left)` — so small
    * languages are uniformly boosted but never repeated past the epoch
    * cap. The per-language quota materializes as `full_epochs`
    * complete passes plus a deterministic partial-epoch prefix
    * (portable-hash order, token-cumsum ≤ the fractional remainder).
    *
    * Scale shape: the water-fill runs on the K-row language table
    * (driver math on a bounded frame, same stance as the k-means
    * centroids); the per-doc side is one broadcast join + a
    * language-partitioned window cumsum — no global window, one
    * shuffle. Every division is IEEE on engine-identical operands, so
    * the DuckDB oracle replays the allocation with a recursive CTE.
    */
  def mixUniMax(df: DataFrame, domainCol: String, idCol: String,
      tokensCol: Column, budget: Long, maxEpochs: Int,
      seed: String): DataFrame = {
    require(budget >= 0 && maxEpochs >= 1)
    val base = df.select(col(domainCol).as("lang"), col(idCol).as("id"),
      tokensCol.cast("long").as("n_tokens"))
    // K-row language table -> driver water-fill (bounded)
    val langs = base.groupBy("lang").agg(sum("n_tokens").as("nl"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .sortBy { case (l, n) => (n, l) }
    val k = langs.length
    var rem = budget.toDouble
    val quotas = langs.zipWithIndex.map { case ((l, nl), i) =>
      val q = math.min((maxEpochs.toLong * nl).toDouble, rem / (k - i))
      rem -= q
      val full = math.floor(q / nl)
      (l, q, full, q - full * nl)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val quotaDf = quotas.map { case (l, q, f, p) => (l, q, f.toInt, p) }
      .toDF("lang", "quota", "full_epochs", "partial_quota")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(orderKey("id", seed), col("id"))
    base
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .join(broadcast(quotaDf), "lang")
      .withColumn("in_partial", col("cum_tokens") <= col("partial_quota"))
      .select(col("id"), col("lang"), col("n_tokens"),
        col("full_epochs"), col("in_partial"))
  }

  /** Split-leakage audit: near-duplicate pairs (MinHash+LSH, exact
    * jaccard ≥ the dedup threshold) that CROSS the train/eval boundary —
    * each row is an eval doc whose near-twin is trainable, i.e. a
    * contaminated eval point. Cost is one signature pass + the banded
    * LSH join (subquadratic); the split labels ride along on the
    * existing pair join, adding no extra shuffle of the corpus.
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
      seed: String): DataFrame = {
    val splits = splitAssign(df, idCol, seed)
      .select(col(idCol).as("__sid"), col("split"))
    Dedup.minhashPairs(df, idCol, textCol)
      .join(splits.withColumnRenamed("split", "a_split"),
        col("a_id") === col("__sid")).drop("__sid")
      .join(splits.withColumnRenamed("split", "b_split"),
        col("b_id") === col("__sid")).drop("__sid")
      .filter(col("a_split") =!= col("b_split"))
      .select("a_id", "b_id", "a_split", "b_split", "jaccard")
  }
}
