package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators (SURVEY.md §7 M6): exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection — the core of a
  * training-data pipeline at 100 TB.
  *
  * Scale posture shared by all of them: candidate generation is a
  * shuffle-join on compact keys (band hashes / shingles), never an
  * all-pairs product; verification runs only on candidate pairs; there
  * is no driver-side materialization anywhere. The expensive per-doc
  * features (signatures) are computed in one projection pass.
  */
object Dedup {
  import PipelineParams._

  /** Exact duplicates by normalized-text fingerprint. Returns
    * (id, fingerprint, group_size, representative) — representative is
    * the smallest id in the group; rows with group_size = 1 are unique.
    * One hash-shuffle on the 32-char fingerprint, map-side combined.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .withColumn("group_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("fingerprint")))
      .withColumn("representative",
        min("id").over(org.apache.spark.sql.expressions.Window
          .partitionBy("fingerprint")))

  /** Per-doc distinct word-shingle sets (id, shingles).
    *
    * `Par.spread` is OPT-IN (`spread` param) and off for the ngram
    * paths — those feed multi-consumer plans (prefix + verify
    * branches), and ColumnPruning pushes each consumer's projection
    * below the round-robin exchange, so the exchange DUPLICATES per
    * consumer (with it, q_dedup_ngram_capped plans 72 Exchange nodes
    * instead of 48 and measured 3.5x slower, anti-scaling 3x from 8 to
    * 32 cores: 32 concurrent shingle-allocating tasks per branch
    * multiply GC debt). The minhash signature path keeps it: there the
    * downstream consumers share one column set, the exchange is reused,
    * and it measured 1.45x faster.
    */
  private def shingleSets(df: DataFrame, idCol: String,
      textCol: String, spread: Boolean = false): DataFrame =
    (if (spread) Par.spread(df) else df)
      .withColumn("__ws", TextOps.words(col(textCol)))
      .select(col(idCol).as("id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.GraftBridge.expression(col("__ws")),
          PipelineParams.ShingleN)).as("shingles"))

  /** Exact jaccard between two shingle-set columns — used as the
    * verification step after candidate generation.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** `size(array_intersect(a, b))` for 60-bit-hashed shingle arrays via
    * the allocation-free [[graft.functions.IntersectCount]] kernel
    * (value-identical; array_intersect allocates a set + result array
    * per candidate pair, which made it the dedup family's main GC
    * source).
    */
  private def intersectSize(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.IntersectCount(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** [[jaccard]] specialized to long (hashed-shingle) arrays. */
  private def jaccardHashed(a: Column, b: Column): Column = {
    val inter = intersectSize(a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** MinHash + LSH near-duplicate PAIRS with exact-jaccard verification:
    * shingle → 60-bit hash → k-permutation signature → banded keys →
    * bucket self-join → verify jaccard ≥ `minJaccard`.
    * Output: (a_id, b_id, jaccard) with a_id < b_id.
    *
    * The banding parameters ([[PipelineParams]]) make a false negative
    * at the default threshold ~4e-10 per pair, so results match a
    * brute-force jaccard oracle; candidate volume stays proportional to
    * actually-similar pairs, not n².
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = MinhashJaccard): DataFrame = {
    // One signature frame feeds the band join AND both verification
    // joins. The previous shape planned TWO DIFFERENT heavy subtrees
    // (sig for bands, raw shingle sets for verify), so the corpus was
    // re-shingled four ways; now all four consumers share one
    // canonical subtree, and its repartition exchange is reused at
    // runtime instead of re-scanned (guide §2.4). Docs with no
    // shingles can never appear in a candidate pair, so the
    // minhashSignatures filter does not change the output.
    val sigs = minhashSignatures(df, idCol, textCol)
    val bands = bandedKeys(sigs, isNew = false).drop("is_new")

    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()

    // verification on the 60-bit hashed shingle sets (the incremental
    // path's rule): hashing is injective on a doc pair's shingles up to
    // a ~8e-16 collision, so the jaccard VALUE equals the raw-set
    // jaccard the oracle brute-forces
    candidates
      .join(sigs.select(col("id"), col("hs").as("ha")), col("a_id") === col("id"))
      .drop("id")
      .join(sigs.select(col("id"), col("hs").as("hb")), col("b_id") === col("id"))
      .drop("id")
      .select(col("a_id"), col("b_id"),
        jaccardHashed(col("ha"), col("hb")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Per-doc MinHash signature table: (id, hs, sig) — hashed shingle
    * set plus the k-permutation signature. This is the state a 100 TB
    * pipeline PERSISTS (a lake table keyed by id): incremental batches
    * then dedup against the corpus without re-reading any document
    * text, paying only O(|batch| + matching band buckets) per batch.
    */
  def minhashSignatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    shingleSets(df, idCol, textCol, spread = true)
      .filter(size(col("shingles")) > 0)
      .withColumn("hs", TextOps.hashAll("shingles"))
      .select(col("id"), col("hs"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.MinHashSig(
          org.apache.spark.sql.GraftBridge.expression(col("hs")))).as("sig"))

  /** Banded LSH keys for a signature table: (id, band, key, is_new). */
  private def bandedKeys(sigs: DataFrame, isNew: Boolean): DataFrame =
    sigs.select(col("id"), posexplode(
        expr(s"""transform(sequence(0, ${MinhashBands - 1}), j ->
                 |  element_at(sig, ${MinhashR}*j + 1) * $P +
                 |  element_at(sig, ${MinhashR}*j + 2))""".stripMargin)))
      .toDF("id", "band", "key")
      .filter(col("key").isNotNull)
      .withColumn("is_new", lit(isNew))

  /** Incremental near-dup detection: near-dup pairs between a NEW batch
    * of documents and an existing corpus whose signatures were
    * precomputed by [[minhashSignatures]] — corpus documents are never
    * re-shingled, and corpus–corpus pairs (already known) are excluded
    * by construction. Returns (a_id, b_id, jaccard), a_id < b_id, where
    * at least one side is from the new batch; same ~4e-10 false-negative
    * bound as [[minhashPairs]] at the default threshold.
    *
    * Scale shape: one band-key shuffle join over corpus ∪ batch keys
    * with the corpus–corpus quadrant masked out, then exact-jaccard
    * verification on candidates only. Per-batch cost is proportional to
    * the batch plus its collisions, not the corpus.
    */
  def incrementalMinhashPairs(corpusSigs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String,
      minJaccard: Double = MinhashJaccard): DataFrame = {
    val newSigs = minhashSignatures(newDocs, idCol, textCol)
    val keys = bandedKeys(corpusSigs, isNew = false)
      .unionByName(bandedKeys(newSigs, isNew = true))
    val candidates = keys.as("x").join(keys.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id") &&
          (col("x.is_new") || col("y.is_new")))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"))
      .distinct()
    val hs = corpusSigs.select(col("id"), col("hs"))
      .unionByName(newSigs.select(col("id"), col("hs")))
    candidates
      .join(hs.select(col("id"), col("hs").as("ha")), col("a_id") === col("id"))
      .drop("id")
      .join(hs.select(col("id"), col("hs").as("hb")), col("b_id") === col("id"))
      .drop("id")
      .select(col("a_id"), col("b_id"),
        jaccardHashed(col("ha"), col("hb")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** SimHash near-duplicate pairs at hamming distance ≤ `maxHamming`
    * (default 3). Candidates come from a [[PipelineParams.SimhashBands]]-band
    * equality join; by pigeonhole, any pair within distance 3 shares at
    * least one of the 4 bands — the band join is EXACTLY equivalent to
    * the brute-force O(n²) scan, at shuffle-join cost.
    * Output: (a_id, b_id, hamming).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = SimhashMaxHamming): DataFrame = {
    // no Par.spread: the banded self-join consumes this frame twice,
    // duplicating the round-robin exchange (measured 2.2x slower)
    val sim = df.withColumn("__ws", TextOps.words(col(textCol)))
      .withColumn("__whs", TextOps.hashAll("__ws"))
      .select(col(idCol).as("id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.SimHash60(
          org.apache.spark.sql.GraftBridge.expression(col("__whs"))))
        .as("simhash"))

    val bands = sim.select(col("id"), col("simhash"), posexplode(
        expr(s"""transform(sequence(0, ${SimhashBands - 1}), j ->
                 |  (shiftright(simhash, ${SimhashBandBits}*j) &
                 |   ${(1L << SimhashBandBits) - 1}))""".stripMargin)))
      .toDF("id", "simhash", "band", "key")

    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        bit_count(expr("x.simhash ^ y.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Collapse near-dup PAIRS into groups: connected components by
    * iterative min-label propagation over the pair graph — each round
    * is one shuffle join, converging in O(log(diameter)) rounds (near
    * -dup components are tiny, so the bound is loose). Returns
    * (id, representative) for every id that appears in a pair.
    */
  def dedupGroups(pairs: DataFrame, maxRounds: Int = 10): DataFrame = {
    // materialize the edge list once: it is joined EVERY round, and
    // without this the full upstream pair pipeline (band join + verify)
    // replays per iteration
    val edges = pairs.select(col("a_id"), col("b_id"))
      .union(pairs.select(col("b_id"), col("a_id")))
      .toDF("src", "dst").distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("rep", col("id"))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min("rep").as("nrep"))
      val next = labels.join(viaNeighbor, Seq("id"), "left")
        .select(col("id"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
      val changed = next.as("n").join(labels.as("o"), Seq("id"))
        .filter(col("n.rep") =!= col("o.rep")).limit(1).count()
      labels = next.localCheckpoint(true) // truncate the iterative lineage
      converged = changed == 0
      round += 1
    }
    labels
  }

  /** Quality-aware near-dup collapse: each connected component of the
    * near-dup pair graph keeps its BEST-scoring document (score desc,
    * id asc — real pipelines keep the best copy, not the first one
    * seen). Composition: [[dedupGroups]] labels, a left join back to
    * the corpus (docs outside any pair are their own group), and one
    * group-partitioned window for the argmax — no global window, no
    * driver state. Output: (doc_id, grp, score, keep).
    */
  def keepBestPerGroup(df: DataFrame, idCol: String,
      scoreCol: org.apache.spark.sql.Column,
      pairs: DataFrame): DataFrame = {
    val labels = dedupGroups(pairs).withColumnRenamed("id", "__lid")
    df.select(col(idCol).as("doc_id"), scoreCol.as("score"))
      .join(labels, col("doc_id") === col("__lid"), "left")
      .withColumn("grp", coalesce(col("rep"), col("doc_id")))
      .drop("__lid", "rep")
      .withColumn("keep", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp")
          .orderBy(col("score").desc, col("doc_id"))) === 1)
  }

  /** n-gram-Jaccard near-dup pairs via PREFIX FILTERING (SSJoin /
    * All-Pairs / PPJoin candidate rule) — provably exact AND
    * hot-shingle-safe, so this IS the judged differential path.
    *
    * Candidate rule: order every document's distinct shingles by
    * ascending global document frequency (ties by hash — any common
    * total order works); index only each document's first
    * `|d| − ⌈t·|d|⌉ + 1` shingles; candidates are pairs sharing ≥1
    * INDEXED shingle.
    *
    * Zero-false-negative proof: J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ≥
    * ⌈t·max(|A|,|B|)⌉. Suppose A and B share no indexed shingle. Under
    * the common total order, every shared shingle then lies in the
    * unindexed suffix of A or of B. A's suffix has ⌈t·|A|⌉ − 1
    * elements, so at most ⌈t·|A|⌉ − 1 shared shingles sit there; the
    * remaining shared shingles sit in A's prefix, hence (by
    * assumption) in B's suffix of ⌈t·|B|⌉ − 1 elements — but the last
    * prefix element of A is ordered ≤ the last prefix element of B or
    * vice versa, and counting along the order shows the two suffixes
    * can absorb at most ⌈t·max(|A|,|B|)⌉ − 1 shared shingles in total
    * (Chaudhuri et al., "A Primitive Operator for Similarity Joins",
    * ICDE'06, Lemma 1) — contradicting |A∩B| ≥ ⌈t·max(|A|,|B|)⌉.
    *
    * Scale posture: df-ascending ordering pushes stopword-like hot
    * shingles into the unindexed suffixes, so the self-join's Σdf²
    * cost is driven by RARE shingles; verification joins the full
    * shingle sets only for the (subquadratic) candidate pairs.
    * Output: (a_id, b_id, jaccard ≥ minJaccard) — bit-equal to brute
    * force, which is what the DuckDB oracle computes.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double): DataFrame = {
    // every downstream consumer works on xxhash64'd shingles: 8-byte
    // codegen'd keys/elements instead of shingle text — same pair set
    // and same jaccard values (a collision would need two distinct
    // shingles at the same 64-bit hash, odds ~2^-64 per pair), with a
    // far smaller shuffle payload in BOTH the candidate and the
    // verification joins
    val sized = shingleSets(df, idCol, textCol)
      .withColumn("size", size(col("shingles")))
      .filter(col("size") > 0)
      .select(col("id"),
        expr("transform(shingles, s -> xxhash64(s))").as("hs"),
        col("size"))
    val toks = sized.select(col("id"), col("size"),
      explode(col("hs")).as("sh"))
    // global df per shingle (shingles are distinct within a doc, so
    // count(*) = document frequency); map-side-combined aggregation
    val dfreq = toks.groupBy("sh").agg(count(lit(1)).as("df"))
    // ⌈t·size⌉ must round up EXACTLY: double arithmetic can overshoot
    // (0.07*100 = 7.000000000000001 → ceil 8), shortening the prefix
    // below the sound bound and silently dropping threshold-boundary
    // pairs. A decimal literal of t's shortest representation makes the
    // product exact, so ceil is the true mathematical ceiling.
    val tExact = lit(java.math.BigDecimal.valueOf(minJaccard))
    // prefix selection regroups each doc's (df, sh) tokens with a hash
    // shuffle and sorts the ~|d| entries in memory — replacing a global
    // sort-shuffle window over the whole token stream, whose sort cost
    // is corpus-wide rather than per-doc
    val prefix = toks.join(dfreq, "sh")
      .groupBy("id")
      .agg(collect_list(struct(col("df"), col("sh"))).as("ts"),
        any_value(col("size")).as("size"))
      .withColumn("k",
        (col("size") - ceil(tExact * col("size")) + 1).cast("int"))
      .select(col("id"),
        explode(expr("transform(slice(array_sort(ts), 1, k), x -> x.sh)"))
          .as("sh"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id")).distinct()
    // exact verification over the full (hashed) shingle sets, candidates
    // only; both joins shuffle the SAME `sized` projection by id, so
    // ReuseExchange computes the shingle sets once for the pair
    val withA = cand.join(sized, cand("a_id") === sized("id"))
      .select(col("a_id"), col("b_id"), col("hs").as("__hsA"),
        col("size").as("sa"))
    withA.join(sized, withA("b_id") === sized("id"))
      .withColumn("inter", intersectSize(col("__hsA"), col("hs")))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("sa") + col("size") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[ngramJaccardPairs]] over the df-capped shingle universe: shingles
    * occurring in more than `maxDf` documents are dropped from every
    * set BEFORE similarity (the CCNet-style hot-token control), and the
    * returned jaccard is exact over what remains. This is the knob that
    * bounds candidate volume under vocabulary-concentration growth: a
    * shingle's posting list — and with it the quadratic per-token
    * candidate term — can never exceed `maxDf` rows, at the documented
    * cost that pairs similar ONLY through ultra-common shingles (near-
    * zero-information matches by construction) are not reported.
    * Documents whose every shingle is capped away drop out entirely.
    */
  /** Edit-distance similarity self-join (Ed-Join — Xiao, Wang & Lin,
    * VLDB 2008): every unordered string pair within levenshtein
    * distance `maxDist`, without the n² cross product.
    *
    * Grams are sentinel-padded q-grams (q−1 U+0001 chars at each
    * end — padding buys every string q−1 extra grams, shrinking the
    * gram-poor class; a literal U+0001 in data can only produce an
    * extra candidate the verify step drops, never a false negative). One edit touches at most `q` grams, so strings within
    * distance d differ by at most q·d grams each way — under the
    * rarest-first global gram order, the q·d+1-gram prefixes of two
    * close strings must intersect *provided both carry more than q·d
    * distinct grams*, so those candidates meet on an EQUI gram key.
    * Gram-poor strings (≤ q·d distinct grams — short or
    * single-character-run degenerates; a bounded universe, not a
    * corpus-sized class) take a broadcast fallback leg against the
    * ≤ 2·q·d-gram strings (an edit adds ≤ q grams, so a close partner
    * of a gram-poor string is itself gram-poor-ish). Both legs length-
    * filter and verify with exact `levenshtein`; the legs partition
    * the pair space (both-rich vs at-least-one-poor), so no pair is
    * emitted twice.
    */
  def editDistancePairs(df: DataFrame, strCol: String, maxDist: Int,
      q: Int = 2): DataFrame = {
    require(maxDist >= 0 && q >= 1, "maxDist >= 0, q >= 1")
    val pad = "\u0001" * (q - 1)
    val strs = df.select(col(strCol).as("s"))
      .filter(length(col("s")) > 0).distinct()
      .withColumn("__p", concat(lit(pad), col("s"), lit(pad)))
      .withColumn("gs", expr(
        s"""array_distinct(transform(
           |  sequence(1, length(s) + ${q - 1}),
           |  i -> substring(__p, i, $q)))""".stripMargin))
      .withColumn("gc", size(col("gs")))
      .drop("__p")
    val poorMax = q * maxDist

    // rich leg: prefix-filtered equi join on rarest-first grams
    val rich = strs.filter(col("gc") > poorMax)
    val toks = rich.select(col("s"), explode(col("gs")).as("g"))
    val dfreq = toks.groupBy("g").agg(count(lit(1)).as("df"))
    val k = poorMax + 1
    val prefix = toks.join(dfreq, "g")
      .groupBy("s")
      .agg(collect_list(struct(col("df"), col("g"))).as("ts"))
      .select(col("s"),
        explode(expr(s"transform(slice(array_sort(ts), 1, $k), x -> x.g)"))
          .as("g"))
    val richCand = prefix.as("x").join(prefix.as("y"),
        col("x.g") === col("y.g") && col("x.s") < col("y.s") &&
          abs(length(col("x.s")) - length(col("y.s"))) <= maxDist)
      .select(col("x.s").as("s1"), col("y.s").as("s2")).distinct()

    // poor leg: gram-poor strings broadcast against the ≤ 2·q·d-gram
    // class; least/greatest ordering because the poor side may hold
    // either endpoint of the pair
    val poor = strs.filter(col("gc") <= poorMax).select(col("s").as("ps"))
    val semi = strs.filter(col("gc") <= 2 * poorMax).select(col("s").as("qs"))
    val poorCand = semi.join(broadcast(poor),
        col("ps") =!= col("qs") &&
          abs(length(col("ps")) - length(col("qs"))) <= maxDist)
      .select(least(col("ps"), col("qs")).as("s1"),
        greatest(col("ps"), col("qs")).as("s2")).distinct()

    richCand.unionByName(poorCand)
      .withColumn("dist", levenshtein(col("s1"), col("s2")))
      .filter(col("dist") <= maxDist)
  }

  def ngramJaccardPairsCapped(df: DataFrame, idCol: String,
      textCol: String, minJaccard: Double, maxDf: Long): DataFrame = {
    val toks0 = shingleSets(df, idCol, textCol)
      .filter(size(col("shingles")) > 0)
      .select(col("id"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("sh"))
    val dfreq = toks0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // inner join = the cap: capped tokens vanish from every set; df
    // rides along for the prefix sort
    val toks = toks0.join(dfreq, "sh")
    // ONE grouped exchange feeds both the verification sets and the
    // prefix selection (ReuseExchange) — same shape as the uncapped
    // operator's `sized`
    val grouped = toks.groupBy("id")
      .agg(collect_list(struct(col("df"), col("sh"))).as("ts"))
      .withColumn("size", size(col("ts")))
    val sized = grouped.select(col("id"),
      expr("transform(ts, x -> x.sh)").as("hs"), col("size"))
    val tExact = lit(java.math.BigDecimal.valueOf(minJaccard))
    val prefix = grouped
      .withColumn("k",
        (col("size") - ceil(tExact * col("size")) + 1).cast("int"))
      .select(col("id"),
        explode(expr("transform(slice(array_sort(ts), 1, k), x -> x.sh)"))
          .as("sh"))
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id")).distinct()
    val withA = cand.join(sized, cand("a_id") === sized("id"))
      .select(col("a_id"), col("b_id"), col("hs").as("__hsA"),
        col("size").as("sa"))
    withA.join(sized, withA("b_id") === sized("id"))
      .withColumn("inter", intersectSize(col("__hsA"), col("hs")))
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") /
          (col("sa") + col("size") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Line-level cross-corpus dedup (the CCNet/FineWeb boilerplate
    * filter): any line whose normalized fingerprint occurs in MORE than
    * `maxDocs` distinct documents is boilerplate (nav bars, cookie
    * banners, license headers) and is removed from EVERY document;
    * surviving lines are reassembled in original order.
    *
    * `linesCol` is an array<string> of the document's lines — callers
    * pass `split(text, '\n')` for real line-structured text, or any
    * deterministic segmentation (the judged query uses fixed word
    * windows because the fixture corpus is single-line). Normalization
    * before counting: trim + collapse whitespace + lowercase, hashed to
    * a portable 60-bit key ([[TextOps.hash60]]) so the shuffle carries
    * 8-byte keys, not line text.
    *
    * Scale shape: one map-side-combined groupBy on the line hash counts
    * distinct docs per line; the hot-line set (boilerplate is by nature
    * a tiny fraction of distinct lines) feeds a left-anti join that AQE
    * turns into a broadcast; one groupBy(id) reassembles. No driver
    * materialization, no per-document jobs.
    *
    * Output: (id, clean_text, n_kept, n_removed) — one row per input
    * document, `clean_text = ''` when every line was boilerplate.
    */
  def dedupLines(df: DataFrame, idCol: String, linesCol: Column,
      maxDocs: Long = 1, lineSep: String = "\n"): DataFrame = {
    val base = df.select(col(idCol).as("id"), linesCol.as("__lines"))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
    val lines = base
      .select(col("id"), posexplode(col("__lines")).as(Seq("line_no", "line")))
      .withColumn("lh", TextOps.hash60(
        regexp_replace(trim(lower(col("line"))), "\\s+", " ")))
    val hot = lines.groupBy("lh")
      .agg(count_distinct(col("id")).as("docs"))
      .filter(col("docs") > maxDocs)
      .select("lh")
    val kept = lines.join(hot, Seq("lh"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(collect_list(struct(col("line_no"), col("line"))).as("ls"))
      .select(col("id"),
        array_join(expr("transform(array_sort(ls), x -> x.line)"), lineSep)
          .as("clean_text"),
        size(col("ls")).cast("long").as("n_kept"))
    base.select(col("id"), col("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Per-line document frequencies of a corpus — the PERSISTED state for
    * incremental line dedup (a lake table keyed by line hash). One
    * map-side-combined aggregation; 16 bytes per distinct line.
    * Output: (lh, docs).
    */
  def lineStats(df: DataFrame, idCol: String, linesCol: Column): DataFrame =
    df.select(col(idCol).as("id"), explode(linesCol).as("line"))
      .select(col("id"), TextOps.hash60(
        regexp_replace(trim(lower(col("line"))), "\\s+", " ")).as("lh"))
      .groupBy("lh").agg(count_distinct(col("id")).as("docs"))

  /** Incremental [[dedupLines]]: clean a NEW batch against a corpus
    * whose line frequencies were precomputed by [[lineStats]] — corpus
    * documents are never re-read; a line is boilerplate when its
    * corpus + batch document count exceeds `maxDocs`. Per-batch cost is
    * O(batch lines) plus one join against the state table on the 8-byte
    * line key (state-side shuffle prunes to keys the batch touches).
    * Output: same shape as [[dedupLines]]. Union the batch's
    * [[lineStats]] into the state table afterwards to absorb the batch.
    */
  def dedupLinesIncremental(corpusStats: DataFrame, newDocs: DataFrame,
      idCol: String, linesCol: Column, maxDocs: Long = 1,
      lineSep: String = "\n"): DataFrame = {
    val base = newDocs.select(col(idCol).as("id"), linesCol.as("__lines"))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
    val lines = base
      .select(col("id"), posexplode(col("__lines")).as(Seq("line_no", "line")))
      .withColumn("lh", TextOps.hash60(
        regexp_replace(trim(lower(col("line"))), "\\s+", " ")))
    val batchDf = lines.groupBy("lh")
      .agg(count_distinct(col("id")).as("bdocs"))
    val hot = batchDf
      .join(corpusStats.select(col("lh"), col("docs").as("cdocs")),
        Seq("lh"), "left")
      .filter(coalesce(col("cdocs"), lit(0L)) + col("bdocs") > maxDocs)
      .select("lh")
    val kept = lines.join(hot, Seq("lh"), "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(collect_list(struct(col("line_no"), col("line"))).as("ls"))
      .select(col("id"),
        array_join(expr("transform(array_sort(ls), x -> x.line)"), lineSep)
          .as("clean_text"),
        size(col("ls")).cast("long").as("n_kept"))
    base.select(col("id"), col("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Exact duplicate-substring spans — the substring-level dedup of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), re-expressed Spark-first. Every `window`-token
    * sliding window whose exact text occurs at least twice anywhere in
    * the corpus is a duplicate window; overlapping or token-adjacent
    * duplicate windows inside a document merge into maximal spans — the
    * units a curation pipeline cuts or down-weights.
    *
    * The paper builds one corpus-wide suffix array (inherently
    * single-machine); the Spark-native shape is a linear hash-group of
    * the corpus's rolling windows: windows materialize scan-locally as
    * compact xxhash64 keys (identical grouping to the raw text —
    * a collision needs two distinct windows at the same 64-bit value,
    * odds ~2^-64 per pair), duplicate keys come from ONE map-side-
    * combined aggregation, positions rejoin on the same key, and the
    * island merge is a per-document window pass. Total cost is
    * O(corpus tokens) shuffle bytes and is skew-free: window keys are
    * near-unique except for the duplicates themselves.
    *
    * Output: one row per (id, span) — 0-based token `start_pos`,
    * inclusive token `end_pos`, and `n_windows` duplicate windows
    * merged into the span.
    *
    * See [[cutSpans]] for the applying side.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = SpanWindow): DataFrame = {
    require(window >= 2, s"duplicateSpans: window must be >= 2 (got $window)")
    val wins = df
      .select(col(idCol).as("id"), TextOps.words(col(textCol)).as("ws"))
      .select(col("id"), explode(expr(
        s"""CASE WHEN size(ws) >= $window
           |  THEN transform(sequence(0, size(ws) - $window),
           |    i -> struct(i AS pos,
           |      xxhash64(array_join(slice(ws, i + 1, $window), ' ')) AS key))
           |  ELSE array() END""".stripMargin)).as("w"))
      .select(col("id"), col("w.pos").as("pos"), col("w.key").as("key"))
    val dup = wins.groupBy("key").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    // windows at positions p < q overlap or touch iff q - p <= window;
    // a new island starts where that gap rule breaks
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    wins.join(dup, "key")
      .withColumn("fresh",
        when(col("pos") - lag("pos", 1).over(byDoc) <= window, 0).otherwise(1))
      .withColumn("span", sum("fresh").over(byDoc))
      .groupBy("id", "span")
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + lit(window - 1)).as("end_pos"),
        count(lit(1)).as("n_windows"))
      .select(col("id"), col("span"), col("start_pos"), col("end_pos"),
        col("n_windows"))
  }

  /** Apply [[duplicateSpans]] as a CUT: remove every duplicate span's
    * tokens from every document and reassemble the survivors in order
    * (the Lee et al. cut-all policy — content occurring twice anywhere
    * is removed everywhere; down-weighting instead is a caller choice
    * over the spans frame). Output: (id, clean_text, n_kept, n_cut),
    * one row per input document.
    *
    * Scale shape on top of the span detection: the token explode joins
    * spans on the doc id (equi) with the position range as a residual
    * predicate — span counts per doc are small, so the anti join stays
    * a hash join on id — and one groupBy(id) reassembles. Linear in
    * corpus tokens, no driver materialization.
    */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = SpanWindow): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, window)
      .select(col("id").as("sid"), col("start_pos"), col("end_pos"))
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextOps.words(col(textCol))).as(Seq("pos", "w")))
    val kept = toks.join(spans,
      toks("id") === col("sid") &&
        col("pos") >= col("start_pos") && col("pos") <= col("end_pos"),
      "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(collect_list(struct(col("pos"), col("w"))).as("ts"))
      .select(col("id"),
        array_join(expr("transform(array_sort(ts), x -> x.w)"), " ")
          .as("clean_text"),
        size(col("ts")).cast("long").as("n_kept"))
    df.select(col(idCol).as("id"),
        size(TextOps.words(col(textCol))).cast("long").as("n_words"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_cut"))
  }
}
