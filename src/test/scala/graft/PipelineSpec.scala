package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tests for the pipeline operators whose query-surface check is
  * rows-only (approximate / stubbed): LSH ANN recall vs. the exact
  * baseline, and the multimodal plumbing invariants. The exact
  * operators are covered by the DuckDB differential gate (Verify).
  */
class PipelineSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("lsh topk recall vs brute force") {
    val e = Tables.df(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < PipelineParams.NumQueryVectors)
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, e, "vec_id", "embedding")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // 16 deterministic hyperplanes, 4 bands: recall is fixed for the
    // fixture; assert a floor well above chance (k/N ≈ 0.05)
    assert(recall >= 0.4, s"LSH recall $recall too low")
  }

  test("lsh candidate set is subquadratic") {
    val e = Tables.df(spark, sf, "embeddings")
    val n = e.count()
    val withSig = e.withColumn("sig", Similarity.signature("embedding"))
    val buckets = withSig.groupBy(expr("sig & 15")).count().collect()
    // hyperplane signatures spread the corpus across buckets: the
    // biggest band-bucket must be well under the whole corpus
    assert(buckets.map(_.getLong(1)).max < n,
      "signature does not partition the corpus")
  }

  test("multimodal decode: schema, determinism, partition preservation") {
    val docs = Tables.df(spark, sf, "documents").repartition(7)
    val media = Multimodal.asMedia(docs, "doc_id", "text", "img/fake")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "payload", "meta"))
    val decoded = Multimodal.decodeImageStub(media)
    assert(decoded.schema == Multimodal.decodedSchema)
    assert(decoded.rdd.getNumPartitions == media.rdd.getNumPartitions,
      "mapPartitions must not reshuffle")
    val rows = decoded.orderBy("media_id").collect()
    assert(rows.length == docs.count())
    // deterministic: derived purely from payload bytes
    val again = Multimodal.decodeImageStub(media).orderBy("media_id").collect()
    assert(rows.sameElements(again))
    assert(rows.forall(r => r.getInt(1) >= 16 && r.getInt(2) >= 16))
  }

  test("real PPM decode: exact dimensions and mean, stub fallback") {
    import spark.implicits._
    // hand-built 2x2 P6 image with a comment line; pixel bytes chosen
    // so the mean is exact: (0+255)*6/2 /12 = 127.5
    val header = "P6\n# test\n2 2\n255\n".getBytes("US-ASCII")
    val pixels = Array.tabulate[Byte](12)(i => if (i % 2 == 0) 0 else -1)
    val ppm = header ++ pixels
    val junk = "not an image at all".getBytes("US-ASCII")
    val df = Seq((1L, ppm), (2L, junk)).toDF("media_id", "payload")
    val out = Multimodal.decodeImageStub(df).orderBy("media_id").collect()
    assert(out(0).getInt(1) == 2 && out(0).getInt(2) == 2 &&
      out(0).getInt(3) == 3)
    assert(out(0).getDouble(4) == 127.5)
    // non-PPM payload routes through the deterministic stub
    assert(out(1).getInt(1) == 16 + junk.length % 64)
    // truncated pixel data must NOT decode as an image
    val bad = header ++ pixels.take(5)
    val outBad = Multimodal.decodeImageStub(
      Seq((3L, bad)).toDF("media_id", "payload")).head()
    assert(outBad.getInt(1) != 2, "truncated PPM must fall back to stub")
  }

  test("real WAV decode: PCM samples to duration/rms/peak") {
    import spark.implicits._
    // hand-built mono 16-bit PCM WAV, 4 samples at 8000 Hz:
    // 0, 16384 (0.5), -16384 (-0.5), 32767 (~1.0)
    val samples = Seq[Short](0, 16384, -16384, 32767)
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    val wav = bb.array()
    val junk = "never audio".getBytes("US-ASCII")
    val df = Seq((1L, wav), (2L, junk)).toDF("media_id", "payload")
    val out = Multimodal.decodeWav(df).collect()
    assert(out.length == 1, "non-WAV payload yields no row")
    val r = out.head
    assert(r.getInt(1) == 1 && r.getInt(2) == 8000 && r.getLong(3) == 4L)
    assert(r.getDouble(4) == 4.0 / 8000)
    val expectRms = math.sqrt(
      samples.map(s => math.pow(s / 32768.0, 2)).sum / 4)
    assert(math.abs(r.getDouble(5) - expectRms) < 1e-12)
    assert(math.abs(r.getDouble(6) - 32767.0 / 32768.0) < 1e-12)
  }

  test("multimodal frame sample emits stride-spaced chunks") {
    val docs = Tables.df(spark, sf, "documents").limit(10)
    val media = Multimodal.asMedia(docs, "doc_id", "text", "vid/fake")
    val frames = Multimodal.frameSample(media, frameBytes = 64, stride = 2)
    val byDoc = frames.groupBy("media_id")
      .agg(count(lit(1)).as("n"), max("frame_bytes").as("mx"))
      .collect()
    assert(byDoc.nonEmpty)
    assert(byDoc.forall(_.getAs[Long]("mx") <= 64))
  }

  test("lsh cosine pairs: subset of exact pairs with usable recall") {
    val e = Tables.df(spark, sf, "embeddings")
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", 0.4)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshCosinePairs(e, "vec_id", "embedding", 0.4)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exact), "verification must kill false positives")
    if (exact.nonEmpty) {
      val recall = (exact & approx).size.toDouble / exact.size
      assert(recall >= 0.3, s"recall $recall") // 16 planes, 4 bands, cos>=0.4
    }
  }

  test("cosinePairsAuto dispatches by corpus size") {
    val e = Tables.df(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // under the limit: identical to the exact path
    assert(pairs(Similarity.cosinePairsAuto(e, "vec_id", "embedding", 0.4)) ==
      pairs(Similarity.cosinePairs(e, "vec_id", "embedding", 0.4)))
    // over the limit: the auto-sized banded path (shape from
    // lshAutoParams at the corpus count — (5,5) at this fixture's 500)
    val (bands, rows) = Similarity.lshAutoParams(e.count())
    assert(pairs(Similarity.cosinePairsAuto(e, "vec_id", "embedding", 0.4,
        exactLimit = 1)) ==
      pairs(Similarity.lshCosinePairsScaled(e, "vec_id", "embedding", 0.4,
        bands, rows)))
  }

  test("lshCosinePairsScaled at (4,4) is bit-identical to the fixed contract") {
    val e = Tables.df(spark, sf, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(Similarity.lshCosinePairsScaled(e, "vec_id", "embedding",
        0.4, PipelineParams.LshBands, PipelineParams.LshRowsPerBand)) ==
      rows(Similarity.lshCosinePairs(e, "vec_id", "embedding", 0.4)))
  }

  test("judged wide LSH shape IS the auto-sizer's pick at n=4096") {
    // the q_dedup_embedding_lsh_wide contract: its pinned shape must
    // stay exactly what cosinePairsAuto would run one power of two
    // past the exact-join cutoff — if lshAutoParams changes, this
    // fails and the judged constants must move with it
    assert(Similarity.lshAutoParams(4096L) ==
      ((PipelineParams.LshWideBands, PipelineParams.LshWideRows)))
    // and the wide banded join stays sound on the fixture: subset of
    // exact, with recall measured WHERE THE SHAPE PROMISES IT — the
    // auto-sizer's S-curve designs ≥95% detection at cos≈0.9; pairs
    // near a loose threshold are sacrificed for linear candidate
    // volume (that's the whole trade), so the bound is on high-cos
    // pairs, not the 0.4 tail
    val e = Tables.df(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(Similarity.cosinePairs(e, "vec_id", "embedding", 0.4))
    val wide = pairs(Similarity.lshCosinePairsScaled(e, "vec_id",
      "embedding", 0.4, PipelineParams.LshWideBands,
      PipelineParams.LshWideRows))
    assert(wide.keySet.subsetOf(exact.keySet))
    val high = exact.filter(_._2 >= 0.8).keySet
    if (high.nonEmpty)
      assert((high & wide.keySet).size.toDouble / high.size >= 0.9,
        s"high-cos recall ${(high & wide.keySet).size.toDouble / high.size}" +
          s" over ${high.size} pairs")
  }

  test("lshAutoParams holds bucket occupancy and recall as n grows") {
    // occupancy bound: n / 2^rows <= targetBucket until the rows cap
    for (n <- Seq(1000L, 10000L, 100000L, 1000000L, 100000000L)) {
      val (bands, rows) = Similarity.lshAutoParams(n)
      assert(rows <= 20 && bands <= 32)
      if (rows < 20)
        assert(n.toDouble / (1L << rows) <= PipelineParams.LshTargetBucket,
          s"n=$n rows=$rows occupancy ${n.toDouble / (1L << rows)}")
      // S-curve detection probability at the cos=0.9 design point
      val p = 1.0 - math.acos(0.9) / math.Pi
      val detect = 1.0 - math.pow(1.0 - math.pow(p, rows), bands)
      assert(detect >= 0.95 || bands == 32,
        s"n=$n shape ($bands,$rows) detect $detect")
    }
    // monotone: more data never narrows the shape
    val shapes = Seq(1000L, 100000L, 10000000L).map(Similarity.lshAutoParams(_))
    assert(shapes == shapes.sortBy(s => (s._2, s._1)))
  }

  test("wide auto shape still finds planted near-dup twins") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(PipelineParams.EmbeddingDim)(rnd.nextFloat() * 2 - 1)
    val base = (0L until 400L).map(i => (i, vec()))
    // 40 twins: base vector + tiny perturbation => cos ~ 0.999
    val twins = base.take(40).map { case (i, v) =>
      (1000L + i, v.map(x => x + rnd.nextFloat() * 0.01f))
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val (bands, rows) = Similarity.lshAutoParams(200000L) // wide: e.g. rows>=13
    assert(rows > PipelineParams.LshRowsPerBand &&
      bands > PipelineParams.LshBands)
    val found = Similarity.lshCosinePairsScaled(
        df, "vec_id", "embedding", 0.95, bands, rows)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = twins.count { case (tid, _) => found.contains((tid - 1000L, tid)) }
    assert(hits >= 36, s"wide shape found $hits/40 planted twins")
  }

  test("capped ngram join: cap=infinity equals the uncapped operator") {
    val d = Tables.df(spark, sf, "documents").limit(200)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val uncapped = pairs(Dedup.ngramJaccardPairs(d, "doc_id", "text", 0.5))
    assert(pairs(Dedup.ngramJaccardPairsCapped(d, "doc_id", "text", 0.5,
      Long.MaxValue)) == uncapped)
    // a real cap only removes pairs (capping shrinks shared shingles
    // at least as fast as set sizes for the pairs that survive is NOT
    // guaranteed — jaccard can move either way — so assert the exact
    // contract instead: results equal brute force over capped sets
    val capped = Dedup.ngramJaccardPairsCapped(d, "doc_id", "text", 0.5, 3L)
    val toks = d.withColumn("ws", org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.lower(col("text")), " "))
      .select(col("doc_id"), explode(TextOps.shingles("ws")).as("g"))
    val keep = toks.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 3)
    val sets = toks.join(keep, "g").groupBy("doc_id")
      .agg(collect_set(col("g")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val brute = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.5
    } yield (a, b, math.round(j * 1e9))).toSet
    assert(pairs(capped) == brute)
  }

  test("quality classifier: map weights reproduce the rule, labels threshold at 0") {
    val d = Tables.df(spark, sf, "documents").limit(100)
    val rule = Classifier.scoreRule(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(rule.nonEmpty)
    // keep is exactly score >= 0
    rule.values.foreach { case (s, keep) =>
      assert(keep == (s >= 0))
    }
    // a weight map materializing the rule gives identical scores
    val w = (0 until PipelineParams.QcBuckets).map { b =>
      val raw = (b * PipelineParams.QcWeightA + PipelineParams.QcWeightB) %
        PipelineParams.QcWeightMod - PipelineParams.QcWeightMod / 2
      b -> raw.toDouble / (PipelineParams.QcWeightMod / 2.0)
    }.toMap
    val mapped = Classifier.scoreLinear(d, "doc_id", "text", w).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(mapped == rule)
  }

  test("keepRule scan-local fold gates exactly the scoreRule-kept docs") {
    val d = Tables.df(spark, sf, "documents").limit(200)
    val viaAgg = Classifier.scoreRule(d, "doc_id", "text")
      .filter(col("keep")).select("id").collect().map(_.getLong(0)).toSet
    val viaFold = d
      .withColumn("__ws", org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.lower(col("text")), " "))
      .filter(Classifier.keepRule("__ws"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaFold == viaAgg)
    assert(viaFold.nonEmpty && viaFold.size < 200,
      s"degenerate gate: ${viaFold.size}/200 kept")
  }

  test("dedup groups: connected components collapse transitive pairs") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated pair 10-11: components {1,2,3}, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val groups = Dedup.dedupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // end-to-end: groups over the fixture's minhash pairs
    val docs = Tables.df(spark, sf, "documents")
    val g2 = Dedup.dedupGroups(Dedup.minhashPairs(docs, "doc_id", "text"))
    val reps = g2.select("rep").distinct().count()
    assert(g2.count() >= reps && reps >= 1)
  }

  test("prefix-filtered ngram join equals brute force (zero false negatives)") {
    val docs = Tables.df(spark, sf, "documents")
    // brute-force reference: all-pairs exact jaccard over shingle sets
    import graft.operators.TextOps
    val sets = docs.withColumn("__ws", TextOps.words(col("text")))
      .select(col("doc_id"), org.apache.spark.sql.GraftBridge.column(
        graft.functions.WordShingles(
          org.apache.spark.sql.GraftBridge.expression(col("__ws")),
          PipelineParams.ShingleN)).as("sh"))
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val brute = sets.as("a").join(sets.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .withColumn("j", Dedup.jaccard(col("a.sh"), col("b.sh")))
        .filter(col("j") >= t)
        .select(col("a.doc_id"), col("b.doc_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pref = Dedup.ngramJaccardPairs(docs, "doc_id", "text", t)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pref == brute, s"t=$t prefix=${pref.size} brute=${brute.size}")
    }
  }

  test("minhash pairs equal exact jaccard pairs (recall proof at fixture)") {
    val docs = Tables.df(spark, sf, "documents")
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        PipelineParams.MinhashJaccard)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"minhash=${lsh.size} exact=${exact.size}")
  }

  test("incremental dedup equals full-corpus pairs restricted to the batch") {
    val docs = Tables.df(spark, sf, "documents")
    val isNew = col("doc_id") % 10 === 9
    val corpusSigs = Dedup.minhashSignatures(
      docs.filter(!isNew), "doc_id", "text")
    val inc = Dedup.incrementalMinhashPairs(
        corpusSigs, docs.filter(isNew), "doc_id", "text")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 10 == 9 || b % 10 == 9 }.toSet
    assert(inc == full, s"incremental=${inc.size} full-restricted=${full.size}")
  }

  test("misra-gries guarantee: heavy hitters survive on skewed data") {
    import spark.implicits._
    graft.functions.PgFunctions.register(spark)
    // zipf-ish skew: item i appears ~ n/i times, 200 distinct, k = 10
    val rows = (1 to 200).flatMap(i => Seq.fill(2000 / i)(s"item$i"))
    val n = rows.size
    val k = 10
    val got = rows.toDF("v").repartition(7)
      .selectExpr(s"explode(approx_top_items(v, $k)) AS e")
      .select("e.item", "e.count").as[(String, Long)].collect().toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // every item with true count > n/(k+1) must be present
    val mustHave = exact.filter(_._2 > n / (k + 1))
    assert(mustHave.keySet.subsetOf(got.keySet),
      s"missing heavies: ${mustHave.keySet -- got.keySet}")
    // counts are never overestimates and undershoot by at most n/(k+1)
    got.foreach { case (item, c) =>
      val ex = exact(item)
      assert(c <= ex && ex - c <= n / (k + 1), s"$item: got $c exact $ex")
    }
  }

  test("real PPM nearest-neighbor resize: hand pixels, 2-byte, non-PPM") {
    import spark.implicits._
    def ppm(w: Int, h: Int, px: Seq[Int]): Array[Byte] =
      (s"P6\n$w $h\n255\n".getBytes("US-ASCII").toSeq ++
        px.map(_.toByte)).toArray
    // 2x2 RGB image with distinct corner values; NN to 1x1 keeps the
    // TOP-LEFT pixel (src index x*w/outW = 0)
    val px22 = Seq(
      10, 11, 12,  20, 21, 22,
      30, 31, 32,  40, 41, 42)
    val media = Multimodal.asMedia(
      Seq((1L, ppm(2, 2, px22)),
        (2L, "not a ppm".getBytes("US-ASCII")))
        .toDF("doc_id", "payload"), "doc_id", "payload", "image/ppm")
    val out = Multimodal.resizePpm(media, 1, 1).collect()
    // non-PPM payload drops (flatMap posture)
    assert(out.length == 1 && out(0).getLong(0) == 1L)
    val body = out(0).getAs[Array[Byte]]("payload")
    assert(new String(body.take(8), "US-ASCII") == "P6\n1 1\n2")
    assert(body.takeRight(3).toSeq == Seq[Byte](10, 11, 12))
    // and the resized payload re-decodes with the production decoder
    val dec = Multimodal.decodeImageStub(
      Multimodal.resizePpm(media, 1, 1)).collect()
    assert(dec.length == 1 && dec(0).getInt(1) == 1 &&
      dec(0).getInt(2) == 1 && dec(0).getDouble(4) == 11.0)
    // 4x1 -> 2x1 picks source columns 0 and 2
    val px41 = Seq(1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4)
    val m41 = Multimodal.asMedia(Seq((3L, ppm(4, 1, px41)))
      .toDF("doc_id", "payload"), "doc_id", "payload", "image/ppm")
    val r41 = Multimodal.resizePpm(m41, 2, 1).collect()(0)
      .getAs[Array[Byte]]("payload")
    assert(r41.takeRight(6).toSeq == Seq[Byte](1, 1, 1, 3, 3, 3))
    // 2-byte samples (maxval > 255): sample pairs move intact
    val hdr16 = "P6\n2 1\n300\n".getBytes("US-ASCII").toSeq
    val px16 = Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12).map(_.toByte)
    val m16 = Multimodal.asMedia(Seq((4L, (hdr16 ++ px16).toArray))
      .toDF("doc_id", "payload"), "doc_id", "payload", "image/ppm")
    val r16 = Multimodal.resizePpm(m16, 1, 1).collect()(0)
      .getAs[Array[Byte]]("payload")
    assert(r16.takeRight(6).toSeq == px16.take(6))
  }

  test("resize/decode robustness: null payloads, dirty headers, megapixel") {
    import spark.implicits._
    // NULL payload and an absurd digit run must DROP, not throw
    val dirty = Multimodal.asMedia(
      Seq((1L, null.asInstanceOf[Array[Byte]]),
        (2L, "P6 99999999999 2 255 xxxxxx".getBytes("US-ASCII")))
        .toDF("doc_id", "payload"), "doc_id", "payload", "image/ppm")
    assert(Multimodal.resizePpm(dirty, 2, 2).count() == 0)
    assert(Multimodal.decodeWav(dirty).count() == 0)
    // decodeImageStub falls back to the stub instead of crashing
    assert(Multimodal.decodeImageStub(dirty).count() == 2)
    // tall megapixel image: y*h overflows Int32 unless the NN index
    // math is done in Long (h = 3e6 wraps at y ≈ 716)
    val h = 3000000
    val big = (s"P6\n1 $h\n255\n").getBytes("US-ASCII") ++
      Array.fill(h * 3)(7.toByte)
    val bm = Multimodal.asMedia(Seq((3L, big)).toDF("doc_id", "payload"),
      "doc_id", "payload", "image/ppm")
    val out = Multimodal.resizePpm(bm, 1, 2000).collect()(0)
      .getAs[Array[Byte]]("payload")
    assert(out.takeRight(2000 * 3).forall(_ == 7.toByte))
    // oversized target product is refused loudly up front
    intercept[IllegalArgumentException] {
      Multimodal.resizePpm(bm, 40000, 40000)
    }
  }

  test("dHash: identical images at 0, banding equals brute force") {
    import spark.implicits._
    def ppm(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      ("P6\n10 9\n255\n".getBytes("US-ASCII").toSeq ++
        Seq.fill(10 * 9 * 3)(r.nextInt(256).toByte)).toArray
    }
    // 30 random images, a few exact duplicates planted
    val imgs = (0 until 30).map(i => (i.toLong, ppm(i % 25)))
    val media = Multimodal.asMedia(imgs.toDF("doc_id", "payload"),
      "doc_id", "payload", "image/ppm")
    val hashes = Multimodal.dHash(media)
    val hmap = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact duplicates hash identically
    assert(hmap(0L) == hmap(25L) && hmap(4L) == hmap(29L))
    val got = Multimodal.dhashPairs(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    // pigeonhole exactness: banded join == brute-force hamming scan
    val want = (for {
      a <- imgs.map(_._1); b <- imgs.map(_._1) if a < b
      d = java.lang.Long.bitCount(hmap(a) ^ hmap(b)) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == want, s"banded $got vs brute $want")
    assert(got.exists(_._3 == 0), "planted duplicates missing")
  }

  test("audio fingerprint: identical wavs equal, dirty payloads drop") {
    import spark.implicits._
    def wav(samples: Seq[Int]): Array[Byte] = {
      val ns = samples.size
      val bb = java.nio.ByteBuffer.allocate(44 + ns * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + ns * 2).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(64).putInt(128).putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(ns * 2)
      samples.foreach(v => bb.putShort(v.toShort))
      bb.array()
    }
    val loudThenQuiet = (0 until 128).map(i => if (i < 64) 2000 else 10)
    val rows = Seq(
      (1L, wav(loudThenQuiet)),
      (2L, wav(loudThenQuiet)),            // exact duplicate
      (3L, wav(loudThenQuiet.reverse)),    // mirrored energy profile
      (4L, "garbage".getBytes("US-ASCII")),
      (5L, null.asInstanceOf[Array[Byte]]))
    val media = Multimodal.asMedia(rows.toDF("doc_id", "payload"),
      "doc_id", "payload", "audio/wav")
    val fp = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.keySet == Set(1L, 2L, 3L), s"got ${fp.keySet}")
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L), "mirror must flip energy-step bits")
    // pairs machinery is signature-agnostic: the exact duplicate
    // surfaces at hamming 0
    val pairs = Multimodal.dhashPairs(
        Multimodal.audioFingerprint(media)
          .withColumnRenamed("afp", "dhash"), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("multimodal resize + feature extraction + waveform stats") {
    val docs = Tables.df(spark, sf, "documents").limit(20).repartition(5)
    val media = Multimodal.asMedia(docs, "doc_id", "text", "img/fake")

    val resized = Multimodal.resizeStub(media, 8, 8)
    assert(resized.schema == Multimodal.resizedSchema)
    assert(resized.rdd.getNumPartitions == media.rdd.getNumPartitions)
    val rrows = resized.collect()
    assert(rrows.forall(_.getAs[Array[Byte]]("payload").length == 64))

    val feats = Multimodal.extractFeaturesStub(media, dim = 16)
    assert(feats.schema == Multimodal.featureSchema)
    val frows = feats.collect()
    assert(frows.forall(_.getSeq[Float](1).length == 16))
    // L2-normalized: unit norm (within float tolerance) for nonempty payloads
    frows.foreach { r =>
      val v = r.getSeq[Float](1)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-3, s"norm $norm")
    }
    // features feed the similarity operators directly (media -> ANN)
    val fdf = feats.toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(
      fdf.filter(col("vec_id") < 5), fdf, "vec_id", "embedding")
    assert(topk.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == PipelineParams.TopK))

    val wav = Multimodal.waveformStats(media, windowBytes = 100)
    val wrows = wav.collect()
    assert(wrows.forall(r => r.getInt(2) == r.getSeq[Double](1).length))
    assert(wrows.forall(_.getSeq[Double](1).forall(v => v >= 0 && v <= 255)))
    // determinism
    assert(wav.orderBy("media_id").collect()
      .sameElements(Multimodal.waveformStats(media, 100)
        .orderBy("media_id").collect()))
  }

  test("winnow fingerprint: local-edit robustness, short-string edges") {
    import spark.implicits._
    def fp(s: String): Seq[Long] =
      Seq(s).toDF("t")
        .select(operators.TextOps.winnowFingerprint(col("t")).as("fp"))
        .head().getSeq[Long](0)
    val base = "the quick brown fox jumps over the lazy dog " * 20
    val a = fp(base)
    assert(a.nonEmpty && a == a.sorted && a.distinct == a)
    // a single-character edit perturbs only nearby k-grams: the
    // fingerprints stay mostly shared (winnowing's locality guarantee)
    val edited = base.updated(200, 'X')
    val b = fp(edited)
    val overlap = a.toSet.intersect(b.toSet).size.toDouble /
      math.max(a.size, b.size)
    assert(overlap > 0.8, s"overlap $overlap")
    // identical text -> identical fingerprint; disjoint text -> disjoint
    assert(fp(base) == a)
    assert(fp("entirely different content with no shared phrasing at all")
      .toSet.intersect(a.toSet).isEmpty)
    // shorter than K chars -> empty; exactly K -> one window min
    assert(fp("abc").isEmpty)
    assert(fp("abcdefg").length == 1)
  }

  test("decontamination flags planted benchmark n-grams only") {
    import spark.implicits._
    val bench = Seq((1L, "what is the capital city of france today"))
      .toDF("qid", "question")
    val corpus = Seq(
      (10L, "some clean document talking about entirely other topics here"),
      // contains the benchmark 5-gram "the capital city of france"
      (11L, "trivia dump: the capital city of france appears verbatim here"),
      (12L, "short doc"),
      (13L, "")).toDF("doc_id", "text")
    val out = Decontaminate.scan(corpus, "doc_id", "text", bench, "question")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L), "every corpus doc reported")
    assert(out(11L) > 0, "planted overlap missed")
    assert(out(10L) == 0 && out(12L) == 0 && out(13L) == 0,
      "clean/short/empty docs must not be flagged")
  }

  test("split assignment is deterministic and ratio-plausible") {
    val d = Tables.df(spark, sf, "documents")
    val s1 = Sampling.splitAssign(d, "doc_id", "sp1")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Sampling.splitAssign(d.repartition(7), "doc_id", "sp1")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2, "split must be stable under repartitioning")
    val evalFrac = s1.values.count(_ == "eval").toDouble / s1.size
    assert(evalFrac > 0.05 && evalFrac < 0.4, s"eval fraction $evalFrac")
    // different seed reshuffles the assignment
    val s3 = Sampling.splitAssign(d, "doc_id", "other-seed")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s3 != s1)
  }

  test("split leakage pairs cross the boundary and match pair dedup") {
    val d = Tables.df(spark, sf, "documents")
    val leaks = Sampling.splitLeakage(d, "doc_id", "text", "sp1").collect()
    leaks.foreach { r =>
      assert(r.getAs[String]("a_split") != r.getAs[String]("b_split"))
      assert(r.getAs[Double]("jaccard") >= PipelineParams.MinhashJaccard)
    }
    // leakage set == all near-dup pairs minus the same-split ones
    val splits = Sampling.splitAssign(d, "doc_id", "sp1")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = Dedup.minhashPairs(d, "doc_id", "text")
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => splits(a) != splits(b) }.toSet
    assert(leaks.map(r => (r.getLong(0), r.getLong(1))).toSet == expect)
  }

  test("lm coverage: bounded model, scores in [0,1], covered <= total") {
    val d = Tables.df(spark, sf, "documents")
    val model = LangModel.bigramModel(d, "text", k = 100)
    assert(model.count() <= 100)
    val cov = LangModel.coverage(d, "doc_id", "text", model).collect()
    assert(cov.length == d.count())
    cov.foreach { r =>
      val total = r.getAs[Long]("total_bigrams")
      val covered = r.getAs[Long]("covered_bigrams")
      val score = r.getAs[Double]("lm_coverage")
      assert(covered <= total)
      assert(score >= 0.0 && score <= 1.0)
      if (total == 0) assert(score == 0.0)
    }
    // a doc made purely of the corpus's most frequent bigram scores 1.0
    import spark.implicits._
    val top = model.orderBy(col("cnt").desc, col("g")).head().getString(0)
    val synthetic = Seq((999L, s"$top $top $top")).toDF("doc_id", "text")
    val s = LangModel.coverage(synthetic, "doc_id", "text", model)
      .head().getAs[Double]("lm_coverage")
    assert(s > 0.0, "top-model bigram must be covered")
  }

  test("semantic dedup: in-cluster rule, lowest id survives, covers input") {
    val e = Tables.df(spark, sf, "embeddings")
    val out = Similarity.semanticDedup(e, "vec_id", "embedding").collect()
    assert(out.length == e.count(), "every input row classified")
    val cid = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dup = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    // recompute the rule from the exact in-cluster pairs
    val pairs = Similarity.cosinePairs(e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.filter { case (a, b) => cid(a) == cid(b) }
      .map(_._2).toSet
    assert(dup == expect,
      s"dup set $dup must equal in-cluster higher-ids $expect")
    // the lowest id of every cluster can never be a duplicate
    val clusterMin = out.groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).min)
    clusterMin.foreach(m => assert(!dup.contains(m)))
  }

  test("exact distributed quantiles equal percentile_cont") {
    val li = Tables.df(spark, sf, "lineitem")
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = Stats.exactQuantiles(li, "l_extendedprice", qs)
    val expect = qs.map { q =>
      li.selectExpr(
        s"PERCENTILE_CONT($q) WITHIN GROUP (ORDER BY l_extendedprice)")
        .head().getDouble(0)
    }
    got.zip(expect).zip(qs).foreach { case ((g, e), q) =>
      assert(g == e, s"q=$q: selection $g != percentile_cont $e")
    }
    // robust when a rank lands on a partition boundary: tiny partition
    // count forces multi-partition hits
    val got2 = Stats.exactQuantiles(li, "l_extendedprice", qs,
      partitions = 3)
    assert(got2 == got)

    // grouped variant matches per-group percentile_cont
    val byStatus = Stats.exactQuantilesBy(li, "l_linestatus",
        "l_extendedprice", Seq(0.5)).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).head).toMap
    byStatus.foreach { case (st, v) =>
      val e = li.filter(col("l_linestatus") === st).selectExpr(
        "PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY l_extendedprice)")
        .head().getDouble(0)
      assert(v == e, s"group $st: $v != $e")
    }
    intercept[IllegalArgumentException] {
      Stats.exactQuantilesBy(li, "l_orderkey", "l_quantity", Seq(0.5),
        maxGroups = 10)
    }
  }

  test("duplicate spans: cross-doc and in-doc windows merge to maximal spans") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),          // shares "a b c d e" with doc 2
      (2L, "x y a b c d e q"),
      (3L, "z q w e r t y u i o p"),    // nothing duplicated
      (4L, "m n o p q m n o p q"))      // in-doc repeat: one merged span
      .toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", window = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet
    // doc 1: dup windows at 0,1,2 -> tokens [0, 4]; doc 2: at 2,3,4 ->
    // [2, 6]; doc 4: at 0,1,2,5,6,7 with gap 3 <= window -> ONE span
    // [0, 9] of 6 windows; doc 3: absent
    assert(spans == Set((1L, 0, 4, 3L), (2L, 2, 6, 3L), (4L, 0, 9, 6L)),
      s"got $spans")
  }

  test("line dedup: boilerplate removed everywhere, order kept, normalization folds case/space") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq("COOKIE BANNER", "alpha beta", "footer text")),
      (2L, Seq("cookie   banner", "gamma delta", "footer text")),
      (3L, Seq("unique one", "cookie banner", "unique two")),
      (4L, Seq("cookie banner")))
      .toDF("doc_id", "lines")
    val out = Dedup.dedupLines(docs, "doc_id", col("lines"), maxDocs = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // "cookie banner" (4 docs, via trim/collapse/lower normalization) and
    // "footer text" (2 docs) exceed maxDocs=1 -> removed from every doc;
    // unique lines survive in original order; doc 4 empties out
    assert(out.toSeq == Seq(
      (1L, "alpha beta", 1L, 2L),
      (2L, "gamma delta", 1L, 2L),
      (3L, "unique one\nunique two", 2L, 1L),
      (4L, "", 0L, 1L)), s"got ${out.toSeq}")
  }

  test("incremental line dedup == full-corpus filter restricted to the batch") {
    import spark.implicits._
    val d = Tables.df(spark, sf, "documents")
      .withColumn("ws", TextOps.words(col("text")))
      .withColumn("lines", expr(
        """transform(sequence(0, cast(ceil(size(ws) / 10.0) as int) - 1),
          |  i -> array_join(slice(ws, i * 10 + 1, 10), ' '))""".stripMargin))
    val full = Dedup.dedupLines(d, "doc_id", col("lines"), 1, " ")
      .filter(col("id") % 10 === 9)
      .orderBy("id").collect().toSeq
    val state = Dedup.lineStats(
      d.filter(col("doc_id") % 10 =!= 9), "doc_id", col("lines"))
    val inc = Dedup.dedupLinesIncremental(state,
        d.filter(col("doc_id") % 10 === 9), "doc_id", col("lines"), 1, " ")
      .orderBy("id").collect().toSeq
    assert(inc == full, "incremental diverges from the full-corpus filter")
    assert(inc.nonEmpty)
  }

  test("unicode normalize: NFC composes, NFD decomposes, SQL name registered") {
    import spark.implicits._
    val r = Seq(("éclair", "already ascii"))
      .toDF("a", "b")
      .select(TextOps.normalizeNfc(col("a")).as("na"),
        TextOps.normalizeNfc(col("b")).as("nb"),
        TextOps.normalizeNfc(lit(null).cast("string")).as("nn"))
      .first()
    assert(r.getString(0) == "éclair")
    assert(r.getString(1) == "already ascii")
    assert(r.isNullAt(2))
    graft.functions.PgFunctions.register(spark)
    val sqlRes = spark.sql(
      "SELECT normalize('é'), normalize('é', 'NFD')").first()
    assert(sqlRes.getString(0) == "é")
    assert(sqlRes.getString(1) == "é")
  }

  test("budget selection equals the serial greedy prefix") {
    import spark.implicits._
    val d = Seq((1L, 0.9, 10L), (2L, 0.8, 10L), (3L, 0.95, 15L),
      (4L, 0.8, 5L)).toDF("doc_id", "score", "toks")
    val out = Sampling.selectByBudget(d, "doc_id", col("score"),
        col("toks"), budget = 30, buckets = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
    // quality order: 3 (0.95, cum 15), 1 (0.9, cum 25), then the 0.8
    // tie breaks by id — 2 (cum 35), 4 (cum 40); budget 30 admits 3, 1
    assert(out.toSeq == Seq((1L, 25L, true), (2L, 35L, false),
      (3L, 15L, true), (4L, 40L, false)), s"got ${out.toSeq}")
  }

  // --- sequential reference BPE (Sennrich alg. 1, no end-of-word
  // marker), the single-node ground truth the distributed trainer and
  // the rank-priority encoder must both match exactly -----------------
  private def refBpeTrain(corpus: Seq[String], k: Int): Seq[(String, String)] = {
    val freq = corpus.flatMap(_.toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var vocab: Map[Vector[String], Long] =
      freq.map { case (w, f) => w.map(_.toString).toVector -> f }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some(((a, b), c)) if c >= 2 =>
          merges += ((a, b))
          vocab = vocab.map { case (syms, f) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                out += a + b; j += 2
              } else { out += syms(j); j += 1 }
            }
            out.toVector -> f
          }
        case _ => done = true
      }
    }
    merges.toSeq
  }

  private def refBpeEncode(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector
    for ((a, b) <- merges) {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < syms.length) {
        if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
          out += a + b; j += 2
        } else { out += syms(j); j += 1 }
      }
      syms = out.toVector
    }
    syms
  }

  test("bpe: distributed trainer matches the sequential reference merge-for-merge") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest widest widest",
      "lowest wide wider")
    val expected = refBpeTrain(corpus, 12)
    assert(expected.nonEmpty)
    val got = Bpe.train(corpus.toDF("text"), "text", 12)
    assert(got == expected, s"merges diverge:\n got=$got\n ref=$expected")
  }

  test("bpe: rank-priority encoder == training-order replay, exact roundtrip, unseen words ok") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest widest widest")
    val merges = Bpe.train(corpus.toDF("text"), "text", 10)
    val words = Seq("low", "lower", "newest", "widest", "lowest",
      "unseen", "w", "")
    val rows = words.toDF("w")
      .select(col("w"), Bpe.encodeWord(col("w"), merges).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    for (w <- words) {
      assert(rows(w) == refBpeEncode(w, merges),
        s"'$w': ${rows(w)} != ${refBpeEncode(w, merges)}")
      assert(rows(w).mkString("") == w, s"roundtrip broke for '$w'")
    }
    // compression actually happened on in-vocab words
    assert(rows("newest").length < "newest".length)
  }

  test("span cut removes every duplicate span, keeps the rest in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),          // span [0,4] -> keeps "f g h"
      (2L, "x y a b c d e q"),          // span [2,6] -> keeps "x y q"
      (3L, "z q w e r t y u i o p"),    // untouched
      (4L, "m n o p q m n o p q"))      // span [0,9] -> empties out
      .toDF("doc_id", "text")
    val out = Dedup.cutSpans(docs, "doc_id", "text", window = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "f g h", 3L, 5L),
      (2L, "x y q", 3L, 5L),
      (3L, "z q w e r t y u i o p", 11L, 0L),
      (4L, "", 0L, 10L)), s"got ${out.toSeq}")
  }

  test("classifier training recovers a separable labeling") {
    import spark.implicits._
    val docs = Tables.df(spark, sf, "documents")
    // labels from the deterministic rule => a perfectly separable
    // problem in the same feature space; full-batch LR must fit it
    val labeled = Classifier.scoreRule(docs, "doc_id", "text")
      .select(col("id").as("doc_id"),
        col("keep").cast("int").as("label"))
      .join(docs, "doc_id")
    val w = Classifier.train(labeled, "doc_id", "text", "label", iters = 30)
    assert(w.nonEmpty && w.keys.forall(b => b >= 0 && b < 1024))
    val pred = Classifier.scoreLinear(labeled, "doc_id", "text", w)
      .select(col("id").as("doc_id"), col("keep"))
    val acc = pred.join(
        labeled.select(col("doc_id"), (col("label") === 1).as("want")),
        "doc_id")
      .select(avg((col("keep") === col("want")).cast("double")))
      .first().getDouble(0)
    assert(acc >= 0.9, s"train accuracy $acc too low")
  }

  test("bm25: exact-phrase doc ranks first, k bound and rank order hold") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry"),
      (2L, "apple apple dog dog dog"),
      (3L, "dog emu fox grape"),
      (4L, "horse iguana jay kiwi lemur"))
      .toDF("doc_id", "text")
    val q = Seq((100L, "apple banana")).toDF("qid", "qtext")
    val top = Search.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 3)
      .orderBy("rk").collect()
    assert(top.length <= 3)
    // only docs containing a query term score at all
    assert(top.map(_.getLong(1)).toSet.subsetOf(Set(1L, 2L)))
    // doc 1 matches both terms (one rare) -> top rank
    assert(top.head.getLong(1) == 1L && top.head.getLong(3) == 1L)
    // scores weakly decrease with rank
    val sds = top.map(_.getLong(2))
    assert(sds.sameElements(sds.sorted.reverse))
  }

  test("grouped quantiles run a constant number of jobs") {
    val li = Tables.df(spark, sf, "lineitem")
    // single-job structure: the job count must not scale with group
    // count (the r6 implementation paid count+selection per group —
    // 3 groups would already exceed this bound)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Stats.exactQuantilesBy(li, "l_returnflag", "l_quantity",
        Seq(0.25, 0.5, 0.75)).collect()
      Thread.sleep(500) // listener bus is async; undercount only
    } finally spark.sparkContext.removeSparkListener(listener)
    // observed: 8 (guard distinct+count, range sampling, cell counts,
    // selection; AQE splits some). The r6 per-group loop would pay
    // ~4 jobs PER group (3 groups ⇒ 14+), so 9 cleanly separates.
    assert(jobs.get() <= 9,
      s"exactQuantilesBy ran ${jobs.get()} jobs — per-group looping?")
  }

  test("kmeans: objective non-increasing, deterministic, feeds dedup") {
    val emb = Tables.df(spark, sf, "embeddings")
    def objective(cent: org.apache.spark.sql.DataFrame): Double = {
      import org.apache.spark.sql.functions._
      val cn = cent.withColumn("cn", Similarity.norm(col("cv")))
      emb.select(col("vec_id").as("id"), col("embedding").as("v"))
        .withColumn("n", Similarity.norm(col("v")))
        .crossJoin(broadcast(cn))
        .withColumn("ccos",
          Similarity.dot(col("v"), col("cv")) / (col("n") * col("cn")))
        .groupBy("id").agg(max(col("ccos")).as("best"))
        .agg(sum(lit(1.0) - col("best"))).head().getDouble(0)
    }
    val c0 = Similarity.kmeans(emb, "vec_id", "embedding", iters = 0)
    val c1 = Similarity.kmeans(emb, "vec_id", "embedding", iters = 1)
    val c3 = Similarity.kmeans(emb, "vec_id", "embedding", iters = 3)
    val (o0, o1, o3) = (objective(c0), objective(c1), objective(c3))
    assert(o1 <= o0 + 1e-9, s"iteration 1 must not worsen: $o0 -> $o1")
    assert(o3 <= o1 + 1e-9, s"iteration 3 must not worsen: $o1 -> $o3")
    // deterministic under repartitioning
    val c3b = Similarity.kmeans(emb.repartition(7), "vec_id", "embedding",
      iters = 3)
    val a = c3.orderBy("cid").collect().map(_.toSeq)
    val b = c3b.orderBy("cid").collect().map(_.toSeq)
    assert(a.sameElements(b), "kmeans must be partition-invariant")
    // refined centroids drop into semantic dedup: full coverage holds
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      centroids = Some(c3))
    assert(out.count() == emb.count())
  }

  test("temperature mix: deterministic, upsamples tail domains") {
    val d = Tables.df(spark, sf, "documents")
    val m1 = Sampling.mixTemperature(d, "lang", "doc_id", 0.3, "t1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val m2 = Sampling.mixTemperature(d.repartition(7), "lang", "doc_id", 0.3, "t1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(m1 == m2, "mix must be stable under repartitioning")
    // overall size ~ targetFrac (binomial noise at fixture scale)
    val n = d.count().toDouble
    assert(m1.size > 0.15 * n && m1.size < 0.45 * n,
      s"mix size ${m1.size} vs n $n")
    // α = 0.5 flattens the mix: every domain's share of the output is
    // closer to uniform than its share of the input (or capped at 1)
    val inShare = d.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val outShare = Sampling.mixTemperature(d, "lang", "doc_id", 0.3, "t1")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keepRate = outShare.map { case (l, c) => l -> c.toDouble / inShare(l) }
    // rates must be anti-monotone in domain size: the smallest domain
    // keeps the largest fraction
    val bySize = inShare.toSeq.sortBy(_._2).map(_._1)
    val smallRate = keepRate(bySize.head)
    val bigRate = keepRate(bySize.last)
    assert(smallRate > bigRate,
      s"tail domain must keep more: $smallRate vs $bigRate")
  }

  test("mix epochs: output ~ F*N, epochs contiguous from 1, deterministic") {
    val d = Tables.df(spark, sf, "documents")
    val out = Sampling.mixEpochs(d, "lang", "doc_id", 1.5, "ep")
      .select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = d.count().toDouble
    assert(out.length > 1.3 * n && out.length < 1.7 * n,
      s"${out.length} copies vs F*N=${1.5 * n}")
    // per doc: epochs are exactly 1..k
    out.groupBy(_._1).values.foreach { copies =>
      val es = copies.map(_._2).sorted.toSeq
      assert(es == (1L to es.length).toSeq, s"epochs $es")
    }
    val again = Sampling.mixEpochs(d.repartition(5), "lang", "doc_id",
      1.5, "ep").select("doc_id", "epoch").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == again.toSet)
  }

  test("sequence packing: offsets partition the token stream exactly") {
    val d = Tables.df(spark, sf, "documents")
    val out = Pack.packSequences(d, "doc_id", "text", seqLen = 256,
      buckets = 4, seed = "t").collect()
    assert(out.length == d.count())
    // start offsets are a perfect prefix-sum partition: sorting by
    // start_tok, each doc begins where the previous ended
    val sorted = out.sortBy(_.getAs[Long]("start_tok"))
    var expect = 0L
    sorted.foreach { r =>
      assert(r.getAs[Long]("start_tok") == expect,
        s"gap at doc ${r.getAs[Long]("id")}")
      expect += r.getAs[Long]("n_tokens")
    }
    // bin/offset are consistent with start_tok
    sorted.foreach { r =>
      val s = r.getAs[Long]("start_tok")
      assert(r.getAs[Long]("bin") == s / 256)
      assert(r.getAs[Long]("bin_offset") == s % 256)
    }
    // stable under repartitioning
    val again = Pack.packSequences(d.repartition(9), "doc_id", "text",
      seqLen = 256, buckets = 4, seed = "t").collect()
    assert(out.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
  }

  test("stupid backoff: chain values and prefix closure by hand") {
    import spark.implicits._
    val train = Seq((1L, "a b c a b c d"), (2L, "x y a b c"))
      .toDF("doc_id", "text")
    val m = LangModel.trainBackoff(train, "text")
    // counts: N=12; c(a b c)=3, c(a b)=3, c(b c)=3, c(b c d)=1
    val score = Seq((10L, "a b c d"), (11L, "a b q")).toDF("doc_id", "text")
    val out = LangModel.perplexity(score, "doc_id", "text", m)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_scored"),
          r.getAs[Long]("logprob_u").toDouble / 1e6)).toMap
    // "a b c d": trigram "a b c" = 3/3 = 1, "b c d" = 1/3 (each
    // contribution floor(ln·1e6+0.5)-quantized before the BIGINT sum)
    assert(out(10L)._1 == 2L)
    assert(math.abs(out(10L)._2 - math.log(1.0 / 3)) < 1e-5)
    // "a b q": trigram, suffix bigram, and unigram "q" all unseen →
    // 0.4 * (0.4 * (1/N)) with the exact same association order
    assert(out(11L)._1 == 1L)
    assert(math.abs(out(11L)._2 - math.log(0.4 * (0.4 * (1.0 / 12)))) < 1e-5)

    // prefix closure: k1=5 keeps {a,b,c,d,x} (count desc, word asc) and
    // drops y — so bigram "y a" must leave the model while "x y" stays
    val pruned = LangModel.trainBackoff(train, "text", k1 = 5)
    val bis = pruned.bi.select("g2").collect().map(_.getString(0)).toSet
    assert(bis.contains("x y") && !bis.contains("y a"))
    // and the tri model keeps only trigrams whose context bigram stayed
    val tris = pruned.tri.select("g3").collect().map(_.getString(0)).toSet
    assert(!tris.contains("y a b") && tris.contains("x y a"))
  }

  /** Independent sequential unigram-LM trainer (plain collections,
    * recursive-memo Viterbi — deliberately a different code shape from
    * the production DP/loop) used to prove Unigram.train round-for-
    * round. Same contract: counts desc / piece asc tie-breaks, longer-
    * final-piece Viterbi ties, singles floored at count 1.
    */
  private def seqUnigram(texts: Seq[String], vocabSize: Int, seedSize: Int,
      maxLen: Int, iters: Int, shrink: Double): Seq[(String, Double)] = {
    val freq = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(_.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      .foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1))
    val subCnt = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- freq; s <- 0 until w.length;
        e <- (s + 1) to math.min(w.length, s + maxLen))
      subCnt(w.substring(s, e)) = subCnt.getOrElse(w.substring(s, e), 0L) + f
    val singles0 = subCnt.filter(_._1.length == 1).toSeq
      .sortBy { case (p, c) => (-c, p) }
    var multis = subCnt.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(seedSize)
    val multiTarget = math.max(0, vocabSize - singles0.size)
    def model(s: Seq[(String, Long)], m: Seq[(String, Long)]) = {
      val tot = (s ++ m).map(_._2).sum
      (s ++ m).map { case (p, c) => p -> math.log(c.toDouble / tot) }
        .sortBy(_._1)
    }
    def viterbi(w: String, lp: Map[String, Double]): Seq[String] = {
      val memo = scala.collection.mutable.Map.empty[Int, (Double, List[String])]
      def f(i: Int): (Double, List[String]) = memo.getOrElseUpdate(i, {
        if (i == 0) (0.0, Nil)
        else {
          var best = (Double.NegativeInfinity, List.empty[String])
          var bl = 0
          for (l <- 1 to math.min(maxLen, i)) {
            val p = w.substring(i - l, i)
            val sOpt =
              if (lp.contains(p)) Some(lp(p))
              else if (l == 1) Some(PipelineParams.UnigramUnkScore)
              else None
            sOpt.foreach { s =>
              val (ps, pl) = f(i - l)
              if (ps != Double.NegativeInfinity &&
                  (ps + s > best._1 || (ps + s == best._1 && l > bl))) {
                best = (ps + s, p :: pl); bl = l
              }
            }
          }
          best
        }
      })
      f(w.length)._2.reverse
    }
    var singles = singles0
    var vocab = model(singles, multis)
    for (it <- 0 until iters) {
      val lp = vocab.toMap
      val counts = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- freq; p <- viterbi(w, lp))
        counts(p) = counts.getOrElse(p, 0L) + f
      singles = singles.map { case (p, _) =>
        p -> math.max(counts.getOrElse(p, 0L), 1L) }
      val keep = if (it == iters - 1) multiTarget
        else math.max(multiTarget, (multis.size * shrink).floor.toInt)
      multis = multis.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
        .filter(_._2 > 0).sortBy { case (p, c) => (-c, p) }.take(keep)
      vocab = model(singles, multis)
    }
    vocab
  }

  test("unigram LM: distributed training equals the sequential reference") {
    import spark.implicits._
    val texts = Seq(
      "the cat sat on the mat", "the hat of the cat", "a cat and a hat",
      "mats and hats", "the the the cat", "on and on and on")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Unigram.train(df, "text", vocabSize = 18, seedSize = 30,
      maxPieceLen = 3, emIters = 2, shrink = 0.5)
    val want = seqUnigram(texts, vocabSize = 18, seedSize = 30,
      maxLen = 3, iters = 2, shrink = 0.5)
    assert(got == want) // piece-for-piece AND bit-equal log-probs
    // the model segments and reassembles any word, seen or not
    val enc = df.select(col("doc_id"),
        explode(TextOps.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("ps", Unigram.segment(col("w"), got, 3))
      .withColumn("rt", array_join(col("ps"), ""))
    assert(enc.filter(col("rt") =!= col("w")).count() == 0)
    val unseen = Seq((99L, "zqzq")).toDF("doc_id", "w")
      .withColumn("rt", array_join(Unigram.segment(col("w"), got, 3), ""))
    assert(unseen.head().getString(2) == "zqzq")
  }

  test("unigram LM: fixture-corpus vocabulary bounds and coverage") {
    val d = Tables.df(spark, sf, "documents")
    val vocab = Unigram.train(d, "text")
    val singles = vocab.count(_._1.length == 1)
    assert(vocab.size <= math.max(PipelineParams.UnigramVocab, singles))
    assert(vocab.size > singles, "no multi-char pieces survived")
    // every piece log-prob is finite and negative
    assert(vocab.forall { case (_, s) => s < 0 && !s.isInfinite })
  }

  test("char entropy: hand cases") {
    import spark.implicits._
    val d = Seq((1L, "aaab"), (2L, "aaaa"), (3L, "")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextOps.charEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // entropy_lu("aaab") = lnµ(4)·4 − 3·lnµ(3) − 1·lnµ(1)
    //   = 1386294·4 − 3·1098612 = 2249340  (H = 2249340/(4·1e6) ≈ 0.5623)
    assert(out(1L).get == 2249340L)
    assert(out(2L).get == 0L)
    assert(out(3L).isEmpty)
  }

  test("unimax: water-filling allocation by hand") {
    import spark.implicits._
    // lang a: 10 tokens, lang b: 100 tokens; budget 60, epochs 2.
    // fill order (size asc): a gets min(2·10, 60/2) = 20 (capped, 2
    // full epochs, no partial); b gets min(200, 40/1) = 40 (0 full
    // epochs, partial quota 40)
    val d = Seq(
      (1L, "a", "w " * 4), (2L, "a", "w " * 6),
      (3L, "b", "w " * 50), (4L, "b", "w " * 50)
    ).map { case (id, l, t) => (id, l, t.trim) }.toDF("doc_id", "lang", "text")
    val out = Sampling.mixUniMax(d, "lang", "doc_id",
        size(TextOps.words(col("text"))), budget = 60L, maxEpochs = 2,
        seed = "t")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("full_epochs"), r.getAs[Boolean]("in_partial")))
      .toMap
    assert(out(1L)._1 == 2 && out(2L)._1 == 2)
    assert(!out(1L)._2 && !out(2L)._2) // capped: no partial epoch
    assert(out(3L)._1 == 0 && out(4L)._1 == 0)
    // partial quota 40 admits exactly the hash-first of the two 50s
    assert(Seq(out(3L)._2, out(4L)._2).count(identity) == 0)
    // (50 > 40: even the first doc exceeds the partial prefix)
  }

  test("dsir: importance weights match an independent computation") {
    import spark.implicits._
    // independent md5 60-bit bucket (different code path from
    // TextOps.hash60's conv() expression)
    def bucket(s: String, b: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % b
    }
    val texts = Seq((0L, "the cat sat"), (1L, "the cat ran"),
      (2L, "dogs bark loud"), (3L, "the cat sat here"))
    val d = texts.toDF("doc_id", "text")
    val target = d.filter(col("doc_id") === 0L || col("doc_id") === 3L)
    val B = 64
    val lam = Dsir.importanceTable(target, d, "text", buckets = B)
    val out = Dsir.select(d, "doc_id", "text", lam, keep = 2, buckets = B)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("importance_u"),
          r.getAs[Boolean]("selected"))).toMap
    // reference: plain-scala replay of counts, smoothing, quantize
    def bigrams(t: String) = t.toLowerCase.split(" ", -1).toSeq
      .sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    val rawG = texts.flatMap { case (id, t) => bigrams(t).map(id -> _) }
    val tgtG = rawG.filter(p => p._1 == 0L || p._1 == 3L)
    val rc = rawG.groupBy(p => bucket(p._2, B)).map { case (b, g) =>
      b -> g.size.toLong }
    val tc = tgtG.groupBy(p => bucket(p._2, B)).map { case (b, g) =>
      b -> g.size.toLong }
    val (nt, nr) = (tgtG.size.toLong, rawG.size.toLong)
    def lamOf(b: Long): Long = math.floor((
      math.log((tc.getOrElse(b, 0L) + 1).toDouble / (nt + B)) -
        math.log((rc.getOrElse(b, 0L) + 1).toDouble / (nr + B)))
      * 1e6 + 0.5).toLong
    val want = rawG.groupBy(_._1).map { case (id, gs) =>
      id -> gs.map(p => lamOf(bucket(p._2, B))).sum }
    want.foreach { case (id, imp) =>
      assert(out(id)._1 == imp, s"doc $id")
    }
    // the two target docs must be the two selected at keep=2
    assert(out(0L)._2 && out(3L)._2 && !out(1L)._2 && !out(2L)._2)
  }

  test("dsir: target docs outscore the rest on the fixture corpus") {
    val d = Tables.df(spark, sf, "documents")
    val target = d.filter(col("doc_id") %
      PipelineParams.DsirTargetStride === PipelineParams.DsirTargetSel)
    val lam = Dsir.importanceTable(target, d, "text")
    val out = Dsir.select(d, "doc_id", "text", lam)
      .withColumn("is_target", col("id") %
        PipelineParams.DsirTargetStride === PipelineParams.DsirTargetSel)
    val means = out.groupBy("is_target")
      .agg(avg(col("importance_u").cast("double")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"target mean ${means(true)} not above raw mean ${means(false)}")
  }

  test("scan-local backoff fold equals the aggregated perplexity") {
    val d = Tables.df(spark, sf, "documents")
    val m = LangModel.trainBackoff(d, "text")
    val agg = LangModel.perplexity(d, "doc_id", "text", m)
      .select(col("id"), col("n_scored"), col("logprob_u"))
    val local = d
      .withColumn("sc",
        LangModel.scoreLocal(col("text"), LangModel.collectModel(m)))
      .select(col("doc_id").as("id"), col("sc.n_scored").as("n2"),
        col("sc.logprob_u").as("lp2"))
      .filter(col("n2") > 0)
    val joined = agg.join(local, "id")
    assert(joined.count() == agg.count() && agg.count() > 0)
    assert(joined.filter(col("n_scored") =!= col("n2") ||
      col("logprob_u") =!= col("lp2")).count() == 0)
  }

  test("ppl_bucket equals a serial NTILE over the same ordering") {
    val d = Tables.df(spark, sf, "documents")
    val m = LangModel.trainBackoff(d, "text")
    val out = LangModel.perplexity(d, "doc_id", "text", m)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("avg_logprob").desc, col("id"))
    val mismatches = out
      .withColumn("nt", ntile(PipelineParams.LmPplBuckets).over(w))
      .filter(col("nt") =!= col("ppl_bucket")).count()
    assert(mismatches == 0L)
  }

  test("edit-distance join equals brute force at d=1 and d=2") {
    import spark.implicits._
    // id-like strings with plenty of distance-1/2 neighbors
    val strs = (0 until 400).map(i => "s" + (i * 7 % 500)).toDF("w")
    val v = strs.distinct()
    for (d <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(strs, "w", maxDist = d)
        .select("s1", "s2").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      val want = v.as("a").crossJoin(v.as("b"))
        .filter(col("a.w") < col("b.w") &&
          levenshtein(col("a.w"), col("b.w")) <= d)
        .select(col("a.w"), col("b.w")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
      assert(want.nonEmpty, "fixture has no close pairs")
      assert(got == want, s"d=$d: ${got.size} vs ${want.size} pairs")
      assert(got.size == got.distinct.size, "duplicate pairs")
    }
  }

  test("ivf-pq: codes match an independent replay, recall above floor") {
    import graft.operators.PipelineParams._
    val e = Tables.df(spark, sf, "embeddings")
    // independent plain-Scala codebook + argmin-code replay
    val rows = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cbIds = rows.keys
      .filter(id => id % PqStride == 0 && id < PqStride.toLong * PqK)
      .toSeq.sorted
    val dim = rows.head._2.length
    val sub = dim / PqM
    def r6(d: Double) = java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP)
    def refCode(v: Array[Double], j: Int): Int = {
      var bc = 0; var bd: java.math.BigDecimal = null
      for ((cid, c) <- cbIds.zipWithIndex) {
        val cb = rows(cid)
        var acc = 0.0; var i = 0
        while (i < sub) {
          val d = v(j * sub + i) - cb(j * sub + i); acc += d * d; i += 1
        }
        val rd = r6(acc)
        if (bd == null || rd.compareTo(bd) < 0) { bd = rd; bc = c }
      }
      bc
    }
    val codebooks: Seq[Seq[Seq[Double]]] = (0 until PqM).map(j =>
      cbIds.map(id => rows(id).slice(j * sub, (j + 1) * sub).toSeq))
    val got = e.select(col("vec_id"),
        org.apache.spark.sql.GraftBridge.column(
          graft.functions.PqEncode(org.apache.spark.sql.GraftBridge
            .expression(col("embedding")), codebooks)).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    for ((id, v) <- rows) {
      val want = (0 until PqM).map(refCode(v, _))
      assert(got(id) == want, s"codes diverge for vec $id")
    }

    // recall of the quantized path against the exact top-k
    val q = e.filter(col("vec_id") < NumQueryVectors)
    val exact = Similarity.bruteForceTopK(q, e, "vec_id", "embedding")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfPqTopK(q, e, "vec_id", "embedding")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // stride codebooks + nprobe=4/16 lists cap the ceiling at the IVF
    // path's own 0.51; the quantized path must stay close to it
    assert(recall >= 0.35, s"IVF-PQ recall $recall below floor")
  }

  private def refWordPieceTrain(corpus: Seq[String], k: Int): Seq[String] = {
    val freq = corpus.flatMap(_.toLowerCase.split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def symize(w: String): Vector[String] =
      w.zipWithIndex.map { case (c, i) =>
        if (i == 0) c.toString else "##" + c }.toVector
    var vocab: Map[Vector[String], Long] =
      freq.map { case (w, f) => symize(w) -> f }
    val alphabet = vocab.keys.flatten.toSet.toSeq.sorted
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (merges.size < k && !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      val uc = scala.collection.mutable.Map.empty[String, Long]
      for ((syms, f) <- vocab) {
        for (s <- syms) uc(s) = uc.getOrElse(s, 0L) + f
        for (i <- 0 until syms.length - 1)
          pc((syms(i), syms(i + 1))) =
            pc.getOrElse((syms(i), syms(i + 1)), 0L) + f
      }
      val best = pc.toSeq.filter(_._2 >= 2).sortBy { case ((a, b), c) =>
        (-(c.toDouble / (uc(a).toDouble * uc(b).toDouble)), a, b)
      }.headOption
      best match {
        case Some(((a, b), _)) =>
          val m = a + b.stripPrefix("##")
          merges += m
          vocab = vocab.map { case (syms, f) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                out += m; j += 2
              } else { out += syms(j); j += 1 }
            }
            out.toVector -> f
          }
        case _ => done = true
      }
    }
    alphabet ++ merges.toSeq
  }

  test("wordpiece: distributed trainer matches the sequential reference") {
    import spark.implicits._
    // "qz" plants a hapax pair (q, ##z) whose likelihood score is the
    // maximum possible 1.0 — minPairFreq must FILTER it, not stop on it
    val corpus = Seq(
      "hugging hugging hugging face face",
      "hug hugs hugged face faces",
      "unhug unhugged hugging face qz")
    val expected = refWordPieceTrain(corpus, 10)
    assert(expected.count(_.length > 2) > 2,
      "the hapax pair must not terminate training")
    val got = WordPiece.train(corpus.toDF("text"), "text", 10)
    assert(got == expected, s"vocab diverges:\n got=$got\n ref=$expected")
  }

  test("wordpiece: greedy encode roundtrips, unseen chars go [UNK]") {
    import spark.implicits._
    val corpus = Seq(
      "hugging hugging hugging face face",
      "hug hugs hugged face faces")
    val vocab = WordPiece.train(corpus.toDF("text"), "text", 8)
    val words = Seq("hugging", "face", "hugs", "hug", "faced",
      "gag", "qzx", "")
    val rows = words.toDF("w")
      .select(col("w"), WordPiece.encodeWord(col("w"), vocab).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    for (w <- Seq("hugging", "face", "hugs", "hug", "faced")) {
      val pieces = rows(w)
      assert(pieces.head + pieces.tail.map(_.stripPrefix("##")).mkString("")
        == w, s"roundtrip broke for '$w': $pieces")
      assert(pieces.tail.forall(_.startsWith("##")),
        s"continuation marker missing in $pieces")
    }
    assert(rows("qzx") == Seq("[UNK]"), s"got ${rows("qzx")}")
    // 'g' is never word-initial in the corpus, so no initial piece
    // matches and the WHOLE word collapses to [UNK] (HF semantics)
    assert(rows("gag") == Seq("[UNK]"), s"got ${rows("gag")}")
    assert(rows("") == Seq())
    // compression happened on a trained word
    assert(rows("hugging").length < "hugging".length)
  }

  test("weighted sampling matches an independent plain-Scala replay") {
    val d = Tables.df(spark, sf, "documents")
    val got = Sampling.sampleWeighted(d, "doc_id",
        (TextOps.tokenCount(col("text")) + lit(1)).cast("double"),
        k = 50, seed = "swx")
      .select("doc_id").collect().map(_.getLong(0)).toSeq

    // independent replay: jdk md5, BigDecimal quantization
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val rows = d.select(col("doc_id"),
        (TextOps.tokenCount(col("text")) + lit(1)).cast("double").as("w"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = rows.map { case (id, w) =>
      val u = (h60("swx" + id) + 1).toDouble / 1.152921504606846976e18
      val key = BigDecimal(math.log(u) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      (id, key)
    }.sortBy { case (id, key) => (key.unary_-, id) }.take(50).map(_._1).toSeq
    assert(got.sorted == want.sorted)
  }

  test("grouped weighted sampling = per-group global sampling, k each") {
    val d = Tables.df(spark, sf, "documents")
    val w = (TextOps.tokenCount(col("text")) + lit(1)).cast("double")
    val out = Sampling.sampleWeightedBy(d, "lang", "doc_id", w, 7, "g1")
    val byLang = out.select("lang", "doc_id").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet)
    for ((lang, ids) <- byLang) {
      assert(ids.size == 7, s"$lang: ${ids.size} rows")
      // the group's winners are exactly what global A-ES sampling
      // restricted to that group selects
      val solo = Sampling.sampleWeighted(
          d.filter(col("lang") === lang), "doc_id", w, 7, "g1")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == solo, s"$lang diverges from per-group selection")
    }
  }

  test("weighted sampling favors heavy weights") {
    import spark.implicits._
    // 200 rows: ids 0..99 weight 1, ids 100..199 weight 50 — the heavy
    // half must dominate a k=40 sample for any seed
    val df = (0L until 200L).map(i => (i, if (i < 100) 1.0 else 50.0))
      .toDF("id", "w")
    val sel = Sampling.sampleWeighted(df, "id", col("w"), 40, "s1")
      .select("id").collect().map(_.getLong(0))
    assert(sel.length == 40)
    assert(sel.count(_ >= 100) >= 30,
      s"heavy-weight rows under-sampled: ${sel.count(_ >= 100)}/40")
  }

  test("IntersectCount: array<bigint> only, huge arrays keep their answer") {
    import org.apache.spark.sql.GraftBridge.{column, expression}
    def inter(a: String, b: String) = column(graft.functions.IntersectCount(
      expression(col(a)), expression(col(b))))
    val ints = spark.sql("SELECT array(1, 2, 3) AS a, array(2, 3) AS b")
    val bad = intercept[org.apache.spark.sql.AnalysisException](
      ints.select(inter("a", "b")).collect())
    assert(bad.getMessage.contains("ARRAY<BIGINT>"))
    val longs = ints.select(col("a").cast("array<bigint>").as("a"),
      col("b").cast("array<bigint>").as("b"))
    assert(longs.select(inter("a", "b")).head.getInt(0) == 2)
    // above the pooled scratch size: per-call tables, same answer
    val big = spark.range(1).selectExpr(
      "sequence(0L, 100000L) AS a", "sequence(50000L, 150000L) AS b")
    assert(big.select(inter("a", "b")).head.getInt(0) == 50001)
  }
}
