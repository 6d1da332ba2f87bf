package graft

import graft.operators.{Dedup, Similarity}
import graft.functions.TextAnalysis

class DedupSimilaritySpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("exact dedup keeps the smallest id per duplicate text") {
    import spark.implicits._
    val df = Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L, 2L))
  }

  test("shingles produce overlapping k-grams, short text yields one") {
    import spark.implicits._
    val df = Seq((1L, "abcdef"), (2L, "ab")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sh == Set((1L, "abcd"), (1L, "bcde"), (1L, "cdef"), (2L, "ab")))
  }

  test("minhash signatures of identical texts are identical, distinct texts differ") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different content here entirely")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "doc_id", "text", 8, 4)
      .orderBy("doc_id").collect()
    assert((1 to 4).forall(i => sig(0).getAs[String](s"h$i") == sig(1).getAs[String](s"h$i")))
    assert((1 to 4).exists(i => sig(0).getAs[String](s"h$i") != sig(2).getAs[String](s"h$i")))
  }

  test("candidate pairs surface exact duplicates via shared bands") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "nothing in common with anything else at all")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "doc_id", "text", 8, 6)
    val pairs = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 2, 3), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("bucket cap: a degenerate identical-text corpus skips the hot bucket") {
    import spark.implicits._
    // 300 identical docs land in ONE band bucket: uncapped that is
    // ~45k pairs per band; capped at 100 the bucket is excluded and the
    // join emits nothing — the quadratic blow-up never runs.
    val df = (1L to 300L).map(i => (i, "same boilerplate text repeated everywhere"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "doc_id", "text", 8, 6)
    val bands = Dedup.lshBands(sig, "doc_id", 2, 3)
    assert(Dedup.candidatePairs(bands, "doc_id", maxBucket = 100).count() == 0L)
    // and the skipped buckets are observable, not silently dropped
    val overflow = Dedup.overflowBuckets(bands, maxBucket = 100)
      .collect().map(_.getAs[Long]("n_docs")).toSeq
    assert(overflow == Seq(300L, 300L)) // both bands degenerate
    // a mixed corpus still surfaces the real pair under the cap
    val mixed = df.limit(0).unionByName(Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox jumps over the lazy dog again"),
      (3L, "nothing in common with anything else at all")).toDF("doc_id", "text"))
    val mixedPairs = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashSignature(mixed, "doc_id", "text", 8, 6), "doc_id", 2, 3),
      "doc_id", maxBucket = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mixedPairs == Set((1L, 2L)))
  }

  test("jaccard: identical sets → 1.0, disjoint → 0.0") {
    import spark.implicits._
    val df = Seq(("a b c", "a b c", "x y z")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.jaccard(Dedup.wordSet(col("t1")), Dedup.wordSet(col("t2"))),
      Dedup.jaccard(Dedup.wordSet(col("t1")), Dedup.wordSet(col("t3")))).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("word bigrams: 'a b c' → ['a b', 'b c']; single word → empty") {
    import spark.implicits._
    val df = Seq(("a b c", "solo")).toDF("t", "u")
    val r = df.select(Dedup.wordBigrams(col("t")), Dedup.wordBigrams(col("u"))).head()
    assert(r.getSeq[String](0).toSet == Set("a b", "b c"))
    assert(r.getSeq[String](1).isEmpty)
  }

  test("cosine: parallel vectors → 1.0, orthogonal → 0.0") {
    import spark.implicits._
    // an RDD source, not a local Seq: the optimizer evaluates a projection
    // over a LocalRelation before FoldToNativeVectorOps could see it
    val df = spark.sparkContext.parallelize(
      Seq((Array(1f, 0f, 2f), Array(2f, 0f, 4f), Array(0f, 3f, 0f))), 1)
      .toDF("a", "b", "c")
    val cos = df.select(
      Similarity.cosine(Similarity.toDoubleArr(col("a")), Similarity.toDoubleArr(col("b"))),
      Similarity.cosine(Similarity.toDoubleArr(col("a")), Similarity.toDoubleArr(col("c"))))
    // both the fold itself and the native kernel the session rewrites it to
    val fold = withoutFoldRewrite {
      assert(!plansDotProduct(cos))
      cos.head()
    }
    assert(plansDotProduct(cos))
    for (r <- Seq(fold, cos.head())) {
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(math.abs(r.getDouble(1)) < 1e-12)
    }
  }

  test("brute-force top-k ranks the nearest target first") {
    import spark.implicits._
    val queries = Seq((100L, Array(1f, 0f))).toDF("q_id", "q_vec")
    val targets = Seq(
      (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)), (3L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(queries, targets, 2)
      .orderBy("rn").collect()
    assert(top.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 2L))
  }

  test("sign bucket maps sign pattern of leading dims") {
    import spark.implicits._
    val df = Seq((Array(1f, -1f, 1f, -1f), Array(-1f, 1f, -1f, 1f)))
      .toDF("a", "b")
    val r = df.select(
      Similarity.signBucket(col("a"), 4), Similarity.signBucket(col("b"), 4)).head()
    assert(r.getInt(0) == 5 && r.getInt(1) == 10) // 0101 / 1010
  }

  test("token count and word occurrences") {
    import spark.implicits._
    val df = Seq("the cat and the hat").toDF("t")
    val r = df.select(
      TextAnalysis.tokenCount(col("t")),
      TextAnalysis.wordOccurrences(col("t"), "the"),
      TextAnalysis.wordOccurrences(col("t"), "dog")).head()
    assert(r.getInt(0) == 5 && r.getInt(1) == 2 && r.getInt(2) == 0)
  }

  test("langId picks the stopword-dominant language, unknown on zero hits") {
    import spark.implicits._
    val df = Seq("the cat and the dog of it", "el gato de la casa de", "zzz qqq")
      .toDF("t")
    val langs = df.select(TextAnalysis.langId(col("t"))).collect().map(_.getString(0)).toSeq
    assert(langs == Seq("en", "es", "unknown"))
  }

  test("VectorCentroid aggregator: two-phase mean of float arrays") {
    import spark.implicits._
    val df = Seq(
      (0, Array(1f, 2f)), (0, Array(3f, 4f)), (1, Array(10f, 20f)))
      .toDF("label", "embedding").repartition(3)
    val centroid = graft.functions.VectorCentroid.centroid(2)
    val out = df.groupBy($"label").agg(centroid($"embedding").as("c"))
      .orderBy("label").collect()
    assert(out(0).getSeq[Double](1).toSeq == Seq(2.0, 3.0))
    assert(out(1).getSeq[Double](1).toSeq == Seq(10.0, 20.0))
  }

  test("embeddingNearDupPairs finds cosine near-dups, bucket cap bounds degenerate corpora") {
    import spark.implicits._
    // 1/2 identical (cos=1), 3 orthogonal-ish, 4 opposite sign bucket.
    val df = Seq(
      (1L, Array(1f, 1f, 0.1f, 0.1f)),
      (2L, Array(1f, 1f, 0.1f, 0.1f)),
      (3L, Array(1f, -1f, 0.1f, 0.1f)),
      (4L, Array(-1f, -1f, -0.1f, -0.1f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding",
        bits = 2, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
    // Degenerate: every vector identical → one bucket of 50 > cap 10 →
    // the whole bucket is skipped instead of emitting 50*49/2 pairs.
    val degen = (1L to 50L).map(i => (i, Array(1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDupPairs(degen, "vec_id", "embedding",
      bits = 2, threshold = 0.5, maxBucket = 10)
    assert(capped.count() == 0L)
  }

  test("dupClusters labels connected components by min doc id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (3L, 7L))
      .toDF("a", "b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
  }

  test("fast xxhash64 minhash family finds the same near-dup pair as the md5 family") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, base.replace("tok40", "changed")), // near-dup of 1
      (3L, (100 to 140).map(i => s"other$i").mkString(" ")),
    ).toDF("doc_id", "text")
    def pairsOf(sig: org.apache.spark.sql.DataFrame) = {
      val bands = Dedup.lshBands(sig, "doc_id", nBands = 3, rowsPerBand = 2)
      Dedup.candidatePairs(bands, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val md5Pairs = pairsOf(Dedup.minhashSignatureWords(df, "doc_id", "text"))
    val fastPairs = pairsOf(Dedup.minhashSignatureWordsFast(df, "doc_id", "text"))
    assert(md5Pairs == Set((1L, 2L)))
    assert(fastPairs == Set((1L, 2L)), "hash family must not change LSH recall here")
    // identical docs get identical signatures under the fast family too
    val sigs = Dedup.minhashSignatureWordsFast(
      Seq((1L, base), (2L, base)).toDF("doc_id", "text"), "doc_id", "text")
      .drop("doc_id").distinct()
    assert(sigs.count() == 1L)
  }

  private def ccLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.ccAlternatingStar(pairs.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("alternating-star CC: descending-id path, cycle, star, empty") {
    // descending-id path 64→63→…→1: min label must travel the full
    // diameter — the worst case for naive propagation, O(log²) here
    val path = (1L until 64L).map(i => (i + 1, i))
    val pathLabels = ccLabels(path)
    assert(pathLabels.keySet == (1L to 64L).toSet)
    assert(pathLabels.values.toSet == Set(1L))
    // cycle of 10 (no root structure in the input)
    val cycle = (0L until 10L).map(i => (100 + i, 100 + (i + 1) % 10))
    assert(ccLabels(cycle).values.toSet == Set(100L))
    // star with the ROOT as the largest id (forces re-rooting)
    val star = (1L to 8L).map(i => (999L, i))
    val starLabels = ccLabels(star)
    assert(starLabels.values.toSet == Set(1L) && starLabels(999L) == 1L)
    // two components + duplicate and reversed input edges
    val two = Seq((5L, 6L), (6L, 5L), (6L, 7L), (20L, 21L))
    val twoLabels = ccLabels(two)
    assert(twoLabels == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 20L -> 20L, 21L -> 20L))
    // empty edge set converges immediately to an empty labeling
    assert(ccLabels(Seq.empty).isEmpty)
  }

  test("incremental CC equals batch CC under random splits and edge cases") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val n = 50
      val edges = (1 to 70).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val (oldE, newE) = edges.partition(_ => rnd.nextBoolean())
      val base = Dedup.ccAlternatingStar(oldE.toDF("a", "b"))
      val inc = Dedup.ccIncremental(base, newE.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = Dedup.ccAlternatingStar(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == batch, s"trial $trial")
    }
    // delta made only of brand-new nodes
    val base2 = Dedup.ccAlternatingStar(Seq((1L, 2L)).toDF("a", "b"))
    val inc2 = Dedup.ccIncremental(base2, Seq((100L, 101L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc2 == Map(1L -> 1L, 2L -> 1L, 100L -> 100L, 101L -> 100L))
    // delta internal to an existing component is a relabeling no-op
    val base3 = Dedup.ccAlternatingStar(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
    val inc3 = Dedup.ccIncremental(base3, Seq((1L, 3L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // delta bridging two existing components takes the global min label
    val base4 = Dedup.ccAlternatingStar(Seq((5L, 6L), (10L, 11L)).toDF("a", "b"))
    val inc4 = Dedup.ccIncremental(base4, Seq((6L, 11L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc4 == Map(5L -> 5L, 6L -> 5L, 10L -> 5L, 11L -> 5L))
  }

  test("alternating-star CC agrees with GraphX on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = (1 to 80).map { _ =>
        (rnd.nextInt(n).toLong + trial * 1000L, rnd.nextInt(n).toLong + trial * 1000L)
      }.filter(e => e._1 != e._2)
      val df = edges.toDF("a", "b")
      val star = Dedup.ccAlternatingStar(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gx = Dedup.dupClusters(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == gx, s"trial $trial: star-CC and GraphX disagree")
    }
  }
}
