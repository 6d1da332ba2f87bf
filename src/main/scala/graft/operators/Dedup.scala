package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.plans.GraftFunctions.md5_fast

/** Deduplication operators for training-data pipelines: exact (hash),
  * MinHash + LSH banding (near-dup at scale), n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - exact dedup is a hash-shuffle on a 16-byte digest, not the full
  *    text — the shuffle carries `(md5, id)` only;
  *  - MinHash signatures are computed in a single pass per document
  *    (shingle explode → groupBy doc, min per seed), i.e. one shuffle
  *    keyed by doc_id with map-side partial min aggregation;
  *  - LSH banding turns all-pairs O(n²) into per-bucket joins: docs
  *    only meet if they share a band hash, so the join key is the band
  *    hash and skew is bounded by bucket size (monitored via
  *    `lshBuckets`);
  *  - md5-hex min is used as the hash family (min over a random-order
  *    permutation approximated by the hash ordering) — identical
  *    lowercase-hex lexicographic semantics in Spark and DuckDB, which
  *    makes the whole pipeline oracle-checkable.
  */
object Dedup {

  def textHash(c: Column): Column = md5_fast(c)

  /** Exact dedup: keep the smallest id per distinct text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(textHash(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Character k-gram shingles: one row per (id, position). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(
      col(idCol),
      explode(sequence(lit(1), greatest(length(col(textCol)) - (k - 1), lit(1)))).as("pos"),
      col(textCol))
      .select(col(idCol), col(textCol).substr(col("pos"), lit(k)).as("shingle"))

  /** MinHash signature: output columns h1..hn (8-hex-char strings).
    *
    * Hash family: each md5 digest is sliced into four 32-bit hex chunks
    * used as independent hash functions (Kirsch-Mitzenmacher-style), so
    * n hashes cost ceil(n/4) md5 calls per shingle instead of n — the
    * md5 is the hot-path cost at 100 TB (one digest per shingle row).
    * Lexicographic min over fixed-width lowercase hex == min over the
    * 32-bit value; identical semantics in DuckDB. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, nHashes: Int = 6): DataFrame =
    minhashOverShingles(shingles(df, idCol, textCol, k), idCol, nHashes)

  /** MinHash over word-bigram shingles — ~5× fewer shingle rows than
    * char-8-grams on prose, so ~5× fewer digests; the right default for
    * document-level near-dup at scale. */
  def minhashSignatureWords(df: DataFrame, idCol: String, textCol: String,
      nHashes: Int = 6): DataFrame = {
    val sh = df
      .select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), explode(bigramsFromWords(col("__w"))).as("shingle"))
    minhashOverShingles(sh, idCol, nHashes)
  }

  /** [[minhashSignatureWords]] over a PRE-SPLIT words-array frame —
    * for callers that already materialized the split (r19: q53 shares
    * ONE corpus scan + split between the signature pipeline and the
    * exact-verify word sets instead of re-scanning per consumer). */
  def minhashSignatureFromWords(base: DataFrame, idCol: String,
      wordsCol: String, nHashes: Int = 6): DataFrame =
    minhashOverShingles(
      base.select(col(idCol),
        explode(bigramsFromWords(col(wordsCol))).as("shingle")),
      idCol, nHashes)

  /** Production-speed MinHash over word bigrams: the xxhash64 family
    * (native long arithmetic inside codegen on the hot per-shingle
    * path) instead of the md5-slice family. Same output shape
    * (id, h1..hn — 16-char fixed-width hex strings, formatted once per
    * doc AFTER the min-agg), same banding downstream. Use this when no DuckDB
    * oracle mirror is needed: measured 6–8× faster end-to-end on the
    * 1M-doc ScaleSmoke corpus (e.g. 47.0 s → 7.2 s for
    * signature+banding+pairs), because md5-string hashing is the
    * dominant cost of the signature stage at scale. Recall parity with
    * the md5 family is pinned in DedupSimilaritySpec. */
  def minhashSignatureWordsFast(df: DataFrame, idCol: String, textCol: String,
      nHashes: Int = 6): DataFrame = {
    val sh = df
      .select(col(idCol), split(col(textCol), " ").as("__w"))
      .select(col(idCol), explode(bigramsFromWords(col("__w"))).as("shingle"))
    val aggs = (1 to nHashes).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"__m$i"))
    // Fixed-width hex AFTER the min-agg (one format per doc, not per
    // shingle) so lshBands' positional concat can't alias across
    // variable-width values.
    val hexed = (1 to nHashes).map(i => lpad(hex(col(s"__m$i")), 16, "0").as(s"h$i"))
    sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol) +: hexed: _*)
  }

  private def minhashOverShingles(sh: DataFrame, idCol: String, nHashes: Int): DataFrame = {
    // ONE md5 per shingle, whatever nHashes is: the digest's first two
    // 32-bit chunks seed a Kirsch-Mitzenmacher family
    // h_i = (a1 + i·a2) mod 2^32 — statistically equivalent to
    // independent hashes for MinHash purposes. vs the previous
    // ceil(n/4)-digest slicing scheme this is flat 1 digest; measured
    // roughly NEUTRAL on word-bigram shingles at 1M docs (short-string
    // md5 is cheap and the two hex-chunk parses buy back the saved
    // digest) — the win grows with shingle length, since digest cost is
    // linear in input bytes while the KM derivation is flat, and with
    // nHashes. The mins aggregate as 64-bit integers (map-side partial
    // min); fixed-width lowercase hex is formatted once per doc AFTER
    // the agg, keeping the h1..hn output shape (and downstream banding)
    // unchanged. Exactly mirrored in DuckDB via
    // ('0x'||substr(md5,..))::BIGINT.
    // r19: the two KM coefficients come from the allocation-free native
    // Md5Chunk scalars (one memoized digest shared by the sibling
    // expressions — the q554 signature discipline) instead of a hex
    // digest string + two radix-16 substring parses per shingle.
    // Byte-identical values (Md5ChunksSpec pins chunk ≡ conv chain);
    // the DuckDB oracle still spells out the substr/conv derivation.
    val withH = sh
      .withColumn("__a1", graft.plans.GraftFunctions.md5_chunk(col("shingle"), 0))
      .withColumn("__a2", graft.plans.GraftFunctions.md5_chunk(col("shingle"), 1))
    val aggs = (1 to nHashes).map { i =>
      min(pmod(col("__a1") + lit(i.toLong) * col("__a2"), lit(4294967296L))).as(s"__m$i")
    }
    val hexed = (1 to nHashes).map(i =>
      lower(lpad(hex(col(s"__m$i")), 8, "0")).as(s"h$i"))
    withH.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol) +: hexed: _*)
  }

  /** LSH banding: rows (id, band_idx, band_hash), band b covering
    * signature columns [b*r+1 .. b*r+r].
    *
    * Built as ONE explode over an array of (band_idx, band_hash)
    * structs — a union of per-band selects would re-execute the whole
    * signature aggregation once per band (union branches don't share
    * subplans pre-shuffle). */
  def lshBands(sig: DataFrame, idCol: String, nBands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (1 to nBands).map { b =>
      val cols = ((b - 1) * rowsPerBand + 1 to b * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band_idx"), concat(cols: _*).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("band"))
      .select(col(idCol), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
  }

  /** Default bucket-size cap for [[candidatePairs]]: a bucket of n docs
    * emits n(n-1)/2 pairs, so one degenerate band hash (empty docs,
    * boilerplate) turns the join quadratic. 1000 docs → ≤ ~500k pairs
    * per bucket, a bounded task; anything larger is near-certainly a
    * degenerate hash, not a real near-dup cluster. */
  val DefaultMaxBucket = 1000

  /** Buckets skipped by the cap — the monitoring side-channel: log or
    * persist this alongside the dedup run so capped content is visible,
    * never silently dropped. */
  def overflowBuckets(bands: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame =
    bands.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** Distinct candidate pairs (a < b) sharing any band bucket.
    *
    * Single-pass bucket grouping: ONE aggregation over bands collects
    * each bucket's ids via [[graft.plans.BoundedCollect]] (hard
    * O(maxBucket) buffer bound per group, cap = maxBucket+1 so an
    * overflowing bucket surfaces as a cap-sized array the size()
    * filter drops — identical exclusion semantics to a count-gate),
    * then pairs are generated IN-ROW from the sorted id array, bounded
    * at maxBucket²/2 per bucket. vs the previous count-gate +
    * self-join shape this consumes the upstream minhash pipeline once
    * instead of three times (which needed a persist to avoid 3×
    * re-scans — a cache a pure-DataFrame contract can never safely
    * unpersist), shuffles bands once instead of twice, and cannot OOM
    * on a degenerate bucket. Skipped buckets stay observable via
    * [[overflowBuckets]] with the same threshold. */
  def candidatePairs(bands: DataFrame, idCol: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val buckets = bands.groupBy(col("band_idx"), col("band_hash"))
      .agg(graft.plans.BoundedCollect.bounded_collect(col(idCol), maxBucket + 1).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(sort_array(col("__ids")).as("__ids"))
    buckets
      .select(explode(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + lit(2), size(col("__ids"))),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: sign-bucket LSH (the
    * random-hyperplane family for cosine distance, here the signs of
    * the leading `bits` dimensions) prunes the candidate space to an
    * equi-join on the bucket id; the same bucket-size cap as
    * [[candidatePairs]] bounds the self-join (a degenerate bucket —
    * e.g. all-zero vectors — would otherwise go quadratic); and an
    * exact cosine fold verifies each surviving pair against
    * `threshold`. Output: (a_id, b_id, cos) with a_id < b_id.
    *
    * 100 TB shape: the bucket count aggregation shuffles only
    * (bucket, count); the pair join is hash-partitioned by bucket with
    * per-bucket work capped at maxBucket²/2. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      bits: Int, threshold: Double,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol))
      .withColumn("__bucket", Similarity.signBucket(col(vecCol), bits))
    val ok = e.groupBy(col("__bucket")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select(col("__bucket"))
    val gated = e.join(ok, Seq("__bucket"))
    val l = gated.select(col("__bucket"), col(idCol).as("a_id"),
      Similarity.toDoubleArr(col(vecCol)).as("__va"))
    val r = gated.select(col("__bucket").as("__bucket_r"), col(idCol).as("b_id"),
      Similarity.toDoubleArr(col(vecCol)).as("__vb"))
    l.join(r, l("__bucket") === r("__bucket_r") && l("a_id") < r("b_id"))
      .withColumn("cos", Similarity.cosineNative(col("__va"), col("__vb")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** All distinct string pairs (w1 < w2) within Levenshtein distance 1,
    * via FastSS deletion-neighborhood blocking: each string generates
    * itself plus every one-character deletion; two strings within one
    * edit necessarily share a neighborhood member (substitution ⇒ both
    * delete the edited position; insert/delete ⇒ the shorter IS a
    * deletion of the longer), so a hash equi-join on the variant string
    * finds every true pair in O(n·len) generated rows — never the n²
    * cross join. Candidates are verified with the real `levenshtein`
    * (same-length strings sharing a deletion from DIFFERENT positions
    * can be distance 2 — e.g. "ab"/"ba" share "a" and "b").
    *
    * Input: a DataFrame with distinct strings in `wCol`. Output:
    * (w1, w2) with w1 < w2, each pair once. */
  def edit1Pairs(names: DataFrame, wCol: String): DataFrame = {
    val variants = names
      .select(col(wCol).as("w"),
        explode(sequence(lit(0), length(col(wCol)))).as("pos"))
      .select(col("w"), expr(
        "CASE WHEN pos = 0 THEN w" +
          " ELSE substr(w, 1, pos - 1) || substr(w, pos + 1) END").as("v"))
    variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2")).distinct()
      .filter(levenshtein(col("w1"), col("w2")) <= 1)
  }

  /** Distinct word set (split on single space). */
  def wordSet(c: Column): Column = array_distinct(split(c, " "))

  /** Bigram set from an already-materialized words array column.
    * Guarded: Spark's `sequence(1,0)` counts DOWN, so a <2-word text
    * must short-circuit to empty. Take an attribute (not an inline
    * `split(...)`) — a lambda over an inline expression re-evaluates it
    * per element, turning this O(n) into O(n²). */
  def bigramsFromWords(w: Column): Column =
    when(size(w) >= 2,
      array_distinct(
        transform(sequence(lit(1), size(w) - 1),
          i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))))
      .otherwise(array().cast("array<string>"))

  /** Word bigram set ("w1 w2" strings) from raw text. Only for small
    * texts / tests — query paths should pre-project `split` and use
    * [[bigramsFromWords]]. */
  def wordBigrams(c: Column): Column = bigramsFromWords(split(c, " "))

  /** Jaccard similarity of two (already-distinct) array sets:
    * |∩| / (|A| + |B| - |∩|). Size-only — no ordering sensitivity. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** SimHash-style cheap fingerprint bucket from the first hex chars of
    * per-word min-hashes (locality-sensitive-ish; exact SimHash lives
    * in plans/ as a native expression). */
  def minhashPrefixBucket(c: Column, chars: Int = 2): Column =
    substring(md5_fast(c), 0, chars)

  /** Duplicate-cluster labeling: connected components over the
    * near-dup pair graph (GraphX Pregel — label = min doc_id in the
    * component, deterministic). This is the step that turns pairwise
    * near-dup hits into keep-one-per-cluster dedup at corpus scale;
    * GraphX runs it as iterative joins over the distributed edge list,
    * no driver-side union-find. */
  def dupClusters(pairs: DataFrame, aCol: String = "a", bCol: String = "b"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val graph = org.apache.spark.graphx.Graph.fromEdgeTuples(edges, defaultValue = 0)
    graph.connectedComponents().vertices
      .toDF("doc_id", "component")
  }

  /** DataFrame-native connected components via the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): same min-label
    * semantics as [[dupClusters]], but the whole fixpoint runs as
    * DataFrame groupBy+join rounds — no GraphX, so the edge list never
    * leaves Tungsten rows for Java tuples, every round is
    * whole-stage-codegen'd, AQE re-plans each round's shuffles, and
    * the shuffle key is the node id throughout (one partitioning
    * reused). Converges in O(log² n) rounds on any graph (the paper's
    * bound); each round is two {group-by node, join back} passes over
    * the current edge set, which only ever SHRINKS toward one edge per
    * non-root node — at 100 TB the peak cost is the first round over
    * the raw pair list, exactly the cost GraphX pays per iteration for
    * potentially Θ(diameter) iterations.
    *
    *  - large-star: every node's strictly-larger neighbors re-attach
    *    to the minimum of its closed neighborhood;
    *  - small-star: with edges held canonically larger→smaller, each
    *    node and its (all smaller) neighbors re-attach to the group
    *    minimum.
    *
    * Termination detection compares a commutative fingerprint (count
    * plus two independent 64-bit XOR folds of xxhash64 over the edge
    * pair) of successive canonical edge sets — one scalar aggregate
    * per round instead of an EXCEPT-shaped shuffle pair; a collision
    * would need two different distinct-edge sets agreeing on all three
    * statistics simultaneously (~2⁻¹²⁸).
    * At the fixpoint the edge set IS the component map: one
    * (node → component-min) edge per non-root node. Fails loudly if
    * `maxRounds` is hit (a converging monotone process that has not
    * converged signals an implementation bug, never silent wrong
    * labels). Equality with the GraphX path is spec-pinned on
    * adversarial shapes (descending-id paths, cycles, stars, random
    * graphs) in DedupSimilaritySpec. */
  def ccAlternatingStar(pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxRounds: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._

    def canon(df: DataFrame): DataFrame =
      df.filter($"x" =!= $"y")
        .select(greatest($"x", $"y").as("u"), least($"x", $"y").as("v"))
        .distinct()

    // two independent 64-bit XOR folds (argument orders differ, so the
    // hashes are independent) + the count: XOR never overflows under
    // ANSI mode, and over a DISTINCT edge set set-XOR is a sound
    // fingerprint (unlike over multisets, where pairs cancel)
    def fingerprint(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64($"u", $"v")),
        bit_xor(xxhash64($"v", $"u"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }

    var edges = graft.Fx.materialize(canon(
      pairs.select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))))
    var fp = fingerprint(edges)
    var round = 0
    var done = edges.isEmpty
    while (!done && round < maxRounds) {
      // large-star: Γ(u) both directions, m = min(Γ(u) ∪ {u}); each
      // strictly-larger neighbor v re-attaches as (v, m). v > u ≥ m,
      // so the emitted pair is already canonical and never a loop.
      val nbrs = edges.select($"u", $"v")
        .unionAll(edges.select($"v".as("u"), $"u".as("v")))
      val mins = nbrs.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      val ls = graft.Fx.materialize(
        nbrs.filter($"v" > $"u").join(mins, "u")
          .select($"v".as("u"), $"m".as("v")).distinct())
      // small-star: edges are larger→smaller, so N(u) is all-smaller;
      // m = min(N(u)); every other member of {u} ∪ N(u) re-attaches
      // to m. (v, m) with v ≥ m and (u, m) with u > m stay canonical.
      val minsS = ls.groupBy($"u").agg(min($"v").as("m"))
      val withM = ls.join(minsS, "u")
      val ss = graft.Fx.materialize(
        withM.select($"v".as("u"), $"m".as("v")).filter($"u" =!= $"v")
          .unionAll(withM.select($"u", $"m".as("v")))
          .distinct())
      graft.Fx.free(ls)
      val newFp = fingerprint(ss)
      done = newFp == fp
      fp = newFp
      graft.Fx.free(edges)
      edges = ss
      round += 1
    }
    require(done || round < maxRounds,
      s"ccAlternatingStar did not converge in $maxRounds rounds")
    // fixpoint edge set = star forest rooted at component minima
    val members = edges.select($"u".as("doc_id"), $"v".as("component"))
    val roots = edges.select($"v".as("doc_id")).distinct()
      .select($"doc_id", $"doc_id".as("component"))
    members.unionByName(roots)
  }

  /** INCREMENTAL connected-components maintenance: fold a batch of new
    * edges into an existing min-label component map without
    * recomputing from the full edge set. The observation that makes
    * it O(delta): a new edge can only merge whole existing components,
    * so it suffices to (1) project each new edge onto the COMPONENT
    * LABELS of its endpoints (an unlabeled endpoint is its own
    * label), (2) run connected components on that label graph — sized
    * by the delta, not the corpus — and (3) relabel. Because every
    * existing label is already the min id of its members and a new
    * node's label is its own id, the min over merged labels IS the
    * min over all merged members: the invariant `component = min
    * member id` survives, so an incremental result is bit-identical
    * to a full recompute over old ∪ new edges (q264 proves exactly
    * that by hashing against the batch oracle).
    *
    * At 100 TB this is the difference between re-clustering the
    * dedup ledger nightly and absorbing an hourly crawl increment:
    * the star loop runs on ≤ 2·|new edges| label nodes, and the
    * corpus-sized work is two label-lookup joins plus the relabel
    * join, each keyed on the id partitioning. */
  def ccIncremental(components: DataFrame, newEdges: DataFrame,
      aCol: String = "a", bCol: String = "b"): DataFrame = {
    val spark = components.sparkSession
    import spark.implicits._
    val comp = components.select(col("doc_id").cast("long").as("n"),
      col("component").cast("long").as("c"))
    val e = newEdges.select(col(aCol).cast("long").as("x"),
      col(bCol).cast("long").as("y"))
    val labeled = e
      .join(comp.select($"n".as("x"), $"c".as("lx")), Seq("x"), "left_outer")
      .join(comp.select($"n".as("y"), $"c".as("ly")), Seq("y"), "left_outer")
      .select(coalesce($"lx", $"x").as("a"), coalesce($"ly", $"y").as("b"))
      .filter($"a" =!= $"b")
    // CC over the label graph (delta-sized); (label → merged root)
    val merged = ccAlternatingStar(labeled)
      .select($"doc_id".as("c"), $"component".as("newc"))
      .transform(graft.Fx.materialize)
    val relabeledOld = comp
      .join(merged, Seq("c"), "left_outer")
      .select($"n".as("doc_id"), coalesce($"newc", $"c").as("component"))
    val newNodes = e.select($"x".as("n")).unionAll(e.select($"y".as("n")))
      .distinct()
      .join(comp, Seq("n"), "left_anti") // previously unlabeled only
      .join(merged.select($"c".as("n"), $"newc"), Seq("n"), "left_outer")
      .select($"n".as("doc_id"), coalesce($"newc", $"n").as("component"))
    relabeledOld.unionByName(newNodes)
  }
}
