package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-path operators, each the "what you actually run at 100 TB"
  * counterpart of an exact operator elsewhere in the registry — and
  * each still fully oracle-checked, because the sketch/bitset/salt
  * construction is md5-derived on BOTH engines, so DuckDB rebuilds the
  * identical structure (collisions, false positives and all) and the
  * outputs hash-match bit for bit.
  *
  * - q147: HyperLogLog register file + estimate (vs exact distinct) —
  *   the fixed-space replacement for countDistinct. The production
  *   native is [[graft.plans.HllDistinct]] (XXH64, byte registers);
  *   this query mirrors the same algorithm through a cross-engine
  *   md5 hash so the oracle can verify registers, not just tolerance.
  * - q148: Bloom-filter decontamination prefilter — q95's broadcast
  *   side (every distinct eval 8-gram) replaced by an 8 KB-per-1K-bit
  *   bitset. At 100 TB the eval-gram set no longer fits in a broadcast
  *   hash relation; a 2^18-bit filter is 32 KB forever.
  * - q149: salted join + salted two-phase aggregation
  *   ([[Skew.saltedJoin]]/[[Skew.saltedSum]]) — result-identical to
  *   the plain join the oracle runs, while a hot suppkey spreads over
  *   n tasks instead of stalling one.
  * - q150: SCD2 validity intervals (gaps-and-islands) — the
  *   slowly-changing-dimension shape every warehouse load needs;
  *   windows partition by customer so interval construction is
  *   embarrassingly parallel.
  */
object ScaleQueries {
  import Fx._

  // ---- q147: HyperLogLog registers, cross-engine-deterministic ------

  /** q147 — HLL(p=6, 32-bit md5-derived hash) distinct-customer
    * estimate per order priority, emitted WITH its register digest
    * (observed buckets + sum of 2^(27-rank)) so the oracle verifies
    * the sketch state itself, not only the estimate.
    *
    * Scale shape: the per-group state is 64 bytes regardless of input
    * size — the groupBy(priority, bucket) shuffle carries at most
    * groups × 64 rows of (bucket, rank), with map-side max() partials.
    * The raw estimate alpha·m²/Σ2^-r is reproduced exactly in DuckDB:
    * Σ2^-r = zeros + sum_pow/2^27 is integer-exact (< 2^33 scaled),
    * and the remaining double ops are identical IEEE arithmetic on
    * identical inputs. (No log-based small-range correction — ln
    * differs across libm; the raw estimator is the cross-engine part,
    * accuracy is asserted in ScaleQueriesSpec.) */
  def q147(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val restBits = 26 // 32-bit hash = 6 bucket bits + 26 rank bits
    val h = Fx.md5Prefix($"o_custkey".cast("string"), 8)
    val rest = h.bitwiseAND(lit((1L << restBits) - 1))
    val hashed = Tables.orders(s, d).select(
      $"o_orderpriority".as("priority"),
      shiftright(h, restBits).as("bucket"),
      when(rest === 0L, lit(restBits + 1))
        .otherwise(lit(restBits + 1) - length(ltrim(bin(rest), "0")))
        .as("rank"))
    val regs = hashed.groupBy($"priority", $"bucket").agg(max($"rank").as("r"))
    val sketch = regs.groupBy($"priority").agg(
      count(lit(1)).as("observed"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 27 - r)")).as("sum_pow"))
    val exact = Tables.orders(s, d)
      .groupBy($"o_orderpriority".as("priority"))
      .agg(countDistinct($"o_custkey").as("exact_distinct"))
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0)) * lit(4096.0)
    sketch.join(exact, "priority")
      .withColumn("zeros", lit(64) - $"observed")
      .select($"priority", $"exact_distinct", $"observed", $"sum_pow",
        r4(alphaM2 / ($"zeros" + $"sum_pow" / lit(134217728.0))).as("hll_est"))
      .orderBy($"priority")
  }

  val q147Sql: String = {
    val alphaM2 =
      "(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE) * 4096.0::DOUBLE)"
    s"""WITH h AS (
       |  SELECT o_orderpriority AS priority,
       |    ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS hv
       |  FROM orders),
       |ranked AS (
       |  SELECT priority, hv >> 26 AS bucket,
       |    CASE WHEN hv % 67108864 = 0 THEN 27
       |         ELSE 27 - length(ltrim(bin(hv % 67108864), '0')) END AS rank
       |  FROM h),
       |regs AS (SELECT priority, bucket, max(rank) AS r FROM ranked GROUP BY 1, 2),
       |sk AS (
       |  SELECT priority, CAST(count(*) AS BIGINT) AS observed,
       |    CAST(sum(1::BIGINT << CAST(27 - r AS INT)) AS BIGINT) AS sum_pow
       |  FROM regs GROUP BY 1),
       |ex AS (SELECT o_orderpriority AS priority,
       |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
       |  FROM orders GROUP BY 1)
       |SELECT priority, exact_distinct, observed, sum_pow,
       |  ${sqlR4(s"$alphaM2 / ((64 - observed) + CAST(sum_pow AS DOUBLE) / 134217728.0::DOUBLE)")} AS hll_est
       |FROM sk JOIN ex USING (priority)
       |ORDER BY priority""".stripMargin
  }

  // ---- q148: Bloom-filter decontamination prefilter -----------------

  /** Distinct 8-word shingles of a doc as STRINGS (r19): the engine
    * side now derives both Bloom positions straight from the gram
    * string via the allocation-free [[graft.plans.Md5Chunk]] scalars —
    * one memoized digest per gram, no 32-char hex materialization, no
    * radix-16 substring parses. Distinct-over-strings ≡
    * distinct-over-digests absent an md5 collision of two different
    * 8-gram strings (the engine-wide assumption every digest-keyed
    * query already makes). The oracle still spells out the
    * digest-hex/substr derivation verbatim. Takes the MATERIALIZED
    * words array (callers project `split` into its own column first):
    * inlining the split here would re-split the text per element
    * access under interpreted HOF eval (~7× slower). */
  private def gramStrings(w: Column): Column =
    // r20: native generator — one buffer concat per doc, one byte-range
    // copy per gram (WordWindowsSpec pins byte-parity with the guarded
    // transform/slice/array_join chain this replaces)
    array_distinct(graft.plans.GraftFunctions.word_windows(w, 8))

  private val gramDigestsSql =
    "list_distinct(list_transform(range(1, greatest(len(w) - 6, 1)), " +
      "i -> md5(array_to_string(w[i:i+7], ' '))))"

  /** bit position idx∈{0,1}: 32-bit md5 chunk of the gram mod 2^18 —
    * value-identical to the oracle's `('0x' || substr(hex, 1|9, 8))::BIGINT
    * % 262144` (chunk 0 is `Fx.md5Prefix(g, 8)`; Md5ChunksSpec pins
    * both against the builtin md5). */
  private def bloomPos(g: Column, idx: Int): Column =
    pmod(graft.plans.GraftFunctions.md5_chunk(g, idx), lit(262144L))

  /** q148 — q95's decontamination check through a 2^18-bit Bloom
    * filter (k=2, both hashes sliced from one md5): eval-slice grams
    * fold into 8192 32-bit words via bit_or; training grams probe the
    * broadcast bitset with two bit tests instead of a hash-set lookup.
    *
    * Scale story: q95 broadcasts every distinct eval 8-gram — fine at
    * sf0.1, impossible when the eval suite is millions of grams times
    * hundreds of executors. The bitset is 32 KB no matter the corpus,
    * and the probe side stays a map-only broadcast join (two joins on
    * word index — Catalyst folds both into one codegen stage). The
    * price is false positives (one-sided: bloom_matched ≥ exact
    * matched, asserted vs q95 in ScaleQueriesSpec); both engines build
    * the IDENTICAL filter, so the oracle hash-matches FPs included.
    * 32-bit words keep every shift in [0,31] — no sign games on
    * either engine. */
  def q148(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val evalPos = docs.filter($"source" === "src0")
      .select(split($"text", " ").as("w"))
      .select(explode(gramStrings($"w")).as("g"))
      .select(explode(array(bloomPos($"g", 0), bloomPos($"g", 1))).as("p"))
      .distinct()
    val bloom = evalPos
      .groupBy(shiftright($"p", 5).as("idx"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")).as("wd"))
    val train = docs.filter($"source" =!= "src0")
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode_outer(gramStrings($"w")).as("g"))
      .withColumn("p1", bloomPos($"g", 0))
      .withColumn("p2", bloomPos($"g", 1))
    val hit = train
      .join(broadcast(bloom.select($"idx".as("idx1"), $"wd".as("w1"))),
        shiftright($"p1", 5) === $"idx1", "left")
      .join(broadcast(bloom.select($"idx".as("idx2"), $"wd".as("w2"))),
        shiftright($"p2", 5) === $"idx2", "left")
      .withColumn("hit",
        ($"g".isNotNull &&
          coalesce($"w1", lit(0L))
            .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), CAST(p1 % 32 AS INT))")) =!= 0 &&
          coalesce($"w2", lit(0L))
            .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), CAST(p2 % 32 AS INT))")) =!= 0)
          .cast("int"))
    hit.groupBy($"doc_id").agg(
      sum(when($"g".isNotNull, 1).otherwise(0)).as("total_grams"),
      sum($"hit").as("bloom_matched"))
      .select($"doc_id", $"total_grams", $"bloom_matched",
        ($"bloom_matched" > 0).cast("int").as("bloom_contaminated"))
      .orderBy($"doc_id")
  }

  val q148Sql: String =
    s"""WITH docs AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, source, unnest($gramDigestsSql) AS g FROM docs),
       |epos AS (
       |  SELECT DISTINCT unnest([('0x' || substr(g, 1, 8))::BIGINT % 262144,
       |                          ('0x' || substr(g, 9, 8))::BIGINT % 262144]) AS p
       |  FROM g WHERE source = 'src0'),
       |bloom AS (
       |  SELECT p // 32 AS idx, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS wd
       |  FROM epos GROUP BY 1),
       |train AS (
       |  SELECT doc_id, ('0x' || substr(g, 1, 8))::BIGINT % 262144 AS p1,
       |         ('0x' || substr(g, 9, 8))::BIGINT % 262144 AS p2
       |  FROM g WHERE source <> 'src0'),
       |hits AS (
       |  SELECT t.doc_id, count(*) AS total_grams,
       |    CAST(sum(CASE WHEN (COALESCE(b1.wd, 0) & (1::BIGINT << CAST(t.p1 % 32 AS INT))) <> 0
       |                   AND (COALESCE(b2.wd, 0) & (1::BIGINT << CAST(t.p2 % 32 AS INT))) <> 0
       |             THEN 1 ELSE 0 END) AS BIGINT) AS bloom_matched
       |  FROM train t
       |  LEFT JOIN bloom b1 ON t.p1 // 32 = b1.idx
       |  LEFT JOIN bloom b2 ON t.p2 // 32 = b2.idx
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id, CAST(COALESCE(h.total_grams, 0) AS BIGINT) AS total_grams,
       |  COALESCE(h.bloom_matched, 0) AS bloom_matched,
       |  CAST(COALESCE(h.bloom_matched, 0) > 0 AS INT) AS bloom_contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.source <> 'src0'
       |ORDER BY d.doc_id""".stripMargin

  // ---- q149: salted join + salted two-phase aggregation -------------

  /** q149 — revenue by supplier nation via [[Skew.saltedJoin]] (big
    * side salted n ways, small side replicated n ways) and
    * [[Skew.saltedSum]] (partial sums on (key, salt), merged on key).
    * Result-identical to the plain join+groupBy the oracle runs — the
    * salt only redistributes rows — so a hot supplier key that would
    * pin one task now spreads over 8. Revenue lands on the 4-decimal
    * grid, so the two-phase double summation re-rounds to the same
    * cents as the oracle's single sum (Fx grid-first rule). */
  def q149(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = Tables.lineitem(s, d).select($"l_suppkey".as("suppkey"),
      ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    val small = Tables.supplier(s, d)
      .join(Tables.nation(s, d), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey".as("suppkey"), $"n_name")
    val joined = Skew.saltedJoin(big, small, "suppkey", 8)
    Skew.saltedSum(joined, "n_name", "rev", 8)
      .select($"n_name", r2(r4($"sum_rev")).as("revenue"))
      .orderBy($"n_name")
  }

  val q149Sql: String =
    s"""SELECT n_name, ${sqlRev4Sum("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---- q150: SCD2 validity intervals (gaps and islands) -------------

  /** q150 — slowly-changing-dimension type 2: per customer, collapse
    * the order history into runs of equal price tier (gaps-and-islands
    * via the row_number difference trick), then chain each island's
    * valid_from to the next island's start with lead() — the
    * half-open [valid_from, valid_to) interval table a warehouse
    * upserts on every load. All three windows partition by customer,
    * so one hash-partitioned shuffle serves the whole plan and
    * interval construction parallelizes per key at any scale. */
  def q150(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tier = when($"o_totalprice" < 50000.0, "low")
      .when($"o_totalprice" < 150000.0, "mid").otherwise("high")
    val o = Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", tier.as("tier"))
    val wAll = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val wTier = Window.partitionBy($"o_custkey", $"tier")
      .orderBy($"o_orderdate", $"o_orderkey")
    val islands = o
      .withColumn("grp", row_number().over(wAll) - row_number().over(wTier))
      .groupBy($"o_custkey", $"tier", $"grp")
      .agg(min($"o_orderdate").as("valid_from"),
        min($"o_orderkey").as("first_key"),
        count(lit(1)).as("n_orders"))
    val wNext = Window.partitionBy($"o_custkey")
      .orderBy($"valid_from", $"first_key")
    islands
      .withColumn("valid_to", lead($"valid_from", 1).over(wNext))
      .select($"o_custkey", $"tier", $"valid_from", $"valid_to",
        $"first_key", $"n_orders",
        $"valid_to".isNull.cast("int").as("is_current"))
      .orderBy($"o_custkey", $"valid_from", $"first_key")
  }

  val q150Sql: String =
    """WITH t AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CASE WHEN o_totalprice < 50000.0 THEN 'low'
      |         WHEN o_totalprice < 150000.0 THEN 'mid' ELSE 'high' END AS tier
      |  FROM orders),
      |marked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |    - row_number() OVER (PARTITION BY o_custkey, tier ORDER BY o_orderdate, o_orderkey) AS grp
      |  FROM t),
      |islands AS (
      |  SELECT o_custkey, tier, grp, min(o_orderdate) AS valid_from,
      |    min(o_orderkey) AS first_key, CAST(count(*) AS BIGINT) AS n_orders
      |  FROM marked GROUP BY 1, 2, 3)
      |SELECT o_custkey, tier, valid_from,
      |  lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from, first_key) AS valid_to,
      |  first_key, n_orders,
      |  CAST(lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from, first_key)
      |       IS NULL AS INT) AS is_current
      |FROM islands
      |ORDER BY o_custkey, valid_from, first_key""".stripMargin

  // ---- q157: mergeable quantile sketch (exact regime) ---------------

  /** q157 — grouped quantiles through the native compactor-stack
    * sketch ([[graft.plans.QuantileSketchAgg]]): per-language
    * p25/p50/p75 of document length. k=8192 exceeds every group here,
    * so no compaction fires and the sketch answers the EXACT
    * nearest-rank quantile the oracle recomputes with a rank window —
    * the q128 exact-regime discipline. (The sketch's point is the
    * other regime: at 100 TB each partial still carries ≤ k·log(N/k)
    * doubles; QuantileSketchSpec pins that error bound empirically.) */
  def q157(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        graft.plans.QuantileSketch.qsketch($"n_chars".cast("double"), 8192,
          Seq(0.25, 0.5, 0.75)).as("qs"))
      .select($"lang", $"n_docs",
        element_at($"qs", 1).as("p25"),
        element_at($"qs", 2).as("p50"),
        element_at($"qs", 3).as("p75"))
      .orderBy($"lang")
  }

  val q157Sql: String =
    """WITH ranked AS (
      |  SELECT lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(min(CASE WHEN rn = greatest(1, ceil(n * 0.25)) THEN n_chars END) AS DOUBLE) AS p25,
      |  CAST(min(CASE WHEN rn = greatest(1, ceil(n * 0.5)) THEN n_chars END) AS DOUBLE) AS p50,
      |  CAST(min(CASE WHEN rn = greatest(1, ceil(n * 0.75)) THEN n_chars END) AS DOUBLE) AS p75
      |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  /** q160 — sketch-cube rollup: per-(lang, source) PARTIAL sketches
    * emitted as serialized binaries, then merged per lang — quantiles
    * over the union without touching raw rows again. This is how a
    * 100 TB metrics cube works: daily jobs persist one sketch row per
    * shard; every rollup window (7d, 30d, all-time) is a merge over
    * those rows instead of a rescan. Exact regime end to end here
    * (shards and merged unions both under k), so the DuckDB oracle is
    * the exact nearest-rank median; QuantileSketchSpec covers the
    * lossy regime and the parquet persistence round-trip. */
  def q160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val partials = Tables.documents(s, d)
      .groupBy($"lang", $"source")
      .agg(graft.plans.QuantileSketch
        .qsketch_bin($"n_chars".cast("double"), 8192).as("sk"))
    partials.groupBy($"lang")
      .agg(count(lit(1)).as("n_shards"),
        graft.plans.QuantileSketch.qsketch_merge($"sk", Seq(0.5)).as("q"))
      .select($"lang", $"n_shards", element_at($"q", 1).as("p50"))
      .orderBy($"lang")
  }

  val q160Sql: String =
    """WITH ranked AS (
      |  SELECT lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT r.lang,
      |  (SELECT count(DISTINCT source) FROM documents d
      |   WHERE d.lang = r.lang) AS n_shards,
      |  CAST(min(CASE WHEN rn = greatest(1, ceil(n * 0.5)) THEN n_chars END) AS DOUBLE) AS p50
      |FROM ranked r GROUP BY r.lang ORDER BY r.lang""".stripMargin

  /** q162 — sliding-window distinct users from PRE-AGGREGATED hourly
    * HLL registers (q147's md5 construction, so the oracle rebuilds
    * the identical registers): each hourly register row contributes
    * to the 6 window-ends it falls in, merged with a bucket-wise max
    * — the time-windowed face of the sketch cube. At 100 TB this is
    * the only viable sliding distinct: the hourly grid is
    * hours × 64 rows forever, each window merge touches ≤ 6·64 rows,
    * and raw events are scanned ONCE; the windowed exact distinct
    * (emitted alongside for the accuracy audit, like q147) is the
    * thing that stops scaling. */
  def q162(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val restBits = 26
    val win = 6 // hours per sliding window
    val h = Fx.md5Prefix($"user_id".cast("string"), 8)
    val rest = h.bitwiseAND(lit((1L << restBits) - 1))
    val hashed = Tables.events(s, d).select(
      expr("unix_micros(ts) div 3600000000").as("hour"),
      $"user_id",
      shiftright(h, restBits).as("bucket"),
      when(rest === 0L, lit(restBits + 1))
        .otherwise(lit(restBits + 1) - length(ltrim(bin(rest), "0")))
        .as("rank"))
    val hourly = hashed.groupBy($"hour", $"bucket").agg(max($"rank").as("r"))
    val hours = hashed.select($"hour").distinct()
    // expand each hourly register to the window-ends it serves, merge
    val merged = hourly
      .select(explode(sequence($"hour", $"hour" + (win - 1))).as("wend"),
        $"bucket", $"r")
      .join(hours.select($"hour".as("wend")), "wend") // only real hours emit
      .groupBy($"wend", $"bucket").agg(max($"r").as("r"))
    val sketch = merged.groupBy($"wend").agg(
      count(lit(1)).as("observed"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), 27 - r)")).as("sum_pow"))
    // exact windowed distinct for the inline accuracy audit
    val exact = hashed.select($"hour", $"user_id").distinct()
      .select(explode(sequence($"hour", $"hour" + (win - 1))).as("wend"), $"user_id")
      .join(hours.select($"hour".as("wend")), "wend")
      .groupBy($"wend").agg(countDistinct($"user_id").as("exact_distinct"))
    val alphaM2 = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0)) * lit(4096.0)
    sketch.join(exact, "wend")
      .select($"wend", $"exact_distinct", $"observed", $"sum_pow",
        r4(alphaM2 / ((lit(64) - $"observed") + $"sum_pow" / lit(134217728.0)))
          .as("hll_est"))
      .orderBy($"wend")
  }

  val q162Sql: String = {
    val alphaM2 =
      "(0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 64.0::DOUBLE) * 4096.0::DOUBLE)"
    s"""WITH h AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour, user_id,
       |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS hv
       |  FROM events),
       |ranked AS (
       |  SELECT hour, hv >> 26 AS bucket,
       |    CASE WHEN hv % 67108864 = 0 THEN 27
       |         ELSE 27 - length(ltrim(bin(hv % 67108864), '0')) END AS rank
       |  FROM h),
       |hourly AS (SELECT hour, bucket, max(rank) AS r FROM ranked GROUP BY 1, 2),
       |hours AS (SELECT DISTINCT hour FROM h),
       |merged AS (
       |  SELECT u.wend, bucket, max(r) AS r
       |  FROM hourly, unnest(range(hourly.hour, hourly.hour + 6)) AS u(wend)
       |  WHERE u.wend IN (SELECT hour FROM hours)
       |  GROUP BY 1, 2),
       |sk AS (
       |  SELECT wend, CAST(count(*) AS BIGINT) AS observed,
       |    CAST(sum(1::BIGINT << CAST(27 - r AS INT)) AS BIGINT) AS sum_pow
       |  FROM merged GROUP BY 1),
       |ex AS (
       |  SELECT u.wend, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       |  FROM (SELECT DISTINCT hour, user_id FROM h) hu,
       |       unnest(range(hu.hour, hu.hour + 6)) AS u(wend)
       |  WHERE u.wend IN (SELECT hour FROM hours)
       |  GROUP BY 1)
       |SELECT sk.wend, exact_distinct, observed, sum_pow,
       |  ${sqlR4(s"$alphaM2 / ((64 - observed) + CAST(sum_pow AS DOUBLE) / 134217728.0::DOUBLE)")} AS hll_est
       |FROM sk JOIN ex ON sk.wend = ex.wend
       |ORDER BY sk.wend""".stripMargin
  }

  // ---- q235: hybrid hot/cold join under power-law keys --------------

  /** q235 — segment revenue through [[Skew.hybridJoin]]: event rows
    * join the customer dimension with hot users (> 100 events)
    * broadcast-joined — their rows never shuffle — while the cold
    * long tail takes the ordinary shuffle path with its skew gone by
    * construction. This is the third leg of the skew toolkit beside
    * AQE splitting (AqeSpec) and salting (q149): salting still
    * shuffles every hot row, just spread across salts; the hybrid
    * form removes the hot rows from the shuffle entirely, at the
    * price of one counting pass — the right trade when a few keys
    * dominate (the power-law norm in event data). Result is
    * strategy-invariant, so the oracle states the plain join; parity
    * and plan shape are additionally spec-pinned (HybridJoinSpec).
    * Money rides exact cents (floor(value·100), the q175 grid). */
  def q235(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"user_id",
      floor($"value" * 100).cast("long").as("c"))
    val dim = Tables.customer(s, d)
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
    Skew.hybridJoin(ev, dim, "user_id", hotThreshold = 100L)
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_events"), sum($"c").as("cents"))
      .orderBy($"segment")
  }

  val q235Sql: String =
    """SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q260 — clamped running balance (bounded inventory): per part, the
    * day-by-day stock level under a floor of 0 and a capacity of 100,
    * where each active day nets CASE linenumber-parity quantity in or
    * out — the order-dependent recurrence
    * `bal = min(max(bal + delta, 0), 100)` that NO window function
    * expresses (clamped running sums don't decompose into prefix
    * sums). The engine side rides
    * [[Accumulate.clampedRunningBalance]]: the clamp transfer
    * functions compose as a semigroup
    * ([[graft.plans.ClampFoldAgg]]), so the fold runs as a two-phase
    * parallel prefix — in-partition ordered folds in parallel, then a
    * carry composition over the bounded per-partition cell domain —
    * never a per-group sequential task. The oracle states the same
    * recurrence the only way SQL can: a recursive CTE stepping
    * row-rank by row-rank (affordable at oracle scale, and exactly
    * the sequential semantics the parallel fold must reproduce).
    * Deltas stay exact BIGINTs (quantity is integer-valued on its
    * grid) — clamping is integer min/max, so every balance is exact.
    *
    * Scale shape: one groupBy onto the (part, day) grid, then the
    * operator's range-repartition + two ordered window passes + one
    * (partition, group)-keyed join. Group cardinality (parts) is
    * unbounded — nothing broadcasts the group domain. */
  /** Shared by q260/q269: the per-(part, active-day) clamped balance. */
  private def clampedBalances(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = Tables.lineitem(s, d)
      .filter($"l_partkey" % 25 === 0)
      .select($"l_partkey".as("part"), epochDay($"l_shipdate").as("day"),
        when($"l_linenumber" % 2 === 0, $"l_quantity")
          .otherwise(-$"l_quantity").cast("long").as("d0"))
      .groupBy($"part", $"day")
      .agg(sum($"d0").cast("long").as("delta"))
    Accumulate.clampedRunningBalance(
        grid, Seq("part"), 32, "delta", Some(0L), Some(100L), 0L, $"day")
      .select($"part", $"day".cast("long").as("day"), $"balance")
  }

  def q260(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    clampedBalances(s, d).orderBy($"part", $"day")
  }

  /** Shared WITH body: grid → ranked rows → recursive clamp fold. */
  private val balanceCoreSql: String =
    """g AS (
      |  SELECT l_partkey AS part,
      |    CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS day,
      |    CAST(sum(CASE WHEN l_linenumber % 2 = 0
      |                  THEN CAST(l_quantity AS BIGINT)
      |                  ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS delta
      |  FROM lineitem WHERE l_partkey % 25 = 0
      |  GROUP BY 1, 2),
      |o AS (
      |  SELECT part, day, delta,
      |    row_number() OVER (PARTITION BY part ORDER BY day) AS rn
      |  FROM g),
      |r(part, rn, bal) AS (
      |  SELECT part, rn, least(greatest(0 + delta, 0), 100) FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.part, o.rn, least(greatest(r.bal + o.delta, 0), 100)
      |  FROM r JOIN o ON o.part = r.part AND o.rn = r.rn + 1),
      |bal AS (
      |  SELECT r.part AS part, CAST(o.day AS BIGINT) AS day, r.bal AS balance
      |  FROM r JOIN o ON r.part = o.part AND r.rn = o.rn)""".stripMargin

  val q260Sql: String =
    s"""WITH RECURSIVE $balanceCoreSql
       |SELECT part, day, balance FROM bal
       |ORDER BY part, day""".stripMargin

  /** q269 — stockout-episode extraction: the operational readout over
    * q260's balances. A stockout episode is a maximal run of
    * consecutive ACTIVE days (rows of the part's balance sequence)
    * pegged at the floor — extracted with the gaps-and-islands
    * rank-difference trick over per-part windows (high-cardinality
    * partitions; the q150 SCD2 shape applied to the clamp output).
    * Per episode: first/last pegged day and the run length in active
    * days; the capacity-planning number behind "how long were we
    * unable to serve". Composition gate: the oracle recomputes the
    * balances with the recursive CTE and the islands with the same
    * rank difference — so q269 green certifies the clamp fold AND
    * the episode logic end to end. */
  def q269(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wAll = Window.partitionBy($"part").orderBy($"day")
    val flagged = clampedBalances(s, d)
      .withColumn("rn", row_number().over(wAll))
      .filter($"balance" === 0)
    val wZero = Window.partitionBy($"part").orderBy($"day")
    flagged
      .withColumn("rz", row_number().over(wZero))
      .withColumn("grp", $"rn" - $"rz")
      .groupBy($"part", $"grp")
      .agg(min($"day").as("start_day"), max($"day").as("end_day"),
        count(lit(1)).as("n_active_days"))
      .select($"part", $"start_day", $"end_day", $"n_active_days")
      .orderBy($"part", $"start_day")
  }

  val q269Sql: String =
    s"""WITH RECURSIVE $balanceCoreSql,
       |seq AS (
       |  SELECT part, day, balance,
       |    row_number() OVER (PARTITION BY part ORDER BY day) AS rn
       |  FROM bal),
       |z AS (
       |  SELECT part, day, rn,
       |    row_number() OVER (PARTITION BY part ORDER BY day) AS rz
       |  FROM seq WHERE balance = 0)
       |SELECT part, min(day) AS start_day, max(day) AS end_day,
       |  count(*) AS n_active_days
       |FROM z GROUP BY part, rn - rz
       |ORDER BY part, start_day""".stripMargin

  /** q326 — distributed WEIGHTED median line price per brand
    * (quantity-weighted, lower-median rule: the smallest price whose
    * inclusive cumulative weight reaches ⌈W/2⌉ — stated): the robust
    * "typical transaction price" that unit-count medians misstate
    * when big orders dominate. The corpus first collapses to
    * (brand, price) cells with summed weights; the cumulative weight
    * then rides [[Ranking.groupRunningSum]] (range-repartition
    * two-phase prefix — NO per-brand window over an uncollapsed
    * relation, and cells keep the group domain unbounded-safe); the
    * selection is one bounded aggregate against broadcast brand
    * totals. Exact integers throughout — prices on the cent grid,
    * weights as whole quantities.
    *
    * Scale shape: groupBy collapse → distributed prefix → broadcast
    * totals join → min-when selection. The oracle keeps its
    * cumulative-window form at oracle scale. */
  def q326(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_partkey",
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("price"),
        $"l_quantity".cast("long").as("qty"))
      .join(broadcast(Tables.part(s, d)
        .select($"p_partkey".as("l_partkey"), $"p_brand".as("brand"))),
        "l_partkey")
    val cells = li.groupBy($"brand", $"price")
      .agg(sum($"qty").as("w"))
    val cum = Ranking.groupRunningSum(cells, Seq("brand"), 8, "w",
      $"price".asc)
    val tot = cells.groupBy($"brand").agg(sum($"w").as("tw"))
      .withColumnRenamed("brand", "__b")
    cum.join(broadcast(tot), $"brand" === $"__b")
      .groupBy($"brand")
      .agg(max($"tw").as("total_qty"),
        min(when($"run_before" + $"w" >= expr("(tw + 1) div 2"), $"price"))
          .as("median_price_cents"))
      .orderBy($"brand")
  }

  val q326Sql: String =
    """WITH li AS (
      |  SELECT p.p_brand AS brand,
      |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price,
      |    CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem JOIN part p ON l_partkey = p.p_partkey),
      |cells AS (
      |  SELECT brand, price, CAST(sum(qty) AS BIGINT) AS w
      |  FROM li GROUP BY 1, 2),
      |cum AS (
      |  SELECT brand, price, w,
      |    CAST(sum(w) OVER (PARTITION BY brand ORDER BY price) AS BIGINT)
      |      AS cw,
      |    CAST(sum(w) OVER (PARTITION BY brand) AS BIGINT) AS tw
      |  FROM cells)
      |SELECT brand, max(tw) AS total_qty,
      |  min(CASE WHEN cw >= (tw + 1) // 2 THEN price END)
      |    AS median_price_cents
      |FROM cum GROUP BY 1 ORDER BY brand""".stripMargin

  /** q327 — leaderboard churn: how stable is the top-20 revenue part
    * list month over month — per month pair, the carryover count, new
    * entrants, and the Jaccard of the two sets (exact integers; the
    * merchandising "how volatile is our head" readout, and the
    * data-quality tripwire when a feed goes partial: churn spikes).
    * Month heads are selected by the native bounded-heap
    * [[graft.plans.TopK.perGroup]] over (month, part) revenue cells —
    * per-partition heaps, no per-month sort of the catalog — with the
    * (rev desc, part asc) total order shared by the oracle's window.
    *
    * Scale shape: one collapse to month×part cells, a native top-k,
    * then a self-join of 20-row-per-month sets — everything after the
    * first aggregate is head-sized. */
  def q327(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.lineitem(s, d)
      .select((year($"l_shipdate") * 100 + month($"l_shipdate"))
          .cast("long").as("ym"),
        $"l_partkey".as("part"),
        floor($"l_extendedprice" * ($"l_discount" * -1 + 1) * 10000 + 0.5)
          .cast("long").as("rev4"))
      .groupBy($"ym", $"part").agg(sum($"rev4").as("rev"))
    val top = graft.plans.TopK.perGroup(cells, 20, Seq("ym"),
        Seq(graft.plans.TopK.desc("rev"), graft.plans.TopK.asc("part")))
      .select($"ym", $"part")
      .transform(graft.Fx.materialize)
    val months = top.select($"ym").distinct()
      .withColumn("prev_ym",
        when($"ym" % 100 === 1, $"ym" - 89).otherwise($"ym" - 1))
    val a = top.select($"ym".as("prev_ym"), $"part")
    val b = top.select($"ym".as("cur_ym"), $"part")
    // LEFT join the common counts so a month whose head is DISJOINT
    // from its predecessor reads n_common = 0 — the churn-spike alarm
    // this query exists for must appear, not vanish; list sizes are
    // the actual head sizes (a thin month may hold fewer than 20)
    val sizes = top.groupBy($"ym").agg(count(lit(1)).as("n_list"))
    val common0 = months.join(b, $"ym" === $"cur_ym")
      .join(a, Seq("prev_ym", "part"), "left_semi")
      .groupBy($"ym").agg(count(lit(1)).as("n_common"))
    months
      .join(broadcast(sizes.select($"ym".as("pm"), $"n_list".as("n_prev"))),
        $"prev_ym" === $"pm")
      .join(broadcast(sizes.select($"ym", $"n_list".as("n_cur"))), "ym")
      .join(common0, Seq("ym"), "left")
      .select($"ym", coalesce($"n_common", lit(0L)).as("n_common"),
        $"n_cur", $"n_prev")
      .select($"ym", $"n_common", ($"n_cur" - $"n_common").as("n_new"),
        expr("(n_common * 1000000) div (n_cur + n_prev - n_common)")
          .as("jaccard_micro"))
      .orderBy($"ym")
  }

  val q327Sql: String =
    """WITH cells AS (
      |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
      |      AS ym,
      |    l_partkey AS part,
      |    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
      |      + 0.5) AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |top AS (
      |  SELECT ym, part FROM (
      |    SELECT ym, part,
      |      row_number() OVER (PARTITION BY ym ORDER BY rev DESC, part)
      |        AS rn
      |    FROM cells) t WHERE rn <= 20),
      |months AS (
      |  SELECT DISTINCT ym,
      |    CASE WHEN ym % 100 = 1 THEN ym - 89 ELSE ym - 1 END AS prev_ym
      |  FROM top),
      |sizes AS (
      |  SELECT ym, CAST(count(*) AS BIGINT) AS n_list FROM top GROUP BY 1),
      |common AS (
      |  SELECT m.ym, CAST(count(*) AS BIGINT) AS n_common
      |  FROM months m
      |  JOIN top b ON b.ym = m.ym
      |  WHERE EXISTS (SELECT 1 FROM top a
      |                WHERE a.ym = m.prev_ym AND a.part = b.part)
      |  GROUP BY 1)
      |SELECT m.ym, COALESCE(c.n_common, 0) AS n_common,
      |  sc.n_list - COALESCE(c.n_common, 0) AS n_new,
      |  (COALESCE(c.n_common, 0) * 1000000)
      |    // (sc.n_list + sp.n_list - COALESCE(c.n_common, 0))
      |    AS jaccard_micro
      |FROM months m
      |JOIN sizes sp ON sp.ym = m.prev_ym
      |JOIN sizes sc ON sc.ym = m.ym
      |LEFT JOIN common c ON c.ym = m.ym
      |ORDER BY m.ym""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q326_weighted_median", q326, Some(q326Sql)),
    QueryDef("q327_leaderboard_churn", q327, Some(q327Sql)),
    QueryDef("q260_clamped_balance", q260, Some(q260Sql), bench = true),
    QueryDef("q269_stockout_episodes", q269, Some(q269Sql)),
    QueryDef("q235_hybrid_skew_join", q235, Some(q235Sql)),
    QueryDef("q147_hll_registers", q147, Some(q147Sql)),
    QueryDef("q148_bloom_decontamination", q148, Some(q148Sql), bench = true),
    QueryDef("q149_salted_join", q149, Some(q149Sql), bench = true),
    QueryDef("q150_scd2_intervals", q150, Some(q150Sql)),
    QueryDef("q157_quantile_sketch", q157, Some(q157Sql)),
    QueryDef("q160_sketch_rollup", q160, Some(q160Sql)),
    QueryDef("q162_sliding_distinct_sketch", q162, Some(q162Sql)),
    QueryDef("q177_heavy_hitter_cube", q177, Some(q177Sql), bench = true))

  /** q177 — heavy-hitter cube: hourly Misra-Gries summaries persist as
    * BINARY columns (mg_bin), the daily/global rollup merges the
    * binaries only (mg_merge, mergeable-summaries rule) — the q160/
    * HLL-cube pattern completed for frequent items. Exact regime for
    * the oracle gate: k=16 ≥ the event-type cardinality, so no
    * decrement ever fires and the merged summary IS the exact count
    * table. At real vocabularies the same plan is the bounded-state
    * approximate top-k with the n/(k+1) error bound
    * (FrequentItemsSpec pins it). */
  def q177(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(graft.plans.MisraGries.mg_bin($"event_type", 16).as("sk"))
    hourly
      .agg(count(lit(1)).as("n_hours"),
        graft.plans.MisraGries.mg_merge($"sk").as("top"))
      .select($"n_hours", explode($"top").as("e"))
      .select($"n_hours", $"e.item".as("item"), $"e.cnt".as("cnt"))
      .orderBy($"cnt".desc, $"item")
  }

  lazy val q177Sql: String =
    """SELECT (SELECT count(DISTINCT date_trunc('hour', ts)) FROM events) AS n_hours,
      |  event_type AS item, count(*) AS cnt
      |FROM events
      |GROUP BY 2
      |ORDER BY cnt DESC, item""".stripMargin
}
