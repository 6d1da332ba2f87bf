package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions.md5_fast

/** Corpus curation *policy* operators — the decision layer that sits on
  * top of the dedup/quality/contamination signals: which duplicate to
  * keep, which boilerplate to strip, which sources dominate, how to
  * rebalance the language mix. All column expressions + windows over
  * aggregated (small) intermediates; oracle-checked like everything
  * else.
  */
object CurationQueries {
  import Fx._

  private def quality(c: Column): Column =
    graft.functions.TextAnalysis.qualityScore(c)
  /** The exact-integer micro grid — every re-quantizing consumer
    * (floor(q·10⁶) bins, round(q·10⁴) grids) reads THIS, never a
    * float round-trip. */
  private def qualityMicro(c: Column): Column =
    graft.functions.TextAnalysis.qualityMicro(c)

  /** The q41 quality expression over a subquery exposing
    * toks/chars/stop_en — kept in exact parity with
    * [[graft.functions.TextAnalysis.qualityScore]]. */
  private val tokSql =
    "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT)"
  private def occSql(w: String): String =
    graft.functions.TextAnalysis.sqlWordOccurrences("lower(text)", w)
  private val stopEnSql = s"(${occSql("the")} + ${occSql("and")} + ${occSql("of")})"
  /** Exact-integer micro score over a subquery exposing
    * toks/chars/stop_en (all BIGINT-able) — the named-intermediate
    * twin of [[graft.functions.TextAnalysis.sqlQualityMicro]]. */
  private val qualityMicroSql: String =
    "(least(toks, 50) * 8000 + (CASE WHEN CAST(chars AS BIGINT) - toks + 1 >= toks * 2 AND CAST(chars AS BIGINT) - toks + 1 <= toks * 12 THEN 300000 ELSE 0 END) + least(stop_en, 5) * 60000)"
  private val qualitySql: String =
    s"(CAST($qualityMicroSql AS DOUBLE) / 1000000.0)"
  private val scoredSql =
    s"""SELECT doc_id, md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fp,
       |  $qualitySql AS q FROM (
       |  SELECT doc_id, text, $tokSql AS toks,
       |    CAST(length(text) AS DOUBLE) AS chars, $stopEnSql AS stop_en
       |  FROM documents) b""".stripMargin

  /** q100 — duplicate-cluster resolution, keep-best-quality: cluster
    * on the leading 5-word shingle (the boilerplate-prefix key — this
    * corpus has no byte-identical dups, but shared openings mark the
    * near-dup families q53 verifies), then keep the highest-quality
    * member (quality desc, doc_id tie-break) instead of blind
    * keep-min-id. The window partitions on the fingerprint, so
    * resolution is distributed. */
  def q100(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"fp").orderBy($"q".desc, $"doc_id")
    val cnt = Window.partitionBy($"fp")
    Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.TextAnalysis.prefixFingerprint($"text").as("fp"),
        quality($"text").as("q"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(cnt))
      .filter($"rn" === 1 && $"n_docs" >= 2)
      .select($"fp", $"n_docs", $"doc_id".as("kept_doc"), r4($"q").as("kept_quality"))
      .orderBy($"fp")
  }

  val q100Sql: String =
    s"""WITH scored AS ($scoredSql),
       |r AS (SELECT fp, doc_id, q,
       |        row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn,
       |        count(*) OVER (PARTITION BY fp) AS n_docs
       |      FROM scored)
       |SELECT fp, CAST(n_docs AS BIGINT) AS n_docs, doc_id AS kept_doc,
       |  ${sqlR4("q")} AS kept_quality
       |FROM r WHERE rn = 1 AND n_docs >= 2
       |ORDER BY fp""".stripMargin

  /** Per-doc word bigrams (shared helper; materialized array first —
    * no inline-split re-evaluation). */
  private def bigrams(w: Column): Column =
    graft.functions.TextAnalysis.adjacentPairs(w)

  /** q101 — stop-gram boilerplate detection: the corpus-wide top-20
    * bigrams become "stop-grams"; each document reports how much of it
    * is made of them. The stop-gram set is tiny → broadcast; the
    * per-doc side streams. */
  def q101(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docBigrams = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode(bigrams($"w")).as("ng"))
    // The stop-gram list is 20 strings — materialize it eagerly and
    // fold it into a literal IN predicate. That turns the second pass
    // into a pure map-side expression (no join, no cached exploded
    // bigram relation to leak in a long-lived session); the corpus is
    // scanned twice, but a bigram explode is scan-speed and at 100 TB
    // re-reading beats caching a ~10×-amplified intermediate.
    val stopGrams = docBigrams.groupBy($"ng").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"ng").limit(20)
      .select($"ng").collect().map(_.getString(0)).toSeq
    docBigrams
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"ng".isin(stopGrams: _*), 1).otherwise(0)).as("stopgram_hits"))
      .filter($"stopgram_hits" >= 1)
      .select($"doc_id", $"n_bigrams", $"stopgram_hits",
        r4($"stopgram_hits".cast("double") / $"n_bigrams").as("stopgram_frac"))
      .orderBy($"doc_id")
  }

  val q101Sql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ng
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t),
       |stop AS (SELECT ng FROM (
       |  SELECT ng, count(*) AS n FROM bg GROUP BY ng
       |  ORDER BY n DESC, ng LIMIT 20) s),
       |hits AS (
       |  SELECT bg.doc_id, count(*) AS n_bigrams,
       |    sum(CASE WHEN stop.ng IS NOT NULL THEN 1 ELSE 0 END) AS stopgram_hits
       |  FROM bg LEFT JOIN stop ON bg.ng = stop.ng
       |  GROUP BY bg.doc_id)
       |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       |  CAST(stopgram_hits AS BIGINT) AS stopgram_hits,
       |  ${sqlR4("CAST(stopgram_hits AS DOUBLE) / n_bigrams")} AS stopgram_frac
       |FROM hits WHERE stopgram_hits >= 1
       |ORDER BY doc_id""".stripMargin

  /** q102 — source concentration: token mass per source with
    * cumulative corpus share, largest first. The unpartitioned window
    * runs over 20 aggregated rows — post-aggregation, not a scale
    * concern. */
  def q102(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = graft.functions.TextAnalysis.tokenCount($"text").cast("long")
    val agg = Tables.documents(s, d)
      .select($"source", toks.as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"))
    val ord = Window.orderBy($"tokens".desc, $"source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    agg
      .withColumn("cum_tokens", sum($"tokens").over(ord))
      .withColumn("total", sum($"tokens").over(tot))
      .select($"source", $"n_docs", $"tokens", $"cum_tokens",
        r6($"cum_tokens".cast("double") / $"total").as("cum_share"))
      .orderBy($"tokens".desc, $"source")
  }

  val q102Sql: String =
    s"""SELECT source, n_docs, CAST(tokens AS BIGINT) AS tokens,
       |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
       |  ${sqlR6("CAST(cum_tokens AS DOUBLE) / total")} AS cum_share
       |FROM (
       |  SELECT source, n_docs, tokens,
       |    sum(tokens) OVER (ORDER BY tokens DESC, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
       |    sum(tokens) OVER () AS total
       |  FROM (SELECT source, count(*) AS n_docs,
       |          sum(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)) AS tokens
       |        FROM documents GROUP BY source) a) b
       |ORDER BY tokens DESC, source""".stripMargin

  /** q103 — language rebalancing plan: downsample every language to
    * the smallest language's token mass (uniform mix), emitting the
    * per-language sampling rate and planned token budget. */
  def q103(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = graft.functions.TextAnalysis.tokenCount($"text").cast("long")
    val agg = Tables.documents(s, d)
      .select($"lang", toks.as("toks"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"))
    val w = Window.partitionBy()
    agg
      .withColumn("min_tokens", min($"tokens").over(w))
      .select($"lang", $"n_docs", $"tokens",
        r6($"min_tokens".cast("double") / $"tokens").as("sample_rate"),
        floor($"tokens" * ($"min_tokens".cast("double") / $"tokens")).cast("long")
          .as("planned_tokens"))
      .orderBy($"lang")
  }

  val q103Sql: String =
    s"""SELECT lang, n_docs, CAST(tokens AS BIGINT) AS tokens,
       |  ${sqlR6("CAST(min_tokens AS DOUBLE) / tokens")} AS sample_rate,
       |  CAST(floor(tokens * (CAST(min_tokens AS DOUBLE) / tokens)) AS BIGINT) AS planned_tokens
       |FROM (
       |  SELECT lang, n_docs, tokens, min(tokens) OVER () AS min_tokens
       |  FROM (SELECT lang, count(*) AS n_docs,
       |          sum(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)) AS tokens
       |        FROM documents GROUP BY lang) a) b
       |ORDER BY lang""".stripMargin

  /** q106 — Zipf rank-frequency table: top-100 vocabulary with
    * rank × frequency (≈ constant under Zipf's law — the standard
    * sanity check on a corpus's token distribution). The heavy-hitter
    * cut is TakeOrderedAndProject; the rank window runs over the 100
    * surviving rows only. */
  def q106(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val freq = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"w").limit(100)
    freq
      .withColumn("rank",
        row_number().over(Window.orderBy($"freq".desc, $"w")).cast("long"))
      .select($"rank", $"w".as("word"), $"freq", ($"rank" * $"freq").as("rank_x_freq"))
      .orderBy($"rank")
  }

  val q106Sql: String =
    """SELECT rank, word, freq, rank * freq AS rank_x_freq FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rank,
      |    word, freq FROM (
      |    SELECT w AS word, CAST(count(*) AS BIGINT) AS freq FROM (
      |      SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |    WHERE w <> '' GROUP BY w ORDER BY freq DESC, word LIMIT 100) f) r
      |ORDER BY rank""".stripMargin

  /** q107 — cross-language prefix collisions: identical 5-word
    * openings appearing under more than one language label — the
    * mislabeled-translation / template-reuse signal a multilingual
    * corpus audit looks for. */
  def q107(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"lang",
        graft.functions.TextAnalysis.prefixFingerprint($"text").as("fp"))
      .groupBy($"fp")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"lang").as("n_langs"),
        min($"doc_id").as("first_doc"),
        array_join(array_sort(collect_set($"lang")), ",").as("langs"))
      .filter($"n_langs" >= 2)
      .orderBy($"fp")
  }

  val q107Sql: String =
    """SELECT fp, count(*) AS n_docs,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  min(doc_id) AS first_doc,
      |  array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
      |FROM (SELECT doc_id, lang,
      |        md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fp
      |      FROM documents) t
      |GROUP BY fp HAVING count(DISTINCT lang) >= 2
      |ORDER BY fp""".stripMargin

  /** q113 — BPE round-0 statistics: adjacent character-pair counts
    * over the word vocabulary, weighted by word frequency (with the
    * </w> end-of-word marker) — exactly what [[graft.functions
    * .BpeTrainer]]'s first merge argmaxes over; the iterative merges
    * are pinned against a reference implementation in BpeSpec. */
  def q113(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.BpeTrainer.pairCounts(
      graft.functions.BpeTrainer.vocab(Tables.documents(s, d), "text"))
      .orderBy($"cnt".desc, $"pair")
      .limit(30)
      .select($"pair", $"cnt")
  }

  val q113Sql: String =
    """SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
      |  SELECT n, unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])) AS pair
      |  FROM (
      |    SELECT count(*) AS n,
      |      list_append(string_split(word, ''), '</w>') AS s
      |    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      |    WHERE word <> ''
      |    GROUP BY word) v) p
      |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""".stripMargin

  private val fpSql = "md5(array_to_string(string_split(text, ' ')[1:5], ' '))"

  /** q123 — containment (quote/subset detection): within each
    * prefix-fingerprint cluster, pairwise |A∩B|/|A| and |A∩B|/|B| over
    * word sets. Symmetric Jaccard misses the "one doc quotes the
    * other" case (small∩large has low Jaccard but high containment in
    * the small side); the `quote_like` flag is exactly that asymmetry.
    * Scale: the self-join is keyed on the fingerprint (bounded
    * clusters — same blocking as q100), never all-pairs. */
  def q123(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id",
        graft.functions.TextAnalysis.prefixFingerprint($"text").as("fp"),
        Dedup.wordSet($"text").as("w"))
    val a = docs.select($"fp", $"doc_id".as("a"), $"w".as("wa"))
    val b = docs.select($"fp".as("fp_b"), $"doc_id".as("b"), $"w".as("wb"))
    a.join(b, $"fp" === $"fp_b" && $"a" < $"b")
      .select($"a", $"b",
        size(array_intersect($"wa", $"wb")).cast("long").as("inter"),
        size($"wa").cast("long").as("na"), size($"wb").cast("long").as("nb"))
      .withColumn("cont_a", $"inter".cast("double") / $"na")
      .withColumn("cont_b", $"inter".cast("double") / $"nb")
      .withColumn("jac", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
      .select($"a", $"b", $"inter", $"na", $"nb",
        r6($"cont_a").as("cont_a"), r6($"cont_b").as("cont_b"),
        r6($"jac").as("jac"),
        (greatest($"cont_a", $"cont_b") >= 0.8 && $"jac" < 0.6).cast("int")
          .as("quote_like"))
      .orderBy($"a", $"b")
  }

  val q123Sql: String =
    s"""WITH ws AS (SELECT doc_id, $fpSql AS fp,
       |              list_distinct(string_split(text, ' ')) AS w FROM documents),
       |p AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |    CAST(len(list_intersect(a.w, b.w)) AS BIGINT) AS inter,
       |    CAST(len(a.w) AS BIGINT) AS na, CAST(len(b.w) AS BIGINT) AS nb
       |  FROM ws a JOIN ws b ON a.fp = b.fp AND a.doc_id < b.doc_id),
       |c AS (
       |  SELECT a, b, inter, na, nb,
       |    CAST(inter AS DOUBLE) / na AS cont_a,
       |    CAST(inter AS DOUBLE) / nb AS cont_b,
       |    CAST(inter AS DOUBLE) / (na + nb - inter) AS jac
       |  FROM p)
       |SELECT a, b, inter, na, nb,
       |  ${sqlR6("cont_a")} AS cont_a, ${sqlR6("cont_b")} AS cont_b,
       |  ${sqlR6("jac")} AS jac,
       |  CAST(greatest(cont_a, cont_b) >= 0.8 AND jac < 0.6 AS INT) AS quote_like
       |FROM c ORDER BY a, b""".stripMargin

  /** q124 — per-source frequency cap (the CommonCrawl "domain cap"
    * curation op): keep at most `cap` docs per source, chosen by a
    * deterministic md5 priority (uniform, seedable, identical in both
    * engines — no RNG). The heavy reduction runs through the native
    * bounded-heap TopKPerGroup, so no source's full document list ever
    * sorts in one task; the rank window orders only the ≤ cap
    * survivors per source. */
  def q124(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = 15
    val prio = Tables.documents(s, d)
      .select($"doc_id", $"source",
        md5_fast(concat($"source", lit(":"), $"doc_id".cast("string"))).as("prio"))
    val top = graft.plans.TopK.perGroup(prio, cap, Seq("source"),
      Seq(graft.plans.TopK.asc("prio"), graft.plans.TopK.asc("doc_id")))
    top
      .withColumn("rn", row_number().over(
        Window.partitionBy($"source").orderBy($"prio", $"doc_id")).cast("long"))
      .select($"source", $"rn", $"doc_id", $"prio")
      .orderBy($"source", $"rn")
  }

  val q124Sql: String =
    """WITH pr AS (
      |  SELECT doc_id, source,
      |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS prio
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, prio,
      |    row_number() OVER (PARTITION BY source ORDER BY prio, doc_id) AS rn
      |  FROM pr)
      |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, prio
      |FROM r WHERE rn <= 15 ORDER BY source, rn""".stripMargin

  /** q125 — incremental snapshot dedup: a new batch (source 'src1')
    * lands against the existing corpus (every other source). Each new
    * doc gets a verdict — exact_dup (byte-identical text already
    * present), near_dup (shares the prefix-fingerprint cluster key), or
    * new — plus the smallest matching existing doc id. This is the
    * daily-ingest shape: the existing side reduces to (key → min id)
    * BEFORE the join, so the shuffle carries one row per distinct key,
    * not the corpus. */
  def q125(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = graft.functions.TextAnalysis.prefixFingerprint($"text")
    val docs = Tables.documents(s, d)
    val existing = docs.filter($"source" =!= "src1")
    val exHash = existing.groupBy(md5_fast($"text").as("h"))
      .agg(min($"doc_id").as("h_match"))
    val exFp = existing.groupBy(fp.as("fp"))
      .agg(min($"doc_id").as("fp_match"))
    docs.filter($"source" === "src1")
      .select($"doc_id", md5_fast($"text").as("h"), fp.as("fp"))
      .join(exHash, Seq("h"), "left")
      .join(exFp, Seq("fp"), "left")
      .select($"doc_id",
        when($"h_match".isNotNull, lit("exact_dup"))
          .when($"fp_match".isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("verdict"),
        coalesce($"h_match", $"fp_match", lit(-1L)).as("matched_id"))
      .orderBy($"doc_id")
  }

  val q125Sql: String =
    s"""WITH ex AS (SELECT doc_id, md5(text) AS h, $fpSql AS fp
       |            FROM documents WHERE source <> 'src1'),
       |exh AS (SELECT h, min(doc_id) AS h_match FROM ex GROUP BY h),
       |exf AS (SELECT fp, min(doc_id) AS fp_match FROM ex GROUP BY fp),
       |nw AS (SELECT doc_id, md5(text) AS h, $fpSql AS fp
       |       FROM documents WHERE source = 'src1')
       |SELECT nw.doc_id,
       |  CASE WHEN h_match IS NOT NULL THEN 'exact_dup'
       |       WHEN fp_match IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS verdict,
       |  coalesce(h_match, fp_match, -1) AS matched_id
       |FROM nw LEFT JOIN exh USING (h) LEFT JOIN exf USING (fp)
       |ORDER BY doc_id""".stripMargin

  /** q137 — Pareto frontier of the quality/length tradeoff: documents
    * not dominated by any other (another doc with ≥ quality and
    * ≤ length, strictly better in one) — the "skyline" a curation
    * policy samples from when it wants maximal quality per token.
    *
    * NOT computed by the O(n²) dominance self-join the oracle uses:
    * dominance against the whole corpus reduces to two scalars per
    * length — max quality at STRICTLY SHORTER lengths (prefix max)
    * and max quality at the SAME length. Both come from a groupBy on
    * length (one shuffle, corpus-sized) followed by a prefix-max
    * window over the per-length table — bounded by #distinct lengths,
    * not corpus size — broadcast back. A doc is on the frontier iff
    * no strictly-shorter doc matches its quality and no same-length
    * doc beats it. */
  def q137(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .select($"doc_id", $"n_chars", r4(quality($"text")).as("quality"))
    val perLen = scored.groupBy($"n_chars").agg(max($"quality").as("mq"))
    val pfx = perLen.withColumn("mq_lt",
      max($"mq").over(Window.orderBy($"n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)))
    scored.join(broadcast(pfx), "n_chars")
      .filter(($"mq_lt".isNull || $"mq_lt" < $"quality") && $"mq" <= $"quality")
      .select($"doc_id", $"n_chars", $"quality")
      .orderBy($"doc_id")
  }

  val q137Sql: String = {
    val qs = graft.functions.TextAnalysis.sqlQualityScore("text")
    s"""WITH q AS (
       |  SELECT doc_id, n_chars, ${sqlR4(qs)} AS quality FROM documents)
       |SELECT doc_id, n_chars, quality FROM q d
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM q e
       |  WHERE e.quality >= d.quality AND e.n_chars <= d.n_chars
       |    AND (e.quality > d.quality OR e.n_chars < d.n_chars))
       |ORDER BY doc_id""".stripMargin
  }

  /** q174 — rank-based score normalization (feature prep for mixing/
    * filtering): percent_rank of the quality score WITHIN each source,
    * so thresholds compare like-with-like across sources whose raw
    * score distributions differ (the quantile-normalization move).
    * Ties broken by doc_id → every rank is distinct → percent_rank is
    * (rank−1)/(n−1) on exact integers, bit-identical cross-engine.
    *
    * Scale shape: the ranks ride [[Ranking.groupRanks]] (the q240
    * mechanism — range-repartition + Tungsten ordinal + broadcast
    * group sizes) rather than a source-partitioned window: ~20
    * sources would funnel the corpus through twenty tasks at 100 TB.
    * percent_rank's own degenerate rule (single-row partition → 0)
    * and null-source handling (null-safe join-back) are mirrored, so
    * the window-form oracle checks this plan row for row. */
  def q174(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = graft.functions.TextAnalysis.qualityScore($"text")
    val scored = Tables.documents(s, d)
      .select($"doc_id", $"source", q.as("quality"))
    val ranked = Ranking.groupRanks(scored, Seq("source"), 8,
      $"quality".asc, $"doc_id".asc)
    val ns = scored.groupBy($"source").agg(count(lit(1)).as("n"))
      .withColumnRenamed("source", "__nsrc")
    ranked.join(broadcast(ns), $"source" <=> $"__nsrc").drop("__nsrc")
      .withColumn("pr",
        when($"n" > 1L, ($"rank" - 1L) / ($"n" - 1L)).otherwise(lit(0.0)))
      .select($"doc_id", $"source",
        Fx.r4($"quality").as("quality"), Fx.r6($"pr").as("pr"))
      .orderBy($"doc_id")
  }

  val q174Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityScore("text")
    s"""SELECT doc_id, source, ${Fx.sqlR4("quality")} AS quality,
       |  ${Fx.sqlR6("pr")} AS pr
       |FROM (
       |  SELECT doc_id, source, quality,
       |    percent_rank() OVER (PARTITION BY source
       |                         ORDER BY quality, doc_id) AS pr
       |  FROM (SELECT doc_id, source, $quality AS quality
       |        FROM documents) t) r
       |ORDER BY doc_id""".stripMargin
  }

  /** q184 — temperature-sampled mixture weights (the UNIMAX /
    * multilingual-LM recipe at α = 0.5): a source's sampling weight is
    * tokens^α, flattening the head so low-resource sources are not
    * drowned. Determinism without a double Σ: sqrt(tokens) is the ONE
    * float op (integer input → correctly-rounded IEEE in both
    * engines), immediately fixed to a 1e-6 integer grid; the
    * normalizing total is then a BIGINT sum — exact, order-free — and
    * every share/budget is a single division of exact integers. A
    * 1M-token budget is allocated per source by flooring share×budget
    * (so allocations are integers and under-allocate by < n_sources
    * tokens, stated rather than hidden). Post-agg rows = #sources:
    * every stage after the one token-count scan is broadcast-size. */
  def q184(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 1000000L
    val per = Tables.documents(s, d)
      .select($"source",
        graft.functions.TextAnalysis.tokenCount($"text").cast("long").as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"))
    val wFixed = floor(sqrt($"tokens") * 1000000L + lit(0.5)).cast("long")
    per.withColumn("w_fixed", wFixed)
      .crossJoin(broadcast(
        per.select(wFixed.as("w")).agg(sum($"w").as("w_total"))))
      .select($"source", $"n_docs", $"tokens", $"w_fixed",
        r6($"w_fixed" / $"w_total").as("share"),
        floor($"w_fixed" * budget / $"w_total").cast("long").as("budget_tokens"))
      .orderBy($"source")
  }

  val q184Sql: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)) AS BIGINT) AS tokens
       |  FROM documents GROUP BY 1),
       |w AS (
       |  SELECT source, n_docs, tokens,
       |    CAST(floor(sqrt(tokens) * 1000000 + 0.5) AS BIGINT) AS w_fixed
       |  FROM per),
       |tot AS (SELECT CAST(sum(w_fixed) AS BIGINT) AS w_total FROM w)
       |SELECT source, n_docs, tokens, w_fixed,
       |  ${sqlR6("w_fixed / w_total")} AS share,
       |  CAST(floor(w_fixed * 1000000 / w_total) AS BIGINT) AS budget_tokens
       |FROM w CROSS JOIN tot
       |ORDER BY source""".stripMargin

  /** q195 — quality-greedy token-budget allocation: sources sorted by
    * mean quality (integer-scaled, exact) are taken greedily until a
    * 2M-token budget is spent; the marginal source gets the remainder.
    * The running totals are window cumsums over #sources ROWS (post-
    * aggregation — a 20-row window, not a corpus window), and every
    * quantity is an exact BIGINT. The mean-quality sort key is the
    * 1e6-scaled integer SUM of per-doc scaled scores divided by doc
    * count as DOUBLE — one correctly-rounded division, ties broken by
    * source name. */
  def q195(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val budget = 2000000L
    // per-doc quality on the 1e-4 grid → exact integer units
    // (round(micro/100) = (micro+50) div 100, never a float round-trip)
    val per = Tables.documents(s, d)
      .select($"source",
        graft.functions.TextAnalysis.tokenCount($"text").cast("long").as("toks"),
        qualityMicro($"text").as("qm"))
      .withColumn("q4", expr("(qm + 50) div 100"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"),
        sum($"q4").as("q4_sum"))
      .withColumn("mean_quality", $"q4_sum" / $"n_docs")
    val w = Window.orderBy($"mean_quality".desc, $"source")
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("taken_before", coalesce(sum($"tokens").over(w), lit(0L)))
      .withColumn("alloc",
        greatest(lit(0L), least($"tokens", lit(budget) - $"taken_before")))
      .select($"source", $"n_docs", $"tokens",
        r4($"mean_quality" / 10000L).as("mean_quality"), $"alloc")
      .orderBy($"source")
  }

  val q195Sql: String =
    s"""WITH scored AS (
       |  SELECT source, toks,
       |    CAST(($qualityMicroSql + 50) // 100 AS BIGINT) AS q4
       |  FROM (
       |    SELECT source, $tokSql AS toks,
       |      CAST(length(text) AS DOUBLE) AS chars, $stopEnSql AS stop_en, text
       |    FROM documents) b),
       |per AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(toks) AS BIGINT) AS tokens,
       |    CAST(sum(q4) AS BIGINT) AS q4_sum
       |  FROM scored GROUP BY 1),
       |ranked AS (
       |  SELECT source, n_docs, tokens, q4_sum / n_docs AS mean_quality,
       |    COALESCE(CAST(sum(tokens) OVER (
       |      ORDER BY q4_sum / n_docs DESC, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS taken_before
       |  FROM per)
       |SELECT source, n_docs, tokens,
       |  ${sqlR4("mean_quality / 10000")} AS mean_quality,
       |  greatest(0, least(tokens, 2000000 - taken_before)) AS alloc
       |FROM ranked ORDER BY source""".stripMargin

  /** q196 — largest-remainder (Hamilton) apportionment of a 1000-doc
    * eval set across languages, proportional to corpus counts: floor
    * quotas first, then the k − Σfloor leftover seats go to the
    * largest remainders (tie → lang order). All integer arithmetic —
    * quota comparisons use cross-multiplied BIGINTs (n·k vs total·q),
    * never a floating division — so the apportionment is exact and
    * identical in both engines by construction. */
  def q196(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    apportion(
      Tables.documents(s, d).groupBy($"lang").agg(count(lit(1)).as("n")),
      k = 1000L, keyCol = "lang")
  }

  /** Hamilton core over any (keyCol, n) frame — reused by q196 and the
    * invariant specs (house size + quota rule hold for ANY input). */
  def apportion(counts: DataFrame, k: Long, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import counts.sparkSession.implicits._
    // materialized: the group-domain-sized counts grid feeds four
    // consumers (per + its total, short + its leftover) — without it
    // each recomputes the upstream aggregation's scan
    val c = Fx.materialize(counts)
    val per = c
      .crossJoin(broadcast(c.agg(sum($"n").as("total"))))
      .withColumn("floor_q",
        (($"n" * k - pmod($"n" * k, $"total")) / $"total").cast("long"))
      .withColumn("rem", pmod($"n" * k, $"total"))
    val short = per
      .crossJoin(broadcast(per.agg((lit(k) - sum($"floor_q")).as("leftover"))))
    val w = Window.orderBy($"rem".desc, col(keyCol))
    short
      .withColumn("rrank", row_number().over(w))
      .select(col(keyCol), $"n",
        ($"floor_q" + when($"rrank" <= $"leftover", 1L).otherwise(0L)).as("seats"))
      .orderBy(col(keyCol))
  }

  val q196Sql: String =
    """WITH per AS (
      |  SELECT lang, count(*) AS n FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM per),
      |quotas AS (
      |  SELECT lang, n, (n * 1000) // total AS floor_q,
      |    (n * 1000) % total AS rem
      |  FROM per CROSS JOIN tot),
      |lo AS (SELECT 1000 - CAST(sum(floor_q) AS BIGINT) AS leftover FROM quotas)
      |SELECT lang, n,
      |  CAST(floor_q + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
      |       <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS seats
      |FROM quotas CROSS JOIN lo
      |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // q213 — curriculum interleave (global training order)
  // ------------------------------------------------------------------

  /** q213 — curriculum interleave: the global ORDER in which training
    * examples are fed matters (curriculum learning), and so does not
    * starving any source for long stretches (mixture interleaving).
    * Both at once: rank docs within each source by a quality proxy
    * (longest first, doc_id tie-break), then round-robin the sources —
    * `pos = (rank−1)·S + source_index` — so position 0..S−1 is every
    * source's best doc, the next block every source's second-best, and
    * so on. Positions are unique by construction (source_index ∈
    * [0,S)) and the schedule never needs a global sort: the per-source
    * rank comes from [[Ranking.groupRanks]] (range-repartition +
    * zipWithIndex — no source-partitioned window funneling a 100 TB
    * source through one task), the source index from a bounded dim
    * broadcast onto the ids, and the position is pure arithmetic.
    * Oracle: the window-based mirror, affordable at oracle scale. */
  def q213(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source", $"n_chars")
    val ranked = Ranking.groupRanks(docs, Seq("source"), 8,
      $"n_chars".desc, $"doc_id")
    // bounded source dim: alphabetical 0-based index + source count —
    // a bounded vocabulary, indexed on the driver (same contract as
    // the one-hot category collect) instead of a Spark job chain
    val srcNames = docs.select($"source").distinct()
      .collect().map(_.getString(0)).sorted
    val nSrc = lit(srcNames.length.toLong)
    val sdim = srcNames.zipWithIndex
      .map { case (n, i) => (n, i.toLong) }.toSeq.toDF("source", "src_idx")
    ranked.join(broadcast(sdim), "source")
      .select($"doc_id", $"source", $"src_idx", $"rank",
        (($"rank" - 1L) * nSrc + $"src_idx").as("pos"))
      .orderBy($"pos")
  }

  val q213Sql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
      |  FROM documents),
      |sdim AS (
      |  SELECT source,
      |    CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx,
      |    CAST(count(*) OVER () AS BIGINT) AS n_src
      |  FROM (SELECT DISTINCT source FROM documents) t)
      |SELECT r.doc_id, r.source, s.src_idx, r.rank,
      |  (r.rank - 1) * s.n_src + s.src_idx AS pos
      |FROM ranked r JOIN sdim s ON r.source = s.source
      |ORDER BY pos""".stripMargin

  // ------------------------------------------------------------------
  // q228 — training-shard assignment and balance audit
  // ------------------------------------------------------------------

  /** q228 — deterministic shard assignment for a training run: every
    * document lands on one of 16 shards by a salted md5 hash (the
    * content-independent assignment a multi-host data loader needs —
    * stable across reruns, no coordination), and the audit reports
    * per-shard document and token counts plus the imbalance each
    * shard carries versus the ideal even split. The balance number is
    * what decides whether hash-sharding suffices or the loader needs
    * explicit bin-packing (q219's compaction planner, applied to
    * tokens): stragglers in a synchronous training step are set by
    * the HEAVIEST shard, so the max token skew is the headline.
    *
    * Scale shape: one scan computing (shard, tokens) per doc, one
    * partial-aggregating shuffle onto the 16-row shard relation;
    * corpus totals come from a window over those 16 rows, never a
    * second scan. Skew arithmetic is cross-multiplied into exact
    * longs (shard_tokens·16 vs total·1), with the single r6 division
    * last. */
  def q228(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nShards = 16
    val docs = Tables.documents(s, d).select(
      (Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#shard")), 8) % nShards).as("shard"),
      (size(split($"text", " "))).cast("long").as("toks"))
    val byShard = docs.groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"))
    val tot = Window.partitionBy(lit(1))
    byShard
      .withColumn("total_tokens", sum($"tokens").over(tot).cast("long"))
      .select($"shard", $"n_docs", $"tokens",
        ($"tokens" * nShards - $"total_tokens").as("excess_x16"),
        r6(($"tokens" * nShards) / $"total_tokens").as("load_ratio"))
      .orderBy($"shard")
  }

  val q228Sql: String =
    s"""WITH d AS (
       |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 8))::BIGINT % 16 AS BIGINT) AS shard,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks
       |  FROM documents),
       |g AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(toks) AS BIGINT) AS tokens
       |  FROM d GROUP BY 1)
       |SELECT shard, n_docs, tokens,
       |  CAST(tokens * 16 - sum(tokens) OVER () AS BIGINT) AS excess_x16,
       |  ${sqlR6("(tokens * 16) / CAST(sum(tokens) OVER () AS BIGINT)")} AS load_ratio
       |FROM g ORDER BY shard""".stripMargin

  // ------------------------------------------------------------------
  // q230 — per-domain crawl rollup with blocklist screening
  // ------------------------------------------------------------------

  /** Bounded synthetic host vocabulary — the md5-grid pick keyed on
    * doc_id stands in for the crawl's source URL (the testdata has no
    * URL column; the derivation is mirrored verbatim in DuckDB, the
    * q216-mojibake seeding precedent). */
  private val hostVocab = Seq(
    "en.wikipedia.org", "github.com", "stackoverflow.com", "arxiv.org",
    "medium.com", "blogspot.com", "wordpress.com", "reddit.com",
    "contentfarm.example", "linkspam.example")

  /** q230 — per-domain corpus rollup, the first aggregation every
    * web-crawl curation pipeline runs: documents keyed by registered
    * domain, per-domain volume (docs / tokens), mean quality on the
    * r4 grid, and a blocklist screen (spam domains excluded from the
    * keep set but still REPORTED — silent drops are how a blocklist
    * bug deletes a corpus). Domain reputation derived this way is the
    * strongest single quality prior in production curation (C4's
    * badwords screen, CCNet's domain filters, RefinedWeb's URL
    * rules all key on it).
    *
    * Scale shape: the domain key is a pure column expression at scan
    * speed; one partial-aggregating shuffle onto the |domains|-row
    * rollup (bounded by the web's registered-domain count, ~100 M —
    * comfortably shuffle-sized); the blocklist is a broadcast-hash
    * semi-join (here an isin literal over the 2-entry list, the
    * 100 TB form being a broadcast anti-join against the curated
    * blocklist table). Quality stays on the exact md5 grid both
    * engines share; the mean is grid-sum ÷ count, r4 last. */
  def q230(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nHosts = hostVocab.size
    val blocked = Seq("contentfarm.example", "linkspam.example")
    val hostIdx = (Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#host")), 8) % nHosts)
      .cast("int")
    val hostCol = element_at(
      array(hostVocab.map(lit): _*), hostIdx + 1)
    val q100 = (Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#dq")), 8) % 101L).as("q100")
    val docs = Tables.documents(s, d).select(
      hostCol.as("domain"),
      size(split($"text", " ")).cast("long").as("toks"),
      q100)
    docs.groupBy($"domain")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"),
        sum($"q100").as("qsum"))
      .select($"domain", $"n_docs", $"tokens",
        r4($"qsum" / ($"n_docs" * 100L)).as("mean_quality"),
        $"domain".isin(blocked: _*).as("is_blocked"))
      .orderBy($"domain")
  }

  val q230Sql: String = {
    val hosts = hostVocab.map(h => s"'$h'").mkString(", ")
    s"""WITH d AS (
       |  SELECT [$hosts]
       |    [CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#host'), 1, 8))::BIGINT % ${hostVocab.size} AS INT) + 1] AS domain,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#dq'), 1, 8))::BIGINT % 101 AS BIGINT) AS q100
       |  FROM documents)
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS tokens,
       |  ${sqlR4("CAST(sum(q100) AS BIGINT) / (count(*) * 100)")} AS mean_quality,
       |  domain IN ('contentfarm.example', 'linkspam.example') AS is_blocked
       |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q238 — tokenizer fertility scorecard (BPE vs unigram-LM)
  // ------------------------------------------------------------------

  /** q238 — the tokenizer-selection scorecard: train BOTH in-engine
    * tokenizers (batched BPE and the unigram-LM/SentencePiece EM
    * trainer) on the corpus, encode it with each, and report per
    * language the characters-per-token "fertility" — the number that
    * decides which tokenizer a training run uses (fertility drives
    * sequence length, and sequence length drives compute). Display-
    * only (not in the driver registry): the model token counts are
    * functions of trained tokenizers — no SQL oracle can restate them
    * (and the unigram model's log-probs are libm doubles). Its
    * integer accounting core is oracle-checked as [[q251]]; this
    * scorecard is pinned by TokenizerFertilitySpec (chars column
    * cross-checked against q251, token counts bounded) and the
    * trainers themselves by BpeSpec / UnigramSpec.
    * Both encodes run over the DISTINCT-WORD vocabulary and
    * broadcast-join back — corpus-sized data never meets the nested
    * merge folds or the Viterbi DP. */
  def q238(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"text")
    val bpeMerges = graft.functions.BpeTrainer
      .trainBatched(docs, "text", k = 40, batch = 8)
    val uniModel = graft.functions.UnigramTrainer
      .train(docs, "text", vocabSize = 400, maxPieceLen = 5,
        minFreq = 2, emRounds = 1)
    val bpe = graft.functions.BpeTrainer.encode(docs, "doc_id", "text", bpeMerges)
      .select($"doc_id", $"n_tokens".as("bpe_tokens"))
    val uni = graft.functions.UnigramTrainer.encode(docs, "doc_id", "text", uniModel)
      .select($"doc_id", $"n_tokens".as("uni_tokens"))
    docs.select($"doc_id", $"lang",
        (length($"text") - (size(split($"text", " ")) - 1)).as("chars"))
      .join(bpe, "doc_id").join(uni, "doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"chars").cast("long").as("chars"),
        sum($"bpe_tokens").cast("long").as("bpe_tokens"),
        sum($"uni_tokens").cast("long").as("uni_tokens"))
      .select($"lang", $"n_docs", $"chars", $"bpe_tokens", $"uni_tokens",
        r4($"chars" / $"bpe_tokens").as("chars_per_bpe_tok"),
        r4($"chars" / $"uni_tokens").as("chars_per_uni_tok"))
      .orderBy($"lang")
  }

  /** q251 — q238's driver-checkable integer core: per-language doc,
    * character, and whitespace-token accounting, every number an exact
    * BIGINT the DuckDB oracle reproduces. The scorecard's MODEL token
    * counts (BPE / unigram encodes) are functions of trained
    * tokenizers — not SQL-expressible — so q238 itself is display-only
    * and spec-pinned (TokenizerFertilitySpec cross-checks its `chars`
    * column against THIS query and bounds its token counts); this
    * entry pins the denominators and corpus accounting the fertility
    * ratios are built on, so the registry carries zero unchecked
    * entries. `chars` is the q238 formula: non-space characters under
    * single-space joining = length(replace(text, ' ', '')). */
  def q251(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang",
        (length($"text") - (size(split($"text", " ")) - 1)).cast("long")
          .as("chars"),
        graft.functions.TextAnalysis.tokenCount($"text").cast("long")
          .as("ws_tokens"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"chars").as("chars"),
        sum($"ws_tokens").as("ws_tokens"))
      .orderBy($"lang")
  }

  val q251Sql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(replace(text, ' ', ''))) AS BIGINT) AS chars,
      |  CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT)
      |    AS ws_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // q240 — percent-rank (ECDF) normalization of quality per source
  // ------------------------------------------------------------------

  /** q240 — q174's per-source ECDF transform RE-EXPRESSED through the
    * scale-safe two-phase rank operator, plus the release-gate filter:
    * q174 states the semantics with a `percent_rank()` window (clear,
    * but a group-partitioned window funnels each source through one
    * task — wrong at 100 TB with 20 sources); here the identical
    * number — (rank − 1)/(n − 1) over the (quality, doc_id) total
    * order — comes from [[Ranking.groupRanks]] (range-repartition +
    * Tungsten ordinal) with group sizes broadcast back, and the
    * output keeps only the top-5-percentile docs per source (the
    * per-source percentile cut mixed-corpus quality gates actually
    * apply). The unique tie-break makes the two forms equal row for
    * row, so the window-form oracle checks the two-phase plan.
    *
    * Degenerate guards, both mirrored: a single-doc source defines
    * pct = 0 (SQL percent_rank's own rule — the raw division would
    * be 0/0, a runtime error under ANSI mode), and the group-size
    * join-back is NULL-SAFE so a null source ranks like the window
    * form ranks it instead of being silently dropped (the exact
    * defect groupRanks itself guards against). */
  def q240(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, d)
      .select($"doc_id", $"source", quality($"text").as("q"))
    val ranked = Ranking.groupRanks(scored, Seq("source"), 8,
      $"q".asc, $"doc_id".asc)
    val ns = scored.groupBy($"source").agg(count(lit(1)).as("n"))
      .withColumnRenamed("source", "__nsrc")
    ranked.join(broadcast(ns), $"source" <=> $"__nsrc").drop("__nsrc")
      .withColumn("pct",
        when($"n" > 1L, ($"rank" - 1L) / ($"n" - 1L)).otherwise(lit(0.0)))
      .filter($"pct" >= 0.95)
      .select($"source", $"doc_id", r4($"q").as("q"), r6($"pct").as("pct"))
      .orderBy($"source", $"doc_id")
  }

  val q240Sql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    ${graft.functions.TextAnalysis.sqlQualityScore("text")} AS q
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, q,
       |    percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id) AS pct
       |  FROM scored)
       |SELECT source, doc_id, ${sqlR4("q")} AS q, ${sqlR6("pct")} AS pct
       |FROM r WHERE pct >= 0.95
       |ORDER BY source, doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q253 — per-source document-level token-budget fill
  // ------------------------------------------------------------------

  /** q253 — the doc-level greedy budget fill (q195's allocation taken
    * one level deeper): within EACH source, documents are taken in
    * quality-descending order until the source's token budget is
    * spent — the "best docs first, stop at the budget" cut a curated
    * pretraining mix actually applies per domain. A document is taken
    * iff the tokens consumed BEFORE it are under budget (the marginal
    * document is included — greedy take-while, overshoot stated, not
    * hidden).
    *
    * Scale shape: the per-source exclusive running token count is
    * corpus-sized and ordered, exactly the straggler shape a
    * source-partitioned window would serialize — it rides
    * [[Ranking.groupRunningSum]] (two-phase distributed prefix sum);
    * everything after is one aggregate. Quality sorts as an exact
    * 1e-4-scaled integer; the window-form oracle is unchanged. */
  def q253(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 5000L
    val base = Tables.documents(s, d)
      .select($"source", $"doc_id",
        graft.functions.TextAnalysis.tokenCount($"text").cast("long").as("toks"),
        qualityMicro($"text").as("qm"))
      .withColumn("q4", expr("(qm + 50) div 100"))
      .drop("qm")
    Ranking.groupRunningSum(base, Seq("source"), 8, "toks",
        $"q4".desc, $"doc_id".asc)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"toks").as("total_tokens"),
        sum(when($"run_before" < budget, 1L).otherwise(0L)).as("n_taken"),
        sum(when($"run_before" < budget, $"toks").otherwise(0L)).as("tokens_taken"))
      .orderBy($"source")
  }

  val q253Sql: String =
    s"""WITH scored AS (
       |  SELECT source, doc_id, toks,
       |    CAST(($qualityMicroSql + 50) // 100 AS BIGINT) AS q4
       |  FROM (
       |    SELECT source, doc_id, $tokSql AS toks,
       |      CAST(length(text) AS DOUBLE) AS chars, $stopEnSql AS stop_en, text
       |    FROM documents) b),
       |r AS (
       |  SELECT source, toks,
       |    COALESCE(sum(toks) OVER (PARTITION BY source ORDER BY q4 DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run_before
       |  FROM scored)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS total_tokens,
       |  CAST(sum(CASE WHEN run_before < 5000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_taken,
       |  CAST(sum(CASE WHEN run_before < 5000 THEN toks ELSE 0 END) AS BIGINT)
       |    AS tokens_taken
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** q261 — decision-stump feature scoring by EXACT weighted Gini
    * impurity: for each candidate feature (quantity, discount
    * percent, ship month — all bounded integer domains) and each
    * split threshold `x ≤ t`, the impurity of predicting returns from
    * that single split, reported as the best threshold per feature —
    * the feature-selection readout a quality-model pipeline runs
    * before training (and the split criterion inside every tree
    * learner, stated as data instead of hidden in a library). Gini is
    * the impurity measure precisely because it is RATIONAL — no
    * entropy logs, so the whole scorecard is integer-exact:
    * branch term (n_b² − p_b² − q_b²)·10⁶ ÷ n_b and the weighted mean
    * are pinned floor-composed integral divisions on
    * DECIMAL(38,0)/HUGEINT operands.
    *
    * Scale shape: one pass collapses rows onto each feature's value
    * grid (bounded: ≤ 50 quantities, 11 discounts, 12 months);
    * thresholds, cumulatives and the argmin are windows over those
    * bounded grids — metadata-sized at any corpus scale. */
  def q261(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d).select(
      $"l_quantity".cast("long").as("qty"),
      floor($"l_discount" * 100).cast("long").as("disc"),
      month($"l_shipdate").cast("long").as("mon"),
      ($"l_returnflag" === "R").cast("long").as("pos"))
    def grid(name: String, c: Column) =
      li.groupBy(c.as("v"))
        .agg(count(lit(1)).as("n_v"), sum($"pos").cast("long").as("pos_v"))
        .withColumn("feature", lit(name))
    val g = grid("quantity", $"qty")
      .unionByName(grid("discount_pct", $"disc"))
      .unionByName(grid("ship_month", $"mon"))
    val wCum = Window.partitionBy($"feature").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"feature")
    val scored = g
      .withColumn("n_le", sum($"n_v").over(wCum).cast("long"))
      .withColumn("pos_le", sum($"pos_v").over(wCum).cast("long"))
      .withColumn("n", sum($"n_v").over(wAll).cast("long"))
      .withColumn("p", sum($"pos_v").over(wAll).cast("long"))
      .withColumn("v_max", max($"v").over(wAll))
      .filter($"v" < $"v_max") // a threshold must actually split
      .withColumn("g_micro", expr(
        """CAST((
          |  (CAST(n_le AS DECIMAL(38,0)) * n_le
          |     - CAST(pos_le AS DECIMAL(38,0)) * pos_le
          |     - CAST(n_le - pos_le AS DECIMAL(38,0)) * (n_le - pos_le)
          |  ) * 1000000 div CAST(n_le AS DECIMAL(38,0))
          |  +
          |  (CAST(n - n_le AS DECIMAL(38,0)) * (n - n_le)
          |     - CAST(p - pos_le AS DECIMAL(38,0)) * (p - pos_le)
          |     - CAST((n - n_le) - (p - pos_le) AS DECIMAL(38,0))
          |         * ((n - n_le) - (p - pos_le))
          |  ) * 1000000 div CAST(n - n_le AS DECIMAL(38,0))
          |) div CAST(n AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
    val wBest = Window.partitionBy($"feature").orderBy($"g_micro", $"v")
    scored
      .withColumn("rk", row_number().over(wBest))
      .filter($"rk" === 1)
      .select($"feature", $"v".as("threshold"), $"g_micro".as("gini_micro"),
        $"n_le", $"pos_le", $"n".as("n_rows"), $"p".as("n_pos"))
      .orderBy($"feature")
  }

  val q261Sql: String =
    """WITH rows_ AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(floor(l_discount * 100) AS BIGINT) AS disc,
      |    CAST(month(l_shipdate) AS BIGINT) AS mon,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      |  FROM lineitem),
      |g AS (
      |  SELECT 'quantity' AS feature, qty AS v, count(*) AS n_v,
      |    CAST(sum(pos) AS BIGINT) AS pos_v FROM rows_ GROUP BY 2
      |  UNION ALL
      |  SELECT 'discount_pct', disc, count(*),
      |    CAST(sum(pos) AS BIGINT) FROM rows_ GROUP BY 2
      |  UNION ALL
      |  SELECT 'ship_month', mon, count(*),
      |    CAST(sum(pos) AS BIGINT) FROM rows_ GROUP BY 2),
      |cum AS (
      |  SELECT feature, v,
      |    CAST(sum(n_v) OVER wc AS BIGINT) AS n_le,
      |    CAST(sum(pos_v) OVER wc AS BIGINT) AS pos_le,
      |    CAST(sum(n_v) OVER wa AS BIGINT) AS n,
      |    CAST(sum(pos_v) OVER wa AS BIGINT) AS p,
      |    max(v) OVER wa AS v_max
      |  FROM g
      |  WINDOW wc AS (PARTITION BY feature ORDER BY v
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wa AS (PARTITION BY feature)),
      |scored AS (
      |  SELECT feature, v, n_le, pos_le, n, p,
      |    CAST((
      |      (CAST(n_le AS HUGEINT) * n_le
      |         - CAST(pos_le AS HUGEINT) * pos_le
      |         - CAST(n_le - pos_le AS HUGEINT) * (n_le - pos_le)
      |      ) * 1000000 // CAST(n_le AS HUGEINT)
      |      +
      |      (CAST(n - n_le AS HUGEINT) * (n - n_le)
      |         - CAST(p - pos_le AS HUGEINT) * (p - pos_le)
      |         - CAST((n - n_le) - (p - pos_le) AS HUGEINT)
      |             * ((n - n_le) - (p - pos_le))
      |      ) * 1000000 // CAST(n - n_le AS HUGEINT)
      |    ) // CAST(n AS HUGEINT) AS BIGINT) AS g_micro
      |  FROM cum WHERE v < v_max),
      |best AS (
      |  SELECT *, row_number() OVER (PARTITION BY feature
      |    ORDER BY g_micro, v) AS rk
      |  FROM scored)
      |SELECT feature, v AS threshold, g_micro AS gini_micro,
      |  n_le, pos_le, n AS n_rows, p AS n_pos
      |FROM best WHERE rk = 1
      |ORDER BY feature""".stripMargin

  /** q266 — quantile normalization of document lengths across sources:
    * every source's n_chars distribution is remapped onto the POOLED
    * corpus distribution (each source-rank r of a size-n_s source
    * takes the pooled value at global rank ((2r−1)·N) div (2·n_s) + 1
    * — the nearest-rank midpoint map, pinned as integer arithmetic so
    * no interpolation floats exist). After normalization every source
    * has the same length distribution up to rank granularity — the
    * distribution-alignment transform (the microarray
    * quantile-normalization idea) a curation pipeline applies before
    * comparing per-source quality statistics, so that a
    * long-document source can't masquerade as a high-quality one in
    * length-correlated metrics (q181/q254's drift tests tell you
    * sources DIFFER; this is the corrective).
    *
    * Scale shape: the pooled ranking is the two-pass
    * [[Ranking.seqIds]] (no global window); per-source ranks ride
    * [[Ranking.groupRanks]] (bounded source domain, broadcast
    * minima); the remap is one equi-join on the pooled rank (high
    * cardinality, hash-partitioned). The oracle IS the
    * single-window row_number form at oracle scale. */
  def q266(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val pooled = Ranking
      .seqIds(docs.select($"n_chars", $"doc_id"), 32, $"n_chars", $"doc_id")
      .select($"seq_id".as("g"), $"n_chars".as("v"))
    val n = docs.count()
    val ranked = Ranking.groupRanks(docs, Seq("source"), 32, $"n_chars", $"doc_id")
    val ns = ranked.groupBy($"source").agg(count(lit(1)).as("ns"))
    ranked.join(broadcast(ns), "source")
      .withColumn("target", expr(s"((2 * rank - 1) * ${n}L) div (2 * ns) + 1"))
      .join(pooled, $"target" === $"g")
      .select($"doc_id", $"source", $"n_chars",
        $"v".cast("long").as("norm_chars"))
      .orderBy($"doc_id")
  }

  val q266Sql: String =
    """WITH p AS (
      |  SELECT n_chars AS v,
      |    row_number() OVER (ORDER BY n_chars, doc_id) AS g
      |  FROM documents),
      |nn AS (SELECT count(*) AS n FROM documents),
      |r AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY source) AS ns
      |  FROM documents)
      |SELECT r.doc_id, r.source, r.n_chars, CAST(p.v AS BIGINT) AS norm_chars
      |FROM r CROSS JOIN nn
      |JOIN p ON p.g = ((2 * rk - 1) * n) // (2 * ns) + 1
      |ORDER BY r.doc_id""".stripMargin

  /** q300 — the curation pipeline FUNNEL: the whole pre-training
    * data path — language gate → length gate → quality gate →
    * repetition gate → exact dedup — as ONE declarative plan whose
    * output is the per-stage accounting table every data-pipeline
    * review meeting opens with (rows in, rows out, retention). Every
    * gate flag is computed in the same single scan (Catalyst fuses
    * them); the repetition gate compares exactly — dup_frac ≤ 0.05 ⟺
    * 20·(n_bg − nd_bg) ≤ n_bg, integers only; the dedup stage counts
    * distinct boilerplate-prefix fingerprints (md5 of the leading 8
    * words, q100's key — this corpus has no byte-exact dups but 24
    * prefix dups, so the stage is non-vacuous) among survivors; retention
    * is one micro division per stage. The quality gate's double is
    * the shared fixed-shape pipeline (TextAnalysis.qualityScore), so
    * the ≥ 0.5 comparison is bit-identical cross-engine.
    *
    * Scale shape: one scan computes every flag, one aggregate
    * collapses to six integers, the funnel table is built from that
    * single row — the pipeline's bookkeeping costs one pass no
    * matter how many gates. */
  def q300(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val q = graft.functions.TextAnalysis.qualityScore($"text")
    // The split array MUST be projected before the higher-order bigram
    // transform references it: expressions inside lambda bodies are
    // excluded from subexpression elimination, so an inline
    // `adjacentPairs(split(text))` re-splits the document once per
    // element access — O(words²) characters split per doc, measured
    // 10× slower at sf0.1 (5.9 s vs 0.6 s for the bigram stage alone).
    val bg = graft.functions.TextAnalysis.adjacentPairs($"w")
    val flagged = Tables.documents(s, d)
      .select($"doc_id", $"text", $"lang", $"n_chars",
        split($"text", " ").as("w"))
      .withColumn("f1", ($"lang" === "en").cast("long"))
      .withColumn("f2", ($"n_chars" >= 100 && $"n_chars" <= 500).cast("long"))
      .withColumn("f3", (q >= 0.5).cast("long"))
      .withColumn("bg", bg)
      .withColumn("n_bg", size($"bg").cast("long"))
      .withColumn("nd_bg", size(array_distinct($"bg")).cast("long"))
      .withColumn("f4",
        ($"n_bg" === 0L || ($"n_bg" - $"nd_bg") * 20L <= $"n_bg").cast("long"))
    val m = flagged.agg(
      count(lit(1)).as("n0"),
      sum($"f1").as("n1"),
      sum($"f1" * $"f2").as("n2"),
      sum($"f1" * $"f2" * $"f3").as("n3"),
      sum($"f1" * $"f2" * $"f3" * $"f4").as("n4"),
      countDistinct(when($"f1" * $"f2" * $"f3" * $"f4" === 1L,
        md5_fast(concat_ws(" ", slice($"w", 1, 8))))).as("n5"))
    m.select(expr(
        """stack(5,
          | 1, 'language', n0, n1,
          | 2, 'length', n1, n2,
          | 3, 'quality', n2, n3,
          | 4, 'repetition', n3, n4,
          | 5, 'prefix_dedup', n4, n5) as (stage, gate, rows_in, rows_out)"""
          .stripMargin))
      .withColumn("rows_dropped", $"rows_in" - $"rows_out")
      .withColumn("retention_micro",
        when($"rows_in" > 0L, expr("(rows_out * 1000000) div rows_in")))
      .orderBy($"stage")
  }

  val q300Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityScore("text")
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f1,
       |    CASE WHEN n_chars >= 100 AND n_chars <= 500 THEN 1 ELSE 0 END AS f2,
       |    CASE WHEN $quality >= 0.5 THEN 1 ELSE 0 END AS f3,
       |    CAST(len(bg) AS BIGINT) AS n_bg,
       |    CAST(len(list_distinct(bg)) AS BIGINT) AS nd_bg
       |  FROM (
       |    SELECT doc_id, text, lang, n_chars,
       |      list_transform(range(1, len(string_split(text, ' '))),
       |        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]) AS bg
       |    FROM documents) t),
       |g AS (SELECT *,
       |    CASE WHEN n_bg = 0 OR (n_bg - nd_bg) * 20 <= n_bg THEN 1 ELSE 0 END AS f4
       |  FROM f),
       |m AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(f1) AS BIGINT) AS n1,
       |    CAST(sum(f1 * f2) AS BIGINT) AS n2,
       |    CAST(sum(f1 * f2 * f3) AS BIGINT) AS n3,
       |    CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS n4,
       |    CAST(count(DISTINCT CASE WHEN f1 * f2 * f3 * f4 = 1
       |      THEN md5(array_to_string(string_split(text, ' ')[1:8], ' '))
       |    END) AS BIGINT) AS n5
       |  FROM g),
       |funnel AS (
       |  SELECT 1 AS stage, 'language' AS gate, n0 AS rows_in, n1 AS rows_out FROM m
       |  UNION ALL SELECT 2, 'length', n1, n2 FROM m
       |  UNION ALL SELECT 3, 'quality', n2, n3 FROM m
       |  UNION ALL SELECT 4, 'repetition', n3, n4 FROM m
       |  UNION ALL SELECT 5, 'prefix_dedup', n4, n5 FROM m)
       |SELECT stage, gate, rows_in, rows_out, rows_in - rows_out AS rows_dropped,
       |  CASE WHEN rows_in > 0
       |    THEN CAST((rows_out * 1000000) // rows_in AS BIGINT)
       |  END AS retention_micro
       |FROM funnel ORDER BY stage""".stripMargin
  }

  /** q318 — calibration audit of the quality score as a predictor of
    * lang='en' (the stopword term makes it an implicit language
    * probability — this query measures HOW good): reliability table
    * over score deciles plus the per-bin Brier contribution. The
    * score is quantized per row to the micro grid FIRST
    * (qm = floor(q·10⁶), exact BIGINT — the score itself is the
    * shared fixed-shape pipeline, bit-identical cross-engine), so
    * every aggregate is integer: mean predicted = Σqm div n, observed
    * rate = Σy·10⁶ div n, and the Brier term Σ(qm − y·10⁶)² rides
    * DECIMAL(38,0)/HUGEINT, normalized back to the micro grid by one
    * truncating division. A calibrated score has gap_micro ≈ 0 per
    * bin; the Brier column decomposes where the loss lives.
    *
    * Scale shape: one scan computes score + outcome, one groupBy on
    * the ≤11-value bin domain — the audit costs a single pass. */
  def q318(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = Tables.documents(s, d)
      .select(qualityMicro($"text").as("qm"),
        ($"lang" === "en").cast("long").as("y"))
      .withColumn("bin", expr("qm div 100000"))
    f.groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        sum($"qm").as("sq"), sum($"y").as("sy"),
        sum(expr(
          "cast(qm - y * 1000000 as decimal(38,0)) * (qm - y * 1000000)"))
          .as("sb"))
      .select($"bin", $"n",
        expr("sq div n").as("mean_pred_micro"),
        expr("(sy * 1000000) div n").as("obs_rate_micro"),
        (expr("sq div n") - expr("(sy * 1000000) div n")).as("gap_micro"),
        expr("sb div (n * 1000000)").as("brier_micro"))
      .orderBy($"bin")
  }

  val q318Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
       |  SELECT CAST(($quality) AS BIGINT) AS qm,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM documents),
       |b AS (
       |  SELECT qm // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(qm) AS BIGINT) AS sq, CAST(sum(y) AS BIGINT) AS sy,
       |    sum(CAST(qm - y * 1000000 AS HUGEINT) * (qm - y * 1000000)) AS sb
       |  FROM f GROUP BY 1)
       |SELECT bin, n, sq // n AS mean_pred_micro,
       |  (sy * 1000000) // n AS obs_rate_micro,
       |  sq // n - (sy * 1000000) // n AS gap_micro,
       |  CAST(sb // (n * 1000000) AS BIGINT) AS brier_micro
       |FROM b ORDER BY bin""".stripMargin
  }

  /** q356 — importance weights toward a target domain (the DSIR idea,
    * Xie et al. 2023, in exact rational form): score every document by
    * how much its unigram distribution looks like the TARGET domain
    * (lang = 'en') relative to the whole corpus, then surface the
    * top-scoring documents — the selection signal for "tilt the
    * mixture toward domain X" curation. Distinct from q164 (fluency
    * under a self-trained bigram LM — no target), q156 (supervised
    * quality weights), and q253 (selection under a budget given
    * scores): this query ESTIMATES the domain-matching score itself.
    * Per word w, the add-one-smoothed likelihood ratio
    * lr(w) = [(c_t(w)+1)/(N_t+V)] / [(c_g(w)+1)/(N_g+V)] is one exact
    * fixed-point integer `·10⁶ div` on DECIMAL(38,0) (NO per-token
    * float logs — the mean of micro-LRs replaces the mean log-LR as
    * the stated scoring rule); a document's score is the truncating
    * integer mean of its tokens' micro-LRs.
    *
    * Scale shape: one token explode feeding vocabulary-bounded global
    * and target count aggregates; the LR model is a vocab-sized
    * relation joined back to tokens (AQE picks broadcast when vocab is
    * small); one doc-keyed aggregate; top-20 via per-partition heaps.
    * The projected-words discipline applies — tokens materialize once,
    * never re-split per consumer. */
  def q356(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
      .transform(graft.Fx.materialize) // global counts, target counts, scoring
    val model = toks.groupBy($"w").agg(
        count(lit(1)).as("cg"),
        sum(($"lang" === "en").cast("long")).as("ct"))
    val tot = model.agg(sum($"cg").as("ng"), sum($"ct").as("nt"),
      count(lit(1)).as("v"))
    val lr = model.crossJoin(broadcast(tot))
      .select($"w", expr(
        """((ct + 1) * (cast(ng as decimal(38,0)) + v) * 1000000)
           div ((cg + 1) * (cast(nt as decimal(38,0)) + v))""").as("lr_micro"))
    toks.join(lr, "w")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"), sum($"lr_micro").as("slr"))
      .select($"doc_id", $"lang", $"n_tokens",
        expr("cast(slr as decimal(38,0)) div n_tokens").as("score_micro"))
      .orderBy(desc("score_micro"), $"doc_id")
      .limit(20)
  }

  val q356Sql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |model AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cg,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
      |  FROM toks GROUP BY w),
      |tot AS (
      |  SELECT CAST(sum(cg) AS BIGINT) AS ng, CAST(sum(ct) AS BIGINT) AS nt,
      |    CAST(count(*) AS BIGINT) AS v
      |  FROM model),
      |lr AS (
      |  SELECT w,
      |    ((ct + 1) * (CAST(ng AS HUGEINT) + v) * 1000000)
      |      // ((cg + 1) * (CAST(nt AS HUGEINT) + v)) AS lr_micro
      |  FROM model CROSS JOIN tot)
      |SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(CAST(sum(lr.lr_micro) AS HUGEINT) // count(*) AS BIGINT)
      |    AS score_micro
      |FROM toks t JOIN lr ON t.w = lr.w
      |GROUP BY t.doc_id, t.lang
      |ORDER BY score_micro DESC, t.doc_id
      |LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q457 — isotonic (PAVA) recalibration of the quality score
  // ------------------------------------------------------------------

  /** Isotonic fit on a BOUNDED ordered grid of (ord, n, y) bins via
    * the minimax characterization iso(k) = max_{i≤k} min_{j≥k}
    * mean(y over bins i..j) — identical to the PAVA pooling result,
    * but expressible as two bounded aggregates instead of a
    * sequential pool loop. Means live on the exact micro grid
    * (m(i,j) = 10⁶·Σy div Σn, truncating — min/max of INTEGERS, no
    * rational comparisons; the fit is the isotonic regression of the
    * micro-rounded means, stated). The interval fan-out is
    * |grid|³ ≤ 11³ rows here — the grid is the decile domain, so this
    * costs nothing at any corpus size. */
  def isotonicMicro(bins: DataFrame): DataFrame = {
    val s = bins.sparkSession
    import s.implicits._
    val w = Window.orderBy($"ord")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("cn", sum($"n").over(w))
      .withColumn("cy", sum($"y").over(w))
      .withColumn("pn", $"cn" - $"n")
      .withColumn("py", $"cy" - $"y")
    val iv = cum.select($"ord".as("i"), $"pn", $"py")
      .join(cum.select($"ord".as("j"), $"cn", $"cy"), $"i" <= $"j")
      .select($"i", $"j",
        expr("((cy - py) * 1000000) div (cn - pn)").as("m"))
    val ks = cum.select($"ord".as("k"))
    val iso = ks.join(iv, $"i" <= $"k" && $"j" >= $"k")
      .groupBy($"k", $"i").agg(min($"m").as("mn"))
      .groupBy($"k").agg(max($"mn").as("iso_micro"))
    bins.join(iso, bins("ord") === iso("k"))
      .select($"ord", $"n",
        expr("(y * 1000000) div n").as("raw_micro"), $"iso_micro")
      .orderBy($"ord")
  }

  /** q457 — isotonic (PAVA) recalibration of the q318 reliability
    * table: q318 SHOWS the decile-level miscalibration of the quality
    * score as a lang='en' predictor; this query produces the repaired
    * monotone curve — the standard isotonic-calibration step between
    * a raw ranking score and a usable probability (Zadrozny & Elkan
    * 2002), here in the exact minimax form over the same decile grid
    * (see [[isotonicMicro]]; the planted gate pins the classic
    * violation-pooling example). `iso_micro` is non-decreasing in
    * `bin` BY CONSTRUCTION, whatever the raw rates do. */
  def q457(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bins = Tables.documents(s, d)
      .select(qualityMicro($"text").as("qm"),
        ($"lang" === "en").cast("long").as("en"))
      .groupBy(expr("qm div 100000").as("ord"))
      .agg(count(lit(1)).as("n"), sum($"en").as("y"))
    isotonicMicro(bins)
      .select($"ord".as("bin"), $"n", $"raw_micro", $"iso_micro")
  }

  val q457Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
       |  SELECT CAST(($quality) AS BIGINT) AS qm,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
       |  FROM documents),
       |bins AS (
       |  SELECT qm // 100000 AS ord, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(en) AS BIGINT) AS y
       |  FROM f GROUP BY 1),
       |cum AS (
       |  SELECT ord, n, y,
       |    sum(n) OVER (ORDER BY ord
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
       |    sum(y) OVER (ORDER BY ord
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
       |  FROM bins),
       |iv AS (
       |  SELECT a.ord AS i, b.ord AS j,
       |    ((b.cy - (a.cy - a.y)) * 1000000) // (b.cn - (a.cn - a.n)) AS m
       |  FROM cum a JOIN cum b ON a.ord <= b.ord),
       |iso AS (
       |  SELECT k, max(mn) AS iso_micro FROM (
       |    SELECT c.ord AS k, iv.i, min(iv.m) AS mn
       |    FROM cum c JOIN iv ON iv.i <= c.ord AND iv.j >= c.ord
       |    GROUP BY 1, 2) t
       |  GROUP BY k)
       |-- iso_micro descends from window sum() (HUGEINT in DuckDB): the
       |-- final CAST to BIGINT is LOAD-BEARING. DuckDB renders HUGEINT
       |-- result columns as pandas float64, so an uncast column hashes
       |-- as "123.0" against Spark's BIGINT "123" in the driver compare
       |-- — the r13/r14 hash-red cause (values were always identical).
       |SELECT b.ord AS bin, b.n, (b.y * 1000000) // b.n AS raw_micro,
       |  CAST(iso.iso_micro AS BIGINT) AS iso_micro
       |FROM bins b JOIN iso ON b.ord = iso.k
       |ORDER BY bin""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q457_isotonic_calibration", q457, Some(q457Sql)),
    QueryDef("q356_importance_weights", q356, Some(q356Sql)),
    QueryDef("q318_score_calibration", q318, Some(q318Sql)),
    QueryDef("q300_pipeline_funnel", q300, Some(q300Sql), bench = true),
    QueryDef("q266_quantile_normalize", q266, Some(q266Sql)),
    QueryDef("q261_gini_stump", q261, Some(q261Sql)),
    QueryDef("q253_budget_fill", q253, Some(q253Sql)),
    QueryDef("q240_percent_rank_normalize", q240, Some(q240Sql)),
    // q238 (tokenizer fertility scorecard) is display-only: its BPE /
    // unigram token counts are functions of trained models, which no
    // SQL oracle can restate — TokenizerFertilitySpec pins it instead,
    // and q251 oracle-checks its integer accounting core.
    QueryDef("q251_fertility_core", q251, Some(q251Sql)),
    QueryDef("q228_shard_balance", q228, Some(q228Sql)),
    QueryDef("q230_domain_rollup", q230, Some(q230Sql)),
    QueryDef("q184_temperature_mixing", q184, Some(q184Sql), bench = true),
    QueryDef("q195_quality_budget", q195, Some(q195Sql)),
    QueryDef("q196_eval_apportionment", q196, Some(q196Sql)),
    QueryDef("q213_curriculum_interleave", q213, Some(q213Sql)),
    QueryDef("q100_dedup_keep_best", q100, Some(q100Sql)),
    QueryDef("q101_stop_grams", q101, Some(q101Sql), bench = true),
    QueryDef("q102_source_concentration", q102, Some(q102Sql)),
    QueryDef("q103_mixing_plan", q103, Some(q103Sql)),
    QueryDef("q106_zipf_vocab", q106, Some(q106Sql)),
    QueryDef("q107_cross_lang_prefix", q107, Some(q107Sql)),
    QueryDef("q113_bpe_pair_stats", q113, Some(q113Sql)),
    QueryDef("q123_containment_pairs", q123, Some(q123Sql)),
    QueryDef("q124_source_cap", q124, Some(q124Sql)),
    QueryDef("q125_incremental_dedup", q125, Some(q125Sql), bench = true),
    QueryDef("q137_pareto_frontier", q137, Some(q137Sql)),
    QueryDef("q174_rank_normalize", q174, Some(q174Sql)),
  )
}
