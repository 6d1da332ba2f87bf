package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions.md5_fast

/** Corpus-governance operators, round 7: duplicated-span REMOVAL with
  * document reassembly (the rewrite step of Lee et al. 2022 / CCNet
  * that q140/q144 only *report* on), checksum-validated numeric PII
  * (Luhn), per-source distribution divergence for mixture monitoring,
  * rank-based adaptive length gates, and frozen-weight model scoring —
  * the classifier-filter shape of fastText-style quality models.
  *
  * Determinism discipline (same as TrainingQueries): integer/rational
  * arithmetic only — divergences are χ²/total-variation, NOT KL
  * (libm `ln` is not bit-stable across engines); percentiles are
  * nearest-rank integer selections, not interpolated doubles; the
  * model score is a linear form, not a sigmoid (`exp` same problem).
  */
object CorpusQueries {
  import Fx._

  private def words(c: Column): Column = split(c, " ")

  // ------------------------------------------------------------------
  // q152 — duplicated-span removal + reassembly
  // ------------------------------------------------------------------

  /** q152 — span-dedup rewrite: segment every document into fixed
    * 8-word spans, count each span's document frequency corpus-wide,
    * and REBUILD each document keeping only spans that no other
    * document shares (df < 2) — the exact-substring dedup of Lee et
    * al. 2022 at span granularity, as a rewrite instead of a report.
    *
    * Scale shape: the df aggregation keys on md5(span) — 16-byte
    * digests through the shuffle, never text; the per-doc distinct
    * happens BEFORE the count (two-level agg), so a span repeated
    * inside one doc can't inflate its df; reassembly shuffles only
    * surviving spans, and the order key rides as a 4-byte pos. A doc
    * whose every span is boilerplate survives as an empty rewrite
    * (LEFT join back), so the output stays total over the corpus. */
  /** Reusable core of q152 (ScaleSmoke drives it at 1M docs): rewrite
    * a (doc_id, text) corpus dropping every W-word span that appears
    * in ≥ 2 distinct documents. */
  def spanDedupRewrite(docsIn: DataFrame, W: Int = 8): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val docs = docsIn.select($"doc_id", words($"text").as("w"))
    val nChunks = ceil(size($"w") / lit(W.toDouble)).cast("int")
    val chunks = docs
      .select($"doc_id", posexplode(
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice($"w", i * W + 1, lit(W)), " "))))
      .toDF("doc_id", "pos", "chunk")
      .withColumn("h", md5_fast($"chunk"))
    // Document frequency on digests: distinct (h, doc) first so the
    // count IS #docs, then count per h — both stages shuffle digests.
    val df = chunks.select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(count(lit(1)).as("df"))
    val kept = chunks.join(df, "h").filter($"df" < 2)
    val rebuilt = kept.groupBy($"doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct($"pos", $"chunk"))),
          x => x.getField("chunk")), " ").as("clean_text"))
    val totals = chunks.groupBy($"doc_id").agg(count(lit(1)).as("n_spans"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id", $"n_spans",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"clean_text", lit("")).as("clean_text"),
        r6(coalesce($"n_kept", lit(0L)).cast("double") / $"n_spans")
          .as("kept_frac"))
  }

  def q152(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    spanDedupRewrite(Tables.documents(s, d)).orderBy($"doc_id")
  }

  val q152Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |chunks AS (
       |  SELECT doc_id, CAST(u.i AS INT) AS pos,
       |    array_to_string(w[(u.i*8+1):(u.i*8+8)], ' ') AS chunk
       |  FROM t, unnest(range(0, CAST(ceil(len(w)/8.0) AS BIGINT))) AS u(i)),
       |hashed AS (SELECT doc_id, pos, chunk, md5(chunk) AS h FROM chunks),
       |df AS (SELECT h, count(DISTINCT doc_id) AS df FROM hashed GROUP BY h),
       |kept AS (SELECT doc_id, pos, chunk
       |         FROM hashed JOIN df USING (h) WHERE df < 2),
       |reb AS (SELECT doc_id, count(*) AS n_kept,
       |          string_agg(chunk, ' ' ORDER BY pos) AS clean_text
       |        FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_spans FROM chunks GROUP BY doc_id)
       |SELECT tot.doc_id, n_spans,
       |  COALESCE(n_kept, 0) AS n_kept,
       |  COALESCE(clean_text, '') AS clean_text,
       |  ${sqlR6("COALESCE(n_kept, 0) / CAST(n_spans AS DOUBLE)")} AS kept_frac
       |FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
       |ORDER BY tot.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q153 — Luhn-validated numeric PII
  // ------------------------------------------------------------------

  /** q153 — checksum-gated card-number detection: of the digit strings
    * flowing through the pipeline (the synthetic corpus has no digit
    * runs in `text`, so the order-key strings stand in as the detected
    * candidates), how many pass the Luhn mod-10 check, per order
    * priority. ~1 in 10 random numerics pass — the measured
    * false-positive mass a regex-only card detector would redact. */
  def q153(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderpriority",
        graft.functions.Checksums.luhnValid($"o_orderkey".cast("string"))
          .as("ok"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum($"ok".cast("long")).as("n_luhn_valid"))
      .select($"o_orderpriority", $"n", $"n_luhn_valid",
        r6($"n_luhn_valid".cast("double") / $"n").as("valid_rate"))
      .orderBy($"o_orderpriority")
  }

  val q153Sql: String = {
    val luhn = graft.functions.Checksums.sqlLuhnValid("ks")
    s"""WITH t AS (SELECT o_orderpriority,
       |    CAST(o_orderkey AS VARCHAR) AS ks FROM orders),
       |v AS (SELECT o_orderpriority, $luhn AS ok FROM t)
       |SELECT o_orderpriority, count(*) AS n,
       |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_luhn_valid,
       |  ${sqlR6("sum(CASE WHEN ok THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS valid_rate
       |FROM v GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin
  }

  // ------------------------------------------------------------------
  // q154 — per-source distribution divergence (mixture monitoring)
  // ------------------------------------------------------------------

  /** q154 — how far each source's unigram distribution sits from the
    * corpus distribution: χ² divergence Σ(p−q)²/q and total-variation
    * ½Σ|p−q| — the drift signals a mixture-rebalancing job thresholds
    * on. Rational forms deliberately replace KL (its `ln` is not
    * bit-stable cross-engine; χ² upper-bounds KL and TV lower-bounds
    * it, so both decisions thresholds survive the substitution).
    *
    * One shuffle of (source, word) counts; the word-marginal and
    * source-total ride windows over that same relation's partitioning
    * (vocabulary-sized — the bounded side); the corpus total is a
    * 1-row broadcast. Term values are exact-integer ratios; their sum
    * is r6-rounded (non-grid doubles — midpoint mass is ~1e-11, the
    * q132 precedent). */
  def q154(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"source", explode(words($"text")).as("w"))
      .filter($"w" =!= "")
    val sw = toks.groupBy($"source", $"w").agg(count(lit(1)).as("c_sw"))
    val t = toks.agg(count(lit(1)).as("t"))
    val terms = sw
      .withColumn("c_w", sum($"c_sw").over(Window.partitionBy($"w")))
      .withColumn("t_s", sum($"c_sw").over(Window.partitionBy($"source")))
      .crossJoin(broadcast(t))
      .select($"source",
        ($"c_sw".cast("double") / $"t_s").as("p"),
        ($"c_w".cast("double") / $"t").as("q"))
    terms.groupBy($"source")
      .agg(count(lit(1)).as("n_terms"),
        r6(sum(($"p" - $"q") * ($"p" - $"q") / $"q")).as("chi2"),
        r6(sum(abs($"p" - $"q")) / 2.0).as("tvd"))
      .orderBy($"source")
  }

  val q154Sql: String =
    s"""WITH toks AS (
       |  SELECT source, w FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w
       |    FROM documents) u WHERE w <> ''),
       |sw AS (SELECT source, w, count(*) AS c_sw FROM toks GROUP BY 1, 2),
       |terms AS (
       |  SELECT source,
       |    CAST(c_sw AS DOUBLE) / sum(c_sw) OVER (PARTITION BY source) AS p,
       |    CAST(sum(c_sw) OVER (PARTITION BY w) AS DOUBLE)
       |      / (SELECT count(*) FROM toks) AS q
       |  FROM sw)
       |SELECT source, count(*) AS n_terms,
       |  ${sqlR6("sum((p - q) * (p - q) / q)")} AS chi2,
       |  ${sqlR6("sum(abs(p - q)) / 2.0")} AS tvd
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // q155 — adaptive (nearest-rank) length gates
  // ------------------------------------------------------------------

  /** q155 — data-driven length filtering: per language, the p05/p95
    * length thresholds come from the data itself (nearest-rank
    * percentile: the n_chars value at row_number ceil(p·n) under a
    * total (n_chars, doc_id) order — integer selection, no
    * interpolated doubles, so the gate is bit-deterministic), then
    * the retention that gate would achieve. This is the adaptive form
    * of a fixed-length filter: at 100 TB thresholds drift per shard
    * and must be recomputed, not hardcoded. The within-language ranks
    * ride [[Ranking.groupRanks]] (a lang-partitioned window would
    * sort each language's corpus in ONE task); group sizes are a
    * bounded aggregate broadcast back, thresholds broadcast onto the
    * scan, and the window-form oracle is unchanged (value-at-rank is
    * tie-order independent). */
  def q155(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"lang", $"doc_id", $"n_chars")
    val ranked = Ranking.groupRanks(docs, Seq("lang"), 8,
      $"n_chars".asc, $"doc_id".asc)
    val ns = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
      .withColumnRenamed("lang", "__nl")
    val th = ranked.join(broadcast(ns), $"lang" <=> $"__nl")
      .groupBy($"lang").agg(
        min(when($"rank" === ceil($"n" * 0.05), $"n_chars")).as("p05"),
        min(when($"rank" === ceil($"n" * 0.95), $"n_chars")).as("p95"))
    docs.join(broadcast(th), "lang")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        min($"p05").as("p05"), min($"p95").as("p95"),
        sum(when($"n_chars" >= $"p05" && $"n_chars" <= $"p95", 1L)
          .otherwise(0L)).as("n_kept"))
      .select($"lang", $"n_docs", $"p05", $"p95", $"n_kept",
        r6($"n_kept".cast("double") / $"n_docs").as("retention"))
      .orderBy($"lang")
  }

  val q155Sql: String =
    s"""WITH ranked AS (
       |  SELECT lang, n_chars,
       |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS n
       |  FROM documents),
       |th AS (
       |  SELECT lang,
       |    min(CASE WHEN rn = ceil(n * 0.05) THEN n_chars END) AS p05,
       |    min(CASE WHEN rn = ceil(n * 0.95) THEN n_chars END) AS p95
       |  FROM ranked GROUP BY lang)
       |SELECT d.lang, count(*) AS n_docs, min(p05) AS p05, min(p95) AS p95,
       |  CAST(sum(CASE WHEN n_chars BETWEEN p05 AND p95 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_kept,
       |  ${sqlR6("sum(CASE WHEN n_chars BETWEEN p05 AND p95 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS retention
       |FROM documents d JOIN th ON d.lang = th.lang
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ------------------------------------------------------------------
  // q156 — frozen-weight quality-model scoring
  // ------------------------------------------------------------------

  /** Model features, shared by the oracle query and the MLlib training
    * path (ml.QualityModel trains a LogisticRegression on exactly
    * these): token count, average word length, en-stopword ratio,
    * distinct-word ratio. Pure column arithmetic. */
  def modelFeatures(text: Column): Seq[(String, Column)] = {
    val toks = graft.functions.TextAnalysis.tokenCount(text).cast("double")
    val chars = length(text).cast("double")
    Seq(
      "f_toks" -> toks,
      "f_awl" -> (chars - (toks - 1)) / toks,
      "f_stop" -> graft.functions.TextAnalysis.langScore(text, "en")
        .cast("double") / toks,
      "f_uniq" -> size(array_distinct(words(text))).cast("double") / toks)
  }

  /** Frozen linear weights ("trained offline" — the deploy shape of a
    * fastText-style quality filter: training is rare, scoring is every
    * scan). Linear form, not sigmoid: exp is not bit-stable
    * cross-engine and the accept decision only needs the margin. */
  val modelWeights: Seq[(String, Double)] = Seq(
    "f_toks" -> 0.01, "f_awl" -> 0.15, "f_stop" -> 2.0, "f_uniq" -> 1.5)
  val modelBias: Double = -1.2

  /** q156 — score every doc with the frozen model, histogram the
    * margins on a fixed quarter-unit grid, count accepts (margin > 0)
    * per (lang, bucket). Scoring fuses into the scan (one pass, no
    * shuffle before the tiny histogram agg).
    *
    * Exactness: the float margin m = 0.01·toks + 0.15·awl +
    * 2·stop/toks + 1.5·uniq/toks − 1.2 times 100·toks is the INTEGER
    * m100 = toks² + 15·(chars−toks+1) + 200·stop + 150·uniq −
    * 120·toks (toks > 0 always), so pass = m100 > 0 and the quarter
    * bucket floor(4m) = floor(m100/(25·toks)) ride pure BIGINTs — no
    * engine-version float boundary anywhere (the r13 lesson). The
    * floor of the possibly-negative quotient is taken after a +10
    * bucket shift (m > −4.8 by construction, so the shifted numerator
    * is positive and truncating division IS floor in any engine). */
  def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = graft.functions.TextAnalysis.tokenCount($"text").cast("long")
    val chars = length($"text").cast("long")
    val stop = graft.functions.TextAnalysis.langScore($"text", "en").cast("long")
    val uniq = size(array_distinct(split($"text", " "))).cast("long")
    Tables.documents(s, d)
      .select($"lang",
        (toks * toks + (chars - toks + lit(1L)) * lit(15L) +
          stop * lit(200L) + uniq * lit(150L) - toks * lit(120L)).as("m100"),
        (toks * lit(25L)).as("den"))
      .withColumn("bucket", expr("(m100 + den * 10) div den - 10"))
      .withColumn("pass", ($"m100" > 0L).cast("long"))
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"pass").as("n_pass"))
      .orderBy($"lang", $"bucket")
  }

  val q156Sql: String = {
    val toks = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
    val stop = graft.functions.TextAnalysis.sqlWordOccurrences("lower(text)", "the") +
      " + " + graft.functions.TextAnalysis.sqlWordOccurrences("lower(text)", "and") +
      " + " + graft.functions.TextAnalysis.sqlWordOccurrences("lower(text)", "of")
    s"""WITH f AS (
       |  SELECT lang, $toks AS toks,
       |    CAST(length(text) AS BIGINT) AS chars,
       |    CAST($stop AS BIGINT) AS stop,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
       |  FROM documents),
       |sc AS (
       |  SELECT lang,
       |    toks * toks + (chars - toks + 1) * 15 + stop * 200
       |      + uniq * 150 - toks * 120 AS m100,
       |    toks * 25 AS den FROM f)
       |SELECT lang,
       |  CAST((m100 + den * 10) // den - 10 AS BIGINT) AS bucket,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN m100 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |FROM sc GROUP BY 1, 2
       |ORDER BY lang, bucket""".stripMargin
  }

  // ------------------------------------------------------------------
  // q211 — Unicode NFC canonicalization audit (native expressions)
  // ------------------------------------------------------------------

  /** q211 — NFC canonicalization audit + repair: web crawls mix
    * precomposed and decomposed forms of the same text, and every
    * hash/shingle/equality step downstream silently treats them as
    * different documents. This ASCII test corpus is seeded with
    * combining-mark sequences deterministically (doc_id%3==0 →
    * 'a'+U+0301, %3==1 → 'o'+U+0303) to stand in for that mix, then
    * audited and repaired with the native codegen'd
    * [[graft.plans.NfcNormalize]] / [[graft.plans.NfcIsNormalized]]
    * expressions. Per doc: was it already NFC, codepoint counts before
    * and after (the delta counts composed pairs), and the repaired
    * prefix — the oracle rebuilds all of it with DuckDB's own
    * `nfc_normalize`, so the Java-Normalizer-backed expression is
    * cross-engine verified byte-for-byte on every row.
    *
    * Scale shape: pure per-row projection, no shuffle, whole-stage
    * codegen. The ASCII fast path makes the audit predicate a byte
    * scan and the normalizer a zero-copy identity for the
    * overwhelmingly-ASCII majority of a real crawl, so canonicalizing
    * right after the source costs ~one memchr per clean row. */
  def q211(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.plans.GraftFunctions.{nfc_is_normalized, nfc_normalize}
    val seeded = Tables.documents(s, d).select($"doc_id", $"lang",
      when($"doc_id" % 3 === 0, replace($"text", lit("a"), lit("a\u0301")))
        .when($"doc_id" % 3 === 1, replace($"text", lit("o"), lit("o\u0303")))
        .otherwise($"text").as("raw"))
    seeded.select($"doc_id", $"lang",
      nfc_is_normalized($"raw").cast("int").as("was_nfc"),
      length($"raw").as("chars_raw"),
      length(nfc_normalize($"raw")).as("chars_nfc"),
      substring(nfc_normalize($"raw"), 1, 12).as("prefix_nfc"))
      .orderBy($"doc_id")
  }

  val q211Sql: String =
    """WITH seeded AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'a' || chr(769))
      |         WHEN doc_id % 3 = 1 THEN replace(text, 'o', 'o' || chr(771))
      |         ELSE text END AS raw
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CAST(nfc_normalize(raw) = raw AS INT) AS was_nfc,
      |  CAST(length(raw) AS INT) AS chars_raw,
      |  CAST(length(nfc_normalize(raw)) AS INT) AS chars_nfc,
      |  left(nfc_normalize(raw), 12) AS prefix_nfc
      |FROM seeded ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q216 — mojibake detection + repair (encoding-damage audit)
  // ------------------------------------------------------------------

  /** q216 — mojibake repair: text that was UTF-8 encoded but DECODED
    * as Latin-1 turns every accented character into a two-character
    * artifact ("\u00e9" → "\u00c3\u00a9") — the single most common encoding damage in
    * web crawls, and the core of what ftfy fixes. The repair is a
    * bounded artifact→codepoint mapping (the UTF-8 byte pair read as
    * Latin-1, reversed) applied as a chain of literal `replace`es —
    * pure codegen'd column expressions, scan speed, no shuffle; the
    * detection signature is the count of lead byte 'Ã' (U+00C3), pure
    * length arithmetic. This ASCII corpus is seeded deterministically
    * (doc_id%5==0 → 'a' becomes the Ã¡ artifact, %5==1 → 'e' becomes
    * Ã©) so both engines repair identical damage; `chars_raw −
    * chars_repaired = n_artifacts` is the structural invariant the
    * oracle pins per row. Together with q211 (NFC) this closes the
    * canonicalize-before-hashing loop: decode damage and normalization
    * drift both make equal documents hash differently. */
  def q216(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // artifact = UTF-8 bytes of the codepoint read as Latin-1
    val fixes = Seq(
      "\u00c3\u00a1" -> "\u00e1", // á
      "\u00c3\u00a9" -> "\u00e9", // é
      "\u00c3\u00b1" -> "\u00f1", // ñ
      "\u00c3\u00a7" -> "\u00e7") // ç
    val seeded = Tables.documents(s, d).select($"doc_id", $"lang",
      when($"doc_id" % 5 === 0, replace($"text", lit("a"), lit("\u00c3\u00a1")))
        .when($"doc_id" % 5 === 1, replace($"text", lit("e"), lit("\u00c3\u00a9")))
        .otherwise($"text").as("raw"))
    val fixed = fixes.foldLeft($"raw": Column) {
      case (c, (bad, good)) => replace(c, lit(bad), lit(good))
    }
    seeded.select($"doc_id", $"lang",
      (length($"raw") - length(replace($"raw", lit("\u00c3"), lit(""))))
        .as("n_artifacts"),
      length($"raw").as("chars_raw"),
      length(fixed).as("chars_repaired"),
      ((length(fixed) - length(replace(fixed, lit("\u00c3"), lit("")))) === 0)
        .cast("int").as("clean_after"),
      substring(fixed, 1, 12).as("prefix_fixed"))
      .orderBy($"doc_id")
  }

  val q216Sql: String = {
    // same mapping, innermost replace applied first = Spark fold order
    val fixed = Seq(161 -> 225, 169 -> 233, 177 -> 241, 167 -> 231)
      .foldLeft("raw") { case (e, (tail, good)) =>
        s"replace($e, chr(195)||chr($tail), chr($good))"
      }
    s"""WITH seeded AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN doc_id % 5 = 0 THEN replace(text, 'a', chr(195)||chr(161))
       |         WHEN doc_id % 5 = 1 THEN replace(text, 'e', chr(195)||chr(169))
       |         ELSE text END AS raw
       |  FROM documents),
       |rep AS (SELECT doc_id, lang, raw, $fixed AS fixed FROM seeded)
       |SELECT doc_id, lang,
       |  CAST(length(raw) - length(replace(raw, chr(195), '')) AS INT) AS n_artifacts,
       |  CAST(length(raw) AS INT) AS chars_raw,
       |  CAST(length(fixed) AS INT) AS chars_repaired,
       |  CAST(length(fixed) - length(replace(fixed, chr(195), '')) = 0 AS INT) AS clean_after,
       |  left(fixed, 12) AS prefix_fixed
       |FROM rep ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q229 — PII / secrets breadth scan (regex detector battery)
  // ------------------------------------------------------------------

  /** q229 — the multi-detector PII and secrets scan a corpus release
    * gate runs before any training data ships: emails, phone numbers,
    * internal IPv4 addresses, and cloud-credential-shaped tokens
    * (AKIA-prefixed access keys), rolled up per source as
    * document-level detection counts and a combined incidence rate.
    * Complements q94 (redaction rewrite) and q153 (Luhn checksum
    * validation): this is the BREADTH audit — which sources leak
    * what, at what rate — that decides where redaction effort goes.
    *
    * The corpus is seeded deterministically (q216's mojibake
    * precedent: the synthetic testdata contains no organic PII, and
    * an all-zeros detector proves nothing) — ~4/7 of documents get
    * exactly one artifact each, derived from doc_id arithmetic and
    * md5 hex both engines compute identically, so DuckDB seeds and
    * detects the same corpus.
    *
    * Scale shape: detection is four `rlike` predicates fused into the
    * scan projection (regex at scan speed, no shuffle); the rollup is
    * one partial-aggregating groupBy onto the |sources|-row relation.
    * Patterns stay in the Java∩RE2 common subset (character classes
    * and bounded repetition only — no lookaround), so the same
    * pattern text runs unchanged on Spark, DuckDB, and any RE2-based
    * scanner a 100 TB pipeline might push the predicate down to. */
  def q229(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val id = $"doc_id".cast("string")
    val seeded = Tables.documents(s, d).select($"source",
      when($"doc_id" % 7 === 0,
        concat($"text", lit(" contact: user"), id, lit("@example.com")))
        .when($"doc_id" % 7 === 1,
          concat($"text", lit(" call 555-"),
            lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
        .when($"doc_id" % 7 === 2,
          concat($"text", lit(" host 10."), ($"doc_id" % 251).cast("string"),
            lit("."), (($"doc_id" * 3) % 256).cast("string"),
            lit("."), (($"doc_id" * 7) % 256).cast("string")))
        .when($"doc_id" % 7 === 3,
          concat($"text", lit(" key AKIA"),
            upper(substring(md5_fast(concat(id, lit("#key"))), 1, 16))))
        .otherwise($"text").as("raw"))
    val hit = (pat: String) => $"raw".rlike(pat).cast("long")
    seeded.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(hit("[a-z0-9]+@[a-z]+\\.[a-z]+")).as("n_email"),
        sum(hit("555-[0-9]{4}")).as("n_phone"),
        sum(hit("10\\.[0-9]+\\.[0-9]+\\.[0-9]+")).as("n_ipv4"),
        sum(hit("AKIA[0-9A-F]{16}")).as("n_secret"))
      .select($"source", $"n_docs", $"n_email", $"n_phone", $"n_ipv4",
        $"n_secret",
        r6(($"n_email" + $"n_phone" + $"n_ipv4" + $"n_secret") / $"n_docs")
          .as("pii_rate"))
      .orderBy($"source")
  }

  val q229Sql: String = {
    def hit(pat: String) =
      s"CAST(sum(CASE WHEN regexp_matches(raw, '$pat') THEN 1 ELSE 0 END) AS BIGINT)"
    s"""WITH seeded AS (
       |  SELECT source,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
       |         WHEN doc_id % 7 = 1 THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         WHEN doc_id % 7 = 2 THEN text || ' host 10.' || CAST(doc_id % 251 AS VARCHAR) || '.' || CAST((doc_id * 3) % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
       |         WHEN doc_id % 7 = 3 THEN text || ' key AKIA' || upper(substr(md5(CAST(doc_id AS VARCHAR) || '#key'), 1, 16))
       |         ELSE text END AS raw
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  ${hit("[a-z0-9]+@[a-z]+\\.[a-z]+")} AS n_email,
       |  ${hit("555-[0-9]{4}")} AS n_phone,
       |  ${hit("10\\.[0-9]+\\.[0-9]+\\.[0-9]+")} AS n_ipv4,
       |  ${hit("AKIA[0-9A-F]{16}")} AS n_secret,
       |  ${sqlR6("(" + hit("[a-z0-9]+@[a-z]+\\.[a-z]+") + " + " + hit("555-[0-9]{4}") + " + " + hit("10\\.[0-9]+\\.[0-9]+\\.[0-9]+") + " + " + hit("AKIA[0-9A-F]{16}") + ") / count(*)")} AS pii_rate
       |FROM seeded GROUP BY source ORDER BY source""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q229_pii_breadth_scan", q229, Some(q229Sql)),
    QueryDef("q152_span_dedup_rewrite", q152, Some(q152Sql), bench = true),
    QueryDef("q153_luhn_pii", q153, Some(q153Sql)),
    QueryDef("q154_source_divergence", q154, Some(q154Sql)),
    QueryDef("q155_adaptive_length_filter", q155, Some(q155Sql)),
    QueryDef("q156_quality_model_score", q156, Some(q156Sql)),
    QueryDef("q211_nfc_normalize", q211, Some(q211Sql)),
    QueryDef("q216_mojibake_repair", q216, Some(q216Sql)))
}
