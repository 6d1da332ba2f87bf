package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions.md5_fast

/** Training-data curation operators a 100 TB LLM pipeline needs beyond
  * dedup/ANN: TF-IDF term scoring, repetition (boilerplate) filters,
  * PII redaction, benchmark decontamination, sequence packing,
  * chunking-with-overlap, and quality-weighted sampling. All pure
  * column expressions / window functions — codegen'd, no UDFs — each
  * with an exact DuckDB oracle.
  *
  * Determinism notes: ratios divide only exact integers or grid-rounded
  * sums (IEEE division is correctly rounded, hence identical across
  * engines); no transcendental functions (TF-IDF uses the rational
  * tf·N/df form rather than a log idf, so ranking ties are exact).
  */
object TrainingQueries {
  import Fx._

  /** Words array (single-space corpus). Materialized once per row —
    * inline `split` inside a lambda would re-evaluate per element. */
  private def words(c: Column): Column = split(c, " ")

  /** q92 — TF-IDF top-3 terms per document. Rational idf (N/df)
    * instead of ln(N/df): same ranking on this integer lattice, but
    * bit-deterministic in both engines (libm ln is not). The doc-count
    * scalar is a 1-row cross join (broadcast — no shuffle). */
  def q92(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val toks = docs
      .select($"doc_id", explode(words($"text")).as("w"))
      .filter($"w" =!= "")
    val tf = toks.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    // df = docs containing w = rows of tf per w. A window count over
    // the w-partitioning gets it in ONE shuffle of tf, where a
    // groupBy(w) + join-back would shuffle tf twice (the (doc_id, w)
    // partitioning doesn't satisfy a join on w alone).
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy($"w")))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = withDf
      .crossJoin(broadcast(n))
      .select($"doc_id", $"w".as("term"), $"tf", $"df",
        ($"tf".cast("double") * $"n_docs" / $"df").as("score"))
    val rn = row_number().over(
      Window.partitionBy($"doc_id").orderBy($"score".desc, $"term"))
    scored
      .withColumn("rn", rn.cast("long"))
      .filter($"rn" <= 3)
      .select($"doc_id", $"rn", $"term", $"tf", $"df", r6($"score").as("score"))
      .orderBy($"doc_id", $"rn")
  }

  val q92Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> ''),
       |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, tf.w AS term, tf.tf AS tf, df.df AS df,
       |    CAST(tf.tf AS DOUBLE) * n_docs / df.df AS score
       |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n)
       |SELECT doc_id, rn, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       |  ${sqlR6("score")} AS score
       |FROM (SELECT *, CAST(row_number() OVER (
       |        PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rn
       |      FROM scored) r
       |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin

  /** q93 — repetition filter (Gopher-style): fraction of duplicate
    * words and word-bigrams per document; high bigram repetition marks
    * boilerplate. Integer counts; one guarded division at the end. */
  def q93(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = words($"text")
    val bigrams = graft.functions.TextAnalysis.adjacentPairs($"w")
    Tables.documents(s, d)
      .select($"doc_id", w.as("w"))
      .select($"doc_id",
        size($"w").cast("long").as("n_words"),
        size(array_distinct($"w")).cast("long").as("n_distinct"),
        bigrams.as("bg"))
      .select($"doc_id", $"n_words", $"n_distinct",
        size($"bg").cast("long").as("n_bigrams"),
        size(array_distinct($"bg")).cast("long").as("n_distinct_bigrams"))
      .select($"doc_id", $"n_words", $"n_distinct", $"n_bigrams", $"n_distinct_bigrams",
        r4(lit(1.0) - $"n_distinct".cast("double") / $"n_words").as("dup_word_frac"),
        when($"n_bigrams" === 0, lit(0.0))
          .otherwise(r4(lit(1.0) - $"n_distinct_bigrams".cast("double") / $"n_bigrams"))
          .as("dup_bigram_frac"))
      .withColumn("flagged", ($"dup_bigram_frac" > 0.2).cast("int"))
      .orderBy($"doc_id")
  }

  val q93Sql: String =
    s"""SELECT doc_id, n_words, n_distinct, n_bigrams, n_distinct_bigrams,
       |  ${sqlR4("1.0 - CAST(n_distinct AS DOUBLE) / n_words")} AS dup_word_frac,
       |  CASE WHEN n_bigrams = 0 THEN 0.0
       |       ELSE ${sqlR4("1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams")}
       |  END AS dup_bigram_frac,
       |  CAST(CASE WHEN n_bigrams = 0 THEN 0.0
       |       ELSE ${sqlR4("1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams")}
       |  END > 0.2 AS INT) AS flagged
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       |    CAST(len(bg) AS BIGINT) AS n_bigrams,
       |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams
       |  FROM (
       |    SELECT doc_id, w,
       |      list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) u) v
       |ORDER BY doc_id""".stripMargin

  /** q94 — PII redaction. The corpus has no PII, so deterministic
    * synthetic contacts are appended per doc (same expression both
    * engines), then masked with patterns in the Java∩RE2 common
    * dialect. Pure regexp column ops — scan-speed at 100 TB. */
  def q94(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}"
    val phonePat = "\\+1-[0-9]{3}-[0-9]{4}"
    val txt = concat($"text", lit(" contact user"), $"doc_id".cast("string"),
      lit("@example.com or +1-555-"),
      lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    val redacted = regexp_replace(
      regexp_replace(txt, emailPat, "<EMAIL>"), phonePat, "<PHONE>")
    Tables.documents(s, d)
      .select($"doc_id",
        size(regexp_extract_all(txt, lit(emailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(txt, lit(phonePat), lit(0))).cast("long").as("n_phones"),
        length(txt).cast("long").as("raw_len"),
        length(redacted).cast("long").as("redacted_len"),
        md5_fast(redacted).as("redacted_fp"))
      .orderBy($"doc_id")
  }

  val q94Sql: String = {
    val txt = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}"
    val phone = "\\+1-[0-9]{3}-[0-9]{4}"
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(txt, '$email')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(txt, '$phone')) AS BIGINT) AS n_phones,
       |  CAST(length(txt) AS BIGINT) AS raw_len,
       |  CAST(length(redacted) AS BIGINT) AS redacted_len,
       |  md5(redacted) AS redacted_fp
       |FROM (
       |  SELECT doc_id, txt,
       |    regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'),
       |                   '$phone', '<PHONE>', 'g') AS redacted
       |  FROM (SELECT doc_id, $txt AS txt FROM documents) t) u
       |ORDER BY doc_id""".stripMargin
  }

  /** 8-word shingle fingerprints, distinct per doc. The hash exists
    * only for join EQUALITY (it is never emitted), so each engine may
    * use its own: Spark hashes with xxhash64 — an 8-byte long through
    * the broadcast set and the aggregation, ~4× narrower and much
    * cheaper than an md5 hex string — while the DuckDB oracle keeps
    * md5. Match/miss outcomes are identical short of a 64-bit
    * collision inside one document's shingle set. */
  private def shingles(w: Column): Column =
    // r20: native window generator (one buffer concat per doc, one
    // byte-range copy per shingle) — same hash values, same order
    array_distinct(transform(
      graft.plans.GraftFunctions.word_windows(w, 8), win => xxhash64(win)))

  private val shinglesSql =
    "list_distinct(list_transform(range(1, greatest(len(w) - 6, 1)), " +
      "i -> md5(array_to_string(w[i:i+7], ' '))))"

  /** q95 — benchmark decontamination: which training docs share any
    * 8-word shingle with the held-out eval slice (source = 'src0').
    * Eval shingle set is deduped then broadcast; training docs LEFT
    * join it so clean docs report 0 (every doc gets a verdict). */
  def q95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The eval and training sides read DISJOINT source slices, so with
    // the source predicate pushed to the parquet scan no document is
    // shingled twice — a persist here would only add cache churn (and,
    // at 100 TB, materialize an exploded 8-gram relation ~10× the
    // corpus; a long-lived session would also leak the cache entry,
    // since a lazily returned DataFrame has no post-action unpersist
    // hook).
    // Two-step projection on purpose: `shingles(words($"text"))` would
    // inline the split into the transform lambda, re-splitting the
    // text per element under interpreted HOF eval (~7× slower).
    def grams(docs: DataFrame): DataFrame =
      docs.select($"doc_id", $"source", words($"text").as("w"))
        .select($"doc_id", $"source", explode_outer(shingles($"w")).as("g"))
    val corpus = Tables.documents(s, d)
    val evalGrams = grams(corpus.filter($"source" === "src0"))
      .filter($"g".isNotNull).select($"g").distinct()
    val train = grams(corpus.filter($"source" =!= "src0"))
    val hits = train
      .join(broadcast(evalGrams.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(
        sum(when($"g".isNotNull, 1).otherwise(0)).as("total_grams"),
        sum(coalesce($"hit", lit(0))).as("matched_grams"))
      .select($"doc_id", $"total_grams", $"matched_grams",
        when($"total_grams" === 0, lit(0.0))
          .otherwise(r6($"matched_grams".cast("double") / $"total_grams"))
          .as("contamination"),
        ($"matched_grams" > 0).cast("int").as("contaminated"))
    hits.orderBy($"doc_id")
  }

  val q95Sql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, source, unnest($shinglesSql) AS g
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
       |        FROM documents WHERE len(string_split(text, ' ')) >= 8) t),
       |eval_grams AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
       |train AS (SELECT doc_id, g FROM grams WHERE source <> 'src0'),
       |hits AS (
       |  SELECT t.doc_id,
       |    count(*) AS total_grams,
       |    sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS matched_grams
       |  FROM train t LEFT JOIN eval_grams e ON t.g = e.g
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  CAST(COALESCE(h.total_grams, 0) AS BIGINT) AS total_grams,
       |  CAST(COALESCE(h.matched_grams, 0) AS BIGINT) AS matched_grams,
       |  CASE WHEN COALESCE(h.total_grams, 0) = 0 THEN 0.0
       |       ELSE ${sqlR6("CAST(h.matched_grams AS DOUBLE) / h.total_grams")}
       |  END AS contamination,
       |  CAST(COALESCE(h.matched_grams, 0) > 0 AS INT) AS contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
       |WHERE d.source <> 'src0'
       |ORDER BY d.doc_id""".stripMargin

  /** q96 — sequence packing: assign docs to fixed token-budget bins by
    * exclusive running token count within each language. This is the
    * distributed form of packing (contiguous-by-key); greedy first-fit
    * is inherently sequential, but the PREFIX SUM that drives bin
    * assignment is not — it rides [[Ranking.groupRunningSum]]'s
    * two-phase scan (in-partition prefix + bounded carry table), so no
    * language's corpus ever streams through one task. */
  def q96(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
    // the exclusive running token count rides the two-phase distributed
    // prefix sum (Ranking.groupRunningSum) — a lang-partitioned window
    // would stream each language's whole corpus through one task; bin
    // assignment is integer `div` (exact, mirrors DuckDB's `//`)
    Ranking.groupRunningSum(
        Tables.documents(s, d).select(col("lang"), col("doc_id"), toks.as("toks")),
        Seq("lang"), 8, "toks", col("doc_id"))
      .withColumn("bin", expr("run_before div 256"))
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  val q96Sql: String =
    s"""SELECT lang, bin, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS bin_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM (
       |  SELECT lang, doc_id, toks,
       |    CAST(COALESCE(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS BIGINT) AS bin
       |  FROM (SELECT lang, doc_id,
       |          CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS toks
       |        FROM documents) t) u
       |GROUP BY lang, bin ORDER BY lang, bin""".stripMargin

  /** q97 — chunking with overlap: 100-token windows, stride 80 (the
    * context-window prep step). Chunk count and slices are integer
    * arithmetic; emitted text is fingerprinted, not carried. */
  def q97(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = size($"w")
    val nChunks = when(n <= 100, lit(1))
      .otherwise(((n - lit(21)) / lit(80)).cast("int") + 1)
    Tables.documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", $"w", explode(sequence(lit(0), nChunks - 1)).as("i"))
      .select($"doc_id", $"i".cast("long").as("chunk_idx"),
        ($"i" * 80 + 1).cast("long").as("start_tok"),
        least(size($"w") - $"i" * 80, lit(100)).cast("long").as("chunk_len"),
        md5_fast(array_join(slice($"w", $"i" * 80 + 1, lit(100)), " ")).as("chunk_fp"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val q97Sql: String =
    s"""SELECT doc_id,
       |  CAST(i AS BIGINT) AS chunk_idx,
       |  CAST(i * 80 + 1 AS BIGINT) AS start_tok,
       |  CAST(least(len(w) - i * 80, 100) AS BIGINT) AS chunk_len,
       |  md5(array_to_string(w[(i * 80 + 1):(i * 80 + 100)], ' ')) AS chunk_fp
       |FROM (
       |  SELECT doc_id, w,
       |    unnest(range(0, CASE WHEN len(w) <= 100 THEN 1
       |                         ELSE (len(w) - 21) // 80 + 1 END)) AS i
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) u
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** q98 — quality-weighted deterministic sampling: keep a doc iff a
    * seeded uniform (md5 high bits / 2^32) falls under its quality
    * score — cluster-stable importance sampling, no RNG state. */
  def q98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#wsamp")), 8)
      .cast("double") / 4294967296.0
    val q = graft.functions.TextAnalysis.qualityScore($"text")
    Tables.documents(s, d)
      .select($"doc_id", $"lang", q.as("quality"), u.as("u"))
      .filter($"u" < $"quality")
      .select($"doc_id", $"lang", r4($"quality").as("quality"), r6($"u").as("u"))
      .orderBy($"doc_id")
  }

  val q98Sql: String = {
    val toks = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT)"
    val occ = (w: String) =>
      graft.functions.TextAnalysis.sqlWordOccurrences("lower(text)", w)
    val stop = s"(${occ("the")} + ${occ("and")} + ${occ("of")})"
    val awl = "((chars - (toks - 1.0)) / toks)"
    val quality =
      "(CAST((least(toks, 50) * 8000 + (CASE WHEN CAST(chars AS BIGINT) - toks + 1 >= toks * 2 AND CAST(chars AS BIGINT) - toks + 1 <= toks * 12 THEN 300000 ELSE 0 END) + least(stop_en, 5) * 60000) AS DOUBLE) / 1000000.0)"
    s"""SELECT doc_id, lang, ${sqlR4(quality)} AS quality, ${sqlR6("u")} AS u
       |FROM (
       |  SELECT doc_id, lang, toks, chars, stop_en,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wsamp'), 1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS u
       |  FROM (SELECT doc_id, lang, $toks AS toks,
       |          CAST(length(text) AS DOUBLE) AS chars, $stop AS stop_en
       |        FROM documents) t) v
       |WHERE u < $quality
       |ORDER BY doc_id""".stripMargin
  }

  /** q99 — SimHash Hamming-ball near-dup pairs at scale: 64-bit native
    * SimHash split into 4×16-bit bands (pigeonhole: hamming ≤ 3 ⇒ at
    * least one band equal — Manku et al., WWW'07), candidates from a
    * band equi-join (never all-pairs), verified by popcount. The
    * oracle rebuilds the identical fingerprint in SQL (q56's HUGEINT
    * FNV-1a mirror). */
  def q99(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select($"doc_id", graft.plans.GraftFunctions.simhash64($"text").as("sh"))
    val bands = sh.select($"doc_id", $"sh",
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright($"sh", i * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("b"))
      .select($"doc_id", $"sh", $"b.band".as("band"), $"b.key".as("key"))
    val a = bands.select($"band", $"key", $"doc_id".as("a"), $"sh".as("sh_a"))
    val b = bands.select($"band", $"key", $"doc_id".as("b"), $"sh".as("sh_b"))
    a.join(b, Seq("band", "key"))
      .filter($"a" < $"b")
      .select($"a", $"b", bit_count($"sh_a".bitwiseXOR($"sh_b")).cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
      .orderBy($"a", $"b")
  }

  /** Bands in SQL over the q56 fingerprint CTE; arithmetic >> plus
    * mask matches Spark's shiftright on negatives. */
  val q99Sql: String = {
    val shCte = SimHashQueries.simhash64Cte
    s"""$shCte,
       |bands AS (
       |  SELECT doc_id, simhash64 AS sh, band, (simhash64 >> (band * 16)) & 65535 AS key
       |  FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bs)
       |SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |WHERE a.doc_id < b.doc_id
       |  AND bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY a, b""".stripMargin
  }

  /** q122 — BM25 document ranking for a fixed 3-term query
    * ("spark window merge"), rational-idf variant: idf(t) =
    * (N − df + 0.5)/(df + 0.5) — BM25's idf without the log wrapper
    * (monotone-identical ranking per term; no libm transcendental, so
    * the scores are bit-deterministic cross-engine). k1 = 1.2,
    * b = 0.75 (the usual constants; 2.2 = k1 + 1).
    *
    * Determinism: every input (tf, df, N, dl, Σdl) is an exact
    * integer-valued double, all operators are written in the same
    * shape on both sides, and the 3 per-term scores are summed in
    * FIXED column order (s1+s2+s3) — never a groupBy sum over doubles,
    * whose accumulation order is engine-defined.
    *
    * Scale: tokens filtered to the query terms BEFORE any shuffle (the
    * isin prunes at scan speed); df/N/avgdl are tiny aggregates
    * broadcast back; ranking is a global top-20 → TakeOrdered. */
  def q122(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val terms = Seq("spark", "window", "merge")
    val docs = Tables.documents(s, d)
    val dl = docs.select($"doc_id",
      size(words($"text")).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      sum($"dl").as("sum_dl"))
    val tf = docs.select($"doc_id", explode(words($"text")).as("w"))
      .filter($"w".isin(terms: _*))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy($"w").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(dfreq), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select($"doc_id", $"w",
        ((($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)) *
          (($"tf" * 2.2) /
            ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" * $"n_docs" / $"sum_dl"))))
          .as("score"))
    val perDoc = scored.groupBy($"doc_id")
      .agg(
        sum(when($"w" === terms(0), $"score").otherwise(0.0)).as("s1"),
        sum(when($"w" === terms(1), $"score").otherwise(0.0)).as("s2"),
        sum(when($"w" === terms(2), $"score").otherwise(0.0)).as("s3"))
      .withColumn("bm25", $"s1" + $"s2" + $"s3")
    perDoc
      .orderBy($"bm25".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", r6($"s1").as("s_spark"), r6($"s2").as("s_window"),
        r6($"s3").as("s_merge"), r6($"bm25").as("bm25"))
  }

  val q122Sql: String =
    s"""WITH dl AS (SELECT doc_id,
       |              CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
       |            FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, sum(dl) AS sum_dl
       |          FROM dl),
       |tf AS (
       |  SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w IN ('spark', 'window', 'merge') GROUP BY doc_id, w),
       |dfreq AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
       |sc AS (
       |  SELECT doc_id, tf.w AS w,
       |    ((n_docs - df + 0.5) / (df + 0.5)) *
       |      ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl * n_docs / sum_dl)))
       |      AS score
       |  FROM tf JOIN dfreq ON tf.w = dfreq.w
       |          JOIN dl USING (doc_id) CROSS JOIN stats),
       |agg AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN w = 'spark' THEN score ELSE 0.0 END) AS s1,
       |    sum(CASE WHEN w = 'window' THEN score ELSE 0.0 END) AS s2,
       |    sum(CASE WHEN w = 'merge' THEN score ELSE 0.0 END) AS s3
       |  FROM sc GROUP BY doc_id)
       |SELECT doc_id, ${sqlR6("s1")} AS s_spark, ${sqlR6("s2")} AS s_window,
       |  ${sqlR6("s3")} AS s_merge, ${sqlR6("s1 + s2 + s3")} AS bm25
       |FROM agg ORDER BY (s1 + s2 + s3) DESC, doc_id LIMIT 20""".stripMargin

  /** q140 — repeated-substring report (the exact-substring-dedup shape
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", at token-window granularity): every 8-word window
    * occurring in ≥ 2 distinct documents, top 30 by document frequency.
    *
    * Single-pass scale shape: one window-explode feeds one aggregation
    * keyed on md5(window) — identical in both engines — carrying
    * min(win) alongside the counters. Map-side partial aggregation
    * bounds the shuffled strings to at most one (h, min-win) per
    * digest per map partition, so the shuffle stays ~digest-sized
    * while the corpus is scanned and windowed exactly ONCE (the
    * previous two-phase form re-scanned and re-windowed everything to
    * recover the 30 winning strings — at 100 TB the second scan costs
    * far more than the wider shuffle rows). Windows are distinct-ed
    * per doc first, so count(*) per digest IS the document frequency.
    * The top-k boundary is tie-broken on the digest (n_docs ties are
    * the common case), which both engines compute identically. */
  def q140(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = 8
    val docs = Tables.documents(s, d).select($"doc_id", words($"text").as("w"))
    // r20 (guide step 2): native word_windows generator — the words
    // concatenate ONCE per doc into a shared buffer and each window is
    // a single byte-range copy, vs the builtin transform/slice/
    // array_join chain's ~3 copies of every word per window (A/B at
    // sf0.1: −24% wall, byte-identical, WordWindowsSpec pins parity)
    val wins = docs
      .select($"doc_id", explode(array_distinct(
        graft.plans.GraftFunctions.word_windows($"w", W))).as("win"))
      .withColumn("h", md5_fast($"win"))
    wins.groupBy($"h")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"),
        min($"win").as("window"))
      .filter($"n_docs" >= 2)
      .orderBy($"n_docs".desc, $"h")
      .limit(30)
      .select($"window", $"n_docs", $"first_doc", $"h")
      .orderBy($"n_docs".desc, $"h")
  }

  val q140Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |wins AS (
      |  SELECT doc_id, md5(win) AS h, win FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(w) >= 8
      |      THEN list_distinct(list_transform(range(1, len(w) - 6),
      |             i -> array_to_string(w[i:i+7], ' ')))
      |      ELSE CAST([] AS VARCHAR[]) END) AS win
      |    FROM t) u),
      |top AS (
      |  SELECT h, count(*) AS n_docs, min(doc_id) AS first_doc
      |  FROM wins GROUP BY h HAVING count(*) >= 2
      |  ORDER BY n_docs DESC, h LIMIT 30)
      |SELECT min(win) AS window, n_docs, first_doc, h
      |FROM wins JOIN top USING (h)
      |GROUP BY h, n_docs, first_doc
      |ORDER BY n_docs DESC, h""".stripMargin

  /** q552 — VARIABLE-length repeated-span ladder (the full Lee et al.
    * 2022 exact-substring-dedup form q140/q152's fixed 8-word window
    * approximates): for each document pair, the longest shared
    * word-span bracketed by a dyadic granularity ladder W ∈
    * {8,16,32,64}. The bracketing is exact, not heuristic — two docs
    * share a consecutive span of ≥ W words iff they share at least
    * one sliding W-word window (every W-window of the span occurs in
    * both docs), so `span_ge_w` = the largest rung the pair co-occurs
    * at brackets the true longest shared span into [w, 2w). Output:
    * top 30 pairs by (span_ge_w, shared 8-window volume, pair),
    * i.e. the near-clone leaderboard a span-dedup pass would rewrite
    * first. Exactness: all counts exact integers; the top-30 boundary
    * is totally ordered (pair id tie-break).
    *
    * Scale shape: ONE corpus scan — all four rungs' digests
    * materialize from a single pass (a flattened per-row
    * (wlen, digest) struct array, ≤ 4·len(doc) entries, exploded
    * once; the naive per-rung UNION would re-scan the table four
    * times at 100 TB) — feeding ONE digest-keyed shuffle; per
    * (rung, digest) the doc list is capped at the 8 SMALLEST doc_ids
    * (deterministic, stated — the q53 bucket-cap discipline: a viral
    * 10⁶-doc boilerplate digest must not fan into 10¹² pairs), so
    * pair generation is an equi-join emitting ≤ 28 pairs per digest.
    * Digests, never window strings, cross the wire. */
  /** Shared core of the q552 family: per-doc distinct (wlen, digest)
    * rows for the dyadic rung ladder W ∈ {8,16,32,64}, built from a
    * (doc_id, w) frame in ONE pass (the flattened per-row struct array
    * — a per-rung UNION would re-scan the input four times). */
  private[operators] def spanLadderWins(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val rungs = Seq(8, 16, 32, 64)
    docs.select($"doc_id", explode(flatten(array(rungs.map { wv =>
        // r20: native window generator; n < wv yields the empty rung
        // directly (the folded otherwise(array()) guard)
        transform(
          array_distinct(transform(
            graft.plans.GraftFunctions.word_windows($"w", wv),
            win => md5_fast(win))),
          h => struct(lit(wv.toLong).as("wlen"), h.as("h")))
      }: _*))).as("c"))
      .select($"doc_id", $"c.wlen".as("wlen"), $"c.h".as("h"))
  }

  /** The q53-discipline bucket cap over ladder rows: per (rung, digest)
    * keep the 8 SMALLEST doc_ids (deterministic, stated). */
  private def spanLadderCap(wins: DataFrame): DataFrame = {
    val s = wins.sparkSession
    import s.implicits._
    wins
      .withColumn("rn", row_number().over(
        Window.partitionBy($"wlen", $"h").orderBy($"doc_id")))
      .filter($"rn" <= 8)
      .select($"wlen", $"h", $"doc_id")
  }

  /** Shared leaderboard aggregation over (wlen, doc_a, doc_b) pair
    * rows: top 30 pairs by (largest co-occurring rung, shared 8-window
    * volume, pair id) — totally ordered. */
  private def spanLeaderboard(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.groupBy($"doc_a", $"doc_b")
      .agg(max($"wlen").as("span_ge_w"),
        sum(when($"wlen" === 8L, 1L).otherwise(0L)).as("shared_w8"))
      .orderBy($"span_ge_w".desc, $"shared_w8".desc, $"doc_a", $"doc_b")
      .limit(30)
      .select($"doc_a", $"doc_b", $"span_ge_w", $"shared_w8")
      .orderBy($"span_ge_w".desc, $"shared_w8".desc, $"doc_a", $"doc_b")
  }

  def q552(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", words($"text").as("w"))
    // materialized: capped feeds BOTH sides of the pair self-join —
    // without it each side re-runs the scan + 4-rung explode + window
    val capped = spanLadderCap(spanLadderWins(docs)).transform(Fx.materialize)
    val pairs = capped.as("x")
      .join(capped.as("y"), Seq("wlen", "h"))
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"wlen", $"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
    spanLeaderboard(pairs)
  }

  /** Shared oracle CTE chain for the q552 family (t → ladder wins →
    * capped → pair rows), mirroring spanLadderWins/spanLadderCap. */
  private val spanLadderSqlCtes: String = {
    val levels = Seq(8, 16, 32, 64).map { wv =>
      s"""SELECT doc_id, CAST($wv AS BIGINT) AS wlen,
         |    unnest(CASE WHEN len(w) >= $wv
         |      THEN list_distinct(list_transform(range(1, len(w) - ${wv - 2}),
         |             i -> md5(array_to_string(w[i:i+${wv - 1}], ' '))))
         |      ELSE CAST([] AS VARCHAR[]) END) AS h
         |  FROM t""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wins AS (
       |  $levels),
       |capped AS (
       |  SELECT wlen, h, doc_id FROM (
       |    SELECT wlen, h, doc_id, row_number() OVER (
       |      PARTITION BY wlen, h ORDER BY doc_id) AS rn
       |    FROM wins) r WHERE rn <= 8),
       |pairs AS (
       |  SELECT x.wlen, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM capped x JOIN capped y
       |    ON x.wlen = y.wlen AND x.h = y.h AND x.doc_id < y.doc_id)""".stripMargin
  }

  val q552Sql: String =
    s"""WITH $spanLadderSqlCtes
       |SELECT doc_a, doc_b, CAST(max(wlen) AS BIGINT) AS span_ge_w,
       |  CAST(sum(CASE WHEN wlen = 8 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS shared_w8
       |FROM pairs GROUP BY doc_a, doc_b
       |ORDER BY span_ge_w DESC, shared_w8 DESC, doc_a, doc_b
       |LIMIT 30""".stripMargin

  /** q556 — EXACT longest-span resolution for q552's leaderboard: the
    * ladder brackets each top-30 pair's longest shared word-span into
    * [w, 2w) (for w = 64, [64, ∞)); this query resolves the exact
    * length — the precise rewrite boundary a span-dedup pass needs —
    * by a bounded per-pair exact scan over ONLY those ≤ 30 pairs'
    * texts: exact_span = max L ∈ [span_ge_w, min(len_a, len_b)] such
    * that the docs share an L-word window (window digests compared
    * via arrays_overlap; both engines md5 the same strings). The scan
    * is exact for every bracket including the open-ended top rung and
    * is immune to the ladder's cap quirks (a pair can co-occur at
    * rung w yet be cap-dropped at a higher rung it also shares — the
    * exact scan reports the TRUE span regardless).
    *
    * Scale shape: the ladder does the corpus-wide work (one scan, one
    * digest shuffle — q552's shape, with the (doc_id, w) frame
    * materialized once so the leaderboard AND the text lookup consume
    * a single read); the exact resolution touches exactly 30 pairs —
    * 60 doc texts — joined via two broadcast-sized equi-joins. The
    * per-pair resolution is a DYADIC DOUBLING PROBE + binary search
    * (r17 verdict #2): the shared-window predicate P(L) = "the docs
    * share an L-word window" is monotone (a shared L-window contains a
    * shared (L−1)-window), so the maximum true L is found with
    * O(log range) window-digest evaluations instead of the previous
    * full [w, min(len)] linear scan — and the gallop phase keeps the
    * probes NEAR span_ge_w when the true span is (typically) inside
    * its [w, 2w) bracket, where a bare bisection would open at the
    * most expensive mid-corpus L. Each probe is pure codegen'd HOF
    * expressions; the loop is `aggregate` over a per-row iteration
    * budget of ⌈log₂(range)⌉+2 no-op-padded steps (CASE-lazy, so
    * converged iterations cost nothing). Monotonicity is exact on
    * windows; on their md5 digests it holds absent digest collisions
    * (the same assumption the linear scan's arrays_overlap already
    * made — PlantedStructureSpec pins exactness on 3000-word docs
    * with a 70-word span and on a 1200-word near-total overlap). */
  def q556(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    exactSpanFrame(s, d)
      .select($"doc_a", $"doc_b", $"span_ge_w", $"shared_w8", $"exact_span")
      .orderBy($"span_ge_w".desc, $"shared_w8".desc, $"doc_a", $"doc_b")
  }

  /** Shared core of q556/q560: the q552 leaderboard joined to both
    * word arrays with the exact longest shared span length resolved
    * (gallop + binary search — see q556's doc). Emits doc_a, doc_b,
    * span_ge_w, shared_w8, wa, wb, exact_span. */
  private def exactSpanFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docsW = Tables.documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .transform(Fx.materialize)
    val capped = spanLadderCap(spanLadderWins(docsW)).transform(Fx.materialize)
    val pairRows = capped.as("x")
      .join(capped.as("y"), Seq("wlen", "h"))
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"wlen", $"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
    val top = spanLeaderboard(pairRows)
    val ta = docsW.select($"doc_id".as("doc_a"), $"w".as("wa"))
    val tb = docsW.select($"doc_id".as("doc_b"), $"w".as("wb"))
    resolveExactSpan(top.join(ta, "doc_a").join(tb, "doc_b"))
  }

  /** The gallop + bisection resolution over a joined leaderboard frame
    * (doc_a, doc_b, span_ge_w, shared_w8, wa, wb) → + exact_span. */
  private def resolveExactSpan(joined: DataFrame): DataFrame = {
    val s = joined.sparkSession
    import s.implicits._
    def sharedAt(L: Column): Column =
      arrays_overlap(spanWinDigests($"wa", L), spanWinDigests($"wb", L))
    def iters(range: Column): Column =
      ceil(log2((greatest(range, lit(1L)) + 2L).cast("double")))
        .cast("long") + 2L
    joined
      .withColumn("minL", least(size($"wa"), size($"wb")).cast("long"))
      // gallop: from the known-true span_ge_w, probe lo+1, lo+2, lo+4…
      // (each success ADVANCES lo, so probes sit at lo₀ + 2^i − 1)
      // until a probe fails or exceeds minL. State (lo, step, hiX):
      // P(lo) true throughout; hiX = 0 while open, else the exclusive
      // false-or-beyond bound. CASE branches keep finished iterations
      // free.
      .withColumn("g", aggregate(
        sequence(lit(1L), iters($"minL" - $"span_ge_w")),
        struct($"span_ge_w".as("lo"), lit(1L).as("step"), lit(0L).as("hiX")),
        (st, _) => {
          val (lo, step, hiX) =
            (st.getField("lo"), st.getField("step"), st.getField("hiX"))
          val probe = lo + step
          when(hiX =!= 0L, st)
            .otherwise(when(probe > $"minL",
              struct(lo.as("lo"), step.as("step"), ($"minL" + 1L).as("hiX")))
              .otherwise(when(sharedAt(probe),
                struct(probe.as("lo"), (step * 2L).as("step"), lit(0L).as("hiX")))
                .otherwise(struct(lo.as("lo"), step.as("step"), probe.as("hiX")))))
        }))
      // bisect the gallop bracket [g.lo, g.hiX−1] for the last true L;
      // invariant: P(lo) true, everything above hi false-or-beyond
      .withColumn("exact_span",
        when(!sharedAt($"span_ge_w"), lit(null).cast("long"))
          .otherwise(aggregate(
            sequence(lit(1L), iters($"g.hiX" - 1L - $"g.lo")),
            struct($"g.lo".as("lo"), ($"g.hiX" - 1L).as("hi")),
            (st, _) => {
              val (lo, hi) = (st.getField("lo"), st.getField("hi"))
              val mid = shiftright(lo + hi + 1L, 1)
              when(lo >= hi, st)
                .otherwise(when(sharedAt(mid),
                  struct(mid.as("lo"), hi.as("hi")))
                  .otherwise(struct(lo.as("lo"), (mid - 1L).as("hi"))))
            },
            st => st.getField("lo"))))
  }

  /** All L-word window digests of a word array (1-based starts; both
    * engines md5 the same space-joined strings). */
  private def spanWinDigests(arr: Column, L: Column): Column =
    transform(sequence(lit(1), size(arr) - L.cast("int") + 1),
      i => md5_fast(array_join(slice(arr, i, L.cast("int")), " ")))

  val q556Sql: String =
    s"""WITH $spanLadderSqlCtes,
       |top AS (
       |  SELECT doc_a, doc_b, CAST(max(wlen) AS BIGINT) AS span_ge_w,
       |    CAST(sum(CASE WHEN wlen = 8 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS shared_w8
       |  FROM pairs GROUP BY doc_a, doc_b
       |  ORDER BY span_ge_w DESC, shared_w8 DESC, doc_a, doc_b
       |  LIMIT 30)
       |SELECT doc_a, doc_b, span_ge_w, shared_w8,
       |  CAST(list_max(list_filter(
       |    range(span_ge_w, least(len(ta.w), len(tb.w)) + 1),
       |    L -> list_has_any(
       |      list_transform(range(1, len(ta.w) - L + 2),
       |        i -> md5(array_to_string(ta.w[i:i+L-1], ' '))),
       |      list_transform(range(1, len(tb.w) - L + 2),
       |        i -> md5(array_to_string(tb.w[i:i+L-1], ' '))))))
       |    AS BIGINT) AS exact_span
       |FROM top JOIN t ta ON top.doc_a = ta.doc_id
       |         JOIN t tb ON top.doc_b = tb.doc_id
       |ORDER BY span_ge_w DESC, shared_w8 DESC, doc_a, doc_b""".stripMargin

  /** q557 — INCREMENTAL span-ladder maintenance (the q264 O(delta)
    * shape applied to q552's digest ladder): the corpus splits into a
    * base and an arriving delta (doc_id % 10 = 7 — stated), and the
    * leaderboard is maintained incrementally instead of recomputed:
    * base pair rows for digests the delta never touches are reused
    * as-is; only TOUCHED (rung, digest) groups re-derive their capped
    * doc list by merging the base's capped list with the delta's rows
    * — exact because the merged top-8 ⊆ base-top-8 ∪ delta (any base
    * doc outside its top-8 is larger than all of the top-8, so it can
    * never enter the merged top-8). The oracle IS the full recompute
    * (q552's SQL verbatim): hash-equality of the incremental result
    * against the from-scratch leaderboard is the maintenance gate.
    *
    * Scale shape: work beyond the base's (already-capped) digest table
    * is proportional to the DELTA — its ladder rows, the touched
    * digests' ≤16-row merges, and their ≤ 28-pair regeneration — not
    * to the corpus; the wins pass stays ONE scan (base/delta split by
    * a flag on the same materialized frame). */
  def q557(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", words($"text").as("w"))
    val wins = spanLadderWins(docs)
      .withColumn("is_delta", $"doc_id" % 10 === 7)
      .transform(Fx.materialize)
    val baseW = wins.filter(!$"is_delta").select($"wlen", $"h", $"doc_id")
    val deltaW = wins.filter($"is_delta").select($"wlen", $"h", $"doc_id")
    val cappedBase = spanLadderCap(baseW).transform(Fx.materialize)
    val touched = deltaW.select($"wlen", $"h").distinct()
    val mergedTouched = spanLadderCap(
        cappedBase.join(touched, Seq("wlen", "h"), "left_semi")
          .unionByName(deltaW))
      .transform(Fx.materialize)
    val untouched = cappedBase.join(touched, Seq("wlen", "h"), "left_anti")
      .transform(Fx.materialize)
    def pairsOf(c: DataFrame) = c.as("x")
      .join(c.as("y"), Seq("wlen", "h"))
      .filter($"x.doc_id" < $"y.doc_id")
      .select($"wlen", $"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
    spanLeaderboard(pairsOf(untouched).unionByName(pairsOf(mergedTouched)))
  }

  /** The oracle is q552's full recompute, verbatim — equality of the
    * incremental plan's output against it is the whole point. */
  val q557Sql: String = q552Sql

  /** q560 — per-doc span-rewrite EDIT LIST (r17 verdict #6): q152 is
    * the fixed-window sibling that rewrites the whole corpus on 8-word
    * df; q556 resolves the EXACT longest shared span per leaderboard
    * pair. This composes them into the edit list a Lee-et-al.-style
    * exact-substring rewrite actually executes. Keep-one-copy policy:
    * each pair's removal lands in the HIGHER doc_id (the lower id
    * keeps its copy — stated, deterministic); the removal interval
    * anchors at the SMALLEST start position in the rewritten doc whose
    * exact_span-length window digest matches any window of the kept
    * doc; per doc, the intervals contributed by all its pairs merge by
    * interval union (sort by start, running-max end, flag-and-sum
    * group ids — the classic sweep, ROWS frames on both engines so tie
    * groups label identically) into disjoint 1-based word-index spans:
    * doc_id, ivl_start, ivl_end, ivl_words, n_pairs.
    *
    * Scale shape: everything beyond q556's corpus-wide ladder work
    * touches only the ≤ 30 leaderboard pairs — one digest-membership
    * pass per pair for the anchor, a ≤ 30-row keyed window for the
    * union. A doc named only as the LOWER id of its pairs is absent
    * from the plan by construction (its copy is the kept one). */
  def q560(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = exactSpanFrame(s, d).filter($"exact_span".isNotNull)
    val withPos = f
      .withColumn("digA", spanWinDigests($"wa", $"exact_span"))
      .withColumn("digB", spanWinDigests($"wb", $"exact_span"))
      .withColumn("start_b", array_min(filter(
        sequence(lit(1L), size($"digB").cast("long")),
        j => array_contains($"digA", element_at($"digB", j.cast("int"))))))
    val ivls = withPos.select($"doc_b".as("doc_id"), $"start_b".as("s"),
      ($"start_b" + $"exact_span" - 1L).as("e"))
    val wCur = Window.partitionBy($"doc_id").orderBy($"s", $"e")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy($"doc_id").orderBy($"s", $"e")
      .rowsBetween(Window.unboundedPreceding, -1)
    ivls
      .withColumn("maxe_prev", max($"e").over(wPrev))
      .withColumn("newg",
        when($"maxe_prev".isNull || $"s" > $"maxe_prev", 1L).otherwise(0L))
      .withColumn("grp", sum($"newg").over(wCur))
      .groupBy($"doc_id", $"grp")
      .agg(min($"s").as("ivl_start"), max($"e").as("ivl_end"),
        count(lit(1)).as("n_pairs"))
      .select($"doc_id", $"ivl_start", $"ivl_end",
        ($"ivl_end" - $"ivl_start" + 1L).as("ivl_words"), $"n_pairs")
      .orderBy($"doc_id", $"ivl_start")
  }

  val q560Sql: String =
    s"""WITH $spanLadderSqlCtes,
       |top AS (
       |  SELECT doc_a, doc_b, CAST(max(wlen) AS BIGINT) AS span_ge_w,
       |    CAST(sum(CASE WHEN wlen = 8 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS shared_w8
       |  FROM pairs GROUP BY doc_a, doc_b
       |  ORDER BY span_ge_w DESC, shared_w8 DESC, doc_a, doc_b
       |  LIMIT 30),
       |res AS (
       |  SELECT doc_b, ta.w AS wa, tb.w AS wb,
       |    CAST(list_max(list_filter(
       |      range(span_ge_w, least(len(ta.w), len(tb.w)) + 1),
       |      L -> list_has_any(
       |        list_transform(range(1, len(ta.w) - L + 2),
       |          i -> md5(array_to_string(ta.w[i:i+L-1], ' '))),
       |        list_transform(range(1, len(tb.w) - L + 2),
       |          i -> md5(array_to_string(tb.w[i:i+L-1], ' '))))))
       |      AS BIGINT) AS exact_span
       |  FROM top JOIN t ta ON top.doc_a = ta.doc_id
       |           JOIN t tb ON top.doc_b = tb.doc_id),
       |pos AS (
       |  SELECT doc_b AS doc_id, exact_span,
       |    CAST(list_min(list_filter(range(1, len(wb) - exact_span + 2),
       |      j -> list_contains(
       |        list_transform(range(1, len(wa) - exact_span + 2),
       |          i -> md5(array_to_string(wa[i:i+exact_span-1], ' '))),
       |        md5(array_to_string(wb[j:j+exact_span-1], ' '))))) AS BIGINT)
       |      AS s
       |  FROM res WHERE exact_span IS NOT NULL),
       |ivls AS (SELECT doc_id, s, s + exact_span - 1 AS e FROM pos),
       |m AS (
       |  SELECT doc_id, s, e,
       |    max(e) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe_prev
       |  FROM ivls),
       |g AS (
       |  SELECT doc_id, s, e,
       |    sum(CASE WHEN maxe_prev IS NULL OR s > maxe_prev THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY s, e
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM m)
       |SELECT doc_id, CAST(min(s) AS BIGINT) AS ivl_start,
       |  CAST(max(e) AS BIGINT) AS ivl_end,
       |  CAST(max(e) - min(s) + 1 AS BIGINT) AS ivl_words,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM g GROUP BY doc_id, grp
       |ORDER BY doc_id, ivl_start""".stripMargin

  /** q144 — per-document boilerplate fraction: the share of a doc's
    * distinct 8-word windows that also occur in at least one OTHER
    * document — q140's corpus-wide report turned into the per-doc
    * signal a curation filter actually thresholds on (docs dominated
    * by shared boilerplate get dropped or down-weighted).
    *
    * Same digest discipline as q140: the doc-frequency aggregation
    * groups on md5(window); the per-doc rollup joins doc→digest rows
    * against digest df — both shuffles carry fixed-width digests, the
    * window strings never move. shared-with-others test is df ≥ 2
    * (windows are distinct-ed per doc first). */
  def q144(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = 8
    val wins = Tables.documents(s, d)
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id", explode(
        array_distinct(transform(
          graft.plans.GraftFunctions.word_windows($"w", W),
          win => md5_fast(win)))).as("h"))
    val df = wins.groupBy($"h").agg(count(lit(1)).as("df"))
    wins.join(df, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select($"doc_id", $"n_windows", $"n_shared",
        r6($"n_shared".cast("double") / $"n_windows").as("boilerplate_frac"))
      .orderBy($"boilerplate_frac".desc, $"doc_id")
  }

  val q144Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |wins AS (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= 8
       |    THEN list_distinct(list_transform(range(1, len(w) - 6),
       |           i -> md5(array_to_string(w[i:i+7], ' '))))
       |    ELSE CAST([] AS VARCHAR[]) END) AS h
       |  FROM t),
       |df AS (SELECT h, count(*) AS df FROM wins GROUP BY h)
       |SELECT doc_id, count(*) AS n_windows,
       |  CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |  ${sqlR6("CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS boilerplate_frac
       |FROM wins JOIN df USING (h)
       |GROUP BY doc_id
       |ORDER BY boilerplate_frac DESC, doc_id""".stripMargin

  /** q267 — Neyman-allocation stratified sampling: a fixed budget of
    * B = 100 documents is split across sources proportionally to
    * n_h·σ_h (minimum-variance allocation for estimating a corpus
    * mean — strata that are LARGE and HETEROGENEOUS earn more sample;
    * proportional allocation would over-sample big homogeneous
    * sources). The only float op is one correctly-rounded sqrt per
    * stratum, immediately fixed to a centi-grid integer weight; from
    * there the largest-remainder apportionment is EXACT integer
    * arithmetic — base_h = (B·w_h) div W, remainders ranked as
    * integers (ties by source name), leftovers distributed one each —
    * the q196 apportionment discipline, so no cross-engine double
    * summation exists anywhere. Allocation beyond a stratum's size is
    * clamped (not redistributed — stated). Sample membership itself
    * is the deterministic md5 order (q26/q98 grid): rank-within-
    * stratum over (md5(doc_id#ney), doc_id) via the scale-safe
    * two-phase groupRanks, keep rank ≤ k_h.
    *
    * Scale shape: one moments aggregate per stratum (bounded), the
    * allocation windows run on the ≤|sources|-row relation, and the
    * sampling rank is groupRanks — no source-partitioned window over
    * the raw corpus. */
  def q267(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def d38(c: Column) = c.cast("decimal(38,0)")
    val budget = 100L
    val docs = Tables.documents(s, d)
    val m = docs.groupBy($"source").agg(
      count(lit(1)).as("n_h"),
      sum($"n_chars").cast("decimal(38,0)").as("sx"),
      sum(d38($"n_chars") * d38($"n_chars")).as("sxx"))
    val wc = m
      .withColumn("vnum", d38($"n_h") * $"sxx" - $"sx" * $"sx")
      .withColumn("w_c",
        floor(sqrt($"vnum".cast("double")) * 100 + 0.5).cast("long"))
    val wAll = Window.partitionBy(lit(1))
    val alloc = wc
      .withColumn("w_tot", sum($"w_c").over(wAll))
      .withColumn("base", expr(s"($budget * w_c) div w_tot"))
      .withColumn("rem", expr(s"($budget * w_c) % w_tot"))
      .withColumn("leftover", lit(budget) - sum($"base").over(wAll))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy($"rem".desc, $"source")))
      .withColumn("k_h",
        least($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L), $"n_h"))
      .select($"source", $"n_h", $"k_h")
    val ranked = Ranking.groupRanks(
      docs.select($"doc_id", $"source",
        md5_fast(concat($"doc_id".cast("string"), lit("#ney"))).as("u")),
      Seq("source"), 32, $"u", $"doc_id")
    ranked.join(broadcast(alloc), "source")
      .filter($"rank" <= $"k_h")
      .select($"doc_id", $"source", $"n_h", $"k_h")
      .orderBy($"doc_id")
  }

  val q267Sql: String =
    """WITH m AS (
      |  SELECT source, count(*) AS n_h,
      |    sum(CAST(n_chars AS HUGEINT)) AS sx,
      |    sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS sxx
      |  FROM documents GROUP BY source),
      |wc AS (
      |  SELECT source, n_h,
      |    CAST(floor(sqrt(CAST(CAST(n_h AS HUGEINT) * sxx - sx * sx AS DOUBLE)) * 100 + 0.5) AS BIGINT) AS w_c
      |  FROM m),
      |alloc AS (
      |  SELECT source, n_h, w_c,
      |    sum(w_c) OVER () AS w_tot,
      |    (100 * w_c) // sum(w_c) OVER () AS base,
      |    (100 * w_c) % sum(w_c) OVER () AS rem
      |  FROM wc),
      |ext AS (
      |  SELECT source, n_h, base, rem,
      |    100 - sum(base) OVER () AS leftover,
      |    row_number() OVER (ORDER BY rem DESC, source) AS rk
      |  FROM alloc),
      |k AS (
      |  SELECT source, n_h,
      |    least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, n_h) AS k_h
      |  FROM ext),
      |r AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '#ney'), doc_id) AS rank
      |  FROM documents)
      |SELECT r.doc_id, r.source, CAST(k.n_h AS BIGINT) AS n_h,
      |  CAST(k.k_h AS BIGINT) AS k_h
      |FROM r JOIN k USING (source)
      |WHERE r.rank <= k.k_h
      |ORDER BY r.doc_id""".stripMargin

  /** q275 — K-fold out-of-fold target encoding (the leakage-free
    * category-mean feature): a row in fold f is encoded with the
    * target mean computed from every OTHER fold, so no row's own
    * target leaks into its feature — the difference between a model
    * that generalizes and one that memorizes. Folds assign by the
    * q243 salted-md5 rule (stable, coordination-free, mirrored
    * bit-for-bit); targets land in exact cents; each out-of-fold mean
    * is one integer division on the micro-cent grid (all sums
    * positive, so Spark `div` ≡ DuckDB `//`). An empty out-of-fold
    * cell falls back to the global mean — stated, not silent.
    *
    * Scale shape: one customer⊳orders equi-join, one partial-agg
    * collapse to the (segment × fold) cell grid (bounded: segments ×
    * K), then broadcast-size arithmetic — per-segment totals come
    * from re-aggregating the 25-cell grid, not a second scan. The
    * emitted artifact IS the encoding table a feature store would
    * publish. */
  def q275(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_mktsegment")
    val ord = Tables.orders(s, d).select($"o_custkey",
      floor($"o_totalprice" * 100).cast("long").as("cents"),
      (Fx.md5Prefix(concat($"o_orderkey".cast("string"), lit("#te")), 8) % 5)
        .cast("int").as("fold"))
    val cells = ord.join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"fold")
      .agg(count(lit(1)).as("n_in"), sum($"cents").as("sum_in"))
      .transform(Fx.materialize)
    val seg = cells.groupBy($"c_mktsegment")
      .agg(sum($"n_in").as("n_seg"), sum($"sum_in").as("sum_seg"))
      .withColumnRenamed("c_mktsegment", "__seg")
    val glob = cells.agg(sum($"n_in").as("n_all"), sum($"sum_in").as("sum_all"))
    cells.join(broadcast(seg), $"c_mktsegment" === $"__seg")
      .crossJoin(broadcast(glob))
      .withColumn("n_out", $"n_seg" - $"n_in")
      .withColumn("sum_out", $"sum_seg" - $"sum_in")
      .withColumn("enc_micro",
        when($"n_out" > 0L,
          expr("(cast(sum_out as decimal(38,0)) * 1000000) div n_out"))
          .otherwise(expr("(cast(sum_all as decimal(38,0)) * 1000000) div n_all")))
      .select($"c_mktsegment", $"fold", $"n_in", $"sum_in".as("sum_in_cents"),
        $"n_out", $"enc_micro")
      .orderBy($"c_mktsegment", $"fold")
  }

  val q275Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
      |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#te'), 1, 8))::BIGINT % 5 AS INT) AS fold
      |  FROM orders),
      |cells AS (
      |  SELECT c.c_mktsegment, o.fold, count(*) AS n_in,
      |    CAST(sum(o.cents) AS BIGINT) AS sum_in
      |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |seg AS (
      |  SELECT c_mktsegment, CAST(sum(n_in) AS BIGINT) AS n_seg,
      |    CAST(sum(sum_in) AS BIGINT) AS sum_seg
      |  FROM cells GROUP BY 1),
      |gl AS (
      |  SELECT CAST(sum(n_in) AS BIGINT) AS n_all,
      |    CAST(sum(sum_in) AS BIGINT) AS sum_all
      |  FROM cells)
      |SELECT cells.c_mktsegment, cells.fold, cells.n_in,
      |  cells.sum_in AS sum_in_cents,
      |  seg.n_seg - cells.n_in AS n_out,
      |  CASE WHEN seg.n_seg - cells.n_in > 0
      |    THEN CAST((CAST(seg.sum_seg - cells.sum_in AS HUGEINT) * 1000000)
      |              // (seg.n_seg - cells.n_in) AS BIGINT)
      |    ELSE CAST((CAST(gl.sum_all AS HUGEINT) * 1000000) // gl.n_all AS BIGINT)
      |  END AS enc_micro
      |FROM cells JOIN seg ON cells.c_mktsegment = seg.c_mktsegment
      |CROSS JOIN gl
      |ORDER BY cells.c_mktsegment, cells.fold""".stripMargin

  /** q279 — RAKE keyword extraction (Rose et al. 2010): candidate
    * phrases are the maximal word runs BETWEEN stoplist hits
    * (gaps-and-islands on word positions), each word scores
    * deg/freq where freq counts its phrase occurrences and deg sums
    * the lengths of the phrases it appears in (its co-occurrence
    * degree, self included), and a phrase scores the sum of its
    * words' scores. The classic formulation is rational-valued;
    * here every word score lands on the micro grid first — one
    * positive integer division — and phrase scores are exact BIGINT
    * sums of those micros (stated semantics, bit-stable in both
    * engines; same move as q122's rational idf). Corpus-level top-20
    * phrases by (score, phrase) with occurrence counts.
    *
    * Scale shape: islands come from a doc_id-partitioned window
    * (high-cardinality key, bounded frames); phrase stats and the
    * occurrence→phrase-length join key on (doc_id, island) — scan
    * scale, no enum-partitioned window anywhere; the final top-20 is
    * a TopK over the bounded distinct-phrase relation. */
  def q279(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stopList = Seq("a", "the", "and", "of", "value", "table", "query", "key")
    val toks = Tables.documents(s, d)
      .select($"doc_id", posexplode(words($"text")))
      .toDF("doc_id", "pos", "w")
      .filter($"w" =!= "")
    val nonstop = toks.filter(!$"w".isInCollection(stopList))
      .withColumn("island", $"pos" -
        row_number().over(Window.partitionBy($"doc_id").orderBy($"pos")))
    val phrases = nonstop.groupBy($"doc_id", $"island")
      .agg(count(lit(1)).as("plen"),
        concat_ws(" ", transform(array_sort(collect_list(struct($"pos", $"w"))),
          x => x.getField("w"))).as("phrase"))
      .transform(Fx.materialize)
    val occ = nonstop.join(phrases.select($"doc_id", $"island", $"plen"),
      Seq("doc_id", "island"))
    val wordScores = occ.groupBy($"w")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
      .withColumn("wscore_micro", expr("(deg * 1000000) div freq"))
    val phraseScores = occ.join(wordScores.select($"w", $"wscore_micro"), "w")
      .groupBy($"doc_id", $"island")
      .agg(sum($"wscore_micro").as("score_micro"))
      .join(phrases, Seq("doc_id", "island"))
    phraseScores.groupBy($"phrase")
      .agg(count(lit(1)).as("n_occ"), max($"plen").as("n_words"),
        min($"score_micro").as("score_micro"))
      .orderBy($"score_micro".desc, $"phrase")
      .limit(20)
  }

  val q279Sql: String = {
    val stop = "('a','the','and','of','value','table','query','key')"
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, w[i] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
       |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) u
       |  WHERE w[i] <> ''),
       |ns AS (
       |  SELECT doc_id, pos, w,
       |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM toks WHERE w NOT IN $stop),
       |ph AS (
       |  SELECT doc_id, island, count(*) AS plen,
       |    string_agg(w, ' ' ORDER BY pos) AS phrase
       |  FROM ns GROUP BY 1, 2),
       |occ AS (
       |  SELECT ns.doc_id, ns.island, ns.w, ph.plen
       |  FROM ns JOIN ph ON ns.doc_id = ph.doc_id AND ns.island = ph.island),
       |ws AS (
       |  SELECT w, count(*) AS freq, sum(plen) AS deg,
       |    CAST((CAST(sum(plen) AS HUGEINT) * 1000000) // count(*) AS BIGINT)
       |      AS wscore_micro
       |  FROM occ GROUP BY 1),
       |psc AS (
       |  SELECT occ.doc_id, occ.island,
       |    CAST(sum(ws.wscore_micro) AS BIGINT) AS score_micro
       |  FROM occ JOIN ws ON occ.w = ws.w
       |  GROUP BY 1, 2)
       |SELECT ph.phrase, CAST(count(*) AS BIGINT) AS n_occ,
       |  CAST(max(ph.plen) AS BIGINT) AS n_words,
       |  CAST(min(psc.score_micro) AS BIGINT) AS score_micro
       |FROM psc JOIN ph ON psc.doc_id = ph.doc_id AND psc.island = ph.island
       |GROUP BY ph.phrase
       |ORDER BY score_micro DESC, phrase
       |LIMIT 20""".stripMargin
  }

  /** q322 — effective sample size and design effect of
    * quality-weighted sampling, per source: if documents are sampled
    * proportionally to their quality score (the q98/CurationJobs
    * policy), ESS = (Σw)²/Σw² is how many EQUAL-weight documents the
    * weighted set is worth, and deff = n·Σw²/(Σw)² ≥ 1 is the
    * variance inflation the weighting costs (Kish). The planning
    * number for "how much corpus do I need after weighting". Weights
    * are the per-row micro-quantized quality score (exact BIGINT, the
    * q318 grid); squares ride DECIMAL(38,0)/HUGEINT (Σw ~ 10¹² at
    * 10⁶ docs/source squares past BIGINT); ESS and deff are one
    * truncating micro division each.
    *
    * Scale shape: one scan, one bounded groupBy(source) — three
    * integer accumulators per group. */
  def q322(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"source",
        graft.functions.TextAnalysis.qualityMicro($"text").as("w"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"w").as("sw"),
        sum(expr("cast(w as decimal(38,0)) * w")).as("sw2"))
      .select($"source", $"n",
        expr("sw div n").as("mean_w_micro"),
        expr("(cast(sw as decimal(38,0)) * sw * 1000000) div sw2")
          .as("ess_micro"),
        expr("(cast(n as decimal(38,0)) * sw2 * 1000000) div (cast(sw as decimal(38,0)) * sw)")
          .as("deff_micro"))
      .orderBy($"source")
  }

  val q322Sql: String = {
    val quality = graft.functions.TextAnalysis.sqlQualityMicro("text")
    s"""WITH f AS (
       |  SELECT source, CAST(($quality) AS BIGINT) AS w
       |  FROM documents),
       |g AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(w) AS BIGINT) AS sw,
       |    sum(CAST(w AS HUGEINT) * w) AS sw2
       |  FROM f GROUP BY 1)
       |SELECT source, n, sw // n AS mean_w_micro,
       |  CAST((CAST(sw AS HUGEINT) * sw * 1000000) // sw2
       |    AS BIGINT) AS ess_micro,
       |  CAST((CAST(n AS HUGEINT) * sw2 * 1000000) //
       |    (CAST(sw AS HUGEINT) * sw) AS BIGINT) AS deff_micro
       |FROM g ORDER BY source""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q322_effective_sample_size", q322, Some(q322Sql)),
    QueryDef("q275_target_encoding", q275, Some(q275Sql)),
    QueryDef("q279_rake_keywords", q279, Some(q279Sql)),
    QueryDef("q267_neyman_sample", q267, Some(q267Sql)),
    QueryDef("q92_tfidf_top_terms", q92, Some(q92Sql), bench = true),
    QueryDef("q93_repetition_filter", q93, Some(q93Sql), bench = true),
    QueryDef("q94_pii_redaction", q94, Some(q94Sql)),
    QueryDef("q95_decontamination", q95, Some(q95Sql), bench = true),
    QueryDef("q96_sequence_packing", q96, Some(q96Sql)),
    QueryDef("q97_chunking_overlap", q97, Some(q97Sql)),
    QueryDef("q98_weighted_sample", q98, Some(q98Sql)),
    QueryDef("q99_simhash_hamming_dedup", q99, Some(q99Sql)),
    QueryDef("q122_bm25_ranking", q122, Some(q122Sql), bench = true),
    QueryDef("q140_repeated_substrings", q140, Some(q140Sql), bench = true),
    QueryDef("q144_boilerplate_fraction", q144, Some(q144Sql)),
    QueryDef("q552_longest_repeated_span", q552, Some(q552Sql)),
    QueryDef("q556_exact_span_resolution", q556, Some(q556Sql)),
    QueryDef("q557_incremental_span_ladder", q557, Some(q557Sql)),
    QueryDef("q560_span_rewrite_plan", q560, Some(q560Sql)),
  )
}
