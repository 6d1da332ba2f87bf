package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.plans.GraftFunctions.md5_fast

/** Oracle-checked text-analysis queries over `documents`: token
  * counting, quality scoring, language-ID, fingerprinting. All integer
  * /length arithmetic → bit-deterministic across engines.
  */
object TextQueries {
  import Fx._

  /** Token/char statistics per language. */
  def q40(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang", TextAnalysis.tokenCount($"text").as("toks"), length($"text").as("chars"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"toks").as("total_tokens"),
        r4(sum($"toks").cast("double") / count(lit(1))).as("avg_tokens"),
        r4(sum($"chars").cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy($"lang")
  }

  private val tokSql =
    "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT)"

  val q40Sql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |CAST(sum(toks) AS BIGINT) AS total_tokens,
       |${sqlR4("CAST(sum(toks) AS DOUBLE) / count(*)")} AS avg_tokens,
       |${sqlR4("CAST(sum(chars) AS DOUBLE) / count(*)")} AS avg_chars
       |FROM (SELECT lang, $tokSql AS toks, length(text) AS chars FROM documents) t
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-document quality scoring (length/stopword/word-shape). */
  def q41(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val quality = r4(TextAnalysis.qualityScore($"text"))
    Tables.documents(s, d)
      .select(
        $"doc_id",
        TextAnalysis.tokenCount($"text").as("toks"),
        r4((length($"text").cast("double") - (TextAnalysis.tokenCount($"text").cast("double") - 1.0)) /
          TextAnalysis.tokenCount($"text").cast("double")).as("avg_word_len"),
        TextAnalysis.langScore($"text", "en").as("stop_en"),
        quality.as("quality"),
        when(quality >= 0.8, "high").when(quality >= 0.5, "medium")
          .otherwise("low").as("bucket"))
      .orderBy($"doc_id")
  }

  private def occSql(w: String): String =
    TextAnalysis.sqlWordOccurrences("lower(text)", w)

  private val stopEnSql = s"(${occSql("the")} + ${occSql("and")} + ${occSql("of")})"

  val q41Sql: String = {
    val toks = "toks"
    val awl = s"((chars - ($toks - 1.0)) / $toks)"
    val quality =
      "(CAST((least(toks, 50) * 8000 + (CASE WHEN CAST(chars AS BIGINT) - toks + 1 >= toks * 2 AND CAST(chars AS BIGINT) - toks + 1 <= toks * 12 THEN 300000 ELSE 0 END) + least(stop_en, 5) * 60000) AS DOUBLE) / 1000000.0)"
    s"""SELECT doc_id, toks,
       |${sqlR4(awl)} AS avg_word_len,
       |stop_en,
       |${sqlR4(quality)} AS quality,
       |CASE WHEN ${sqlR4(quality)} >= 0.8 THEN 'high'
       |     WHEN ${sqlR4(quality)} >= 0.5 THEN 'medium'
       |     ELSE 'low' END AS bucket
       |FROM (SELECT doc_id, $tokSql AS toks, CAST(length(text) AS DOUBLE) AS chars,
       |      $stopEnSql AS stop_en FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Language-ID heuristic vs labeled lang: confusion counts. */
  def q42(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang", TextAnalysis.langId($"text").as("pred_lang"))
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"pred_lang")
  }

  val q42Sql: String = {
    val scores = TextAnalysis.langStopwords.map { case (l, ws) =>
      l -> ws.map(occSql).mkString("(", " + ", ")")
    }
    val sel = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
    val maxE = scores.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val pred = scores.map { case (l, _) => s"WHEN s_$l = $maxE THEN '$l'" }
      .mkString(s"CASE WHEN $maxE = 0 THEN 'unknown' ", " ", " ELSE 'unknown' END")
    s"""SELECT lang, pred_lang, count(*) AS n_docs FROM (
       |  SELECT lang, $pred AS pred_lang FROM (
       |    SELECT lang, $sel FROM documents) s) p
       |GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** Content fingerprinting + duplicate-cluster size per fingerprint. */
  def q43(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"fp")
    Tables.documents(s, d)
      .select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
      .withColumn("fp_prefix", substring($"fp", 1, 8))
      .withColumn("n_same", count(lit(1)).over(w))
      .orderBy($"doc_id")
  }

  val q43Sql: String =
    """SELECT doc_id, md5(text) AS fp, substr(md5(text), 1, 8) AS fp_prefix,
      |count(*) OVER (PARTITION BY md5(text)) AS n_same
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE-ish regex tokenization: word-ish runs + standalone
    * punctuation (the pre-tokenizer shape real BPE vocabularies use),
    * counted via regexp_extract_all in both engines (pattern kept in
    * the Java∩RE2 common dialect). */
  def q44(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pat = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"
    Tables.documents(s, d)
      .select($"lang",
        size(regexp_extract_all($"text", lit(pat), lit(0))).as("bpe_toks"),
        TextAnalysis.tokenCount($"text").as("ws_toks"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"bpe_toks").as("total_bpe_tokens"),
        sum($"ws_toks").as("total_ws_tokens"),
        r4(sum($"bpe_toks").cast("double") / sum($"ws_toks")).as("bpe_per_ws"))
      .orderBy($"lang")
  }

  val q44Sql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |CAST(sum(bpe_toks) AS BIGINT) AS total_bpe_tokens,
       |CAST(sum(ws_toks) AS BIGINT) AS total_ws_tokens,
       |${sqlR4("CAST(sum(bpe_toks) AS DOUBLE) / sum(ws_toks)")} AS bpe_per_ws
       |FROM (SELECT lang,
       |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS bpe_toks,
       |  $tokSql AS ws_toks FROM documents) t
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Stratified deterministic sample: 5 docs per language, selected by
    * md5 order (seeded-hash sampling is the cluster-stable, cross-
    * engine form of per-stratum random sampling). The selection runs
    * through the native bounded-heap TopKPerGroup — a lang-partitioned
    * `row_number` window would sort each language's full corpus in one
    * task; the rank window orders only the ≤ 5 survivors per lang. */
  def q45(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val prio = Tables.documents(s, d)
      .select($"lang", $"doc_id", $"n_chars",
        md5_fast(concat($"doc_id".cast("string"), lit("#strat"))).as("__p"))
    val top = graft.plans.TopK.perGroup(prio, 5, Seq("lang"),
      Seq(graft.plans.TopK.asc("__p"), graft.plans.TopK.asc("doc_id")))
    top
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"lang").orderBy($"__p", $"doc_id")).cast("long"))
      .select($"lang", $"doc_id", $"n_chars", $"rn")
      .orderBy($"lang", $"rn")
  }

  val q45Sql: String =
    """SELECT lang, doc_id, n_chars, rn FROM (
      |  SELECT lang, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY md5(concat(CAST(doc_id AS VARCHAR), '#strat')), doc_id) AS BIGINT) AS rn
      |  FROM documents) t
      |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin

  /** Document length histogram on a fixed 50-char grid — the standard
    * first look at a training corpus (truncation/padding budgeting). */
  def q46(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy((floor(length($"text") / 50) * 50).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(length($"text")).cast("long").as("min_len"),
        max(length($"text")).cast("long").as("max_len"))
      .orderBy($"len_bucket")
  }

  val q46Sql: String =
    """SELECT CAST(floor(length(text) / 50) * 50 AS BIGINT) AS len_bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(min(length(text)) AS BIGINT) AS min_len,
      |  CAST(max(length(text)) AS BIGINT) AS max_len
      |FROM documents GROUP BY 1 ORDER BY len_bucket""".stripMargin

  /** Corpus-wide top-20 word bigrams by occurrence — vocabulary /
    * boilerplate analysis. The words array is materialized BEFORE the
    * lambda (an inline split inside transform re-evaluates per element,
    * the O(n²) trap), and the global top-k compiles to
    * TakeOrderedAndProject, not a full sort. */
  def q47(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val withWords = Tables.documents(s, d).select(split($"text", " ").as("w"))
    val bigrams = withWords.select(
      explode(when(size($"w") >= 2,
        transform(sequence(lit(1), size($"w") - 1),
          i => concat(element_at($"w", i), lit(" "), element_at($"w", i + 1))))
        .otherwise(array().cast("array<string>"))).as("ng"))
    bigrams.groupBy($"ng").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"ng").limit(20)
  }

  val q47Sql: String =
    """SELECT ng, CAST(count(*) AS BIGINT) AS n FROM (
      |  SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ng
      |  FROM (SELECT string_split(text, ' ') AS w FROM documents) t) u
      |GROUP BY ng ORDER BY n DESC, ng LIMIT 20""".stripMargin

  /** Blocked fuzzy matching (entity resolution): near-identical part
    * names by edit distance. The self-join is BLOCKED on the first
    * character — the standard entity-resolution move that turns an
    * all-pairs O(n²) into per-block quadratics over distinct names
    * (dedup before the join: 64 names here stand for 2000 part rows).
    * levenshtein is classic integer DP — identical in both engines. */
  def q49(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val names = Tables.load(s, d, "part").select($"p_name").distinct()
    val a = names.select($"p_name".as("name_a"))
    val b = names.select($"p_name".as("name_b"))
    a.join(b, substring($"name_a", 1, 1) === substring($"name_b", 1, 1) &&
        $"name_a" < $"name_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= 3)
      .orderBy($"name_a", $"name_b")
  }

  val q49Sql: String =
    """WITH names AS (SELECT DISTINCT p_name FROM part)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM names a JOIN names b
      |  ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1) AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  /** Positional array search: first occurrence of a stopword in each
    * document's word array (array_position / list_indexof; both
    * engines return 0 for "absent", filtered out on both sides). */
  def q48(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        array_position(split($"text", " "), "the").as("pos_the"),
        size(split($"text", " ")).cast("long").as("n_words"))
      .filter($"pos_the" > 0)
      .orderBy($"doc_id")
  }

  val q48Sql: String =
    """SELECT doc_id,
      |  CAST(list_indexof(string_split(text, ' '), 'the') AS BIGINT) AS pos_the,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      |FROM documents
      |WHERE list_indexof(string_split(text, ' '), 'the') > 0
      |ORDER BY doc_id""".stripMargin

  /** q128 — heavy hitters via the native Misra-Gries sketch
    * ([[graft.plans.MisraGries]], a TypedImperativeAggregate whose
    * partials carry at most k counters through the shuffle — the 100 TB
    * frequent-items pattern; a groupBy count materializes the whole
    * vocabulary, this never holds more than k entries anywhere).
    *
    * Oracle-checkable because k = 64 exceeds this corpus's distinct
    * word count: in that regime no decrement ever fires and the sketch
    * degenerates to the EXACT count table, so a plain GROUP BY oracle
    * hash-matches. The lossy regime (vocabulary ≫ k) is covered by
    * FrequentItemsSpec's n/(k+1) error-bound test. */
  def q128(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .agg(graft.plans.MisraGries.mg_topk($"w", 64).as("top"))
      .select(posexplode($"top"))
      .select(($"pos" + 1).cast("long").as("rn"),
        $"col.item".as("item"), $"col.cnt".as("cnt"))
      .orderBy($"rn")
  }

  val q128Sql: String =
    """SELECT CAST(row_number() OVER (ORDER BY count(*) DESC, w) AS BIGINT) AS rn,
      |  w AS item, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |WHERE w <> ''
      |GROUP BY w
      |ORDER BY rn""".stripMargin

  /** q141 — point-frequency estimates via the native Count-Min sketch
    * ([[graft.plans.CountMinSketch]]): the complement of q128's
    * Misra-Gries (MG surfaces the heavy items; CM answers point queries
    * for any item in fixed d×w space — the shuffle carries exactly
    * d·w longs per partition, never the vocabulary).
    *
    * Fully oracle-checked, not just error-bounded: the cell hash is
    * md5-derived (`('0x'||substr(md5(w||'#'||r),1,8))::BIGINT % w`),
    * so DuckDB rebuilds the IDENTICAL grid from the exact count table
    * and the estimates hash-match collision-for-collision. Width 32 is
    * deliberately smaller than the vocabulary so real collisions occur
    * and the one-sided error (est ≥ true) is exercised, not just the
    * degenerate exact regime. */
  def q141(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val depth = 3
    val width = 32
    val toks = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
    val sk = toks.agg(graft.plans.CountMin.cm_sketch($"w", depth, width).as("sk"))
    val estCols = (0 until depth).map { r =>
      val cell = pmod(
        Fx.md5Prefix(concat($"w", lit("#" + r)), 8),
        lit(width.toLong))
      element_at(element_at($"sk", r + 1), (cell + 1L).cast("int"))
    }
    toks.groupBy($"w").agg(count(lit(1)).as("true_cnt"))
      .crossJoin(broadcast(sk))
      .withColumn("cm_est", least(estCols: _*))
      .select($"w".as("token"), $"true_cnt", $"cm_est",
        ($"cm_est" - $"true_cnt").as("overcount"))
      .orderBy($"true_cnt".desc, $"token")
  }

  val q141Sql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |counts AS (SELECT w, count(*) AS true_cnt FROM toks WHERE w <> '' GROUP BY w),
      |rs AS (SELECT unnest(range(0, 3)) AS r),
      |cellmap AS (
      |  SELECT w, true_cnt, r,
      |    CAST(('0x' || substr(md5(w || '#' || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS cell
      |  FROM counts CROSS JOIN rs),
      |cellsum AS (
      |  SELECT r, cell, CAST(sum(true_cnt) AS BIGINT) AS s
      |  FROM cellmap GROUP BY r, cell),
      |est AS (
      |  SELECT w, true_cnt, min(s) AS cm_est
      |  FROM cellmap JOIN cellsum USING (r, cell) GROUP BY w, true_cnt)
      |SELECT w AS token, CAST(true_cnt AS BIGINT) AS true_cnt, cm_est,
      |  cm_est - CAST(true_cnt AS BIGINT) AS overcount
      |FROM est ORDER BY true_cnt DESC, token""".stripMargin

  /** q183 — vocabulary diversity per language: type–token ratio and
    * the Gini–Simpson index, both as exact RATIONALS until the final
    * division. Gini–Simpson = 1 − Σc(c−1)/(T(T−1)) (the probability
    * two tokens drawn without replacement differ) needs only integer
    * token counts — unlike Shannon entropy, whose log2 is a libm
    * transcendental with no cross-engine rounding guarantee, which is
    * why entropy is NOT in the oracle-checked set. Products stay
    * < 2^53 through sf0.1 (exact in the final double divide); the
    * petabyte variant moves the two products to DECIMAL38.
    * Scale: one (lang, word) shuffle with map-side partial counts,
    * then a per-lang rollup of bounded vocabulary size. */
  def q183(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("types"),
        sum($"c").as("tokens"),
        sum($"c" * ($"c" - 1)).as("rep_pairs"))
      .select($"lang", $"types", $"tokens", $"rep_pairs",
        r6($"types" / $"tokens").as("ttr"),
        r6(lit(1.0) - $"rep_pairs" / ($"tokens" * ($"tokens" - 1))).as("gini_simpson"))
      .orderBy($"lang")
  }

  val q183Sql: String =
    s"""WITH wc AS (
       |  SELECT lang, w, count(*) AS c FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> '' GROUP BY 1, 2),
       |v AS (
       |  SELECT lang, count(*) AS types,
       |    CAST(sum(c) AS BIGINT) AS tokens,
       |    CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
       |  FROM wc GROUP BY 1)
       |SELECT lang, types, tokens, rep_pairs,
       |  ${sqlR6("types / tokens")} AS ttr,
       |  ${sqlR6("1::DOUBLE - rep_pairs / (tokens * (tokens - 1))")} AS gini_simpson
       |FROM v ORDER BY lang""".stripMargin

  /** q189 — corpus readability per language (Flesch reading ease on
    * the corpus level): words via the length-replace token count,
    * sentences via period count, syllables approximated as vowel-group
    * runs (the classic heuristic), counted with the two-regexp-lengths
    * trick (replace each run with 1 char vs 0 chars; the difference is
    * the run count — no sentinel character that could collide with
    * text). All three are INTEGERS summed exactly per language; the
    * Flesch formula is applied once per language on the summed ratios
    * — never an avg over per-doc doubles, whose accumulation order is
    * engine-defined. Constants are shared literals. */
  def q189(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lowered = lower($"text")
    val words = graft.functions.TextAnalysis.tokenCount($"text").cast("long")
    val sentences = greatest(
      (length($"text") - length(replace($"text", lit("."), lit("")))).cast("long"), lit(1L))
    val syllables = (length(regexp_replace(lowered, "[aeiou]+", "a"))
      - length(regexp_replace(lowered, "[aeiou]+", ""))).cast("long")
    Tables.documents(s, d)
      .select($"lang", words.as("w"), sentences.as("st"), syllables.as("sy"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"w").as("words"),
        sum($"st").as("sentences"), sum($"sy").as("syllables"))
      .select($"lang", $"n_docs", $"words", $"sentences", $"syllables",
        r4(lit(206.835) - lit(1.015) * ($"words" / $"sentences")
          - lit(84.6) * ($"syllables" / $"words")).as("flesch"))
      .orderBy($"lang")
  }

  val q189Sql: String =
    s"""WITH per AS (
       |  SELECT lang,
       |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS w,
       |    greatest(CAST(length(text) - length(replace(text, '.', '')) AS BIGINT), 1) AS st,
       |    CAST(length(regexp_replace(lower(text), '[aeiou]+', 'a', 'g'))
       |       - length(regexp_replace(lower(text), '[aeiou]+', '', 'g')) AS BIGINT) AS sy
       |  FROM documents),
       |agg AS (
       |  SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS words,
       |    CAST(sum(st) AS BIGINT) AS sentences, CAST(sum(sy) AS BIGINT) AS syllables
       |  FROM per GROUP BY 1)
       |SELECT lang, n_docs, words, sentences, syllables,
       |  ${sqlR4("206.835::DOUBLE - 1.015::DOUBLE * (words / sentences) - 84.6::DOUBLE * (syllables / words)")} AS flesch
       |FROM agg ORDER BY lang""".stripMargin

  /** q321 — Good–Turing frequency mass per language over word
    * bigrams: counts-of-counts N_r, the unseen-event mass estimate
    * P₀ = N₁/N (Turing's estimator — how much probability the
    * language model should reserve for bigrams it has never seen:
    * the number behind LM smoothing and "is this corpus slice big
    * enough" coverage calls), and the smoothed counts
    * r* = (r+1)·N_{r+1}/N_r for r = 1..3. Every figure is an exact
    * rational of BIGINT counts-of-counts on the micro grid (unigrams
    * would be degenerate here — this corpus's 31-word vocab has no
    * singletons; bigrams have N₁ 5-87 per language at sf0.01).
    * Sparse-tail guards: absent N_{r+1} → 0 numerator, absent
    * N_r → NULL r* (stated).
    *
    * Scale shape: two groupBys (term-frequency, then
    * counts-of-counts — the second input is vocabulary-sized, the
    * third r-domain-sized) and a bounded rollup; nothing else. */
  def q321(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"lang", split($"text", " ").as("w"))
      .select($"lang",
        explode(graft.functions.TextAnalysis.adjacentPairs($"w")).as("bg"))
      .groupBy($"lang", $"bg").agg(count(lit(1)).as("r"))
    val cc = tf.groupBy($"lang", $"r").agg(count(lit(1)).as("nr"))
    cc.groupBy($"lang").agg(
        sum($"r" * $"nr").as("n_tokens"),
        sum($"nr").as("vocab"),
        coalesce(max(when($"r" === 1, $"nr")), lit(0L)).as("n1"),
        coalesce(max(when($"r" === 2, $"nr")), lit(0L)).as("n2"),
        coalesce(max(when($"r" === 3, $"nr")), lit(0L)).as("n3"),
        coalesce(max(when($"r" === 4, $"nr")), lit(0L)).as("n4"))
      .select($"lang", $"n_tokens", $"vocab", $"n1",
        expr("(n1 * 1000000) div n_tokens").as("unseen_micro"),
        when($"n1" > 0, expr("(2 * n2 * 1000000) div n1"))
          .as("rstar1_micro"),
        when($"n2" > 0, expr("(3 * n3 * 1000000) div n2"))
          .as("rstar2_micro"),
        when($"n3" > 0, expr("(4 * n4 * 1000000) div n3"))
          .as("rstar3_micro"))
      .orderBy($"lang")
  }

  val q321Sql: String =
    """WITH ws AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
      |tf AS (
      |  SELECT lang, bg, CAST(count(*) AS BIGINT) AS r FROM (
      |    SELECT lang, unnest(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i+1])) AS bg
      |    FROM ws) t
      |  GROUP BY 1, 2),
      |cc AS (SELECT lang, r, CAST(count(*) AS BIGINT) AS nr
      |       FROM tf GROUP BY 1, 2),
      |agg AS (
      |  SELECT lang,
      |    CAST(sum(r * nr) AS BIGINT) AS n_tokens,
      |    CAST(sum(nr) AS BIGINT) AS vocab,
      |    COALESCE(max(CASE WHEN r = 1 THEN nr END), 0) AS n1,
      |    COALESCE(max(CASE WHEN r = 2 THEN nr END), 0) AS n2,
      |    COALESCE(max(CASE WHEN r = 3 THEN nr END), 0) AS n3,
      |    COALESCE(max(CASE WHEN r = 4 THEN nr END), 0) AS n4
      |  FROM cc GROUP BY 1)
      |SELECT lang, n_tokens, vocab, n1,
      |  (n1 * 1000000) // n_tokens AS unseen_micro,
      |  CASE WHEN n1 > 0 THEN (2 * n2 * 1000000) // n1 END AS rstar1_micro,
      |  CASE WHEN n2 > 0 THEN (3 * n3 * 1000000) // n2 END AS rstar2_micro,
      |  CASE WHEN n3 > 0 THEN (4 * n4 * 1000000) // n3 END AS rstar3_micro
      |FROM agg ORDER BY lang""".stripMargin

  /** q335 — Chao1 species-richness estimate per language: how many
    * DISTINCT bigrams the language has that this corpus slice never
    * saw — the vocabulary-coverage companion to q321 (Good–Turing
    * estimates the unseen probability MASS; Chao1 estimates the
    * unseen TYPE count: "is this slice big enough to have seen the
    * language"). Bias-corrected form Ĉ = V + N₁(N₁−1)/(2(N₂+1))
    * (defined even when no doubletons exist — stated); singleton and
    * doubleton counts are exact BIGINTs from the same counts-of-
    * counts grid as q321, the estimate is one truncating division,
    * and coverage = V/Ĉ is one micro division.
    *
    * Scale shape: q321's — two groupBys and a bounded rollup. */
  def q335(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"lang", split($"text", " ").as("w"))
      .select($"lang",
        explode(graft.functions.TextAnalysis.adjacentPairs($"w")).as("bg"))
      .groupBy($"lang", $"bg").agg(count(lit(1)).as("r"))
    val cc = tf.groupBy($"lang", $"r").agg(count(lit(1)).as("nr"))
    cc.groupBy($"lang").agg(
        sum($"nr").as("vocab"),
        coalesce(max(when($"r" === 1, $"nr")), lit(0L)).as("n1"),
        coalesce(max(when($"r" === 2, $"nr")), lit(0L)).as("n2"))
      .select($"lang", $"vocab", $"n1", $"n2",
        ($"vocab" + expr("(n1 * (n1 - 1)) div (2 * (n2 + 1))"))
          .as("chao1_est"))
      .withColumn("coverage_micro",
        expr("(vocab * 1000000) div chao1_est"))
      .orderBy($"lang")
  }

  val q335Sql: String =
    """WITH ws AS (SELECT lang, string_split(text, ' ') AS w FROM documents),
      |tf AS (
      |  SELECT lang, bg, CAST(count(*) AS BIGINT) AS r FROM (
      |    SELECT lang, unnest(list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i+1])) AS bg
      |    FROM ws) t
      |  GROUP BY 1, 2),
      |cc AS (SELECT lang, r, CAST(count(*) AS BIGINT) AS nr
      |       FROM tf GROUP BY 1, 2),
      |agg AS (
      |  SELECT lang, CAST(sum(nr) AS BIGINT) AS vocab,
      |    COALESCE(max(CASE WHEN r = 1 THEN nr END), 0) AS n1,
      |    COALESCE(max(CASE WHEN r = 2 THEN nr END), 0) AS n2
      |  FROM cc GROUP BY 1)
      |SELECT lang, vocab, n1, n2,
      |  vocab + (n1 * (n1 - 1)) // (2 * (n2 + 1)) AS chao1_est,
      |  (vocab * 1000000) // (vocab + (n1 * (n1 - 1)) // (2 * (n2 + 1)))
      |    AS coverage_micro
      |FROM agg ORDER BY lang""".stripMargin

  /** q344 — vocabulary-growth (Heaps'-law) curve: distinct vocabulary
    * V and total tokens N at 10 corpus checkpoints (doc_id deciles of
    * the max id) — the sizing curve behind tokenizer-vocab and
    * dedup-threshold decisions (Heaps: V ≈ K·N^β; the 10 exact points
    * let any downstream fit β without this query ever touching a
    * float). The key move is computing V WITHOUT a cumulative
    * distinct: a word's contribution to every checkpoint is decided by
    * its FIRST occurrence (min doc_id per word), so one vocab-sized
    * aggregate + 10 conditional counts replaces 10 prefix-distinct
    * passes; N is 10 conditional sums over per-doc token counts.
    * Checkpoint k's cutoff is maxid·k div 10 (exact integer), tokens
    * are whitespace words (the house convention).
    *
    * Scale shape: one corpus scan → per-doc token counts; one
    * words shuffle → per-word first occurrence; two single-row
    * conditional aggregates; a 10-row output. Nothing fans out. */
  def q344(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", size($"w").cast("long").as("toks"), $"w")
      .transform(Fx.materialize) // feeds the doc pass AND the word pass
    val mx = docs.agg(max($"doc_id").as("m"))
    val firstOcc = docs.select($"doc_id", explode($"w").as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(min($"doc_id").as("fo"))
    def cuts(src: DataFrame, value: org.apache.spark.sql.Column,
        at: org.apache.spark.sql.Column, name: String): DataFrame = {
      val cols = (1 to 10).map(k =>
        sum(when(at <= expr(s"(m * $k) div 10"), value)).as(s"${name}_$k"))
      src.crossJoin(broadcast(mx)).agg(cols.head, cols.tail: _*)
    }
    val v = cuts(firstOcc, lit(1L), $"fo", "v")
    val n = cuts(docs, $"toks", $"doc_id", "n")
    v.crossJoin(n).selectExpr(
      "stack(10, " + (1 to 10).map(k => s"${k}L, v_$k, n_$k").mkString(", ") +
        ") as (k, vocab, tokens)")
      .orderBy($"k")
  }

  val q344Sql: String =
    """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents),
      |fo AS (
      |  SELECT word, min(doc_id) AS fo
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |ks AS (SELECT unnest(range(1, 11)) AS k)
      |SELECT CAST(k AS BIGINT) AS k,
      |  (SELECT CAST(count(*) AS BIGINT) FROM fo CROSS JOIN mx
      |   WHERE fo <= (m * k) // 10) AS vocab,
      |  (SELECT CAST(sum(toks) AS BIGINT) FROM toks CROSS JOIN mx
      |   WHERE doc_id <= (m * k) // 10) AS tokens
      |FROM ks ORDER BY k""".stripMargin

  /** q424 — Heaps'-law exponent fit over q344's vocabulary-growth
    * checkpoints: V ≈ K·N^β by log-log OLS on the 10 exact (tokens,
    * vocab) points — the FIT companion to q344's curve (the
    * q312→q409 / q274→q393 estimator→fit pattern): q344 deliberately
    * emits integers "so any downstream fit never touches a float";
    * this is that downstream fit, shipping β (sublinear vocabulary
    * growth, typically 0.4–0.6 for natural text; β ≈ 1 flags
    * ID-like/unbounded vocabularies where tokenizer budgets and
    * dedup-signature sizing break) and the implied vocab forecast at
    * 10× the corpus, K·(10N)^β. Determinism: x = ln N, y = ln V on
    * exact integers (identical trees); the 10-term OLS sums are
    * engine-ordered 1e-15 noise under r6; no branching downstream.
    *
    * Scale shape: q344's two bounded passes, then OLS over a 10-row
    * grid. */
  def q424(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pts = q344(s, d)
      .filter($"vocab" > 0L && $"tokens" > 0L)
      .select(log($"tokens".cast("double")).as("x"),
        log($"vocab".cast("double")).as("y"))
    pts.agg(count(lit(1)).as("k"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"),
        max($"x").as("xmax"))
      .withColumn("beta", ($"k".cast("double") * $"sxy" - $"sx" * $"sy") /
        ($"k".cast("double") * $"sxx" - $"sx" * $"sx"))
      .withColumn("lnk", ($"sy" - $"beta" * $"sx") / $"k".cast("double"))
      .select($"k".as("n_points"), r6($"beta").as("heaps_beta"),
        r6($"lnk").as("ln_k"),
        r6(exp($"lnk" + $"beta" * ($"xmax" + log(lit(10.0)))))
          .as("vocab_at_10x"),
        ($"beta" > lit(0.9)).cast("int").as("unbounded_vocab_flag"))
  }

  val q424Sql: String =
    s"""WITH mx AS (SELECT max(doc_id) AS m FROM documents),
       |toks AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents),
       |fo AS (
       |  SELECT word, min(doc_id) AS fo
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |ks AS (SELECT unnest(range(1, 11)) AS k),
       |curve AS (
       |  SELECT CAST(k AS BIGINT) AS k,
       |    (SELECT CAST(count(*) AS BIGINT) FROM fo CROSS JOIN mx
       |     WHERE fo <= (m * k) // 10) AS vocab,
       |    (SELECT CAST(sum(toks) AS BIGINT) FROM toks CROSS JOIN mx
       |     WHERE doc_id <= (m * k) // 10) AS tokens
       |  FROM ks),
       |xy AS (
       |  SELECT ln(CAST(tokens AS DOUBLE)) AS x, ln(CAST(vocab AS DOUBLE)) AS y
       |  FROM curve WHERE vocab > 0 AND tokens > 0),
       |mo AS (
       |  SELECT CAST(count(*) AS BIGINT) AS k, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(x * y) AS sxy, max(x) AS xmax
       |  FROM xy),
       |f AS (
       |  SELECT k, sx, sy, xmax,
       |    (CAST(k AS DOUBLE) * sxy - sx * sy)
       |      / (CAST(k AS DOUBLE) * sxx - sx * sx) AS beta
       |  FROM mo),
       |g AS (
       |  SELECT k, xmax, beta, (sy - beta * sx) / CAST(k AS DOUBLE) AS lnk
       |  FROM f)
       |SELECT k AS n_points, ${Fx.sqlR6("beta")} AS heaps_beta,
       |  ${Fx.sqlR6("lnk")} AS ln_k,
       |  ${Fx.sqlR6("exp(lnk + beta * (xmax + ln(10.0)))")} AS vocab_at_10x,
       |  CAST(beta > 0.9 AS INT) AS unbounded_vocab_flag
       |FROM g""".stripMargin

  /** q345 — term burstiness (Church–Gale): cf/df per term — the mean
    * occurrences per CONTAINING document. Function words spread thin
    * (cf/df ≈ 1); topical/bursty terms clump (cf/df ≫ 1), which is
    * why burstiness, not raw frequency, drives keyword extraction and
    * stopword pruning (and why TF-IDF's IDF alone misranks terms that
    * appear rarely but always in bursts). Exact: df and cf are
    * integers off one words pass; burst_micro = cf·10⁶ div df; the
    * top-20 (df ≥ 10, burstiness desc, term tie-break) rides the
    * native bounded heap — no global sort of the vocabulary.
    *
    * Scale shape: one (term, doc) collapse with map-side combine, one
    * vocab-sized aggregate, a k=20 heap. The projected-words
    * convention keeps the split out of the explode lambda. */
  def q345(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode($"w").as("term"))
      .filter($"term" =!= "")
    val stats = words.groupBy($"term", $"doc_id")
      .agg(count(lit(1)).as("tf"))
      .groupBy($"term")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"))
      .filter($"df" >= 10)
      .select($"term", $"df", $"cf",
        expr("(cf * 1000000) div df").as("burst_micro"))
    graft.plans.TopK.perGroup(stats, 20, Seq.empty,
      Seq(graft.plans.TopK.desc("burst_micro"), graft.plans.TopK.asc("term")))
      .orderBy($"burst_micro".desc, $"term")
  }

  val q345Sql: String =
    """WITH td AS (
      |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  WHERE term <> '' GROUP BY 1, 2),
      |stats AS (
      |  SELECT term, CAST(count(*) AS BIGINT) AS df,
      |    CAST(sum(tf) AS BIGINT) AS cf
      |  FROM td GROUP BY 1 HAVING count(*) >= 10)
      |SELECT term, df, cf, (cf * 1000000) // df AS burst_micro
      |FROM stats
      |ORDER BY burst_micro DESC, term LIMIT 20""".stripMargin

  /** q348 — term-level corpus drift: which WORDS shifted between the
    * first and second half of the corpus (by doc_id)? The existing
    * drift lenses (KS q181, Mann–Whitney q254, KW q334) watch scalar
    * document features; this one watches the vocabulary itself — the
    * signal that catches topic rotation, crawler-source changes, and
    * template injection that leave length/quality distributions
    * untouched. Per term: occurrence counts a (first half) and b
    * (second half), scored by the 2×2 chi-square against the halves'
    * token totals, kept as an exact cross-multiplied rational — with
    * N = ta + tb, chi2 = N·(a·tb − b·ta)² / (ta·tb·(a+b)·(N−a−b));
    * the emitted score is its 10⁶-scaled truncating division on
    * DECIMAL38/HUGEINT, so ranking never sees a float. Top-20 drifted
    * terms (min 20 occurrences) via the GLOBAL bounded heap; the
    * direction column says which way the term moved (cross-multiplied
    * share comparison, no division).
    *
    * Scale shape: one words pass with map-side combine → vocab-sized
    * (term, a, b) relation; two broadcast scalars; a k=20 heap. */
  def q348(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
      .transform(Fx.materialize) // feeds the cutoff AND the words pass
    val mx = docs.agg(expr("max(doc_id) div 2").as("cut"))
    val words = docs.select($"doc_id", explode($"w").as("term"))
      .filter($"term" =!= "")
      .crossJoin(broadcast(mx))
    val perTerm = words.groupBy($"term")
      .agg(sum(when($"doc_id" <= $"cut", 1L).otherwise(0L)).as("a"),
        sum(when($"doc_id" > $"cut", 1L).otherwise(0L)).as("b"))
    val tots = perTerm.agg(sum($"a").as("ta"), sum($"b").as("tb"))
    val scored = perTerm.filter($"a" + $"b" >= 20)
      .crossJoin(broadcast(tots))
      .select($"term", $"a", $"b",
        expr("cast((cast(ta as decimal(38,0)) + tb)" +
          " * (cast(a as decimal(38,0)) * tb - cast(b as decimal(38,0)) * ta)" +
          " * (cast(a as decimal(38,0)) * tb - cast(b as decimal(38,0)) * ta)" +
          " * 1000000 div (cast(ta as decimal(38,0)) * tb * (a + b)" +
          " * (ta + tb - a - b)) as bigint)").as("chi2_micro"),
        when(expr("cast(a as decimal(38,0)) * tb > cast(b as decimal(38,0)) * ta"),
          "receding").otherwise("emerging").as("direction"))
    graft.plans.TopK.perGroup(scored, 20, Seq.empty,
      Seq(graft.plans.TopK.desc("chi2_micro"), graft.plans.TopK.asc("term")))
      .orderBy($"chi2_micro".desc, $"term")
  }

  val q348Sql: String =
    """WITH mx AS (SELECT max(doc_id) // 2 AS cut FROM documents),
      |words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |per AS (
      |  SELECT term,
      |    CAST(sum(CASE WHEN doc_id <= cut THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN doc_id > cut THEN 1 ELSE 0 END) AS BIGINT) AS b
      |  FROM words CROSS JOIN mx
      |  WHERE term <> '' GROUP BY term),
      |tots AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
      |                CAST(sum(b) AS BIGINT) AS tb FROM per),
      |scored AS (
      |  SELECT term, a, b,
      |    CAST((CAST(ta AS HUGEINT) + tb)
      |      * (CAST(a AS HUGEINT) * tb - CAST(b AS HUGEINT) * ta)
      |      * (CAST(a AS HUGEINT) * tb - CAST(b AS HUGEINT) * ta)
      |      * 1000000 // (CAST(ta AS HUGEINT) * tb * (a + b)
      |      * (ta + tb - a - b)) AS BIGINT) AS chi2_micro,
      |    CASE WHEN CAST(a AS HUGEINT) * tb > CAST(b AS HUGEINT) * ta
      |      THEN 'receding' ELSE 'emerging' END AS direction
      |  FROM per CROSS JOIN tots WHERE a + b >= 20)
      |SELECT term, a, b, chi2_micro, direction
      |FROM scored ORDER BY chi2_micro DESC, term LIMIT 20""".stripMargin

  /** q361 — Burrows' Delta stylometry between sources: z-score each
    * source's relative frequency of the corpus's top-50 words against
    * the across-source distribution of that word, then Delta(s₁,s₂) =
    * mean |z₁ − z₂| — the standard authorship-attribution distance
    * (Burrows 2002), here fingerprinting which SOURCES share a style
    * (near-zero Delta across different sources is the
    * template/machine-generation smell the content-level dedup family
    * can't see — same style, different words). Exactness: relative
    * frequencies land on a per-mille-of-micro grid by truncating
    * division; per word the z denominator is σ·k = √(k·Σf² − (Σf)²)
    * floored to an integer (ONE deterministic sqrt per word over an
    * exact < 2⁵³ integer, floor stated), so every z is an exact milli
    * integer and pair distances are integer sums — no float
    * accumulation anywhere. Zero-variance words drop (stated);
    * absent (source, word) cells count as frequency 0 via the dense
    * source×word grid.
    *
    * Scale shape: one token explode → (source, word) counts; top-50
    * words via TakeOrdered; everything after runs on the k·50 dense
    * grid (sources × top words — bounded metadata scale), including
    * the k²·50 pair join. */
  /** Dense source×top-N-term grid of micro relative frequencies
    * (absent cells = 0) — shared by q361 (stylometric z-profiles) and
    * q370 (dispersion). One token pass; everything downstream runs at
    * sources×N metadata scale. */
  private def sourceTermGrid(s: SparkSession, d: String, topN: Int): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"source", explode(split($"text", " ")).as("w"))
      .transform(graft.Fx.materialize) // top words, counts, totals
    val srcTot = toks.groupBy($"source").agg(count(lit(1)).as("nt"))
    val top = toks.groupBy($"w").agg(count(lit(1)).as("cw"))
      .orderBy($"cw".desc, $"w").limit(topN).select($"w")
      .transform(graft.Fx.materialize) // grid + count probe
    val cnt = toks.join(broadcast(top), "w")
      .groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    srcTot.crossJoin(broadcast(top))
      .join(cnt, Seq("source", "w"), "left_outer")
      .select($"source", $"w",
        expr("(coalesce(c, 0) * 1000000) div nt").as("f"))
  }

  def q361(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grid = sourceTermGrid(s, d, 50)
    val stats = grid.groupBy($"w").agg(
        count(lit(1)).as("k"), sum($"f").as("sf"),
        sum(expr("cast(f as decimal(38,0)) * f")).as("sff"))
      .select($"w", $"k", $"sf",
        expr("cast(k * sff - cast(sf as decimal(38,0)) * sf as double)").as("vv"))
      .filter($"vv" > 0)
      .select($"w", $"k", $"sf", floor(sqrt($"vv")).cast("long").as("sig"))
    val z = grid.join(stats, "w")
      .select($"source", $"w",
        expr("((f * k - sf) * 1000) div sig").as("z_milli"))
    z.as("x").join(z.as("y"), Seq("w"))
      .filter($"x.source" < $"y.source")
      .select($"x.source".as("s1"), $"y.source".as("s2"),
        abs($"x.z_milli" - $"y.z_milli").as("dz"))
      .groupBy($"s1", $"s2")
      .agg(count(lit(1)).as("n_words"),
        expr("cast(sum(dz) as decimal(38,0)) div count(1)").as("delta_milli"))
      .orderBy($"delta_milli", $"s1", $"s2")
      .limit(10)
  }

  val q361Sql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
      |srctot AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
      |top AS MATERIALIZED (
      |  SELECT w FROM (SELECT w, count(*) AS cw FROM toks GROUP BY w)
      |  ORDER BY cw DESC, w LIMIT 50),
      |cnt AS (
      |  SELECT t.source, t.w, CAST(count(*) AS BIGINT) AS c
      |  FROM toks t JOIN top ON t.w = top.w GROUP BY 1, 2),
      |grid AS (
      |  SELECT st.source, top.w,
      |    (COALESCE(cnt.c, 0) * 1000000) // st.nt AS f
      |  FROM srctot st CROSS JOIN top
      |  LEFT JOIN cnt ON cnt.source = st.source AND cnt.w = top.w),
      |stats AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS k, CAST(sum(f) AS BIGINT) AS sf,
      |    CAST(floor(sqrt(CAST(count(*) * sum(CAST(f AS HUGEINT) * f)
      |      - CAST(sum(f) AS HUGEINT) * sum(f) AS DOUBLE))) AS BIGINT) AS sig
      |  FROM grid GROUP BY w
      |  HAVING count(*) * sum(CAST(f AS HUGEINT) * f)
      |       - CAST(sum(f) AS HUGEINT) * sum(f) > 0),
      |z AS (
      |  SELECT g.source, g.w, ((g.f * s.k - s.sf) * 1000) // s.sig AS z_milli
      |  FROM grid g JOIN stats s ON g.w = s.w)
      |SELECT x.source AS s1, y.source AS s2,
      |  CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(CAST(sum(abs(x.z_milli - y.z_milli)) AS HUGEINT) // count(*)
      |    AS BIGINT) AS delta_milli
      |FROM z x JOIN z y ON x.w = y.w AND x.source < y.source
      |GROUP BY 1, 2
      |ORDER BY delta_milli, s1, s2
      |LIMIT 10""".stripMargin

  /** q370 — Juilland's dispersion D per top-30 term: D = 1 − CV/√(k−1)
    * over the term's relative frequency across the k sources — the
    * EVENNESS readout frequency dictionaries pair with raw counts
    * (D ≈ 1: the word belongs to the LANGUAGE, spread evenly; D ≈ 0:
    * it belongs to one source). Complements q345 (cf/df burstiness =
    * clumping WITHIN documents) and q361 (pairwise style distance):
    * dispersion is per-TERM evenness across corpus parts. Exactness:
    * frequencies ride q361's micro grid; CV/√(k−1) =
    * √(V/(k−1))/Σf with V = k·Σf² − (Σf)² evaluates as a fixed
    * chain of correctly-rounded IEEE ops over exact < 2⁵³ integers
    * (one sqrt, two divisions, r6) — bit-identical both engines; a
    * zero-frequency term (impossible for a top-30 term) would
    * degrade to NULL rather than divide by zero.
    *
    * Scale shape: the shared one-pass source×term grid; dispersion is
    * a 30-group aggregate over k·30 rows. */
  def q370(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sourceTermGrid(s, d, 30)
      .groupBy($"w".as("term"))
      .agg(count(lit(1)).as("k"), sum($"f").as("sf"),
        sum(expr("cast(f as decimal(38,0)) * f")).as("sff"))
      .select($"term", $"k", $"sf",
        when($"sf" > 0, graft.Fx.r6(lit(1.0) -
          sqrt(expr("cast(k * sff - cast(sf as decimal(38,0)) * sf as double)") /
            ($"k" - 1L).cast("double")) / $"sf".cast("double")))
          .as("juilland_d"))
      .orderBy(desc("juilland_d"), $"term")
  }

  val q370Sql: String = {
    val cv = "sqrt(CAST(k * sff - sf * sf AS DOUBLE) / CAST(k - 1 AS DOUBLE)) " +
      "/ CAST(sf AS DOUBLE)"
    s"""WITH toks AS MATERIALIZED (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |srctot AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
       |top AS MATERIALIZED (
       |  SELECT w FROM (SELECT w, count(*) AS cw FROM toks GROUP BY w)
       |  ORDER BY cw DESC, w LIMIT 30),
       |grid AS (
       |  SELECT st.source, top.w,
       |    (COALESCE(cnt.c, 0) * 1000000) // st.nt AS f
       |  FROM srctot st CROSS JOIN top
       |  LEFT JOIN (SELECT t.source, t.w, CAST(count(*) AS BIGINT) AS c
       |             FROM toks t JOIN top ON t.w = top.w GROUP BY 1, 2) cnt
       |    ON cnt.source = st.source AND cnt.w = top.w),
       |st AS (
       |  SELECT w AS term, CAST(count(*) AS BIGINT) AS k,
       |    CAST(sum(f) AS BIGINT) AS sf,
       |    CAST(sum(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sff
       |  FROM grid GROUP BY w)
       |SELECT term, k, sf,
       |  CASE WHEN sf > 0 THEN ${graft.Fx.sqlR6(s"1.0 - $cv")} END AS juilland_d
       |FROM st ORDER BY juilland_d DESC, term""".stripMargin
  }

  /** q447 — Yule's characteristic K per language: K = 10⁴·(Σ m²·V_m −
    * N)/N² over the word-frequency spectrum (V_m = vocabulary words
    * occurring exactly m times, N = tokens) — the classic lexical
    * REPETITIVENESS constant, size-invariant by construction where raw
    * TTR collapses with corpus growth: K rises when few words do all
    * the work. The spectrum-SHAPE companion to q321's Good–Turing
    * (unseen mass from the spectrum's low end) and q424's Heaps β
    * (vocabulary growth rate): three different functionals of the
    * same counts-of-counts. Exact end to end: frequencies, the
    * spectrum, Σ m²·V_m, and N ride BIGINT/DECIMAL; K lands as one
    * stated micro truncation of exact integers — no float anywhere.
    *
    * Scale shape: q321's — term-frequency groupBy, counts-of-counts
    * groupBy (vocabulary-sized input), a per-language rollup. */
  def q447(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"lang", $"w").agg(count(lit(1)).as("m"))
    tf.groupBy($"lang", $"m").agg(count(lit(1)).as("vm"))
      .groupBy($"lang")
      .agg(sum($"m" * $"vm").as("n_tokens"),
        sum($"vm").as("vocab"),
        sum(expr("cast(m as decimal(38,0)) * m * vm")).as("smm"))
      .select($"lang", $"n_tokens", $"vocab",
        expr("""cast(((smm - n_tokens) * 10000 * 1000000)
                div (cast(n_tokens as decimal(38,0)) * n_tokens)
                as bigint)""").as("yule_k_micro"))
      .orderBy($"lang")
  }

  val q447Sql: String =
    """WITH tf AS (
      |  SELECT lang, w, CAST(count(*) AS BIGINT) AS m FROM (
      |    SELECT lang, unnest(string_split(text, ' ')) AS w
      |    FROM documents) t
      |  WHERE w <> '' GROUP BY 1, 2),
      |cc AS (SELECT lang, m, CAST(count(*) AS BIGINT) AS vm
      |       FROM tf GROUP BY 1, 2)
      |SELECT lang, CAST(sum(m * vm) AS BIGINT) AS n_tokens,
      |  CAST(sum(vm) AS BIGINT) AS vocab,
      |  CAST(((sum(CAST(m AS HUGEINT) * m * vm) - sum(m * vm))
      |    * 10000 * 1000000)
      |    // (CAST(sum(m * vm) AS HUGEINT) * sum(m * vm)) AS BIGINT)
      |    AS yule_k_micro
      |FROM cc GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // q463 — TextRank keyword extraction (integer-exact power iteration)
  // ------------------------------------------------------------------

  /** q463 — TextRank keywords (Mihalcea & Tarau 2004): build the
    * word co-occurrence graph from ADJACENT token pairs across the
    * corpus (undirected, weight = co-occurrence count), run 3 rounds
    * of the weighted PageRank-style update
    * r(w) ← 0.15 + 0.85·Σ_{v~w} r(v)·weight(v,w)/wdeg(v), and emit
    * the top-20 words. Distinct from q279 (RAKE scores candidate
    * phrases by degree/frequency in ONE pass — no iteration) and q92
    * (TF-IDF is purely frequency-based): TextRank lets a word inherit
    * importance from its NEIGHBORS, the recursive signal the others
    * can't produce. Unlike q91's r6-per-step double convention, ranks
    * here live on the INTEGER micro grid end-to-end: per-edge
    * contribution (r·weight) div wdeg and the damping update
    * 150000 + (850000·Σ) div 10⁶ are pure BIGINT — no float ever
    * crosses an engine boundary and per-edge truncation order cannot
    * matter (integer sums commute).
    *
    * Scale shape: bigrams come from one zip-of-slices explode (no
    * self-join on positions); each iteration is one edges⋈ranks join
    * + one aggregate, shuffled by word — q91's machinery on the vocab
    * graph. Top-20 is a global limit. */
  def q463(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ws = split($"text", " ")
    val big = Tables.documents(s, d)
      .select(explode(arrays_zip(
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))).as("l"),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))).as("r"))).as("bg"))
      .select($"bg.l".as("u"), $"bg.r".as("v"))
      .filter($"u" =!= "" && $"v" =!= "" && $"u" =!= $"v")
    val und = big.groupBy($"u", $"v").agg(count(lit(1)).as("w"))
    val edges = und
      .unionByName(und.select($"v".as("u"), $"u".as("v"), $"w"))
      .groupBy($"u", $"v").agg(sum($"w").as("w"))
      .transform(Fx.materialize)
    val wdeg = edges.groupBy($"u").agg(sum($"w").as("wd"))
    val adj = edges.join(wdeg, "u").select($"u", $"v", $"w", $"wd")
    val vocab = wdeg.select($"u".as("word"))
    var rank = vocab.select($"word", lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = adj
        .join(rank.withColumnRenamed("word", "u"), "u")
        .select($"v".as("word"), expr("(r * w) div wd").as("c"))
        .groupBy($"word").agg(sum($"c").as("cs"))
      rank = vocab.join(contrib, Seq("word"), "left_outer")
        .select($"word",
          (lit(150000L) + expr("(850000 * coalesce(cs, cast(0 as bigint))) div 1000000"))
            .as("r"))
    }
    rank.orderBy($"r".desc, $"word").limit(20)
      .select($"word", $"r".as("rank_micro"))
  }

  val q463Sql: String = {
    // CAST(... AS BIGINT) on each iteration's r (and hence the final
    // rank_micro) is LOAD-BEARING: sum() returns HUGEINT in DuckDB,
    // which renders as pandas float64 — an uncast rank_micro hashes as
    // "123.0" against Spark's BIGINT "123" in the driver compare (the
    // r13/r14 hash-red cause; values were always identical).
    val iter = (i: Int, prev: String) =>
      s"""c$i AS MATERIALIZED (
         |  SELECT e.v AS word, CAST(sum((r.r * e.w) // e.wd) AS BIGINT) AS cs
         |  FROM adj e JOIN $prev r ON e.u = r.word GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT v.word,
         |    CAST(150000 + (850000 * COALESCE(c.cs, 0)) // 1000000 AS BIGINT)
         |      AS r
         |  FROM vocab v LEFT JOIN c$i c ON c.word = v.word)""".stripMargin
    s"""WITH RECURSIVE t AS (
       |  SELECT string_split(text, ' ') AS ws FROM documents),
       |-- positions 1..max(len)-1 via a recursive CTE: ANSI SQL, no
       |-- unnest(range(...)) lateral alias binding (which changed
       |-- semantics across DuckDB versions — VERDICT r13)
       |pos(p) AS (
       |  SELECT 1
       |  UNION ALL
       |  SELECT p + 1 FROM pos
       |  WHERE p + 1 <= (SELECT max(len(ws)) - 1 FROM t)),
       |big AS (
       |  SELECT ws[p] AS u, ws[p + 1] AS v
       |  FROM t JOIN pos ON pos.p <= len(ws) - 1),
       |bg AS (SELECT u, v FROM big
       |       WHERE u <> '' AND v <> '' AND u <> v),
       |und AS (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS w FROM bg GROUP BY 1, 2),
       |edges AS MATERIALIZED (
       |  SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
       |    SELECT u, v, w FROM und
       |    UNION ALL SELECT v, u, w FROM und) s GROUP BY 1, 2),
       |wdeg AS (SELECT u, CAST(sum(w) AS BIGINT) AS wd FROM edges GROUP BY 1),
       |adj AS MATERIALIZED (
       |  SELECT e.u, e.v, e.w, d.wd FROM edges e JOIN wdeg d ON e.u = d.u),
       |vocab AS (SELECT u AS word FROM wdeg),
       |r0 AS MATERIALIZED (SELECT word, CAST(1000000 AS BIGINT) AS r FROM vocab),
       |${iter(1, "r0")},
       |${iter(2, "r1")},
       |${iter(3, "r2")}
       |SELECT word, r AS rank_micro FROM r3
       |ORDER BY r DESC, word LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------
  // q465 — frequent-word subsampling plan (word2vec discard curve)
  // ------------------------------------------------------------------

  /** q465 — the word2vec frequent-word subsampling plan (Mikolov et
    * al. 2013): for each corpus word with frequency ratio z = f/N,
    * the keep probability √(t/z) (t = 10⁻³, clipped at 1) that
    * embedding/LM trainers apply so "the"-class tokens stop dominating
    * gradient updates. Complements q103/q184 (document-level mixture
    * plans) and q106 (Zipf readout) with the TOKEN-level sampling
    * table those plans hand to the trainer. Determinism: f and N are
    * exact counts; the keep probability is one fixed-shape double
    * expression (0.001·N then ÷f, then `sqrt` — correctly rounded in
    * IEEE, so bit-identical cross-engine on identical operands), r6.
    * Top-30 by frequency — the only words whose keep probability is
    * meaningfully below 1. */
  def q465(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
    val freq = toks.groupBy($"w").agg(count(lit(1)).as("f"))
    val tot = freq.agg(sum($"f").as("nn"))
    freq.crossJoin(broadcast(tot))
      .select($"w".as("word"), $"f",
        r6(least(lit(1.0),
          sqrt(lit(0.001) * $"nn".cast("double") / $"f".cast("double"))))
          .as("keep_p"))
      .orderBy($"f".desc, $"word").limit(30)
  }

  val q465Sql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |freq AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM toks WHERE w <> '' GROUP BY 1),
      |tot AS (SELECT CAST(sum(f) AS BIGINT) AS nn FROM freq)
      |SELECT w AS word, f,
      |  floor(least(1.0,
      |    sqrt(0.001 * CAST(nn AS DOUBLE) / CAST(f AS DOUBLE)))
      |    * 1000000 + 0.5) / 1000000 AS keep_p
      |FROM freq CROSS JOIN tot
      |ORDER BY f DESC, word LIMIT 30""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q463_textrank_keywords", q463, Some(q463Sql)),
    QueryDef("q465_word_subsampling", q465, Some(q465Sql)),
    QueryDef("q447_yule_k", q447, Some(q447Sql)),
    QueryDef("q361_burrows_delta", q361, Some(q361Sql)),
    QueryDef("q370_juilland_dispersion", q370, Some(q370Sql)),
    QueryDef("q348_term_drift", q348, Some(q348Sql)),
    QueryDef("q345_term_burstiness", q345, Some(q345Sql)),
    QueryDef("q344_vocab_growth", q344, Some(q344Sql)),
    QueryDef("q424_heaps_fit", q424, Some(q424Sql)),
    QueryDef("q335_chao1_richness", q335, Some(q335Sql)),
    QueryDef("q321_good_turing", q321, Some(q321Sql)),
    QueryDef("q40_token_stats", q40, Some(q40Sql)),
    QueryDef("q183_vocab_diversity", q183, Some(q183Sql)),
    QueryDef("q189_readability", q189, Some(q189Sql)),
    QueryDef("q41_quality_score", q41, Some(q41Sql), bench = true),
    QueryDef("q42_langid_confusion", q42, Some(q42Sql), bench = true),
    QueryDef("q43_fingerprint_clusters", q43, Some(q43Sql)),
    QueryDef("q44_bpe_token_stats", q44, Some(q44Sql)),
    QueryDef("q45_stratified_sample", q45, Some(q45Sql)),
    QueryDef("q46_length_histogram", q46, Some(q46Sql)),
    QueryDef("q47_top_bigrams", q47, Some(q47Sql), bench = true),
    QueryDef("q48_array_position", q48, Some(q48Sql)),
    QueryDef("q49_fuzzy_name_pairs", q49, Some(q49Sql)),
    QueryDef("q128_heavy_hitters_sketch", q128, Some(q128Sql)),
    QueryDef("q141_countmin_sketch", q141, Some(q141Sql)),
  )
}
