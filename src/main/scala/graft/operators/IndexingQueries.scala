package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.plans.GraftFunctions.md5_fast

/** Retrieval / indexing operators for corpus curation at 100 TB:
  * statistical LM scoring (the CCNet-style "perplexity filter" shape),
  * inverted-index construction, an EXACT set-similarity self-join via
  * prefix filtering (the shuffle-bounded alternative to LSH when the
  * threshold is high), scalable dense global ID assignment, and
  * bounded-state per-group sampling through the native top-k heap.
  *
  * Determinism: every floating value is either an exact IEEE quotient
  * of integers (correctly rounded, bit-identical across engines) or a
  * min/count over such quotients (order-independent) — no double SUMS
  * cross rows anywhere, so no grid tricks are needed.
  */
object IndexingQueries {
  import Fx._

  private def words(c: Column): Column = split(c, " ")

  /** q164 — bigram language-model scoring (quality filter): add-one-
    * smoothed conditional probabilities P(w2|w1) = (c12+1)/(c1+V)
    * trained on the corpus itself, then each document reports its
    * bigram count, how many of its bigrams are rare (P below 2e-3),
    * its minimum probability, and the rarest bigram. This is the
    * statistical-LM quality gate of CCNet/Gopher pipelines with the
    * log-sum replaced by order-independent min/count statistics (a
    * double sum across rows would not be bit-stable across engines;
    * min and count of exact quotients are).
    *
    * Scale shape: bigram stats are two grouped counts over the token
    * stream (map-side partial aggs); c1 rides the same single shuffle
    * as c12 via a window over the w1-partitioning; scoring joins doc
    * bigrams to the model on the bigram key — an equi-join that AQE
    * can broadcast when the model is small (it is: vocab², heavily
    * truncated by actual co-occurrence).
    */
  def q164(s: SparkSession, d: String): DataFrame =
    bigramLmScore(Tables.documents(s, d))

  /** Core of q164, reusable against any (doc_id, text) frame
    * (ScaleSmoke drives it at 1M docs). */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Materialize the words array in its own projection: inlining the
    // split into adjacentPairs' lambda re-splits the text once per
    // element access under interpreted higher-order-function eval
    // (measured 7× slower on this exact shape).
    // r19: materialized — the bigram stream feeds BOTH the model
    // aggregation and the final scoring join; un-materialized, the
    // corpus was scanned + split + pair-exploded twice (the q552
    // first-draft class). One pass now feeds both consumers.
    val stream = docs
      .select($"doc_id", words($"text").as("w"))
      .select($"doc_id",
        explode(graft.functions.TextAnalysis.adjacentPairs($"w")).as("bg"))
      .transform(graft.Fx.materialize)
    // The LM is distinct OBSERVED bigrams — Zipfian text keeps it far
    // below the stream size (~1k at this corpus), so both count tables
    // reduce with map-side combine and the probability table joins
    // back onto the stream. The join carries NO hint on purpose: AQE
    // broadcasts it when the measured size is small (every real
    // corpus) and falls back to a shuffle join when a pathological
    // vocabulary blows the model up (ScaleSmoke's uniform-random 10k
    // vocab produces ~32M distinct bigrams at 1M docs — a forced
    // broadcast there was measured 5× slower than the shuffle join).
    // Windows over the bg/w1 partitionings were measured 2× slower
    // than either: with few, huge key groups they sort the whole
    // stream per window.
    val model = stream.groupBy($"bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", split($"bg", " ").getItem(0))
    val ctx = model.groupBy($"w1").agg(sum($"c12").as("c1"))
    val vocab = docs
      .select(explode(words($"text")).as("w")).filter($"w" =!= "")
      .agg(countDistinct($"w").as("v"))
    val probs = model.join(ctx, "w1").crossJoin(vocab)
      .select($"bg", (($"c12" + 1).cast("double") / ($"c1" + $"v")).as("p"))
    // min(struct(p, bg)) = lexicographic argmin — ties on p resolve to
    // the smallest bigram, matching the oracle's min-over-min_p rows.
    stream.join(probs, "bg")
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum(when($"p" < 0.002, 1L).otherwise(0L)).as("n_rare"),
        min($"p").as("min_p_raw"),
        min(struct($"p", $"bg")).getField("bg").as("rarest_bigram"))
      .select($"doc_id", $"n_bigrams", $"n_rare",
        r6($"min_p_raw").as("min_p"), $"rarest_bigram")
      .orderBy($"doc_id")
  }

  val q164Sql: String =
    s"""WITH bg AS (
       |  SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
       |       LATERAL (SELECT unnest(range(1, len(w))) AS i) r),
       |model AS (
       |  SELECT bg, c12, string_split(bg, ' ')[1] AS w1,
       |    sum(c12) OVER (PARTITION BY string_split(bg, ' ')[1]) AS c1
       |  FROM (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1) m),
       |vocab AS (
       |  SELECT count(DISTINCT w) AS v
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> ''),
       |scored AS (
       |  SELECT doc_id, bg.bg AS bg,
       |    CAST(c12 + 1 AS DOUBLE) / (c1 + v) AS p
       |  FROM bg JOIN model USING (bg) CROSS JOIN vocab),
       |stats AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    CAST(sum(CASE WHEN p < 0.002 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |    min(p) AS min_p
       |  FROM scored GROUP BY 1)
       |SELECT stats.doc_id AS doc_id, n_bigrams, n_rare,
       |  ${sqlR6("min_p")} AS min_p, min(bg) AS rarest_bigram
       |FROM stats JOIN scored ON stats.doc_id = scored.doc_id AND p = min_p
       |GROUP BY 1, 2, 3, min_p
       |ORDER BY doc_id""".stripMargin

  /** q165 — inverted-index construction: per term, document frequency,
    * collection frequency, and a CAPPED posting list (first 16 doc ids
    * ascending, comma-joined). The cap is the scale contract: at
    * 100 TB a stop-word's full posting list is the corpus itself, so
    * an index build that materializes uncapped `collect_list` state
    * dies on the hottest term; slicing AFTER sort keeps the oracle
    * exact while the stored sample stays bounded (df/cf remain exact
    * over the full corpus). One shuffle: tf pairs group to terms.
    */
  def q165(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", explode(words($"text")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w", $"doc_id").agg(count(lit(1)).as("tf"))
      .groupBy($"w")
      .agg(count(lit(1)).as("df"), sum($"tf").as("cf"),
        array_join(slice(sort_array(collect_list($"doc_id")), 1, 16), ",")
          .as("postings"))
      .filter($"df" >= 3)
      .select($"w".as("term"), $"df", $"cf", $"postings")
      .orderBy($"term")
  }

  val q165Sql: String =
    """SELECT w AS term, df, cf, postings FROM (
      |  SELECT w, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
      |    array_to_string(list_sort(list(doc_id))[1:16], ',') AS postings
      |  FROM (
      |    SELECT w, doc_id, count(*) AS tf
      |    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
      |    WHERE w <> '' GROUP BY 1, 2) tf
      |  GROUP BY 1) x
      |WHERE df >= 3
      |ORDER BY term""".stripMargin

  /** q166 — EXACT Jaccard self-join at θ = 0.9 via prefix filtering
    * (SSJoin/PPJoin family) under (source, lang) blocking: tokens get
    * a global rarity rank (ascending df, so prefixes carry the rarest
    * tokens → fewest candidates); a doc with L distinct tokens
    * exposes only its first L − ⌈θL⌉ + 1 ranks; the prefix lemma
    * guarantees every pair with Jaccard ≥ θ shares a prefix token
    * under a consistent global order, so the candidate join is
    * LOSSLESS — unlike MinHash-LSH (q53) there are no false
    * negatives, which is why the DuckDB oracle can be the brute-force
    * O(n²)-per-block join and still hash-match. Verification is pure
    * integer arithmetic: 10·inter ≥ 9·union ⇔ jac ≥ 0.9 exactly.
    *
    * Scale shape: candidates shuffle by (TOKEN, block) — rare tokens
    * → tiny buckets, and the hot-token problem of LSH banding never
    * appears because stop-words live outside every prefix;
    * verification joins candidate pairs back to the token table twice
    * on the doc key. Blocking on (source, lang) is the standard
    * record-linkage move that keeps cross-source pairs (measured
    * separately by q143's duplication matrix) out of the quadratic
    * term. ⌈9L/10⌉ is computed as (9L+9) div 10 — integer-exact in
    * both engines.
    */
  /** Core of q166, reusable against any (doc_id, source, lang, text)
    * frame (ScaleSmoke drives it at 1M docs): emits the exact
    * Jaccard-≥0.9 pairs with integer-only verification. */
  def prefixJaccardPairs(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    // r19: materialized — the token relation used to be recomputed by
    // every consumer (vocab agg + rank join + the two verification
    // re-joins = 4 scans + splits + explodes of the corpus; the q552
    // first-draft lesson). Now it feeds exactly TWO consumers (vocab,
    // rank join — verification reads the doc ARRAYS instead, below)
    // from one materialized pass.
    val toks = docsIn
      .select($"doc_id", $"source", $"lang", words($"text").as("w0"))
      .select($"doc_id", $"source", $"lang",
        explode(array_distinct($"w0")).as("w"))
      .filter($"w" =!= "")
      .transform(graft.Fx.materialize)
    // Global rarity rank over the VOCAB (tokens, not occurrences).
    // The vocabulary grows with the corpus (Heaps' law), so a global
    // `row_number()` window here was the one documented scale
    // straggler left in r12 — replaced (r13) by the two-pass
    // range-repartition + zipWithIndex shape (Ranking.seqIds, same
    // idiom as q167): ids are a pure function of the (df, w) total
    // order, so ranks — and therefore the emitted pairs — are
    // IDENTICAL to the window form, but no single task ever sorts the
    // whole vocabulary.
    val vocab = Ranking
      .seqIds(toks.groupBy($"w").agg(count(lit(1)).as("df")),
        partsFloor = 32, $"df", $"w")
      .withColumnRenamed("seq_id", "r")
    val ranked = toks.join(vocab.select($"w", $"r"), "w")
    // r19: materialized — feeds the prefix explode AND both sides of
    // the exact verification (arr lookups), so the rank join +
    // collect_list runs once.
    val docArr = ranked.groupBy($"doc_id", $"source", $"lang")
      .agg(sort_array(collect_list($"r")).as("arr"))
      .select($"doc_id", $"source", $"lang", $"arr",
        size($"arr").cast("long").as("len"))
      .transform(graft.Fx.materialize)
    val prefix = docArr
      .select($"doc_id", $"source", $"lang", $"len",
        posexplode(slice($"arr", lit(1),
          expr("CAST(len - (len * 9 + 9) DIV 10 + 1 AS INT)"))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "r")
      .withColumn("p", $"p" + 1) // 1-based position in the sorted token list
    // PPJoin position filter (exact, integer-only): for a pair, every
    // shared token SMALLER than the largest shared prefix token w* is
    // itself inside both prefixes (sorted arrays contain all smaller
    // tokens before w*'s position), so
    //   overlap ≤ n_shared_prefix + min(l1 − p1*, l2 − p2*)
    // with p* = positions of w*. Candidates whose bound can't reach
    // the required overlap α = ⌈9(l1+l2)/19⌉ (⇔ J ≥ 0.9) never enter
    // the verification join: 19·ubound ≥ 9·(l1+l2), all integers.
    val cands = prefix.as("a").join(prefix.as("b"), Seq("r", "source", "lang"))
      .filter($"a.doc_id" < $"b.doc_id" &&
        greatest($"a.len", $"b.len") * 9 <= least($"a.len", $"b.len") * 10)
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"),
        $"a.len".as("l1"), $"b.len".as("l2"),
        $"r", $"a.p".as("p1"), $"b.p".as("p2"))
      .groupBy($"d1", $"d2", $"l1", $"l2")
      .agg(count(lit(1)).as("n_shared"),
        max(struct($"r", $"p1", $"p2")).as("top"))
      .filter(($"n_shared" +
        least($"l1" - $"top.p1", $"l2" - $"top.p2")) * 19 >= ($"l1" + $"l2") * 9)
      .select($"d1", $"d2", $"l1", $"l2")
    // r19: exact verification as TWO array lookups (the q554 verify
    // discipline) instead of re-joining the token relation with itself
    // through two corpus-sized shuffles + a pair-keyed aggregation:
    // each doc's sorted distinct-rank array already exists in docArr,
    // ranks are bijective with tokens (global seq ids over the vocab),
    // so |arr₁ ∩ arr₂| IS the token intersection. Candidates ≪ corpus,
    // so the verify now shuffles candidate rows, not token rows. Plan
    // diff: 2 joins over the exploded token relation + HashAggregate →
    // 2 joins against the (doc-count-sized) array table + an in-row
    // array_intersect; exchanges carrying token rows drop out.
    val inter = cands
      .join(docArr.select($"doc_id".as("d1"), $"arr".as("__arr1")), "d1")
      .join(docArr.select($"doc_id".as("d2"), $"arr".as("__arr2")), "d2")
      .select($"d1", $"d2", $"l1", $"l2",
        size(array_intersect($"__arr1", $"__arr2")).cast("long").as("inter"))
    inter
      .filter($"inter" * 10 >= ($"l1" + $"l2" - $"inter") * 9)
      .select($"d1".as("doc_id_1"), $"d2".as("doc_id_2"), $"inter",
        ($"l1" + $"l2" - $"inter").as("un"),
        r4($"inter".cast("double") / ($"l1" + $"l2" - $"inter")).as("jac"))
      .orderBy($"doc_id_1", $"doc_id_2")
  }

  def q166(s: SparkSession, d: String): DataFrame =
    prefixJaccardPairs(Tables.documents(s, d))

  val q166Sql: String =
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, source, lang, w
       |  FROM (SELECT doc_id, source, lang,
       |          unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> ''),
       |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
       |pairs AS (
       |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, count(*) AS inter
       |  FROM toks t1 JOIN toks t2 ON t1.w = t2.w AND t1.doc_id < t2.doc_id
       |    AND t1.source = t2.source AND t1.lang = t2.lang
       |  GROUP BY 1, 2)
       |SELECT d1 AS doc_id_1, d2 AS doc_id_2, inter,
       |  l1.len + l2.len - inter AS un,
       |  ${sqlR4("CAST(inter AS DOUBLE) / (l1.len + l2.len - inter)")} AS jac
       |FROM pairs
       |JOIN lens l1 ON d1 = l1.doc_id
       |JOIN lens l2 ON d2 = l2.doc_id
       |WHERE inter * 10 >= (l1.len + l2.len - inter) * 9
       |ORDER BY doc_id_1, doc_id_2""".stripMargin

  /** q167 — dense global ID assignment (curriculum ordering): docs
    * sorted longest-first get contiguous ids 1..N WITHOUT a
    * single-partition window. The scalable two-pass shape: range-
    * repartition on the sort key (total order across partition
    * index), sort within partitions, then `zipWithIndex` — one count
    * per partition collected to the driver (a few longs), ids =
    * partition offset + local position. This is the operator a 100 TB
    * shard-assignment or curriculum-schedule step needs where
    * `row_number() OVER (ORDER BY …)` would serialize the corpus
    * through one task. Oracle: that exact single-partition
    * row_number, affordable at oracle scale.
    */
  def q167(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .repartitionByRange(8, col("n_chars").desc, col("doc_id"))
      .sortWithinPartitions(col("n_chars").desc, col("doc_id"))
    val withId = docs.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1L))
    }
    val schema = StructType(docs.schema.fields :+
      StructField("seq_id", LongType, nullable = false))
    docs.sparkSession.createDataFrame(withId, schema)
      .orderBy(col("seq_id"))
  }

  val q167Sql: String =
    """SELECT doc_id, n_chars,
      |  CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS seq_id
      |FROM documents
      |ORDER BY seq_id""".stripMargin

  /** q168 — bounded-state per-source uniform sample: 10 docs per
    * source by ascending seeded hash ("bottom-k by hash" — a
    * mergeable uniform sample). Runs through the native bounded-heap
    * TopKPerGroup operator, so per-task state is O(sources × 10) rows
    * where the row_number window the oracle uses would SORT every
    * source's full row set. Same md5-derived u ∈ [0,1) on both
    * engines makes the sample itself oracle-exact, not just its size.
    */
  def q168(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val u = Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#bk")), 8)
      .cast("double") / 4294967296.0
    val base = Tables.documents(s, d).select($"source", $"doc_id", u.as("u"))
    graft.plans.TopK.perGroup(base, 10, Seq("source"),
      Seq(graft.plans.TopK.asc("u"), graft.plans.TopK.asc("doc_id")))
      .select($"source", $"doc_id", r6($"u").as("u"))
      .orderBy($"source", $"doc_id")
  }

  val q168Sql: String =
    s"""SELECT source, doc_id, ${sqlR6("u")} AS u FROM (
       |  SELECT source, doc_id, u,
       |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS rn
       |  FROM (
       |    SELECT source, doc_id,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#bk'), 1, 8))::BIGINT AS DOUBLE) / 4294967296.0 AS u
       |    FROM documents) b) r
       |WHERE rn <= 10
       |ORDER BY source, doc_id""".stripMargin

  /** q173 — term co-occurrence over the inverted index (IR depth on
    * q165): for the 20 highest-df terms, how many documents contain
    * each PAIR — posting-list intersection computed as a per-document
    * pair explosion. Restricting to a top-k head is the standard
    * co-occurrence-matrix shape: per doc at most C(20,2)=190 pairs, so
    * the exploded relation is ≤ 190·n — linear in the corpus with a
    * hard constant, where the unrestricted matrix is vocab². */
  def q173(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select($"doc_id", $"text")
      .select($"doc_id", explode(array_distinct(words($"text"))).as("w"))
      .filter($"w" =!= "")
    val top = toks.groupBy($"w").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"w").limit(20)
    val hot = toks.join(broadcast(top.select($"w")), "w")
    hot.as("a").join(hot.as("b"),
        $"a.doc_id" === $"b.doc_id" && $"a.w" < $"b.w")
      .groupBy($"a.w".as("w1"), $"b.w".as("w2"))
      .agg(count(lit(1)).as("co_df"))
      .orderBy($"w1", $"w2")
  }

  val q173Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, w
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE w <> ''),
      |top AS (
      |  SELECT w FROM (SELECT w, count(*) AS df FROM toks GROUP BY 1)
      |  ORDER BY df DESC, w LIMIT 20),
      |hot AS (SELECT doc_id, w FROM toks WHERE w IN (SELECT w FROM top))
      |SELECT a.w AS w1, b.w AS w2, count(*) AS co_df
      |FROM hot a JOIN hot b ON a.doc_id = b.doc_id AND a.w < b.w
      |GROUP BY 1, 2
      |ORDER BY w1, w2""".stripMargin

  /** q290 — TF-IDF-weighted sparse similarity join: document pairs
    * ranked by the dot product of their tf·idf vectors, computed
    * entirely through the inverted index (posting-list join on
    * shared terms — documents never meet unless they share a term).
    * Weights are exact: w = (tf · N · 1000) div df on the milli
    * grid (the q122 rational-idf discipline — no log), products
    * accumulate in DECIMAL(38,0)/HUGEINT. Terms with df > 50 drop
    * before pairing (the q165 stop-gram cap — common terms carry no
    * signal AND quadratic join cost; stated). Top-20 pairs by
    * (dot, a, b); TERMS are word bigrams (the unigram vocab of this
    * corpus is 31 dense words — every doc shares them, so unigram
    * postings are structurally degenerate; bigrams give a real
    * sparse index, measured df 1-46 at sf0.01). Unnormalized by
    * design: the dot product needs no
    * sqrt, and for same-corpus ranking it orders near-duplicates
    * identically to cosine on this grid.
    *
    * Scale shape: the pair join buckets by TERM with df ≤ cap
    * bounding every bucket at cap² pairs; the final top-20 is a
    * TakeOrdered over the pair aggregate, never a global sort
    * materialization. */
  def q290(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select($"doc_id", split($"text", " ").as("ws"))
      .select($"doc_id", explode(
        expr("transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
        .as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"w").agg(count(lit(1)).as("df"))
      .filter($"df" <= 50)
    val post = tf.join(df_, "w").crossJoin(broadcast(n))
      .select($"w", $"doc_id",
        expr("(tf * n_docs * 1000) div df").as("wt"))
      .transform(Fx.materialize)
    val a = post.select($"w", $"doc_id".as("a"), $"wt".as("wa"))
    val b = post.select($"w".as("__w"), $"doc_id".as("b"), $"wt".as("wb"))
    a.join(b, $"w" === $"__w" && $"a" < $"b")
      .groupBy($"a", $"b")
      .agg(sum($"wa".cast("decimal(38,0)") * $"wb").cast("decimal(38,0)")
        .as("dot"), count(lit(1)).as("n_shared"))
      .orderBy($"dot".desc, $"a", $"b")
      .limit(20)
      .select($"a", $"b", $"n_shared", $"dot".cast("long").as("dot_milli2"))
      .orderBy($"dot_milli2".desc, $"a", $"b")
  }

  val q290Sql: String =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |toks AS (
      |  SELECT doc_id, w[i] || ' ' || w[i+1] AS w
      |  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfx AS (SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 50),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |post AS (
      |  SELECT tf.w, tf.doc_id,
      |    (tf.tf * n.n_docs * 1000) // dfx.df AS wt
      |  FROM tf JOIN dfx ON tf.w = dfx.w CROSS JOIN n),
      |pairs AS (
      |  SELECT a.doc_id AS a, b.doc_id AS b,
      |    CAST(sum(CAST(a.wt AS HUGEINT) * b.wt) AS HUGEINT) AS dot,
      |    count(*) AS n_shared
      |  FROM post a JOIN post b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(dot AS BIGINT) AS dot_milli2
      |FROM pairs
      |ORDER BY dot_milli2 DESC, a, b
      |LIMIT 20""".stripMargin

  /** q313 — edit-distance similarity join by deletion-neighborhood
    * blocking: the fuzzy-matching operator behind catalog/entity
    * reconciliation ("the same record typed slightly differently").
    * Domain: 6-word document titles plus one deterministic perturbed
    * twin per document (word j = doc_id mod 6 gains an 'x'/'xy'
    * suffix — both engines construct the twins with identical string
    * arithmetic, so the planted near-dup population is part of the
    * stated semantics, like q94's synthetic PII). Candidate rule: two
    * titles are candidates iff they agree on all but ≤1 word position
    * (same word count) — implemented as six del-1 keys per title
    * (position i wildcarded, md5'd), pairs sharing any key. The rule
    * is LOSSLESS for the single-word-edit class by construction
    * (a pair differing only at position j shares exactly the key
    * wildcarding j; exact dups share all six). Verification: classic
    * Levenshtein ≤ 2 over the full title — the same DP definition in
    * both engines, exact integers.
    *
    * Scale shape: the candidate join is an equi-join on high-entropy
    * md5 keys (a full sentence minus one word) — bucket sizes are
    * exact-dup cluster sizes, bounded by the corpus's dup structure,
    * never vocabulary-sized posting lists; verification touches only
    * candidates. 6 keys/row is the whole blow-up. */
  def q313(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, d)
      .select($"doc_id", slice(split($"text", " "), 1, 6).as("w"))
    val j = ($"doc_id" % 6 + 1).cast("int")
    val suffix = when($"doc_id" % 2 === 0, lit("xy")).otherwise(lit("x"))
    val variants = base.select(($"doc_id" + 1000000L).as("id"),
      concat(slice($"w", lit(1), j - 1),
        array(concat(element_at($"w", j), suffix)),
        slice($"w", j + 1, lit(6) - j)).as("w"))
    val u = base.select($"doc_id".as("id"), $"w").unionByName(variants)
      .withColumn("title", concat_ws(" ", $"w"))
      .transform(graft.Fx.materialize) // keys ×2 and the verify join
    val keys = u
      .select($"id", $"w", explode(sequence(lit(1), lit(6))).as("i"))
      .select($"id", md5_fast(concat($"i".cast("string"), lit(":"),
        concat_ws(" ", concat(slice($"w", lit(1), $"i" - 1),
          array(lit("#")),
          slice($"w", $"i" + 1, lit(6) - $"i"))))).as("key"))
    val cand = keys.select($"key", $"id".as("a"))
      .join(keys.select($"key", $"id".as("b")), "key")
      .filter($"a" < $"b")
      .select($"a", $"b").distinct()
    val ta = u.select($"id".as("a"), $"title".as("title_a"))
    val tb = u.select($"id".as("b"), $"title".as("title_b"))
    cand.join(ta, "a").join(tb, "b")
      .select($"a", $"b",
        levenshtein($"title_a", $"title_b").cast("long").as("dist"))
      .filter($"dist" <= 2)
      .orderBy($"a", $"b")
  }

  val q313Sql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ')[1:6] AS w FROM documents),
      |u AS (
      |  SELECT doc_id AS id, w FROM base
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    w[1:CAST(doc_id % 6 + 1 AS INT) - 1]
      |      || [w[CAST(doc_id % 6 + 1 AS INT)]
      |          || CASE WHEN doc_id % 2 = 0 THEN 'xy' ELSE 'x' END]
      |      || w[CAST(doc_id % 6 + 1 AS INT) + 1:6]
      |  FROM base),
      |t AS (SELECT id, array_to_string(w, ' ') AS title, w FROM u),
      |keys AS (
      |  SELECT id, md5(CAST(i AS VARCHAR) || ':' ||
      |    array_to_string(
      |      w[1:CAST(i AS INT) - 1] || ['#'] || w[CAST(i AS INT) + 1:6],
      |      ' ')) AS key
      |  FROM t CROSS JOIN (SELECT unnest(range(1, 7)) AS i)),
      |cand AS (
      |  SELECT DISTINCT k1.id AS a, k2.id AS b
      |  FROM keys k1 JOIN keys k2 ON k1.key = k2.key AND k1.id < k2.id)
      |SELECT a, b, CAST(levenshtein(ta.title, tb.title) AS BIGINT) AS dist
      |FROM cand JOIN t ta ON cand.a = ta.id JOIN t tb ON cand.b = tb.id
      |WHERE levenshtein(ta.title, tb.title) <= 2
      |ORDER BY a, b""".stripMargin

  /** Composed LSH-block-first EXACT-verify set-similarity join — the
    * measured escape hatch for q166's quadratic regime (SCALE.md: the
    * prefix-filter join goes quadratic past ~100-200k docs per
    * (source, lang) block because candidate volume, not scan cost,
    * dominates). Composition: MinHash signatures over each document's
    * DISTINCT-token set (the q51 Kirsch-Mitzenmacher md5 family, so
    * the oracle mirrors it bit-for-bit) → LSH banding (q52/q53 shape)
    * with the bucket key extended by the (source, lang) record-linkage
    * block → capped candidate buckets (q53's drop-oversized-bucket
    * discipline; skipped buckets stay observable via
    * [[Dedup.overflowBuckets]]) → EXACT integer-verified Jaccard ≥ 0.9
    * on each candidate pair (10·inter ≥ 9·union — same test as q166,
    * so every EMITTED pair is exactly right; the banding trades a
    * bounded, measured recall loss — q555's scorecard — for candidate
    * volume linear in docs·bands instead of quadratic in block size).
    *
    * Scale shape: ONE scan of the corpus (the sorted distinct-token
    * arrays materialize once and feed the signature pass and both
    * verify sides); signatures are one grouped min-agg; the bucket
    * aggregation shuffles (band, block) keys with per-group state hard-
    * bounded by BoundedCollect; verification is two array lookups per
    * CANDIDATE — at 12 hashes / 4 bands the expected candidate count is
    * ~4·n·P(band collision), flat per doc as n grows (q166's measured
    * curve exploded precisely because its per-doc candidate count grew
    * with block size). nHashes=12, bands=4×3: P(candidate | J=0.9) =
    * 1-(1-0.9³)⁴ ≈ 0.9946 per pair.
    */
  def blockedSetJoin(docsIn: DataFrame,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val base = blockedBase(docsIn)
    blockedFromSig(base, blockedMd5Sig(base), maxBucket)
  }

  /** The md5-oracle-family signature frame over a [[blockedBase]]
    * (shared by q554 and q559's threshold sweep): degree-3 polynomial
    * minhash with the four md5 chunks as coefficients — see
    * [[blockedSetJoin]]'s doc for why. */
  private def blockedMd5Sig(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val toks = base.select($"doc_id", $"source", $"lang",
      explode($"ws").as("w"))
    // One md5 per TOKEN (the Jaccard here is q166's distinct-token
    // Jaccard, so the signature must sketch the same set; q51-q53
    // sketch bigram shingles for q53's different 0.6 target), but NOT
    // q51's 2-coefficient Kirsch-Mitzenmacher family: h_i = a1 + i·a2
    // has linearly-dependent values across i, so on a small skewed
    // vocabulary the token minimizing one h_i tends to minimize many —
    // correlated signature rows concentrate band buckets and inflate
    // candidate volume (measured on the ScaleSmoke Zipf corpus: the KM
    // family ran 7× slower than the independent xxhash64 family at
    // 400k docs PURELY from bucket concentration). The fix keeps the
    // single digest: all FOUR 32-bit chunks of the md5 become the
    // coefficients of a degree-3 polynomial in i — a 4-wise
    // independent family, h_i = (a1 + i·a2 + i²·a3 + i³·a4) mod 2^32
    // — which decorrelates the minima while staying exactly
    // mirrorable in DuckDB (integer arithmetic, i ≤ 12 keeps every
    // product inside BIGINT).
    //
    // The chunk extraction is the native codegen'd, ALLOCATION-FREE
    // [[graft.plans.Md5Chunk]] scalar (one memoized digest pass per
    // token shared by the four sibling expressions, primitive longs
    // out) rather than the hex-substring/conv chain the oracle spells
    // out: SCALE.md's r17 A/B dissected the md5 family's 2× per-doc
    // cost drift at 1M docs to md5-hex + 4× radix-16 string parses
    // per token, and the r18 re-measure showed the array-returning
    // intermediate's per-token allocation still cost ~3× at 2M docs
    // under a cached corpus — byte-identical semantics (Md5ChunksSpec
    // pins the parity against the conv chain), q554Sql untouched.
    val withH = toks
      .withColumn("__a1", graft.plans.GraftFunctions.md5_chunk($"w", 0))
      .withColumn("__a2", graft.plans.GraftFunctions.md5_chunk($"w", 1))
      .withColumn("__a3", graft.plans.GraftFunctions.md5_chunk($"w", 2))
      .withColumn("__a4", graft.plans.GraftFunctions.md5_chunk($"w", 3))
    def hi(i: Int) = min(pmod(
      $"__a1" + lit(i.toLong) * $"__a2" +
        lit((i.toLong * i)) * $"__a3" + lit((i.toLong * i * i)) * $"__a4",
      lit(4294967296L))).as(s"__m$i")
    val aggs = hi(1) +: (2 to NHashes).map(hi) :+
      least(count(lit(1)), lit(LenSat)).as("len")
    val hexed = (1 to NHashes).map(i =>
      lower(lpad(hex(col(s"__m$i")), 8, "0")).as(s"h$i"))
    withH.groupBy($"doc_id", $"source", $"lang")
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq($"doc_id", $"source", $"lang", $"len") ++ hexed: _*)
  }

  /** Production-speed variant of [[blockedSetJoin]]: xxhash64 minhash
    * family (native long arithmetic inside codegen on the per-token
    * hot path) instead of the oracle-mirrorable md5 family — the
    * [[Dedup.minhashSignatureWordsFast]] trade applied here. Same
    * banding, cap, and EXACT verify, so any banding-recall parity
    * (pinned on planted structure in DedupSimilaritySpec's mold)
    * makes the OUTPUT identical: emitted pairs pass the identical
    * integer Jaccard test either way. Use this off the oracle path;
    * q554 stays on the md5 family so DuckDB can mirror it. */
  def blockedSetJoinFast(docsIn: DataFrame,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val base = blockedBase(docsIn)
    blockedFromSig(base, blockedFastSig(base), maxBucket)
  }

  /** xxhash64 signature frame over a [[blockedBase]] (the production
    * family — see [[blockedSetJoinFast]]). */
  private def blockedFastSig(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val toks = base.select($"doc_id", $"source", $"lang",
      explode($"ws").as("w"))
    val aggs = min(xxhash64($"w", lit(1))).as("__m1") +:
      (2 to NHashes).map(i => min(xxhash64($"w", lit(i))).as(s"__m$i")) :+
      least(count(lit(1)), lit(LenSat)).as("len")
    // fixed-width hex AFTER the min-agg (one format per doc, not per
    // token) so the positional band concat can't alias across
    // variable-width values
    val hexed = (1 to NHashes).map(i =>
      lpad(hex(col(s"__m$i")), 16, "0").as(s"h$i"))
    toks.groupBy($"doc_id", $"source", $"lang")
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq($"doc_id", $"source", $"lang", $"len") ++ hexed: _*)
  }

  /** Diagnostic: band-bucket occupancy distribution for either
    * signature family — one row with total buckets, pair-generating
    * buckets (2..maxBucket), overflow (cap-dropped) buckets, the max
    * occupancy, and the in-bucket pair volume BEFORE the length
    * prefilter (Σ n·(n−1)/2 over pair-generating buckets). ScaleSmoke
    * prints this beside each blocked-join curve point: a band-domain
    * saturation knee (occupancy concentrating as docs grow past the
    * band-hash domain) shows up here before it shows up as wall time. */
  def blockedBucketStats(docsIn: DataFrame, fast: Boolean = true,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val base = blockedBase(docsIn)
    val sig = if (fast) blockedFastSig(base) else blockedMd5Sig(base)
    bandRows(sig)
      .groupBy($"band_idx", $"band_hash", $"source", $"lang")
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when($"n".between(2, maxBucket), 1L).otherwise(0L))
          .as("n_pair_buckets"),
        sum(when($"n" > maxBucket, 1L).otherwise(0L)).as("n_overflow"),
        max($"n").as("max_occ"),
        sum(when($"n".between(2, maxBucket),
          shiftright($"n" * ($"n" - 1L), 1)).otherwise(0L))
          .as("pairs_pregen"))
  }

  private val NHashes = 12
  private val NBands = 4
  private val RowsPerBand = 3

  /** Saturation bound for the packed per-doc distinct-token count (20
    * bits). Saturating a longer doc only LOOSENS the length prefilter
    * (ratios move toward 1 → more candidates pass → exactness of the
    * verify stage untouched), so losslessness survives arbitrarily
    * long documents; doc_ids must stay below 2^43 for the pack — a
    * violating id raises in-plan (blockedFromSig's packableId guard)
    * instead of silently corrupting pair ids. */
  private val LenSat = 1048575L

  /** Shared head of the blocked-join family: one corpus scan into
    * materialized sorted distinct-token arrays — feeds the signature
    * pass AND both verify sides (without it each consumer re-runs the
    * scan + split + distinct-sort). */
  private def blockedBase(docsIn: DataFrame): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    docsIn
      .select($"doc_id", $"source", $"lang",
        array_sort(array_distinct(filter(words($"text"), w => w =!= "")))
          .as("ws"))
      .transform(Fx.materialize)
  }

  /** Shared tail: banding over a (doc_id, source, lang, h1..h12)
    * signature frame, capped bucket candidate generation, exact
    * integer-verified Jaccard ≥ 0.9 emission. */
  private def blockedFromSig(base: DataFrame, sig: DataFrame,
      maxBucket: Int): DataFrame =
    emitVerified(base, blockedCandidates(sig, maxBucket, 9, 10))

  /** Shared emission tail: exact verify, θ = 0.9 integer test, output
    * schema + total order. */
  private def emitVerified(base: DataFrame, cands: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    blockedVerify(base, cands)
      .filter($"inter" * 10 >= $"un" * 9)
      .select($"d1".as("doc_id_1"), $"d2".as("doc_id_2"), $"inter", $"un",
        r4($"inter".cast("double") / $"un").as("jac"))
      .orderBy($"doc_id_1", $"doc_id_2")
  }

  /** Banding + capped-bucket candidate generation over a signature
    * frame, with the LOSSLESS length prefilter parameterized by the
    * target threshold θ = pfNum/pfDen (J ≤ min(len)/max(len), so
    * max(len)·pfNum ≤ min(len)·pfDen is necessary for J ≥ θ — q554
    * passes (9, 10); q559's sweep passes its loosest θ (4, 5) so one
    * candidate set serves every swept threshold). Emits distinct
    * (d1, d2) with d1 < d2. */
  /** Band rows over a signature frame: (doc_id, len, source, lang,
    * band_idx, band_hash). Dedup.lshBands inlined with the (source,
    * lang) block columns carried through (the library form drops
    * everything but the id). Parameterized (nBands, rowsPerBand) so
    * q561's banding grid can re-band ONE signature set; production
    * callers use the (4, 3) default. */
  private def bandRows(sig: DataFrame, nBands: Int = NBands,
      rowsPerBand: Int = RowsPerBand): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val bandStructs = (1 to nBands).map { b =>
      val cols = ((b - 1) * rowsPerBand + 1 to b * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band_idx"), concat(cols: _*).as("band_hash"))
    }
    sig
      .select($"doc_id", $"len", $"source", $"lang",
        explode(array(bandStructs: _*)).as("band"))
      .select($"doc_id", $"len", $"source", $"lang",
        $"band.band_idx".as("band_idx"), $"band.band_hash".as("band_hash"))
  }

  private def blockedCandidates(sig: DataFrame, maxBucket: Int,
      pfNum: Int, pfDen: Int,
      nBands: Int = NBands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    val s = sig.sparkSession
    import s.implicits._
    val bands = bandRows(sig, nBands, rowsPerBand)
    // single-pass capped bucket → in-row pair generation (the
    // candidatePairs shape, bucket key extended by the block). Each
    // collected element packs (doc_id << 20 | saturated len) into one
    // long so the bounded buffer stays primitive; sort_array orders by
    // doc_id (the high bits). The LENGTH PREFILTER inside the pair
    // lambda is LOSSLESS for the θ = pfNum/pfDen target — J ≤ min(len)/
    // max(len), so pfNum·max(len) ≤ pfDen·min(len) is NECESSARY for
    // J ≥ θ (q166's candidate filter) — and it fires before the distinct
    // shuffle: on a Zipfian corpus most band collisions are
    // background-similarity junk whose lengths already disagree, and
    // dropping them in-row was measured to cut the cap-crossing cost
    // hump (ScaleSmoke 400k point) without changing a single emitted
    // pair.
    bucketize(bands, maxBucket)
      .transform(pairsFromBuckets(maxBucket, pfNum, pfDen))
      .distinct()
  }

  /** The (doc_id << 20 | saturated len) pack — injective only for
    * doc_id ∈ [0, 2^43) (LenSat's stated precondition); an
    * out-of-range id raises in-plan instead of silently emitting
    * corrupted d1/d2 after the shiftright unpack. */
  private def packedDocLen(s: SparkSession): Column = {
    import s.implicits._
    val packableId = when($"doc_id" >= 0L && $"doc_id" < lit(1L << 43), $"doc_id")
      .otherwise(raise_error(concat(
        lit("blockedFromSig: doc_id outside packable [0, 2^43): "),
        $"doc_id".cast("string"))))
    shiftleft(packableId, 20) + $"len"
  }

  /** Band rows → per-bucket bounded packed-id membership (`__ids`,
    * capped at maxBucket+1 so an over-cap bucket is detectable but
    * never unbounded). */
  private def bucketize(bands: DataFrame, maxBucket: Int): DataFrame = {
    val s = bands.sparkSession
    import s.implicits._
    bands
      .groupBy($"band_idx", $"band_hash", $"source", $"lang")
      .agg(graft.plans.BoundedCollect
        .bounded_collect(packedDocLen(s), maxBucket + 1)
        .as("__ids"))
  }

  /** Bucket membership (`__ids` of packed ids) → NON-distinct (d1, d2)
    * candidate pairs: cap filter, in-row lossless length prefilter at
    * θ = pfNum/pfDen, unpack. Callers union bucket families and
    * distinct once. */
  private def pairsFromBuckets(maxBucket: Int, pfNum: Int, pfDen: Int)(
      buckets: DataFrame): DataFrame = {
    val s = buckets.sparkSession
    import s.implicits._
    val lenOf = (p: Column) => p.bitwiseAND(lit(LenSat))
    buckets
      .filter(size($"__ids").between(2, maxBucket))
      .select(sort_array($"__ids").as("__ids"))
      .select(explode(flatten(transform($"__ids", (x, i) =>
        filter(transform(slice($"__ids", i + lit(2), size($"__ids")),
          y => struct(x.as("a"), y.as("b"))),
          p => greatest(lenOf(p.getField("a")), lenOf(p.getField("b"))) * pfNum <=
            least(lenOf(p.getField("a")), lenOf(p.getField("b"))) * pfDen))))
        .as("__p"))
      .select(shiftright($"__p.a", 20).as("d1"), shiftright($"__p.b", 20).as("d2"))
  }

  /** Incremental maintenance of [[blockedSetJoin]] (the q557 O(delta)
    * discipline applied to the flagship dedup operator): the corpus
    * splits into a base and an arriving delta; the base's CAPPED
    * per-bucket membership (exactly what a production pipeline
    * persists between runs) is reused as-is for buckets the delta
    * never touches, and only TOUCHED buckets merge base membership
    * with delta rows and regenerate pairs. EXACT against the full
    * recompute because the bounded collect makes over-cap detectable,
    * never silent: a base bucket stored at maxBucket+1 elements stays
    * over cap after ANY delta (recompute also emits nothing), and an
    * under-cap base bucket's stored membership is COMPLETE, so the
    * merge is the true merged bucket — including the cap-crossing
    * case where a delta arrival pushes a previously-productive bucket
    * over the cap and its pairs must DISAPPEAR (recompute semantics;
    * the planted spec crosses exactly this).
    *
    * Scale shape: work beyond the (already-capped, materialized)
    * base bucket artifact is proportional to the DELTA — its band
    * rows, the touched buckets' ≤ 2·(cap+1)-element in-row merges,
    * and their pair regeneration; the signature pass itself stays one
    * corpus scan (base/delta split by a flag on the same banding
    * frame, the q557 caveat verbatim). */
  def blockedSetJoinIncr(docsIn: DataFrame, isDelta: Column => Column,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val s = docsIn.sparkSession
    import s.implicits._
    val base = blockedBase(docsIn)
    val bands = bandRows(blockedMd5Sig(base))
      .withColumn("is_delta", isDelta($"doc_id"))
      .transform(Fx.materialize) // one banding pass feeds both splits
    val keys = Seq("band_idx", "band_hash", "source", "lang")
    val baseBuckets = bucketize(bands.filter(!$"is_delta"), maxBucket)
      .transform(Fx.materialize) // consumed by untouched AND merged paths
    val deltaBuckets = bucketize(bands.filter($"is_delta"), maxBucket)
      .withColumnRenamed("__ids", "__dids")
    val untouched = baseBuckets
      .join(deltaBuckets.select(keys.head, keys.tail: _*), keys, "left_anti")
    val merged = deltaBuckets.join(baseBuckets, keys, "left")
      .select(concat(coalesce($"__ids", array().cast("array<bigint>")),
        $"__dids").as("__ids"))
    val cands = untouched.transform(pairsFromBuckets(maxBucket, 9, 10))
      .unionByName(merged.transform(pairsFromBuckets(maxBucket, 9, 10)))
      .distinct()
    emitVerified(base, cands)
  }

  /** q562 — the incremental form on the documents table, delta =
    * doc_id % 10 = 7 (q557's stated rule). The oracle IS q554's full
    * recompute verbatim: hash-equality of the incrementally-maintained
    * pair set against the from-scratch blocked join is the whole
    * maintenance gate. */
  def q562(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    blockedSetJoinIncr(Tables.documents(s, d), id => id % 10 === 7)
  }

  // def, not val: q554Sql is declared further down the object and a
  // val here would capture null at object init
  def q562Sql: String = q554Sql

  /** Exact verification of a (d1, d2) candidate frame against the
    * materialized base arrays: two array lookups per candidate, exact
    * integer (inter, un) out — NO threshold applied, so callers can
    * price any θ against the same verified set. */
  private def blockedVerify(base: DataFrame, cands: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val da = base.select($"doc_id".as("d1"), $"ws".as("wa"),
      size($"ws").cast("long").as("l1"))
    val db = base.select($"doc_id".as("d2"), $"ws".as("wb"),
      size($"ws").cast("long").as("l2"))
    cands.join(da, "d1").join(db, "d2")
      .withColumn("inter", size(array_intersect($"wa", $"wb")).cast("long"))
      .select($"d1", $"d2", $"inter", ($"l1" + $"l2" - $"inter").as("un"))
  }

  /** q554 — the composed operator above on the documents table, with
    * the whole pipeline (signatures, banding, cap, verify) mirrored in
    * DuckDB — within-candidate results are oracle-EXACT; the banding's
    * recall trade vs the lossless q166 is measured by q555. */
  def q554(s: SparkSession, d: String): DataFrame =
    blockedSetJoin(Tables.documents(s, d))

  /** Shared oracle CTE chain mirroring [[blockedBase]] → [[blockedMd5Sig]]
    * → [[blockedCandidates]](pfNum, pfDen) → [[blockedVerify]]: ends at
    * `bj` = verified (d1, d2, inter, un) with NO threshold applied —
    * q554/q555 add the θ = 0.9 `blocked` CTE, q559 prices the sweep
    * against the same `bj`. */
  /** wbase + sig CTE pair mirroring [[blockedBase]] → [[blockedMd5Sig]]
    * (shared by the blockedCtes chain and q561's re-banding grid). */
  private val blockedSigCtes: String = {
    val hexed = (1 to 12).map(i =>
      s"lower(lpad(to_hex(min((a1 + $i * a2 + ${i * i} * a3 + ${i * i * i} * a4) % 4294967296)), 8, '0')) AS h$i")
      .mkString(",\n      ")
    s"""wbase AS (
       |    SELECT doc_id, source, lang,
       |      list_sort(list_distinct(list_filter(string_split(text, ' '),
       |        w -> w <> ''))) AS ws
       |    FROM documents),
       |  sig AS (
       |    SELECT doc_id, source, lang,
       |      least(count(*), 1048575) AS len,
       |      $hexed
       |    FROM (
       |      SELECT doc_id, source, lang,
       |        ('0x' || substr(d, 1, 8))::BIGINT AS a1,
       |        ('0x' || substr(d, 9, 8))::BIGINT AS a2,
       |        ('0x' || substr(d, 17, 8))::BIGINT AS a3,
       |        ('0x' || substr(d, 25, 8))::BIGINT AS a4
       |      FROM (SELECT doc_id, source, lang, md5(unnest(ws)) AS d
       |            FROM wbase) q) r
       |    GROUP BY doc_id, source, lang)""".stripMargin
  }

  private def blockedCtes(pfNum: Int, pfDen: Int): String = {
    val bandSelects = (1 to 4).map { b =>
      val hs = ((b - 1) * 3 + 1 to b * 3).map(i => s"h$i").mkString(" || ")
      s"SELECT doc_id, len, source, lang, $b AS band_idx, $hs AS band_hash FROM sig"
    }.mkString("\n    UNION ALL\n    ")
    s"""$blockedSigCtes,
       |  bands AS (
       |    $bandSelects),
       |  okb AS (
       |    SELECT band_idx, band_hash, source, lang FROM bands
       |    GROUP BY 1, 2, 3, 4 HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
       |  gated AS (
       |    SELECT bands.* FROM bands
       |    JOIN okb USING (band_idx, band_hash, source, lang)),
       |  cand AS (
       |    SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |    FROM gated l JOIN gated r
       |      ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       |     AND l.source = r.source AND l.lang = r.lang
       |     AND l.doc_id < r.doc_id
       |     AND greatest(l.len, r.len) * $pfNum <= least(l.len, r.len) * $pfDen),
       |  bj AS (
       |    SELECT d1, d2,
       |      CAST(len(list_intersect(a.ws, b.ws)) AS BIGINT) AS inter,
       |      CAST(len(a.ws) + len(b.ws)
       |        - len(list_intersect(a.ws, b.ws)) AS BIGINT) AS un
       |    FROM cand JOIN wbase a ON d1 = a.doc_id
       |              JOIN wbase b ON d2 = b.doc_id)""".stripMargin
  }

  /** q554/q555's chain: [[blockedCtes]] at the production (9, 10)
    * prefilter plus the θ = 0.9 emission CTE. */
  private val blockedSql: String =
    s"""${blockedCtes(9, 10)},
       |  blocked AS (
       |    SELECT d1 AS doc_id_1, d2 AS doc_id_2, inter, un,
       |      ${sqlR4("CAST(inter AS DOUBLE) / un")} AS jac
       |    FROM bj WHERE inter * 10 >= un * 9)""".stripMargin

  val q554Sql: String =
    s"""WITH $blockedSql
       |SELECT doc_id_1, doc_id_2, inter, un, jac FROM blocked
       |ORDER BY doc_id_1, doc_id_2""".stripMargin

  /** q555 — recall scorecard for the blocked join vs the LOSSLESS q166
    * (the q299 banding-recall discipline applied to the composed
    * operator): exact pair count, blocked pair count, misses, and
    * integer recall. Every blocked pair passes the same exact verify,
    * so blocked ⊆ exact — precision is structurally 1; recall is the
    * one number the banding trade buys its flat scale curve with. */
  def q555(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val exact = prefixJaccardPairs(docs).select($"doc_id_1", $"doc_id_2")
      .transform(Fx.materialize) // consumed by the count AND the anti-join
    val blocked = blockedSetJoin(docs).select($"doc_id_1", $"doc_id_2")
    val missed = exact.join(blocked, Seq("doc_id_1", "doc_id_2"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(blocked.agg(count(lit(1)).as("n_blocked")))
      .crossJoin(missed.agg(count(lit(1)).as("n_missed")))
      .select($"n_exact", $"n_blocked", $"n_missed",
        when($"n_exact" === 0, 1000L)
          .otherwise(expr("((n_exact - n_missed) * 1000) div n_exact"))
          .as("recall_milli"))
  }

  val q555Sql: String =
    s"""WITH $blockedSql,
       |  etoks AS (
       |    SELECT DISTINCT doc_id, source, lang, w
       |    FROM (SELECT doc_id, source, lang,
       |            unnest(string_split(text, ' ')) AS w FROM documents) t
       |    WHERE w <> ''),
       |  elens AS (SELECT doc_id, count(*) AS len FROM etoks GROUP BY 1),
       |  epairs AS (
       |    SELECT t1.doc_id AS d1, t2.doc_id AS d2, count(*) AS inter
       |    FROM etoks t1 JOIN etoks t2 ON t1.w = t2.w AND t1.doc_id < t2.doc_id
       |      AND t1.source = t2.source AND t1.lang = t2.lang
       |    GROUP BY 1, 2),
       |  exact AS (
       |    SELECT d1 AS doc_id_1, d2 AS doc_id_2
       |    FROM epairs
       |    JOIN elens l1 ON d1 = l1.doc_id
       |    JOIN elens l2 ON d2 = l2.doc_id
       |    WHERE inter * 10 >= (l1.len + l2.len - inter) * 9),
       |  stats AS (
       |    SELECT
       |      (SELECT count(*) FROM exact) AS n_exact,
       |      (SELECT count(*) FROM blocked) AS n_blocked,
       |      (SELECT count(*) FROM exact e
       |       WHERE NOT EXISTS (SELECT 1 FROM blocked b
       |         WHERE b.doc_id_1 = e.doc_id_1
       |           AND b.doc_id_2 = e.doc_id_2)) AS n_missed)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_blocked AS BIGINT) AS n_blocked,
       |  CAST(n_missed AS BIGINT) AS n_missed,
       |  CAST(CASE WHEN n_exact = 0 THEN 1000
       |    ELSE ((n_exact - n_missed) * 1000) // n_exact END AS BIGINT)
       |    AS recall_milli
       |FROM stats""".stripMargin

  /** q559 — blocked-join threshold sweep (r17 verdict #5: the q298
    * one-candidate-set/many-θ discipline applied to q554): the banded
    * candidate set computes ONCE — at the loosest swept prefilter
    * (4, 5) so it serves every θ — and is exact-verified ONCE into
    * integer (inter, un); the sweep then re-prices θ ∈ {0.80, 0.85,
    * 0.90, 0.95} as pure integer comparisons (inter·100 ≥ un·θ%)
    * against both the verified candidates and the lossless exact
    * within-block join. Per θ: exact pair count, blocked pair count,
    * the θ-independent verified-candidate volume, and integer recall —
    * the curve that prices the (b, r) = (4, 3) banding against the
    * verify threshold a production dedup pass actually tunes (recall
    * FALLS as θ rises past the banding's S-curve center; the candidate
    * volume is what the banding spends to buy it). Precision is
    * structurally 1 at every θ: emitted pairs pass the same exact
    * integer test on both sides.
    *
    * Scale shape: one corpus scan (the shared materialized base feeds
    * signature, verify arrays, AND the exact join's token explode);
    * the exact join is the q166-quadratic shape and exists here for
    * the same reason as q555's — it is the RULER, run at oracle SFs,
    * not the production path. */
  def q559(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = blockedBase(Tables.documents(s, d))
    val cand = blockedVerify(base,
        blockedCandidates(blockedMd5Sig(base), Dedup.DefaultMaxBucket, 4, 5))
      .transform(Fx.materialize) // consumed by n_cand AND every θ count
    val etoks = base.select($"doc_id", $"source", $"lang",
      explode($"ws").as("w"))
    val elens = base.select($"doc_id", size($"ws").cast("long").as("len"))
    val exact = etoks.as("x").join(etoks.as("y"),
        $"x.w" === $"y.w" && $"x.source" === $"y.source" &&
          $"x.lang" === $"y.lang" && $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("d1"), $"y.doc_id".as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(elens.select($"doc_id".as("d1"), $"len".as("l1")), "d1")
      .join(elens.select($"doc_id".as("d2"), $"len".as("l2")), "d2")
      .select($"d1", $"d2", $"inter", ($"l1" + $"l2" - $"inter").as("un"))
      .filter($"inter" * 5 >= $"un" * 4)
      .transform(Fx.materialize) // consumed once per swept θ
    val rows = Seq(80, 85, 90, 95).map { t =>
      exact.filter($"inter" * 100 >= $"un" * t)
        .agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.filter($"inter" * 100 >= $"un" * t)
          .agg(count(lit(1)).as("n_blocked")))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .select(lit(t.toLong).as("theta_pct"), $"n_exact", $"n_blocked",
          $"n_cand",
          when($"n_exact" === 0, 1000L)
            .otherwise(expr("(n_blocked * 1000) div n_exact"))
            .as("recall_milli"))
    }
    rows.reduce(_ unionByName _).orderBy($"theta_pct")
  }

  val q559Sql: String =
    s"""WITH ${blockedCtes(4, 5)},
       |  th AS (SELECT unnest([80, 85, 90, 95]) AS t),
       |  etoks AS (
       |    SELECT doc_id, source, lang, unnest(ws) AS w FROM wbase),
       |  elens AS (SELECT doc_id, len(ws) AS len FROM wbase),
       |  epairs AS (
       |    SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
       |    FROM etoks x JOIN etoks y ON x.w = y.w
       |      AND x.source = y.source AND x.lang = y.lang
       |      AND x.doc_id < y.doc_id
       |    GROUP BY 1, 2),
       |  exact AS (
       |    SELECT d1, d2, inter, l1.len + l2.len - inter AS un
       |    FROM epairs
       |    JOIN elens l1 ON d1 = l1.doc_id
       |    JOIN elens l2 ON d2 = l2.doc_id
       |    WHERE inter * 5 >= (l1.len + l2.len - inter) * 4),
       |  nc AS (SELECT count(*) AS n_cand FROM bj),
       |  es AS (SELECT th.t, count(e.d1) AS n_exact
       |         FROM th LEFT JOIN exact e ON e.inter * 100 >= e.un * th.t
       |         GROUP BY th.t),
       |  bs AS (SELECT th.t, count(b.d1) AS n_blocked
       |         FROM th LEFT JOIN bj b ON b.inter * 100 >= b.un * th.t
       |         GROUP BY th.t)
       |SELECT CAST(th.t AS BIGINT) AS theta_pct,
       |  CAST(es.n_exact AS BIGINT) AS n_exact,
       |  CAST(bs.n_blocked AS BIGINT) AS n_blocked,
       |  CAST(nc.n_cand AS BIGINT) AS n_cand,
       |  CAST(CASE WHEN es.n_exact = 0 THEN 1000
       |    ELSE (bs.n_blocked * 1000) // es.n_exact END AS BIGINT)
       |    AS recall_milli
       |FROM th JOIN es ON th.t = es.t JOIN bs ON th.t = bs.t CROSS JOIN nc
       |ORDER BY theta_pct""".stripMargin

  /** q561 — blocked-join BANDING grid (the other half of the pricing
    * q559 opened: q559 sweeps the verify threshold θ at the fixed
    * production (4, 3) banding; this sweeps the banding at the fixed
    * θ = 0.9): the 12-hash md5-family signature set computes ONCE and
    * is re-banded as (bands × rows/band) ∈ {2×6, 3×4, 4×3, 6×2} — the
    * four factorizations of 12 — each with the same cap and lossless
    * (9, 10) prefilter, each exact-verified. Per config: raw candidate
    * volume (what the banding spends), verified pairs at θ = 0.9 (what
    * it catches), the config-independent exact pair count, and integer
    * recall. The theoretical S-curve P(cand | J=0.9) runs 0.78 (2×6) →
    * 0.96 (3×4) → 0.994 (4×3) → 0.9999 (6×2) while candidate volume
    * rises with band count — this query turns that textbook curve into
    * a measured, oracle-checked readout on the corpus the parameters
    * will actually run on.
    *
    * Scale shape: one corpus scan (materialized base), one signature
    * aggregation (materialized — re-banded four ways without
    * recomputing a hash), four capped band shuffles on 12 total band
    * rows per doc — the SAME total band-row volume as running the
    * production config four times, NOT 4× the signature work. The
    * exact ruler is the q559/q555 token join, verification-scale only. */
  def q561(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = blockedBase(Tables.documents(s, d))
    val sig = blockedMd5Sig(base).transform(Fx.materialize)
    val etoks = base.select($"doc_id", $"source", $"lang",
      explode($"ws").as("w"))
    val elens = base.select($"doc_id", size($"ws").cast("long").as("len"))
    val exactN = etoks.as("x").join(etoks.as("y"),
        $"x.w" === $"y.w" && $"x.source" === $"y.source" &&
          $"x.lang" === $"y.lang" && $"x.doc_id" < $"y.doc_id")
      .groupBy($"x.doc_id".as("d1"), $"y.doc_id".as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(elens.select($"doc_id".as("d1"), $"len".as("l1")), "d1")
      .join(elens.select($"doc_id".as("d2"), $"len".as("l2")), "d2")
      .filter($"inter" * 10 >= ($"l1" + $"l2" - $"inter") * 9)
      .agg(count(lit(1)).as("n_exact"))
    val rows = Seq((2, 6), (3, 4), (4, 3), (6, 2)).map { case (b, r) =>
      blockedVerify(base,
          blockedCandidates(sig, Dedup.DefaultMaxBucket, 9, 10, b, r))
        .agg(count(lit(1)).as("n_cand"),
          coalesce(sum(when($"inter" * 10 >= $"un" * 9, 1L).otherwise(0L)),
            lit(0L)).as("n_pairs"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          $"n_cand", $"n_pairs")
    }
    rows.reduce(_ unionByName _)
      .crossJoin(exactN)
      .select($"bands", $"rows_per_band", $"n_cand", $"n_pairs", $"n_exact",
        when($"n_exact" === 0, 1000L)
          .otherwise(expr("(n_pairs * 1000) div n_exact"))
          .as("recall_milli"))
      .orderBy($"bands")
  }

  val q561Sql: String = {
    val cfgs = Seq((2, 6), (3, 4), (4, 3), (6, 2))
    def cfgCtes(b: Int, r: Int): String = {
      val sel = (1 to b).map { k =>
        val hs = ((k - 1) * r + 1 to k * r).map(i => s"h$i").mkString(" || ")
        s"SELECT doc_id, len, source, lang, $k AS band_idx, $hs AS band_hash FROM sig"
      }.mkString("\n    UNION ALL\n    ")
      s"""bands_${b}x$r AS (
         |    $sel),
         |  okb_${b}x$r AS (
         |    SELECT band_idx, band_hash, source, lang FROM bands_${b}x$r
         |    GROUP BY 1, 2, 3, 4 HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
         |  gated_${b}x$r AS (
         |    SELECT bands_${b}x$r.* FROM bands_${b}x$r
         |    JOIN okb_${b}x$r USING (band_idx, band_hash, source, lang)),
         |  cnt_${b}x$r AS (
         |    SELECT $b AS bands, $r AS rows_per_band,
         |      count(*) AS n_cand,
         |      COALESCE(sum(CASE WHEN inter * 10 >= un * 9 THEN 1 ELSE 0 END), 0)
         |        AS n_pairs
         |    FROM (
         |      SELECT CAST(len(list_intersect(wa.ws, wb.ws)) AS BIGINT) AS inter,
         |        CAST(len(wa.ws) + len(wb.ws)
         |          - len(list_intersect(wa.ws, wb.ws)) AS BIGINT) AS un
         |      FROM (
         |        SELECT DISTINCT l.doc_id AS d1, rr.doc_id AS d2
         |        FROM gated_${b}x$r l JOIN gated_${b}x$r rr
         |          ON l.band_idx = rr.band_idx AND l.band_hash = rr.band_hash
         |         AND l.source = rr.source AND l.lang = rr.lang
         |         AND l.doc_id < rr.doc_id
         |         AND greatest(l.len, rr.len) * 9 <= least(l.len, rr.len) * 10) c
         |      JOIN wbase wa ON c.d1 = wa.doc_id
         |      JOIN wbase wb ON c.d2 = wb.doc_id) v)""".stripMargin
    }
    val unionCnt = cfgs.map { case (b, r) => s"SELECT * FROM cnt_${b}x$r" }
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $blockedSigCtes,
       |  ${cfgs.map { case (b, r) => cfgCtes(b, r) }.mkString(",\n  ")},
       |  etoks AS (
       |    SELECT doc_id, source, lang, unnest(ws) AS w FROM wbase),
       |  elens AS (SELECT doc_id, len(ws) AS len FROM wbase),
       |  epairs AS (
       |    SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
       |    FROM etoks x JOIN etoks y ON x.w = y.w
       |      AND x.source = y.source AND x.lang = y.lang
       |      AND x.doc_id < y.doc_id
       |    GROUP BY 1, 2),
       |  exn AS (
       |    SELECT count(*) AS n_exact
       |    FROM epairs
       |    JOIN elens l1 ON d1 = l1.doc_id
       |    JOIN elens l2 ON d2 = l2.doc_id
       |    WHERE inter * 10 >= (l1.len + l2.len - inter) * 9)
       |SELECT CAST(c.bands AS BIGINT) AS bands,
       |  CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
       |  CAST(c.n_cand AS BIGINT) AS n_cand,
       |  CAST(c.n_pairs AS BIGINT) AS n_pairs,
       |  CAST(exn.n_exact AS BIGINT) AS n_exact,
       |  CAST(CASE WHEN exn.n_exact = 0 THEN 1000
       |    ELSE (c.n_pairs * 1000) // exn.n_exact END AS BIGINT)
       |    AS recall_milli
       |FROM ($unionCnt) c CROSS JOIN exn
       |ORDER BY bands""".stripMargin
  }

  def all: Seq[QueryDef] = Seq(
    QueryDef("q554_blocked_set_join", q554, Some(q554Sql), bench = true),
    QueryDef("q555_blocked_recall", q555, Some(q555Sql)),
    QueryDef("q559_blocked_threshold_sweep", q559, Some(q559Sql)),
    QueryDef("q561_blocked_banding_grid", q561, Some(q561Sql)),
    QueryDef("q562_incremental_blocked_join", q562, Some(q562Sql)),
    QueryDef("q313_fuzzy_title_join", q313, Some(q313Sql)),
    QueryDef("q290_tfidf_similarity_join", q290, Some(q290Sql)),
    QueryDef("q164_bigram_lm_score", q164, Some(q164Sql), bench = true),
    QueryDef("q165_inverted_index", q165, Some(q165Sql)),
    QueryDef("q166_prefix_jaccard_join", q166, Some(q166Sql), bench = true),
    QueryDef("q167_dense_ids", q167, Some(q167Sql)),
    QueryDef("q168_bottomk_sample", q168, Some(q168Sql)),
    QueryDef("q173_term_cooccurrence", q173, Some(q173Sql)))
}
