package graft.operators

import graft.{Fx, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.GraftFunctions.md5_fast

/** Oracle-checked dedup queries over `documents`: exact hash dedup,
  * MinHash signatures, LSH banding, candidate pairs with Jaccard
  * verification, and n-gram Jaccard on adjacent pairs.
  */
object DedupQueries {
  import Fx._

  /** Exact dedup (keep-min-id) — before/after counts per source. */
  def q50(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val total = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .groupBy($"source").agg(count(lit(1)).as("n_after_dedup"))
    total.join(kept, "source").orderBy($"source")
  }

  val q50Sql: String =
    """WITH kept AS (
      |  SELECT source, count(*) AS n_after_dedup FROM (
      |    SELECT source, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM documents) t WHERE rn = 1 GROUP BY source),
      |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
      |SELECT tot.source AS source, n_docs, n_after_dedup
      |FROM tot JOIN kept ON tot.source = kept.source
      |ORDER BY source""".stripMargin

  private val nHashes = 6

  /** MinHash signature computation (word-bigram shingles, 6 hashes). */
  def q51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.minhashSignatureWords(Tables.documents(s, d), "doc_id", "text", nHashes)
      .orderBy($"doc_id")
  }

  /** Shared signature CTE for the oracle side (mirrors
    * Dedup.minhashSignatureWords: word-bigram shingles, ONE md5 per
    * shingle whose two leading 32-bit chunks seed the
    * Kirsch-Mitzenmacher family h_i = (a1 + i·a2) mod 2^32; integer
    * mins, fixed-width lowercase hex formatted after the agg). */
  private val sigSql: String = {
    val hexed = (1 to 6).map(i =>
      s"lower(lpad(to_hex(min((a1 + $i * a2) % 4294967296)), 8, '0')) AS h$i")
      .mkString(",\n    ")
    s"""sig AS (
       |  SELECT doc_id,
       |    $hexed
       |  FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(d, 1, 8))::BIGINT AS a1,
       |      ('0x' || substr(d, 9, 8))::BIGINT AS a2
       |    FROM (
       |      SELECT doc_id, md5(sh) AS d FROM (
       |        SELECT doc_id, unnest(list_distinct(list_transform(
       |          range(1, len(string_split(text, ' '))),
       |          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))) AS sh
       |        FROM documents) q) r) s
       |  GROUP BY doc_id)""".stripMargin
  }

  val q51Sql: String =
    s"""WITH $sigSql
       |SELECT doc_id, h1, h2, h3, h4, h5, h6 FROM sig ORDER BY doc_id""".stripMargin

  private val bandsSql: String =
    """bands AS (
      |  SELECT doc_id, 1 AS band_idx, h1 || h2 || h3 AS band_hash FROM sig
      |  UNION ALL
      |  SELECT doc_id, 2 AS band_idx, h4 || h5 || h6 AS band_hash FROM sig)""".stripMargin

  /** Mirrors Dedup.candidatePairs incl. the bucket-size cap. */
  private val pairsSql: String =
    s"""okb AS (
       |  SELECT band_idx, band_hash FROM bands
       |  GROUP BY band_idx, band_hash HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
       |gated AS (SELECT bands.* FROM bands JOIN okb USING (band_idx, band_hash)),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM gated l JOIN gated r
       |    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       |   AND l.doc_id < r.doc_id)""".stripMargin

  /** LSH band buckets with ≥2 docs (the near-dup candidate clusters). */
  def q52(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = Dedup.minhashSignatureWords(Tables.documents(s, d), "doc_id", "text", nHashes)
    Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
      .groupBy($"band_idx", $"band_hash")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .filter($"n_docs" >= 2)
      .orderBy($"band_idx", $"band_hash")
  }

  val q52Sql: String =
    s"""WITH $sigSql, $bandsSql
       |SELECT band_idx, band_hash, count(*) AS n_docs,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM bands GROUP BY band_idx, band_hash HAVING count(*) >= 2
       |ORDER BY band_idx, band_hash""".stripMargin

  /** Candidate pairs from shared LSH buckets, verified with word-set
    * Jaccard; near-dups at ≥ 0.6. */
  def q53(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19: ONE corpus scan + split feeds the signature pipeline AND
    // both exact-verify word-set sides (previously three independent
    // scan+split subtrees — the q552 first-draft class). wordSet(text)
    // ≡ array_distinct(split(text)) on the shared array, so the verify
    // values are bit-identical.
    val base = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("__w"))
      .transform(graft.Fx.materialize)
    val sig = Dedup.minhashSignatureFromWords(base, "doc_id", "__w", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = base.select($"doc_id".as("a"), array_distinct($"__w").as("wa"))
    val db = base.select($"doc_id".as("b"), array_distinct($"__w").as("wb"))
    pairs.join(da, "a").join(db, "b")
      .withColumn("jac", Dedup.jaccard($"wa", $"wb"))
      .filter($"jac" >= 0.6)
      .select($"a", $"b", r6($"jac").as("jac"))
      .orderBy($"a", $"b")
  }

  val q53Sql: String =
    s"""WITH $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
       |j AS (
       |  SELECT a, b,
       |    CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |      (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) AS jac
       |  FROM pairs JOIN ws wa ON pairs.a = wa.doc_id
       |             JOIN ws wb ON pairs.b = wb.doc_id)
       |SELECT a, b, ${sqlR6("jac")} AS jac FROM j WHERE jac >= 0.6
       |ORDER BY a, b""".stripMargin

  /** Word-bigram vs word-set Jaccard on adjacent doc pairs. */
  def q54(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", split($"text", " ").as("w"))
    val a = docs.select($"doc_id".as("a"),
      array_distinct($"w").as("wa"), Dedup.bigramsFromWords($"w").as("ba"))
    val b = docs.select($"doc_id".as("b"),
      array_distinct($"w").as("wb"), Dedup.bigramsFromWords($"w").as("bb"))
    a.join(b, $"b" === $"a" + 1)
      .select($"a", $"b",
        r6(Dedup.jaccard($"wa", $"wb")).as("jac_word"),
        r6(Dedup.jaccard($"ba", $"bb")).as("jac_bigram"))
      .orderBy($"a")
  }

  val q54Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS w,
       |    list_distinct(list_transform(range(1, len(string_split(text, ' '))),
       |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bg
       |  FROM documents)
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  ${sqlR6("CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) / (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)))")} AS jac_word,
       |  ${sqlR6("CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE) / (len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)))")} AS jac_bigram
       |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
       |ORDER BY a""".stripMargin

  /** MinHash estimator quality: on adjacent doc pairs, the fraction of
    * agreeing signature components estimates the bigram-shingle Jaccard
    * (the property LSH banding relies on). Emitting both the estimate
    * and the true Jaccard makes the estimator itself oracle-verified. */
  def q87(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val ha = sig.select($"doc_id".as("a") +: (1 to nHashes).map(i => col(s"h$i").as(s"a_h$i")): _*)
    val hb = sig.select($"doc_id".as("b") +: (1 to nHashes).map(i => col(s"h$i").as(s"b_h$i")): _*)
    val agree = (1 to nHashes).map(i =>
      when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0)).reduce(_ + _)
    val w = docs.select($"doc_id", split($"text", " ").as("w"))
    val ba = w.select($"doc_id".as("a"), Dedup.bigramsFromWords($"w").as("ba"))
    val bb = w.select($"doc_id".as("b"), Dedup.bigramsFromWords($"w").as("bb"))
    ha.join(hb, $"b" === $"a" + 1)
      .join(ba, "a").join(bb, "b")
      .select($"a", $"b",
        r6(agree.cast("double") / nHashes).as("est_jac"),
        r6(Dedup.jaccard($"ba", $"bb")).as("true_jac"))
      .orderBy($"a")
  }

  val q87Sql: String =
    s"""WITH $sigSql,
       |bg AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(string_split(text, ' '))),
       |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS b
       |  FROM documents)
       |SELECT sa.doc_id AS a, sb.doc_id AS b,
       |  ${sqlR6("(" + (1 to nHashes).map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ") + s") / ${nHashes}.0")} AS est_jac,
       |  ${sqlR6("CAST(len(list_intersect(ga.b, gb.b)) AS DOUBLE) / (len(ga.b) + len(gb.b) - len(list_intersect(ga.b, gb.b)))")} AS true_jac
       |FROM sig sa JOIN sig sb ON sb.doc_id = sa.doc_id + 1
       |JOIN bg ga ON ga.doc_id = sa.doc_id
       |JOIN bg gb ON gb.doc_id = sb.doc_id
       |ORDER BY a""".stripMargin

  /** Dedup savings report: chars kept vs dropped per source after
    * exact dedup — the number a data-curation run actually publishes
    * (storage/compute saved downstream). */
  def q89(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("chars_kept"))
    docs.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars_total"))
      .join(kept, "source")
      .select($"source", $"n_docs", $"n_kept",
        $"chars_total".cast("long").as("chars_total"),
        $"chars_kept".cast("long").as("chars_kept"),
        r4(($"chars_total" - $"chars_kept").cast("double") / $"chars_total")
          .as("savings_frac"))
      .orderBy($"source")
  }

  val q89Sql: String =
    s"""WITH kept AS (
       |  SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
       |  FROM (
       |    SELECT source, n_chars,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM documents) t WHERE rn = 1 GROUP BY source),
       |tot AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_total
       |  FROM documents GROUP BY source)
       |SELECT tot.source AS source, n_docs, n_kept, chars_total, chars_kept,
       |  ${sqlR4("CAST(chars_total - chars_kept AS DOUBLE) / chars_total")} AS savings_frac
       |FROM tot JOIN kept ON tot.source = kept.source
       |ORDER BY source""".stripMargin

  /** Near-dup clusters: LSH candidates ≥0.6 Jaccard → connected
    * components (GraphX; oracle = recursive-CTE transitive closure,
    * both labeling components by min doc_id). */
  def q57(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val nearDup = pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select($"a", $"b")
    val clusters = Dedup.dupClusters(nearDup)
    val sizes = clusters.groupBy($"component").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "component")
      .select($"doc_id", $"component", $"cluster_size")
      .orderBy($"doc_id")
  }

  val q57Sql: String =
    s"""WITH RECURSIVE $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
       |nd AS (
       |  SELECT a, b FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |        (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6),
       |edges AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src),
       |sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
       |SELECT comp.doc_id, comp.component, sizes.cluster_size
       |FROM comp JOIN sizes ON comp.component = sizes.component
       |ORDER BY doc_id""".stripMargin

  /** q256 — the same near-dup clustering as q57, computed WITHOUT
    * GraphX: connected components via the alternating large-star /
    * small-star DataFrame loop ([[Dedup.ccAlternatingStar]], Kiveris
    * et al. SoCC'14). Differential-testing value: two independent
    * algorithms (Pregel label propagation vs alternating star
    * contraction) and one recursive-CTE oracle must all agree on every
    * component label. Engine value at 100 TB: the star loop needs
    * O(log² n) rounds where Pregel needs Θ(diameter) supersteps, stays
    * entirely in Tungsten/whole-stage-codegen (GraphX drops each
    * iteration to RDD tuples), and its working set SHRINKS every round
    * toward one edge per node, so the tail rounds are metadata-sized.
    * Identical output contract to q57: (doc_id, component = min id in
    * the component, cluster_size). */
  def q256(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val nearDup = pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select($"a", $"b")
    val clusters = Dedup.ccAlternatingStar(nearDup)
    val sizes = clusters.groupBy($"component").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "component")
      .select($"doc_id", $"component", $"cluster_size")
      .orderBy($"doc_id")
  }

  /** Same semantics, same oracle text as q57 — the point IS that a
    * different algorithm hash-matches it. */
  val q256Sql: String = q57Sql

  /** q264 — INCREMENTAL dup-cluster maintenance proven equal to the
    * batch recompute: the near-dup edge set splits deterministically
    * into a "yesterday" base (≈ 80%) and a "today" increment; the base
    * clusters via the alternating-star loop, the increment folds in
    * through [[Dedup.ccIncremental]] — whose work is sized by the
    * DELTA (CC over the label graph of the new edges, plus relabel
    * joins), not the corpus — and the result hash-matches q57's
    * full-recompute oracle over ALL edges. This is the operational
    * form of the dedup ledger at 100 TB: absorb the hourly crawl
    * increment instead of re-clustering the corpus. */
  def q264(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val nearDup = pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select($"a", $"b")
      .transform(graft.Fx.materialize)
    val oldE = nearDup.filter(pmod($"a" * 31 + $"b", lit(5)) < 4)
    val newE = nearDup.filter(pmod($"a" * 31 + $"b", lit(5)) === 4)
    val base = Dedup.ccAlternatingStar(oldE)
    val clusters = Dedup.ccIncremental(base, newE)
    val sizes = clusters.groupBy($"component").agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, "component")
      .select($"doc_id", $"component", $"cluster_size")
      .orderBy($"doc_id")
  }

  /** The batch full-recompute oracle — incremental must equal it. */
  val q264Sql: String = q57Sql

  /** q263 — winnowing document fingerprints (Schleimer, Wilkerson &
    * Aiken, SIGMOD'03 — the MOSS algorithm): slide a w=4 window over a
    * doc's word-3-gram hashes and keep each window's MINIMUM hash
    * (ties → rightmost), deduplicated. The selection guarantee — any
    * shared run of ≥ w+k−1 tokens yields at least one shared
    * fingerprint — is what makes winnowing the standard
    * plagiarism/near-copy detector: ~1/w of the grams represent the
    * document, with matches still POSITIONAL (unlike MinHash's
    * set-level estimate, q51-q53). The report: document pairs sharing
    * ≥ 2 selected fingerprints, with stop-grams (document frequency
    * > 10) dropped before pairing — the q165 capped-postings
    * discipline, which also bounds the fingerprint-bucket join.
    *
    * Determinism: gram hashes ride the shared md5 grid; the
    * rightmost-min rule is total (tie key (h, −pos) is unique within
    * a doc), so both engines select identical fingerprint sets.
    * Scale shape: the selection window partitions by doc_id (high
    * cardinality, frame bounded at 4 rows); the pair join buckets on
    * the fingerprint hash with the df cap bounding bucket width. */
  def q263(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val docs = Tables.documents(s, d)
    val grams = docs
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", explode(
        when(size($"w") >= 3,
          transform(sequence(lit(1), size($"w") - 2),
            i => struct(i.as("pos"),
              Fx.md5Prefix(concat_ws(" ", element_at($"w", i),
                element_at($"w", i + 1), element_at($"w", i + 2)), 15).as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:bigint>>"))).as("g"))
      .select($"doc_id", $"g.pos".as("pos"), $"g.h".as("h"))
    val frame = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(-3, Window.currentRow)
    val fp = grams
      .withColumn("sel",
        min_by(struct($"pos".as("p"), $"h".as("hh")),
          struct($"h", (-$"pos").as("np"))).over(frame))
      .filter($"pos" >= 4)
      .select($"doc_id", $"sel.p".as("p"), $"sel.hh".as("h"))
      .distinct()
    val dfh = fp.groupBy($"h")
      .agg(countDistinct($"doc_id").as("df"))
    val good = fp.join(dfh, "h").filter($"df" <= 10)
      .select($"doc_id", $"h")
    val a = good.select($"doc_id".as("a"), $"h")
    val b = good.select($"doc_id".as("b"), $"h")
    a.join(b, "h").filter($"a" < $"b")
      .groupBy($"a", $"b")
      .agg(countDistinct($"h").as("shared"))
      .filter($"shared" >= 2)
      .orderBy($"a", $"b")
  }

  val q263Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id, i AS pos,
      |    ('0x' || substr(md5(array_to_string(w[i:i+2], ' ')), 1, 15))::BIGINT AS h
      |  FROM w, LATERAL (SELECT unnest(range(1, greatest(len(w) - 1, 1))) AS i) t),
      |sel AS (
      |  SELECT doc_id, p, h FROM (
      |    SELECT a.doc_id, a.pos AS i, b.pos AS p, b.h,
      |      row_number() OVER (PARTITION BY a.doc_id, a.pos
      |        ORDER BY b.h, b.pos DESC) AS rn
      |    FROM grams a JOIN grams b
      |      ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos - 3 AND a.pos
      |    WHERE a.pos >= 4) t WHERE rn = 1),
      |fp AS (SELECT DISTINCT doc_id, p, h FROM sel),
      |dfh AS (SELECT h, count(DISTINCT doc_id) AS df FROM fp GROUP BY h),
      |good AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfh USING (h) WHERE df <= 10)
      |SELECT a.doc_id AS a, b.doc_id AS b,
      |  CAST(count(DISTINCT a.h) AS BIGINT) AS shared
      |FROM good a JOIN good b ON a.h = b.h AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(DISTINCT a.h) >= 2
      |ORDER BY a, b""".stripMargin

  /** q142 — leakage-safe train/eval split: documents are assigned to
    * splits by a hash of their near-dup CLUSTER (q57's connected
    * components; singletons cluster as themselves), never of the doc
    * id — so two near-duplicate documents can never land on opposite
    * sides of the split, the classic eval-contamination failure of
    * doc-level random splits. The output carries the audit inline:
    * `cross_split_pairs` counts near-dup pairs straddling the split
    * and is 0 BY CONSTRUCTION (the oracle recomputes it from scratch).
    *
    * Scale shape: the split decision is one hash on the component id
    * (no extra shuffle past the clustering); the audit join is on the
    * (a, b) pair relation, hash-partitioned by doc id. */
  def q142(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val nearDup = pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select($"a", $"b")
    val clusters = Dedup.dupClusters(nearDup)
    val assigned = docs.select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"component", $"doc_id").as("component"))
      .withColumn("split",
        when(pmod(Fx.md5Prefix($"component".cast("string"), 8), lit(10L)) === 0L, "eval")
          .otherwise("train"))
    val leaks = nearDup
      .join(assigned.select($"doc_id".as("a"), $"split".as("split_a")), "a")
      .join(assigned.select($"doc_id".as("b"), $"split".as("split_b")), "b")
      .agg(sum(when($"split_a" =!= $"split_b", 1L).otherwise(0L))
        .as("cross_split_pairs"))
      .select(coalesce($"cross_split_pairs", lit(0L)).as("cross_split_pairs"))
    assigned.groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"component").as("n_clusters"))
      .crossJoin(broadcast(leaks))
      .orderBy($"split")
  }

  val q142Sql: String =
    s"""WITH RECURSIVE $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
       |nd AS (
       |  SELECT a, b FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |        (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6),
       |edges AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src),
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
       |         THEN 'eval' ELSE 'train' END AS split
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
       |leaks AS (
       |  SELECT CAST(COALESCE(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0) AS BIGINT)
       |    AS cross_split_pairs
       |  FROM nd JOIN assigned sa ON nd.a = sa.doc_id
       |          JOIN assigned sb ON nd.b = sb.doc_id)
       |SELECT split, count(*) AS n_docs,
       |  CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
       |  cross_split_pairs
       |FROM assigned CROSS JOIN leaks
       |GROUP BY split, cross_split_pairs
       |ORDER BY split""".stripMargin

  /** q143 — cross-source duplication matrix: near-dup pair counts per
    * (source, source) cell — the governance report that tells a corpus
    * owner WHICH feeds duplicate each other (mirror sites, scrape
    * overlap) rather than just how many dups exist. Pairs come from
    * the same capped LSH pipeline as q53; sources join in AFTER the
    * pair relation is built (two hash joins on doc id), and the cell
    * key is order-normalized (least/greatest) so A×B and B×A count as
    * one cell. */
  def q143(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), $"source".as("src_a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), $"source".as("src_b"), Dedup.wordSet($"text").as("wb"))
    pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select(least($"src_a", $"src_b").as("src_lo"),
        greatest($"src_a", $"src_b").as("src_hi"))
      .groupBy($"src_lo", $"src_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"n_pairs".desc, $"src_lo", $"src_hi")
  }

  val q143Sql: String =
    s"""WITH $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS w FROM documents),
       |nd AS (
       |  SELECT least(wa.source, wb.source) AS src_lo,
       |         greatest(wa.source, wb.source) AS src_hi
       |  FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |        (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6)
       |SELECT src_lo, src_hi, count(*) AS n_pairs
       |FROM nd GROUP BY src_lo, src_hi
       |ORDER BY n_pairs DESC, src_lo, src_hi""".stripMargin

  // ---- embedding-cosine near-dup (q58/q59) ---------------------------

  private val nearDupBits = 8
  private val nearDupThreshold = 0.35 // synthetic embeddings top out ~0.51

  /** Embedding-cosine near-dup pairs: sign-bucket LSH + capped
    * self-join + exact cosine verify (threshold tuned so the synthetic
    * corpus yields a non-trivial pair set — the semantics are
    * threshold-parametric). */
  def q58(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.embeddingNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        nearDupBits, nearDupThreshold)
      .select($"a_id", $"b_id", r6($"cos").as("cos_sim"))
      .orderBy($"a_id", $"b_id")
  }

  /** Shared oracle CTEs: bucketed embeddings + verified pairs. */
  private val embPairsSql: String = {
    val bucket = Similarity.sqlSignBucket("embedding", nearDupBits)
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, $bucket AS bucket
       |  FROM embeddings),
       |okb AS (SELECT bucket FROM e GROUP BY bucket
       |        HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
       |gated AS (SELECT e.* FROM e JOIN okb ON e.bucket = okb.bucket),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    list_dot_product(a.v, b.v) /
       |      sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
       |  FROM gated a JOIN gated b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |nd AS (SELECT a_id, b_id, cos FROM pairs WHERE cos >= $nearDupThreshold)""".stripMargin
  }

  val q58Sql: String =
    s"""WITH $embPairsSql
       |SELECT a_id, b_id, ${sqlR6("cos")} AS cos_sim
       |FROM nd ORDER BY a_id, b_id""".stripMargin

  /** Near-dup retention per label: total vectors vs vectors kept after
    * dropping the higher id of every verified near-dup pair (keep-min
    * greedy — the standard first pass before full clustering). */
  def q59(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding",
      nearDupBits, nearDupThreshold)
    val dropped = pairs.select($"b_id".as("vec_id")).distinct()
    val kept = emb.join(dropped, Seq("vec_id"), "left_anti")
      .groupBy($"label").agg(count(lit(1)).as("n_kept"))
    emb.groupBy($"label").agg(count(lit(1)).as("n_vecs"))
      .join(kept, "label")
      .orderBy($"label")
  }

  val q59Sql: String =
    s"""WITH $embPairsSql,
       |dropped AS (SELECT DISTINCT b_id FROM nd),
       |kept AS (
       |  SELECT label, count(*) AS n_kept FROM embeddings
       |  WHERE vec_id NOT IN (SELECT b_id FROM dropped)
       |  GROUP BY label),
       |tot AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
       |SELECT tot.label AS label, n_vecs, n_kept
       |FROM tot JOIN kept ON tot.label = kept.label
       |ORDER BY label""".stripMargin

  /** q129 — semantic dedup (SemDeDup-style): q58's embedding near-dup
    * pairs (sign-bucket LSH + exact cosine) resolved by TEXT quality —
    * each pair drops its lower-quality member (tie: higher id). The
    * cross-modal shape is the point: the similarity signal is the
    * embedding, the retention policy reads the document (doc_id and
    * vec_id share the id space by construction of the testdata).
    * Output: one row per dropped doc with its best-keeper and how many
    * pairs condemned it. */
  def q129(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.embeddingNearDupPairs(Tables.embeddings(s, d),
      "vec_id", "embedding", nearDupBits, nearDupThreshold)
    val qual = Tables.documents(s, d).select($"doc_id",
      graft.functions.TextAnalysis.qualityScore($"text").as("q"))
    pairs
      .join(qual.select($"doc_id".as("a_id"), $"q".as("qa")), "a_id")
      .join(qual.select($"doc_id".as("b_id"), $"q".as("qb")), "b_id")
      .select(
        when($"qa" < $"qb", $"a_id").when($"qb" < $"qa", $"b_id")
          .otherwise(greatest($"a_id", $"b_id")).as("drop_id"),
        when($"qa" < $"qb", $"b_id").when($"qb" < $"qa", $"a_id")
          .otherwise(least($"a_id", $"b_id")).as("keep_id"))
      .groupBy($"drop_id")
      .agg(min($"keep_id").as("keep_id"), count(lit(1)).as("n_pairs"))
      .join(qual.select($"doc_id".as("drop_id"), r4($"q").as("dropped_quality")),
        "drop_id")
      .orderBy($"drop_id")
  }

  val q129Sql: String = {
    val qSql = graft.functions.TextAnalysis.sqlQualityScore("text")
    s"""WITH $embPairsSql,
       |qual AS (SELECT doc_id, $qSql AS q FROM documents),
       |res AS (
       |  SELECT
       |    CASE WHEN qa.q < qb.q THEN a_id WHEN qb.q < qa.q THEN b_id
       |         ELSE greatest(a_id, b_id) END AS drop_id,
       |    CASE WHEN qa.q < qb.q THEN b_id WHEN qb.q < qa.q THEN a_id
       |         ELSE least(a_id, b_id) END AS keep_id
       |  FROM nd JOIN qual qa ON nd.a_id = qa.doc_id
       |          JOIN qual qb ON nd.b_id = qb.doc_id),
       |agg AS (SELECT drop_id, min(keep_id) AS keep_id, count(*) AS n_pairs
       |        FROM res GROUP BY drop_id)
       |SELECT agg.drop_id, agg.keep_id, agg.n_pairs,
       |  ${sqlR4("qual.q")} AS dropped_quality
       |FROM agg JOIN qual ON agg.drop_id = qual.doc_id
       |ORDER BY agg.drop_id""".stripMargin
  }

  /** q159 — BFS hop distance to the dup-cluster representative: for
    * every document in a near-dup cluster (q57's edge relation), the
    * component-min doc it canonicalizes to AND how many near-dup hops
    * away it sits — the "duplication chain length" signal (a doc 4
    * hops from its representative survived 4 successive mutations;
    * dedup policies treat it differently from a 1-hop copy).
    *
    * Iterative frontier loop, the q91 pattern: state is one row per
    * node (best root, hops); each round propagates state across the
    * edge relation (both hash-partitioned by node id) and min-merges.
    * The horizon is 8 rounds ON BOTH ENGINES (the oracle's recursive
    * CTE carries the same d < 8 bound), so the semantics stay aligned
    * even on a component wider than the horizon; near-dup clusters
    * here have diameter ≤ 3. The component-min root's wavefront is
    * never pruned by the min-merge (it wins every min), so its hop
    * counts are exact BFS distances. */
  def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val nearDup = pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select($"a", $"b")
    // Materialize the edge relation once (it embeds the whole
    // minhash/LSH/jaccard pipeline) and truncate the state's lineage
    // every round: the loop body references `state` three times, so an
    // unpersisted loop doubles the plan per iteration — 2^8 copies of
    // the LSH pipeline took the sf0.01 driver heap down. At cluster
    // scale the same discipline uses a reliable checkpoint dir.
    val edges = nearDup.union(nearDup.select($"b".as("a"), $"a".as("b")))
      .transform(graft.Fx.materialize)
    val nodes = edges.select($"a".as("node")).distinct()
    var state = nodes.select($"node", $"node".as("root"), lit(0).as("d"))
    for (_ <- 1 to 8) {
      val cand = state.join(edges, $"node" === $"a")
        .select($"b".as("node"), $"root", ($"d" + 1).as("d"))
      val unioned = state.unionByName(cand)
      val minRoot = unioned.groupBy($"node").agg(min($"root").as("root"))
      state = unioned.join(minRoot, Seq("node", "root"))
        .groupBy($"node", $"root").agg(min($"d").as("d"))
        .transform(graft.Fx.materialize)
    }
    state.select($"node".as("doc_id"), $"root", $"d".cast("long").as("hops"))
      .orderBy($"doc_id")
  }

  val q159Sql: String =
    s"""WITH RECURSIVE $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
       |nd AS (
       |  SELECT a, b FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |        (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6),
       |edges AS (SELECT a, b FROM nd UNION SELECT b, a FROM nd),
       |walk(node, root, d) AS (
       |  SELECT a, a, 0 FROM (SELECT DISTINCT a FROM edges) n
       |  UNION
       |  SELECT e.b, w.root, w.d + 1
       |  FROM walk w JOIN edges e ON e.a = w.node WHERE w.d < 8),
       |best AS (SELECT node, min(root) AS root FROM walk GROUP BY node)
       |SELECT w.node AS doc_id, b.root, CAST(min(w.d) AS BIGINT) AS hops
       |FROM walk w JOIN best b ON w.node = b.node AND w.root = b.root
       |GROUP BY w.node, b.root
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q221 — edit-distance ≤ 1 entity join via deletion neighborhoods
  // ------------------------------------------------------------------

  /** q221 — all entity-name pairs within Levenshtein distance 1 via
    * [[Dedup.edit1Pairs]] (FastSS deletion-neighborhood blocking +
    * levenshtein verification — never the n² cross join; mechanism
    * documented on the operator). Output is the full neighbor-count
    * histogram over customer names — including the zero-neighbor
    * bucket via a null-tolerant left join, so the result covers every
    * entity, not just matched ones.
    *
    * Scale shape: neighborhood generation is linear — (len+1) variants
    * per name, each ≤ the name's length — and the candidate join is a
    * plain hash-partitioned equi-join on the variant string whose
    * per-key fan-out is bounded by real collision counts, so the O(n²)
    * quadratic never materializes (the oracle STATES the n² semantics;
    * the engine never executes it). The O(len²) dynamic-programming
    * verify runs only on candidate pairs. */
  def q221(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val names = Tables.customer(s, d).select($"c_name".as("w")).distinct()
      .transform(graft.Fx.materialize) // consumed by variant gen AND the final join
    val pairs = Dedup.edit1Pairs(names, "w")
    val nn = pairs.select($"w1".as("w")).unionAll(pairs.select($"w2".as("w")))
      .groupBy($"w").agg(count(lit(1)).as("nn"))
    names.join(nn, Seq("w"), "left")
      .select(coalesce($"nn", lit(0L)).as("n_neighbors"))
      .groupBy($"n_neighbors").agg(count(lit(1)).as("n_names"))
      .orderBy($"n_neighbors")
  }

  val q221Sql: String =
    """WITH v AS (SELECT DISTINCT c_name AS w FROM customer),
      |p AS (SELECT a.w AS w1, b.w AS w2 FROM v a JOIN v b
      |      ON a.w < b.w AND levenshtein(a.w, b.w) <= 1),
      |ends AS (SELECT w1 AS w FROM p UNION ALL SELECT w2 AS w FROM p),
      |n AS (SELECT w, count(*) AS nn FROM ends GROUP BY w)
      |SELECT CAST(coalesce(n.nn, 0) AS BIGINT) AS n_neighbors,
      |  CAST(count(*) AS BIGINT) AS n_names
      |FROM v LEFT JOIN n USING (w)
      |GROUP BY 1 ORDER BY n_neighbors""".stripMargin

  // ------------------------------------------------------------------
  // q231 — dedup shard locality (why distributed dedup repartitions
  // by content hash)
  // ------------------------------------------------------------------

  /** q231 — measures the operational fact distributed dedup is built
    * on: under id-hash sharding (q228's loader assignment), the
    * members of a duplicate group scatter across shards — so a
    * shard-local dedup pass misses every cross-shard pair — while
    * under content-hash sharding every group is colocated BY
    * CONSTRUCTION and shard-local dedup is exact. The query computes,
    * over all exact-duplicate groups, how many are fully colocated
    * under each scheme, the worst-case scatter, and the share of
    * duplicate documents a shard-local pass would actually catch
    * under id sharding (pairs within a shard / all pairs, summed as
    * exact C(k,2) integers).
    *
    * Scale shape: one shuffle keyed on md5(text) — digests, never
    * text — onto the dup-group relation; the final rollup is a
    * single-row aggregate of that already-small relation. The two
    * shard assignments are scan-time column expressions. */
  def q231(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nSh = 16
    val docs = Tables.documents(s, d).select(
      md5_fast($"text").as("fp"),
      (Fx.md5Prefix(concat($"doc_id".cast("string"), lit("#shard")), 8) % nSh).as("s_id"))
    val groups = docs
      .groupBy($"fp")
      .agg(count(lit(1)).as("k"),
        countDistinct($"s_id").as("spread_id"))
      .filter($"k" > 1)
    val perShard = docs.groupBy($"fp", $"s_id").agg(count(lit(1)).as("m"))
      .groupBy($"fp")
      .agg(sum(expr("m * (m - 1) div 2")).cast("long").as("local_pairs_id"))
    groups.join(perShard, "fp")
      .agg(count(lit(1)).as("n_dup_groups"),
        sum($"k").cast("long").as("n_dup_docs"),
        sum(($"spread_id" === 1).cast("long")).as("colocated_id"),
        max($"spread_id").cast("long").as("max_spread_id"),
        sum(expr("k * (k - 1) div 2")).cast("long").as("all_pairs"),
        sum($"local_pairs_id").as("local_pairs_id"))
      .select($"n_dup_groups", $"n_dup_docs", $"colocated_id",
        $"max_spread_id", $"all_pairs", $"local_pairs_id",
        r6($"local_pairs_id" / $"all_pairs").as("local_catch_rate"))
      .orderBy($"n_dup_groups")
  }

  val q231Sql: String =
    s"""WITH docs AS (
       |  SELECT md5(text) AS fp,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 8))::BIGINT % 16 AS BIGINT) AS s_id
       |  FROM documents),
       |g AS (
       |  SELECT fp, CAST(count(*) AS BIGINT) AS k,
       |    CAST(count(DISTINCT s_id) AS BIGINT) AS spread_id
       |  FROM docs GROUP BY fp HAVING count(*) > 1),
       |ps AS (
       |  SELECT fp, CAST(sum(m * (m - 1) // 2) AS BIGINT) AS local_pairs_id
       |  FROM (SELECT fp, s_id, CAST(count(*) AS BIGINT) AS m
       |        FROM docs GROUP BY fp, s_id) t
       |  GROUP BY fp)
       |SELECT CAST(count(*) AS BIGINT) AS n_dup_groups,
       |  CAST(sum(k) AS BIGINT) AS n_dup_docs,
       |  CAST(sum(CASE WHEN spread_id = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS colocated_id,
       |  CAST(max(spread_id) AS BIGINT) AS max_spread_id,
       |  CAST(sum(k * (k - 1) // 2) AS BIGINT) AS all_pairs,
       |  CAST(sum(local_pairs_id) AS BIGINT) AS local_pairs_id,
       |  ${sqlR6("CAST(sum(local_pairs_id) AS BIGINT) / CAST(sum(k * (k - 1) // 2) AS BIGINT)")}
       |    AS local_catch_rate
       |FROM g JOIN ps USING (fp)
       |ORDER BY n_dup_groups""".stripMargin

  /** q298 — dedup threshold sensitivity sweep: the operational
    * readout BEFORE anyone picks "the" near-dup threshold. Over the
    * one LSH candidate set (computed once, exact Jaccard attached
    * once), the edge set re-filters at θ ∈ {0.6, 0.7, 0.8, 0.9} and
    * each level re-clusters — emitting edges, touched docs, cluster
    * count and the largest cluster per θ. The curve's shape is the
    * decision: a largest-cluster explosion between two thresholds
    * means the lower one is chaining unrelated docs through hubs.
    * Jaccard is an exact rational quotient, so threshold comparisons
    * are bit-identical cross-engine; clusters ride the alternating-
    * star CC per level, min-id labels.
    *
    * Scale shape: candidates and exact similarities compute ONCE
    * (the expensive part); the sweep re-runs only edge filtering +
    * CC on the (much smaller) near-dup edge set — 4× the CC cost,
    * not 4× the corpus cost. The oracle's recursive CTE carries θ
    * as a column, one closure for all levels. */
  def q298(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val jp = pairs.join(da, "a").join(db, "b")
      .select($"a", $"b", Dedup.jaccard($"wa", $"wb").as("jc"))
      .transform(graft.Fx.materialize)
    val rows = Seq(0.6, 0.7, 0.8, 0.9).map { t =>
      val edges = jp.filter($"jc" >= t).select($"a", $"b")
      val cc = Dedup.ccAlternatingStar(edges)
      val sizes = cc.groupBy($"component").agg(count(lit(1)).as("sz"))
      val eStats = edges.agg(count(lit(1)).as("n_edges"))
      val cStats = cc.agg(count(lit(1)).as("n_dup_docs"))
      val kStats = sizes.agg(count(lit(1)).as("n_clusters"),
        coalesce(max($"sz"), lit(0L)).as("largest_cluster"))
      eStats.crossJoin(cStats).crossJoin(kStats)
        .select(lit(t).as("threshold"), $"n_edges", $"n_dup_docs",
          $"n_clusters", $"largest_cluster")
    }
    rows.reduce(_ unionByName _).orderBy($"threshold")
  }

  val q298Sql: String =
    s"""WITH RECURSIVE $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
       |jp AS (
       |  SELECT a, b,
       |    CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |      (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) AS jc
       |  FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id),
       |th AS (SELECT unnest([0.6, 0.7, 0.8, 0.9]) AS t),
       |ed AS (SELECT th.t, jp.a, jp.b FROM jp CROSS JOIN th WHERE jp.jc >= th.t),
       |edges AS (SELECT t, a, b FROM ed UNION SELECT t, b, a FROM ed),
       |reach(t, src, dst) AS (
       |  SELECT t, a, b FROM edges
       |  UNION
       |  SELECT r.t, r.src, e.b FROM reach r
       |    JOIN edges e ON r.t = e.t AND r.dst = e.a),
       |comp AS (
       |  SELECT t, src, least(src, min(dst)) AS c
       |  FROM reach GROUP BY t, src),
       |sizes AS (SELECT t, c, count(*) AS sz FROM comp GROUP BY t, c),
       |es AS (SELECT t, count(*) AS n_edges FROM ed GROUP BY t),
       |cs AS (SELECT t, count(*) AS n_dup_docs FROM comp GROUP BY t),
       |ks AS (SELECT t, count(*) AS n_clusters, max(sz) AS largest_cluster
       |       FROM sizes GROUP BY t)
       |SELECT th.t AS threshold,
       |  CAST(COALESCE(es.n_edges, 0) AS BIGINT) AS n_edges,
       |  CAST(COALESCE(cs.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       |  CAST(COALESCE(ks.n_clusters, 0) AS BIGINT) AS n_clusters,
       |  CAST(COALESCE(ks.largest_cluster, 0) AS BIGINT) AS largest_cluster
       |FROM th
       |LEFT JOIN es ON th.t = es.t
       |LEFT JOIN cs ON th.t = cs.t
       |LEFT JOIN ks ON th.t = ks.t
       |ORDER BY threshold""".stripMargin

  /** q299 — LSH banding recall scorecard: how many true near-dup
    * pairs does the production 2-band × 3-row banding actually catch?
    * The reference truth is the HIGH-RECALL configuration of the same
    * six minhashes — 6 bands × 1 row, candidate = any shared hash,
    * P(candidate) = 1−(1−J)⁶ ≥ 0.996 at J ≥ 0.6 — with every
    * candidate VERIFIED by exact Jaccard, so the truth set is exact
    * over the 6×1 candidate universe (stated; the standard LSH-tuning
    * methodology — you measure a cheap config against the expensive
    * one, not against all pairs). Per θ ∈ {0.6, 0.7, 0.8}: true
    * pairs, pairs the production banding also surfaced, and recall
    * as one micro division. This is the number that justifies (or
    * indicts) the bucket/band parameters every 100 TB dedup run
    * hardcodes.
    *
    * Scale shape: both candidate sets ride the capped bucket join
    * (hot buckets truncate identically in both engines); exact
    * verification touches only candidate pairs. */
  def q299(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
      .transform(graft.Fx.materialize)
    val truthCand = Dedup.candidatePairs(
      Dedup.lshBands(sig, "doc_id", nBands = 6, rowsPerBand = 1), "doc_id")
    val prodCand = Dedup.candidatePairs(
      Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3), "doc_id")
      .withColumn("caught", lit(1L))
    // truth similarity over the SAME feature set the sketches hash —
    // bigram shingles; word-set Jaccard here would measure the feature
    // mismatch, not the banding
    // words projected before the bigram lambda reads them (inline
    // split under a HOF re-evaluates per element — the q300 lesson)
    val sh = docs.select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id",
        array_distinct(graft.functions.TextAnalysis.adjacentPairs($"w"))
          .as("sh"))
    val da = sh.select($"doc_id".as("a"), $"sh".as("wa"))
    val db = sh.select($"doc_id".as("b"), $"sh".as("wb"))
    val truth = truthCand.join(da, "a").join(db, "b")
      .select($"a", $"b", Dedup.jaccard($"wa", $"wb").as("jc"))
      .join(prodCand, Seq("a", "b"), "left")
      .select($"a", $"b", $"jc", coalesce($"caught", lit(0L)).as("caught"))
      .transform(graft.Fx.materialize)
    val rows = Seq(0.6, 0.7, 0.8).map { t =>
      truth.filter($"jc" >= t)
        .agg(count(lit(1)).as("n_true"), sum($"caught").as("n_caught"))
        .select(lit(t).as("threshold"), $"n_true",
          coalesce($"n_caught", lit(0L)).as("n_caught"),
          when($"n_true" > 0,
            expr("(coalesce(n_caught, 0) * 1000000) div n_true"))
            .as("recall_micro"))
    }
    rows.reduce(_ unionByName _).orderBy($"threshold")
  }

  val q299Sql: String =
    s"""WITH $sigSql,
       |bands1 AS (
       |  SELECT doc_id, 1 AS band_idx, h1 AS band_hash FROM sig
       |  UNION ALL SELECT doc_id, 2, h2 FROM sig
       |  UNION ALL SELECT doc_id, 3, h3 FROM sig
       |  UNION ALL SELECT doc_id, 4, h4 FROM sig
       |  UNION ALL SELECT doc_id, 5, h5 FROM sig
       |  UNION ALL SELECT doc_id, 6, h6 FROM sig),
       |okb1 AS (
       |  SELECT band_idx, band_hash FROM bands1
       |  GROUP BY band_idx, band_hash HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
       |gated1 AS (SELECT bands1.* FROM bands1 JOIN okb1 USING (band_idx, band_hash)),
       |tc AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM gated1 l JOIN gated1 r
       |    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       |   AND l.doc_id < r.doc_id),
       |$bandsSql, $pairsSql,
       |ws AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(string_split(text, ' '))),
       |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS w
       |  FROM documents),
       |truth AS (
       |  SELECT tc.a, tc.b,
       |    CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |      (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) AS jc,
       |    CASE WHEN p.a IS NULL THEN 0 ELSE 1 END AS caught
       |  FROM tc
       |  JOIN ws wa ON tc.a = wa.doc_id
       |  JOIN ws wb ON tc.b = wb.doc_id
       |  LEFT JOIN pairs p ON tc.a = p.a AND tc.b = p.b),
       |th AS (SELECT unnest([0.6, 0.7, 0.8]) AS t)
       |SELECT th.t AS threshold,
       |  CAST(count(truth.a) AS BIGINT) AS n_true,
       |  CAST(COALESCE(sum(truth.caught), 0) AS BIGINT) AS n_caught,
       |  CASE WHEN count(truth.a) > 0
       |    THEN CAST((COALESCE(sum(truth.caught), 0) * 1000000)
       |              // count(truth.a) AS BIGINT)
       |  END AS recall_micro
       |FROM th LEFT JOIN truth ON truth.jc >= th.t
       |GROUP BY th.t
       |ORDER BY threshold""".stripMargin

  /** q316 — capture-recapture estimate of the TRUE near-duplicate
    * pair population (Chapman estimator): how many ≥0.6-Jaccard pairs
    * exist, estimated WITHOUT ground truth from two independent
    * capture schemes — the minhash signature split into two disjoint
    * 1×3 bands (hashes 1-3 vs 4-6; capture events are independent
    * given a pair's true Jaccard because the hash functions are).
    * Each scheme's candidates are verified by exact bigram-shingle
    * Jaccard (q299's truth features), so the capture lists contain
    * only true pairs; with n1, n2 caught and m caught by both,
    * Chapman's N̂ = (n1+1)(n2+1) div (m+1) − 1 — exact integers.
    * The honest caveat is stated: capture probability varies with J
    * (J³ per scheme), so N̂ is biased toward the well-captured high-J
    * stratum — still the standard "how much did my dedup miss" QA
    * readout when exhaustive truth is unaffordable.
    *
    * Scale shape: both schemes ride the capped bucket join; exact
    * verification touches only candidates; the estimator is four
    * integers on the driver-side result row. */
  def q316(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
      .transform(graft.Fx.materialize)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val candA = Dedup.candidatePairs(bands.filter($"band_idx" === 1), "doc_id")
    val candB = Dedup.candidatePairs(bands.filter($"band_idx" === 2), "doc_id")
    // exact-Jaccard verification over the same feature set the
    // sketches hash (words projected first — the q300 lesson)
    val sh = docs.select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id",
        array_distinct(graft.functions.TextAnalysis.adjacentPairs($"w"))
          .as("sh"))
      .transform(graft.Fx.materialize)
    def verified(cand: DataFrame): DataFrame =
      cand
        .join(sh.select($"doc_id".as("a"), $"sh".as("wa")), "a")
        .join(sh.select($"doc_id".as("b"), $"sh".as("wb")), "b")
        .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
        .select($"a", $"b")
    val va = verified(candA).transform(graft.Fx.materialize)
    val vb = verified(candB).transform(graft.Fx.materialize)
    val n1 = va.agg(count(lit(1)).as("n1"))
    val n2 = vb.agg(count(lit(1)).as("n2"))
    val m = va.join(vb, Seq("a", "b")).agg(count(lit(1)).as("m_both"))
    n1.crossJoin(n2).crossJoin(m)
      .select($"n1", $"n2", $"m_both",
        (expr("((n1 + 1) * (n2 + 1)) div (m_both + 1)") - 1L)
          .as("chapman_est"),
        ($"n1" + $"n2" - $"m_both").as("n_seen"))
  }

  val q316Sql: String =
    s"""WITH $sigSql,
       |bA AS (SELECT doc_id, h1 || h2 || h3 AS bh FROM sig),
       |bB AS (SELECT doc_id, h4 || h5 || h6 AS bh FROM sig),
       |okA AS (SELECT bh FROM bA GROUP BY bh
       |        HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
       |okB AS (SELECT bh FROM bB GROUP BY bh
       |        HAVING count(*) <= ${Dedup.DefaultMaxBucket}),
       |candA AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bA l JOIN bA r ON l.bh = r.bh AND l.doc_id < r.doc_id
       |  JOIN okA ON l.bh = okA.bh),
       |candB AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM bB l JOIN bB r ON l.bh = r.bh AND l.doc_id < r.doc_id
       |  JOIN okB ON l.bh = okB.bh),
       |ws AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(string_split(text, ' '))),
       |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS w
       |  FROM documents),
       |vA AS (
       |  SELECT c.a, c.b FROM candA c
       |  JOIN ws wa ON c.a = wa.doc_id JOIN ws wb ON c.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |    (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6),
       |vB AS (
       |  SELECT c.a, c.b FROM candB c
       |  JOIN ws wa ON c.a = wa.doc_id JOIN ws wb ON c.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |    (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6),
       |cnt AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM vA) AS n1,
       |    (SELECT CAST(count(*) AS BIGINT) FROM vB) AS n2,
       |    (SELECT CAST(count(*) AS BIGINT)
       |     FROM vA JOIN vB ON vA.a = vB.a AND vA.b = vB.b) AS m_both)
       |SELECT n1, n2, m_both,
       |  ((n1 + 1) * (n2 + 1)) // (m_both + 1) - 1 AS chapman_est,
       |  n1 + n2 - m_both AS n_seen
       |FROM cnt""".stripMargin

  /** q338 — cluster transitivity dilution: connected-component dedup
    * chains A~B~C into one cluster even when A and C are NOT near
    * dups — the classic way aggressive dedup deletes documents that
    * never matched anything they were deleted for. Per ≥0.6-Jaccard
    * cluster (q298's edge semantics at its production threshold), the
    * minimum EXACT Jaccard over ALL member pairs — not just the edges
    * that formed the cluster — and a diluted flag when that minimum
    * falls below the threshold the cluster was built at. The QA gate
    * that decides between keep-one-per-component and the stricter
    * clique/medoid policies.
    *
    * Scale shape: the within-cluster pair join is an equi-join on the
    * component label, so its fan-out is bounded by cluster size — the
    * same bucket argument as the capped LSH join (dedup clusters are
    * small by construction; a corpus where one cluster is huge has a
    * boilerplate problem upstream of this query). Verification
    * touches only member pairs. */
  def q338(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val edges = pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select($"a", $"b")
    val cc = Dedup.ccAlternatingStar(edges)
      .transform(graft.Fx.materialize)
    val sizes = cc.groupBy($"component").agg(count(lit(1)).as("n_members"))
    val mp = cc.select($"component", $"doc_id".as("a"))
      .join(cc.select($"component".as("__c2"), $"doc_id".as("b")),
        $"component" === $"__c2" && $"a" < $"b")
      .select($"component", $"a", $"b")
    val pj = mp.join(da, "a").join(db, "b")
      .select($"component", Dedup.jaccard($"wa", $"wb").as("jc"))
    pj.groupBy($"component")
      .agg(count(lit(1)).as("n_pairs"), min($"jc").as("__mj"))
      .join(broadcast(sizes), "component")
      .select($"component".as("cluster"), $"n_members", $"n_pairs",
        r6($"__mj").as("min_jaccard"),
        ($"__mj" < 0.6).cast("int").as("diluted"))
      .orderBy($"cluster")
  }

  val q338Sql: String =
    s"""WITH RECURSIVE $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
       |       FROM documents),
       |ed AS (
       |  SELECT a, b FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |    (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6),
       |edges AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (
       |  SELECT src, least(src, min(dst)) AS c FROM reach GROUP BY src),
       |mp AS (
       |  SELECT m1.c, m1.src AS a, m2.src AS b
       |  FROM comp m1 JOIN comp m2 ON m1.c = m2.c AND m1.src < m2.src),
       |pj AS (
       |  SELECT mp.c,
       |    CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |      (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) AS jc
       |  FROM mp
       |  JOIN ws wa ON mp.a = wa.doc_id
       |  JOIN ws wb ON mp.b = wb.doc_id),
       |sizes AS (SELECT c, CAST(count(*) AS BIGINT) AS n_members
       |          FROM comp GROUP BY c)
       |SELECT pj.c AS cluster, sizes.n_members,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  ${Fx.sqlR6("min(jc)")} AS min_jaccard,
       |  CAST(min(jc) < 0.6 AS INT) AS diluted
       |FROM pj JOIN sizes ON pj.c = sizes.c
       |GROUP BY pj.c, sizes.n_members
       |ORDER BY cluster""".stripMargin

  /** q339 — deletion-policy comparison, the operational follow-on to
    * q338's dilution audit: how many documents would each dedup
    * policy actually delete? Policy CC keeps the minimum-id member
    * per connected component and deletes the rest (what
    * keep-one-per-component ships); policy VERIFIED deletes a member
    * only if its exact Jaccard TO THE KEPT REPRESENTATIVE clears the
    * 0.6 threshold — chained members that never matched the survivor
    * are rescued. One row: cluster count, both deletion counts, and
    * the rescued difference — the size of the q338 problem in
    * documents, not clusters.
    *
    * Scale shape: q338's — the rep-member pairs are a subset of the
    * component equi-join (component label IS the representative id),
    * verification touches only those pairs. */
  def q339(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"))
    val edges = pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select($"a", $"b")
    val cc = Dedup.ccAlternatingStar(edges)
      .transform(graft.Fx.materialize)
    // component label IS the min member id — the kept representative
    val members = cc.filter($"doc_id" =!= $"component")
    val verified = members
      .join(da.withColumnRenamed("a", "component"), "component")
      .join(db.withColumnRenamed("b", "doc_id"), "doc_id")
      .select((Dedup.jaccard($"wa", $"wb") >= 0.6).cast("long").as("v"))
    val nClusters = cc.select($"component").distinct().count()
    val delCc = members.count()
    val delVerified = verified.agg(coalesce(sum($"v"), lit(0L))).head().getLong(0)
    Seq((nClusters, delCc, delVerified, delCc - delVerified))
      .toDF("n_clusters", "deleted_cc", "deleted_verified", "rescued")
  }

  val q339Sql: String =
    s"""WITH RECURSIVE $sigSql, $bandsSql, $pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w
       |       FROM documents),
       |ed AS (
       |  SELECT a, b FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |    (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6),
       |edges AS (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
       |comp AS (
       |  SELECT src, least(src, min(dst)) AS c FROM reach GROUP BY src),
       |mem AS (SELECT src, c FROM comp WHERE src <> c),
       |v AS (
       |  SELECT CASE WHEN
       |    CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |      (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6
       |    THEN 1 ELSE 0 END AS ok
       |  FROM mem
       |  JOIN ws wa ON mem.c = wa.doc_id
       |  JOIN ws wb ON mem.src = wb.doc_id)
       |SELECT
       |  (SELECT CAST(count(DISTINCT c) AS BIGINT) FROM comp) AS n_clusters,
       |  (SELECT CAST(count(*) AS BIGINT) FROM mem) AS deleted_cc,
       |  (SELECT CAST(COALESCE(sum(ok), 0) AS BIGINT) FROM v)
       |    AS deleted_verified,
       |  (SELECT CAST(count(*) AS BIGINT) FROM mem)
       |    - (SELECT CAST(COALESCE(sum(ok), 0) AS BIGINT) FROM v) AS rescued""".stripMargin

  /** q386 — label-noise audit via near-duplicate clusters: near-dup
    * pairs (the standard MinHash→LSH→Jaccard ≥ 0.6 path) whose two
    * documents carry DIFFERENT language labels — if two texts are the
    * same content, their metadata should agree, so a conflicting pair
    * localizes a labeling error the content-only dedup family
    * (q50–q59, q264) and the label-only profiler both miss. The
    * curation action is concrete: a conflicted pair either keeps one
    * label (fix) or drops both (distrust). Output is the full
    * lang-pair matrix of near-dup counts with the conflict flag, so
    * the diagonal (consistent) baselines the off-diagonal (noise).
    * Exact: integer pair counts on the deterministic candidate path;
    * the unordered pair key is (least, greatest) of the labels.
    *
    * Scale shape: identical to q57's — banded candidates with bucket
    * caps, one Jaccard filter, then a label join and a tiny
    * lang×lang rollup. */
  def q386(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sig = Dedup.minhashSignatureWords(docs, "doc_id", "text", nHashes)
    val bands = Dedup.lshBands(sig, "doc_id", nBands = 2, rowsPerBand = 3)
    val pairs = Dedup.candidatePairs(bands, "doc_id")
    val da = docs.select($"doc_id".as("a"), Dedup.wordSet($"text").as("wa"),
      $"lang".as("la"))
    val db = docs.select($"doc_id".as("b"), Dedup.wordSet($"text").as("wb"),
      $"lang".as("lb"))
    pairs.join(da, "a").join(db, "b")
      .filter(Dedup.jaccard($"wa", $"wb") >= 0.6)
      .select(least($"la", $"lb").as("lang_a"),
        greatest($"la", $"lb").as("lang_b"))
      .groupBy($"lang_a", $"lang_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("conflict", ($"lang_a" =!= $"lang_b").cast("int"))
      .orderBy($"lang_a", $"lang_b")
  }

  val q386Sql: String =
    s"""WITH $sigSql,
       |$bandsSql,
       |$pairsSql,
       |ws AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w, lang
       |       FROM documents),
       |nd AS (
       |  SELECT least(wa.lang, wb.lang) AS lang_a,
       |    greatest(wa.lang, wb.lang) AS lang_b
       |  FROM pairs
       |  JOIN ws wa ON pairs.a = wa.doc_id
       |  JOIN ws wb ON pairs.b = wb.doc_id
       |  WHERE CAST(len(list_intersect(wa.w, wb.w)) AS DOUBLE) /
       |        (len(wa.w) + len(wb.w) - len(list_intersect(wa.w, wb.w))) >= 0.6)
       |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(lang_a <> lang_b AS INT) AS conflict
       |FROM nd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q437 — birthday audit of the md5 grid: the registry's sampling,
    * arm assignment, salting, and LSH bucketing all assume truncated
    * md5 behaves uniformly — this query AUDITS that assumption
    * instead of assuming it. Docs hash into d = 16^k buckets (k = 4
    * and 6, stated) by their first k hex digits; observed colliding
    * pairs Σ C(c_b, 2) are compared against the uniform birthday
    * expectation C(n, 2)/d via the exact ratio
    * (obs·2d·10⁶) div (n(n−1)) — 10⁶ ≈ uniform; materially above
    * says the digest grid is clumping (and every md5-keyed cap/
    * sample/assignment upstream inherits the bias). Max bucket load
    * and occupied-bucket count complete the load profile. All exact
    * integers; no float anywhere.
    *
    * Scale shape: one groupBy on the k-digit prefix (bounded key
    * domain), one rollup per k — the same shuffle shape as the LSH
    * banding it audits. */
  def q437(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ks = Seq(4, 6)
    val perK = ks.map { k =>
      Tables.documents(s, d)
        .select(substring(md5_fast($"doc_id".cast("string")), 1, k).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("used_buckets"),
          sum($"c").as("n"),
          max($"c").as("max_load"),
          sum(expr("c * (c - 1) div 2")).as("obs_pairs"))
        .select(lit(k).as("k"), lit(math.pow(16, k).toLong).as("d"),
          $"n", $"used_buckets", $"max_load", $"obs_pairs",
          when($"n" > 1L,
            expr(s"cast((cast(obs_pairs as decimal(38,0)) * ${2L * math.pow(16, k).toLong} * 1000000) div (cast(n as decimal(38,0)) * (n - 1)) as bigint)"))
            .as("ratio_micro"))
    }
    perK.reduce(_ unionAll _).orderBy($"k")
  }

  val q437Sql: String = {
    def perK(k: Int): String = {
      val d = math.pow(16, k).toLong
      s"""SELECT $k AS k, CAST($d AS BIGINT) AS d,
         |  CAST(sum(c) AS BIGINT) AS n,
         |  CAST(count(*) AS BIGINT) AS used_buckets,
         |  CAST(max(c) AS BIGINT) AS max_load,
         |  CAST(sum(c * (c - 1) // 2) AS BIGINT) AS obs_pairs,
         |  CASE WHEN sum(c) > 1 THEN CAST(
         |    (CAST(sum(c * (c - 1) // 2) AS HUGEINT) * ${2L * d} * 1000000)
         |      // (CAST(sum(c) AS HUGEINT) * (sum(c) - 1)) AS BIGINT)
         |    END AS ratio_micro
         |FROM (
         |  SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, $k) AS bucket,
         |    count(*) AS c
         |  FROM documents GROUP BY 1) t""".stripMargin
    }
    s"""SELECT * FROM (
       |${perK(4)}
       |UNION ALL
       |${perK(6)}) u ORDER BY k""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q437_digest_birthday_audit", q437, Some(q437Sql)),
    QueryDef("q386_label_noise", q386, Some(q386Sql)),
    QueryDef("q338_cluster_dilution", q338, Some(q338Sql)),
    QueryDef("q339_deletion_policies", q339, Some(q339Sql)),
    QueryDef("q316_chapman_capture", q316, Some(q316Sql)),
    QueryDef("q231_dedup_shard_locality", q231, Some(q231Sql)),
    QueryDef("q221_edit1_neighbors", q221, Some(q221Sql)),
    QueryDef("q50_exact_dedup", q50, Some(q50Sql), bench = true),
    QueryDef("q51_minhash_signatures", q51, Some(q51Sql), bench = true),
    QueryDef("q52_lsh_buckets", q52, Some(q52Sql)),
    QueryDef("q53_near_dup_pairs", q53, Some(q53Sql), bench = true),
    QueryDef("q54_ngram_jaccard", q54, Some(q54Sql)),
    QueryDef("q57_dup_clusters", q57, Some(q57Sql)),
    QueryDef("q298_threshold_sweep", q298, Some(q298Sql)),
    QueryDef("q299_lsh_recall", q299, Some(q299Sql)),
    QueryDef("q256_cc_dataframe", q256, Some(q256Sql)),
    QueryDef("q263_winnowing_fingerprints", q263, Some(q263Sql)),
    QueryDef("q264_cc_incremental", q264, Some(q264Sql)),
    QueryDef("q58_embedding_near_dup", q58, Some(q58Sql), bench = true),
    QueryDef("q59_near_dup_retention", q59, Some(q59Sql)),
    QueryDef("q87_minhash_estimator", q87, Some(q87Sql)),
    QueryDef("q89_dedup_savings", q89, Some(q89Sql)),
    QueryDef("q129_semantic_dedup", q129, Some(q129Sql)),
    QueryDef("q142_leakage_safe_split", q142, Some(q142Sql)),
    QueryDef("q143_cross_source_dups", q143, Some(q143Sql)),
    QueryDef("q159_dup_bfs", q159, Some(q159Sql)),
  )
}
