package graft.operators

import graft.{Fx, QueryDef, Tables}
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SimHash near-dup fingerprinting.
  *
  * q55 is a 16-bit SimHash built from pure column expressions
  * (md5 prefix → bigint via Fx.md5Prefix; bit votes; hamming distance on
  * adjacent docs) so DuckDB can mirror it exactly ('0x…'::BIGINT).
  * q56 uses the native 64-bit Catalyst expression (graft.plans
  * .SimHash64), hash-verified against a DuckDB mirror that reproduces
  * the FNV-1a fold with HUGEINT arithmetic mod 2^64 (and additionally
  * by SimHashSpec: eval == codegen == model).
  */
object SimHashQueries {
  private val bits = 16

  /** (h >> i) & 1 == 1 → +1 else -1, summed per doc; sign → bit i. */
  private def simhash16(wordHash: Column): Seq[Column] =
    (0 until bits).map { i =>
      sum(when(shiftright(wordHash, i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"v$i")
    }

  def q55(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("w"))
      // word hash: the first 15 hex chars of md5(w), the oracle's
      // ('0x' || substr(md5(w), 1, 15))::BIGINT
      .withColumn("h", Fx.md5Prefix($"w", 15))
    val votes = words.groupBy($"doc_id").agg(simhash16($"h").head, simhash16($"h").tail: _*)
    val sh = votes.select($"doc_id",
      (0 until bits).map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
    val a = sh.select($"doc_id".as("a"), $"simhash".as("sh_a"))
    val b = sh.select($"doc_id".as("b"), $"simhash".as("sh_b"))
    a.join(b, $"b" === $"a" + 1)
      .select($"a", $"b", $"sh_a", $"sh_b",
        bit_count($"sh_a".bitwiseXOR($"sh_b")).cast("long").as("hamming"))
      .orderBy($"a")
  }

  val q55Sql: String = {
    val votes = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(", ")
    val value = (0 until bits).map(i =>
      s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM (
       |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |    FROM documents) t),
       |votes AS (SELECT doc_id, $votes FROM words GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($value AS BIGINT) AS simhash FROM votes)
       |SELECT a.doc_id AS a, b.doc_id AS b, a.simhash AS sh_a, b.simhash AS sh_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
       |ORDER BY a""".stripMargin
  }

  /** Native SimHash64 + RollingHash expressions over documents. */
  def q56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        GraftFunctions.simhash64($"text").as("simhash64"),
        GraftFunctions.rolling_hash($"text").as("rolling_hash"))
      .orderBy($"doc_id")
  }

  /** Exact DuckDB mirror of the native Catalyst expressions: FNV-1a
    * 64-bit per whitespace token folded with `list_reduce` in HUGEINT
    * arithmetic mod 2^64 (DuckDB integers error on overflow, so the
    * wrap is made explicit), bit votes, sign → bit; rolling hash is the
    * same base-31 polynomial fold. Text is ASCII in this corpus, so
    * `unicode(char) == utf8 byte` holds. Bit 63 is added as Long.Min
    * to reproduce two's-complement without overflowing BIGINT.
    */
  private val mod = "18446744073709551616::HUGEINT" // 2^64

  /** Reusable DuckDB CTE chain ending in `fp(doc_id, simhash64)` — the
    * exact HUGEINT mirror of the native SimHash64 expression, shared by
    * q56 and the Hamming-ball dedup oracle (TrainingQueries.q99). */
  val simhash64Cte: String = {
    val fnv =
      s"""list_reduce(
         |  list_prepend(14695981039346656037::HUGEINT,
         |    list_transform(string_split(w, ''), c -> unicode(c)::HUGEINT)),
         |  (acc, b) -> ((acc - (acc % 256) + xor((acc % 256)::BIGINT, b::BIGINT)::HUGEINT)
         |               * 1099511628211::HUGEINT) % $mod)""".stripMargin
    val votes = (0 until 64).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v$i").mkString(", ")
    val value63 = (0 until 63).map(i =>
      s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE w <> ''),
       |th AS (SELECT doc_id, $fnv AS h FROM toks),
       |v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($value63 AS BIGINT)
       |         + (CASE WHEN v63 > 0 THEN -9223372036854775808 ELSE 0 END) AS simhash64
       |       FROM v),
       |fp AS (SELECT d.doc_id, CAST(COALESCE(sh.simhash64, 0) AS BIGINT) AS simhash64
       |       FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id)""".stripMargin
  }

  val q56Sql: String = {
    val roll =
      s"""list_reduce(
         |  list_prepend(0::HUGEINT, list_transform(string_split(text, ''), c -> unicode(c)::HUGEINT)),
         |  (acc, b) -> (acc * 31 + b) % $mod)""".stripMargin
    s"""$simhash64Cte,
       |rh AS (SELECT doc_id, CASE WHEN r >= 9223372036854775808::HUGEINT
       |         THEN CAST(r - $mod AS BIGINT) ELSE CAST(r AS BIGINT) END AS rolling_hash
       |       FROM (SELECT doc_id, $roll AS r FROM documents) t)
       |SELECT fp.doc_id, fp.simhash64, rh.rolling_hash
       |FROM fp JOIN rh ON fp.doc_id = rh.doc_id
       |ORDER BY fp.doc_id""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q55_simhash16_hamming", q55, Some(q55Sql), bench = true),
    QueryDef("q56_simhash64_native", q56, Some(q56Sql)),
  )
}
