package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.immutable.ListMap

/** Listing-cleaning operator library — Spark-native re-expression of the
  * reference's pandas cleaning pipeline (trulia_scrape.py:156-180) and
  * NLP featurization (trulia_csv_to_nlp.ipynb cells 13-18).
  *
  * All functions are pure `Column` expressions (codegen'd, no UDFs), so
  * Catalyst collapses the whole chain into a single projection pass —
  * vs. the reference's ~10 sequential whole-column pandas passes.
  *
  * Deliberate deviations from pandas quirks (flagged per SURVEY §1.2):
  *  - numeric casts are null-propagating (pandas `astype` would raise
  *    on NaN; the reference only survives because its data never hits
  *    that path),
  *  - rows with null sqft are dropped along with empty-string sqft
  *    (pandas would carry NaN into a crashing cast).
  */
object Cleaning {

  /** Canonical 14-column raw schema (trulia_scrape.py:152-153). */
  val rawColumns: Seq[String] = Seq(
    "name", "address", "unit", "sqft", "bed", "bath", "price",
    "city", "state", "zipcode", "description", "details", "url", "date")

  val rawSchema: StructType =
    StructType(rawColumns.map(StructField(_, StringType, nullable = true)))

  /** F1: literal (non-regex) substring removal, chained single pass. */
  def stripLiterals(c: Column, tokens: Seq[String]): Column =
    tokens.foldLeft(c)((acc, t) => replace(acc, lit(t), lit("")))

  /** sqft: strip 'sqft' and ',', trim (trulia_scrape.py:160). */
  def cleanSqftStr(c: Column): Column = trim(stripLiterals(c, Seq("sqft", ",")))

  /** F6: '500-700' → mean 600.0; plain '525' → 525.0
    * (trulia_scrape.py:162-163). Pure SQL, no UDF. */
  def sqftRangeMean(c: Column): Column =
    when(c.contains("-"),
      (split_part(c, lit("-"), lit(1)).cast(DoubleType) +
        split_part(c, lit("-"), lit(2)).cast(DoubleType)) / 2.0)
      .otherwise(c.cast(DoubleType))

  /** price: strip 'Contact', '$', ',', '+', trim (trulia_scrape.py:164-165). */
  def cleanPriceStr(c: Column): Column =
    trim(stripLiterals(c, Seq("Contact", "$", ",", "+")))

  /** bath: strip 'ba', trim (trulia_scrape.py:166). */
  def cleanBathStr(c: Column): Column = trim(stripLiterals(c, Seq("ba")))

  /** bed: strip 'bd', lowercase, exact-value 'studio'→0, trim, null→0
    * (trulia_scrape.py:167-168 — net effect of the pandas chain where
    * `.replace('studio', 0).str.strip()` NaNs the int then refills 0). */
  def cleanBedStr(c: Column): Column = {
    val stripped = trim(lower(stripLiterals(c, Seq("bd"))))
    val studio = when(stripped === "studio", lit("0")).otherwise(stripped)
    coalesce(nullif(studio, lit("")), lit("0"))
  }

  /** F4: whole-frame ' '→'' then ''→NaN (trulia_scrape.py:170-171). */
  def blankToNull(c: Column): Column =
    nullif(when(c === " ", lit("")).otherwise(c), lit(""))

  /** F7: `city_state_zip.replace(',','').rsplit(maxsplit=2)` — greedy
    * leading group = rightmost split (trulia_scrape.py:136). */
  private val rsplit2 = "^(.*)\\s+(\\S+)\\s+(\\S+)$"
  def cszCity(c: Column): Column  = regexp_extract(replace(c, lit(","), lit("")), rsplit2, 1)
  def cszState(c: Column): Column = regexp_extract(replace(c, lit(","), lit("")), rsplit2, 2)
  def cszZip(c: Column): Column   = regexp_extract(replace(c, lit(","), lit("")), rsplit2, 3)

  /** Full clean + type pipeline (clean_apartment_df + convert_df_columns,
    * trulia_scrape.py:156-180), as one declarative plan:
    *  1. sqft strip → drop empty-sqft rows → range-mean
    *  2. price/bath/bed strips
    *  3. drop price-range rows (contains '-'; null-keeping, P5 na=False)
    *  4. blank→null on every string column
    *  5. casts: sqft/price/zipcode int (truncating), bath/bed float
    */
  def cleanListings(df: DataFrame): DataFrame = {
    val sqftStr = cleanSqftStr(col("sqft"))
    val step = df
      .withColumn("sqft", sqftStr)
      .filter(coalesce(col("sqft"), lit("")) =!= "")
      .withColumn("sqft", sqftRangeMean(col("sqft")))
      .withColumn("price", cleanPriceStr(col("price")))
      .withColumn("bath", cleanBathStr(col("bath")))
      .withColumn("bed", cleanBedStr(col("bed")))
      .filter(!coalesce(col("price").contains("-"), lit(false)))
    val blanked = Seq("name", "address", "unit", "price", "bath", "bed",
      "city", "state", "zipcode", "description", "details", "url", "date")
      .foldLeft(step)((d, c) => d.withColumn(c, blankToNull(col(c))))
    blanked
      .withColumn("sqft", col("sqft").cast(IntegerType))
      .withColumn("price", col("price").cast(IntegerType))
      .withColumn("bath", col("bath").cast(FloatType))
      .withColumn("bed", col("bed").cast(FloatType))
      .withColumn("zipcode", col("zipcode").cast(IntegerType))
  }

  /** Amenity keyword list in declared order (trulia_csv_to_nlp.ipynb:473-475,
    * cell 13). Order matters: earlier keywords consume matched text. */
  val amenityKeywords: Seq[String] = Seq(
    "cats", "small_dogs", "large_dogs", "game_room", "ev_charging",
    "granite", "gourmet", "open_living", "walk_in", "stainless",
    "balcony", "fireplace", "pool", "elevator", "pet_park",
    "fitness_center", "club_house", "dishwasher", "disposal",
    "hot_tub", "spa")

  /** Keyword → the literal text matched in `details` (underscores in the
    * flag name correspond to spaces in the listing text). */
  def keywordText(k: String): String = k.replace('_', ' ')

  /** F11: ordered flag-and-consume featurization
    * (trulia_csv_to_nlp.ipynb:491-494, cell 15): for each keyword in
    * order, flag containment on the *current* text, then remove the
    * keyword text so later keywords can't re-match it. */
  def amenityFlags(df: DataFrame, detailsCol: String,
      keywords: Seq[String] = amenityKeywords): DataFrame = {
    val lowered = lower(col(detailsCol))
    val (result, _) = keywords.foldLeft((df.withColumn("__details_rest", lowered), ())) {
      case ((d, _), kw) =>
        val text = keywordText(kw)
        val flagged = d
          .withColumn(kw, when(col("__details_rest").contains(text), 1).otherwise(0))
          .withColumn("__details_rest", replace(col("__details_rest"), lit(text), lit("")))
        (flagged, ())
    }
    result.drop("__details_rest")
  }

  /** F12: static one-hot with drop-first (pandas get_dummies parity —
    * sklearn/pandas drop the FIRST sorted category; Spark's
    * OneHotEncoder drops the LAST, so parity needs this static form).
    * One projection; the `ListMap` keeps the flags in value order, and
    * values that give the same flag name keep the first one's place
    * with the last one's test. */
  def oneHot(df: DataFrame, column: String, sortedValues: Seq[String],
      prefix: String): DataFrame =
    df.withColumns(ListMap(sortedValues.drop(1).map(v =>
      s"${prefix}_${v.toLowerCase.replace(' ', '_')}" -> when(col(column) === v, 1).otherwise(0)): _*))
}
