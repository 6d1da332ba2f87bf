package graft

import graft.operators.Cleaning
import org.apache.spark.sql.Row

/** Reference-parity tests for the cleaning library, fixtures per
  * FIXTURES.md §F-1/F-2 (raw values seen in housing.db + notebook).
  * Each quirk cites trulia_scrape.py lines.
  */
class CleaningSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def raw(
      sqft: String = "525 sqft", bed: String = "1bd", bath: String = "1ba",
      price: String = "$850", zipcode: String = "78758"): Row =
    Row("The Sofia Apartments", "8400 Beech Dr", "Unit 210", sqft, bed, bath,
      price, "Austin", "TX", zipcode, "Contact us.",
      "Apartment ,Built in 1968 ,Deposit: $300", "https://x", "2020-01-08")

  private def cleanRows(rows: Row*) = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Cleaning.rawSchema)
    Cleaning.cleanListings(df).collect()
  }

  test("basic row cleans and casts (trulia_scrape.py:156-180)") {
    val out = cleanRows(raw())
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("sqft") == 525)
    assert(r.getAs[Int]("price") == 850)
    assert(r.getAs[Float]("bath") == 1.0f)
    assert(r.getAs[Float]("bed") == 1.0f)
    assert(r.getAs[Int]("zipcode") == 78758)
  }

  test("sqft range becomes truncated mean: '500-700' → 600, '612-613' → 612 (:162-163,178)") {
    val out = cleanRows(raw(sqft = "500-700 sqft"), raw(sqft = "612-613 sqft"))
    assert(out.map(_.getAs[Int]("sqft")).sorted.toSeq == Seq(600, 612))
  }

  test("empty sqft rows are dropped (:161)") {
    assert(cleanRows(raw(sqft = ""), raw(sqft = "  sqft ")).isEmpty)
  }

  test("thousands comma stripped: '1,050 sqft' → 1050 (:160)") {
    assert(cleanRows(raw(sqft = "1,050 sqft")).head.getAs[Int]("sqft") == 1050)
  }

  test("price range rows are dropped, null prices kept (na=False) (:169)") {
    val out = cleanRows(raw(price = "$900-$1,100"), raw(price = "$950"))
    assert(out.length == 1 && out.head.getAs[Int]("price") == 950)
  }

  test("'Contact' and blank prices become null (:164-165,170-171)") {
    val out = cleanRows(raw(price = "Contact"), raw(price = " "))
    assert(out.length == 2)
    assert(out.forall(_.isNullAt(out.head.fieldIndex("price"))))
  }

  test("price strip set: '$1,050+' → 1050 (:164-165)") {
    assert(cleanRows(raw(price = "$1,050+")).head.getAs[Int]("price") == 1050)
  }

  test("bed: 'Studio' → 0, null → 0, '2bd' → 2 (:167-168)") {
    val out = cleanRows(raw(bed = "Studio"), raw(bed = null), raw(bed = "2bd"))
    assert(out.map(_.getAs[Float]("bed")).sorted.toSeq == Seq(0.0f, 0.0f, 2.0f))
  }

  test("bath: '1.5ba' → 1.5f (:166,178)") {
    assert(cleanRows(raw(bath = "1.5ba")).head.getAs[Float]("bath") == 1.5f)
  }

  test("zipcode leading zero drops on int cast: '01801' → 1801 (:179 quirk)") {
    assert(cleanRows(raw(zipcode = "01801")).head.getAs[Int]("zipcode") == 1801)
  }

  test("cleaning is idempotent on cleaned string columns") {
    val c = Cleaning.cleanPriceStr(Cleaning.cleanPriceStr(lit("$1,050+")))
    val once = Cleaning.cleanPriceStr(lit("$1,050+"))
    val r = spark.range(1).select(c.as("twice"), once.as("once")).head()
    assert(r.getString(0) == r.getString(1))
  }

  test("rsplit city/state/zip handles multi-word cities (:136)") {
    val df = spark.range(1).select(lit("West Lake Hills, TX 78746").as("csz"))
    val r = df.select(
      Cleaning.cszCity(col("csz")), Cleaning.cszState(col("csz")),
      Cleaning.cszZip(col("csz"))).head()
    assert(r.getString(0) == "West Lake Hills")
    assert(r.getString(1) == "TX")
    assert(r.getString(2) == "78746")
  }

  test("amenity flags: ordered consume — 'hot tub' flags before 'spa' sees text (ipynb cell 15)") {
    import spark.implicits._
    val df = Seq(
      (1L, "Has a Hot Tub and granite counters"),
      (2L, "spa day"),
      (3L, "cats ok, small dogs ok")).toDF("id", "details")
    val flagged = Cleaning.amenityFlags(df, "details").orderBy("id").collect()
    val cols = Cleaning.amenityKeywords
    def flag(r: Row, k: String): Int = r.getAs[Int](k)
    // row 1: hot_tub consumed the text, spa must NOT flag
    assert(flag(flagged(0), "hot_tub") == 1)
    assert(flag(flagged(0), "spa") == 0)
    assert(flag(flagged(0), "granite") == 1)
    // row 2: spa flags when hot tub absent
    assert(flag(flagged(1), "hot_tub") == 0)
    assert(flag(flagged(1), "spa") == 1)
    // row 3: cats + small_dogs
    assert(flag(flagged(2), "cats") == 1)
    assert(flag(flagged(2), "small_dogs") == 1)
    assert(cols.forall(k => flagged.forall(r => flag(r, k) == 0 || flag(r, k) == 1)))
  }

  test("one-hot drop-first parity with pandas get_dummies") {
    import spark.implicits._
    val df = Seq("ASIA", "AFRICA", "EUROPE").toDF("r_name")
    val out = Cleaning.oneHot(df, "r_name",
      Seq("AFRICA", "ASIA", "EUROPE"), "region")
    assert(!out.columns.contains("region_africa")) // first dropped
    val rows = out.orderBy("r_name").collect()
    assert(rows.map(_.getAs[Int]("region_asia")).toSeq == Seq(0, 1, 0))
    assert(rows.map(_.getAs[Int]("region_europe")).toSeq == Seq(0, 0, 1))
  }

  test("one-hot: values that name the same flag keep the last value's flag in the first one's place") {
    import spark.implicits._
    val df = Seq("AFRICA", "ASIA", "asia", "EUROPE").toDF("r_name")
    val out = Cleaning.oneHot(df, "r_name",
      Seq("AFRICA", "ASIA", "asia", "EUROPE"), "region")
    assert(out.columns.toSeq == Seq("r_name", "region_asia", "region_europe"))
    val rows = out.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rows == Map("AFRICA" -> 0, "ASIA" -> 0, "asia" -> 1, "EUROPE" -> 0))
  }
}
