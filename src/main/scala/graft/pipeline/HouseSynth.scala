package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** FIXTURES.md §1 house train-table schema (top level for the Encoder). */
case class House(
    id: Long, country: String, property_type: String,
    furnishing_status: String, property_size_sqft: Long, price: Long,
    constructed_year: Long, previous_owners: Long, rooms: Long,
    bathrooms: Long, garage: Long, garden: Long,
    crime_cases_reported: Long, legal_cases_on_property: Long,
    customer_salary: Long, loan_amount: Long, loan_tenure_years: Long,
    monthly_expenses: Long, down_payment: Long,
    emi_to_income_ratio: Double, satisfaction_score: Long,
    neighbourhood_rating: Long, connectivity_score: Long)

/** Deterministic synthetic house data with the reference's train/test
  * schema (house_predict.py:22-56 column set) — the driver-facing gate
  * for the two reference entry-point pipelines runs on this, since the
  * harness tables don't carry the house schema. Seeded => reproducible.
  */
object HouseSynth {
  def synth(
      spark: SparkSession, n: Int, idBase: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val countries = Seq("USA", "India", "UK", "Japan")
    val ptypes = Seq("Apartment", "Villa", "Studio")
    val furn = Seq("Fully-Furnished", "Semi-Furnished", "Unfurnished")
    (1 to n).map { i =>
      val salary = 20000 + rng.nextInt(80000)
      val price = 100000 + rng.nextInt(900000)
      House(
        idBase + i, countries(rng.nextInt(4)), ptypes(rng.nextInt(3)),
        furn(rng.nextInt(3)), 500 + rng.nextInt(3500), price,
        1980 + rng.nextInt(45), rng.nextInt(6), 1 + rng.nextInt(6),
        1 + rng.nextInt(4), rng.nextInt(2), rng.nextInt(2), rng.nextInt(10),
        rng.nextInt(5), salary, (price * (0.5 + rng.nextDouble() * 0.4)).toLong,
        15 + rng.nextInt(16), 500 + rng.nextInt(3000),
        (price * (0.1 + rng.nextDouble() * 0.2)).toLong,
        0.03 + rng.nextDouble() * 0.3, 1 + rng.nextInt(10),
        1 + rng.nextInt(10), 1 + rng.nextInt(10))
    }.toDF()
      // A few thousand synthetic rows parallelize into defaultParallelism
      // slices (one per core); every MLlib RDD job downstream then
      // schedules a task per slice, each of a few dozen rows on a wide
      // box — pure scheduling overhead, and AQE can't help because
      // MLlib's tree/boosting internals are RDD jobs. Two partitions
      // keeps the whole gate pipeline's task count proportional to the
      // data.
      .coalesce(2)
  }

  /** Train variant with the learnable affordability label. */
  def labeled(spark: SparkSession, n: Int, seed: Long): DataFrame =
    synth(spark, n, 0, seed).selectExpr("*",
      "CAST(CASE WHEN customer_salary * 8 > price THEN 1 ELSE 0 END AS BIGINT) AS label")
}
