package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants of the silver layer (SURVEY.md §5):
  * dedup idempotence, row-count conservation, flag domains, clamp
  * non-negativity — over generated raw premiums/customers rows.
  */
class PropertySpec extends SparkSpec {
  /** Raw-ScalaCheck sampling with fixed seeds (no scalatestplus bridge in
    * the offline dependency cache). */
  private def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"gen failed for seed $i")))
    }
  import Fixtures.clock

  private val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def tsAt(h: Int) =
    new java.sql.Timestamp(ts0.getTime + h * 3600L * 1000)

  private val premiumRowGen: Gen[Row] = for {
    id <- Gen.choose(1, 20) // small id space forces duplicate PKs
    amount <- Gen.choose(-500.0, 500.0)
    late <- Gen.choose(-10.0, 50.0)
    fileHour <- Gen.choose(0, 100)
    status <- Gen.oneOf("paid", "pending", "failed")
  } yield Row(s"PM$id", s"P$id", s"C$id", ts0, ts0,
    math.round(amount * 100) / 100.0, "monthly", "card", status,
    math.round(late * 100) / 100.0, 0.0, 0.0, 10.0, s"T$id", "proc",
    ts0, ts0, "f.csv", tsAt(fileHour))

  private def premiumsDf(rows: List[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Schemas.premiums)

  test("premiums silver: dedup idempotent, clamps non-negative, PK unique") {
    forSamples(Gen.listOfN(60, premiumRowGen), 5) { rows =>
      {
        val silver = Silver.premiums(premiumsDf(rows)).cache()
        // PK uniqueness after dedup
        val n = silver.count()
        assert(silver.select("premium_id").distinct().count() === n)
        // silver row count == distinct PKs in input
        assert(n === rows.map(_.getString(0)).distinct.size)
        // clamped money columns are never negative
        val negatives = silver.filter(
          col("premium_amount") < 0 || col("late_fee") < 0 ||
            col("discount_applied") < 0 || col("tax_amount") < 0 ||
            col("total_amount") < 0).count()
        assert(negatives === 0)
        // idempotence: running the latest-by-key dedup again changes nothing
        val again = Silver.latestByKey(silver, "premium_id",
          Seq(col("source_file_time").desc))
        assert(again.count() === n)
        silver.unpersist()
      }
    }
  }

  private val customerRowGen: Gen[Row] = for {
    id <- Gen.oneOf(Gen.const(null: String), Gen.const(""),
      Gen.choose(1, 15).map(i => s"C$i"))
    email <- Gen.oneOf("a@b.com", "bad", null: String)
    updHour <- Gen.choose(0, 100)
  } yield Row(id, "f", "l", email, "p", null, "a", "c", "s", "z",
    null, null, "m", "o", ts0, tsAt(updHour), "f.csv", ts0)

  private def customersDf(rows: List[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Schemas.customers)

  test("customers silver: conservation + flags are 0/1 + missing PKs dropped") {
    forSamples(Gen.listOfN(50, customerRowGen), 5) { rows =>
      {
        val silver = Silver.customers(customersDf(rows), clock).cache()
        val keptKeys = rows.map(_.getString(0))
          .filter(k => k != null && k.nonEmpty).distinct.size
        assert(silver.count() === keptKeys)
        val badFlags = silver.filter(!col("invalid_email_flag").isin(0, 1)).count()
        assert(badFlags === 0)
        silver.unpersist()
      }
    }
  }
}
