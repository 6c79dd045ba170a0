package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.engine.{Bronze, Clock, Schemas, Silver}
import graft.streaming.GoldMaintenanceStream
import graft.streaming.GoldMaintenanceStream.GoldCdc

/** `ivm_stream`: the executive-summary gold mart maintained from one
  * 3-entity CDC topic through `GoldMaintenanceStream.foldBatch`, the
  * first of the four maintainers `foldAllMarts` calls. All four cost
  * 12-26 s a batch here, beyond the benchmark's per-run budget (see
  * README.md); the exec maintainer costs about 2 s.
  *
  * The topic carries full silver-row images as JSON. A seeded generator
  * keeps the current table state in memory, so every update and delete
  * carries the exact before-image the state holds. Batch 0 is the
  * bootstrap load (set-up); each later micro-batch mixes inserts,
  * updates and deletes of customers, policies and claims. */
final class IvmStream(seed: Long, customers: Int, batchRecords: Int) {
  private val rnd = new java.util.SplittableRandom(seed * 7919L + 17L)
  private def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.size))
  private def cents(lo: Int, hi: Int): String = {
    val c = lo.toLong * 100 + rnd.nextLong((hi - lo).toLong * 100)
    f"${c / 100}%d.${c % 100}%02d"
  }
  private def day(base: java.time.LocalDate, span: Int): java.time.LocalDate =
    base.plusDays(rnd.nextInt(span).toLong)
  private def tsOf(d: java.time.LocalDate, hour: Int): String =
    f"${d}T$hour%02d:00:00.000Z"
  private def q(s: String): String = Json.str(s)

  /** Current rows per entity as key -> JSON image, and each policy's
    * customer (claims and deletes keep references consistent). */
  val custRows = mutable.LinkedHashMap[String, String]()
  val polRows = mutable.LinkedHashMap[String, String]()
  val polCust = mutable.Map[String, String]()
  val clRows = mutable.LinkedHashMap[String, String]()
  private var nextCust = 0
  private var nextPol = 0
  private var nextCl = 0
  private var version = 0

  private val processed = "2025-01-01T00:00:00.000Z"
  private val states = Vector("TX", "FL", "NY", "CA", "NJ", "CT", "WA", "CO")

  private def customerRow(id: String): String = {
    version += 1
    val age = 18 + rnd.nextInt(70)
    val dob = java.time.LocalDate.of(2025 - age, 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
    val bad = rnd.nextInt(20) == 0
    val email = if (bad) "not-an-email" else s"user$id.$version@example.com"
    val upd = day(java.time.LocalDate.of(2024, 1, 1), 300)
    val first = pick(Vector("Alice", "Bob", "Carol", "Dave", "Erin"))
    val last = pick(Vector("Smith", "Jones", "Wu", "Garcia"))
    Seq("customer_id" -> q(id), "first_name" -> q(first),
      "last_name" -> q(last), "full_name" -> q(s"$first $last"),
      "email" -> q(email), "phone" -> q(s"555-${rnd.nextInt(10000)}"),
      "date_of_birth" -> q(dob.toString), "age" -> age.toString,
      "address" -> q(s"${rnd.nextInt(9999)} Main St"),
      "city" -> q(pick(Vector("Austin", "Miami", "NYC", "Denver"))),
      "state" -> q(pick(states)), "zip_code" -> q(f"${rnd.nextInt(99999)}%05d"),
      "annual_income" -> cents(20000, 250000),
      "credit_score" -> (300 + rnd.nextInt(551)).toString,
      "marital_status" -> q(pick(Vector("Single", "Married", "Divorced"))),
      "occupation" -> q(pick(Vector("Engineer", "Teacher", "Nurse"))),
      "created_at" -> q(tsOf(java.time.LocalDate.of(2023, 6, 1), 0)),
      "updated_at" -> q(tsOf(upd, rnd.nextInt(24))),
      "source_file_path" -> q("landing/customers.csv"),
      "source_file_time" -> q(tsOf(upd, 23)), "processed_at" -> q(processed),
      "invalid_email_flag" -> (if (bad) "1" else "0"))
      .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  }

  private def policyRow(id: String, cust: String): String = {
    val start = day(java.time.LocalDate.of(2020, 1, 1), 1800)
    val len = 180 + rnd.nextInt(900)
    val negPremium = rnd.nextInt(50) == 0
    val premium = if (negPremium) "-50.00" else cents(300, 6000)
    val upd = day(java.time.LocalDate.of(2024, 1, 1), 300)
    Seq("policy_id" -> q(id), "customer_id" -> q(cust),
      "policy_type" -> q(pick(Vector("Auto", "Home", "Life", "Health"))),
      "coverage_amount" -> cents(10000, 1000000), "premium_amount" -> premium,
      "deductible" -> cents(0, 5000), "start_date" -> q(start.toString),
      "end_date" -> q(start.plusDays(len.toLong).toString),
      "status" -> q(pick(Vector("ACTIVE", "EXPIRED", "CANCELLED", "ACTIVE"))),
      "agent_id" -> q(s"A${rnd.nextInt(60)}"),
      "underwriter_id" -> q(s"U${rnd.nextInt(15)}"),
      "payment_frequency" -> q(pick(Vector("monthly", "annual"))),
      "created_at" -> q(tsOf(java.time.LocalDate.of(2023, 6, 1), 0)),
      "updated_at" -> q(tsOf(upd, rnd.nextInt(24))),
      "source_file_path" -> q("landing/policies.csv"),
      "source_file_time" -> q(tsOf(upd, 23)), "processed_at" -> q(processed),
      "policy_duration_days" -> len.toString,
      "missing_customer_id_flag" -> "0", "invalid_coverage_amount_flag" -> "0",
      "invalid_premium_amount_flag" -> (if (negPremium) "1" else "0"),
      "invalid_deductible_flag" -> "0", "invalid_date_range_flag" -> "0")
      .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  }

  private def claimRow(id: String, pol: String, cust: String): String = {
    val date = day(java.time.LocalDate.of(2020, 6, 1), 1500)
    val delay = rnd.nextInt(45)
    val amountC = 50000L + rnd.nextLong(4950000L)
    val settledC = amountC * (40 + rnd.nextInt(61)) / 100
    def money(c: Long) = f"${c / 100}%d.${c % 100}%02d"
    val upd = day(java.time.LocalDate.of(2024, 1, 1), 300)
    val ratio = BigDecimal(settledC) / BigDecimal(amountC)
    Seq("claim_id" -> q(id), "policy_id" -> q(pol), "customer_id" -> q(cust),
      "claim_date" -> q(tsOf(date, 8)),
      "reported_date" -> q(tsOf(date.plusDays(delay.toLong), 8)),
      "claim_amount" -> money(amountC), "settled_amount" -> money(settledC),
      "deductible_amount" -> pick(Vector("250", "500", "1000")),
      "claim_reason" -> q(pick(Vector("Collision", "Theft", "Fire", "Flood"))),
      "status" -> q(pick(Vector("SETTLED", "OPEN", "DENIED", "SETTLED"))),
      "adjuster_id" -> q(s"ADJ${rnd.nextInt(40)}"),
      "claim_type" -> q(pick(Vector("AUTO", "HOME", "LIFE", "HEALTH"))),
      "severity" -> q(pick(Vector("LOW", "MEDIUM", "HIGH", "CRITICAL"))),
      "fraud_indicator" -> (if (rnd.nextInt(25) == 0) "1" else "0"),
      "created_at" -> q(tsOf(java.time.LocalDate.of(2023, 6, 1), 0)),
      "updated_at" -> q(tsOf(upd, rnd.nextInt(24))),
      "source_file_path" -> q("landing/claims.csv"),
      "source_file_time" -> q(tsOf(upd, 23)), "processed_at" -> q(processed),
      "reporting_delay_days" -> delay.toString,
      "claim_difference" -> money(amountC - settledC),
      "settlement_ratio" -> ratio.setScale(3, BigDecimal.RoundingMode.HALF_UP).toString,
      "missing_policy_flag" -> "0", "missing_customer_flag" -> "0",
      "invalid_claim_amount_flag" -> "0", "invalid_settled_amount_flag" -> "0")
      .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
  }

  private def newCustomer(): String = { nextCust += 1; s"C$nextCust" }
  private def newPolicy(): String = { nextPol += 1; s"P$nextPol" }
  private def newClaim(): String = { nextCl += 1; s"CL$nextCl" }

  /** A customer id that policies favour: skewed towards early ids. */
  private def skewedCustomer(): String = {
    val keys = custRows.keysIterator.toIndexedSeq
    val u = rnd.nextDouble()
    keys(math.min(keys.size - 1, (u * u * u * keys.size).toInt))
  }

  private def insertCustomer(out: mutable.Buffer[GoldCdc]): Unit = {
    val id = newCustomer(); val row = customerRow(id)
    custRows(id) = row; out += GoldCdc("customer", "I", null, row)
  }
  private def insertPolicy(out: mutable.Buffer[GoldCdc]): Unit = {
    val id = newPolicy(); val c = skewedCustomer(); val row = policyRow(id, c)
    polRows(id) = row; polCust(id) = c; out += GoldCdc("policy", "I", null, row)
  }
  private def insertClaim(out: mutable.Buffer[GoldCdc]): Unit = {
    val pol = pick(polRows.keysIterator.toIndexedSeq)
    val id = newClaim(); val row = claimRow(id, pol, polCust(pol))
    clRows(id) = row; out += GoldCdc("claim", "I", null, row)
  }

  /** The bootstrap load: `customers` customers, 2.5 policies and 2
    * claims per customer, all inserts. */
  def bootstrap(): Seq[GoldCdc] = {
    val out = mutable.ArrayBuffer[GoldCdc]()
    (0 until customers).foreach(_ => insertCustomer(out))
    (0 until customers * 5 / 2).foreach(_ => insertPolicy(out))
    (0 until customers * 2).foreach(_ => insertClaim(out))
    out.toSeq
  }

  /** One micro-batch: each record touches a distinct key, 40% claims,
    * 35% policies, 25% customers; half updates, 30% inserts, 20% deletes.
    * Customers with policies are never deleted, so every policy keeps
    * its customer. */
  def microBatch(): Seq[GoldCdc] = {
    val out = mutable.ArrayBuffer[GoldCdc]()
    val touched = mutable.Set[String]()
    def fresh(keys: IndexedSeq[String]): Option[String] = {
      var tries = 0
      var k = pick(keys)
      while (touched.contains(k) && tries < 20) { k = pick(keys); tries += 1 }
      if (touched.add(k)) Some(k) else None
    }
    while (out.size < batchRecords) {
      val e = rnd.nextInt(100)
      val o = rnd.nextInt(10)
      if (e < 40) {
        if (o < 3) insertClaim(out)
        else fresh(clRows.keysIterator.toIndexedSeq).foreach { k =>
          val before = clRows(k)
          if (o < 8) {
            val pol = pick(polRows.keysIterator.toIndexedSeq)
            val after = claimRow(k, pol, polCust(pol))
            clRows(k) = after; out += GoldCdc("claim", "U", before, after)
          } else { clRows.remove(k); out += GoldCdc("claim", "D", before, null) }
        }
      } else if (e < 75) {
        if (o < 3) insertPolicy(out)
        else fresh(polRows.keysIterator.toIndexedSeq).foreach { k =>
          val before = polRows(k)
          if (o < 8) {
            val after = policyRow(k, polCust(k))
            polRows(k) = after; out += GoldCdc("policy", "U", before, after)
          } else {
            polRows.remove(k); polCust.remove(k)
            out += GoldCdc("policy", "D", before, null)
          }
        }
      } else {
        if (o < 3) insertCustomer(out)
        else fresh(custRows.keysIterator.toIndexedSeq).foreach { k =>
          val before = custRows(k)
          if (o < 8) {
            val after = customerRow(k)
            custRows(k) = after; out += GoldCdc("customer", "U", before, after)
          } else if (!polCust.valuesIterator.contains(k)) {
            custRows.remove(k); out += GoldCdc("customer", "D", before, null)
          }
        }
      }
    }
    out.toSeq
  }

  /** Inserts of the current table state: the single-fold reference. */
  def finalState(): Seq[GoldCdc] =
    custRows.values.map(GoldCdc("customer", "I", null, _)).toSeq ++
      polRows.values.map(GoldCdc("policy", "I", null, _)) ++
      clRows.values.map(GoldCdc("claim", "I", null, _))
}

object IvmStream {
  /** Silver policy and claim schemas: the images the exec maintainer
    * parses. */
  type ExecSchemas = (StructType, StructType)

  /** One batch through `GoldMaintenanceStream.foldBatch`, the
    * exec-summary maintainer and the first of the four per-mart calls
    * `foldAllMarts` makes, into `<root>/exec`. A traced batch wraps the
    * call in a `fold.exec` span. Returns the refreshed mart. */
  def fold(df: DataFrame, id: Long, s: ExecSchemas, root: String,
      tracer: Option[Tracer] = None, op: String = ""): Option[DataFrame] = {
    def f = GoldMaintenanceStream.foldBatch(df, id, s._1, s._2, s"$root/exec")
    tracer.fold(f)(_.span("fold.exec", op, op)(f))
  }

  /** Silver policy and claim schemas, derived from the silver models
    * themselves so the images always match what silver emits. */
  def schemas(spark: SparkSession): ExecSchemas = {
    def empty(t: StructType): DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(t.fields.map(f => StructField(f.name, StringType))))
    val clock = Clock.Fixed(java.time.Instant.parse("2025-01-01T00:00:00Z"))
    (Silver.policies(Bronze.policies(empty(Schemas.policies)), clock).schema,
      Silver.claims(Bronze.claims(empty(Schemas.claims)), clock).schema)
  }

  def frame(spark: SparkSession, recs: Seq[GoldCdc]): DataFrame = {
    import spark.implicits._
    recs.toDS().toDF().coalesce(1)
  }

  def inputBytes(recs: Seq[GoldCdc]): Long =
    recs.map(r => Option(r.before).map(_.length).getOrElse(0) +
      Option(r.after).map(_.length).getOrElse(0) + r.entity.length +
      r.op.length).sum.toLong

  /** Sorted row strings of a mart: a multiset fingerprint. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  def materialize(mart: Option[DataFrame]): Unit =
    mart.foreach(_.write.format("noop").mode("overwrite").save())

  /** (relative path -> bytes) of every file under the state root. */
  def files(root: File): Map[String, Long] = {
    val base = root.toPath
    if (!root.exists()) Map.empty
    else {
      val it = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p))
          .toMap
      } finally it.close()
    }
  }
}
