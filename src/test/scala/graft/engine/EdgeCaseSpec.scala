package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EdgeCaseSpec extends SparkSpec {

  test("Dag rejects dependency cycles") {
    val a = Model("a", "silver", Seq("b"), d => d("b"))
    val b = Model("b", "silver", Seq("a"), d => d("a"))
    val e = intercept[IllegalArgumentException] {
      new Dag(Seq(a, b), Sink.Cached()).topoOrder
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("Dag rejects duplicate model names") {
    val m = Model("x", "silver", Nil, d => d.values.head)
    assertThrows[IllegalArgumentException] {
      new Dag(Seq(m, m), Sink.Cached())
    }
  }

  test("bronze recovers file metadata from _metadata when columns absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-meta").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/customers.csv"),
      "customer_id,first_name,last_name\nC1,a,b\nC2,c,d\n")
    val raw = spark.read.option("header", "true").csv(dir)
    val bronze = Bronze.customers(raw)
    val rows = bronze.select("customer_id", "source_file_path",
      "source_file_time").collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[String]("source_file_path").endsWith("customers.csv"))
      assert(r.getAs[java.sql.Timestamp]("source_file_time") != null)
    }
  }

  test("bronze recovers file metadata through the Dag's observed input") {
    // Dag wraps each raw input in an Observation before bronze reads it;
    // the hidden _metadata struct must still resolve through it
    val dir = java.nio.file.Files.createTempDirectory("graft-meta-dag").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/customers.csv"),
      "customer_id,first_name,last_name\nC1,a,b\nC2,c,d\n")
    val raw = spark.read.option("header", "true").csv(dir)
    val bronze = InsurancePipeline.models(Fixtures.clock)
      .filter(_.name == "customers_bronze")
    val (out, audit) = new Dag(bronze, Sink.Cached(), Fixtures.clock)
      .run(Map("raw_customers" -> raw))
    val paths = out("customers_bronze").select("source_file_path")
      .collect().map(_.getString(0))
    assert(paths.length === 2)
    paths.foreach(p => assert(p != null && p.endsWith("customers.csv"), p))
    // the raw count came from the observation: source == target == 2
    val row = audit.collect().head
    assert((row.getLong(3), row.getLong(4)) === ((2L, 2L)))
  }

  test("silver handles empty inputs without failing") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.customers)
    assert(Silver.customers(Bronze.customers(empty), Fixtures.clock)
      .count() === 0)
  }

  test("SqlModels surfaces unknown refs as a missing dependency") {
    import spark.implicits._
    val raw = Seq((1, "a")).toDF("id", "v")
    val dag = SqlModels.dag(
      Seq(("m", "gold", "SELECT * FROM {{ ref('nope') }}")), Sink.Cached())
    assertThrows[Exception] {
      dag.run(Map("raw" -> raw))
    }
  }
}
