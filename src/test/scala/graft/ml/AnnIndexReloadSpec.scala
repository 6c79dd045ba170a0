package graft.ml

import graft.SparkSpec

/** Cross-JVM index lifecycle (round-15, NOTES candidate 4): the
  * trained codebook is persisted INTO the catalog as a table property,
  * so a process that finds the index table in a durable warehouse
  * adopts table + codebook — no retrain, no rewrite, and (because
  * Double.toString round-trips exactly) not a single distance changed.
  * The fresh-JVM state is simulated by clearing the in-memory caches
  * while the warehouse survives — exactly what a restart leaves behind
  * under `-Dgraft.ann.warehouse`.
  */
class AnnIndexReloadSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def warehouseSig(): Seq[(String, Long)] = {
    val (index, _) = SimilarityOps.annIndex(spark, sf)
    val wh = index.sparkSession.conf
      .get(s"spark.sql.catalog.${SimilarityOps.AnnCat}.warehouse")
    def all(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(all)
      else Seq(f)
    all(new java.io.File(wh)).map(f => (f.getAbsolutePath, f.lastModified))
      .sortBy(_._1)
  }

  test("codebook property codec round-trips every double exactly") {
    val rnd = new scala.util.Random(11)
    val cb = (0 until 7).map(l => (l, Seq.fill(16)(
      rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 20) *
        (if (rnd.nextBoolean()) -1 else 1))))
    val back = SimilarityOps.decodeCodebook(SimilarityOps.encodeCodebook(cb))
    assert(back === cb)
    // bit-level, not just ==
    back.zip(cb).foreach { case ((_, a), (_, b)) =>
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ===
          java.lang.Double.doubleToRawLongBits(y))
      }
    }
  }

  test("a fresh process reloads the persisted index: no retrain, no rewrite, " +
      "identical results") {
    val (index1, cb1) = SimilarityOps.annIndex(spark, sf)
    assert(index1.count() > 0)
    // q217 BEFORE the signature capture: its first run persists the
    // exact ground truth as graft.ann.truth (one _table.json rewrite)
    val r217Before = graft.SparkEntry.queries("q217_ann_probe_recall")(spark, sf)
      .collect().map(_.toSeq).toSet
    val truthBefore = SimilarityOps.annExactTopk(
      SimilarityOps.annSession(spark), sf)
    val before = warehouseSig()

    SimilarityOps.resetAnnMemoryForTest() // what a restart leaves behind

    // truth reloads from the table property — no corpus scan, no write
    val truthAfter = SimilarityOps.annExactTopk(
      SimilarityOps.annSession(spark), sf)
    assert(truthAfter === truthBefore)

    val (index2, cb2) = SimilarityOps.annIndex(spark, sf)
    assert(index2.count() === index1.count())
    // codebook came from the table property — bit-identical
    assert(cb2 === cb1)
    cb2.zip(cb1).foreach { case ((_, a), (_, b)) =>
      a.zip(b).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToRawLongBits(x) ===
          java.lang.Double.doubleToRawLongBits(y))
      }
    }
    // no file in the warehouse was touched by the reload
    assert(warehouseSig() === before, "reload must not rewrite the index")
    // and the probe-only gate reproduces the same rows
    val r217After = graft.SparkEntry.queries("q217_ann_probe_recall")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(r217After === r217Before)
  }

  test("a table whose data never committed is rebuilt, not served") {
    val (index1, _) = SimilarityOps.annIndex(spark, sf)
    val n = index1.count()
    assert(n > 0)
    val iso = index1.sparkSession
    val ident = {
      // recover the ident the same way annIndex names it: the only
      // ivfpq_ table in namespace g
      val wh = iso.conf.get(s"spark.sql.catalog.${SimilarityOps.AnnCat}.warehouse")
      val t = new java.io.File(wh, "g").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("ivfpq_")).head
      s"${SimilarityOps.AnnCat}.g.${t.getName}"
    }
    iso.sql(s"TRUNCATE TABLE $ident") // writer-died-mid-build shape
    SimilarityOps.resetAnnMemoryForTest()
    val (index2, cb2) = SimilarityOps.annIndex(spark, sf)
    assert(index2.count() === n, "partial table must be rebuilt")
    assert(cb2.nonEmpty)
  }

  test("a JSON-era index table in the warehouse is refused and rebuilt") {
    val (index1, cb1) = SimilarityOps.annIndex(spark, sf)
    val n = index1.count()
    val iso = SimilarityOps.annSession(spark)
    val dir = graft.sources.LegacyJsonTable.dirOf(index1)
    val ident = s"${SimilarityOps.AnnCat}.g.${dir.getFileName}"
    graft.sources.LegacyJsonTable.plant(dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, cell BIGINT, packed BIGINT"),
      "cell", "vec_id", Seq("""{"vec_id":1,"cell":0,"packed":0}"""),
      filePerKey = true,
      props = Map("graft.codebook" -> SimilarityOps.encodeCodebook(cb1)))
    val e = intercept[Exception](iso.table(ident).collect())
    assert(e.getMessage.contains("drop the table and rebuild it"),
      e.getMessage)
    assert(graft.engine.Warehouse.adopt(iso, ident, Seq("graft.codebook"))
      .isEmpty)
    SimilarityOps.resetAnnMemoryForTest() // what a restart leaves behind
    val builds = SimilarityOps.annBuilds.get
    val (index2, _) = SimilarityOps.annIndex(spark, sf)
    assert(SimilarityOps.annBuilds.get === builds + 1, "index not rebuilt")
    assert(index2.count() === n)
    assert(dir.resolve("data").toFile.listFiles().map(_.getName)
      .forall(_.endsWith(".parquet")))
  }
}
