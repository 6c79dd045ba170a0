package graft.engine

import graft.SparkSpec
import graft.ops.GraphOps

/** The unified engine warehouse (r15 verdict task 4): ANN indexes and
  * graph edge layouts share ONE root, one session discipline, and one
  * adopt-or-rebuild contract. AnnIndexReloadSpec already drives the
  * ANN side; this spec drives the EDGE side through the same
  * machinery, plus the root unification itself.
  */
class WarehouseSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("ann and edge catalogs resolve under the same warehouse root") {
    val annWh = graft.ml.SimilarityOps.annSession(spark).conf
      .get(s"spark.sql.catalog.${graft.ml.SimilarityOps.AnnCat}.warehouse")
    val edgeWh = GraphOps.graftEdgeSession(spark).conf
      .get(s"spark.sql.catalog.${GraphOps.GraftEdgeCat}.warehouse")
    assert(new java.io.File(annWh).getParentFile.getAbsolutePath ===
      new java.io.File(Warehouse.root).getAbsolutePath)
    assert(new java.io.File(edgeWh).getParentFile.getAbsolutePath ===
      new java.io.File(Warehouse.root).getAbsolutePath)
    assert(annWh !== edgeWh, "families must not share a namespace dir")
  }

  test("spjSession is keyed by FAMILY too (r16 ADVICE): the same " +
      "catalog name bound to two families yields two sessions with " +
      "their own warehouse directories, not the first family's") {
    val a = Warehouse.spjSession(spark, "wh_key_cat", "fam_a")
    val b = Warehouse.spjSession(spark, "wh_key_cat", "fam_b")
    assert(a ne b, "distinct families must not share a child session")
    val whA = a.conf.get("spark.sql.catalog.wh_key_cat.warehouse")
    val whB = b.conf.get("spark.sql.catalog.wh_key_cat.warehouse")
    assert(whA.endsWith("fam_a") && whB.endsWith("fam_b"), s"$whA / $whB")
    // and the memo still caches: same (session, catalog, family) hits
    assert(Warehouse.spjSession(spark, "wh_key_cat", "fam_a") eq a)
  }

  test("a fresh process ADOPTS a complete persisted edge table: " +
      "no rewrite, identical rows") {
    val t1 = GraphOps.graftEdgeTable(spark, sf)
    val n = t1.count()
    assert(n > 0)
    val iso = GraphOps.graftEdgeSession(spark)
    val wh = iso.conf
      .get(s"spark.sql.catalog.${GraphOps.GraftEdgeCat}.warehouse")
    def sig(): Seq[(String, Long)] = {
      def all(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(all)
        else Seq(f)
      all(new java.io.File(wh)).map(f => (f.getAbsolutePath, f.lastModified))
        .sortBy(_._1)
    }
    val before = sig()
    GraphOps.resetEdgeMemoryForTest() // what a restart leaves behind
    val t2 = GraphOps.graftEdgeTable(spark, sf)
    assert(t2.count() === n)
    assert(sig() === before,
      "adopting a complete persisted edge table must not rewrite it")
  }

  test("a persisted edge table whose data never committed is rebuilt") {
    val t1 = GraphOps.graftEdgeTable(spark, sf)
    val n = t1.count()
    val iso = GraphOps.graftEdgeSession(spark)
    val wh = iso.conf
      .get(s"spark.sql.catalog.${GraphOps.GraftEdgeCat}.warehouse")
    val ident = {
      val t = new java.io.File(wh, "g").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("edges_") &&
          !f.getName.startsWith("edges_g")).head
      s"${GraphOps.GraftEdgeCat}.g.${t.getName}"
    }
    // writer-died-mid-build shape: data gone, completeness marker gone
    iso.sql(s"TRUNCATE TABLE $ident")
    iso.sql(s"ALTER TABLE $ident UNSET TBLPROPERTIES " +
      s"('${Warehouse.CompleteProp}')")
    GraphOps.resetEdgeMemoryForTest()
    val t2 = GraphOps.graftEdgeTable(spark, sf)
    assert(t2.count() === n, "partial edge table must be rebuilt")
  }

  test("a committed-but-unmarked table (died before markComplete) is " +
      "rebuilt too, not served") {
    val t1 = GraphOps.graftEdgeTable(spark, sf)
    val n = t1.count()
    val iso = GraphOps.graftEdgeSession(spark)
    val wh = iso.conf
      .get(s"spark.sql.catalog.${GraphOps.GraftEdgeCat}.warehouse")
    val ident = {
      val t = new java.io.File(wh, "g").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("edges_") &&
          !f.getName.startsWith("edges_g")).head
      s"${GraphOps.GraftEdgeCat}.g.${t.getName}"
    }
    iso.sql(s"ALTER TABLE $ident UNSET TBLPROPERTIES " +
      s"('${Warehouse.CompleteProp}')")
    GraphOps.resetEdgeMemoryForTest()
    val t2 = GraphOps.graftEdgeTable(spark, sf)
    assert(t2.count() === n)
    // rebuilt => marker restored
    val props = iso.sql(s"SHOW TBLPROPERTIES $ident").collect()
      .map(r => r.getString(0)).toSet
    assert(props.contains(Warehouse.CompleteProp),
      "rebuild must restore the completeness marker")
  }

  test("a JSON-era edge table in a durable warehouse is refused, not " +
      "adopted, and rebuilt as parquet") {
    val t1 = GraphOps.graftEdgeTable(spark, sf)
    val n = t1.count()
    val iso = GraphOps.graftEdgeSession(spark)
    val dir = graft.sources.LegacyJsonTable.dirOf(t1)
    val ident = s"${GraphOps.GraftEdgeCat}.g.${dir.getFileName}"
    // what the JSON-lines payload left under the same content address:
    // complete by its own marker, but no parquet format entry
    graft.sources.LegacyJsonTable.plant(dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "src BIGINT, dst BIGINT, bucket BIGINT"),
      "bucket", "src", Seq("""{"src":1,"dst":2,"bucket":1}"""),
      filePerKey = true, props = Map(Warehouse.CompleteProp -> "true"))
    val e = intercept[Exception](iso.table(ident).collect())
    assert(e.getMessage.contains(dir.getFileName.toString) &&
      e.getMessage.contains("drop the table and rebuild it"), e.getMessage)
    assert(Warehouse.adopt(iso, ident, Seq(Warehouse.CompleteProp)).isEmpty)
    GraphOps.resetEdgeMemoryForTest() // what a restart leaves behind
    val t2 = GraphOps.graftEdgeTable(spark, sf)
    assert(t2.count() === n, "the legacy table must be rebuilt in full")
    val segs = dir.resolve("data").toFile.listFiles().map(_.getName)
    assert(segs.nonEmpty && segs.forall(_.endsWith(".parquet")),
      segs.mkString(", "))
    // the rebuilt table is what the next process adopts
    assert(Warehouse.adopt(iso, ident, Seq(Warehouse.CompleteProp)).isDefined)
  }
}
