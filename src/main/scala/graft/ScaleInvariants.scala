package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine-only scale gate for the heavy graph/similarity family at soak
  * multiples where no DuckDB oracle can follow (r6 verdict task 6: the
  * 50x point). No oracle — instead it exploits the REPLICATE soak's
  * structure (tools/make_soak.py): facts are K shifted copies of sf0.1
  * with dimension FKs fixed, so
  *
  *  - q147/q163/q178/q190 build their graphs from DISTINCT co-occurrence
  *    pairs of dimension keys → the K-replicated graph is IDENTICAL to
  *    the base graph, and the query output must EQUAL the base output
  *    row-for-row. Checked distributedly (exceptAll both ways, count-only
  *    to the driver); any drift — an overflow, a dropped bucket, a
  *    nondeterministic tie — shows up as a nonzero diff.
  *  - q90's synthetic doc_id-arithmetic graph DOES grow ~K-fold (doc_ids
  *    are offset per copy), so it is checked against connected-components
  *    algebra: exactly one representative per component, the component
  *    label is the minimum member id, and the node count is within the
  *    copy-boundary slack of K x base.
  *  - q114's corpus is K verbatim copies, so every output pair projects
  *    (doc_id mod offset) onto base structure: same-base-doc pairs must
  *    have jaccard exactly 1.0 and appear exactly C(K,2) times per doc;
  *    cross-doc pairs must project exactly onto the base result, K*K
  *    copies each, with bit-identical jaccard (integer |∩|/|∪| on
  *    identical sets). The df-ascending prefix ordering is preserved
  *    under uniform K-fold df scaling, so candidate generation admits
  *    precisely the scaled pair set — this check would catch a lost
  *    bucket, a prefix-bound error, or a df-tie instability at scale.
  *
  * Wall times for the soak side are measured through the noop sink
  * (same as graft.Bench) and printed as one JSON line for SCALE.md's
  * 10x/20x/50x exponent triples.
  *
  * Usage: ScaleInvariants [soakDir] [baseDir] [K]
  */
object ScaleInvariants {
  def main(args: Array[String]): Unit = {
    val soakDir = args.headOption.getOrElse("/tmp/soak50")
    val baseDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val k = if (args.length > 2) args(2).toInt else 50
    val spark = GraftSession(GraftSession.cpus(GraftSession.allCores))

    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    var failures = 0
    def check(label: String, cond: Boolean, detail: => String): Unit = {
      if (cond) println(s"[inv] PASS $label")
      else { failures += 1; println(s"[inv] FAIL $label: $detail") }
    }
    def timedSoak(name: String): DataFrame = {
      val df = SparkEntry.queries(name)(spark, soakDir)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      times(name) = (System.nanoTime() - t0) / 1e9
      df
    }

    // ---- identical-graph family: soak output must equal base output
    for (name <- Seq("q147_pagerank", "q163_triangle_count",
                     "q178_kcore", "q190_bfs_levels")) {
      // cache both sides: the noop-sink timing plus the bidirectional
      // exceptAll would otherwise recompute the heaviest 50x queries
      // twice (r8 ADVICE)
      val soak = timedSoak(name).cache()
      val base = SparkEntry.queries(name)(spark, baseDir).cache()
      val extra = soak.exceptAll(base).count()
      val missing = base.exceptAll(soak).count()
      check(s"$name soak==base", extra == 0 && missing == 0,
        s"extra=$extra missing=$missing (replicated soak graph must be " +
          "identical to base)")
      soak.unpersist(); base.unpersist()
    }

    // ---- q90: connected-components algebra on the K-fold grown graph
    {
      val soak = timedSoak("q90_dup_clusters").cache()
      val comp = soak.groupBy("component").agg(
        sum("is_representative").as("reps"),
        min("doc_id").as("min_id"),
        count(lit(1)).as("sz"))
      val badReps = comp.filter(col("reps") =!= 1).count()
      val badMin = comp.filter(col("min_id") =!= col("component")).count()
      check("q90 one representative per component", badReps == 0,
        s"$badReps components with reps != 1")
      check("q90 component label is min member id", badMin == 0,
        s"$badMin components where min(doc_id) != component")
      val n = soak.count()
      val nBase = SparkEntry.queries("q90_dup_clusters")(spark, baseDir).count()
      check("q90 node count ~ K x base",
        n >= (k - 1) * nBase && n <= (k + 1) * nBase,
        s"n=$n base=$nBase k=$k")
      soak.unpersist()
    }

    // ---- q114: project the K-copy output onto base structure
    {
      val name = "q114_set_similarity_join"
      val off = spark.read.parquet(s"$baseDir/documents.parquet")
        .agg(max("doc_id")).head.getLong(0) + 1L
      val soak = timedSoak(name).cache()
      val base = SparkEntry.queries(name)(spark, baseDir).cache()

      val self = soak.filter(col("doc_a") % off === col("doc_b") % off)
      val badSelfJ = self.filter(col("jaccard") =!= 1.0).count()
      check("q114 same-base-doc pairs have jaccard 1.0", badSelfJ == 0,
        s"$badSelfJ self pairs with jaccard != 1.0")
      val selfPerDoc = self.groupBy((col("doc_a") % off).as("d"))
        .agg(count(lit(1)).as("c"))
      val expSelf = k.toLong * (k - 1) / 2
      val badSelfC = selfPerDoc.filter(col("c") =!= expSelf).count()
      check(s"q114 self-pair count C($k,2)=$expSelf per doc", badSelfC == 0,
        s"$badSelfC base docs with wrong self-pair count")
      // r8 ADVICE: the per-doc count check above is vacuous for a base
      // doc whose self pairs are dropped ENTIRELY (absent from
      // selfPerDoc => never inspected). Every base doc with >=3 tokens
      // has a nonempty shingle set, so its K identical copies MUST
      // self-pair (jaccard 1.0 >= threshold, shared prefix => candidate);
      // compare the group count against that expectation directly.
      val expDocs = spark.read.parquet(s"$baseDir/documents.parquet")
        .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
      val gotDocs = selfPerDoc.count()
      check(s"q114 all $expDocs shingled base docs self-pair",
        gotDocs == expDocs,
        s"selfPerDoc has $gotDocs docs, expected $expDocs (missing docs " +
          "lost ALL their self pairs)")

      val crossProj = soak
        .filter(col("doc_a") % off =!= col("doc_b") % off)
        .select(
          least(col("doc_a") % off, col("doc_b") % off).as("doc_a"),
          greatest(col("doc_a") % off, col("doc_b") % off).as("doc_b"),
          col("jaccard"))
      val projCounts = crossProj.groupBy("doc_a", "doc_b", "jaccard")
        .agg(count(lit(1)).as("c"))
      // every projected (pair, jaccard) must match base exactly, K*K
      // copies each; exceptAll in both directions catches spurious pairs,
      // lost pairs, and jaccard drift in one pass
      val expCross = k.toLong * k
      val wrongCount = projCounts.filter(col("c") =!= expCross).count()
      check(s"q114 cross pairs appear K*K=$expCross times", wrongCount == 0,
        s"$wrongCount projected pairs with count != $expCross")
      val projSet = projCounts.select("doc_a", "doc_b", "jaccard")
      val extra = projSet.exceptAll(base).count()
      val missing = base.exceptAll(projSet).count()
      check("q114 projected pair set == base result", extra == 0 && missing == 0,
        s"extra=$extra missing=$missing")
      soak.unpersist(); base.unpersist()
    }

    val total = times.values.sum
    val qj = times.map { case (n, t) => f""""$n":$t%.3f""" }.mkString(",")
    println(f"""{"metric":"scale_invariants","value":$total%.3f,"unit":"sec","queries":{$qj},"sf":"$soakDir","k":$k,"failures":$failures}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
