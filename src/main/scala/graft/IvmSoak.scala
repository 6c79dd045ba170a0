package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Measurement harness for the 4-mart IVM family at soak scale: drives
  * the STREAMING maintainers' fold path ([[graft.streaming
  * .GoldMaintenanceStream.foldAllMarts]]) over the four CDC batches of
  * a given dataset, printing one JSON line per batch with the fold
  * wall time and every state table's row count — the state-size
  * trajectory is the 100 TB story (state must track the LIVE tables,
  * never history), and the per-batch wall is what competes with a full
  * refresh. A final line measures the four marts' FULL-REFRESH wall on
  * the same dataset for the ratio.
  *
  * Usage: runMain graft.IvmSoak [sfDir] [mode] — mode ∈
  *   serial (default) | shared | concurrent (r17 verdict task 5:
  *   one parse of the wire batch, optionally folding the four marts on
  *   concurrent threads) | clsoak (task 7: 50-batch claims churn, the
  *   cl-state row trajectory vs live claims).
  */
object IvmSoak {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.engine.{IncrementalGold, InsuranceGate}
    import graft.streaming.GoldMaintenanceStream
    import org.apache.spark.sql.functions._

    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val pc = InsuranceGate.cdcBatches(spark, dir)
    val cu = InsuranceGate.cdcCustomerBatches(spark, dir)
    val polT = pc.head._1.schema("before").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val clT = pc.head._2.schema("before").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val cuT = cu.head.schema("before").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]

    def topic(i: Int): DataFrame =
      pc(i)._1.select(lit("policy").as("entity"), col("op"),
          to_json(col("before")).as("before"),
          to_json(col("after")).as("after"))
        .unionByName(pc(i)._2.select(lit("claim").as("entity"), col("op"),
          to_json(col("before")).as("before"),
          to_json(col("after")).as("after")))
        .unionByName(cu(i).select(lit("customer").as("entity"), col("op"),
          to_json(col("before")).as("before"),
          to_json(col("after")).as("after")))

    val stateRoot = java.nio.file.Files
      .createTempDirectory("ivm_soak_state").toString
    graft.util.TmpReaper.track(stateRoot)
    def foldOne(mart: String, batch: DataFrame, id: Long): Double = {
      val (_, w) = timed {
        mart match {
          case "exec" => GoldMaintenanceStream.foldBatch(batch, id, polT,
            clT, s"$stateRoot/exec")
          case "perf" => GoldMaintenanceStream.foldPerfBatch(batch, id,
            polT, clT, s"$stateRoot/perf")
          case "c360" => GoldMaintenanceStream.foldC360Batch(batch, id, cuT,
            polT, clT, s"$stateRoot/c360")
          case _ => GoldMaintenanceStream.foldOpsBatch(batch, id, cuT, polT,
            clT, s"$stateRoot/ops")
        }
      }
      w
    }

    // a REALISTIC maintenance batch appended after the four gate
    // batches: ~0.3% of policies get a premium bump, ~0.3% of claims a
    // settled bump — the daily-CDC shape where IVM must beat refresh
    def smallBatch(): DataFrame = {
      import org.apache.spark.sql.types.LongType
      val pol = pc(0)._1 // batch-1 insert images carry full rows
      val small = pol
        .withColumn("__pk", expr(
          "try_cast(substring(after.policy_id, 2) AS BIGINT)"))
        .filter(col("__pk") % 311 === 0)
        .select(lit("policy").as("entity"), lit("U").as("op"),
          to_json(col("after")).as("before"),
          to_json(col("after").withField("premium_amount",
            col("after.premium_amount") + 7)).as("after"))
      small.localCheckpoint(true)
    }

    val mode = args.drop(1).headOption.getOrElse("serial")

    // ---- mode "shared" / "concurrent" (r17 verdict task 5): ONE
    // parse of the wire batch feeds all four maintainers; concurrent
    // additionally folds the four marts on separate threads. Prints
    // the TOTAL four-mart wall per batch (per-mart walls interleave
    // under concurrency and stop being separable).
    if (mode == "shared" || mode == "concurrent") {
      (0 until 4).foreach { i =>
        val batch = topic(i).localCheckpoint(true)
        val nRecords = batch.count()
        val (_, w) = timed {
          GoldMaintenanceStream.foldAllMartsShared(batch, i.toLong, cuT,
            polT, clT, stateRoot, concurrent = mode == "concurrent")
        }
        println(f"""{"metric":"ivm_all_marts_$mode","batch":$i,""" +
          f""""records":$nRecords,"total_sec":$w%.2f}""")
      }
      val sb = smallBatch()
      Seq(("compact", 4L), ("delta", 5L)).foreach { case (label, id) =>
        val (_, w) = timed {
          GoldMaintenanceStream.foldAllMartsShared(sb, id, cuT, polT, clT,
            stateRoot, concurrent = mode == "concurrent")
        }
        println(f"""{"metric":"ivm_all_marts_${mode}_small_$label",""" +
          f""""total_sec":$w%.2f}""")
      }
      spark.stop(); return
    }

    // ---- mode "clsoak" (r17 verdict task 7): 50-batch claims-churn
    // soak of the TRILINEAR ops mart — each batch inserts a fresh
    // 1/25th slice of claims under new ids and deletes the slice
    // inserted 10 batches ago, so the LIVE claim population plateaus
    // after batch 10 while cumulative CDC volume keeps growing. The
    // artifact is the cl-state row trajectory: merge drops zero-count
    // groups, so cl rows must track LIVE claims (plateau), never
    // history (linear growth).
    if (mode == "clsoak") {
      val claimIns = pc(0)._2.filter(col("op") === "I")
        .select(col("after")).localCheckpoint(true)
      // each batch's clones carry a batch-unique claim MONTH (+k months
      // past a 20-year horizon), so every batch mints NEW (policy ×
      // claim-attr × month) GROUPS — and deleting the 10-batch-old
      // slice must retire those groups via the zero-count drop. A
      // suffix-only clone would land in existing groups and the row
      // trajectory would be trivially flat.
      def slice(k: Int): DataFrame = claimIns
        .filter(pmod(xxhash64(col("after.claim_id")), lit(25L)) === (k % 25))
        .select(col("after")
          .withField("claim_id",
            concat(col("after.claim_id"), lit(s"_b$k")))
          .withField("claim_date",
            add_months(col("after.claim_date"), 240 + k))
          .as("img"))
      def wire(op: String, df: DataFrame): DataFrame = {
        val (b, a) =
          if (op == "I") (lit(null).cast("string"), to_json(col("img")))
          else (to_json(col("img")), lit(null).cast("string"))
        df.select(lit("claim").as("entity"), lit(op).as("op"),
          b.as("before"), a.as("after"))
      }
      var live = 0L
      val opsDir = s"$stateRoot/ops"
      // bootstrap with the full batch-0 topic so the trilinear probes
      // hit real policy/customer dimensions throughout the soak
      GoldMaintenanceStream.foldOpsBatch(topic(0).localCheckpoint(true),
        0L, cuT, polT, clT, opsDir)
      (1 to 50).foreach { k =>
        val ins = wire("I", slice(k))
        val batch = (if (k > 10) ins.unionByName(
            wire("D", slice(k - 10))) else ins)
          .localCheckpoint(true)
        val nIns = slice(k).count()
        val nDel = if (k > 10) slice(k - 10).count() else 0L
        live += nIns - nDel
        val (_, w) = timed {
          GoldMaintenanceStream.foldOpsBatch(batch, k.toLong, cuT, polT,
            clT, opsDir)
        }
        val clRows = new graft.streaming.VersionedStateStore(spark, opsDir,
          Seq("cl", "p", "c", "att", "adj"),
          mergeSpecs = graft.engine.IncrementalGold.OpsSpecs)
          .load(k.toLong)("cl").count()
        println(f"""{"metric":"cl_traj","batch":$k,"live_claims":$live,""" +
          f""""cl_rows":$clRows,"fold_sec":$w%.2f}""")
      }
      spark.stop(); return
    }


    (0 until 4).foreach { i =>
      // materialize the topic batch once so the fold measures the
      // MAINTENANCE cost, not the CDC construction (the feed is the
      // transport's job in production)
      val batch = topic(i).localCheckpoint(true)
      val nRecords = batch.count()
      val walls = Seq("exec", "perf", "c360", "ops")
        .map(m => m -> foldOne(m, batch, i.toLong)).toMap
      def rows(mart: String, tables: Seq[String]): Long = tables.map { t =>
        val dir = s"$stateRoot/$mart/$i/$t"
        // clustered bases (r18) keep their parquet payload under data/
        val payload =
          if (java.nio.file.Files.exists(
            java.nio.file.Paths.get(dir, "_manifest.jsonl"))) s"$dir/data"
          else dir
        spark.read.parquet(payload).count()
      }.sum
      val exec = rows("exec", Seq("polMonths", "polCusts", "clMonths"))
      val perf = rows("perf", Seq("polBase", "pt", "cpm", "cbt"))
      val c360 = rows("c360",
        Seq("custDim", "polMetrics", "polDates", "pc", "cpc", "cm"))
      val ops = rows("ops", Seq("cl", "p", "c", "att", "adj"))
      println(f"""{"metric":"ivm_batch","batch":$i,"records":$nRecords,""" +
        f""""exec_sec":${walls("exec")}%.2f,"perf_sec":${walls("perf")}%.2f,""" +
        f""""c360_sec":${walls("c360")}%.2f,"ops_sec":${walls("ops")}%.2f,""" +
        f""""exec_rows":$exec,"perf_rows":$perf,""" +
        f""""c360_rows":$c360,"ops_rows":$ops}""")
    }

    // realistic small batches appended twice: with compactEvery = 4 and
    // the chain [base, d, d, d], id 4 lands on a COMPACTION (chain fold
    // + one |state| base write, the amortized cost) and id 5 is a pure
    // DELTA batch (the steady-state per-batch cost, write ∝ |Δ|)
    val sb = smallBatch()
    val sbN = sb.count()
    Seq(("ivm_small_batch_compact", 4L), ("ivm_small_batch_delta", 5L))
      .foreach { case (label, id) =>
        val walls = Seq("exec", "perf", "c360", "ops")
          .map(m => m -> foldOne(m, sb, id)).toMap
        println(f"""{"metric":"$label","records":$sbN,""" +
          f""""exec_sec":${walls("exec")}%.2f,"perf_sec":${walls("perf")}%.2f,""" +
          f""""c360_sec":${walls("c360")}%.2f,"ops_sec":${walls("ops")}%.2f}""")
      }

    // the competitor: all four marts full-refreshed from silver
    val (_, refreshWall) = timed {
      Seq("q45_gold_executive_summary", "q44_gold_policy_performance",
        "q46_gold_customer_360", "q47_gold_claims_operations").foreach { q =>
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
    }
    println(f"""{"metric":"ivm_full_refresh","sec":$refreshWall%.2f}""")
    spark.stop()
  }
}
