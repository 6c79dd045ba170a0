package graft.sources

import graft.ops.QueryModule
import org.apache.spark.sql.functions._

/** Oracle gate for the [[graft.sources.v2.RangeDocSource]] DataSource V2
  * connector (SURVEY §2.1 S1 — the connector side of the reference's
  * declared-source contract, `models/sources/sources.yml:4-16`).
  *
  * The query reads through the full connector path — TableProvider →
  * ScanBuilder (id-range pushdown + column pruning) → planInputPartitions
  * (8 splits) → per-split readers — and the DuckDB twin recomputes the
  * same closed-form table from `range(lo, hi)`. The id predicates are
  * consumed by the source (the scan generates exactly the narrowed range);
  * the `bucket` predicate stays residual and is evaluated by Spark above
  * the scan. RangeDocSourceSpec pins both behaviors at the plan level.
  */
object SourceGate extends QueryModule {

  /** Per-JVM warehouse for the q195 catalog: the catalog instance is
    * cached by Spark under its name on first reference, so the warehouse
    * must be stable for the session's lifetime; the query drops and
    * recreates its table every run for determinism. */
  lazy val q195Warehouse: String =
    {
      val p = java.nio.file.Files.createTempDirectory("graft_cat_q195")
      graft.util.TmpReaper.track(p.toString)
      p.toString
    }

  // ================================================== agg pushdown gate
  // COUNT(*)/MIN(id)/MAX(id) over a filter-narrowed graft-range scan:
  // the source answers the ENTIRE aggregation in closed form (hi-lo,
  // lo, hi-1) through SupportsPushDownAggregates complete pushdown —
  // the executed plan contains no aggregate operator at all, just the
  // one-row agg scan (RangeDocSourceSpec pins this and the grouped
  // fallback). The oracle recomputes the same aggregation from
  // range(); the count is the range width because ids are dense.
  register("q148_source_agg_pushdown",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(id) AS min_id, MAX(id) AS max_id
      |FROM range(50000, 150000) t(id)""".stripMargin) { (s, _) =>
    s.read.format("graft-range")
      .option("rows", "200000").option("splits", "8").load()
      .filter(col("id") >= 50000L && col("id") < 150000L)
      .selectExpr("count(*) AS n_rows", "min(id) AS min_id",
        "max(id) AS max_id")
  }

  // ============================================== write path (DSv2 sink)
  // Full connector write path: orders is projected to (key, bucket,
  // payload), written through graft-sink — Catalyst inserts the
  // clustered-by-bucket shuffle + (bucket, key) sort the sink REQUIRES
  // via RequiresDistributionAndOrdering, tasks two-phase-commit parquet
  // segments + a stats manifest — then read back from the committed
  // files with Spark's own parquet reader and re-aggregated. The oracle computes the same aggregation from the
  // original parquet: any row lost, duplicated, or corrupted by the
  // write path breaks the hash. Layout invariants (bucket→one file,
  // in-file sort, manifest min/max) are ClusteredSinkSpec's territory;
  // this gate proves end-to-end data fidelity.
  register("q157_clustered_sink_roundtrip",
    """SELECT o_custkey % 64 AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
      |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
      |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
      |  MIN(o_orderstatus || '|' || o_orderpriority) AS min_payload,
      |  MAX(o_orderstatus || '|' || o_orderpriority) AS max_payload
      |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
    val out = java.nio.file.Files.createTempDirectory("graft_sink_q157").toString
    graft.ops.Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("key"),
        (col("o_custkey") % 64).cast("long").as("bucket"),
        concat(col("o_orderstatus"), lit("|"), col("o_orderpriority")).as("payload"))
      .write.format("graft-sink")
      .option("path", out).option("clusterBy", "bucket").option("sortBy", "key")
      .option("partitions", "8").mode("append").save()
    s.read.schema("key LONG, bucket LONG, payload STRING").parquet(out + "/data")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("key").as("sum_key"),
        min("key").as("min_key"),
        max("key").as("max_key"),
        min("payload").as("min_payload"),
        max("payload").as("max_payload"))
  }

  // ============================================== metadata columns
  // `_split` is a connector METADATA column (SupportsMetadataColumns) —
  // the DSv2 analogue of the file source's `_metadata.file_path`:
  // row-level provenance, resolved only when referenced, absent from
  // SELECT *. The oracle recomputes the split index closed-form from the
  // narrowed range's split arithmetic (n=160000 over 8 splits → width
  // 20000, rem 0), which is exactly the planner's contract — so this
  // gate pins that planned partitions and the rows they emit agree.
  register("q159_source_metadata",
    """WITH src AS (
      |  SELECT id, (id - 20000) // 20000 AS split_id,
      |    (id * 37 + 11) % 1000003 AS amount
      |  FROM range(20000, 180000) t(id))
      |SELECT CAST(split_id AS INTEGER) AS split_id,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MIN(id) AS min_id, MAX(id) AS max_id,
      |  CAST(SUM(amount) AS BIGINT) AS total_amount
      |FROM src GROUP BY 1""".stripMargin) { (s, _) =>
    s.read.format("graft-range")
      .option("rows", "200000").option("splits", "8").load()
      .filter(col("id") >= 20000L && col("id") < 180000L)
      .select(col("_split").as("split_id"), col("id"), col("amount"))
      .groupBy("split_id")
      .agg(count(lit(1)).as("n"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"),
        sum(col("amount")).as("total_amount"))
  }

  // ============================================== top-N pushdown gate
  // ORDER BY id DESC LIMIT 50 over a filter-narrowed scan: the source
  // accepts the top-N (sort key = id, the generation order) and narrows
  // the generated range to the 50-row TAIL — the scan reads 50 rows, not
  // 160 000 (RangeDocSourceSpec pins the narrowed description and the
  // no-re-scan row count; plain LIMIT is pinned as a FULL push with no
  // Limit operator in the plan). The oracle runs the same top-N over the
  // closed-form range.
  register("q160_source_topn_pushdown",
    """SELECT id, (id * 37 + 11) % 1000003 AS amount
      |FROM range(20000, 180000) t(id)
      |ORDER BY id DESC LIMIT 50""".stripMargin) { (s, _) =>
    s.read.format("graft-range")
      .option("rows", "200000").option("splits", "8").load()
      .filter(col("id") >= 20000L && col("id") < 180000L)
      .select(col("id"), col("amount"))
      .orderBy(col("id").desc)
      .limit(50)
  }

  // ====================================== storage-partitioned join gate
  // Two bucket-clustered graft-range tables joined on (bucket, id): both
  // scans report KeyGroupedPartitioning over `bucket`, so with DSv2
  // bucketing enabled Spark zips the aligned residue-class splits — the
  // executed plan has ZERO shuffle exchanges, and the reported
  // (bucket, id) per-split ordering feeds the merge join without a sort
  // (both pinned by RangeDocSourceSpec). The sizes (58/87 MB by reported
  // statistics) put both sides past the broadcast threshold, so this is
  // the genuine fact-to-fact co-located join path a bucketed warehouse
  // layout buys at 100 TB. The oracle joins the two closed-form ranges.
  register("q161_partitioned_join",
    """WITH a AS (SELECT id, CAST(id % 97 AS INTEGER) AS bucket,
      |    (id * 37 + 11) % 1000003 AS amount FROM range(0, 2000000) t(id)),
      |  b AS (SELECT id, CAST(id % 97 AS INTEGER) AS bucket,
      |    (id * 37 + 11) % 1000003 AS amount FROM range(0, 3000000) t(id))
      |SELECT a.bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(a.amount + b.amount) AS BIGINT) AS total,
      |  MIN(a.id) AS min_id, MAX(a.id) AS max_id
      |FROM a JOIN b ON a.bucket = b.bucket AND a.id = b.id
      |GROUP BY 1""".stripMargin) { (s, _) =>
    // SPJ needs TWO confs: v2.bucketing.enabled, and (because the join
    // keys (bucket, id) are a SUPERSET of the reported partition key
    // (bucket)) the relaxed co-partition check — with the strict default
    // Spark silently falls back to a 3-exchange SMJ (found round 6; the
    // old plan assert was vacuous under AQE). The relaxed check is set on
    // an ISOLATED child session: measured round 6, setting it globally
    // lets OTHER queries ride subset co-partitionings and regresses
    // q46 ~35% / q181 ~20% — this query's plan needs must not leak into
    // the shared session (the r5 lesson, now with the conf scoped right).
    // Trade-off, documented: newSession inherits BUILDER confs only, so
    // runtime overrides on the parent (Bench's SPARK_GRAFT_EXTRA_CONF
    // A/B hook) do not reach this query.
    val iso = s.newSession()
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    def side(rows: Long) = iso.read.format("graft-range")
      .option("rows", rows.toString).option("partitionBy", "bucket").load()
    val a = side(2000000L)
    val b = side(3000000L)
    a.join(b, a("bucket") === b("bucket") && a("id") === b("id"))
      .groupBy(a("bucket").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(a("amount") + b("amount")).as("total"),
        min(a("id")).as("min_id"),
        max(a("id")).as("max_id"))
  }

  // ===================================== overwrite write-modes gate
  // DSv2 write-side completion (r8 verdict task 7a): the same orders
  // projection is (1) appended through a GraftCatalog table, (2) has its
  // low buckets replaced via writeTo().overwrite(bucket < 8) —
  // OverwriteByExpression → SupportsOverwrite, manifest-pruned
  // copy-on-write — and (3) has three buckets replaced via
  // writeTo().overwritePartitions() — OverwritePartitionsDynamic →
  // SupportsDynamicOverwrite at cluster-key granularity. The oracle
  // recomputes the overwrite ALGEBRA relationally (anti-filter UNION ALL
  // replacement, twice); any row the commit protocol loses, duplicates,
  // resurrects from a replaced file, or fails to replace breaks the
  // hash. ClusteredSinkOverwriteSpec pins the layout-level invariants
  // (untouched files, copy-on-write, manifest consistency).
  register("q195_sink_overwrite_roundtrip",
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS key,
      |    CAST(o_custkey % 64 AS BIGINT) AS bucket,
      |    o_orderstatus || '|' || o_orderpriority AS payload
      |  FROM orders),
      |after_filter AS (
      |  SELECT * FROM base WHERE NOT (bucket < 8)
      |  UNION ALL
      |  SELECT key + 10000000, bucket, upper(payload)
      |  FROM base WHERE bucket < 8),
      |after_dynamic AS (
      |  SELECT * FROM after_filter WHERE bucket NOT IN (3, 12, 60)
      |  UNION ALL
      |  SELECT key + 20000000, bucket, lower(payload)
      |  FROM base WHERE bucket IN (3, 12, 60))
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(key) AS BIGINT) AS sum_key,
      |  MIN(key) AS min_key, MAX(key) AS max_key,
      |  MIN(payload) AS min_payload, MAX(payload) AS max_payload
      |FROM after_dynamic GROUP BY 1""".stripMargin) { (s, dir) =>
    val cat = "graft_cat_q195"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", SourceGate.q195Warehouse)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
    s.sql(s"DROP TABLE IF EXISTS $cat.g.orders_mart")
    s.sql(s"CREATE TABLE $cat.g.orders_mart " +
      "(key BIGINT, bucket BIGINT, payload STRING) PARTITIONED BY (bucket)")
    val t = s"$cat.g.orders_mart"
    val base = graft.ops.Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("key"),
        (col("o_custkey") % 64).cast("long").as("bucket"),
        concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
          .as("payload"))
    base.writeTo(t).append()
    base.filter(col("bucket") < 8)
      .select((col("key") + 10000000L).as("key"), col("bucket"),
        upper(col("payload")).as("payload"))
      .writeTo(t).overwrite(col("bucket") < 8)
    base.filter(col("bucket").isin(3L, 12L, 60L))
      .select((col("key") + 20000000L).as("key"), col("bucket"),
        lower(col("payload")).as("payload"))
      .writeTo(t).overwritePartitions()
    s.read.schema("key LONG, bucket LONG, payload STRING")
      .parquet(SourceGate.q195Warehouse + "/g/orders_mart/data")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("key").as("sum_key"),
        min("key").as("min_key"),
        max("key").as("max_key"),
        min("payload").as("min_payload"),
        max("payload").as("max_payload"))
  }

  /** Per-JVM warehouse for the q222 parquet-overwrite catalog. */
  lazy val q222Warehouse: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_cat_q222")
    graft.util.TmpReaper.track(p.toString)
    p.toString
  }

  // q222 — q195's overwrite algebra read back through the catalog (the
  // copy-on-write rewrite decodes and re-encodes parquet segments
  // through the sink's own reader/writer). Identical mutation algebra →
  // the SAME oracle shape; where q195 reads the committed segments raw,
  // q222's read-back goes through spark.table(), i.e. the
  // manifest-planned scan, so a survivor row the rewrite corrupts OR a
  // manifest entry it mis-stats breaks the hash.
  register("q222_parquet_overwrite_roundtrip",
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS key,
      |    CAST(o_custkey % 64 AS BIGINT) AS bucket,
      |    o_orderstatus || '|' || o_orderpriority AS payload
      |  FROM orders),
      |after_filter AS (
      |  SELECT * FROM base WHERE NOT (bucket < 8)
      |  UNION ALL
      |  SELECT key + 10000000, bucket, upper(payload)
      |  FROM base WHERE bucket < 8),
      |after_dynamic AS (
      |  SELECT * FROM after_filter WHERE bucket NOT IN (3, 12, 60)
      |  UNION ALL
      |  SELECT key + 20000000, bucket, lower(payload)
      |  FROM base WHERE bucket IN (3, 12, 60))
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(key) AS BIGINT) AS sum_key,
      |  MIN(key) AS min_key, MAX(key) AS max_key,
      |  MIN(payload) AS min_payload, MAX(payload) AS max_payload
      |FROM after_dynamic GROUP BY 1""".stripMargin) { (s, dir) =>
    val cat = "graft_cat_q222"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", SourceGate.q222Warehouse)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
    s.sql(s"DROP TABLE IF EXISTS $cat.g.orders_mart")
    s.sql(s"CREATE TABLE $cat.g.orders_mart " +
      "(key BIGINT, bucket BIGINT, payload STRING) PARTITIONED BY (bucket)")
    val t = s"$cat.g.orders_mart"
    val base = graft.ops.Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("key"),
        (col("o_custkey") % 64).cast("long").as("bucket"),
        concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
          .as("payload"))
    base.writeTo(t).append()
    base.filter(col("bucket") < 8)
      .select((col("key") + 10000000L).as("key"), col("bucket"),
        upper(col("payload")).as("payload"))
      .writeTo(t).overwrite(col("bucket") < 8)
    base.filter(col("bucket").isin(3L, 12L, 60L))
      .select((col("key") + 20000000L).as("key"), col("bucket"),
        lower(col("payload")).as("payload"))
      .writeTo(t).overwritePartitions()
    s.table(t)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("key").as("sum_key"),
        min("key").as("min_key"),
        max("key").as("max_key"),
        min("payload").as("min_payload"),
        max("payload").as("max_payload"))
  }

  /** Serializes q229 gate bodies within one JVM: even with
    * fingerprint-suffixed table names, the DDL sequence (DROP → CREATE
    * → two ALTERs) on a shared warehouse is not safe to interleave for
    * the SAME data dir (r17 advice). */
  val q229Lock = new Object

  /** Per-JVM warehouse for the q229 column-evolution catalog. */
  lazy val q229Warehouse: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_cat_q229")
    graft.util.TmpReaper.track(p.toString)
    p.toString
  }

  // q229 — the COLUMN-EVOLUTION matrix under the oracle (r16 verdict
  // task 8): append → ADD COLUMN ... DEFAULT ×2 → append WITH explicit
  // values (including explicit nulls) → DROP COLUMN → read back through
  // the manifest-planned scan. Every leg is METADATA-ONLY on the
  // parquet payload (ParquetSinkSpec pins files-untouched); the oracle
  // recomputes the lifecycle relationally — pre-alter rows carry the
  // defaults, post-alter rows their explicit values with nulls
  // preserved, and the dropped column is simply absent — so a reader
  // that default-fills a genuine null, null-fills a defaulted segment,
  // or resurrects the dropped column breaks the hash.
  register("q229_column_evolution_roundtrip",
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS key,
      |    CAST(o_custkey % 16 AS BIGINT) AS bucket,
      |    CAST(o_totalprice AS DOUBLE) AS amount
      |  FROM orders),
      |s1 AS (
      |  SELECT key, bucket, 'legacy' AS region, CAST(5 AS BIGINT) AS bonus
      |  FROM base WHERE key % 2 = 0),
      |s2 AS (
      |  SELECT key, bucket,
      |    CASE WHEN key % 3 = 0 THEN NULL
      |         ELSE 'r' || CAST(key % 4 AS VARCHAR) END AS region,
      |    CAST(key % 100 AS BIGINT) AS bonus
      |  FROM base WHERE key % 2 = 1)
      |SELECT bucket, region, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(bonus) AS BIGINT) AS sum_bonus,
      |  CAST(SUM(key) AS BIGINT) AS sum_key
      |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      |GROUP BY bucket, region""".stripMargin) { (s, dir) =>
    val cat = "graft_cat_q229"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", SourceGate.q229Warehouse)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
    // table name carries the data-dir fingerprint (r17 advice): two
    // concurrent invocations at different gate scales in one JVM would
    // otherwise DROP/recreate the same table under each other. Same-dir
    // reruns still reset cleanly via the DROP.
    val fp = java.lang.Integer.toHexString(dir.hashCode)
    val t = s"$cat.g.orders_evolve_$fp"
    SourceGate.q229Lock.synchronized {
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (key BIGINT, bucket BIGINT, amount DOUBLE) " +
      "PARTITIONED BY (bucket)")
    val base = graft.ops.Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("key"),
        (col("o_custkey") % 16).cast("long").as("bucket"),
        col("o_totalprice").cast("double").as("amount"))
    base.filter(col("key") % 2 === 0).writeTo(t).append()
    s.sql(s"ALTER TABLE $t ADD COLUMN region STRING DEFAULT 'legacy'")
    s.sql(s"ALTER TABLE $t ADD COLUMN bonus BIGINT DEFAULT 5")
    base.filter(col("key") % 2 === 1)
      .select(col("key"), col("bucket"), col("amount"),
        when(col("key") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("r"), (col("key") % 4).cast("string")))
          .as("region"),
        (col("key") % 100).cast("long").as("bonus"))
      .writeTo(t).append()
    s.sql(s"ALTER TABLE $t DROP COLUMN amount")
    s.table(t)
      .groupBy("bucket", "region")
      .agg(count(lit(1)).as("n"),
        sum("bonus").as("sum_bonus"),
        sum("key").as("sum_key"))
    } // q229Lock
  }

  /** Per-JVM warehouse for the q196 catalog (same lifetime contract as
    * [[q195Warehouse]]). */
  lazy val q196Warehouse: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_cat_q196")
    graft.util.TmpReaper.track(p.toString)
    p.toString
  }

  // ===================================== catalog lifecycle gate
  // DSv2 catalog surface completion (r9 verdict task 6): one query
  // drives the FULL table lifecycle through Catalyst SQL/DataFrameV2 —
  // CREATE, append, ALTER TABLE ADD COLUMN (metadata-only; old files
  // read the new column as null), a second append carrying the column,
  // ALTER TABLE RENAME COLUMN (schema rewrite + copy-on-write data-key
  // rewrite), plus a second table exercising TRUNCATE TABLE
  // (TruncatableTable) between appends — then reads everything back
  // through spark.table(), i.e. the MANIFEST-PLANNED read path
  // (ClusteredSinkScan), not a raw directory listing. The oracle
  // recomputes the lifecycle algebra relationally: any row the ALTER
  // rewrite corrupts, the truncate resurrects, or the manifest read
  // loses breaks the hash.
  register("q196_catalog_lifecycle",
    """WITH base AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS key,
      |    CAST(o_custkey % 64 AS BIGINT) AS bucket,
      |    o_orderstatus || '|' || o_orderpriority AS note
      |  FROM orders),
      |t1 AS (
      |  SELECT key, bucket, note, CAST(NULL AS BIGINT) AS score FROM base
      |  UNION ALL
      |  SELECT key + 10000000, bucket, upper(note), key % 100
      |  FROM base WHERE bucket < 16),
      |t2 AS (
      |  SELECT key, bucket, note, CAST(NULL AS BIGINT) AS score
      |  FROM base WHERE bucket >= 62),
      |unioned AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(key) AS BIGINT) AS sum_key,
      |  CAST(COUNT(score) AS BIGINT) AS n_scored,
      |  CAST(SUM(score) AS BIGINT) AS sum_score,
      |  MIN(note) AS min_note, MAX(note) AS max_note
      |FROM unioned GROUP BY 1""".stripMargin) { (s, dir) =>
    val cat = "graft_cat_q196"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", SourceGate.q196Warehouse)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
    s.sql(s"DROP TABLE IF EXISTS $cat.g.life")
    s.sql(s"DROP TABLE IF EXISTS $cat.g.scratch")
    s.sql(s"CREATE TABLE $cat.g.life " +
      "(key BIGINT, bucket BIGINT, payload STRING) PARTITIONED BY (bucket)")
    s.sql(s"CREATE TABLE $cat.g.scratch " +
      "(key BIGINT, bucket BIGINT, payload STRING) PARTITIONED BY (bucket)")
    val life = s"$cat.g.life"
    val scratch = s"$cat.g.scratch"
    val base = graft.ops.Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("key"),
        (col("o_custkey") % 64).cast("long").as("bucket"),
        concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
          .as("payload"))
    base.writeTo(life).append()
    s.sql(s"ALTER TABLE $life ADD COLUMN score BIGINT")
    base.filter(col("bucket") < 16)
      .select((col("key") + 10000000L).as("key"), col("bucket"),
        upper(col("payload")).as("payload"), (col("key") % 100).as("score"))
      .writeTo(life).append()
    s.sql(s"ALTER TABLE $life RENAME COLUMN payload TO note")
    // scratch: append everything, TRUNCATE, append only the tail buckets
    base.writeTo(scratch).append()
    s.sql(s"TRUNCATE TABLE $scratch")
    base.filter(col("bucket") >= 62).writeTo(scratch).append()
    val t2 = s.table(scratch)
      .select(col("key"), col("bucket"), col("payload").as("note"),
        lit(null).cast("long").as("score"))
    s.table(life).select("key", "bucket", "note", "score")
      .unionAll(t2)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum("key").as("sum_key"),
        count(col("score")).as("n_scored"),
        sum("score").as("sum_score"),
        min("note").as("min_note"),
        max("note").as("max_note"))
  }

  /** Per-JVM warehouse for the q211 catalog (same lifetime contract as
    * [[q195Warehouse]]). */
  lazy val q211Warehouse: String =
    {
      val p = java.nio.file.Files.createTempDirectory("graft_cat_q211")
      graft.util.TmpReaper.track(p.toString)
      p.toString
    }

  // ============================ SPJ over the engine's OWN storage gate
  // Round-12 verdict task 4: q161 proved storage-partitioned joins over
  // the synthetic graft-range connector; this gate closes the loop with
  // the engine's own TABLE FORMAT. Two GraftCatalog tables are created
  // with filePerKey=true (the sink rolls a new file per cluster key, so
  // every committed file carries exactly one bucket and the manifest
  // proves it), written through the normal
  // RequiresDistributionAndOrdering path, then joined on (bucket, key):
  // both ClusteredSinkScans report KeyGroupedPartitioning over
  // identity(bucket), so Spark zips the matching key groups — the
  // executed join has ZERO shuffle exchanges on either side
  // (ClusteredSinkSpjSpec pins the plan; this gate proves end-to-end
  // data fidelity through write → manifest → key-grouped read → join).
  // At 100 TB this is the bucketed-warehouse contract: the layout cost
  // is paid once at write time and every downstream cluster-key join
  // stops re-shuffling two fact tables.
  register("q211_sink_spj",
    """WITH a AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS key,
      |    CAST(o_orderkey % 32 AS BIGINT) AS bucket,
      |    o_orderstatus || '|' || o_orderpriority AS payload
      |  FROM orders),
      |b AS (
      |  SELECT CAST(l_orderkey AS BIGINT) AS key,
      |    CAST(l_orderkey % 32 AS BIGINT) AS bucket,
      |    CAST(COUNT(*) AS BIGINT) AS n_lines,
      |    CAST(SUM(l_linenumber) AS BIGINT) AS sum_line
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT a.bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(b.n_lines) AS BIGINT) AS total_lines,
      |  CAST(SUM(b.sum_line) AS BIGINT) AS total_linenum,
      |  MIN(a.key) AS min_key, MAX(a.key) AS max_key,
      |  MIN(a.payload) AS min_payload, MAX(a.payload) AS max_payload
      |FROM a JOIN b ON a.bucket = b.bucket AND a.key = b.key
      |GROUP BY 1""".stripMargin) { (s, dir) =>
    val cat = "graft_cat_q211"
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", SourceGate.q211Warehouse)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.g")
    s.sql(s"DROP TABLE IF EXISTS $cat.g.orders_b")
    s.sql(s"DROP TABLE IF EXISTS $cat.g.lines_b")
    s.sql(s"CREATE TABLE $cat.g.orders_b " +
      "(key BIGINT, bucket BIGINT, payload STRING) PARTITIONED BY (bucket) " +
      "TBLPROPERTIES ('filePerKey'='true')")
    s.sql(s"CREATE TABLE $cat.g.lines_b " +
      "(key BIGINT, bucket BIGINT, n_lines BIGINT, sum_line BIGINT) " +
      "PARTITIONED BY (bucket) TBLPROPERTIES ('filePerKey'='true')")
    graft.ops.Tables.orders(s, dir)
      .select(col("o_orderkey").cast("long").as("key"),
        (col("o_orderkey") % 32).cast("long").as("bucket"),
        concat(col("o_orderstatus"), lit("|"), col("o_orderpriority"))
          .as("payload"))
      .writeTo(s"$cat.g.orders_b").append()
    graft.ops.Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").cast("long").as("key"),
        (col("l_orderkey") % 32).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_linenumber").cast("long")).as("sum_line"))
      .writeTo(s"$cat.g.lines_b").append()
    // SPJ needs the same two confs as q161 — v2 bucketing, and the
    // relaxed co-partition check because the join keys (bucket, key)
    // are a superset of the reported partition key (bucket). Isolated
    // child session so the relaxation never leaks into other queries
    // (the r5/r6 lesson).
    val iso = s.newSession()
    iso.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    iso.conf.set(s"spark.sql.catalog.$cat.warehouse", SourceGate.q211Warehouse)
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val a = iso.table(s"$cat.g.orders_b")
    val b = iso.table(s"$cat.g.lines_b")
    a.join(b, a("bucket") === b("bucket") && a("key") === b("key"))
      .groupBy(a("bucket").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(b("n_lines")).as("total_lines"),
        sum(b("sum_line")).as("total_linenum"),
        min(a("key")).as("min_key"),
        max(a("key")).as("max_key"),
        min(a("payload")).as("min_payload"),
        max(a("payload")).as("max_payload"))
  }

  register("q125_custom_source",
    """WITH src AS (
      |  SELECT id, CAST(id % 97 AS INTEGER) AS bucket,
      |    'cat' || CAST(id % 5 AS VARCHAR) AS category,
      |    (id * 37 + 11) % 1000003 AS amount
      |  FROM range(20000, 180000) t(id))
      |SELECT category, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(amount) AS BIGINT) AS total_amount,
      |  CAST(SUM(CASE WHEN bucket % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS even_buckets,
      |  MIN(id) AS min_id, MAX(id) AS max_id
      |FROM src WHERE bucket >= 10 GROUP BY category""".stripMargin) { (s, _) =>
    s.read.format("graft-range")
      .option("rows", "200000").option("splits", "8").load()
      .filter(col("id") >= 20000L && col("id") < 180000L && col("bucket") >= 10)
      .groupBy("category")
      .agg(count(lit(1)).as("n"),
        sum(col("amount")).as("total_amount"),
        sum(when(col("bucket") % 2 === 0, 1L).otherwise(0L)).as("even_buckets"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"))
  }
}
