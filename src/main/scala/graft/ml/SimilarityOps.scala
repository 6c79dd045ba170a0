package graft.ml

import graft.ops.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path.
  *
  * Determinism across engines: all vector math is a LEFT FOLD in index
  * order over doubles (Spark `aggregate` over `zip_with`, DuckDB
  * `list_reduce` over `list_transform`) — float addition isn't
  * associative, so both engines must reduce in the same order; floats are
  * cast to double element-wise first (exact).
  *
  * Scale design: brute-force is a broadcast of the (small) query set
  * against a map-only scan of the corpus — no N×N shuffle; the ranking is
  * a per-query top-k window. The LSH variant buckets by an 8-bit
  * hyperplane signature so candidate generation shuffles signatures, not
  * vectors.
  */
object SimilarityOps extends QueryModule {
  import Tables.embeddings

  val Dim = 64
  val NumQueries = 10 // vec_id < 10 are the query vectors
  val TopK = 5
  val Planes = 8

  /** Skew guard for the signature joins (same pattern as
    * [[graft.text.DedupOps.MaxBucketSize]]): a bucket of n vectors yields
    * n·queries candidates in q29 and n(n-1)/2 pairs in q53, so one hot
    * signature (duplicate-heavy or low-entropy embeddings) goes quadratic.
    * Buckets past the cap are dropped — deterministically, so the oracle
    * mirrors it with a HAVING on the same count. At corpus scale the real
    * lever is growing [[Planes]] with the corpus (more, smaller buckets);
    * the cap is the backstop against accidental O(n²) blowup. Sized not to
    * trigger at test SFs (random 8-bit signatures put ~n/256 per bucket).
    */
  val MaxSigBucketSize = 4096

  /** Deterministic ±1 hyperplane matrix (seeded, embedded as literals in
    * both engines). */
  val hyperplanes: Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(Planes)(Seq.fill(Dim)(if (rnd.nextBoolean()) 1 else -1))
  }

  /** Left-fold dot product of two float vectors, in double — Spark side. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)
  /** DuckDB spelling of [[dot]]. */
  def oDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, $Dim + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |      (x, y) -> x + y)""".stripMargin

  def norm(a: Column): Column = sqrt(dot(a, a))
  def oNorm(a: String): String = s"sqrt(${oDot(a, a)})"

  /** Signed dot with a literal ±1 hyperplane — Spark side. */
  private def planeDot(v: Column, plane: Seq[Int]): Column =
    aggregate(zip_with(v, array(plane.map(lit): _*),
        (x, s) => x.cast(DoubleType) * s),
      lit(0.0), (acc, x) => acc + x)
  private def oPlaneDot(v: String, plane: Seq[Int]): String =
    s"""list_reduce(list_transform(range(1, $Dim + 1),
       |      i -> CAST($v[i] AS DOUBLE) * ([${plane.mkString(",")}])[i]),
       |      (x, y) -> x + y)""".stripMargin

  /** Drops rows whose `sig` bucket exceeds [[MaxSigBucketSize]] — the
    * shared skew guard for the signature equi-joins. The bucket census
    * shuffles only (sig, count), never the vectors.
    */
  private def cappedBySig(sigs: DataFrame): DataFrame =
    sigs.join(
      sigs.groupBy("sig").agg(count(lit(1)).as("__bucket_n"))
        .filter(col("__bucket_n") <= MaxSigBucketSize)
        .select("sig"),
      Seq("sig"))

  /** 8-bit LSH signature from the hyperplane sign pattern — the native
    * one-pass kernel ([[graft.catalyst.LshSignature]]); bit-identical to
    * the composed per-plane fold below, which remains as the
    * cross-implementation check in CosineSimilaritySpec. */
  def lshSignature(v: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.catalyst.LshSignature(
      GraftColumnBridge.expression(v), hyperplanes))
  }

  /** The composed (HOF) formulation of [[lshSignature]] — kept as the
    * reference implementation the native kernel is verified against. */
  def lshSignatureComposed(v: Column): Column =
    hyperplanes.zipWithIndex.map { case (p, i) =>
      when(planeDot(v, p) >= 0, 1L << i).otherwise(0L)
    }.reduce(_ + _)
  def oLshSignature(v: String): String =
    hyperplanes.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN ${oPlaneDot(v, p)} >= 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  // ============================================================ brute force
  // exact cosine top-k: query set × corpus, ranked per query
  register("q28_cosine_topk", {
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id, label, embedding AS cv FROM embeddings),
       |scored AS (
       |  SELECT query_id, vec_id, label,
       |    ${oDot("qv", "cv")} / (${oNorm("qv")} * ${oNorm("cv")}) AS cosine
       |  FROM q JOIN c ON q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, label, cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin
  }) { (s, d) =>
    val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("cv"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "vec_id", "label", "cosine")
  }

  // =============================================== matryoshka audit
  /** [[q170]] truncated prefix length (matryoshka-style half dim). */
  val HalfDim: Int = Dim / 2

  private def oDotK(a: String, b: String, k: Int): String =
    s"""list_reduce(list_transform(range(1, $k + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)),
       |      (x, y) -> x + y)""".stripMargin

  // Embedding-truncation quality audit: how much does the cosine ranking
  // move when vectors are cut to their first Dim/2 coordinates
  // (matryoshka-representation inference trades dim for cost exactly
  // this way)? Both rankings run over the same query×corpus frame; the
  // output is INTEGER ranks + per-candidate rank drift for the full-dim
  // top-k, so the hash pins the entire rank permutation, not a summary.
  // Plan shape inherits q28: broadcast ≤10-row query set, one corpus
  // pass, two same-partition windows (one shuffle).
  register("q170_matryoshka_audit", {
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${oDot("qv", "cv")} / (${oNorm("qv")} * ${oNorm("cv")}) AS cf,
       |    ${oDotK("qv", "cv", HalfDim)}
       |      / (sqrt(${oDotK("qv", "qv", HalfDim)})
       |         * sqrt(${oDotK("cv", "cv", HalfDim)})) AS ch
       |  FROM q JOIN c ON q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cf DESC, vec_id ASC) AS rank_full,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ch DESC, vec_id ASC) AS rank_half
       |  FROM scored)
       |SELECT query_id, CAST(rank_full AS BIGINT) AS rank_full, vec_id,
       |  CAST(rank_half AS BIGINT) AS rank_half,
       |  CAST(ABS(rank_full - rank_half) AS BIGINT) AS rank_drift
       |FROM ranked WHERE rank_full <= $TopK""".stripMargin
  }) { (s, d) =>
    val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("cv"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(col("qv"), col("cv")).as("cf"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(slice(col("qv"), 1, HalfDim),
            slice(col("cv"), 1, HalfDim)).as("ch"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("cf").desc, col("vec_id").asc)
    val wh = Window.partitionBy(col("query_id"))
      .orderBy(col("ch").desc, col("vec_id").asc)
    scored
      .select(col("query_id"), col("vec_id"),
        row_number().over(wf).as("rank_full"),
        row_number().over(wh).as("rank_half"))
      .filter(col("rank_full") <= TopK)
      .select(col("query_id"), col("rank_full").cast("long").as("rank_full"),
        col("vec_id"), col("rank_half").cast("long").as("rank_half"),
        abs(col("rank_full") - col("rank_half")).cast("long").as("rank_drift"))
  }

  // ================================== 1-bit embedding quantization audit
  // Binary (sign-bit) quantization — the extreme end of the embedding
  // compression ladder (64× vs float32; q206's int8 is the moderate
  // rung): each vector becomes its 64-bit sign pattern, similarity
  // becomes Hamming distance (XOR + popcount — integer ops a SIMD lane
  // eats), and the audit is retrieval overlap against the exact cosine
  // top-k. This is the binary-quantization recall check every
  // vector-store compaction publishes.
  //
  // Determinism: the signature is pure integer construction (sign test
  // per coordinate, summed distinct powers of two — split into two
  // 32-bit halves so neither engine's BIGINT sum ever nears overflow);
  // Hamming is bit_count(xor) in both engines; ranks tie-break on
  // vec_id. The cosine reference reuses q28's proven fold. Scale shape
  // inherits q28: the ≤10-row query set broadcasts against one map-only
  // corpus pass; signatures are 16 bytes/vector through the plan.
  register("q207_binary_quantization", {
    def oSig(v: String, lo: Int, hi: Int): String =
      (lo to hi).map(i =>
        s"CASE WHEN $v[$i] >= 0 THEN CAST(${1L << (i - lo)} AS BIGINT) " +
          "ELSE 0 END").mkString("(", " + ", ")")
    s"""WITH sigs AS (
       |  SELECT vec_id, embedding,
       |    ${oSig("embedding", 1, 32)} AS slo,
       |    ${oSig("embedding", 33, 64)} AS shi
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, slo AS qlo,
       |        shi AS qhi FROM sigs WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.query_id, s.vec_id,
       |    bit_count(xor(q.qlo, s.slo)) + bit_count(xor(q.qhi, s.shi))
       |      AS hamming,
       |    ${oDot("q.qv", "s.embedding")}
       |      / (${oNorm("q.qv")} * ${oNorm("s.embedding")}) AS cosine
       |  FROM q JOIN sigs s ON q.query_id <> s.vec_id),
       |rh AS (
       |  SELECT query_id, vec_id, hamming,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY hamming ASC, vec_id ASC) AS rank
       |  FROM scored),
       |rc AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id ASC) AS crank
       |  FROM scored)
       |SELECT rh.query_id, CAST(rh.rank AS BIGINT) AS rank, rh.vec_id,
       |  CAST(rh.hamming AS BIGINT) AS hamming,
       |  CAST(rc.crank IS NOT NULL AND rc.crank <= $TopK AS BOOLEAN)
       |    AS in_cosine_topk
       |FROM rh LEFT JOIN rc
       |  ON rh.query_id = rc.query_id AND rh.vec_id = rc.vec_id
       |WHERE rh.rank <= $TopK""".stripMargin
  }) { (s, d) =>
    def sig(v: Column, lo: Int, hi: Int): Column =
      (lo to hi).map(i =>
        when(element_at(v, i) >= 0, lit(1L << (i - lo))).otherwise(lit(0L)))
        .reduce(_ + _)
    val sigs = embeddings(s, d).select(col("vec_id"), col("embedding"),
      sig(col("embedding"), 1, 32).as("slo"),
      sig(col("embedding"), 33, 64).as("shi"))
    val q = sigs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("slo").as("qlo"), col("shi").as("qhi"))
    val scored = broadcast(q)
      .join(sigs.alias("c"), col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        (expr("bit_count(qlo ^ slo)") + expr("bit_count(qhi ^ shi)"))
          .as("hamming"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(col("qv"), col("c.embedding")).as("cosine"))
    val wh = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored
      .select(col("query_id"), col("vec_id"),
        col("hamming"),
        row_number().over(wh).as("rank"),
        row_number().over(wc).as("crank"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("hamming").cast(LongType).as("hamming"),
        (col("crank") <= TopK).as("in_cosine_topk"))
  }

  // ===================================== int8 embedding quantization audit
  // Scalar (per-dimension min/max) int8 quantization — the standard
  // 4× storage/bandwidth diet for embedding tables at serving time —
  // with its reconstruction-error audit: quantize to the 0..255 grid,
  // dequantize, and report per-dimension error stats plus a bound gate
  // (floor quantization error is < one step = (max−min)/255, the claim
  // that makes int8 sane at all). At 100 TB this is the exact shape a
  // vector-store compaction runs: one 64-group bounds aggregate
  // (map-side combinable), the bounds broadcast back, a map-only
  // quantize/dequantize pass, one 64-group error rollup — the corpus is
  // scanned twice and nothing vector-sized ever shuffles.
  //
  // Determinism: float→double casts are exact; the quantize/dequantize
  // chain is the same IEEE op sequence in both engines (pinned order:
  // (x−mn)·255/(mx−mn), floor, clamp; mn + q·(mx−mn)/255); the error is
  // snapped to an integer ppm micro-grid BEFORE aggregation (the q141
  // discipline — integer sums are order-free), using floor(|e|·1e6+0.5)
  // (abs first: no negative-rounding asymmetry, no -0.0).
  register("q206_int8_quantization", {
    s"""WITH dims AS (
       |  SELECT vec_id, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(range(1, $Dim + 1)) AS i) i),
       |bounds AS (
       |  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY dim),
       |qd AS (
       |  SELECT d.vec_id, d.dim, d.x, b.mn, b.mx,
       |    CASE WHEN b.mx = b.mn THEN 0
       |         ELSE LEAST(255, GREATEST(0,
       |           CAST(FLOOR((d.x - b.mn) * 255 / (b.mx - b.mn)) AS BIGINT)))
       |    END AS q
       |  FROM dims d JOIN bounds b ON d.dim = b.dim),
       |err AS (
       |  SELECT dim, mn, mx, q,
       |    CAST(FLOOR(ABS(x - (mn + q * (mx - mn) / 255)) * 1000000 + 0.5)
       |      AS BIGINT) AS err_ppm
       |  FROM qd)
       |SELECT CAST(dim AS INTEGER) AS dim, mn, mx,
       |  CAST(MAX(err_ppm) AS BIGINT) AS max_err_ppm,
       |  CAST(SUM(err_ppm) AS BIGINT) AS sum_err_ppm,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  MAX(err_ppm) <= CAST(FLOOR((mx - mn) * 1000000 / 255 + 0.5)
       |    AS BIGINT) + 1 AS within_step
       |FROM err GROUP BY dim, mn, mx""".stripMargin
  }) { (s, d) =>
    val dims = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        col("col").cast(DoubleType).as("x"))
    val bounds = dims.groupBy("dim")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val qd = dims.join(broadcast(bounds), Seq("dim"))
      .withColumn("q",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("x") - col("mn")) * 255 / (col("mx") - col("mn")))
              .cast(LongType)))))
    val err = qd.select(col("dim"), col("mn"), col("mx"),
      floor(abs(col("x") -
          (col("mn") + col("q") * (col("mx") - col("mn")) / 255))
        * 1000000 + 0.5).cast(LongType).as("err_ppm"))
    err.groupBy(col("dim"), col("mn"), col("mx"))
      .agg(max(col("err_ppm")).as("max_err_ppm"),
        sum(col("err_ppm")).as("sum_err_ppm"),
        count(lit(1)).as("n"))
      .select(col("dim").cast(IntegerType).as("dim"), col("mn"), col("mx"),
        col("max_err_ppm"), col("sum_err_ppm"), col("n"),
        (col("max_err_ppm") <=
          floor((col("mx") - col("mn")) * 1000000 / 255 + 0.5)
            .cast(LongType) + 1).as("within_step"))
  }

  // ============================================================ LSH ANN
  // approximate top-k: candidates restricted to the query's LSH bucket
  register("q29_ann_lsh", {
    s"""WITH sigs AS (
       |  SELECT vec_id, label, embedding,
       |    ${oLshSignature("embedding")} AS sig
       |  FROM embeddings),
       |capped AS (
       |  SELECT s.* FROM sigs s
       |  JOIN (SELECT sig FROM sigs GROUP BY sig
       |        HAVING COUNT(*) <= $MaxSigBucketSize) ok ON s.sig = ok.sig),
       |q AS (SELECT vec_id AS query_id, embedding AS qv, sig
       |      FROM sigs WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.query_id, c.vec_id, c.label,
       |    ${oDot("q.qv", "c.embedding")}
       |      / (${oNorm("q.qv")} * ${oNorm("c.embedding")}) AS cosine
       |  FROM q JOIN capped c ON q.sig = c.sig AND q.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, label, cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin
  }) { (s, d) =>
    val sigs = embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        lshSignature(col("embedding")).as("sig"))
    val capped = cappedBySig(sigs)
    val q = sigs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("sig").as("qsig"))
    val scored = broadcast(q).join(capped.alias("c"),
        col("qsig") === col("c.sig") && col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        col("c.label").as("label"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(col("qv"), col("c.embedding")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "vec_id", "label", "cosine")
  }

  // ============================================================ centroids
  // per-label mean vector (the IVF coarse-quantizer training step):
  // element-wise mean as an exact decimal-grid-free fold — here we sum
  // per-dimension in double after sorting by vec_id via a two-phase
  // exact approach: per-label count + per-dimension sum of exact floats.
  register("q30_label_centroids", {
    s"""WITH dims AS (
       |  SELECT label, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(range(1, $Dim + 1)) AS i) i),
       |agg AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS centroid_val
       |  FROM dims GROUP BY label, dim)
       |SELECT label, dim, centroid_val FROM agg""".stripMargin
  }) { (s, d) =>
    // order-independent exact sum: scale by 1e6 and FLOOR to integers
    // (floor, not cast — Spark casts truncate where DuckDB casts round),
    // sum exactly, divide back only at the end
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        col("col").cast(DoubleType).as("x"))
      .groupBy("label", "dim")
      .agg(((sum(floor(col("x") * 1000000)).cast(DoubleType) / 1000000)
        / count(lit(1))).as("centroid_val"))
  }

  // ============================================================ IVF search
  // The IVF probe path that completes the ANN family: q30 trains the
  // coarse codebook (per-label exact means); here the codebook is
  // COLLECTED to the driver (10×64 doubles — IVF codebooks are broadcast
  // by design) and embedded as literals, so cluster assignment is a
  // MAP-ONLY fold per row — no shuffle touches the corpus until the
  // probe join. Queries probe their nprobe nearest centroids; candidates
  // are corpus vectors assigned to a probed centroid, reached by an
  // EQUI-join on centroid id (broadcast of the tiny probe set). At 100 TB
  // the corpus scan stays map-only: assignment folds against broadcast
  // literals, the probe join broadcasts, and only the ~N·nprobe/ncent
  // candidate slice reaches the per-query top-k window.
  //
  // Determinism: centroid values use the q30 exact-integer-grid mean
  // (bit-identical across engines); distances are (x−c)² left-folds in
  // index order; argmin/probe ranking tie-breaks on (dist, label).
  val NProbe = 2

  /** DuckDB spelling of the squared-L2 left fold — the oracle twin of
    * [[graft.catalyst.IvfProbe]]'s kernel (same index-order IEEE op
    * sequence; the old Spark-side `l2sq` HOF fold was retired for the
    * native kernel, r12). */
  private def oL2sq(v: String, c: String): String =
    s"""list_reduce(list_transform(range(1, $Dim + 1),
       |      i -> (CAST($v[i] AS DOUBLE) - $c[i]) * (CAST($v[i] AS DOUBLE) - $c[i])),
       |      (x, y) -> x + y)""".stripMargin

  /** Literal-vs-broadcast switch for centroid assignment. At or under
    * this k the codebook is embedded as literal arrays in the plan and
    * the argmin fold stays inside whole-stage codegen; past it the plan
    * itself would grow as k·Dim, so assignment switches to a
    * `sparkContext.broadcast` codebook + argmin UDF — the same map-only
    * shape with the codebook shipped once per executor instead of once
    * per plan. Both paths are bit-identical (same index-order fold, same
    * (dist, label) tie-break) — pinned by IvfSearchSpec. */
  val MaxCodebook = 1024

  /** Hard cap on the driver-side codebook collect. The k·Dim doubles of
    * a coarse quantizer must fit on the driver by design (Lloyd-style
    * training is a bounded driver sync); this guard turns a silently
    * data-scaling k into a loud error instead of an OOM. 65536×64 ≈ 32 MB. */
  val MaxCodebookHard = 65536

  /** Train the IVF coarse codebook (per-label exact-grid means, q30
    * semantics) and collect it driver-side, guarded by [[MaxCodebookHard]]. */
  def trainCodebook(emb: DataFrame, maxK: Int = MaxCodebookHard): Seq[(Int, Seq[Double])] = {
    val rows = emb
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        col("col").cast(DoubleType).as("x"))
      .groupBy("label", "dim")
      .agg(((sum(floor(col("x") * 1000000)).cast(DoubleType) / 1000000)
        / count(lit(1))).as("cv"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        e => e.getField("cv")).as("cvec"))
      .collect()
    require(rows.length <= maxK,
      s"IVF codebook has ${rows.length} centroids (hard cap $maxK): the " +
        "collected codebook must stay a bounded driver sync — shard the " +
        "corpus or coarsen the quantizer")
    rows.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
  }

  /** Top-n nearest centroids of a vector column, nearest-first, as an
    * array of centroid labels. Dispatches on codebook size:
    *
    *   - k ≤ [[MaxCodebook]] (or `forceLiteral = Some(true)`): literal
    *     codebook — a per-centroid (dist, label) struct array sorted and
    *     sliced inline; whole-stage-codegen friendly, but the PLAN grows
    *     as k·Dim.
    *   - k > [[MaxCodebook]]: broadcast codebook + one UDF — constant
    *     plan size, codebook shipped once per executor. The UDF computes
    *     the identical index-order left-fold distance and the identical
    *     (dist asc, label asc) ordering, so results are bit-equal to the
    *     literal path (IvfSearchSpec pins both directions).
    */
  def probeCentroids(
      s: SparkSession,
      codebook: Seq[(Int, Seq[Double])],
      n: Int,
      forceLiteral: Option[Boolean] = None)(v: Column): Column = {
    val literal = forceLiteral.getOrElse(codebook.size <= MaxCodebook)
    if (literal) {
      // Native codegen kernel (catalyst/IvfProbe) with the codebook as
      // plan reference objects — replaces the old per-centroid
      // aggregate(zip_with(...)) literal fold, whose interpreted
      // higher-order lambdas were HALF of q79's runtime at the
      // mutated-vector 50× soak (r12 measurement: 14.5 → 7.1 s just by
      // leaving the HOF path). Same IEEE op order, same (dist, label)
      // tie-break — IvfSearchSpec pins identity against the broadcast
      // UDF twin below.
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.catalyst.IvfProbe(
          org.apache.spark.sql.GraftColumnBridge.expression(v),
          codebook.map(_._1).toArray,
          codebook.map(_._2.toArray).toArray, n))
    } else {
      val bc = s.sparkContext.broadcast(
        codebook.map { case (l, cv) => (l, cv.toArray) }.toArray)
      val topN = udf { (vec: scala.collection.Seq[Float]) =>
        val cands = bc.value.map { case (lbl, cv) =>
          // same IEEE op sequence as l2sq's zip_with + left fold
          var acc = 0.0
          var i = 0
          while (i < cv.length) {
            val dx = vec(i).toDouble - cv(i)
            acc += dx * dx
            i += 1
          }
          (acc, lbl)
        }
        cands.sortBy(identity).iterator.take(n).map(_._2).toSeq
      }
      topN(v)
    }
  }

  /** Nearest-centroid label — the `probeCentroids(n = 1)` head on both
    * paths (native kernel under MaxCodebook, broadcast UDF past it).
    * Same (dist, label) ordering either way. */
  def nearestCentroid(
      s: SparkSession,
      codebook: Seq[(Int, Seq[Double])],
      forceLiteral: Option[Boolean] = None)(v: Column): Column =
    element_at(probeCentroids(s, codebook, 1, forceLiteral)(v), 1)

  /** IVF codebook training sample gate (r11 verdict task 4): centroids
    * are trained on a DETERMINISTIC multiplicative-hash sample of the
    * corpus — 1-in-[[TrainSampleMod]] plus an unconditional floor of the
    * first [[TrainSampleFloor]] ids so tiny corpora (the sf0.001/sf0.01
    * oracle gates, where the floor covers everything) train on the full
    * set. A coarse quantizer needs O(k·samples-per-centroid) evidence,
    * not the corpus: re-running the per-label exact mean over ALL N×Dim
    * exploded rows per invocation was q79's superlinear term at the
    * mutated-vector decade (mv-50× exponent +0.62). All-integer
    * arithmetic so the DuckDB twin gates the SAME sample bit-exactly. */
  val TrainSampleMod = 20
  val TrainSampleFloor = 500
  private def trainGate(vecId: Column): Column =
    (vecId.bitwiseAND(lit(2147483647L)) * lit(2654435761L))
      .bitwiseAND(lit(2147483647L)) % TrainSampleMod === 0 ||
      vecId < TrainSampleFloor
  // def, not val: referenced by q208's oracle string, which registers
  // EARLIER in the object body (a val would still be null there)
  private def oTrainGate =
    s"(((vec_id & 2147483647) * 2654435761) & 2147483647) % $TrainSampleMod = 0" +
      s" OR vec_id < $TrainSampleFloor"

  register("q79_ivf_search", {
    s"""WITH dims AS (
       |  SELECT label, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(range(1, $Dim + 1)) AS i) i
       |  WHERE $oTrainGate),
       |agg AS (
       |  SELECT label AS c_label, dim,
       |    CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS cv
       |  FROM dims GROUP BY label, dim),
       |cent AS (SELECT c_label, list(cv ORDER BY dim) AS cvec FROM agg GROUP BY c_label),
       |dists AS (
       |  SELECT e.vec_id, e.label, e.embedding, c.c_label,
       |    ${oL2sq("e.embedding", "c.cvec")} AS dist
       |  FROM embeddings e CROSS JOIN cent c),
       |ranked_cent AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |            ORDER BY dist ASC, c_label ASC) AS crn
       |  FROM dists),
       |corpus AS (SELECT vec_id, label, embedding, c_label AS bucket
       |           FROM ranked_cent WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, embedding AS qv, c_label AS bucket
       |           FROM ranked_cent WHERE crn <= $NProbe AND vec_id < $NumQueries),
       |scored AS (
       |  SELECT p.query_id, c.vec_id, c.label,
       |    ${oDot("p.qv", "c.embedding")}
       |      / (${oNorm("p.qv")} * ${oNorm("c.embedding")}) AS cosine
       |  FROM probes p JOIN corpus c ON p.bucket = c.bucket AND p.query_id <> c.vec_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, label, cosine
       |FROM ranked WHERE rank <= $TopK""".stripMargin
  }) { (s, d) =>
    // Phase 1 (tiny): train + collect the coarse codebook on the
    // deterministic hash-gated sample (see trainGate — the floor covers
    // the oracle-gate SFs entirely, so small-scale results are
    // unchanged), sorted by label so the generated expressions are
    // deterministic; collect guarded by MaxCodebookHard against silently
    // unbounded driver syncs.
    val codebook: Seq[(Int, Seq[Double])] =
      trainCodebook(embeddings(s, d).filter(trainGate(col("vec_id"))))

    // Phase 2 (map-only on the corpus): argmin via the size-dispatched
    // assignment path — literal fold at this k (10 labels), broadcast
    // codebook + UDF past MaxCodebook (IvfSearchSpec pins identity).
    val assigned = embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding"),
      nearestCentroid(s, codebook)(col("embedding")).as("bucket"))
    val probes = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        explode(probeCentroids(s, codebook, NProbe)(col("embedding")))
          .as("pbucket"))

    val scored = broadcast(probes).join(assigned.alias("c"),
        col("pbucket") === col("c.bucket") && col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        col("c.label").as("label"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(col("qv"), col("c.embedding")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "vec_id", "label", "cosine")
  }

  // ============================================================ cosine dedup
  // (q53 comment + threshold moved to sit with its register below; the
  // PQ block lives between them for object-initialization order — its
  // oracle string needs oTrainGate's constants already initialized)
  val CosineDupThreshold = 0.4
  // ================================= product quantization (PQ) retrieval
  // q208 (round-12 verdict task 3) — the capstone of the quantization
  // ladder (q206 int8, q207 1-bit, q134 SQ8, q170 matryoshka): split the
  // 64-dim space into [[PqM]] subvectors, train a codeword set per
  // subspace, encode every corpus vector as M small codes, and answer
  // queries by ADC (asymmetric distance computation) — a per-query
  // distance TABLE of M×k precomputed subspace distances, so scoring a
  // corpus vector is M integer table lookups, never touching its floats.
  // This is the standard memory-bounded ANN design at 100 TB: codes are
  // ≤ M bytes/vector (8 here, vs 256 for float32), the distance tables
  // ride the ≤10-row broadcast query set, and the corpus pass is
  // map-only — NOTHING vector-sized ever shuffles (the ranking exchange
  // carries (query_id, vec_id, adc_ppm, exact) only).
  //
  // Codebooks reuse the q79 training machinery: per-label exact-grid
  // means over the deterministic hash-gated sample ([[trainGate]]),
  // collected as a bounded driver sync, sliced per subspace — so each
  // subspace has k = #labels codewords and encoding is the native
  // [[graft.catalyst.IvfProbe]] argmin kernel on the slice (same
  // index-order fold, (dist, label) tie-break). The audit is q207's gate
  // shape: PQ top-k per query with an overlap flag against the EXACT
  // full-dimension L2 top-k (the native [[graft.catalyst.L2SqDistance]]
  // kernel — PQ approximates L2, so L2 is the apples-to-apples
  // reference).
  //
  // Determinism: subspace distances are the same IEEE index-order fold
  // in kernel and oracle; ADC terms snap to the integer ppm grid BEFORE
  // summation (q206 discipline — the M-term sum becomes order-free);
  // every rank tie-breaks on vec_id.
  val PqM = 8
  val PqSubDim: Int = Dim / PqM

  register("q208_product_quantization", {
    def oSubL2sq(v: String, c: String, m: String): String =
      s"""list_reduce(list_transform(range(($m - 1) * $PqSubDim + 1, $m * $PqSubDim + 1),
         |      i -> (CAST($v[i] AS DOUBLE) - $c[i]) * (CAST($v[i] AS DOUBLE) - $c[i])),
         |      (x, y) -> x + y)""".stripMargin
    // exact full-dim L2² between two FLOAT vectors (both sides cast)
    def oL2sqFF(a: String, b: String): String =
      s"""list_reduce(list_transform(range(1, $Dim + 1),
         |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH dims AS (
       |  SELECT label, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(range(1, $Dim + 1)) AS i) i
       |  WHERE $oTrainGate),
       |agg AS (
       |  SELECT label AS c_label, dim,
       |    CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS cv
       |  FROM dims GROUP BY label, dim),
       |cent AS (SELECT c_label, list(cv ORDER BY dim) AS cvec FROM agg GROUP BY c_label),
       |ms AS (SELECT unnest(range(1, $PqM + 1)) AS m),
       |sub AS (
       |  SELECT e.vec_id, ms.m, c.c_label,
       |    ${oSubL2sq("e.embedding", "c.cvec", "ms.m")} AS dist
       |  FROM embeddings e CROSS JOIN cent c CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id, m, c_label AS code FROM (
       |    SELECT vec_id, m, c_label,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist ASC, c_label ASC) AS rn
       |    FROM sub) WHERE rn = 1),
       |qtab AS (
       |  SELECT vec_id AS query_id, m, c_label,
       |    CAST(FLOOR(dist * 1000000 + 0.5) AS BIGINT) AS dppm
       |  FROM sub WHERE vec_id < $NumQueries),
       |adc AS (
       |  SELECT t.query_id, c.vec_id, CAST(SUM(t.dppm) AS BIGINT) AS adc_ppm
       |  FROM qtab t JOIN codes c ON t.m = c.m AND t.c_label = c.code
       |  WHERE t.query_id <> c.vec_id
       |  GROUP BY t.query_id, c.vec_id),
       |exact AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    ${oL2sqFF("q.embedding", "e.embedding")} AS d
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id < $NumQueries AND q.vec_id <> e.vec_id),
       |ra AS (
       |  SELECT query_id, vec_id, adc_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_ppm ASC, vec_id ASC) AS rank
       |  FROM adc),
       |re AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d ASC, vec_id ASC) AS erank
       |  FROM exact)
       |SELECT ra.query_id, CAST(ra.rank AS BIGINT) AS rank, ra.vec_id,
       |  ra.adc_ppm,
       |  CAST(re.erank IS NOT NULL AND re.erank <= $TopK AS BOOLEAN)
       |    AS in_exact_topk
       |FROM ra LEFT JOIN re
       |  ON ra.query_id = re.query_id AND ra.vec_id = re.vec_id
       |WHERE ra.rank <= $TopK""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.GraftColumnBridge
    // Phase 1 (bounded driver sync): the q79 codebook, sliced per
    // subspace. Encoding indexes distance tables by code, so the label
    // domain must be exactly 0..k−1 — loud check, not an assumption.
    val codebook = trainCodebook(embeddings(s, d).filter(trainGate(col("vec_id"))))
    require(codebook.map(_._1) == (0 until codebook.size),
      s"PQ codebook labels ${codebook.map(_._1)} are not contiguous 0..k-1 — " +
        "ADC table positions would not line up with codes")
    def subCb(m: Int): Seq[(Int, Seq[Double])] =
      codebook.map { case (l, cv) =>
        (l, cv.slice((m - 1) * PqSubDim, m * PqSubDim)) }
    def subSlice(v: Column, m: Int): Column =
      slice(v, (m - 1) * PqSubDim + 1, PqSubDim)
    // nearest subspace codeword: the IvfProbe kernel on the slice
    def subCode(v: Column, m: Int): Column = {
      val cb = subCb(m)
      element_at(GraftColumnBridge.column(graft.catalyst.IvfProbe(
        GraftColumnBridge.expression(subSlice(v, m)),
        cb.map(_._1).toArray, cb.map(_._2.toArray).toArray, 1)), 1)
    }
    // Phase 2 (map-only corpus pass): M codes per vector — the ONLY
    // derived state the scoring join needs from the corpus side
    val corpus = embeddings(s, d).select(col("vec_id"), col("embedding"),
      array((1 to PqM).map(m => subCode(col("embedding"), m)): _*).as("codes"))
    // Phase 3: per-query ADC distance tables (M×k ppm longs), riding the
    // broadcast query set
    def qTab(v: Column): Column = array((1 to PqM).map { m =>
      array(subCb(m).map { case (_, cw) =>
        floor(graft.catalyst.GraftFunctions.l2sqDistance(
          subSlice(v, m), array(cw.map(lit): _*)) * 1000000 + 0.5)
          .cast(LongType)
      }: _*)
    }: _*)
    val q = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        qTab(col("embedding")).as("qtab"))
    // Phase 4 (map-only scoring): M table lookups per (query, vector) +
    // the exact L2 reference; only scalar columns reach the rank windows
    val scored = broadcast(q)
      .join(corpus.alias("c"), col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        (1 to PqM).map(m =>
            element_at(element_at(col("qtab"), m),
              (element_at(col("c.codes"), m) + 1).cast(IntegerType)))
          .reduce(_ + _).as("adc_ppm"),
        graft.catalyst.GraftFunctions
          .l2sqDistance(col("qv"), col("c.embedding")).as("exact"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("exact").asc, col("vec_id").asc)
    scored
      .select(col("query_id"), col("vec_id"), col("adc_ppm"),
        row_number().over(wa).as("rank"),
        row_number().over(we).as("erank"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("adc_ppm"),
        (col("erank") <= TopK).as("in_exact_topk"))
  }

  // ===================================== IVF-PQ composed retrieval
  // q212 — the two halves assembled into the standard memory-bounded
  // billion-scale ANN pipeline (the FAISS IVF-PQ shape): the q79 coarse
  // quantizer routes every corpus vector into an inverted cell and
  // restricts each query to its [[NProbe]] nearest cells; q208's PQ
  // codes + per-query ADC distance tables score ONLY the probed
  // candidates — so the corpus pass is map-only (assign + encode), the
  // candidate join is an equi-join on the cell id against the ≤10-row
  // broadcast probe set, scoring is M integer table lookups per
  // candidate, and nothing vector-sized ever shuffles. At 100 TB the
  // index state per vector is one cell id + M bytes of codes; the
  // original floats are read once at index build and never again on the
  // query path. The audit is end-to-end recall: overlap flags against
  // the EXACT full-dimension L2 top-k over the whole corpus (so cell
  // routing misses and quantization error are both visible).
  //
  // Determinism: both halves reuse their proven formulations verbatim
  // (coarse argmin = IvfProbe kernel / (dist, label)-ranked CTE; codes
  // and ADC tables = q208's index-order folds on the integer ppm grid);
  // candidate sets are equal because the probe ranking is identical;
  // every rank tie-breaks on vec_id.
  register("q212_ivfpq_search", oIvfpqSearchSql)(q212Runner)

  /** Shared oracle for q212 AND q215 (persisted index): the two queries
    * compute the IDENTICAL result by construction — q215 persists the
    * same (cell, codes) index q212 builds in-query, and the search path
    * does the same ADC lookups — so one SQL twin gates both. */
  private def oIvfpqSearchSql: String = oIvfpqSearchSqlWith(oTrainGate)

  /** The same twin with a custom TRAINING predicate — q227's upsert
    * gate trains on `trainGate AND NOT upsertGate` so the from-scratch
    * oracle rebuild derives the identical frozen codebook. */
  private def oIvfpqSearchSqlWith(train: String): String =
    s"""WITH ${oIvfpqCtes(train)}
       |SELECT ra.query_id, CAST(ra.rank AS BIGINT) AS rank, ra.vec_id,
       |  ra.adc_ppm,
       |  CAST(re.erank IS NOT NULL AND re.erank <= $TopK AS BOOLEAN)
       |    AS in_exact_topk
       |FROM ra LEFT JOIN re
       |  ON ra.query_id = re.query_id AND ra.vec_id = re.vec_id
       |WHERE ra.rank <= $TopK""".stripMargin

  /** The IVF-PQ oracle machinery (training → cells → codes → ADC → exact
    * reference → both rankings) as a reusable CTE body: `ra` is the ADC
    * ranking, `re` the exact-L2 ranking. q212/q215 select the ranked
    * rows; q217 folds them into a per-query recall. */
  private def oIvfpqCtes: String = oIvfpqCtes(oTrainGate)

  private def oIvfpqCtes(train: String): String = {
    def oSubL2sq(v: String, c: String, m: String): String =
      s"""list_reduce(list_transform(range(($m - 1) * $PqSubDim + 1, $m * $PqSubDim + 1),
         |      i -> (CAST($v[i] AS DOUBLE) - $c[i]) * (CAST($v[i] AS DOUBLE) - $c[i])),
         |      (x, y) -> x + y)""".stripMargin
    def oL2sqFF(a: String, b: String): String =
      s"""list_reduce(list_transform(range(1, $Dim + 1),
         |      i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
         |           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
         |      (x, y) -> x + y)""".stripMargin
    s"""dims AS (
       |  SELECT label, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(range(1, $Dim + 1)) AS i) i
       |  WHERE $train),
       |agg AS (
       |  SELECT label AS c_label, dim,
       |    CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS cv
       |  FROM dims GROUP BY label, dim),
       |cent AS (SELECT c_label, list(cv ORDER BY dim) AS cvec FROM agg GROUP BY c_label),
       |cd AS (
       |  SELECT e.vec_id, c.c_label, ${oL2sq("e.embedding", "c.cvec")} AS dist
       |  FROM embeddings e CROSS JOIN cent c),
       |rc AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist ASC, c_label ASC) AS crn FROM cd),
       |cells AS (SELECT vec_id, c_label AS cell FROM rc WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, c_label AS cell
       |  FROM rc WHERE crn <= $NProbe AND vec_id < $NumQueries),
       |ms AS (SELECT unnest(range(1, $PqM + 1)) AS m),
       |sub AS (
       |  SELECT e.vec_id, ms.m, c.c_label,
       |    ${oSubL2sq("e.embedding", "c.cvec", "ms.m")} AS dist
       |  FROM embeddings e CROSS JOIN cent c CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id, m, c_label AS code FROM (
       |    SELECT vec_id, m, c_label,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist ASC, c_label ASC) AS rn
       |    FROM sub) WHERE rn = 1),
       |qtab AS (
       |  SELECT vec_id AS query_id, m, c_label,
       |    CAST(FLOOR(dist * 1000000 + 0.5) AS BIGINT) AS dppm
       |  FROM sub WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT p.query_id, b.vec_id
       |  FROM probes p JOIN cells b ON p.cell = b.cell
       |  WHERE p.query_id <> b.vec_id),
       |adc AS (
       |  SELECT ca.query_id, ca.vec_id, CAST(SUM(t.dppm) AS BIGINT) AS adc_ppm
       |  FROM cand ca
       |  JOIN codes c ON ca.vec_id = c.vec_id
       |  JOIN qtab t ON t.query_id = ca.query_id AND t.m = c.m
       |    AND t.c_label = c.code
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    ${oL2sqFF("q.embedding", "e.embedding")} AS d
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id < $NumQueries AND q.vec_id <> e.vec_id),
       |ra AS (
       |  SELECT query_id, vec_id, adc_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_ppm ASC, vec_id ASC) AS rank
       |  FROM adc),
       |re AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d ASC, vec_id ASC) AS erank
       |  FROM exact)""".stripMargin
  }

  private def q212Runner: (SparkSession, String) => DataFrame = { (s, d) =>
    import org.apache.spark.sql.GraftColumnBridge
    val codebook = trainCodebook(embeddings(s, d).filter(trainGate(col("vec_id"))))
    require(codebook.map(_._1) == (0 until codebook.size),
      "IVF-PQ codebook labels must be contiguous 0..k-1 (ADC table positions)")
    def subCb(m: Int): Seq[(Int, Seq[Double])] =
      codebook.map { case (l, cv) =>
        (l, cv.slice((m - 1) * PqSubDim, m * PqSubDim)) }
    def subSlice(v: Column, m: Int): Column =
      slice(v, (m - 1) * PqSubDim + 1, PqSubDim)
    def subCode(v: Column, m: Int): Column = {
      val cb = subCb(m)
      element_at(GraftColumnBridge.column(graft.catalyst.IvfProbe(
        GraftColumnBridge.expression(subSlice(v, m)),
        cb.map(_._1).toArray, cb.map(_._2.toArray).toArray, 1)), 1)
    }
    // INDEX BUILD (map-only, one corpus scan): cell id + M codes — the
    // only per-vector state the query path ever touches
    val index = embeddings(s, d).select(col("vec_id"),
      nearestCentroid(s, codebook)(col("embedding")).as("cell"),
      array((1 to PqM).map(m => subCode(col("embedding"), m)): _*).as("codes"))
    def qTab(v: Column): Column = array((1 to PqM).map { m =>
      array(subCb(m).map { case (_, cw) =>
        floor(graft.catalyst.GraftFunctions.l2sqDistance(
          subSlice(v, m), array(cw.map(lit): _*)) * 1000000 + 0.5)
          .cast(LongType)
      }: _*)
    }: _*)
    val probes = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), qTab(col("embedding")).as("qtab"),
        explode(probeCentroids(s, codebook, NProbe)(col("embedding")))
          .as("pcell"))
    // QUERY PATH: equi-join on the cell id against the broadcast probe
    // set slices out ~N·nprobe/k candidates; ADC = M table lookups each
    val cand = broadcast(probes)
      .join(index.alias("c"),
        col("pcell") === col("c.cell") && col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        (1 to PqM).map(m =>
            element_at(element_at(col("qtab"), m),
              (element_at(col("c.codes"), m) + 1).cast(IntegerType)))
          .reduce(_ + _).as("adc_ppm"))
    // exact reference (audit only): second corpus scan, full-dim L2
    val qv = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = broadcast(qv)
      .join(embeddings(s, d).alias("e"), col("query_id") =!= col("e.vec_id"))
      .select(col("query_id"), col("e.vec_id").as("vec_id"),
        graft.catalyst.GraftFunctions
          .l2sqDistance(col("qv"), col("e.embedding")).as("d"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("d").asc, col("vec_id").asc)
    val ranked = cand.select(col("query_id"), col("vec_id"), col("adc_ppm"),
      row_number().over(wa).as("rank")).filter(col("rank") <= TopK)
    val eranked = exact.select(col("query_id"), col("vec_id"),
      row_number().over(we).as("erank"))
    ranked.join(eranked, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("adc_ppm"),
        (col("erank").isNotNull && col("erank") <= TopK).as("in_exact_topk"))
  }

  // ================================== RESIDUAL IVF-PQ (classic encoding)
  // q214 — q212 PQ-encodes raw vectors; the classic IVF-PQ design
  // encodes each vector's RESIDUAL against its coarse centroid
  // (v − c_cell): every cell's population is centered near the origin,
  // so the same codeword budget resolves finer structure and ADC
  // tightens at identical bytes/vector. Residual codebooks come from a
  // deterministic anchor sample (the [[PqAnchors]] lowest vec_ids with
  // vec_id % 29 = 3 — the codewords are those anchors' own residuals,
  // sliced per subspace), and BOTH hot-path steps run through native
  // codegen kernels with the codebooks as plan reference objects
  // ([[graft.catalyst.PqEncodeResidual]] / [[graft.catalyst.PqAdcResidual]]
  // — a composed residual would need a per-row zip_with subtraction,
  // the interpreted-HOF trap q79 measured at half its runtime). Scale
  // shape matches q212: map-only index build (cell + M codes), ADC
  // tables riding the broadcast probe rows (one M×K table per probed
  // cell), candidates sliced by the cell equi-join, nothing
  // vector-sized shuffling. Audit: end-to-end recall vs the exact
  // global L2 top-k, same as q212 — so the residual refinement's
  // effect on recall is directly comparable across the two gates.
  //
  // Determinism: anchor selection is an ORDER BY vec_id LIMIT; anchor
  // cells/residuals use the same (dist, label) argmin fold driver-side
  // as the kernels do per-row; every distance accumulates
  // ((v[i]−c[i])−w[i])² in ascending index order (kernel == oracle's
  // left fold); ADC snaps to the ppm grid before the order-free
  // integer sum; ranks tie-break on vec_id.
  val PqAnchors = 16

  register("q214_residual_ivfpq", {
    s"""WITH dims AS (
       |  SELECT label, i.i AS dim, CAST(embedding[i.i] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(range(1, $Dim + 1)) AS i) i
       |  WHERE $oTrainGate),
       |agg AS (
       |  SELECT label AS c_label, dim,
       |    CAST(SUM(CAST(FLOOR(x * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS cv
       |  FROM dims GROUP BY label, dim),
       |cent AS (SELECT c_label, list(cv ORDER BY dim) AS cvec FROM agg GROUP BY c_label),
       |cd AS (
       |  SELECT e.vec_id, c.c_label, ${oL2sq("e.embedding", "c.cvec")} AS dist
       |  FROM embeddings e CROSS JOIN cent c),
       |rc AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY dist ASC, c_label ASC) AS crn FROM cd),
       |cells AS (SELECT vec_id, c_label AS cell FROM rc WHERE crn = 1),
       |probes AS (SELECT vec_id AS query_id, c_label AS cell
       |  FROM rc WHERE crn <= $NProbe AND vec_id < $NumQueries),
       |anch AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE vec_id % 29 = 3 ORDER BY vec_id LIMIT $PqAnchors),
       |aj AS (SELECT vec_id, embedding,
       |  ROW_NUMBER() OVER (ORDER BY vec_id) AS j FROM anch),
       |cw AS (
       |  SELECT a.j, list(CAST(a.embedding[i.i] AS DOUBLE) - c.cvec[i.i]
       |    ORDER BY i.i) AS wvec
       |  FROM aj a
       |  JOIN cells b ON a.vec_id = b.vec_id
       |  JOIN cent c ON b.cell = c.c_label,
       |  (SELECT unnest(range(1, $Dim + 1)) AS i) i
       |  GROUP BY a.j),
       |ms AS (SELECT unnest(range(1, $PqM + 1)) AS m),
       |sub AS (
       |  SELECT e.vec_id, ms.m, cw.j,
       |    list_reduce(list_transform(range((ms.m - 1) * $PqSubDim + 1, ms.m * $PqSubDim + 1),
       |      i -> ((CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) - cw.wvec[i])
       |           * ((CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) - cw.wvec[i])),
       |      (x, y) -> x + y) AS dist
       |  FROM embeddings e
       |  JOIN cells b ON e.vec_id = b.vec_id
       |  JOIN cent c ON b.cell = c.c_label
       |  CROSS JOIN cw CROSS JOIN ms),
       |codes AS (
       |  SELECT vec_id, m, j AS code FROM (
       |    SELECT vec_id, m, j,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist ASC, j ASC) AS rn
       |    FROM sub) WHERE rn = 1),
       |qtab AS (
       |  SELECT p.query_id, p.cell, ms.m, cw.j,
       |    CAST(FLOOR(
       |      list_reduce(list_transform(range((ms.m - 1) * $PqSubDim + 1, ms.m * $PqSubDim + 1),
       |        i -> ((CAST(q.embedding[i] AS DOUBLE) - c.cvec[i]) - cw.wvec[i])
       |             * ((CAST(q.embedding[i] AS DOUBLE) - c.cvec[i]) - cw.wvec[i])),
       |        (x, y) -> x + y) * 1000000 + 0.5) AS BIGINT) AS dppm
       |  FROM probes p
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN cent c ON p.cell = c.c_label
       |  CROSS JOIN cw CROSS JOIN ms),
       |cand AS (
       |  SELECT p.query_id, p.cell, b.vec_id
       |  FROM probes p JOIN cells b ON p.cell = b.cell
       |  WHERE p.query_id <> b.vec_id),
       |adc AS (
       |  SELECT ca.query_id, ca.vec_id, CAST(SUM(t.dppm) AS BIGINT) AS adc_ppm
       |  FROM cand ca
       |  JOIN codes c2 ON ca.vec_id = c2.vec_id
       |  JOIN qtab t ON t.query_id = ca.query_id AND t.cell = ca.cell
       |    AND t.m = c2.m AND t.j = c2.code
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    list_reduce(list_transform(range(1, $Dim + 1),
       |      i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))
       |           * (CAST(q.embedding[i] AS DOUBLE) - CAST(e.embedding[i] AS DOUBLE))),
       |      (x, y) -> x + y) AS d
       |  FROM embeddings q JOIN embeddings e
       |    ON q.vec_id < $NumQueries AND q.vec_id <> e.vec_id),
       |ra AS (
       |  SELECT query_id, vec_id, adc_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc_ppm ASC, vec_id ASC) AS rank
       |  FROM adc),
       |re AS (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY d ASC, vec_id ASC) AS erank
       |  FROM exact)
       |SELECT ra.query_id, CAST(ra.rank AS BIGINT) AS rank, ra.vec_id,
       |  ra.adc_ppm,
       |  CAST(re.erank IS NOT NULL AND re.erank <= $TopK AS BOOLEAN)
       |    AS in_exact_topk
       |FROM ra LEFT JOIN re
       |  ON ra.query_id = re.query_id AND ra.vec_id = re.vec_id
       |WHERE ra.rank <= $TopK""".stripMargin
  }) { (s, d) =>
    import org.apache.spark.sql.GraftColumnBridge
    import s.implicits._
    val codebook = trainCodebook(embeddings(s, d).filter(trainGate(col("vec_id"))))
    require(codebook.map(_._1) == (0 until codebook.size),
      "residual IVF-PQ cells must be contiguous 0..k-1")
    val cents: Array[Array[Double]] = codebook.map(_._2.toArray).toArray
    // anchors: bounded deterministic driver sync (≤ PqAnchors rows)
    val anchors: Array[Array[Float]] = embeddings(s, d)
      .filter(col("vec_id") % 29 === 3)
      .orderBy(col("vec_id")).limit(PqAnchors)
      .select(col("embedding")).as[Array[Float]].collect()
    require(anchors.nonEmpty, "residual IVF-PQ needs at least one anchor")
    // per-anchor nearest cell + residual — the SAME index-order fold and
    // (dist, label) tie-break the IvfProbe kernel runs per row
    def nearestCell(v: Array[Float]): Int = {
      var best = 0
      var bd = Double.MaxValue
      var ci = 0
      while (ci < cents.length) {
        val c = cents(ci)
        var acc = 0.0
        var i = 0
        while (i < c.length) {
          val dx = v(i).toDouble - c(i)
          acc += dx * dx
          i += 1
        }
        if (acc < bd) { bd = acc; best = ci }
        ci += 1
      }
      best
    }
    val resids: Array[Array[Double]] = anchors.map { a =>
      val c = cents(nearestCell(a))
      Array.tabulate(Dim)(i => a(i).toDouble - c(i))
    }
    val books: Array[Array[Array[Double]]] = Array.tabulate(PqM)(m =>
      resids.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)))
    def encodeCol(v: Column, cell: Column): Column =
      GraftColumnBridge.column(graft.catalyst.PqEncodeResidual(
        GraftColumnBridge.expression(v), GraftColumnBridge.expression(cell),
        cents, books))
    def adcCol(v: Column, cell: Column): Column =
      GraftColumnBridge.column(graft.catalyst.PqAdcResidual(
        GraftColumnBridge.expression(v), GraftColumnBridge.expression(cell),
        cents, books))
    // INDEX BUILD: one map-only pass — cell + M residual codes
    val index = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        nearestCentroid(s, codebook)(col("embedding")).as("cell"))
      .select(col("vec_id"), col("cell"),
        encodeCol(col("embedding"), col("cell")).as("codes"))
    // probe rows carry ONE ADC table per probed cell
    val probes = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding"),
        explode(probeCentroids(s, codebook, NProbe)(col("embedding")))
          .as("pcell"))
      .select(col("query_id"), col("pcell"),
        adcCol(col("embedding"), col("pcell")).as("qtab"))
    val cand = broadcast(probes)
      .join(index.alias("c"),
        col("pcell") === col("c.cell") && col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        (1 to PqM).map(m =>
            element_at(element_at(col("qtab"), m),
              element_at(col("c.codes"), m) + 1))
          .reduce(_ + _).as("adc_ppm"))
    val qv = embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = broadcast(qv)
      .join(embeddings(s, d).alias("e"), col("query_id") =!= col("e.vec_id"))
      .select(col("query_id"), col("e.vec_id").as("vec_id"),
        graft.catalyst.GraftFunctions
          .l2sqDistance(col("qv"), col("e.embedding")).as("d"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("d").asc, col("vec_id").asc)
    val ranked = cand.select(col("query_id"), col("vec_id"), col("adc_ppm"),
      row_number().over(wa).as("rank")).filter(col("rank") <= TopK)
    val eranked = exact.select(col("query_id"), col("vec_id"),
      row_number().over(we).as("erank"))
    ranked.join(eranked, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("adc_ppm"),
        (col("erank").isNotNull && col("erank") <= TopK).as("in_exact_topk"))
  }

  // ============================================================ cosine dedup
  // embedding-cosine near-duplicate detection: candidate pairs from the
  // LSH buckets, kept when cosine exceeds the near-dup threshold — the
  // embedding-space member of the dedup family (see text.DedupOps for the
  // token-space ones).
  // the synthetic embeddings are random (no seeded duplicates); 0.4 sits
  // in the top tail of the in-bucket cosine distribution so the query
  // produces a meaningful, still-selective pair set. A production dedup
  // run over real embeddings would use ~0.99.
  register("q53_embedding_near_dup", {
    s"""WITH sigs AS (
       |  SELECT vec_id, embedding, ${oLshSignature("embedding")} AS sig
       |  FROM embeddings),
       |capped AS (
       |  SELECT s.* FROM sigs s
       |  JOIN (SELECT sig FROM sigs GROUP BY sig
       |        HAVING COUNT(*) <= $MaxSigBucketSize) ok ON s.sig = ok.sig),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${oDot("a.embedding", "b.embedding")}
       |      / (${oNorm("a.embedding")} * ${oNorm("b.embedding")}) AS cosine
       |  FROM capped a JOIN capped b ON a.sig = b.sig AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= $CosineDupThreshold""".stripMargin
  }) { (s, d) =>
    val sigs = cappedBySig(embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        lshSignature(col("embedding")).as("sig")))
    val a = sigs.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("sig").as("sa"))
    val b = sigs.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("sig").as("sb"))
    a.join(b, col("sa") === col("sb") && col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(col("ea"), col("eb")).as("cosine"))
      .filter(col("cosine") >= CosineDupThreshold)
  }

  // ============================================================== k-means
  // Distributed Lloyd's algorithm — the full iterative training loop the
  // IVF family's q30 (one mean step) and q79 (probe search) bracket.
  // Each round is: map-only argmin assignment against the ≤MaxCodebook
  // literal centroids, then ONE partial-aggregated shuffle on (cluster,
  // dim) for the exact-grid means; the k·Dim centroid frame is collected
  // driver-side between rounds (bounded, the standard k-means driver
  // sync). Determinism: init = per-label exact-grid means; distances are
  // index-order left folds; argmin tie-breaks on cluster id; means are
  // integer-grid-exact — so both engines walk identical trajectories.
  val KmeansIters = 2

  /** One Lloyd round: assign to nearest literal centroid, recompute
    * per-(cluster, dim) exact-grid means and cluster sizes. */
  private def kmeansStep(emb: DataFrame,
      codebook: Seq[(Int, Seq[Double])]): DataFrame = {
    // argmin via the native IvfProbe kernel (same (dist, cid) ordering
    // as the old array_min-over-struct fold, same IEEE op sequence, no
    // interpreted higher-order lambdas on the corpus pass)
    emb.select(
        nearestCentroid(emb.sparkSession, codebook)(col("embedding"))
          .as("cid"),
        col("embedding"))
      .select(col("cid"), posexplode(col("embedding")))
      .select(col("cid"), (col("pos") + 1).as("dim"),
        col("col").cast(DoubleType).as("x"))
      .groupBy("cid", "dim")
      .agg(((sum(floor(col("x") * 1000000)).cast(DoubleType) / 1000000)
        / count(lit(1))).as("cv"),
        count(lit(1)).as("n"))
  }

  /** Collect a (cluster, dim, cv) frame into a literal codebook, guarded
    * like [[trainCodebook]]. */
  private def collectCentroids(perDim: DataFrame): Seq[(Int, Seq[Double])] = {
    val rows = perDim.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cv")))),
        e => e.getField("cv")).as("cvec"))
      .collect()
    require(rows.length <= MaxCodebook,
      s"k-means codebook has ${rows.length} centroids (cap $MaxCodebook)")
    rows.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
  }

  register("q106_kmeans", {
    def oMeans(src: String, key: String) =
      s"""SELECT $key AS cid, i.i AS dim,
         |    CAST(SUM(CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT))
         |      AS DOUBLE) / 1000000 / COUNT(*) AS cv, COUNT(*) AS n
         |  FROM $src, (SELECT unnest(range(1, $Dim + 1)) AS i) i
         |  GROUP BY $key, i.i""".stripMargin
    def oAssign(cent: String) =
      s"""SELECT vec_id, embedding, cid FROM (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${oL2sq("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1""".stripMargin
    s"""WITH cent0v AS (${oMeans("embeddings", "label")}),
       |cent0 AS (SELECT cid, list(cv ORDER BY dim) AS cvec FROM cent0v GROUP BY cid),
       |a1 AS (${oAssign("cent0")}),
       |cent1v AS (${oMeans("a1", "cid")}),
       |cent1 AS (SELECT cid, list(cv ORDER BY dim) AS cvec FROM cent1v GROUP BY cid),
       |a2 AS (${oAssign("cent1")}),
       |cent2v AS (${oMeans("a2", "cid")})
       |SELECT CAST(cid AS INTEGER) AS cid, CAST(dim AS INTEGER) AS dim, cv, n
       |FROM cent2v""".stripMargin
  }) { (s, d) =>
    var codebook = trainCodebook(embeddings(s, d)) // init: label means
    var perDim: DataFrame = null
    for (_ <- 1 to KmeansIters) {
      perDim = kmeansStep(embeddings(s, d), codebook)
      codebook = collectCentroids(perDim)
    }
    perDim.select(col("cid").cast(IntegerType).as("cid"),
      col("dim").cast(IntegerType).as("dim"), col("cv"), col("n"))
  }

  // ============================================================== gramian
  // Upper-triangle Gram / co-moment matrix Σ x_i·x_j over the corpus —
  // the distributed linear-algebra primitive under PCA/covariance
  // (compute the Dim×Dim Gramian in one pass, eigensolve the tiny matrix
  // driver-side). Components snap to the 1e6 integer grid so products
  // and sums are EXACT int64 arithmetic (|grid| ≲ 4e6 → product ≤ 1.6e13,
  // corpus sums well under 2^63) — hash-identical across engines with no
  // float-order concerns. The pair explosion is a codegen'd generator
  // (never materialized); the only shuffle is the partial-aggregated
  // (dim_i, dim_j) rollup — Dim²/2 groups regardless of corpus size.
  register("q107_gramian",
    s"""WITH g AS (
       |  SELECT vec_id, list_transform(embedding, x ->
       |    CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS gx
       |  FROM embeddings)
       |SELECT CAST(i.i AS INTEGER) AS dim_i, CAST(j.j AS INTEGER) AS dim_j,
       |  CAST(SUM(gx[i.i] * gx[j.j]) AS BIGINT) AS gram_grid, COUNT(*) AS n
       |FROM g, (SELECT unnest(range(1, $Dim + 1)) AS i) i,
       |        (SELECT unnest(range(1, $Dim + 1)) AS j) j
       |WHERE j.j >= i.i
       |GROUP BY i.i, j.j""".stripMargin) { (s, d) =>
    embeddings(s, d)
      .select(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000000).cast(LongType)).as("gx"))
      .select(col("gx"), explode(sequence(lit(1), lit(Dim))).as("dim_i"))
      .select(col("gx"), col("dim_i"),
        explode(sequence(col("dim_i"), lit(Dim))).as("dim_j"))
      .select(col("dim_i").cast(IntegerType).as("dim_i"),
        col("dim_j").cast(IntegerType).as("dim_j"),
        (element_at(col("gx"), col("dim_i")) *
          element_at(col("gx"), col("dim_j"))).as("p"))
      .groupBy("dim_i", "dim_j")
      .agg(sum(col("p")).cast(LongType).as("gram_grid"), count(lit(1)).as("n"))
  }

  // ======================================================= power iteration
  // Distributed PCA, step two: the q107 Gramian (one pass over the
  // corpus, exact int64 grid) mirrored into a full Dim×Dim matrix, then
  // the top eigenvector by three power-iteration rounds. Every matvec,
  // norm, and normalization is a LIST FOLD in index order — never a SQL
  // aggregation over rows — so the float trajectory is bit-identical in
  // both engines (the same discipline as the l2sq/cosine kernels).
  // Scale shape: the corpus is touched ONCE (the Gramian pass); the
  // iteration runs on Dim-row / 1-row frames, broadcast everywhere — the
  // standard "big pass then tiny driver-side solve" PCA decomposition,
  // expressed declaratively.
  val PowerIters = 3

  register("q113_power_iteration", {
    val oDot = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, $Dim + 1), k -> garr[k] * varr[k])), (a, b) -> a + b)"
    val oSumSq = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(warr, x -> x * x)), (a, b) -> a + b)"
    def oIter(prev: String, k: Int) =
      s"""w$k AS (SELECT i, $oDot AS w FROM g, $prev),
         |w${k}a AS (SELECT list(w ORDER BY i) AS warr FROM w$k),
         |n$k AS (SELECT warr, sqrt($oSumSq) AS nrm FROM w${k}a),
         |v$k AS (SELECT list_transform(warr,
         |    x -> CASE WHEN nrm = 0 THEN CAST(0.0 AS DOUBLE) ELSE x / nrm END) AS varr,
         |  nrm FROM n$k)""".stripMargin
    s"""WITH gx AS (
       |  SELECT list_transform(embedding, x ->
       |    CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS gx
       |  FROM embeddings),
       |gp AS (
       |  SELECT i.i AS di, j.j AS dj, CAST(SUM(gx[i.i] * gx[j.j]) AS BIGINT) AS gram
       |  FROM gx, (SELECT unnest(range(1, $Dim + 1)) AS i) i,
       |          (SELECT unnest(range(1, $Dim + 1)) AS j) j
       |  WHERE j.j >= i.i GROUP BY i.i, j.j),
       |gm AS (
       |  SELECT di AS i, dj AS j, gram FROM gp
       |  UNION ALL SELECT dj, di, gram FROM gp WHERE di <> dj),
       |g AS (SELECT i, list(CAST(gram AS DOUBLE) / CAST(1000000000000 AS DOUBLE)
       |        ORDER BY j) AS garr FROM gm GROUP BY i),
       |v0 AS (SELECT list_transform(range(1, $Dim + 1),
       |        d -> CAST(CASE WHEN d = 1 THEN 1 ELSE 0 END AS DOUBLE)) AS varr),
       |${oIter("v0", 1)},
       |${oIter("v1", 2)},
       |${oIter("v2", 3)}
       |SELECT CAST(d.d AS INTEGER) AS dim, varr[d.d] AS component, nrm AS lambda
       |FROM v3, (SELECT unnest(range(1, $Dim + 1)) AS d) d""".stripMargin
  }) { (s, d) =>
    val gp = embeddings(s, d)
      .select(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1000000).cast(LongType)).as("gx"))
      .select(col("gx"), explode(sequence(lit(1), lit(Dim))).as("di"))
      .select(col("gx"), col("di"),
        explode(sequence(col("di"), lit(Dim))).as("dj"))
      .select(col("di"), col("dj"),
        (element_at(col("gx"), col("di")) *
          element_at(col("gx"), col("dj"))).as("p"))
      .groupBy("di", "dj")
      .agg(sum(col("p")).cast(LongType).as("gram"))
    val gm = gp.select(col("di").as("i"), col("dj").as("j"), col("gram"))
      .unionAll(gp.filter(col("di") =!= col("dj"))
        .select(col("dj").as("i"), col("di").as("j"), col("gram")))
    val g = gm.groupBy("i")
      .agg(transform(array_sort(collect_list(struct(col("j"),
        (col("gram").cast(DoubleType) / lit(1e12)).as("gv")))),
        e => e.getField("gv")).as("garr"))

    var v = s.range(1).select(
      array((1 to Dim).map(k => lit(if (k == 1) 1.0 else 0.0)): _*).as("varr"))
    for (_ <- 1 to PowerIters) {
      val w = g.crossJoin(broadcast(v))
        .select(col("i"),
          aggregate(zip_with(col("garr"), col("varr"), (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x).as("w"))
      val wArr = w.groupBy()
        .agg(transform(array_sort(collect_list(struct(col("i"), col("w")))),
          e => e.getField("w")).as("warr"))
      v = wArr
        .select(col("warr"),
          sqrt(aggregate(transform(col("warr"), x => x * x),
            lit(0.0), (acc, x) => acc + x)).as("nrm"))
        .select(transform(col("warr"),
          x => when(col("nrm") === 0, lit(0.0)).otherwise(x / col("nrm")))
          .as("varr"), col("nrm"))
    }
    v.select(posexplode(col("varr")), col("nrm"))
      .select((col("pos") + 1).cast(IntegerType).as("dim"),
        col("col").as("component"), col("nrm").as("lambda"))
  }

  // ======================================================== rank fusion
  /** [[q132]] reciprocal-rank-fusion constants: the standard k=60
    * damping, a 100-deep candidate pool per system, 20 fused results. */
  val RrfK = 60
  val RrfPool = 100
  val RrfTop = 20

  // Reciprocal-rank fusion of two retrieval systems over the same
  // corpus: cosine similarity (angular) and L1 distance (magnitude-
  // sensitive) rankings for one query vector, fused as
  // Σ 1/(k + rank_sys) over the systems that returned the doc — the
  // standard way a retrieval pipeline merges heterogeneous scorers
  // without calibrating their score scales.
  //
  // Determinism: both distance folds are left-to-right with pinned
  // element order (the module's rule), ranks are integers with vec_id
  // tie-breaks, and the fused score is the same two-term double sum in
  // both engines. Scale: each system's pool is TakeOrdered (top-100 per
  // partition, then merged) — the ONLY global windows rank the two
  // 100-row pools (bounded by construction); the corpus pass is a
  // map-only broadcast of one query row.
  register("q132_rrf_fusion", {
    val oL1 =
      s"""list_reduce(list_transform(range(1, $Dim + 1),
         |      i -> abs(CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))),
         |      (x, y) -> x + y)""".stripMargin
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |c AS (SELECT vec_id, embedding AS cv FROM embeddings
       |      WHERE vec_id <> 0),
       |scored AS (
       |  SELECT vec_id,
       |    ${oDot("qv", "cv")} / (${oNorm("qv")} * ${oNorm("cv")}) AS cos,
       |    $oL1 AS l1
       |  FROM c, q),
       |ta AS (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id ASC)
       |    AS rank_cos
       |  FROM scored QUALIFY rank_cos <= $RrfPool),
       |tb AS (
       |  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY l1 ASC, vec_id ASC)
       |    AS rank_l1
       |  FROM scored QUALIFY rank_l1 <= $RrfPool),
       |f AS (
       |  SELECT COALESCE(ta.vec_id, tb.vec_id) AS vec_id, rank_cos, rank_l1,
       |    COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + rank_cos),
       |             CAST(0 AS DOUBLE))
       |    + COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + rank_l1),
       |               CAST(0 AS DOUBLE)) AS rrf
       |  FROM ta FULL OUTER JOIN tb ON ta.vec_id = tb.vec_id)
       |SELECT vec_id, rank_cos, rank_l1, rrf FROM f
       |QUALIFY ROW_NUMBER() OVER (ORDER BY rrf DESC, vec_id ASC)
       |  <= $RrfTop""".stripMargin
  }) { (s, d) =>
    val q = embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val c = embeddings(s, d).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.catalyst.GraftFunctions
          .cosineSimilarity(col("qv"), col("cv")).as("cos"),
        aggregate(zip_with(col("qv"), col("cv"),
          (x, y) => abs(x.cast(DoubleType) - y.cast(DoubleType))),
          lit(0.0), (acc, x) => acc + x).as("l1"))
    val ta = scored.orderBy(col("cos").desc, col("vec_id").asc).limit(RrfPool)
      .select(col("vec_id"), row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id").asc)).as("rank_cos"))
    val tb = scored.orderBy(col("l1").asc, col("vec_id").asc).limit(RrfPool)
      .select(col("vec_id"), row_number().over(
        Window.orderBy(col("l1").asc, col("vec_id").asc)).as("rank_l1"))
    ta.join(tb, Seq("vec_id"), "full_outer")
      .select(col("vec_id"), col("rank_cos"), col("rank_l1"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("rank_cos")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_l1")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("vec_id").asc)
      .limit(RrfTop)
  }

  // ==================================================== scalar quantization
  // SQ8 scalar quantization audit — the vector-store compression step:
  // per-dimension [min, max] train pass, 8-bit code assignment
  // code = floor((x − mn)·255/(mx − mn) + 0.5), and the per-dimension
  // reconstruction report (distinct codes used, worst absolute error on
  // the nano grid — MAX of per-element integers, order-independent).
  // Every float step is the same IEEE expression in both engines, so
  // codes and errors agree exactly.
  //
  // Scale: two corpus passes, both partial-aggregated to Dim rows
  // map-side (the (dim, x) explode collapses to 64 partials per
  // partition before either shuffle); the trained params broadcast back
  // for the encode pass. Nothing global, nothing driver-side.
  register("q134_scalar_quantization",
    s"""WITH px AS (
       |  SELECT vec_id, i.dim AS dim,
       |    CAST(embedding[i.dim] AS DOUBLE) AS x
       |  FROM embeddings, (SELECT unnest(range(1, $Dim + 1)) AS dim) i),
       |params AS (
       |  SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM px GROUP BY dim),
       |coded AS (
       |  SELECT p.dim, p.x, q.mn, q.mx,
       |    CASE WHEN q.mx = q.mn THEN 0
       |         ELSE CAST(FLOOR((p.x - q.mn) * 255.0 / (q.mx - q.mn) + 0.5)
       |                AS BIGINT) END AS code
       |  FROM px p JOIN params q ON p.dim = q.dim),
       |err AS (
       |  SELECT dim, mn, mx, code,
       |    CAST(FLOOR(abs(x - (mn + code * (mx - mn) / 255.0)) * 1000000000
       |      + 0.5) AS BIGINT) AS err_nano
       |  FROM coded)
       |SELECT CAST(dim AS INTEGER) AS dim, mn, mx,
       |  CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used,
       |  MAX(err_nano) AS max_err_nano
       |FROM err GROUP BY dim, mn, mx""".stripMargin) { (s, d) =>
    val px = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "xf")))
      .select(col("vec_id"), (col("p") + 1).cast(IntegerType).as("dim"),
        col("xf").cast(DoubleType).as("x"))
    val params = px.groupBy("dim").agg(min(col("x")).as("mn"),
      max(col("x")).as("mx"))
    val coded = px.join(broadcast(params), Seq("dim"))
      .select(col("dim"), col("x"), col("mn"), col("mx"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(floor((col("x") - col("mn")) * 255.0
            / (col("mx") - col("mn")) + 0.5).cast(LongType)).as("code"))
    coded
      .select(col("dim"), col("mn"), col("mx"), col("code"),
        floor(abs(col("x") - (col("mn") + col("code") * (col("mx") - col("mn"))
          / 255.0)) * 1000000000d + 0.5).cast(LongType).as("err_nano"))
      .groupBy("dim", "mn", "mx")
      .agg(countDistinct(col("code")).as("codes_used"),
        max(col("err_nano")).as("max_err_nano"))
  }

  // ====================================================== recall@k eval
  // The evaluation harness every ANN deployment needs: per-query
  // recall@k of the LSH path (q29) against exact brute force (q28) —
  // |approx ∩ exact| / |exact| on neighbor ids. Because BOTH retrieval
  // paths are deterministic and oracle-replicable (the LSH signature
  // has a DuckDB twin), this is an EXACT hash gate, not a
  // within_bound estimate: both engines compute identical top-k sets
  // and therefore identical recall. A query whose signature bucket is
  // empty (or capped away) retrieves nothing and scores recall 0 —
  // visible, not silently dropped.
  //
  // Scale: reuses the two retrieval plans (broadcast query set; the
  // LSH side touches only the query's bucket); the overlap join is
  // |queries|·k rows on both sides.
  register("q156_ann_recall", {
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
       |e_scored AS (
       |  SELECT query_id, vec_id,
       |    ${oDot("qv", "cv")} / (${oNorm("qv")} * ${oNorm("cv")}) AS cosine
       |  FROM q JOIN c ON q.query_id <> c.vec_id),
       |e_ranked AS (
       |  SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM e_scored),
       |e_top AS (SELECT query_id, vec_id FROM e_ranked WHERE rank <= $TopK),
       |sigs AS (
       |  SELECT vec_id, embedding, ${oLshSignature("embedding")} AS sig
       |  FROM embeddings),
       |capped AS (
       |  SELECT s.* FROM sigs s
       |  JOIN (SELECT sig FROM sigs GROUP BY sig
       |        HAVING COUNT(*) <= $MaxSigBucketSize) ok ON s.sig = ok.sig),
       |aq AS (SELECT vec_id AS query_id, embedding AS qv, sig
       |       FROM sigs WHERE vec_id < $NumQueries),
       |a_scored AS (
       |  SELECT aq.query_id, c2.vec_id,
       |    ${oDot("aq.qv", "c2.embedding")}
       |      / (${oNorm("aq.qv")} * ${oNorm("c2.embedding")}) AS cosine
       |  FROM aq JOIN capped c2 ON aq.sig = c2.sig
       |    AND aq.query_id <> c2.vec_id),
       |a_ranked AS (
       |  SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id ASC) AS rank
       |  FROM a_scored),
       |a_top AS (SELECT query_id, vec_id FROM a_ranked WHERE rank <= $TopK)
       |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*) AS recall
       |FROM e_top e LEFT JOIN a_top a
       |  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
       |GROUP BY e.query_id""".stripMargin
  }) { (s, d) =>
    val exact = queries("q28_cosine_topk")(s, d)
      .select(col("query_id"), col("vec_id"))
    val approx = queries("q29_ann_lsh")(s, d)
      .select(col("query_id").as("aq"), col("vec_id").as("av"))
    exact.join(approx,
        col("query_id") === col("aq") && col("vec_id") === col("av"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("av").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall"))
  }

  // =========================== PERSISTED IVF-PQ INDEX (build ≠ search)
  // r13 verdict task 4: q212/q214 retrain codebooks and re-encode the
  // corpus PER QUERY — correct for a self-contained oracle, but the
  // FAISS lifecycle is BUILD-ONCE (cells + PQ codes persisted as a
  // table clustered by cell), SEARCH-MANY (probe = a cell-key join
  // against the index table, ADC over the stored codes; the raw floats
  // are never read again on the ANN path). q215 is that lifecycle on
  // the engine's own storage:
  //
  //   - INDEX TABLE: GraftCatalog/ClusteredSink, filePerKey over the
  //     cell id — one file per inverted list, manifest-proven
  //     single-key, scan reports KeyGroupedPartitioning(identity(cell)).
  //     Codes are PACKED (M=8 codes × 8 bits → one BIGINT): the whole
  //     per-vector index state is 3 longs through any exchange, and the
  //     row format's weight stays constant in M.
  //   - WRITE-ONCE per (dataset, JVM), content-addressed by the
  //     embeddings parquet fingerprint (the bucketedEdgeTable
  //     discipline): the first q215 run pays train+encode+write; every
  //     later run — bench reps, repeated searches — is probe-only.
  //     The trained codebook rides the same cache (it IS part of the
  //     index; a real deployment serializes it next to the table).
  //   - SEARCH: the probe set joins the index ON THE CELL KEY in an
  //     SPJ-configured child session — the index side never crosses an
  //     exchange (one-side-shuffle SPJ shuffles only the ≤ queries ×
  //     NProbe probe rows into the key groups; PersistedAnnSpec pins
  //     the executed plan) — then ADC = M masked-shift lookups per
  //     candidate. Identical candidates, distances, and ranking to
  //     q212, so the SAME oracle SQL gates both and the recall audit is
  //     unchanged by construction.
  val AnnCat = "graft_cat_ann"
  // Index warehouse: the "ann" family of the UNIFIED engine warehouse
  // (graft.engine.Warehouse, r15 verdict task 4) — one durable root
  // shared with the graph edge layouts. `-Dgraft.warehouse` (or the
  // back-compat `-Dgraft.ann.warehouse` alias) makes the index SURVIVE
  // the process: a fresh JVM reloads table + codebook from the catalog
  // (see [[annIndex]]) instead of retraining.

  /** Codebook ⇄ catalog-property codec. Double.toString/toDouble
    * round-trips every IEEE double exactly, so a reloaded codebook is
    * bit-identical to the trained one — reload changes WHERE the
    * codebook comes from, never a single distance. */
  private[ml] def encodeCodebook(cb: Seq[(Int, Seq[Double])]): String =
    cb.map { case (l, v) => s"$l:${v.mkString(",")}" }.mkString(";")
  private[ml] def decodeCodebook(s: String): Seq[(Int, Seq[Double])] =
    s.split(";").toSeq.map { e =>
      val Array(l, vs) = e.split(":", 2)
      (l.toInt, vs.split(",").toSeq.map(_.toDouble))
    }
  /** Counts full index TRAINS (not reloads) — lets specs pin that the
    * streaming serving path never retrains. */
  private[ml] val annBuilds = new java.util.concurrent.atomic.AtomicInteger()
  private val annBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Seq[Double])]]()
  private val annLock = new Object

  /** TEST ONLY: drop the in-memory index/truth caches — the state a
    * fresh JVM starts with — while the warehouse (and any durable
    * tables in it) survives. AnnIndexReloadSpec drives the reload path
    * through this. */
  private[ml] def resetAnnMemoryForTest(): Unit = annLock.synchronized {
    annBuilt.clear()
    annExactBuilt.clear()
  }

  /** SPJ-configured child session for the index catalog — the "ann"
    * family of [[graft.engine.Warehouse]]. */
  def annSession(s: SparkSession): SparkSession =
    graft.engine.Warehouse.spjSession(s, AnnCat, "ann")

  /** Content address of the embeddings input (file names/sizes/mtimes —
    * a regenerated dataset forces a fresh build; the skip can never
    * serve a stale index). */
  private def embFingerprint(d: String): String = {
    val f = new java.io.File(d, "embeddings.parquet")
    val files =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq.sortBy(_.getName)).getOrElse(Seq(f))
      else Seq(f)
    val sig = d + "|" + files.map(x =>
      s"${x.getName}:${x.length}:${x.lastModified}").mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
  }

  /** Build-or-load the persisted IVF-PQ index for dataset `d`. Returns
    * (index frame from the SPJ session, trained codebook). The index
    * row is (vec_id, cell, packed): cell = nearest coarse centroid,
    * packed = the M subspace codes at 8 bits each. */
  def annIndex(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val iso = annSession(s)
    val ident = s"$AnnCat.g.ivfpq_${embFingerprint(d)}"
    annLock.synchronized {
      val cached = annBuilt.get(ident)
      if (cached != null) (iso.table(ident), cached)
      else if (reloadPersisted(iso, ident).isDefined)
        (iso.table(ident), annBuilt.get(ident))
      else {
        annBuilds.incrementAndGet()
        val codebook =
          trainCodebook(embeddings(iso, d).filter(trainGate(col("vec_id"))))
        createIndexTable(iso, ident, codebook)
        encodeIvfpq(iso, embeddings(iso, d), codebook)
          .writeTo(ident).append()
        annBuilt.put(ident, codebook)
        (iso.table(ident), codebook)
      }
    }
  }

  /** DDL for a persisted IVF-PQ index table: (vec_id, cell, packed),
    * filePerKey over cell, the trained codebook riding as a table
    * property (a fresh JVM reloads it instead of retraining). */
  private[ml] def createIndexTable(iso: SparkSession, ident: String,
      codebook: Seq[(Int, Seq[Double])]): Unit = {
    require(codebook.map(_._1) == (0 until codebook.size),
      "IVF-PQ codebook labels must be contiguous 0..k-1")
    require(codebook.size <= 256,
      s"packed 8-bit codes need k ≤ 256 centroids, got ${codebook.size}")
    iso.sql(s"CREATE NAMESPACE IF NOT EXISTS $AnnCat.g")
    iso.sql(s"DROP TABLE IF EXISTS $ident")
    iso.sql(s"CREATE TABLE $ident " +
      "(vec_id BIGINT, cell BIGINT, packed BIGINT) " +
      "PARTITIONED BY (cell) " +
      "TBLPROPERTIES ('filePerKey'='true', 'sortBy'='vec_id', " +
      s"'graft.codebook'='${encodeCodebook(codebook)}')")
  }

  /** Map-only (vec_id, cell, packed) encoding of `rows` under a FROZEN
    * codebook — shared by the initial build and the upsert path (the
    * FAISS lifecycle: adding vectors never retrains). */
  private[ml] def encodeIvfpq(iso: SparkSession, rows: DataFrame,
      codebook: Seq[(Int, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    def subCb(m: Int): Seq[(Int, Seq[Double])] =
      codebook.map { case (l, cv) =>
        (l, cv.slice((m - 1) * PqSubDim, m * PqSubDim)) }
    def subCode(v: Column, m: Int): Column = {
      val cb = subCb(m)
      element_at(GraftColumnBridge.column(graft.catalyst.IvfProbe(
        GraftColumnBridge.expression(
          slice(v, (m - 1) * PqSubDim + 1, PqSubDim)),
        cb.map(_._1).toArray, cb.map(_._2.toArray).toArray, 1)), 1)
    }
    val packed = (1 to PqM).map(m =>
        subCode(col("embedding"), m).cast(LongType)
          * lit(1L << (8 * (m - 1))))
      .reduce(_ + _)
    rows.select(col("vec_id").cast(LongType).as("vec_id"),
      nearestCentroid(iso, codebook)(col("embedding"))
        .cast(LongType).as("cell"),
      packed.as("packed"))
  }

  /** Cross-JVM reload via the shared [[graft.engine.Warehouse.adopt]]
    * discipline: adopt the persisted index when it exists with its
    * codebook property and committed data; a partial table (writer
    * died between CREATE and the append's manifest commit) is dropped
    * so the build path recreates it. Caller holds [[annLock]]. */
  private def reloadPersisted(iso: SparkSession, ident: String)
      : Option[Seq[(Int, Seq[Double])]] = {
    val cb = graft.engine.Warehouse.adopt(iso, ident, Seq("graft.codebook"))
      .flatMap(_.get("graft.codebook")).map(decodeCodebook)
    cb.foreach(annBuilt.put(ident, _))
    cb
  }

  /** The q215 candidate scoring join: probes (query_id, qtab, cell)
    * against the persisted index on the CELL key; ADC unpacks each
    * code with a masked shift and sums the M table entries. Exposed so
    * PersistedAnnSpec can pin the executed plan. */
  def annCandidates(index: DataFrame, probes: DataFrame): DataFrame =
    probes.join(index.as("c"), Seq("cell"))
      .filter(col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        (1 to PqM).map(m =>
            element_at(element_at(col("qtab"), m),
              (shiftright(col("packed"), 8 * (m - 1))
                .bitwiseAND(lit(255L)) + 1).cast(IntegerType)))
          .reduce(_ + _).as("adc_ppm"))

  /** Probe frame for an ARBITRARY (query_id, embedding) set: one row
    * per (query, probed cell) with the per-subspace ADC distance table
    * riding along — ≤ |queries| × NProbe rows, the ONLY thing the
    * one-side-shuffle SPJ moves. Shared by the q215/q217 batch gates
    * and the streaming serving path. */
  def annProbesFor(iso: SparkSession, queries: DataFrame,
      codebook: Seq[(Int, Seq[Double])]): DataFrame = {
    def subCb(m: Int): Seq[(Int, Seq[Double])] =
      codebook.map { case (l, cv) =>
        (l, cv.slice((m - 1) * PqSubDim, m * PqSubDim)) }
    def qTab(v: Column): Column = array((1 to PqM).map { m =>
      array(subCb(m).map { case (_, cw) =>
        floor(graft.catalyst.GraftFunctions.l2sqDistance(
          slice(v, (m - 1) * PqSubDim + 1, PqSubDim),
          array(cw.map(lit): _*)) * 1000000 + 0.5)
          .cast(LongType)
      }: _*)
    }: _*)
    queries
      .select(col("query_id"), qTab(col("embedding")).as("qtab"),
        explode(probeCentroids(iso, codebook, NProbe)(col("embedding")))
          .as("pcell"))
      .select(col("query_id"), col("qtab"),
        col("pcell").cast(LongType).as("cell"))
  }

  /** The q215/q217 probe frame: the corpus's first NumQueries vectors. */
  def annProbes(iso: SparkSession, d: String,
      codebook: Seq[(Int, Seq[Double])]): DataFrame =
    annProbesFor(iso,
      embeddings(iso, d).filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding")),
      codebook)

  // =============== STREAMING SERVING PATH (r15 verdict task 6): the
  // LLM-pipeline's online shape — micro-batches of query embeddings
  // probe the PERSISTED index. Per batch: re-wrap the batch frame into
  // the SPJ session, build the ≤|batch|×NProbe probe rows, cell-key
  // SPJ against the index, ADC, top-k. The index table and codebook
  // come from [[annIndex]]'s build-or-reload memo, so they load ONCE
  // per JVM and a stream NEVER retrains (AnnStreamSpec pins the build
  // count); state between batches is zero — the index IS the state.

  /** One micro-batch of (query_id, embedding) rows → per-query ADC
    * top-k (query_id, rank, vec_id, adc_ppm), identical semantics to
    * q215's ranked frame. */
  def annSearchBatch(d: String, queries: DataFrame): DataFrame = {
    val (index, codebook) = annIndex(queries.sparkSession, d)
    val iso = index.sparkSession
    val q = iso.createDataFrame(
      queries.select(col("query_id").cast(LongType).as("query_id"),
        col("embedding")).rdd,
      StructType(Seq(StructField("query_id", LongType),
        StructField("embedding",
          queries.schema("embedding").dataType))))
    val cand = annCandidates(index, annProbesFor(iso, q, codebook))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    cand.select(col("query_id"), col("vec_id"), col("adc_ppm"),
        row_number().over(wa).as("rank"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("adc_ppm"))
  }

  /** Wire the probe-only serving path to a stream of query embeddings.
    * `onResult` receives each batch's ranked top-k. */
  def startAnnProbeStream(queries: DataFrame, d: String, checkpoint: String,
      onResult: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        if (!b.isEmpty) onResult(id, annSearchBatch(d, b.toDF()))
      }
      .start()

  /** The persisted-index search gate body (probe SPJ + ADC ranking +
    * exact-L2 audit) — shared by q215 (full one-shot build) and q227
    * (base build + upsert batch): identical by construction once the
    * index tables hold the same rows. */
  private def ivfpqSearchGate(index: DataFrame,
      codebook: Seq[(Int, Seq[Double])], d: String): DataFrame = {
    val iso = index.sparkSession
    // probe set: ≤ NumQueries × NProbe rows, cell-keyed for the SPJ
    val probes = annProbes(iso, d, codebook)
    val cand = annCandidates(index, probes)
    // exact reference (audit only) — identical to q212's
    val qv = embeddings(iso, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = broadcast(qv)
      .join(embeddings(iso, d).alias("e"), col("query_id") =!= col("e.vec_id"))
      .select(col("query_id"), col("e.vec_id").as("vec_id"),
        graft.catalyst.GraftFunctions
          .l2sqDistance(col("qv"), col("e.embedding")).as("d"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("d").asc, col("vec_id").asc)
    val ranked = cand.select(col("query_id"), col("vec_id"), col("adc_ppm"),
      row_number().over(wa).as("rank")).filter(col("rank") <= TopK)
    val eranked = exact.select(col("query_id"), col("vec_id"),
      row_number().over(we).as("erank"))
    ranked.join(eranked, Seq("query_id", "vec_id"), "left")
      .select(col("query_id"), col("rank").cast(LongType).as("rank"),
        col("vec_id"), col("adc_ppm"),
        (col("erank").isNotNull && col("erank") <= TopK).as("in_exact_topk"))
  }

  register("q215_persisted_ivfpq", oIvfpqSearchSql) { (s, d) =>
    val (index, codebook) = annIndex(s, d)
    ivfpqSearchGate(index, codebook, d)
  }


  // ===================== ADAPTIVE PROBE BUDGET (r17 verdict task 9)
  // q212/q215 probe a FIXED NProbe cells per query. The operational
  // tuner picks a PER-QUERY budget from index statistics instead — and
  // does it with a PROVABLE early-termination bound, not a heuristic:
  //
  //   For each probed cell and each PQ subspace m, the index knows
  //   which codes are PRESENT in the cell (a per-cell stat, 8×K bits).
  //   Any member's ADC distance is Σ_m qtab[m][code_m], so
  //     bound(q, cell) = Σ_m min_{code present in cell, m} qtab[m][code]
  //   lower-bounds every member's ADC distance — in the SAME quantized
  //   metric the ranking uses, and in exact integer (ppm) arithmetic.
  //   Probing cells in centroid order, the tuner stops at the first
  //   prefix n whose k-th best ADC is STRICTLY below every remaining
  //   cell's bound: no unprobed candidate can enter the top-k (ties
  //   keep probing, so vec_id tie-breaks cannot flip the set).
  //
  // The bound can only SATURATE on small dense cells (every code
  // present ⇒ bound = the global ADC floor ⇒ never strict — measured
  // on the gate corpus), so the tuner combines it with the standard
  // per-cell-COUNT rule (FAISS-style: the per-cell population is a
  // persisted index stat — q227 already tracks it in TBLPROPERTIES):
  //
  //   n_q = smallest n where (k-th ADC strictly beats every remaining
  //         cell's bound) OR (cumulative candidates ≥ CandidateTarget)
  //
  // Both conditions are exact integer arithmetic over index stats, so
  // the DuckDB twin replicates the tuning decision bit-for-bit and
  // ranks the SAME tuned prefix — a tuner that stops at the wrong n
  // or probes the wrong cells hash-fails. Per-query budgets ride the
  // output. AdaptiveProbeSpec pins non-vacuity (budgets vary below
  // NProbeMax on the gate corpus) and an absolute exact-L2 recall
  // floor.
  val AnnNProbeMax = 4
  val AnnCandidateTarget = 100 // 20×TopK candidates — the recall knob
  register("q241_adaptive_ann_probe", {
    s"""WITH $oIvfpqCtes,
       |probes_a AS (
       |  SELECT vec_id AS query_id, c_label AS cell,
       |    CAST(crn AS BIGINT) AS r
       |  FROM rc WHERE crn <= $AnnNProbeMax AND vec_id < $NumQueries),
       |cand_a AS (
       |  SELECT p.query_id, p.r, b.vec_id
       |  FROM probes_a p JOIN cells b ON p.cell = b.cell
       |  WHERE p.query_id <> b.vec_id),
       |adc_a AS (
       |  SELECT ca.query_id, ca.r, ca.vec_id,
       |    CAST(SUM(t.dppm) AS BIGINT) AS adc_ppm
       |  FROM cand_a ca
       |  JOIN codes c ON ca.vec_id = c.vec_id
       |  JOIN qtab t ON t.query_id = ca.query_id AND t.m = c.m
       |    AND t.c_label = c.code
       |  GROUP BY 1, 2, 3),
       |cellm AS (
       |  SELECT DISTINCT b.cell, c.m, c.code
       |  FROM cells b JOIN codes c ON b.vec_id = c.vec_id),
       |mnm AS (
       |  SELECT t.query_id, cm.cell, cm.m, MIN(t.dppm) AS mn
       |  FROM cellm cm JOIN qtab t ON t.m = cm.m AND t.c_label = cm.code
       |  GROUP BY 1, 2, 3),
       |bnd AS (
       |  SELECT p.query_id, p.r, CAST(SUM(mn.mn) AS BIGINT) AS b
       |  FROM probes_a p
       |  JOIN mnm mn ON mn.query_id = p.query_id AND mn.cell = p.cell
       |  GROUP BY 1, 2),
       |bnd_a AS (
       |  SELECT s.query_id, s.r,
       |    MIN(b.b) OVER (PARTITION BY s.query_id ORDER BY s.r
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS min_after
       |  FROM probes_a s
       |  LEFT JOIN bnd b ON b.query_id = s.query_id AND b.r = s.r),
       |pref AS (
       |  SELECT a.query_id, a.vec_id, a.adc_ppm, n.n
       |  FROM adc_a a,
       |    LATERAL (SELECT unnest(range(a.r, $AnnNProbeMax + 1)) AS n) n),
       |pref_r AS (
       |  SELECT query_id, n, adc_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY query_id, n
       |      ORDER BY adc_ppm ASC, vec_id ASC) AS rn
       |  FROM pref),
       |pref_s AS (
       |  SELECT query_id, n,
       |    MAX(CASE WHEN rn <= $TopK THEN adc_ppm END) AS kth,
       |    COUNT(*) AS cnt
       |  FROM pref_r GROUP BY 1, 2),
       |okn AS (
       |  SELECT ps.query_id, ps.n
       |  FROM pref_s ps
       |  LEFT JOIN bnd_a ba ON ba.query_id = ps.query_id AND ba.r = ps.n
       |  WHERE (ps.cnt >= $TopK
       |      AND (ba.min_after IS NULL OR ps.kth < ba.min_after))
       |    OR ps.cnt >= $AnnCandidateTarget),
       |nq AS (SELECT query_id, MIN(n) AS n_probed FROM okn GROUP BY 1),
       |maxr AS (SELECT query_id, MAX(r) AS mr FROM probes_a GROUP BY 1),
       |np AS (
       |  SELECT m.query_id,
       |    CAST(COALESCE(q.n_probed, m.mr) AS BIGINT) AS n_probed
       |  FROM maxr m LEFT JOIN nq q ON q.query_id = m.query_id),
       |ra_t AS (
       |  SELECT a.query_id, np.n_probed, a.vec_id, a.adc_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY a.query_id
       |      ORDER BY a.adc_ppm ASC, a.vec_id ASC) AS rank
       |  FROM adc_a a JOIN np ON np.query_id = a.query_id
       |  WHERE a.r <= np.n_probed)
       |SELECT query_id, n_probed, CAST(rank AS BIGINT) AS rank,
       |  vec_id, adc_ppm
       |FROM ra_t WHERE rank <= $TopK""".stripMargin
  })(adaptiveProbeRunner)

  private[graft] def adaptiveProbeRunner: (SparkSession, String) => DataFrame = {
    (s, d) =>
    import org.apache.spark.sql.GraftColumnBridge
    val codebook = trainCodebook(
      embeddings(s, d).filter(trainGate(col("vec_id"))))
    require(codebook.map(_._1) == (0 until codebook.size),
      "IVF-PQ codebook labels must be contiguous 0..k-1")
    def subCb(m: Int): Seq[(Int, Seq[Double])] =
      codebook.map { case (l, cv) =>
        (l, cv.slice((m - 1) * PqSubDim, m * PqSubDim)) }
    def subSlice(v: Column, m: Int): Column =
      slice(v, (m - 1) * PqSubDim + 1, PqSubDim)
    def subCode(v: Column, m: Int): Column = {
      val cb = subCb(m)
      element_at(GraftColumnBridge.column(graft.catalyst.IvfProbe(
        GraftColumnBridge.expression(subSlice(v, m)),
        cb.map(_._1).toArray, cb.map(_._2.toArray).toArray, 1)), 1)
    }
    val index = embeddings(s, d).select(col("vec_id"),
      nearestCentroid(s, codebook)(col("embedding")).cast(LongType)
        .as("cell"),
      array((1 to PqM).map(m => subCode(col("embedding"), m)): _*)
        .as("codes"))
    def qTab(v: Column): Column = array((1 to PqM).map { m =>
      array(subCb(m).map { case (_, cw) =>
        floor(graft.catalyst.GraftFunctions.l2sqDistance(
          subSlice(v, m), array(cw.map(lit): _*)) * 1000000 + 0.5)
          .cast(LongType)
      }: _*)
    }: _*)
    val queries = embeddings(s, d).filter(col("vec_id") < NumQueries)
    // probed cells WITH their rank (centroid-distance order)
    val probes = queries
      .select(col("vec_id").as("query_id"), qTab(col("embedding")).as("qtab"),
        posexplode(probeCentroids(s, codebook, AnnNProbeMax)(col("embedding"))))
      .select(col("query_id"), col("qtab"),
        (col("pos") + 1).cast(LongType).as("r"),
        col("col").cast(LongType).as("cell"))
    val cand = broadcast(probes.withColumnRenamed("cell", "pcell"))
      .join(index.alias("c"),
        col("pcell") === col("c.cell") && col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("r"), col("c.vec_id").as("vec_id"),
        (1 to PqM).map(m =>
            element_at(element_at(col("qtab"), m),
              (element_at(col("c.codes"), m) + 1).cast(IntegerType)))
          .reduce(_ + _).as("adc_ppm"))
      .localCheckpoint(true)
    // per-(query, cell) ADC lower bound from the PRESENT-CODE stats
    val qtabLong = queries.select(col("vec_id").as("query_id"),
        explode(array((1 to PqM).flatMap(m => subCb(m).map { case (l, cw) =>
          struct(lit(m).as("m"), lit(l.toLong).as("code"),
            floor(graft.catalyst.GraftFunctions.l2sqDistance(
              subSlice(col("embedding"), m), array(cw.map(lit): _*))
              * 1000000 + 0.5).cast(LongType).as("dppm"))
        }): _*)).as("e"))
      .select(col("query_id"), col("e.m").as("m"), col("e.code").as("code"),
        col("e.dppm").as("dppm"))
    val cellm = index
      .select(col("cell"), posexplode(col("codes")))
      .select(col("cell"), (col("pos") + 1).as("m"),
        col("col").cast(LongType).as("code"))
      .distinct()
    val mnm = cellm.join(qtabLong, Seq("m", "code"))
      .groupBy("query_id", "cell", "m").agg(min("dppm").as("mn"))
    val bnd = probes.select("query_id", "r", "cell")
      .join(mnm, Seq("query_id", "cell"))
      .groupBy("query_id", "r").agg(sum("mn").cast(LongType).as("b"))
    val wAfter = Window.partitionBy("query_id").orderBy("r")
      .rowsBetween(1, Window.unboundedFollowing)
    val bndA = probes.select("query_id", "r")
      .join(bnd, Seq("query_id", "r"), "left")
      .withColumn("min_after", min("b").over(wAfter))
    // prefix stats: each candidate contributes to every prefix ≥ its
    // cell's rank (AnnNProbeMax is a small constant — bounded explode)
    val wp = Window.partitionBy("query_id", "n")
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    val prefS = cand
      .select(col("query_id"), col("vec_id"), col("adc_ppm"),
        explode(sequence(col("r"), lit(AnnNProbeMax.toLong))).as("n"))
      .withColumn("rn", row_number().over(wp))
      .groupBy("query_id", "n")
      .agg(max(when(col("rn") <= TopK, col("adc_ppm"))).as("kth"),
        count(lit(1)).as("cnt"))
    val okn = prefS
      .join(bndA.select(col("query_id"), col("r").as("n"), col("min_after")),
        Seq("query_id", "n"), "left")
      .filter((col("cnt") >= TopK &&
        (col("min_after").isNull || col("kth") < col("min_after"))) ||
        col("cnt") >= AnnCandidateTarget)
    val nq = okn.groupBy("query_id").agg(min("n").as("np"))
    val nprobed = probes.groupBy("query_id").agg(max("r").as("mr"))
      .join(nq, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("np"), col("mr")).cast(LongType).as("n_probed"))
    // tuned result: only cells within the tuned budget are read; the
    // bound proof makes this EQUAL to the full-budget top-k, which is
    // what the oracle ranks
    val wa = Window.partitionBy("query_id")
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    cand.join(nprobed, Seq("query_id"))
      .filter(col("r") <= col("n_probed"))
      .select(col("query_id"), col("n_probed"), col("vec_id"),
        col("adc_ppm"), row_number().over(wa).as("rank"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("n_probed"),
        col("rank").cast(LongType).as("rank"), col("vec_id"),
        col("adc_ppm"))
  }

  // =============== INCREMENTAL INDEX MAINTENANCE (r16 verdict task 5):
  // the 100 TB operational shape — a corpus version does not rebuild
  // the index; new vectors are ASSIGNED to existing cells under the
  // FROZEN codebook (FAISS `add`), per-cell counts are tracked in the
  // table properties, and a cell past the split threshold is re-split
  // from its PQ-reconstructed members ([[annSplitCell]] — index-only,
  // the corpus is never re-read).
  //
  // q227 gates the upsert algebra: the corpus splits into BASE
  // (everything else) and BATCH (vec_id % 5 == 3, excluding query
  // rows); training sees only base rows, the base index builds first,
  // then the batch UPSERTS (map-only encode + cell-keyed append +
  // delta-sized count merge). Because the codebook is frozen, (build +
  // upsert) is row-identical to a from-scratch rebuild over the full
  // corpus with the same training slice — so the gate runs the SAME
  // search at the SAME probe budget and hash-matches the oracle's
  // from-scratch rebuild. AnnUpsertSpec additionally pins (a) the
  // upserted table == one-shot encode of the full corpus, (b) count
  // tracking, (c) post-split search parity.
  private[ml] def upsertGate(vecId: Column): Column =
    vecId % 5 === 3 && vecId >= NumQueries
  private def oUpsertGate: String =
    s"(vec_id % 5 = 3 AND vec_id >= $NumQueries)"

  val CellCountsProp = "graft.cellcounts"

  private[ml] def encodeCellCounts(m: Map[Long, Long]): String =
    m.toSeq.sorted.map { case (c, n) => s"$c:$n" }.mkString(";")
  private[ml] def decodeCellCounts(s: String): Map[Long, Long] =
    if (s == null || s.isEmpty) Map.empty
    else s.split(";").map { e =>
      val Array(c, n) = e.split(":", 2); (c.toLong, n.toLong)
    }.toMap

  /** Current per-cell counts of a persisted index (from the table
    * property; empty map when never written). */
  def cellCounts(iso: SparkSession, ident: String): Map[Long, Long] = {
    val props = iso.sql(s"SHOW TBLPROPERTIES $ident").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    decodeCellCounts(props.getOrElse(CellCountsProp, ""))
  }

  /** Merge a DELTA of per-cell counts into the property (bounded by
    * the coarse-list size — a driver sync by construction, same class
    * as the codebook itself). */
  private def mergeCellCounts(iso: SparkSession, ident: String,
      delta: Map[Long, Long]): Unit = {
    val merged = (cellCounts(iso, ident).toSeq ++ delta.toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0L)
    require(merged.size <= MaxCodebookHard,
      s"cell-count property would exceed $MaxCodebookHard cells")
    iso.sql(s"ALTER TABLE $ident SET TBLPROPERTIES " +
      s"('$CellCountsProp'='${encodeCellCounts(merged)}')")
  }

  /** UPSERT one batch of (vec_id, embedding) rows into a persisted
    * index: map-only encode under the index's FROZEN codebook, append
    * (lands in the right cell files via the clustered sink), and a
    * delta-sized per-cell count merge. Returns the batch's per-cell
    * counts. */
  def annUpsertBatch(iso: SparkSession, ident: String,
      codebook: Seq[(Int, Seq[Double])], batch: DataFrame)
      : Map[Long, Long] = {
    val enc = encodeIvfpq(iso, batch, codebook)
    enc.writeTo(ident).append()
    val counts = enc.groupBy("cell").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    mergeCellCounts(iso, ident, counts)
    counts
  }

  /** Build-or-load the q227 upsert-maintained index: base build under
    * a training slice that never sees batch rows, then the batch
    * upserts. Content-addressed like [[annIndex]] (suffix `up`). */
  private[ml] def annUpsertIndex(s: SparkSession, d: String)
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val iso = annSession(s)
    val ident = s"$AnnCat.g.ivfpq_up_${embFingerprint(d)}"
    annLock.synchronized {
      val cached = annBuilt.get(ident)
      if (cached != null) (iso.table(ident), cached)
      else if (reloadPersisted(iso, ident).isDefined)
        (iso.table(ident), annBuilt.get(ident))
      else {
        annBuilds.incrementAndGet()
        val codebook = trainCodebook(embeddings(iso, d)
          .filter(trainGate(col("vec_id")) && !upsertGate(col("vec_id"))))
        createIndexTable(iso, ident, codebook)
        val base = encodeIvfpq(iso,
          embeddings(iso, d).filter(!upsertGate(col("vec_id"))), codebook)
        base.writeTo(ident).append()
        mergeCellCounts(iso, ident, base.groupBy("cell").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        annUpsertBatch(iso, ident, codebook,
          embeddings(iso, d).filter(upsertGate(col("vec_id"))))
        annBuilt.put(ident, codebook)
        (iso.table(ident), codebook)
      }
    }
  }

  /** Maximum rows a hot cell may hold before [[annSplitCell]] refuses
    * the driver-side 2-means sample collect (loud, never an OOM). */
  val MaxCellSplitRows = 262144

  /** Re-split one hot cell into two children from its PQ-RECONSTRUCTED
    * members (index-only — the corpus is never re-read; this is the
    * residual-free analogue of FAISS's re-train-on-add policies).
    * Rows keep their packed codes — only the cell KEY changes — so
    * probing BOTH children is candidate-identical to probing the
    * parent (AnnUpsertSpec pins it). Children get fresh cell ids past
    * every existing cell; the updated coarse list (parent removed,
    * children appended) is returned for the caller's probe routing and
    * persisted under `graft.coarse.<cell>`. Cluster shape: the split
    * itself is a bounded driver 2-means on ≤ [[MaxCellSplitRows]]
    * reconstructed members; the table rewrite is the clustered sink's
    * overwrite-by-filter on the one cell file. */
  def annSplitCell(iso: SparkSession, ident: String, cell: Long,
      codebook: Seq[(Int, Seq[Double])],
      coarse: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    def subCb(m: Int): Seq[Seq[Double]] =
      codebook.map(_._2.slice((m - 1) * PqSubDim, m * PqSubDim))
    val rows = iso.table(ident).filter(col("cell") === cell)
      .select("vec_id", "packed").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(rows.length <= MaxCellSplitRows,
      s"cell $cell has ${rows.length} rows > $MaxCellSplitRows; " +
        "split must run as a distributed job at this size")
    require(rows.length >= 2, s"cell $cell has <2 rows; nothing to split")
    def recon(packed: Long): Array[Double] =
      (1 to PqM).flatMap { m =>
        subCb(m)(((packed >> (8 * (m - 1))) & 255L).toInt)
      }.toArray
    val recs = rows.map { case (id, p) => (id, recon(p)) }.sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // deterministic 2-means: seed with the lowest vec_id's member and
    // the member farthest from it, 5 Lloyd rounds, (dist, vec_id)
    // tie-break
    var c0 = recs.head._2
    var c1 = recs.maxBy(r => (d2(r._2, c0), r._1))._2
    var assign: Array[Int] = null
    (1 to 5).foreach { _ =>
      assign = recs.map { case (_, v) =>
        if (d2(v, c0) <= d2(v, c1)) 0 else 1 }
      def mean(k: Int): Array[Double] = {
        val m = recs.zip(assign).filter(_._2 == k).map(_._1._2)
        if (m.isEmpty) (if (k == 0) c0 else c1)
        else {
          val out = new Array[Double](m.head.length)
          m.foreach(v => (0 until v.length).foreach(i => out(i) += v(i)))
          out.map(_ / m.length)
        }
      }
      c0 = mean(0); c1 = mean(1)
    }
    val maxCell = (coarse.map(_._1) ++ cellCounts(iso, ident).keys).max
    val (id0, id1) = (maxCell + 1, maxCell + 2)
    val moved = recs.zip(assign).map { case ((vid, _), a) =>
      (vid, if (a == 0) id0 else id1) }.toMap
    import iso.implicits._
    val rewritten = rows.toSeq
      .map { case (vid, p) => (vid, moved(vid), p) }
      .toDF("vec_id", "cell", "packed")
    rewritten.writeTo(ident).overwrite(col("cell") === cell)
    val n0 = moved.values.count(_ == id0).toLong
    mergeCellCounts(iso, ident, Map(cell -> -rows.length.toLong,
      id0 -> n0, id1 -> (rows.length - n0)))
    iso.sql(s"ALTER TABLE $ident SET TBLPROPERTIES " +
      s"('graft.coarse.$cell'='${encodeCodebook(
        Seq((id0.toInt, c0.toSeq), (id1.toInt, c1.toSeq)))}')")
    coarse.filterNot(_._1 == cell) ++
      Seq((id0, c0.toSeq), (id1, c1.toSeq))
  }

  register("q227_incremental_ivfpq",
    oIvfpqSearchSqlWith(s"($oTrainGate) AND NOT $oUpsertGate")) { (s, d) =>
    val (index, codebook) = annUpsertIndex(s, d)
    ivfpqSearchGate(index, codebook, d)
  }

  // ======================= PROBE-ONLY SEARCH GATE (r14 verdict task 3)
  // q215's gate still recomputes the exact-L2 audit per run — correct
  // for a self-contained oracle, but the audit dominates its soak cost
  // (mv-50×: 2.18 s, almost all exact scan). A production deployment
  // computes the ground-truth ONCE (offline, next to the index) and the
  // serving path is PROBE-ONLY: cell-key SPJ against the persisted
  // index, ADC, top-k, recall join against the tiny precomputed truth
  // table. q217 is that path under the oracle gate:
  //
  //   - the exact top-k is computed once per (dataset, JVM) and cached
  //     content-addressed beside the index (NumQueries × TopK = 50 rows
  //     — a hard-bounded driver sync by construction);
  //   - the gated query never scans raw embeddings beyond the ≤
  //     NumQueries probe rows: index scan (packed codes) + probe
  //     shuffle + candidate ranking + a broadcast join of two ≤ 50-row
  //     frames (the q156 recall-gate shape);
  //   - the DuckDB twin recomputes BOTH sides from scratch, so the
  //     cached truth table is itself under the gate — a stale or wrong
  //     cache breaks the hash.
  private val annExactBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Long)]]()

  private[ml] def encodeTruth(t: Array[(Long, Long)]): String =
    t.map { case (q, v) => s"$q:$v" }.mkString(";")
  private[ml] def decodeTruth(s: String): Array[(Long, Long)] =
    s.split(";").map { e =>
      val Array(q, v) = e.split(":", 2)
      (q.toLong, v.toLong)
    }

  /** Exact-L2 top-k ground truth for dataset `d` — (query_id, vec_id)
    * pairs, built once per (dataset fingerprint, JVM) and PERSISTED as
    * the `graft.ann.truth` property on the index table: a fresh
    * process against a durable warehouse reloads the truth beside the
    * index and codebook, so its q217 serving path never scans the
    * corpus at all. Bounded driver sync either way: NumQueries × TopK
    * rows by construction. */
  def annExactTopk(iso: SparkSession, d: String): Seq[(Long, Long)] =
    annLock.synchronized {
      val fp = embFingerprint(d)
      val cached = annExactBuilt.get(fp)
      if (cached != null) return cached.toSeq
      val ident = s"$AnnCat.g.ivfpq_$fp"
      val fromProp: Option[Array[(Long, Long)]] = scala.util.Try {
        iso.sql(s"SHOW TBLPROPERTIES $ident").collect()
          .find(_.getString(0) == "graft.ann.truth").map(_.getString(1))
      }.toOption.flatten.map(decodeTruth)
      val truth = fromProp.getOrElse {
        val qv = embeddings(iso, d).filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val exact = broadcast(qv)
          .join(embeddings(iso, d).alias("e"),
            col("query_id") =!= col("e.vec_id"))
          .select(col("query_id"), col("e.vec_id").as("vec_id"),
            graft.catalyst.GraftFunctions
              .l2sqDistance(col("qv"), col("e.embedding")).as("d"))
        val we = Window.partitionBy(col("query_id"))
          .orderBy(col("d").asc, col("vec_id").asc)
        val computed = exact.select(col("query_id"), col("vec_id"),
            row_number().over(we).as("erank"))
          .filter(col("erank") <= TopK)
          .select(col("query_id").cast(LongType),
            col("vec_id").cast(LongType))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        // best-effort: the index table may not exist yet when truth is
        // computed standalone — the JVM cache still covers that run
        scala.util.Try(iso.sql(s"ALTER TABLE $ident SET TBLPROPERTIES " +
          s"('graft.ann.truth'='${encodeTruth(computed)}')"))
        computed
      }
      annExactBuilt.put(fp, truth)
      truth.toSeq
    }

  register("q217_ann_probe_recall",
    s"""WITH $oIvfpqCtes,
       |a_top AS (SELECT query_id, vec_id FROM ra WHERE rank <= $TopK),
       |e_top AS (SELECT query_id, vec_id FROM re WHERE erank <= $TopK)
       |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*) AS recall
       |FROM e_top e LEFT JOIN a_top a
       |  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
       |GROUP BY e.query_id""".stripMargin) { (s, d) =>
    val (index, codebook) = annIndex(s, d)
    val iso = index.sparkSession
    val truth = annExactTopk(iso, d)
    val probes = annProbes(iso, d, codebook)
    val cand = annCandidates(index, probes)
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_ppm").asc, col("vec_id").asc)
    val atop = cand.select(col("query_id"), col("vec_id"),
        row_number().over(wa).as("rank"))
      .filter(col("rank") <= TopK)
      .select(col("query_id").as("aq"), col("vec_id").cast(LongType).as("av"))
    import iso.implicits._
    val truthDf = truth.toDF("query_id", "vec_id")
    truthDf.join(broadcast(atop),
        col("query_id") === col("aq") && col("vec_id") === col("av"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("av").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_exact")).as("recall"))
  }
}
