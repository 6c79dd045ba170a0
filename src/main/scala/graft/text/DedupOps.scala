package graft.text

import graft.ops.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators over the `documents` table: exact (content
  * hash), MinHash+LSH near-dup (shingle → minhash → band → bucket join →
  * verify), SimHash, and n-gram Jaccard similarity.
  *
  * Scale design:
  *  - MinHash signatures are computed per-row with array lambdas (no
  *    explode, no shuffle) — at 100 TB this is a map-only pass;
  *  - candidate generation shuffles only (band_key → doc ids), never the
  *    full text; the verify join re-reads just the candidate pairs;
  *  - SimHash uses explode + partial-aggregated bit counts (map-side
  *    combine keeps the shuffle at one record per doc per partition).
  */
object DedupOps extends QueryModule {
  import Tables.documents
  import PortableHash._
  import TextOps.{tokens, oTokens}

  val NumHashes = 8      // minhash signature length
  val Bands = 4          // LSH bands (rows per band = NumHashes / Bands)
  val JaccardThreshold = 0.8
  val SimHashBits = 16
  val MaxBucketSize = 64 // LSH skew guard: drop hotter buckets (see lshPairs)

  /** Distinct word 3-grams ("shingles") of a document — Spark side. */
  def shingles(text: Column): Column = {
    val t = tokens(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(t) - 2, lit(0))),
      i => concat_ws(" ", slice(t, i, lit(3)))))
  }

  /** MinHash prime modulus (2^31 - 1): keeps the affine products inside
    * int64 in both engines. */
  val P = 2147483647L

  /** Seeded affine coefficients for the hash family h_j(x) = (a_j x + b_j)
    * mod P — one real (md5) hash per shingle, then j cheap integer
    * derivations, instead of j md5 calls per shingle. */
  val coeffs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(NumHashes)((1L + rnd.nextInt(Int.MaxValue - 1),
      rnd.nextInt(Int.MaxValue).toLong))
  }

  // Horner coefficients for combining three token hashes into one shingle
  // hash — primes < 2^20 so every intermediate product stays < 2^51
  private val A1 = 1000003L
  private val A2 = 999983L

  /** Shingle set as distinct int hashes — the working representation for
    * signatures AND Jaccard verification (8-byte elements shuffle and
    * intersect far cheaper than strings; the oracle computes identically
    * so the negligible collision probability cancels out).
    *
    * Implemented as the native Catalyst expression
    * [[graft.catalyst.ShingleHash]] (codegen-integrated, no encoder
    * round-trip): the expensive md5 runs once per DISTINCT token via a
    * per-row memo, each 3-gram hash is a Horner combination mod P. The
    * equivalent nested `transform(...)` lambdas would re-hash the
    * vocabulary once per token — Catalyst performs no CSE inside lambda
    * bodies. Map-side, no shuffle.
    */
  def shingleHashes(text: Column): Column =
    graft.catalyst.GraftFunctions.shingleHashes(tokens(text))
  val oShingleHashes: String =
    s"""list_distinct(list_transform(
       |      range(1, greatest(len(th) - 2, 0) + 1),
       |      i -> ((th[i] * $A1 + th[i+1]) % $P * $A2 + th[i+2]) % $P))""".stripMargin
  /** CTE prefix producing per-position token hashes `th` for
    * [[oShingleHashes]]: md5 once per distinct word, looked up per
    * position. */
  val oTokenHashCte: String =
    s"""toks AS (SELECT doc_id, $oTokens AS t FROM documents),
       |th_t AS (SELECT doc_id, t, list_transform(list_distinct(t),
       |           w -> ${oHash60("w")} % $P) AS wh,
       |         list_distinct(t) AS words FROM toks),
       |th_t2 AS (SELECT doc_id, list_transform(t,
       |           w -> wh[list_position(words, w)]) AS th FROM th_t)""".stripMargin

  /** MinHash signature value j over hashed shingles. */
  def minhash(shl: Column, j: Int): Column = {
    val (a, b) = coeffs(j)
    array_min(transform(shl, h => (lit(a) * h + lit(b)) % P))
  }
  def oMinhash(j: Int): String = {
    val (a, b) = coeffs(j)
    s"list_min(list_transform(shl, h -> ($a * h + $b) % $P))"
  }

  // ============================================================ exact dedup
  // hash-groupBy on the content fingerprint: canonical doc + group size.
  // At scale this is one shuffle keyed by a 32-byte hash, not the text.
  register("q23_dedup_exact",
    """WITH fp AS (
      |  SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
      |  FROM documents)
      |SELECT fingerprint, min(doc_id) AS canonical_doc_id,
      |  COUNT(*) AS group_size, COUNT(*) - 1 AS duplicates_removed
      |FROM fp GROUP BY fingerprint""".stripMargin) { (s, d) =>
    documents(s, d)
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
          .as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("group_size"),
        (count(lit(1)) - 1).as("duplicates_removed"))
  }

  // ============================================================ minhash sigs
  register("q24_minhash_signatures", {
    val sigs = (0 until NumHashes).map(j => s"${oMinhash(j)} AS sig_$j")
    s"""WITH $oTokenHashCte,
       |sh AS (SELECT doc_id, $oShingleHashes AS shl FROM th_t2)
       |SELECT doc_id, ${sigs.mkString(", ")} FROM sh""".stripMargin
  }) { (s, d) =>
    val withSh = documents(s, d).select(col("doc_id"),
      shingleHashes(col("text")).as("shl"))
    withSh.select(col("doc_id") +:
      (0 until NumHashes).map(j => minhash(col("shl"), j).as(s"sig_$j")): _*)
  }

  /** Shared candidate-pair pipeline: signature → bands → bucket join →
    * distinct pairs → exact Jaccard verify. Returns (doc_a, doc_b, jaccard).
    */
  def lshPairs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"),
      shingleHashes(col("text")).as("sh"))
    val rowsPerBand = NumHashes / Bands
    // candidate generation shuffles ONLY (doc_id, band, band_key) — at
    // corpus scale the shingle sets never enter this join
    val banded = docs.select(col("doc_id"),
      array((0 until NumHashes).map(j => minhash(col("sh"), j)): _*).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    // skew guard: a bucket of n docs yields n(n-1)/2 candidates, so one
    // hot bucket (boilerplate/duplicate-heavy corpora) goes quadratic.
    // Buckets past the cap are dropped here — exact dedup (q23) is the
    // intended earlier pass for mass duplicates.
    val capped = banded.alias("bd")
      .join(banded.groupBy("band", "band_key")
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= MaxBucketSize)
        .select(col("band").as("cband"), col("band_key").as("cband_key")),
        col("bd.band") === col("cband") && col("bd.band_key") === col("cband_key"))
      .select(col("bd.doc_id").as("doc_id"), col("bd.band").as("band"),
        col("bd.band_key").as("band_key"))
    val pairs = capped.alias("a")
      .join(capped.alias("b"), col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify: fetch the two shingle sets per surviving pair only
    val jaccard = size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
      size(array_union(col("sa"), col("sb")))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** The full LSH CTE chain (tokens → shingle hashes → signatures →
    * capped buckets → candidate pairs → Jaccard-verified pairs) — shared
    * by q25 and the corpus-cleaning pipeline q39. */
  def oLshCtes: String = {
    val rowsPerBand = NumHashes / Bands
    val sigList = (0 until NumHashes).map(oMinhash).mkString(", ")
    s"""$oTokenHashCte,
       |sh AS (SELECT doc_id, $oShingleHashes AS shl FROM th_t2),
       |sigs AS (SELECT doc_id, [$sigList] AS sig FROM sh),
       |banded AS (
       |  SELECT doc_id, b.band, sig[b.band * $rowsPerBand + 1 : b.band * $rowsPerBand + $rowsPerBand] AS band_key
       |  FROM sigs, (SELECT unnest(range(0, $Bands)) AS band) b),
       |capped AS (
       |  SELECT bd.* FROM banded bd
       |  JOIN (SELECT band, band_key FROM banded GROUP BY band, band_key
       |        HAVING COUNT(*) <= $MaxBucketSize) ok
       |    ON bd.band = ok.band AND bd.band_key = ok.band_key),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.shl, sb.shl)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.shl, sb.shl))) AS jaccard
       |  FROM pairs JOIN sh sa ON pairs.doc_a = sa.doc_id
       |             JOIN sh sb ON pairs.doc_b = sb.doc_id),
       |near_dups AS (
       |  SELECT doc_a, doc_b, jaccard FROM verified
       |  WHERE jaccard >= $JaccardThreshold)""".stripMargin
  }

  // ============================================================ LSH near-dup
  register("q25_lsh_near_duplicates",
    s"""WITH $oLshCtes
       |SELECT doc_a, doc_b, jaccard FROM near_dups""".stripMargin)(lshPairs _)

  // ============================================================ simhash
  // 16-bit SimHash: per-token hash bits, majority vote per bit position.
  register("q26_simhash", {
    val bitSums = (0 until SimHashBits).map(b =>
      s"CAST(SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_$b")
    val assemble = (0 until SimHashBits).map(b =>
      s"CASE WHEN bit_$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($oTokens) AS w FROM documents),
       |hashed AS (SELECT doc_id, ${oHash60("w")} AS h FROM tok),
       |bits AS (SELECT doc_id, ${bitSums.mkString(", ")} FROM hashed GROUP BY doc_id)
       |SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bits""".stripMargin
  }) { (s, d) =>
    val tok = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), hash60(col("w")).as("h"))
    val bitSums = (0 until SimHashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"bit_$b"))
    val bits = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val assembled = (0 until SimHashBits).map(b =>
      when(col(s"bit_$b") > 0, 1L << b).otherwise(0L)).reduce(_ + _)
    bits.select(col("doc_id"), assembled.cast(LongType).as("simhash"))
  }

  // ============================================================ n-gram jaccard
  // pairwise trigram Jaccard on a deterministic candidate set (adjacent
  // doc ids) — the verify primitive of the LSH pipeline, isolated.
  register("q27_ngram_jaccard",
    s"""WITH $oTokenHashCte,
       |sh AS (SELECT doc_id, $oShingleHashes AS shl FROM th_t2)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.shl, b.shl)) AS DOUBLE)
       |    / len(list_distinct(list_concat(a.shl, b.shl))) AS jaccard
       |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""".stripMargin) { (s, d) =>
    val sh = documents(s, d).select(col("doc_id"),
      shingleHashes(col("text")).as("sh"))
    val a = sh.alias("a")
    val b = sh.alias("b")
    a.join(b, col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast(DoubleType) /
          size(array_union(col("a.sh"), col("b.sh")))).as("jaccard"))
  }

  // ============================================================ capstone
  // the end-to-end corpus-cleaning pipeline a training-data run performs:
  // quality gate → exact dedup (keep canonical) → LSH near-dup removal
  // (anti-join on verified pairs). Output = the surviving clean corpus.
  register("q39_clean_corpus",
    s"""WITH $oLshCtes,
       |stats AS (
       |  SELECT doc_id, lang,
       |    len($oTokens) AS n_tokens,
       |    CAST(len(list_distinct($oTokens)) AS DOUBLE) / len($oTokens) AS unique_ratio,
       |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
       |  FROM documents),
       |quality AS (
       |  SELECT * FROM stats
       |  WHERE n_tokens BETWEEN 20 AND 10000 AND unique_ratio > 0.1),
       |canonical AS (
       |  SELECT fingerprint, min(doc_id) AS keep_id FROM quality GROUP BY fingerprint),
       |exact_kept AS (
       |  SELECT q.* FROM quality q
       |  JOIN canonical c ON q.fingerprint = c.fingerprint AND q.doc_id = c.keep_id)
       |SELECT doc_id, lang, n_tokens, unique_ratio FROM exact_kept
       |WHERE doc_id NOT IN (SELECT doc_b FROM near_dups)""".stripMargin) { (s, d) =>
    val t = tokens(col("text"))
    val stats = documents(s, d).select(col("doc_id"), col("lang"),
      size(t).as("n_tokens"),
      (size(array_distinct(t)).cast(DoubleType) / size(t)).as("unique_ratio"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
        .as("fingerprint"))
    val quality = stats.filter(col("n_tokens").between(20, 10000) &&
      col("unique_ratio") > 0.1)
    val canonical = quality.groupBy(col("fingerprint").as("fp"))
      .agg(min(col("doc_id")).as("keep_id"))
    val exactKept = quality.join(canonical,
      col("fingerprint") === col("fp") && col("doc_id") === col("keep_id"))
    val nearDupLosers = lshPairs(s, d).select(col("doc_b").as("doc_id")).distinct()
    exactKept.join(nearDupLosers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_tokens", "unique_ratio")
  }

  // ==================================================== repeated passages
  // Passage-level (sub-document) duplication census — the ExactSubstr-
  // style step that document-level dedup misses: boilerplate and quoted
  // passages repeat across otherwise-distinct documents. Every SpanW-token
  // sliding window is fingerprinted; a span is a duplicate if the same
  // span text occurred earlier in corpus order (doc_id, then start
  // position). Per document: span count, duplicated-span count, and the
  // duplication ratio on the exact 1e6 grid.
  //
  // Scale shape: spans shuffle ONCE, keyed by md5(span) — a fixed-width
  // 32-char key, never the span text itself — for the first-occurrence
  // window; the census is a second (partial-aggregated) shuffle on
  // doc_id. Both partition cleanly at 100 TB; no driver state.
  val SpanW = 8
  register("q105_repeated_spans",
    s"""WITH tok AS (SELECT doc_id, $oTokens AS t FROM documents),
       |spans AS (
       |  SELECT doc_id,
       |    md5(array_to_string(t[s.s : s.s + ${SpanW - 1}], ' ')) AS span_key,
       |    doc_id * 100000 + s.s AS pos_key
       |  FROM tok, LATERAL (
       |    SELECT unnest(range(1, greatest(len(t) - ${SpanW - 1}, 1) + 1)) AS s) s),
       |flagged AS (
       |  SELECT doc_id, pos_key,
       |    MIN(pos_key) OVER (PARTITION BY span_key) AS first_key
       |  FROM spans)
       |SELECT doc_id, COUNT(*) AS n_spans,
       |  CAST(SUM(CASE WHEN pos_key > first_key THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  CAST(FLOOR(CAST(SUM(CASE WHEN pos_key > first_key THEN 1 ELSE 0 END) AS DOUBLE)
       |    * 1000000 / COUNT(*)) AS BIGINT) AS dup_ratio_grid
       |FROM flagged GROUP BY doc_id""".stripMargin) { (s, d) =>
    val t = col("t")
    val spans = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), t,
        // clamp to ≥1 so short docs yield one (truncated) span — Spark's
        // sequence(1, 0) would DESCEND while DuckDB range(1, 1) is empty
        explode(sequence(lit(1), greatest(size(t) - (SpanW - 1), lit(1))))
          .as("start"))
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(t, col("start"), lit(SpanW)))).as("span_key"),
        (col("doc_id") * 100000 + col("start")).as("pos_key"))
    val flagged = spans.select(col("doc_id"), col("pos_key"),
      min(col("pos_key")).over(Window.partitionBy(col("span_key")))
        .as("first_key"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("pos_key") > col("first_key"), 1).otherwise(0))
          .as("n_dup_spans"),
        floor(sum(when(col("pos_key") > col("first_key"), 1).otherwise(0))
          .cast(DoubleType) * 1000000 / count(lit(1))).cast(LongType)
          .as("dup_ratio_grid"))
  }

  // ====================================== exact cross-document substring dedup
  // The standard exact-dedup pass of public training-data pipelines
  // (character-level repeated-span removal ACROSS documents — the gap
  // q105's token windows and the MinHash family leave open): a span of
  // SpanL characters is a cross-document duplicate iff its exact text
  // occurs in >= 2 distinct documents. Per document we report the
  // duplicated window positions, the distinct duplicated span texts,
  // and the characters an exact-substring dedup would remove (the
  // interval UNION of the duplicated windows, via the lag-capped-gap
  // identity: a window adds min(pos - prev_pos, SpanL) new characters).
  //
  // Scale shape (the r16-verdict "bucketed rolling hash" formulation):
  //   1. one O(n)-per-doc Rabin-Karp kernel (native codegen expression
  //      [[graft.catalyst.RollingSpanHash]]) emits (doc_id, pos, h) —
  //      the shuffle representation is 8 bytes per position, NEVER the
  //      span text (a span-text shuffle would be a SpanL× amplification
  //      of the corpus);
  //   2. candidate hashes (>= 2 distinct docs) come out of a
  //      hash-partitioned aggregate — the "bucket" IS the shuffle
  //      partition, bounded by construction;
  //   3. only candidate POSITIONS (11,581 of 129,674 at sf0.01) re-join
  //      their document text, re-materialize the actual substring, and
  //      get verified by exact text equality — hash collisions are
  //      filtered here, so the mod-2^64 hash needs no guarantees;
  //   4. the per-doc rollup shuffles candidates once more on doc_id.
  //   Never all-pairs; no driver state.
  val SpanL = 40
  register("q226_substring_dedup",
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |spans AS (
       |  SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
       |    substr(text, CAST(s.i AS INTEGER), $SpanL) AS sp
       |  FROM d, LATERAL (SELECT unnest(range(1,
       |    greatest(length(text) - ${SpanL - 1}, 0) + 1)) AS i) s),
       |dup AS (SELECT sp FROM spans GROUP BY sp
       |        HAVING COUNT(DISTINCT doc_id) >= 2),
       |dpos AS (
       |  SELECT doc_id, pos, sp,
       |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM spans JOIN dup USING (sp))
       |SELECT doc_id,
       |  COUNT(*) AS n_dup_positions,
       |  CAST(COUNT(DISTINCT sp) AS BIGINT) AS n_dup_spans,
       |  CAST(SUM(CASE WHEN prev IS NULL THEN $SpanL
       |       ELSE LEAST(pos - prev, $SpanL) END) AS BIGINT)
       |    AS dup_chars_removed
       |FROM dpos GROUP BY doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val spans = docs
      .select(col("doc_id"), posexplode(
        graft.catalyst.GraftFunctions.rollingSpanHashes(col("text"), SpanL)))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("h"))
    // candidate hashes: >= 2 distinct docs (hash-partitioned agg).
    // ">= 2 distinct" is computed as min(doc) != max(doc) — one plain
    // aggregation pass instead of countDistinct's two-level distinct
    // expand (same predicate: 2+ distinct values ⟺ min < max)
    val cand = spans.groupBy("h")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("h")
    // only candidates re-join their text and re-materialize the span
    val withTxt = spans.join(cand, "h")
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos").cast(IntegerType), lit(SpanL))
          .as("sp"))
    // verify by EXACT TEXT equality — drops hash collisions
    val verified = withTxt.groupBy("sp")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("sp")
    val dupPos = withTxt.join(verified, "sp")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos.select(col("doc_id"), col("pos"), col("sp"),
        lag(col("pos"), 1).over(w).as("prev"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_positions"),
        countDistinct(col("sp")).as("n_dup_spans"),
        sum(when(col("prev").isNull, SpanL)
          .otherwise(least(col("pos") - col("prev"), lit(SpanL))))
          .cast(LongType).as("dup_chars_removed"))
  }

  // ============================== incremental cross-doc substring dedup
  // q226's exact pass in its OPERATIONAL shape (the q151 pattern): a
  // batch of NEW documents (doc_id % 4 == 1) checks against the
  // HISTORY'S span index instead of re-deduping the whole corpus —
  // per new doc: positions whose exact 40-char span already occurs
  // anywhere in history, distinct matched spans, and the removal
  // coverage an ingest-time exact-dedup would apply.
  //
  // Scale shape: history×history is NEVER joined. Candidate hashes are
  // the INTERSECTION of the two sides' hash sets (8-byte keys both
  // ways); only candidate positions materialize text, and the history
  // side collapses to one witness per DISTINCT (hash, span text) —
  // boilerplate that occurs a million times in history contributes ONE
  // row to the verify join, so hot spans cannot quadratic the probe.
  register("q233_incremental_substring_dedup",
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |spans AS (
       |  SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
       |    substr(text, CAST(s.i AS INTEGER), $SpanL) AS sp
       |  FROM d, LATERAL (SELECT unnest(range(1,
       |    greatest(length(text) - ${SpanL - 1}, 0) + 1)) AS i) s),
       |hist AS (SELECT DISTINCT sp FROM spans WHERE doc_id % 4 <> 1),
       |newpos AS (
       |  SELECT doc_id, pos, sp FROM spans WHERE doc_id % 4 = 1),
       |dpos AS (
       |  SELECT doc_id, pos, sp,
       |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM newpos JOIN hist USING (sp))
       |SELECT doc_id,
       |  COUNT(*) AS n_dup_positions,
       |  CAST(COUNT(DISTINCT sp) AS BIGINT) AS n_dup_spans,
       |  CAST(SUM(CASE WHEN prev IS NULL THEN $SpanL
       |       ELSE LEAST(pos - prev, $SpanL) END) AS BIGINT)
       |    AS dup_chars_removed
       |FROM dpos GROUP BY doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    def spansOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), posexplode(
        graft.catalyst.GraftFunctions.rollingSpanHashes(col("text"), SpanL)))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("h"))
    val hist = docs.filter(col("doc_id") % 4 =!= 1)
    val batch = docs.filter(col("doc_id") % 4 === 1)
    val histSpans = spansOf(hist)
    val newSpans = spansOf(batch)
    // candidate hashes: present on BOTH sides (8-byte keys only)
    val candH = histSpans.select("h").distinct()
      .join(newSpans.select("h").distinct(), "h")
    // one history WITNESS per distinct (hash, span text) — candidates
    // only materialize text here
    val histCand = histSpans.join(candH, "h")
      .join(hist, Seq("doc_id"))
      .select(col("h"),
        col("text").substr(col("pos").cast(IntegerType), lit(SpanL))
          .as("sp"))
      .distinct()
    val newCand = newSpans.join(candH, "h")
      .join(batch, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("h"),
        col("text").substr(col("pos").cast(IntegerType), lit(SpanL))
          .as("sp"))
    // exact-text verification; witness distinctness keeps (doc, pos)
    // unique in the output of the join
    val matched = newCand.join(histCand, Seq("h", "sp"))
      .select(col("doc_id"), col("pos"), col("sp"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    matched.select(col("doc_id"), col("pos"), col("sp"),
        lag(col("pos"), 1).over(w).as("prev"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_positions"),
        countDistinct(col("sp")).as("n_dup_spans"),
        sum(when(col("prev").isNull, SpanL)
          .otherwise(least(col("pos") - col("prev"), lit(SpanL))))
          .cast(LongType).as("dup_chars_removed"))
  }


  // ======================= exact substring dedup: the REMOVAL WRITER
  // q226/q233 measure duplicated-span coverage; this operator EMITS the
  // cleaned corpus (r17 verdict task 3) — the pass public training-data
  // pipelines feed into corpus assembly. Policy: KEEP-FIRST-WITNESS —
  // for each distinct duplicated span text, the corpus-first occurrence
  // (min (doc_id, pos)) keeps its characters; every other occurrence is
  // excised. Per document the excised region is the interval UNION of
  // its non-witness duplicated windows (gaps-and-islands over a running
  // max — overlapping windows merge), and the cleaned text is the
  // ordered concatenation of the kept segments. A fully-duplicated
  // document comes out as the empty string, never dropped.
  //
  // Scale shape: identical to q226 up to the verified duplicate
  // positions (8-byte hash census + candidate-only text verify — the
  // only fact-sized shuffles). Everything after is proportional to the
  // DUPLICATED positions: the witness rank windows over span text, the
  // island merge windows over (doc, pos), and the final per-doc rebuild
  // joins each kept segment back to its document row. The cleaned text
  // itself shuffles once, keyed by doc_id, segment-sized.
  /** q239's oracle CTE chain (through `rmc`) — shared with the
    * cleaned-corpus training capstone (q240). */
  private[graft] val oCleanedCtes: String =
    s"""d AS (SELECT doc_id, text FROM documents),
       |spans AS (
       |  SELECT doc_id, CAST(s.i AS BIGINT) AS pos,
       |    substr(text, CAST(s.i AS INTEGER), $SpanL) AS sp
       |  FROM d, LATERAL (SELECT unnest(range(1,
       |    greatest(length(text) - ${SpanL - 1}, 0) + 1)) AS i) s),
       |dup AS (SELECT sp FROM spans GROUP BY sp
       |        HAVING COUNT(DISTINCT doc_id) >= 2),
       |ranked AS (
       |  SELECT doc_id, pos,
       |    ROW_NUMBER() OVER (PARTITION BY sp ORDER BY doc_id, pos) AS rk
       |  FROM spans JOIN dup USING (sp)),
       |rm AS (SELECT doc_id, pos FROM ranked WHERE rk > 1),
       |isl AS (
       |  SELECT doc_id, pos,
       |    SUM(CASE WHEN max_end IS NULL OR pos > max_end THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
       |  FROM (SELECT doc_id, pos,
       |      MAX(pos + $SpanL) OVER (PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end
       |    FROM rm) t),
       |iv AS (SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + $SpanL AS e
       |       FROM isl GROUP BY doc_id, isl),
       |heads AS (
       |  SELECT doc_id,
       |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s),
       |      CAST(1 AS BIGINT)) AS ss,
       |    s AS se
       |  FROM iv),
       |tails AS (
       |  SELECT v.doc_id, MAX(v.e) AS ss,
       |    CAST(length(d.text) + 1 AS BIGINT) AS se
       |  FROM iv v JOIN d ON v.doc_id = d.doc_id
       |  GROUP BY v.doc_id, length(d.text)),
       |kept AS (SELECT * FROM heads UNION ALL SELECT * FROM tails),
       |cleaned AS (
       |  SELECT k.doc_id,
       |    string_agg(substr(d.text, CAST(k.ss AS INTEGER),
       |      CAST(k.se - k.ss AS INTEGER)), '' ORDER BY k.ss)
       |      AS cleaned_text
       |  FROM kept k JOIN d ON k.doc_id = d.doc_id
       |  WHERE k.se > k.ss GROUP BY k.doc_id),
       |rmc AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS removed_chars
       |        FROM iv GROUP BY doc_id)""".stripMargin

  register("q239_substring_dedup_removal",
    s"""WITH $oCleanedCtes
       |SELECT d.doc_id,
       |  COALESCE(r.removed_chars, 0) AS removed_chars,
       |  CAST(length(COALESCE(c.cleaned_text,
       |    CASE WHEN r.doc_id IS NULL THEN d.text ELSE '' END)) AS BIGINT)
       |    AS cleaned_len,
       |  COALESCE(c.cleaned_text,
       |    CASE WHEN r.doc_id IS NULL THEN d.text ELSE '' END)
       |    AS cleaned_text
       |FROM d
       |LEFT JOIN cleaned c ON d.doc_id = c.doc_id
       |LEFT JOIN rmc r ON d.doc_id = r.doc_id""".stripMargin) { (s, d) =>
    cleanedCorpus(s, d)
      .select(col("doc_id"), col("removed_chars"),
        length(col("cleaned_text")).cast(LongType).as("cleaned_len"),
        col("cleaned_text"))
  }

  /** The cleaned corpus (doc_id, removed_chars, cleaned_text) — q239's
    * body, shared so the training-corpus capstone can assemble from
    * exact-substring-deduped text (q240). */
  private[graft] def cleanedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val spans = docs
      .select(col("doc_id"), posexplode(
        graft.catalyst.GraftFunctions.rollingSpanHashes(col("text"), SpanL)))
      .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("h"))
    // ">= 2 distinct docs" as min != max — q226's single-pass shape
    val cand = spans.groupBy("h")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("h")
    val withTxt = spans.join(cand, "h")
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        col("text").substr(col("pos").cast(IntegerType), lit(SpanL))
          .as("sp"))
    val verified = withTxt.groupBy("sp")
      .agg(min(col("doc_id")).as("d0"), max(col("doc_id")).as("d1"))
      .filter(col("d0") =!= col("d1")).select("sp")
    // keep-first-witness: the corpus-first occurrence of each span text
    // survives; every later occurrence is an excision window
    val wsp = Window.partitionBy("sp").orderBy(col("doc_id"), col("pos"))
    val rm = withTxt.join(verified, "sp")
      .withColumn("rk", row_number().over(wsp))
      .filter(col("rk") > 1)
      .select(col("doc_id"), col("pos"))
    // interval union per doc (gaps-and-islands over the running max)
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val wRun = wd.rowsBetween(Window.unboundedPreceding, -1)
    val iv = rm
      .withColumn("max_end", max(col("pos") + SpanL).over(wRun))
      .withColumn("new_isl",
        when(col("max_end").isNull || col("pos") > col("max_end"), 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("new_isl")).over(wd))
      .groupBy("doc_id", "isl")
      .agg(min("pos").as("s"), (max(col("pos")) + SpanL).as("e"))
    // kept segments = complement intervals; rebuild in segment order
    val wiv = Window.partitionBy("doc_id").orderBy("s")
    val heads = iv
      .withColumn("ss", coalesce(lag(col("e"), 1).over(wiv), lit(1L)))
      .select(col("doc_id"), col("ss"), col("s").as("se"))
    val tails = iv.groupBy("doc_id").agg(max("e").as("ss"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("ss"),
        (length(col("text")) + 1).cast(LongType).as("se"))
    val cleaned = heads.unionByName(tails)
      .filter(col("se") > col("ss"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("ss"),
        col("text").substr(col("ss").cast(IntegerType),
          (col("se") - col("ss")).cast(IntegerType)).as("seg"))
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("ss"), col("seg")))),
          x => x.getField("seg")), "").as("cleaned_text"))
    val rmChars = iv.groupBy("doc_id")
      .agg(sum(col("e") - col("s")).cast(LongType).as("removed_chars"))
    docs.join(cleaned, Seq("doc_id"), "left")
      .join(rmChars, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        coalesce(col("cleaned_text"),
          when(col("removed_chars").isNull, col("text")).otherwise(lit("")))
          .as("cleaned_text"))
  }

  // ================================================= set-similarity join
  // EXACT all-pairs Jaccard threshold join via prefix filtering (the
  // ppjoin family) — the exact counterpart of the approximate LSH path:
  // every pair with shingle-set Jaccard ≥ t is found, no false
  // negatives (same 3-gram shingle universe as MinHash/q25-q27, so the
  // thresholds are comparable). Sets are ordered rare-shingle-first
  // (ascending document frequency); two sets can only reach threshold t
  // if their first (n − ⌈t·n⌉ + 1) rare shingles intersect, so ONLY
  // that prefix is exploded for candidate generation. At 100 TB this is
  // the load-bearing trick: candidate buckets are keyed by RARE
  // shingles (bounded fan-out by construction — an element frequent
  // enough to build a hot bucket is never in a prefix), where a naive
  // element self-join would go quadratic on boilerplate. Verification
  // re-joins the two sorted sets and computes exact |∩|/|∪| with
  // integer set sizes.
  val SimJoinThreshold = 0.7
  register("q114_set_similarity_join",
    s"""WITH $oTokenHashCte,
       |sh AS (SELECT doc_id, sl.s AS shingle
       |  FROM (SELECT doc_id, $oShingleHashes AS shl FROM th_t2),
       |       LATERAL (SELECT unnest(shl) AS s) sl),
       |freq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
       |sets AS (
       |  SELECT doc_id, list(sh.shingle ORDER BY f.df, sh.shingle) AS toks,
       |    COUNT(*) AS n
       |  FROM sh JOIN freq f ON sh.shingle = f.shingle GROUP BY doc_id),
       |pref AS (
       |  SELECT doc_id,
       |    toks[1 : CAST(n - CEIL($SimJoinThreshold * n) + 1 AS BIGINT)] AS prefix
       |  FROM sets),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM (SELECT doc_id, unnest(prefix) AS t FROM pref) a
       |  JOIN (SELECT doc_id, unnest(prefix) AS t FROM pref) b
       |    ON a.t = b.t AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
       |    / (sa.n + sb.n - len(list_intersect(sa.toks, sb.toks))) AS jaccard
       |FROM cand c
       |JOIN sets sa ON c.doc_a = sa.doc_id
       |JOIN sets sb ON c.doc_b = sb.doc_id
       |WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
       |    / (sa.n + sb.n - len(list_intersect(sa.toks, sb.toks)))
       |  >= $SimJoinThreshold""".stripMargin) { (s, d) =>
    val sh = documents(s, d)
      .select(col("doc_id"), shingleHashes(col("text")).as("shl"))
      .select(col("doc_id"), explode(col("shl")).as("shingle"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sets = sh.join(freq, Seq("shingle"))
      .groupBy("doc_id")
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("shingle")))),
        e => e.getField("shingle")).as("toks"),
        count(lit(1)).as("n"))
    val pref = sets.select(col("doc_id"), col("n"),
      slice(col("toks"), lit(1),
        (col("n") - ceil(lit(SimJoinThreshold) * col("n")) + 1)
          .cast(IntegerType)).as("prefix"))
    // candidate rows carry set size and 0-based prefix position so the
    // ppjoin size + position filters run BEFORE the pair distinct and
    // the array-intersect verification. Both filters are integer-exact
    // (t = 7/10 → required overlap α = ⌈7(na+nb)/17⌉) and admit every
    // truly-similar pair: |∩| ≤ min(pa,pb) + 1 + min(na−pa−1, nb−pb−1)
    // for ANY shared element, and J ≥ t forces min(n)·10 ≥ 7·max(n).
    // At sf0.1 this cuts verified candidates ~200k → ~4k.
    val exploded = pref.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("p0", "t")))
    val ca = exploded.select(col("doc_id").as("doc_a"), col("n").as("na"),
      col("p0").as("pa0"), col("t"))
    val cb = exploded.select(col("doc_id").as("doc_b"), col("n").as("nb"),
      col("p0").as("pb0"), col("t").as("tb"))
    val alpha = expr("(7 * (na + nb) + 16) div 17")
    val overlapBound = least(col("pa0"), col("pb0")) + lit(1) +
      least(col("na") - col("pa0") - 1, col("nb") - col("pb0") - 1)
    val cand = ca
      .join(cb, col("t") === col("tb") && col("doc_a") < col("doc_b"))
      .filter(least(col("na"), col("nb")) * 10 >=
        greatest(col("na"), col("nb")) * 7)
      .filter(overlapBound >= alpha)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val sa = sets.select(col("doc_id").as("ida"), col("toks").as("ta"),
      col("n").as("na"))
    val sb = sets.select(col("doc_id").as("idb"), col("toks").as("tb"),
      col("n").as("nb"))
    val inter = size(array_intersect(col("ta"), col("tb"))).cast(DoubleType)
    cand.join(sa, col("doc_a") === col("ida"))
      .join(sb, col("doc_b") === col("idb"))
      .select(col("doc_a"), col("doc_b"),
        (inter / (col("na") + col("nb")
          - size(array_intersect(col("ta"), col("tb"))))).as("jaccard"))
      .filter(col("jaccard") >= SimJoinThreshold)
  }

  // ================================ incremental (cross-batch) near-dup
  // The daily-ingest screen: an arriving batch is checked against the
  // HISTORICAL corpus's LSH band index — never against itself, never
  // re-pairing history with history. This is how near-dup runs in a
  // production pipeline after the first full pass: the band index is
  // the persisted artifact; each increment joins its own band keys
  // against it, verifies the survivors, and keeps the best historical
  // match per new document (max Jaccard, ties to the oldest doc). The
  // bucket cap is a property of the INDEX (history bucket size), so an
  // increment cannot be blinded by its own hot template.
  //
  // Batch split here is deterministic (doc_id % 5 == 0 arrives "today");
  // swap the two filters for real ingest frames.
  //
  // Scale: history banding is amortized (built once, persisted); the
  // increment shuffles |batch|×Bands band keys against the index —
  // candidate volume is driven by the batch, not the corpus. Verify
  // touches surviving pairs only; the argmax is a per-new-doc window
  // over its own candidates.
  register("q151_incremental_neardup", {
    val rowsPerBand = NumHashes / Bands
    val sigList = (0 until NumHashes).map(oMinhash).mkString(", ")
    s"""WITH $oTokenHashCte,
       |sh AS (SELECT doc_id, $oShingleHashes AS shl FROM th_t2),
       |sigs AS (SELECT doc_id, [$sigList] AS sig FROM sh),
       |banded AS (
       |  SELECT doc_id, b.band, sig[b.band * $rowsPerBand + 1 : b.band * $rowsPerBand + $rowsPerBand] AS band_key
       |  FROM sigs, (SELECT unnest(range(0, $Bands)) AS band) b),
       |hist AS (
       |  SELECT bd.* FROM banded bd
       |  JOIN (SELECT band, band_key FROM banded WHERE doc_id % 5 <> 0
       |        GROUP BY band, band_key HAVING COUNT(*) <= $MaxBucketSize) ok
       |    ON bd.band = ok.band AND bd.band_key = ok.band_key
       |  WHERE bd.doc_id % 5 <> 0),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_new, h.doc_id AS doc_hist
       |  FROM banded n JOIN hist h
       |    ON n.band = h.band AND n.band_key = h.band_key
       |  WHERE n.doc_id % 5 = 0),
       |verified AS (
       |  SELECT doc_new, doc_hist,
       |    CAST(len(list_intersect(sn.shl, sh2.shl)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sn.shl, sh2.shl))) AS jaccard
       |  FROM cand JOIN sh sn ON cand.doc_new = sn.doc_id
       |            JOIN sh sh2 ON cand.doc_hist = sh2.doc_id),
       |hits AS (
       |  SELECT doc_new, doc_hist, jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_new
       |      ORDER BY jaccard DESC, doc_hist ASC) AS rn
       |  FROM verified WHERE jaccard >= $JaccardThreshold)
       |SELECT doc_new, doc_hist, jaccard FROM hits WHERE rn = 1""".stripMargin
  }) { (s, d) =>
    val docs = documents(s, d).select(col("doc_id"),
      shingleHashes(col("text")).as("sh"))
    val rowsPerBand = NumHashes / Bands
    val banded = docs.select(col("doc_id"),
      array((0 until NumHashes).map(j => minhash(col("sh"), j)): _*).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_key")
    val histBanded = banded.filter(col("doc_id") % 5 =!= 0)
    val index = histBanded.alias("bd")
      .join(histBanded.groupBy("band", "band_key")
        .agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= MaxBucketSize)
        .select(col("band").as("cband"), col("band_key").as("cband_key")),
        col("bd.band") === col("cband") && col("bd.band_key") === col("cband_key"))
      .select(col("bd.doc_id").as("doc_hist"), col("bd.band").as("band"),
        col("bd.band_key").as("band_key"))
    val cand = banded.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("doc_new"), col("band"), col("band_key"))
      .join(index, Seq("band", "band_key"))
      .select(col("doc_new"), col("doc_hist"))
      .distinct()
    val jaccard = size(array_intersect(col("sn"), col("sh2"))).cast(DoubleType) /
      size(array_union(col("sn"), col("sh2")))
    val verified = cand
      .join(docs.select(col("doc_id").as("doc_new"), col("sh").as("sn")),
        Seq("doc_new"))
      .join(docs.select(col("doc_id").as("doc_hist"), col("sh").as("sh2")),
        Seq("doc_hist"))
      .select(col("doc_new"), col("doc_hist"), jaccard.as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_new"))
      .orderBy(col("jaccard").desc, col("doc_hist").asc)
    verified.select(col("doc_new"), col("doc_hist"), col("jaccard"),
        org.apache.spark.sql.functions.row_number().over(w).as("rn"))
      .filter(col("rn") === 1).drop("rn")
  }

  // ====================================================== shingle novelty
  // Per-document novelty: the share of a document's distinct shingles
  // that no EARLIER document (lower doc_id = earlier ingest) already
  // contributed — the marginal-contribution view of dedup, and the
  // signal behind "this source only re-crawls what we have". One
  // shuffle keyed by the 8-byte shingle hash computes each shingle's
  // first-owner; novelty is an exact integer ratio per document.
  register("q152_shingle_novelty",
    s"""WITH $oTokenHashCte,
       |sh AS (SELECT doc_id, $oShingleHashes AS shl FROM th_t2),
       |ex AS (SELECT doc_id, unnest(shl) AS h FROM sh),
       |owner AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h)
       |SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |  CAST(SUM(CASE WHEN o.first_doc = ex.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN o.first_doc = ex.doc_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / COUNT(*) AS novelty
       |FROM ex JOIN owner o ON ex.h = o.h
       |GROUP BY ex.doc_id""".stripMargin) { (s, d) =>
    val ex = documents(s, d)
      .select(col("doc_id"), explode(shingleHashes(col("text"))).as("h"))
    val owner = ex.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    ex.join(owner, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast(DoubleType) / col("n_shingles")).as("novelty"))
  }

  // ================================= sorted-neighborhood blocking (SNM)
  // The third classic blocking strategy next to LSH (q25) and prefix
  // filtering (q114): sort the corpus by a blocking key and compare each
  // record only against its [[SnmWindow]]-1 sorted successors. Candidate
  // count is linear in the corpus (w·N pairs), and near-duplicates with
  // shared prefixes land adjacent. Distributed form: the sort is
  // per-BLOCK (records sharing an [[SnmBlockChars]]-char key prefix),
  // which is exactly the blocking bargain — pairs across block
  // boundaries are out of scope by design, in exchange for a fully
  // partitioned plan with no global sort and no corpus self-join.
  //
  // Determinism: the sort key gets doc_id as a unique tie-break; the
  // pair survives on an exact integer Levenshtein distance (identical
  // DP definition in both engines) over fixed-length key prefixes.
  //
  // Scale: ONE shuffle keyed by the block prefix; window state is
  // SnmWindow rows deep; the Levenshtein runs on [[SnmKeyChars]]-char
  // strings inside the projection, never on full documents. Block skew
  // is data-dependent (a hot template prefix concentrates its block) —
  // the same AQE-skew/salting toolkit as any keyed shuffle applies.
  val SnmWindow = 4      // compare against this many sorted successors
  val SnmBlockChars = 8  // records must share this key prefix to pair
  val SnmKeyChars = 60   // blocking key = first chars of the text
  val SnmMaxDist = 12    // keep pairs at most this edit distance apart

  register("q143_sorted_neighborhood", {
    val leads = (1 until SnmWindow).map(j =>
      s"""SELECT doc_id AS doc_a, lead(doc_id, $j) OVER w$j AS doc_b,
         |  CAST(levenshtein(k, lead(k, $j) OVER w$j) AS INTEGER) AS dist
         |FROM keyed WINDOW w$j AS (PARTITION BY blk ORDER BY k, doc_id)"""
        .stripMargin).mkString("\nUNION ALL\n")
    s"""WITH keyed AS (
       |  SELECT doc_id, substr(text, 1, $SnmKeyChars) AS k,
       |    substr(text, 1, $SnmBlockChars) AS blk
       |  FROM documents),
       |pairs AS (
       |$leads)
       |SELECT doc_a, doc_b, dist FROM pairs
       |WHERE doc_b IS NOT NULL AND dist <= $SnmMaxDist""".stripMargin
  }) { (s, d) =>
    val w = Window.partitionBy(col("blk")).orderBy(col("k"), col("doc_id"))
    val keyed = documents(s, d).select(col("doc_id"),
      substring(col("text"), 1, SnmKeyChars).as("k"),
      substring(col("text"), 1, SnmBlockChars).as("blk"))
    // all leads share one window spec → ONE Window operator / one
    // shuffle; they are materialized in their own projection FIRST
    // (window expressions can't live under a generator), then the
    // struct array is exploded, then fields are read (the
    // generator-alias gotcha in NOTES.md)
    val led = keyed.select(col("doc_id").as("doc_a"),
      array((1 until SnmWindow).map(j =>
        struct(lead(col("doc_id"), j).over(w).as("doc_b"),
          levenshtein(col("k"), lead(col("k"), j).over(w)).as("dist"))): _*)
        .as("neighbors"))
    led.select(col("doc_a"), explode(col("neighbors")).as("p"))
      .select(col("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.dist").as("dist"))
      .filter(col("doc_b").isNotNull && col("dist") <= SnmMaxDist)
  }
}
