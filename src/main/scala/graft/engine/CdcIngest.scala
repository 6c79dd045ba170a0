package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exactly-once reduction of an AT-LEAST-ONCE op-coded CDC feed, in
  * front of [[IncrementalGold]]'s signed fold (r15 verdict task 3).
  *
  * [[IncrementalGold.signedDelta]] trusts its input to be a
  * multiset-consistent, per-key-ordered feed: a duplicated record
  * double-folds and an out-of-order U/D pair mis-nets. Real transports
  * deliver at-least-once. The standard repair is a per-record sequence
  * number (the q200 snapshot LWW machinery's ordering, applied to CDC):
  *
  *   1. [[keyed]] — project each record to (__key, __seq, op, before,
  *      after) and drop exact redeliveries: two records with the same
  *      (key, seq) are the same record.
  *   2. [[freshAgainstLedger]] — drop records at or below the durable
  *      per-key high-water mark (redeliveries of already-folded
  *      records from earlier batches); [[advanceLedger]] raises the
  *      mark after the fold commits.
  *   3. [[collapse]] — per key, restore sequence order and collapse the
  *      batch's surviving records to ONE net op: the before-image of
  *      the LOWEST surviving seq and the after-image of the HIGHEST
  *      (I∘U∘…∘U telescopes to I, U∘…∘D to D, I∘…∘D to nothing).
  *      Within-batch reorder and multi-op keys both vanish here.
  *
  * Delivery contract this makes exact: batches commit exactly-once
  * (foreachBatch replay of a whole committed batch is a no-op upstream
  * in [[graft.streaming.GoldMaintenanceStream]]); records may be
  * duplicated anywhere and reordered within a batch. What it does NOT
  * repair: a transport that SKIPS a record for a key and delivers a
  * later one first across a batch boundary (per-key order across
  * batches is what Kafka-style keyed partitions guarantee); that
  * violation nets a negative multiplicity downstream and
  * [[IncrementalGold.fold]]'s guard fails the job loudly instead of
  * drifting.
  *
  * Scale shape: keyed/collapse are one |batch|-sized hash aggregation;
  * the ledger is |live keys| rows (key + one long), joined once per
  * batch on the key — a broadcast or keyed shuffle probe, never a fact
  * rescan. Ledger rows for deleted keys are tombstones kept so a
  * redelivered pre-delete record cannot resurrect the row; GC them only
  * past the transport's redelivery horizon.
  */
object CdcIngest {

  /** Project an op-coded batch to ledger/collapse shape and drop exact
    * (key, seq) redeliveries. `key` is evaluated over the record (use
    * `coalesce(col("after.pk"), col("before.pk"))`). */
  def keyed(batch: DataFrame, key: Column, seq: Column): DataFrame =
    batch.select(key.as("__key"), seq.cast(LongType).as("__seq"),
        col("op"), col("before"), col("after"))
      .dropDuplicates("__key", "__seq")

  /** Records strictly above the ledger's per-key high-water mark.
    * `ledger` is (__key, __seq); an empty ledger passes everything. */
  def freshAgainstLedger(records: DataFrame, ledger: DataFrame): DataFrame =
    records.alias("r")
      .join(ledger.alias("l"), col("r.__key") === col("l.__key"), "left")
      .filter(col("l.__seq").isNull || col("r.__seq") > col("l.__seq"))
      .select(col("r.__key"), col("r.__seq"), col("r.op"),
        col("r.before"), col("r.after"))

  /** Raise the per-key high-water mark with a folded batch's records.
    * Keys never seen keep their new mark; deleted keys keep a tombstone
    * mark (see class doc). */
  def advanceLedger(ledger: DataFrame, records: DataFrame): DataFrame =
    ledger.unionByName(records.select(col("__key"), col("__seq")))
      .groupBy("__key").agg(max(col("__seq")).as("__seq"))

  /** Collapse a keyed batch to ONE net op per key: before-image of the
    * lowest seq, after-image of the highest. Keys whose net is a no-op
    * (inserted and deleted within the batch) vanish. Output is
    * [[IncrementalGold.signedDelta]]'s input shape (op/before/after)
    * plus (__key, __seq) for [[advanceLedger]]. */
  def collapse(records: DataFrame): DataFrame =
    records.groupBy(col("__key"))
      // struct-wrap so a NULL image (the before of an I, the after of a
      // D) survives min_by/max_by instead of hitting any null-skipping
      // aggregate semantics
      .agg(min_by(struct(col("before").as("v")), col("__seq")).as("__b"),
        max_by(struct(col("after").as("v")), col("__seq")).as("__a"),
        max(col("__seq")).as("__seq"))
      .select(
        when(col("__b.v").isNull, "I")
          .when(col("__a.v").isNull, "D")
          .otherwise("U").as("op"),
        col("__b.v").as("before"), col("__a.v").as("after"),
        col("__key"), col("__seq"))
      .filter(col("before").isNotNull || col("after").isNotNull)

  /** The full stage: ledger-filter, then collapse. Returns the net
    * op-coded batch (feed to [[IncrementalGold.signedDelta]]) and the
    * advanced ledger (persist with the same commit that folds the
    * batch). */
  def ingest(batch: DataFrame, key: Column, seq: Column,
      ledger: DataFrame): (DataFrame, DataFrame) = {
    val fresh = freshAgainstLedger(keyed(batch, key, seq), ledger)
    (collapse(fresh), advanceLedger(ledger, fresh))
  }

  /** An empty ledger typed after a keyed batch, for bootstrap (key
    * types vary per entity — derive, don't assume). Built as a FRESH
    * frame, not a limit(0) of the input: sharing the input's attribute
    * ids would make the first batch's ledger join/union a self-join. */
  def emptyLedgerLike(keyedRecords: DataFrame): DataFrame = {
    val s = keyedRecords.sparkSession
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      keyedRecords.select(col("__key"), col("__seq")).schema)
  }
}
