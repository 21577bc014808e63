package graft.dedup

import graft.cdc.Chain
import graft.model.Model
import graft.table.ChronicleTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ENGINE-MAINTAINED MinHash/LSH signature index: two ChronicleTables
  * (per-permutation signatures and per-band signatures) kept in lockstep
  * with a DOCUMENT table's own changelog via the chain's transform hook
  * ([[graft.cdc.Chain.pollOnce]]) — each CDC batch that lands in the
  * document table flows through as exactly-once index maintenance, so
  * [[DocDedup.lshPairsIncremental]] reads an index the engine itself
  * maintains instead of one a side process must rebuild. This closes the
  * loop between the CDC core and the dedup suite: a 100 TB corpus dedups
  * each arriving batch against the persisted index, and the index never
  * falls out of sync with the data because its cursor rides the index
  * table's OWN commit ledger (the same replay-then-skip discipline as
  * every chain, S3Consumer.java:226-290 in the reference).
  *
  * Layout (both tables reuse the engine's key columns):
  *   - signature table: conv_id = doc id, turn_idx = permutation (0..15),
  *     payload `minhash: long`;
  *   - band table: conv_id = doc id, turn_idx = band (0..3), payload
  *     `bandsig: string`.
  *
  * The unit of dedup is the source ROW: doc id = `<conv_id>#<turn_idx>`
  * (injective — the suffix is the single appended `#<int>`), text from
  * the row's `text`. This matches the changelog's granularity exactly —
  * a one-turn update or delete re-signs or tombstones ONE document, never
  * a whole conversation whose other turns the batch does not carry.
  * Single-row corpora (documents stored at turn 0) get per-document
  * semantics for free; conversation-level dedup runs the same machinery
  * over an exported conversation-concatenated table. Per changed row the
  * transform emits its FULL key grid (all 16 perms / 4 bands): entries a
  * new text no longer produces (too short to shingle after an update, or
  * the row was deleted) become tombstones, so the index carries no
  * stale signatures. Deletions reach the index only where the document
  * table's changelog carries them (merge-on-read upstream — the standard
  * chain delete-propagation contract).
  */
object SignatureIndex {

  /** Physical schema of the signature table (before system columns). */
  val sigSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("minhash", LongType)) ++ Model.systemFields)

  /** Physical schema of the band table (before system columns). */
  val bandSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("bandsig", StringType)) ++ Model.systemFields)

  /** Advance both index tables to the document table's current version
    * (chain drain with the signature/band transforms). Returns the number
    * of polls applied (0 = already caught up). Exactly-once end to end:
    * a crash mid-update replays the same version range and the committed
    * halves skip by ledger key.
    */
  def update(spark: SparkSession, docs: ChronicleTable,
      sigs: ChronicleTable, bands: ChronicleTable,
      numBuckets: Int = 16): Int = {
    if (!sigs.exists) sigs.create(sigSchema, numBuckets)
    if (!bands.exists) bands.create(bandSchema, numBuckets)
    Chain.drain(spark, docs, sigs, numBuckets, transform = sigTransform) +
      Chain.drain(spark, docs, bands, numBuckets, transform = bandTransform)
  }

  /** The signature index as a [[DocDedup.sigTable]]-shaped frame
    * (doc_id, perm, minhash) — current version, or a pinned snapshot.
    * Document ids are the source table's conv_id STRINGS (the index never
    * assumes numeric ids; pair ordering downstream is lexicographic).
    */
  def sigView(spark: SparkSession, sigs: ChronicleTable,
      version: Long = -1L): DataFrame = {
    val snap = if (version < 0) sigs.loadCurrent() else sigs.loadVersion(version)
    sigs.read(spark, snap)
      .filter(!col(Model.deletedColumn))
      .select(col("conv_id").as("doc_id"),
        col("turn_idx").cast("long").as("perm"), col("minhash"))
  }

  /** The band index as a [[DocDedup.bandSigs]]-shaped frame
    * (doc_id, band, bandsig).
    */
  def bandView(spark: SparkSession, bands: ChronicleTable): DataFrame =
    bands.read(spark)
      .filter(!col(Model.deletedColumn))
      .select(col("conv_id").as("doc_id"),
        col("turn_idx").cast("int").as("band"), col("bandsig"))

  /** Near-dup pairs introduced by everything the DOCUMENT table committed
    * after the index snapshot `sigsVersionBefore` — the per-batch dedup
    * step of a CDC-fed corpus, reading ONLY engine-maintained state:
    * the batch's signatures come from the signature table's own changelog
    * (no text re-read), the corpus side from the persisted band index
    * (no re-banding), and verification touches candidate ids only.
    * Call after [[update]]; pass the signature table's version from
    * before it. Equal to `lshPairs` restricted to pairs touching the
    * batch (the incremental ≡ full convergence law, spec-asserted).
    */
  def incrementalPairs(spark: SparkSession, sigs: ChronicleTable,
      bands: ChronicleTable, sigsVersionBefore: Long): DataFrame = {
    val newSigs = sigs.readChanges(spark, sigsVersionBefore)
      .filter(!col(Model.deletedColumn))
      .select(col("conv_id").as("doc_id"),
        col("turn_idx").cast("long").as("perm"), col("minhash"))
    // index side WITHOUT the batch docs: updated docs' current sigs ride
    // `newSigs`; leaving their rows on both sides would double every
    // (doc, perm) in verification and skew the similarity estimate
    val newIds = newSigs.select("doc_id").distinct()
    val indexSigs = sigView(spark, sigs).join(newIds, Seq("doc_id"), "left_anti")
    val indexBands = bandView(spark, bands).join(newIds, Seq("doc_id"), "left_anti")
    DocDedup.lshPairsIncremental(newSigs, indexSigs, Some(indexBands))
  }

  /** Chain transform: document changelog rows -> signature index change
    * rows. Emits the full 16-perm grid per changed document; grid slots
    * the (new) text does not produce — and every slot of a deleted
    * document — are tombstones. System columns ride through per document.
    */
  private[dedup] def sigTransform(changes: DataFrame): DataFrame =
    gridEvents(changes, DocDedup.minhashPerms,
      live => DocDedup.sigTableOf(live)
        .select(col("doc_id"), col("perm").cast("int").as("unit"),
          struct(col("minhash")).as("payload")),
      StructType(Seq(StructField("minhash", LongType))))

  /** Chain transform: document changelog rows -> band index change rows. */
  private[dedup] def bandTransform(changes: DataFrame): DataFrame =
    gridEvents(changes, DocDedup.minhashPerms / 4,
      live => DocDedup.bandSigs(DocDedup.sigTableOf(live))
        .select(col("doc_id"), col("band").cast("int").as("unit"),
          struct(col("bandsig")).as("payload")),
      StructType(Seq(StructField("bandsig", StringType))))

  /** Shared grid logic: one output row per (changed doc, unit), derived
    * payload where the live text produces one, tombstone otherwise.
    */
  private def gridEvents(changes: DataFrame, units: Int,
      derive: DataFrame => DataFrame, payloadSchema: StructType): DataFrame = {
    // doc id = "<conv_id>#<turn_idx>" — the ROW identity as a string (the
    // index keys any table, numeric ids or not, at the changelog's own
    // row granularity)
    val docId = concat(col("conv_id"), lit("#"), col("turn_idx"))
    val docCols = Seq(docId.as("doc_id"),
      col(Model.lsnColumn), col(Model.sourceColumn))
    val grid = changes
      .select(docCols :+ col(Model.deletedColumn).as("__dead"): _*)
      .withColumn("unit", explode(sequence(lit(0), lit(units - 1))))
    val live = changes.filter(!col(Model.deletedColumn))
      .select(docId.as("doc_id"), col("text"))
    val derived = derive(live)
    val joined = grid.join(derived, Seq("doc_id", "unit"), "left")
    val payloadCols = payloadSchema.fields.toSeq.map(f =>
      col("payload").getField(f.name).as(f.name))
    joined.select(
      Seq(col("doc_id").as("conv_id"),
        col("unit").cast("int").as("turn_idx")) ++
      payloadCols ++
      Seq(col(Model.lsnColumn),
        (col("__dead") || col("payload").isNull).as(Model.deletedColumn),
        col(Model.sourceColumn)): _*)
  }
}
