package graft.sql

import graft.model.Model
import graft.ops.MergeInto
import graft.table.ChronicleTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{MetadataBuilder, StringType, StructField, StructType}

/** SQL DML over a ChronicleTable.
  *
  * `INSERT INTO graft_cat.t …` appends a batch of CHANGE EVENTS — the one
  * write the engine's data model has. Each inserted row is an upsert of
  * its (conv_id, turn_idx) key at LSN `_lsn`, or a delete tombstone when
  * `_deleted` is true; the batch applies through the same exactly-once
  * MERGE path every other source uses ([[graft.ops.MergeInto]]): per-key
  * last-writer-wins against the table's persisted `_lsn`s, hash-bucketed
  * sorted file layout, lineage entry, schema merge. This is deliberately
  * NOT a plain append: re-inserting an event that already applied (same
  * key at an LSN at-or-below the row's applied LSN) is a replay and loses
  * the LWW comparison instead of duplicating the row — SQL DML gets CDC
  * semantics, the reference's at-least-once redelivery tolerance
  * (ElasticSearchSink.java:337) expressed as a table write.
  *
  * The system columns make the event explicit; `_deleted` and `_source`
  * carry SQL column DEFAULTs (false, 'sql') so the common insert reads
  * like DML against any table:
  *
  * {{{
  *   INSERT INTO graft_cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn)
  *   VALUES ('conv-1', 0, 'user', 'hello', NULL, now(), 42)
  * }}}
  *
  * `INSERT OVERWRITE` is refused at analysis (the builder implements
  * neither truncation nor filter overwrite): bulk state replacement on a
  * CDC ledger would orphan the high-water marks; delete via tombstones.
  *
  * Scale shape: the statement's rows flow once through the planning
  * aggregate (batch identity + LSN range — one small job) and once through
  * the MERGE (shuffle by key, bucket-pruned file rewrite) — identical to a
  * pipeline batch of the same size; nothing here is driver-materialized.
  */
private[sql] class GraftWriteBuilder(table: ChronicleTable,
    info: LogicalWriteInfo) extends WriteBuilder {

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          // unreachable via SQL (no truncate/overwrite capability is
          // declared, so INSERT OVERWRITE fails in analysis) — guard anyway
          require(!overwrite,
            "graft tables do not support INSERT OVERWRITE; delete via " +
              "_deleted=true change rows")
          GraftWrite.insertChanges(table, data,
            mergeOnRead = info.options.getBoolean("mor", false))
        }
      }
  }
}

object GraftWrite {

  /** Apply a DataFrame of change rows (payload + `_lsn`/`_deleted`/
    * `_source`) to the table through the exactly-once MERGE. Shared by the
    * SQL INSERT path and any programmatic caller holding plain rows.
    */
  def insertChanges(table: ChronicleTable, data: DataFrame,
      mergeOnRead: Boolean = false): Unit = {
    val spark = data.sparkSession
    val cols = data.columns.toSet
    require(Model.keyColumns.forall(cols.contains),
      s"inserted rows need the key columns ${Model.keyColumns.mkString(", ")}")
    require(cols.contains(Model.lsnColumn),
      s"inserted rows need ${Model.lsnColumn}: every change event carries " +
        "its log sequence number (use a value above the table's current " +
        "high-water mark for new events)")
    val d0 = {
      var d = data
      if (!cols.contains(Model.deletedColumn))
        d = d.withColumn(Model.deletedColumn, lit(false))
      if (!cols.contains(Model.sourceColumn))
        d = d.withColumn(Model.sourceColumn, lit(null).cast(StringType))
      d
    }

    // One small planning aggregate: row count, LSN range and a content
    // signature give the batch its exactly-once identity (two statements
    // inserting different rows over the same LSN range must not collide on
    // the replay ledger), plus the statement's source tag.
    val s = d0.agg(
      count(lit(1)).as("n"),
      min(col(Model.lsnColumn)).as("lo"),
      max(col(Model.lsnColumn)).as("hi"),
      count(when(col(Model.lsnColumn).isNull, 1)).as("nulls"),
      collect_set(col(Model.sourceColumn)).as("srcs"),
      // XOR-fold, not sum: order-independent like sum but cannot overflow
      // under ANSI arithmetic
      bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col(Model.lsnColumn),
        coalesce(col(Model.deletedColumn), lit(false)))).as("sig"))
      .collect()(0)
    val n = s.getAs[Long]("n")
    if (n == 0L) return
    require(s.getAs[Long]("nulls") == 0L,
      s"${Model.lsnColumn} must be non-null on every inserted change row")
    val srcs = s.getSeq[String](s.fieldIndex("srcs")).filter(_ != null)
    require(srcs.size <= 1,
      s"one INSERT is one change batch of ONE source; got ${Model.sourceColumn}" +
        s" values ${srcs.mkString(", ")} — split the statement per source")
    val src = srcs.headOption.getOrElse("sql")
    require(!src.contains('#'), s"source tag may not contain '#': $src")
    // An ordered source's ledger keys are numbered units under its mark;
    // a `dml-…` key under the same prefix never folds away, breaks the
    // drain's batch numbering and turns the source unordered.
    val snap = table.loadCurrent()
    require(snap.unordered(src) ||
        !(ChronicleTable.committedUnits(snap).contains(src) || snap.hwms.contains(src)),
      s"source tag $src is an ordered source of ${table.root}: an INSERT " +
        "under it would wedge that source's drain — tag the statement with " +
        "a source of its own")
    val batchKey = s"$src#dml-${s.getAs[Long]("lo")}-${s.getAs[Long]("hi")}" +
      s"-$n-${java.lang.Long.toHexString(s.getAs[Long]("sig"))}"

    // unordered source: SQL statements carry no global ordering discipline,
    // so correctness rides the per-key LSN guard, never the batch HWM
    MergeInto(spark, table, MergeInto.eventsOf(d0), batchKey, src,
      orderedSource = false, mergeOnRead = mergeOnRead, mode = "sql")
  }

  private def withDefault(f: StructField, sql: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString("CURRENT_DEFAULT", sql)
      .putString("EXISTS_DEFAULT", sql)
      .build())

  /** SQL-facing schema: `_deleted` and `_source` get column DEFAULTs so an
    * INSERT by name can omit them (data files are untouched — this is
    * analyzer metadata only).
    */
  private[sql] def withSqlDefaults(s: StructType): StructType =
    StructType(s.fields.map { f =>
      f.name match {
        case Model.deletedColumn => withDefault(f, "false")
        case Model.sourceColumn => withDefault(f, "'sql'")
        case _ => f
      }
    })
}
