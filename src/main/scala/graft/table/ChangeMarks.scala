package graft.table

import org.apache.spark.sql.sources
import org.apache.spark.unsafe.types.UTF8String

/** The changelog's one mark rule: a row ships when its `_lsn` is above the
  * exclusive floor of its `_source` tag and at most `ceiling`. Untagged
  * rows take the `untagged` floor, a tag with no entry in `floors` takes
  * `others`. `Long.MinValue` is the open floor (every lsn is above it; no
  * snapshot mark is below -1); all else compares exactly as longs, so a
  * `Long.MaxValue` floor ships nothing. The scan ([[graft.sql.GraftScan]])
  * applies the rule per row; readers push [[lsnFilters]] only to prune.
  */
final case class ChangeMarks(floors: Map[String, Long], untagged: Long,
    others: Long, ceiling: Long) {

  /** The lowest floor any shipped row is above. */
  def floor: Long = (floors.values.toSeq :+ untagged :+ others).min

  /** [[floor]] and [[ceiling]] as source filters, open sides omitted: for
    * manifest pruning and the parquet reader.
    */
  def lsnFilters: Seq[sources.Filter] = {
    val lsn = graft.model.Model.lsnColumn
    Seq(Some(floor).filter(_ != Long.MinValue).map(sources.GreaterThan(lsn, _)),
      Some(ceiling).filter(_ != Long.MaxValue).map(sources.LessThanOrEqual(lsn, _))
    ).flatten
  }

  @transient private lazy val byTag: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long]()
    floors.foreach { case (s, f) => m.put(UTF8String.fromString(s), f) }
    m
  }

  /** Whether a row with this tag (null = untagged) and `_lsn` ships; the
    * tag is looked up as the row holds it, no `String` built per row.
    */
  def ships(tag: UTF8String, lsn: Long): Boolean = lsn <= ceiling && {
    val f: Long =
      if (tag == null) untagged
      else { val m = byTag.get(tag); if (m == null) others else m.longValue }
    f == Long.MinValue || lsn > f
  }
}

object ChangeMarks {

  /** The net changes committed after `since`, as `to` holds them: each row
    * against its own source's mark in `since` (-1 for a source `since`
    * never saw), untagged rows against `since`'s global mark. A tag with
    * no mark in `to` ships nothing: every commit that lands rows raises
    * their source's mark, so only a foreign file holds such a row, and with
    * no mark to pass it would ship again in every later batch. `table`
    * refuses an untailable `to` ([[ChronicleTable.requireTailable]]).
    */
  def since(table: ChronicleTable, since: Snapshot, to: Snapshot): ChangeMarks = {
    table.requireTailable(to)
    ChangeMarks(to.hwms.map { case (s, _) => s -> since.hwmFor(s) },
      untagged = since.hwmLsn, others = Long.MaxValue, ceiling = Long.MaxValue)
  }

  /** Every row, tagged or not, whose `_lsn` lies in [lo, hi]. */
  def slice(lo: Long, hi: Long): ChangeMarks = {
    val f = if (lo == Long.MinValue) lo else lo - 1L
    ChangeMarks(Map.empty, untagged = f, others = f, ceiling = hi)
  }
}
