package graft.table

import org.apache.spark.sql.sources

/** The table's one file-pruning rule: which manifests and data files a read
  * or a merge must see. Every reader ([[ChronicleTable.files]] and the
  * readers built on it), the DSv2 scan they all plan through (its pushed
  * filters, via [[of]]), the change stream and the merge planner decide
  * through [[keeps]], so the soundness rules below hold everywhere at once:
  *
  *  - entries without stats are kept: ts (0, 0), `_lsn` below 0;
  *  - ts bounds never drop a merge-on-read delta file, nor a manifest that
  *    holds one; in such a bucket they drop a base file only when every
  *    delta is newer than all its rows (known `_lsn` stats). A delta is not
  *    always newer than the base row it overlays (an unordered source, or
  *    a second source with lower `_lsn`s): a base winner pruned by ts would
  *    let the older delta version resurface. A newer delta can only
  *    displace or tombstone a pruned base row, never resurrect it (base
  *    files of a bucket hold disjoint keys);
  *  - each `_lsn` side is checked only against the stat on that side: the
  *    lower bound against `maxLsn`, the upper bound against `minLsn`;
  *  - key bounds apply to base and delta files alike (a delta whose key
  *    range excludes the key cannot displace or tombstone it).
  *
  * Every interval is inclusive; `None` / `Long.MinValue` / `Long.MaxValue`
  * leave a side open. `buckets` keeps only those `conv_id` hash buckets.
  */
final case class FilePrune(
    buckets: Option[Set[Int]] = None,
    minKey: Option[String] = None,
    maxKey: Option[String] = None,
    fromTsMs: Long = Long.MinValue,
    toTsMs: Long = Long.MaxValue,
    fromLsn: Long = Long.MinValue,
    toLsn: Long = Long.MaxValue) {

  def keeps(m: ManifestMeta): Boolean =
    buckets.forall(_.contains(m.bucket)) && keyOk(m.minKey, m.maxKey) &&
      (m.deltaFiles > 0 || tsOk(m.minTsMs, m.maxTsMs)) &&
      lsnOk(m.minLsn, m.maxLsn)

  /** The files of one bucket (its manifest's) that the rule keeps. */
  def keepIn(bucket: Seq[DataFileMeta]): Seq[DataFileMeta] = {
    val oldestDelta = bucket.filter(_.delta).map(_.minLsn).minOption
    def tsDrops(f: DataFileMeta) = !f.delta &&
      oldestDelta.forall(d => f.maxLsn >= 0L && f.maxLsn < d)
    bucket.filter(f => buckets.forall(_.contains(f.bucket)) &&
      keyOk(f.minKey, f.maxKey) && (!tsDrops(f) || tsOk(f.minTsMs, f.maxTsMs)) &&
      lsnOk(f.minLsn, f.maxLsn))
  }

  private def keyOk(lo: String, hi: String): Boolean =
    minKey.forall(hi >= _) && maxKey.forall(lo <= _)

  private def tsOk(lo: Long, hi: Long): Boolean =
    (lo == 0L && hi == 0L) || (hi >= fromTsMs && lo <= toTsMs)

  private def lsnOk(lo: Long, hi: Long): Boolean =
    (hi < 0L || hi >= fromLsn) && (lo < 0L || lo <= toLsn)
}

object FilePrune {

  /** The smallest long strictly above `v`, saturating at `Long.MaxValue`. */
  private def above(v: Long): Long = if (v == Long.MaxValue) v else v + 1L

  private def below(v: Long): Long = if (v == Long.MinValue) v else v - 1L

  /** The rule a set of ANDed source filters implies: `conv_id` equality,
    * IN and range (plus hash-bucket pruning on equality and IN), `ts`
    * bounds and `_lsn` bounds. Filter shapes it does not understand are
    * ignored — extra files are merely scanned, never wrong.
    *
    * Above a merge-on-read LWW fold (`merged`, the DSv2 scan's visible
    * state) an `_lsn` upper bound is not taken: a file pruned for holding
    * only newer versions would resurrect the rows those versions displace.
    * A lower bound is sound there — a pruned file's rows lose the LWW
    * comparison to every row that passes the filter.
    */
  def of(filters: Seq[sources.Filter], numBuckets: Int,
      merged: Boolean): FilePrune = {
    val (kLo, kHi) = bounds(filters, "conv_id", asKey)
    val (tLo, tHi) = bounds(filters, "ts", asTsMillis)
    val (lLo, lHi) = bounds(filters, graft.model.Model.lsnColumn, asLsn)
    val eq = filters.collect {
      case sources.EqualTo("conv_id", v: String) => Set(v)
      case sources.In("conv_id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
    }
    FilePrune(
      buckets = eq.reduceOption(_ intersect _)
        .map(_.map(ChronicleTable.bucketOf(_, numBuckets))),
      minKey = kLo, maxKey = kHi,
      fromTsMs = tLo.getOrElse(Long.MinValue), toTsMs = tHi.getOrElse(Long.MaxValue),
      fromLsn = lLo.getOrElse(Long.MinValue),
      toLsn = lHi.filter(_ => !merged).getOrElse(Long.MaxValue))
  }

  /** Inclusive (lower, upper) bounds the filters put on column `name`.
    * `conv(value, isLower, strict)` maps a filter value into the stat's
    * domain, tightening a strict bound by one unit where the domain is
    * discrete; None = a value shape the rule does not handle.
    */
  private def bounds[T](filters: Seq[sources.Filter], name: String,
      conv: (Any, Boolean, Boolean) => Option[T])(
      implicit ord: Ordering[T]): (Option[T], Option[T]) = {
    var lo: Option[T] = None
    var hi: Option[T] = None
    def tightenLo(v: Option[T]): Unit = v.foreach(x => lo = Some(lo.fold(x)(ord.max(_, x))))
    def tightenHi(v: Option[T]): Unit = v.foreach(x => hi = Some(hi.fold(x)(ord.min(_, x))))
    filters.foreach {
      case sources.EqualTo(`name`, v) =>
        tightenLo(conv(v, true, false)); tightenHi(conv(v, false, false))
      case sources.In(`name`, vs) if vs.nonEmpty =>
        val cs = vs.toSeq.flatMap(conv(_, true, false))
        if (cs.size == vs.length) { tightenLo(Some(cs.min)); tightenHi(Some(cs.max)) }
      case sources.GreaterThan(`name`, v) => tightenLo(conv(v, true, true))
      case sources.GreaterThanOrEqual(`name`, v) => tightenLo(conv(v, true, false))
      case sources.LessThan(`name`, v) => tightenHi(conv(v, false, true))
      case sources.LessThanOrEqual(`name`, v) => tightenHi(conv(v, false, false))
      case _ => ()
    }
    (lo, hi)
  }

  private def tighten(v: Long, isLower: Boolean, strict: Boolean): Long =
    if (!strict) v else if (isLower) above(v) else below(v)

  // strings can't tighten a strict bound by one unit; inclusive is sound
  private def asKey(v: Any, isLower: Boolean, strict: Boolean): Option[String] = v match {
    case s: String => Some(s)
    case _ => None
  }

  /** Timestamp values arrive as java.sql.Timestamp or java.time.Instant
    * depending on the session's java8API conf; the manifest stores millis.
    * Strict bounds tighten by one MICRO before flooring (micros are the
    * physical grain), so `ts < day` prunes a file starting exactly at `day`.
    */
  private def asTsMillis(v: Any, isLower: Boolean, strict: Boolean): Option[Long] = {
    val micros: Option[Long] = v match {
      case t: java.sql.Timestamp =>
        Some(Math.multiplyExact(t.getTime, 1000L) + (t.getNanos / 1000) % 1000)
      case i: java.time.Instant =>
        Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
          i.getNano / 1000L))
      case _ => None
    }
    micros.map(m => Math.floorDiv(tighten(m, isLower, strict), 1000L))
  }

  private def asLsn(v: Any, isLower: Boolean, strict: Boolean): Option[Long] = v match {
    case n: java.lang.Long => Some(tighten(n.longValue, isLower, strict))
    case n: java.lang.Integer => Some(tighten(n.longValue, isLower, strict))
    case _ => None
  }
}
