package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-writer-wins dedup as DataFrame queries: keep, per key, the row
  * with the highest ordering value (LSN). This collapses (a) exact
  * duplicate LSNs re-emitted on replay boundaries and (b) multiple changes
  * to the same key inside one batch. The engine's MERGE does not use these:
  * its write tasks dedup their buckets' rows in place (sorted by key and
  * LSN descending, each key's first row wins; [[MergeInto]]), riding the
  * batch's one shuffle; these serve the dedup queries and their oracles.
  *
  * The reference dedups replayed deliveries by Elasticsearch document id
  * (suro-elasticsearch/.../ElasticSearchSink.java:337 treats
  * DocumentAlreadyExistsException as success); here the same guarantee is a
  * declarative aggregate Catalyst plans with map-side partial aggregation.
  *
  * Scale: `groupBy(keys).agg(max_by(...))` already does a partial (combine)
  * pass per input partition before the shuffle, so a hot key's duplicates
  * collapse before they travel. For adversarial skew (one key dominating
  * entire input partitions *after* upstream repartitioning) `saltedLatest`
  * adds an explicit two-phase salt: partial max per (key, salt) then final
  * max per key — the north rule's explicit skew handling.
  */
object Dedup {

  /** One row per key: the one with max `ord`. Ties (duplicate LSNs) carry
    * identical payloads by construction of the log, so either wins.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], ord: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), col(ord)).as("__latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"__latest.$c")): _*)
  }

  /** Explicit two-phase (salted) variant: phase 1 reduces per (key, salt)
    * partition-locally sized groups; phase 2 reduces the at-most-`saltBuckets`
    * survivors per key. Use when a single key can exceed one reducer's
    * capacity at the final aggregation.
    */
  def saltedLatest(df: DataFrame, keys: Seq[String], ord: String,
      saltBuckets: Int): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val salt: Column = pmod(xxhash64(col(ord)), lit(saltBuckets))
    val phase1 = df.withColumn("__salt", salt)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), col(ord)).as("__latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"__latest.$c")): _*)
    latestByKey(phase1, keys, ord)
  }
}
