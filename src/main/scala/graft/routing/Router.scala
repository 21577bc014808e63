package graft.routing

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.dsl.FilterDsl
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One route: an optional DSL filter, a destination sink name, and an
  * optional routing-key alias — the reference's
  * `RoutingInfo{filter, where:[Route{sink, filter, alias}]}` JSON shape
  * (suro-core/.../routing/RoutingMap.java:40-132) flattened to a list.
  */
case class RouteConfig(
    sink: String,
    filter: Option[String] = None,
    alias: Option[String] = None)

/** Routing table: routes evaluated per event; events matching no route go
  * to the mandatory default sink (the reference enforces a `default` sink,
  * DynamicPropertySinkConfigurator.java:54-56). Events with a null/empty
  * routing key are quarantined rather than silently dropped (the
  * reference's drop-counting, MessageRouter.java:61-65, upgraded to an
  * inspectable output).
  */
case class RoutingTable(
    keyColumn: String,
    routes: Seq[RouteConfig],
    defaultSink: String = "default",
    quarantineSink: String = "quarantine")

/** Spark-native re-expression of `MessageRouter.process`
  * (suro-core/.../routing/MessageRouter.java:60-102): the routing table
  * compiles once into Catalyst predicates, and [[Router.fanoutWrite]]
  * tags events with the sinks they match, explodes them and writes
  * `partitionBy(sink)` — exactly ONE scan and ONE write job regardless of
  * route count. (Table sinks fan out through
  * [[graft.cdc.MultiSinkPipeline]].)
  */
object Router {

  /** One-pass fan-out write. Each input row is scanned once, tagged with
    * every matching route (sink + optional alias), and the exploded result
    * is written partitioned by sink directory. Multi-match duplicates the
    * event into each sink (suro writes to every matching route's sink,
    * MessageRouter.java:79-99); no match -> default sink; null/empty key ->
    * quarantine sink. Returns per-sink row counts.
    */
  def fanoutWrite(df: DataFrame, table: RoutingTable, outDir: String): Map[String, Long] = {
    val key = col(table.keyColumn)
    val keyless = coalesce(key.isNull || (key.cast("string") === lit("")), lit(true))
    val tagType = "struct<sink:string,alias:string>"
    val routeTags: Seq[Column] = table.routes.map { r =>
      val pred = coalesce(r.filter.map(FilterDsl.compile).getOrElse(lit(true)), lit(false))
      when(pred, struct(
        lit(r.sink).as("sink"),
        r.alias.map(lit(_)).getOrElse(lit(null)).cast("string").as("alias")))
        .otherwise(lit(null).cast(tagType))
    }
    val matched = filter(array(routeTags: _*), t => t.isNotNull)
    val defaultTag = array(struct(lit(table.defaultSink).as("sink"),
      lit(null).cast("string").as("alias")))
    val quarantineTag = array(struct(lit(table.quarantineSink).as("sink"),
      lit(null).cast("string").as("alias")))
    val tagged = df
      .withColumn("__tags",
        when(keyless, quarantineTag)
          .when(size(matched) === 0, defaultTag)
          .otherwise(matched))
      .withColumn("__tag", explode(col("__tags")))
      .withColumn(table.keyColumn,
        coalesce(col("__tag.alias").cast(df.schema(table.keyColumn).dataType), key))
      .withColumn("__sink", col("__tag.sink"))
      .drop("__tags", "__tag")
    // Per-sink counts ride the write itself as observed metrics (one
    // conditional-sum column per statically-known sink): ONE job total,
    // where per-sink post-hoc count() jobs — however cheap each footer
    // read is — would add O(sinks) job launches per batch.
    val sinkNames = (table.routes.map(_.sink) :+
      table.defaultSink :+ table.quarantineSink).distinct
    val obs = org.apache.spark.sql.Observation()
    val countCols = sinkNames.map(s =>
      sum(when(col("__sink") === s, 1L).otherwise(0L)).as(s))
    tagged.observe(obs, countCols.head, countCols.tail: _*)
      .write.partitionBy("__sink").mode("overwrite").parquet(outDir)
    obs.get.map { case (s, n) => s -> n.asInstanceOf[Long] }
      .filter(_._2 > 0)
  }

  /** Parse a routes JSON file: `[{"sink": "...", "filter": "...", "alias": "..."}]`
    * — the engine-config analogue of suro-server/conf/routingmap.json.
    */
  def parseRoutes(json: String): Seq[RouteConfig] = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.readValue(json, classOf[Array[RouteConfig]]).toSeq
  }
}
