package graft.util

import org.apache.spark.sql.SparkSession

/** Session plumbing shared by the CLI mains.
  *
  * `local-cluster[n,cores,memMB]` masters spawn REAL executor JVMs (one
  * heap + GC + shuffle pipeline per executor) — the faithful single-box
  * stand-in for the rule's N vs 4N EXECUTORS, where plain `local[k]`
  * multiplexes every task over one shared JVM whose GC/allocator/scheduler
  * contention grows with k and systematically understates cluster scaling.
  * Executors are separate processes, so the driver's classpath and JDK17
  * add-opens must be forwarded explicitly.
  */
object Sessions {

  val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED")

  /** Session-level confs every engine session wants. TIMESTAMP_MICROS is
    * set HERE, once, because a per-write set/restore races under concurrent
    * same-session sink merges (one thread's restore can flip another
    * thread's in-flight write back to INT96, whose files carry no usable
    * ts statistics — readers' row-group pruning on ts then keeps
    * everything).
    */
  def tuneForEngine(b: SparkSession.Builder): SparkSession.Builder = {
    val withTs =
      b.config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Storage codec knob (GRAFT_PARQUET_CODEC=zstd|snappy|lz4|…). Unset
    // keeps Spark's default (snappy). At IO-bound parallelism the write
    // phase is limited by BYTES flushed, not CPU — a denser codec trades
    // spare compute for bandwidth; see BENCH.md round 5 for the measured
    // trade-off on transcript payloads.
    // (Tried and reverted this round: spark.sql.join.preferSortMergeJoin=
    // false — measured no effect on the 9-query join subset, 10.27 s vs
    // 10.31 s; the engine's joins are broadcast or batch-bounded already,
    // so the knob would be config churn, not a win.)
    sys.env.get("GRAFT_PARQUET_CODEC").fold(withTs)(c =>
      withTs.config("spark.sql.parquet.compression.codec", c))
  }

  /** Apply executor-process plumbing when the master launches separate
    * executor JVMs; no-op for in-process masters. `execCores` > 0 pins each
    * executor JVM's view of the machine to its core grant
    * (-XX:ActiveProcessorCount): availableProcessors() otherwise reports
    * EVERY host core inside EVERY executor, so N co-located executors spawn
    * N full-width GC/netty/fork-join pools that storm the box — on real
    * clusters the container's cpuset does this for free. Observed here:
    * a 4-executor parquet write ran 1.4x SLOWER than 1 executor until
    * pinned.
    */
  private val LocalCluster = """local-cluster\[\s*\d+\s*,\s*(\d+)\s*,\s*\d+\s*\]""".r

  def tuneForMaster(b: SparkSession.Builder, master: String,
      execCores: Int = 0): SparkSession.Builder = {
    if (master.startsWith("local-cluster")) {
      val cores = if (execCores > 0) execCores else master match {
        case LocalCluster(c) => c.toInt
        case _ => 0
      }
      val pin =
        if (cores > 0) Seq(s"-XX:ActiveProcessorCount=$cores") else Nil
      b.config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
        .config("spark.executor.extraJavaOptions",
          (jdk17AddOpens ++ pin :+ "-XX:+UseParallelGC").mkString(" "))
    }
    tuneForEngine(b)
  }
}
