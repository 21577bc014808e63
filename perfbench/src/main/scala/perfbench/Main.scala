package perfbench

import graft.util.Sessions
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir> --out <dir>`. Prints the workload's metrics, notes and
  * correctness gates, then one JSON line with the result and the run
  * record. Exits 1 when a gate fails, after printing. `run.py` builds the
  * harness, launches this and turns the JSON line into the benchmark's
  * result line.
  */
object Main {

  val workloads: Map[String, Run => Workload] = Map(
    "replay_bulk" -> (r => new ReplayBulk(r)),
    "intake_tail" -> (r => new IntakeTail(r)),
    "serve_mixed" -> (r => new ServeMixed(r)))

  /** Set-up repetitions per run; `setup_s` takes their median. */
  val setupReps = 3

  /** Progress line on stderr (kept in the run's log): seconds since JVM start. */
  def phase(what: String): Unit = System.err.println(f"[perfbench] $what at " +
    f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1fs")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, sys.error(s"missing --$k (see perfbench/README.md)"))
    val name = opt("workload")
    val make = workloads.getOrElse(name,
      sys.error(s"unknown workload $name; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out")).toAbsolutePath
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = session(name, work)
    val sessionSec = (System.nanoTime() - t0) / 1e9
    phase("session started")
    val tracer = new Tracer(traced, spark.sparkContext)
    val run = new Run(spark, Files.createDirectories(work.resolve("data")), seed,
      seconds, tracer)
    val ok = try measure(run, make(run), name, sessionSec, out, opts)
    finally spark.stop()
    phase("session stopped")
    if (!ok) sys.exit(1)
  }

  private def session(name: String, work: Path): SparkSession = {
    val nproc = Runtime.getRuntime.availableProcessors
    val s = Sessions.tuneForEngine(SparkSession.builder()
      .master(s"local[$nproc]").appName(s"perfbench-$name"))
      .config("spark.sql.shuffle.partitions", nproc.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set up, measure, report. Returns whether every gate passed. */
  private def measure(run: Run, wl: Workload, name: String, sessionSec: Double,
      out: Path, opts: Map[String, String]): Boolean = {
    val repSec = (0 until setupReps).map { r =>
      val t = System.nanoTime()
      wl.setup(r)
      phase(s"set-up ${r + 1} done")
      (System.nanoTime() - t) / 1e9
    }
    val sc = run.spark.sparkContext
    val listener = if (run.tracer.on) Some(new JobListener) else None
    listener.foreach(sc.addSparkListener)
    val heap = new HeapPeak
    heap.start()
    val gc0 = Probe.gcSeconds()
    val cpu0 = Probe.cpuJiffies()
    val start = run.tracer.now()
    wl.measure(start + run.seconds * 1000000000L)
    val wallSec = (run.tracer.now() - start) / 1e9
    val steal = Probe.stealShare(cpu0, Probe.cpuJiffies())
    val gcSec = Probe.gcSeconds() - gc0
    val heapMb = heap.finish()
    phase("timed part done")
    listener.foreach { l =>
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(l)
    }
    val jobs = listener.map(_.jobs.values.asScala.toSeq).getOrElse(Nil)

    run.metric("setup_s", sessionSec + Stats.median(repSec), "s")
    wl.report(jobs)
    phase("report and gates done")
    run.metric("op_fail_frac", run.failed.toDouble / math.max(1L, run.attempted), "ratio")
    run.metric("heap_peak_mb", heapMb, "MB")
    if (run.tracer.on) run.metric("spark.gc_s", gcSec, "s")

    val layers =
      if (!run.tracer.on) None
      else Some(LayerReport(run.tracer.spans, jobs, run.windows.toMap))
    layers.foreach { r =>
      println(s"[$name] per-layer self time (traced run):")
      print(LayerReport.render(r))
      writeTrace(out.resolve(s"trace-$name-seed${run.seed}.jsonl"), run.tracer.spans, jobs)
    }
    run.notes.foreach(n => println(s"[$name] note: $n"))
    run.gates.foreach { case (g, ok, detail) =>
      println(s"[$name] gate ${if (ok) "PASS" else "FAIL"}: $g ($detail)")
    }
    val correct = run.gates.nonEmpty && run.gates.forall(_._2)
    if (!correct) System.err.println(s"[$name] CORRECTNESS GATE FAILED")

    val record = new java.util.LinkedHashMap[String, Any]()
    record.put("workload", name)
    record.put("seed", run.seed)
    record.put("seconds", run.seconds)
    record.put("trace", run.tracer.on)
    record.put("git_sha", opts.getOrElse("git-sha", "unknown"))
    record.put("source_digest", opts.getOrElse("source-digest", "unknown"))
    record.put("nproc", Runtime.getRuntime.availableProcessors)
    record.put("steal_share", steal)
    record.put("timed_wall_s", wallSec)
    record.put("session_s", sessionSec)
    record.put("setup_reps_s", repSec.asJava)
    record.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576)
    record.put("jvm_args", ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(a => a.startsWith("-X")).asJava)
    record.put("spark_master", run.spark.sparkContext.master)
    record.put("spark_confs", run.spark.conf.getAll
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.local.dir" }
      .toSeq.sortBy(_._1).toMap.asJava)
    record.put("workload_sizes", run.sizes.toMap.asJava)
    layers.foreach { r =>
      record.put("layer_self_s", r.rows.map(x => x.layer -> x.selfSec).toMap.asJava)
      record.put("idle_s", r.idleSec.asJava)
      record.put("self_plus_idle_share", r.accounted)
    }
    val metrics = new java.util.LinkedHashMap[String, Any]()
    run.metrics.foreach { case (k, (v, u)) =>
      metrics.put(k, Map("value" -> v, "unit" -> u).asJava)
    }
    val res = new java.util.LinkedHashMap[String, Any]()
    res.put("correct", correct)
    res.put("attempted", run.attempted)
    res.put("failed", run.failed)
    res.put("metrics", metrics)
    res.put("notes", run.notes.asJava)
    res.put("gates", run.gates.map { case (g, ok, d) =>
      Map("gate" -> g, "pass" -> ok, "detail" -> d).asJava }.asJava)
    res.put("record", record)
    println(Json.mapper.writeValueAsString(res))
    correct
  }

  private def writeTrace(p: Path, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val m = Json.mapper
    val lines = spans.sortBy(_.start).map { s =>
      m.writeValueAsString(Map("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "layer" -> s.layer, "name" -> s.name, "role" -> s.role,
        "start_ns" -> s.start, "end_ns" -> s.end).asJava)
    } ++ jobs.sortBy(_.jobId).map { j =>
      m.writeValueAsString(Map("kind" -> "job", "job" -> j.jobId, "parent" -> j.span,
        "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "first_task_ms" -> j.firstTaskMs,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill, "input" -> j.input, "output" -> j.output).asJava)
    }
    Files.write(p, lines.asJava)
  }
}
