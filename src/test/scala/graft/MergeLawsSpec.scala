package graft

import graft.model.Model
import graft.ops.MergeInto
import graft.table.ChronicleTable
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** Property tests for the merge laws (FIXTURES.md §3):
  * apply(events) == apply(shuffle(dup(events))) — duplication and delivery
  * order must not change the final state, and the result must equal the
  * sequential last-writer-wins fold.
  */
class MergeLawsSpec extends SparkSpec {
  import spark.implicits._

  private case class Ev(lsn: Long, op: String, conv_id: String, turn_idx: Int)

  private val genEvents: Gen[List[Ev]] = for {
    n <- Gen.choose(1, 60)
    ops <- Gen.listOfN(n, Gen.frequency(6 -> "I", 3 -> "U", 1 -> "D"))
    keys <- Gen.listOfN(n, for {
      c <- Gen.choose(0, 4)
      t <- Gen.choose(0, 3)
    } yield (s"conv-$c", t))
  } yield ops.zip(keys).zipWithIndex.map { case ((op, (c, t)), i) =>
    Ev(i.toLong, op, c, t)
  }

  private def toDf(evs: Seq[Ev]) =
    evs.map(e => (e.lsn, e.op, e.conv_id, e.turn_idx, "user",
        s"text-${e.lsn}", None: Option[String], new java.sql.Timestamp(e.lsn)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def applyThroughEngine(evs: Seq[Ev], batches: Int,
      ordered: Boolean): Seq[(String, Int, String)] = {
    val root = tmpDir("laws")
    val table = new ChronicleTable(root)
    table.create(Model.physicalSchemaV1, numBuckets = 2)
    val slices =
      if (batches <= 1) Seq(evs)
      else evs.grouped(math.max(1, evs.size / batches)).toSeq
    slices.zipWithIndex.foreach { case (slice, i) =>
      MergeInto(spark, table, toDf(slice), s"b#$i", "laws",
        orderedSource = ordered)
    }
    table.read(spark)
      .filter(!org.apache.spark.sql.functions.col(Model.deletedColumn))
      .collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
        r.getAs[String]("text")))
      .sortBy(x => (x._1, x._2)).toSeq
  }

  private def oracle(evs: Seq[Ev]): Seq[(String, Int, String)] = {
    val m = scala.collection.mutable.Map[(String, Int), Ev]()
    evs.sortBy(_.lsn).foreach { e =>
      if (e.op == "D") m.remove((e.conv_id, e.turn_idx))
      else m((e.conv_id, e.turn_idx)) = e
    }
    m.values.toSeq.map(e => (e.conv_id, e.turn_idx, s"text-${e.lsn}"))
      .sortBy(x => (x._1, x._2))
  }

  private def holds(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("ordered replay in batches equals the sequential fold (any batch count)") {
    holds(Prop.forAllNoShrink(genEvents, Gen.choose(1, 5)) { (evs, batches) =>
      applyThroughEngine(evs, batches, ordered = true) == oracle(evs)
    }, 15)
  }

  test("pure-delete batch landing zero rows still commits true lineage " +
      "(AQE empty-propagation drops the write's CollectMetrics)") {
    // regression: the trailing batch's only event deletes the only touched
    // key, so the staged write is empty end-to-end; AQE re-plans the
    // finished map stage to an empty relation and the Observation returns
    // an EMPTY row — the merge must fall back to a direct aggregate
    val evs = List(Ev(0, "I", "conv-0", 3), Ev(1, "U", "conv-1", 2),
      Ev(2, "I", "conv-3", 3), Ev(3, "U", "conv-4", 3),
      Ev(4, "D", "conv-3", 3))
    assert(applyThroughEngine(evs, 3, ordered = true) == oracle(evs))
    // the delete-only commit's lineage must record the delete, not zeros
    val root = tmpDir("laws-lineage")
    val t = new ChronicleTable(root)
    t.create(Model.physicalSchemaV1, numBuckets = 2)
    MergeInto(spark, t, toDf(evs.take(4)), "b#0", "laws")
    MergeInto(spark, t, toDf(evs.drop(4)), "b#1", "laws")
    val del = t.fullLineage().find(_.batchKey == "b#1").get
    assert(del.deletes == 1L && del.upserts == 0L && del.endLsn == 4L)
  }

  test("all dedup strategies (max_by, salted, in-task) agree on any stream") {
    holds(Prop.forAllNoShrink(genEvents, Gen.choose(42L, 46L)) { (evs, seed) =>
      val rnd = new scala.util.Random(seed)
      val delivered = rnd.shuffle(evs ++ evs.filter(_ => rnd.nextInt(3) == 0))
      val df = toDf(delivered)
      def rows(d: org.apache.spark.sql.DataFrame, lsn: String) = d.collect()
        .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
          r.getAs[Long](lsn), r.getAs[String]("text")))
        .sortBy(x => (x._1, x._2)).toSeq
      // the merge's own dedup: one unordered merge-on-read commit into an
      // empty table writes exactly the batch's winners, tombstones included
      val t = new ChronicleTable(tmpDir("laws-dedup"))
      t.create(Model.physicalSchemaV1, numBuckets = 2)
      MergeInto(spark, t, df, "d#0", "laws", orderedSource = false, mergeOnRead = true)
      val base = rows(graft.ops.Dedup.latestByKey(df, Model.keyColumns, "lsn"), "lsn")
      base == rows(graft.ops.Dedup.saltedLatest(df, Model.keyColumns, "lsn", 4), "lsn") &&
        base == rows(t.read(spark), Model.lsnColumn)
    }, 10)
  }

  test("duplicated + unordered delivery converges to the same state (tombstone path)") {
    holds(Prop.forAllNoShrink(genEvents, Gen.choose(42L, 46L)) { (evs, seed) =>
      // duplicate a third of the events and shuffle delivery order across
      // batches — exactly-once semantics must absorb both
      val rnd = new scala.util.Random(seed)
      val dups = evs.filter(_ => rnd.nextInt(3) == 0)
      val delivered = rnd.shuffle(evs ++ dups)
      applyThroughEngine(delivered, 3, ordered = false) == oracle(evs)
    }, 10)
  }

  /** One commit of a merge-rule scenario: an ordered (`A`) or unordered
    * (`B`) source, copy-on-write or merge-on-read, optionally carrying a
    * column the table does not have yet (`note`).
    */
  private case class Commit(ordered: Boolean, mor: Boolean, note: Boolean, evs: List[Ev])

  /** A table row of the model: the change that wrote it. */
  private case class Cell(lsn: Long, deleted: Boolean, text: String, note: Option[String])

  private def text(c: Int, e: Ev) = s"c$c-${e.lsn}"

  /** Commits over 8 conversations x 3 turns in 4 buckets, the first on two
    * conversations (later ones reach buckets for the first time). A
    * copy-on-write commit draws distinct lsns at random below its commit's
    * ceiling (so a batch can sit below another source's row, or below its
    * own source's mark), and may repeat an earlier commit's (key, lsn) — a
    * tie. A merge-on-read commit's lsns lie above every earlier one. Any
    * batch may change one key several times, re-emit its own events
    * exactly (same lsn and payload), keep to one conversation (one
    * bucket), and redeliver earlier ordered commits' events — each at or
    * below the ordered source's mark (the newest of them at it when it
    * was applied).
    */
  private val genScenario: Gen[List[Commit]] = Gen.choose(2, 5).flatMap { k =>
    (0 until k).foldLeft(Gen.const(List.empty[Commit])) { (acc, c) =>
      acc.flatMap { done =>
        for {
          ordered <- Gen.oneOf(true, false)
          mor <- Gen.frequency(3 -> false, 1 -> (c > 0))
          note <- Gen.frequency(4 -> false, 1 -> true)
          single <- Gen.frequency(4 -> false, 1 -> true)
          n <- Gen.choose(1, 10)
          repeats <- Gen.choose(0, 3)
          keys <- Gen.listOfN(n, Gen.zip(Gen.choose(0, if (c == 0) 1 else 7), Gen.choose(0, 2)))
          ops <- Gen.listOfN(n + repeats, Gen.frequency(3 -> "U", 1 -> "D"))
          lsns <-
            if (mor) Gen.const((0 until n + repeats).map(i => (c + 1) * 100L + 50L + i))
            else Gen.pick(n + repeats, 0L until (c + 1) * 100L)
          ties <- Gen.someOf(done.flatMap(_.evs))
          reemits <- Gen.choose(0, 2)
          redelivered <- Gen.someOf(done.filter(_.ordered).flatMap(_.evs))
          newest <- Gen.oneOf(true, false)
        } yield {
          val ks = if (single) keys.map { case (_, t) => (keys.head._1, t) } else keys
          // repeats change the batch's first keys again
          val evs = (ks ++ ks.take(repeats)).zip(ops).zip(lsns)
            .map { case (((cc, t), op), lsn) => Ev(lsn, op, s"conv-$cc", t) }
          val tied = if (mor) Nil else ties.toList.take(2)
            .filterNot(e => evs.exists(_.lsn == e.lsn)).map(_.copy(op = "U"))
          val ordered0 = done.filter(_.ordered).flatMap(_.evs)
          val again = (redelivered.toList.take(2) ++
              (if (newest && ordered0.nonEmpty) Seq(ordered0.maxBy(_.lsn)) else Nil))
            .filterNot(e => (evs ++ tied).exists(x => x.lsn == e.lsn &&
              x.conv_id == e.conv_id && x.turn_idx == e.turn_idx))
            .distinctBy(e => (e.lsn, e.conv_id, e.turn_idx))
          // an unordered merge-on-read batch keeps its lsns above every
          // earlier one (its winners displace unconditionally)
          val redelivery = if (mor && !ordered) Nil else again
          done :+ Commit(ordered, mor, note, evs ++ evs.take(reemits) ++ tied ++ redelivery)
        }
      }
    }
  }

  /** The merge rule as a sequential fold: the visible rows after every
    * commit and each commit's lineage (upserts, deletes, startLsn, endLsn,
    * checksum) over the winners it applied.
    */
  private def fold(commits: Seq[Commit])
      : (Seq[(String, Int, String, Option[String])], Seq[(Long, Long, Long, Long, Long)]) = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val state = scala.collection.mutable.Map[(String, Int), Cell]()
    var hwm = -1L // the ordered source's mark
    val lineage = commits.zipWithIndex.map { case (cm, c) =>
      val winners = cm.evs.groupBy(e => (e.conv_id, e.turn_idx)).values
        .map(_.maxBy(_.lsn)).filter(e => !cm.ordered || e.lsn > hwm).toSeq
      val applied = winners.filter(w => cm.mor || cm.ordered ||
        state.get((w.conv_id, w.turn_idx)).forall(_.lsn < w.lsn))
      applied.foreach { w =>
        val key = (w.conv_id, w.turn_idx)
        if (w.op == "D" && cm.ordered && !cm.mor) state.remove(key)
        else state(key) = Cell(w.lsn, w.op == "D", text(c, w),
          if (cm.note) Some(s"n${w.lsn}") else None)
      }
      val lsns = applied.map(_.lsn)
      if (cm.ordered && lsns.nonEmpty) hwm = math.max(hwm, lsns.max)
      val upserts = applied.filter(_.op != "D")
      val checksum = upserts.map(w => new XxHash64(Seq(
          Literal.create(w.conv_id, StringType), Literal.create(w.turn_idx, IntegerType),
          Literal.create(text(c, w), StringType)))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long])
        .foldLeft(0L)(_ ^ _)
      (upserts.size.toLong, (applied.size - upserts.size).toLong,
        if (lsns.isEmpty) -1L else lsns.min, if (lsns.isEmpty) -1L else lsns.max, checksum)
    }
    val visible = state.toSeq.filterNot(_._2.deleted)
      .map { case ((k, t), cell) => (k, t, cell.text, cell.note) }.sortBy(x => (x._1, x._2))
    (visible, lineage)
  }

  test("copy-on-write and merge-on-read commits of ordered and unordered sources equal the sequential fold, lineage included") {
    holds(Prop.forAllNoShrink(genScenario) { commits =>
      val t = new ChronicleTable(tmpDir("laws-rule"))
      t.create(Model.physicalSchemaV1, numBuckets = 4)
      commits.zipWithIndex.foreach { case (cm, c) =>
        val df = cm.evs.map(e => (e.lsn, e.op, e.conv_id, e.turn_idx, "user",
            text(c, e), None: Option[String], new java.sql.Timestamp(e.lsn), s"n${e.lsn}"))
          .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "note")
        MergeInto(spark, t, if (cm.note) df else df.drop("note"),
          s"${if (cm.ordered) "A" else "B"}#$c", "laws",
          orderedSource = cm.ordered, mergeOnRead = cm.mor)
      }
      val (visible, lineage) = fold(commits)
      val read = t.read(spark).filter(!org.apache.spark.sql.functions.col(Model.deletedColumn))
      val hasNote = read.columns.contains("note")
      val got = read.collect().map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
          r.getAs[String]("text"), if (hasNote) Option(r.getAs[String]("note")) else None))
        .sortBy(x => (x._1, x._2)).toSeq
      val entries = t.fullLineage()
      val gotLineage = commits.indices.map { c =>
        val e = entries.find(_.batchKey.endsWith(s"#$c")).get
        (e.upserts, e.deletes, e.startLsn, e.endLsn, e.checksum)
      }
      (got == visible) :| s"state\n$got\n$visible" &&
        (gotLineage == lineage) :| s"lineage\n$gotLineage\n$lineage"
    }, 15)
  }
}
