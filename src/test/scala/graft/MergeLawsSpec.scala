package graft

import graft.model.Model
import graft.ops.MergeInto
import graft.table.ChronicleTable
import org.scalacheck.{Gen, Prop, Test => SCTest}

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

  test("all dedup strategies (max_by, salted, window) agree on any stream") {
    holds(Prop.forAllNoShrink(genEvents, Gen.choose(42L, 46L)) { (evs, seed) =>
      val rnd = new scala.util.Random(seed)
      val delivered = rnd.shuffle(evs ++ evs.filter(_ => rnd.nextInt(3) == 0))
      val df = toDf(delivered)
      def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
          r.getAs[Long]("lsn"), r.getAs[String]("text")))
        .sortBy(x => (x._1, x._2)).toSeq
      val base = rows(graft.ops.Dedup.latestByKey(df, Model.keyColumns, "lsn"))
      base == rows(graft.ops.Dedup.saltedLatest(df, Model.keyColumns, "lsn", 4)) &&
        base == rows(graft.ops.Dedup.latestByKeyWindow(df, Model.keyColumns, "lsn"))
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
}
