package graft.ann

import graft.dedup.DocDedup.md5Long
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (unit-norm float vectors).
  *
  * For oracle-exact determinism every vector is quantized to scaled
  * integers (round(x*1000)) and similarity is the exact-integer inner
  * product — for unit-norm vectors, max-inner-product ranking IS cosine
  * ranking, with zero float-summation ambiguity between engines.
  *
  * Scale path: brute force is O(Q·N) (fine when the query set is small and
  * broadcast); the LSH variant buckets vectors by random-hyperplane signs
  * so candidate generation shuffles by bucket instead of crossing N×N.
  */
object Ann {

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Integer-quantized vector column. */
  def quantized(c: Column): Column =
    transform(c, x => round(x.cast("double") * 1000).cast("long"))

  /** Bucket-size cap for LSH candidate generation (the stop-bucket analog
    * of [[graft.dedup.DocDedup.maxShingleDf]]): candidate pairs are
    * generated all-pairs WITHIN a bucket, so one degenerate bucket (near-
    * zero vectors, or any skewed region hashing to one signature) would
    * put |B|^2 pairs on a single reducer. Buckets above the cap generate
    * no candidates. Mirrored exactly in the oracle SQL.
    */
  val maxBucketSize = 64

  /** Drop members of over-cap buckets. A count window over the bucket
    * partition, NOT a separate size-aggregate + anti-join: the window rides
    * the one shuffle-by-bucket the candidate join needs anyway, where a
    * second aggregate would re-evaluate the whole bucket pipeline (no
    * cache pins executor memory behind a long-lived session, so repeated
    * sub-plans are re-executed unless the plan shape avoids them).
    */
  private def dropHotBuckets(b: DataFrame, cap: Int): DataFrame =
    b.withColumn("__bsz",
        count(lit(1)).over(Window.partitionBy("bucket")))
      .filter(col("__bsz") <= cap)
      .drop("__bsz")

  /** (vec_id, j, x) per vector dimension, quantized AFTER the explode so
    * the whole projection stays in whole-stage codegen — quantizing the
    * array first ([[quantized]]) runs `transform`, an INTERPRETED
    * higher-order function, over every row before exploding it.
    */
  private def flatQ(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("j"),
        round(col("col").cast("double") * 1000).cast("long").as("x"))

  /** Exact quantized inner product for a set of candidate (a, b) pairs via
    * posexplode + hash aggregate — every operator stays inside whole-stage
    * codegen, unlike a per-pair `aggregate(zip_with(…))` dot product
    * (interpreted higher-order functions, measured ~3x slower on the
    * brute-force path and fixed there first).
    * `flat` must be the [[flatQ]] of the vectors to score (callers
    * restrict it to the candidate ids when the pair set is selective, so
    * the corpus is never exploded twice in full); output (a, b, dot_q).
    */
  private def scorePairsFlat(flat: DataFrame, pairs: DataFrame): DataFrame =
    scorePairsFlat2(flat, flat, pairs)

  /** [[scorePairsFlat]] with distinct per-side flats: top-k callers pass a
    * queries-only a-side (numQueries vectors) so the corpus explode feeds
    * only the b-side join.
    */
  private def scorePairsFlat2(flatA: DataFrame, flatB: DataFrame,
      pairs: DataFrame): DataFrame =
    pairs
      .join(flatA.select(col("vec_id").as("a"), col("j"), col("x").as("xa")),
        Seq("a"))
      .join(flatB.select(col("vec_id").as("b"), col("j"), col("x").as("xb")),
        Seq("b", "j"))
      .groupBy("a", "b")
      .agg(sum(col("xa") * col("xb")).as("dot_q"))

  /** [[flatQ]] restricted to the vectors a materialized pair set actually
    * references — a broadcast semi-join keeps the explode proportional to
    * the candidate set, not the corpus.
    */
  private def flatQFor(emb: DataFrame, pairsM: DataFrame): DataFrame = {
    val ids = pairsM.select(col("a").as("vec_id"))
      .unionByName(pairsM.select(col("b").as("vec_id"))).distinct()
    flatQ(emb.join(broadcast(ids), Seq("vec_id"), "left_semi"))
  }

  /** Brute-force top-k by inner product: query set = vec_id < numQueries,
    * broadcast against the full table (the baseline every ANN variant is
    * measured against).
    */
  def bruteForceTopK(spark: SparkSession, dir: String,
      numQueries: Int = 8, k: Int = 3): DataFrame = {
    val emb = embeddings(spark, dir)
    // posexplode + hash aggregate keeps the dot product inside whole-stage
    // codegen (array higher-order functions are interpreted, measured ~3x
    // slower here); the query side explodes only the numQueries vectors
    // (filter pushed into its own scan) instead of re-exploding the corpus
    val flat = flatQ(emb)
    val qflat = flatQ(emb.filter(col("vec_id") < numQueries))
      .select(col("vec_id").as("query_id"), col("j"), col("x").as("qx"))
    val scored = flat.join(broadcast(qflat), Seq("j"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("x") * col("qx")).as("dot_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot_q")
      .orderBy("query_id", "rank")
  }

  val numPlanes = 12

  /** Hyperplane weight for (plane p, dimension j): a deterministic
    * md5-derived integer in [-1000, 1000] — reproducible in the oracle.
    */
  def planeWeight(p: Column, j: Column): Column =
    md5Long(concat(p.cast("string"), lit("_"), j.cast("string"))) % 2001 - 1000

  /** Dimensions covered by the PRECOMPUTED weight tables below; higher
    * dimensions fall back to the per-row md5 expression (same value).
    */
  private val planeWeightDims = 1024

  /** [[planeWeight]] precomputed driver-side per plane: the weight depends
    * only on (p, j) — numPlanes x dim distinct values — yet the column
    * expression made every exploded (vec_id, j) row pay numPlanes md5s
    * (measured: ~1.5M md5 evaluations per bucket pass at sf0.1). A literal
    * lookup table turns that into an array index. The Scala math mirrors
    * the column expression exactly: md5 hex, first 15 nibbles as a 60-bit
    * int, % 2001 - 1000.
    */
  private lazy val planeWeightTable: IndexedSeq[Seq[Long]] =
    (0 until numPlanes).map { p =>
      Array.tabulate(planeWeightDims) { j =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${p}_${j}".getBytes("UTF-8"))
        val hex = d.map(b => f"$b%02x").mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16) % 2001 - 1000
      }.toSeq
    }

  /** Weight lookup: literal-array element_at under the table bound, the
    * md5 expression above it (keeps correctness for any dimensionality).
    */
  private def planeWeightFast(p: Int, j: Column): Column =
    when(j < planeWeightDims,
      element_at(typedLit(planeWeightTable(p)), j + 1))
      .otherwise(planeWeight(lit(p), j))

  /** LSH bucket assignment by random-hyperplane signs: bit p of the bucket
    * is sign(sum_j w(p,j) * q_j). Integer-exact end to end.
    */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    lshBucketsOver(embeddings(spark, dir)).orderBy("vec_id")

  def lshBucketsOver(emb: DataFrame): DataFrame = {
    // ONE aggregation pass with numPlanes codegen'd sum columns instead of
    // a xnumPlanes row explosion and a second shuffle (the simhash
    // 32-column trick, DocDedup.simhash): per (vec_id, j, x) row all 12
    // plane contributions are plain aggregate columns, so the shuffle is
    // N x dim rows once — and map-side partial aggregation reduces it to
    // one row per vector per partition before it ships.
    val projSums = (0 until numPlanes).map(p =>
      sum(planeWeightFast(p, col("j")) * col("x")).as(s"proj$p"))
    val bucketBits = (0 until numPlanes).map(p =>
      when(col(s"proj$p") > 0, lit(1L << p)).otherwise(0L))
    flatQ(emb)
      .groupBy("vec_id")
      .agg(projSums.head, projSums.tail: _*)
      .select(col("vec_id"), bucketBits.reduce(_ + _).as("bucket"))
  }

  /** SQL fragment listing a query's probe buckets: its own bucket plus all
    * buckets within Hamming distance `radius` (1 -> numPlanes+1 probes,
    * 2 -> +C(numPlanes,2) more). Multi-probe trades a bounded candidate
    * fan-out for recall — the standard fix for single-probe hyperplane LSH
    * missing near neighbors that straddle one or two hyperplanes.
    */
  private def probeExpr(radius: Int): String = {
    val n = numPlanes
    val r1 = s"transform(sequence(0, ${n - 1}), p -> bucket ^ shiftleft(1L, p))"
    val r2 = s"flatten(transform(sequence(0, ${n - 2}), p -> " +
      s"transform(sequence(p + 1, ${n - 1}), r -> " +
      "bucket ^ shiftleft(1L, p) ^ shiftleft(1L, r))))"
    radius match {
      case 0 => "array(bucket)"
      case 1 => s"concat(array(bucket), $r1)"
      case 2 => s"concat(array(bucket), $r1, $r2)"
      case _ => sys.error(s"unsupported probe radius $radius")
    }
  }

  /** Multi-probe LSH top-k: queries probe their bucket neighborhood, rank
    * candidates by exact quantized inner product, keep k. The ANN scale
    * path: candidate generation is a shuffle-by-bucket join (never Q×N);
    * recall vs [[bruteForceTopK]] is spec-asserted (DocDedupSpec) at a
    * fixed probe budget.
    */
  def lshTopK(spark: SparkSession, dir: String, numQueries: Int = 8,
      k: Int = 3, probeRadius: Int = 1): DataFrame =
    lshTopKOver(embeddings(spark, dir), numQueries, k, probeRadius)

  /** Same, over an arbitrary (vec_id, embedding) frame — used by the recall
    * spec with planted-neighbor fixtures.
    */
  def lshTopKOver(emb: DataFrame, numQueries: Int, k: Int,
      probeRadius: Int): DataFrame = {
    // The bucket table feeds BOTH the probe side and the (hot-capped)
    // neighbor side, and ReuseExchange dedups neither — materialize the
    // tiny (vec_id, bucket) frame once and scan it twice.
    val b = graft.util.Scratch.materialize(emb.sparkSession,
      lshBucketsOver(emb), "ann-buckets")
    val probes = b.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
      .withColumn("probe", explode(expr(probeExpr(probeRadius))))
      .drop("bucket")
    // each neighbor lives in exactly one bucket and probe buckets are
    // distinct, so the join cannot duplicate a candidate; over-cap buckets
    // contribute no candidates (stop-bucket skew bound — a hot bucket
    // would otherwise fan every probing query out by |B|)
    val cand = graft.util.Scratch.materialize(emb.sparkSession,
      probes.join(
        dropHotBuckets(b, maxBucketSize)
          .select(col("vec_id").as("neighbor_id"), col("bucket").as("nb")),
        col("probe") === col("nb"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id").as("a"), col("neighbor_id").as("b")),
      "ann-cand")
    // exact rerank over only the vectors the candidate set references:
    // queries on the a-side, candidate neighbors on the b-side
    val nbrIds = cand.select(col("b").as("vec_id")).distinct()
    val scored = scorePairsFlat2(
      flatQ(emb.filter(col("vec_id") < numQueries)),
      flatQ(emb.join(broadcast(nbrIds), Seq("vec_id"), "left_semi")), cand)
      .select(col("a").as("query_id"), col("b").as("neighbor_id"), col("dot_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot_q")
      .orderBy("query_id", "rank")
  }

  /** Bucketed ANN: exact inner product only within an LSH bucket — the
    * scale path (shuffle by bucket, no N×N cross join). Emits candidate
    * pairs above a quantized-dot threshold.
    */
  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidates whose
    * quantized cosine clears the threshold. Vectors are unit-norm, so
    * cos ~= dot_q / 1e6; emitted as cos_e4 = dot_q / 100 (integer-exact).
    */
  def embeddingNearDup(spark: SparkSession, dir: String,
      minCosE4: Long = 2500L): DataFrame =
    lshCandidatePairs(spark, dir, minDotQ = minCosE4 * 100)
      .select(col("a"), col("b"), expr("dot_q div 100").as("cos_e4"))
      .orderBy("a", "b")

  def lshCandidatePairs(spark: SparkSession, dir: String,
      minDotQ: Long = 200000L): DataFrame =
    lshCandidatePairsOver(embeddings(spark, dir), minDotQ)

  def lshCandidatePairsOver(emb: DataFrame, minDotQ: Long): DataFrame = {
    // capped bucket table materialized once for the self-join (see
    // lshTopKOver); candidate pairs materialized so the exact-rerank
    // explode is restricted to the vectors the pairs reference
    val capped = graft.util.Scratch.materialize(emb.sparkSession,
      dropHotBuckets(lshBucketsOver(emb), maxBucketSize), "ann-capped")
    val pairs = graft.util.Scratch.materialize(emb.sparkSession,
      capped.select(col("vec_id").as("a"), col("bucket"))
        .join(capped.select(col("vec_id").as("b"), col("bucket")), Seq("bucket"))
        .filter(col("a") < col("b"))
        .select("a", "b"), "ann-pairs")
    scorePairsFlat(flatQFor(emb, pairs), pairs)
      .filter(col("dot_q") >= minDotQ)
      .orderBy("a", "b")
  }

  // ------------------------------------------------------------------ IVF

  val ivfNlist = 16
  val ivfNprobe = 4

  /** IVF (inverted-file) ANN — the OTHER named scale path beside LSH: a
    * coarse quantizer partitions vectors into `ivfNlist` cells, queries
    * probe only the `ivfNprobe` nearest cells' inverted lists. Production
    * IVF learns centroids with k-means; here the coarse quantizer is
    * DETERMINISTIC — the centroids are the nlist vectors with the smallest
    * md5-hash of their id (a hash-random corpus sample: k-means++'s
    * seeding step without the Lloyd iterations), so cell assignment is
    * integer-exact and the DuckDB oracle reproduces it bit-for-bit. The
    * plan is the production shape regardless: centroids broadcast (nlist
    * rows), assignment one scored pass, candidate generation a
    * shuffle-by-cell join — never Q×N.
    */
  def ivfCentroids(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .orderBy(md5Long(concat(lit("ivf_"), col("vec_id").cast("string"))),
        col("vec_id"))
      .limit(ivfNlist)
      // quantize AFTER the top-nlist cut: the interpreted `transform` runs
      // over nlist rows, not the corpus
      .select(col("vec_id").as("cell"), quantized(col("embedding")).as("cq"))

  /** (vec_id, cell, dot_q) for every vector × centroid — one broadcast
    * join + hash aggregate, all codegen'd (same posexplode trick as
    * [[scorePairsFlat]]).
    */
  private def scoreCentroids(emb: DataFrame): DataFrame = {
    val cflat = ivfCentroids(emb)
      .select(col("cell"), posexplode(col("cq")))
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "cx")
    flatQ(emb).join(broadcast(cflat), Seq("j"))
      .groupBy("vec_id", "cell")
      .agg(sum(col("x") * col("cx")).as("dot_q"))
  }

  /** Cell assignment: each vector joins its max-inner-product centroid
    * (ties to the smaller cell id). The inverted-file layout at scale IS
    * this frame written bucketed by `cell`.
    */
  def ivfCells(spark: SparkSession, dir: String): DataFrame =
    ivfCellsOver(embeddings(spark, dir)).orderBy("vec_id")

  def ivfCellsOver(emb: DataFrame): DataFrame =
    cellsFromScores(scoreCentroids(emb))

  /** Max-inner-product cell assignment from a precomputed score frame. */
  private def cellsFromScores(scores: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("dot_q").desc, col("cell"))
    scores
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("cell"))
  }

  /** IVF top-k: queries rank the centroids, probe the nearest `nprobe`
    * cells, exact-rerank the probed inverted lists. Recall vs
    * [[bruteForceTopK]] is spec-asserted on the planted-neighbor fixture.
    */
  def ivfTopK(spark: SparkSession, dir: String, numQueries: Int = 8,
      k: Int = 3, nprobe: Int = ivfNprobe): DataFrame =
    ivfTopKOver(embeddings(spark, dir), numQueries, k, nprobe)

  def ivfTopKOver(emb: DataFrame, numQueries: Int, k: Int,
      nprobe: Int): DataFrame = {
    // ONE vector x centroid scoring pass, materialized: the probe ranking
    // and the cell assignment both consume it (the old plan ran the whole
    // broadcast-join + aggregate twice — ReuseExchange dedups neither).
    val scores = graft.util.Scratch.materialize(emb.sparkSession,
      scoreCentroids(emb), "ivf-scores")
    val wq = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("cell"))
    val probes = scores
      .filter(col("vec_id") < numQueries)
      .withColumnRenamed("vec_id", "query_id")
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select("query_id", "cell")
    // each vector lives in exactly ONE cell and a query's probed cells are
    // distinct, so the inverted-list join cannot duplicate a candidate
    val cand = probes
      .join(cellsFromScores(scores).withColumnRenamed("vec_id", "neighbor_id"),
        Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id").as("a"), col("neighbor_id").as("b"))
    // cand spans ~nprobe/nlist of the corpus per query — not selective, so
    // the rerank explodes the corpus once for the neighbor side; the query
    // side explodes only the numQueries vectors
    val scored = scorePairsFlat2(
      flatQ(emb.filter(col("vec_id") < numQueries)), flatQ(emb), cand)
      .select(col("a").as("query_id"), col("b").as("neighbor_id"), col("dot_q"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot_q")
      .orderBy("query_id", "rank")
  }
}
