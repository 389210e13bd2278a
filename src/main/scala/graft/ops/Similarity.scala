package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): codegen'd
  * [[graft.exprs.VectorDot]] dot products, window top-k.
  * Baseline: brute-force cosine top-k. Scale paths: random-hyperplane LSH
  * bucketing and IVF coarse quantization; exact re-rank inside candidate
  * buckets; deterministic seeds throughout.
  *
  * WHICH ANN TO DEFAULT TO: **IVF** ([[ivfTopK]]). Measured recall@10 at
  * comparable scanned fractions (BASELINE.md round 5, "ANN recall on BOTH
  * fixtures": both the worst-case uniform fixture and a clustered
  * mixture-of-centers fixture): IVF's data-trained centroids track corpus
  * structure, while data-independent hyperplanes cannot — LSH's recall at
  * production knobs is far below IVF's on both fixtures. Use [[lshTopK]]
  * when training a quantizer is impossible (true streaming one-pass) or as
  * the signature machinery for near-dup pair detection
  * ([[cosineDupPairs]]), where exact-signature collision of duplicates is
  * the property being used, not approximate recall. For query batches,
  * train once with [[ivfCentroids]] and probe via the pretrained
  * [[ivfTopK]] overload. */
object Similarity {

  /** Codegen'd dot product (semantics identical to the HOF
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` it replaced, which
    * VectorDotSpec keeps as the test oracle — the HOF form is
    * CodegenFallback and was the hot loop's bottleneck at 100 TB of
    * embeddings). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.exprs.VectorDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Exact top-k per `query_id` — the one ranking every per-query top-k
    * uses (the cosine paths here and [[graft.spatial.SpatialOps.knn]]): one
    * `row_number()` window partitioned by `query_id` alone, ordered by
    * `order` (which must end in a unique tie-break), filtered at `rn <= k`.
    * For k up to `spark.sql.optimizer.windowGroupLimitThreshold` (1000 by
    * default) Spark plans the filter as a pair of `WindowGroupLimit`s: the
    * Partial one keeps at most k rows per query in each map task before the
    * one exchange on `query_id`, so no task sorts a query's whole candidate
    * set and the brute scans keep their map-side parallelism, and the Final
    * one ranks the ≤ k·tasks survivors. Returns `scored`'s columns plus the
    * rank `rn` (1..k). */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int, order: Seq[Column]): DataFrame =
    scored.withColumn("rn", row_number().over(Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col("rn") <= k)

  /** [[topKPerQuery]] by cosine (desc, `vec_id` tie-break). */
  private def cosineTopK(scored: DataFrame, k: Int): DataFrame =
    topKPerQuery(scored, k, Seq(col("cos").desc, col("vec_id")))
      .select("query_id", "vec_id", "cos", "rn")

  /** Brute-force cosine top-k: queries × corpus, exact. The corpus side
    * streams; the query side broadcasts. O(Q·N) — the ground-truth baseline
    * and the right tool when Q is small. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding").as("q_emb"))
    val scored = corpus.crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("embedding"), col("q_emb")))
    cosineTopK(scored, k)
  }

  /** recall@k of an approximate result against exact `truth` — both shaped
    * (query_id, vec_id, …). THE recall definition: every consumer
    * (Bench's per-round `sim_*_recall_at10` fields, the BASELINE.md recall
    * sweeps) must route through here so the protocol cannot drift between
    * the artifact and the BASELINE table. PRECONDITION: callers should
    * `.cache()` (and materialize) `truth` before sweeping — each call
    * counts it for the denominator and joins against it, so an uncached
    * bruteTopK re-executes the full O(N·Q) scan per call. */
  def recallAgainst(truth: DataFrame, approx: DataFrame): Double = {
    val t = truth.select("query_id", "vec_id")
    val denom = t.count()
    if (denom == 0) return 0.0 // empty truth: recall is vacuous, not NaN
    // distinct: a duplicate-emitting approx path must not count a truth row
    // twice (recall > 1.0 would mask the duplication instead of surfacing it)
    approx.select("query_id", "vec_id").distinct()
      .join(t, Seq("query_id", "vec_id"), "left_semi").count().toDouble / denom
  }

  /** First `probes` XOR masks in full signature hamming order (all 1-bit
    * flips, then 2-bit, … up to all bits) — [[lshTopK]]'s multi-probe
    * ladder. */
  private def hammingFlips(bits: Int, probes: Int): Seq[Long] =
    (1 to bits).iterator.flatMap(k =>
      (0 until bits).combinations(k).map(_.map(1L << _).sum))
      .take(probes).toSeq

  /** Seed of every random draw here: hyperplanes, LSH signatures and the
    * IVF centroid init. */
  private val Seed = 42L

  /** Lloyd rounds of [[ivfCentroids]]. */
  private val IvfIters = 2

  /** Deterministic random hyperplanes: `bits` planes of dimension `dim`. */
  def hyperplanes(dim: Int, bits: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(Seed)
    Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit signature of an embedding against broadcast-literal planes —
    * one codegen'd dot product per plane, one pass. */
  def lshSignature(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotLit(emb, p) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed ANN top-k: bucket corpus and queries by hyperplane
    * signature with `probes` multi-probe neighbor buckets (nearest first in
    * signature hamming order),
    * exact cosine re-rank within candidate buckets. Recall grows with
    * probes/bits tradeoff; exactness is NOT guaranteed — that's the point of
    * the scale path. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              dim: Int, bits: Int = 12, probes: Int = 4): DataFrame =
    cosineTopK(lshJoined(corpus, queries, dim, bits, probes)
      .withColumn("cos", cosine(col("embedding"), col("q_emb"))), k)

  /** The candidate join [[lshTopK]] re-ranks — one row per (query, corpus
    * vector) the probe ladder actually scans. */
  private def lshJoined(corpus: DataFrame, queries: DataFrame, dim: Int,
                        bits: Int, probes: Int): DataFrame = {
    val planes = hyperplanes(dim, bits)
    val c = corpus.withColumn("bucket", lshSignature(col("embedding"), planes))
    val qSig = queries.select(col("query_id"), col("embedding").as("q_emb"))
      .withColumn("sig", lshSignature(col("q_emb"), planes))
    // multi-probe: the bucket itself + `probes` nearest buckets in full
    // signature hamming order (1-bit flips, 2-bit, … up to all bits), so
    // probes = 2^bits - 1 degrades gracefully to an exact full scan
    val probeCols = lit(0L) +: hammingFlips(bits, probes).map(lit(_))
    val qBuckets = qSig.select(col("query_id"), col("q_emb"),
      explode(array(probeCols.map(p => col("sig").bitwiseXOR(p)): _*)).as("bucket"))
    // a corpus vector has ONE bucket and a query's probe buckets are
    // distinct XOR masks, so each (query, vec) candidate joins exactly once
    c.join(qBuckets, Seq("bucket"))
  }

  // --- IVF (inverted-file) ANN: the coarse-quantizer scale path -------------

  private def dotLit(emb: Column, v: Array[Double]): Column =
    dot(emb, array(v.map(lit): _*))

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Nearest-centroid id (centroids pre-normalized, so argmax dot ≡ argmax
    * cosine). array_max over (score, -idx) structs keeps ties deterministic. */
  private def assignCol(emb: Column, cents: Array[Array[Double]]): Column =
    array_max(array(cents.zipWithIndex.map { case (c, i) =>
      struct(dotLit(emb, c).as("s"), lit(-i).as("ni"))
    }: _*)).getField("ni") * -1

  /** k-means coarse quantizer, trained distributed: deterministic seeded
    * init, two Lloyd rounds (assign via broadcast-literal dot products,
    * recenter via posexplode + per-(centroid, dim) average). Centroid count
    * and dims are small; the heavy side (corpus) is never collected.
    *
    * Knobs vs recall (measured, BASELINE.md round 4, "ANN recall at
    * production settings"):
    * the round count is a constant with no movement check — standard Lloyd,
    * and at nCentroids=16 round 2 is already within noise of converged on
    * the bench fixture; an empty centroid keeps its stale position
    * (deterministic; it simply attracts no probes). More rounds buy
    * assignment balance, not recall — recall is governed by nProbe/nCentroids
    * (the scanned fraction): nc=16 np=1/2/4/8 → 0.29/0.42/0.56/0.76 @10 on
    * the structureless uniform fixture. */
  def ivfCentroids(corpus: DataFrame, dim: Int, nCentroids: Int): Array[Array[Double]] = {
    var cents = hyperplanes(dim, nCentroids).map(normalize)
    for (_ <- 0 until IvfIters) {
      // recenter via posexplode + per-(centroid, dim) average. A round-6
      // experiment replaced this with `dim` avg columns in one aggregation
      // (guide §2.3 "aggregate before you shuffle") and measured SLOWER
      // (0.72 s → 0.84 s bench row): 64 aggregate buffers push the
      // aggregation past the whole-stage-codegen field budget, while the
      // exploded form's single avg stays fused and its dim× row blow-up is
      // collapsed by map-side partial aggregation before the exchange.
      val means = corpus
        .withColumn("cid", assignCol(col("embedding"), cents))
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy("cid", "pos").agg(avg("col").as("v"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getAs[Number]("cid").intValue())(r.getAs[Int]("pos")) =
          r.getAs[Double]("v")
      }
      cents = next.map(normalize)
    }
    cents
  }

  /** IVF ANN top-k, fused train+probe: trains the coarse quantizer on
    * `corpus` then probes — the one-shot convenience form. At scale,
    * training (two Lloyd rounds = two full corpus scans + collects) is a
    * SEPARATE job from probing: a pipeline issuing query batches should
    * train once via [[ivfCentroids]] (persist the tiny nCentroids×dim
    * array) and call the pretrained overload per batch — equivalence is
    * spec-pinned (train-once/probe-twice == fused). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame =
    ivfTopK(corpus, queries, k, ivfCentroids(corpus, dim, nCentroids), nProbe)

  /** IVF ANN top-k against PRETRAINED centroids (see [[ivfCentroids]]):
    * corpus bucketed by nearest centroid; each query probes its `nProbe`
    * best centroids and exact-ranks only those buckets. The probe list is
    * computed as a sorted literal-centroid score array — all pure Columns,
    * queries broadcast; no training job runs. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              cents: Array[Array[Double]], nProbe: Int): DataFrame =
    cosineTopK(ivfJoined(corpus, queries, cents, nProbe)
      .withColumn("cos", cosine(col("embedding"), col("q_emb"))), k)

  /** The candidate join [[ivfTopK]] re-ranks — one row per (query, corpus
    * vector) in the probed buckets. */
  private def ivfJoined(corpus: DataFrame, queries: DataFrame,
                        cents: Array[Array[Double]], nProbe: Int): DataFrame = {
    val bucketed = corpus.withColumn("cid", assignCol(col("embedding"), cents))
    val scoreArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct(dotLit(col("q_emb"), c).as("s"), lit(-i).as("ni"))
    }: _*)
    val probes = queries
      .select(col("query_id"), col("embedding").as("q_emb"))
      .withColumn("probe",
        explode(slice(reverse(array_sort(scoreArr)), 1, nProbe)))
      .withColumn("cid", col("probe").getField("ni") * -1)
      .drop("probe")
    // each (query, vec) joins at most once: a corpus vector has one cid and
    // a query's probe list is distinct centroid ids
    bucketed.join(broadcast(probes), Seq("cid"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold via the LSH-bucket
    * self-join [[Dedup.bucketPairs]] + exact verify (no cross product).
    * Candidates share the exact `bits`-bit signature: identical vectors
    * always collide, and a near-duplicate whose signature differs in a
    * straddled hyperplane is missed — fewer `bits` make that rarer at the
    * price of larger buckets.
    *
    * Scale shape: (key, embedding, signature) is materialized once; the
    * bucket self-join ships (key, bucket) ONLY, and the embeddings are
    * re-attached to the deduplicated candidate pairs by
    * [[Dedup.reattached]] for the exact verify. */
  def cosineDupPairs(corpus: DataFrame, keyCol: Column, threshold: Double,
                     dim: Int, bits: Int = 10): DataFrame = {
    val planes = hyperplanes(dim, bits)
    val c = corpus.select(keyCol.as("key"), col("embedding"),
      lshSignature(col("embedding"), planes).as("bucket")).localCheckpoint(true)
    Dedup.reattached(Dedup.bucketPairs(c.select("key", "bucket")),
      c.select(col("key"), col("embedding").as("p")), lit(4L * dim))
      .select(col("key_a"), col("key_b"), cosine(col("p_a"), col("p_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
