package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines. All shuffle-aware:
  * exact dedup partitions by fingerprint (one shuffle, map-side combine);
  * every near-duplicate pair operator draws its candidates from the one
  * bucket self-join [[bucketPairs]] (never the cross product) and verifies
  * them exactly through the one re-attach tail [[reattached]]. */
object Dedup {

  /** Exact dedup by normalized-text fingerprint: keeps the smallest key per
    * duplicate group. One hash-partitioned shuffle on the 8-byte
    * fingerprint; survives 100TB because the state per reducer is one row
    * per group. */
  def exactDedup(docs: DataFrame, textCol: Column, keyCol: Column): DataFrame = {
    val fp = TextOps.fingerprint(textCol)
    val w = Window.partitionBy(fp).orderBy(keyCol)
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Distinct word n-gram shingles of the normalized text — the codegen'd
    * [[graft.exprs.Shingles]] kernel, one tokenization per row. */
  private def shingles(text: Column, n: Int): Column =
    GraftBridge.column(graft.exprs.Shingles(GraftBridge.expression(text), n))

  /** Exact n-gram Jaccard similarity of two shingle-set columns. Both-empty
    * is null (pair dropped), matching the SQL-oracle convention (0/0) and
    * avoiding an ANSI divide-by-zero; token-less exact duplicates are the
    * exact-dedup operator's job, not a similarity score. */
  def jaccard(a: Column, b: Column): Column =
    when(size(a) === 0 && size(b) === 0, lit(null).cast("double"))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)))

  /** Per-band hashes of a minhash signature: band b hashes signature slots
    * [b·perBand, (b+1)·perBand) with the band index as seed — the bucket
    * keys of [[minhashDupPairs]]' band self-join. One static column per
    * band, so the array stays inside whole-stage codegen. */
  private def bandHashes(sig: Column, numHashes: Int, bands: Int): Column = {
    require(bands * (numHashes / bands) == numHashes, "bands must divide numHashes")
    val perBand = numHashes / bands
    array((0 until bands).map(b =>
      xxhash64(concat_ws(",", slice(sig, b * perBand + 1, perBand)), lit(b))): _*)
  }

  /** MinHash-LSH near-duplicate pairs: shingles → signature → `bands` band
    * keys → [[bucketPairs]] within (band index, band hash) buckets → exact
    * Jaccard verification ≥ `threshold` through [[reattached]]. Returns
    * (key_a, key_b, jaccard) with key_a < key_b, deduplicated across bands.
    * The shingles and the signature are the codegen'd kernels
    * [[graft.exprs.Shingles]] and [[graft.exprs.MinhashSignature]]: one
    * tokenization per document, one byte hash per shingle, and no
    * interpreted higher-order function in the plan.
    *
    * Scale shape: the band self-join ships (key, band, bandhash) only;
    * bucket sizes are bounded by collision rate, and AQE's skew-join splits
    * pathological buckets. The shingle arrays are re-attached for the
    * surviving candidate pairs only. The cross product never materializes. */
  def minhashDupPairs(docs: DataFrame, textCol: Column, keyCol: Column,
                      ngram: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    // shingles + signature materialized ONCE: the band self-join and both
    // re-attach sides read it, and each read would otherwise re-tokenize and
    // re-hash the corpus. The same job observes the largest shingle array's
    // text bytes, which bounds the verify tail's attached payload.
    val (sig, Seq(maxBytes)) = materialized(
      docs.select(keyCol.as("key"), shingles(textCol, ngram).as("sh"))
        .withColumn("sig", GraftBridge.column(
          graft.exprs.MinhashSignature(GraftBridge.expression(col("sh")), numHashes))),
      max(octet_length(concat_ws("", col("sh")))))
    reattached(
      bucketPairs(sig.select(col("key"), posexplode(bandHashes(col("sig"), numHashes, bands)))),
      sig.select(col("key"), col("sh").as("p")), lit(maxBytes))
      .select(col("key_a"), col("key_b"), jaccard(col("p_a"), col("p_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** All pairs with exact n-gram Jaccard ≥ `threshold` (> 0), the
    * inverted-index set-similarity join: [[bucketPairs]] over the exploded
    * shingles counts each pair's shared shingles, and the per-key set sizes
    * [[reattached]] give `shared / (|A| + |B| − shared)` — the integers and
    * doubles of [[jaccard]], since shingles are distinct. Exact: above 0 a
    * pair sharing no shingle cannot qualify. Work is Σ of squared shingle
    * bucket sizes, so a shingle most documents share makes it quadratic;
    * [[minhashDupPairs]] bounds buckets by collision rate instead. */
  def jaccardDupPairs(docs: DataFrame, textCol: Column, keyCol: Column,
                      ngram: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0, "threshold must be > 0: pairs sharing no shingle are never candidates")
    val s = docs.select(keyCol.as("key"), shingles(textCol, ngram).as("sh")).localCheckpoint(true)
    reattached(bucketPairs(s.select(col("key"), explode(col("sh")))),
      s.select(col("key"), size(col("sh")).as("p")), lit(4L))
      .select(col("key_a"), col("key_b"), (col("shared").cast("double") /
        (col("p_a") + col("p_b") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash per document — ONE codegen'd projection pass
    * ([[graft.exprs.SimhashExpr]]). A document's simhash depends only on
    * its own tokens, so the round-5 shape — explode tokens, xxhash64,
    * hash-aggregate 64 per-bit vote sums, recombine — paid a corpus-wide
    * exchange plus 64 aggregation buffers per key for what is a pure
    * per-row function; the kernel computes the same bits in a single text
    * scan with no shuffle at all (guide §1.2 step 1: remove the pass, not
    * tune it). Equivalence with the HOF form (OpsSpec's oracle: bit b of
    * the result = 1 iff Σ_tokens sign(bit b of xxhash64(token)) > 0) is
    * spec-pinned;
    * null text coalesces to 0L exactly as the aggregation's empty-group
    * chain did. Returns (key, sim), one row per input row: keys must be
    * unique, since duplicate keys are not combined (each row keeps its own
    * simhash, and downstream band joins see every copy). */
  def simhashDF(docs: DataFrame, textCol: Column, keyCol: Column): DataFrame = {
    val sim = GraftBridge.column(graft.exprs.SimhashExpr(GraftBridge.expression(textCol)))
    docs.select(keyCol.as("key"), coalesce(sim, lit(0L)).as("sim"))
  }

  /** SimHash near-dup pairs: split the 64-bit simhash into `bands`
    * contiguous chunks (static shifts, codegen'd); docs sharing any chunk
    * are [[bucketPairs]] candidates; [[reattached]] simhashes verify by
    * Hamming distance ≤ maxHamming. Same band-bucket shape as MinHash-LSH —
    * no cross product. */
  def simhashDupPairs(docs: DataFrame, textCol: Column, keyCol: Column,
                      bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val s = simhashDF(docs, textCol, keyCol).localCheckpoint(true)
    val bandCols = (0 until bands).map(b =>
      shiftrightunsigned(col("sim"), b * bandBits).bitwiseAND(lit(mask)))
    reattached(bucketPairs(s.select(col("key"), posexplode(array(bandCols: _*)))),
      s.select(col("key"), col("sim").as("p")), lit(8L))
      .select(col("key_a"), col("key_b"), hamming(col("p_a"), col("p_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Duplicate-cluster resolution: connected components over a dup-pairs
    * DataFrame (columns `key_a`, `key_b` — the output shape of every pair
    * operator above). Returns `(key, cluster)` for every key that appears in
    * a pair without a null endpoint, where `cluster` is the component's
    * minimum key. This is the
    * missing last stage of a real training-data dedup: pair detection is not
    * a dedup until pairs are transitively closed (a~b, b~c ⇒ {a,b,c} is ONE
    * group) and one canonical doc survives per group.
    *
    * Size-adaptive (the AQE-broadcast analogy): a dedup's pair set is
    * usually orders of magnitude smaller than its corpus. When the DISTINCT
    * edge set has at most 2M edges (same budget class as a broadcast join's
    * build side) and its key type has a driver-side ordering,
    * [[driverClusters]] resolves components with one collect and a
    * union-find; above that, [[propagatedClusters]] runs the distributed
    * label propagation. Guard sizing: the driver walk is single-thread O(E)
    * (measured ~42 s at 5.6M boxed edges), so the guard stays well below the
    * crossover where the distributed loop wins at cluster parallelism (the
    * N→4N scaling evidence for big edge sets is the LOOP's 0.87 —
    * ScalingBench's 5.6M-edge fixture deliberately exceeds this guard).
    * Output is identical by construction: cluster = the component's minimum
    * key under Spark's own ordering (UTF8 binary for strings — NOT
    * String.compareTo, which disagrees on supplementary code points). */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val (edges, n) = clusterEdges(pairs)
    driverOrdering(edges) match {
      case Some(ord) if n <= MaxDriverEdges => driverClusters(edges, ord)
      case _ => propagatedClusters(edges)
    }
  }

  private val MaxDriverEdges = 2000000L

  /** Label-propagation rounds before [[propagatedClusters]] gives up. */
  private val MaxClusterRounds = 50

  /** The distinct edges `(a, b)` of a pairs frame, materialized, and their
    * count, observed in the same job. A pair with a null endpoint names no
    * document: it is dropped here, once, so both cluster branches resolve
    * the same edge set. */
  private[ops] def clusterEdges(pairs: DataFrame): (DataFrame, Long) = {
    val (edges, Seq(n)) = materialized(pairs.select(col("key_a").as("a"), col("key_b").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull).distinct(), count(lit(1)))
    (edges, n)
  }

  /** Spark's ordering of the edge key type on the driver, when it has one
    * here (strings and integral types). */
  private def driverOrdering(edges: DataFrame): Option[Ordering[Any]] =
    edges.schema("a").dataType match {
      case org.apache.spark.sql.types.StringType =>
        Some(Ordering.fromLessThan[Any]((x, y) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(x.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(
              y.asInstanceOf[String])) < 0))
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType =>
        Some(Ordering.by[Any, Long](_.asInstanceOf[Number].longValue()))
      case _ => None // exotic key type: keep the distributed path
    }

  /** [[dupClusters]]' driver branch: collect the [[clusterEdges]] and run a
    * union-find that roots each component at its minimum key under `ord`. */
  private[ops] def driverClusters(edges: DataFrame, ord: Ordering[Any]): DataFrame = {
    val keyField = edges.schema("a")
    val nullableKey = keyField.nullable || edges.schema("b").nullable
    val es = edges.collect().map(r => (r.get(0), r.get(1)))
    val parent = new java.util.HashMap[Any, Any]()
    def find(x0: Any): Any = {
      var x = x0
      while ({ val p = parent.getOrDefault(x, x); p != x && { x = p; true } }) ()
      var y = x0 // path compression
      while ({ val p = parent.getOrDefault(y, y); p != y && { parent.put(y, x); y = p; true } }) ()
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val verts = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val rows = verts.iterator
      .map(v => org.apache.spark.sql.Row(v, find(v))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", keyField.dataType, nullableKey),
      org.apache.spark.sql.types.StructField("cluster", keyField.dataType, nullableKey)))
    edges.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /** [[dupClusters]]' distributed branch over the [[clusterEdges]]:
    * iterative min-label propagation to fixpoint, DataFrames only — each
    * round (1) every edge offers each endpoint's label to the other, keep
    * the min per key; (2) pointer-jumping compression (L(k) := L(L(k)))
    * collapses label chains so convergence is O(log diameter) rounds, not
    * O(diameter); (3) stop when no label changed. Each round is a pair of
    * hash-shuffles on the key — no cartesian, no driver-side adjacency.
    * `localCheckpoint` between rounds truncates the growing plan lineage
    * (the SpatialOps ladder pattern); AQE handles skewed hub keys.
    *
    * Driver coordination is ONE action per round: the previous round's label
    * rides through the propagation aggregate (max over a column that is null
    * on the edge-offer branches), and change detection is an `observe()`
    * metric collected by the round's eager localCheckpoint job — no separate
    * join + count pass. */
  private[ops] def propagatedClusters(edges: DataFrame): DataFrame = {
    // both edge directions in one relation: each round then offers labels
    // across edges with ONE equi-join instead of two (round 6 — halves the
    // per-round join count; the offer multiset is identical). Lazy — a
    // union of two projections of the already-checkpointed edge table costs
    // nothing to re-derive, and an eager checkpoint here measurably ADDED a
    // job per call at gate scale.
    val dir = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    var labels = edges.select(col("a").as("key"))
      .unionByName(edges.select(col("b").as("key")))
      .distinct().withColumn("cluster", col("key")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < MaxClusterRounds) {
      val offers = dir.join(labels, dir("src") === labels("key"))
        .select(col("dst").as("key"), col("cluster"), lit(null).cast("long").as("old"))
      // every key occurs exactly once in `labels`, so max("old") recovers
      // that round's label (the single non-null) per key
      val prop = labels.select(col("key"), col("cluster"), col("cluster").as("old"))
        .unionByName(offers)
        .groupBy("key").agg(min("cluster").as("cluster"), max("old").as("old"))
      // pointer jumping: a label is itself a vertex key, so one extra hop
      // through the label table halves the remaining chain length
      val hop = prop.select(col("key").as("ck"), col("cluster").as("cc"))
      val obs = org.apache.spark.sql.Observation(s"dupClusters_round_$i")
      val compressed = prop.join(hop, prop("cluster") === hop("ck"), "left")
        .select(prop("key"),
          coalesce(col("cc"), prop("cluster")).as("cluster"), col("old"))
        .observe(obs, sum(when(col("cluster") =!= col("old"), 1L).otherwise(0L))
          .as("changed"))
        .drop("old")
        .localCheckpoint(true) // the round's one action; collects `changed`
      labels = compressed
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge in $MaxClusterRounds rounds (log-diameter > $MaxClusterRounds?)")
    labels
  }

  /** Keeps one survivor per duplicate cluster: the cluster representative
    * (minimum key) plus every un-clustered doc. `clusters` is
    * [[dupClusters]] output; the join is a broadcast-or-shuffle hash join on
    * the key — never wider than the duplicate set. */
  def dedupByClusters(docs: DataFrame, keyCol: Column, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("key") =!= col("cluster"))
        .select(col("key").as("__dup_key")),
      keyCol === col("__dup_key"), "left_anti")

  /** Near-duplicate pairs by winnowed-fingerprint overlap
    * ([[TextOps.winnowedFingerprints]]): explode fingerprints, equi-join on
    * the fingerprint value (candidates only — never a cross product), count
    * shared fingerprints per pair, keep pairs whose overlap coefficient
    * `shared / min(|A|, |B|)` ≥ `threshold`. Returns
    * (key_a, key_b, shared, overlap) with key_a < key_b.
    *
    * Scale shape (round-6 form): the winnow kernel runs EXACTLY ONCE — the
    * compact (key, n_total, fingerprints) rows are materialized eagerly
    * (`localCheckpoint`) and every downstream branch (doc-frequency table,
    * candidate join, per-doc stats, exact verify) reads the materialized
    * narrow rows. Document frequency is a sort-free hash aggregation kept
    * at df >= 2 and broadcast BACK onto the exploded rows (guide §3.2's
    * reduce-before-shuffle, exact instead of Bloom), so the corpus-sized
    * exploded row set is never sorted and never shuffled — only rows in
    * duplicated buckets reach the pair self-join's exchange. This is the
    * guide-§8 proxy pattern: one decision pass derives the lightweight
    * rows, and nothing re-reads the text.
    *
    * Size guard: with at most 20M df>=2 fingerprints the rare and hot sets
    * are collected in one collect and broadcast ([[retainedWinnowPairs]]);
    * above that they are attached by a shuffle join ([[joinedWinnowPairs]]).
    * Both branches return the same rows. The guard is read first from half
    * the fingerprint occurrences, observed on the fingerprint table's
    * checkpoint job; the df table is materialized and counted only when
    * that bound exceeds it.
    *
    * Hot-fingerprint valve: boilerplate text (license headers, templates)
    * makes HOT fingerprints whose buckets go quadratic, so fingerprints
    * appearing in more than `maxDocFreq` documents are dropped from
    * CANDIDATE GENERATION only (a pair must share at least one rare
    * fingerprint to be considered; documents duplicated more than
    * `maxDocFreq` times are exact-dedup's job, not a similarity query).
    * Candidates are then PREFILTERED on a provable overlap upper bound
    * (shared-rare count from the self-join + per-doc totals/hot counts),
    * and [[reattached]] fingerprint sets recompute `shared` over ALL
    * fingerprints of each surviving pair, hot ones included.
    *
    * Corpus caveat: on template/low-vocabulary corpora the fingerprint space
    * collapses (few distinct window-min values ⇒ high document frequency for
    * EVERY fingerprint) and the true answer itself approaches O(n²) pairs;
    * raise `k` (longer grams ⇒ more distinct fingerprints), raise
    * `threshold`, or lower `maxDocFreq` before running at scale — and treat
    * a mostly-hot fingerprint distribution (BASELINE.md round 3,
    * "Winnowed-dedup fixture note") as a
    * signal the corpus needs exact dedup first. */
  def winnowedDupPairs(docs: DataFrame, textCol: Column, keyCol: Column,
                       k: Int = 8, w: Int = 4, threshold: Double = 0.5,
                       maxDocFreq: Int = 1000): DataFrame = {
    val (fmat, dfAgg, occurrences) = winnowTables(docs, textCol, keyCol, k, w)
    // a df>=2 fingerprint takes at least two of the occurrences, so half of
    // them bounds the df table's rows; only above the guard is the table
    // materialized and counted, and the branch is decided by its count
    if (occurrences / 2 <= MaxBroadcastFps)
      retainedWinnowPairs(fmat, dfAgg, threshold, maxDocFreq)
    else {
      val (dfT, Seq(nDf)) = materialized(dfAgg, count(lit(1)))
      if (nDf <= MaxBroadcastFps) retainedWinnowPairs(fmat, dfT, threshold, maxDocFreq)
      else joinedWinnowPairs(fmat, dfT, threshold, maxDocFreq)
    }
  }

  /** Above this many df>=2 fingerprints the retain branch's driver
    * collect would be the bottleneck. */
  private val MaxBroadcastFps = 20000000L

  /** [[winnowedDupPairs]]' inputs: the per-doc fingerprint table
    * `(key, nt, fps)`, materialized, with Σ `nt` (the fingerprint
    * occurrences) observed by the job that materializes it, and the
    * document-frequency aggregation `(f, df)` over the fingerprints held by
    * at least two documents, not yet run. */
  private[ops] def winnowTables(docs: DataFrame, textCol: Column, keyCol: Column,
                                k: Int, w: Int): (DataFrame, DataFrame, Long) = {
    // ONE kernel pass: the per-doc fingerprint table, eagerly materialized
    // in its COMPACT form (one row per doc, primitive-long array — ~4× fewer
    // bytes than the exploded rows); the df table, candidate join, stats
    // and verify all read it instead of re-running the kernel.
    val (fmat, Seq(occurrences)) = materialized(
      docs.select(keyCol.as("key"), textCol.as("__text"))
        .withColumn("fps", TextOps.winnowedFingerprints(col("__text"), k, w))
        .select(col("key"), size(col("fps")).as("nt"), col("fps")),
      sum(greatest(col("nt"), lit(0))))
    // Document frequency as a sort-free hash AGGREGATION, keeping only
    // df >= 2: a fingerprint held by ONE doc can never witness a pair, and
    // on high-vocabulary corpora this drops ~97% of fingerprints.
    val dfAgg = fmat.select(explode(col("fps")).as("f"))
      .groupBy("f").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    (fmat, dfAgg, occurrences)
  }

  /** [[winnowedDupPairs]]' default branch. Rare/hot membership is applied
    * ON THE COMPACT ARRAYS, before any explode (guide §3.2's
    * reduce-before-shuffle, exact instead of Bloom — a false positive is
    * impossible, and a df=1 fingerprint dropped here could never have
    * produced a pair anyway): the df>=2 table is collected (a few percent
    * of the corpus on high-vocabulary data), split into the rare set
    * (2 <= df <= maxDocFreq, broadcast as a sorted array for the codegen'd
    * LongArrayRetainSorted kernel) and the hot set (df > maxDocFreq,
    * bounded by construction at total-occurrences/maxDocFreq). Candidate
    * generation explodes only surviving fingerprints — the corpus-sized
    * exploded row set is never materialized, sorted, or shuffled. Per-doc
    * hot counts come from the same compact arrays in one projection. */
  private[ops] def retainedWinnowPairs(fmat: DataFrame, dfT: DataFrame,
                                       threshold: Double, maxDocFreq: Int): DataFrame = {
    val spark = fmat.sparkSession
    // one collect of (f, hot), split on the driver
    val rareB = Array.newBuilder[Long]
    val hotB = Array.newBuilder[Long]
    dfT.select(col("f"), col("df") > maxDocFreq)
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaBoolean))
      .collect().foreach { case (f, hot) => (if (hot) hotB else rareB) += f }
    val rare = rareB.result()
    java.util.Arrays.sort(rare)
    val hotArr = hotB.result()
    java.util.Arrays.sort(hotArr)
    val bcRare = spark.sparkContext.broadcast(rare)
    val bcHot = spark.sparkContext.broadcast(hotArr)
    def retain(bc: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
      GraftBridge.column(
        graft.exprs.LongArrayRetainSorted(GraftBridge.expression(col("fps")), bc))
    // n_hot via the same codegen'd retain kernel (no per-row Seq boxing
    // — the stats subtree is evaluated under BOTH prefilter joins)
    verifiedWinnowPairs(fmat, threshold,
      fmat.select(col("key"), explode(retain(bcRare)).as("f")),
      fmat.select(col("key"), col("nt").as("n_total"),
        size(retain(bcHot)).cast("long").as("n_hot")))
  }

  /** [[winnowedDupPairs]]' fallback branch for a df table too large to
    * collect: the exploded fingerprints join the df table, and the per-doc
    * hot counts are a shuffled aggregation. */
  private[ops] def joinedWinnowPairs(fmat: DataFrame, dfT: DataFrame,
                                     threshold: Double, maxDocFreq: Int): DataFrame = {
    val ef = fmat.select(col("key"), explode(col("fps")).as("f")).join(dfT, Seq("f"))
    val hot = ef.filter(col("df") > maxDocFreq)
      .groupBy("key").agg(count(lit(1)).as("n_hot"))
    verifiedWinnowPairs(fmat, threshold,
      ef.filter(col("df") <= maxDocFreq).select(col("key"), col("f")),
      fmat.select(col("key"), col("nt").as("n_total"))
        .join(hot, Seq("key"), "left")
        .select(col("key"), col("n_total"),
          coalesce(col("n_hot"), lit(0L)).as("n_hot")))
  }

  /** The winnow pairs tail both branches share: [[bucketPairs]] over the
    * rare fingerprints `gen` (key, f) counts each candidate's shared RARE
    * fingerprints, the provable-bound prefilter over the per-doc `stats`
    * (key, n_total, n_hot) drops the incidental ones, and [[reattached]]
    * fingerprint sets verify exactly. */
  private def verifiedWinnowPairs(fmat: DataFrame, threshold: Double,
                                  gen: DataFrame, stats: DataFrame): DataFrame = {
    def side(s: String) = stats.select(col("key").as(s"key_$s"),
      col("n_total").as(s"nt_$s"), col("n_hot").as(s"nh_$s"))
    // PREFILTER (provable upper bound, never drops a qualifying pair):
    // shared_total <= shared_rare + min(n_hot_a, n_hot_b), so a pair can
    // only reach `overlap >= threshold` if that bound does. This is the
    // scale valve: incidental single-fingerprint collisions (gram-space
    // birthday pairs — measured 10M of them on a 400k-doc corpus) die here,
    // and verify cost becomes O(true near-dups · doc size).
    val plausible = bucketPairs(gen).join(side("a"), "key_a").join(side("b"), "key_b")
      .filter((col("shared") + least(col("nh_a"), col("nh_b"))).cast("double") >=
        lit(threshold) * least(col("nt_a"), col("nt_b")))
      .select("key_a", "key_b", "nt_a")
    // exact verify from the FULL fingerprint sets: hot fingerprints still
    // count toward the reported overlap
    reattached(plausible, fmat.select(col("key"), col("fps").as("p")), col("nt_a") * 8)
      .select(col("key_a"), col("key_b"),
        size(array_intersect(col("p_a"), col("p_b"))).cast("long").as("shared"),
        (size(array_intersect(col("p_a"), col("p_b"))).cast("double") /
          least(size(col("p_a")), size(col("p_b")))).as("overlap"))
      .filter(col("overlap") >= threshold)
  }

  /** Candidate pairs of a bucket self-join over rows `(key, bucket cols…)`:
    * `(key_a, key_b, shared)` for every two keys, key_a < key_b, that agree
    * on all bucket columns of at least one row each, with `shared` the
    * number of such row pairs (the bands, shingles or fingerprints they
    * share). The one candidate generator of every pair operator: an
    * equi-join within buckets and a map-side-combined count, so only keys
    * and bucket values are shuffled and no cross product is built. */
  private[ops] def bucketPairs(rows: DataFrame): DataFrame = {
    val buckets = rows.columns.toSeq.filter(_ != "key")
    rows.withColumnRenamed("key", "key_a")
      .join(rows.withColumnRenamed("key", "key_b"), buckets)
      .filter(col("key_a") < col("key_b"))
      .groupBy("key_a", "key_b").agg(count(lit(1)).as("shared"))
  }

  /** The one re-attach tail of every pair operator: the candidate `pairs`
    * `(key_a, key_b, …)` are materialized, and the same job observes their
    * count and Σ `bytesA`, the bytes of the key_a payloads the second join
    * carries. The `payload` `(key, p)` then joins both keys as `p_a`/`p_b`
    * for the caller's exact verify, which runs on candidate pairs only. The
    * pair list is an ExistingRDD scan after the checkpoint, so the planner
    * has no size estimate for it and would sort-merge join, shuffling and
    * sorting the corpus-sized payload table twice; broadcast hints under
    * the [[broadcastAttached]] guards keep the payload streamed through two
    * broadcast-hash joins. Returns the pairs' columns plus `p_a` and `p_b`. */
  private[ops] def reattached(pairs: DataFrame, payload: DataFrame, bytesA: Column): DataFrame = {
    val (pl, Seq(n, bytes)) = materialized(pairs, count(lit(1)), sum(bytesA))
    def hinted(ok: Boolean)(df: DataFrame): DataFrame = if (ok) broadcast(df) else df
    def side(s: String) = payload.select(col("key").as(s"key_$s"), col("p").as(s"p_$s"))
    hinted(broadcastAttached(n, 0L))(pl).join(side("a"), "key_a")
      .transform(hinted(broadcastAttached(n, bytes)))
      .join(side("b"), "key_b")
  }

  /** `df` materialized by an eager `localCheckpoint`, with the aggregate
    * `metrics` (null read as 0) observed by that same job, so no second job
    * sizes it. */
  private def materialized(df: DataFrame, metrics: Column*): (DataFrame, Seq[Long]) = {
    val obs = org.apache.spark.sql.Observation()
    val named = metrics.zipWithIndex.map { case (m, i) => coalesce(m, lit(0L)).as(s"m$i") }
    val out = df.observe(obs, named.head, named.tail: _*).localCheckpoint(true)
    (out, named.indices.map(i => obs.get(s"m$i").asInstanceOf[Number].longValue()))
  }

  private val MaxBroadcastPairs = 100000L
  private val MaxBroadcastBytes = 64L << 20

  /** Whether [[reattached]] may broadcast a pair list, with `bytes` of
    * attached payload: at most `MaxBroadcastPairs` pairs AND at most
    * `MaxBroadcastBytes` of payload, so long documents cannot blow up a
    * build side the pair count alone allows. */
  private[ops] def broadcastAttached(pairs: Long, bytes: Long): Boolean =
    pairs <= MaxBroadcastPairs && bytes <= MaxBroadcastBytes
}
