package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.SparkTestSession.sparkJobs

/** Training-data ops over the driver-provided documents/embeddings tables
  * (sf=0.001), verified against brute-force/driver-side ground truth. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val documents =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  private lazy val embeddings =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("token counts, ratios, quality are sane and deterministic") {
    val df = documents.select(col("doc_id"), col("text"),
      TextOps.tokenCountWs(col("text")).as("ws"),
      TextOps.tokenCountBpe(col("text")).as("bpe"),
      TextOps.punctRatio(col("text")).as("punct"),
      TextOps.qualityScore(col("text")).as("q")).collect()
    df.foreach { r =>
      val text = r.getAs[String]("text")
      val expectedWs = text.trim.split("\\s+").count(_.nonEmpty)
      assert(r.getAs[Int]("ws") === expectedWs, s"ws of <$text>")
      assert(r.getAs[Int]("bpe") >= r.getAs[Int]("ws") - 1, "bpe >= words-ish")
      val p = r.getAs[Double]("punct"); assert(p >= 0 && p <= 1)
      val q = r.getAs[Double]("q"); assert(q >= 0 && q <= 1)
    }
  }

  test("winnowed fingerprints match a driver-side reference implementation") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def h(str: String): Long =
      XxHash64Function.hash(UTF8String.fromString(str), StringType, 42L)
    def ref(text: String, k: Int, w: Int): Set[Long] = {
      // mirror the Column pipeline exactly: trim(' ') → \s+→' ' → lower;
      // Locale.ROOT + codepoint slicing match Spark's locale-independent
      // lower() and codepoint-based substring()
      val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val norm = trimmed.replaceAll("\\s+", " ")
        .toLowerCase(java.util.Locale.ROOT)
      val cps = norm.codePoints().toArray
      def sub(from: Int, len: Int): String =
        new String(cps.slice(from, math.min(from + len, cps.length)), 0,
          math.min(len, math.max(cps.length - from, 0)))
      if (cps.length < k) Set(h(norm))
      else {
        val grams = (0 to cps.length - k).map(i => h(sub(i, k)))
        val nw = math.max(grams.length - (w - 1), 1)
        (0 until nw).map(j => grams.slice(j, math.min(j + w, grams.length)).min).toSet
      }
    }
    val k = 8; val w = 4
    val got = documents.select(col("doc_id"), col("text"))
      .withColumn("fps", TextOps.winnowedFingerprints(col("text"), k, w))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val expected = ref(r.getAs[String]("text"), k, w)
      assert(r.getSeq[Long](2).toSet === expected,
        s"fingerprints of doc ${r.get(0)}")
    }
    // winnowing guarantee: a shared substring of length >= w + k - 1 yields
    // at least one shared fingerprint even when the rest differs entirely
    val shared = "zqxjkwvyp bmfgdhntr"  // 19 chars >= 8 + 4 - 1
    val a = ref("AAAA bbbb " + shared + " cccc", k, w)
    val b = ref("totally different prefix " + shared + " and suffix!", k, w)
    assert(a.intersect(b).nonEmpty, "guarantee violated")
  }

  test("winnowed dup pairs find near-copies without a cross product") {
    val base = documents.filter(col("doc_id") < 60).select("doc_id", "text")
    // near-copies: small prefix edit; exact copies: unchanged text
    val near = base.filter(col("doc_id") < 20)
      .select((col("doc_id") + 500000).as("doc_id"),
        concat(lit("edited: "), col("text")).as("text"))
    val exact = base.filter(col("doc_id") < 10)
      .select((col("doc_id") + 600000).as("doc_id"), col("text"))
    val all = base.unionByName(near).unionByName(exact)
    val pairs = Dedup.winnowedDupPairs(all, col("text"), col("doc_id"),
      k = 8, w = 4, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("overlap")))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    // every seeded copy (near or exact) pairs with its source
    (0L until 20L).foreach { id =>
      assert(pairSet.contains((id, id + 500000)), s"near-copy pair missing for $id")
    }
    (0L until 10L).foreach { id =>
      assert(pairSet.contains((id, id + 600000)), s"exact-copy pair missing for $id")
      assert(pairs.find(p => p._1 == id && p._2 == id + 600000).get._3 === 1.0)
    }
    // the plan is candidate-join shaped: no cartesian in the executed plan
    val plan = Dedup.winnowedDupPairs(all, col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  /** Boilerplate BP appears in all 20 docs (hot once maxDocFreq < 20);
    * docs 100/101 additionally share a long unique passage, so their
    * overlap is 1.0 from BOTH rare and hot fingerprints. */
  private lazy val partlyHotDocs = {
    val bp = "standard license header boilerplate that every file carries verbatim"
    val uniq = "zephyr quixotic jumbled vortex phrases making a long unique shared passage"
    ((0 until 18).map { i =>
      val rng = new scala.util.Random(4000 + i)
      val own = Seq.fill(12)(rng.alphanumeric.take(9).mkString).mkString(" ")
      (i.toLong, s"$bp $own")
    } ++
      Seq((100L, s"$bp $uniq"), (101L, s"$bp $uniq"))).toDF("doc_id", "text")
  }

  test("winnowed prefilter keeps qualifying pairs when shared fingerprints are partly HOT") {
    // The prefilter bound (shared_rare + min(n_hot)) must not drop the
    // 100/101 pair; docs sharing ONLY the boilerplate must stay
    // non-candidates (no rare shared fingerprint).
    val pairs = Dedup.winnowedDupPairs(partlyHotDocs, col("text"), col("doc_id"),
      k = 8, w = 4, threshold = 0.9, maxDocFreq = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("overlap"))).toMap
    assert(pairs.get((100L, 101L)).contains(1.0), s"hot+rare pair dropped: $pairs")
    assert(pairs.keySet === Set((100L, 101L)),
      "boilerplate-only overlaps must not pair (no rare shared fingerprint)")
  }

  test("winnowed shuffle-join fallback returns the broadcast-retain branch's pairs") {
    val (fmat, dfT, occurrences) = Dedup.winnowTables(partlyHotDocs, col("text"), col("doc_id"), k = 8, w = 4)
    // the observed count is the fingerprint occurrences, and half of it
    // bounds the df table's rows
    assert(occurrences === fmat.agg(sum("nt")).head.getLong(0))
    assert(dfT.count() <= occurrences / 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // maxDocFreq = 100 leaves no fingerprint hot, so the boilerplate pairs
    // every doc
    Seq((0.9, 5), (0.3, 5), (0.3, 100)).foreach { case (threshold, maxDocFreq) =>
      val retained = rows(Dedup.retainedWinnowPairs(fmat, dfT, threshold, maxDocFreq))
      val joined = rows(Dedup.joinedWinnowPairs(fmat, dfT, threshold, maxDocFreq))
      assert(joined === retained, s"threshold $threshold, maxDocFreq $maxDocFreq")
      assert(retained.exists(r => (r._1, r._2) == ((100L, 101L))), retained)
    }
    // the default path at this size is the retain branch
    assert(rows(Dedup.winnowedDupPairs(partlyHotDocs, col("text"), col("doc_id"),
      k = 8, w = 4, threshold = 0.9, maxDocFreq = 5)) ===
      rows(Dedup.retainedWinnowPairs(fmat, dfT, 0.9, maxDocFreq = 5)))
  }

  test("pair verify tail broadcasts attached payloads under a byte cap") {
    assert(Dedup.broadcastAttached(0L, 0L))
    assert(Dedup.broadcastAttached(100000L, 8000000L))
    // the pair cap still holds when the payloads are tiny
    assert(!Dedup.broadcastAttached(100001L, 0L))
    // few pairs, but 64 MiB of attached payload is the limit
    assert(Dedup.broadcastAttached(10L, 64L << 20))
    assert(!Dedup.broadcastAttached(10L, (64L << 20) + 1))
  }

  test("jaccardDupPairs equals the cross-product oracle") {
    // a small vocabulary makes shared shingles common; empty, token-less,
    // null and duplicated texts are in every corpus
    val rng = new scala.util.Random(11)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def text(): String = Seq.fill(rng.nextInt(9))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val corpora = (0 until 3).map { c =>
      val base = Seq.fill(40)(text())
      val texts: Seq[String] = base ++ base.take(6) ++ Seq("", "  ", null, null, "alpha")
      // RDD-backed: a local relation would be constant-folded
      spark.createDataFrame(spark.sparkContext.parallelize(
        texts.zipWithIndex.map { case (t, i) => (i.toLong * 3 + c, t) }, 3)).toDF("doc_id", "text")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (docs <- corpora; ngram <- Seq(1, 3); threshold <- Seq(0.005, 0.4, 1.0)) {
      val want = rows(OpsSpec.jaccardCross(docs, col("text"), col("doc_id"), ngram, threshold))
      val got = rows(Dedup.jaccardDupPairs(docs, col("text"), col("doc_id"), ngram, threshold))
      assert(got === want, s"ngram $ngram threshold $threshold")
      if (threshold == 1.0) assert(want.nonEmpty, "duplicated texts must pair at 1.0")
    }
    intercept[IllegalArgumentException](
      Dedup.jaccardDupPairs(corpora.head, col("text"), col("doc_id"), threshold = 0.0))
  }

  test("Spark job counts of the minhash, winnow and cluster operators are pinned") {
    // 600 docs whose only near-duplicates are 12 seeded copies (doc i + 1
    // copies doc i when i % 50 == 0), materialized so reading it is no job
    val corpus = graft.fixtures.DeterministicGen.highVocabDocsDF(spark, 600,
      vocab = 40000, dupEvery = 50, dupOffset = 1).localCheckpoint(true)
    val seeded = (0L until 600L by 50L).map(i => (i, i + 1)).toSet
    var minhash = Set.empty[(Long, Long)]
    val minhashJobs = sparkJobs {
      minhash = Dedup.minhashDupPairs(corpus, col("text"), col("doc_id"),
        ngram = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    var winnow = Set.empty[(Long, Long)]
    val winnowJobs = sparkJobs {
      winnow = Dedup.winnowedDupPairs(corpus, col("text"), col("doc_id"),
        k = 8, w = 4, threshold = 0.8, maxDocFreq = 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(minhash === seeded && winnow === seeded)
    val pairs = winnow.toSeq.toDF("key_a", "key_b")
    var clusters = 0L
    val clusterJobs = sparkJobs {
      clusters = Dedup.dupClusters(pairs).collect().length.toLong
    }
    assert(clusters === 2L * seeded.size)
    // the winnow and cluster size guards read observations of the jobs that
    // materialize their tables; separate count jobs made these 16 and 5, and
    // separate rare and hot collects made winnow 12
    assert((minhashJobs, winnowJobs, clusterJobs) === ((6, 10, 3)))
  }

  test("langId finds the stopword-dominant language") {
    val samples = Seq(
      ("the cat and the dog are in the house", "en"),
      ("der Hund und die Katze sind nicht im Haus", "de"),
      ("le chat est dans la maison avec le chien", "fr"),
      ("el perro y el gato es en la casa", "es"),
      ("zzz qqq xxx", "und"),
      ("", "und"))
    val got = samples.map(_._1).toDF("text")
      .select(col("text"), TextOps.langId(col("text")).as("lang"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    samples.foreach { case (t, l) => assert(got(t) === l, s"langId of <$t>") }
  }

  test("exact dedup keeps one representative per normalized text") {
    val withDups = documents.select("doc_id", "text")
      .unionByName(documents.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit("  ")).as("text")).limit(50))
    val deduped = Dedup.exactDedup(withDups, col("text"), col("doc_id"))
    // ground truth: distinct normalized texts
    val norm = (s: String) => s.trim.toLowerCase.replaceAll("\\s+", " ")
    val distinctTexts = withDups.collect().map(r => norm(r.getAs[String]("text"))).toSet
    assert(deduped.count() === distinctTexts.size)
    // survivors are the minimal doc_id of each group
    val groups = withDups.collect().groupBy(r => norm(r.getAs[String]("text")))
    val expected = groups.values.map(_.map(_.getAs[Long]("doc_id")).min).toSet
    val got = deduped.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("minhash LSH finds the pairs exact jaccard confirms (no false positives)") {
    // seed near-duplicates: copy 30 docs with one word changed
    val base = documents.select("doc_id", "text").limit(200)
    val nearDups = base.limit(30).select((col("doc_id") + 500000).as("doc_id"),
      concat(col("text"), lit(" extra")).as("text"))
    val corpus = base.unionByName(nearDups).cache()

    val lsh = Dedup.minhashDupPairs(corpus, col("text"), col("doc_id"),
      ngram = 3, numHashes = 16, bands = 4, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val exact = Dedup.jaccardDupPairs(corpus, col("text"), col("doc_id"),
      ngram = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // verification step makes LSH output a SUBSET of exact pairs…
    lsh.foreach { case (a, b, j) =>
      assert(exact.contains((a, b)), s"false positive ($a,$b,$j)")
      assert(j >= 0.6)
    }
    // …and the banding must catch the seeded near-identical pairs
    val seeded = lsh.map(p => (p._1, p._2)).toSet
    val expectedSeeded = exact.filter { case (a, b) => b - a == 500000 }
    assert(expectedSeeded.nonEmpty)
    assert(expectedSeeded.forall(seeded.contains),
      "LSH missed seeded near-identical pairs")
  }

  test("shingle and signature kernels equal their Column forms") {
    import org.apache.spark.sql.GraftBridge
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.exprs.{MinhashSignature, Shingles}
    // a small vocabulary repeats n-grams; separators cover runs, tabs,
    // newlines, punctuation and a no-break space
    val word = Gen.oneOf("a", "b", "The", "the", "Straße", "12", "東京", "ÄRGER",
      "öl", "x1", "ß9")
    val sep = Gen.oneOf(" ", "  ", ", ", "\t", "\n", "-", "!? ", "\u00a0")
    val text = for {
      k <- Gen.choose(0, 12)
      ws <- Gen.listOfN(k, word)
      ss <- Gen.listOfN(k + 1, sep)
    } yield ss.head + ws.zip(ss.tail).map { case (w, s) => w + s }.mkString
    val generated = (1L to 200L).map(i =>
      text.apply(Gen.Parameters.default, Seed(i)).getOrElse(""))
    val edges = Seq(null, "", "   ", " \t\n ", "word", "two words",
      "a b a b a b a b", "Straße 12", "東京", "東京 大阪 東京 大阪",
      "ÄRGER über Öl", "  x-y_z!!  ")
    val rows = (edges ++ generated).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    // RDD-backed: a local relation would be constant-folded, and the
    // generated code of the kernels would never run
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
      .toDF("id", "text")
    type Strs = scala.collection.Seq[String]
    Seq(1, 3).foreach { n =>
      val shingles = GraftBridge.column(Shingles(GraftBridge.expression(col("text")), n))
      val signature = GraftBridge.column(MinhashSignature(GraftBridge.expression(col("kern")), 16))
      val got = docs
        .select(col("id"), col("text"), OpsSpec.shinglesHof(col("text"), n).as("hof"),
          shingles.as("kern"))
        .select(col("*"), OpsSpec.minhashSignatureHof(col("hof"), 16).as("hof_sig"),
          signature.as("kern_sig"))
        .select(col("*"), concat_ws(",", col("hof_sig")).as("hof_band"),
          concat_ws(",", col("kern_sig")).as("kern_band"))
        .collect()
      assert(got.length === rows.length)
      got.foreach { r =>
        val what = s"n=$n text=${Option(r.getAs[String]("text")).map(t => s"'$t'")}"
        val hof = Option(r.getAs[Strs]("hof"))
        assert(Option(r.getAs[Strs]("kern")) === hof, what)
        val hofSig = r.getAs[scala.collection.Seq[Any]]("hof_sig")
        if (hof.isEmpty) {
          // null text: the kernel's signature is null, the Column form's
          // slots are all null; their band keys hash the same empty string
          assert(r.isNullAt(r.fieldIndex("kern_sig")), what)
          assert(hofSig.forall(_ == null), what)
        } else
          assert(r.getAs[scala.collection.Seq[Any]]("kern_sig") === hofSig, what)
        assert(r.getAs[String]("kern_band") === r.getAs[String]("hof_band"), what)
      }
      // the edge shapes are there: a repeated n-gram, a short text's one
      // joined shingle, a token-less text, non-ASCII tokens
      val byText = got.map(r => Option(r.getAs[String]("text")) -> r.getAs[Strs]("kern")).toMap
      assert(byText(Some("a b a b a b a b")).size === 2)
      assert(byText(Some("two words")) === (if (n == 1) Seq("two", "words") else Seq("two words")))
      assert(byText(Some(" \t\n ")) === Seq.empty)
      assert(byText(Some("Straße 12")).mkString(" ") === "straße 12")
    }
  }

  test("simhash bands find near-identical pairs; hamming verified") {
    val base = documents.select("doc_id", "text").limit(150)
    val nearDups = base.limit(20).select((col("doc_id") + 500000).as("doc_id"),
      concat(col("text"), lit(" suffix")).as("text"))
    val corpus = base.unionByName(nearDups)
    val pairs = Dedup.simhashDupPairs(corpus, col("text"), col("doc_id"),
      bands = 4, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    pairs.foreach { case (_, _, h) => assert(h <= 6) }
    val found = pairs.map(p => (p._1, p._2)).toSet
    val seededFound = found.count { case (a, b) => b - a == 500000 }
    assert(seededFound >= 15, s"simhash found only $seededFound/20 seeded pairs")
  }

  test("distributed simhashDF equals the HOF simhash column") {
    val sample = documents.select("doc_id", "text").limit(100)
    val hof = sample.select(col("doc_id"),
      OpsSpec.simhashHof(col("text")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.simhashDF(sample, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === hof)
  }

  test("brute-force cosine top-k equals driver-side ground truth") {
    val vecs = embeddings.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    val queries = embeddings.limit(5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.bruteTopK(embeddings, queries, 10)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("vec_id")).toSeq }
    got.foreach { case (qid, topIds) =>
      val qv = vecs.find(_._1 == qid).get._2
      val expected = vecs.map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
      assert(topIds === expected, s"top-k for query $qid")
    }
  }

  test("LSH ANN: recall rises with probes while scanning a bounded fraction") {
    val queries = embeddings.limit(10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteTopK(embeddings, queries, 10)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    def recall(bits: Int, probes: Int): Double = {
      val ann = Similarity.lshTopK(embeddings, queries, 10, dim = 64,
        bits = bits, probes = probes)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      val rs = exact.map { case (q, ex) =>
        ann.get(q).map(a => a.intersect(ex).size.toDouble / ex.size).getOrElse(0.0) }
      rs.sum / rs.size
    }
    // hamming-≤1 probing (5/16 of buckets): moderate recall
    val r1 = recall(4, 4)
    // hamming-≤2 probing (11/16 of buckets): high recall, still not a scan
    val r2 = recall(4, 10)
    assert(r2 >= r1, s"more probes must not reduce recall ($r1 -> $r2)")
    assert(r1 >= 0.4, s"hamming-1 recall $r1")
    assert(r2 >= 0.7, s"hamming-2 recall $r2")
  }

  test("recallAgainst: hand-computable hit fractions, order-insensitive") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "vec_id")
    val approx = Seq((1L, 11L), (1L, 99L), (2L, 20L), (2L, 21L), (3L, 7L))
      .toDF("query_id", "vec_id")
    // hits: (1,11), (2,20), (2,21) of 4 truth rows; extra/unknown rows in
    // approx (99, query 3) must not count
    assert(Similarity.recallAgainst(truth, approx) === 0.75)
    assert(Similarity.recallAgainst(truth, truth) === 1.0)
    assert(Similarity.recallAgainst(truth, truth.limit(0)) === 0.0)
    // a duplicate-emitting approx path must not count truth rows twice
    // (recall could otherwise exceed 1.0 and mask the duplication)
    assert(Similarity.recallAgainst(truth, approx.unionAll(approx)) === 0.75)
    assert(Similarity.recallAgainst(truth, truth.unionAll(truth)) === 1.0)
    // empty truth: defined as 0.0, not NaN
    assert(Similarity.recallAgainst(truth.limit(0), approx) === 0.0)
  }

  test("IVF pretrained probe equals the fused train+probe path (train once, probe twice)") {
    val queries = embeddings.limit(10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("rn"))).toSet
    val fused = key(Similarity.ivfTopK(embeddings, queries, 10, dim = 64,
      nCentroids = 8, nProbe = 3))
    val cents = Similarity.ivfCentroids(embeddings, dim = 64, nCentroids = 8)
    val probe1 = key(Similarity.ivfTopK(embeddings, queries, 10, cents, nProbe = 3))
    val probe2 = key(Similarity.ivfTopK(embeddings, queries, 10, cents, nProbe = 3))
    assert(probe1 === fused, "pretrained probe diverges from fused path")
    assert(probe2 === fused, "second probe against the same centroids diverges")
  }

  test("IVF ANN: nProbe=all is exact; small nProbe keeps useful recall") {
    val queries = embeddings.limit(10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val exact = Similarity.bruteTopK(embeddings, queries, 10)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    def recall(nProbe: Int): Double = {
      val ann = Similarity.ivfTopK(embeddings, queries, 10, dim = 64,
        nCentroids = 8, nProbe = nProbe)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
      val rs = exact.map { case (q, ex) =>
        ann.get(q).map(a => a.intersect(ex).size.toDouble / ex.size).getOrElse(0.0) }
      rs.sum / rs.size
    }
    assert(recall(8) === 1.0, "probing every centroid must be exact")
    val r2 = recall(3)
    assert(r2 >= 0.5, s"nProbe=3/8 recall $r2")
  }

  test("embedding cosine near-dup pairs are verified-correct") {
    // seed: duplicate 10 vectors exactly (cos = 1)
    val dups = embeddings.limit(10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    val corpus = embeddings.unionByName(dups)
    val pairs = Similarity.cosineDupPairs(corpus, col("vec_id"), 0.999, dim = 64,
      bits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    pairs.foreach { case (_, _, c) => assert(c >= 0.999) }
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0 until 10).foreach { i =>
      val expectPair = embeddings.limit(10).collect()(i).getAs[Long]("vec_id")
      assert(found.contains((expectPair, expectPair + 10000)),
        s"missed exact duplicate $expectPair")
    }
  }

  test("dupClusters resolves transitive chains to min-key components (union-find ground truth)") {
    // a long chain (diameter 19 — forces multi-round propagation), a star,
    // a triangle, an isolated pair, and a zigzag that merges through a hub
    val edges: Seq[(Long, Long)] =
      (0L until 19L).map(i => (i, i + 1)) ++
        (101L to 110L).map(i => (100L, i)) ++
        Seq((200L, 201L), (201L, 202L), (200L, 202L)) ++
        Seq((300L, 301L)) ++
        Seq((400L, 405L), (402L, 405L), (401L, 402L))
    // edges with a null endpoint (dirty input) are dropped on both paths
    val nullEdges = Seq[(java.lang.Long, java.lang.Long)]((500L, null), (null, 19L))
    val pairs = edges.toDF("key_a", "key_b").union(nullEdges.toDF("key_a", "key_b"))
    val clusters = Dedup.dupClusters(pairs)
    val got = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // both branches must agree: the guarded driver union-find (taken at this
    // size) and the distributed label-propagation loop
    val (edgeTable, nEdges) = Dedup.clusterEdges(pairs)
    // the observed guard count is the distinct non-null edge count
    assert(nEdges === edgeTable.count() && nEdges === edgeTable.distinct().count())
    val gotDistributed = Dedup.propagatedClusters(edgeTable)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === gotDistributed)
    // driver-side union-find ground truth (attach larger root under smaller,
    // so every root is its component's minimum key)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(got === verts.map(v => v -> find(v)).toMap)
    // chain 0..19 collapsed into ONE cluster rooted at 0
    assert((0L to 19L).forall(got(_) == 0L))
    // survivors: cluster representative + un-clustered docs
    val docs = (verts :+ 999L).toDF("doc_id")
    val survivors = Dedup.dedupByClusters(docs, col("doc_id"), clusters)
      .collect().map(_.getLong(0)).toSet
    assert(survivors === verts.map(find).toSet + 999L)
    // no cartesian anywhere in the resolved plan
    val plan = clusters.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("top-k is exact when the whole top-k shares one residue mod 64") {
    // the true top-10 all live at vec_id ≡ 0 (mod 64), so a rank that kept
    // fewer than k rows per residue class (or per map task) would drop
    // winners
    val dim = 8
    val q = Array.fill(dim)(1.0f)
    val winners = (0 until 15).map(i => (i * 64L, q.toSeq)) // cos = 1
    val rng = new scala.util.Random(7)
    val rest = (0 until 400).map { i =>
      (1000L + i, Array.fill(dim)(rng.nextGaussian().toFloat * 0.1f - 0.5f).toSeq)
    }
    val corpus = (winners ++ rest).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val queries = Seq((0L, q.toSeq)).toDF("query_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val got = Similarity.bruteTopK(corpus, queries, 10)
      .orderBy("rn").collect().map(_.getAs[Long]("vec_id"))
    assert(got.toSeq === (0 until 10).map(_ * 64L), "tie-break by vec_id within one residue class")
  }

  test("header codecs parse real PNG/JPEG dimensions; non-images fall back to the stub") {
    // hand-built PNG: signature + IHDR(len=13) with width=640, height=480
    def be32(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0)
    assert(Multimodal.HeaderCodecs.imageDims(png) === Some((640, 480, "png")))
    // hand-built JPEG: SOI, APP0 (16 bytes), DHT (must be skipped, it shares
    // the 0xCx space), then SOF0 with precision=8, height=1080, width=1920
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xff.toByte, marker.toByte,
        ((payload.length + 2) >> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload
    val jpeg = Array(0xff.toByte, 0xd8.toByte) ++
      seg(0xe0, "JFIF".getBytes ++ Array.fill[Byte](10)(0)) ++
      seg(0xc4, Array.fill[Byte](5)(1)) ++
      seg(0xc0, Array[Byte](8, (1080 >> 8).toByte, (1080 & 0xff).toByte,
        (1920 >> 8).toByte, (1920 & 0xff).toByte, 3))
    assert(Multimodal.HeaderCodecs.imageDims(jpeg) === Some((1920, 1080, "jpeg")))
    // truncated PNG (signature only) and arbitrary bytes: no parse
    assert(Multimodal.HeaderCodecs.imageDims(png.take(12)) === None)
    assert(Multimodal.HeaderCodecs.imageDims("not an image".getBytes) === None)
    // end-to-end: a real PNG payload through decodeImages gets REAL dims;
    // a synthetic payload falls back to the deterministic stub
    val media = Seq(("d1", "media://png", png), ("d2", "media://blob", Array.fill[Byte](64)(7)))
      .toDF("doc_id", "media_ref", "bytes")
    val decoded = Multimodal.decodeImages(media).collect().map(d => d.media_ref -> d).toMap
    assert(decoded("media://png").width === 640 && decoded("media://png").height === 480 &&
      decoded("media://png").format === "png")
    val stub = Multimodal.StubCodecs.decodeImage(Array.fill[Byte](64)(7))
    assert((decoded("media://blob").width, decoded("media://blob").height,
      decoded("media://blob").format) === stub)
  }

  test("PngSynth emits byte-valid PNGs: JDK ImageIO decodes dims and pixels") {
    for ((w, h, seed) <- Seq((1, 1, 0), (16, 63, 123), (63, 16, 999), (40, 40, 255))) {
      val bytes = Multimodal.PngSynth.png(w, h, seed)
      // independent decoder: the JDK's own PNG reader, not our header parser
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected ${w}x$h")
      assert(img.getWidth === w && img.getHeight === h)
      val gray = img.getRaster
      for (x <- 0 until w; y <- 0 until h)
        assert(gray.getSample(x, y, 0) === ((x * 31 + y * 17 + seed) & 0xff),
          s"pixel ($x,$y) seed=$seed")
      // and our own zero-dependency header parser agrees
      assert(Multimodal.HeaderCodecs.imageDims(bytes) === Some((w, h, "png")))
    }
  }

  test("PngSynth.decodeGray reads foreign PNGs (ImageIO's filtered deflate) and resize resamples exactly") {
    // round-trip our own encoder
    val own = Multimodal.PngSynth.png(37, 23, 77)
    val Some((w0, h0, px0)) = Multimodal.PngSynth.decodeGray(own)
    assert((w0, h0) === (37, 23))
    for (x <- 0 until 37; y <- 0 until 23)
      assert((px0(y * 37 + x) & 0xff) === ((x * 31 + y * 17 + 77) & 0xff))
    // a FOREIGN encoder: ImageIO emits real deflate with Sub/Up/Paeth
    // scanline filters — decoding it exercises every non-trivial path
    val img = new java.awt.image.BufferedImage(41, 29,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (x <- 0 until 41; y <- 0 until 29)
      img.getRaster.setSample(x, y, 0, (x * x + 3 * y) % 251)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val Some((w1, h1, px1)) = Multimodal.PngSynth.decodeGray(baos.toByteArray)
    assert((w1, h1) === (41, 29))
    for (x <- 0 until 41; y <- 0 until 29)
      assert((px1(y * 41 + x) & 0xff) === (x * x + 3 * y) % 251, s"pixel ($x,$y)")
    // adversarial payloads must return None, not hang or throw: (a) a zlib
    // header demanding a preset dictionary (FDICT bit — Inflater would
    // yield 0 bytes forever), (b) a chunk length near Int.MaxValue whose
    // naive bounds check overflows
    val fdict = own.clone()
    // IDAT data starts after sig(8) + IHDR chunk(4+4+13+4); patch its
    // 2-byte zlib header to 0x78 0x20: FDICT set AND valid FCHECK
    // ((0x7800 + 0x20) % 31 == 0), so Inflater takes the
    // needs-a-preset-dictionary path (inflate() = 0, not finished) rather
    // than throwing on the checksum
    val idatData = 8 + 25 + 8
    fdict(idatData) = 0x78.toByte; fdict(idatData + 1) = 0x20.toByte
    assert(Multimodal.PngSynth.decodeGray(fdict) === None)
    // second chunk declares length 0x7FFFFFF0: i + 8 + len wraps negative
    val hugeLen = own.take(8 + 25) ++ Array[Byte](0x7f, -1, -1, -16) ++
      "IDAT".getBytes ++ Array.fill[Byte](16)(1)
    assert(Multimodal.PngSynth.decodeGray(hugeLen) === None)
    // resize: every output pixel equals its nearest-neighbor source pixel
    val resized = Multimodal.PngSynth.resizeGray(41, 29, px1, 16, 8)
    for (x <- 0 until 16; y <- 0 until 8)
      assert(resized(y * 16 + x) === px1((y * 29 / 8) * 41 + x * 41 / 16))
    // operator end-to-end over the media table: real decode flag set, output
    // parses back with the target dims
    val media = Seq(("d1", "media://5", Multimodal.PngSynth.png(40, 30, 5)),
      ("d2", "media://blob", "not a png".getBytes))
      .toDF("doc_id", "media_ref", "bytes")
    val out = Multimodal.resizeImages(media, 12, 10).collect()
      .map(r => r.media_ref -> r).toMap
    assert(out("media://5").real_decode && !out("media://blob").real_decode)
    out.values.foreach { r =>
      assert(Multimodal.HeaderCodecs.imageDims(r.bytes) === Some((12, 10, "png")))
    }
    // resized real image: spot-check one pixel against the source gradient
    val Some((_, _, rp)) = Multimodal.PngSynth.decodeGray(out("media://5").bytes)
    assert((rp(0) & 0xff) === ((0 * 31 + 0 * 17 + 5) & 0xff))
  }

  test("grid-pooled features are real pixel means; stub only for non-decodable payloads") {
    // kernel check against driver-side arithmetic on a 20×24 gradient image
    val (w, h, seed) = (20, 24, 7)
    val Some((_, _, px)) = Multimodal.PngSynth.decodeGray(Multimodal.PngSynth.png(w, h, seed))
    val f = Multimodal.PngSynth.gridPooledFeature(w, h, px, 16)
    for (cy <- 0 until 4; cx <- 0 until 4) {
      val (x0, x1) = (cx * w / 4, (cx + 1) * w / 4)
      val (y0, y1) = (cy * h / 4, (cy + 1) * h / 4)
      val vals = for (y <- y0 until y1; x <- x0 until x1)
        yield (x * 31 + y * 17 + seed) & 0xff
      val expected = (vals.map(_.toLong).sum.toDouble / vals.size).toFloat
      assert(f(cy * 4 + cx) === expected, s"cell ($cx,$cy)")
    }
    // non-square dim falls back to strip pooling over the flat buffer
    val f5 = Multimodal.PngSynth.gridPooledFeature(w, h, px, 5)
    assert(f5.length === 5 && f5.forall(v => v >= 0f && v <= 255f))
    // through the operator: real feature for a PngSynth payload, stub
    // (hash-random) for an arbitrary blob — and the two are distinguishable
    // because the real one equals the recomputed mean
    val media = Seq(("d1", "media://7", Multimodal.PngSynth.png(w, h, seed)),
      ("d2", "media://blob", Array.fill[Byte](64)(9)))
      .toDF("doc_id", "media_ref", "bytes")
    val out = Multimodal.decodeImages(media, featureDim = 16).collect()
      .map(r => r.doc_id -> r).toMap
    assert(out("d1").feature.toSeq === f.toSeq, "operator feature != kernel feature")
    assert(out("d2").feature.toSeq ===
      Multimodal.StubCodecs.extractFeature(Array.fill[Byte](64)(9), 16).toSeq)
  }

  test("decodeGray bounds hostile IHDR dimensions (None, no allocation attempt)") {
    val own = Multimodal.PngSynth.png(4, 4, 1)
    // width patched to 2^30 (offset 16-19): h*(1+w) overflows Int sizing
    val evilW = own.clone()
    evilW(16) = 0x40.toByte; evilW(17) = 0; evilW(18) = 0; evilW(19) = 0
    assert(Multimodal.PngSynth.decodeGray(evilW) === None)
    // height patched to 2^30
    val evilH = own.clone()
    evilH(20) = 0x40.toByte; evilH(21) = 0; evilH(22) = 0; evilH(23) = 0
    assert(Multimodal.PngSynth.decodeGray(evilH) === None)
    // dims that FIT an Int but claim ~1.8 GB from a few-byte IDAT: the
    // inflate-expansion bound (≤1032×) rejects without allocating
    val evilBig = own.clone()
    evilBig(16) = 0; evilBig(17) = 0; evilBig(18) = 0xea.toByte; evilBig(19) = 0x60.toByte // w=60000
    evilBig(20) = 0; evilBig(21) = 0; evilBig(22) = 0x75.toByte; evilBig(23) = 0x30.toByte // h=30000
    assert(Multimodal.PngSynth.decodeGray(evilBig) === None)
  }

  test("WAV codec pair: round-trip, foreign chunk layout, hostile lengths, real features") {
    import Multimodal.WavSynth
    // round-trip
    val tone = Array.tabulate(1000)(i => (((i * 37 + 707 * 101) % 4001) - 2000).toShort)
    val Some((rate, got)) = WavSynth.decodePcm16(WavSynth.encodePcm16(8000, tone))
    assert(rate === 8000 && got.toSeq === tone.toSeq)
    // foreign layout: a LIST chunk before fmt, odd-length chunk padding
    val own = WavSynth.encodePcm16(8000, tone)
    val extra = "LIST".getBytes ++ Array[Byte](3, 0, 0, 0) ++ Array[Byte](1, 2, 3, 0) // 3-byte chunk + pad
    val foreign = own.take(12) ++ extra ++ own.drop(12)
    // RIFF size field now stale — the decoder walks chunks, not the header size
    val Some((_, got2)) = WavSynth.decodePcm16(foreign)
    assert(got2.toSeq === tone.toSeq, "decoder must skip unknown chunks with odd padding")
    // hostile: fmt chunk claiming a huge length
    val evil = own.clone()
    evil(16) = -1; evil(17) = -1; evil(18) = -1; evil(19) = 0x7f // fmt len = Int.Max-ish
    assert(WavSynth.decodePcm16(evil) === None)
    // truncated data chunk: decode what is present, not the declared length
    val truncated = own.dropRight(100)
    val Some((_, got3)) = WavSynth.decodePcm16(truncated)
    assert(got3.length === tone.length - 50)
    // stereo / non-PCM rejected
    val stereo = own.clone(); stereo(22) = 2
    assert(WavSynth.decodePcm16(stereo) === None)
    // features: exact vs driver-side recomputation, window bounds i*n/w
    val (meanAbs, zc) = WavSynth.audioFeatures(tone, 8)
    for (k <- 0 until 8) {
      val (x0, x1) = (k * 1000 / 8, (k + 1) * 1000 / 8)
      val expAbs = (x0 until x1).map(i => math.abs(tone(i).toInt).toLong).sum
      assert(meanAbs(k) === (expAbs.toDouble / (x1 - x0)).toFloat, s"meanAbs($k)")
      val expZc = (math.max(x0, 1) until x1)
        .count(i => (tone(i - 1) < 0) != (tone(i) < 0))
      assert(zc(k) === expZc, s"zc($k)")
    }
    // through the operator: real decode for WAV payloads, stub for blobs
    val media = Seq(("d1", "media://707", WavSynth.wav(1000, 707)),
      ("d2", "media://blob", Array.fill[Byte](64)(3)))
      .toDF("doc_id", "media_ref", "bytes")
    val out = Multimodal.decodeAudio(media, windows = 8).collect()
      .map(r => r.doc_id -> r).toMap
    assert(out("d1").n_samples === 1000 && out("d1").mean_abs.toSeq === meanAbs.toSeq &&
      out("d1").zero_crossings.toSeq === zc.toSeq)
    val stub = Multimodal.StubCodecs.decodeAudio(Array.fill[Byte](64)(3), 8)
    assert(out("d2").n_samples === stub._2 && out("d2").mean_abs.toSeq === stub._3.toSeq)
  }

  test("packed-video container: round-trip, hostile counts, real per-frame decode") {
    import Multimodal.{GpvSynth, PngSynth}
    val frames = (0 until 5).map(f => PngSynth.png(20, 12, (9 + 7 * f) & 0xff))
    val vid = GpvSynth.encode(frames)
    val Some(back) = GpvSynth.decode(vid)
    assert(back.length === 5 && back.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // hostile frame count (huge), hostile frame length, trailing garbage
    val evilN = vid.clone(); evilN(6) = 0x7f
    assert(GpvSynth.decode(evilN) === None)
    val evilLen = vid.clone(); evilLen(10) = 0x7f
    assert(GpvSynth.decode(evilLen) === None)
    assert(GpvSynth.decode(vid ++ Array[Byte](0)) === None)
    assert(GpvSynth.decode("not a video".getBytes) === None)
    // operator: every-2nd frame, real dims + gradient (0,0) pixel; stub for blobs
    val media = Seq(("d1", "media://9", GpvSynth.video(5, 20, 12, 9)),
      ("d2", "media://blob", Array.fill[Byte](200)(5)))
      .toDF("doc_id", "media_ref", "bytes")
    val out = Multimodal.sampleFramesReal(media, every = 2).collect()
      .groupBy(_.doc_id)
    val real = out("d1").sortBy(_.frame_idx)
    assert(real.map(_.frame_idx).toSeq === Seq(0, 2, 4))
    real.foreach { s =>
      assert(s.real_decode && s.width === 20 && s.height === 12 &&
        s.p00 === (9 + 7 * s.frame_idx) % 256, s.toString)
    }
    assert(out("d2").forall(!_.real_decode), "blob must take the stub path")
  }

  test("multimodal plumbing: media explode, batch decode, frame sampling are deterministic") {
    val docs = graft.fixtures.DeterministicGen.docsDF(spark, 0.001)
    val view = graft.model.OsmView.derive(docs)
    val media = Multimodal.mediaTable(view).cache()
    assert(media.count() > 0)
    assert(media.schema("bytes").dataType.typeName === "binary")
    val decoded = Multimodal.decodeImages(media, featureDim = 8)
    val d1 = decoded.collect().sortBy(m => (m.doc_id, m.media_ref))
    val d2 = Multimodal.decodeImages(media, featureDim = 8)
      .collect().sortBy(m => (m.doc_id, m.media_ref))
    assert(d1.map(_.feature.toSeq) === d2.map(_.feature.toSeq), "deterministic decode")
    // mediaTable payloads are real PngSynth images: dims come from the REAL
    // header parse and must equal the ref-digit arithmetic the table used
    assert(d1.forall(m => m.format == "png" && m.feature.length === 8))
    d1.foreach { m =>
      val mid = "([0-9]{1,6})$".r.findFirstIn(m.media_ref).map(_.toInt).getOrElse(0)
      assert(m.width === 16 + mid * 7 % 48 && m.height === 16 + mid * 13 % 48,
        s"${m.media_ref}: got ${m.width}x${m.height}")
    }
    // PNG payloads are no frame container: every row takes the stub path
    val frames = Multimodal.sampleFramesReal(media).collect()
    assert(frames.nonEmpty && frames.forall(!_.real_decode))
    assert(frames.groupBy(f => (f.doc_id, f.media_ref, f.frame_idx)).forall(_._2.length == 1))
    assert(frames.sortBy(f => (f.doc_id, f.media_ref, f.frame_idx)).toSeq ===
      Multimodal.sampleFramesReal(media).collect()
        .sortBy(f => (f.doc_id, f.media_ref, f.frame_idx)).toSeq, "deterministic sampling")
  }
}

object OpsSpec {
  import org.apache.spark.sql.{Column, DataFrame, GraftBridge}

  /** All-pairs exact n-gram Jaccard over the cross product — the oracle of
    * [[Dedup.jaccardDupPairs]]' shingle self-join. */
  def jaccardCross(docs: DataFrame, textCol: Column, keyCol: Column,
                   ngram: Int, threshold: Double): DataFrame = {
    val s = docs.select(keyCol.as("key"),
      GraftBridge.column(graft.exprs.Shingles(GraftBridge.expression(textCol), ngram)).as("sh"))
    val l = s.select(col("key").as("key_a"), col("sh").as("sh_a"))
    val r = s.select(col("key").as("key_b"), col("sh").as("sh_b"))
    l.crossJoin(r).filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Distinct word n-gram shingles, pure Columns — the oracle of the
    * [[graft.exprs.Shingles]] kernel. */
  def shinglesHof(text: Column, n: Int): Column = {
    val tokens = filter(split(lower(trim(text)), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)
    when(size(tokens) < n, when(size(tokens) > 0, array(concat_ws(" ", tokens)))
        .otherwise(array().cast("array<string>")))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(tokens) - (n - 1)),
        i => concat_ws(" ", slice(tokens, i, lit(n))))))
  }

  /** MinHash signature, pure Columns — the oracle of the
    * [[graft.exprs.MinhashSignature]] kernel: slot i is array_min over
    * xxhash64(shingle, i), `Long.MaxValue` for an empty set. */
  def minhashSignatureHof(shinglesCol: Column, numHashes: Int): Column = {
    val slots = (0 until numHashes).map { i =>
      when(size(shinglesCol) === 0, lit(Long.MaxValue))
        .otherwise(array_min(transform(shinglesCol,
          s => xxhash64(s, lit(i)))))
    }
    array(slots: _*)
  }

  /** 64-bit SimHash over word tokens, pure Columns — the HOF oracle of
    * [[Dedup.simhashDF]]'s kernel: per-bit majority vote of token hashes,
    * built with 64 aggregate() passes folded into one projection. bit b of
    * the result = 1 iff Σ_tokens sign(bit b of hash(token)) > 0. */
  def simhashHof(text: Column): Column = {
    val tokens = filter(split(lower(trim(text)), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)
    val hashes = transform(tokens, t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftrightunsigned(h, b).bitwiseAND(lit(1L)) === 1L,
          lit(1L)).otherwise(lit(-1L)))
      when(votes > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
