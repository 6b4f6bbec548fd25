package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docsDf = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 1
      (3L, "completely different content about databases and distributed systems"),
      (4L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (5L, "yet another unrelated string talking about weather patterns")
    ).toDF("doc_id", "text")
  }

  test("minhash-lsh finds near and exact duplicates, not unrelated pairs") {
    val pairs = Dedup.minhashLshPairs(docsDf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("1", "4")), s"exact dup pair missing: $pairs")
    assert(pairs.contains(("1", "2")) || pairs.contains(("2", "4")), s"near dup pair missing: $pairs")
    assert(!pairs.contains(("3", "5")), s"unrelated pair matched: $pairs")
  }

  test("minhash JVM bucket hashes are bit-identical to the Catalyst column formulation") {
    val s = spark
    import s.implicits._
    val df = docsDf.select($"doc_id",
      Dedup.bandHashes(Dedup.minhashSignature(Dedup.shingles($"text", 5), 16), 16, 4).as("buckets"))
    val colVals = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val jvmVals = docsDf.collect().map(r => r.getLong(0) ->
      Dedup.bucketHashesJvm(r.getString(1), 5, 16, 4).toSeq).toMap
    assert(jvmVals == colVals)
  }

  test("jaccard pairs agree with set semantics") {
    val s = spark
    import s.implicits._
    // every id pair a < b of the bounded 5-doc table
    val ids = docsDf.select($"doc_id")
    val pairs = ids.select($"doc_id".as("doc_a"))
      .crossJoin(ids.select($"doc_id".as("doc_b")))
      .filter($"doc_a" < $"doc_b")
    // column order after the equi-joins is (doc_b, doc_a, jaccard)
    val rows = Dedup.jaccardPairs(docsDf, pairs, threshold = 0.0).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")), r.getAs[Double]("jaccard"))).toMap
    assert(rows((1L, 4L)) == 1.0) // identical
    assert(rows((1L, 2L)) > 0.8) // near dup
    assert(rows((3L, 5L)) < 0.2) // unrelated
  }

  test("jaccard on explicit candidate pairs has no cartesian product") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 4L), (3L, 5L)).toDF("doc_a", "doc_b")
    val df = Dedup.jaccardPairs(docsDf, pairs, threshold = 0.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(df.count() == 3)
  }

  test("lsh bucket cap: pathological all-identical corpus finishes bounded") {
    val s = spark
    import s.implicits._
    // 400 identical docs → every band bucket holds all 400; uncapped this
    // is ~319k pairs from pure boilerplate — the cap drops the buckets
    val clones = (1L to 400L).map(i => (i, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(clones, maxBucketSize = 50)
    assert(pairs.count() == 0)
    // with the cap above the bucket size the pairs come back
    val uncapped = Dedup.minhashLshPairs(clones.limit(10), maxBucketSize = 500)
    assert(uncapped.count() == 45)
  }

  test("streamed group-pass pair emitters are result-identical to the window-cap join formulation") {
    // r7 optimization: minhashLshPairs / simhashPairsFromSigs replaced the
    // (band, bucket) window cap + equi-self-join with one flatMapGroups
    // pass; this pins result identity against the former formulation
    // (which the DuckDB oracle still replays as QUALIFY + join)
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val corpus = docsDf.union(
      (10L to 40L).map(i => (i, s"filler doc $i with shared chrome boilerplate text"))
        .toDF("doc_id", "text"))
    for (cap <- Seq(2, 256)) {
      // d7 reference: window cap + self-join over the same JVM bucket hashes
      val sig = corpus.select($"doc_id".cast("string").as("id"), $"text")
        .as[(String, String)]
        .mapPartitions(_.flatMap { case (id, text) =>
          Dedup.bucketHashesJvm(Option(text).getOrElse(""), 5, 16, 4)
            .iterator.zipWithIndex.map { case (bucket, band) => (id, band, bucket) }
        }).toDF("id", "band", "bucket")
      val w = Window.partitionBy($"band", $"bucket")
      val capped = sig.withColumn("n", count(lit(1)).over(w)).filter($"n" <= cap).drop("n")
      val ref = capped.select($"id".as("doc_a"), $"band", $"bucket")
        .join(capped.select($"id".as("doc_b"), $"band", $"bucket"), Seq("band", "bucket"))
        .filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared_bands"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val got = Dedup.minhashLshPairs(corpus, maxBucketSize = cap)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == ref, s"cap=$cap: got=${got.size} ref=${ref.size}")
      // d11 reference: window cap + self-join over the band keys
      val sigs = Dedup.simhashPortableDf(corpus)
      val keys = Dedup.simhashBandKeys(sigs)
      val kcapped = keys.withColumn("n", count(lit(1)).over(Window.partitionBy($"band", $"bval")))
        .filter($"n" <= cap).drop("n")
      val ref11 = kcapped.select($"doc_id".as("doc_a"), $"simhash".as("sig_a"), $"band", $"bval")
        .join(kcapped.select($"doc_id".as("doc_b"), $"simhash".as("sig_b"), $"band", $"bval"),
          Seq("band", "bval"))
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b",
          bit_count($"sig_a".bitwiseXOR($"sig_b")).cast("long").as("hamming"))
        .distinct().filter($"hamming" <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got11 = Dedup.simhashPairsFromSigs(sigs, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got11 == ref11, s"cap=$cap: got=${got11.size} ref=${ref11.size}")
    }
  }

  test("d10 broadcast-map scorer is result-identical to the join-path scorer") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (1L to 120L).map { i =>
      // clustered pairs so some cosines clear the threshold
      val base = Array.fill(16)(rng.nextGaussian())
      val v = if (i % 3 == 0) base.map(_ + rng.nextGaussian() * 0.05)
        else Array.fill(16)(rng.nextGaussian())
      (i, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val sig = Ann.signatureTable(vecs, nTables = 16, nBits = 8).persist()
    try {
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaJoin = collect(Ann.cosineDupPairsFromSignatures(sig, threshold = 0.4,
        bucketBits = 3, broadcastVectors = false))
      val viaBroadcast = collect(Ann.cosineDupPairsFromSignatures(sig, threshold = 0.4,
        bucketBits = 3, broadcastVectors = true))
      assert(viaJoin == viaBroadcast, s"join=${viaJoin.size} bc=${viaBroadcast.size}")
      assert(viaBroadcast.nonEmpty, "test corpus produced no pairs — not exercising the scorer")
    } finally sig.unpersist()
  }

  test("pair emitters tolerate null ids: counted toward the cap, paired with nothing") {
    // the former window + `doc_a < doc_b` formulations null-propagated
    // null-id docs out of the pair set; the streamed group passes must
    // preserve that instead of crashing (review finding, r7)
    val s = spark
    import s.implicits._
    val withNull = docsDf.union(
      Seq((null.asInstanceOf[java.lang.Long], "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val got = Dedup.minhashLshPairs(withNull).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val base = Dedup.minhashLshPairs(docsDf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == base, s"got=$got base=$base")
    val sigs = Dedup.simhashPortableDf(docsDf)
      .union(Seq((null.asInstanceOf[java.lang.Long], 123456789L)).toDF("doc_id", "simhash"))
    val gotSim = Dedup.simhashPairsFromSigs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseSim = Dedup.simhashPairsFromSigs(Dedup.simhashPortableDf(docsDf)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSim == baseSim, s"got=$gotSim base=$baseSim")
  }

  test("x3 generation-side resume pruning is output-identical to filtering the full corpus") {
    val s = spark
    // r7 optimization: x3 prunes completed buckets BEFORE docHtml; the
    // surviving extraction output must match the unpruned construction
    val nParts = 32
    val doneLineage = s.range(nParts / 2).select(org.apache.spark.sql.functions.col("id").as("part_key"))
    val enc = org.apache.spark.sql.Encoders.product[Doc]
    def rows(pruned: Boolean) = {
      val all =
        if (pruned) Corpus.generate(s, 100, idFilter = id =>
          !Lineage.partKey(Corpus.docIdCol(id), nParts)
            .isInCollection(0L until (nParts / 2).toLong))
        else Corpus.generate(s, 100)
      implicit val sp: org.apache.spark.sql.SparkSession = s
      Pipeline.extract(
          Lineage.resumeFilter(all.toDF(), doneLineage, nParts).as[Doc](enc))
        .select("doc_id", "status", "text_length").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    }
    val p = rows(pruned = true)
    val u = rows(pruned = false)
    assert(p == u, s"pruned=${p.size} unpruned=${u.size}")
    assert(p.nonEmpty)
  }

  test("simhash pairs: banded Hamming search is complete vs brute force within the cap") {
    val s = spark
    import s.implicits._
    // the shared 5-doc corpus plus extra near-dup variants to populate
    // the low-Hamming band
    val docs = docsDf.union(Seq(
      (6L, "the quick brown fox jumps over the lazy dog again and again!!"),
      (7L, "the quick brown fox jumps over that lazy dog again and again")
    ).toDF("doc_id", "text"))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3, nBands = 4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // exact dup must be found at Hamming 0; unrelated docs never pair
    assert(pairs.get((1L, 4L)).contains(0L), pairs.toString)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L), pairs.toString)
    // completeness (pigeonhole, no cap hit at this size): exactly the
    // brute-force Hamming ≤ 3 pair set
    val sigs = Dedup.simhashPortableDf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(pairs == brute, s"banded=$pairs brute=$brute")
    // degenerate-band cap: identical boilerplate clones collapse to the
    // same fingerprint — capped away instead of emitting m²/2 pairs
    val clones = (1L to 300L).map(i => (i, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashPairs(clones, maxBucketSize = 50).count() == 0)
    // no cartesian anywhere in the plan
    val plan = Dedup.simhashPairs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ann: lsh top-k achieves high recall vs exact baseline") {
    val s = spark
    import s.implicits._
    // deterministic clustered vectors
    val rng = new scala.util.Random(7)
    val base = Array.fill(3)(Array.fill(16)(rng.nextFloat() * 2 - 1))
    val vecs = (0 until 60).map { i =>
      val c = base(i % 3)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.2f).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    val exact = Ann.cosineTopK(vecs, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sig = Ann.signatureTable(vecs, nTables = 12, nBits = 6)
    val approx = Ann.lshCosineTopKPrecomputed(sig, queries, 10, nTables = 12, nBits = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall")
  }

  test("ann: Hamming-1 multi-probe lifts precomputed-LSH recall at fixed table count") {
    val s = spark
    import s.implicits._
    // uniform random vectors: a query's true top-k sit at cosine ~0.6-0.7,
    // where single-probe sign-LSH misses often (each of the 8 bits flips
    // w.p. ~arccos(c)/pi) — the regime multi-probe exists for. Clustered
    // corpora saturate recall at 1.0 for both and show nothing.
    val rng = new scala.util.Random(31)
    val vecs = (0 until 1000).map(i =>
      (i.toLong, Seq.fill(24)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 4)
    val sig = Ann.signatureTable(vecs, nTables = 16, nBits = 8).persist()
    try {
      sig.count()
      val exact = Ann.cosineTopK(vecs, queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def pairs(ph: Int) = Ann.lshCosineTopKPrecomputed(sig, queries, 10,
          nTables = 16, nBits = 8, probeHamming = ph)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val single = pairs(0)
      val multi = pairs(1)
      val rSingle = (exact & single).size.toDouble / exact.size
      val rMulti = (exact & multi).size.toDouble / exact.size
      info(f"recall@10: single-probe=$rSingle%.3f multi-probe(H1)=$rMulti%.3f")
      // candidate supersets can only move the approx top-k TOWARD exact
      assert((exact & multi).size >= (exact & single).size)
      // and on this corpus the lift is real and large
      assert(rMulti >= 0.95, f"multi-probe recall $rMulti%.3f")
      assert(rMulti >= rSingle + 0.1, f"no lift: single=$rSingle%.3f multi=$rMulti%.3f")
    } finally sig.unpersist()
  }

  test("simhashPortableJvm is bit-identical to the Catalyst column formulation") {
    val s = spark
    import s.implicits._
    val colVals = docsDf.select($"doc_id", Dedup.simhashPortable($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jvmVals = Dedup.simhashPortableDf(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jvmVals == colVals)
    // zero-token doc: every majority vote trivially true → 2^60 − 1
    assert(Dedup.simhashPortableJvm("") == (1L << 60) - 1)
    assert(Dedup.simhashPortableJvm("   ") == (1L << 60) - 1)
  }

  test("JVM ≡ column parity holds on non-ASCII text and the \\x0B edge (shared normalization)") {
    val s = spark
    import s.implicits._
    // Turkish dotted/dotless İ, German sharp-s, accents, a vertical tab
    // (NOT whitespace under the shared RE2-compatible class), CRLF runs
    val tricky = Seq(
      (1L, "İstanbul ÄRGER straße ÇÖKÜŞ"),
      (2L, "mixed\u000Bvertical tab stays\u000Bglued"),
      (3L, "crlf\r\nruns\t\tand\f formfeed"),
      (4L, "ΕΛΛΗΝΙΚΆ κείμενο И РУССКИЙ текст")
    ).toDF("doc_id", "text")
    val colSim = tricky.select($"doc_id", Dedup.simhashPortable($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val jvmSim = Dedup.simhashPortableDf(tricky).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jvmSim == colSim)
    val colMh = tricky.select($"doc_id",
      Dedup.bandHashes(Dedup.minhashSignature(Dedup.shingles($"text", 5), 16), 16, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val jvmMh = tricky.collect().map(r => r.getLong(0) ->
      Dedup.bucketHashesJvm(r.getString(1), 5, 16, 4).toSeq).toMap
    assert(jvmMh == colMh)
  }

  test("simhashPortable: near-dups have small hamming distance") {
    val h = Dedup.simhashPortableDf(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(4L)) == 0)
    assert(ham(h(1L), h(2L)) <= 8)
    assert(ham(h(1L), h(3L)) > 10)
  }

  test("ann: bucketed dup pairs achieve high recall vs the all-pairs baseline, no collect, no cartesian") {
    val s = spark
    import s.implicits._
    // clustered vectors: intra-cluster cosines are high, cross-cluster low
    val rng = new scala.util.Random(13)
    val base = Array.fill(5)(Array.fill(32)(rng.nextFloat() * 2 - 1))
    val vecs = (0 until 200).map { i =>
      val c = base(i % 5)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.15f).toSeq)
    }.toDF("vec_id", "embedding")
    val exact = Ann.cosineDupPairs(vecs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sig = Ann.signatureTable(vecs, nTables = 16, nBits = 8)
    // the registered query's own plan ends at ExternalRDDScan (InternalRow
    // scorer) — audit the candidate/join stage, where the topology lives
    val plan = Ann.cosineDupPairsCandidates(sig, bucketBits = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val bucketed = Ann.cosineDupPairsFromSignatures(sig, threshold = 0.8, bucketBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // every bucketed pair is a true pair (verify stage is exact)…
    assert(bucketed.subsetOf(exact))
    // …and recall is high (16 tables × 3 bits on clustered cosines)
    val recall = bucketed.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${bucketed.size}/${exact.size})")
  }

  test("ann: deriveBucketBits keeps expected occupancy at or under target, clamped") {
    import Ann.deriveBucketBits
    // n ≤ target → minimum width
    assert(deriveBucketBits(0, 512) == 3)
    assert(deriveBucketBits(512, 512) == 3)
    // past the cap-collapse point the width grows: occupancy n/2^bits ≤ target
    for (n <- Seq(5000L, 33000L, 1000000L, 1000000000L)) {
      val bits = deriveBucketBits(n, 512, minBits = 3, maxBits = 57)
      assert(n.toDouble / (1L << bits) <= 512.0, s"n=$n bits=$bits")
      assert(bits == 3 || n.toDouble / (1L << (bits - 1)) > 512.0, s"n=$n bits=$bits not minimal")
    }
    // clamped to the stored signature width
    assert(deriveBucketBits(1L << 40, 1, minBits = 3, maxBits = 8) == 8)
  }

  test("ann: zero-norm embeddings are skipped, not NaN-crashed (dup pairs + topk probe)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    val base = Array.fill(32)(rng.nextFloat() * 2 - 1)
    val normal = (0 until 30).map(i =>
      (i.toLong, base.map(x => x + (rng.nextFloat() - 0.5f) * 0.1f).toSeq))
    // two zero vectors: they share the all-ones sign signature, so they
    // ALWAYS collide in every table — the guaranteed pre-fix crash pair
    val vecs = (normal ++ Seq((100L, Seq.fill(32)(0.0f)), (101L, Seq.fill(32)(0.0f))))
      .toDF("vec_id", "embedding")
    val sig = Ann.signatureTable(vecs, nTables = 8, nBits = 8)
    val pairs = Ann.cosineDupPairsFromSignatures(sig, threshold = 0.0, bucketBits = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a < 100L && b < 100L },
      s"zero-norm vector leaked into pairs: ${pairs.filter(p => p._1 >= 100 || p._2 >= 100).mkString(",")}")
    // all-pairs baseline: same skip semantics
    val exact = Ann.cosineDupPairs(vecs, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.forall { case (a, b) => a < 100L && b < 100L })
    // topk probes: zero-norm query returns no rows; zero-norm candidate never ranks
    val queries = vecs.filter($"vec_id" === 0L || $"vec_id" === 100L)
    val rows = Ann.lshCosineTopKPrecomputed(sig, queries, 5, nTables = 8, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.forall(_._1 == 0L), s"zero-norm query leaked: ${rows.mkString(",")}")
    assert(rows.forall(_._2 < 100L), s"zero-norm candidate leaked: ${rows.mkString(",")}")
  }

  test("ann: derived bucket bits keep recall high where fixed bits=3 collapses under the cap") {
    val s = spark
    import s.implicits._
    // mixture corpus: uniform background + small tight clusters of true
    // near-dups — the shape where a fixed sub-banding width dies: once
    // background occupancy n/2^bits passes the degenerate-bucket cap,
    // EVERY bucket is dropped and the pair set silently collapses
    val rng = new scala.util.Random(19)
    val clusters = Array.fill(5)(Array.fill(32)(rng.nextFloat() * 2 - 1))
    val members = (0 until 100).map { i =>
      val c = clusters(i % 5)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.15f).toSeq)
    }
    val background = (100 until 2000).map(i =>
      (i.toLong, Seq.fill(32)(rng.nextFloat() * 2 - 1)))
    val vecs = (members ++ background).toDF("vec_id", "embedding")
    val n = 2000L
    val cap = 128
    val exact = Ann.cosineDupPairs(vecs, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 500, s"test setup: expected many intra-cluster pairs, got ${exact.size}")
    val sig = Ann.signatureTable(vecs, nTables = 16, nBits = 8).persist()
    try {
      // fixed bits=3: expected occupancy 2000/8 = 250 > cap → everything dropped
      val fixedCov = Ann.bucketCoverage(sig, 3, cap).collect()(0)
      assert(fixedCov.getAs[Double]("dropped_key_fraction") == 1.0, fixedCov.toString)
      val fixed = Ann.cosineDupPairsFromSignatures(sig, threshold = 0.8,
        bucketBits = 3, maxBucketSize = cap).count()
      assert(fixed == 0, s"expected total collapse at fixed bits, got $fixed pairs")
      // derived bits: occupancy back under the cap → recall restored
      val bits = Ann.deriveBucketBits(n, targetBucketSize = 64, minBits = 3, maxBits = 8)
      assert(bits == 5, s"derived $bits")
      val derivedCov = Ann.bucketCoverage(sig, bits, cap).collect()(0)
      assert(derivedCov.getAs[Double]("dropped_key_fraction") < 0.05, derivedCov.toString)
      val derived = Ann.cosineDupPairsFromSignatures(sig, threshold = 0.8,
        bucketBits = bits, maxBucketSize = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(derived.subsetOf(exact))
      val recall = derived.size.toDouble / exact.size
      assert(recall >= 0.9, s"recall=$recall (${derived.size}/${exact.size})")
    } finally sig.unpersist()
  }

  test("ann: ivf index + probe achieve high recall vs exact baseline; zero-norm rows excluded") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    val base = Array.fill(5)(Array.fill(32)(rng.nextFloat() * 2 - 1))
    val clustered = (0 until 200).map { i =>
      val c = base(i % 5)
      (i.toLong, c.map(x => x + (rng.nextFloat() - 0.5f) * 0.15f).toSeq)
    }
    val vecs = (clustered ++ Seq((900L, Seq.fill(32)(0.0f)), (901L, Seq.fill(32)(0.0f))))
      .toDF("vec_id", "embedding")
    val nonzero = vecs.filter($"vec_id" < 900)
    val queries = vecs.filter($"vec_id" < 3)
    val model = Ivf.kmeansModel(vecs, nLists = 16, iters = 2)
    val cents = Ivf.centroidTable(spark, model)
    val idx = Ivf.ivfIndex(vecs, model).persist()
    try {
      // zero-norm rows have no defined cosine: not indexed, never returned
      assert(idx.filter($"vec_id" >= 900).count() == 0)
      assert(idx.count() == 200)
      // every vector landed in a real centroid list
      val lists = idx.select($"list_id").distinct().collect().map(_.getLong(0)).toSet
      assert(lists.subsetOf((0L until 16L).toSet), lists.toString)
      val exact = Ann.cosineTopK(nonzero, queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = Ivf.ivfTopK(idx, cents, queries, k = 10, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & approx).size.toDouble / exact.size
      assert(recall >= 0.8, s"recall=$recall")
      // probing MORE lists can only add candidates (monotone coverage)
      val wide = Ivf.ivfTopK(idx, cents, queries, k = 10, nProbe = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((exact & wide).size >= (exact & approx).size)
      // nProbe = nLists scans everything → exact recall
      assert(wide == exact, s"full-probe IVF must equal the exact baseline")
    } finally idx.unpersist()
  }

  test("ivf: deterministic k-means quantizer beats the smallest-id placeholder; fingerprint contract fails loudly") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(29)
    val base = Array.fill(8)(Array.fill(32)(rng.nextFloat() * 2 - 1))
    // adversarial id layout: the 16 smallest ids ALL sit in cluster 0 — on
    // real corpora ids correlate with content (crawl order), which is the
    // shape where smallest-id seeding packs every centroid into one
    // cluster and starves the rest
    val vecs = (0 until 400).map { i =>
      val cl = if (i < 16) 0 else i % 8
      (i.toLong, base(cl).map(x => x + (rng.nextFloat() - 0.5f) * 0.15f).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" >= 20 && $"vec_id" < 28) // one per cluster
    val exact = Ann.cosineTopK(vecs, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(model: Ivf.Model): Double = {
      val idx = Ivf.ivfIndex(vecs, model)
      val approx = Ivf.ivfTopK(idx, Ivf.centroidTable(s, model), queries, k = 10, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val km = Ivf.kmeansModel(vecs, nLists = 16, iters = 2)
    val sm = Ivf.smallestIdModel(vecs, nLists = 16)
    val rKm = recallOf(km)
    val rSm = recallOf(sm)
    info(f"recall@10 nProbe=4: kmeans=$rKm%.3f smallest-id=$rSm%.3f")
    assert(rKm > rSm, f"k-means recall $rKm%.3f did not beat smallest-id $rSm%.3f")
    assert(rKm >= 0.85, f"k-means recall too low: $rKm%.3f")
    // list balance: the trained quantizer spreads lists; the placeholder
    // (all centroids in one cluster) concentrates them
    val balKm = Ivf.listBalance(Ivf.ivfIndex(vecs, km), 16).collect()(0)
    val balSm = Ivf.listBalance(Ivf.ivfIndex(vecs, sm), 16).collect()(0)
    info(s"imbalance: kmeans=${balKm.getAs[Double]("imbalance")} smallest-id=${balSm.getAs[Double]("imbalance")}")
    assert(balKm.getAs[Double]("imbalance") <= balSm.getAs[Double]("imbalance"))
    // determinism: retraining digests to the identical fingerprint
    assert(Ivf.kmeansModel(vecs, nLists = 16, iters = 2).fingerprint == km.fingerprint)
    // probing an index with a DIFFERENT model's centroid table fails
    // loudly (the ADVICE r5 silent-drift class), not silently mis-ranks
    val e = intercept[Throwable] {
      Ivf.ivfTopK(Ivf.ivfIndex(vecs, km), Ivf.centroidTable(s, sm), queries,
        k = 10, nProbe = 4).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + "|" + messages(t.getCause)
    assert(messages(e).contains("model_fp"), s"unexpected failure: ${messages(e).take(300)}")
    // a corrupted/edited centroid table fails the digest check
    val tampered = Ivf.centroidTable(s, km)
      .withColumn("cn", org.apache.spark.sql.functions.col("cn") * 1.000001)
    val e2 = intercept[Throwable] { Ivf.modelFromCentroidTable(tampered) }
    assert(messages(e2).contains("fingerprint") || messages(e2).contains("digest"),
      s"unexpected failure: ${messages(e2).take(300)}")
  }

  test("ann: all-pairs baseline fails fast past its size guard") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 50).map(i => (i.toLong, Seq.fill(4)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ann.cosineDupPairs(vecs, threshold = 0.5, maxRows = 10L)
    }
    assert(e.getMessage.contains("cosineDupPairsFromSignatures"))
  }

  test("multimodal: documents-derived media side-table is deterministic and oracle-shaped") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "d")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMediaFromDocs(docs).collect()
    // derivation: n_media = md5_60(doc_id) % 4, payload = md5 hex repeated
    media.foreach { m =>
      assert(m.bytes.length % 32 == 0)
      assert(m.bytes.length >= 32 && m.bytes.length <= 32 * 31)
      assert(Set("image", "audio", "video").contains(m.kind))
      assert(m.media_ref.startsWith(m.doc_id + "-m"))
    }
    val again = Multimodal.syntheticMediaFromDocs(docs).collect()
    assert(media.map(m => (m.doc_id, m.media_ref, m.kind, m.bytes.toSeq)).toSet ==
      again.map(m => (m.doc_id, m.media_ref, m.kind, m.bytes.toSeq)).toSet)
  }

  test("releaseCaches unpersists every session-scoped artifact") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    def run(key: String): Unit = graft.Queries.all(key)(s, dir).count()
    def persisted = s.sparkContext.getPersistentRDDs.keySet
    // every key that builds a session artifact
    Seq("x1_extract", "d7_minhash_lsh_pairs", "d9_simhash", "d11_simhash_pairs",
      "d15_dup_clusters", "d10_embed_dup", "e2_cosine_lsh", "e3_cosine_ivf").foreach(run)
    assert(persisted.nonEmpty)
    // the nested simhash artifacts (d15 → pairs → signatures) are built once
    val built = persisted
    Seq("d9_simhash", "d11_simhash_pairs", "d15_dup_clusters").foreach(run)
    assert(persisted == built, s"re-running d9/d11/d15 persisted ${persisted -- built}")
    val broadcasts = SessionArtifacts.held(s).collect {
      case b: org.apache.spark.broadcast.Broadcast[_] => b
    }
    assert(broadcasts.nonEmpty)
    assert(Coverage.table(s).count() > 0)
    graft.Queries.releaseCaches(s)
    assert(s.sparkContext.getPersistentRDDs.isEmpty,
      s.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
    broadcasts.foreach(b => intercept[org.apache.spark.SparkException](b.value))
    assert(Coverage.table(s).count() == 0)
  }

  test("coverage registry: capped operators record queryable rows; degradation flips status") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    try {
      // registered executions record rows (the persisted observability —
      // VERDICT r5 item 2: queryable after the run, not stdout-only)
      graft.Queries.all("d10_embed_dup")(s, "/root/testdata/sf0.001").count()
      graft.Queries.all("d11_simhash_pairs")(s, "/root/testdata/sf0.001").count()
      graft.Queries.all("e3_cosine_ivf")(s, "/root/testdata/sf0.001").count()
      assert(Coverage.latest("d10_embed_dup").exists(_.kind == "bucket_coverage"))
      assert(Coverage.latest("d11_simhash_pairs").exists(_.kind == "band_coverage"))
      assert(Coverage.latest("e3_cosine_ivf").exists(_.kind == "ivf_list_balance"))
      assert(Coverage.latest("d10_embed_dup").exists(_.status == "ok"))
      // degraded case: identical-fingerprint clones where the cap drops
      // every key — the status column must flip, not just a fraction move
      val clones = (1L to 300L).map(i => (i, "same boilerplate text everywhere"))
        .toDF("doc_id", "text")
      val keys = Dedup.simhashBandKeys(Dedup.simhashPortableDf(clones))
      val row = Coverage.record("spec_degraded", "band_coverage",
        Dedup.simhashBandCoverage(keys, maxBucketSize = 50))
      assert(row.getAs[String]("status") == "degraded", row.toString)
      assert(row.getAs[Double]("dropped_key_fraction") == 1.0, row.toString)
      assert(Coverage.latest("spec_degraded").exists(_.status == "degraded"))
      // the registry is queryable as a table (what Verify persists) —
      // flattened to one row per metric, scalar columns only (a map column
      // crashed flat-table consumers of the persisted sidecar)
      val tbl = Coverage.table(s)
      assert(!tbl.schema.fields.exists(_.dataType.typeName == "map"), tbl.schema.treeString)
      val degRows = tbl.filter(col("query") === "spec_degraded" && col("status") === "degraded")
      assert(degRows.count() >= 1)
      assert(degRows.filter(col("metric") === "dropped_key_fraction" && col("value") === 1.0).count() == 1)
      assert(tbl.filter(col("query") === "d10_embed_dup").count() >= 1)
    } finally graft.Queries.releaseCaches(s)
  }

  test("dup clusters: min-label propagation resolves components, keeper = smallest id, converges on chains") {
    val s = spark
    import s.implicits._
    // two components (a triangle-ish one and a pair) from a hand pair set
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L), got.toString)
    // worst-case diameter: a pure chain 0-1-2-...-9 (no clique shortcuts)
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chainGot = Dedup.dupClusters(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot == (0L to 9L).map(_ -> 0L).toMap, chainGot.toString)
    // empty pair set → empty clustering (singletons are implicit)
    assert(Dedup.dupClusters(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    // the distributed fixpoint (maxDriverPairs = 0 forces it) agrees with
    // the driver union-find fast path on both shapes. Neither path leaves
    // a checkpoint behind but the distributed path's returned labels.
    def persisted = s.sparkContext.getPersistentRDDs.size
    for (p <- Seq(pairs, chain)) {
      val before = persisted
      val fast = Dedup.dupClusters(p).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(persisted == before)
      val distDf = Dedup.dupClusters(p, maxDriverPairs = 0)
      assert(persisted == before + 1)
      val dist = distDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == dist, s"fast=$fast dist=$dist")
      SessionArtifacts.unpersist(distDf)
      assert(persisted == before)
    }
    // the safety valve throws rather than returning a half-converged
    // labeling (distributed path — the fast path needs no iterations)
    val e = intercept[RuntimeException](
      Dedup.dupClusters(chain, maxIters = 2, maxDriverPairs = 0))
    assert(e.getMessage.contains("not converged"), e.getMessage)
  }

  test("dup clusters: null ids link nothing, and the fast and distributed paths agree") {
    val s = spark
    import s.implicits._
    def id(v: Long): java.lang.Long = v
    val none: java.lang.Long = null
    val pairs = Seq((id(1), id(2)), (id(2), none), (none, id(3)), (none, none),
      (id(10), id(11)), (id(12), none)).toDF("doc_a", "doc_b")
    def clusters(maxDriverPairs: Long) =
      Dedup.dupClusters(pairs, maxDriverPairs = maxDriverPairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = clusters(1L << 21)
    val dist = clusters(0L)
    assert(fast == dist, s"fast=$fast dist=$dist")
    // docs paired only with a null id are singletons, hence absent
    assert(fast == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L), fast.toString)
  }

  test("ivf: the k-means driver merge fails on a partial whose dims differ from its centroid") {
    val s = spark
    import s.implicits._
    // one list; the two partitions hold 3-dim and 4-dim vectors, so each
    // partition's own dims check passes and only the driver merge sees both
    val rows = (0L until 8L).map(i => (i, Seq.fill(3)(1.0 + i))) ++
      (8L until 16L).map(i => (i, Seq.fill(4)(1.0 + i)))
    val vecs = s.sparkContext.parallelize(rows, 2).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](Ivf.kmeansModel(vecs, nLists = 1, iters = 1))
    assert(e.getMessage.contains("dims"), e.getMessage)
  }

  test("word ops: d12 repetition fractions and d13 benchmark contamination match hand-computed values") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wordops").toString
    try {
      // d12 hand corpus: fractions computable on paper
      Seq(
        (1L, "a a a b"), // top word 3/4, bigrams {a a: 2, a b: 1}
        (2L, "x y"),
        (3L, ""), // zero tokens: scored 0, not dropped
        (4L, "solo") // no bigrams: bigram fracs 0
      ).toDF("doc_id", "text")
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val d12 = graft.Queries.d12_repetition(s, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5))).toMap
      assert(d12(1L) == ((4L, 0.5, 0.75, 0.6667, 0.6667)), d12(1L).toString)
      assert(d12(2L) == ((2L, 1.0, 0.5, 1.0, 0.0)), d12(2L).toString)
      assert(d12(3L) == ((0L, 0.0, 0.0, 0.0, 0.0)), d12(3L).toString)
      assert(d12(4L) == ((1L, 1.0, 1.0, 0.0, 0.0)), d12(4L).toString)

      // d13 hand corpus: doc 0 is the benchmark (0 % 97 == 0); doc 1
      // contains two of its 4-grams; doc 2 shares nothing
      Seq(
        (0L, "p q r s t"),
        (1L, "z p q r s t z"),
        (2L, "no overlap in here at all")
      ).toDF("doc_id", "text")
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val d13 = graft.Queries.d13_decontaminate(s, dir).collect()
      assert(d13.length == 1, d13.mkString(", "))
      assert(d13(0).getLong(0) == 1L && d13(0).getLong(1) == 2L &&
        d13(0).getString(2) == "p q r s", d13(0).toString)
    } finally {
      graft.Queries.releaseCaches(s)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("word ops: d14 source mix matches a JVM replay of the integer hash decision; rate-1.0 keeps all") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mix").toString
    try {
      // src-134 has md5 first byte 0xff → rate (255+1)/256 = 1.0 (keep all);
      // src-988 has first byte 0x00 → rate 1/256 (keep almost none)
      val docs = (0L until 64L).map(i => (i, s"doc $i", if (i % 2 == 0) "src-134" else "src-988"))
      docs.toDF("doc_id", "text", "source").write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val got = graft.Queries.d14_source_mix(s, dir).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
      // JVM replay of the exact integer decision (no float anywhere)
      def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
      def expected(source: String): (Double, Long, Long) = {
        val y = java.lang.Long.parseLong(md5hex(source).substring(0, 2), 16)
        val mine = docs.filter(_._3 == source)
        val kept = mine.count { case (id, _, _) =>
          java.lang.Long.parseLong(md5hex(id.toString).substring(0, 15), 16) < (y + 1) * 4503599627370496L
        }
        (math.rint((y + 1) / 256.0 * 1e6) / 1e6, mine.size.toLong, kept.toLong)
      }
      assert(got("src-134") == expected("src-134"), s"${got("src-134")} vs ${expected("src-134")}")
      assert(got("src-988") == expected("src-988"), s"${got("src-988")} vs ${expected("src-988")}")
      assert(got("src-134")._3 == 32L, "rate 1.0 must keep every doc")
      assert(got("src-988")._3 <= 2L, s"rate 1/256 kept ${got("src-988")._3} of 32")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("streaming: incremental extraction matches the batch pipeline result") {
    implicit val s: SparkSession = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // a 20-span page of 6,140 text bytes: under `small` it takes the
    // oversize gate and the pre-assembly skip; the null-spans row must
    // count as zero spans on both paths
    val giant = Doc("giant", (0 until 20).map(i =>
      SpanIn("text", "<p>" + ("y" * 300) + "</p>", null, i)))
    val docs = Corpus.generate(spark, 10, nPartitions = 2).collect().toSeq ++
      Seq(giant, Doc("no_spans", null))
    val small = Pipeline.Config(maxHtmlChars = 500, oversizeSpans = 4)
    for ((cfg, run) <- Seq(Pipeline.Config(), small).zipWithIndex) {
      val batch = Pipeline.extract(docs.toDS(), cfg).collect().sortBy(_.doc_id).toSeq
      val mem = MemoryStream[Doc]
      val q = Pipeline.extractStreaming(mem.toDS(), cfg)
        .writeStream.format("memory").queryName(s"x_stream_$run")
        .outputMode("append").start()
      mem.addData(docs.take(4): _*)
      q.processAllAvailable()
      assert(s.sql(s"select * from x_stream_$run").count() == 4)
      mem.addData(docs.drop(4): _*) // second micro-batch: incremental
      q.processAllAvailable()
      val streamed = s.table(s"x_stream_$run").as[ExtractedDoc].collect().sortBy(_.doc_id).toSeq
      q.stop()
      assert(streamed.map(_.doc_id) == batch.map(_.doc_id))
      assert(streamed == batch, s"streaming extraction diverged from the batch pipeline under $cfg")
      if (cfg == small)
        assert(batch.find(_.doc_id == "giant").map(_.error).contains("span_text_bytes=6140"))
    }
  }

  test("multimodal: media table → stubbed decode → features + dedup") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = Corpus.generate(spark, 30, nPartitions = 2).toDF()
    val media = Multimodal.syntheticMediaFromDocs(docs)
    val features = Multimodal.extractFeatures(media).collect()
    assert(features.nonEmpty)
    assert(features.forall(_.features.length == 16))
    assert(features.forall(f => math.abs(f.features.sum - 1.0f) < 1e-3))
    assert(features.forall(_.content_hash.length == 32))
    // determinism: same ref → same features
    val byRef = features.groupBy(_.media_ref)
    byRef.values.foreach { g =>
      assert(g.map(_.content_hash).distinct.length == 1)
    }
  }
}
