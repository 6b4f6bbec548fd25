package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest neighbor over an embedding column (Array[Float]).
  *
  * [[cosineTopK]] is the exact baseline: broadcast the (small) query set,
  * score every candidate, per-query top-k via window rank — the big side
  * never shuffles.
  *
  * [[lshCosineTopKPrecomputed]] is the scale path: sign-LSH (random
  * hyperplanes with a deterministic seeded ±1 family) buckets both sides
  * through the shared [[signatureTable]]; only bucket-colliding pairs are
  * scored. At 10^9+ vectors this turns the cross product into a probe on
  * (table, bucket).
  */
object Ann {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Typed-layer dot product over the common prefix, summed in ascending
    * index order; every JVM-side dot product and norm in this file and in
    * [[Ivf]] goes through it.
    */
  private[spark] def dotJvm(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Scale-aware sub-banding width for the sign-LSH bucket self-join:
    * enough bits that the EXPECTED bucket occupancy n/2^bits stays at or
    * under `targetBucketSize`, clamped to [minBits, maxBits]. A FIXED
    * bucket width silently sheds recall as the corpus grows: once typical
    * occupancy passes the degenerate-bucket cap, every bucket is dropped
    * and the pair set collapses to empty while the job still "succeeds" —
    * the one silent-cap failure mode this engine forbids. Callers clamp
    * `maxBits` to the stored signature width (sub-banding uses the low
    * bits of the stored signature, see [[cosineDupPairsFromSignatures]]).
    */
  def deriveBucketBits(n: Long, targetBucketSize: Int = 512,
      minBits: Int = 3, maxBits: Int = 57): Int = {
    require(targetBucketSize > 0 && minBits >= 1 && maxBits >= minBits,
      s"deriveBucketBits: bad bounds (target=$targetBucketSize, min=$minBits, max=$maxBits)")
    val needed =
      if (n <= targetBucketSize) 0
      else 64 - java.lang.Long.numberOfLeadingZeros((n - 1) / targetBucketSize)
    math.min(math.max(needed, minBits), maxBits)
  }

  /** One coverage row for a (bucketBits, maxBucketSize) sub-banding over a
    * [[signatureTable]] — the observability half of the degenerate-bucket
    * cap ("no silent caps"): how many (table, bucket) keys the cap drops,
    * and what fraction of the exploded key table that is. A run that drops
    * a large key fraction is shedding recall and must say so; [[graft
    * .Queries]] logs this next to every registered d10 execution and
    * exposes it as a plan-audit surface.
    */
  def bucketCoverage(sigTable: DataFrame, bucketBits: Int,
      maxBucketSize: Int, degradedAbove: Double = 0.05): DataFrame = {
    val sizes = bucketKeys(sigTable, bucketBits)
      .groupBy(col("bkey")).agg(count(lit(1)).as("bucket_n"))
    // coalesce: a global agg over an EMPTY table yields null sums — the
    // report must stay readable (all-zero), not NPE its consumer
    sizes.agg(
      lit(bucketBits).cast("long").as("bucket_bits"),
      lit(maxBucketSize).cast("long").as("max_bucket_size"),
      count(lit(1)).as("n_buckets"),
      coalesce(sum(when(col("bucket_n") > maxBucketSize, 1L).otherwise(0L)), lit(0L)).as("n_dropped_buckets"),
      coalesce(sum(col("bucket_n")), lit(0L)).as("n_keys"),
      coalesce(sum(when(col("bucket_n") > maxBucketSize, col("bucket_n")).otherwise(0L)), lit(0L)).as("n_dropped_keys"))
      .withColumn("dropped_key_fraction",
        round(col("n_dropped_keys").cast("double") /
          greatest(col("n_keys").cast("double"), lit(1.0)), 4))
      .withColumn("status",
        when(col("dropped_key_fraction") > degradedAbove, "degraded").otherwise("ok"))
  }

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Exact embedding-cosine near-duplicate PAIRS: cosine(a, b) ≥ threshold
    * with a < b — the all-pairs BASELINE for bounded tables (tests, recall
    * measurement). The production/corpus-scale operator is
    * [[cosineDupPairsFromSignatures]]: sign-LSH bucket self-join → exact verify
    * on colliding pairs only, no driver materialization. This baseline
    * collects the whole vector table to the driver, so it fails fast past
    * `maxRows` instead of OOMing the driver.
    */
  def cosineDupPairs(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxRows: Long = 200000L): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val probe = vectors.limit((maxRows + 1).toInt).count()
    require(probe <= maxRows,
      s"cosineDupPairs is the bounded all-pairs baseline (driver-side matrix); " +
        s"table exceeds maxRows=$maxRows — use cosineDupPairsFromSignatures " +
        s"(sign-LSH bucket self-join + exact verify) for corpus-scale tables")
    // exact all-pairs: broadcast the (contractually in-memory) vector
    // matrix and stream rows against it in the typed layer — interpreted
    // Catalyst HOF dot products cost ~85 µs/pair, 400× a JVM fma loop
    val rows = vectors
      .select(Dedup.requireLongId(col(idCol), "cosineDupPairs"), asDouble(col(vecCol)))
      .as[(Long, Seq[Double])]
    val all = rows.collect().sortBy(_._1).map { case (id, v) =>
      val a = v.toArray
      (id, a, math.sqrt(dotJvm(a, a)))
    }
    val bc = SessionArtifacts.broadcast(spark, all)
    val out = rows.mapPartitions { it =>
      val mat = bc.value
      it.flatMap { case (id, vseq) =>
        val v = vseq.toArray
        val vn = math.sqrt(dotJvm(v, v))
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = 0
        while (j < mat.length && vn > 0.0) {
          val (oid, ov, on) = mat(j)
          if (oid > id && on > 0.0) {
            val c = java.math.BigDecimal.valueOf(dotJvm(v, ov) / (vn * on))
              .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()
            if (c >= threshold) buf += ((id, oid, c))
          }
          j += 1
        }
        buf.iterator
      }
    }
    out.toDF("doc_a", "doc_b", "cosine")
  }

  /** Exploded (vec_id, bkey) table: one row per (vector, LSH table), key =
    * table id ∥ low `bucketBits` of the stored signature.
    */
  private def bucketKeys(sigTable: DataFrame, bucketBits: Int): DataFrame = {
    val mask = (1L << bucketBits) - 1
    sigTable
      .select(col("vec_id"), posexplode(col("sigs")))
      .select(col("vec_id"),
        shiftleft(col("pos").cast("long"), bucketBits)
          .bitwiseOR(col("col").bitwiseAND(lit(mask))).as("bkey"))
  }

  /** Candidate + vector-attach stage of [[cosineDupPairsFromSignatures]]
    * as a DataFrame — exposed so plan audits can inspect the join topology
    * (the registered query's own physical plan shows only the
    * ExternalRDDScan above the InternalRow scorer).
    */
  def cosineDupPairsCandidates(sigTable: DataFrame,
      bucketBits: Int = 3, maxBucketSize: Int = 4096,
      broadcastVectors: Boolean = false): DataFrame = {
    val keys = bucketKeys(sigTable, bucketBits)
    // degenerate-bucket cap: bucket sizes aggregate to ≤ nTables·2^bucketBits
    // rows (map-side partial agg), so the oversize set broadcast-anti-joins
    // back — no window sort-shuffle of the exploded key table
    val oversized = keys.groupBy(col("bkey"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucketSize)
      .select(col("bkey"))
    val capped = keys.join(broadcast(oversized), Seq("bkey"), "left_anti")
    // candidates carry 16-byte id pairs only: the self-join and the
    // multiplicity dedup shuffle ids, never vectors, and the corpus
    // vectors shuffle at 1× (two equi-joins), not nTables×
    val pairs = capped.as("a")
      .join(capped.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      .distinct()
    // vector re-attach: the pair table dwarfs the vector table near the
    // random-cosine threshold (candidates → n²/2 while vectors stay n), so
    // when the caller KNOWS the vector table is broadcast-sized
    // (`broadcastVectors` — derived from the recorded corpus cardinality,
    // the same scale-awareness as deriveBucketBits) the attach becomes two
    // map-side hash joins instead of sort-merge-shuffling the pair table
    // twice. The signature table is RDD-backed, so the planner has no size
    // statistics to make this call itself. Results are join-strategy
    // independent.
    def side(df: DataFrame): DataFrame = if (broadcastVectors) broadcast(df) else df
    val vecs = sigTable.select(col("vec_id"), col("v"), col("norm"))
    pairs
      .join(side(vecs.select(col("vec_id").as("doc_a"), col("v").as("va"), col("norm").as("na"))), Seq("doc_a"))
      .join(side(vecs.select(col("vec_id").as("doc_b"), col("v").as("vb"), col("norm").as("nb"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("va"), col("na"), col("vb"), col("nb"))
  }

  /** Broadcast-map scorer for [[cosineDupPairsFromSignatures]] — the
    * small-corpus regime (caller-guarded, same contract as the query-side
    * broadcasts elsewhere in this file): candidates near the random-cosine
    * threshold approach n²/2 pairs, so the shuffle-shape bottleneck of the
    * join path is the pre-scoring pair `distinct` (a full exchange of the
    * collision stream) plus two vector-attach joins. Here cap + pairing +
    * scoring all happen in ONE streamed (bkey) group pass: each bucket's
    * members pair up inside the group iterator (O(cap) buffer, degenerate
    * buckets dropped after cap+1 rows without materializing), vectors come
    * from a broadcast (id → vector, norm) map, and only threshold
    * survivors (a tiny set by construction) reach the final distinct —
    * the candidate set itself never crosses an exchange. A pair is scored
    * once per colliding bucket; that redundant CPU costs far less than
    * exchanging the collision stream. Results are identical: the cosine is
    * a pure function of the pair, so distinct-after-score ≡
    * score-after-distinct.
    */
  private def scoredPairsViaBroadcast(sigTable: DataFrame, threshold: Double,
      bucketBits: Int, maxBucketSize: Int): DataFrame = {
    val spark = sigTable.sparkSession
    import spark.implicits._
    // null vec_ids can never appear in an emitted pair (the join path's
    // equi-joins drop them); exclude them from the map rather than crash
    // the non-nullable encoder
    val vecRows = sigTable.select(col("vec_id"), col("v"), col("norm"))
      .filter(col("vec_id").isNotNull)
      .as[(Long, Seq[Double], Double)].collect()
    val vmap = new java.util.HashMap[java.lang.Long, (Array[Double], Double)](vecRows.length * 2)
    vecRows.foreach { case (id, v, n) => vmap.put(id, (v.toArray, n)) }
    val bc = SessionArtifacts.broadcast(spark, vmap)
    // HALF_UP round-to-3 can only lift a raw cosine by < 5e-4, so any
    // survivor satisfies raw >= threshold - 1e-3; the double pre-filter
    // rejects the overwhelming mass of sub-threshold candidates without
    // paying the BigDecimal shortest-decimal rounding, which then runs
    // only on near-threshold rows (bit-identical results)
    val margin = threshold - 1e-3
    val cap = maxBucketSize
    val scored = bucketKeys(sigTable, bucketBits)
      // boxed id: a null vec_id counts toward the cap (its key rows exist)
      // but pairs with nothing — mirroring the join path's null semantics
      .as[(java.lang.Long, Long)]
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        val m = bc.value
        val ids = new scala.collection.mutable.ArrayBuffer[java.lang.Long](16)
        var overflow = false
        while (it.hasNext && !overflow) {
          ids += it.next()._1
          if (ids.length > cap) overflow = true
        }
        if (overflow) Iterator.empty
        else {
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
          var i = 0
          while (i < ids.length) {
            val va = if (ids(i) == null) null else m.get(ids(i))
            if (va != null && va._2 > 0.0) {
              var j = i + 1
              while (j < ids.length) {
                val vb = m.get(ids(j))
                // zero-norm embeddings have no defined cosine — skip,
                // matching the join-path scorer and the oracle's NULL filter
                if (vb != null && vb._2 > 0.0) {
                  val raw = dotJvm(va._1, vb._1) / (va._2 * vb._2)
                  if (raw >= margin) {
                    // mirror Column/DuckDB round(x, 3): HALF_UP, shortest decimal
                    val c = java.math.BigDecimal.valueOf(raw)
                      .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()
                    if (c >= threshold) {
                      if (ids(i) < ids(j)) out += ((ids(i), ids(j), c))
                      else if (ids(j) < ids(i)) out += ((ids(j), ids(i), c))
                    }
                  }
                }
                j += 1
              }
            }
            i += 1
          }
          out.iterator
        }
      }
    scored.toDF("doc_a", "doc_b", "cosine").distinct()
  }

  /** Corpus-scale embedding-cosine near-duplicate pairs over a
    * precomputed [[signatureTable]]: sign-LSH bucket SELF-JOIN
    * (candidates) → exact cosine on colliding pairs only (verify) — the
    * same candidates→verify shape as [[Dedup.minhashLshPairs]] →
    * [[Dedup.jaccardPairs]]. Nothing is collected to the driver: the plan
    * is signature scan → capped equi-self-join on (table, bucket) →
    * distinct pairs → two equi-joins to re-attach vectors → map-side
    * scoring. Sub-banding uses the low `bucketBits` of each stored table
    * signature, so near-dup detection shares the signature table with the
    * ANN query path.
    *
    * `maxBucketSize` mirrors [[Dedup.minhashLshPairs]]: a bucket holding a
    * large fraction of the corpus (e.g. a spam cluster of identical
    * embeddings) is not discriminating and would make the self-join
    * quadratic; such buckets are dropped. `bucketBits` trades bucket size
    * against recall — raise it as the corpus grows to keep buckets
    * bounded (recall per pair at cosine c is 1−(1−p^b)^T with
    * p = 1−arccos(c)/π).
    */
  def cosineDupPairsFromSignatures(sigTable: DataFrame, threshold: Double,
      bucketBits: Int = 3, maxBucketSize: Int = 4096,
      broadcastVectors: Boolean = false): DataFrame = {
    val spark = sigTable.sparkSession
    import spark.implicits._
    if (broadcastVectors)
      return scoredPairsViaBroadcast(sigTable, threshold, bucketBits, maxBucketSize)
    val joined = cosineDupPairsCandidates(sigTable, bucketBits, maxBucketSize)
    // verify below the row abstraction: candidate volume approaches n²/2
    // when the threshold sits near the corpus's random-cosine level (LSH
    // buckets stop discriminating), and the typed-encoder path would box
    // 2·dims doubles per candidate — InternalRow + toDoubleArray keeps the
    // scorer primitive (same pattern as the extraction pipeline's
    // assemble-from-row hot path)
    val rdd = joined.queryExecution.toRdd.mapPartitions { it =>
      it.flatMap { row =>
        if (row.isNullAt(2) || row.isNullAt(4)) Iterator.empty
        else {
        val a = row.getLong(0)
        val b = row.getLong(1)
        val x = row.getArray(2).toDoubleArray()
        val na = row.getDouble(3)
        val y = row.getArray(4).toDoubleArray()
        val nb = row.getDouble(5)
        // zero-norm embeddings (failed upstream embedding rows) have no
        // defined cosine — and all share the all-ones sign signature, so
        // any two of them collide in EVERY table. Emit nothing, matching
        // the oracle (DuckDB's 0/0 division yields NULL, filtered by the
        // threshold predicate); BigDecimal.valueOf(NaN) would instead
        // throw and fail the whole job.
        if (na == 0.0 || nb == 0.0) Iterator.empty
        else {
        // mirror Column/DuckDB round(x, 3): HALF_UP on shortest decimal
        val c = java.math.BigDecimal.valueOf(dotJvm(x, y) / (na * nb))
          .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()
        if (c >= threshold) Iterator.single((a, b, c)) else Iterator.empty
        }
        }
      }
    }
    spark.createDataset(rdd).toDF("doc_a", "doc_b", "cosine")
  }

  /** Exact brute-force top-k: queries broadcast, candidates scored map-side. */
  def cosineTopK(candidates: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cand = candidates.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val scored = cand.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 3).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }

  /** Deterministic PORTABLE sign-LSH family: bit h of table t is
    * sign(Σ_j s(t,h,j)·v_j) with s(t,h,j) = ±1 from splitmix64 parity of
    * the (t, h, j) chain below. The constants are a pure function of the
    * indices, so the SAME family is computable by the JVM hot path, by a
    * Catalyst column expression, and by the generated DuckDB oracle SQL
    * (sign vectors inlined as literals, like the MinHash mixA/mixB
    * constants in [[Dedup]]) — which is what buys d10's bucketed plan a
    * hard replayed oracle. One family serves every sign-LSH consumer
    * through [[signatureTable]], so the persisted table is a shared
    * artifact. The sign for (table, bit, dim) is independent of
    * nBits/nTables, so a signature's low bits are identical whether
    * computed at nBits=8 or nBits=3 (prefix sub-banding relies on this).
    */
  def signAt(t: Int, h: Int, j: Int): Double =
    if ((Dedup.splitmix64(Dedup.splitmix64(t.toLong * 131071L + h) + j) & 1L) == 1L) 1.0 else -1.0

  /** Cached dense sign matrix for (nTables, nBits, dims): row (t*nBits+h)
    * holds the ±1 projection vector — one multiply-add per dim in the hot
    * path instead of two splitmix rounds.
    */
  private val signMatrices =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()
  private[spark] def signMatrix(nTables: Int, nBits: Int, dims: Int): Array[Array[Double]] =
    signMatrices.computeIfAbsent((nTables, nBits, dims), _ =>
      Array.tabulate(nTables * nBits) { row =>
        val t = row / nBits
        val h = row % nBits
        Array.tabulate(dims)(j => signAt(t, h, j))
      })

  /** Bit-packed signatures: table t's signature as the low `nBits` bits of
    * a long — the persistable form ([[signatureTable]]). nBits ≤ 57.
    * Projections sum dims in ascending order (IEEE parity with DuckDB's
    * sequential `list_dot_product` in the replayed oracle).
    */
  def signBitsJvm(vec: Array[Double], nTables: Int, nBits: Int): Array[Long] = {
    val mat = signMatrix(nTables, nBits, vec.length)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var h = 0
      while (h < nBits) {
        val signs = mat(t * nBits + h)
        var proj = 0.0
        var j = 0
        while (j < vec.length) { proj += vec(j) * signs(j); j += 1 }
        if (proj >= 0) sig |= (1L << h)
        h += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }

  /** Bucket join key for (table, packed signature). */
  @inline def bucketKey(table: Int, bits: Long, nBits: Int): Long =
    (table.toLong << nBits) | bits

  /** Candidate-side signature table: (vec_id, v, norm, sigs array<long>) —
    * the REUSABLE artifact that fixes sign-LSH's economics. Computing a
    * signature costs nTables·nBits·dims hash-parity ops per vector while
    * brute force costs only nQueries·dims multiplies, so a one-shot LSH
    * query run loses to [[cosineTopK]] whenever
    * nQueries < ~nTables·nBits (64 at the 8×8 default). Persist THIS
    * table once and [[lshCosineTopKPrecomputed]] amortizes the signature
    * cost across every subsequent query batch — the per-batch cost drops
    * to index-probe + scoring of colliding pairs only.
    */
  def signatureTable(candidates: DataFrame, nTables: Int = 8, nBits: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // nTables·nBits·dims multiply-adds per vector are CPU-bound: spread a
    // single-row-group corpus across the session's cores (no-op when the
    // scan already supplies enough tasks — see Dedup.spreadIfNarrow)
    Dedup.spreadIfNarrow(
      candidates.select(Dedup.requireLongId(col(idCol), "signatureTable"), asDouble(col(vecCol))))
      .as[(Long, Seq[Double])]
      .mapPartitions(_.map { case (vid, vseq) =>
        val v = vseq.toArray
        (vid, vseq, math.sqrt(dotJvm(v, v)), signBitsJvm(v, nTables, nBits).toSeq, nBits)
      })
      .toDF("vec_id", "v", "norm", "sigs", "n_bits")
  }

  /** LSH-bucketed ANN for a QUERY SET against a PRECOMPUTED
    * [[signatureTable]]: the query side is indexed bucket→(id, vector,
    * norm) and broadcast (the query set is small by contract — same
    * contract as [[cosineTopK]]'s `broadcast(q)`); the candidate scan
    * stays MAP-ONLY, reads stored signatures instead of recomputing them,
    * probes the index and scores only colliding pairs. The per-candidate
    * probe dedups query hits locally, so pairs are globally unique without
    * a dropDuplicates shuffle — the ONLY shuffle is the final per-query
    * top-k. A query batch pays only index-probe + colliding-pair scoring,
    * the regime where sign-LSH beats brute force even for small query
    * sets (see the crossover note on [[signatureTable]]). Ids must be
    * long-castable.
    *
    * `probeHamming` enables MULTI-PROBE: the query side also registers
    * every bucket within Hamming distance ≤ probeHamming of its own
    * signature (per table), lifting recall at a FIXED table count — a
    * near neighbor that flips one projection sign still collides. The
    * cost is query-index size only (× Σ C(nBits, d)); the candidate scan
    * stays map-only with the same O(1) per-table lookup, so the scale
    * shape is unchanged. probeHamming = 0 is the classic single-probe.
    */
  def lshCosineTopKPrecomputed(sigTable: DataFrame, queries: DataFrame, k: Int,
      nTables: Int = 8, nBits: Int = 8, probeHamming: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = sigTable.sparkSession
    import spark.implicits._
    val qRows = queries.select(Dedup.requireLongId(col(idCol), "lshCosineTopKPrecomputed"),
        asDouble(col(vecCol)))
      .as[(Long, Seq[Double])].collect()
    require(probeHamming >= 0 && probeHamming <= 2,
      s"probeHamming=$probeHamming: multi-probe past Hamming 2 explodes the " +
        "query index combinatorially — add tables instead")
    val qIndex = new java.util.HashMap[java.lang.Long, Array[(Long, Array[Double], Double)]]()
    def register(key: Long, entry: (Long, Array[Double], Double)): Unit = {
      val boxed = java.lang.Long.valueOf(key)
      val prev = qIndex.get(boxed)
      qIndex.put(boxed, if (prev == null) Array(entry) else prev :+ entry)
    }
    // zero-norm queries: no defined cosine — leave them out of the index
    qRows.withFilter { case (_, qv) => qv.exists(_ != 0.0) }.foreach { case (qid, qv) =>
      val arr = qv.toArray
      val nrm = math.sqrt(dotJvm(arr, arr))
      val bits = signBitsJvm(arr, nTables, nBits)
      val entry = (qid, arr, nrm)
      var t = 0
      while (t < nTables) {
        register(bucketKey(t, bits(t), nBits), entry)
        if (probeHamming >= 1) {
          var b = 0
          while (b < nBits) {
            register(bucketKey(t, bits(t) ^ (1L << b), nBits), entry)
            if (probeHamming >= 2) {
              var b2 = b + 1
              while (b2 < nBits) {
                register(bucketKey(t, bits(t) ^ (1L << b) ^ (1L << b2), nBits), entry)
                b2 += 1
              }
            }
            b += 1
          }
        }
        t += 1
      }
    }
    val bc = SessionArtifacts.broadcast(spark, qIndex)
    // probe BELOW the row abstraction (same pattern as the d10 scorer):
    // the typed-encoder path boxed all `dims` vector doubles into a Seq
    // for EVERY scanned row, but most corpus rows hit no query bucket —
    // here a miss reads only the 8-byte signatures, and the vector is
    // materialized from the InternalRow only on the first bucket hit.
    val df = sigTable.select(col("vec_id"), col("v"), col("norm"), col("sigs"), col("n_bits"))
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      val idx = bc.value
      it.flatMap { row =>
        val vid = row.getLong(0)
        val vn = row.getDouble(2)
        val sigs = row.getArray(3)
        val storedBits = row.getInt(4)
        // a mismatched family silently probes wrong buckets — fail loudly
        require(storedBits == nBits && sigs.numElements() == nTables,
          s"signatureTable built with (nTables=${sigs.numElements()}, nBits=$storedBits) " +
            s"but probed with (nTables=$nTables, nBits=$nBits)")
        var v: Array[Double] = null // materialized lazily on first hit
        val seen = new java.util.HashSet[Long]()
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var t = 0
        // vn == 0 → no defined cosine: emit nothing for this candidate
        while (vn > 0.0 && t < nTables) {
          val hits = idx.get(java.lang.Long.valueOf(bucketKey(t, sigs.getLong(t), nBits)))
          if (hits != null) {
            var qi = 0
            while (qi < hits.length) {
              val (qid, qv, qn) = hits(qi)
              if (qid != vid && seen.add(qid)) {
                if (v == null) v = row.getArray(1).toDoubleArray()
                val c = java.math.BigDecimal.valueOf(dotJvm(qv, v) / (qn * vn))
                  .setScale(3, java.math.RoundingMode.HALF_UP).doubleValue()
                out += ((qid, vid, c))
              }
              qi += 1
            }
          }
          t += 1
        }
        out
      }
    }
    val scored = spark.createDataset(rdd).toDF("query_id", "vec_id", "cosine")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }
}
