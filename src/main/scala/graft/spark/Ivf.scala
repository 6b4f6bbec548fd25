package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * counterpart to [[Ann]]'s sign-LSH path: vectors are assigned to the
  * nearest of `nLists` centroids once (the persistable INDEX artifact,
  * same economics as [[Ann.signatureTable]]), and a query scans only the
  * `nProbe` lists whose centroids score highest, instead of the corpus.
  *
  * The coarse quantizer is a real (Lloyd) k-means, made DETERMINISTIC and
  * cross-engine replayable — which is what buys e3 a hard DuckDB oracle
  * despite float arithmetic:
  *   - seeding: the `nLists` vectors with the smallest md5-derived 60-bit
  *     hash of their id (pseudo-random uniform over the corpus, pure
  *     function of the data — same portability trick as the MinHash
  *     mixA/mixB family in [[Dedup]]);
  *   - update: per-list per-dimension means over INTEGER-QUANTIZED
  *     components (`floor(x·10^6 + 0.5)` as a long). Integer sums are
  *     exact and order-independent, so the reduction needs no ordering
  *     contract at all — a plain map-side-combined groupBy — and the
  *     mean `sum / (n·10^6)` is one IEEE division, bit-identical in any
  *     engine. (A float-sum reduction would differ by reduction order
  *     BETWEEN RUNS, let alone between engines.)
  *   - assignment: argmax of `round(cosine, 6)` with ascending-list-id
  *     tie-break, the same rounded-before-compare trick e1/e2 use.
  *
  * Scale shape (10^9+ vectors): seeding is one TakeOrderedAndProject;
  * each Lloyd iteration is one map-only assignment pass with the (small)
  * centroid set broadcast plus one shuffle of nLists×dims partial sums
  * (map-side combined — the shuffle payload is bounded by
  * nPartitions·nLists·dims longs, not by corpus size); the index pass is
  * map-only; a query batch is broadcast and each index row does an O(1)
  * probe-set lookup — the only per-query shuffle is the final top-k, same
  * as [[Ann.lshCosineTopKPrecomputed]].
  *
  * Zero-norm vectors have no defined cosine and are excluded from index,
  * seed set, and query set on both engines. Vector dims are assumed
  * uniform across the corpus (the same contract every replayed vector
  * oracle here has, see the `dims` literal in the generated sign-LSH SQL).
  */
object Ivf {

  /** Quantization scale for the k-means update step (6 decimal digits —
    * matches the 6-decimal cosine rounding used for ranking).
    */
  final val QuantScale = 1000000.0

  /** Round to `scale` decimals, HALF_UP — mirrors Column/DuckDB round. */
  @inline private def rnd(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dotJvm(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** One centroid: `listId` is the 0-based list identifier (seed-hash
    * order), `cv` the centroid vector, `cn` its L2 norm.
    */
  final case class Centroid(listId: Int, cv: Array[Double], cn: Double)

  /** A trained coarse quantizer. The fingerprint is a digest of the exact
    * centroid bits + structure: [[ivfIndex]] stamps it on every index row
    * and [[ivfTopK]] REQUIRES the probing centroid table to carry the
    * same one — a query against an index built from a different corpus
    * snapshot fails loudly instead of silently degrading recall (the same
    * contract as [[Ann.lshCosineTopKPrecomputed]]'s (nTables, nBits)
    * require).
    */
  final case class Model(nLists: Int, iters: Int, quantizer: String,
      centroids: Array[Centroid]) {
    require(centroids.nonEmpty, "Ivf.Model: empty centroid set")

    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder()
      sb.append(nLists).append('|').append(quantizer).append('|')
      centroids.foreach { c =>
        sb.append(c.listId).append(':')
        c.cv.foreach { d =>
          sb.append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))).append(',')
        }
        // cn is persisted alongside cv, so it is covered by the digest too
        // (a tampered norm alone would otherwise slip past validation)
        sb.append('~')
          .append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(c.cn)))
          .append(';')
      }
      md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    }
  }

  /** Non-zero-norm vectors as (vec_id, v double array) — the domain of
    * every IVF step (cosine is undefined at norm 0), identical to the
    * oracle's `WHERE list_dot_product(v, v) > 0`.
    */
  private def posVectors(vectors: DataFrame, idCol: String, vecCol: String,
      where: String): DataFrame =
    vectors.select(
        Dedup.requireLongId(col(idCol), where).as("vec_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(aggregate(zip_with(col("v"), col("v"), (a, b) => a * b),
        lit(0.0), (s, x) => s + x) > 0)

  /** md5-derived 60-bit seed-ordering hash of an id — Catalyst column
    * form; DuckDB replays it as
    * `('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT`.
    */
  private def seedHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** Nearest-centroid assignment: argmax of round(cosine, 6), smallest
    * listId wins ties (strict `>` over an ascending scan — the oracle's
    * `ORDER BY round(...) DESC, list_id ASC` row_number). Centroids MUST
    * be in ascending listId order (Model construction guarantees it).
    */
  private def assignJvm(v: Array[Double], nrm: Double, cents: Array[Centroid]): Int = {
    var best = -1
    var bestCos = Double.NegativeInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val cos = rnd(dotJvm(v, c.cv) / (nrm * c.cn), 6)
      if (cos > bestCos) { bestCos = cos; best = c.listId }
      j += 1
    }
    best
  }

  private def seedCentroids(pos: DataFrame, nLists: Int, order: Seq[Column]): Array[Centroid] = {
    val spark = pos.sparkSession
    import spark.implicits._
    val seeds = pos.orderBy(order: _*).limit(nLists) // TakeOrderedAndProject: per-partition heap
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect()
    require(seeds.nonEmpty, "Ivf: no usable (non-zero-norm) seed vectors")
    seeds.zipWithIndex.map { case ((_, v), i) =>
      val a = v.toArray
      Centroid(i, a, math.sqrt(dotJvm(a, a)))
    }
  }

  /** Train the deterministic k-means quantizer: hash-ordered seeding +
    * `iters` Lloyd iterations with integer-quantized updates (see object
    * doc). Every step is a pure function of the data, so the trained
    * centroids are identical across runs, partitionings, AND engines —
    * the DuckDB oracle replays the full training.
    */
  def kmeansModel(vectors: DataFrame, nLists: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val pos = posVectors(vectors, idCol, vecCol, "Ivf.kmeansModel")
    var cents = seedCentroids(pos, nLists, Seq(seedHash(col("vec_id")), col("vec_id")))
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      // One map-only assignment pass with the partial sums COMBINED INSIDE
      // the partition (long[nLists][dims] accumulators, one emitted row per
      // non-empty list per partition) — the former posexplode → groupBy
      // shuffled nRows×dims exploded rows per iteration where a bounded
      // nPartitions×nLists×dims driver reduce suffices. Integer sums are
      // exact and order-independent, so partition-then-driver summation is
      // bit-identical to the single groupBy (the property the replayed
      // oracle relies on).
      val partials = pos.as[(Long, Seq[Double])]
        .mapPartitions { rows =>
          val cs = bc.value
          val sums = new java.util.HashMap[Int, (Array[Long], Array[Long])]()
          rows.foreach { case (_, vseq) =>
            val v = vseq.toArray
            val nrm = math.sqrt(dotJvm(v, v))
            val listId = assignJvm(v, nrm, cs)
            var acc = sums.get(listId)
            if (acc == null) {
              acc = (new Array[Long](v.length), new Array[Long](1))
              sums.put(listId, acc)
            }
            // uniform dims are the documented corpus contract (see object
            // doc); fail loudly on violation instead of silently averaging
            // ragged vectors or overrunning the accumulator
            require(v.length == acc._1.length,
              s"Ivf.kmeansModel: mixed vector dims in list $listId " +
                s"(${acc._1.length} vs ${v.length}) — corpus violates the uniform-dims contract")
            var i = 0
            while (i < v.length) {
              acc._1(i) += math.floor(v(i) * QuantScale + 0.5).toLong
              i += 1
            }
            acc._2(0) += 1L
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Long], Long)]
          val kit = sums.entrySet().iterator()
          while (kit.hasNext) {
            val e = kit.next()
            out += ((e.getKey, e.getValue._1.toSeq, e.getValue._2(0)))
          }
          out.iterator
        }
        .collect() // ≤ nPartitions × nLists rows — small by contract
      val byList = partials.groupBy(_._1)
      cents = cents.map { c =>
        byList.get(c.listId) match {
          case None => c // empty list keeps its centroid (oracle: LEFT JOIN + COALESCE)
          case Some(rows) =>
            val dims = c.cv.length
            val sq = new Array[Long](dims)
            var n = 0L
            rows.foreach { case (_, qs, cnt) =>
              require(qs.length == dims, s"k-means partial for list ${c.listId} has " +
                s"${qs.length} dims, centroid has $dims")
              var i = 0
              while (i < dims) { sq(i) += qs(i); i += 1 }
              n += cnt
            }
            val nv = new Array[Double](dims)
            var i = 0
            while (i < dims) {
              // exact integers → one IEEE division: engine-portable bits
              nv(i) = sq(i).toDouble / (n.toDouble * QuantScale)
              i += 1
            }
            val nn = math.sqrt(dotJvm(nv, nv))
            if (nn == 0.0) c else Centroid(c.listId, nv, nn)
        }
      }
      bc.unpersist()
      it += 1
    }
    Model(nLists, iters, "kmeans", cents)
  }

  /** The pre-round-6 placeholder quantizer — centroids = the `nLists`
    * smallest-id positive-norm vectors. Kept as the BASELINE the recall
    * spec compares [[kmeansModel]] against (ids often correlate with
    * content on real corpora, so smallest-id seeds can all land in one
    * cluster and starve the rest — the quality gap OpsSpec pins down).
    */
  def smallestIdModel(vectors: DataFrame, nLists: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Model = {
    val pos = posVectors(vectors, idCol, vecCol, "Ivf.smallestIdModel")
    Model(nLists, 0, "smallest_id", seedCentroids(pos, nLists, Seq(col("vec_id"))))
  }

  /** Build the inverted-file index for a trained model: (vec_id, v, norm,
    * list_id, model_fp). One map-only pass, centroids broadcast; zero-norm
    * rows are dropped (no defined cosine ⇒ no meaningful list). The
    * model fingerprint rides on every row so a probe can verify it is
    * ranking with the SAME centroids the index was built from.
    */
  def ivfIndex(vectors: DataFrame, model: Model,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    val fp = model.fingerprint
    vectors
      .select(Dedup.requireLongId(col(idCol), "Ivf.ivfIndex"),
        transform(col(vecCol), x => x.cast("double")))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, vseq) =>
          val v = vseq.toArray
          val nrm = math.sqrt(dotJvm(v, v))
          if (nrm == 0.0) Iterator.empty
          else Iterator.single((id, vseq, nrm, assignJvm(v, nrm, cs).toLong, fp))
        }
      }
      .toDF("vec_id", "v", "norm", "list_id", "model_fp")
  }

  /** The model as a persistable side table — (list_id, cv, cn, n_lists,
    * quantizer, model_fp), stored beside the index the way the lineage
    * sidecar sits beside the sink. [[ivfTopK]] probes FROM this table,
    * never re-deriving centroids from a vectors argument (re-derivation
    * silently drifts when the corpus has changed since the index build —
    * the failure mode the fingerprint contract exists to kill).
    */
  def centroidTable(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    val fp = model.fingerprint
    model.centroids.toSeq
      .map(c => (c.listId.toLong, c.cv.toSeq, c.cn, model.nLists, model.quantizer, fp))
      .toDF("list_id", "cv", "cn", "n_lists", "quantizer", "model_fp")
  }

  /** Rebuild + VALIDATE a [[Model]] from a persisted [[centroidTable]]:
    * fails loudly on a mixed/partial table (several fingerprints, missing
    * lists) or on centroid bits that no longer digest to the stored
    * fingerprint (a corrupted or hand-edited table).
    */
  def modelFromCentroidTable(centroids: DataFrame): Model = {
    val rows = centroids
      .select(col("list_id").cast("int"), col("cv"), col("cn"),
        col("n_lists").cast("int"), col("quantizer"), col("model_fp"))
      .collect()
    require(rows.nonEmpty, "Ivf.modelFromCentroidTable: empty centroid table")
    val fps = rows.map(_.getString(5)).distinct
    require(fps.length == 1,
      s"Ivf.modelFromCentroidTable: centroid table mixes ${fps.length} model fingerprints")
    val nLists = rows.map(_.getInt(3)).distinct match {
      case Array(n) => n
      case other => sys.error(s"Ivf.modelFromCentroidTable: mixed n_lists ${other.mkString(",")}")
    }
    require(rows.length == nLists,
      s"Ivf.modelFromCentroidTable: ${rows.length} centroid rows for n_lists=$nLists")
    val cents = rows.map { r =>
      Centroid(r.getInt(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }.sortBy(_.listId)
    val model = Model(nLists, iters = -1, quantizer = rows(0).getString(4), centroids = cents)
    require(model.fingerprint == fps(0),
      s"Ivf.modelFromCentroidTable: centroid bits digest to ${model.fingerprint} " +
        s"but the table claims ${fps(0)} — corrupted or edited centroid table")
    model
  }

  /** One list-balance row for a built index — the quantizer-QUALITY
    * observability ([[graft.spark.Coverage]] surface): a skewed list
    * histogram means degraded recall at fixed nProbe (hot lists) and
    * wasted probes (empty lists). `imbalance` = max list size over mean;
    * status flips past `skewedAbove`.
    */
  def listBalance(index: DataFrame, nLists: Int,
      skewedAbove: Double = 4.0): DataFrame = {
    val sizes = index.groupBy(col("list_id")).agg(count(lit(1)).as("n"))
    sizes.agg(
      lit(nLists).cast("long").as("n_lists"),
      count(lit(1)).as("n_lists_used"),
      coalesce(sum(col("n")), lit(0L)).as("n_vectors"),
      coalesce(max(col("n")), lit(0L)).as("max_list"),
      coalesce(min(col("n")), lit(0L)).as("min_list"))
      .withColumn("imbalance",
        round(col("max_list").cast("double") /
          greatest(col("n_vectors").cast("double") / col("n_lists").cast("double"), lit(1.0)), 2))
      .withColumn("status",
        when(col("imbalance") > skewedAbove, "skewed").otherwise("ok"))
  }

  /** Probe a prebuilt [[ivfIndex]] with the PERSISTED [[centroidTable]]:
    * each query ranks the centroids, takes its `nProbe` best lists, and
    * scores exactly only the index rows in those lists. Every scanned
    * index row's `model_fp` must match the centroid table's — a drifted
    * centroid set fails loudly (see [[Model]] doc) instead of silently
    * ranking against lists assigned under different centroids. Output
    * (query_id, vec_id, cosine, rk), rk ≤ k per query — the same surface
    * as [[Ann.cosineTopK]].
    */
  def ivfTopK(index: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val model = modelFromCentroidTable(centroids)
    val fp = model.fingerprint
    val cents = model.centroids
    val qRows = queries
      .select(Dedup.requireLongId(col(idCol), "Ivf.ivfTopK"),
        transform(col(vecCol), x => x.cast("double")))
      .as[(Long, Seq[Double])].collect()
    // list_id -> queries probing it
    val probeIndex = new java.util.HashMap[java.lang.Long, Array[(Long, Array[Double], Double)]]()
    qRows.foreach { case (qid, qv) =>
      val arr = qv.toArray
      val qn = math.sqrt(dotJvm(arr, arr))
      if (qn > 0.0) {
        val ranked = cents
          .map(c => (c.listId, rnd(dotJvm(arr, c.cv) / (qn * c.cn), 6)))
          .sortBy { case (cid, c) => (-c, cid) }
          .take(nProbe)
        ranked.foreach { case (cid, _) =>
          val key = java.lang.Long.valueOf(cid.toLong)
          val prev = probeIndex.get(key)
          val entry = (qid, arr, qn)
          probeIndex.put(key, if (prev == null) Array(entry) else prev :+ entry)
        }
      }
    }
    val bc = spark.sparkContext.broadcast(probeIndex)
    val scored = index
      .select(col("vec_id"), col("v"), col("norm"), col("list_id"), col("model_fp"))
      .as[(Long, Seq[Double], Double, Long, String)]
      .mapPartitions { it =>
        val idx = bc.value
        it.flatMap { case (vid, vseq, vn, listId, rowFp) =>
          require(rowFp == fp,
            s"Ivf.ivfTopK: index row built with model_fp=$rowFp but probing with " +
              s"model_fp=$fp — the centroid table does not match this index " +
              "(rebuild the index or load the matching centroid sidecar)")
          val hits = idx.get(java.lang.Long.valueOf(listId))
          if (hits == null) Iterator.empty
          else {
            var v: Array[Double] = null // materialized on first scoring hit
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            var qi = 0
            while (qi < hits.length) {
              val (qid, qv, qn) = hits(qi)
              if (qid != vid) {
                if (v == null) v = vseq.toArray
                out += ((qid, vid, rnd(dotJvm(qv, v) / (qn * vn), 3)))
              }
              qi += 1
            }
            out.iterator
          }
        }
      }
      .toDF("query_id", "vec_id", "cosine")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
  }
}
