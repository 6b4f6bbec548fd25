package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fuzzy-deduplication operators for training-data pipelines: shingling,
  * MinHash + LSH banding, SimHash, n-gram Jaccard. All declarative
  * DataFrame API (codegen'd built-ins, no UDFs) so they scale as
  * shuffle-on-key jobs.
  *
  * Determinism: hash family is md5-based (stable across engines and
  * runs — the MinHash signatures are reproducible and DuckDB can replay
  * them for the oracle).
  */
object Dedup {

  /** Long-id cast that FAILS FAST on non-numeric ids instead of silently
    * dropping rows (a null id would vanish from every join downstream).
    */
  private[spark] def requireLongId(c: Column, where: String): Column = {
    val casted = c.cast("long")
    when(c.isNotNull && casted.isNull,
      raise_error(concat(lit(s"$where: id not castable to long: "), c.cast("string"))))
      .otherwise(casted)
  }

  /** ONE whitespace definition for every normalization site (JVM hot
    * paths, Catalyst columns, and the generated DuckDB oracle SQL): the
    * RE2/POSIX `\s` set `[ \t\n\f\r]`, which is exactly what DuckDB's
    * regex engine matches. Java's `\s` additionally matches `\x0B`
    * (vertical tab) — using it on the Spark side made the asserted
    * three-way parity quietly false for texts containing `\x0B`.
    */
  final val WsPattern = "[ \\t\\n\\f\\r]+"

  /** Shared normalization (lowercase + whitespace collapse) for the JVM
    * hot paths. Lowercasing goes through UTF8String — the SAME
    * implementation Catalyst's `lower()` uses under the default collation
    * — so the asserted JVM ≡ column parity holds by construction for
    * non-ASCII text too (both share whatever locale behavior the fallback
    * has), instead of pairing Locale.ROOT on one side with the
    * default-locale fallback on the other.
    */
  private[spark] def normalizeJvm(text: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(text)
      .toLowerCase.toString.replaceAll(WsPattern, " ")

  /** Character shingles (lowercased, whitespace-normalized) as an array
    * column — codegen'd transform over substring offsets.
    */
  def shingles(text: Column, k: Int): Column = {
    val norm = regexp_replace(lower(text), WsPattern, " ")
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(norm) - k + 1, lit(1))),
        i => substring(norm, i, lit(k))))
  }

  /** Derived MinHash family: ONE md5 per shingle, then per-slot universal
    * affine mixing over a Mersenne prime — slot h of shingle s is
    *   v_h(s) = (A_h·x + B_h) mod (2^61−1)
    * where x = first 15 hex chars of md5(s) as a 60-bit int and A/B are
    * fixed splitmix64-derived 57-bit constants (datasketch-style "hash
    * once, apply k affine permutations"). A must be WIDE: a narrow
    * multiplier barely wraps the modulus, the slot orderings stay
    * correlated with x's ordering, and banding over-collides. ~16× cheaper
    * than a digest per (slot, shingle) while staying replayable in DuckDB
    * (`('0x'||substring(md5(s),1,15))::BIGINT`, HUGEINT multiply, `% M`) —
    * which is how d7/d8 keep hard oracles. The 57-bit bound keeps A·x
    * ≤ 2^117 (36 digits) inside DECIMAL(38) for the Catalyst column path.
    */
  final val MixMod = 2305843009213693951L // 2^61 − 1 (prime)
  private final val Mask57 = (1L << 57) - 1
  private[spark] def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Per-slot mixing constants (57-bit; A forced odd). Single source of
    * truth for the JVM path, the Catalyst column path, AND the generated
    * DuckDB oracle SQL.
    */
  def mixA(h: Int): Long = (splitmix64(2L * h + 1) & Mask57) | 1L
  def mixB(h: Int): Long = splitmix64(2L * h + 2) & Mask57

  /** (a·x + b) mod (2^61−1) with a,b < 2^57, x < 2^60 — exact via 128-bit
    * product + Mersenne folding (2^64 ≡ 8, 2^61 ≡ 1 mod M).
    */
  @inline def affineMod(a: Long, x: Long, b: Long): Long = {
    val hi = java.lang.Math.multiplyHigh(a, x) // both ≥ 0 → unsigned-safe
    val lo = a * x // low 64 bits
    val loRed = (lo & MixMod) + (lo >>> 61) // ≤ M + 7
    var v = 8L * hi + loRed + b // hi < 2^53 → total < 2^62
    v = (v & MixMod) + (v >>> 61) // ≤ M + 1
    if (v >= MixMod) v - MixMod else v
  }

  /** 60-bit base hash of a shingle as a Catalyst column (parity with the
    * JVM path: first 15 hex chars of md5).
    */
  def shingleX(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  private def slotValue(h: Int, x: Column): Column = {
    // exact integer arithmetic in DECIMAL(38,0): A·x ≤ 2^117 ≈ 1.7e35
    val bd = (v: Long) => lit(new java.math.BigDecimal(v))
    ((bd(mixA(h)) * x.cast("decimal(20,0)") + bd(mixB(h))) % bd(MixMod)).cast("long")
  }

  /** MinHash signature (array<long>): per-slot minimum of the derived
    * family over the doc's shingles. Single `aggregate` pass so md5 runs
    * once per shingle even in the interpreted column path.
    */
  def minhashSignature(shinglesCol: Column, nHashes: Int): Column = {
    val xs = transform(shinglesCol, s => shingleX(s))
    aggregate(
      xs,
      array((0 until nHashes).map(_ => lit(Long.MaxValue)): _*),
      (acc, x) => array((0 until nHashes).map(h =>
        least(acc.getItem(h), slotValue(h, x))): _*))
  }

  /** LSH banding: group the signature into bands of `rowsPerBand`; a pair
    * of docs sharing any band bucket is a candidate pair.
    */
  def bandHashes(signature: Column, nHashes: Int, rowsPerBand: Int): Column = {
    val nBands = nHashes / rowsPerBand
    array((0 until nBands).map { b =>
      md5(concat_ws("|",
        (lit(b.toString) +: (0 until rowsPerBand).map(r =>
          signature.getItem(b * rowsPerBand + r).cast("string"))): _*))
    }: _*)
  }

  /** JVM-side banded MinHash bucket hashes for one text — same derived
    * family as [[minhashSignature]]/[[bandHashes]] (asserted identical in
    * OpsSpec), but one tight pass per row: interpreted Catalyst HOFs are
    * ~50× slower here, so the signature step runs in the typed layer.
    */
  def bucketHashesJvm(text: String, shingleK: Int, nHashes: Int,
      rowsPerBand: Int): Array[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = "0123456789abcdef".toCharArray
    def md5hex(s: String): String = {
      md.reset()
      val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val out = new Array[Char](32)
      var i = 0
      while (i < d.length) {
        out(i * 2) = hex((d(i) >> 4) & 0xf)
        out(i * 2 + 1) = hex(d(i) & 0xf)
        i += 1
      }
      new String(out)
    }
    val as = Array.tabulate(nHashes)(mixA)
    val bs = Array.tabulate(nHashes)(mixB)
    val norm = normalizeJvm(text)
    val n = math.max(norm.length - shingleK + 1, 1)
    val seen = new java.util.HashSet[String]()
    val sig = Array.fill(nHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val sh = norm.substring(i, math.min(i + shingleK, norm.length))
      if (seen.add(sh)) {
        md.reset()
        val d = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // x = first 15 hex chars = bytes 0..6 + high nibble of byte 7
        var x = 0L
        var k = 0
        while (k < 7) { x = (x << 8) | (d(k) & 0xffL); k += 1 }
        x = (x << 4) | ((d(7) >> 4) & 0xfL)
        var h = 0
        while (h < nHashes) {
          val v = affineMod(as(h), x, bs(h))
          if (v < sig(h)) sig(h) = v
          h += 1
        }
      }
      i += 1
    }
    val nBands = nHashes / rowsPerBand
    Array.tabulate(nBands) { b =>
      md5hex((b.toString +: (0 until rowsPerBand).map(r => sig(b * rowsPerBand + r))).mkString("|"))
    }
  }

  /** MinHash-LSH near-duplicate candidate pairs over documents(doc_id,
    * text): shingle → minhash (typed layer) → band → self-join on band
    * bucket. Output: (doc_a, doc_b, n_shared_bands), doc_a < doc_b (ids
    * as strings).
    *
    * `maxBucketSize` caps degenerate buckets: a bucket of m docs emits
    * m(m−1)/2 pairs, so one boilerplate-heavy bucket (empty docs, shared
    * chrome) turns the self-join quadratic — the classic skewed-key
    * shuffle-killer. Standard LSH practice is to drop oversized buckets
    * outright: they carry no near-dup signal (a bucket that a large
    * fraction of the corpus lands in is by definition not discriminating).
    * The window count and the join shuffle on the same (band, bucket) key,
    * so the cap adds no extra shuffle of the signatures.
    */
  /** Repartition a CPU-bound input up to the session's parallelism when the
    * plan would otherwise supply too few tasks. The signature/fingerprint
    * steps cost ~100× the scan per byte, so their parallelism must come
    * from partition COUNT, not byte count: a small corpus arrives as a
    * single row-group (one scan task) and would run the whole hash family
    * on one core. Spread ONLY in that case — at 100 TB the scan itself
    * supplies thousands of tasks and the repartition is a no-op branch,
    * never a full-corpus shuffle.
    *
    * Plan-level partition count: toRdd is the physical plan's RDD handle
    * (no job, no row-decode lineage — unlike DataFrame.rdd, which plans a
    * deserialize-to-external-row stage just to be asked its count).
    */
  private[graft] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val spread = math.max(spark.sparkContext.defaultParallelism * 2,
      spark.sessionState.conf.numShufflePartitions)
    val planParts = df.queryExecution.toRdd.getNumPartitions
    if (planParts < spread) df.repartition(spread) else df
  }

  def minhashLshPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleK: Int = 5, nHashes: Int = 16,
      rowsPerBand: Int = 4, maxBucketSize: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prepared = spreadIfNarrow(docs
      .select(col(idCol).cast("string").as("id"), col(textCol).as("text")))
    val sig = prepared
      .as[(String, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          bucketHashesJvm(Option(text).getOrElse(""), shingleK, nHashes, rowsPerBand)
            .iterator.zipWithIndex.map { case (bucket, band) => (id, band, bucket) }
        }
      }
    // Cap + pair emission as ONE streamed group pass, replacing the former
    // count(*) OVER (band, bucket) window + bucket self-join: the window
    // sort-shuffled the full exploded signature table and the join
    // re-exchanged it, all to (a) drop oversize buckets and (b) pair up
    // bucket members. flatMapGroups does both in the window's own
    // (band, bucket) exchange — values stream through the group iterator,
    // the buffer holds at most cap+1 ids (a degenerate bucket is detected
    // and dropped after cap+1 rows WITHOUT materializing it — stricter
    // memory behavior than the window, which buffered whole frames), and
    // ordered pairs are emitted directly. Orientation mirrors Catalyst's
    // string `<` (UTF8String binary order), so results are identical; the
    // oracle keeps replaying the cap with the QUALIFY window form.
    val cap = maxBucketSize
    val pairs = sig.as[(String, Int, String)]
      .groupByKey { case (_, band, bucket) => (band, bucket) }
      .flatMapGroups { (_, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[String](16)
        // converted ONCE per member at buffering time, not per comparison
        val u8 = new scala.collection.mutable.ArrayBuffer[
          org.apache.spark.unsafe.types.UTF8String](16)
        var overflow = false
        while (it.hasNext && !overflow) {
          val id = it.next()._1
          buf += id
          // fromString(null) = null; null ids count toward the cap (the
          // window counted their rows too) but pair with nothing — the
          // former `doc_a < doc_b` filter null-propagated them away
          u8 += org.apache.spark.unsafe.types.UTF8String.fromString(id)
          if (buf.length > cap) overflow = true
        }
        if (overflow) Iterator.empty
        else {
          val out = new scala.collection.mutable.ArrayBuffer[(String, String)](
            buf.length * (buf.length - 1) / 2)
          var i = 0
          while (i < buf.length) {
            if (u8(i) != null) {
              var j = i + 1
              while (j < buf.length) {
                if (u8(j) != null) {
                  val cmp = u8(i).compareTo(u8(j))
                  if (cmp < 0) out += ((buf(i), buf(j)))
                  else if (cmp > 0) out += ((buf(j), buf(i)))
                }
                j += 1
              }
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("doc_a", "doc_b")
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Exact n-gram Jaccard similarity for an explicit CANDIDATE pair set
    * (normally [[minhashLshPairs]] output) — no cross product anywhere, so
    * the cost is O(|pairs|), not O(|docs|²).
    *
    * Shuffle discipline: the joins attach raw TEXT (≈ doc bytes) to each
    * pair side; shingle sets are built and intersected in the typed layer
    * with a per-partition doc cache. The earlier column formulation
    * equi-joined materialized shingle ARRAYS (~10–20× the doc bytes, and
    * interpreted `array_intersect` per row) — shuffling text instead keeps
    * the exchange payload proportional to the corpus slice actually
    * paired. Ids must be long-castable.
    */
  def jaccardPairs(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleK: Int = 5,
      threshold: Double = 0.0): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val txt = docs.select(requireLongId(col(idCol), "jaccardPairs").as("id"), col(textCol).as("text"))
    val joined = pairs
      .select(requireLongId(col("doc_a"), "jaccardPairs").as("doc_a"),
        requireLongId(col("doc_b"), "jaccardPairs").as("doc_b"))
      .join(txt.select(col("id").as("doc_a"), col("text").as("text_a")), Seq("doc_a"))
      .join(txt.select(col("id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
    val scored = joined.mapPartitions { it =>
      // docs recur across pairs (~|pairs|·2/|involved| times) — LRU the sets
      val cache = new java.util.LinkedHashMap[Long, java.util.HashSet[String]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Long, java.util.HashSet[String]]): Boolean = size > 4096
      }
      def sset(id: Long, text: String): java.util.HashSet[String] = {
        val hit = cache.get(id)
        if (hit != null) return hit
        val norm = normalizeJvm(Option(text).getOrElse(""))
        val set = new java.util.HashSet[String]()
        val n = math.max(norm.length - shingleK + 1, 1)
        var i = 0
        while (i < n) {
          set.add(norm.substring(i, math.min(i + shingleK, norm.length)))
          i += 1
        }
        cache.put(id, set)
        set
      }
      it.map { case (a, b, ta, tb) =>
        val sa = sset(a, ta)
        val sb = sset(b, tb)
        val (small, big) = if (sa.size < sb.size) (sa, sb) else (sb, sa)
        var inter = 0
        val itr = small.iterator()
        while (itr.hasNext) if (big.contains(itr.next())) inter += 1
        val union = sa.size + sb.size - inter
        // mirror Spark/DuckDB round(x, 4): HALF_UP on the shortest decimal
        val j = java.math.BigDecimal.valueOf(inter.toDouble / math.max(union, 1))
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        (a, b, j)
      }
    }
    scored.toDF("doc_a", "doc_b", "jaccard").filter(col("jaccard") >= threshold)
  }

  /** PORTABLE SimHash (60-bit, md5-derived token family): per-token hash is
    * the first 15 hex chars of md5(token) as a 60-bit int (the same base
    * hash as [[shingleX]]), majority vote per bit across token OCCURRENCES.
    * Same trick that bought d6/d7 their hard oracles: the md5 family
    * replays exactly in DuckDB
    * (`('0x'||substring(md5(t),1,15))::BIGINT`, integer shifts), unlike
    * Spark's engine-specific `xxhash64`. A doc with zero
    * tokens has every majority vote trivially satisfied (0·2 ≥ 0) →
    * fingerprint = 2^60−1, mirrored by the oracle's COALESCE.
    */
  final val SimhashPortableBits = 60

  /** Column formulation (parity witness for [[simhashPortableJvm]]). */
  def simhashPortable(text: Column): Column = {
    val tokens = filter(split(regexp_replace(lower(text), WsPattern, " "), " "), t => t =!= "")
    val hashes = transform(tokens, t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val masks = array((0 until SimhashPortableBits).map(b => lit(1L << b)): _*)
    val n = size(hashes)
    aggregate(
      masks,
      lit(0L),
      (acc, mask) => {
        val cnt = aggregate(hashes, lit(0),
          (c, h) => c + when(h.bitwiseAND(mask) =!= 0L, 1).otherwise(0))
        acc.bitwiseOR(when(cnt * 2 >= n, mask).otherwise(lit(0L)))
      })
  }

  /** JVM hot path — bit-identical to [[simhashPortable]] (asserted in
    * OpsSpec) in one pass per row.
    */
  def simhashPortableJvm(text: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val toks = normalizeJvm(text).split(" ")
    val counts = new Array[Int](SimhashPortableBits)
    var n = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        n += 1
        md.reset()
        val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars = bytes 0..6 + high nibble of byte 7 (same
        // layout as bucketHashesJvm's base hash)
        var x = 0L
        var k = 0
        while (k < 7) { x = (x << 8) | (d(k) & 0xffL); k += 1 }
        x = (x << 4) | ((d(7) >> 4) & 0xfL)
        var b = 0
        while (b < SimhashPortableBits) {
          if (((x >>> b) & 1L) == 1L) counts(b) += 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < SimhashPortableBits) {
      if (counts(b) * 2 >= n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Portable SimHash fingerprints for a whole table, typed-layer hot path.
    * The md5-per-token pass is CPU-bound (~1 µs/token), so the input is
    * spread across the session's cores when the scan supplies too few
    * tasks ([[spreadIfNarrow]] — a 5000-doc corpus otherwise runs ~6 s of
    * hashing on ONE core because the parquet table is a single row group).
    */
  def simhashPortableDf(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    spreadIfNarrow(
      docs.select(requireLongId(col(idCol), "simhashPortableDf").as("id"), col(textCol).as("text")))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, simhashPortableJvm(Option(text).getOrElse("")))
      })
      .toDF(idCol, "simhash")
  }

  /** SimHash near-duplicate PAIRS via banded Hamming search (the
    * Manku/Jain/Das Sarma web-dedup construction, WWW'07 — public
    * literature): split the 60-bit portable fingerprint into `nBands`
    * equal bands; any pair within Hamming distance < nBands must agree
    * exactly on at least one band (pigeonhole), so candidates come from
    * an equi-self-join on (band, value) and the verify stage is a
    * codegen'd popcount — no cross product anywhere, the same
    * candidates→verify shape as [[minhashLshPairs]]→[[jaccardPairs]].
    *
    * Scale notes: the 8-byte fingerprint travels WITH the exploded band
    * keys (nBands× duplication of 16 bytes/row) so the verify needs no
    * join back to the signature table; the only shuffles are the
    * (band, value) self-join and the final distinct. Degenerate bands —
    * e.g. boilerplate-dominated fingerprints sharing a band value with
    * half the corpus — are capped exactly like [[minhashLshPairs]]
    * buckets (a band value carried by a large corpus fraction has no
    * near-dup signal). Completeness within the cap: every pair at
    * Hamming ≤ maxHamming < nBands is found (asserted against the
    * brute-force oracle in OpsSpec).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, nBands: Int = 4,
      maxBucketSize: Int = 256, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    simhashPairsFromSigs(simhashPortableDf(docs, idCol, textCol),
      maxHamming, nBands, maxBucketSize, idCol)

  /** Exploded (id, simhash, band, bval) band-key table over a
    * [[simhashPortableDf]] fingerprint table — the candidate-key stage of
    * [[simhashPairsFromSigs]], factored out so coverage reporting
    * ([[simhashBandCoverage]]) shares it instead of recomputing
    * fingerprints.
    */
  def simhashBandKeys(sigs: DataFrame, nBands: Int = 4,
      idCol: String = "doc_id"): DataFrame = {
    require(SimhashPortableBits % nBands == 0, s"$nBands must divide $SimhashPortableBits")
    val bandBits = SimhashPortableBits / nBands
    val mask = (1L << bandBits) - 1
    sigs.select(col(idCol), col("simhash"),
        posexplode(array((0 until nBands).map(b =>
          shiftrightunsigned(col("simhash"), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .select(col(idCol), col("simhash"), col("pos").as("band"), col("col").as("bval"))
  }

  /** One coverage row for the degenerate-band cap over a
    * [[simhashBandKeys]] table — the "no silent caps" observability the
    * d10 bucket path already has ([[Ann.bucketCoverage]]): how many
    * (band, bval) buckets the cap drops and what key fraction that is,
    * with a status column that flips to "degraded" past
    * `degradedAbove`. Unlike d10's sub-banding, the band WIDTH here is
    * pinned by the pigeonhole guarantee (maxHamming < nBands over
    * 60/nBands-bit bands — widening bands to shrink buckets would break
    * completeness), and deriving the CAP from corpus size would unbound
    * the self-join quadratically; the honest scale treatment is this
    * report, persisted next to every run ([[graft.spark.Coverage]]).
    */
  def simhashBandCoverage(keys: DataFrame, maxBucketSize: Int,
      nBands: Int = 4, degradedAbove: Double = 0.05): DataFrame = {
    val sizes = keys.groupBy(col("band"), col("bval"))
      .agg(count(lit(1)).as("bucket_n"))
    sizes.agg(
      lit(SimhashPortableBits / nBands).cast("long").as("bucket_bits"),
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

  /** [[simhashPairs]] over a precomputed [[simhashPortableDf]] fingerprint
    * table (shared with the d9 surface — fingerprints are computed once
    * per corpus, same economics as [[Ann.signatureTable]]).
    */
  def simhashPairsFromSigs(sigs: DataFrame, maxHamming: Int = 3, nBands: Int = 4,
      maxBucketSize: Int = 256, idCol: String = "doc_id"): DataFrame = {
    require(maxHamming < nBands,
      s"pigeonhole completeness needs maxHamming < nBands (got $maxHamming ≥ $nBands)")
    val spark = sigs.sparkSession
    import spark.implicits._
    val keys = simhashBandKeys(sigs, nBands, idCol)
    // Cap + candidate pairing + Hamming verify as ONE streamed group pass
    // (see [[minhashLshPairs]] for the full rationale): the former
    // (band, bval) equi-self-join + pair distinct exchanged the key table
    // twice and shuffled EVERY bucket pair before the popcount filter;
    // here each (band, bval) group streams through an iterator with an
    // O(cap) buffer — a degenerate band is dropped after cap+1 rows
    // without materializing — and only pairs already within
    // `maxHamming` are emitted, so the final dedup exchange carries the
    // near-dup set, not the candidate set. Results identical (the oracle
    // keeps replaying cap + join + QUALIFY).
    val cap = maxBucketSize
    val maxH = maxHamming
    val pairs = keys
      .select(requireLongId(col(idCol), "simhashPairsFromSigs"), col("simhash"),
        col("band"), col("bval"))
      // boxed id: a null doc_id historically flowed to the pair stage and
      // was dropped by the null-propagating `doc_a < doc_b` filter — keep
      // that behavior (count toward the cap, pair with nothing) instead of
      // crashing the non-nullable encoder
      .as[(java.lang.Long, Long, Int, Long)]
      .groupByKey { case (_, _, band, bval) => (band, bval) }
      .flatMapGroups { (_, it) =>
        val ids = new scala.collection.mutable.ArrayBuffer[java.lang.Long](16)
        val sigBuf = new scala.collection.mutable.ArrayBuffer[Long](16)
        var overflow = false
        while (it.hasNext && !overflow) {
          val row = it.next()
          ids += row._1
          sigBuf += row._2
          if (ids.length > cap) overflow = true
        }
        if (overflow) Iterator.empty
        else {
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          var i = 0
          while (i < ids.length) {
            if (ids(i) != null) {
              val a = ids(i).longValue()
              var j = i + 1
              while (j < ids.length) {
                if (ids(j) != null) {
                  val b = ids(j).longValue()
                  val h = java.lang.Long.bitCount(sigBuf(i) ^ sigBuf(j))
                  if (h <= maxH) {
                    if (a < b) out += ((a, b, h.toLong))
                    else if (b < a) out += ((b, a, h.toLong))
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
      .toDF("doc_a", "doc_b", "hamming")
    pairs.distinct() // a pair may agree on several bands
  }

  /** Resolve a duplicate-PAIR table into duplicate CLUSTERS with a
    * canonical keeper — the step that turns any of the pair emitters
    * (MinHash-LSH d7, cosine d10, SimHash d11) into an actionable dedup
    * decision: every document in a connected component of the pair graph
    * maps to `cluster_id` = the smallest doc id in its component, and the
    * keeper is the doc that IS its own cluster_id (smallest-id keeper —
    * deterministic, the same tie-break every other operator here uses).
    *
    * Algorithm: undirected min-label propagation to a fixpoint. Dup
    * components are near-cliques (every member pairs with most others),
    * so the graph diameter — the iteration bound — is 2–3 in practice;
    * `maxIters` is a loud safety valve, not a silent truncation (it
    * throws, never returns a half-converged labeling). Each iteration is
    * one join + one agg keyed on doc id (map-side combined); no
    * all-pairs stage, no driver-side graph. At 10^12 docs the pair table
    * is the small side (dup fraction × corpus), which is what makes the
    * iterate-to-fixpoint affordable.
    *
    * Output: (doc_id, cluster_id) for every doc APPEARING IN A PAIR;
    * singleton docs are absent (their cluster is themselves — joining
    * them in would just append the identity mapping corpus-wide).
    */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 20,
      maxDriverPairs: Long = 1L << 21): DataFrame = {
    // undirected edge list + self-loops: label(v) = min over N(v) ∪ {v}.
    // A pair with a null id links nothing (a null doc can never cluster),
    // so it is dropped here, before either path reads the edges: the
    // driver path's (Long, Long) decode cannot hold a null, and both paths
    // then see the same graph.
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint() // reused every iteration; also cuts the pair-emitter plan off the loop
    // Small-graph fast path: the distributed fixpoint costs several Spark
    // jobs PER ITERATION (join + agg + checkpoint + probe), which dwarfs
    // the data whenever the pair graph is modest — and dup-pair graphs are
    // the SMALL side of a dedup by construction (dup fraction × corpus).
    // Below `maxDriverPairs` edges (~32 MB of longs at the default, the
    // same bounded-driver contract as [[Ann.cosineDupPairs]]'s maxRows),
    // collect the edge list and run union-find on the driver: connected
    // components with min-id labels — EXACTLY the fixpoint's semantics, so
    // results are identical; past the bound the scale-correct iterative
    // path below runs unchanged (spec-covered either way).
    val longIds = edges.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // (long-id graphs only — the generic-typed iterative path below serves
    // anything else; every pair emitter in this engine uses long ids)
    if (longIds && edges.count() <= maxDriverPairs) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
        r
      }
      val edgeRows = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
      SessionArtifacts.unpersist(edges)
      edgeRows.foreach {
        case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a)
          val rb = find(b)
          // min-id union keeps every root the smallest id of its component
          if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      val it = parent.keySet().iterator()
      while (it.hasNext) { val v = it.next(); out += ((v, find(v))) }
      return out.toSeq.toDF("doc_id", "cluster_id")
    }
    val nodes = edges.select(col("src").as("doc_id")).distinct()
    // localCheckpoint, not persist: each iteration references the previous
    // labels TWICE (join + union), so without truncating the lineage the
    // logical plan doubles per iteration — O(2^iters) analysis/explain blowup
    // long before any data is large. Eager checkpointing bounds the plan at
    // one iteration. (A durable `spark.sparkContext.setCheckpointDir` +
    // .checkpoint() is the fault-tolerant production variant; the fixpoint
    // loop is identical.)
    var labels = nodes.withColumn("label", col("doc_id")).localCheckpoint()
    // convergence probe: label(v) = min over N(v) ∪ {v} can only DECREASE
    // pointwise, so the labeling changed iff Σ label strictly dropped — one
    // map-side-combined agg over the checkpointed table instead of the
    // former equi-join + filter + limit probe (a join per iteration).
    // DECIMAL(38) sum: exact at any corpus size (a long sum of 10^12
    // 60-bit ids would overflow).
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val next = edges.join(labels.withColumnRenamed("doc_id", "dst")
            .withColumnRenamed("label", "nbr_label"), Seq("dst"))
        .select(col("src").as("doc_id"), col("nbr_label"))
        .union(labels.select(col("doc_id"), col("label").as("nbr_label")))
        .groupBy(col("doc_id"))
        .agg(min(col("nbr_label")).as("label"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      // a plain unpersist() leaves a checkpoint's blocks in place
      SessionArtifacts.unpersist(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      it += 1
    }
    SessionArtifacts.unpersist(edges)
    if (!converged) {
      SessionArtifacts.unpersist(labels)
      sys.error(s"dupClusters: not converged after $maxIters iterations — " +
        "pair graph has pathological diameter; raise maxIters explicitly")
    }
    labels.withColumnRenamed("label", "cluster_id")
  }
}
