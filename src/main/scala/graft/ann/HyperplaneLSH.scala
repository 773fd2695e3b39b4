package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-hyperplane LSH for approximate cosine search — the 100 TB path:
  * each vector hashes to an L×B bit signature (sign of ⟨v, r⟩ per fixed
  * pseudo-random hyperplane r); vectors sharing a table bucket become
  * candidates via a bucket equi-join (never all-pairs). Multi-probe: each
  * vector also probes the B buckets at Hamming distance 1 per table,
  * trading a B× candidate fan-out for much higher recall.
  *
  * P(bit match) = 1 − θ/π, so a B-bit bucket matches with (1 − θ/π)^B —
  * L tables + 1-bit probes flatten the miss rate for near neighbours.
  *
  * Hyperplanes are ±1 (Rademacher) entries derived from md5 text
  * arithmetic — the same database-friendly family [[RandomProjection]]
  * uses (Achlioptas 2003: sign matrices satisfy the same
  * distance-preservation bounds as gaussians; for sign-LSH only the
  * DIRECTION of the hyperplane matters and ±1 directions are uniform
  * enough at d=64). The planes are built with Spark's own md5 SQL
  * function and mirrored by [[planesSql]], so every engine computes
  * identical planes, buckets, and therefore the identical (deterministic)
  * LSH miss pattern — this is what lets `ann_lsh` and
  * `dedup_embedding_lsh` carry full DuckDB oracles instead of rows-only
  * recall specs.
  */
object HyperplaneLSH {

  /** Expected members per (table, bucket) the adaptive width aims for. */
  val TargetOccupancy = 8
  /** Floor on the bucket width — every driver test SF (≤ 2048 vectors)
    * resolves to exactly this, so the adaptive rule changes nothing the
    * oracles already pin. */
  val MinBits = 8
  /** nearDupPairs drops buckets past this size: at adaptive width a
    * bucket this hot is a degenerate density spike (e.g. a mass of
    * zero/identical vectors), and its m²/2 pairs would dominate the whole
    * join — the same guard (and the same oracle HAVING mirror)
    * MinHashLSH applies. Unreachable at the driver SFs. */
  val MaxBucket = 1024

  /** Ceiling on the bucket width: bits index 0..MaxBits−1, so every
    * `shiftleft(1, bit)` and the summed bucket stay inside a SIGNED
    * 32-bit int (max bit index 30 ⇒ bucket ≤ 2³¹−1). Without the cap,
    * adaptiveBits(n > ~17B vectors) would pick widths whose shifts
    * Spark masks mod 32 and whose sums wrap the int cast — buckets
    * silently ALIAS, reintroducing the quadratic candidate blow-up the
    * adaptive rule exists to prevent, and diverging from the DuckDB
    * mirror's `1 << b` arithmetic (round-14 review finding). Past the
    * cap (2³¹ buckets/table × 16 tables) occupancy grows with N again —
    * at that corpus size the cell-routed path ([[EmbeddingNearDup]]) is
    * the documented dedup plan anyway. */
  val MaxBits = 31

  /** Occupancy-adaptive bucket width: the round-14 scale-stress harness
    * measured the FIXED 8-bit width going quadratic (exponent 2.06 at
    * 10×) — 256 buckets per table means occupancy, and therefore the
    * candidate equi-join, grows linearly-squared with the corpus. Width
    * grows with log2(N/occupancy), holding expected occupancy (and so
    * per-bucket pair cost) CONSTANT: total candidates stay O(N·L·B).
    * The oracle mirrors the same rule in SQL ([[bitsSql]]); float log2
    * could only disagree across engines when N/occupancy is an exact
    * power of two AND a libm misrounds — and below 2^MinBits·occupancy
    * the floor decides, which covers every driver SF. Capped at
    * [[MaxBits]] so the bucket arithmetic never leaves 32-bit range. */
  def adaptiveBits(n: Long): Int =
    if (n <= 0) MinBits
    else math.min(MaxBits, math.max(MinBits,
      math.ceil(math.log(n.toDouble / TargetOccupancy) / math.log(2.0)).toInt))

  /** SQL mirror of [[adaptiveBits]] over a corpus relation. */
  def bitsSql(corpus: String): String =
    s"(SELECT LEAST($MaxBits, GREATEST($MinBits, CAST(CEIL(LOG2(COUNT(*) / $TargetOccupancy.0)) AS INTEGER))) FROM $corpus)"

  /** A bucket table together with the width it was hashed at. Probe-side
    * hashing MUST reuse this width — re-deriving it from a count would
    * silently mis-bucket whenever the precomputed frame was built at any
    * other width (round-14 review finding), and the count itself is a
    * full-corpus job the precomputation exists to avoid. */
  final case class BucketTable(df: DataFrame, bits: Int)

  /** Broadcast the exact-rescore embedding sides of the candidate joins
    * when the corpus is at most this many bytes (N·dim·8, raw vector
    * payload). The candidate stream is Θ(N·L·(B+1)·occ) id-pairs — at
    * 100× stress scale ~4·10⁸ rows — and joining the embeddings back via
    * sort-merge SORTS that stream twice (once per side); the round-16
    * 100× run died spilling exactly there (UnsafeExternalSorter, "No
    * space left on device") with ~77 GB of scratch. A broadcast-hash
    * rescore never sorts the candidate stream: it flows straight through
    * the join into the threshold filter. 256 MB ≈ 512k vectors at
    * dim 64 — comfortably executor-sized; past it the hint falls away and
    * the join reverts to shuffle (a real cluster's distributed scratch
    * absorbs the sort — and at that N the documented near-dup path is the
    * k-means-cell plan anyway). Auto-broadcast alone does not cover this:
    * its default threshold (10 MB) gives up three orders of magnitude
    * below what an executor comfortably holds.
    *
    * The gate compares the cap against N·dim·8 × [[RescoreOverheadFactor]],
    * not raw payload: the broadcast row carries the nrm column plus
    * UnsafeRow array headers, and the built hash relation roughly doubles
    * the serialized bytes again — ~2× is the measured envelope. The two
    * rescore sides alias ONE shared projection, so ReuseExchange ships a
    * single broadcast copy (two independently-projected sides would not
    * canonicalize to the same exchange and would double the footprint). */
  val RescoreBroadcastMaxBytes: Long = 256L << 20

  /** Serialized-footprint multiplier over the raw N·dim·8 vector payload
    * (nrm column + UnsafeRow headers + hash-relation build). */
  val RescoreOverheadFactor: Long = 2L

  /** DuckDB mirror of the plane construction: a `(tbl, bit, plane)` table
    * for `FROM (SELECT unnest(range($tables)) AS t), (SELECT
    * unnest(range($bits)) AS b)`. Kept beside the Spark builder below so
    * the two cannot drift. `bits` is a SQL expression so the adaptive
    * width ([[bitsSql]]) interpolates directly. */
  def planesSql(dim: Int, tables: Int, bits: String): String =
    s"""SELECT t.t AS tbl, b.b AS bit,
       |  list_transform(generate_series(1, $dim),
       |    i -> CAST(1 - 2 * (ascii(substr(md5(t.t || ':' || b.b || ':' || i), 1, 1)) % 2) AS DOUBLE)) AS plane
       |FROM (SELECT unnest(range($tables)) AS t) t, (SELECT unnest(range(CAST($bits AS BIGINT))) AS b) b""".stripMargin

  /** (table, bit, plane) rows, planes computed by Spark's md5 — identical
    * on any engine that mirrors the text arithmetic. */
  private def planesDf(spark: org.apache.spark.sql.SparkSession,
                       dim: Int, tables: Int, bits: Int): DataFrame = {
    val sgn = (t: Column, b: Column, i: Column) =>
      (lit(1) - lit(2) * (ascii(substring(md5(concat(
        t.cast("string"), lit(":"), b.cast("string"), lit(":"), i.cast("string"))),
        1, 1)) % 2)).cast("double")
    spark.range(tables).select(col("id").cast("int").as("table"))
      .crossJoin(spark.range(bits).select(col("id").cast("int").as("bit")))
      .select(col("table"), col("bit"),
        transform(sequence(lit(1), lit(dim)),
          i => sgn(col("table"), col("bit"), i)).as("plane"))
  }

  /** (vec_id, table, bucket) with optional Hamming-1 multi-probe buckets.
    * The hyperplanes ship as a broadcast table (tables×bits rows) rather
    * than inline literals — 8k double literals bloat codegen/plan
    * serialization — and each bit is a codegen'd [[graft.functions.DotProduct]]
    * sign; bits assemble into buckets with a hash aggregation. */
  def buckets(vecs: DataFrame, dim: Int, tables: Int = 16, bits: Int = 0,
              multiProbe: Boolean = true): DataFrame = {
    val spark = vecs.sparkSession
    // bits = 0 (default) resolves the occupancy-adaptive width from the
    // (memoized) corpus count — metadata-cheap next to the bucketing pass
    val bitsResolved =
      if (bits > 0) bits else adaptiveBits(graft.sqlx.Counts.of(vecs))
    val planesDf = this.planesDf(spark, dim, tables, bitsResolved)
    val base = vecs.crossJoin(broadcast(planesDf))
      .select(col("vec_id"), col("table"),
        when(graft.functions.GraftFunctions.dot(col("emb"), col("plane")) > 0.0,
          expr("shiftleft(1, bit)")).otherwise(0).as("bitval"))
      .groupBy("vec_id", "table")
      .agg(sum(col("bitval")).cast("int").as("bucket"))
    if (!multiProbe) base.withColumn("is_probe", lit(false))
    else {
      // no distinct needed: per (vec_id, table) the base bucket and its
      // `bits` single-bit XOR probes are pairwise distinct by construction.
      // Rows are TAGGED base-vs-probe so consumers can join one-sided
      // (probed × base) — the round-14 fan-out fix in [[nearDupPairs]]
      val probes = base.select(col("vec_id"), col("table"),
        explode(array((0 until bitsResolved).map(b =>
          col("bucket").bitwiseXOR(lit(1 << b))): _*)).as("bucket"))
      base.withColumn("is_probe", lit(false))
        .unionByName(probes.withColumn("is_probe", lit(true)))
    }
  }

  /** [[buckets]] at the adaptive width, returned WITH that width so
    * downstream probe-side hashing can reuse it ([[BucketTable]]). */
  def bucketTable(vecs: DataFrame, dim: Int, tables: Int = 16,
                  multiProbe: Boolean = true): BucketTable = {
    val bits = adaptiveBits(graft.sqlx.Counts.of(vecs))
    BucketTable(buckets(vecs, dim, tables, bits, multiProbe), bits)
  }

  /** LSH-bucketed embedding near-dup: bucket equi-join candidate pairs
    * (vec_a < vec_b across shared table buckets, multi-probe) + exact cosine
    * re-score ≥ threshold. Cost is O(N·L·B) bucketing + O(bucket
    * collisions) re-score, never all-pairs.
    *
    * REGIME: sign-LSH holds recall only at HIGH thresholds. Per-bit match
    * probability is p = 1 − θ/π, so a B-bit table matches with ~p^B and
    * one-sided Hamming-1 probing lifts that to p^B + B·p^(B−1)(1−p); at
    * the adaptive width (B grows with log₂ N) recall at a fixed threshold
    * DECAYS with corpus size — at cos 0.4 it is ~0.92 at B=8 (the
    * measured 61-of-66 pairs at sf0.001; one-sided probing in round 14
    * traded the earlier 66 for a (bits+1)× instead of (bits+1)² candidate
    * bill) but only ~0.3 by B=13. Thresholds below
    * [[EmbeddingNearDup.LshMinThreshold]] should route through the
    * k-means-cell path ([[EmbeddingNearDup.pairs]] does exactly that);
    * this function is the right plan for the high-threshold regime
    * (cos ≥ 0.6 ⇒ p ≥ 0.70, where 16 tables + probes keep recall ~1
    * at any adaptive width — AdaptiveSpec pins planted-pair recall at
    * cos ~0.99 past the width boundary). */
  def nearDupPairs(vecs: DataFrame, dim: Int, threshold: Double,
                   precomputedBuckets: Option[BucketTable] = None): DataFrame = {
    import graft.functions.GraftFunctions.dot
    val vbAll = precomputedBuckets.map(_.df).getOrElse(buckets(vecs, dim))
    // hot-bucket guard: at adaptive width a bucket past MaxBucket is a
    // degenerate density spike whose m²/2 pairs would dominate the join —
    // it contributes no pairs (broadcast anti-join on the tiny hot list),
    // mirrored in the oracle via HAVING, exactly like MinHashLSH
    val hot = vbAll.groupBy("table", "bucket")
      .agg(count(lit(1)).as("m")).where(col("m") > MaxBucket)
      .select("table", "bucket")
    val vb = vbAll.join(broadcast(hot), Seq("table", "bucket"), "left_anti")
    // ONE-SIDED probing (round 14): probed rows join BASE rows only, the
    // same shape [[approxTopK]] documents — every vector appears on both
    // sides, so any pair within bucket-Hamming 1 still meets, while the
    // (bits+1)² two-sided fan-out (which also caught incidental Hamming-2
    // bucket pairs) drops to (bits+1)×. At 30× corpus the two-sided join
    // generated ~700 M candidates and spilled past the disk; one-sided is
    // the linear-constant shape. Pairs normalize via least/greatest since
    // the sides are now asymmetric.
    val cand = vb.as("a").join(vb.where(!col("is_probe")).as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
    val vn = vecs.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    // executor-memory-sized corpora broadcast the rescore sides so the
    // Θ(N·L·(B+1)·occ) candidate stream never pays a sort-merge sort —
    // see [[RescoreBroadcastMaxBytes]]. ONE shared projection, aliased
    // per side: identical canonicalized children let ReuseExchange ship a
    // single broadcast copy for both joins. (Counts.of memoizes only
    // file-backed plans — an in-memory vecs frame pays a count job here.)
    val bcast = graft.sqlx.Counts.of(vecs) * dim * 8L * RescoreOverheadFactor <=
      RescoreBroadcastMaxBytes
    val proj = vn.select(col("vec_id"), col("emb"), col("nrm"))
    val shared = if (bcast) broadcast(proj) else proj
    val a = shared.toDF("vec_a", "ea", "na")
    val b = shared.toDF("vec_b", "eb", "nb")
    cand.join(a, "vec_a").join(b, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(when(col("na") =!= 0.0 && col("nb") =!= 0.0,
          dot(col("ea"), col("eb")) / (col("na") * col("nb"))), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Approximate top-k: LSH candidates scored exactly (codegen'd dot over
    * precomputed norms), ranked per query. The corpus side carries the
    * Hamming-1 probe buckets, so the query side hashes base-only — one-sided
    * probing reaches every neighbour within Hamming 1 without the 9×9
    * candidate fan-out of probing both sides. */
  def approxTopK(vecs: DataFrame, queries: DataFrame, dim: Int, k: Int,
                 precomputedBuckets: Option[BucketTable] = None): DataFrame = {
    import graft.functions.GraftFunctions.dot
    // the query side MUST hash at the CORPUS's width — widths derived
    // from each side's own count would never share a bucket. A supplied
    // bucket table CARRIES its width (and skips the corpus count job);
    // only a fresh build derives it from the (memoized) count.
    val corpusBits = precomputedBuckets.map(_.bits)
      .getOrElse(adaptiveBits(graft.sqlx.Counts.of(vecs)))
    val vb = precomputedBuckets.map(_.df)
      .getOrElse(buckets(vecs, dim, bits = corpusBits))
    val qb = buckets(queries.withColumnRenamed("query_id", "vec_id")
        .withColumnRenamed("qemb", "emb"), dim, bits = corpusBits, multiProbe = false)
      .withColumnRenamed("vec_id", "query_id")
    val cand = qb.join(vb, Seq("table", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    // same executor-sized broadcast rule as nearDupPairs' rescore: the
    // candidate stream must not pay a sort-merge sort per side
    val bcast = graft.sqlx.Counts.of(vecs) * dim * 8L * RescoreOverheadFactor <=
      RescoreBroadcastMaxBytes
    def side(df: DataFrame) = if (bcast) broadcast(df) else df
    val vn = side(vecs.withColumn("nrm", sqrt(dot(col("emb"), col("emb")))))
    val qn = queries.withColumn("qnrm", sqrt(dot(col("qemb"), col("qemb"))))
    val scored = cand
      .join(vn, "vec_id")
      .join(qn, "query_id")
      .select(col("query_id"), col("vec_id"),
        round(when(col("qnrm") =!= 0.0 && col("nrm") =!= 0.0,
          dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm"))), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
