package graft.ann

import graft.sources.CellStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the second scale path
  * beside [[HyperplaneLSH]]: a coarse quantizer assigns every vector to a
  * cell; a query scores only the vectors in its `nProbe` closest cells,
  * exactly (codegen'd dot product), then ranks top-k.
  *
  * The quantizer is trained FAISS-style on a bounded, deterministic,
  * content-hash sample of the corpus. The FIT dispatches on the cell
  * count, the same way a join picks broadcast vs shuffle: up to
  * `driverFitMaxCells` the sample is collected and Lloyd's runs on the
  * driver (k-means cost is O(sample·k·d); a distributed fit at small k
  * spends more on per-iteration job scheduling than the arithmetic —
  * measured with MLlib in round 4), while past it [[fitDistributed]] keeps
  * the sample as a DataFrame and runs Lloyd's as Spark jobs, so the
  * SemDeDup nCells ≈ n/128 rule survives arbitrarily large cell counts:
  * nothing sample-sized ever reaches the driver on that path — only k·d
  * centroid aggregates per iteration.
  *
  * BOTH fit paths compute the same deterministic, cross-engine-replayable
  * arithmetic and return bit-identical centroids (IvfDistributedFitSpec
  * asserts the equivalence): the sample stride and the k init points
  * derive from md5 text arithmetic (not JVM hashing), and every mean
  * update sums DECIMAL(25,10)-quantized terms — exact and associative, so
  * neither collection order (driver) nor shuffle order (distributed) can
  * perturb a centroid, and a SQL engine can replay the whole fit
  * iteration-by-iteration. That is what lets the registered `ann_ivf`
  * query carry a full DuckDB oracle: the oracle re-runs sampling, init,
  * every Lloyd's round, the full-corpus assignment, the probe, and the
  * rescore from the same parquet input. A coarse quantizer only has to
  * spread cells; recall comes from nProbe, not centroid optimality.
  *
  * Assignment is then ONE map pass: the per-row argmin is the codegen'd
  * [[graft.functions.NearestCell]] expression (centroid matrix as a
  * plan-referenced double[][] — k·d doubles, KBs at small k, MBs at 10⁵
  * cells), so the corpus-wide scan stays in whole-stage codegen with no
  * per-row boxing. At 100 TB the index is just
  * `(cell, vec)` written one directory per cell ([[writeIndex]]) so a probe
  * ([[approxTopKStored]]) reads only the probed cells' files, nProbe/nCells
  * of the data — and the candidate join is a cell equi-join, never
  * all-pairs.
  */
object IvfIndex {

  /** Past this many cells the fit graduates from the collected-sample
    * driver Lloyd's to [[fitDistributed]] — chosen where the per-iteration
    * job-scheduling overhead of the distributed fit stops dominating the
    * O(sample·k·d) arithmetic it parallelizes. */
  val DriverFitMaxCells = 1024

  /** Lloyd's rounds — few by design (coarse quantizer; see header). */
  val Iters = 5

  /** md5 hex of `"<vec_id>:<seed>"` — the content hash behind sampling and
    * init ordering. SQL mirror: `md5(vec_id || ':' || seed)`. */
  private[ann] def md5Key(seed: Long): Column =
    md5(concat(col("vec_id").cast("string"), lit(":"), lit(seed).cast("string")))

  /** Unsigned value of the first 8 md5 hex chars (the MinHashLSH.baseHashSql
    * family). SQL mirror: `CAST(('0x' || substr(md5(...), 1, 8)) AS BIGINT)`. */
  private[ann] def md5Head32(seed: Long): Column =
    conv(substring(md5Key(seed), 1, 8), 16, 10).cast("long")

  /** Train the coarse quantizer on a ~≤maxTrain deterministic sample and
    * assign each vector to its cell. The stride derives from one cheap
    * count() of the key column (columnar scan of a single int column; an
    * index build amortizes it — callers that already know the corpus size
    * can pre-count and cache). Fit dispatch: collected-sample driver
    * Lloyd's up to `driverFitMaxCells`, [[fitDistributed]] beyond (the
    * sample never reaches the driver on that path); both paths return
    * bit-identical centroids.
    * Returns (assignments: vec_id, emb, cell; centroids: cell, centroid). */
  def assign(vecs: DataFrame, nCells: Int, seed: Long = 42L,
             maxTrain: Int = 65536,
             driverFitMaxCells: Int = DriverFitMaxCells): (DataFrame, DataFrame) = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val centroids = fittedCentroids(vecs, nCells, seed, maxTrain, driverFitMaxCells)
    val assigned = vecs.select(col("vec_id"), col("emb"),
      graft.functions.NearestCell.nearest(col("emb"), centroids).as("cell"))
    val cents = centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
    (assigned, cents)
  }

  /** The fitted (and session-memoized) coarse quantizer as driver arrays —
    * the fit half of [[assign]], split out so [[writeIndex]] can persist
    * the centroid table driver-side ([[graft.sources.TinyParquet.write]])
    * without a collect of the DataFrame it would otherwise build. */
  private def fittedCentroids(vecs: DataFrame, nCells: Int, seed: Long,
                              maxTrain: Int,
                              driverFitMaxCells: Int = DriverFitMaxCells): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val total = graft.sqlx.Counts.of(vecs)
    // ceil: a floor stride of total/maxTrain keeps up to 2*maxTrain-1 rows
    // (e.g. total = 2*maxTrain - 1 -> stride 1 keeps everything)
    val stride = math.max(1L, (total + maxTrain - 1) / maxTrain)
    // content-hash stride: the training set is a pure function of the data
    // and seed, independent of partitioning and row order
    val sampleDf = vecs
      .where(pmod(md5Head32(seed), lit(stride)) === 0L)
      .select(col("vec_id"), col("emb"))
    def fit(): Array[Array[Double]] =
      if (nCells <= driverFitMaxCells) {
        val sample = sampleDf.as[(Long, Seq[Double])].collect()
          .map { case (id, x) => (id, x.toArray) }
        lloydExact(sample, nCells, seed, Iters)
      } else fitDistributed(sampleDf, nCells, seed)
    // Session-memoized quantizer fit: the centroids are a pure function
    // of (corpus content, nCells, seed, maxTrain) — the dispatch path is
    // NOT in the key because both paths are bit-identical
    // (IvfDistributedFitSpec) — so the IVF-family registered queries
    // (ivf/pq/ivfpq/health/forget/semantic over the same corpus) share
    // ONE fit per session instead of refitting per query. Non-file
    // corpora have no collision-proof fingerprint and fit fresh.
    // the memoized arrays are shared across every IVF-family query in the
    // session — hand each caller its own deep copy so no future mutation
    // can corrupt later queries (k·d doubles, negligible next to the fit)
    (graft.sqlx.PlanFingerprint.of(vecs) match {
      case Some(fp) =>
        graft.sqlx.Memo.getOrElseUpdate(s"ivf-fit:$fp:$nCells:$seed:$maxTrain")(fit())
      case None => fit()
    }).map(_.clone())
  }

  /** Index of the closest centroid by squared euclidean distance (first
    * minimum wins — deterministic under ties). The accumulation order
    * (ascending dimension) is the contract the SQL mirror replays with a
    * sequential list dot product over the difference vector. */
  private def nearestCell(cents: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      var d2 = 0.0
      var i = 0
      while (i < ce.length) { val df = x(i) - ce(i); d2 += df * df; i += 1 }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** JVM mirror of Spark's double → DECIMAL(25,10) cast (shortest decimal
    * representation, then HALF_UP at scale 10 — java BigDecimal.valueOf is
    * exactly the shortest-repr route Spark's Cast takes). */
  private def dec10(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(10, java.math.RoundingMode.HALF_UP)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Driver-side Lloyd's over the collected sample — the SAME arithmetic
    * as [[fitDistributed]] (md5-ordered init, decimal-exact means), so the
    * two paths return bit-identical centroids and share one SQL oracle.
    * Sums are order-free (decimal addition is exact/associative), so no
    * sample ordering is needed. */
  private[ann] def lloydExact(sample: Array[(Long, Array[Double])], k: Int,
                              seed: Long, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty quantizer training sample")
    val d = sample(0)._2.length
    var cents = sample
      .map { case (id, x) => (md5Hex(s"$id:$seed"), id, x) }
      .sortBy(t => (t._1, t._2))
      .take(math.min(k, sample.length))
      .map(_._3.clone)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length, d)(java.math.BigDecimal.ZERO)
      val cnts = new Array[Long](cents.length)
      sample.foreach { case (_, x) =>
        val best = nearestCell(cents, x)
        cnts(best) += 1
        val s = sums(best)
        var i = 0
        while (i < d) { s(i) = s(i).add(dec10(x(i))); i += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (cnts(c) == 0L) cents(c)
        else Array.tabulate(d)(i => sums(c)(i).doubleValue() / cnts(c))
      }
      it += 1
    }
    cents
  }

  /** Distributed Lloyd's over a sample that STAYS a DataFrame — the scale
    * path for cell counts past [[DriverFitMaxCells]] (SemDeDup's
    * nCells ≈ n/128 rule reaches 10⁵+ cells at paper scale). Per
    * iteration: one Spark job assigns each sample row to its nearest
    * broadcast centroid and aggregates per-(cell, dim) sums — so the only
    * thing ever collected is k·d centroid aggregates (metadata), never the
    * sample. Deterministic for a given (sample, k, seed): init is the k
    * first rows by md5 content hash, and the per-dimension means are
    * summed as DECIMAL(25,10) (exact, associative — the §6 convention), so
    * shuffle order cannot perturb the centroids. Bit-identical to
    * [[lloydExact]] over the same sample.
    *
    * Returns exactly min(k, sample size) centroids; empty cells keep their
    * previous centroid. `iters = 0` returns the init, which the spec uses
    * as the cost baseline. */
  def fitDistributed(sample: DataFrame, k: Int, seed: Long,
                     iters: Int = Iters): Array[Array[Double]] = {
    val spark = sample.sparkSession
    import spark.implicits._
    // deterministic init: first k sample rows by content hash — a top-k
    // job collecting k·d doubles (centroid metadata, not the sample)
    var cents: Array[Array[Double]] = sample
      .orderBy(md5Key(seed), col("vec_id"))
      .limit(k)
      .select(col("emb")).as[Seq[Double]].collect()
      .map(_.toArray)
    require(cents.nonEmpty, "empty quantizer training sample")
    var it = 0
    while (it < iters) {
      // per-(cell, dim) exact decimal sums, re-rolled to ONE row per cell
      // (pos-sorted struct array + the member count) before collection —
      // k rows instead of k·d Row objects on the driver heap. Practical
      // ceiling: the k·d decimal aggregates themselves must fit the
      // driver (10⁵ cells × 64 dims ≈ 6.4M decimals ≈ low hundreds of
      // MB); past that, shrink the sample stride or the cell count — the
      // coarse quantizer needs spread, not optimality.
      // each pass binds its interim matrix into its own plan, so the
      // snapshot lives only as long as that plan
      val stats = sample
        .select(graft.functions.NearestCell.nearest(col("emb"), cents).as("cell"),
          posexplode(col("emb")))
        .groupBy("cell", "pos")
        .agg(sum(graft.sqlx.Exact.dec(col("col"))).as("s"), count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(max(col("n")).as("n"), // n is the cell's member count — identical across dims
          sort_array(collect_list(struct(col("pos"), col("s")))).as("dims"))
        .collect()
      val next = cents.map(_.clone)
      stats.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1)
        r.getSeq[org.apache.spark.sql.Row](2).foreach { ds =>
          next(cell)(ds.getInt(0)) = ds.getDecimal(1).doubleValue() / n
        }
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Probed (query, cell) pairs: the nProbe closest centroids per query by
    * cosine — a broadcast cross of the driver-sized centroid table.
    * (private[ann]: [[IvfPq]] shares the probe.) */
  private[ann] def probeCells(queries: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    import graft.functions.GraftFunctions.dot
    queries.crossJoin(broadcast(cents))
      .withColumn("cdist",
        -dot(col("qemb"), col("centroid")) /
          (sqrt(dot(col("qemb"), col("qemb"))) *
            sqrt(dot(col("centroid"), col("centroid")))))
      .withColumn("prb", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist"), col("cell"))))
      .where(col("prb") <= nProbe)
      .select("query_id", "qemb", "cell")
  }

  /** Exact re-score of the probed cells' members + per-query top-k. */
  private def rescoreTopK(qcells: DataFrame, assigned: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.dot
    val vn = assigned.withColumn("nrm", sqrt(dot(col("emb"), col("emb"))))
    val scored = qcells.join(vn, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("qnrm", sqrt(dot(col("qemb"), col("qemb"))))
      .select(col("query_id"), col("vec_id"),
        round(when(col("qnrm") =!= 0.0 && col("nrm") =!= 0.0,
          dot(col("qemb"), col("emb")) / (col("qnrm") * col("nrm"))), 6).as("cosine"))
      // no distinct needed: cells partition the corpus, so each (query, vec)
      // pair surfaces from exactly one probed cell
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Approximate top-k: probe the nProbe closest cells per query (cosine to
    * centroid), exact-rescore the cells' members, rank. The default probes
    * half the cells because the synthetic testdata is isotropic gaussian —
    * IVF's worst case (no cluster structure, neighbours scatter uniformly);
    * real embedding corpora cluster, where nProbe ≪ nCells recovers the
    * same recall at a fraction of the scan — demonstrated by
    * IvfClusteredRecallSpec (recall@10 ≥ 0.9 at nProbe 4 of 32 on a seeded
    * gaussian mixture). */
  def approxTopK(vecs: DataFrame, queries: DataFrame, k: Int,
                 nCells: Int = 16, nProbe: Int = 8): DataFrame = {
    val (assigned, cents) = assign(vecs, nCells)
    rescoreTopK(probeCells(queries, cents, nProbe), assigned, k)
  }

  /** Materialize the index in the layout the header promises: assignments
    * written one directory per cell with the centroid table beside them,
    * published as a new [[CellStore]] version (fresh increment history).
    * A stored probe then reads only the probed cells' files — at 100 TB
    * the probe scan is nProbe/nCells of the index, not a reshuffle of the
    * whole assigned-vector frame per query batch. */
  def writeIndex(vecs: DataFrame, path: String, nCells: Int = 0,
                 seed: Long = 42L, maxTrain: Int = 65536): Unit = {
    val spark = vecs.sparkSession
    CellStore.build(spark, path, "IvfIndex.writeIndex") {
      // nCells = 0 (default) resolves FAISS's √N serving rule
      // ([[Adaptive.cellsForServing]]) — 16 at every driver SF
      val cells =
        if (nCells > 0) nCells else Adaptive.cellsForServing(graft.sqlx.Counts.of(vecs))
      val centroids = fittedCentroids(vecs, cells, seed, maxTrain)
      // the nCells-row centroid table is a driver write (TinyParquet)
      (vecs.select(col("vec_id"), col("emb"),
        graft.functions.NearestCell.nearest(col("emb"), centroids).as("cell")),
        Seq(("centroids", Seq("cell" -> "int", "centroid" -> "array<double>"),
          centroids.zipWithIndex.toSeq.map { case (c, i) => Seq[Any](i, c) })))
    }
  }

  /** The stored centroids of version `v`, cell-ordered (driver read). */
  private def storedCentroids(spark: org.apache.spark.sql.SparkSession, path: String,
                              v: CellStore.Version): Seq[(Int, Array[Double])] =
    CellStore.table(spark, path, v, "centroids")
      .map(r => (r.int("cell"), r.doubles("centroid"))).sortBy(_._1)

  /** Incremental index maintenance — the production ANN ingest path: new
    * vectors are assigned against the STORED quantizer (fixed centroids,
    * FAISS's add-after-train) and appended to their cells copy-on-write
    * ([[CellStore.append]]: the increment's files land in a fresh write
    * dir, the next version lists them beside the head's). No refit and no
    * rewrite of existing cells: the job's cost is one codegen assignment
    * scan of the increment plus the appended files — O(increment), never
    * O(index). Because per-row assignment depends only on the centroids,
    * the updated index is bit-identical to rebuilding the assignment over
    * base ∪ increment with the same quantizer (IvfIncrementalSpec asserts
    * store and probe equality). A replayed increment would duplicate its
    * vec_ids in the candidate stream, so `incrementId` is checked against
    * the head's applied id (monotone ids, single ingest writer): an
    * orchestrator-retried append is a no-op returning false. Probes keep
    * serving the previous version throughout. The documented limit is
    * quantizer drift: after enough distribution shift the cells skew and
    * recall decays, at which point the maintenance job is a refit +
    * [[writeIndex]] rebuild — the ANN analogue of table compaction. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    newVecs: DataFrame, incrementId: Long): Boolean =
    CellStore.append(spark, path, "IvfIndex.appendToIndex", incrementId) { head =>
      val cents = storedCentroids(spark, path, head).map(_._2).toArray
      newVecs.select(col("vec_id"), col("emb"),
        graft.functions.NearestCell.nearest(col("emb"), cents).as("cell"))
    }

  /** Probe a stored index. The head version is resolved once; the union of
    * probed cells is collected first — bounded by nCells, i.e. centroid
    * metadata, never data — and only those cells' listed files are scanned
    * (asserted by IvfStoreSpec on the scan's file set). */
  def approxTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, k: Int, nProbe: Int = 8): DataFrame = {
    val head = CellStore.head(spark, path)
    // centroids as a LOCAL relation: the probe's broadcast cross then
    // builds without a file-scan job (round 17)
    import spark.implicits._
    val cents = storedCentroids(spark, path, head)
      .map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid")
    val qcells = probeCells(queries, cents, nProbe)
    val probed = qcells.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    rescoreTopK(qcells, CellStore.read(spark, path, head, Some(probed)), k)
  }
}
