package graft.ann

import graft.sources.CellStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF+PQ — the composed serving architecture (FAISS IndexIVFPQ): the
  * [[IvfIndex]] coarse quantizer prunes WHICH vectors a query even looks
  * at (nProbe of nCells cell partitions), and [[Pq]] codes compress WHAT
  * is scanned inside the probed cells (m small ints per vector, scored by
  * ADC lookups against a per-query LUT), with the top-`rerank` candidates
  * re-scored exactly against the raw vectors. The two index structures
  * multiply: at canonical production settings the probe reads
  * nProbe/nCells of the corpus and ADC touches m bytes instead of d
  * doubles per candidate — the combination that serves billion-vector
  * corpora from cluster memory.
  *
  * Codes here are PQ(raw vector), not PQ(residual) — FAISS's
  * `by_residual = false` variant. Residual coding quantizes finer at the
  * same code budget, but it couples every code to its cell's centroid;
  * with raw coding the codebooks are independent of the coarse quantizer,
  * so incremental cell appends ([[IvfIndex.appendToIndex]]) and even a
  * coarse-quantizer refit leave stored codes valid — the operationally
  * simpler index to maintain, and the exact-re-rank stage absorbs the
  * coarser approximation (ADC only has to get the candidate set right).
  *
  * Every stage reuses the deterministic arithmetic of its parent
  * ([[IvfIndex]] md5/DECIMAL k-means; [[Pq]] per-subspace fits and
  * 10-dp-quantized exact ADC sums), so the registered `ann_ivfpq` query
  * replays BOTH fits, the probe, the cell-restricted ADC and the re-rank
  * as one DuckDB oracle.
  *
  * Plan shape: both fits are bounded-sample jobs; assignment and encode
  * are one shared codegen map pass each; the LUT and centroid tables ride
  * broadcast joins; the only wide exchanges are the per-query candidate
  * windows — same as every ANN path here.
  */
object IvfPq {

  /** One bounded sample collect → (coarse centroids, PQ codebooks): the
    * shared two-fit head of every IvfPq path (the oracle's single samp
    * CTE). Driver-fit regime only (nCells ≤ IvfIndex.DriverFitMaxCells);
    * a larger composed index wires [[IvfIndex.fitDistributed]] +
    * [[Pq.fitFromSample]] the same way. */
  private def fitBoth(vecs: DataFrame, dim: Int, nCells: Int, m: Int, codes: Int,
                      seed: Long, maxTrain: Int): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(nCells <= IvfIndex.DriverFitMaxCells,
      s"single-collect IvfPq fit is for the driver regime (nCells <= ${IvfIndex.DriverFitMaxCells})")
    def build() = {
      val sample = Pq.collectSample(vecs, seed, maxTrain)
      (IvfIndex.lloydExact(sample, nCells, seed, IvfIndex.Iters),
        Pq.fitFromSample(sample, dim, m, codes, seed))
    }
    // session-memoized like IvfIndex.assign's coarse fit: both halves are
    // pure functions of (corpus content, params), so the IVFPQ-family
    // registered queries share one two-fit per session
    // deep-copied per caller: the memo serves the same arrays to every
    // IVFPQ-family query in the session, so a mutation by any future
    // caller would silently corrupt later queries on the same corpus
    val (coarse, cbs) = graft.sqlx.PlanFingerprint.of(vecs) match {
      case Some(fp) =>
        graft.sqlx.Memo.getOrElseUpdate(
          s"ivfpq-fit:$fp:$dim:$nCells:$m:$codes:$seed:$maxTrain")(build())
      case None => build()
    }
    (coarse.map(_.clone()), cbs.map(_.map(_.clone())))
  }

  /** One codegen projection computes the WHOLE index row: coarse cell +
    * m sub-codes per vector — no shuffle, no second pass. The code
    * columns are [[Pq.codeCols]], the one definition shared with
    * [[Pq.encode]] and the oracle's `cd` CTE. */
  private def indexRows(vecs: DataFrame, coarse: Array[Array[Double]],
                        cbs: Array[Array[Array[Double]]]): DataFrame =
    vecs.select(col("vec_id") +:
      graft.functions.NearestCell.nearest(col("emb"), coarse).as("cell") +:
      Pq.codeCols(cbs): _*)

  /** Materialize the index in the layout the header promises: the
    * PQ-coded rows written one directory per cell — m small ints per
    * vector in the scan table, the raw vectors stay in the base table —
    * with the centroid and codebook metadata beside them, published as a
    * new [[CellStore]] version with a fresh increment history. At 100 TB
    * this is what makes the composition real: a probe reads nProbe/nCells
    * of an already-64×-compressed table, and the raw table is touched only
    * for the rerank·|queries| exact re-scores. */
  def writeIndex(vecs: DataFrame, path: String, dim: Int,
                 nCells: Int = 0, m: Int = Pq.SubSpaces, codes: Int = Pq.Codes,
                 seed: Long = 42L, maxTrain: Int = 65536): Unit =
    build(vecs, path, "IvfPq.writeIndex", dim, nCells, m, codes, seed, maxTrain,
      carryApplied = false)

  private def build(vecs: DataFrame, path: String, store: String, dim: Int,
                    nCells: Int, m: Int, codes: Int, seed: Long, maxTrain: Int,
                    carryApplied: Boolean): Unit = {
    CellStore.build(vecs.sparkSession, path, store, carryApplied) {
      // nCells = 0 (default) resolves FAISS's √N serving rule
      // ([[Adaptive.cellsForServing]]) — 16 at every driver SF
      val cells =
        if (nCells > 0) nCells else Adaptive.cellsForServing(graft.sqlx.Counts.of(vecs))
      val (coarse, cbs) = fitBoth(vecs, dim, cells, m, codes, seed, maxTrain)
      // the two quantizer-metadata tables (nCells and m·codes rows) are
      // driver writes (TinyParquet); the codes are the one Spark write.
      // codebooks persist WITH their quantized |cent|² so the stored
      // probe's cn2 is bit-identical to the in-memory path by construction
      // (same sequential dot, same HALF_UP 10-dp round as the codegen
      // DotProduct + Spark round they replace).
      (indexRows(vecs, coarse, cbs), Seq(
        ("centroids", Seq("cell" -> "int", "centroid" -> "array<double>"),
          coarse.zipWithIndex.toSeq.map { case (c, i) => Seq[Any](i, c) }),
        ("codebooks", Seq("j" -> "int", "code" -> "int", "cent" -> "array<double>",
          "cn2" -> "double"),
          for { j <- cbs.indices; c <- cbs(j).indices } yield {
            val cent = cbs(j)(c)
            var s0 = 0.0
            var i = 0
            while (i < cent.length) { s0 += cent(i) * cent(i); i += 1 }
            val cn2 = java.math.BigDecimal.valueOf(s0)
              .setScale(10, java.math.RoundingMode.HALF_UP).doubleValue()
            Seq[Any](j, c, cent, cn2)
          })))
    }
  }

  /** Version `v`'s quantizer metadata as arrays (cell- and code-ordered) —
    * driver-sized by construction, read on the driver (TinyParquet): each
    * spark.read...collect() here was a measured fixed-cost job on every
    * append/refit (round 17). */
  private def readMeta(spark: org.apache.spark.sql.SparkSession, path: String,
                       v: CellStore.Version): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val coarse = CellStore.table(spark, path, v, "centroids")
      .sortBy(_.int("cell")).map(_.doubles("centroid")).toArray
    val cbRows = CellStore.table(spark, path, v, "codebooks")
      .map(r => (r.int("j"), r.int("code"), r.doubles("cent")))
    val m = cbRows.map(_._1).max + 1
    val cbs = Array.tabulate(m)(j =>
      cbRows.filter(_._1 == j).sortBy(_._2).map(_._3).toArray)
    (coarse, cbs)
  }

  /** Sub-space count of a stored version, from its data schema (no job). */
  private def subSpaces(v: CellStore.Version): Int =
    v.schema.fieldNames.count(_.startsWith("code_"))

  /** Incremental index maintenance — [[IvfIndex.appendToIndex]]'s twin
    * for the composed index: arriving vectors are assigned AND PQ-coded
    * against the STORED metadata (fixed centroids and codebooks — FAISS's
    * add-after-train; raw coding means the codes don't even depend on the
    * assigned cell) in one codegen projection, then appended to their
    * cells copy-on-write ([[CellStore.append]]). O(increment) per ingest,
    * no refit, no rewrite; because every index column is a per-row
    * function of the stored metadata, append ≡ bulk-indexing the union
    * with the same quantizer (IvfPqSpec asserts it row-for-row).
    *
    * Replay protection (a replayed vec_id doubles its ADC partials,
    * inflating its approximate score by √2 and crowding real neighbours out
    * of the re-rank pool with no error anywhere): `incrementId` is checked
    * against the head version's applied id, so an orchestrator-retried or
    * `foreachBatch`-replayed increment is a NO-OP (returns false). A crash
    * before the commit leaves the head untouched, so the retry applies the
    * increment exactly once; probes keep serving the head meanwhile.
    * Increment ids must be monotone per store (single ingest writer): the
    * guard is the [[CellStore]] head's applied id, the same one that makes
    * MaterializedAgg.refreshOnce's replayed batch a no-op on its store of
    * the same format. Distinctness of vec_ids
    * ACROSS increments remains the ingest layer's contract (the
    * dedup_incremental operator). Drift limit as for IVF: enough
    * distribution shift ⇒ refit + [[writeIndex]] rebuild. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    newVecs: DataFrame, incrementId: Long): Boolean =
    CellStore.append(spark, path, "IvfPq.appendToIndex", incrementId) { head =>
      val (coarse, cbs) = readMeta(spark, path, head)
      indexRows(newVecs, coarse, cbs)
    }

  /** Row-level forget on the SERVING index — the delete half of index
    * maintenance ([[appendToIndex]] is the insert half): a takedown /
    * GDPR request arrives as vec_ids only, so affected cells are located
    * by a column-pruned semi-join over the head's codes' (vec_id, cell) —
    * never by re-embedding — and ONLY those cells are rewritten
    * ([[CellStore.rewrite]]: anti-join survivors, into a fresh write dir);
    * the next version swaps those cells' file lists and keeps every other
    * cell's files. A cell
    * whose last vector is deleted lists no files (probing it yields no
    * candidates). Quantizer metadata is untouched by construction — raw
    * PQ codes are per-row functions of the codebooks, so delete ≡
    * rebuilding on the survivors WITH THE SAME fit sample (the fitted
    * quantizer keeps its training history; FAISS `remove_ids` behaves
    * identically, and [[refitIfDrifted]] is the lever when enough of the
    * corpus departs that the old fit stops representing it).
    *
    * Same exactly-once discipline as the append: `incrementId` is checked
    * against the head's applied id (a retried delete is a no-op), and
    * probes keep serving the previous version until the new one commits.
    * The old cell files stay on disk while a retained version lists them:
    * physical erasure follows the retention timeline in docs/COMMITS.md.
    *
    * Durability boundary (the composition contract): an index delete is a
    * SERVING-layer removal — a later [[writeIndex]] / [[refitIfDrifted]]
    * rebuild re-indexes whatever base frame the caller passes, so a
    * rebuild sourced from a base that still holds the vectors RESURRECTS
    * them. Durable deletion lives with the base table (e.g. a
    * [[graft.sources.TableMaintenance]] store with tombstones — the
    * forget_cascade pattern); rebuilds must read the post-delete base,
    * exactly as FAISS remove_ids does not survive a retrain from the
    * original training set. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      ids: DataFrame, incrementId: Long): Boolean = {
    val head = CellStore.head(spark, path)
    if (incrementId <= head.applied) false
    else {
      // delete requests are request-sized: broadcast them to both the
      // cell-locating semi-join and the survivor anti-join
      val keys = broadcast(ids.select("vec_id").distinct())
      val affected = CellStore.read(spark, path, head)
        .join(keys, Seq("vec_id"), "left_semi")
        .select("cell").distinct().collect().map(_.getInt(0)).toSeq
      // nothing stored for these ids: the next version still records the
      // id, so a replay of THIS delete is a no-op
      CellStore.rewrite(spark, path, "IvfPq.deleteFromIndex", head, incrementId, affected)(
        CellStore.read(spark, path, head, Some(affected)).join(keys, Seq("vec_id"), "left_anti"))
      true
    }
  }

  /** Membership audit of the serving index: the vec_ids the committed head
    * holds (with their cells), column-pruned to the two metadata columns —
    * the "prove document X is no longer served" read a compliance takedown
    * ends with. A store with no committed version refuses, like every
    * probe. */
  def storedIds(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    CellStore.read(spark, path, CellStore.head(spark, path)).select("vec_id", "cell")

  /** Probe a stored index: the head version is resolved once,
    * centroids/codebooks are metadata reads, only the probed cells' listed
    * code files are scanned (like [[IvfIndex.approxTopKStored]]), ADC
    * runs over those code rows, and only the surviving candidates
    * touch `vecs` (the raw base table) for the exact re-rank. Same
    * quantizer arithmetic ⇒ bit-identical to [[approxTopK]]. */
  def approxTopKStored(spark: org.apache.spark.sql.SparkSession, path: String,
                       vecs: DataFrame, queries: DataFrame, k: Int, dim: Int,
                       nProbe: Int = 8, rerank: Int = Pq.Rerank): DataFrame = {
    val head = CellStore.head(spark, path)
    import spark.implicits._
    // quantizer metadata as LOCAL relations (driver-read, k·m rows): their
    // broadcasts then build without a file-scan job each — three fewer
    // fixed-cost jobs per stored probe (round-17 measurement); the CODES
    // table stays a parquet scan, it is the data
    val cents = CellStore.table(spark, path, head, "centroids")
      .map(r => (r.int("cell"), r.doubles("centroid").toSeq))
      .toDF("cell", "centroid")
    val cbRows = CellStore.table(spark, path, head, "codebooks")
    val cbDf = cbRows
      .map(r => (r.int("j"), r.int("code"), r.doubles("cent").toSeq, r.double("cn2")))
      .toDF("j", "code", "cent", "cn2") // (j, code, cent, cn2)
    // m from the stored schema (no job); sd from the stored sub-centroid
    // width, VALIDATED against the caller's dim — graft_dot truncates to
    // the shorter array, so an unchecked mismatch would return silently
    // wrong neighbours instead of failing
    val m = subSpaces(head)
    val sd = cbRows.head.doubles("cent").length
    require(m * sd == dim,
      s"stored index is m=$m × sd=$sd (dim ${m * sd}); caller passed dim=$dim")
    val qcells = IvfIndex.probeCells(queries, cents, nProbe)
      .select("query_id", "cell")
    val probed = qcells.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq
    val codeLong = Pq.meltCodes(
      CellStore.read(spark, path, head, Some(probed)), m, Seq("vec_id", "cell"))
    val lut = Pq.lutFor(queries, cbDf, sd)
    val pairs = qcells.join(codeLong, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "j", "code"))
      .select("query_id", "vec_id", "pdot", "cn2")
    Pq.adcRankExact(vecs, queries, pairs, rerank, k)
  }

  /** FAISS's `by_residual = true` variant, behind its own entry point:
    * codes quantize the RESIDUAL x − c(cell(x)) instead of the raw vector.
    * At equal bits the codebooks spend their 2^bits centroids on the
    * small within-cell displacement rather than the whole embedding
    * spread, so quantization error — and therefore ADC ranking error —
    * drops wherever the coarse cells capture real structure (clustered
    * corpora); IvfPqResidualSpec demonstrates the recall win on a
    * clustered fixture and no-regression on the synthetic corpus.
    *
    * The trade (why RAW coding stays the registered/incremental default):
    * every code is coupled to its cell's centroid — a coarse-quantizer
    * refit invalidates ALL stored codes (raw codes survive), the
    * per-query LUT becomes per-(query, probed cell) (nProbe× bigger, the
    * FAISS `use_precomputed_table` machinery), and appends must reproduce
    * the residual against the exact stored centroid. Operationally
    * simple beats marginally finer on the synthetic corpus; the flag
    * exists for the clustered regimes where residual wins outright.
    *
    * Decomposition (disjoint subspaces make every term exact):
    *   dot(q, x̂)  = Σ_j [ dot(q_j, c_cell,j) + dot(q_j, r̂_j) ]  (qc + qr)
    *   |x̂|²       = Σ_j |c_cell,j + r̂_j|²                        (w2)
    * qc rides a (query × probed cell × m) table, qr the usual
    * (query × m × codes) LUT, w2 a (nCells × m × codes) metadata
    * broadcast — the ADC tail then reuses [[Pq.adcRankExact]] verbatim
    * with pdot = qc + qr and cn2 = w2. */
  def approxTopKResidual(vecs: DataFrame, queries: DataFrame, k: Int, dim: Int,
                         nCells: Int = 16, nProbe: Int = 8,
                         m: Int = Pq.SubSpaces, codes: Int = Pq.Codes, rerank: Int = Pq.Rerank,
                         seed: Long = 42L, maxTrain: Int = 65536): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(nCells <= IvfIndex.DriverFitMaxCells,
      s"single-collect IvfPq fit is for the driver regime (nCells <= ${IvfIndex.DriverFitMaxCells})")
    val sd = dim / m
    val sample = Pq.collectSample(vecs, seed, maxTrain)
    val coarse = IvfIndex.lloydExact(sample, nCells, seed, IvfIndex.Iters)
    // residual training set: x − its coarse centroid (sample is already
    // driver-resident, so the subtraction is driver arithmetic)
    def cellOf(x: Array[Double]): Int =
      coarse.indices.minBy { c =>
        var d2 = 0.0; var i = 0
        while (i < x.length) { val df = x(i) - coarse(c)(i); d2 += df * df; i += 1 }
        (d2, c)
      }
    val resSample = sample.map { case (id, x) =>
      val c = coarse(cellOf(x)); (id, x.indices.map(i => x(i) - c(i)).toArray)
    }
    val cbs = Pq.fitFromSample(resSample, dim, m, codes, seed)

    val cents = coarse.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
    // index rows: assign, subtract the cell centroid, code the residual
    val assigned = vecs.select(col("vec_id"), col("emb"),
      graft.functions.NearestCell.nearest(col("emb"), coarse).as("cell"))
    val resRows = assigned.join(broadcast(cents), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("emb"), col("centroid"), (a, b) => a - b).as("emb"))
    val codeLong = Pq.meltCodes(
      resRows.select(col("vec_id") +: col("cell") +: Pq.codeCols(cbs): _*),
      m, Seq("vec_id", "cell"))

    // driver metadata tables: centroid subspace slices and |c_j + r̂|²
    val cellSub = (for { c <- coarse.indices; j <- 0 until m }
      yield (c, j, coarse(c).slice(j * sd, (j + 1) * sd).toSeq)).toDF("cell", "j", "csub")
    val w2 = (for { c <- coarse.indices; j <- 0 until m; cd <- cbs(j).indices } yield {
      val s = coarse(c).slice(j * sd, (j + 1) * sd).zip(cbs(j)(cd)).map { case (a, b) => a + b }
      (c, j, cd, BigDecimal(s.map(v => v * v).sum).setScale(10, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    }).toDF("cell", "j", "code", "cn2")

    val qcells = IvfIndex.probeCells(queries, cents, nProbe).select("query_id", "cell")
    import graft.functions.GraftFunctions.dot
    val qc = qcells.join(queries, Seq("query_id")).join(broadcast(cellSub), Seq("cell"))
      .select(col("query_id"), col("cell"), col("j"),
        round(dot(slice(col("qemb"), col("j") * sd + 1, lit(sd)), col("csub")), 10).as("qc"))
    val qr = queries.crossJoin(broadcast(Pq.codebookDf(spark, cbs)))
      .select(col("query_id"), col("j"), col("code"),
        round(dot(slice(col("qemb"), col("j") * sd + 1, lit(sd)), col("cent")), 10).as("qr"))
    val pairs = qcells.join(codeLong, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .join(qc, Seq("query_id", "cell", "j"))
      .join(broadcast(qr), Seq("query_id", "j", "code"))
      .join(broadcast(w2), Seq("cell", "j", "code"))
      .select(col("query_id"), col("vec_id"),
        (col("qc") + col("qr")).as("pdot"), col("cn2"))
    Pq.adcRankExact(vecs, queries, pairs, rerank, k)
  }

  /** ADC top-k over the probed cells only, then exact re-rank. Output
    * contract: (query_id, vec_id, cosine, rank), rank ≤ k. In-memory
    * variant of the [[writeIndex]]/[[approxTopKStored]] pair — same
    * arithmetic, no store. */
  def approxTopK(vecs: DataFrame, queries: DataFrame, k: Int, dim: Int,
                 nCells: Int = 16, nProbe: Int = 8,
                 m: Int = Pq.SubSpaces, codes: Int = Pq.Codes, rerank: Int = Pq.Rerank,
                 seed: Long = 42L, maxTrain: Int = 65536): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val (coarse, cbs) = fitBoth(vecs, dim, nCells, m, codes, seed, maxTrain)
    val cents = coarse.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid")
    // the same one-pass index row as the stored layout, melted to long
    val codeLong = Pq.meltCodes(indexRows(vecs, coarse, cbs), m, Seq("vec_id", "cell"))
    // probe, then ADC restricted to the probed cells' members: the
    // (query, cell) pairs fan out to cell members via the cell equi-join
    // — candidate generation never touches an unprobed cell
    val qcells = IvfIndex.probeCells(queries, cents, nProbe)
      .select("query_id", "cell")
    val lut = Pq.lutFor(queries, Pq.codebookDf(spark, cbs), dim / m)
    val pairs = qcells.join(codeLong, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "j", "code"))
      .select("query_id", "vec_id", "pdot", "cn2")
    Pq.adcRankExact(vecs, queries, pairs, rerank, k)
  }

  /** Quantizer-drift monitor over a STORED index — the signal the
    * documented IVF/IVFPQ maintenance limit ("enough distribution shift ⇒
    * refit + writeIndex rebuild", [[appendToIndex]] scaladoc) fires on.
    * Until now that refit decision had no input; this rollup gives it
    * three, per cell:
    *
    *   - `n_vectors` / `fill_ratio` (cell count ÷ mean fill) and the
    *     global `imbalance` (max fill ÷ mean fill): a drifting corpus
    *     piles appends into few cells — probes over-read exactly there.
    *     Rule of thumb: rebuild when imbalance exceeds ~4 (a probe of the
    *     hottest cell then scans 4× its fair share).
    *   - `mse_base` vs `mse_increment`: mean PQ reconstruction error
    *     ‖x − decode(code(x))‖² for pre-existing rows vs the newest
    *     increment. The codebooks were fit on the base sample, so
    *     `mse_increment / mse_base` ≫ 1 (≈2 is a reasonable trigger)
    *     means arriving vectors live where the codebooks have no
    *     resolution — ADC ranking quality is silently degrading even
    *     though every append succeeded.
    *
    * Cost shape: one scan of the stored code table (already 64×
    * compressed), a broadcast of the metadata codebooks, one slice/dot
    * per (row, subspace), and a 16-row rollup — runs where the codes
    * live, output is metadata-sized. `increment` is the newest
    * increment's vec_ids (the ingest layer knows them; the manifest only
    * records that an id was applied). Reconstruction error is computed
    * from the STORED codes, so the report doubles as an integrity check:
    * any stored code that is not the argmin of its subspace would show up
    * as an inflated cell mse vs the oracle's min-distance replay. */
  def indexHealth(spark: org.apache.spark.sql.SparkSession, path: String,
                  vecs: DataFrame, increment: DataFrame, dim: Int): DataFrame = {
    val head = CellStore.head(spark, path)
    import spark.implicits._
    val codesDf = CellStore.read(spark, path, head)
    val m = subSpaces(head)
    val sd = dim / m
    // metadata counts/tables from driver-side reads — no per-call jobs
    val nCells = CellStore.table(spark, path, head, "centroids").size
    val cb = CellStore.table(spark, path, head, "codebooks")
      .map(r => (r.int("j"), r.int("code"), r.doubles("cent").toSeq))
      .toDF("j", "code", "cent")
    val dec = (c: org.apache.spark.sql.Column) =>
      c.cast(org.apache.spark.sql.types.DecimalType(25, 10))
    val terms = Pq.meltCodes(codesDf, m, Seq("vec_id", "cell"))
      .join(vecs.select(col("vec_id"), col("emb")), Seq("vec_id"))
      .join(broadcast(cb), Seq("j", "code"))
      .join(broadcast(increment.select(col("vec_id"), lit(true).as("is_inc"))),
        Seq("vec_id"), "left")
      .withColumn("diff",
        zip_with(slice(col("emb"), col("j") * sd + 1, lit(sd)), col("cent"), (a, b) => a - b))
      .withColumn("d2", graft.functions.GraftFunctions.dot(col("diff"), col("diff")))
      .select(col("cell"), coalesce(col("is_inc"), lit(false)).as("is_inc"), col("d2"))
    val perCell = terms.groupBy("cell").agg(
      (count(lit(1)) / lit(m)).cast("long").as("n_vectors"),
      (count(when(col("is_inc"), lit(1))) / lit(m)).cast("long").as("n_increment"),
      sum(when(!col("is_inc"), dec(col("d2")))).cast("double").as("se_base"),
      sum(when(col("is_inc"), dec(col("d2")))).cast("double").as("se_inc"))
    val totals = perCell.agg(
      sum(col("n_vectors")).as("total"), max(col("n_vectors")).as("maxn"))
    perCell.crossJoin(broadcast(totals)).select(
      col("cell"), col("n_vectors"), col("n_increment"),
      ((col("n_vectors") * lit(nCells)).cast("double") / col("total").cast("double"))
        .as("fill_ratio"),
      ((col("maxn") * lit(nCells)).cast("double") / col("total").cast("double"))
        .as("imbalance"),
      when(col("n_vectors") - col("n_increment") === 0, lit(null).cast("double"))
        .otherwise(graft.sqlx.Exact.r4(
          col("se_base") / (col("n_vectors") - col("n_increment")).cast("double")))
        .as("mse_base"),
      when(col("n_increment") === 0, lit(null).cast("double"))
        .otherwise(graft.sqlx.Exact.r4(
          col("se_inc") / col("n_increment").cast("double")))
        .as("mse_increment"))
      .orderBy("cell")
  }

  /** The CLOSED maintenance loop: measure drift ([[indexHealth]]) and pull
    * the documented refit lever when a trigger trips — the job a scheduler
    * runs after each ingest instead of a human reading dashboards. Returns
    * true iff a refit ran. Triggers (the scaladoc thresholds, now
    * executable): the increment's mean reconstruction error at
    * `mseRatioTrigger`× the base's (codebooks have no resolution where the
    * new data lives), or any cell at `imbalanceTrigger`× the mean fill
    * (probes over-read the hot cell).
    *
    * The refit is a full [[writeIndex]] over `corpus` (base ∪ all ingested
    * increments — the caller's raw table IS that set), PRESERVING the
    * stored geometry: nCells, m and the code count are derived from the
    * store's own metadata, never re-defaulted (a scheduler doesn't
    * remember build parameters — review finding). The head's applied
    * increment id is CARRIED into the rebuilt version: the refit corpus
    * already contains every increment through it, so a Structured-
    * Streaming-replayed last batch stays the no-op it was — a fresh history
    * would re-append it onto rows the rebuild already indexed (the √2 ADC
    * inflation the replay guard exists to prevent). Probes keep serving
    * the drifted version until the rebuilt one commits. Decision inputs are the
    * 16-row health rollup — metadata, no second corpus scan beyond the one
    * indexHealth already does. */
  def refitIfDrifted(spark: org.apache.spark.sql.SparkSession, path: String,
                     corpus: DataFrame, increment: DataFrame, dim: Int,
                     mseRatioTrigger: Double = 2.0,
                     imbalanceTrigger: Double = 4.0,
                     seed: Long = 42L, maxTrain: Int = 65536): Boolean = {
    val h = indexHealth(spark, path, corpus, increment, dim).collect()
    val nInc = h.map(_.getLong(2)).sum
    val nBase = h.map(r => r.getLong(1) - r.getLong(2)).sum
    def wsum(mseIdx: Int, weight: org.apache.spark.sql.Row => Long): Double =
      h.collect { case r if !r.isNullAt(mseIdx) && weight(r) > 0 =>
        weight(r) * r.getDouble(mseIdx) }.sum
    val mseRatio =
      if (nInc == 0 || nBase == 0) 1.0
      else (wsum(6, r => r.getLong(2)) / nInc) / (wsum(5, r => r.getLong(1) - r.getLong(2)) / nBase)
    val imbalance = h.headOption.map(_.getDouble(4)).getOrElse(1.0)
    val drifted = mseRatio >= mseRatioTrigger || imbalance >= imbalanceTrigger
    if (drifted) {
      // geometry from the stored index, not parameter defaults —
      // driver-side metadata reads (three Spark jobs here before round 17)
      val head = CellStore.head(spark, path)
      val nCells = CellStore.table(spark, path, head, "centroids").size
      val codes = CellStore.table(spark, path, head, "codebooks").map(_.int("code")).max + 1
      build(corpus, path, "IvfPq.refitIfDrifted", dim, nCells, subSpaces(head), codes,
        seed, maxTrain, carryApplied = true)
    }
    drifted
  }
}
