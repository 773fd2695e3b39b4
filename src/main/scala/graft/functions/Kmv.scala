package graft.functions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) bottom-k sketches — the DETERMINISTIC mergeable
  * substitutes for HLL++ distinct counts and sampled quantiles.
  *
  * Spark's own sketches (approx_count_distinct, percentile_approx) are
  * one-pass, constant-memory and mergeable — exactly the 100 TB posture —
  * but their estimates are algorithm-internal, so no second engine can
  * replay them and the queries they power can only ever be bounds-checked.
  * KMV keeps the same posture (one pass, ≤k longs of state per group,
  * bottom-k is a semilattice so partial aggregation / AQE merges are free)
  * while making the estimate a pure function of md5, which BOTH engines
  * compute bit-identically — the same derandomization move that made
  * MinHash/LSH/IVF oracle-green (SURVEY.md §6).
  *
  * Hash: the first 13 hex chars (52 bits) of md5 of a CANONICAL string —
  * 52 bits so the fraction is exactly representable in a double and the
  * estimator below stays in exact BIGINT arithmetic. DuckDB replay:
  * [[Kmv.hashSql]].
  *
  * Distinct estimator (Beyer et al., "On Synopses for Distinct-Value
  * Estimation Under Multiset Operations", SIGMOD'07): with d distinct
  * hashes seen, if d < k the sketch holds ALL of them → exact d; else
  * estimate = (k−1) / U(k) where U(k) = kth smallest hash normalized to
  * (0,1]. Computed as (k−1)·2^52 div h_k — pure 64-bit integer math
  * ((k−1)·2^52 < 2^63 for k ≤ 2048), truncating division in both engines,
  * so the estimate is bit-identical by construction, not within-rsd.
  *
  * Sample variant: bottom-k by hash over DISTINCT (hash, value) pairs is a
  * uniform fixed-size sample without replacement (a deterministic
  * reservoir) — quantiles interpolated over it replay exactly in SQL
  * (row_number ≤ k, then the franked-window interpolation every quantile
  * oracle in this repo uses). Ties and 52-bit collisions are broken by
  * value, so which value enters the sample is engine-independent.
  */
object Kmv {
  /** Default sketch size: rsd ≈ 1/√(k−2) ≈ 2.2% — comparable to the HLL++
    * rsd 0.02/0.03 these sketches replace, at 16 KB state per group
    * (k=1024's 3.1% rsd measured 5.4% off on lineitem.l_partkey at sf0.1,
    * over the 5% contract ProfileSpec pins; k=2048 keeps every profiled
    * column within it). (k−1)·2^52 < 2^63 still holds. */
  val K = 2048
  /** 2^52 — the hash domain; fractions h/2^52 are exact doubles. */
  val Scale: Long = 1L << 52

  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 52 bits of md5(s) — 13 hex nibbles, matching [[hashSql]]. */
  def hash52(s: UTF8String): Long = {
    val d = md5Local.get().digest(s.getBytes)
    ((d(0) & 0xffL) << 44) | ((d(1) & 0xffL) << 36) | ((d(2) & 0xffL) << 28) |
      ((d(3) & 0xffL) << 20) | ((d(4) & 0xffL) << 12) | ((d(5) & 0xffL) << 4) |
      ((d(6) & 0xf0L) >>> 4)
  }

  /** DuckDB mirror of [[hash52]]: unsigned value of the first 13 md5 hex chars. */
  def hashSql(s: String): String = s"CAST(('0x' || substr(md5($s), 1, 13)) AS BIGINT)"

  /** Column form of the codegen'd [[Hash52]] — callers precompute the
    * hash in a PROJECTION before the aggregate, so the canonical-string
    * build and the md5 run inside whole-stage codegen (inside the
    * imperative aggregate they are interpreted per row — measured ~1.9×
    * on the 11-column approx profile). */
  def hash52Col(canonical: Column): Column = GraftColumn(Hash52(GraftColumn.expr(canonical)))

  /** The estimator as SQL, over a ranked bottom-k CTE exposing `rn`
    * (hash rank ascending), `nd` (distinct-hash count) and `hv`. */
  def estimateSql(k: Int = K): String =
    s"""CASE WHEN COALESCE(MAX(nd), 0) < $k THEN COALESCE(MAX(nd), 0)
       |     ELSE CAST(${k - 1} AS BIGINT) * $Scale
       |          // GREATEST(MAX(CASE WHEN rn = $k THEN hv END), 1) END""".stripMargin

  private[functions] def estimate(size: Int, kth: Long, k: Int): Long =
    if (size < k) size.toLong
    else ((k - 1).toLong * Scale) / math.max(kth, 1L)

  // ------------------------------------------------------------ Column API
  // Each method builds its expression directly. The aggregates take one
  // key type, the LONG output of [[hash52Col]]; the string forms hash in
  // a projection first, so a raw LONG key into them fails graft_hash52's
  // type check at analysis.

  // --------------------------------------------------- persisted states

  /** The sketch STATE itself (sorted bottom-k hash array) as a column —
    * the Druid/BigQuery sketch-store pattern: persist per-partition
    * states once, answer ANY later rollup by merging states (bottom-k of
    * the union is the union sketch, Beyer et al. §4) with NO rescan of
    * the data. A state is ≤ k BIGINTs; merging is plain array algebra. */
  def stateHashed(hashed: Column, k: Int = K): Column =
    GraftColumn(KmvState(GraftColumn.expr(hashed), k))

  /** Merge an agg-collected list of states (`collect_list(state)`) into
    * the union's state: bottom-k of the distinct union. Input is
    * metadata-sized (≤ k · n_states longs per group), so this is pure
    * in-group array algebra — no aggregate, no shuffle beyond the
    * collect_list's own. */
  def mergeStatesCol(states: Column, k: Int): Column =
    slice(array_sort(array_distinct(flatten(states))), 1, k)

  /** Distinct estimate from a merged STATE column named `name` — the same
    * exact-below-k / (k−1)·2^52 div h_k integer arithmetic as the
    * aggregate's eval, so stored-state rollups replay bit-identically. */
  def estimateFromState(name: String, k: Int): Column =
    expr(s"""CASE WHEN size($name) < $k THEN CAST(size($name) AS BIGINT)
             |     ELSE CAST(${k - 1} AS BIGINT) * ${Scale}L
             |          div GREATEST(element_at($name, $k), 1L) END""".stripMargin)

  /** Deterministic distinct-count estimate of a canonical STRING column.
    * Exact below k distinct values, (k−1)·2^52 div h_k above. */
  def distinctCount(canonical: Column, k: Int = K): Column =
    distinctCountHashed(hash52Col(canonical), k)

  /** [[distinctCount]] over an already-[[hash52Col]]ed LONG column — the
    * codegen-friendly split (hash in a projection, insert in the
    * aggregate). */
  def distinctCountHashed(hashed: Column, k: Int = K): Column =
    GraftColumn(KmvDistinct(GraftColumn.expr(hashed), k))

  /** Bottom-k-by-hash uniform sample of `value`, keyed by a canonical
    * STRING identity column; returns the sampled values sorted ascending,
    * ready for [[quantileFromSorted]]. */
  def sample(key: Column, value: Column, k: Int = K): Column =
    sampleHashed(hash52Col(key), value, k)

  /** [[sample]] with an already-[[hash52Col]]ed LONG key. */
  def sampleHashed(hashedKey: Column, value: Column, k: Int = K): Column =
    GraftColumn(KmvSample(GraftColumn.expr(hashedKey), GraftColumn.expr(value), k))

  /** numpy-default linear interpolation over a SORTED sample array — the
    * identical IEEE op DAG as the franked-window oracle replay
    * (ExactQuantiles.scala doctrine), so doubles match bit-for-bit. */
  def quantileFromSorted(arr: Column, q: Double): Column = {
    val n = size(arr)
    val pos = lit(q) * (n - lit(1)).cast("double")
    val lo = floor(pos)
    val frac = pos - lo
    val vlo = element_at(arr, lo.cast("int") + lit(1))
    val vhi = element_at(arr, least(lo.cast("int") + lit(2), n))
    when(n === 0, lit(null).cast("double"))
      .otherwise(vlo + (vhi - vlo) * frac)
  }

  /** The matching oracle fragment, over a CTE exposing per-group `v`,
    * `frn` (value rank) and `fn` (sample size) — same shape as the
    * curriculum/fcf quantile replays. */
  def quantileSql(q: String): String = {
    val lo = s"floor($q * CAST(fn - 1 AS DOUBLE)) + 1"
    s"""MAX(CASE WHEN frn = $lo THEN v END)
       |      + (COALESCE(MAX(CASE WHEN frn = $lo + 1 THEN v END),
       |                  MAX(CASE WHEN frn = $lo THEN v END))
       |         - MAX(CASE WHEN frn = $lo THEN v END))
       |        * MAX(CASE WHEN frn = $lo
       |              THEN $q * CAST(fn - 1 AS DOUBLE) - floor($q * CAST(fn - 1 AS DOUBLE)) END)""".stripMargin
  }
}

/** Codegen'd 52-bit md5 hash of a canonical string — the per-row half of
  * the KMV sketches, kept OUT of the imperative aggregates so it runs in
  * whole-stage codegen (one static call, no boxing) while the aggregate
  * update degrades to a bounded-set insert. */
case class Hash52(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_hash52 requires a STRING argument, got ${child.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash52"
  override def nullSafeEval(s: Any): Any = Kmv.hash52(s.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kmv.hash52($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bottom-k distinct-hash sketch → BIGINT distinct estimate. State is a
  * TreeSet of ≤k longs (16 KB at k=2048); the child is an already-
  * [[Hash52]]ed LONG (the codegen-friendly split [[Kmv.hash52Col]]
  * documents), so update is one O(log k) insert; merge is bottom-k of the
  * union — a TypedImperativeAggregate, the same
  * physical shape (ObjectHashAggregate, partial + final) Spark plans for
  * its own HLL++. */
case class KmvDistinct(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k > 1, s"KMV sketch needs k > 1, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_distinct requires a bigint key (graft_hash52 output), " +
        s"got ${child.dataType.simpleString}")
  override def prettyName: String = "graft_kmv_distinct"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (buf.size < k) { buf.add(h); () }
      else if (h < buf.last) { if (buf.add(h)) { buf.pollLast(); () } }
    }
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    buf.addAll(other)
    while (buf.size > k) buf.pollLast()
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any =
    Kmv.estimate(buf.size, if (buf.isEmpty) 1L else buf.last, k)

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.forEach(h => { bb.putLong(h); () })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Bottom-k-by-hash value sample → array<double> sorted ascending. Keeps
  * the k smallest DISTINCT (hash52(key), value) pairs — ties and hash
  * collisions break by value, so the sample is a pure function of the
  * data in both engines. ≤k (long, double) pairs of state per group. */
case class KmvSample(
    key: Expression,
    value: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[(Long, Double)]] {

  require(k > 1, s"KMV sample needs k > 1, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (key.dataType == LongType && value.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_sample requires (bigint graft_hash52 key, double), " +
        s"got (${key.dataType.simpleString}, ${value.dataType.simpleString})")
  override def prettyName: String = "graft_kmv_sample"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(key, value)

  private val ord: Ordering[(Long, Double)] = Ordering.Tuple2(
    implicitly[Ordering[Long]], Ordering.Double.TotalOrdering)

  override def createAggregationBuffer(): java.util.TreeSet[(Long, Double)] =
    new java.util.TreeSet[(Long, Double)](ord)

  override def update(
      buf: java.util.TreeSet[(Long, Double)],
      input: InternalRow): java.util.TreeSet[(Long, Double)] = {
    val kv = key.eval(input)
    val vv = value.eval(input)
    if (kv != null && vv != null) {
      val p = (kv.asInstanceOf[Long], vv.asInstanceOf[Double])
      if (buf.size < k) { buf.add(p); () }
      else if (ord.lt(p, buf.last)) { if (buf.add(p)) { buf.pollLast(); () } }
    }
    buf
  }

  override def merge(
      buf: java.util.TreeSet[(Long, Double)],
      other: java.util.TreeSet[(Long, Double)]): java.util.TreeSet[(Long, Double)] = {
    buf.addAll(other)
    while (buf.size > k) buf.pollLast()
    buf
  }

  override def eval(buf: java.util.TreeSet[(Long, Double)]): Any = {
    val vs = new Array[Double](buf.size)
    var i = 0
    buf.forEach(p => { vs(i) = p._2; i += 1 })
    java.util.Arrays.sort(vs)
    UnsafeArrayData.fromPrimitiveArray(vs)
  }

  override def serialize(buf: java.util.TreeSet[(Long, Double)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    buf.forEach(p => { bb.putLong(p._1); bb.putDouble(p._2); () })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Long, Double)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add((bb.getLong, bb.getDouble)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSample =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSample =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), value = newChildren(1))
}

/** [[KmvDistinct]]'s buffer evaluated to the STATE itself — the sorted
  * bottom-k hash array — instead of the estimate. This is what a sketch
  * STORE persists (array<bigint>, ≤ k elements): later rollups merge
  * stored states with [[Kmv.mergeStatesCol]] and estimate with
  * [[Kmv.estimateFromState]], never rescanning the data. Identical
  * update/merge/serde discipline to [[KmvDistinct]]. */
case class KmvState(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k > 1, s"KMV sketch needs k > 1, got $k")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_kmv_state requires a bigint key (graft_hash52 output), " +
        s"got ${child.dataType.simpleString}")
  override def prettyName: String = "graft_kmv_state"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(
      buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (buf.size < k) { buf.add(h); () }
      else if (h < buf.last) { if (buf.add(h)) { buf.pollLast(); () } }
    }
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    buf.addAll(other)
    while (buf.size > k) buf.pollLast()
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](buf.size)
    var i = 0
    buf.forEach(h => { arr(i) = h; i += 1 })
    UnsafeArrayData.fromPrimitiveArray(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.forEach(h => { bb.putLong(h); () })
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
