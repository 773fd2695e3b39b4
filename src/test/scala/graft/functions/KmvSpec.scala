package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KMV bottom-k sketch (graft.functions.Kmv): definition replay, estimator
  * accuracy, partition/merge invariance, and the sample-quantile contract.
  * The cross-engine bit-identity is covered by the registered queries'
  * DuckDB oracles (sketch_event_stats, table_profile_approx); this spec
  * pins the Scala-side semantics those oracles replay. */
class KmvSpec extends SparkSpec {

  import org.apache.spark.unsafe.types.UTF8String

  private def ids(n: Int): Seq[String] = (1 to n).map(i => s"id-$i")

  test("exact regime: below k distinct values the estimate IS the distinct count") {
    import spark.implicits._
    // 500 distinct keys, each repeated 4× — well under k
    val df = ids(500).flatMap(s => Seq.fill(4)(s)).toDF("s").repartition(8)
    val est = df.agg(Kmv.distinctCount(col("s"), 2048)).head().getLong(0)
    assert(est === 500L)
  }

  test("estimate regime matches a brute-force replay of the definition and stays within 3×rsd") {
    import spark.implicits._
    val n = 50000
    val df = ids(n).toDF("s").repartition(16)
    val k = 2048
    val est = df.agg(Kmv.distinctCount(col("s"), k)).head().getLong(0)
    // brute-force replay: sort all 52-bit hashes, apply (k−1)·2^52 div h_k
    val hashes = ids(n).map(s => Kmv.hash52(UTF8String.fromString(s))).distinct.sorted
    val expected = ((k - 1).toLong * Kmv.Scale) / hashes(k - 1)
    assert(est === expected, "aggregate must equal the definitional replay bit-for-bit")
    val rsd = 1.0 / math.sqrt(k - 2.0)
    assert(math.abs(est - n).toDouble / n <= 3 * rsd,
      s"estimate $est vs true $n outside 3×rsd")
  }

  test("partition invariance: 1 vs 32 partitions produce the identical sketch result") {
    import spark.implicits._
    val rows = ids(10000).map(s => (s, (s.length * 31 + s.hashCode % 97).toDouble))
    def run(parts: Int): (Long, Seq[Double]) = {
      val df = rows.toDF("s", "v").repartition(parts)
      val r = df.agg(
        Kmv.distinctCount(col("s"), 512).as("d"),
        Kmv.sample(col("s"), col("v"), 512).as("samp")).head()
      (r.getLong(0), r.getSeq[Double](1))
    }
    assert(run(1) === run(32), "bottom-k union must be order/partitioning independent")
  }

  test("sample quantiles are EXACT when the group fits in k, and interpolation matches percentile()") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => (s"k$i", i.toDouble * 0.5))
    val df = vals.toDF("s", "v").repartition(8)
    val got = df.agg(Kmv.sample(col("s"), col("v"), 2048).as("samp"))
      .select(Kmv.quantileFromSorted(col("samp"), 0.5).as("p50"),
        Kmv.quantileFromSorted(col("samp"), 0.95).as("p95"))
      .head()
    val exact = df.agg(expr("percentile(v, 0.5)"), expr("percentile(v, 0.95)")).head()
    assert(got.getDouble(0) === exact.getDouble(0))
    assert(got.getDouble(1) === exact.getDouble(1))
  }

  test("prehashed LONG children (hash52Col projection) produce the identical sketch as string children") {
    import spark.implicits._
    val rows = ids(5000).map(s => (s, s.length.toDouble))
    val df = rows.toDF("s", "v").repartition(8)
    val direct = df.agg(
      Kmv.distinctCount(col("s"), 512).as("d"),
      Kmv.sample(col("s"), col("v"), 512).as("samp")).head()
    val pre = df.select(col("v"), Kmv.hash52Col(col("s")).as("h"))
      .agg(Kmv.distinctCountHashed(col("h"), 512).as("d"),
        Kmv.sampleHashed(col("h"), col("v"), 512).as("samp")).head()
    assert(direct.getLong(0) === pre.getLong(0))
    assert(direct.getSeq[Double](1) === pre.getSeq[Double](1))
  }

  test("a raw LONG column into the string form is a loud analysis error, never a garbage estimate") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(Kmv.distinctCount(col("id"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_hash52"))
  }

  test("empty input: distinct estimate 0, sample quantile NULL") {
    import spark.implicits._
    val df = Seq.empty[(String, Double)].toDF("s", "v")
    val r = df.agg(
      Kmv.distinctCount(col("s")).as("d"),
      Kmv.sample(col("s"), col("v")).as("samp"))
      .select(col("d"), Kmv.quantileFromSorted(col("samp"), 0.5).as("p50")).head()
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1))
  }

  test("nulls are skipped like COUNT(DISTINCT): null keys and null values never enter the sketch") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("b", None), (null, Some(3.0)), ("a", Some(1.0)))
      .toDF("s", "v")
    val r = df.agg(
      Kmv.distinctCount(col("s")).as("d"),
      size(Kmv.sample(col("s"), col("v"))).as("n")).head()
    assert(r.getLong(0) === 2L) // a, b — null key skipped
    assert(r.getInt(1) === 1)   // (a,1.0) deduped; (b,null)/(null,3.0) skipped
  }

  test("persisted states: merging stored states == sketching the union (the sketch-store contract)") {
    import spark.implicits._
    val k = 256
    // two disjoint-ish halves with overlap: the union sketch must be
    // reconstructible from the two STORED states alone
    val a = ids(3000).toDF("s")
    val b = (2000 to 6000).map(i => s"id-$i").toDF("s")
    def state(df: org.apache.spark.sql.DataFrame) = df.agg(
      Kmv.stateHashed(Kmv.hash52Col(col("s")), k).as("state"))
    val states = state(a).unionByName(state(b))
      .agg(collect_list("state").as("states"))
      .select(Kmv.mergeStatesCol(col("states"), k).as("merged"))
    val mergedEst = states.select(Kmv.estimateFromState("merged", k)).head().getLong(0)
    val directEst = a.unionByName(b)
      .agg(Kmv.distinctCount(col("s"), k)).head().getLong(0)
    assert(mergedEst === directEst,
      "bottom-k of the union of bottom-k states must equal the union's own sketch")
  }

  test("persisted states: below-k states merge to the EXACT distinct count of the union") {
    import spark.implicits._
    val k = 512
    val a = ids(100).toDF("s")
    val b = ids(150).toDF("s") // superset overlap: union distinct = 150
    def st(df: org.apache.spark.sql.DataFrame) = df.agg(
      Kmv.stateHashed(Kmv.hash52Col(col("s")), k).as("state"))
    val est = st(a).unionByName(st(b))
      .agg(collect_list("state").as("states"))
      .select(Kmv.mergeStatesCol(col("states"), k).as("merged"))
      .select(Kmv.estimateFromState("merged", k)).head().getLong(0)
    assert(est === 150L)
  }
}
