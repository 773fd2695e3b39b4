package graft.ann

import graft.SparkSpec

class CentroidClassifySpec extends SparkSpec {
  import spark.implicits._

  test("separable clusters classify perfectly, including held-out docs") {
    // two orthogonal directions, small within-cluster jitter; ids cover the
    // train shard (%20 < 18) and the held-out shard (18, 19)
    def vec(base: Array[Double], j: Double): Array[Double] =
      base.zipWithIndex.map { case (v, i) => v + (if (i % 2 == 0) j else -j) }
    val a = Array(1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 0.0, 1.0, 0.0)
    val rows = (0L until 40L).map { id =>
      val base = if (id % 2 == 0) a else b
      (id, vec(base, 0.01 * ((id % 5) + 1)), if (id % 2 == 0) "srcA" else "srcB")
    }
    val e = rows.map(r => (r._1, r._2)).toDF("vec_id", "emb")
    val d = rows.map(r => (r._1, r._3)).toDF("doc_id", "source")
    val out = CentroidClassify.classifyFrames(e, d).collect()
    assert(out.length == 40)
    out.foreach { r =>
      assert(r.getBoolean(4), s"doc ${r.getLong(0)} predicted ${r.getString(2)}")
      assert(r.getString(1) == r.getString(2))
    }
  }
}
