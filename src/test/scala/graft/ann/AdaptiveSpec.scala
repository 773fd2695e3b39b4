package graft.ann

import graft.SparkSpec

/** The adaptive-capacity rules' load-bearing properties: the floors must
  * decide EXACTLY at the driver-SF boundary (2 048 vectors) — that is
  * what keeps every committed oracle hash unchanged — and the wider
  * buckets the rules pick at scale must not cost the LSH near-dup path
  * its recall (multi-probe + 16 tables is the safety margin). */
class AdaptiveSpec extends SparkSpec {
  import spark.implicits._

  test("floors decide at and below the driver-SF boundary, rules engage above") {
    // every driver SF (embeddings: 50 / 500 / 2000) sits below 2048
    for (n <- Seq(1L, 50L, 500L, 2000L, 2048L)) {
      assert(HyperplaneLSH.adaptiveBits(n) == 8, s"bits at n=$n")
      assert(Adaptive.cellsForServing(n) == 16, s"serving cells at n=$n")
    }
    for (n <- Seq(1L, 50L, 500L, 2000L, 2048L))
      assert(Adaptive.cellsForPairs(n) == 16, s"pair cells at n=$n")
    // strictly monotone growth past the boundary
    assert(HyperplaneLSH.adaptiveBits(2049L) == 9)
    assert(HyperplaneLSH.adaptiveBits(20000L) == 12)
    assert(Adaptive.cellsForPairs(20000L) == 157)
    assert(Adaptive.cellsForServing(20000L) == 50)
    // occupancy stays bounded: doubling the corpus never doubles it
    val occ = (n: Long) => n.toDouble / (1L << HyperplaneLSH.adaptiveBits(n))
    for (n <- Seq(4096L, 65536L, 1048576L))
      assert(occ(n) <= 2 * HyperplaneLSH.TargetOccupancy, s"occupancy at n=$n is ${occ(n)}")
  }

  test("bucket width caps at 31 bits so int bucket arithmetic never wraps") {
    // uncapped, n > ~17B picks widths whose shiftleft(1, bit) Spark masks
    // mod 32 and whose int-cast sum wraps — buckets would silently alias
    assert(HyperplaneLSH.MaxBits == 31)
    assert(HyperplaneLSH.adaptiveBits(Long.MaxValue) == 31)
    assert(HyperplaneLSH.adaptiveBits(20_000_000_000L) == 31) // ~36 uncapped
    // the SQL mirror carries the same cap
    assert(HyperplaneLSH.bitsSql("e").contains(s"LEAST(${HyperplaneLSH.MaxBits}"))
    // max bit index 30: shift and bucket stay inside a signed 32-bit int
    assert((1 << (HyperplaneLSH.MaxBits - 1)) > 0)
  }

  test("EmbeddingNearDup routes by regime and the cell branch keeps planted recall") {
    // low threshold -> k-means cells (vec_a/vec_b/cosine contract shared)
    val rnd = new scala.util.Random(20260816L)
    val base = (0 until 1500).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian())))
    val planted = (0 until 25).map { i =>
      val (id, v) = base(i * 11)
      (id + 100000L, v.map(x => x + 0.05 * rnd.nextGaussian()))
    }
    val vecs = (base ++ planted).toDF("vec_id", "emb")
    val cellPairs = EmbeddingNearDup.pairs(vecs, dim = 64, threshold = 0.4)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 25).map(i => (base(i * 11)._1, base(i * 11)._1 + 100000L)).toSet
    // near-identical vectors (cos ~0.99) almost always share a k-means
    // cell, but a pair sitting ON a Voronoi boundary can still split —
    // that is the documented SemDeDup trade, so the pin is high recall,
    // not perfection (this seed: 24/25, the miss straddles a boundary)
    val cellRecall = expected.count(cellPairs.contains).toDouble / expected.size
    assert(cellRecall >= 0.9, s"cell recall $cellRecall; missing ${expected -- cellPairs}")
    // high threshold -> sign-LSH branch (same pairs for planted dups)
    val lshPairs = EmbeddingNearDup.pairs(vecs, dim = 64, threshold = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(expected.subsetOf(lshPairs), s"missing planted (lsh): ${expected -- lshPairs}")
  }

  test("adaptive width keeps planted near-dup recall on a corpus past the boundary") {
    // 6000 vectors -> adaptiveBits = 10 (four times the buckets of the
    // fixed width); 30 planted pairs at cosine ~0.98 must all surface
    val rnd = new scala.util.Random(20260816L)
    val base = (0 until 3000).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian()))
    }
    val planted = (0 until 30).map { i =>
      val (id, v) = base(i * 7)
      // tiny perturbation: cosine stays ~0.99
      (id + 100000L, v.map(x => x + 0.05 * rnd.nextGaussian()))
    }
    val noise = (0 until 2970).map { i =>
      (200000L + i, Array.fill(64)(rnd.nextGaussian()))
    }
    val vecs = (base ++ planted ++ noise).toDF("vec_id", "emb")
    assert(HyperplaneLSH.adaptiveBits(vecs.count()) == 10)
    val pairs = HyperplaneLSH.nearDupPairs(vecs, dim = 64, threshold = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 30).map(i => (base(i * 7)._1, base(i * 7)._1 + 100000L)).toSet
    assert(expected.subsetOf(pairs),
      s"missing planted pairs: ${expected -- pairs}")
  }
}
