package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions` entry point: a session built with
  * GraftExtensions can call the graft functions from plain SQL text, and
  * the SQL results match the Scala-API (directly built) results exactly. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("a withExtensions session exposes graft functions to plain SQL") {
    // a SECOND session on the shared test context, built through the
    // extensions injection path (the route sql_extensions_simhash takes)
    val orig = SparkSpec.session
    val s2 = GraftExtensions.sessionFor(orig)
    assert(s2 ne orig)

    val d = s2.sql(
      "SELECT graft_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(d == 32.0)

    // SQL-side fingerprints/signatures match the Scala-API expressions
    // bit-for-bit (same kernels)
    import s2.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("x_docs")
    val sqlFp = s2.sql(
      "SELECT doc_id, graft_simhash64(split(trim(text), ' ')) AS fp FROM x_docs ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val apiFp = graft.dedup.SimHash.fingerprints(docs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sqlFp == apiFp)

    val sig = s2.sql("SELECT graft_minhash_sig(array('sh-a', 'sh-b')) AS sig")
      .head().getSeq[Long](0)
    assert(sig.length == graft.dedup.MinHashLSH.NumHashes)
    // deterministic: same input, same signature
    val sig2 = s2.sql("SELECT graft_minhash_sig(array('sh-a', 'sh-b')) AS sig")
      .head().getSeq[Long](0)
    assert(sig == sig2)
  }
}
