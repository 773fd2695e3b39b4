package graft.sqlx

import org.apache.spark.sql.DataFrame
import scala.collection.concurrent.TrieMap

/** 128-bit content fingerprint of a DataFrame: md5 over the CANONICALIZED
  * logical plan string plus the (name, length, mtime) of every input file
  * the plan scans. The plan string alone identifies the QUERY; the file
  * metadata identifies the DATA — so the same plan over a rewritten
  * source dir fingerprints differently (the failure mode
  * [[graft.sources.SourceFingerprint]] exists to prevent, generalized
  * from one table dir to an arbitrary plan). 32-bit `hashCode` keys are
  * rejected for the same reason SourceFingerprint's scaladoc gives: a
  * collision silently serves a stale derived frame.
  *
  * Returns None unless EVERY leaf is a file-source relation (and the plan
  * scans at least one file). This is a whitelist, not a LocalRelation
  * blacklist: in-memory leaves that are NOT LocalRelation — LogicalRDD /
  * ExternalRDD from `createDataFrame(parallelize(...))`, streaming
  * relations — also canonicalize without row content, so a plan mixing a
  * file scan with such a leaf would fingerprint on file metadata alone
  * and the memo could silently serve stale counts/fits for different
  * in-memory data. Only leaves whose content IS their files are safe to
  * key on. */
object PlanFingerprint {

  /** A leaf whose entire content is identified by its input files:
    * DSv1 `LogicalRelation(HadoopFsRelation)` or a DSv2 relation over a
    * `FileTable` (parquet/csv/json/orc under either source list). */
  private def isFileBackedLeaf(
      leaf: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    leaf match {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case d: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        d.table.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileTable]
      case _ => false
    }

  def of(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.analyzed
    val allFileBacked = plan.collectLeaves().forall(isFileBackedLeaf)
    val files = df.inputFiles
    if (!allFileBacked || files.isEmpty) None
    else scala.util.Try {
      // one listStatus per PARENT directory, not one RPC per file — a
      // 100 TB table has 10⁵ part files in a handful of directories, and
      // per-file getFileStatus would turn a metadata hash into minutes
      // of driver round-trips on an object store
      val hconf = df.sparkSession.sparkContext.hadoopConfiguration
      val byParent = files.groupBy(f => new org.apache.hadoop.fs.Path(f).getParent)
      val meta = byParent.toSeq.sortBy(_._1.toString).flatMap { case (parent, fls) =>
        val wanted = fls.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
        parent.getFileSystem(hconf).listStatus(parent).toSeq
          .filter(st => wanted(st.getPath.getName))
          .sortBy(_.getPath.getName)
          .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      }.mkString("|")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest((plan.canonicalized.toString + "|" + meta)
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
      // a directory vanishing between the plan's listing and this stat
      // (concurrent overwrite) degrades through the Try to "don't
      // memoize" — never failing a query that would have succeeded
      // without the memo
    }.toOption
  }
}

/** Session-lifetime memo for small driver-side values derived from
  * file-backed corpora (corpus counts, fitted quantizer centroids, bucket
  * tables with their widths, per-session fits and write-once guards) — the
  * non-DataFrame sibling of [[FrameCache]], cleared with it. Keys MUST
  * embed a [[PlanFingerprint]] (or an equally collision-proof content key)
  * or be a session-scoped [[FrameCache.key]]: values are served verbatim
  * on a key hit.
  * Values must be deterministic — a concurrent double-build is resolved
  * by last-write-wins, which is only safe when both builds are equal.
  * Memoized values are shared across every later query in the session:
  * treat them as frozen. Getters that return mutable structures (the
  * quantizer fits' Array[Array[Double]]) deep-copy before handing out. */
object Memo {
  private val m = TrieMap.empty[String, Any]

  def getOrElseUpdate[T](k: String)(build: => T): T =
    m.getOrElseUpdate(k, build).asInstanceOf[T]

  def clear(): Unit = m.clear()

  def size: Int = m.size
}

/** Memoized `count()` over file-backed frames: the adaptive-capacity
  * rules ([[graft.ann.Adaptive]], HyperplaneLSH.adaptiveBits) and the
  * quantizer sample stride each need the corpus size, and a session
  * running many registered queries over the same corpus would otherwise
  * pay one metadata-cheap-but-not-free count job per query. Non-file
  * plans (no fingerprint) count fresh every time — correct, just
  * unmemoized. */
object Counts {
  def of(df: DataFrame): Long =
    PlanFingerprint.of(df) match {
      case Some(fp) => Memo.getOrElseUpdate(s"count:$fp")(df.count())
      case None     => df.count()
    }
}
