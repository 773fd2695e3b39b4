package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** The copy-on-write cell store: one on-disk format for every derived
  * store whose rows fall into integer cells and whose mutations rewrite
  * whole cells — the stored ANN indexes ([[graft.ann.IvfIndex]],
  * [[graft.ann.IvfPq]]; a cell is an IVF cell) and the materialized view
  * ([[graft.etl.MaterializedAgg]]; a cell is a hash bucket of its
  * partial-aggregate state). Versions are published through the one
  * commit protocol every other store uses ([[CommittedVersions]]).
  *
  * {{{
  *   root/_manifest/v=N/      committed version N (driver-written manifest)
  *   root/w=<uuid>/cell=C/    one mutation's data files for cell C
  *   root/w=<uuid>/<table>/   a build's side tables (IVF centroids, PQ codebooks)
  * }}}
  *
  * A version's manifest names everything a reader may touch: the side
  * tables (written once per build, carried forward by reference), each
  * cell's live data files, the data schema, and the last applied
  * increment id — the replay guard of the incremental paths (increment
  * ids are monotone per store: one ingest writer, a stream's batch ids).
  *
  * Every mutation writes into its OWN fresh `w=` directory (never shared:
  * two Spark jobs writing one output dir share its `_temporary`), then
  * CASes `v = head + 1`. A reader resolves the head once and reads only the
  * files it lists, with the manifest's schema (no footer-inference job),
  * so it keeps serving `v=N` while a writer publishes `N+1`. A racing
  * loser gets [[ConcurrentCommitException]] and deletes its write dir; a
  * writer that crashes before the CAS leaves only an unreferenced dir.
  * [[vacuum]] applies the retention rule of [[TableMaintenance]]: versions
  * beyond `RetainGens` superseded ones go, and `w=` dirs no retained
  * version references go once older than `OrphanAgeMs` (younger ones may
  * be a live writer's). */
private[graft] object CellStore {

  /** One committed version. Paths are relative to the store root. */
  final case class Version(number: Long, applied: Long, schema: StructType,
                           tables: Map[String, String], files: Map[Int, Seq[String]]) {
    /** The next version's contents with `files` replaced cell by cell —
      * a cell mapped to no files leaves the layout. */
    def withCells(applied: Long, cells: Map[Int, Seq[String]]): Version =
      copy(applied = applied, files = (files ++ cells).filter(_._2.nonEmpty))
  }

  private val ManifestSchema =
    Seq("kind" -> "string", "ref" -> "string", "cell" -> "int", "applied" -> "long")

  private def manifests(root: String) = s"$root/_manifest"

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def at(spark: SparkSession, root: String, v: Long): Version = {
    val rows = TinyParquet.rows(spark, s"${manifests(root)}/v=$v")
    def kind(k: String) = rows.filter(_.string("kind") == k)
    val head = kind("head").headOption.getOrElse(
      sys.error(s"cell store manifest $root v=$v has no head row"))
    Version(v, head.long("applied"), StructType.fromDDL(head.string("ref")),
      kind("table").map(r => new Path(r.string("ref")).getName -> r.string("ref")).toMap,
      kind("file").groupBy(_.int("cell")).map { case (c, rs) => c -> rs.map(_.string("ref")) })
  }

  /** The committed head, resolved once per read or mutation. */
  def headOption(spark: SparkSession, root: String): Option[Version] =
    CommittedVersions.latest(spark, manifests(root)).map(at(spark, root, _))

  /** The committed head; a store with no committed version refuses. */
  def head(spark: SparkSession, root: String): Version =
    headOption(spark, root).getOrElse(throw new IllegalArgumentException(
      s"$root has no committed index version: its build never completed"))

  /** Rows of one of the version's side tables (driver-sized). */
  def table(spark: SparkSession, root: String, v: Version, name: String): Seq[TinyParquet.Rec] =
    TinyParquet.rows(spark, s"$root/${v.tables(name)}")

  /** The version's data rows (schema + `cell`), reading ONLY the listed
    * files of `cells` (default: every cell) — a probe passes its probed
    * cells, so its scan never opens another cell's file. */
  def read(spark: SparkSession, root: String, v: Version,
           cells: Option[Seq[Int]] = None): DataFrame = {
    val files = cells.getOrElse(v.files.keys.toSeq).sorted
      .flatMap(v.files.getOrElse(_, Nil)).map(f => s"$root/$f")
    val cols = (v.schema.fieldNames.toSeq :+ "cell").map(org.apache.spark.sql.functions.col)
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        v.schema.add("cell", IntegerType))
    else
      // the dir names under root are the partition columns (w, cell);
      // an explicit schema skips the footer-inference job
      spark.read.schema(v.schema.add("w", StringType).add("cell", IntegerType))
        .option("basePath", root).parquet(files: _*).select(cols: _*)
  }

  /** A fresh write dir (name relative to root) for one mutation. Refuses
    * filesystems the commit CAS cannot run on BEFORE anything is written
    * or even listed. */
  private def writeDir(root: String): String = {
    CommitArbiter.forPath(root)
    s"w=${java.util.UUID.randomUUID}"
  }

  /** Write `rows` (with an int `cell` column) into `dir`, one directory
    * per cell, and return the files written per cell. */
  private def writeCells(rows: DataFrame, root: String, dir: String): Map[Int, Seq[String]] = {
    val spark = rows.sparkSession
    // append: a build has already written its side tables into this
    // fresh dir, which the default mode refuses and overwrite would delete
    rows.write.mode("append").partitionBy("cell").parquet(s"$root/$dir")
    val fs = fsOf(spark, root)
    fs.listStatus(new Path(root, dir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .map { s =>
        val c = s.getPath.getName.stripPrefix("cell=").toInt
        c -> fs.listStatus(s.getPath).toSeq.map(_.getPath.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted
          .map(n => s"$dir/cell=$c/$n")
      }.toMap
  }

  /** A side table: name, [[TinyParquet]] schema, driver-sized rows. */
  type Table = (String, Seq[(String, String)], Seq[Seq[Any]])

  /** A full build published as the next version: `fit` (run after the
    * filesystem check and the head read, so a rival commit during the fit
    * makes this build lose) yields the cell rows and the side tables,
    * which land in a fresh write dir. A build starts a fresh increment
    * history unless `carryApplied` — a refit over a corpus that already
    * holds every applied increment, whose replayed last increment must
    * stay a no-op. */
  def build(spark: SparkSession, root: String, store: String,
            carryApplied: Boolean = false)(fit: => (DataFrame, Seq[Table])): Unit = {
    val dir = writeDir(root)
    val base = headOption(spark, root)
    val (rows, tables) = fit
    tables.foreach { case (name, schema, rs) =>
      TinyParquet.write(spark, s"$root/$dir/$name", schema, rs) }
    val files = writeCells(rows, root, dir)
    publish(spark, root, store, base, dir,
      Version(0L, if (carryApplied) base.fold(-1L)(_.applied) else -1L,
        StructType(rows.schema.filterNot(_.name == "cell")),
        tables.map { case (name, _, _) => name -> s"$dir/$name" }.toMap, files))
  }

  /** Copy-on-write append of increment `incrementId`: `rows(head)` (the
    * increment assigned against the head's side tables) lands in a fresh
    * write dir and the next version lists the head's files plus the new
    * ones. A replayed increment (id ≤ the head's applied id) is a no-op
    * returning false. */
  def append(spark: SparkSession, root: String, store: String, incrementId: Long)
            (rows: Version => DataFrame): Boolean = {
    val dir = writeDir(root)
    val head = this.head(spark, root)
    if (incrementId <= head.applied) false
    else {
      val added = writeCells(rows(head), root, dir)
      publish(spark, root, store, Some(head), dir, head.withCells(incrementId,
        added.map { case (c, fs) => c -> (head.files.getOrElse(c, Nil) ++ fs) }))
      true
    }
  }

  /** Copy-on-write rewrite of whole cells against `head`: `rows` (the
    * complete new contents of `cells`, with an int `cell` column) land in
    * a fresh write dir, and the next version — recording `applied` —
    * lists them in place of the head's files for those cells. A cell left
    * with no rows leaves the layout; with no cells, `rows` is never
    * evaluated and the version only records `applied`. */
  def rewrite(spark: SparkSession, root: String, store: String, head: Version,
              applied: Long, cells: Seq[Int])(rows: => DataFrame): Unit = {
    val dir = writeDir(root)
    val written = if (cells.isEmpty) Map.empty[Int, Seq[String]] else writeCells(rows, root, dir)
    publish(spark, root, store, Some(head), dir,
      head.withCells(applied, cells.map(c => c -> written.getOrElse(c, Nil)).toMap))
  }

  /** CAS `next` as the version after `base` (v=1 on an empty store). The
    * loser deletes its write dir and rethrows; the winner vacuums. */
  private def publish(spark: SparkSession, root: String, store: String,
                      base: Option[Version], dir: String, next: Version): Unit = {
    val rows =
      Seq[Seq[Any]](Seq("head", next.schema.toDDL, null, next.applied)) ++
        next.tables.values.toSeq.sorted.map(t => Seq[Any]("table", t, null, null)) ++
        next.files.toSeq.sortBy(_._1).flatMap { case (c, fs) =>
          fs.map(f => Seq[Any]("file", f, c, null)) }
    try CommittedVersions.publishRowsVersion(spark, manifests(root),
      base.map(_.number).getOrElse(0L) + 1L, store, ManifestSchema, rows)
    catch {
      case e: ConcurrentCommitException =>
        fsOf(spark, root).delete(new Path(root, dir), true)
        throw e
    }
    vacuum(spark, root)
  }

  /** Everything some committed version lists: table dirs and data files. */
  def liveRefs(spark: SparkSession, root: String): Set[String] =
    CommittedVersions.list(spark, manifests(root)).flatMap { v =>
      val ver = at(spark, root, v)
      ver.tables.values ++ ver.files.values.flatten
    }.toSet

  /** Retention, the [[TableMaintenance]] rule: drop versions beyond
    * `RetainGens` superseded ones, then everything no retained version
    * lists once older than `OrphanAgeMs` — whole `w=` dirs (a crashed or
    * superseded writer's; a younger one may be a live writer's) and the
    * cell files a rewrite or rebuild stopped listing (the physical erasure
    * of forgotten codes and retracted rows). */
  private def vacuum(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    CommittedVersions.list(spark, manifests(root)).sorted
      .dropRight(TableMaintenance.RetainGens + 1)
      .foreach(v => fs.delete(new Path(s"${manifests(root)}/v=$v"), true))
    val live = liveRefs(spark, root)
    val liveDirs = live.map(_.takeWhile(_ != '/'))
    val cutoff = System.currentTimeMillis() - TableMaintenance.OrphanAgeMs
    def old(s: org.apache.hadoop.fs.FileStatus) = s.getModificationTime < cutoff
    fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("w="))
      .foreach { w =>
        val dir = w.getPath.getName
        if (!liveDirs(dir)) { if (old(w)) fs.delete(w.getPath, true) }
        else fs.listStatus(w.getPath).toSeq
          .filter(c => c.isDirectory && c.getPath.getName.startsWith("cell="))
          .flatMap(c => fs.listStatus(c.getPath).toSeq)
          .filter(f => f.isFile && old(f) &&
            !live(s"$dir/${f.getPath.getParent.getName}/${f.getPath.getName}"))
          .foreach(f => fs.delete(f.getPath, false))
      }
    CommittedVersions.vacuumStaging(spark, manifests(root), TableMaintenance.OrphanAgeMs)
  }
}
