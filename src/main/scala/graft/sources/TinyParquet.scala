package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.SparkSession

/** Driver-side reader for METADATA-SIZED parquet state — generation
  * pointers (1 row), MV manifests (≤ NBuckets rows), commit-chain
  * payloads, quantizer centroid/codebook tables (k·m rows).
  *
  * Why not `spark.read.parquet(dir).collect()`: every such read is a full
  * Spark job — scheduler round-trip, file-index build, task launch — and
  * the versioned-store operators string DOZENS of them per query (round-17
  * JobProf: the store-churn queries ran 30-95 jobs each with ~70 ms of
  * fixed cost per tiny job, about half their wall time). A one-row pointer
  * read is driver work by nature; Delta reads its transaction log exactly
  * this way (LogStore streams the JSON on the driver, no job). The row
  * scale boundary is the caller's contract: everything read here must be
  * O(metadata), never O(corpus).
  *
  * Scope: the flat primitive types the stores actually persist (long, int,
  * double, boolean, string) plus `array<double>` (quantizer centroids) in
  * Spark's standard 3-level LIST layout. Anything else fails loudly —
  * widening silently would invite corpus-sized payloads through a reader
  * that holds everything on the driver. Absent optional fields read as
  * null, matching what `.collect()` surfaces. Committed-version dirs are
  * read AFTER the caller resolved `v=N` through [[CommittedVersions.list]]
  * (`_SUCCESS`-gated), so crash-consistency is unchanged. */
object TinyParquet {

  /** One decoded row; typed getters mirror Row's. `null` = SQL NULL. */
  final case class Rec(values: Map[String, Any]) {
    private def get(n: String): Any = values.getOrElse(n,
      sys.error(s"TinyParquet: no field '$n' in ${values.keys.mkString(",")}"))
    def isNull(n: String): Boolean = get(n) == null
    def long(n: String): Long = get(n) match {
      case l: Long => l
      case i: Int => i.toLong
      case x => sys.error(s"TinyParquet: field '$n' is not integral: $x")
    }
    def int(n: String): Int = get(n) match {
      case i: Int => i
      case x => sys.error(s"TinyParquet: field '$n' is not int: $x")
    }
    def string(n: String): String = get(n).asInstanceOf[String]
    def double(n: String): Double = get(n) match {
      case d: Double => d
      case x => sys.error(s"TinyParquet: field '$n' is not double: $x")
    }
    def bool(n: String): Boolean = get(n).asInstanceOf[Boolean]
    def doubles(n: String): Array[Double] = get(n) match {
      case a: Array[Double] => a
      case x => sys.error(s"TinyParquet: field '$n' is not array<double>: $x")
    }
    def has(n: String): Boolean = values.contains(n)
  }

  /** All rows of every `*.parquet` part file directly under `dir`, decoded
    * on the driver. File order is name-sorted; row order within a file is
    * file order — callers needing an order sort on a column, exactly as
    * they would after `.collect()`. */
  def rows(spark: SparkSession, dir: String): Seq[Rec] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val parts = fs.listStatus(p).toSeq
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
    parts.flatMap { st =>
      val out = Seq.newBuilder[Rec]
      // the (ReadSupport, Path) builder is deprecated in parquet-java but
      // is the only Group-reader entry point shipped in Spark's jars
      val reader: ParquetReader[Group] = {
        @annotation.nowarn("cat=deprecation")
        def build = ParquetReader.builder(new GroupReadSupport(), st.getPath)
          .withConf(conf).build()
        build
      }
      try {
        var g = reader.read()
        while (g != null) {
          out += decode(g)
          g = reader.read()
        }
      } finally reader.close()
      out.result()
    }
  }

  private def decode(g: Group): Rec = {
    val t = g.getType
    val fields = (0 until t.getFieldCount).map { i =>
      val f = t.getType(i)
      val name = f.getName
      val v: Any =
        if (g.getFieldRepetitionCount(i) == 0) null
        else if (f.isPrimitive) primitive(g, i, f.asPrimitiveType())
        else if (f.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation])
          doubleList(g.getGroup(i, 0))
        else sys.error(s"TinyParquet: unsupported group field '$name' " +
          s"(only flat primitives and array<double> are metadata-store types)")
      name -> v
    }.toMap
    Rec(fields)
  }

  private def primitive(g: Group, i: Int,
                        pt: org.apache.parquet.schema.PrimitiveType): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // Fail-loudly contract on LOGICAL types too (round-17 advisory): an
    // INT64 decimal/timestamp or INT32 date would otherwise decode as its
    // raw physical value — silently wrong. Only String-annotated BINARY
    // and the plain signed-int annotation Spark writes for int/long pass;
    // any other annotation errors at the read site.
    val ann = pt.getLogicalTypeAnnotation
    val annOk = ann == null ||
      ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] ||
      (ann match {
        case it: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          it.isSigned && (it.getBitWidth == 32 || it.getBitWidth == 64)
        case _ => false
      })
    if (!annOk) sys.error(s"TinyParquet: unsupported logical type $ann " +
      s"for field '${pt.getName}' (metadata-store types are flat " +
      "long/int/double/boolean/string and array<double> only)")
    pt.getPrimitiveTypeName match {
      case INT64 => g.getLong(i, 0)
      case INT32 => g.getInteger(i, 0)
      case DOUBLE => g.getDouble(i, 0)
      case FLOAT => g.getFloat(i, 0).toDouble
      case BOOLEAN => g.getBoolean(i, 0)
      case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        g.getString(i, 0)
      case other => sys.error(s"TinyParquet: unsupported primitive $other " +
        s"for field '${pt.getName}'")
    }
  }

  /** The WRITE half (round 18): persist METADATA-SIZED rows as one
    * parquet part file plus `_SUCCESS`, entirely on the driver — the
    * mirror of [[rows]]. Every `tinyDf.coalesce(1).write.parquet` in the
    * store protocols was a full Spark job (plan + schedule + task +
    * FileFormatWriter commit, ~90–150 ms of fixed cost), and the
    * store-churn queries string several per operation: generation-pointer
    * flips, MV manifests, quantizer centroid/codebook tables. Delta
    * writes its transaction log exactly this way (driver-side LogStore
    * put, no job). Same scale contract as [[rows]]: callers may only
    * route O(metadata) tables here, never anything corpus-sized.
    *
    * `schema` is (name, type) with type ∈ {long, int, double, boolean,
    * string, array<double>} — the exact set [[rows]] decodes; anything
    * else fails loudly. Layout matches Spark's writer (optional fields,
    * 3-level LIST with `list`/`element` names, snappy), so the files stay
    * readable by BOTH [[rows]] and `spark.read.parquet`. A null value
    * omits the field (reads back as SQL NULL). The directory is replaced
    * atomically-enough for the callers' protocols: all of them publish
    * through a staged dir + rename CAS, or write into a fresh directory
    * that only a later CAS makes reachable, so this write itself never
    * needs to be atomic. */
  def write(spark: SparkSession, dir: String,
            schema: Seq[(String, String)], rows: Seq[Seq[Any]]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA, Types => PT}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    fs.mkdirs(p)
    val builder = PT.buildMessage()
    schema.foreach { case (name, tpe) => tpe match {
      case "long"    => builder.optional(INT64).named(name)
      case "int"     => builder.optional(INT32).named(name)
      case "double"  => builder.optional(DOUBLE).named(name)
      case "boolean" => builder.optional(BOOLEAN).named(name)
      case "string"  => builder.optional(BINARY).as(LTA.stringType()).named(name)
      case "array<double>" =>
        builder.optionalGroup().as(LTA.listType())
          .repeatedGroup().optional(DOUBLE).named("element").named("list")
          .named(name)
      case other => sys.error(s"TinyParquet.write: unsupported type '$other' " +
        s"for field '$name' (metadata-store types are long/int/double/" +
        "boolean/string/array<double> only)")
    }}
    val mt = builder.named("spark_schema")
    val factory = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
    val file = new Path(p, "part-00000.parquet")
    val writer = {
      @annotation.nowarn("cat=deprecation")
      def build = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(file).withConf(conf).withType(mt)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()
      build
    }
    try {
      rows.foreach { vals =>
        require(vals.size == schema.size,
          s"TinyParquet.write: row arity ${vals.size} != schema arity ${schema.size}")
        val g = factory.newGroup()
        schema.zip(vals).foreach { case ((name, tpe), v) =>
          if (v != null) tpe match {
            case "long"    => g.add(name, v.asInstanceOf[Long])
            case "int"     => g.add(name, v.asInstanceOf[Int])
            case "double"  => g.add(name, v.asInstanceOf[Double])
            case "boolean" => g.add(name, v.asInstanceOf[Boolean])
            case "string"  => g.add(name, v.asInstanceOf[String])
            case "array<double>" =>
              val outer = g.addGroup(name)
              v.asInstanceOf[Array[Double]].foreach { d =>
                outer.addGroup("list").add("element", d)
              }
          }
        }
        writer.write(g)
      }
    } finally writer.close()
    fs.create(new Path(p, "_SUCCESS"), true).close()
    ()
  }

  /** Spark's 3-level LIST of double: outer (LIST) group holds a repeated
    * inner group whose single field is the element. */
  private def doubleList(outer: Group): Array[Double] = {
    val n = outer.getFieldRepetitionCount(0)
    val a = new Array[Double](n)
    var j = 0
    while (j < n) {
      a(j) = outer.getGroup(0, j).getDouble(0, 0)
      j += 1
    }
    a
  }
}
