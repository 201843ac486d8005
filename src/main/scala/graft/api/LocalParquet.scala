package graft.api

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** DRIVER-SIDE reader for the engine's SMALL parquet artifacts — sidecars
  * (one-row `__mf` / `__fp` / `__mmf` commit markers, the catalog-stats
  * table), trained-model frames (k×dim rows), and Bloom rows.
  *
  * Every warm artifact serve used to read its sidecar through
  * `spark.read.parquet(...).collect()` — a full Spark job (scan task +
  * scheduling + AQE bookkeeping, ~0.06–0.1 s of driver latency) to fetch
  * ONE row that [[IndexArtifacts.parquetRowCount]] already proved can be
  * had from the parquet API directly. At 24 bench phases × 1–3 sidecar/
  * model reads each, those jobs were the largest fixed cost of the warm
  * phase sweep (VERDICT r18 #3). This reads the same bytes through
  * parquet-hadoop's Group API on the driver: no job, no task, no plan.
  *
  * Scale posture: callers hand this ONLY driver-bounded state — the same
  * rows they previously `collect()`ed. The artifact data files themselves
  * stay distributed reads.
  *
  * Type coverage is exactly the artifact vocabulary (string, long, int,
  * double, boolean, binary, array<primitive>, nested struct of those);
  * anything else returns None and the caller falls back to the Spark
  * read — behaviour, not just results, is unchanged on the fallback.
  */
object LocalParquet {

  /** All rows of the (small) parquet file/directory at `path`, read on
    * the driver. None on any non-fatal failure — absent path, unsupported
    * type, I/O error, a corrupt file — so call sites keep their Spark-read
    * fallback semantics. Fatal errors (out of memory, linkage) propagate.
    */
  def readRows(s: SparkSession, path: String): Option[(StructType, Seq[Row])] =
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val st0 = fs.getFileStatus(p)
      val files =
        (if (st0.isFile) Array(st0)
         else fs.listStatus(p).filter(st => st.isFile && {
           val n = st.getPath.getName
           !n.startsWith("_") && !n.startsWith(".")
         }).sortBy(_.getPath.getName))
      if (files.isEmpty) return None
      var schema: StructType = null
      val out = Seq.newBuilder[Row]
      files.foreach { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val msg = reader.getFooter.getFileMetaData.getSchema
          // allNullable: Spark's file relations mark every parquet field
          // nullable regardless of the footer's required/optional flags —
          // the converted schema must match, or a model frame re-created
          // through createDataFrame would plan with DIFFERENT nullability
          // than the Spark-read path it replaces
          val sparkSchema = allNullable(
            new org.apache.spark.sql.execution.datasources.parquet
              .ParquetToSparkSchemaConverter().convert(msg))
          if (schema == null) schema = sparkSchema
          // every artifact this serves is written by one job — a schema
          // drift across files means it is NOT one of ours: bail out
          else if (schema != sparkSchema) return None
          val columnIO = new org.apache.parquet.io.ColumnIOFactory()
            .getColumnIO(msg)
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val rr = columnIO.getRecordReader(pages,
              new org.apache.parquet.example.data.simple.convert
                .GroupRecordConverter(msg))
            var i = 0L
            val n = pages.getRowCount
            while (i < n) {
              out += groupToRow(rr.read(), sparkSchema)
              i += 1
            }
            pages = reader.readNextRowGroup()
          }
        } finally reader.close()
      }
      Some((schema, out.result()))
    } catch { case NonFatal(_) => None }

  private def allNullable(st: StructType): StructType =
    StructType(st.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(dt: DataType): DataType = dt match {
    case st: StructType => allNullable(st)
    case at: ArrayType =>
      ArrayType(nullableType(at.elementType), containsNull = true)
    case other => other
  }

  private def groupToRow(g: org.apache.parquet.example.data.Group,
                         schema: StructType): Row =
    // schema-carrying rows: call sites address fields by NAME
    // (row.getAs[String]("tag")) exactly as they did on collect()ed rows
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      schema.fields.zipWithIndex.map { case (f, i) =>
        if (g.getFieldRepetitionCount(i) == 0) null
        else fieldValue(g, i, f.dataType)
      }.toArray, schema)

  private def fieldValue(g: org.apache.parquet.example.data.Group,
                         i: Int, dt: DataType): Any = dt match {
    case LongType => g.getLong(i, 0)
    case IntegerType => g.getInteger(i, 0)
    case DoubleType => g.getDouble(i, 0)
    case FloatType => g.getFloat(i, 0)
    case BooleanType => g.getBoolean(i, 0)
    case StringType => g.getString(i, 0)
    case BinaryType => g.getBinary(i, 0).getBytes
    case at: ArrayType =>
      // Spark's standard (non-legacy) list layout: optional group name
      // (LIST) { repeated group list { <element> element } }
      val outer = g.getGroup(i, 0)
      val n = outer.getFieldRepetitionCount(0)
      (0 until n).map { j =>
        val el = outer.getGroup(0, j)
        if (el.getFieldRepetitionCount(0) == 0) null
        else fieldValue(el, 0, at.elementType)
      }
    case st: StructType => groupToRow(g.getGroup(i, 0), st)
    case other =>
      throw new UnsupportedOperationException(s"LocalParquet: $other")
  }
}
