package graft.encode

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, LongType,
  StringType, StructType}
import graft.model.{EncodedBlock, LineageRecord}

/** The token store's four parquet tables and their FIXED schemas — the
  * ONE place the store format is spelled out. graft writes every one
  * of these tables, so its readers never infer a schema: an inferring
  * `spark.read.parquet` launches a footer-reading Spark job per call,
  * and the committed-block path reads four tables on every decode and
  * search.
  *
  * Columns absent from an older file (the zone map and doc-id bloom
  * predate their columns in legacy stores) read as NULL under the
  * fixed schema — exactly the "no pruning" convention every consumer
  * already honours (zone predicates keep null rows, a null bloom may
  * contain anything, the decode boundary coalesces to the sentinels).
  *
  * Crash artefacts are told apart by LISTING, not by a failed read: a
  * dir whose only entries are `_temporary` (a killed write job), a
  * `.`-prefixed temporary file (a killed [[writeFile]]), `_SUCCESS` or
  * checksum files holds no committed data.
  */
private[graft] object StoreTables {

  val Blocks: StructType = Encoders.product[EncodedBlock].schema
  val Lineage: StructType = Encoders.product[LineageRecord].schema
  val Completed: StructType = new StructType()
    .add("partId", IntegerType).add("runId", StringType)
  val TokIdx: StructType = new StructType()
    .add("blockId", StringType).add("n_distinct", IntegerType)
    .add("bloomEnc", BinaryType)

  /** Schema-fixed read: no inference job, missing columns read null. A
    * missing dir still fails at resolution, as an inferring read did.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** `path` on its Hadoop FileSystem, under `spark`'s Hadoop conf. The
    * store paths outside the parquet tables (plan.json, the fresh-dir
    * check, vacuum's swap, dir removal, the batch-dir listing) resolve
    * here, so they hold on every filesystem the tables do, `file:` URIs
    * included. A lookup in the FileSystem cache: no Spark job.
    */
  def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** [[resolve]] under the active session (else the default one), for
    * the calls whose signature carries no session: `loadPlan`,
    * `savePlan` and the fresh-dir check.
    */
  def resolve(path: String): (FileSystem, Path) = resolve(SparkSession.active, path)

  /** The committed data files of a table dir, in path order — empty when
    * the dir is missing or holds only crash artefacts. Listed through
    * the Hadoop FileSystem, so the check holds on every store
    * filesystem, not just file://.
    */
  def dataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val (fs, p) = resolve(spark, path)
    if (!fs.isDirectory(p)) Seq.empty
    else fs.listStatus(p).iterator
      .filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath).toSeq.sortBy(_.toString)
  }

  /** Commits `rows` (each fitting `schema`, in its field order) to the
    * table dir `dir` as ONE parquet file written from the driver — no
    * Spark job. The file is written through the Hadoop FileSystem under
    * a `.`-prefixed temporary name, which Spark's file index and
    * [[dataFiles]] both skip, then renamed into place: readers see all
    * of the rows or none, and a killed write leaves only a hidden
    * leftover. The parquet schema comes from Spark's own converter and
    * the footer carries Spark's row-metadata key, so fixed-schema and
    * inferring reads see exactly what a Spark write of `schema`
    * produces. Columns are the flat types of `lineage/` and
    * `completed/`; anything else is refused.
    */
  def writeFile(spark: SparkSession, dir: String, schema: StructType,
                rows: Iterable[Row]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parquetType = new SparkToParquetSchemaConverter(spark.sessionState.conf)
      .convert(schema)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"
    val dst = new Path(dir, name)
    val tmp = new Path(dir, s".$name.tmp")
    val fs = dst.getFileSystem(conf)
    fs.mkdirs(dst.getParent)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(parquetType)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Map.of(
        "org.apache.spark.sql.parquet.row.metadata", schema.json))
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(parquetType)
      var i = 0
      while (i < schema.length) {
        if (!r.isNullAt(i)) schema(i).dataType match {
          case IntegerType => g.add(i, r.getInt(i))
          case LongType => g.add(i, r.getLong(i))
          case DoubleType => g.add(i, r.getDouble(i))
          case StringType => g.add(i, r.getString(i))
          case t => throw new IllegalArgumentException(
            s"writeFile: unsupported column ${schema(i).name}: $t")
        }
        i += 1
      }
      writer.write(g)
    } finally writer.close()
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"cannot rename $tmp to $dst")
  }

  /** The `columns` (flat columns of `schema`) of the committed rows of
    * the table dir `dir`, at most `limit` of them — read on the driver
    * through parquet-mr, no Spark job: the read twin of [[writeFile]].
    * The files are [[dataFiles]]' (crash artefacts skipped), in its
    * order, opened through the Hadoop FileSystem with the session's
    * Hadoop conf, so the read holds on every store filesystem; only the
    * requested columns are decoded, and one a file lacks reads null, as
    * under the fixed-schema [[read]].
    */
  def readRows(spark: SparkSession, dir: String, schema: StructType,
               columns: Seq[String], limit: Int = Int.MaxValue): IndexedSeq[Row] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fields = columns.map(schema(_))
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    val files = dataFiles(spark, dir).iterator
    while (out.length < limit && files.hasNext) {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(files.next(), conf),
        HadoopReadOptions.builder(conf).build())
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        val present = fields.filter(f => fileSchema.containsField(f.name))
        val projection = new MessageType(fileSchema.getName,
          present.map(f => fileSchema.getType(fileSchema.getFieldIndex(f.name))).asJava)
        // each requested column's index in the projection, -1 when absent
        val at = fields.map(f => present.indexWhere(_.name == f.name))
        def value(g: Group, i: Int): Any = {
          val j = at(i)
          if (j < 0 || g == null || g.getFieldRepetitionCount(j) == 0) null
          else fields(i).dataType match {
            case IntegerType => g.getInteger(j, 0)
            case LongType => g.getLong(j, 0)
            case DoubleType => g.getDouble(j, 0)
            case StringType => g.getString(j, 0)
            case t => throw new IllegalArgumentException(
              s"readRows: unsupported column ${fields(i).name}: $t")
          }
        }
        if (present.isEmpty) {
          // none of the columns is in this file: its rows read all-null
          val n = math.min(reader.getRecordCount, (limit - out.length).toLong).toInt
          out ++= Iterator.fill(n)(Row.fromSeq(fields.indices.map(value(null, _))))
        } else {
          reader.setRequestedSchema(projection)
          val io = new ColumnIOFactory().getColumnIO(projection, fileSchema)
          var pages = reader.readNextRowGroup()
          while (pages != null && out.length < limit) {
            val records = io.getRecordReader(pages, new GroupRecordConverter(projection))
            var left = math.min(pages.getRowCount, (limit - out.length).toLong)
            while (left > 0) {
              val g = records.read()
              out += Row.fromSeq(fields.indices.map(value(g, _)))
              left -= 1
            }
            pages = reader.readNextRowGroup()
          }
        }
      } finally reader.close()
    }
    out.toIndexedSeq
  }

  /** The store's snapshot signature: (path, length, mtime) of every
    * entry of `blocks/`, `lineage/`, `completed/` and `tokidx/` — the
    * four tables the live-block answer and its protocol checks read —
    * in one Hadoop-FS listing per dir, so it holds on every store
    * filesystem. graft never rewrites a data file in place (every write
    * job names fresh files), so any commit, resume, index build, vacuum
    * or re-encode changes it. A missing dir lists as empty.
    */
  def signature(spark: SparkSession, outDir: String): Seq[(String, Long, Long)] = {
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("blocks", "lineage", "completed", "tokidx").flatMap { t =>
      val entries =
        try fs.listStatus(new Path(root, t)).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      entries.map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
        .sortBy(_._1)
    }
  }

  /** [[read]] when the table has committed data; None reads as
    * "nothing committed".
    */
  def readCommitted(spark: SparkSession, path: String,
                    schema: StructType): Option[DataFrame] =
    if (dataFiles(spark, path).isEmpty) None else Some(read(spark, path, schema))

  /** Whether the parquet footer of `file` declares `column` — one
    * driver-side footer read, no Spark job. The read options come from
    * the session's Hadoop conf: `ParquetFileReader.open(file)` alone
    * builds a fresh Configuration, re-parsing the Hadoop XML defaults
    * (~20 ms) on every call.
    */
  def footerHasColumn(spark: SparkSession, file: Path, column: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .build())
    try reader.getFooter.getFileMetaData.getSchema.containsField(column)
    finally reader.close()
  }
}
