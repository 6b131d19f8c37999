package graft.encode

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
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

  /** The committed data files of a table dir, in path order — empty when
    * the dir is missing or holds only crash artefacts. Listed through
    * the Hadoop FileSystem, so the check holds on every store
    * filesystem, not just file://.
    */
  def dataFiles(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
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

  /** The store's snapshot signature: (path, length, mtime) of every
    * entry of `blocks/`, `lineage/`, `completed/` and `tokidx/` — the
    * four tables the live-block answer depends on — in one Hadoop-FS
    * listing per dir, so it holds on every store filesystem. graft
    * never rewrites a data file in place (every write job names fresh
    * files), so any commit, resume, index build, vacuum or re-encode
    * changes it. A missing dir lists as empty.
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

  /** An empty frame of the table's shape. */
  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Whether the parquet footer of `file` declares `column` — one
    * driver-side footer read, no Spark job. The read options come from
    * the session's Hadoop conf: `ParquetFileReader.open(file)` alone
    * builds a fresh Configuration, re-parsing the Hadoop XML defaults
    * (~20 ms) on every call.
    */
  def footerHasColumn(spark: SparkSession, file: Path, column: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf)
        .withMetadataFilter(org.apache.parquet.format.converter
          .ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .build())
    try reader.getFooter.getFileMetaData.getSchema.containsField(column)
    finally reader.close()
  }
}
