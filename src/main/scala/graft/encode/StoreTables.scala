package graft.encode

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructType}
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
  * dir whose only entries are `_temporary` (a killed write job),
  * `_SUCCESS` or checksum files holds no committed data.
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
