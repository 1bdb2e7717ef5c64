package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way the engine reads a parquet table by path: the fixture
  * tables of a data directory, the committed fixtures and the layouts
  * an entry writes and reads back.
  *
  * A bare `read.parquet` infers the schema with a one-task Spark job
  * every time a DataFrame is built. Here it comes from the footer of
  * the data file inference picks (the least path among the non-hidden
  * files under `path`), read on the driver, by inference's own steps:
  * the schema Spark stored there if Spark wrote the file, else Spark's
  * converter under the session's conf (so `nanosAsLong` and the NTZ
  * setting apply as they do under inference), every field nullable.
  * No job starts and nothing is cached. */
object Tables {

  /** The data columns `s.read.parquet(path)` infers (a partitioned
    * layout's partition columns come from its directory names at read
    * time, as under inference). */
  def schema(s: SparkSession, path: String): StructType = {
    val conf = s.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file = dataFiles(fs, fs.getFileStatus(p)).minByOption(_.getPath.toString)
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      SKIP_ROW_GROUPS).getFileMetaData
    val stored = Option(meta.getKeyValueMetaData.get(SparkSchemaKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }
    nullable(stored.getOrElse(
      new ParquetToSparkSchemaConverter(s.sessionState.conf).convert(meta.getSchema)))
  }

  /** The parquet table at `path` (a file or a directory of them). */
  def read(s: SparkSession, path: String): DataFrame =
    s.read.schema(schema(s, path)).parquet(path)

  /** The table `name` of the data directory `dir`. */
  def read(s: SparkSession, dir: String, name: String): DataFrame =
    read(s, s"$dir/$name.parquet")

  /** `events` with `ts` normalized, whatever vintage it stores ([[TsBridge]]). */
  def events(s: SparkSession, dir: String): DataFrame =
    TsBridge.normalize(read(s, dir, "events"))

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** A file, or a directory's leaves under Spark's file-index filter
    * (hidden and summary files out, partition directories in). */
  private def dataFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isFile) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filterNot { c =>
      val n = c.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    }.flatMap(dataFiles(fs, _))

  private def nullable(st: StructType): StructType =
    StructType(st.fields.map(f => f.copy(dataType = nullableIn(f.dataType), nullable = true)))

  private def nullableIn(t: DataType): DataType = t match {
    case st: StructType => nullable(st)
    case ArrayType(e, _) => ArrayType(nullableIn(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullableIn(k), nullableIn(v), valueContainsNull = true)
    case other => other
  }
}
