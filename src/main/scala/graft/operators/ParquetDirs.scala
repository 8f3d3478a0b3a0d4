package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** Reads of the parquet datasets the index writers lay out (IVF cells and
  * centroids, BM25 postings and stats, the graph's tables), planned in the
  * driver: the listing covers only the directories a query names, and the
  * schema comes from ONE data file's footer — the Spark schema the writer
  * stores under `org.apache.spark.sql.parquet.row.metadata` — opened the
  * way [[Snapshots]] reads footers for manifest stats. Planning such a read
  * runs no Spark job: no parallel partition discovery (a 64-leaf layout
  * listed from its root is a 64-task job) and no schema-inference job. The
  * on-disk layout is the one Spark's partitioned writer produces, so an
  * index any earlier writer left keeps reading.
  */
private[graft] object ParquetDirs {

  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The data files directly under `dir`, by name; empty when it is missing. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    (try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)

  /** The Spark schema in `file`'s footer; None when Spark did not write it. */
  private def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        file, spark.sparkContext.hadoopConfiguration))
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    finally reader.close()
  }

  private def noData(dir: String) =
    new IllegalArgumentException(s"no Spark-written parquet data under $dir")

  /** The data file paths of the flat dataset at `dir`, listed in the driver.
    * Reading the files rather than `dir` spares Spark a second listing, and
    * a dataset under an underscore-named directory (`_centroids`, `_stats`)
    * is read without leaning on Spark keeping a root path its hidden-path
    * filter drops.
    */
  def files(spark: SparkSession, dir: String): Seq[String] = {
    val d = new Path(dir)
    dataFiles(d.getFileSystem(spark.sparkContext.hadoopConfiguration), d).map(_.getPath.toString)
  }

  /** A flat parquet dataset (no partition directories) at `dir`. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val d = new Path(dir)
    val parts = dataFiles(d.getFileSystem(spark.sparkContext.hadoopConfiguration), d)
    val schema = parts.headOption.flatMap(footerSchema(spark, _)).getOrElse(throw noData(dir))
    spark.read.schema(schema).parquet(parts.map(_.getPath.toString): _*)
  }

  /** The leaves `partCol=<v>` of the dataset partitioned by an integer
    * `partCol` at `base`, for the given values only, read with `basePath`
    * so `partCol` stays an INT column. A value with no directory (a cell or
    * bucket no row landed in) is skipped; when none of the values has one,
    * the result is empty with the dataset's schema, taken from any leaf.
    */
  def readPartitions(
      spark: SparkSession, base: String, partCol: String, values: Seq[Any]): DataFrame = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = values.distinct.map(v => new Path(basePath, s"$partCol=$v")).filter(fs.exists)
    def anyLeaf: Iterator[Path] =
      (try fs.listStatus(basePath).iterator
      catch { case _: java.io.FileNotFoundException => Iterator.empty })
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
        .map(_.getPath)
    val data = (leaves.iterator ++ anyLeaf)
      .flatMap(dataFiles(fs, _).headOption).flatMap(footerSchema(spark, _)).nextOption()
      .getOrElse(throw noData(base))
    val schema = data.add(partCol, IntegerType)
    if (leaves.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).option("basePath", base).parquet(leaves.map(_.toString): _*)
  }
}
