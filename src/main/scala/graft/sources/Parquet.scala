package graft.sources

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.GraftExtensions
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Footer-typed parquet reads: every engine read of a parquet path goes
  * through [[read]], which declares the schema Spark would infer instead of
  * letting Spark infer it. Spark's inference reads one footer when
  * `mergeSchema` is off, but it reads it inside a one-task Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`); at lifecycle scale each
  * such job costs ~25–80 ms, and graft re-reads its sources on every run.
  * Here the same footer is read on the driver, with no job:
  *
  *   - the footer is the one inference picks (`ParquetUtils.inferSchema`):
  *     `_common_metadata`, else `_metadata`, else the first data file by
  *     sorted path, under Spark's hidden-name rule (names starting with `_`
  *     or `.`, except `k=v` directories and the two summary files). Summary
  *     files are looked for at the root, where Parquet's committer writes
  *     them; the first data file is found by descending only the first
  *     non-empty branch, so a read costs a few directory listings, not a
  *     second recursive listing beside Spark's own;
  *   - it is read with `SKIP_ROW_GROUPS` and converted by Spark's
  *     `ParquetFileFormat.readSchemaFromFooter` (Spark's row-metadata
  *     schema first) with the converter flags inference uses, so
  *     `nanosAsLong`, INT96 and NTZ inference behave exactly as in
  *     `spark.read.parquet`;
  *   - the result is `spark.read.schema(s).parquet(path)`: Spark still
  *     lists the files and infers partition columns from the listing.
  *
  * The read goes to `spark.read.parquet` unchanged, errors included, for a
  * glob path, `spark.sql.parquet.mergeSchema` on, a missing path, a file
  * stream sink's output (`_spark_metadata`), no data file, a footer that
  * cannot be read, and a data column named like a partition directory
  * (Spark orders and types such a column differently under a declared
  * schema). [[read]] takes no reader options, so the session conf is the
  * only `mergeSchema` switch.
  */
object Parquet {

  /** `nanosAsLong` types TIMESTAMP(NANOS) columns as longs, as
    * `spark.sql.legacy.parquet.nanosAsLong` does, for this read's schema
    * only: the session conf is left as it was. The first read on a session
    * installs graft's planner strategies on it ([[GraftExtensions.install]]).
    */
  def read(spark: SparkSession, path: String, nanosAsLong: Boolean = false): DataFrame = {
    GraftExtensions.install(spark)
    footerSchema(spark, path, nanosAsLong) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => withNanosAsLong(spark, nanosAsLong)(spark.read.parquet(path))
    }
  }

  /** Runs Spark's own inference with the session's nanosAsLong on, and
    * puts the conf back as it was.
    */
  private def withNanosAsLong[T](spark: SparkSession, on: Boolean)(body: => T): T = {
    val key = SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key
    if (!on || spark.sessionState.conf.legacyParquetNanosAsLong) body
    else {
      val prior = spark.conf.getAll.get(key)
      spark.conf.set(key, "true")
      try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  /** The data schema `spark.read.parquet(path)` would infer, read from one
    * footer on the driver — or None where [[read]] hands the read to Spark.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String,
      nanosAsLong: Boolean = false): Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (path.exists("{}[]*?\\".contains(_)) || sqlConf.isParquetSchemaMergingEnabled) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      Try(fs.getFileStatus(root)).toOption
        .flatMap { st =>
          if (st.isDirectory) footerUnder(fs, st.getPath)
          else Option.when(!hidden(st.getPath.getName))(Nil -> st)
        }
        .flatMap { case (partitionKeys, footer) =>
          Try(schemaOf(footer, conf, sqlConf, nanosAsLong)).toOption
            .filterNot(s => partitionKeys.exists(k => s.fieldNames.exists(sqlConf.resolver(_, k))))
        }
    }
  }

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`). */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !(name.startsWith("_common_metadata") || name.startsWith("_metadata"))

  private def summary(name: String): Boolean =
    name == "_common_metadata" || name == "_metadata"

  /** The footer inference reads under directory `root`, with the keys of
    * the `k=v` directories on its branch.
    */
  private def footerUnder(fs: FileSystem, root: Path): Option[(Seq[String], FileStatus)] = {
    val entries = fs.listStatus(root)
    def named(n: String) = entries.find(e => e.isFile && e.getPath.getName == n)
    if (entries.exists(_.getPath.getName == "_spark_metadata")) None
    else named("_common_metadata").orElse(named("_metadata")).map(Nil -> _)
      .orElse(firstDataFile(fs, entries, Nil))
  }

  /** The first data file by full sorted path among `entries` and their
    * descendants. Sorting names with a `/` appended to directories orders
    * them as their descendants' full paths sort, so only the branch that
    * holds the first file is listed (and any empty branches before it).
    */
  private def firstDataFile(fs: FileSystem, entries: Array[FileStatus],
      keys: Seq[String]): Option[(Seq[String], FileStatus)] =
    entries.filterNot(e => hidden(e.getPath.getName))
      .sortBy(e => if (e.isDirectory) e.getPath.getName + "/" else e.getPath.getName)
      .iterator.flatMap { e =>
        val name = e.getPath.getName
        if (e.isDirectory) {
          val key = name.indexOf('=')
          firstDataFile(fs, fs.listStatus(e.getPath),
            if (key > 0) keys :+ name.take(key) else keys)
        } else if (summary(name)) None
        else Some(keys -> e)
      }.nextOption()

  private def schemaOf(file: FileStatus, conf: Configuration, c: SQLConf,
      nanosAsLong: Boolean): StructType = {
    val options = HadoopReadOptions.builder(conf, file.getPath)
      .withMetadataFilter(SKIP_ROW_GROUPS).build()
    val footer = scala.util.Using.resource(
      ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), options))(_.getFooter)
    // the flags inference passes (ParquetFileFormat.mergeSchemasInParallel);
    // the SQLConf constructor would also take caseSensitive, field ids and
    // ignoreVariantAnnotation from the session, which inference leaves at
    // their defaults
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = nanosAsLong || c.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }
}
