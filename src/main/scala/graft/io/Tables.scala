package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * One parquet table per name under `sfDir`: a single file, or a
  * Spark-written directory of part files. The schema is read from one
  * parquet footer on the driver and handed to
  * `spark.read.schema(...).parquet`, so resolving a table starts no
  * Spark job (plain `spark.read.parquet` infers the schema with a
  * one-task job per call). The scan is the same: column pruning and
  * predicate pushdown still reach the parquet reader (verify with
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`).
  *
  * The session must be built through `GraftSession.configure`: its
  * `spark.sql.legacy.parquet.nanosAsLong=true` is what lets the
  * footer conversion and the reader accept TIMESTAMP(NANOS) columns.
  * `Tables` never writes the caller's session conf.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    // vectorized reader rejects — read nanos as long and truncate) and
    // as plain TIMESTAMP(MICROS) without isAdjustedToUTC (which Spark
    // infers as TIMESTAMP_NTZ). Normalize every variant to session-TZ
    // TimestampType at microsecond precision — the session TZ is UTC
    // (GraftSession), so wall-clock values match what DuckDB reads
    // from the same file in every case.
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType => // legacy nanos-as-long: truncate to micros
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => // naive micros: relabel as UTC instant
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  /** The schema Spark's parquet inference would give `path`, read on
    * the driver from one footer: the file itself, or the first data
    * file of a directory (names starting with `_` or `.` are Spark's
    * metadata and checksum files). The conversion is the one the
    * inference applies, so the Spark row-metadata key of a
    * Spark-written file wins over the parquet types.
    */
  private[io] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status =
      try fs.getFileStatus(root)
      catch { case _: FileNotFoundException =>
        throw new AnalysisException("PATH_NOT_FOUND",
          Map("path" -> fs.makeQualified(root).toString))
      }
    val file =
      if (status.isFile) status
      else fs.listStatus(root)
        .filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .minByOption(_.getPath.getName)
        .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
          Map("format" -> "Parquet")))
    // only the schema and key-value metadata are needed; with the
    // Hadoop read options an open measured ~0.3 ms, with the plain
    // `open(file)` defaults ~10 ms (65 KB file, 4-core VM)
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Register every table as a temp view so the SQL surface
    * (`spark.sql`) mirrors what the DuckDB oracle sees.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}
