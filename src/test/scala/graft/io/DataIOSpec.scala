package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class DataIOSpec extends SparkSpec {
  import spark.implicits._

  private val tmp = Files.createTempDirectory("graft-io").toString

  private def df = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "a", "z"))
    .toDF("id", "dt", "v")

  test("format dispatch round-trips parquet, orc, json, csv, xml") {
    for (fmt <- Seq("parquet", "orc", "json", "csv", "xml")) {
      val path = s"$tmp/rt_$fmt"
      val opts = fmt match {
        case "csv" => Map("header" -> "true")
        case "xml" => Map("rowTag" -> "row", "rootTag" -> "rows")
        case _ => Map.empty[String, String]
      }
      DataIO.write(df, fmt, path, options = opts)
      val back = DataIO.read(spark, fmt, path, options = opts)
        .select(col("id").cast("long"), col("dt"), col("v"))
        .as[(Long, String, String)].collect().sortBy(_._1)
      assert(back.toSeq == Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "a", "z")),
        s"round-trip failed for $fmt")
    }
  }

  test("rejects unknown formats") {
    intercept[IllegalArgumentException] {
      DataIO.read(spark, "avro", s"$tmp/nope")
    }
  }

  test("partitioned write + basePath glob read keeps partition column") {
    val path = s"$tmp/part"
    DataIO.write(df, "parquet", path, partitionBy = Seq("dt"))
    val all = DataIO.readPartitioned(spark, path, s"$path/dt=*")
    assert(all.columns.toSet == Set("id", "v", "dt"))
    val onlyA = DataIO.readPartitioned(spark, path, s"$path/dt=a")
      .select("id").as[Long].collect().sorted
    assert(onlyA.toSeq == Seq(1L, 3L))
  }

  test("coalesceTo controls output file count") {
    val path = s"$tmp/single"
    DataIO.write(df.repartition(3), "parquet", path, coalesceTo = Some(1))
    val files = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1)
  }

  test("readDelimited projects columns by position") {
    val path = s"$tmp/delim"
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(s"$path/data.txt"),
      "1alice30\n2bob40\n")
    val out = DataIO.readDelimited(spark, path, "",
      Seq("id", "name", "age"))
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("1", "alice", "30"), ("2", "bob", "40")))
  }

  test("readWholeText returns one row per file") {
    val path = s"$tmp/whole"
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(s"$path/a.txt"), "line1\nline2")
    Files.writeString(Paths.get(s"$path/b.txt"), "solo")
    val rows = DataIO.readWholeText(spark, path).as[String].collect().toSet
    assert(rows == Set("line1\nline2", "solo"))
  }

  test("doc-store JSONL round trip with explicit schema, append mode") {
    val path = s"$tmp/docstore"
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    DataIO.writeDocStore(Seq((1L, "alpha")).toDF("doc_id", "text"), path)
    DataIO.writeDocStore(Seq((2L, "beta")).toDF("doc_id", "text"), path)
    val back = DataIO.readDocStore(spark, path, schema)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == Seq((1L, "alpha"), (2L, "beta")))
  }

  test("libsvm round trip with explicit numFeatures") {
    val path = s"$tmp/libsvm"
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(s"$path/data.txt"),
      "1.0 1:2.0 3:4.0\n0.0 2:1.5\n")
    val back = DataIO.readLibsvm(spark, path, numFeatures = 5)
    assert(back.columns.toSet == Set("label", "features"))
    val rows = back.orderBy(desc("label")).collect()
    assert(rows(0).getDouble(0) == 1.0)
    assert(rows(0).getAs[org.apache.spark.ml.linalg.Vector]("features")
      .size == 5)
  }

  test("overwrite vs append modes") {
    val path = s"$tmp/modes"
    DataIO.write(df, "parquet", path)
    DataIO.write(df, "parquet", path, mode = SaveMode.Append)
    assert(DataIO.read(spark, "parquet", path).count() == 6)
    DataIO.write(df, "parquet", path) // overwrite resets
    assert(DataIO.read(spark, "parquet", path).count() == 3)
  }

  // events.parquet directories written by Spark in the three ts
  // physical shapes the driver has shipped across rounds
  // (TIMESTAMP(NANOS) read as long under nanosAsLong; plain
  // TIMESTAMP(MICROS) inferred as TIMESTAMP_NTZ; zoned micros) — r8
  // silently lost 10 queries to a switch between them
  private val micros = 1700000000123456L // 2023-11-14T22:13:20.123456Z
  private lazy val eventsDirs: Seq[String] = {
    def writeEvents(dir: String, frame: org.apache.spark.sql.DataFrame)
        : String = {
      frame.write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    Seq(
      writeEvents(s"$tmp/ev_nanos",
        Seq((1L, micros * 1000L)).toDF("event_id", "ts")),
      writeEvents(s"$tmp/ev_ntz", Seq((1L, micros)).toDF("event_id", "us")
        .select(col("event_id"),
          expr("timestamp_micros(us)").cast(TimestampNTZType).as("ts"))),
      writeEvents(s"$tmp/ev_tz", Seq((1L, micros)).toDF("event_id", "us")
        .select(col("event_id"), expr("timestamp_micros(us)").as("ts"))))
  }

  test("Tables.table normalizes every events.ts physical variant to " +
      "UTC TimestampType") {
    for (dir <- eventsDirs) {
      val out = Tables.table(spark, dir, "events")
      assert(out.schema("ts").dataType == TimestampType, dir)
      assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros,
        dir)
    }
  }

  test("Tables.table starts no Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val dirs = eventsDirs // written before the count starts
    org.apache.spark.GraftListenerDrain.drain(sc)
    sc.addSparkListener(counter)
    try {
      Tables.table(spark, "perfbench/data/sf0.01", "orders")
      dirs.foreach(Tables.table(spark, _, "events"))
      org.apache.spark.GraftListenerDrain.drain(sc)
    } finally sc.removeSparkListener(counter)
    assert(jobs.get() == 0)
  }

  test("Tables.table reads the schema Spark's parquet inference gives") {
    // single pyarrow-written files, copied from the benchmark tables
    val single = s"$tmp/pyarrow"
    Files.createDirectories(Paths.get(single))
    for (n <- Seq("orders", "embeddings")) {
      Files.copy(Paths.get(s"perfbench/data/sf0.01/$n.parquet"),
        Paths.get(s"$single/$n.parquet"))
      assert(Tables.table(spark, single, n).schema ==
        spark.read.parquet(s"$single/$n.parquet").schema, n)
    }
    // Spark-written directories: the read Tables.table makes, before
    // the events.ts normalization
    for (dir <- eventsDirs) {
      val path = s"$dir/events.parquet"
      assert(spark.read.schema(Tables.footerSchema(spark, path))
        .parquet(path).schema == spark.read.parquet(path).schema, dir)
    }
  }

  test("Tables.table fails at the call on a missing table") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.table(spark, s"$tmp/nowhere", "orders"))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }
}
