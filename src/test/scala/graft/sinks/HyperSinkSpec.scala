package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

import graft.SparkSpec

class HyperSinkSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(path: String): Seq[Byte] =
    Files.readAllBytes(Paths.get(path)).toSeq

  /** `rows` ids through a UDF that counts its evaluations. */
  private def counted(rows: Int): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator
    val bump = udf { (id: Long) => evals.add(1); id }.asNondeterministic()
    (spark.range(0, rows, 1, 2).select(bump(col("id")).as("id")), evals)
  }

  test("HyperEquivalentSink executes each table's plan once") {
    val (t1, e1) = counted(10)
    val (t2, e2) = counted(7)
    val path = Files.createTempDirectory("hyper-sink").resolve("out.hyper").toString
    new HyperEquivalentSink().write(path, Seq("t1" -> t1, "t2" -> t2))
    assert(e1.value == 10L && e2.value == 7L,
      s"evaluations: ${e1.value}, ${e2.value} (a second execution doubles them)")
    assert(HyperBinary.read(s"$path/extract.hyper").map(t => t._1 -> t._3.length).toSeq ==
      Seq("t1" -> 10, "t2" -> 7))
  }

  test("every mapped type reads back from parquet into the same extract bytes") {
    val ts = java.sql.Timestamp.valueOf("2024-03-05 07:08:09.123456")
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("by", ByteType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("b", BooleanType),
      StructField("t", TimestampType), StructField("dt", DateType),
      StructField("dec", DecimalType(18, 2), nullable = false)))
    val rows = Seq(
      Row("héllo ~%{}", 1, 2.toShort, 3.toByte, 10000000000L, 2.5, 1.25f, true, ts,
        java.sql.Date.valueOf("2024-03-05"), new java.math.BigDecimal("12345.67")),
      Row(null, null, null, null, null, null, null, null, null, null,
        new java.math.BigDecimal("0.00")),
      Row("", 0, -1.toShort, -1.toByte, -1L, -0.0, -0.5f, false, ts,
        java.sql.Date.valueOf("1969-12-31"), new java.math.BigDecimal("-0.01")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val empty = df.limit(0)
    val dir = Files.createTempDirectory("hyper-sink-types")
    for (compat <- Seq(false, true)) {
      val sinkPath = dir.resolve(s"sink-$compat.hyper").toString
      val direct = dir.resolve(s"direct-$compat.hyper").toString
      new HyperEquivalentSink(compat).write(sinkPath, Seq("all" -> df, "none" -> empty))
      HyperBinary.write(direct, Seq("all" -> df, "none" -> empty), compat)
      assert(bytes(s"$sinkPath/extract.hyper") == bytes(direct), s"compatInt32=$compat")
    }
    // catalog.json keeps the original nullability, which parquet drops
    val catalog = new String(Files.readAllBytes(dir.resolve("sink-false.hyper/catalog.json")))
    assert(catalog.contains(""""name":"dec","type":"NUMERIC(18,2)","nullable":false"""))
  }

  test("zero tables still write a readable catalog and extract") {
    val path = Files.createTempDirectory("hyper-sink-empty").resolve("e.hyper").toString
    new HyperEquivalentSink().write(path, Seq.empty)
    assert(new String(Files.readAllBytes(Paths.get(path, "catalog.json"))) ==
      """{"format":"hyper-equivalent","tables":[]}""")
    assert(HyperBinary.read(s"$path/extract.hyper").isEmpty)
    assert(HyperBinary.catalogJsons(s"$path/extract.hyper").length == 2)
  }

  test("over-cap tables: the first in input order raises the unchanged message") {
    val small = Seq(("k", 7)).toDF("name", "n")
    val big = spark.range(0, 50).toDF()
    val path = Files.createTempDirectory("hyper-sink-cap").resolve("cap.hyper").toString
    val err = intercept[IllegalArgumentException] {
      HyperBinary.write(path, Seq("ok" -> small, "big1" -> big, "big2" -> big), maxRows = 49)
    }
    assert(err.getMessage ==
      "HyperBinary: table 'big1' exceeds the 49-row export cap; this sink " +
        "materializes extracts on the driver — for large results write " +
        "parquet (or raise maxRows deliberately)")
    assert(err.getSuppressed.map(_.getMessage).toSeq.exists(_.contains("'big2'")))
    assert(!Files.exists(Paths.get(path)), "nothing is written when a table is refused")
  }
}
