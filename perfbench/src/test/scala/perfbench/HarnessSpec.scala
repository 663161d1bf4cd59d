package perfbench

import java.nio.file.{Files, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("perfbench-test")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def workloads: Map[String, Seq[String]] = {
    val root = new ObjectMapper().readTree(Paths.get("workloads.json").toFile)
    root.fields().asScala.map { e =>
      e.getKey -> e.getValue.get("rows").elements().asScala.map(_.asText).toSeq
    }.toMap
  }

  test("quantiles interpolate between closest ranks like numpy") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.quantile(xs, 0.5) == 5.5)
    assert(Stats.quantile(xs, 0.75) == 7.75)
    assert(Stats.quantile(Seq(3.0), 0.75) == 3.0)
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.0) == 1.0)
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 1.0) == 4.0)
    assert(Stats.ranksAbove(40, 0.75) == 10)
    assert(Stats.ranksAbove(41, 0.75) == 10)
    assert(Stats.ranksAbove(5, 0.5) == 2)
  }

  test(s"every workload has at least ${Stats.MinRows} distinct, registered rows") {
    val known = graft.SparkEntry.queries.keySet
    assert(workloads.size >= 2)
    workloads.foreach { case (w, rows) =>
      assert(rows.size >= Stats.MinRows, w)
      assert(rows.distinct.size == rows.size, w)
      assert(rows.forall(known), w)
      assert(Stats.ranksAbove(rows.size, 0.75) >= Stats.MinRows / 4, w)
    }
  }

  test("self time is the span minus the union of its overlapping child jobs") {
    assert(Stats.selfTime((0, 10), Nil) == 10)
    // [1,3] and [2,5] overlap (4 covered), [8,12] is clipped to [8,10],
    // [-2,-1] lies outside the span
    assert(Stats.selfTime((0, 10), Seq((1, 3), (2, 5), (8, 12), (-2, -1))) == 4)
    assert(Stats.selfTime((0, 10), Seq((2, 4), (2, 4), (3, 4))) == 8)
    assert(Stats.selfTime((0, 10), Seq((-5, 20))) == 0)
  }

  test("the same seed always gives the same row order") {
    val rows = (1 to 40).map(i => s"row_$i")
    val a = Stats.order(rows, 7)
    assert(a == Stats.order(rows, 7))
    assert(a.sorted == rows.sorted)
    assert(a != rows)
    assert(Stats.order(rows, 8) != a)
    // java.util.Random's sequence is specified, so the order is too
    assert(Stats.order(Seq("a", "b", "c", "d", "e"), 1) == Seq("c", "d", "b", "e", "a"))
  }

  test("the timed pass refuses the warm-up directory") {
    val d = Files.createTempDirectory("perfbench-dirs")
    val other = Files.createTempDirectory("perfbench-dirs")
    val link = d.resolveSibling(d.getFileName.toString + "-link")
    Files.createSymbolicLink(link, d)
    try {
      intercept[IllegalArgumentException](Harness.checkDistinctDirs(d.toString, d.toString))
      intercept[IllegalArgumentException](
        Harness.checkDistinctDirs(d.toString, s"$d/../${d.getFileName}/."))
      intercept[IllegalArgumentException](Harness.checkDistinctDirs(d.toString, link.toString))
      Harness.checkDistinctDirs(d.toString, other.toString)
    } finally Seq(link, d, other).foreach(Files.deleteIfExists)
  }

  test("the fingerprint is the same across 1, 4 and 16 partitions") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("dec", DecimalType(12, 2)),
      StructField("ts", TimestampType), StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType)))),
      StructField("b", BinaryType)))
    val rows = (0 until 500).map { i =>
      Row(i.toLong % 97, if (i % 7 == 0) null else s"v$i", i * 0.1,
        BigDecimal(i) / 3, new java.sql.Timestamp(1700000000000L + i * 1000L),
        Seq(i, i + 1), Map(s"k$i" -> i), Row(i % 3), Array[Byte](i.toByte))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val fps = Seq(1, 4, 16).map(n => Fingerprint.of(df.repartition(n)))
    assert(fps.distinct.size == 1)
    assert(fps.head.rows == 500)
    assert(Fingerprint.of(df.orderBy(df("d").desc).coalesce(2)) == fps.head)
    // a changed value, a dropped row and a duplicated row all change it
    assert(Fingerprint.of(df.withColumn("d", df("d") + 1e-9)) != fps.head)
    assert(Fingerprint.of(df.limit(499)) != fps.head)
    assert(Fingerprint.of(df.union(df.limit(1))) != fps.head)
    // a null is not the empty string, and columns do not swap silently
    val a = spark.sql("SELECT CAST(NULL AS STRING) AS x, 'a' AS y")
    val b = spark.sql("SELECT 'a' AS x, CAST(NULL AS STRING) AS y")
    val c = spark.sql("SELECT '' AS x, 'a' AS y")
    assert(Set(a, b, c).map(Fingerprint.of).size == 3)
  }

  test("output is locale-independent under de_DE") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.1f", Double.box(1.5)) == "1,5") // the hazard
      val json = Stats.Json.render(Stats.Obj(
        "wall_s" -> 1234.5, "n" -> 1234567L, "tiny" -> 1.0e-7, "nan" -> Double.NaN,
        "m" -> Map("b" -> 2.25, "a" -> "x\ty")))
      assert(json ==
        """{"wall_s":1234.5,"n":1234567,"tiny":1.0E-7,"nan":null,"m":{"a":"x\ty","b":2.25}}""")
      val fp = Fingerprint.of(spark.range(1000).selectExpr("id * 1.5 AS x"))
      assert(fp.toString.matches("1000:\\d+:\\d+"))
      Locale.setDefault(Locale.US)
      assert(Fingerprint.of(spark.range(1000).selectExpr("id * 1.5 AS x")) == fp)
    } finally Locale.setDefault(saved)
  }
}
