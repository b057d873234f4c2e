package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.parking.ParkingPipeline._

/** The parking feature table on an in-memory fixture with every
  * FIXTURES.md §A hazard, so it runs without the competition CSVs:
  * `""`/`"-"` rent sentinels, a complex whose rents are all NA, NULL
  * subway and bus counts, no 090 band, unit areas on half-to-even
  * boundaries (45.0 → 40, 85.0 → 80, 95.0 → 100), one row with a NULL
  * 단지코드, a complex-level column NULL for a whole complex, and a
  * NULL 자격유형 in test. `featureTableOf` is pinned bit for bit to
  * the join composition it replaced, rebuilt here as the oracle; its
  * plan shape and job count are guarded. */
class ParkingFixtureSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val subway = "도보 10분거리 내 지하철역 수(환승노선 수 반영)"
  private val bus = "도보 10분거리 내 버스정류장 수"

  private val rawSchema = StructType(Seq(
    StructField("단지코드", StringType),
    StructField("총세대수", IntegerType),
    StructField("임대건물구분", StringType),
    StructField("지역", StringType),
    StructField("공급유형", StringType),
    StructField("전용면적", DoubleType),
    StructField("전용면적별세대수", IntegerType),
    StructField("공가수", DoubleType),
    StructField("자격유형", StringType),
    StructField("임대보증금", StringType),
    StructField("임대료", StringType),
    StructField(subway, DoubleType),
    StructField(bus, DoubleType),
    StructField("단지내주차면수", DoubleType),
    StructField("등록차량수", DoubleType)))

  /** Complex-level values, repeated on each of its unit-type rows:
    * (단지코드, 총세대수, 임대건물구분, 지역, 공가수, 지하철역수,
    * 버스정류장수, 단지내주차면수, 등록차량수). */
  private type Complex = (String, Integer, String, String, java.lang.Double,
    java.lang.Double, java.lang.Double, java.lang.Double, java.lang.Double)
  /** Unit-type values: (공급유형, 전용면적, 전용면적별세대수, 자격유형,
    * 임대보증금, 임대료). */
  private type UnitType = (String, Double, Int, String, String, String)

  private def d(v: Double): java.lang.Double = v
  private def i(v: Int): Integer = v

  private def fixture(prefix: String): Seq[(Complex, Seq[UnitType])] = Seq(
    ((s"${prefix}001", i(120), "아파트", "서울특별시", d(3), d(1), d(4), d(95), d(88)),
      Seq(("국민임대", 45.0, 30, "A", "15667000", "120000"),
        ("국민임대", 39.72, 12, "B", "", "98000"),
        ("영구임대", 85.0, 7, "C", "23000000", "-"))),
    // every rent a sentinel or NULL: weighted means NULL → median
    ((s"${prefix}002", i(90), "아파트", "부산광역시", d(0), d(0), d(2), d(60), d(41)),
      Seq(("행복주택", 26.37, 40, "A", "", "-"),
        ("행복주택", 51.0, 25, "D", "-", ""),
        ("공공임대(50년)", 15.0, 3, "E", null, null))),
    // NULL subway and bus counts
    ((s"${prefix}003", i(40), "상가", "대구광역시", d(7), null, null, d(30), d(12)),
      Seq(("국민임대", 5.0, 8, "A", "5000000", "50000"),
        ("국민임대", 120.0, 2, "B", "31000000", "310000"),
        ("공공임대(50년)", 95.0, 11, "C", "12500000", "101500"))),
    // 공가수 NULL for the whole complex
    ((s"${prefix}004", i(50), "아파트", "경기도", null, d(2), d(9), d(41), d(37)),
      Seq(("국민임대", 33.33, 21, "A", "9000000", "77000"),
        ("국민임대", 64.2, 13, "B", "17500000", "133000"))),
    ((s"${prefix}005", i(12), "아파트", "강원도", d(1), d(0), d(1), d(10), d(9)),
      Seq(("장기전세", 74.98, 9, "F", "41000000", "0"))),
    // a NULL key: its rents still count in the median, its row is dropped
    ((null, i(30), "아파트", "서울특별시", d(2), d(1), d(3), d(20), d(15)),
      Seq(("국민임대", 59.99, 17, "A", "99000000", "990000"))))

  /** The raw (pre-`clean`) unit-type frame; the test shape has no
    * label and a NULL 자격유형. */
  private def raw(withLabel: Boolean): DataFrame = {
    val rows = fixture(if (withLabel) "C" else "T").flatMap {
      case ((code, total, bld, region, vacant, sub, bs, slots, cars), units) =>
        units.zipWithIndex.map { case ((supply, area, n, qual, dep, rent), j) =>
          val q = if (!withLabel && code == "T002" && j == 1) null else qual
          val vals = Seq(code, total, bld, region, supply, area, n, vacant, q,
            dep, rent, sub, bs, slots) ++ (if (withLabel) Seq(cars) else Nil)
          Row.fromSeq(vals)
        }
    }
    val schema =
      if (withLabel) rawSchema else StructType(rawSchema.fields.dropRight(1))
    spark.createDataFrame(rows.asJava, schema)
  }

  private lazy val trainFrame = clean(raw(withLabel = true))
  private lazy val testFrame = clean(raw(withLabel = false))

  // ---- the pre-change composition, kept verbatim as the oracle ----

  private def oracleComplexLevelColumns(df: DataFrame, key: String): Seq[String] = {
    val others = df.columns.filterNot(_ == key)
    val perGroup = df.groupBy(key)
      .agg(countDistinct(col(others.head)).as(others.head),
        others.tail.map(c => countDistinct(col(c)).as(c)).toSeq: _*)
    val sums = perGroup
      .agg(sum(col(others.head)).as(others.head),
        others.tail.map(c => sum(col(c)).as(c)).toSeq: _*)
      .head()
    val nKeys = df.select(key).distinct().count()
    key +: others.filter(c => sums.getAs[Long](c) <= nKeys).toSeq
  }

  private def oraclePerComplex(df: DataFrame): DataFrame = {
    val cols = oracleComplexLevelColumns(df, "단지코드")
    df.select(cols.map(col): _*).dropDuplicates("단지코드")
  }

  private def oracleTotalArea(df: DataFrame): DataFrame =
    df.groupBy("단지코드")
      .agg(sum(col("전용면적") * col("전용면적별세대수")).as("총면적"))

  private def oracleAreaBandPivot(df: DataFrame): DataFrame = {
    val band = least(greatest(bround(col("전용면적"), -1), lit(10.0)),
      lit(100.0)).cast("int")
    val pivoted = df.withColumn("band", band)
      .groupBy("단지코드").pivot("band", bands)
      .sum("전용면적별세대수")
      .na.fill(0, bands.map(_.toString))
    bands.foldLeft(pivoted) { (d, b) =>
      d.withColumnRenamed(b.toString, f"전용면적_$b%03d")
    }
  }

  private def oracleWeightedRentRaw(df: DataFrame): DataFrame = {
    def weighted(c: String) =
      (sum(when(col(c).isNotNull, col(c) * col("전용면적별세대수")))
        / sum(when(col(c).isNotNull, col("전용면적별세대수")))).as(c)
    df.groupBy("단지코드")
      .agg(weighted("임대보증금"), weighted("임대료"))
  }

  private def oracleWeightedRent(df: DataFrame): DataFrame = {
    val perComplexRent = oracleWeightedRentRaw(df)
    val meds = perComplexRent.agg(
      expr("percentile(`임대보증금`, 0.5)"),
      expr("percentile(`임대료`, 0.5)")).head()
    perComplexRent
      .withColumn("임대보증금",
        coalesce(col("임대보증금"), lit(meds.getDouble(0))))
      .withColumn("임대료", coalesce(col("임대료"), lit(meds.getDouble(1))))
  }

  private def oracleFeatureTable(cleaned0: DataFrame): DataFrame = {
    val cleaned = cleaned0.cache()
    oraclePerComplex(cleaned)
      .join(broadcast(oracleTotalArea(cleaned)), Seq("단지코드"))
      .join(broadcast(oracleAreaBandPivot(cleaned)), Seq("단지코드"))
      .join(broadcast(oracleWeightedRent(cleaned)), Seq("단지코드"))
      .na.fill(0.0, Seq("지하철역수", "버스정류장수"))
      .withColumn("세대당주차면수", col("단지내주차면수") / col("총세대수"))
      .withColumn("대중교통수", col("지하철역수") + col("버스정류장수"))
  }

  // ---- comparison ----

  /** Rows as values with every double replaced by its bit pattern. */
  private def bits(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case v: Double => java.lang.Double.doubleToRawLongBits(v)
      case v => v
    })

  private def typed(df: DataFrame): Seq[(String, DataType)] =
    df.schema.map(f => (f.name, f.dataType))

  private def assertSame(got: DataFrame, want: DataFrame, ordered: Boolean): Unit = {
    assert(typed(got) == typed(want))
    def rows(df: DataFrame) = {
      val r = df.collect()
      if (ordered) r else r.sortBy(x => Option(x.getString(0)).getOrElse(""))
    }
    assert(bits(rows(got)) == bits(rows(want)))
  }

  Seq("train" -> (() => trainFrame), "test" -> (() => testFrame)).foreach {
    case (shape, frame) =>
      test(s"$shape-shaped fixture: featureTableOf equals the join " +
        "composition bit for bit, in the same row order") {
        val want = oracleFeatureTable(frame())
        val got = featureTableOf(frame())
        assertSame(got, want, ordered = true)
        val rows = got.collect()
        // the fixture's hazards land where they should
        assert(rows.length == 5 && rows.forall(!_.isNullAt(0)),
          "one row per non-NULL complex")
        assert(rows.forall(_.getAs[Long]("전용면적_090") == 0L))
        val c1 = rows.find(_.getString(0).endsWith("001")).get
        assert(c1.getAs[Long]("전용면적_040") == 42L) // 45.0 → 40, not 50
        assert(c1.getAs[Long]("전용면적_080") == 7L)  // 85.0 → 80, not 90
        val c3 = rows.find(_.getString(0).endsWith("003")).get
        assert(c3.getAs[Long]("전용면적_010") == 8L)  // 5.0 clamps to 10
        assert(c3.getAs[Long]("전용면적_100") == 13L) // 95.0 and 120.0
        assert(c3.getAs[Double]("지하철역수") == 0.0)
        assert(c3.getAs[Double]("버스정류장수") == 0.0)
        val c4 = rows.find(_.getString(0).endsWith("004")).get
        assert(c4.isNullAt(c4.fieldIndex("공가수")))
        // the all-NA complex takes the median over all five priced
        // groups, the NULL-key group included
        val c2 = rows.find(_.getString(0).endsWith("002")).get
        val priced = weightedRentRaw(frame()).collect()
          .filter(!_.isNullAt(1)).map(_.getDouble(1)).sorted
        assert(priced.length == 5)
        assert(c2.getAs[Double]("임대보증금") == priced(2))
        frame().unpersist()
      }
  }

  test("complexLevelColumns and the per-complex helpers equal their " +
    "pre-change forms") {
    Seq(trainFrame, testFrame).foreach { df =>
      assert(complexLevelColumns(df, "단지코드") ==
        oracleComplexLevelColumns(df, "단지코드"))
      assertSame(perComplex(df), oraclePerComplex(df), ordered = false)
      assertSame(totalArea(df), oracleTotalArea(df), ordered = false)
      assertSame(areaBandPivot(df), oracleAreaBandPivot(df), ordered = false)
      assertSame(weightedRentRaw(df), oracleWeightedRentRaw(df), ordered = false)
    }
    assert(complexLevelColumns(trainFrame, "단지코드") == Seq("단지코드", "총세대수",
      "임대건물구분", "지역", "공가수", "지하철역수", "버스정류장수",
      "단지내주차면수", "등록차량수"))
  }

  test("guard: one SQL execution for complexLevelColumns; the feature " +
    "plan shuffles once on 단지코드 with no hash join; few jobs") {
    val sc = spark.sparkContext
    val executions = new AtomicInteger
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    val jobs = new AtomicInteger
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val train = trainFrame.unpersist(blocking = true)
    ListenerBusShim.drain(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(jl)
    try {
      complexLevelColumns(train, "단지코드")
      ListenerBusShim.drain(sc)
      assert(executions.get == 1, "complexLevelColumns ran more than one query")

      jobs.set(0)
      val ft = featureTableOf(train)
      ft.collect()
      ListenerBusShim.drain(sc)
      // 8 jobs on this fixture; the oracle join composition runs 20
      assert(jobs.get <= 10, s"featureTableOf(...).collect() ran ${jobs.get} jobs")

      val plan = ft.queryExecution.executedPlan
      val keyShuffles = collect(plan) {
        case e: ShuffleExchangeExec if (e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.exists(_.references.exists(_.name == "단지코드"))
          case _ => false
        }) => e
      }
      assert(keyShuffles.size == 1, s"shuffles on 단지코드:\n$plan")
      assert(collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"hash join in the feature plan:\n$plan")
    } finally {
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(jl)
      train.unpersist()
    }
  }

  test("loadAgeGender declares its schema: 지역 and 22 double shares, " +
    "an integer-looking share included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_age_gender")
    val ages = "10대미만" +: (1 to 10).map(a => s"${a}0대")
    val header = "지역" +: ages.flatMap(a => Seq(s"$a(여자)", s"$a(남자)"))
    // a region with no centenarian men: inference would type it int
    val line = "서울특별시" +: (1 to 21).map(k => (k / 100.0).toString) :+ "0"
    val csv = dir.resolve("age_gender_info.csv")
    java.nio.file.Files.write(csv,
      Seq(header.mkString(","), line.mkString(",")).asJava,
      java.nio.charset.StandardCharsets.UTF_8)
    val ag = loadAgeGender(spark, csv.toString)
    assert(ag.columns.toSeq == header)
    assert(ag.schema.fields.head.dataType == StringType)
    assert(ag.schema.fields.tail.forall(_.dataType == DoubleType))
    val r = ag.collect().head
    assert(r.getString(0) == "서울특별시" && r.getDouble(21) == 0.21 &&
      r.getDouble(22) == 0.0)
  }
}
