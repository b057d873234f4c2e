package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.parking.ParkingPipeline

/** One workload's unit of work. Per pass, in a fresh session: `setup`
  * (charged to setup_s with the session start), then `run` (timed),
  * then `check` and `observe` (untimed). */
trait Pass {
  def inputFiles: Seq[String]
  def inputRows(ctx: Ctx): Long
  def setup(s: SparkSession, ctx: Ctx, dir: String, tr: Tracer,
      pass: Int): Any = ()
  def run(s: SparkSession, ctx: Ctx, dir: String, tr: Tracer,
      timed: Harness.Timed, state: Any, pass: Int): Any
  /** Output checks; `full` adds the ones that cost Spark jobs. */
  def check(s: SparkSession, ctx: Ctx, out: Any, checks: Checks,
      full: Boolean): Unit
  /** Samples of this pass by metric name: latencies of every call and
    * levels; `traced` adds the layer counts that cost extra work. */
  def observe(s: SparkSession, ctx: Ctx, out: Any, traced: Boolean)
      : Map[String, Seq[Double]] = Map.empty
  /** (metric, span name): total seconds of those spans in a pass. */
  def spanSeconds: Seq[(String, String)]
  /** (metric, span name): mean milliseconds per call in a pass. */
  def spanCallMs: Seq[(String, String)] = Seq.empty
  /** Workload-level output for the report (last pass). */
  def report(out: Any): Map[String, Any] = Map.empty
}

/** Closed loop, one client: passes back to back, each in a fresh
  * SparkSession inside this JVM (the memo caches are keyed by
  * applicationId, so a second pass in one session would time a memo
  * read). The first [[WarmupPasses]] passes warm the cold JVM (class
  * loading, JIT, Spark's code-generation cache) and are not reported;
  * then at least [[MinPasses]] measured passes, and more until
  * `seconds` have passed.
  * Traced runs interleave untraced and traced measured passes, at least
  * two of each. */
object Batch {
  // With two, the first measured parking pass took 15-33% more CPU
  // than the second: the JVM was still warming.
  val WarmupPasses = 3
  val MinPasses = 2

  private def append(into: mutable.Map[String, mutable.ArrayBuffer[Double]],
      obs: Map[String, Seq[Double]]): Unit =
    obs.foreach { case (k, v) =>
      into.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }

  def run(ctx: Ctx, pass: Pass): Map[String, Any] = {
    val checks = new Checks
    val setupS, jobS, cpuS, tracedS = mutable.ArrayBuffer.empty[Double]
    val untracedObs, tracedObs =
      mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val appIds = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var failedPasses = 0
    var lastOut: Any = null
    var env: Map[String, Any] = Map.empty
    var plans: Map[String, String] = Map.empty
    var t0 = Double.MaxValue // the measured window opens after warm-up
    var i = 0
    def measured = jobS.size + tracedS.size
    while (i < WarmupPasses || measured < (if (ctx.trace) 2 else 1) * MinPasses ||
        Harness.nowS() - t0 < ctx.seconds) {
      if (i == WarmupPasses) t0 = Harness.nowS()
      // untraced, traced, traced, untraced, ...: a warming trend does
      // not bias the traced against the untraced passes
      val m = i - WarmupPasses
      val traced = ctx.trace && m >= 0 && (m % 4 == 1 || m % 4 == 2)
      val tr = new Tracer(traced)
      tr.unit = s"pass-$i"
      val listener = new EngineListener
      val dir = s"${ctx.work}/pass-$i"
      new File(dir).mkdirs()
      val st0 = Harness.nowS()
      val s = Harness.startSession(ctx)
      if (traced) { listener.attach(s); tr.session = s }
      val state = pass.setup(s, ctx, dir, tr, i)
      val setup = Harness.nowS() - st0
      if (i == 0) env = Harness.env(ctx, s)
      appIds += s.sparkContext.applicationId
      val timed = new Harness.Timed
      val gc0 = Harness.gcS()
      val c0 = Harness.processCpuS()
      val ms0 = System.currentTimeMillis()
      val w0 = Harness.nowS()
      val out =
        try Some(pass.run(s, ctx, dir, tr, timed, state, i))
        catch { case e: Exception =>
          System.err.println(s"pass $i failed: $e"); e.printStackTrace()
          None
        }
      val wall = Harness.nowS() - w0
      val cpu = Harness.processCpuS() - c0
      val ms1 = System.currentTimeMillis()
      val gc = Harness.gcS() - gc0
      out match {
        case Some(o) =>
          if (i >= WarmupPasses) {
            if (traced) tracedS += wall
            else { jobS += wall; cpuS += cpu; setupS += setup }
          }
          pass.check(s, ctx, o, checks, full = i == 0)
          plans = timed.rendered
          val obs = pass.observe(s, ctx, o, traced)
          if (traced) {
            val storage = Harness.storageMb(s)
            s.stop() // drains the listener bus
            append(tracedObs, obs ++ Layers.engine(listener, ms0, ms1, wall,
              gc, storage).map { case (k, v) => k -> Seq(v) } ++
              pass.spanSeconds.map { case (m, n) =>
                m -> Seq(tr.seconds(tr.unit, n)) } ++
              pass.spanCallMs.map { case (m, n) =>
                m -> Seq(tr.meanMs(tr.unit, n)) })
            spans ++= Layers.spans(tr, listener)
          } else if (i >= WarmupPasses) append(untracedObs, obs)
          lastOut = o
        case None => failedPasses += 1
      }
      if (!s.sparkContext.isStopped) s.stop()
      Harness.deleteTree(new File(dir))
      i += 1
      if (failedPasses > 2) sys.error("three passes failed")
    }
    checks("session.fresh_application_per_pass",
      appIds.distinct.size == appIds.size, s"application ids $appIds")
    val e2e = Map(
      "setup_s" -> Harness.median(setupS.toSeq),
      "job_s" -> Harness.median(jobS.toSeq),
      "job_cpu_s" -> Harness.median(cpuS.toSeq),
      "peak_rss_mb" -> Harness.peakRssMb())
    // latencies of the calls on untraced passes: median and tail
    val latencies = untracedObs.filter(_._1.endsWith("_ms"))
    val perLayer: Map[String, Any] =
      if (!ctx.trace) Map.empty
      else tracedObs.map { case (k, v) => k -> Harness.median(v.toSeq) }.toMap ++
        latencies.flatMap { case (k, v) => Seq(
          s"${k}_p50" -> Harness.median(v.toSeq),
          s"${k}_tail" -> Harness.tail(v.toSeq).map(_._2).getOrElse(v.max)) } +
        ("trace.overhead_pct" ->
          100.0 * (Harness.median(tracedS.toSeq) / Harness.median(jobS.toSeq) - 1))
    Map(
      "attempted" -> (i + checks.results.size),
      "failed" -> (failedPasses + checks.failed),
      "checks" -> checks.results.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (n, rs) => Map("name" -> n, "ok" -> rs.forall(_._2),
          "attempts" -> rs.size,
          "detail" -> rs.map(_._3).filter(_.nonEmpty).take(3))
      },
      "samples" -> Map("setup_s" -> setupS.toSeq, "job_s" -> jobS.toSeq,
        "job_cpu_s" -> cpuS.toSeq, "traced_job_s" -> tracedS.toSeq),
      "metrics" -> e2e,
      "latency" -> latencies.map { case (k, v) => k -> Map(
        "samples" -> v.size, "p50" -> Harness.median(v.toSeq),
        "tail" -> Harness.tail(v.toSeq).map { case (p, x) =>
          Map("percentile" -> p, "value" -> x) }.orNull) }.toMap,
      "observed" -> untracedObs.map { case (k, v) => k -> v.toSeq }.toMap,
      "layers" -> perLayer,
      "env" -> env,
      "input" -> Harness.inputStats(ctx.input, pass.inputFiles,
        pass.inputRows(ctx)),
      "timed_plans" -> plans,
      "spans" -> spans.toSeq) ++ pass.report(lastOut)
  }
}

/** The paper's own job on the seeded twin of the competition CSVs:
  * feature table (materialized), demographics join, then the
  * submission (RF fit, predict, CSV write). */
object ParkingPass extends Pass {
  import ParkingPipeline._

  def inputFiles: Seq[String] = Seq("train.csv", "test.csv", "age_gender_info.csv")
  def inputRows(ctx: Ctx): Long =
    ctx.plantedCount("train_rows") + ctx.plantedCount("test_rows") + 16

  final case class Out(cleaned: org.apache.spark.sql.DataFrame,
      features: Array[Row], demo: Int, subDir: String)

  def run(s: SparkSession, ctx: Ctx, dir: String, tr: Tracer,
      timed: Harness.Timed, state: Any, pass: Int): Any =
    tr.span("parking.pass") {
      val train = s"${ctx.input}/train.csv"
      val test = s"${ctx.input}/test.csv"
      val cleaned = tr.span("parking.clean") {
        val c = clean(loadTrain(s, train)).cache()
        timed.noop("parking.clean", c)
        c
      }
      val (ft, rows) = tr.span("parking.features") {
        val ft = featureTableOf(cleaned)
        (ft, timed.collect("parking.features", ft))
      }
      val demo = tr.span("parking.demographics") {
        timed.collect("parking.demographics", withDemographics(ft,
          loadAgeGender(s, s"${ctx.input}/age_gender_info.csv"))).length
      }
      val subDir = s"$dir/submission"
      tr.span("parking.submission") { submission(s, train, test, Some(subDir)) }
      Out(cleaned, rows, demo, subDir)
    }

  private val bandCols = bands.map(b => f"전용면적_$b%03d")
  private val featureNums = Seq("총세대수", "공가수", "지하철역수", "버스정류장수",
    "단지내주차면수", "총면적", "임대보증금", "임대료", "세대당주차면수", "대중교통수") ++
    bandCols
  private val code = (r: Row) => r.getAs[String]("단지코드")

  def check(s: SparkSession, ctx: Ctx, o: Any, checks: Checks,
      full: Boolean): Unit = {
    val out = o.asInstanceOf[Out]
    val rows = out.features
    val nComplex = ctx.plantedCount("train_complexes")
    checks("parking.one_row_per_complex",
      rows.length == nComplex && rows.map(code).distinct.length == nComplex,
      s"${rows.length} rows for $nComplex complexes")
    val nulls = rows.count(r => featureNums.exists(c => r.isNullAt(r.fieldIndex(c))))
    checks("parking.no_nulls_after_impute", nulls == 0,
      s"$nulls rows with NULL features")
    checks("parking.no_090_band",
      rows.forall(_.getAs[Number]("전용면적_090").longValue == 0L),
      "090 band has households")
    checks("parking.demographics_rows", out.demo == nComplex,
      s"${out.demo} rows after the demographics join")
    if (full) {
      val units = out.cleaned.groupBy("단지코드")
        .agg(sum("전용면적별세대수").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val badSums = rows.filter { r =>
        bandCols.map(c => r.getAs[Number](c).longValue).sum !=
          units.getOrElse(code(r), -1L)
      }
      checks("parking.band_households_sum", badSums.isEmpty,
        s"${badSums.length} complexes whose bands do not sum")
      val raw = weightedRentRaw(out.cleaned).collect()
      val planted = ctx.plantedCount("all_na_rent_complexes")
      val nullDep = raw.count(_.isNullAt(1))
      val nullRent = raw.count(_.isNullAt(2))
      checks("parking.null_rent_complexes_planted",
        nullDep == planted && nullRent == planted,
        s"$nullDep/$nullRent NULL-rent complexes, $planted planted")
      val sub = s.read.option("header", true).csv(out.subDir).collect()
      val nTest = ctx.plantedCount("test_complexes")
      checks("parking.submission_rows",
        sub.length == nTest && sub.map(_.getString(0)).distinct.length == nTest &&
          sub.forall(r => !r.isNullAt(1)),
        s"${sub.length} submission rows for $nTest test complexes")
    }
  }

  override def observe(s: SparkSession, ctx: Ctx, o: Any, traced: Boolean)
      : Map[String, Seq[Double]] =
    if (!traced) Map.empty
    else Map(
      "parking.rows_in" -> Seq(ctx.plantedCount("train_rows").toDouble),
      "parking.complexes_out" -> Seq(o.asInstanceOf[Out].features.length.toDouble))

  def spanSeconds: Seq[(String, String)] = Seq(
    "parking.clean_s" -> "parking.clean",
    "parking.features_s" -> "parking.features",
    "parking.demographics_s" -> "parking.demographics",
    "parking.submission_s" -> "parking.submission")
}
