package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one run is asked to do (see Main for the flags). */
final case class Ctx(workload: String, input: String, work: String,
    seed: Long, seconds: Double, trace: Boolean, cpus: Int,
    planted: Map[String, Long]) {
  def plantedCount(k: String): Long =
    planted.getOrElse(k, sys.error(s"planted count $k missing"))
}

/** Output checks: every check is one attempt, a false one a failure. */
final class Checks {
  val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit =
    results += ((name, ok, if (ok) "" else detail))
  def failed: Int = results.count(!_._2)
}

object Harness {

  /** The session conf keys graft.Bench sets, with Bench's defaults at
    * `cpus` threads, so drift between the two shows in the output. */
  def benchConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.cleaner.periodicGC.interval" -> "1min",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> cpus.toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A fresh session (new SparkContext, new applicationId) in this JVM,
    * plus a tiny warm-up job. Spark's scratch space stays in the run's
    * work directory. */
  def startSession(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder().master(s"local[${ctx.cpus}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
    val s = benchConf(ctx.cpus).foldLeft(b) { case (b, (k, v)) =>
      b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s.range(0, 4096, 1, ctx.cpus).selectExpr("sum(id)").collect()
    s
  }

  /** The timed terminal actions. The benchmark times what a job
    * returns: rows collected to the driver, or a `noop` sink that must
    * compute every column. Never `count()`, which lets the optimizer
    * drop the work a count does not need. Each call records the
    * physical plan it ran. */
  final class Timed {
    val plans = mutable.LinkedHashMap.empty[String, DataFrame]
    def collect(label: String, df: DataFrame): Array[Row] = {
      val rows = df.collect()
      plans(label) = df
      rows
    }
    def noop(label: String, df: DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save()
      plans(label) = df
    }
    /** The executed plan of each call (render outside timed code). */
    def rendered: Map[String, String] =
      plans.map { case (k, df) => k -> df.queryExecution.executedPlan.toString }
        .toMap
  }

  def nowS(): Double = System.nanoTime() / 1e9

  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes held by cached and checkpointed RDD blocks, in MB. */
  def storageMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum /
      (1024.0 * 1024.0)

  /** Storage memory of the session (the unified pool's max), in MB. */
  def storagePoolMb(s: SparkSession): Double =
    s.sparkContext.getExecutorMemoryStatus.valuesIterator.map(_._1).sum /
      (1024.0 * 1024.0)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val v = xs.sorted
    val n = v.size
    if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * and its value (nearest rank); None with fewer than 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      val v = xs.sorted
      Some(p -> v(math.max(0, math.ceil(p / 100.0 * n).toInt - 1)))
    }
  }

  /** Run environment: threads, heap, effective spark.sql.* conf, and
    * the session's storage memory. */
  def env(ctx: Ctx, s: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "threads" -> ctx.cpus,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_version" -> s.version,
    "spark_sql_conf" -> s.conf.getAll.filter(_._1.startsWith("spark.sql."))
      .toSeq.sorted.toMap,
    "bench_conf_drift" -> benchConf(ctx.cpus).filter { case (k, v) =>
      s.conf.getOption(k).exists(_ != v) }.map(_._1),
    "storage_pool_mb" -> storagePoolMb(s))

  /** Rows and bytes of the workload's input files. */
  def inputStats(dir: String, files: Seq[String], rows: Long): Map[String, Any] =
    Map("files" -> files, "rows" -> rows,
      "bytes" -> files.map(f => new File(dir, f).length).sum)
}
