package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `graftbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *  --inputs <dir> --out <file>`.
  * Writes the run's raw record (setup times, every op, and with tracing
  * every Spark job) as JSON to `--out`; `perfbench/run.py` turns it into
  * metrics. Scratch files go under `java.io.tmpdir`, which the caller
  * makes fresh for each run.
  *
  * `graftbench.Main --generate <w> --inputs <dir>` writes the fixed inputs
  * of workload `w` to `dir` instead, in a JVM of its own, so that every
  * measured JVM starts equally cold. */
object Main {
  /** Set-ups per run; setup_s is their median. A serving set-up (dense and
    * sparse index builds) takes 30-50 s in a fresh JVM on 4 cores, so
    * serve_mix sets up once and relies on the median across runs. */
  def setupReps(workload: String): Int = if (workload == "batch_suite") 3 else 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", a("generate"))
    val work = System.getProperty("java.io.tmpdir")
    val cpus = Runtime.getRuntime.availableProcessors
    val loadStart = loadavg
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", if (workload == "batch_suite") "FIFO" else "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (a.contains("generate")) {
      val rec = new Recorder(spark.sparkContext, tracing = false)
      workload match {
        case "serve_mix" =>
          val serve = new Serve(spark, rec, 0L)
          serve.kf.write(spark, a("inputs"), serve.buildRows)
        case "batch_suite" => new Batch(spark, rec, 0L, work).writeData(a("inputs"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      spark.stop()
      return
    }

    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val inputs = a("inputs")
    val rec = new Recorder(spark.sparkContext, tracing)
    val timeline = Seq.newBuilder[(String, Double)]
    val setups = Seq.newBuilder[(Double, Map[String, Double])]
    var window = (0.0, 0.0)
    var gcS = 0.0
    var layers = Map.empty[String, Double]
    def measured(body: => Map[String, Double]): Unit = {
      val gc0 = gcMillis
      val t = rec.now
      timeline += "window" -> t
      layers = body
      window = (t, rec.now)
      gcS = (gcMillis - gc0) / 1e3
    }
    def timedSetup[A](body: => (A, Map[String, Double])): A = {
      val t = rec.now
      timeline += "setup" -> t
      val (v, m) = body
      setups += (((rec.now - t) / 1e3, m))
      v
    }

    workload match {
      case "serve_mix" =>
        val serve = new Serve(spark, rec, seed)
        val served = (0 until setupReps(workload)).map(i =>
          timedSetup(serve.setup(inputs, s"$work/setup-$i"))).last
        measured(serve.serveMix(served, seconds))
      case "batch_suite" =>
        val batch = new Batch(spark, rec, seed, work)
        val dir = (0 until setupReps(workload)).map { i =>
          val d = s"$work/tables-$i"
          timedSetup((d, Map("Tables.load_s" -> batch.setup(inputs, d))))
        }.last
        measured(batch.pass(dir))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    timeline += "checked" -> rec.now
    val retainedMb = retainedHeapMb
    timeline += "gc" -> rec.now
    // stopping delivers every queued listener event, so the jobs read
    // below are all the run's jobs
    spark.stop()

    val out = Map(
      "workload" -> workload,
      "seed" -> seed,
      "tracing" -> tracing,
      "context" -> Map(
        "nproc" -> cpus,
        "loadavg_start" -> loadStart,
        "loadavg_end" -> loadavg,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> spark.version),
      "setup" -> setups.result().map { case (s, m) => Map("total_s" -> s, "layers" -> m) },
      "window" -> Map("start" -> window._1, "end" -> window._2),
      "timeline" -> timeline.result().map { case (n, t) => (n, t / 1e3) },
      "gc_s" -> gcS,
      "heap_retained_mb" -> retainedMb,
      "layers" -> layers,
      "ops" -> rec.ops.asScala.toSeq,
      "jobs" -> rec.jobs)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
      .writeValue(new java.io.File(a("out")), out)
  }

  /** Heap still in use after full collections at the end of the run: what
    * the engine keeps (indexes, handles, caches, broadcasts). Peak RSS on a
    * G1 heap follows the collector's timing instead, and moved 1.7-2.1 GB
    * between runs of one commit. */
  def retainedHeapMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { mem.gc(); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    // Spark's cleaner frees broadcast and shuffle blocks only after a
    // collection has queued their references: collect until the figure
    // stops falling
    var last = collect()
    var cur = last
    var i = 0
    while (i < 8 && { Thread.sleep(250); cur = collect(); cur < last * 0.99 }) { last = cur; i += 1 }
    cur
  }

  def loadavg: String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Exception => "" }

  def gcMillis: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

}
