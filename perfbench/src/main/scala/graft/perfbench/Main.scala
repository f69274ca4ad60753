package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Harness entry: sets the workload up `--setups` times (each on a fresh
  * Spark context; the first one timed from JVM start), runs the measured
  * window on the last set-up, and writes every op, span and counter to
  * `--out` as JSON. `perfbench/run.py` builds, launches and scores it.
  *
  * Arguments: --workload --seed --seconds --trace 0|1 --data <dir>
  * --work <scratch dir> --out <file> --cpus <n> --setups <n>
  * --eligible <file of query names> */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seconds = a("seconds").toDouble
    val cpus = a("cpus").toInt
    val work = new File(a("work"))
    val eligible = Files.readAllLines(Paths.get(a("eligible"))).asScala.map(_.trim).filter(_.nonEmpty).toSet
    val workload: Workload = a("workload") match {
      case "analytic_warm" => new AnalyticWarm("sf0.01", reps = 3, eligible)
      case "rotation_cold" => new RotationCold("sf0.001", eligible)
      case "commit_churn" => new CommitChurn("sf0.001", batchFrac = 0.02, keep = 3)
      case g if g.startsWith("goldens:") => new Goldens(g.stripPrefix("goldens:"), eligible)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val tracer = new Tracer(a("trace") == "1")

    val setupS = ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    (1 to a("setups").toInt).foreach { i =>
      val t0 = if (i == 1) ManagementFactory.getRuntimeMXBean.getStartTime * 1000L else Clock.nowUs
      if (ctx != null) ctx.spark.stop()
      ctx = new Ctx(session(cpus, work), tracer, a("data"), work, a("seed").toLong)
      workload.setup(ctx)
      setupS += (Clock.nowUs - t0) / 1e6
    }
    val spark = ctx.spark
    tracer.attach(spark)
    val heapSetup = JvmCounters.heapAfterGcMb()
    val before = JvmCounters.snapshot()
    val t0 = System.nanoTime()
    workload.run(ctx, seconds)
    val windowS = (System.nanoTime() - t0) / 1e9
    val after = JvmCounters.snapshot()
    tracer.drain(spark)
    val heapEnd = JvmCounters.heapAfterGcMb()

    val counters = after.map { case (k, v) =>
      k -> (if (k == "jvm.metaspace_mb") v else v - before(k))
    } ++ ctx.storage ++ Map(
      // distinct (key, dir) memo entries built in this JVM, and their
      // seconds: inclusive of nested builds, so not additive
      "memo.keys_built" -> graft.SessionMemo.buildLog.size.toDouble,
      "memo.build_s_inclusive" -> graft.SessionMemo.buildLog.values.sum)
    val out = Map(
      "provenance" -> Map(
        "workload" -> a("workload"), "seed" -> a("seed").toLong, "cpus" -> cpus,
        "heap_max_mb" -> JvmCounters.heapMaxMb, "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"), "data" -> a("data")),
      "setup_s" -> setupS.toList,
      "window_s" -> windowS,
      "heap_peak_mb" -> math.max(heapSetup, heapEnd),
      "ops" -> ctx.ops.map(_.toMap),
      "extra" -> ctx.extra,
      "counters" -> counters,
      "spans" -> tracer.all.map(s => List(s.id, s.parent, s.layer, s.name, s.startUs, s.endUs)),
      "sched" -> tracer.sched.asScala.map { case (k, c) => k.toString -> c.toMap })
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }

  /** The program's session settings (as in graft.Bench and graft.Verify),
    * with Spark's scratch space inside the run's work directory. */
  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
