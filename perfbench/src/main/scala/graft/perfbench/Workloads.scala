package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.etl.{Star, StarBuilder}

/** One timed operation and what it returned. `rows`/`hash` describe the
  * result; `expectRows`/`expectHash` are the benchmark's own expectation
  * when it keeps one (commit_churn), otherwise the golden file decides. */
final case class Op(kind: String, name: String, pass: Int, rep: Int, span: Long,
    startUs: Long, wallMs: Double, cpuMs: Double, constructMs: Double, actionMs: Double,
    compiles: Long, compileMs: Double, buildS: Double, err: Option[String],
    rows: Long, hash: String, expectRows: Option[Long] = None,
    expectHash: Option[String] = None) {
  def toMap: Map[String, Any] = Map(
    "kind" -> kind, "name" -> name, "pass" -> pass, "rep" -> rep, "span" -> span,
    "start_us" -> startUs, "wall_ms" -> wallMs, "cpu_ms" -> cpuMs, "construct_ms" -> constructMs,
    "action_ms" -> actionMs, "compiles" -> compiles, "compile_ms" -> compileMs,
    "build_s" -> buildS,
    "err" -> err, "rows" -> rows, "hash" -> hash,
    "expect_rows" -> expectRows, "expect_hash" -> expectHash)
}

/** Order-insensitive result fingerprint: columns in name order, each row
  * rendered canonically and hashed, the 64-bit row hashes summed. */
object ResultHash {
  def apply(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.indices.sortBy(schema.fieldNames(_))
    var h = 0L
    rows.foreach(r => h += mix(order.map(i => canon(r.get(i))).mkString("\u0001")))
    f"$h%016x"
  }

  def mix(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }
}

/** What every workload shares: the session, the tracer, the op log and
  * the one client thread's closed loop. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
    val work: File, val seed: Long) {
  val ops = ArrayBuffer.empty[Op]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  val rng = new Random(seed)
  private var storagePeak = (0, 0.0)

  /** Time one op as construct (build the frame) then action (run it).
    * An exception fails the op: its class is kept and logged, and the
    * loop goes on. */
  def op(kind: String, name: String, pass: Int, rep: Int)
        (construct: => DataFrame)(action: DataFrame => Array[Row]): (Op, Option[(StructType, Array[Row])]) = {
    graft.BuildPhase.drain()
    val c0 = JvmCounters.compiles
    val n0 = JvmCounters.compileNs
    val cpu0 = JvmCounters.processCpuNs
    var constructMs, actionMs = 0.0
    var out: Option[(StructType, Array[Row])] = None
    var err: Option[String] = None
    val t0 = System.nanoTime()
    val startUs = Clock.nowUs
    val span = tracer.span(spark, "op", name, -1L) { id =>
      try {
        val df = timed(constructMs = _)(tracer.span(spark, "entry.construct", name, id)(_ => construct))
        val rows = timed(actionMs = _)(tracer.span(spark, "entry.action", name, id)(_ => action(df)))
        out = Some((df.schema, rows))
      } catch {
        case NonFatal(e) =>
          err = Some(e.getClass.getName)
          System.err.println(s"[perfbench] $kind $name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
      id
    }
    val wall = (System.nanoTime() - t0) / 1e6
    val cpu = (JvmCounters.processCpuNs - cpu0) / 1e6
    if (tracer.enabled) sampleStorage()
    val o = Op(kind, name, pass, rep, span, startUs, wall, cpu, constructMs, actionMs,
      JvmCounters.compiles - c0, (JvmCounters.compileNs - n0) / 1e6, graft.BuildPhase.drain(), err,
      out.map(_._2.length.toLong).getOrElse(-1L),
      out.map { case (s, r) => ResultHash(s, r) }.getOrElse(""))
    ops += o
    (o, out)
  }

  private def timed[T](set: Double => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally set((System.nanoTime() - t0) / 1e6)
  }

  private def sampleStorage(): Unit = {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.size
    val usedMb = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0
    storagePeak = (math.max(storagePeak._1, rdds), math.max(storagePeak._2, usedMb))
  }

  def storage: Map[String, Double] = Map(
    "storage.rdds_persisted_max" -> storagePeak._1.toDouble,
    "storage.mem_used_mb_max" -> storagePeak._2)
}

/** A workload: what set-up builds before the first timed op, and the
  * closed loop that runs until its passes are done. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx, seconds: Double): Unit

  /** Whole passes. Pass 1 warms the JVM and the session and is not
    * measured. The number of measured passes follows from `seconds` and
    * `nominalS`, a rough steady pass length on a 4-vCPU box, not from the
    * clock, so every run measures each op of its set equally often. */
  protected def passes(seconds: Double, nominalS: Double)(pass: Int => Unit): Unit =
    (1 to 1 + math.max(1L, math.round(seconds / nominalS)).toInt).foreach(pass)
}

object Queries {
  lazy val all: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries

  /** Full names of the queries with these `qN` prefixes; each must be
    * registered and have a golden result. */
  def checked(prefixes: Seq[String], eligible: Set[String]): Seq[String] = prefixes.map { p =>
    val name = all.keys.find(_.takeWhile(_ != '_') == p)
      .getOrElse(throw new IllegalArgumentException(s"no registered query $p"))
    require(eligible(name), s"no golden result for $name")
    name
  }

  /** Run one query as an op: construct is the `fn(spark, dir)` call, the
    * action collects the result. */
  def run(ctx: Ctx, name: String, dir: String, pass: Int, rep: Int): Op =
    ctx.op("query", name, pass, rep)(all(name)(ctx.spark, dir))(_.collect())._1
}

/** Star-schema analytics on warm memos: insight queries served from
  * the `Star` memos that set-up builds, and TPC-H queries over the raw
  * tables, each query's reps back to back so reps after the first hit
  * the codegen cache. The seed permutes the query order. */
final class AnalyticWarm(sf: String, reps: Int, eligible: Set[String]) extends Workload {
  val set = Seq("q01", "q12", "q17", "q26", "q203", "q219")
  private def dir(ctx: Ctx) = s"${ctx.data}/$sf"

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    Seq(Star.fact _, Star.factWithTahap _, Star.semesterFact _, Star.dimMahasiswa _)
      .foreach(f => f(s, dir(ctx)).count())
  }

  def run(ctx: Ctx, seconds: Double): Unit = {
    val order = ctx.rng.shuffle(Queries.checked(set, eligible))
    passes(seconds, nominalS = 10) { p =>
      order.foreach(q => (1 to reps).foreach(r => Queries.run(ctx, q, dir(ctx), p, r)))
    }
  }
}

/** A rotation over distinct queries on near-zero data, so each op pays
  * the per-query floor: jobs, planning and codegen; the first pass also
  * builds the session's memos. Three iterative driver loops (cluster
  * representatives over connected components, PageRank, coreness) and
  * one query from each of two other modules. One pass compiles more
  * classes than the default 100-entry codegen cache holds, so every pass
  * compiles again. The seed permutes the order; all passes use the same
  * order. */
final class RotationCold(sf: String, eligible: Set[String]) extends Workload {
  val set = Seq("q81", "q265", "q334", "q72", "q36")

  def setup(ctx: Ctx): Unit = ()

  def run(ctx: Ctx, seconds: Double): Unit = {
    val order = ctx.rng.shuffle(Queries.checked(set, eligible))
    val passWall = ArrayBuffer.empty[Double]
    passes(seconds, nominalS = 8) { p =>
      val t0 = System.nanoTime()
      order.foreach(q => Queries.run(ctx, q, s"${ctx.data}/$sf", p, 1))
      passWall += (System.nanoTime() - t0) / 1e9
    }
    ctx.extra("pass_s") = passWall.toList
  }
}

/** Versioned writes beside reads on one warehouse table: appends, merges
  * and deletion-vector deletes, compaction and vacuum every three commits,
  * and after each commit a latest read and a pinned read of an older
  * kept version. The benchmark keeps the table's expected state itself
  * (row id → sks) and checks every read against it. */
final class CommitChurn(sf: String, batchFrac: Double, keep: Int)
    extends Workload {
  private val table = "fact"
  private var wh: String = _
  private var schema: StructType = _
  private val live = mutable.LongMap.empty[Double]
  private val byVersion = mutable.LongMap.empty[(Long, String)]
  private var nextRid = 1L << 40
  private var bytesPerRow = 0.0
  private var batchBytes = 0.0
  private var bytesWritten = 0L
  private var filesWritten = 0L
  private var seedRows = 0L

  private val grades = Star.gradeWeights

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    wh = new File(ctx.work, s"warehouse-${java.util.UUID.randomUUID}").getPath
    val fact = Star.fact(s, s"${ctx.data}/$sf")
      .withColumn("rid", monotonically_increasing_id()).localCheckpoint(true)
    schema = fact.schema
    live.clear()
    byVersion.clear()
    fact.select("rid", "sks").collect().foreach(r => live(r.getLong(0)) = r.getDouble(1))
    seedRows = live.size.toLong
    val v = StarBuilder.writeTableVersioned(fact, wh, table)
    byVersion(v) = expected
    bytesPerRow = dirBytes(new File(s"$wh/v=$v"))._1.toDouble / seedRows
    batchBytes = 0.0
    bytesWritten = 0L
    filesWritten = 0L
  }

  private def expected: (Long, String) = {
    var h = 0L
    live.foreach { case (rid, sks) => h += ResultHash.mix(s"$rid\u0001$sks") }
    (live.size.toLong, f"$h%016x")
  }

  private def fingerprint(rows: Array[Row]): (Long, String) = {
    var h = 0L
    rows.foreach(r => h += ResultHash.mix(s"${r.getLong(0)}\u0001${r.getDouble(1)}"))
    (rows.length.toLong, f"$h%016x")
  }

  private def dirBytes(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else (f.length(), 1L)

  private def latest: Long = StarBuilder.latestVersion(wh).get

  /** Fresh rows in the table's schema, values drawn from the fact's
    * domains. */
  private def newRows(ctx: Ctx, n: Int): Seq[Row] = (0 until n).map { _ =>
    val (huruf, bobot) = grades(ctx.rng.nextInt(grades.size))
    val sks = (1 + ctx.rng.nextInt(50)).toDouble
    val rid = nextRid
    nextRid += 1
    rowOf(Map("student" -> ctx.rng.nextInt(1500).toLong, "course" -> ctx.rng.nextInt(2000).toLong,
      "tahun" -> (1995 + ctx.rng.nextInt(7)).toLong,
      "semester" -> (if (ctx.rng.nextBoolean()) "Gasal" else "Genap"),
      "huruf" -> huruf, "bobot" -> bobot, "sks" -> sks, "bobot_matkul" -> sks * bobot, "rid" -> rid))
  }

  private def track(rows: Seq[Row]): Unit = {
    val (rid, sks) = (schema.fieldIndex("rid"), schema.fieldIndex("sks"))
    rows.foreach(r => live(r.getLong(rid)) = r.getDouble(sks))
  }

  private def rowOf(values: Map[String, Any]): Row = Row.fromSeq(schema.fieldNames.map(values).toSeq)

  private def frame(ctx: Ctx, rows: Seq[Row]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)

  private def batchSize: Int = math.max(1, (seedRows * batchFrac).toInt)

  /** Commit through `write`, then account bytes and files the new
    * version added and check that the version number advanced. */
  private def commit(ctx: Ctx, kind: String, pass: Int, seq: Int, batchRows: Long)
      (construct: => DataFrame)(write: DataFrame => Long)(apply: => Unit): Unit = {
    val before = latest
    val (o, _) = ctx.op(kind, kind, pass, seq)(construct) { df =>
      val v = write(df)
      require(v == before + 1, s"$kind committed v=$v after v=$before")
      Array.empty[Row]
    }
    if (o.err.isEmpty) {
      apply
      val v = latest
      byVersion(v) = expected
      val (b, n) = dirBytes(new File(s"$wh/v=$v"))
      bytesWritten += b
      filesWritten += n
      batchBytes += batchRows * bytesPerRow
    }
  }

  private def read(ctx: Ctx, kind: String, pass: Int, seq: Int, version: Option[Long]): Unit = {
    val v = version.getOrElse(latest)
    val (o, out) = ctx.op(kind, kind, pass, seq)(
      StarBuilder.readAt(ctx.spark, wh, table, version).select("rid", "sks"))(_.collect())
    val (rows, hash) = out.map(x => fingerprint(x._2)).getOrElse((-1L, ""))
    val (er, eh) = byVersion(v)
    ctx.ops(ctx.ops.size - 1) = o.copy(rows = rows, hash = hash,
      expectRows = Some(er), expectHash = Some(eh))
  }

  /** Each pass: append, merge and delete, each followed by a latest and a
    * pinned read; then compaction, vacuum and a latest read. Ops carry the
    * pass as `pass` and the commit count as `rep`. */
  def run(ctx: Ctx, seconds: Double): Unit = {
    val s = ctx.spark
    var commits = 0
    var compactions = 0
    passes(seconds, nominalS = 8) { p =>
      Seq("append", "merge", "delete").foreach { kind =>
        commits += 1
        kind match {
          case "append" =>
            val rows = newRows(ctx, batchSize)
            commit(ctx, "append", p, commits, rows.size)(frame(ctx, rows))(
              StarBuilder.appendTableVersioned(_, wh, table, latest))(track(rows))
          case "merge" =>
            val keys = live.keys.toIndexedSeq
            val updates = (0 until batchSize / 2).map(_ => keys(ctx.rng.nextInt(keys.size))).distinct
              .map(rid => rid -> (1 + ctx.rng.nextInt(50)).toDouble)
            val inserts = newRows(ctx, batchSize - updates.size)
            val from = latest
            commit(ctx, "merge", p, commits, updates.size + inserts.size) {
              val base = StarBuilder.readAt(s, wh, table)
              val upd = base.join(broadcast(s.createDataFrame(updates).toDF("rid", "new_sks")), "rid")
                .withColumn("sks", col("new_sks"))
                .withColumn("bobot_matkul", col("new_sks") * col("bobot"))
                .drop("new_sks")
              StarBuilder.mergeInto(base, upd.unionByName(frame(ctx, inserts)), Seq("rid"))
            }(StarBuilder.writeTableVersionedFrom(_, wh, table, from)) {
              updates.foreach { case (rid, sks) => live(rid) = sks }
              track(inserts)
            }
          case "delete" =>
            val m = math.max(2, (1 / batchFrac).toInt)
            val k = ctx.rng.nextInt(m)
            val gone = live.keys.filter(_ % m == k).toSeq
            commit(ctx, "delete", p, commits, gone.size)(s.emptyDataFrame)(_ =>
              StarBuilder.deleteWhere(s, wh, table, col("rid") % m === k))(gone.foreach(live.remove))
        }
        read(ctx, "read_latest", p, commits, None)
        pinned(ctx, p, commits)
      }
      commit(ctx, "compact", p, commits, 0)(s.emptyDataFrame)(_ =>
        StarBuilder.compactVersioned(s, wh, targetBytes = 256L * 1024))(())
      compactions += 1
      ctx.op("vacuum", "vacuum", p, commits)(s.emptyDataFrame) { _ =>
        StarBuilder.vacuumVersions(wh, keep)
        Array.empty[Row]
      }
      read(ctx, "read_latest", p, commits, None)
    }
    val (whBytes, _) = dirBytes(new File(wh))
    val (liveBytes, _) = dirBytes(new File(s"$wh/v=$latest"))
    ctx.extra ++= Seq("commits" -> commits, "compactions" -> compactions,
      "bytes_written" -> bytesWritten, "files_written" -> filesWritten,
      "batch_bytes" -> batchBytes, "warehouse_bytes" -> whBytes,
      "latest_snapshot_bytes" -> liveBytes)
  }

  private def pinned(ctx: Ctx, pass: Int, seq: Int): Unit = {
    val older = StarBuilder.committedVersions(wh).dropRight(1)
    if (older.nonEmpty) read(ctx, "read_pinned", pass, seq, Some(older(ctx.rng.nextInt(older.size))))
  }
}
/** Every eligible query once, for recording goldens. */
final class Goldens(sf: String, eligible: Set[String]) extends Workload {
  def setup(ctx: Ctx): Unit = ()
  def run(ctx: Ctx, seconds: Double): Unit =
    eligible.toSeq.sorted.foreach(q => Queries.run(ctx, q, s"${ctx.data}/$sf", 1, 1))
}
