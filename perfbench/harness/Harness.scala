package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.{Sessions, SparkEntry}
import graft.pipeline.HimalayanPipeline
import graft.sources.CsvSource

/** Benchmark harness. It reaches the program only through its public entry
  * points (`Sessions.local`, `SparkEntry.queries`, `CsvSource.read`,
  * `HimalayanPipeline.build` / `writeParquet`) and writes one JSON result
  * file; `run.py` turns that into the metrics line.
  *
  * A run is: `setupReps` set-ups (fresh session + one plan-build-only pass
  * over the workload, which runs every eager job a query constructor makes),
  * one cold pass, warm passes until `seconds` have passed since the first
  * of them began (at least `minWarm`), then the output dump the correctness
  * check reads. Every pass releases the session's caches after each query.
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, queries: Seq[String],
                        cpus: Int, setupReps: Int, minWarm: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m.get("queries").toSeq.flatMap(_.split(",")),
      m("cpus").toInt, m("setup-reps").toInt, m("min-warm").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val w: Workload =
      if (a.workload == "star_etl") new StarEtl(a) else new QuerySuite(a)
    val tracer = new Tracer(a.cpus)

    // set-up: the first repetition is timed from JVM start, so it also
    // carries JVM boot and class loading; later ones restart the session
    val setup = ArrayBuffer.empty[Double]
    val sessionStart = ArrayBuffer.empty[Double]
    val staging = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 1 to a.setupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (rep == 1) jvmStart * 1000000L else System.nanoTime()
      val s0 = System.nanoTime()
      spark = Sessions.local(a.cpus.toString)
      val s1 = System.nanoTime()
      w.stage(spark)
      val s2 = System.nanoTime()
      setup += (if (rep == 1) System.currentTimeMillis() / 1e3 - jvmStart / 1e3 else (s2 - t0) / 1e9)
      sessionStart += (s1 - s0) / 1e9
      staging += (s2 - s1) / 1e9
      System.err.println(f"setup $rep%d ${setup.last}%.3f s (session ${sessionStart.last}%.3f s)")
    }
    if (a.trace) tracer.attach(spark)

    // timed window: cold pass, then warm passes. In a traced run the cold
    // pass is traced and the warm passes go untraced, traced, traced,
    // untraced, ... so the in-run overhead estimate cancels a linear drift
    val passes = ArrayBuffer.empty[Pass]
    var warmFrom = 0L
    var p = 0
    while (p < 1 + a.minWarm || (System.nanoTime() - warmFrom) / 1e9 < a.seconds) {
      if (p == 1) warmFrom = System.nanoTime()
      val traced = a.trace && (p == 0 || p % 4 == 2 || p % 4 == 3)
      tracer.enabled = traced
      val done = w.pass(spark, p, new Pass(p, traced), tracer)
      System.err.println(f"pass $p%d ${done.seconds}%.3f s, slowest: " + done.units
        .sortBy(u => -(u._2 + u._3)).take(5)
        .map(u => f"${u._1}%s ${u._2 + u._3}%.3f").mkString(", "))
      passes += done
      p += 1
    }
    tracer.enabled = false

    w.dump(spark)
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""setup_s":${Json.nums(setup)},"session_start_s":${Json.nums(sessionStart)},"""
    json ++= s""""staging_s":${Json.nums(staging)},"""
    json ++= s""""passes":[${passes.map(_.json).mkString(",")}]"""
    json ++= "}"
    write(a.out, json.toString)
    if (a.trace) {
      write(s"${a.work}/spans.jsonl", tracer.spansJsonl)
      write(s"${a.work}/layers.json", tracer.layersJson(staging.toSeq, sessionStart.toSeq))
    }
    spark.stop()
  }

  def failed(pass: Pass, unit: String, e: Exception): Unit = {
    pass.failed += 1
    System.err.println(s"FAILED pass ${pass.index} $unit: $e")
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

/** One timed pass: wall time and, per unit of work (a query or a star
  * table), its build and execute seconds.
  */
final class Pass(val index: Int, val traced: Boolean) {
  var seconds = 0.0
  var failed = 0
  val units = ArrayBuffer.empty[(String, Double, Double)]
  def json: String =
    s"""{"index":$index,"traced":$traced,"seconds":$seconds,"failed":$failed,""" +
      """"units":[""" +
      units.map { case (n, b, e) => s"""[${Json.str(n)},$b,$e]""" }.mkString(",") + "]}"
}

trait Workload {
  def stage(spark: SparkSession): Unit
  def pass(spark: SparkSession, index: Int, pass: Pass, tracer: Tracer): Pass
  def dump(spark: SparkSession): Unit
}

/** `relational` and `corpus`: registry queries into the noop sink, in a
  * per-pass order drawn from the seed.
  */
final class QuerySuite(a: Harness.Args) extends Workload {
  private val registry = SparkEntry.queries
  private val names = a.queries
  require(names.nonEmpty && names.forall(registry.contains),
    s"unknown queries: ${names.filterNot(registry.contains).mkString(",")}")

  def stage(spark: SparkSession): Unit = names.foreach { n =>
    registry(n)(spark, a.data)
    spark.catalog.clearCache()
  }

  def pass(spark: SparkSession, index: Int, pass: Pass, tracer: Tracer): Pass = {
    // the cold pass runs in list order, as a scheduled job would; the seed
    // shuffles the warm passes
    val order =
      if (index == 0) names else new scala.util.Random(a.seed * 1000003L + index).shuffle(names)
    tracer.beginPass(index)
    val p0 = System.nanoTime()
    order.foreach { n =>
      spark.sparkContext.setJobGroup(s"p$index:$n", n, interruptOnCancel = false)
      tracer.beginUnit(n, "query")
      try {
        val b0 = System.nanoTime()
        val df = registry(n)(spark, a.data)
        val b1 = System.nanoTime()
        tracer.built()
        df.write.format("noop").mode("overwrite").save()
        val e1 = System.nanoTime()
        pass.units += ((n, (b1 - b0) / 1e9, (e1 - b1) / 1e9))
      } catch {
        case e: Exception => Harness.failed(pass, n, e)
      }
      tracer.endUnit()
      spark.catalog.clearCache()
    }
    spark.sparkContext.clearJobGroup()
    pass.seconds = (System.nanoTime() - p0) / 1e9
    tracer.endPass()
    pass
  }

  /** Results for the correctness check, written after the timed window:
    * one parquet directory per query, and the program's DuckDB oracles.
    */
  def dump(spark: SparkSession): Unit = {
    names.foreach { n =>
      registry(n)(spark, a.data).write.mode("overwrite").parquet(s"${a.work}/results/$n")
      spark.catalog.clearCache()
    }
    Harness.write(s"${a.work}/oracle_sql.json", SparkEntry.oracleSql
      .filter { case (n, _) => names.contains(n) }
      .map { case (n, q) => s"${Json.str(n)}:${Json.str(q)}" }.mkString("{", ",", "}"))
  }
}

/** `star_etl`: the paper's job. Each pass reads the four extracts through
  * `CsvSource.read`, builds the star with `HimalayanPipeline.build` and
  * writes it with `writeParquet` into a fresh directory.
  */
final class StarEtl(a: Harness.Args) extends Workload {
  private def strings(cols: Seq[String], typed: Map[String, DataType]) =
    StructType(cols.map(c => StructField(c, typed.getOrElse(c, StringType))))
  private val ints = Seq("MYEAR", "MSEASON", "YOB", "CALCAGE", "MSUCCESS", "MO2USED",
    "HIRED", "DEATH", "HOST", "SUCCESS1", "HEIGHTM", "YEAR").map(_ -> IntegerType).toMap
  private def header(f: String) =
    new String(Files.readAllBytes(Paths.get(s"${a.data}/$f")), StandardCharsets.UTF_8)
      .takeWhile(_ != '\n').split(",").toSeq
  private val members = header("members.csv")
  private val expeditions = header("expeditions.csv")
  private val peaks = header("peaks.csv")
  private val wbSchema = StructType(Seq(StructField("COUNTRYCODE", StringType),
    StructField("COUNTRYNAME", StringType), StructField("YEAR", IntegerType),
    StructField("INDICATORCODE", StringType), StructField("VALUE", DoubleType)))
  private var lastOut = ""

  private def read(spark: SparkSession) = (
    CsvSource.read(spark, s"${a.data}/members.csv", strings(members, ints),
      required = members, requireRows = true),
    CsvSource.read(spark, s"${a.data}/expeditions.csv", strings(expeditions, ints),
      required = expeditions, requireRows = true),
    CsvSource.read(spark, s"${a.data}/peaks.csv", strings(peaks, ints),
      required = peaks, requireRows = true),
    CsvSource.read(spark, s"${a.data}/world_bank.csv", wbSchema,
      required = wbSchema.fieldNames.toSeq, requireRows = true))

  /** Set-up resolves the extracts' contracts once (the eager non-empty
    * probes), as a job launch would before its first run.
    */
  def stage(spark: SparkSession): Unit = { read(spark); () }

  def pass(spark: SparkSession, index: Int, pass: Pass, tracer: Tracer): Pass = {
    val out = s"${a.work}/star/pass_$index"
    tracer.beginPass(index)
    val p0 = System.nanoTime()
    spark.sparkContext.setJobGroup(s"p$index:star_build", "star_build",
      interruptOnCancel = false)
    tracer.beginUnit("star_build", "table")
    val b0 = System.nanoTime()
    val tables =
      try {
        val (m, e, pk, wb) = read(spark)
        HimalayanPipeline.build(m, e, pk, wb)
      } catch {
        case e: Exception => Harness.failed(pass, "star_build", e); Map.empty[String, DataFrame]
      }
    val b1 = System.nanoTime()
    tracer.built()
    tracer.endUnit()
    pass.units += (("star_build", (b1 - b0) / 1e9, 0.0))
    // one table per call, in the order writeParquet itself walks the map,
    // so each table gets its own span
    tables.foreach { case (name, df) =>
      spark.sparkContext.setJobGroup(s"p$index:$name", name, interruptOnCancel = false)
      tracer.beginUnit(name, "table")
      tracer.built()
      try {
        val w0 = System.nanoTime()
        HimalayanPipeline.writeParquet(Map(name -> df), out)
        pass.units += ((name, 0.0, (System.nanoTime() - w0) / 1e9))
      } catch {
        case e: Exception => Harness.failed(pass, name, e)
      }
      tracer.endUnit()
    }
    spark.catalog.clearCache()
    spark.sparkContext.clearJobGroup()
    pass.seconds = (System.nanoTime() - p0) / 1e9
    tracer.endPass()
    if (lastOut.nonEmpty) deleteTree(new File(lastOut))
    lastOut = out
    pass
  }

  def dump(spark: SparkSession): Unit =
    Harness.write(s"${a.work}/star_out.txt", lastOut)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def nums(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
}
