package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one workload, one process, a closed loop
  * with one client. Reads only the generated inputs under `--input`,
  * drives the engine's public entry points, materialises every output
  * it times (collect: every column, the final sort included), checks
  * every output, and writes one JSON record (plus, with `--trace 1`,
  * the span log) under `--out`.
  *
  * usage: perfbench.Main --workload <w> --input <dir> --seconds <n>
  *          --trace <0|1> --out <dir> --manifest <file> [--record]
  */
object Main {

  final case class Opts(workload: String, input: String, seconds: Double,
      trace: Boolean, out: String, manifest: String, record: Boolean)

  /** One timed operation: its wall time, the units of work it carried
    * (items or documents; none for a query) and any failed output check. */
  final case class Op(name: String, seconds: Double, units: Long,
      failures: Seq[String])

  /** Order-insensitive digest of collected rows: row count plus a
    * wrapping sum and a xor of per-row 64-bit hashes. */
  final case class Digest(rows: Long, sum: Long, xor: Long) {
    def show: String = f"$rows:$sum%016x:$xor%016x"
  }

  def digest(rows: Array[Row]): Digest = {
    var s = 0L; var x = 0L
    rows.foreach { r =>
      val h = hash64(r.toSeq.map(cell).mkString("\u0001"))
      s += h; x ^= h
    }
    Digest(rows.length.toLong, s, x)
  }

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v1) => cell(k) + "=" + cell(v1) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def hash64(s: String): Long = {
    val b = s.getBytes("UTF-8")
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x3c6ef372)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val load0 = loadavg()
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.Engine.session("perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val gauge0 = gauge()
    val labels = mapper.readTree(Paths.get(o.input, "labels.json").toFile)
    val runId = s"${o.workload}-${labels.get("seed").asLong}-${if (o.trace) 1 else 0}"
    val tracer = if (o.trace) Some(new Tracer(spark, runId)) else None
    Files.createDirectories(Paths.get(o.out))
    val manifest = loadManifest(o.manifest)
    val wl: Workload = o.workload match {
      case "submission" => new Submissions(spark, o, labels, tracer)
      case "batch" => new Batch(spark, o, manifest, tracer)
      case w => sys.error(s"unknown workload '$w'")
    }
    val w0 = System.nanoTime()
    wl.warmUp()
    tracer.foreach(_.reset())
    val warmS = (System.nanoTime() - w0) / 1e9

    val gc0 = gcSeconds()
    val m0 = System.nanoTime()
    val ops = wl.measure(o.seconds)
    val measuredS = (System.nanoTime() - m0) / 1e9
    val finalFailures = wl.finalChecks()
    val gcS = gcSeconds() - gc0
    if (o.record) wl.record(o.manifest)

    // a failed operation contributes no time: it can never read as fast
    val ok = ops.filter(_.failures.isEmpty)
    val times = if (ok.nonEmpty) wl.latencies(ok.toSeq) else Seq(measuredS)
    val failures = ops.flatMap(op => op.failures.map(f => s"${op.name}: $f")) ++ finalFailures
    val failedOps = ops.count(_.failures.nonEmpty) + (if (finalFailures.nonEmpty) 1 else 0)
    val layer = tracer.map(t => wl.layerMetrics(t, ops.toSeq) ++ Seq(
      "trace.op_p50_s" -> median(times),
      "jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> peakHeapMb())).getOrElse(Nil)
    tracer.foreach { t =>
      t.close()
      t.writeJsonl(Paths.get(o.out, s"$runId.spans.jsonl").toString)
    }
    val rec = Json.obj(Seq(
      "run_id" -> Json.str(runId),
      "workload" -> Json.str(o.workload),
      "trace" -> (if (o.trace) "1" else "0"),
      "attempted" -> (ops.size + 1).toString,
      "facts" -> Json.obj(wl.facts.map { case (k, v) => k -> v.toString }),
      "failed" -> failedOps.toString,
      "failures" -> Json.arr(failures.take(20).map(Json.str).toSeq),
      "ops" -> ops.size.toString,
      "op_s" -> Json.arr(ops.map(op => Json.obj(Seq(
        "name" -> Json.str(op.name), "s" -> Json.num(op.seconds),
        "ok" -> op.failures.isEmpty.toString))).toSeq),
      "op_p50_s" -> Json.num(median(times)),
      "op_max_s" -> Json.num(times.max),
      "units" -> ok.map(_.units).sum.toString,
      "unit_seconds" -> Json.num(ok.filter(_.units > 0).map(_.seconds).sum),
      "measured_s" -> Json.num(measuredS),
      "session_s" -> Json.num(sessionS),
      "warmup_s" -> Json.num(warmS),
      "pass_s" -> Json.num(ops.map(_.seconds).sum),
      "gc_s" -> Json.num(gcS),
      "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "host" -> Json.obj(Seq(
        "nproc" -> cpus,
        "loadavg_before" -> Json.str(load0),
        "loadavg_after" -> Json.str(loadavg()),
        "gauge_before_s" -> Json.num(gauge0),
        "gauge_after_s" -> Json.num(gauge()),
        "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "spark_version" -> Json.str(spark.version),
        "java_version" -> Json.str(System.getProperty("java.version"))))))
    Files.write(Paths.get(o.out, s"$runId.json"), (rec + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  private def parse(a: Array[String]): Opts = {
    def arg(k: String): String = {
      val i = a.indexOf(k)
      require(i >= 0 && i + 1 < a.length, s"missing $k")
      a(i + 1)
    }
    Opts(arg("--workload"), arg("--input"), arg("--seconds").toDouble,
      arg("--trace") == "1", arg("--out"), arg("--manifest"),
      a.contains("--record"))
  }

  private def loadManifest(path: String): JsonNode =
    if (Files.exists(Paths.get(path))) mapper.readTree(Paths.get(path).toFile)
    else mapper.createObjectNode()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Host-speed gauge, harness code only: seconds to sort 1M seeded
    * longs on one thread, median of 3. It moves with the host, not with
    * the program, so a slow host shows in the record as such. */
  private def gauge(): Double = {
    val rnd = new java.util.Random(42L)
    val base = Array.fill(1000000)(rnd.nextLong())
    median((1 to 3).map { _ =>
      val a = base.clone()
      val t = System.nanoTime()
      java.util.Arrays.sort(a)
      (System.nanoTime() - t) / 1e9
    })
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: java.io.IOException => "unknown" }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def peakHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** One workload: set-up and warm-up, the measured operations, output
  * checks, and the per-layer metrics of a traced run. */
abstract class Workload(spark: SparkSession, tracer: Option[Tracer]) {
  import Main.Op

  def span[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** Everything before measurement starts: counted in setup_s. */
  def warmUp(): Unit
  /** The measured operations of one run. */
  def measure(seconds: Double): Seq[Op]
  /** Checks that run once after measurement; a failure fails the run. */
  def finalChecks(): Seq[String] = Nil
  /** Input and output sizes the run saw, for the record. */
  def facts: Seq[(String, Long)] = Nil
  /** The latencies `op_p50_s` is the median of: one per operation. */
  def latencies(ok: Seq[Op]): Seq[Double] = ok.map(_.seconds)
  def record(manifestPath: String): Unit = ()
  def layerMetrics(t: Tracer, ops: Seq[Op]): Seq[(String, Double)]

  /** Median over a run of the spans with this name. */
  protected def spanMedian(t: Tracer, name: String): Double =
    Main.median(t.all.filter(_.name == name).map(_.seconds))

  /** Times `body` alone, then checks its value; a call that throws
    * counts as a failed operation, never as a fast one. */
  protected def guarded[T](name: String, units: Long)(body: => T)(
      check: T => Seq[String]): Op = {
    val t = System.nanoTime()
    try {
      val v = body
      val s = (System.nanoTime() - t) / 1e9
      Op(name, s, units, check(v))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Op(name, (System.nanoTime() - t) / 1e9, units,
          Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
  }

  /** Rewrites the manifest with these top-level entries. */
  protected def updateManifest(path: String,
      entries: Seq[(String, com.fasterxml.jackson.databind.node.ObjectNode)]): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    entries.foreach { case (k, v) => root.set[JsonNode](k, v) }
    m.writerWithDefaultPrettyPrinter().writeValue(Paths.get(path).toFile, root)
  }
}
