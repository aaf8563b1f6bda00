package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's closed loop. */
final case class Op(kind: String, step: Int, span: Span, error: Option[String],
    traced: Boolean, notes: Map[String, Double])

/** Shared state of one benchmark invocation. */
final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val trace = new Trace
  val rng = new scala.util.Random(args.seed)
  val ops = mutable.ArrayBuffer.empty[Op]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val extra = new java.util.LinkedHashMap[String, Object]()
  def work(name: String): String = Paths.get(args.work, name).toString
  def measured: Double = ops.map(_.span.seconds).sum
  var tracing = false
  private var step = 0

  /** The closed loop: repeats `body` (one step of the workload: a few
    * ops, or one query) until the ops have taken `--seconds` in total
    * and every op kind in `kinds` has run. A traced run also goes on
    * until each of them ran both traced and untraced.
    */
  def loop(kinds: Seq[String])(body: Int => Unit): Unit = {
    def covered = kinds.forall { k =>
      val os = ops.filter(_.kind == k)
      if (args.trace) os.exists(_.traced) && os.exists(!_.traced) else os.nonEmpty
    }
    while (measured < args.seconds || !covered) { body(step); step += 1 }
  }

  /** In a traced run, ops of each kind alternate between untraced and
    * traced (starting side set by the kind), so both sides see the same
    * JVM warm-up and their difference is the tracing overhead. The job
    * listener is attached only around traced ops.
    */
  private val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
  private def setTracing(kind: String): Unit = if (args.trace) {
    val want = (seen(kind) + (kind.hashCode & 1)) % 2 == 1
    seen(kind) += 1
    if (want && !tracing) spark.sparkContext.addSparkListener(trace.listener)
    if (!want && tracing) {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(trace.listener)
    }
    tracing = want
  }

  /** Time `body` as one op of `kind`. `check` runs untimed on the result
    * and returns an error message if the output is wrong; an exception in
    * either marks the op failed and the loop goes on.
    */
  def op[T](kind: String)(body: => T)(check: T => Option[String]): Option[T] = {
    setTracing(kind)
    val start = trace.nowNs
    val (res, err) =
      try { val r = body; (Some(r), None) }
      catch { case e: Exception => (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    val span = Span(kind, "op", start, trace.nowNs)
    val checked = err.orElse(res.flatMap { r =>
      try check(r)
      catch { case e: Exception => Some(s"check failed: ${e.getMessage}") }
    })
    ops += Op(kind, step, span, checked, tracing, Map.empty)
    checked.foreach(e => System.err.println(s"[perfbench] op $kind failed: $e"))
    res
  }

  /** Attach untimed facts (bytes written, partitions re-copied) to the last op. */
  def note(kv: (String, Double)*): Unit =
    ops(ops.size - 1) = ops.last.copy(notes = ops.last.notes ++ kv)

  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupSeconds += (System.nanoTime() - t0) / 1e9
  }
}

/** JVM half of the benchmark. `run.py` compiles this package together
  * with graft's sources and launches it on the copied input tables; it
  * writes one JSON result file that `run.py` turns into the printed line.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: String, work: String, out: String, cpus: Int,
      injectFail: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m.getOrElse("expected", ""),
      m("work"), m("out"), m("cpus").toInt, m.getOrElse("inject-fail", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val spark = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(args.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(args.work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, args)
    try {
      args.workload match {
        case "migrate" => Workloads.migrate(ctx)
        case "query_mix" => Workloads.queryMix(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (args.trace) {
        org.apache.spark.ListenerDrain(spark.sparkContext)
        Layers.report(ctx)
      }
      writeResult(ctx)
    } finally spark.stop()
  }

  /** Peak resident set of this JVM in MiB, from the kernel's high-water mark. */
  def peakRssMb: Double =
    scala.util.Try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)

  private def writeResult(ctx: Ctx): Unit = {
    val root = new java.util.LinkedHashMap[String, Object]()
    root.put("workload", ctx.args.workload)
    root.put("seed", Long.box(ctx.args.seed))
    root.put("setup_s", ctx.setupSeconds.map(Double.box).asJava)
    root.put("ops", ctx.ops.map { o =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("kind", o.kind)
      m.put("s", Double.box(o.span.seconds))
      m.put("step", Int.box(o.step))
      m.put("traced", Boolean.box(o.traced))
      m.put("error", o.error.orNull)
      m
    }.asJava)
    root.put("per_layer", ctx.perLayer.map { case (k, v) => k -> Double.box(v) }.asJava)
    root.putAll(ctx.extra)
    val out = Paths.get(ctx.args.out)
    Files.createDirectories(out.getParent)
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(out.toFile, root)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** Bytes and count of the data files under `p` (hidden and `_` files skipped). */
  def dataFiles(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
      }).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }
}

/** Writes the DuckDB oracle SQL of the `query_mix` queries to a JSON
  * file; `derive_expected.py` evaluates it to derive the expected
  * fingerprints. Usage: `perfbench.OracleDump <out.json>`
  */
object OracleDump {
  def main(argv: Array[String]): Unit = {
    val m = new java.util.TreeMap[String, Object]()
    Workloads.MixQueries.foreach(q => m.put(q, graft.SparkEntry.oracleSql(q)))
    new ObjectMapper().writerWithDefaultPrettyPrinter().writeValue(new java.io.File(argv(0)), m)
  }
}
