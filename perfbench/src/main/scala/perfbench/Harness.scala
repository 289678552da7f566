package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one run. `root` is the run's temp root: every
  * file the run writes goes under it.
  */
final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean, root: String,
    spansOut: Option[String])

/** Session, op bookkeeping, tracing and failure accounting shared by the
  * workloads. Load comes from this one client thread, closed loop, against
  * `local[min(4, nproc)]`.
  */
final class Harness(val args: Args) {
  val tracer = new Tracer(args.trace)

  private val t0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${math.min(4, Runtime.getRuntime.availableProcessors)}]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", s"${args.root}/warehouse")
    .config("spark.local.dir", s"${args.root}/spark-local")
    .config(graft.plans.VectorTopKRule.IndexDirKey, s"${args.root}/index")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  graft.Graft.install(spark)
  /** Session start, paid once per process; part of `setup_s`. */
  val sessionS: Double = (System.nanoTime() - t0) / 1e9

  val layers: Option[Layers] = if (args.trace) Some(new Layers(spark, tracer)) else None

  val ops = ArrayBuffer.empty[Op]
  private val failedOps = scala.collection.mutable.LinkedHashSet.empty[String]
  private var current: String = ""
  private var counter = 0
  /** Ops of the timed window only; warm-up ops are not recorded. */
  var recording = false

  def attempted: Int = ops.size
  def failed: Int = failedOps.size

  /** Runs one op of class `cls` under its own job group and root span.
    * An op that throws is recorded as failed and yields None.
    */
  def op[T](cls: String)(body: String => T): Option[T] = {
    counter += 1
    val id = s"$cls-$counter"
    current = id
    spark.sparkContext.setJobGroup(id, cls)
    val start = tracer.nowMs()
    val result =
      try Some(tracer.span(id, "bench", cls)(body(id)))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $id failed: $e")
          failedOps += id
          None
      } finally spark.sparkContext.clearJobGroup()
    val end = tracer.nowMs()
    if (recording) ops += Op(id, cls, start, end)
    else failedOps -= id
    result
  }

  /** A call into one of the engine's layers, inside the current op. */
  def call[T](layer: String, name: String)(body: => T): T =
    tracer.span(current, layer, name)(body)

  /** Records a failed check against op `id`. */
  def check(id: String, ok: Boolean, what: => String): Unit =
    if (!ok) {
      if (failedOps.size < 20) System.err.println(s"[perfbench] check failed in $id: $what")
      failedOps += id
    }

  def latencies(cls: String): Seq[Double] = ops.filter(_.cls == cls).map(o => o.end - o.start).toSeq

  def windowS: Double =
    if (ops.isEmpty) 0.0 else (ops.map(_.end).max - ops.map(_.start).min) / 1e3

  /** Runs `step` until `seconds` have passed since the first op. */
  def closedLoop(seconds: Double)(step: => Unit): Unit = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < until) step
  }

  /** Sum of file sizes under `dir` (0 when absent). */
  def bytesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }
}

object Harness {

  def timeS[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
}
