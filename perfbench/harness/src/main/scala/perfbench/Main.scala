package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop operation: a query pass or a ControlPlane session.
  * `produceS` is the half that builds data (query construction; serialize)
  * and `consumeS` the half that uses it (the noop writes; training).
  * `check` runs after the timed part and returns the failures found.
  * An operation that threw has NaN timings, written out as null. */
final case class Op(opS: Double, produceS: Double, consumeS: Double, attempted: Int,
                    failures: Seq[String], extra: Map[String, Double], check: () => Seq[String])

trait Workload {
  /** The untimed warm operation that ends set-up: it pays the JIT and
    * codegen cost of a first run, and it checks outputs. */
  def warm(): Op
  /** The measured operation; with `traced`, its calls run in spans. */
  def op(traced: Boolean): Op
  /** An operation that does what a traced one does, with the tracer off:
    * the untraced side of `trace.overhead_s`. The measured operation when
    * the traced one takes the same path. */
  def replay(): Op = op(traced = false)
  /** Whether `replay` takes another path than `op(false)`; trace runs
    * then run all three kinds. */
  def replayDiffers: Boolean = false
  def close(): Unit = ()
}

/** Benchmark harness entry point. Arguments are `key=value` pairs:
  *  - `mode=prepare data=DIR`: run `SparkEntry.prepare` once (the
  *    warehouse snapshot every run starts from).
  *  - `mode=run workload=W seed=N seconds=S trace=0|1 data=DIR run=DIR
  *    out=FILE [queries=q1,q2,...] [archive=ZIP manifest=TSV]`.
  * The result goes to `out` as JSON; the caller turns it into metrics.
  * The JVM's working directory holds `spark-warehouse/`. */
object Main {
  /** Untimed operations after the checked warm one, ending set-up. */
  val WarmOps = 6
  /** Fewest measured operations per run, whatever `seconds` says: every
    * end-to-end metric is a median of at least this many. */
  val MinOps = 5

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    // the JVM's count honours CPU affinity and quotas
    val cpus = Runtime.getRuntime.availableProcessors()
    opts("mode") match {
      case "prepare" =>
        val spark = session(cpus)
        try graft.SparkEntry.prepare(spark, opts("data")) finally spark.stop()
      case "run" => run(opts, cpus)
      case m => sys.error(s"unknown mode $m")
    }
    // ControlPlane.start leaves its handler pool's non-daemon threads
    // running after stop(), which would keep this JVM alive
    System.exit(0)
  }

  /** `body`'s operation, or a failed one with NaN timings if it threw. */
  private def attempt(name: String)(body: => Op): Op =
    try body catch {
      case e: Exception => Op(Double.NaN, Double.NaN, Double.NaN, 1, Seq(s"$name: $e"), Map.empty,
        () => Nil)
    }

  private def session(cpus: Int): SparkSession = {
    val s = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(opts: Map[String, String], cpus: Int): Unit = {
    val workload = opts("workload")
    val trace = opts("trace") == "1"
    val seconds = opts("seconds").toDouble
    val runDir = opts("run")
    val t0 = Clock.now()
    val spark = session(cpus)
    val sessionS = Clock.now() - t0
    val tracer = new Tracer(spark.sparkContext)
    if (trace) tracer.install(spark)
    val t2 = Clock.now()
    val w: Workload = workload match {
      case "ingest_train" =>
        new IngestTrain(spark, runDir, opts("archive"), opts("manifest"), tracer)
      case "table_commits" =>
        val data = opts("data")
        graft.SparkEntry.prepare(spark, data)
        new QueryPasses(spark, data, opts("queries").split(",").toSeq, opts("seed").toLong,
          tracer, s"$runDir/check")
      case other => sys.error(s"unknown workload $other")
    }
    val prepareS = Clock.now() - t2
    val t3 = Clock.now()
    val warm = w.warm()
    var warmAttempted = warm.attempted
    val warmFailures = mutable.ArrayBuffer.from(warm.failures ++ warm.check())
    // a new JVM's operations keep getting faster for several more rounds
    // (JIT); these run the measured path untimed, so timing starts flatter
    for (i <- 1 to WarmOps) {
      val op = attempt(s"warm op $i")(w.op(traced = false))
      warmAttempted += op.attempted
      warmFailures ++= op.failures ++ op.check()
      System.err.println(f"[perfbench] warm op $i op_s=${op.opS}%.3f")
    }
    val warmS = Clock.now() - t3
    System.err.println(f"[perfbench] setup session_s=$sessionS%.3f " +
      f"prepare_s=$prepareS%.3f warm_s=$warmS%.3f warm_failures=${warmFailures.mkString("; ")}")
    val setupEnd = Clock.now()

    def calibrate(): Double = {
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, Tracer.Calibration)
      val c0 = System.nanoTime()
      spark.range(50000000L).selectExpr("sum(id)").collect()
      val c = (System.nanoTime() - c0) / 1e9
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
      c
    }
    val calibration = mutable.ArrayBuffer(calibrate())
    val ops = mutable.ArrayBuffer[(Op, String, Seq[String])]()
    // trace runs repeat the cycle of kinds and end with its first, so each
    // traced operation sits between two untraced ones that make the same
    // calls, and the tracing overhead is a difference warmth does not favour
    val cycle =
      if (!trace) Seq("plain")
      else if (w.replayDiffers) Seq("replay", "traced", "plain")
      else Seq("plain", "traced")
    val deadline = Clock.now() + seconds
    while (ops.size < MinOps || Clock.now() < deadline || ops.size % cycle.size != 1 % cycle.size) {
      val kind = cycle(ops.size % cycle.size)
      tracer.enabled = kind == "traced"
      tracer.op = ops.size
      val op = attempt(s"op ${ops.size}")(kind match {
        case "plain" => w.op(traced = false)
        case "replay" => w.replay()
        case _ => w.op(traced = true)
      })
      tracer.drain()
      tracer.enabled = false
      val failures = op.failures ++ op.check()
      System.err.println(f"[perfbench] op ${ops.size} $kind op_s=${op.opS}%.3f " +
        f"produce_s=${op.produceS}%.3f consume_s=${op.consumeS}%.3f failures=${failures.size}")
      ops += ((op, kind, failures))
      calibration += calibrate()
    }
    w.close()
    val spansFile = if (trace) {
      val p = s"$runDir/spans.jsonl"
      tracer.writeSpans(p)
      p
    } else null
    def timing(x: Double): Any = if (x.isNaN) null else x
    val result = Json.obj(
      "workload" -> workload,
      "cpus" -> cpus,
      "setup_end" -> setupEnd,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepareS,
        "warm_s" -> warmS),
      "warm" -> Map("attempted" -> warmAttempted, "failures" -> warmFailures),
      "ops" -> ops.map { case (op, kind, failures) =>
        Map("op_s" -> timing(op.opS), "produce_s" -> timing(op.produceS),
          "consume_s" -> timing(op.consumeS), "kind" -> kind, "attempted" -> op.attempted,
          "failures" -> failures, "extra" -> op.extra)
      },
      "calibration_s" -> calibration,
      "spans_file" -> spansFile)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), result)
    System.err.println(f"[perfbench] result written at ${Clock.now() - t0}%.1f s after session start")
    spark.stop()
    System.err.println(f"[perfbench] stopped at ${Clock.now() - t0}%.1f s")
  }
}
