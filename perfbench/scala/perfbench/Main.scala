package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One closed-loop operation: `attempted`/`failed` count what the workload
  * calls an operation (a doc, a curate call, a commit); `docs` are the input
  * docs it finished; `ns` is its timed section only. */
final case class Op(attempted: Long, failed: Long, docs: Long, ns: Long) {
  def docsPerSec: Double = docs / (ns / 1e9)
}

/** Everything a workload needs from the run. */
final class Env(val spark: SparkSession, val threads: Int, val seed: Long, val work: String) {
  /** Partition count of inputs and of every exchange: fixed per box, the
    * same at local[threads] and local[1]. */
  val parts: Int = Settings.parts(threads)

  /** First row id of the seed's window. `PagesGen.makePage(i)` is a pure
    * function of `i`, so the seed picks which rows exist and nothing else. */
  val firstRow: Long = 1L + Math.floorMod(seed, 1000000L) * 100000L
}

/** Pinned run settings: constants of the benchmark, printed by every run. */
object Settings {
  def parts(threads: Int): Int = 2 * threads

  def sparkConf(master: String, threads: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> master,
    "spark.sql.shuffle.partitions" -> parts(threads).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def session(master: String, threads: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    sparkConf(master, threads, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** A benchmark workload: set-up that builds its inputs, one closed-loop
  * operation, output checks, and the traced decomposition. */
trait Workload {
  type State
  def setup(dir: String): State
  /** Untimed work before set-up: the reference outputs, computed without
    * Spark from the generated rows (it also warms the per-row code). */
  def prepare(): Unit = ()
  /** Untimed operations before the loop: the JIT needs about four to settle. */
  def warmupOps: Int = 4
  def op(s: State, i: Int): Op
  /** Untimed work after operation `i`: reading back what it wrote. */
  def afterOp(s: State, i: Int): Unit = ()
  /** Named pass/fail output checks over the operations just run. */
  def check(s: State, ops: Seq[Op]): Seq[(String, Boolean)]
  /** Measured properties of the generated inputs. */
  def inputs(s: State): Map[String, Any]
  /** Per-layer metrics from the traced decomposition. `opSec` is the median
    * untraced operation time, `opDocsPerSec` its throughput. */
  def traced(s: State, st: Stages, opSec: Double, opDocsPerSec: Double,
             extra: mutable.Map[String, Any]): Map[String, Double]
}

/**
 * Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1>
 * <threads> <workDir> <resultFile>`. Writes one JSON object to `resultFile`;
 * `run.py` turns it into the benchmark's output line.
 */
object Main {
  /** Untraced runs report set-up and throughput as medians of these many
    * set-ups and operations; a traced run reports neither and does less. */
  def setupReps(trace: Boolean): Int = if (trace) 1 else 3
  def minOps(trace: Boolean): Int = if (trace) 2 else 3

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(workload, seedS, secondsS, traceS, threadsS, work, resultFile) = argv
    val threads = threadsS.toInt
    val trace = traceS == "1"
    val seconds = secondsS.toDouble

    val t0 = System.nanoTime()
    val spark = Settings.session(s"local[$threads]", threads, work)
    val counts = if (trace) {
      val c = new SparkCounts(spark.sparkContext); spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    val sessionSec = (System.nanoTime() - t0) / 1e9
    val env = new Env(spark, threads, seedS.toLong, work)
    val w: Workload = Workloads(workload, env)

    val prepStart = System.nanoTime()
    w.prepare()
    val prepSec = (System.nanoTime() - prepStart) / 1e9

    // set-up: built several times from scratch, the median counts; the
    // last build is the one the loop runs on
    val setups = (1 to setupReps(trace)).map { k =>
      val s = System.nanoTime()
      val state = w.setup(s"$work/setup$k")
      val sec = (System.nanoTime() - s) / 1e9
      println(f"perfbench: setup $k took $sec%.3f s")
      (state, sec)
    }
    val state = setups.last._1
    val warmStart = System.nanoTime()
    val warm = (1 to w.warmupOps).map { k => // JIT and lazy program set-up
      val o = w.op(state, -k)
      w.afterOp(state, -k)
      println(f"perfbench: warm-up op $k took ${o.ns / 1e9}%.3f s")
      o
    }
    val loopStart = System.nanoTime()
    val setupSec = sessionSec + Util.median(setups.map(_._2)) + (loopStart - warmStart) / 1e9

    // the closed loop: one driver thread, one operation (and so one Spark
    // job) in flight, the next issued when the previous returns
    val ops = mutable.ArrayBuffer.empty[Op]
    val perOp = mutable.ArrayBuffer.empty[Counts]
    val c0 = counts.map(_.snapshot())
    var busyNs = 0L
    while (ops.size < minOps(trace) || busyNs < seconds * 1e9) {
      val before = counts.map(_.snapshot())
      val o = w.op(state, ops.size)
      println(f"perfbench: op ${ops.size} took ${o.ns / 1e9}%.3f s")
      counts.foreach(c => perOp += (c.snapshot() - before.get))
      w.afterOp(state, ops.size)
      ops += o
      busyNs += o.ns
    }
    val c1 = counts.map(_.snapshot())
    val heapMiB = retainedHeapMiB()
    val loopEnd = System.nanoTime()

    val checks = w.check(state, ops.toSeq) :+ ("warmup_ok" -> warm.forall(_.failed == 0))
    val checkEnd = System.nanoTime()
    val correct = checks.forall(_._2)
    val attempted = ops.map(_.attempted).sum
    val failed = if (correct) ops.map(_.failed).sum else attempted
    val docsPerSec = Util.median(ops.map(_.docsPerSec).toSeq)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seedS.toLong, "trace" -> trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.toMap,
      "ops" -> ops.size, "op_seconds" -> ops.map(_.ns / 1e9),
      "settings" -> (Settings.sparkConf(s"local[$threads]", threads, work).toMap ++ Map(
        "threads" -> threads.toString, "setup_reps" -> setupReps(trace).toString,
        "first_row" -> env.firstRow.toString,
        "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.mkString(" "))),
      "phases_s" -> Map("session" -> sessionSec, "setups" -> setups.map(_._2),
        "reference" -> prepSec,
        "warmup" -> (loopStart - warmStart) / 1e9, "loop" -> (loopEnd - loopStart) / 1e9,
        "checks" -> (checkEnd - loopEnd) / 1e9),
      "inputs" -> w.inputs(state))

    if (!trace) {
      result("metrics") = Map(
        "docs_per_s" -> metric(docsPerSec, "docs/s"),
        "setup_s" -> metric(setupSec, "s"),
        "retained_heap_mb" -> metric(heapMiB, "MiB"))
    } else {
      val c = counts.get
      val tracer = new Tracer(s"$workload-seed$seedS")
      val extra = mutable.LinkedHashMap.empty[String, Any]
      val opSec = Util.median(ops.map(_.ns / 1e9).toSeq)
      val layer = w.traced(state, new Stages(tracer, c), opSec, docsPerSec, extra)
      val spans = tracer.spans
      val sparkM = sparkMetrics(c, c0.get, c1.get, perOp.toSeq, busyNs, threads)
      val perLayer = layer ++ sparkM._1
      result("metrics") = Metrics.PerLayer.map { case (name, unit) =>
        name -> metric(perLayer.getOrElse(name, 0.0), unit)
      }.toMap
      result("repeats") = sparkM._2 ++ extra.getOrElse("repeats", Map.empty[String, Boolean])
        .asInstanceOf[Map[String, Boolean]]
      result("layers") = Layers.table(spans).map(r => Map(
        "name" -> r.name, "calls" -> r.calls, "total_s" -> r.totalNs / 1e9,
        "self_s" -> r.selfNs / 1e9, "alloc_bytes" -> r.allocBytes))
      result("checks") = checks.toMap ++
        extra.getOrElse("checks", Map.empty[String, Boolean]).asInstanceOf[Map[String, Boolean]]
      extra.get("exports").foreach(result("exports") = _)
      result("trace_info") = extra.filter { case (k, _) => !Set("repeats", "checks", "exports")(k) }
      result("untraced") = Map("docs_per_s" -> docsPerSec, "setup_s" -> setupSec,
        "retained_heap_mb" -> heapMiB)
      val spanFile = s"$work/spans.jsonl"
      val pw = new java.io.PrintWriter(spanFile, "UTF-8")
      try spans.foreach(s => pw.println(Layers.spanJson(s))) finally pw.close()
      result("spans_file") = spanFile
    }

    val pw = new java.io.PrintWriter(resultFile, "UTF-8")
    try pw.println(Util.json(result)) finally pw.close()
    spark.stop()
  }

  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  /** Heap in use after full collections: what the run left reachable. */
  def retainedHeapMiB(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `spark.*` per-layer metrics over the untraced timed loop, per operation,
    * plus whether each count repeated exactly across the loop's operations. */
  def sparkMetrics(c: SparkCounts, c0: Counts, c1: Counts, perOp: Seq[Counts],
                   busyNs: Long, threads: Int): (Map[String, Double], Map[String, Boolean]) = {
    val d = c1 - c0
    val n = math.max(1, perOp.size).toDouble
    val m = Map(
      "spark.jobs" -> d.jobs / n,
      "spark.stages" -> d.stages / n,
      "spark.tasks" -> d.tasks / n,
      "spark.shuffle_write_bytes" -> d.shuffleWriteBytes / n,
      "spark.shuffle_read_bytes" -> d.shuffleReadBytes / n,
      "spark.spill_bytes" -> d.spillBytes / n,
      "spark.task_skew" -> c.worstSkew(c0, c1),
      "spark.core_busy_share" -> d.taskNs.toDouble / (busyNs.toDouble * threads),
      "spark.gc_share" -> (if (d.runNs == 0) 0.0 else d.gcMs * 1e6 / d.runNs),
      "spark.task_deser_share" ->
        (if (d.runNs + d.deserNs == 0) 0.0 else d.deserNs.toDouble / (d.runNs + d.deserNs)))
    val keys = Seq("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")
    val rep = keys.map(k => s"spark.$k" -> (perOp.map(_.toMap(k)).distinct.size == 1)).toMap
    (m, rep)
  }
}
