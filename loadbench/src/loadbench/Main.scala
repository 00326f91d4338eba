package loadbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run of one workload:
 *
 *   1. generate the seeded inputs (never timed), plus a small warm-up
 *      input generated twice to prove the generator is deterministic;
 *   2. set up three times: SparkSession creation through one warm-up
 *      entry call on the small input (`setup_s` is the median); then one
 *      untimed call on the full input;
 *   3. call the workload's entry point in a closed loop, one call at a
 *      time, for `--seconds`; every call's output is gated, the last
 *      one also read back;
 *   4. with `--trace 1`, repeat the work once with spans and listener
 *      metrics on, and (load_cells_hot only) once more on one core.
 *
 * The last stdout line is `RESULT {json}` with the raw metric values;
 * exit code 1 when a correctness gate failed.
 */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, work: File = new File(".bench_build/work"),
      spans: File = new File(".bench_build/trace/spans.json"))

  private def parse(argv: List[String], o: Opts = Opts()): Opts = argv match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = new File(v)))
    case "--spans" :: v :: t => parse(t, o.copy(spans = new File(v)))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  /** Warm-up input size relative to the measured input. */
  private val WarmScale = 0.2
  private val Setups = 3

  /** Engine defaults from the shared `Sessions` builder; master and
    * shuffle parallelism are measurement parameters sized to the cores,
    * as in `graft.Bench`. */
  def session(cores: Int, work: File): SparkSession = {
    val s = graft.Sessions.withEngineDefaults(SparkSession.builder()
        .appName("loadbench").master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv.toList)) catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  private def json(values: Map[String, Double]): String =
    values.toSeq.sortBy(_._1).map { case (k, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": $v"""
    }.mkString("{", ", ", "}")

  def run(o: Opts): Int = {
    val wl = Workload(o.workload)
    val started = System.nanoTime()
    def log(msg: String): Unit = System.err.println(
      f"[loadbench] ${(System.nanoTime() - started) / 1e9}%6.1f s ${wl.name} seed=${o.seed}: $msg")
    Checks.rmTree(o.work)
    o.work.mkdirs()
    val failures = mutable.ArrayBuffer.empty[String]
    def gate(stage: String, fs: Seq[String]): Unit = failures ++= fs.map(f => s"$stage: $f")

    // 1. inputs
    val in = wl.generate(new File(o.work, "in"), o.seed, 1.0)
    val warmSeed = o.seed ^ 0x5deece66dL
    val warm = wl.generate(new File(o.work, "warm"), warmSeed, WarmScale)
    wl.generate(new File(o.work, "warm-again"), warmSeed, WarmScale)
    wl.generate(new File(o.work, "warm-other"), warmSeed + 1, WarmScale)
    val digests = Seq("warm", "warm-again", "warm-other")
      .map(d => Gen.digest(new File(o.work, s"$d/data")))
    if (digests(0) != digests(1)) failures += "generator: same seed gave different files"
    if (digests(0) == digests(2)) failures += "generator: different seeds gave the same files"
    Seq("warm-again", "warm-other").foreach(d => Checks.rmTree(new File(o.work, d)))
    val out = new File(o.work, "out")
    log("inputs generated")

    // 2. set-up
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      if (spark != null) stop(spark)
      val (call, s) = Checks.timed {
        spark = session(4, o.work)
        wl.call(spark, warm, out)
      }
      gate(s"warm-up $i", call.failures)
      s
    }
    gate("warm-up read-back", wl.deepCheck(spark, warm, out))
    // one untimed call at full size, so JIT and caches have seen it
    gate("full-size warm-up", wl.call(spark, in, out).failures)
    log(s"setup_s ${setups.map(s => f"$s%.2f").mkString(" ")}")

    // 3. closed loop over the entry call
    val calls = mutable.ArrayBuffer.empty[Call]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def gcMs = { var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t }
    while (calls.isEmpty || System.nanoTime() < deadline) {
      val (g0, j0) = (gcMs, jit.getTotalCompilationTime)
      val c = wl.call(spark, in, out)
      log(f"call ${calls.size + 1}: ${c.wallS}%.3f s, gc ${gcMs - g0} ms, " +
        f"jit ${jit.getTotalCompilationTime - j0} ms")
      gate(s"call ${calls.size + 1}", c.failures)
      calls += c
    }
    gate("read-back", wl.deepCheck(spark, in, out))
    val wall = Checks.median(calls.map(_.wallS).toSeq)

    val values: Map[String, Double] =
      if (!o.trace) Map(
        "wall_s" -> wall,
        "rows_per_s" -> calls.head.records / wall,
        "setup_s" -> Checks.median(setups),
        "stored_bytes_per_row" -> Checks.median(calls.map(c => c.storedBytes.toDouble / c.rows).toSeq))
      else {
        // 4. traced repetition
        val runId = s"${wl.name}-${o.seed}"
        val tracer = new Tracer(spark.sparkContext, runId)
        val layers = try wl.traced(spark, in, out, tracer) finally tracer.close()
        gate("traced read-back", wl.deepCheck(spark, in, out))
        tracer.writeSpans(o.spans)
        val speedup =
          if (wl.name != "load_cells_hot") 0.0
          else {
            stop(spark)
            spark = session(1, o.work)
            gate("1-core warm-up", wl.call(spark, warm, out).failures)
            val one = wl.call(spark, in, out)
            gate("1-core call", one.failures)
            one.wallS / wall
          }
        layers - "traced_wall_s" ++ Map(
          "engine.speedup_1core" -> speedup,
          "trace.overhead_s" -> (layers("traced_wall_s") - wall))
      }
    stop(spark)
    Checks.rmTree(o.work)
    log("done")

    failures.foreach(f => System.err.println(s"[loadbench] GATE FAILED $f"))
    val attempted = calls.map(_.sessions + 1).sum
    val failed = calls.map(c => c.failedSessions + (if (c.failures.nonEmpty) 1 else 0)).sum
    println(s"""RESULT {"correct": ${failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "values": ${json(values)}}""")
    if (failures.isEmpty) 0 else 1
  }
}
