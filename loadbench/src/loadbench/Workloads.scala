package loadbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.cli.Hdfs2CassSpark
import graft.core.{CassandraParams, CassandraTokens, CqlValueCodec, StaticClusterInfo}
import graft.operators.{CqlPipeline, Curate, Dedup, TextAnalysis}
import graft.operators.CqlPipeline.Projection
import graft.sinks.{BulkSink, InProcessCluster, LoaderPlan, StreamLoader}

/** One timed entry call: its wall time, what it loaded, and the gate
  * failures found in its output (empty = correct). */
final case class Call(wallS: Double, records: Long, rows: Long,
    storedBytes: Long, sessions: Int, failedSessions: Int, failures: Seq[String])

trait Workload {
  type In
  def name: String
  /** Seeded inputs under `dir`; `scale` shrinks them for the warm-up. */
  def generate(dir: File, seed: Long, scale: Double): In
  /** The timed entry call into `out`, with the cheap output gates. */
  def call(spark: SparkSession, in: In, out: File): Call
  /** Read-back gates on the output of the last call into `out`. */
  def deepCheck(spark: SparkSession, in: In, out: File): Seq[String]
  /** The same work with the layers called one by one inside spans;
    * returns the per-layer metrics. */
  def traced(spark: SparkSession, in: In, out: File, t: Tracer): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("load_cells_hot", "curate_docs")

  def apply(name: String): Workload = name match {
    case "load_cells_hot" => new CellsLoad(records = 100000)
    case "curate_docs"    => new CurateDocs(docs = 3000)
    case other => throw new IllegalArgumentException(
      s"unknown workload: $other (one of ${Names.mkString(", ")})")
  }
}

/** Peak JVM heap used during a call: the sum of the heap pools' peaks. */
object Heap {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  /** Collect, then restart every heap pool's peak from current usage. */
  def reset(): Unit = { System.gc(); pools.foreach(_.resetPeakUsage()) }
  def peakMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Checks {
  def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  def diskBytes(dir: File): Long = Option(dir.listFiles()).toSeq.flatten
    .map(f => if (f.isDirectory) diskBytes(f) else f.length).sum

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile, 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s((math.ceil(p * s.length).toInt - 1).max(0))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Manifest gates: row total, sortedness, one ring bucket per run and
    * rows per bucket equal to what the generator computed. */
  def manifests(ms: Seq[BulkSink.PartitionManifest], rows: Long,
      perBucket: Array[Long]): Seq[String] = {
    val got = new Array[Long](Gen.Buckets)
    val straddling = ms.filter(_.rows > 0).flatMap { m =>
      val b = CassandraTokens.bucketOfToken(m.minToken, Gen.Buckets)
      got(b) += m.rows
      Option.when(CassandraTokens.bucketOfToken(m.maxToken, Gen.Buckets) != b)(
        s"run ${m.dataFile} spans more than one ring bucket")
    }
    Seq(
      Option.when(ms.map(_.rows).sum != rows)(
        s"manifest rows ${ms.map(_.rows).sum} != expected $rows"),
      Option.when(!ms.forall(_.sorted))("a manifest has sorted=false"),
      Option.when(!got.sameElements(perBucket))(
        s"rows per bucket ${got.mkString(",")} != expected ${perBucket.mkString(",")}")
    ).flatten ++ straddling
  }

  /** (pk, value) of every record of a bulk directory, read back through
    * the graft-bulk reader. */
  def readBack(spark: SparkSession, dir: File): DataFrame =
    spark.read.format("graft-bulk").option("path", dir.getPath).load()
      .select("pk", "value")

  /** Write-path metrics of the tasks and jobs under the `sinks.write`
    * span, plus run counts and bytes from the manifests. */
  def sinkLayer(t: Tracer, ms: Seq[BulkSink.PartitionManifest]): Map[String, Double] = {
    val write = t.tasksIn("sinks.write")
    val resultStages = write.filterNot(_.shuffleMap).groupBy(_.stageId)
    // the run-writing stage: the result stage with one task per run
    val durations = if (resultStages.isEmpty) Seq.empty[Double]
      else resultStages.maxBy(_._2.size)._2.map(_.durationMs.toDouble)
    val rows = ms.map(_.rows).sum.toDouble
    Map(
      "sinks.write_s" -> t.seconds("sinks.write"),
      "sinks.jobs" -> t.jobsIn("sinks.write").size.toDouble,
      "sinks.map_busy_s" -> write.filter(_.shuffleMap).map(_.runMs).sum / 1e3,
      "sinks.reduce_busy_s" -> write.filterNot(_.shuffleMap).map(_.runMs).sum / 1e3,
      "sinks.cpu_s" -> write.map(_.cpuNs).sum / 1e9,
      "sinks.gc_s" -> write.map(_.gcMs).sum / 1e3,
      "sinks.fetch_wait_s" -> write.map(_.fetchWaitMs).sum / 1e3,
      "sinks.shuffle_bytes" -> write.map(_.shuffleWriteBytes).sum.toDouble,
      "sinks.spill_bytes" -> write.map(_.diskSpillBytes).sum.toDouble,
      "sinks.reduce_task_skew" -> (if (durations.isEmpty) 0.0
        else durations.max / math.max(1.0, median(durations))),
      "sinks.bucket_rows_skew" -> ms.map(_.rows).max / (rows / ms.size),
      "sinks.runs" -> ms.size.toDouble,
      "sinks.run_logical_bytes" -> ms.map(_.bytes).sum.toDouble,
      "sinks.run_physical_bytes" -> ms.map(_.physicalBytes).sum.toDouble)
  }

  /** Source-layer metrics of the `sources.scan` span (a scan of `input`
    * into noop). The input's bytes are its files' on-disk size: the
    * parquet reader's task `bytesRead` counts only part of what it reads. */
  def sourceLayer(t: Tracer, input: File): Map[String, Double] =
    Map("sources.scan_s" -> t.seconds("sources.scan"),
      "sources.rows" -> t.tasksIn("sources.scan").map(_.recordsRead).sum.toDouble,
      "sources.input_bytes" -> diskBytes(input).toDouble)

  /** Listener totals of the traced entry call `root`; `sessions` and
    * `failedSessions` join the tasks in the failed-operation share. */
  def engineLayer(t: Tracer, root: String, sessions: Int,
      failedSessions: Int): Map[String, Double] = {
    val tasks = t.tasksIn(root)
    val failed = tasks.count(_.failed)
    Map("engine.jobs" -> t.jobsIn(root).size.toDouble,
      "engine.stages" -> t.stagesIn(root).toDouble,
      "engine.tasks" -> tasks.size.toDouble,
      "engine.task_failures" -> failed.toDouble,
      "failed_frac" -> (failed + failedSessions).toDouble / (tasks.size + sessions).max(1),
      "traced_wall_s" -> t.seconds(root))
  }
}

/** A `thrift://` cell load with auto-salting, lz4 runs and an rf=2
  * stream, through the production CLI (`Hdfs2CassSpark.run`). */
final class CellsLoad(records: Int) extends Workload {
  val name = "load_cells_hot"
  final case class In(data: File, ring: File, truth: LoadTruth)

  private val Hosts = Seq("node-0", "node-1", "node-2", "node-3")
  /** 4 nodes x 8 vnodes, the same ring for every seed. */
  private val Ring: Seq[(String, Seq[Long])] = {
    val rnd = new java.util.SplittableRandom(0x716eL)
    val toks = Seq.fill(32)(rnd.nextLong()).sorted
    Hosts.zipWithIndex.map { case (h, i) => h -> toks.indices.filter(_ % 4 == i).map(toks) }
  }
  private val rf = 2
  private val uri = "thrift://127.0.0.1:9160/bench/cells?reducers=16&saltbuckets=auto" +
    "&compressionclass=lz4&replication=2"

  def generate(dir: File, seed: Long, scale: Double): In = {
    val n = math.max(1000, (records * scale).toInt)
    val data = new File(dir, "data")
    val truth = Gen.cells(data, seed, n, files = 4)
    val ring = new File(dir, "ring.json")
    val nodes = Ring.map { case (h, ts) =>
      s"""{"host": "$h", "tokens": [${ts.mkString(", ")}]}""" }
    Files.write(ring.toPath, (s"""{"partitioner": "${CassandraParams.Murmur3Partitioner}", """ +
      s""""nodes": [${nodes.mkString(", ")}], "rf": $rf}""").getBytes(StandardCharsets.UTF_8))
    In(data, ring, truth)
  }

  private def argv(in: In, out: File, endpoints: Map[String, (String, Int)]): Seq[String] =
    Seq("--input", in.data.getPath, "--output", uri, "--format", "parquet",
      "--rowkey", "key", "--timestamp", "ts", "--cluster-info", in.ring.getPath,
      "--sink-dir", out.getPath, "--stream-endpoints", endpoints.toSeq.sortBy(_._1)
        .map { case (h, (a, p)) => s"$h=$a:$p" }.mkString(","))

  private val PlanEntry = """"([^"]+)": \[([^\]]*)\]""".r

  /** Stream gates: every planned (file, replica) session arrived with the
    * manifest's row count in sorted order, each file was planned to at
    * least rf replicas, and nothing unplanned arrived. Returns (sessions,
    * failed sessions, failures). */
  private def streamGates(ms: Seq[BulkSink.PartitionManifest], plan: Map[String, Set[String]],
      received: Map[(String, String), InProcessCluster#Received]): (Int, Int, Seq[String]) = {
    val byFile = ms.map(m => m.dataFile -> m).toMap
    val pairs = plan.toSeq.flatMap { case (f, hs) => hs.map(h => (h, f)) }
    val bad = pairs.filterNot { case (h, f) =>
      received.get((h, f)).exists(r => r.rows == byFile(f).rows && r.sortedOk)
    }
    val failures = Seq(
      Option.when(bad.nonEmpty)(s"${bad.size} stream sessions missing, short or unsorted: ${bad.take(3)}"),
      Option.when(plan.exists(_._2.size < rf))(s"a run was planned to fewer than $rf replicas"),
      Option.when(ms.exists(m => m.rows > 0 && !plan.contains(m.dataFile)))("a run has no stream plan"),
      Option.when(!received.keySet.subsetOf(pairs.toSet))("a replica received an unplanned file")
    ).flatten
    (pairs.size, bad.size, failures)
  }

  def call(spark: SparkSession, in: In, out: File): Call = {
    Checks.rmTree(out)
    val cluster = new InProcessCluster(Hosts, ring = Ring.toMap)
    val endpoints = cluster.start()
    try {
      val args = Hdfs2CassSpark.parseArgs(argv(in, out, endpoints))
      System.gc() // every call starts from a collected heap
      val (ms, wall) = Checks.timed(Hdfs2CassSpark.run(spark, args))
      val plan = PlanEntry.findAllMatchIn(new String(Files.readAllBytes(
          new File(out, "_STREAM_PLAN.json").toPath), StandardCharsets.UTF_8))
        .map(m => m.group(1) -> m.group(2).split(",").map(_.trim.stripPrefix("\"")
          .stripSuffix("\"")).filter(_.nonEmpty).toSet).toMap
      val (sessions, failed, streamFailures) = streamGates(ms, plan, cluster.receivedStreams)
      Call(wall, in.truth.rows / Gen.CellColumns.size, ms.map(_.rows).sum,
        Checks.diskBytes(out), sessions, failed,
        Checks.manifests(ms, in.truth.rows, in.truth.perBucket) ++ streamFailures)
    } finally cluster.stop()
  }

  def deepCheck(spark: SparkSession, in: In, out: File): Seq[String] = {
    val (n, sum) = Checks.readBack(spark, out).rdd
      .map(r => (1L, Gen.recordHash(r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Seq(
      Option.when(n != in.truth.rows)(s"read back $n records, expected ${in.truth.rows}"),
      Option.when(sum != in.truth.checksum)(
        s"read-back checksum $sum != generator checksum ${in.truth.checksum}")
    ).flatten
  }

  private def read(spark: SparkSession, in: In): DataFrame = spark.read.parquet(in.data.getPath)

  private def project(df: DataFrame): DataFrame =
    CqlPipeline.toCells(df, Projection(rowkey = Some("key"), timestampField = Some("ts"),
      defaultTimestampMicros = System.currentTimeMillis() * 1000L))

  /** `Hdfs2CassSpark.run`'s steps for this target, called in the CLI's
    * order with a span around each layer. */
  def traced(spark: SparkSession, in: In, out: File, t: Tracer): Map[String, Double] = {
    Checks.rmTree(out)
    val cluster = new InProcessCluster(Hosts, ring = Ring.toMap)
    val tap = new SessionTap(cluster.start())
    try {
      Heap.reset()
      val (ms, summary) = t.span("cli.run") {
        val info = StaticClusterInfo.fromJsonFile(in.ring.getPath)
        val params = CassandraParams.parse(uri, info)
        val input = t.span("sources.read")(read(spark, in))
        val projected = t.span("operators.project")(project(input))
        val toWrite =
          if (params.saltAuto) t.span("cli.checkpoint")(projected.localCheckpoint())
          else projected
        val salts =
          if (params.saltAuto)
            t.span("sinks.salt_plan")(BulkSink.planSalts(toWrite, Seq("rowkey"), params.reducers))
          else params.saltBuckets
        val ms = t.span("sinks.write") {
          if (salts.nonEmpty)
            BulkSink.writeSortedSalted(toWrite, Seq("rowkey"), params.reducers,
              out.getPath, salts, compression = params.compressionClass)
          else
            BulkSink.writeSorted(toWrite, Seq("rowkey"), params.reducers, out.getPath,
              compression = params.compressionClass)
        }
        val nodes = info.ring.map { case (h, ts) => LoaderPlan.RingNode(h, ts) }
        val planRf = params.replication.orElse(info.replicationFactor).get.min(nodes.length)
        val plan = t.span("sinks.plan")(LoaderPlan.planStreams(ms, nodes, planRf))
        InProcessCluster.writePlanJson(out.getPath, plan)
        val summary = t.span("sinks.stream") {
          StreamLoader.stream(out.getPath, plan, tap.endpoints, ms,
            throttleMBits = params.streamThrottleMBits)
        }
        (ms, summary)
      }
      val heap = Heap.peakMb()
      // layer baselines outside the run: the scan alone, then scan + projection
      t.span("sources.scan")(Checks.noop(read(spark, in)))
      t.span("operators.project_scan")(Checks.noop(project(read(spark, in))))
      t.drain()

      val sessionMs = tap.sessionMs
      val rows = ms.map(_.rows).sum.toDouble
      Checks.sourceLayer(t, in.data) ++ Checks.sinkLayer(t, ms) ++
        Checks.engineLayer(t, "cli.run", summary.sessions.size, summary.failed.size) ++ Map(
        "operators.project_s" -> (t.seconds("operators.project_scan") - t.seconds("sources.scan")),
        "operators.rows_out" -> rows, // every projected cell is loaded (gated)
        "sinks.salt_plan_s" -> t.seconds("sinks.salt_plan"),
        "sinks.merge_s" -> t.jobsIn("sinks.write").filter(_.fromParallelize)
          .map(j => (j.endMs - j.startMs) / 1e3).sum,
        "sinks.plan_s" -> t.seconds("sinks.plan"),
        "sinks.stream_s" -> t.seconds("sinks.stream"),
        "sinks.stream_mb_per_s" -> tap.bytesIn / 1e6 / t.seconds("sinks.stream"),
        "sinks.sessions" -> summary.sessions.size.toDouble,
        "sinks.failed_sessions" -> summary.failed.size.toDouble,
        "sinks.session_ms_p50" -> Checks.percentile(sessionMs, 0.5),
        "sinks.session_ms_p80" -> Checks.percentile(sessionMs, 0.8),
        "streamed_bytes_per_row" -> tap.bytesIn / rows,
        "cli.self_s" -> t.selfSeconds("cli.run"),
        "cli.checkpoint_s" -> t.seconds("cli.checkpoint"),
        "heap_peak_mb" -> heap)
    } finally { tap.close(); cluster.stop() }
  }
}

/** Corpus curation (`Curate.curateCorpus`) written as 16 sorted runs. */
final class CurateDocs(docs: Int) extends Workload {
  final case class In(data: File, truth: CurateTruth)
  val name = "curate_docs"

  def generate(dir: File, seed: Long, scale: Double): In = {
    val data = new File(dir, "data")
    In(data, Gen.docs(data, seed, math.max(400, (docs * scale).toInt), files = 4))
  }

  /** Stage counts the generator planted, and the survivors' row total. */
  private def statGates(in: In, stats: Curate.CurationStats,
      ms: Seq[BulkSink.PartitionManifest]): Seq[String] = {
    val t = in.truth
    val quality = t.docs - t.lowQuality.size
    val lang = quality - t.nonEnglish.size
    val exact = lang - t.exactCopies.size
    Seq(
      Option.when(stats.input != t.docs)(s"input ${stats.input} != ${t.docs}"),
      Option.when(stats.afterQuality != quality)(s"afterQuality ${stats.afterQuality} != $quality"),
      Option.when(stats.afterLang != lang)(s"afterLang ${stats.afterLang} != $lang"),
      Option.when(stats.afterExact != exact)(s"afterExact ${stats.afterExact} != $exact"),
      Option.when(ms.map(_.rows).sum != stats.afterNearDup)(
        s"written rows ${ms.map(_.rows).sum} != afterNearDup ${stats.afterNearDup}"),
      Option.when(!ms.forall(_.sorted))("a manifest has sorted=false")
    ).flatten
  }

  def call(spark: SparkSession, in: In, out: File): Call = {
    Checks.rmTree(out)
    System.gc() // every call starts from a collected heap
    val ((stats, ms), wall) = Checks.timed {
      val (curated, stats) =
        Curate.curateCorpus(spark.read.parquet(in.data.getPath), "id", "text")
      (stats, BulkSink.writeSorted(curated, Seq("id"), Gen.Buckets, out.getPath))
    }
    Call(wall, in.truth.docs, ms.map(_.rows).sum, Checks.diskBytes(out), 0, 0,
      statGates(in, stats, ms))
  }

  /** (recall, precision) of a predicted near-duplicate loser set. */
  private def scores(in: In, losers: Set[Long]): (Double, Double) = {
    val truth = in.truth.nearDupLosers
    val hit = (losers intersect truth).size.toDouble
    (hit / truth.size.max(1), if (losers.isEmpty) 1.0 else hit / losers.size)
  }

  /** Pinned: LSH (4 bands x 2 rows) finds a 0.87-Jaccard neighbour pair
    * with probability ~0.997, so a few chains may split per seed. */
  private val MinRecall = 0.95

  def deepCheck(spark: SparkSession, in: In, out: File): Seq[String] = {
    val ids = Checks.readBack(spark, out).select("pk").collect()
      .map(r => java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](0)).getLong).toSeq
    val kept = ids.toSet
    val survivors = in.truth.exactSurvivors
    val (recall, precision) = scores(in, survivors -- kept)
    val perBucket = new Array[Long](Gen.Buckets)
    ids.foreach(id => perBucket(Gen.bucketOf(CqlValueCodec.serializeLong(id))) += 1)
    Seq(
      Option.when(kept.size != ids.size)("a document was written twice"),
      Option.when(!kept.subsetOf(survivors))("a filtered or exact-duplicate document was kept"),
      Option.when(precision < 1.0)(s"near-dup precision $precision < 1.0"),
      Option.when(recall < MinRecall)(s"near-dup recall $recall < $MinRecall")
    ).flatten ++ Checks.manifests(BulkSink.readManifests(out), ids.size, perBucket)
  }

  def traced(spark: SparkSession, in: In, out: File, t: Tracer): Map[String, Double] = {
    Checks.rmTree(out)
    Heap.reset()
    val ms = t.span("bench.curate") {
      val docsDf = t.span("sources.read")(spark.read.parquet(in.data.getPath))
      val (curated, _) = t.span("operators.curate")(Curate.curateCorpus(docsDf, "id", "text"))
      t.span("sinks.write")(BulkSink.writeSorted(curated, Seq("id"), Gen.Buckets, out.getPath))
    }
    val heap = Heap.peakMb()
    // the curation's layers one by one, on the same documents
    t.span("sources.scan")(Checks.noop(spark.read.parquet(in.data.getPath)))
    val docsDf = spark.read.parquet(in.data.getPath)
    t.span("operators.quality")(Checks.noop(
      TextAnalysis.withLangId(TextAnalysis.withQuality(docsDf, "text"), "text")
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))))
    val survivors = spark.createDataFrame(
      in.truth.exactSurvivors.toSeq.sorted.map(Tuple1(_))).toDF("id")
    val exact = docsDf.join(broadcast(survivors), "id")
    val pairs = t.span("operators.lsh_pairs")(Dedup.minhashLshPairs(exact, "id", "text"))
    val nPairs = pairs.count()
    val clusters = t.span("operators.clusters")(Dedup.dupClusters(pairs).collect())
    val (recall, precision) = scores(in,
      clusters.filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSet)
    t.drain()

    Checks.sourceLayer(t, in.data) ++ Checks.sinkLayer(t, ms) ++
      Checks.engineLayer(t, "bench.curate", 0, 0) ++ Map(
      "operators.curate_s" -> t.seconds("operators.curate"),
      "operators.curate_jobs" -> t.jobsIn("operators.curate").size.toDouble,
      "operators.quality_s" -> t.seconds("operators.quality"),
      "operators.lsh_pairs_s" -> t.seconds("operators.lsh_pairs"),
      "operators.lsh_pairs" -> nPairs.toDouble,
      "operators.near_dup_recall" -> recall,
      "operators.near_dup_precision" -> precision,
      "operators.clusters_s" -> t.seconds("operators.clusters"),
      "operators.clusters_jobs" -> t.jobsIn("operators.clusters").size.toDouble,
      "heap_peak_mb" -> heap)
  }
}
