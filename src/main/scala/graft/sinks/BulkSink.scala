package graft.sinks

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.math.floorMod
import scala.util.hashing.MurmurHash3

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

import graft.core.{CassandraParams, CassandraTokens, CqlValueCodec}

/**
 * Bulk-load sink, directory mode: the Spark rebuild of the reference's
 * sorted-SSTable write path (CrunchCqlBulkRecordWriter.java:59-181 /
 * CrunchBulkRecordWriter.java:65-251 — behavior only). Each output
 * partition owns one contiguous token range of the ring; rows arrive
 * pre-sorted in decorated-key order and are appended to a local sorted
 * run ("Data.db" analog) plus a sparse index, exactly the contract a
 * CQLSSTableWriter in .sorted() mode needs. Network streaming to a live
 * cluster (SSTableLoader) is out of scope offline; the manifest records
 * everything a loader needs (token range, file, count, bytes).
 *
 * Scale design: the shuffle is RDD repartitionAndSortWithinPartitions —
 * ONE exchange, sort happens in the shuffle (Tungsten sort-spill), writer
 * is append-only and streams row-at-a-time: no buffering of a partition in
 * memory, so a 100 TB load is bounded by disk, not heap. Speculative
 * execution must stay off (Spark default) so no partition is written twice.
 *
 * Why the CLI writes here and not through the DSv2 `graft-bulk` writer:
 * only a custom [[Partitioner]] can route ring bucket b to a task of its
 * own. Spark plans the DSv2 writer's `Distributions.clustered(_bucket)`
 * as hash partitioning, pmod(murmur3(bucket, 42), n), which puts 16
 * buckets on only 10 tasks (and 4 buckets on 2): 6 of the 10 runs would
 * hold two buckets each, 5 of those pairs non-adjacent, and
 * `LoaderPlan.planStreams` would stream each such run to the replicas of
 * every range in between.
 */
object BulkSink {

  /** Default seed for the bucket->partition permutation (any fixed value
    * works; what matters is that driver and every task agree). */
  val DefaultSlotSeed = 0x5eed5107L

  /**
   * Seeded Fisher-Yates permutation of 0..n-1. The reference shuffles the
   * range->reducer assignment so ADJACENT token ranges (often co-hot: a
   * freshly-written id range, a time-ordered key prefix) do not land on
   * adjacent reducers of the same host (CassandraParams.java:319-328,
   * Collections.shuffle over the reducer list). The reference's shuffle is
   * unseeded-Random-per-job; here it is seeded so any task, retry, or
   * re-run computes the identical bijection with no config channel.
   */
  def slotPermutation(n: Int, seed: Long = DefaultSlotSeed): Array[Int] = {
    val perm = Array.tabulate(n)(identity)
    val rnd = new java.util.Random(seed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    perm
  }

  /** Shuffle key of one row: its partition-key bytes and token. Murmur3
    * rows carry `token`; RandomPartitioner rows carry the canonical 16-byte
    * md5 token in `md5Token` (null under Murmur3). */
  private[graft] final case class DecoratedKey(token: Long, md5Token: Array[Byte],
      pk: Array[Byte])

  /** Decorated-key order (G3): token, then unsigned key bytes; md5 tokens
    * compare unsigned-lexicographic, which is numeric token order. */
  private implicit val decoratedOrder: Ordering[DecoratedKey] =
    (a: DecoratedKey, b: DecoratedKey) =>
      if (a.md5Token == null) CassandraTokens.compareDecorated(a.token, a.pk, b.token, b.pk)
      else {
        val c = CassandraTokens.compareUnsigned(a.md5Token, b.md5Token)
        if (c != 0) c else CassandraTokens.compareUnsigned(a.pk, b.pk)
      }

  /**
   * The sink's one router. A row's BUCKET is its ring bucket — Murmur3
   * ranges, or the reference's ceil(2^127/n) md5 ranges for
   * RandomPartitioner keys (CassandraParams.java:297-316) — or, under
   * `spread` (`distributerandomly`, CassandraPartitioner.java:58-60), a
   * seeded hash of the partition-key bytes, uncorrelated with the ring.
   * The reference draws Random.nextInt per record there, safe under MR
   * because map output materializes once; Spark recomputes map tasks on
   * fetch failure, so every routing decision here is a pure function of
   * the key. Random routing keeps the within-task decorated-key sort
   * (CassandraParams.java:291-293): its runs are valid, just not
   * ring-aligned.
   *
   * SALTING: a bucket `b` in `salts` fans out over `salts(b)` sub-buckets
   * by a second seeded pk hash (same pk, same sub-bucket, so a k-way merge
   * never interleaves equal keys from two runs). SLOTS number the
   * (bucket, sub) pairs bucket-major, and the seeded [[slotPermutation]]
   * over all slots maps them onto shuffle partitions, so adjacent ranges
   * and a hot range's sub-buckets spread across reducers alike.
   */
  private[graft] final class SlotRouter(n: Int, salts: Map[Int, Int] = Map.empty,
      spread: Boolean = false) extends Partitioner {
    require(n > 0)
    require(salts.forall { case (b, k) => b >= 0 && b < n && k >= 1 },
      s"saltBuckets must map bucket in [0, $n) -> subBuckets >= 1: $salts")
    private val kOf = Array.tabulate(n)(b => salts.getOrElse(b, 1))
    private val offsets = kOf.scanLeft(0)(_ + _) // slot of (b, 0); length n+1
    private val perm = slotPermutation(offsets(n))
    private val slotOfPartition = {
      val inv = new Array[Int](perm.length)
      perm.zipWithIndex.foreach { case (p, s) => inv(p) = s }
      inv
    }
    override def numPartitions: Int = offsets(n)

    def bucketOf(k: DecoratedKey): Int =
      if (spread) floorMod(MurmurHash3.bytesHash(k.pk, 0x5eed5107), n)
      else if (k.md5Token != null) CassandraTokens.randomBucketOfTokenBytes(k.md5Token, n)
      else CassandraTokens.bucketOfToken(k.token, n)

    override def getPartition(key: Any): Int = {
      val k = key.asInstanceOf[DecoratedKey]
      val b = bucketOf(k)
      val sub = if (kOf(b) == 1) 0 else floorMod(MurmurHash3.bytesHash(k.pk, 0x5a17ed), kOf(b))
      perm(offsets(b) + sub)
    }

    def salted(bucket: Int): Boolean = kOf(bucket) > 1

    /** The bucket whose rows (or one of whose sub-buckets) a shuffle
      * partition holds. */
    def bucketOfPartition(partition: Int): Int = {
      val b = java.util.Arrays.binarySearch(offsets, slotOfPartition(partition))
      if (b < 0) -b - 2 else b
    }
  }

  /** `bytes` is the LOGICAL record-stream size (what a re-parse yields);
    * `physicalBytes` is the on-disk size (what a transfer costs) — they
    * differ only for compressed runs, whose `indexFile` is empty
    * (sequential-only format, ADR 0001). -1 = written by a pre-r8 job.
    * RandomPartitioner runs carry their md5 token range as 32-char hex in
    * `minTokenHex`/`maxTokenHex` (md5 tokens reach 2^127 and overflow the
    * Long fields, which such runs pin to the full range so Long-token
    * pruning keeps them); empty hex = a Murmur3 run.
    * `chunks` is the compressed run's chunk-map entry count: readers use
    * it to tell "this run NEEDS its Chunks.db sidecar" (a missing sidecar
    * then fails loudly instead of silently decoding only the first chunk)
    * from a legacy pre-chunking sequential run (-1 = written before the
    * field existed, chunked-ness unknown; 0 = uncompressed). */
  final case class PartitionManifest(
      partition: Int, rows: Long, bytes: Long, minToken: Long, maxToken: Long,
      sorted: Boolean, dataFile: String, indexFile: String, codec: String = "none",
      physicalBytes: Long = -1L, minTokenHex: String = "", maxTokenHex: String = "",
      chunks: Int = -1)

  /**
   * Write `df` as sorted per-token-range runs under `outDir`: one run per
   * ring bucket, named and manifested by the bucket id. `keyCols` form the
   * partition key (composite if 2+); every column is serialized with the
   * CQL wire codec. Returns the manifests (also persisted as
   * _MANIFEST.json). `distributeRandomly` changes ONLY the routing (see
   * [[SlotRouter]]): its runs span the full token range, their manifests
   * say so, and the stream plan fans them to all replicas.
   */
  def writeSorted(df: DataFrame, keyCols: Seq[String], numBuckets: Int,
      outDir: String, indexInterval: Int = 128,
      partitionerClass: String = CassandraParams.Murmur3Partitioner,
      compression: Option[String] = None,
      distributeRandomly: Boolean = false,
      chunkSize: Int = SortedRunWriter.DefaultChunkSize)
      : Seq[PartitionManifest] =
    write(df, keyCols, numBuckets, outDir, Map.empty, indexInterval,
      partitionerClass, compression, distributeRandomly, chunkSize)

  /** Test observability: per SALTED bucket, the phase-1 sub-run row
    * counts of the last salted write — lets a spec pin that a planted hot
    * range actually spread across its sub-buckets. */
  @volatile private[graft] var lastSaltSubRows: Map[Int, Seq[Long]] = Map.empty

  /**
   * [[writeSorted]] with hot-range salting (Murmur3 partitioner only):
   * each bucket in `saltBuckets` shuffles as `k` salted sub-buckets —
   * `k` reducers share the hot range's rows and sort-spill in parallel,
   * instead of one reducer owning the whole range
   * (CassandraPartitioner.java:57-72's one-range-one-reducer shape) —
   * and the sink then K-WAY MERGES each hot range's `k` sorted sub-runs
   * back into ONE globally decorated-key-sorted run, so the output
   * layout is the unsalted write's: one sorted run per ring bucket.
   *
   * This is the answer SURVEY §7.4 risk 5 asks for: the reference's
   * only hot-range escape (`distributerandomly`) forfeits ring alignment
   * for EVERY range; salting splits only the hot ones.
   */
  def writeSortedSalted(df: DataFrame, keyCols: Seq[String],
      numBuckets: Int, outDir: String, saltBuckets: Map[Int, Int],
      indexInterval: Int = 128, compression: Option[String] = None,
      chunkSize: Int = SortedRunWriter.DefaultChunkSize)
      : Seq[PartitionManifest] =
    write(df, keyCols, numBuckets, outDir, saltBuckets, indexInterval,
      CassandraParams.Murmur3Partitioner, compression, distributeRandomly = false,
      chunkSize)

  /** Salting splits RING buckets: it needs the Murmur3 ring and ring
    * routing. Salting is the ring-preserving alternative to
    * `distributerandomly`, so asking for both is refused loudly. */
  def requireSaltable(partitionerClass: String, distributeRandomly: Boolean): Unit =
    require(!distributeRandomly && partitionerClass == CassandraParams.Murmur3Partitioner,
      "saltbuckets= needs the Murmur3 partitioner and no distributerandomly — " +
        "salting IS the ring-preserving alternative to distributerandomly")

  /**
   * The one write body behind [[writeSorted]], [[writeSortedSalted]] and
   * the CLI; an unsalted write is a salted write with no hot buckets.
   * Rows leave the plan as Catalyst `InternalRow`s, are keyed by
   * [[keying]], routed by [[SlotRouter]] and sorted in the shuffle
   * (repartitionAndSortWithinPartitions: one exchange, Tungsten
   * sort-spill), and every task appends its rows to one run with
   * [[writeRun]]. An unsalted bucket's task writes its final-form run in
   * place; a salted bucket's sub-runs are staged plain under `_salt-tmp`
   * and [[mergeSubRuns]] merges them, one task per hot range — sequential
   * reads through a k-element heap, constant memory, no re-sort. The
   * staging dir is reclaimed on every exit, so a failed task or merge
   * never strands a hot range's bytes. Like the rest of this sink,
   * `outDir` must be a filesystem every executor and the driver can reach.
   */
  def write(df: DataFrame, keyCols: Seq[String], numBuckets: Int, outDir: String,
      saltBuckets: Map[Int, Int], indexInterval: Int = 128,
      partitionerClass: String = CassandraParams.Murmur3Partitioner,
      compression: Option[String] = None, distributeRandomly: Boolean = false,
      chunkSize: Int = SortedRunWriter.DefaultChunkSize): Seq[PartitionManifest] = {
    require(keyCols.nonEmpty)
    // resolve the codec and validate the chunk size DRIVER-side so a bad
    // option fails before the shuffle runs, not in task 0 of the write stage
    val codec = compression.map(SortedRunWriter.normalizeCodec)
    require(chunkSize >= 1024, s"chunkSize must be >= 1 KiB, got $chunkSize")
    val random = partitionerClass match {
      case CassandraParams.Murmur3Partitioner => false
      case CassandraParams.RandomPartitioner  => true
      case other => throw new IllegalArgumentException(
        s"unknown partitioner class: $other")
    }
    if (saltBuckets.nonEmpty) requireSaltable(partitionerClass, distributeRandomly)
    val router = new SlotRouter(numBuckets, saltBuckets, distributeRandomly)
    val keyOf = keying(df.schema, keyCols, random)

    Files.createDirectories(Paths.get(outDir))
    val stage = new File(outDir, "_salt-tmp").getAbsolutePath
    if (saltBuckets.nonEmpty) Files.createDirectories(Paths.get(stage))
    def rmTree(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete(); ()
    }
    try {
      val runs: Seq[(Int, PartitionManifest)] = df.queryExecution.toRdd
        .map(keyOf).repartitionAndSortWithinPartitions(router)
        .mapPartitionsWithIndex { (pid, it) =>
          val b = router.bucketOfPartition(pid)
          Iterator.single(b -> (
            if (router.salted(b)) writeRun(stage, pid, it, indexInterval, None, chunkSize, random)
            else writeRun(outDir, b, it, indexInterval, codec, chunkSize, random)))
        }.collect().toSeq

      val (salted, plain) = runs.partition(r => router.salted(r._1))
      val subRuns = salted.groupBy(_._1).toSeq.map { case (b, group) =>
        (b, group.map(_._2).sortBy(_.partition))
      }
      lastSaltSubRows = subRuns.map { case (b, ms) => b -> ms.map(_.rows) }.toMap
      // each merge must reproduce its phase-1 row total exactly
      val merged =
        if (subRuns.isEmpty) Nil
        else df.sparkSession.sparkContext.parallelize(subRuns, subRuns.size).map {
          case (b, ms) => mergeSubRuns(stage, outDir, b, ms.map(_.dataFile),
            ms.map(_.rows).sum, indexInterval, codec, chunkSize)
        }.collect().toSeq
      val manifests = (plain.map(_._2) ++ merged).sortBy(_.partition)
      val json = manifests.map(manifestJson).mkString("[", ",", "]")
      Files.write(Paths.get(outDir, "_MANIFEST.json"), json.getBytes(StandardCharsets.UTF_8))
      manifests
    } finally if (saltBuckets.nonEmpty) rmTree(new File(stage))
  }

  /** The one row -> (decorated key, value payload) function: the partition
    * key is the `keyCols` bytes (composite if 2+), the token is the
    * partitioner's, and the value frames every column. */
  private def keying(schema: StructType, keyCols: Seq[String],
      random: Boolean): InternalRow => (DecoratedKey, Array[Byte]) = {
    val codec = new CqlValueCodec.RowCodec(schema, schema.indices.toArray)
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    row => {
      val parts = codec.fields(row)
      val pk = CqlValueCodec.partitionKey(parts, keyIdx)
      val key =
        if (random) DecoratedKey(0L, CassandraTokens.md5TokenBytes(pk), pk)
        else DecoratedKey(CassandraTokens.token(pk), null, pk)
      (key, CqlValueCodec.frame(parts))
    }
  }

  /** The one per-task run writer: appends decorated-key-sorted rows to run
    * `name` under `dir`. The writer enforces the sorted-input contract
    * (the .sorted() writer requirement — the reference's
    * newRow-on-key-change would corrupt on unsorted input). */
  private def writeRun(dir: String, name: Int, it: Iterator[(DecoratedKey, Array[Byte])],
      indexInterval: Int, codec: Option[String], chunkSize: Int,
      random: Boolean): PartitionManifest = {
    val writer = new SortedRunWriter(dir, name, indexInterval, codec,
      randomTokens = random, chunkSize = chunkSize)
    try {
      it.foreach { case (k, v) =>
        if (random) writer.addRandom(k.md5Token, k.pk, v) else writer.add(k.token, k.pk, v)
      }
      writer.close()
    } catch { case e: Throwable => writer.abort(); throw e }
  }

  /** Streaming cursor over one sub-run's record frames (2-byte key len +
    * key + 4-byte value len + value); tokens recompute from the key —
    * the run format stores none. EOF is clean ONLY at a record boundary:
    * an EOF inside a record means a truncated sub-run (partial flush,
    * partial visibility on a shared filesystem) and fails LOUDLY — a
    * silent early stop would undercount the merged output. */
  private final class RunCursor(file: java.io.File) {
    private val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.io.FileInputStream(file), 1 << 16))
    var token: Long = 0L
    var key: Array[Byte] = _
    var value: Array[Byte] = _
    def advance(): Boolean = {
      // the 2-byte key-length prefix is read byte-wise: readUnsignedShort
      // throws the SAME EOFException whether 0 or 1 of its bytes remain,
      // which would silently drop a record torn mid-prefix — only a clean
      // EOF BEFORE the first byte is end-of-run
      val b0 = in.read()
      if (b0 < 0) { close(); return false }
      val b1 = in.read()
      if (b1 < 0) {
        close()
        throw new IllegalStateException(
          s"sub-run $file is truncated mid-record (EOF inside the key-" +
            "length prefix) — refusing to merge a partial run (the " +
            "merged output would silently undercount)")
      }
      val klen = (b0 << 8) | b1
      try {
        key = new Array[Byte](klen); in.readFully(key)
        val vlen = in.readInt()
        value = new Array[Byte](vlen); in.readFully(value)
      } catch {
        case e: java.io.EOFException =>
          close()
          throw new IllegalStateException(
            s"sub-run $file is truncated mid-record — refusing to merge " +
              "a partial run (the merged output would silently " +
              "undercount)", e)
      }
      token = CassandraTokens.token(key)
      true
    }
    def close(): Unit = try in.close() catch { case _: Exception => () }
  }

  /** K-way merge of one hot range's sorted sub-runs into its final
    * decorated-key-sorted run: a k-element min-heap streams the runs —
    * sequential reads, O(k) memory — and the writer's own sorted-input
    * check re-verifies global order at write time (any heap or routing
    * bug fails loudly, never ships an unsorted run). `expectedRows`
    * (the phase-1 manifests' sum) is REQUIRED to match the merged
    * count — belt over the cursor's truncation check. */
  private[graft] def mergeSubRuns(tmpDir: String, outDir: String,
      bucket: Int, dataFiles: Seq[String], expectedRows: Long,
      indexInterval: Int, codec: Option[String],
      chunkSize: Int): PartitionManifest = {
    val writer = new SortedRunWriter(outDir, bucket, indexInterval, codec,
      chunkSize = chunkSize)
    val cursors = dataFiles.map(f => new RunCursor(new java.io.File(tmpDir, f)))
    try {
      val heap = new java.util.PriorityQueue[RunCursor](
        math.max(1, cursors.size),
        (a: RunCursor, b: RunCursor) =>
          CassandraTokens.compareDecorated(a.token, a.key, b.token, b.key))
      cursors.foreach(c => if (c.advance()) { heap.add(c); () })
      while (!heap.isEmpty) {
        val c = heap.poll()
        writer.add(c.token, c.key, c.value)
        if (c.advance()) { heap.add(c); () }
      }
      val m = writer.close()
      require(m.rows == expectedRows,
        s"merged run for bucket $bucket carries ${m.rows} rows, " +
          s"phase-1 sub-runs declared $expectedRows — a sub-run was " +
          "truncated or foreign; refusing the undercounted merge")
      m
    } catch { case e: Throwable => writer.abort(); throw e }
    finally cursors.foreach(_.close())
  }

  /**
   * Hot-range detection for [[writeSortedSalted]]: estimates each ring
   * bucket's row share from one seeded sample pass and proposes
   * `ceil(share / mean)` sub-buckets (capped at `maxSalt`) for every
   * bucket whose share exceeds `hotFactor`× the mean. Driver state is
   * #buckets counters; empty result means the ring is balanced and the
   * plain [[writeSorted]] is the right call.
   */
  def planSalts(df: DataFrame, keyCols: Seq[String], numBuckets: Int,
      sampleFraction: Double = 0.01, hotFactor: Double = 2.0,
      maxSalt: Int = 16): Map[Int, Int] = {
    require(keyCols.nonEmpty)
    val keyOf = keying(df.schema, keyCols, random = false)
    val router = new SlotRouter(numBuckets)
    val counts = df.sample(withReplacement = false, sampleFraction,
        seed = DefaultSlotSeed)
      .queryExecution.toRdd.map(row => router.bucketOf(keyOf(row)._1))
      .countByValue()
    val totalN = counts.values.sum.toDouble
    if (totalN == 0) return Map.empty
    val mean = totalN / numBuckets
    counts.collect {
      case (b, c) if c > hotFactor * mean =>
        b -> math.min(maxSalt, math.ceil(c / mean).toInt)
    }.toMap
  }

  /** One manifest entry as JSON (shared by the RDD and DSv2 sinks). The
    * hex token-range fields appear only for RandomPartitioner runs. */
  def manifestJson(m: PartitionManifest): String = {
    val hexFields =
      if (m.minTokenHex.isEmpty) ""
      else s""""minTokenHex":"${m.minTokenHex}","maxTokenHex":"${m.maxTokenHex}","""
    s"""{"partition":${m.partition},"rows":${m.rows},"bytes":${m.bytes},""" +
      s""""physicalBytes":${m.physicalBytes},"chunks":${m.chunks},""" +
      hexFields +
      s""""minToken":${m.minToken},"maxToken":${m.maxToken},"sorted":${m.sorted},""" +
      s""""dataFile":"${m.dataFile}","indexFile":"${m.indexFile}","codec":"${m.codec}"}"""
  }

  private val ManifestEntryRe =
    ("""\{"partition":(-?\d+),"rows":(\d+),"bytes":(\d+),(?:"physicalBytes":(-?\d+),)?""" +
      """(?:"chunks":(-?\d+),)?""" +
      """(?:"minTokenHex":"([0-9a-f]*)","maxTokenHex":"([0-9a-f]*)",)?""" +
      """"minToken":(-?\d+),"maxToken":(-?\d+),"sorted":(true|false),""" +
      """"dataFile":"([^"]+)","indexFile":"([^"]*)","codec":"([^"]+)"\}""").r

  /** Parse a _MANIFEST.json written by either sink (the physicalBytes and
    * hex token-range fields are absent in older manifests). Empty if the
    * file is missing. */
  def readManifests(dir: java.io.File): Seq[PartitionManifest] = {
    val mf = new java.io.File(dir, "_MANIFEST.json")
    if (!mf.exists()) Nil
    else {
      val json = new String(Files.readAllBytes(mf.toPath), StandardCharsets.UTF_8)
      ManifestEntryRe.findAllMatchIn(json).map { g =>
        PartitionManifest(g.group(1).toInt, g.group(2).toLong, g.group(3).toLong,
          g.group(8).toLong, g.group(9).toLong, g.group(10).toBoolean,
          g.group(11), g.group(12), g.group(13),
          physicalBytes = Option(g.group(4)).map(_.toLong).getOrElse(-1L),
          minTokenHex = Option(g.group(6)).getOrElse(""),
          maxTokenHex = Option(g.group(7)).getOrElse(""),
          chunks = Option(g.group(5)).map(_.toInt).getOrElse(-1))
      }.toSeq
    }
  }
}
