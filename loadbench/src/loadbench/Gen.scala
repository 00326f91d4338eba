package loadbench

import java.io.File
import java.nio.ByteBuffer
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.core.{CassandraTokens, CqlValueCodec}

/** What a load must produce, computed by the generator on its own:
  * row count, rows per ring bucket and an order-independent checksum of
  * the (partition key, value) records. */
final case class LoadTruth(rows: Long, perBucket: Array[Long], checksum: Long)

/** The curation generator's planted truth, by document id. */
final case class CurateTruth(docs: Int, lowQuality: Set[Long], nonEnglish: Set[Long],
    exactCopies: Set[Long], chains: Seq[Seq[Long]]) {
  /** Ids left after quality, language and exact dedup (min id of each
    * exact-copy pair survives). */
  lazy val exactSurvivors: Set[Long] =
    (0L until docs.toLong).filterNot(i => lowQuality(i) || nonEnglish(i) ||
      exactCopies(i)).toSet
  /** Near-duplicate losers: every chain member but the chain's min id. */
  lazy val nearDupLosers: Set[Long] = chains.flatMap(c => c.filterNot(_ == c.min)).toSet
}

/**
 * Seeded input generators. The same seed gives byte-identical files
 * (fixed file names, no wall-clock fields);
 * the program only ever sees the files.
 */
object Gen {
  val Buckets = 16

  def bucketOf(pk: Array[Byte]): Int =
    CassandraTokens.bucketOfToken(CassandraTokens.token(pk), Buckets)

  /** The sink's record value: length-prefixed serialized columns. */
  def encode(cols: Array[Byte]*): Array[Byte] = {
    val bb = ByteBuffer.allocate(cols.map(_.length + 4).sum)
    cols.foreach { c => bb.putInt(c.length); bb.put(c) }
    bb.array()
  }

  /** Per-record hash; summed, it is independent of record order. */
  def recordHash(pk: Array[Byte], value: Array[Byte]): Long = {
    val a = scala.util.hashing.MurmurHash3.bytesHash(pk, 0x2545f491)
    val b = scala.util.hashing.MurmurHash3.bytesHash(value, a)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  private final class TruthAcc {
    var rows = 0L
    var sum = 0L
    val perBucket = new Array[Long](Buckets)
    def add(pk: Array[Byte], value: Array[Byte]): Unit = {
      rows += 1; sum += recordHash(pk, value); perBucket(bucketOf(pk)) += 1
    }
    def truth = LoadTruth(rows, perBucket, sum)
  }

  private def hex16(r: java.util.SplittableRandom): String =
    f"${r.nextLong()}%016x"

  // ---- load_cells_hot: wide parquet records with a hot token range --------

  private val CellSchema = MessageTypeParser.parseMessageType(
    """message cells { required binary key (UTF8); required int64 ts;
      |  required binary c_name (UTF8); required int32 c_count;
      |  required int64 c_total; required binary c_tag (UTF8); }""".stripMargin)
  val CellColumns: Seq[String] = Seq("c_name", "c_count", "c_total", "c_tag")

  /** `records` parquet records of 4 cell columns each. `hotShare` of the
    * records draw their key from a pool of `poolSize` keys rejection-
    * sampled so their Murmur3 token falls in ONE ring bucket; the rest get
    * fresh uniform keys. Returns the truth of the `thrift://` cell load
    * (rowkey, colname, value-as-string, writetime = ts, ttl = 0). */
  def cells(dir: File, seed: Long, records: Int, files: Int,
      hotShare: Double = 0.7, poolSize: Int = 2000): LoadTruth = {
    dir.mkdirs()
    val rnd = new java.util.SplittableRandom(seed)
    val hotBucket = rnd.nextInt(Buckets)
    val pool = Iterator.continually("k-" + hex16(rnd))
      .filter(k => bucketOf(CqlValueCodec.serializeString(k)) == hotBucket)
      .take(poolSize).toArray
    val acc = new TruthAcc
    val per = (records + files - 1) / files
    var left = records
    val groups = new SimpleGroupFactory(CellSchema)
    val zero = CqlValueCodec.serializeInt(0)
    for (f <- 0 until files) {
      val w = ExampleParquetWriter.builder(
          new LocalOutputFile(new File(dir, f"part-$f%03d.parquet").toPath))
        .withType(CellSchema).build()
      try {
        val n = math.min(per, left)
        left -= n
        for (_ <- 0 until n) {
          val key =
            if (rnd.nextDouble() < hotShare) pool(rnd.nextInt(pool.length))
            else "k-" + hex16(rnd)
          val ts = 1600000000000000L + rnd.nextLong(100000000000L)
          val name = "item-" + rnd.nextInt(100000)
          val count = rnd.nextInt(1000)
          val total = rnd.nextLong(1000000000L)
          val tag = "t" + rnd.nextInt(64)
          w.write(groups.newGroup().append("key", key).append("ts", ts)
            .append("c_name", name).append("c_count", count)
            .append("c_total", total).append("c_tag", tag))
          val pk = CqlValueCodec.serializeString(key)
          val wt = CqlValueCodec.serializeLong(ts)
          Seq("c_name" -> name, "c_count" -> count.toString,
              "c_total" -> total.toString, "c_tag" -> tag).foreach { case (c, v) =>
            acc.add(pk, encode(pk, CqlValueCodec.serializeString(c),
              CqlValueCodec.serializeString(v), wt, zero))
          }
        }
      } finally w.close()
    }
    acc.truth
  }

  // ---- curate_docs: documents with planted duplicates ----------------------

  private val DocSchema = MessageTypeParser.parseMessageType(
    "message docs { required int64 id; required binary text (UTF8); }")
  private val En = Array("the", "a", "of", "and", "is", "to", "in")
  private val De = Array("der", "die", "das", "und", "ist", "nicht", "ein")
  private val DocWords = 45
  /** Chain edits sit 7 words apart, so each edit changes its own three
    * word 3-grams: neighbours share ~0.87 Jaccard, members two edits
    * apart ~0.76 — below the 0.8 threshold, so a chain is only connected
    * through label propagation, one hop per round. */
  private val EditPositions = Seq(3, 10, 17, 24)

  /** `n` documents of ~300 characters: 10% low quality (digit runs), 10%
    * German, 10% exact copies of English singletons (whitespace-varied),
    * ~30% in near-duplicate chains of 4 or 5 members, the rest English
    * singletons. Ids are a seeded permutation of 0 until n. */
  def docs(dir: File, seed: Long, n: Int, files: Int): CurateTruth = {
    dir.mkdirs()
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = Array.fill(5000) {
      val len = 6 + rnd.nextInt(4)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    def word(): String = vocab(rnd.nextInt(vocab.length))
    def english(): Array[String] =
      Array.fill(DocWords)(if (rnd.nextInt(10) < 3) En(rnd.nextInt(En.length)) else word())
    def german(): Array[String] =
      Array.fill(DocWords)(if (rnd.nextInt(20) < 7) De(rnd.nextInt(De.length)) else word())
    def lowQuality(): Array[String] =
      Array.fill(DocWords)(rnd.nextInt(10000).toString)

    // kinds: 0 singleton, 1 low quality, 2 german, 3 exact copy, 4 chain
    val texts = mutable.ArrayBuffer.empty[(Int, String, Int)] // (kind, text, group)
    val nLow = n / 10; val nDe = n / 10; val nCopy = n / 10
    val chainBudget = n * 3 / 10
    var group = 0
    var inChains = 0
    while (inChains + 4 <= chainBudget) {
      val len = math.min(4 + rnd.nextInt(2), chainBudget - inChains)
      var cur = english()
      texts += ((4, cur.mkString(" "), group))
      for (k <- 0 until len - 1) {
        cur = cur.clone()
        val was = cur(EditPositions(k))
        cur(EditPositions(k)) = Iterator.continually(word()).dropWhile(_ == was).next()
        texts += ((4, cur.mkString(" "), group))
      }
      inChains += len; group += 1
    }
    val singles = n - nLow - nDe - nCopy - inChains
    val singleTexts = Array.fill(singles)(english().mkString(" "))
    singleTexts.foreach(t => texts += ((0, t, -1)))
    (0 until nCopy).foreach { i =>
      texts += ((3, singleTexts(i).replaceFirst(" ", "  "), i))
    }
    (0 until nLow).foreach(_ => texts += ((1, lowQuality().mkString(" "), -1)))
    (0 until nDe).foreach(_ => texts += ((2, german().mkString(" "), -1)))

    // seeded id permutation
    val ids = Array.tabulate(n)(_.toLong)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t; i -= 1 }
    val byId = new Array[String](n)
    texts.indices.foreach(k => byId(ids(k).toInt) = texts(k)._2)

    val groups = new SimpleGroupFactory(DocSchema)
    val per = (n + files - 1) / files
    for (f <- 0 until files) {
      val w = ExampleParquetWriter.builder(
          new LocalOutputFile(new File(dir, f"part-$f%03d.parquet").toPath))
        .withType(DocSchema).build()
      try (f * per until math.min(n, (f + 1) * per)).foreach { id =>
        w.write(groups.newGroup().append("id", id.toLong).append("text", byId(id)))
      } finally w.close()
    }

    def idsOf(kind: Int) = texts.indices.filter(texts(_)._1 == kind).map(ids(_))
    val singleIds = texts.indices.filter(texts(_)._1 == 0).map(ids(_))
    // an exact copy pair keeps its min id; the other id is the copy that goes
    val copyLosers = texts.indices.filter(texts(_)._1 == 3).map { k =>
      math.max(ids(k), singleIds(texts(k)._3))
    }
    val chains = texts.indices.filter(texts(_)._1 == 4).groupBy(texts(_)._3)
      .toSeq.sortBy(_._1).map(_._2.map(ids(_)))
    CurateTruth(n, idsOf(1).toSet, idsOf(2).toSet, copyLosers.toSet, chains)
  }

  /** SHA-256 over every regular file under `dir` (names and bytes, sorted). */
  def digest(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(dir).filterNot(_.getName.startsWith(".")).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
