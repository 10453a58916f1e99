package qbench

import java.nio.file.{Files, Path}

import graft.{ParquetMetadata, QuackIO, WriteOptions}
import graft.operators.{Checkpoints, Connected, Dedup, Rank}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-pipeline use: one pass of exact dedup, line dedup, verified
  * near-dup detection, clustering and a global rank over a seeded
  * `synthdocs` corpus. The ranked survivors are written with
  * `QuackIO.writeTableDir` (parquet, zstd, footer key/value metadata) and
  * read back with `readParquet` and `ParquetMetadata.read`, so the op
  * also carries the write, read-back and space cost of its output.
  *
  * The corpus has `Bases` base documents of `Words` 8-character words
  * (the `synthdocs` text plus words hashed from it), expanded into
  * copies by role, from `(base + seed offset) % 100`:
  *  - 10 % exact duplicates: two identical copies;
  *  - 10 % near-duplicate clusters of 2 to 4 docs: the base plus
  *    variants with one extra word, so every pair's Jaccard over word
  *    3-shingles is at least 22/24 (cluster size is bounded, so no LSH
  *    bucket grows past 4 docs);
  *  - 20 % carry a shared boilerplate line, which line dedup keeps only
  *    in the first of them;
  *  - one dominant key: a single base with `HotCopies` identical copies;
  *  - the rest are distinct singles.
  * Base text is random hex, so no two unrelated docs share a shingle and
  * the planted structure is the whole answer. */
final class CorpusDedup(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  import CorpusDedup._

  val cycle = 1
  // per-op time was within about 10 % of its level by the sixth op
  val warmRounds = 6
  private val cores = spark.sparkContext.defaultParallelism
  private val plan = Plan(seed)
  private val kv = Map("qbench.seed" -> seed.toString,
    "qbench.workload" -> "corpus_dedup")
  private var stored = 0.0

  def setup(): Unit = ()

  def storedBytesPerInputByte: Double = stored

  def run(i: Int, t: Tracer): OpRun = {
    val out = work.resolve(s"op-$i")
    val docs = t.span("synthdocs", "synthdocs.load")(corpus(spark, seed, cores))
    val ex = t.span("operators", "operators.exactKeepMinId")(
      Dedup.exactKeepMinId(docs, "doc_id", "text"))
    val lines = t.span("operators", "operators.dedupLines")(
      Dedup.dedupLines(ex, "doc_id", "text"))
    // both pinned: each feeds two consumers below
    val kept = t.span("operators", "operators.pin")(Checkpoints.pin(lines))
    val pairs = t.span("operators", "operators.verifiedNearDups")(
      Checkpoints.pin(Dedup.verifiedNearDups(kept, "doc_id", "text",
        Threshold, k = 8, rowsPerBand = 1)))
    val clustered = t.span("operators", "operators.clusters")(
      Connected.clusters(kept, "doc_id", pairs, "doc_a", "doc_b"))
    val ranked = t.span("operators", "operators.globalRank")(Rank.globalRank(
      clustered.select(col("doc_id"), col("cluster"),
        length(col("text")).as("len")),
      Seq(col("len").desc, col("doc_id"), col("cluster"))))
    t.span("quackio", "quackio.write")(QuackIO.writeTableDir(ranked,
      out.toString, WriteOptions(format = Some("parquet"),
        compression = Some("zstd"), kvMetadata = kv)))
    val readBack = t.span("quackio", "quackio.readback")(
      QuackIO.readParquet(spark, Seq(out.toString))
        .select("doc_id", "cluster", "len", "rank").orderBy("rank")
        .collect())
    val meta = t.span("quackio", "parquet_metadata.read")(
      ParquetMetadata.read(firstPart(out)))
    val (bytes, files) = Workload.diskUsage(out)
    OpRun(() => {
      Workload.deleteTree(out)
      val got = readBack.toSeq.map(Workload.normalize)
      stored = bytes.toDouble / (got.length * UserBytesPerRow)
      plan.checkPairs(pairs.collect().toSeq.map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2))))
        .orElse(Workload.diff(s"op $i ranked survivors", got, plan.ranked))
        .orElse(Option.when(meta != kv)(s"op $i: footer metadata $meta"))
    }, Map("quackio.bytes_written" -> bytes.toDouble,
      "quackio.files_written" -> files.toDouble))
  }

  override def probes(): Map[String, Double] = {
    val t0 = System.nanoTime()
    corpus(spark, seed, cores).write.format("noop")
      .mode("overwrite").save()
    Map("synthdocs.scan_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

object CorpusDedup {
  val Bases = 6000
  val Words = 24
  val HotCopies = Bases / 50
  val Threshold = 0.8
  /** doc_id, cluster and rank as 8-byte longs, len as a 4-byte int. */
  val UserBytesPerRow = 8 + 8 + 4 + 8
  val Boilerplate =
    "All rights reserved. Reproduction without permission is prohibited."

  private def roleOffset(seed: Long) = Workload.seedState(seed, 2) % 100
  private def hotBase(seed: Long) = Math.floorMod(99 - roleOffset(seed), 100L)
  def synthSeed(seed: Long) = s"qb$seed"

  /** The corpus as Spark SQL expressions over the `synthdocs` source:
    * the same construction as [[Plan]]. */
  def corpus(spark: SparkSession, seed: Long, partitions: Int): DataFrame = {
    val off = roleOffset(seed)
    val b = col("doc_id")
    val role = pmod(b + off, lit(100L))
    val near = role >= 10 && role < 20
    val copies = when(b === hotBase(seed), lit(HotCopies))
      .when(role < 10, lit(2))
      .when(near, lit(2) + pmod(b * 7 + off, lit(3L)).cast("int"))
      .otherwise(lit(1))
    val body = concat_ws(" ", col("text"), array_join(transform(
      sequence(lit(1), lit(Words) - size(split(col("text"), " "))),
      j => substring(md5(concat(col("text"), lit("#"), j.cast("string"))),
        1, 8)), " "))
    spark.read.format("synthdocs").option("rows", Bases.toLong)
      .option("seed", synthSeed(seed)).option("partitions", partitions)
      .load()
      .select(b, col("text"), body.as("body"), near.as("near"),
        (role >= 20 && role < 40 && b =!= hotBase(seed)).as("boiler"),
        explode(sequence(lit(0), copies - 1)).as("k"))
      .select((b + col("k") * Bases.toLong).as("doc_id"),
        when(col("near") && col("k") > 0, concat(col("body"), lit(" "),
          substring(md5(concat(col("text"), lit("~"),
            col("k").cast("string"))), 1, 8)))
          .when(col("boiler"), concat(col("body"), lit("\n" + Boilerplate)))
          .otherwise(col("body")).as("text"))
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(x => f"${x & 0xff}%02x").mkString

  /** What the pipeline must produce, worked out from the planted
    * structure alone. */
  final case class Plan(seed: Long) {
    private val off = roleOffset(seed)
    private val hot = hotBase(seed)
    private def role(b: Long) = Math.floorMod(b + off, 100L)
    private def clusterSize(b: Long): Int =
      if (role(b) < 10 || role(b) >= 20) 1
      else 2 + Math.floorMod(b * 7 + off, 3L).toInt
    private val bodyLen = Words * 9 - 1
    private val firstBoiler = (0L until Bases).find(b =>
      role(b) >= 20 && role(b) < 40 && b != hot).get

    /** (doc_id, cluster, len, rank) of every exact-dedup survivor, by
      * rank: longest first, then by id. */
    val ranked: Seq[Seq[Any]] = (0L until Bases).flatMap { b =>
      (0 until clusterSize(b)).map { k =>
        val len =
          if (k > 0) bodyLen + 9
          else if (b == firstBoiler) bodyLen + 1 + Boilerplate.length
          else bodyLen
        (b + k * Bases.toLong, b, len.toLong)
      }
    }.sortBy { case (id, _, len) => (-len, id) }.zipWithIndex.map {
      case ((id, c, len), r) => Seq(id, c, len, r + 1L)
    }

    /** Text of doc `id` as generated, before any dedup. */
    def text(id: Long): String = text(id % Bases, (id / Bases).toInt)

    private def text(b: Long, k: Int): String = {
      val base = (0L to (2 + b % 4)).map(j =>
        md5Hex(s"${synthSeed(seed)}|$b|$j").take(8)).mkString(" ")
      val words = base.split(" ") ++ (1 to Words - base.split(" ").length)
        .map(j => md5Hex(s"$base#$j").take(8))
      (if (k > 0) words :+ md5Hex(s"$base~$k").take(8) else words)
        .mkString(" ")
    }

    /** Every planted near-dup pair (a < b) with its word 3-shingle
      * Jaccard, computed from the regenerated text. */
    lazy val pairs: Map[(Long, Long), Double] = (0L until Bases)
      .filter(clusterSize(_) > 1).flatMap { b =>
        val docs = (0 until clusterSize(b)).map(k =>
          (b + k * Bases.toLong, shingles(text(b, k))))
        for (x <- docs; y <- docs if x._1 < y._1) yield
          (x._1, y._1) -> (x._2 & y._2).size.toDouble / (x._2 | y._2).size
      }.toMap

    def checkPairs(got: Seq[(Long, Long, Double)]): Option[String] = {
      val gotKeys = got.map(p => (p._1, p._2)).toSet
      val missing = pairs.keySet -- gotKeys
      val extra = gotKeys -- pairs.keySet
      val bad = got.find(p => p._3 < Threshold ||
        pairs.get((p._1, p._2)).exists(j => math.abs(j - p._3) > 1e-9))
      if (missing.nonEmpty) Some(s"${missing.size} planted near-dup pairs " +
        s"not found, e.g. ${missing.head}")
      else if (extra.nonEmpty || got.length != gotKeys.size)
        Some(s"unplanted or repeated near-dup pairs, e.g. ${extra.headOption}")
      else bad.map(p => s"pair $p does not verify")
    }
  }

  /** The first parquet part file under `dir`. */
  def firstPart(dir: Path): String = {
    val s = Files.walk(dir)
    try s.filter(f => f.getFileName.toString.startsWith("part-") &&
      f.getFileName.toString.endsWith(".parquet")).sorted.findFirst.get
      .toString
    finally s.close()
  }

  def shingles(text: String): Set[String] =
    text.trim.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
}
