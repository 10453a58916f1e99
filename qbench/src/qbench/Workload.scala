package qbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}

/** What an op hands back: its output check, run after the op's clock
  * stops, and the figures only the workload can see (bytes and files it
  * wrote). */
final case class OpRun(check: () => Option[String],
    figures: Map[String, Double] = Map.empty)

/** A seeded workload. The schedule of ops is fixed by the seed: op `i`
  * does the same work in every run with that seed. Ops run in whole
  * cycles of `cycle` ops, so every run measures the same mix. */
trait Workload {
  def cycle: Int
  /** Untimed warm-up cycles run before measuring. */
  def warmRounds: Int
  /** Writes the seeded inputs; counted in set-up time. */
  def setup(): Unit
  /** Runs op `i`. Its check compares the output with a reference
    * computed without Spark. */
  def run(i: Int, t: Tracer): OpRun
  /** Bytes on disk per byte of user data, over what the run wrote. */
  def storedBytesPerInputByte: Double
  /** Traced-run figures measured beside an op rather than inside it. */
  def probes(): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: Path)
      : Workload = name match {
    case "lazy_query" => new LazyQuery(spark, seed, work)
    case "corpus_dedup" => new CorpusDedup(spark, seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (lazy_query, corpus_dedup)")
  }

  /** (bytes, regular files) under `p`, a file or a directory. */
  def diskUsage(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val sizes = s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_))
        .toArray
      (sizes.sum, sizes.length.toLong)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** MINSTD step: the generators' only source of randomness, evaluated
    * identically by Spark SQL expressions and by the Scala references
    * (products stay far below 2^63, so ANSI overflow checks never fire). */
  val LcgMul = 48271L
  val LcgMod = 2147483647L
  def lcg(x: Long): Long = (x * LcgMul) % LcgMod

  /** The seed's starting state for stream `k`, in [1, LcgMod). */
  def seedState(seed: Long, k: Int): Long =
    1 + java.lang.Math.floorMod(seed * 1000003L + k * 7919L, LcgMod - 1)

  /** A collected row with every number widened to Long, so results read
    * back from formats that type columns differently compare equal. */
  def normalize(r: Row): Seq[Any] = r.toSeq.map {
    case n: java.lang.Integer => n.longValue
    case n: java.lang.Short => n.longValue
    case other => other
  }

  /** First mismatch between `got` and `want`, if any. */
  def diff(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]])
      : Option[String] =
    if (got == want) None
    else Some(s"$what: got ${got.length} rows, want ${want.length}; " +
      got.zipAll(want, "-", "-").find { case (a, b) => a != b }
        .map { case (a, b) => s"first difference: got $a, want $b" }
        .getOrElse(""))
}
