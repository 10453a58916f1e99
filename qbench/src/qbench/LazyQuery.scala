package qbench

import java.nio.file.Path

import graft.{QuackIO, WriteOptions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference library's own use: read a file, compose a lazy query,
  * materialize it.
  *
  * Set-up writes one seeded table of `Rows` rows (id, k, cat, v, q) as
  * two parquet halves, one CSV file and one NDJSON file. Each op reads
  * with `QuackIO.readParquet` (one half, or both halves as a multi-path
  * read), `readCsv` or `readJson`, chains filter / groupBy / orderBy /
  * limit and collects. The cycle of eight ops is parquet-heavy, with one
  * CSV, one NDJSON and one multi-path read. Ops in slots 3 and 7 repeat
  * the query of the same slot one cycle earlier exactly (25 % of ops
  * once the first cycle has run); the rest draw fresh seeded literals,
  * so their generated code is new. */
final class LazyQuery(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  import LazyQuery._

  val cycle = Formats.length
  // per-cycle time was within about 10 % of its level by the fourth cycle
  val warmRounds = 4
  private val table = new Table(seed, Rows)
  private def file(n: String) = work.resolve(n).toString
  private var stored = 0.0

  def setup(): Unit = {
    val df = generate(spark, seed, Rows)
    val half = Rows / 2
    val writes = Seq(
      ("ta.parquet", df.filter(col("id") < half), half.toLong),
      ("tb.parquet", df.filter(col("id") >= half), (Rows - half).toLong),
      ("t.csv", df, Rows.toLong),
      ("t.json", df, Rows.toLong))
    writes.foreach { case (name, part, _) =>
      QuackIO.writeTable(part, file(name), WriteOptions(compression =
        if (name.endsWith(".parquet")) Some("zstd") else None))
    }
    stored = writes.map(w => Workload.diskUsage(work.resolve(w._1))._1).sum
      .toDouble / (writes.map(_._3).sum * UserBytesPerRow)
  }

  def storedBytesPerInputByte: Double = stored

  def run(i: Int, t: Tracer): OpRun = {
    val q = spec(seed, i)
    val df = t.span("quackio", "quackio.read")(q.format match {
      case "parquet" => QuackIO.readParquet(spark, Seq(file("ta.parquet")))
      case "multi" => QuackIO.readParquet(spark,
        Seq(file("ta.parquet"), file("tb.parquet")))
      case "csv" => QuackIO.readCsv(spark, Seq(file("t.csv")))
      case "json" => QuackIO.readJson(spark, Seq(file("t.json")))
    })
    val query = t.span("catalyst", "catalyst.construct")(chain(df, q))
    t.span("catalyst", "catalyst.plan")(query.queryExecution.executedPlan)
    val rows = t.span("action", "action.collect")(query.collect())
    OpRun(() => Workload.diff(s"op $i ($q)",
      rows.toSeq.map(Workload.normalize), table.answer(q)))
  }
}

object LazyQuery {
  val Rows = 50000
  /** id, v, q as 8-byte longs, k as a 4-byte int, cat as 3 bytes. */
  val UserBytesPerRow = 8 + 4 + 3 + 8 + 8
  val Formats = Seq("parquet", "parquet", "csv", "parquet", "multi",
    "parquet", "json", "parquet")
  val RepeatSlots = Set(3, 7)
  val Cats = (0 until 20).map(c => f"c$c%02d")

  /** One query: `template` picks the chain, `a` and `b` are literals. */
  final case class Spec(format: String, template: Int, a: Long, b: Long)

  def spec(seed: Long, i: Int): Spec = {
    val slot = i % Formats.length
    if (RepeatSlots(slot) && i >= Formats.length)
      return spec(seed, i - Formats.length)
    val r1 = Workload.lcg(Workload.seedState(seed, 1000 + i))
    val r2 = Workload.lcg(r1)
    val template = slot % 3
    val (a, b) = template match {
      case 0 => (r1 % 80, 0L) // k in [a, a + 20)
      case 1 => (r1 % 20, 1000 + r2 % 8000) // cat index, q < b
      case _ => (r1 % 900000, 0L) // v >= a
    }
    Spec(Formats(slot), template, a, b)
  }

  def chain(df: DataFrame, q: Spec): DataFrame = q.template match {
    case 0 => df.filter(col("k") >= q.a && col("k") < q.a + 20)
      .groupBy("cat")
      .agg(count(lit(1)).as("n"), sum("q").as("sq"), max("v").as("mv"))
      .orderBy("cat")
    case 1 => df.filter(col("cat") === Cats(q.a.toInt) && col("q") < q.b)
      .select("id", "v").orderBy(desc("v"), asc("id")).limit(20)
    case _ => df.filter(col("v") >= q.a).groupBy("k")
      .agg(count(lit(1)).as("n"), min("q").as("mq"))
      .orderBy(desc("n"), asc("k")).limit(10)
  }

  /** The table as Spark SQL expressions over `spark.range`: the same
    * arithmetic as [[Table]]. */
  def generate(spark: SparkSession, seed: Long, rows: Int): DataFrame = {
    def step(c: Column): Column =
      pmod(c * Workload.LcgMul, lit(Workload.LcgMod))
    val h1 = pmod(col("id") * Workload.LcgMul +
      Workload.seedState(seed, 0), lit(Workload.LcgMod))
    spark.range(rows).select(col("id"), h1.as("h1"))
      .select(col("id"), col("h1"), step(col("h1")).as("h2"))
      .select(col("id"), col("h1"), col("h2"), step(col("h2")).as("h3"))
      .select(col("id"),
        pmod(col("h1"), lit(100L)).cast("int").as("k"),
        concat(lit("c"), lpad(pmod(col("h2"), lit(20L)).cast("string"), 2,
          "0")).as("cat"),
        pmod(col("h3"), lit(1000000L)).as("v"),
        pmod(step(col("h3")), lit(10000L)).as("q"))
  }

  /** The table as plain arrays, and each query's answer computed over
    * them without Spark. */
  final class Table(seed: Long, rows: Int) {
    val k = new Array[Int](rows)
    val cat = new Array[Int](rows)
    val v = new Array[Long](rows)
    val q = new Array[Long](rows)
    (0 until rows).foreach { id =>
      val h1 = (id * Workload.LcgMul + Workload.seedState(seed, 0)) %
        Workload.LcgMod
      val h2 = Workload.lcg(h1)
      val h3 = Workload.lcg(h2)
      k(id) = (h1 % 100).toInt
      cat(id) = (h2 % 20).toInt
      v(id) = h3 % 1000000
      q(id) = Workload.lcg(h3) % 10000
    }

    def answer(s: Spec): Seq[Seq[Any]] = {
      val ids = if (s.format == "parquet") 0 until rows / 2 else 0 until rows
      s.template match {
        case 0 =>
          ids.filter(i => k(i) >= s.a && k(i) < s.a + 20)
            .groupBy(i => cat(i)).toSeq.sortBy(_._1).map { case (c, is) =>
              Seq(Cats(c), is.length.toLong, is.map(q(_)).sum,
                is.map(v(_)).max)
            }
        case 1 =>
          ids.filter(i => cat(i) == s.a && q(i) < s.b)
            .sortBy(i => (-v(i), i)).take(20)
            .map(i => Seq(i.toLong, v(i)))
        case _ =>
          ids.filter(i => v(i) >= s.a).groupBy(i => k(i)).toSeq
            .map { case (kk, is) => (kk, is.length.toLong, is.map(q(_)).min) }
            .sortBy { case (kk, n, _) => (-n, kk) }.take(10)
            .map { case (kk, n, mq) => Seq(kk.toLong, n, mq) }
      }
    }
  }
}
