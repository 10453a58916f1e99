package qbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.GraftSession
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** One benchmark run: build a session, set up the workload, warm up,
  * then run whole cycles of ops as a single closed-loop client until
  * `--seconds` of op time have passed.
  *
  * The last line of standard output is `QBENCH_RESULT` followed by a
  * JSON object of metric values; the launcher turns it into the
  * benchmark's result line. With `--trace 0` the values are the
  * end-to-end metrics; with `--trace 1` they are per-layer medians over
  * the traced ops, which are every other cycle, so the cycles between
  * give the untraced latency the tracing overhead is measured against. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val t0Ms = opts("t0-ms").toLong
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = Path.of(opts("work")).toAbsolutePath
    Files.createDirectories(work.resolve("data"))

    val spark = GraftSession.builder(s"local[$cores]", "qbench", cores)
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the guards run in every analysis; Rank's offsets window is a
    // deliberate unpartitioned window over a partition-count table
    spark.conf.set("spark.graft.guard.cartesianProduct", "fail")
    spark.conf.set("spark.graft.guard.unboundedFollowing", "fail")
    spark.conf.set("spark.graft.guard.unpartitionedWindow", "warn")

    val code =
      try {
        val w = Workload(name, spark, seed, work.resolve("data"))
        val tracer = new Tracer(spark, cores)
        val result = new Run(spark, w, tracer, trace, seconds, t0Ms).go()
        if (trace) writeSpans(tracer.spans.toSeq,
          Path.of(opts("trace-dir")).resolve(s"spans-$name-seed$seed.jsonl"))
        println("QBENCH_RESULT " + Json.obj(result))
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"qbench: $name seed $seed failed: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  def writeSpans(spans: Seq[Span], out: Path): Unit = {
    Files.createDirectories(out.getParent)
    Files.writeString(out, spans.map(s => Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs)))
      .mkString("", "\n", "\n"))
    System.err.println(s"qbench: ${spans.length} spans written to $out")
  }

  /** Process resident-set high-water mark in MB, from `/proc`. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc"))
    line.split("\\s+")(1).toDouble / 1024
  }

  /** (busy jiffies of the box, jiffies of this process, CPUs). */
  def cpuSnap(): (Long, Long, Int) = {
    val stat = Files.readAllLines(Path.of("/proc/stat")).toArray
      .map(_.toString)
    val f = stat.head.trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f(0) + f(1) + f(2) + f.slice(5, 8).sum
    val cpus = stat.count(l => l.startsWith("cpu") && l.length > 3 &&
      l(3).isDigit)
    val self = Files.readString(Path.of("/proc/self/stat"))
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    (busy, rest(11).toLong + rest(12).toLong, math.max(cpus, 1))
  }

  /** Share of the box's CPU used by other processes between two
    * snapshots, at 100 jiffies per second. */
  def externalCpuShare(a: (Long, Long, Int), b: (Long, Long, Int),
      wallS: Double): Double =
    math.max(0.0, ((b._1 - a._1) - (b._2 - a._2)) / (b._3 * 100.0 * wallS))

  /** End-to-end result from the measured ops' wall times. */
  def endToEnd(times: Seq[Double], setupS: Double, stored: Double,
      rssMb: Double): Seq[(String, Double)] = Seq(
    "ops_per_s" -> times.length / times.sum,
    "op_p50_s" -> Stats.median(times),
    "setup_s" -> setupS,
    "stored_bytes_per_input_byte" -> stored,
    "peak_rss_mb" -> rssMb)

  /** Figures only some workloads report; 0 on the others. */
  val WorkloadFigures = Seq("quackio.bytes_written", "quackio.files_written",
    "synthdocs.scan_s")

  /** Figures of a traced run as a whole: traced minus untraced median op
    * time, spans recorded, ops measured and traced, warm-up rounds, and
    * the share of the box's CPU other processes used while measuring. */
  val RunFigures = Seq("trace.overhead_s", "trace.spans", "run.ops",
    "run.traced_ops", "run.warmup_rounds", "run.external_cpu_share")

  /** Per-layer result: the median of each figure over the traced ops,
    * then the figures of the run as a whole. */
  def perLayer(ops: Seq[Map[String, Double]], run: Seq[(String, Double)])
      : Seq[(String, Double)] =
    (ops.flatMap(_.keys).distinct.filterNot(WorkloadFigures.contains).sorted
      ++ WorkloadFigures)
      .map(n => n -> Stats.median(ops.map(_.getOrElse(n, 0.0)))) ++ run
}

/** The measured loop of one run. */
final class Run(spark: SparkSession, w: Workload, tracer: Tracer,
    trace: Boolean, seconds: Double, t0Ms: Long) {
  private var next = 0

  /** Runs op `next`, traced or not, and returns (wall seconds, per-layer
    * figures, error). An exception is an error like a wrong output. */
  private def op(traced: Boolean): (Double, Map[String, Double],
      Option[String]) = {
    val i = next
    next += 1
    spark.sparkContext.setJobGroup(Tracer.group(i), s"qbench op $i")
    if (traced) tracer.beginOp(i)
    val start = System.nanoTime()
    val ran =
      try Right(w.run(i, tracer))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - start) / 1e9
    val figures =
      if (traced)
        tracer.endOp(ran.map(_.figures).getOrElse(Map.empty)) ++ w.probes()
      else Map.empty[String, Double]
    spark.sparkContext.clearJobGroup()
    val error = ran match {
      case Left(e) => Some(s"op $i threw $e")
      case Right(r) =>
        try r.check()
        catch { case scala.util.control.NonFatal(e) =>
          Some(s"op $i check threw $e") }
    }
    (wall, figures, error)
  }

  def go(): Seq[(String, Any)] = {
    def since0 = (System.currentTimeMillis() - t0Ms) / 1e3
    val sessionS = since0
    w.setup()
    val inputsS = since0 - sessionS
    // warm-up: the workload's fixed count of whole cycles, so every run
    // starts measuring at the same point of the JIT's ramp; a wrong or
    // failing op here ends the run
    val rounds = (0 until w.warmRounds).map { _ =>
      (0 until w.cycle).map { _ =>
        val (wall, _, error) = op(traced = false)
        error.foreach(e => throw new IllegalStateException(
          s"warm-up failed: $e"))
        wall
      }.sum
    }
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    System.err.println(f"qbench: set-up $setupS%.2f s: session " +
      f"$sessionS%.2f s, inputs $inputsS%.2f s, warm-up rounds " +
      rounds.map(r => f"$r%.2f").mkString(" "))

    val walls = mutable.ArrayBuffer[(Double, Boolean)]()
    val traced = mutable.ArrayBuffer[Map[String, Double]]()
    val errors = mutable.ArrayBuffer[String]()
    val cpu0 = Main.cpuSnap()
    val m0 = System.nanoTime()
    var cycles = 0
    while (walls.map(_._1).sum < seconds || (trace && cycles < 2)) {
      val tracedCycle = trace && cycles % 2 == 1
      (0 until w.cycle).foreach { _ =>
        val (wall, figures, error) = op(tracedCycle)
        walls += ((wall, tracedCycle))
        if (tracedCycle) traced += figures
        error.foreach { e => errors += e; System.err.println(s"qbench: $e") }
      }
      cycles += 1
    }
    val external = Main.externalCpuShare(cpu0, Main.cpuSnap(),
      (System.nanoTime() - m0) / 1e9)
    val times = walls.map(_._1).toSeq
    val p90 = Stats.percentile(times, 0.9).fold("n/a")(p => f"$p%.4f s")
    System.err.println(f"qbench: ${times.length} ops, median " +
      f"${Stats.median(times)}%.4f s, p90 $p90, external CPU share " +
      f"$external%.3f; sorted op times " +
      times.sorted.map(t => f"$t%.3f").mkString(" "))

    val metrics =
      if (!trace) Main.endToEnd(times, setupS, w.storedBytesPerInputByte,
        Main.peakRssMb())
      else {
        val untraced = walls.filterNot(_._2).map(_._1).toSeq
        val tracedWalls = walls.filter(_._2).map(_._1).toSeq
        Main.perLayer(traced.toSeq, Main.RunFigures.zip(Seq(
          Stats.median(tracedWalls) - Stats.median(untraced),
          tracer.spans.length.toDouble, times.length.toDouble,
          tracedWalls.length.toDouble, rounds.length.toDouble, external)))
      }
    Seq("attempted" -> times.length, "failed" -> errors.length,
      "metrics" -> metrics)
  }
}
