package qbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: summary arithmetic and per-layer figures
  * on fixed inputs, metric names against `BENCHMARK.json`, and the
  * workload generators as pure functions of the seed whose Spark form
  * equals their Scala reference. Exits non-zero on any failure.
  * Argument: the path of `BENCHMARK.json`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok =
      try cond
      catch { case e: Throwable => System.err.println(e); false }
    println((if (ok) "ok   " else "FAIL ") + name)
    if (!ok) failures += 1
  }

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    stats()
    layerFigures()
    names(Path.of(args(0)))
    generators()
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def stats(): Unit = {
    check("median of odd and even counts") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("percentile needs ten samples beyond it") {
      Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty &&
      Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0) &&
      Stats.percentile((1 to 20).map(_.toDouble), 0.5).contains(10.0) &&
      Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty
    }
    check("covered merges overlaps and clips to the window") {
      Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (-5L, 2L)),
        0, 25) == 20
    }
    check("self time subtracts the union of children") {
      Stats.selfTime(0, 100, Seq((10L, 20L), (15L, 30L), (90L, 120L))) == 70
    }
    check("driver-only time is wall outside every job") {
      Stats.driverOnly(0, 100, Nil) == 100 &&
      Stats.driverOnly(0, 100, Seq((0L, 40L), (30L, 100L))) == 0 &&
      Stats.driverOnly(0, 100, Seq((10L, 20L), (50L, 60L))) == 80
    }
    check("task skew is the worst stage's max over median") {
      Stats.taskSkew(Seq(Seq(1.0, 1.0, 4.0), Seq(10.0), Seq(2.0, 2.0))) ==
        4.0 &&
      Stats.taskSkew(Seq(Seq(5.0))) == 1.0 &&
      Stats.taskSkew(Seq(Seq(0.0, 0.0))) == 1.0
    }
  }

  /** One op of 1 s: a read span holding a job, a plan span, and a
    * collect span holding a job with one stage of two tasks. */
  def fixedOp(): Map[String, Double] = {
    val spans = Seq(
      Span(0, -1, 7, "op", "op", 0, 1000000),
      Span(1, 0, 7, "quackio.read", "quackio", 0, 200000),
      Span(2, 1, 7, "job 0", "scheduler", 50000, 150000),
      Span(3, 0, 7, "catalyst.plan", "catalyst", 200000, 300000),
      Span(4, 0, 7, "action.collect", "action", 300000, 1000000),
      Span(5, 4, 7, "job 1", "scheduler", 400000, 900000),
      Span(6, 5, 7, "stage 3", "executor", 450000, 850000))
    val c = new OpCounters
    c.jobs ++= Seq(0 -> (50L, 150L), 1 -> (400L, 900L))
    c.stages ++= Seq(3 -> (450L, 850L))
    c.tasks = 2
    c.runMs = 1000
    c.taskRunMs(3) = scala.collection.mutable.ArrayBuffer(100.0, 300.0)
    c.analysisMs = 30
    Tracer.layerFigures(spans, 0, c, cores = 4, compileS = 0.07,
      compiles = 3)
  }

  def layerFigures(): Unit = {
    val f = fixedOp()
    check("driver-only, self times and job attribution on fixed spans") {
      near(f("scheduler.driver_only_s"), 0.4) &&
      near(f("quackio.construct_s"), 0.2) &&
      f("quackio.construct_jobs") == 1 &&
      near(f("quackio.self_s"), 0.1) &&
      near(f("catalyst.self_s"), 0.1) &&
      near(f("action.self_s"), 0.2) &&
      near(f("scheduler.self_s"), 0.2) &&
      near(f("executor.self_s"), 0.4) &&
      near(f("op.self_s"), 0.0) &&
      near(f("op.wall_s"), 1.0)
    }
    check("executor figures and shares on fixed spans") {
      near(f("executor.task_skew"), 1.5) &&
      near(f("executor.core_util"), 0.25) &&
      near(f("share.executor_run"), 1.0) &&
      near(f("share.fixed_overhead"), 0.03 + 0.07 + 0.4) &&
      f("codegen.compiles") == 3
    }
    check("per-layer medians fill absent workload figures with 0") {
      val r = Main.perLayer(Seq(Map("a" -> 1.0), Map("a" -> 3.0,
        "synthdocs.scan_s" -> 2.0)), Seq("run.ops" -> 2.0)).toMap
      r("a") == 2.0 && r("synthdocs.scan_s") == 1.0 &&
        r("quackio.bytes_written") == 0.0 && r("run.ops") == 2.0
    }
  }

  def names(benchmarkJson: Path): Unit = {
    val spec = new ObjectMapper().readTree(Files.readString(benchmarkJson))
    def listed(k: String) = spec.get(k).elements().asScala
      .map(_.get("name").asText).toSeq.sorted
    check("end-to-end names equal BENCHMARK.json") {
      Main.endToEnd(Seq(1.0), 1, 1, 1).map(_._1).sorted == listed("end_to_end")
    }
    check("per-layer names equal BENCHMARK.json") {
      Main.perLayer(Seq(fixedOp()), Main.RunFigures.map(_ -> 0.0))
        .map(_._1).sorted == listed("per_layer")
    }
  }

  def generators(): Unit = {
    val a = new LazyQuery.Table(7, 1000)
    val b = new LazyQuery.Table(7, 1000)
    val c = new LazyQuery.Table(8, 1000)
    check("lazy_query table is a pure function of the seed") {
      a.k.sameElements(b.k) && a.cat.sameElements(b.cat) &&
      a.v.sameElements(b.v) && a.q.sameElements(b.q) &&
      !a.v.sameElements(c.v)
    }
    check("lazy_query schedule is a pure function of the seed") {
      val s7 = (0 until 40).map(LazyQuery.spec(7, _))
      s7 == (0 until 40).map(LazyQuery.spec(7, _)) &&
      s7 != (0 until 40).map(LazyQuery.spec(8, _)) &&
      s7(11) == s7(3) && s7(15) == s7(7) && s7(10) != s7(2)
    }
    check("corpus_dedup plan is a pure function of the seed") {
      val p = CorpusDedup.Plan(7)
      p.ranked == CorpusDedup.Plan(7).ranked &&
      p.ranked != CorpusDedup.Plan(8).ranked &&
      p.pairs.nonEmpty && p.pairs == CorpusDedup.Plan(7).pairs &&
      p.pairs.values.forall(_ >= 22.0 / 24 - 1e-12)
    }
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      check("lazy_query Spark table equals its reference") {
        val rows = LazyQuery.generate(spark, 7, 1000).orderBy("id").collect()
          .toSeq.map(Workload.normalize)
        val t = new LazyQuery.Table(7, 1000)
        rows == (0 until 1000).map(i => Seq(i.toLong, t.k(i).toLong,
          LazyQuery.Cats(t.cat(i)), t.v(i), t.q(i)))
      }
      check("corpus_dedup Spark corpus equals its reference") {
        val p = CorpusDedup.Plan(7)
        val docs = CorpusDedup.corpus(spark, 7, 2).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val nearTexts = p.pairs.keys.flatMap { case (x, y) => Seq(x, y) }
          .forall(id => docs(id) == p.text(id))
        docs.values.toSet.size == p.ranked.length && nearTexts
      }
    } finally spark.stop()
  }
}
