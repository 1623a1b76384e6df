package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Checks of the benchmark's own code: statistics, digest invariance,
  * generator determinism, and that a tampered expectation fails a run.
  * `python3 perfbench/run.py --selftest`; exit code 1 on any failure.
  */
object SelfTest {
  private var failures = 0
  private var passes = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => e.printStackTrace(); false }
    if (ok) passes += 1 else failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def stats(): Unit = {
    check("median, odd and even counts") {
      close(Stats.median(Seq(3, 1, 2)), 2) && close(Stats.median(Seq(4, 1, 3, 2)), 2.5)
    }
    // reference values from Python's statistics.quantiles(data, n=4)
    check("quartiles match statistics.quantiles") {
      Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)) &&
      Stats.quartiles(Seq(3.5, 1.25, 9.0, 2.0, 7.75)) == ((1.625, 3.5, 8.375)) &&
      Stats.quartiles(Seq(4.0, 2.0)) == ((1.5, 3.0, 4.5)) &&
      Stats.quartiles(Seq(5, 1, 4, 2, 3, 9, 8).map(_.toDouble)) == ((2.0, 4.0, 8.0))
    }
    check("quartiles of one sample") { Stats.quartiles(Seq(7.0)) == ((7.0, 7.0, 7.0)) }
    check("percentile interpolates between ranks") {
      close(Stats.percentile(Seq(1, 2, 3, 4).map(_.toDouble), 50), 2.5) &&
      close(Stats.percentile(Seq(10, 20).map(_.toDouble), 90), 19)
    }
    check("highest percentile with >= 10 samples beyond it") {
      Stats.supportedPercentile(24).contains(50) && Stats.supportedPercentile(39).contains(50) &&
      Stats.supportedPercentile(40).contains(75) && Stats.supportedPercentile(100).contains(90) &&
      Stats.supportedPercentile(1000).contains(99) && Stats.supportedPercentile(19).isEmpty
    }
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("x", DoubleType), StructField("s", StringType),
    StructField("a", ArrayType(IntegerType))))
  private val rows = (0 until 200).map(i => Row(i.toLong, i / 7.0, if (i % 5 == 0) null else s"v$i",
    Seq(i % 3, i % 4)))

  def digest(work: Path): Unit = {
    val d = Digest.of(schema, rows)
    check("digest ignores row order") {
      Digest.of(schema, new scala.util.Random(3).shuffle(rows)) == d
    }
    check("digest ignores column order") {
      val swapped = StructType(schema.fields.reverse)
      Digest.of(swapped, rows.map(r => Row.fromSeq(r.toSeq.reverse))) == d
    }
    check("digest rounds floats to 6 decimals, -0 == 0") {
      Digest.roundFloat(0.1 + 0.2) == Digest.roundFloat(0.3) &&
      Digest.roundFloat(1.0000001) == Digest.roundFloat(1.0) &&
      Digest.roundFloat(1.000001) != Digest.roundFloat(1.0) &&
      Digest.roundFloat(-0.0) == Digest.roundFloat(0.0)
    }
    check("digest changes with one value, one row, or a column name") {
      val changed = rows.updated(17, Row(17L, 99.0, "v17", Seq(2, 1)))
      Digest.of(schema, changed) != d && Digest.of(schema, rows.drop(1)) != d &&
      Digest.of(StructType(schema.fields.updated(2, StructField("t", StringType))), rows) != d
    }
    val (spark, _, _) = Main.setup(work)
    try {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      check("digest ignores partition count") {
        val one = df.repartition(1)
        val many = df.repartition(7)
        Digest.of(one.schema, one.collect().toSeq) == d &&
        Digest.of(many.schema, many.collect().toSeq) == d
      }
      tamper(spark, work)
    } finally spark.stop()
  }

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  val Tiny = Gen.Spec(sources = 3, games = 120, corruptPerSource = 1, newArchiveGames = 15,
    openings = 60)

  def generators(work: Path): Unit = {
    Seq("a", "b", "c").foreach(d => Workloads.rmTree(work.resolve(d)))
    val e1 = Gen.corpus(work.resolve("a"), 7, Tiny)
    Gen.corpus(work.resolve("b"), 7, Tiny)
    val e3 = Gen.corpus(work.resolve("c"), 8, Tiny)
    val (a, b, c) = (tree(work.resolve("a")), tree(work.resolve("b")), tree(work.resolve("c")))
    check("generator: same seed, same bytes") {
      a == b && a.size == 3 + Tiny.sources * Tiny.filesPerSource
    }
    check("generator: another seed, other bytes") {
      a.keySet == c.keySet && a.keys.forall(k => a(k) != c(k))
    }
    check("generator: counts add up") {
      e1.games == 120 && e1.corrupt == 3 && e1.valid == 117 &&
      e1.labeled > 0 && e1.labeled < e1.valid && e1.perSource.values.sum == e1.valid &&
      e3.valid == 117 && Gen.sourceSizes(Tiny) == Seq(20, 40, 60)
    }
    check("generator: dimension lines are distinct and never open with h4/a3") {
      val ops = Gen.openings(7, 500)
      ops.map(_.plies).distinct.length == 500 &&
      ops.forall(o => !Set("h4", "a3").contains(o.plies.head)) &&
      ops.forall(o => o.uci.split(' ').length == o.plies.length)
    }
  }

  private def runOf(work: Path, workload: String, tamper: Option[String]): Run =
    new Run(Main.Args(workload, 7, 0, trace = false, work.resolve(s"tamper-$workload"),
      Paths.get("perfbench/data/sf0.01"), Paths.get("perfbench/digests.json"),
      work.resolve("unused.json"), tamper, recordDigests = false))

  /** The same tiny pipeline and one-query tail, clean and tampered. */
  def tamper(spark: org.apache.spark.sql.SparkSession, work: Path): Unit = {
    def pipeline(t: Option[String]) = {
      val r = runOf(work, "pipeline", t)
      val w = new PipelineWorkload(r, Tiny)
      w.prepare(); w.measure(spark); r
    }
    def query(t: Option[String]) = {
      val r = runOf(work, "tail", t)
      val w = new QueryWorkload(r, "tail", Seq("q14"))
      w.prepare(); w.measure(spark); r
    }
    check("clean pipeline run passes its checks") { pipeline(None).correct }
    check("tampered expected count fails the run") { !pipeline(Some("expected")).correct }
    check("clean query run matches its committed digest") { query(None).correct }
    check("tampered digest fails the run") { !query(Some("digest")).correct }
  }

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(".bench_work/selftest"))
    Files.createDirectories(work)
    stats()
    generators(work)
    digest(work)
    println(s"selftest: $passes passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
