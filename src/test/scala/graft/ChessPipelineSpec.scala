package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.ChessPipeline

class ChessPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def pgn(white: String, date: String, moves: String): String =
    s"""[Event "T"]
       |[Site "S"]
       |[White "$white"]
       |[Black "B"]
       |[Result "1-0"]
       |[UTCDate "$date"]
       |[UTCTime "10:00:00"]
       |[TimeControl "300+3"]
       |[Termination "Normal"]
       |
       |$moves 1-0
       |""".stripMargin

  private lazy val root: Path = {
    val d = Files.createTempDirectory("chess_pipe")
    val s1 = Files.createDirectories(d.resolve("in/src_a"))
    val s2 = Files.createDirectories(d.resolve("in/src_b"))
    Files.writeString(s1.resolve("one.pgn"),
      pgn("P1", "2020.01.15", "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6") + "\n" +
      pgn("P2", "2020.02.20", "1. d4 d5 2. c4 e6") + "\n" +
      pgn("BadDate", "????.??.??", "1. e4 c5"))   // filtered by P5
    Files.writeString(s2.resolve("two.pgn"),
      pgn("P3", "2021.03.10", "1. e4 e5 2. Nf3 Nc6"))
    val openings = Seq(
      ("C60", "Ruy Lopez", "1. e4 e5 2. Nf3 Nc6 3. Bb5", "e2e4 e7e5 g1f3 b8c6 f1b5"),
      ("C40", "King's Knight Opening", "1. e4 e5 2. Nf3", "e2e4 e7e5 g1f3"),
      ("D00", "Queen's Pawn Game", "1. d4 d5", "d2d4 d7d5"))
      .toDF("eco", "name", "pgn", "uci")
    openings.write.parquet(d.resolve("openings").toString)
    d
  }

  test("end-to-end: ingest → enrich → partitioned publish") {
    val openings = spark.read.parquet(root.resolve("openings").toString)
    val sources = Seq(
      ChessPipeline.Source("src_a", root.resolve("in/src_a").toString),
      ChessPipeline.Source("src_b", root.resolve("in/src_b").toString))
    ChessPipeline.run(spark, sources, openings,
      root.resolve("staging").toString, root.resolve("out").toString)

    val out = spark.read.parquet(root.resolve("out").toString)
    // bad-date game filtered: 4 games in, 3 published
    assert(out.count() == 3)
    // 20-column contract (export-to-parquet.ts:69-94 incl. UTCDate)
    assert(out.columns.length == 20)
    assert(out.columns.contains("DataSource") && out.columns.contains("year")
      && out.columns.contains("month"))
    // partition layout DataSource=…/year=…/month=… (month zero-padded string)
    val p1 = root.resolve("out/DataSource=src_a/year=2020/month=01")
    val p3 = root.resolve("out/DataSource=src_b/year=2021/month=03")
    assert(Files.exists(p1), s"missing $p1")
    assert(Files.exists(p3), s"missing $p3")
    // enrichment applied (longest match) + timecontrol coalesce
    val ruy = out.filter(col("White") === "P1").head()
    assert(ruy.getAs[String]("ECO") == "C60")
    assert(ruy.getAs[String]("Opening") == "Ruy Lopez")
    assert(ruy.getAs[String]("TimeControl") == "300+3")
    val qp = out.filter(col("White") === "P2").head()
    assert(qp.getAs[String]("Opening") == "Queen's Pawn Game")
  }

  test("q35 output matches the committed golden oracle table") {
    // drift guard: if the fixture, normalizers, enrichment, or projection
    // change without regenerating tools/q35_golden.py's output, this fails
    // before the driver's oracle does
    val golden = spark.read.parquet("src/test/resources/graft/golden/q35_expected.parquet")
    val q35 = graft.ops.PgnDemo.pgnPipeline(spark, "")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string")): _*)
        .collect()
        .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
        .sorted.toSeq
    assert(q35.columns.sorted.sameElements(golden.columns.sorted))
    assert(canon(q35) == canon(golden))
  }

  test("openings ingest: file:// recursive glob takes the remote-URI code path") {
    // mirror layout like the hf dataset: nested dirs, parquet leaves, plus a
    // non-matching file the leaf glob must ignore
    val m = Files.createTempDirectory("openings_mirror")
    val sub = Files.createDirectories(m.resolve("data/part0"))
    Seq(("C60", "Ruy Lopez", "1. e4 e5 2. Nf3 Nc6 3. Bb5", "e2e4 e7e5 g1f3 b8c6 f1b5"))
      .toDF("eco", "name", "pgn", "uci")
      .coalesce(1).write.mode("overwrite").parquet(sub.toString)
    Files.writeString(m.resolve("data/README.txt"), "not a parquet")
    val df = graft.sources.OpeningsSource.load(spark,
      s"file://$m/**/*.parquet")
    assert(df.count() == 1 && df.select("eco").head().getString(0) == "C60")
    // a dataset missing contract columns fails loudly
    val badDir = Files.createTempDirectory("openings_bad")
    Seq(("x")).toDF("eco").write.mode("overwrite").parquet(badDir.resolve("o").toString)
    val e = intercept[IllegalArgumentException] {
      graft.sources.OpeningsSource.load(spark, s"file://$badDir/**/*.parquet")
    }
    assert(e.getMessage.contains("missing column"))
  }

  test("openings ingest through a registered non-file Hadoop scheme (mockfs://)") {
    // the reference reads hf://datasets/... directly; OpeningsSource takes
    // any Hadoop-mountable scheme. Execute that path end-to-end: register a
    // custom scheme and load the dimension through it — same recursive-glob
    // translation, same contract validation, zero special-casing.
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockfs.impl", classOf[MockRemoteFs].getName)
    val m = Files.createTempDirectory("openings_remote")
    val sub = Files.createDirectories(m.resolve("chess-openings/part0"))
    Seq(("A00", "Polish Opening", "1. b4", "b2b4"),
        ("B00", "King's Pawn", "1. e4", "e2e4"))
      .toDF("eco", "name", "pgn", "uci")
      .coalesce(1).write.mode("overwrite").parquet(sub.toString)
    val df = graft.sources.OpeningsSource.load(spark, s"mockfs://$m/**/*.parquet")
    assert(df.count() == 2)
    assert(df.select("eco").collect().map(_.getString(0)).sorted
      .sameElements(Array("A00", "B00")))
  }

  test("markdown validation rendering matches the duckdb -markdown shape (S10)") {
    val df = Seq((1L, "a", 3.5), (22L, null.asInstanceOf[String], -0.25))
      .toDF("id", "name", "score")
    val md = graft.pipeline.Markdown.render(df)
    val lines = md.split("\n")
    // header | separator | one line per row, all pipe-delimited and aligned
    assert(lines.length == 4)
    assert(lines(0).matches("""\| *id \| name *\| *score \|"""), lines(0))
    // numeric columns right-aligned (separator ends in ':'), strings not
    val seps = lines(1).stripPrefix("|").stripSuffix("|").split("\\|")
    assert(seps.length == 3 && seps(0).endsWith(":") && !seps(1).endsWith(":")
      && seps(2).endsWith(":"), lines(1))
    assert(seps.forall(_.matches("-+:?")), lines(1))
    assert(lines(2).contains("3.5") && lines(3).contains("NULL"))
    // all rows padded to equal width
    assert(lines.map(_.length).distinct.length == 1, md)
    // maxRows caps the driver collect with an explicit ellipsis marker
    val many = spark.range(10).toDF("id")
    val capped = graft.pipeline.Markdown.render(many, maxRows = 4)
    assert(capped.split("\n").length == 7 && capped.contains("..."), capped)
    // one collect, one table per column: each as render prints it alone
    assert(graft.pipeline.Markdown.renderColumns(df) ==
      df.columns.toSeq.map(c => graft.pipeline.Markdown.render(df.select(c))))
  }

  test("manifest skip: second run reuses staging") {
    val openings = spark.read.parquet(root.resolve("openings").toString)
    val sources = Seq(
      ChessPipeline.Source("src_a", root.resolve("in/src_a").toString))
    val stage = root.resolve("staging2").toString
    ChessPipeline.run(spark, sources, openings, stage, root.resolve("out2").toString)
    val mtime = Files.getLastModifiedTime(
      root.resolve("staging2/src_a/_graft_manifest"))
    ChessPipeline.run(spark, sources, openings, stage, root.resolve("out2").toString)
    // manifest untouched → stage skipped
    assert(Files.getLastModifiedTime(
      root.resolve("staging2/src_a/_graft_manifest")) == mtime)
  }

  // --- per-source publish ---

  private lazy val openings = spark.read.parquet(root.resolve("openings").toString)

  /** Input directory of source `key` (Hadoop paths take no `:`). */
  private def inDir(d: Path, key: String): Path =
    d.resolve("in/" + key.filter(_.isLetterOrDigit))

  /** A fresh temp root with one `games.pgn` input per (key, content). */
  private def inputs(files: (String, String)*): Path = {
    val d = Files.createTempDirectory("chess_pub")
    files.foreach { case (k, text) =>
      Files.writeString(Files.createDirectories(inDir(d, k)).resolve("games.pgn"), text)
    }
    d
  }

  private def runPipe(d: Path, keys: String*): Unit =
    ChessPipeline.run(spark,
      keys.map(k => ChessPipeline.Source(k, inDir(d, k).toString)),
      openings, d.resolve("staging").toString, d.resolve("out").toString)

  private def published(d: Path) = spark.read.parquet(d.resolve("out").toString)

  /** Data files under `out` (no `_`/`.` component) → mtime. */
  private def dataFiles(d: Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val out = d.resolve("out")
    val s = Files.walk(out)
    try s.iterator().asScala.filter { p =>
      Files.isRegularFile(p) && out.relativize(p).iterator().asScala
        .forall(c => !c.toString.startsWith("_") && !c.toString.startsWith("."))
    }.map(p => out.relativize(p).toString -> Files.getLastModifiedTime(p).toMillis).toMap
    finally s.close()
  }

  /** What the reference's read-pgn.ts:54-56 prints through `duckdb -markdown`
    * for a source of one good and one broken game. */
  private val ValidationBlock =
    """[pipeline] src_v:
      || games |
      ||------:|
      ||     2 |
      || parse_errors |
      ||-------------:|
      ||            1 |
      || game_id | Event  | parse_error          |
      ||--------:|--------|----------------------|
      ||     188 | Broken | game has no movetext |
      |""".stripMargin

  private val gameA = pgn("A1", "2020.01.15", "1. e4 e5 2. Nf3 Nc6 3. Bb5 a6")
  private val gameB = pgn("B1", "2021.03.10", "1. d4 d5 2. c4 e6")

  test("S9: a source dropped from the source list leaves the published tree") {
    val d = inputs("src_a" -> gameA, "src_b" -> gameB)
    runPipe(d, "src_a", "src_b")
    assert(published(d).count() == 2)
    runPipe(d, "src_a")
    assert(!Files.exists(d.resolve("out/DataSource=src_b")))
    assert(published(d).select("White").as[String].collect().toSeq == Seq("A1"))
  }

  test("S9: a month missing from a restaged source's new input loses its cell") {
    val d = inputs("src_a" -> (gameA + "\n" + pgn("A2", "2020.02.20", "1. d4 d5")))
    runPipe(d, "src_a")
    assert(Files.exists(d.resolve("out/DataSource=src_a/year=2020/month=02")))
    Files.writeString(inDir(d, "src_a").resolve("games.pgn"), gameA)
    runPipe(d, "src_a")
    assert(!Files.exists(d.resolve("out/DataSource=src_a/year=2020/month=02")))
    assert(published(d).select("White").as[String].collect().toSeq == Seq("A1"))
  }

  test("incremental run: only the restaged source's cells are rewritten") {
    val d = inputs("src_a" -> gameA, "src_b" -> gameB)
    runPipe(d, "src_a", "src_b")
    val before = dataFiles(d)
    Files.writeString(inDir(d, "src_b").resolve("new.pgn"),
      pgn("B2", "2021.04.01", "1. e4 e5 2. Nf3"))
    runPipe(d, "src_a", "src_b")
    val after = dataFiles(d)
    val (aBefore, bBefore) = before.partition(_._1.startsWith("DataSource=src_a/"))
    val (aAfter, bAfter) = after.partition(_._1.startsWith("DataSource=src_a/"))
    assert(aBefore.nonEmpty && aAfter == aBefore) // same files, same mtimes
    // src_b's subtree is a fresh write: no file of the old one survives
    assert(bAfter.nonEmpty && bAfter.keySet.intersect(bBefore.keySet).isEmpty)
    assert(bAfter.keys.exists(_.contains("year=2021/month=04")))
    assert(published(d).count() == 3)
  }

  test("a publish that fails midway leaves its source dirty for the next run") {
    val d = inputs("src_a" -> gameA, "src_b" -> gameB)
    runPipe(d, "src_a", "src_b")
    val landed = Files.writeString(inDir(d, "src_b").resolve("new.pgn"),
      pgn("B2", "2021.04.01", "1. e4 e5 2. Nf3"))
    // src_b's subtree is cleared for the static overwrite, then the write
    // cannot make a directory in it
    val blockKeys = Seq("fs.file.impl" -> classOf[BlockingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true", "graft.test.blockedDir" -> "DataSource=src_b")
    blockKeys.foreach { case (k, v) => spark.conf.set(k, v) }
    val e = try intercept[Exception](runPipe(d, "src_a", "src_b"))
    finally blockKeys.foreach { case (k, _) => spark.conf.unset(k) }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("blocked")), e)
    assert(!Files.exists(d.resolve("out/DataSource=src_b/year=2021/month=03")))
    // the input returns to the state last published in full: only the
    // dropped manifest line still marks src_b as unpublished
    Files.delete(landed)
    runPipe(d, "src_a", "src_b")
    assert(published(d).select("White").as[String].collect().sorted.toSeq == Seq("A1", "B1"))
    assert(Files.exists(d.resolve("out/DataSource=src_b/year=2021/month=03")))
  }

  test("a source key needing path escaping reads back exactly") {
    val d = inputs("lum:2019" -> gameA, "src b" -> gameB)
    runPipe(d, "lum:2019", "src b")
    val keys = published(d).select("DataSource", "White").as[(String, String)]
      .collect().sorted.toSeq
    assert(keys == Seq(("lum:2019", "A1"), ("src b", "B1")))
    assert(Files.exists(d.resolve("out/DataSource=lum%3A2019/year=2020/month=01")))
  }

  test("a source with no game past the date filter publishes beside a normal one") {
    val d = inputs("src_a" -> gameA, "src_old" -> pgn("Z1", "????.??.??", "1. e4 c5"))
    runPipe(d, "src_a", "src_old")
    val out = published(d)
    assert(out.columns.length == 20)
    assert(out.select("DataSource", "White").as[(String, String)].collect().toSeq ==
      Seq(("src_a", "A1")))
  }

  test("stage validation prints the reference's three markdown tables") {
    val d = inputs("src_v" -> (gameA + "\n" + "[Event \"Broken\"]\n[Result \"*\"]\n\n"))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(runPipe(d, "src_v"))
    val printed = buf.toString("UTF-8")
    val block = printed.substring(printed.indexOf("[pipeline] src_v:"),
      printed.indexOf("[pipeline] published:"))
    assert(block == ValidationBlock, printed)
  }
}
