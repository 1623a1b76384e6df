package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.Locale

import scala.collection.mutable

/** Seeded input generators. Everything the program reads in the `pipeline`
  * and `catchup` workloads is a file written here: a multi-source PGN tree,
  * an openings dimension (TSV, the layout of the public chess-openings
  * dataset) and one extra "new archive" file for the incremental step.
  * The same seed gives the same bytes; the counts a correct run must
  * reproduce are written beside the inputs as `expected.json`.
  */
object Gen {

  final case class Spec(
      sources: Int = 8,
      /** Archive files per source; the catch-up stream takes one per batch. */
      filesPerSource: Int = 3,
      /** Games over all sources, corrupt ones included; a multiple of the
        * skew weight sum keeps every source's count whole. */
      games: Int,
      corruptPerSource: Int = 2,
      newArchiveGames: Int,
      openings: Int = 3500)

  /** Share of games whose movetext starts with a dimension line. */
  val MatchShare = 0.75
  val FirstYear = 2017
  val Years = 7
  /** Source i is an archive series dated in one calendar month of each
    * year, so the published tree has sources × years Hive cells. */
  def monthOf(source: Int): Int = (source * 5) % 12 + 1

  final case class Opening(eco: String, name: String, plies: Seq[String], uci: String)

  /** Counts a correct run reproduces. `cells` keys are
    * `source/year/month` for valid games. */
  final case class Expected(
      games: Long, corrupt: Long, valid: Long, labeled: Long,
      cells: Set[String], perSource: Map[String, Long],
      newSource: String, newGames: Long, newLabeled: Long,
      newCells: Set[String], bytes: Long) {
    def toJson: String = Json.enc(Json.obj(
      "games" -> games, "corrupt" -> corrupt, "valid" -> valid,
      "labeled" -> labeled, "cells" -> cells.size,
      "months" -> cells.map(_.split("/", 2)(1)).size,
      "input_bytes" -> bytes,
      "per_source" -> scala.collection.immutable.TreeMap(perSource.toSeq: _*),
      "new_archive" -> Json.obj(
        "source" -> newSource, "games" -> newGames, "labeled" -> newLabeled,
        "cells_after" -> (cells ++ newCells).size,
        "months_after" -> (cells ++ newCells).map(_.split("/", 2)(1)).size)))
  }

  // SAN pools by side to move. Games that should stay unlabeled open with
  // a move no dimension line starts with.
  private val WhiteMoves = Vector("e4", "d4", "c4", "Nf3", "g3", "b3", "f4",
    "Nc3", "e3", "d3", "Bc4", "Bb5", "Be2", "Nbd2", "O-O", "Re1", "c3", "h3",
    "Qe2", "Bg5", "Bf4", "Rd1", "a4", "Nge2", "Bd3", "Qd2", "Rc1", "g4")
  private val BlackMoves = Vector("e5", "c5", "e6", "d5", "Nf6", "g6", "c6",
    "d6", "Nc6", "b6", "Be7", "Bg7", "O-O", "a6", "h6", "Bd6", "Re8", "Qe7",
    "Nbd7", "f5", "Bb4", "Qc7", "Rd8", "b5", "Bf5", "Qb6", "Rc8", "a5")
  private val FirstMoves = Vector("e4", "d4", "c4", "Nf3", "g3", "b3", "f4", "Nc3")
  private val UnlabeledFirst = Vector("h4", "a3")
  private val Annotations = Vector("{a quiet move}", "$1", "$6", "!?", "{time trouble}")
  private val Results = Vector("1-0", "0-1", "1/2-1/2")
  private val TimeControls = Vector("60+0", "180+2", "300+3", "600+5", "900+10", "-")

  private def pool(ply: Int) = if (ply % 2 == 0) WhiteMoves else BlackMoves

  def pgnLine(plies: Seq[String]): String =
    plies.zipWithIndex.map { case (m, i) =>
      if (i % 2 == 0) s"${i / 2 + 1}. $m" else m
    }.mkString(" ")

  /** A random opening tree of `n` distinct lines, 1 to 14 plies deep. */
  def openings(seed: Long, n: Int): IndexedSeq[Opening] = {
    val rnd = new scala.util.Random(seed)
    val seen = mutable.LinkedHashSet.empty[Seq[String]]
    FirstMoves.foreach(m => seen += Seq(m))
    val lines = mutable.ArrayBuffer.from(seen)
    while (lines.length < n) {
      val base = lines(rnd.nextInt(lines.length))
      if (base.length < 14) {
        val ext = base :+ pool(base.length)(rnd.nextInt(pool(base.length).length))
        if (seen.add(ext)) lines += ext
      }
    }
    lines.toIndexedSeq.zipWithIndex.map { case (plies, i) =>
      val eco = s"${"ABCDE" (rnd.nextInt(5))}%02d".formatLocal(Locale.ROOT, rnd.nextInt(100))
      val uci = plies.map { _ =>
        val f = "abcdefgh"; val r = "12345678"
        s"${f(rnd.nextInt(8))}${r(rnd.nextInt(8))}${f(rnd.nextInt(8))}${r(rnd.nextInt(8))}"
      }.mkString(" ")
      Opening(eco, s"Synthetic Opening ${i / 7}: Line ${i % 7}", plies, uci)
    }
  }

  def writeOpenings(path: Path, ops: Seq[Opening]): Unit = {
    val sb = new StringBuilder("eco\tname\tpgn\tuci\n")
    ops.foreach(o => sb.append(s"${o.eco}\t${o.name}\t${pgnLine(o.plies)}\t${o.uci}\n"))
    Files.writeString(path, sb.toString, UTF_8)
  }

  private final class GameWriter(rnd: scala.util.Random, ops: IndexedSeq[Opening]) {
    /** Appends one game; returns (labeled, Some(year/month)) for a valid
      * game, (false, None) for a corrupt one. */
    def game(sb: StringBuilder, source: Int, corrupt: Boolean): (Boolean, Option[String]) = {
      val labeled = rnd.nextDouble() < MatchShare
      val head =
        if (labeled) ops(rnd.nextInt(ops.length)).plies
        else Seq(UnlabeledFirst(rnd.nextInt(UnlabeledFirst.length)))
      val filler = (head.length until head.length + 4 + rnd.nextInt(30))
        .map(p => pool(p)(rnd.nextInt(pool(p).length)))
      val res = Results(rnd.nextInt(Results.length))
      val date = LocalDate.of(FirstYear + rnd.nextInt(Years), monthOf(source),
        1 + rnd.nextInt(28))
      def tag(k: String, v: String) = sb.append('[').append(k).append(" \"")
        .append(v).append("\"]\n")
      tag("Event", s"Synthetic Arena ${rnd.nextInt(200)}")
      tag("Site", "https://example.org/" + Integer.toString(rnd.nextInt(1 << 30), 36))
      tag("White", s"player${rnd.nextInt(50000)}")
      tag("Black", s"player${rnd.nextInt(50000)}")
      tag("Result", res)
      if (rnd.nextInt(10) == 0) tag("WhiteTitle", "FM")
      if (corrupt) sb.append("[WhiteElo ").append(1200 + rnd.nextInt(1600)).append("]\n")
      else tag("WhiteElo", (1200 + rnd.nextInt(1600)).toString)
      tag("BlackElo", (1200 + rnd.nextInt(1600)).toString)
      tag("UTCDate",
        if (corrupt) "????.??.??"
        else "%04d.%02d.%02d".formatLocal(Locale.ROOT,
          date.getYear, date.getMonthValue, date.getDayOfMonth))
      tag("UTCTime", "%02d:%02d:%02d".formatLocal(Locale.ROOT,
        rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60)))
      tag("TimeControl", TimeControls(rnd.nextInt(TimeControls.length)))
      tag("Termination", if (rnd.nextInt(5) == 0) "Time forfeit" else "Normal")
      sb.append('\n')
      // opening plies verbatim; filler plies may carry comments and NAGs
      // the normalizer must strip
      val tokens = pgnLine(head ++ filler).split(' ')
      val nHead = pgnLine(head).split(' ').length
      tokens.zipWithIndex.foreach { case (t, i) =>
        if (i > 0) sb.append(if (i % 16 == 0) '\n' else ' ')
        sb.append(t)
        if (i >= nHead && !t.endsWith(".") && rnd.nextInt(12) == 0)
          sb.append(' ').append(Annotations(rnd.nextInt(Annotations.length)))
      }
      sb.append(' ').append(res).append("\n\n")
      if (corrupt) (false, None)
      else (labeled, Some("%d/%02d".formatLocal(Locale.ROOT, date.getYear, date.getMonthValue)))
    }
  }

  def sourceKey(i: Int): String = "src_%02d".formatLocal(Locale.ROOT, i)

  /** Source i of n gets a share proportional to i (linear skew). */
  def sourceSizes(spec: Spec): IndexedSeq[Int] = {
    val wsum = spec.sources * (spec.sources + 1) / 2
    require(spec.games % wsum == 0,
      s"games (${spec.games}) must be a multiple of $wsum for ${spec.sources} sources")
    (1 to spec.sources).map(i => spec.games / wsum * i)
  }

  /** Writes `root/in/src_NN/games_K.pgn`, `root/openings.tsv`,
    * `root/new_archive/games_new.pgn` and `root/expected.json`. */
  def corpus(root: Path, seed: Long, spec: Spec): Expected = {
    val ops = openings(seed, spec.openings)
    Files.createDirectories(root)
    writeOpenings(root.resolve("openings.tsv"), ops)
    val rnd = new scala.util.Random(seed * 1000003L + 17)
    val gw = new GameWriter(rnd, ops)
    var valid, labeled, bytes = 0L
    val cells = mutable.Set.empty[String]
    val perSource = mutable.LinkedHashMap.empty[String, Long]
    sourceSizes(spec).zipWithIndex.foreach { case (n, i) =>
      val key = sourceKey(i + 1)
      val corruptAt = rnd.shuffle((0 until n).toVector).take(spec.corruptPerSource).toSet
      var srcValid = 0L
      (0 until spec.filesPerSource).foreach { f =>
        val sb = new StringBuilder
        (n * f / spec.filesPerSource until n * (f + 1) / spec.filesPerSource).foreach { g =>
          gw.game(sb, i, corruptAt.contains(g)) match {
            case (lab, Some(ym)) =>
              srcValid += 1; if (lab) labeled += 1; cells += s"$key/$ym"
            case _ =>
          }
        }
        bytes += write(root.resolve(s"in/$key/games_${f + 1}.pgn"), sb)
      }
      valid += srcValid
      perSource(key) = srcValid
    }
    // the new archive always lands in the largest source, so every seed
    // restages the same amount of work
    val newIdx = spec.sources - 1
    val newSource = sourceKey(1 + newIdx)
    val sb = new StringBuilder
    var newLabeled = 0L
    val newCells = mutable.Set.empty[String]
    (0 until spec.newArchiveGames).foreach { _ =>
      gw.game(sb, newIdx, corrupt = false) match {
        case (lab, Some(ym)) => if (lab) newLabeled += 1; newCells += s"$newSource/$ym"
        case _ =>
      }
    }
    write(root.resolve("new_archive/games_new.pgn"), sb)
    val exp = Expected(spec.games.toLong, spec.corruptPerSource.toLong * spec.sources,
      valid, labeled, cells.toSet, perSource.toMap, newSource,
      spec.newArchiveGames.toLong, newLabeled, newCells.toSet, bytes)
    Files.writeString(root.resolve("expected.json"), exp.toJson, UTF_8)
    exp
  }

  private def write(p: Path, sb: StringBuilder): Long = {
    Files.createDirectories(p.getParent)
    val bytes = sb.toString.getBytes(UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }
}
