package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Opening enrichment — the reference's flagship operator (SURVEY.md §2.3
  * J1/J2; reference: src/find-openings.ts:63-80).
  *
  * Reference semantics: for each game with `Opening IS NULL`, find the
  * openings row with the greatest `opening_ply` whose `pgn` line is contained
  * in the game's `clean_movetext`; write its `eco`/`name` back onto the game.
  * The reference's `LIMIT 1` has a nondeterministic tie-break; we impose the
  * total order (opening_ply, eco, name) maximal (documented divergence,
  * SURVEY.md §7).
  *
  * Two physical forms, same logical result:
  *
  *  - [[enrich]] — declarative parity form: broadcast theta-join on
  *    `contains(clean_movetext, pgn)` + per-game argmax via `max(struct(…))`
  *    (partial-aggregable, map-side combine; no window shuffle-sort). This is
  *    the form the DuckDB oracle SQL mirrors 1:1.
  *  - [[enrichTrie]] — scale form: every openings `pgn` is a move-sequence
  *    PREFIX, so the trie matches prefix-with-word-boundary (match must end
  *    at end-of-string or a space). A broadcast trie walks each game once:
  *    O(len) per game instead of O(#openings × len) substring scans — the
  *    difference between 3.5k contains calls and one string walk per row at
  *    100 TB.
  *
  * DELIBERATE DIVERGENCE (documented, SURVEY.md §7): the reference's
  * CONTAINS also matches an opening line appearing as an INTERIOR substring
  * (e.g. `"11. e4 e5"` contains `"1. e4"` starting at index 1), which
  * mislabels such games — an opening reached mid-game is not the game's
  * opening. Our pipeline semantics (both forms' documented contract, and
  * what tools/chess_golden.py oracles) are anchored prefix + boundary;
  * [[enrich]] keeps the literal contains form only as the 1:1 replay of the
  * reference SQL for the parity proof of the join/argmax shape.
  *
  * `enrich` shuffles once (the argmax groupBy); `enrichTrie` not at all —
  * the trie match is a per-row map that writes its result back in place.
  */
object OpeningEnrichment {

  /** openings(eco,name,pgn,uci) → + opening_ply (reference: find-openings.ts:65). */
  def withPly(openings: DataFrame): DataFrame =
    openings.withColumn("opening_ply", size(split(col("uci"), " ")))

  /** Parity form: broadcast contains-join + argmax. */
  def enrich(games: DataFrame, openings: DataFrame): DataFrame = {
    val ops = withPly(openings).select("eco", "name", "pgn", "opening_ply")
    val target = games.filter(col("Opening").isNull)
      .select(col("game_id").as("t_game_id"), col("clean_movetext"))
    val best = target
      .join(broadcast(ops), col("clean_movetext").contains(col("pgn")))
      .groupBy(col("t_game_id"))
      .agg(max(struct(col("opening_ply"), col("eco"), col("name"))).as("best"))
      .select(
        col("t_game_id"),
        col("best.eco").as("m_eco"),
        col("best.name").as("m_name"))
    writeBack(games, best)
  }

  /** Scale form: the broadcast trie applied as a per-row lookup — one
    * pass over the games, no join, no shuffle and no second scan of their
    * input. Only `Opening IS NULL` rows are probed; a match overwrites ECO
    * and fills Opening, a miss leaves the row untouched (the write-back
    * rule of [[enrich]]). A per-row map has no state, so the same form
    * serves streaming frames in any output mode.
    */
  def enrichTrie(games: DataFrame, openings: DataFrame): DataFrame = {
    val rows = withPly(openings).select("pgn", "opening_ply", "eco", "name")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))
    val bc = games.sparkSession.sparkContext.broadcast(OpeningTrie.build(rows.toIndexedSeq))
    val lookup = udf((mt: String) => bc.value.longestMatch(mt))
    games
      .withColumn("_opening_match", when(col("Opening").isNull, lookup(col("clean_movetext"))))
      .withColumn("ECO", coalesce(col("_opening_match._1"), col("ECO")))
      .withColumn("Opening", coalesce(col("Opening"), col("_opening_match._2")))
      .drop("_opening_match")
  }

  /** Typed streaming form over [[GameLite]] rows: [[enrichTrie]] on the
    * same columns. A PGN drop-directory stream (`readStream.format("pgn")`)
    * → this → `writeStream` is the live-ingest version of the flagship
    * operator.
    */
  final case class GameLite(game_id: Long, clean_movetext: String,
      ECO: String, Opening: String)

  def enrichStream(games: Dataset[GameLite], openings: DataFrame): Dataset[GameLite] =
    enrichTrie(games.toDF(), openings).as(Encoders.product[GameLite])

  /** Full-row streaming enrichment: the streaming CORPUS pipeline
    * (drop-dir → enrichment → 20-column partitioned publish) keeps every
    * column, which [[enrichTrie]] already does — zero joins, zero state,
    * bit-identical to the batch pipeline's enrichment.
    */
  def enrichStreamRows(games: DataFrame, openings: DataFrame): DataFrame =
    enrichTrie(games, openings)

  /** J2 rewrite: no in-place UPDATE on immutable storage — left-join the
    * matched (game_id → eco,name) back and coalesce (reference:
    * find-openings.ts:71; SURVEY.md §2.3 J2). Untouched rows/columns pass
    * through bit-identical.
    */
  private def writeBack(games: DataFrame, best: DataFrame): DataFrame = {
    val out = games.join(broadcast(best), games("game_id") === best("t_game_id"), "left")
    out
      .withColumn("ECO", coalesce(col("m_eco"), col("ECO")))
      .withColumn("Opening", coalesce(col("Opening"), col("m_name")))
      .drop("t_game_id", "m_eco", "m_name")
  }
}

/** Character trie over opening `pgn` lines. `longestMatch` walks the
  * normalized movetext once, remembering the deepest terminal whose match
  * ends at a word boundary; terminal payloads carry the (ply,eco,name)-max
  * winner when two openings share an identical pgn line.
  */
final class OpeningTrie extends Serializable {
  private val root = new OpeningTrie.Node

  def insert(pgn: String, ply: Int, eco: String, name: String): Unit = {
    var node = root
    var i = 0
    while (i < pgn.length) {
      node = node.children.getOrElseUpdate(pgn.charAt(i), new OpeningTrie.Node)
      i += 1
    }
    // deterministic tie-break on duplicate pgn lines: (ply, eco, name) max
    val cand = (ply, eco, name)
    if (node.terminal == null || OpeningTrie.gt(cand, node.terminal)) node.terminal = cand
  }

  /** Longest opening whose pgn is a prefix of `movetext` ending at a word
    * boundary (end or space). Returns (eco, name).
    */
  def longestMatch(movetext: String): Option[(String, String)] = {
    if (movetext == null) return None
    var node = root
    var best: (Int, String, String) = null
    var i = 0
    while (node != null && i <= movetext.length) {
      if (node.terminal != null &&
          (i == movetext.length || movetext.charAt(i) == ' ') &&
          (best == null || OpeningTrie.gt(node.terminal, best)))
        best = node.terminal
      if (i < movetext.length) {
        node = node.children.getOrElse(movetext.charAt(i), null)
      } else node = null
      i += 1
    }
    Option(best).map(t => (t._2, t._3))
  }
}

object OpeningTrie {
  private[ops] final class Node extends Serializable {
    val children = new scala.collection.mutable.HashMap[Char, Node]
    var terminal: (Int, String, String) = _
  }

  private def gt(a: (Int, String, String), b: (Int, String, String)): Boolean =
    Ordering.Tuple3[Int, String, String].gt(a, b)

  def build(rows: Seq[(String, Int, String, String)]): OpeningTrie = {
    val t = new OpeningTrie
    rows.foreach { case (pgn, ply, eco, name) => t.insert(pgn, ply, eco, name) }
    t
  }
}
