package graft.scrape

import java.time.{LocalDate, LocalTime}
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Pure extraction functions for baseball-reference pages.
  *
  * Semantics mirror the reference scraper (deep-field
  * scraping/bbref_pages.py — cited per function) but are implemented as
  * allocation-light single-pass string scans so they run inside Spark
  * `mapPartitions` with no external parser dependency.
  */
object BBRefParse {

  val BaseUrl = "https://www.baseball-reference.com"

  // --- link classification (bbref_pages.py:65-75 BBRefLink) -----------------
  private val GameId = "[A-Z0-9]{3}[0-9]{9}".r
  private val PlayerId = """[\w\.']+\d\d""".r

  /** Trailing path component without its .shtml/.html extension. */
  def nameIdOf(url: String): String = {
    val base = url.split("/").last
    if (base.endsWith(".shtml")) base.dropRight(6)
    else if (base.endsWith(".html")) base.dropRight(5)
    else base
  }

  /** Page type of a URL: GamePage | PlayerPage | SchedulePage | unknown. */
  def classify(url: String): String = {
    val nameId = nameIdOf(url)
    if (GameId.matches(nameId)) "GamePage"
    else if (PlayerId.matches(nameId)) "PlayerPage"
    else if (url.contains("schedule")) "SchedulePage"
    else "unknown"
  }

  // --- name normalization (bbref_pages.py:169-185 _NameStripper) ------------
  /** Strip middle initials then Jr./Sr. titles (exact reference order). */
  def stripName(name: String): String =
    name.replaceAll(" \\w\\.", "").replaceAll(" [J|S]r\\.", "")

  // --- schedule page (bbref_pages.py:86-101 SchedulePage.get_links) ---------
  /** Boxscore URLs from `<p class="game">` blocks; previews skipped. */
  def scheduleLinks(html: String): Seq[String] =
    Html.elements(html, "p")
      .filter { case (tag, _) => Html.attr(tag, "class").contains("game") }
      .flatMap { case (_, inner) =>
        Html.elements(inner, "em").toSeq.headOption.flatMap { case (_, emInner) =>
          Html.firstAnchor(emInner).map(a => BaseUrl + a._1)
        }
      }
      .filterNot(_.contains("/previews/"))
      .toSeq

  // --- player page (bbref_pages.py:111-144 PlayerPage) ----------------------
  final case class PlayerRow(nameId: String, name: String, bats: Int, throwsHand: Int)

  private val Handedness = Map("LEFT" -> 0, "RIGHT" -> 1, "BOTH" -> 2)
  private val HandMatcher = """(?:Bats:|Throws:)\s*(\w+)""".r

  /** Name from the info `h1`, handedness ints from the Bats:/Throws: text.
    * Returns Left with the malformation reason (no info block / no name /
    * missing handedness) — the reference treats these as per-page parse
    * errors to log and skip, never season aborts (nodes.py:41-47).
    */
  def parsePlayerE(nameId: String, html: String): Either[String, PlayerRow] = {
    val infoIdx = html.indexOf("id=\"info\"")
    if (infoIdx < 0) return Left("player page: no info block")
    val seg = html.substring(infoIdx)
    val name = Html.elements(seg, "h1").toSeq.headOption
      .map(h => Html.text(h._2).trim).filter(_.nonEmpty)
    val hands = HandMatcher.findAllMatchIn(Html.text(seg.take(12000)))
      .map(_.group(1).toUpperCase(Locale.ROOT)).toList
    val bats = hands.headOption.flatMap(Handedness.get)
    val thr = hands.drop(1).headOption.flatMap(Handedness.get)
    (name, bats, thr) match {
      case (Some(n), Some(b), Some(t)) => Right(PlayerRow(nameId, n, b, t))
      case _ =>
        val missing = Seq(
          if (name.isEmpty) Some("name h1") else None,
          if (bats.isEmpty) Some("Bats: handedness") else None,
          if (thr.isEmpty) Some("Throws: handedness") else None).flatten
        Left(s"player page: missing ${missing.mkString(", ")}")
    }
  }

  // --- game page ------------------------------------------------------------
  final case class TeamInfo(name: String, abbreviation: String)
  final case class GameMeta(
      nameId: String, date: String, localStartTime: Option[String],
      timeOfDay: Option[Int], fieldType: Option[Int], venue: Option[String],
      awayTeam: TeamInfo, homeTeam: TeamInfo)
  final case class RosterEntry(side: String, idx: Int, name: String, nameId: String)
  final case class RawPlay(
      playNum: Int, inning: String, outs: Int, onBase: String,
      pitchCt: String, desc: String, batter: String, pitcher: String)
  final case class ParsedGame(meta: GameMeta, roster: Seq[RosterEntry], plays: Seq[RawPlay])

  private val DateFmt = DateTimeFormatter.ofPattern("EEEE, MMMM d, yyyy", Locale.US)
  private val TimeFmt = DateTimeFormatter.ofPattern("h:mm a", Locale.US)

  /** Teams from the scorebox: the first two `/teams/` anchors, in
    * (away, home) order (bbref_pages.py:374-401 _TeamQueryRunner).
    */
  private def parseTeams(html: String): Option[(TeamInfo, TeamInfo)] = {
    val sb = html.indexOf("class=\"scorebox\"")
    if (sb < 0) return None
    val metaIdx = html.indexOf("class=\"scorebox_meta\"", sb)
    val seg = html.substring(sb, if (metaIdx > sb) metaIdx else math.min(html.length, sb + 20000))
    val teams = Html.elements(seg, "a").collect {
      case (tag, inner) if Html.attr(tag, "href").exists(_.startsWith("/teams/")) =>
        val href = Html.attr(tag, "href").get // /teams/ABB/year.shtml
        TeamInfo(Html.text(inner).trim, href.split("/")(2))
    }.toSeq
    if (teams.size >= 2) Some((teams(0), teams(1))) else None
  }

  /** scorebox_meta fields (bbref_pages.py:403-511): venue / date / local
    * start time / day-night / turf-grass, each located by its text shape.
    */
  private def parseMeta(nameId: String, html: String, teams: (TeamInfo, TeamInfo)): GameMeta = {
    val mi = html.indexOf("class=\"scorebox_meta\"")
    val seg = if (mi < 0) "" else html.substring(mi, math.min(html.length, mi + 8000))
    val texts = Html.elements(seg, "div").map(d => Html.text(d._2).trim).toSeq

    val date = texts.find(t => t.split(" ").headOption.exists(_.endsWith("day,")))
      .map(t => LocalDate.parse(t, DateFmt).toString).getOrElse(null)

    val startTime = texts.find(_.contains("Time: ")).flatMap { t =>
      val lst = t.split("Time: ").last // "%I:%M [a.m.|p.m.] Local"
      if (!lst.split("\\s+").lastOption.contains("Local")) None
      else {
        val cleaned = lst.replace(" Local", "").replace(".", "").toUpperCase(Locale.ROOT)
        try Some(LocalTime.parse(cleaned, TimeFmt).format(DateTimeFormatter.ofPattern("HH:mm")))
        catch { case _: Exception => None }
      }
    }

    val tod = texts.find(t => t.toLowerCase.startsWith("day") || t.toLowerCase.startsWith("night"))
      .map(t => if (t.toLowerCase.startsWith("day")) 0 else 1)

    val field = texts.find(t => t.endsWith("turf") || t.endsWith("grass"))
      .map(t => if (t.endsWith("turf")) 0 else 1)

    val venue = texts.find(_.startsWith("Venue: ")).map(_.split(": ")(1))

    GameMeta(nameId, date, startTime, tod, field, venue, teams._1, teams._2)
  }

  /** Roster tables: the first two placeholder-anchored comment tables
    * whose content says "batting", in (away, home) order — the same
    * anchoring as the reference's `_PlaceholderDivFilter("batting")`
    * (bbref_pages.py:202-226), so a stray earlier comment mentioning
    * "batting" cannot mis-side a roster. Names stripped unless two rows
    * collide on the stripped name, in which case both stay unstripped
    * (get_name_name_ids).
    */
  private def parseRosters(html: String): Seq[RosterEntry] = {
    val battingTables = Html.placeholderComments(html)
      .filter(c => c.contains("batting") && c.contains("<table")).take(2).toSeq
    battingTables.zip(Seq("away", "home")).flatMap { case (table, side) =>
      val rows = Html.elements(table, "th").collect {
        case (tag, inner)
            if Html.attr(tag, "data-append-csv").isDefined &&
               Html.attr(tag, "data-stat").contains("player") =>
          val a = Html.firstAnchor(inner)
          val nameId = Html.attr(tag, "data-append-csv").get
          (a.map(_._2).getOrElse("").trim, nameId)
      }.toVector
      // sequential collision pass, as in __init_name_name_ids
      val names = new Array[String](rows.length)
      val nameToInd = scala.collection.mutable.Map.empty[String, Int]
      rows.zipWithIndex.foreach { case ((raw, _), i) =>
        var n = stripName(raw)
        nameToInd.get(n) match {
          case Some(prev) =>
            names(prev) = rows(prev)._1 // unstrip the earlier row
            n = raw                     // keep this row unstripped too
          case None =>
        }
        names(i) = n
        nameToInd(n) = i
      }
      rows.zipWithIndex.map { case ((_, nameId), i) =>
        RosterEntry(side, i, names(i), nameId)
      }
    }
  }

  private val PlayStats =
    Set("inning", "outs", "runners_on_bases_pbp", "pitches_pbp", "play_desc", "batter", "pitcher")

  /** Play rows from the placeholder-anchored play_by_play comment table
    * (bbref_pages.py:513-554, anchored as `_PlaceholderDivFilter
    * ("play_by_play")` at 547-549): `tr` ids starting with "event_",
    * cells by `data-stat`, with the reference's transforms applied
    * downstream.
    */
  private def parsePlays(html: String): Seq[RawPlay] = {
    val pbp = Html.placeholderComments(html)
      .find(c => c.contains("id=\"play_by_play\"") && c.contains("<table"))
      .getOrElse(return Seq.empty)
    Html.elements(pbp, "tr")
      .filter { case (tag, _) => Html.attr(tag, "id").exists(_.startsWith("event_")) }
      .zipWithIndex
      .flatMap { case ((_, rowInner), playNum) =>
        val cells = (Html.elements(rowInner, "th") ++ Html.elements(rowInner, "td"))
          .flatMap { case (tag, inner) =>
            Html.attr(tag, "data-stat").filter(PlayStats.contains)
              .map(_ -> Html.text(inner))
          }.toMap
        for {
          inning <- cells.get("inning")
          outs <- cells.get("outs").flatMap(_.trim.toIntOption)
          onBase <- cells.get("runners_on_bases_pbp")
          batter <- cells.get("batter")
          pitcher <- cells.get("pitcher")
        } yield RawPlay(playNum, inning,
          outs, onBase,
          cells.getOrElse("pitches_pbp", "").trim,
          cells.getOrElse("play_desc", ""),
          batter, pitcher)
      }.toSeq
  }

  /** Parse a game page, or explain why it can't be: a page with no
    * scorebox team links carries no play data — the reference's
    * MissingPlayDataError, logged "missing play data, skipping"
    * (nodes.py:43-47), never a season abort.
    */
  def parseGameE(nameId: String, html: String): Either[String, ParsedGame] =
    parseTeams(html) match {
      case Some(teams) =>
        Right(ParsedGame(parseMeta(nameId, html, teams), parseRosters(html), parsePlays(html)))
      case None => Left("game page: missing play data (no scorebox team links)")
    }

  def parseGame(nameId: String, html: String): Option[ParsedGame] =
    parseGameE(nameId, html).toOption

  // --- play transforms (bbref_pages.py:652-666) -----------------------------
  /** "t3"→4, "b3"→5: 0-indexed half innings. */
  def inningHalf(inning: String): Int = {
    val n = inning.drop(1).toInt
    2 * (n - 1) + (if (inning.charAt(0) == 't') 0 else 1)
  }

  /** "1-3" → 1|4: on-base bitflags (+1 first, +2 second, +4 third). */
  def onBaseFlags(runners: String): Int =
    runners.take(3).zipWithIndex.map { case (c, i) => if (c != '-') 1 << i else 0 }.sum
}
