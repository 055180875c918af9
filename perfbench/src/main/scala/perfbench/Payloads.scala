package perfbench

import scala.collection.mutable

import graft.sources.Endpoints

/** Rows of the fixture tables that the ingest payloads derive from. */
final case class Order(key: Long, custKey: Long, dateEpochDay: Long)
final case class LineItem(orderKey: Long, partKey: Long, suppKey: Long, lineNumber: Int,
    quantity: Double, returnFlag: String)
final case class Inputs(orders: Seq[Order], lineItems: Seq[LineItem],
    customers: Seq[(Long, String, Double)], nations: Seq[(Int, String)],
    suppliers: Seq[(Long, String)])

/** Exact answers of the three analyst queries, in their output order. */
final case class DurationRow(lobbyType: Long, lobbyName: String, nMatches: Long, avgDuration: Double)
final case class BracketRow(bracket: Option[Long], nMatches: Long, avgDuration: Double,
    radiantWins: Long, radiantWinRate: Double)
final case class ItemRow(item: String, games: Long, wins: Long, winRate: Double)
final case class Answers(durations: Seq[DurationRow], brackets: Seq[BracketRow], items: Seq[ItemRow])

/** One monthly full load: the body served per URL path, the rows each
  * step must report, and the analyst answers over the lake after it.
  */
final case class Load(month: Int, date: String, bodies: Map[String, String],
    rows: Map[String, Long], answers: Answers)

/** Seeded generator of OpenDota-shaped payloads for every route of
  * `Endpoints.fullLoad`, derived from the fixture tables. Each value is
  * a pure function of (seed, source row, month), so one seed always
  * gives byte-identical bodies. Expected lake rows and analyst answers
  * are computed here in plain Scala from the same draws.
  */
object Payloads {
  /** Match ids are `orderkey * MonthStride + month`. */
  val MonthStride = 100
  val Heroes = 124
  val LobbyTypes = 10
  val ItemNames: Vector[String] = Vector("blink", "bfury", "manta", "bkb", "aghanims",
    "butterfly", "radiance", "skadi", "satanic", "daedalus", "mkb", "heart",
    "shivas", "refresher", "sheepstick", "octarine", "desolator", "diffusal",
    "maelstrom", "mjollnir", "vanguard", "crimson", "pipe", "guardian")

  /** SplitMix64 finalizer over a combined key: a stateless seeded draw. */
  def draw(seed: Long, parts: Long*): Long = {
    var z = seed * 0x9E3779B97F4A7C15L
    parts.foreach { p =>
      z = (z ^ p) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 31)) * 0x94D049BB133111EBL
      z ^= z >>> 29
    }
    z
  }
  private def pick(seed: Long, mod: Int, parts: Long*): Int =
    java.lang.Math.floorMod(draw(seed, parts: _*), mod.toLong).toInt

  /** Fisher-Yates shuffle driven by [[draw]]. */
  def shuffle[A](xs: Seq[A], seed: Long): Seq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 until 0 by -1).foreach { i =>
      val j = pick(seed, i + 1, i.toLong, 40)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Transient failures served before each route's body in one load:
    * four routes drawn by seed get 503s and 429s that `RetryPolicy`
    * with three retries and three rate-limit pauses always absorbs.
    */
  def faults(seed: Long, month: Int): Map[String, Seq[Int]] = {
    val schedules = Seq(Seq(503), Seq(429), Seq(503, 429), Seq(429, 503, 503))
    shuffle(Routes, draw(seed, month.toLong, 41)).zip(schedules).toMap
  }

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** URL paths of the `Endpoints.fullLoad` routes, in load order. */
  val Routes: Seq[String] = Endpoints.fullLoad.map(_.path)

  private final case class Match(id: Long, radiantWin: Boolean, duration: Long,
      lobbyType: Long, rankTier: Option[Long])

  /** Ten distinct heroes for one match: a seeded partial shuffle. */
  private def teams(seed: Long, key: Long, month: Int): IndexedSeq[Int] = {
    val pool = Array.tabulate(Heroes)(_ + 1)
    (0 until 10).foreach { i =>
      val j = i + pick(seed, Heroes - i, key, month, 100 + i)
      val t = pool(i); pool(i) = pool(j); pool(j) = t
    }
    pool.take(10).toIndexedSeq
  }

  private def publicMatches(in: Inputs, seed: Long, month: Int): (String, Seq[Match]) = {
    val b = new StringBuilder("[")
    val ms = in.orders.zipWithIndex.map { case (o, i) =>
      val k = o.key
      val m = Match(
        id = k * MonthStride + month,
        radiantWin = pick(seed, 2, k, month, 1) == 0,
        duration = 900L + pick(seed, 3600, k, month, 2),
        lobbyType = pick(seed, LobbyTypes, k, month, 3).toLong,
        rankTier = if (pick(seed, 10, k, month, 4) == 0) None
          else Some(10L * (1 + pick(seed, 8, k, month, 5)) + 1 + pick(seed, 5, k, month, 6)))
      if (i > 0) b += ','
      b ++= s"""{"match_id":${m.id},"match_seq_num":${m.id},"radiant_win":${m.radiantWin}"""
      b ++= s""","start_time":${(o.dateEpochDay + 30L * month) * 86400L + pick(seed, 86400, k, month, 7)}"""
      b ++= s""","duration":${m.duration},"lobby_type":${m.lobbyType},"game_mode":${1 + pick(seed, 23, k, month, 8)}"""
      m.rankTier.foreach(t => b ++= s""","avg_rank_tier":$t,"num_rank_tier":${1 + pick(seed, 10, k, month, 9)}""")
      b ++= s""","cluster":${111 + java.lang.Math.floorMod(o.custKey, 25L)}"""
      // one match in twenty has no team arrays (the existence-guard case)
      if (pick(seed, 20, k, month, 10) != 0) {
        val h = teams(seed, k, month)
        b ++= s""","radiant_team":[${h.take(5).mkString(",")}],"dire_team":[${h.drop(5).mkString(",")}]"""
      }
      b += '}'
      m
    }
    (b.append(']').toString, ms)
  }

  /** Scenario counters: lineitem rows sampled per month, folded by
    * (hero, item, time). Counters are strings on the wire (API quirk).
    */
  private def itemTimings(in: Inputs, seed: Long, month: Int): (String, Map[String, (Long, Long)], Int) = {
    val agg = mutable.TreeMap.empty[(Long, String, Long), (Long, Long)]
    in.lineItems.foreach { l =>
      if (pick(seed, 4, l.orderKey, l.lineNumber, month, 11) != 0) {
        val key = (1L + java.lang.Math.floorMod(l.suppKey, Heroes.toLong),
          ItemNames(java.lang.Math.floorMod(l.partKey, ItemNames.size.toLong).toInt),
          60L * l.lineNumber)
        val g = l.quantity.toLong
        val w = if (l.returnFlag == "R") g else g / 2
        val (g0, w0) = agg.getOrElse(key, (0L, 0L))
        agg(key) = (g0 + g, w0 + w)
      }
    }
    val body = agg.map { case ((hero, item, time), (g, w)) =>
      s"""{"hero_id":$hero,"item":${jsonString(item)},"time":$time,"games":"$g","wins":"$w"}"""
    }.mkString("[", ",", "]")
    val byItem = agg.toSeq.groupMapReduce(_._1._2)(_._2) { case ((a, b), (c, d)) => (a + c, b + d) }
    (body, byItem, agg.size)
  }

  private def constants(prefix: String, ids: Seq[Long]): String =
    ids.map(i => s""""$i":${jsonString(s"${prefix}_$i")}""").mkString("{", ",", "}")

  /** Payloads of one monthly load and the rows each step writes. */
  private def load(in: Inputs, seed: Long, month: Int):
      (Map[String, String], Map[String, Long], Seq[Match], Map[String, (Long, Long)]) = {
    val (pm, matches) = publicMatches(in, seed, month)
    val (it, byItem, itRows) = itemTimings(in, seed, month)
    val heroIds = (1 to Heroes).map(_.toLong)
    val heroes = heroIds.map { h =>
      val attr = Seq("str", "agi", "int", "all")(pick(seed, 4, h, month, 20))
      val legs = pick(seed, 5, h, 21)
      s"""{"id":$h,"name":${jsonString(s"npc_dota_hero_$h")},"localized_name":${jsonString(s"Hero $h")},""" +
        s""""primary_attr":"$attr","attack_type":"${if (h % 3 == 0) "Ranged" else "Melee"}",""" +
        s""""roles":["Carry","${if (h % 2 == 0) "Support" else "Nuker"}"],"legs":$legs}"""
    }.mkString("[", ",", "]")
    val heroStats = heroIds.map { h =>
      val picks = 1000L + pick(seed, 9000, h, month, 22)
      s"""{"id":$h,"pro_pick":$picks,"pro_win":${picks / 2 + pick(seed, 100, h, month, 23)},"turbo_picks":${picks * 3}}"""
    }.mkString("[", ",", "]")
    val teamPool = in.customers.take(200)
    val teams = teamPool.map { case (c, name, bal) =>
      val wins = pick(seed, 900, c, month, 24)
      s"""{"team_id":$c,"rating":${1000.0 + math.abs(bal) / 10},"wins":$wins,"losses":${pick(seed, 900, c, month, 25)},""" +
        s""""last_match_time":${1700000000L + pick(seed, 1000000, c, month, 26)},"name":${jsonString(name)},""" +
        s""""tag":${jsonString(name.takeRight(3))},"logo_url":${if (c % 7 == 0) "null" else jsonString(s"https://cdn.test/t/$c.png")}}"""
    }.mkString("[", ",", "]")
    val leagues = in.suppliers.map { case (s, name) =>
      s"""{"leagueid":$s,"ticket":null,"banner":null,"tier":"${Seq("premium", "professional", "amateur")(pick(seed, 3, s, month, 27))}","name":${jsonString(name)}}"""
    }.mkString("[", ",", "]")
    val proPlayers = in.customers.slice(200, 400).map { case (c, name, _) =>
      s"""{"account_id":$c,"name":${jsonString(name)},"team_id":${teamPool(pick(seed, teamPool.size, c, month, 28))._1},"is_pro":true}"""
    }.mkString("[", ",", "]")
    val proMatches = in.orders.take(300).map { o =>
      val k = o.key
      val r = teamPool(pick(seed, teamPool.size, k, month, 29))
      val d = teamPool(pick(seed, teamPool.size, k, month, 30))
      val rs = pick(seed, 60, k, month, 31); val ds = pick(seed, 60, k, month, 32)
      s"""{"match_id":${k * MonthStride + month},"duration":${1200 + pick(seed, 2400, k, month, 33)},""" +
        s""""start_time":${(o.dateEpochDay + 30L * month) * 86400L},"radiant_team_id":${r._1},"radiant_name":${jsonString(r._2)},""" +
        s""""dire_team_id":${d._1},"dire_name":${jsonString(d._2)},"leagueid":${in.suppliers(pick(seed, in.suppliers.size, k, month, 34))._1},""" +
        s""""league_name":"league","series_type":${pick(seed, 3, k, month, 35)},"radiant_score":$rs,"dire_score":$ds,"radiant_win":${rs >= ds}}"""
    }.mkString("[", ",", "]")
    val distributions =
      s"""{"ranks":{"rows":[${(1 to 8).map(t => s"""{"bin":$t,"count":${pick(seed, 100000, t, month, 36)}}""").mkString(",")}]},""" +
        s""""country_mmr":{"rows":[${in.nations.map { case (n, name) => s"""{"loccountrycode":${jsonString(name)},"avg":${2000 + pick(seed, 3000, n, month, 37)}}""" }.mkString(",")}]}}"""
    val laneRoles = (for (h <- 1 to 30; lane <- 1 to 4) yield
      s"""{"hero_id":$h,"lane_role":$lane,"time":${600 * lane},"games":"${100 + pick(seed, 900, h, lane, month, 38)}","wins":"${pick(seed, 100, h, lane, month, 39)}"}""")
      .mkString("[", ",", "]")
    val clusterIds = (111L until 136L)
    val gameModeIds = (0L to 23L)
    val lobbyIds = (0L until LobbyTypes)
    val bodies = Map(
      "/publicMatches" -> pm,
      "/constants/lobby_type" -> constants("lobby", lobbyIds),
      "/constants/game_mode" -> constants("game_mode", gameModeIds),
      "/constants/cluster" -> constants("cluster", clusterIds),
      "/heroes" -> heroes,
      "/heroStats" -> heroStats,
      "/leagues" -> leagues,
      "/teams" -> teams,
      "/proPlayers" -> proPlayers,
      "/proMatches" -> proMatches,
      "/distributions" -> distributions,
      "/scenarios/itemTimings" -> it,
      "/scenarios/laneRoles" -> laneRoles)
    val rows = Map(
      "public_matches" -> matches.size.toLong,
      "lobby_type" -> lobbyIds.size.toLong,
      "game_mode" -> gameModeIds.size.toLong,
      "cluster" -> clusterIds.size.toLong,
      "heroes" -> Heroes.toLong,
      "hero_stats" -> Heroes.toLong,
      "leagues" -> in.suppliers.size.toLong,
      "teams" -> teamPool.size.toLong,
      "pro_players" -> in.customers.slice(200, 400).size.toLong,
      "pro_matches" -> in.orders.take(300).size.toLong,
      "distributions" -> 1L,
      "scenarios_item_timings" -> itRows.toLong,
      "scenarios_lane_roles" -> 120L)
    (bodies, rows, matches, byItem)
  }

  /** Consecutive monthly loads for `seed`, each with the answers the
    * analyst queries must give over the lake once it and every earlier
    * month have been written.
    */
  def generate(in: Inputs, seed: Long): Iterator[Load] = {
    require(Endpoints.fullLoad.map(_.name).toSet ==
      Set("public_matches", "lobby_type", "game_mode", "cluster", "heroes", "hero_stats",
        "leagues", "teams", "pro_players", "pro_matches", "distributions",
        "scenarios_item_timings", "scenarios_lane_roles"),
      "Endpoints.fullLoad changed: extend the payload generator")
    // running (matches, duration sum, radiant wins) per lobby and per
    // bracket, and (games, wins) per item, over every month so far
    val lobbies = mutable.TreeMap.empty[Long, (Long, Long, Long)]
    val brackets = mutable.Map.empty[Option[Long], (Long, Long, Long)]
    val items = mutable.Map.empty[String, (Long, Long)]
    def add[K](m: mutable.Map[K, (Long, Long, Long)], k: K, x: Match): Unit = {
      val (n, d, w) = m.getOrElse(k, (0L, 0L, 0L))
      m(k) = (n + 1, d + x.duration, w + (if (x.radiantWin) 1 else 0))
    }
    Iterator.from(0).map { month =>
      require(month < MonthStride, s"at most $MonthStride monthly loads")
      val (bodies, rows, matches, byItem) = load(in, seed, month)
      matches.foreach { x => add(lobbies, x.lobbyType, x); add(brackets, x.rankTier.map(_ / 10), x) }
      byItem.foreach { case (k, (g, w)) =>
        val (g0, w0) = items.getOrElse(k, (0L, 0L)); items(k) = (g0 + g, w0 + w)
      }
      val answers = Answers(
        lobbies.toSeq.map { case (lt, (n, d, _)) => DurationRow(lt, s"lobby_$lt", n, d.toDouble / n) },
        // bracket = leading digit of the rank tier; NULL sorts first
        brackets.toSeq.sortBy(_._1.getOrElse(Long.MinValue)).map { case (b, (n, d, w)) =>
          BracketRow(b, n, d.toDouble / n, w, w.toDouble / n)
        },
        items.toSeq.sortBy { case (item, (g, _)) => (-g, item) }.take(10)
          .map { case (item, (g, w)) => ItemRow(item, g, w, w.toDouble / g) })
      Load(month, java.time.LocalDate.of(2026, 1, 1).plusMonths(month.toLong).toString, bodies, rows, answers)
    }
  }
}
