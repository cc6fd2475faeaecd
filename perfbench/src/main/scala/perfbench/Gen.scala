package perfbench

import scala.util.Random

/** Seeded inputs for the KSQL workloads. Everything the program sees —
  * the players table, the tutorial's statements, every INSERT and every
  * SELECT — comes from here; the same seed yields the same text, byte
  * for byte.
  */
object Gen {
  final case class Player(id: String, name: String, team: String, nationality: String)

  /** One `match_event` record. `seq` is a record id carried as an extra
    * column so traced spans and engine calls can be joined to it.
    */
  final case class Event(seq: Long, matchId: String, eventType: String,
      playerId: String, home: Boolean) {
    def insert: String =
      s"INSERT INTO match_event VALUES ('$matchId', '$eventType', '$playerId', $home, $seq);"
  }

  private val Teams = Vector("Paris Saint-Germain", "Al-Nassr", "Manchester City",
    "Barcelona", "Bayern Munich", "Liverpool", "Chelsea", "Inter Miami")
  private val Nationalities = Vector("Argentinian", "Portuguese", "Brazilian",
    "Belgian", "French", "Polish", "Senegalese", "Dutch", "English", "Spanish")
  private val Surnames = Vector("Silva", "Mueller", "Dubois", "Rossi", "Kowalski",
    "Jansen", "Diallo", "Smith", "Garcia", "Peeters", "Santos", "Novak")
  private val EventTypes = Vector("GOAL", "ASSIST", "SHOT", "FOUL")

  def players(seed: Long, n: Int): Vector[Player] = {
    val r = new Random(seed * 7919L + 1)
    Vector.tabulate(n) { i =>
      Player((i + 1).toString, s"${Surnames(r.nextInt(Surnames.size))} ${i + 1}",
        Teams(r.nextInt(Teams.size)), Nationalities(r.nextInt(Nationalities.size)))
    }
  }

  /** `n` events with ids `firstSeq, firstSeq + 1, …`. Matches run in a
    * sliding window of four live match ids, as a live feed would.
    */
  def events(seed: Long, players: Vector[Player], firstSeq: Long, n: Int): Vector[Event] = {
    val r = new Random(seed * 104729L + firstSeq)
    Vector.tabulate(n) { i =>
      val seq = firstSeq + i
      val matchId = s"m${seq / 40 + r.nextInt(4)}"
      val t = r.nextDouble()
      val kind = if (t < 0.3) 0 else if (t < 0.55) 1 else if (t < 0.85) 2 else 3
      Event(seq, matchId, EventTypes(kind),
        players(r.nextInt(players.size)).id, r.nextBoolean())
    }
  }

  // ---- the tutorial's statements (its all.sql shape) ------------------

  val Connector =
    "CREATE SOURCE CONNECTOR players_src WITH ('connector.class' = " +
      "'io.confluent.connect.jdbc.JdbcSourceConnector', 'table.whitelist' = 'players', " +
      "'mode' = 'bulk', 'topic.prefix' = '');"
  val PlayersTable =
    "CREATE TABLE players (ID VARCHAR PRIMARY KEY, name VARCHAR(50), team VARCHAR(50), " +
      "nationality VARCHAR(50)) WITH (KAFKA_TOPIC = 'players', VALUE_FORMAT = 'JSON');"
  val MatchEventStream =
    "CREATE STREAM match_event (id VARCHAR KEY, event_type VARCHAR, player_id VARCHAR, " +
      "home BOOLEAN, seq BIGINT) WITH (KAFKA_TOPIC = 'match_event', VALUE_FORMAT = 'JSON');"
  val MatchEventPlayer =
    "CREATE STREAM match_event_player WITH (KAFKA_TOPIC = 'match_event_player') AS " +
      "SELECT id, event_type, player_id FROM match_event PARTITION BY player_id;"
  val MatchResults =
    "CREATE TABLE match_results WITH (KAFKA_TOPIC = 'match_results', VALUE_FORMAT = 'JSON') AS " +
      "SELECT id, SUM(CASE WHEN home AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS home_goals, " +
      "SUM(CASE WHEN NOT home AND event_type = 'GOAL' THEN 1 ELSE 0 END) AS away_goals " +
      "FROM match_event GROUP BY id;"
  /** The player_stats shape: stream-table join, SUM, COUNT_DISTINCT,
    * LATEST_BY_OFFSET, plus a per-key COUNT(*) that says how many records
    * a changelog row reflects.
    */
  val PlayerStatsSelect =
    "SELECT p.id AS player_id, LATEST_BY_OFFSET(p.name) AS player_name, " +
      "SUM(CASE WHEN mep.event_type = 'GOAL' THEN 1 ELSE 0 END) AS goals, " +
      "SUM(CASE WHEN mep.event_type = 'ASSIST' THEN 1 ELSE 0 END) AS assists, " +
      "COUNT_DISTINCT(mep.id) AS matches, COUNT(*) AS events " +
      "FROM match_event_player mep JOIN players p ON p.id = mep.player_id GROUP BY p.id"
  val PlayerStats =
    s"CREATE TABLE player_stats WITH (KAFKA_TOPIC = 'player_stats') AS $PlayerStatsSelect;"
  val EventsPerMinute =
    "CREATE TABLE events_per_minute AS SELECT id, COUNT(*) AS events FROM match_event " +
      "WINDOW TUMBLING (SIZE 60 SECONDS) GROUP BY id;"

  val PushDdl: Seq[String] = Seq(Connector, PlayersTable, MatchEventStream, MatchEventPlayer)
  val StatementsDdl: Seq[String] = PushDdl ++ Seq(MatchResults, PlayerStats, EventsPerMinute)
  val PushQuery = s"$PlayerStatsSelect EMIT CHANGES;"

  // ---- the statement mix of ksql_statements ---------------------------

  sealed trait Stmt { def text: String }
  final case class Insert(ev: Event) extends Stmt { def text: String = ev.insert }
  sealed trait Read extends Stmt
  case object ReadPlayerStats extends Read {
    val text = "SELECT * FROM player_stats EMIT CHANGES;"
  }
  final case class ReadPlayer(id: String) extends Read {
    def text = s"SELECT * FROM player_stats WHERE player_id = '$id' EMIT CHANGES;"
  }
  case object ReadMatchResults extends Read {
    val text = "SELECT * FROM match_results EMIT CHANGES;"
  }
  case object ReadWindows extends Read {
    val text = "SELECT * FROM events_per_minute EMIT CHANGES;"
  }

  /** A CLI user's session in blocks of ten statements: six INSERTs and
    * one read of each kind (all of player_stats, one player's row,
    * match_results, the tumbling window), in a seeded order. Fixed
    * proportions keep every stretch of the session the same mix. Event
    * ids start at `firstSeq`.
    */
  def statements(seed: Long, players: Vector[Player], firstSeq: Long, n: Int): Vector[Stmt] = {
    val r = new Random(seed * 15485863L + 3)
    val evs = events(seed, players, firstSeq, n).iterator
    Iterator.continually {
      val reads = Vector(ReadPlayerStats, ReadPlayer(players(r.nextInt(players.size)).id),
        ReadMatchResults, ReadWindows)
      r.shuffle(Vector.fill(6)(Insert(evs.next())) ++ reads)
    }.flatten.take(n).toVector
  }
}
