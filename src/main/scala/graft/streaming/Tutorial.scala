package graft.streaming

import graft.engine.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference tutorial's own domain, re-expressed as mode-agnostic
  * DataFrame transformations: the same functions run over a static batch
  * DataFrame (unit tests, oracle parity) and a MemoryStream/Kafka stream
  * (golden replay of the README's push-query outputs).
  *
  * Domain per /root/reference: `players` table (files/mysql/init.sql:4-22)
  * and `match_event` stream (files/ksqldb-cli/all.sql:33-43).
  */
object Tutorial {

  /** match_event value schema (all.sql:33-43). */
  val matchEventSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("event_type", StringType),
    StructField("player_id", StringType),
    StructField("home", BooleanType)))

  final case class MatchEvent(id: String, event_type: String,
      player_id: String, home: Boolean)

  /** The canonical insert sequence (FIXTURES.md A2; union of
    * README.md:190-191,210-211,242-245,269-277 and all.sql:53-54,65-75).
    */
  val canonicalEvents: Seq[MatchEvent] = Seq(
    MatchEvent("1", "GOAL", "1", home = true),
    MatchEvent("1", "ASSIST", "1", home = true),
    MatchEvent("1", "GOAL", "1", home = true),
    MatchEvent("1", "GOAL", "2", home = false),
    MatchEvent("2", "GOAL", "1", home = true),
    MatchEvent("2", "ASSIST", "2", home = false),
    MatchEvent("2", "GOAL", "2", home = false))

  /** Batch DataFrame of [[canonicalEvents]] with `_offset` = arrival
    * ordinal — the batch analogue of the Kafka offset that
    * `LATEST_BY_OFFSET` orders by (all.sql:136-137).
    */
  def canonicalEventsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    canonicalEvents.zipWithIndex
      .map { case (e, i) => (e.id, e.event_type, e.player_id, e.home, i.toLong) }
      .toDF("id", "event_type", "player_id", "home", "_offset")
  }

  /** The 10-row players seed (init.sql:11-22), id = stringified PK. */
  def playersSeed(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("1", "Lionel Messi", "Paris Saint-Germain", "Argentinian"),
      ("2", "Cristiano Ronaldo", "Al-Nassr", "Portuguese"),
      ("3", "Neymar Jr.", "Paris Saint-Germain", "Brazilian"),
      ("4", "Kevin De Bruyne", "Manchester City", "Belgian"),
      ("5", "Kylian Mbappe", "Paris Saint-Germain", "French"),
      ("6", "Robert Lewandowski", "Barcelona", "Polish"),
      ("7", "Sadio Mane", "Bayern Munich", "Senegalese"),
      ("8", "Virgil van Dijk", "Liverpool", "Dutch"),
      ("9", "Bernardo Silva", "Manchester City", "Portuguese"),
      ("10", "Raheem Sterling", "Chelsea", "English"))
      .toDF("id", "name", "team", "nationality")
  }

  /** CSAS `match_event_player` (S4, all.sql:45-51): projection re-keyed by
    * player_id. In-engine the repartition is unnecessary (Catalyst
    * shuffles joins itself); kept at sink-materialization only.
    */
  def matchEventPlayer(matchEvent: DataFrame): DataFrame = {
    val keep = Seq("id", "event_type", "player_id") ++
      matchEvent.columns.filter(_ == "_offset")
    matchEvent.select(keep.map(col): _*)
  }

  /** `match_results` (S5, README.md:308-327): per-match home/away goal
    * pivot — the README's golden output is 1→(2,1), 2→(1,1)
    * (README.md:298-304,349-351).
    */
  def matchResults(matchEvent: DataFrame): DataFrame =
    matchEvent
      .filter(col("home").isNotNull)
      .groupBy(col("id"))
      .agg(
        Ops.sumIf(col("home") && col("event_type") === "GOAL").as("home_goals"),
        Ops.sumIf(!col("home") && col("event_type") === "GOAL").as("away_goals"))

  /** `player_stats` (S6, all.sql:129-160): join ⋈ players, group by player,
    * LATEST_BY_OFFSET dims, goals / avg_goals / assists. Golden rows:
    * Messi (3, 1.5, 1), Ronaldo (2, 1.0, 1) (README.md:413-420).
    *
    * `LATEST_BY_OFFSET` orders by the Kafka offset (all.sql:136-137), so
    * `max_by` here orders by `orderCol` — the `_offset` column produced by
    * `Sources.fromKafkaJson` / `canonicalEventsDF`, NOT the match-id string
    * (which is non-unique per player and sorts lexicographically).
    *
    * `countDistinctMatches` parameterizes A3's streaming story: batch uses
    * exact `countDistinct`; streaming passes `ExactCountDistinct.column`
    * or `approx_count_distinct` (SURVEY.md §7.5 pt.2).
    */
  def playerStats(matchEventPlayer: DataFrame, players: DataFrame,
      orderCol: String = "_offset",
      countDistinctMatches: org.apache.spark.sql.Column = countDistinct(col("mep_id")))
      : DataFrame = {
    val mep = matchEventPlayer
      .select(col("id").as("mep_id"), col("event_type"), col("player_id"),
        col(orderCol).as("_ord"))
    val joined = Ops.enrichJoin(mep, players, "player_id", "id")
    val goals = Ops.sumIf(col("event_type") === "GOAL")
    joined
      .groupBy(players("id").as("player_id"))
      .agg(
        graft.engine.TableOps.latestByOffset(col("name"), col("_ord"))
          .as("player_name"),
        graft.engine.TableOps.latestByOffset(col("nationality"), col("_ord"))
          .as("nationality"),
        goals.as("goals"),
        Ops.ratio(goals, countDistinctMatches).as("avg_goals"),
        Ops.sumIf(col("event_type") === "ASSIST").as("assists"))
  }

  /** The left-join + grouped-count push query (all.sql:60-63). */
  def goalsPerPlayerLeft(matchEventPlayer: DataFrame, players: DataFrame): DataFrame = {
    val mep = matchEventPlayer.select(col("id").as("mep_id"), col("event_type"),
      col("player_id"))
    Ops.enrichJoin(mep, players, "player_id", "id", joinType = "left")
      .groupBy(players("id").as("p_id"), col("name"), col("nationality"))
      .agg(count(col("mep_id")).as("goals"))
  }
}
