-- Reconstruction of the ksql-query-tutorial reference's
-- files/ksqldb-cli/all.sql, the 160-line ksqlDB CLI script.
-- The original could not be fetched. This copy is rebuilt from the
-- statements and all.sql:N line citations in SURVEY.md and FIXTURES.md
-- and from the golden outputs the tutorial specs assert. Connector
-- credentials are placeholders. Line N of the original is line N + 10
-- here: each statement sits at the lines its citations give, below
-- these ten header lines. Where the original is present, KsqlTutorialSpec
-- asserts the two files are byte-equal, so replace this copy with it.

SET 'auto.offset.reset' = 'earliest';

CREATE SOURCE CONNECTOR players_connector WITH (
    'connector.class'                = 'io.confluent.connect.jdbc.JdbcSourceConnector',
    'tasks.max'                      = '1',
    'connection.user'                = 'root',
    'connection.url'                 = 'jdbc:mysql://mysql:3306/football',
    'connection.password'            = 'root',
    'table.whitelist'                = 'players',
    'mode'                           = 'incrementing',
    'incrementing.column.name'       = 'id',
    'poll.interval.ms'               = '1000',
    'numeric.mapping'                = 'best_fit',
    'key'                            = 'id',
    'key.converter'                  = 'org.apache.kafka.connect.storage.StringConverter',
    'value.converter'                = 'org.apache.kafka.connect.json.JsonConverter',
    'value.converter.schemas.enable' = 'false'
);

CREATE TABLE players
(
    ID          VARCHAR PRIMARY KEY,
    name        VARCHAR(50),
    team        VARCHAR(50),
    nationality VARCHAR(50)
)
    WITH (
        KAFKA_TOPIC = 'players',
        VALUE_FORMAT = 'JSON',
        PARTITIONS = 1
        );

CREATE STREAM match_event
(
    id          VARCHAR KEY,
    event_type  VARCHAR,
    player_id   VARCHAR,
    home        boolean
)
    WITH (
        KAFKA_TOPIC = 'match_event', VALUE_FORMAT = 'JSON',
        PARTITIONS = 1
        );

CREATE STREAM match_event_player
    WITH (
        VALUE_FORMAT = 'JSON'
        )
AS
SELECT id, event_type, player_id FROM match_event
    PARTITION BY player_id;

INSERT INTO match_event (id, event_type, player_id, home)
VALUES ('1', 'GOAL', '1', true);

SELECT * FROM match_event_player mep
LEFT JOIN players p ON mep.player_id = p.id
EMIT CHANGES;

SELECT p.id, p.name, p.nationality, COUNT(mep.id) AS goals
FROM match_event_player mep
LEFT JOIN players p ON mep.player_id = p.id
GROUP BY p.id, p.name, p.nationality EMIT CHANGES;

INSERT INTO match_event (id, event_type, player_id, home)
VALUES ('1', 'ASSIST', '1', true);

INSERT INTO match_event (id, event_type, player_id, home)
VALUES ('1', 'GOAL', '2', false);

-- match 2 opens with an assist and no goal, so its row in the
-- home/away pivot below stays at zero goals for both sides until
-- a goal arrives
INSERT INTO match_event (id, event_type, player_id, home)
VALUES ('2', 'ASSIST', '1', true);

SELECT id,
       SUM(CASE
               WHEN home = true AND event_type = 'GOAL' THEN 1
               ELSE 0
           END) AS home_goals,
       SUM(CASE
               WHEN home = false AND event_type = 'GOAL' THEN 1
               ELSE 0
           END) AS away_goals
FROM match_event
WHERE
    -- an event without a home flag belongs to neither side and is
    -- dropped before the aggregation, so it cannot count as an away
    -- goal in the second CASE
    home IS NOT NULL
GROUP BY id EMIT CHANGES;

SELECT p.id, p.name, p.nationality, COUNT(mep.id) AS goals
FROM match_event_player mep
JOIN players p ON mep.player_id = p.id
WHERE mep.event_type = 'GOAL'
GROUP BY p.id, p.name, p.nationality EMIT CHANGES;

SELECT p.id AS player_id,
       p.name AS name,
       p.nationality AS nationality,
       SUM(CASE
               WHEN mep.event_type = 'GOAL' THEN 1
               ELSE 0
           END) AS goals,
       -- goals per distinct match the player appeared in: both sides
       -- are cast so the division is decimal
       CAST(SUM(CASE
                    WHEN mep.event_type = 'GOAL' THEN 1
                    ELSE 0
                END) AS DOUBLE)
           /
           CAST(
               COUNT_DISTINCT(mep.id) AS DOUBLE) AS avg_goals,
       SUM(CASE
               WHEN mep.event_type = 'ASSIST' THEN 1
               ELSE 0
           END) AS assists
FROM match_event_player mep
         JOIN players p
              ON p.id = mep.player_id
-- p.name and p.nationality are neither grouped nor aggregated
GROUP BY p.id
EMIT CHANGES;

-- the same statistics as a table, with the non-grouped columns carried
-- through the aggregation by LATEST_BY_OFFSET
CREATE TABLE player_stats
    WITH (
        KAFKA_TOPIC = 'player_stats',
        VALUE_FORMAT = 'JSON',
        PARTITIONS = 1
        )
AS SELECT p.id AS player_id,
          LATEST_BY_OFFSET(p.name) AS player_name,
          LATEST_BY_OFFSET(p.nationality) AS nationality,
          SUM(CASE
                  WHEN mep.event_type = 'GOAL' THEN 1
                  ELSE 0
              END) AS goals,
          -- goals per distinct match the player appeared in
          CAST(SUM(CASE
                       WHEN mep.event_type = 'GOAL' THEN 1
                       ELSE 0
                   END) AS DOUBLE)
              /
              CAST(
                  COUNT_DISTINCT(mep.id) AS DOUBLE) AS avg_goals,
          SUM(CASE
                  WHEN mep.event_type = 'ASSIST' THEN 1
                  ELSE 0
              END) AS assists
   FROM match_event_player mep
            JOIN players p
                 ON p.id = mep.player_id
   -- grouped by the key alone: name and nationality ride along
   -- through LATEST_BY_OFFSET
   GROUP BY p.id
   EMIT CHANGES;
