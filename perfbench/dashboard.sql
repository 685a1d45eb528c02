-- The 15 query shapes of the reference dashboard (scr/ui.py), adapted
-- only in dialect: Postgres "W" quoting becomes `W`, and %s parameters
-- become :season / :team, which the benchmark fills with seeded
-- (season name, team name) pairs drawn from the warehouse. Views:
-- dim_match exposes the warehouse names match_id/match_name/match_date
-- and dim_player exposes player_name (scr/Load.py's renames).
-- Each block: "-- name: <shape> [order: <columns>] [limit: <n>]".

-- name: get_seasons
SELECT season_name FROM dim_season ORDER BY season_name DESC

-- name: get_league_table order: Rank
SELECT ftp.`Rank`, dt.team_name AS team, ftp.`MP`, ftp.`W`, ftp.`D`,
       ftp.`L`, ftp.`GF`, ftp.`GA`, ftp.`GD`, ftp.`Pts`
FROM fact_team_point ftp
JOIN dim_team dt ON ftp.team_id = dt.team_id
JOIN dim_season ds ON ftp.season_id = ds.season_id
WHERE ds.season_name = :season AND ftp.`Match_Category` = 'overall'
ORDER BY ftp.`Rank`

-- name: get_top_scorers order: total_goals limit: 10
SELECT dp.player_name, dt.team_name, SUM(fpm.goals) as total_goals
FROM fact_player_match fpm
JOIN dim_player dp ON fpm.player_id = dp.player_id
JOIN dim_team dt ON fpm.team_id = dt.team_id
JOIN dim_season ds ON fpm.season = ds.season_id
WHERE ds.season_name = :season
GROUP BY dp.player_name, dt.team_name
HAVING SUM(fpm.goals) > 0
ORDER BY total_goals DESC
LIMIT 10

-- name: get_top_assisters order: total_assists limit: 10
SELECT dp.player_name, dt.team_name, SUM(fpm.assists) as total_assists
FROM fact_player_match fpm
JOIN dim_player dp ON fpm.player_id = dp.player_id
JOIN dim_team dt ON fpm.team_id = dt.team_id
JOIN dim_season ds ON fpm.season = ds.season_id
WHERE ds.season_name = :season
GROUP BY dp.player_name, dt.team_name
HAVING SUM(fpm.assists) > 0
ORDER BY total_assists DESC
LIMIT 10

-- name: get_season_overview_stats
SELECT COALESCE(COUNT(DISTINCT ftm.game_id), 0) as total_matches,
       COALESCE(SUM(ftm.`GF`), 0) as total_goals
FROM fact_team_match ftm
JOIN dim_season ds ON ftm.season = ds.season_id
WHERE ds.season_name = :season

-- name: get_teams
SELECT DISTINCT dt.team_name
FROM fact_team_point ftp
JOIN dim_team dt ON ftp.team_id = dt.team_id
JOIN dim_season ds ON ftp.season_id = ds.season_id
WHERE ds.season_name = :season
ORDER BY dt.team_name

-- name: get_team_kpis
SELECT ftp.`W`, ftp.`D`, ftp.`L`, ftp.`GF`, ftp.`GA`, ftp.`Pts`, ftp.`Rank`
FROM fact_team_point ftp
JOIN dim_team dt ON ftp.team_id = dt.team_id
JOIN dim_season ds ON ftp.season_id = ds.season_id
WHERE ds.season_name = :season AND dt.team_name = :team
  AND LOWER(ftp.`Match_Category`) = 'overall'

-- name: get_team_top_scorers order: total_goals limit: 5
SELECT dp.player_name, SUM(fpm.goals) as total_goals
FROM fact_player_match fpm
JOIN dim_player dp ON fpm.player_id = dp.player_id
JOIN dim_team dt ON fpm.team_id = dt.team_id
JOIN dim_season ds ON fpm.season = ds.season_id
WHERE ds.season_name = :season AND dt.team_name = :team
GROUP BY dp.player_name
HAVING SUM(fpm.goals) > 0
ORDER BY total_goals DESC
LIMIT 5

-- name: get_xg_vs_goals_data
SELECT dt.team_name,
       SUM(ftm.`GF`) as total_goals,
       SUM(ftm.`xG`) as total_xg
FROM fact_team_match ftm
JOIN dim_team dt ON ftm.team_id = dt.team_id
JOIN dim_season ds ON ftm.season = ds.season_id
WHERE ds.season_name = :season
GROUP BY dt.team_name

-- name: get_home_away_performance
SELECT * FROM (
  SELECT dt.team_name,
         SUM(CASE WHEN LOWER(ftp.`Match_Category`) = 'home' THEN ftp.`Pts` ELSE 0 END) as home_pts,
         SUM(CASE WHEN LOWER(ftp.`Match_Category`) = 'away' THEN ftp.`Pts` ELSE 0 END) as away_pts,
         SUM(CASE WHEN LOWER(ftp.`Match_Category`) = 'home' THEN ftp.`W` ELSE 0 END) as home_wins,
         SUM(CASE WHEN LOWER(ftp.`Match_Category`) = 'away' THEN ftp.`W` ELSE 0 END) as away_wins
  FROM fact_team_point ftp
  JOIN dim_team dt ON ftp.team_id = dt.team_id
  JOIN dim_season ds ON ftp.season_id = ds.season_id
  WHERE ds.season_name = :season AND LOWER(ftp.`Match_Category`) IN ('home', 'away')
  GROUP BY dt.team_name
) AS performance_summary
ORDER BY (performance_summary.home_pts + performance_summary.away_pts) DESC

-- name: get_defensive_stats order: avg_goals_conceded
SELECT dt.team_name,
       ftp.`GA` as goals_conceded,
       ftp.`MP` as matches_played,
       ROUND(CAST(ftp.`GA` AS DECIMAL) / NULLIF(ftp.`MP`, 0), 2) as avg_goals_conceded
FROM fact_team_point ftp
JOIN dim_team dt ON ftp.team_id = dt.team_id
JOIN dim_season ds ON ftp.season_id = ds.season_id
WHERE ds.season_name = :season AND LOWER(ftp.`Match_Category`) = 'overall'
ORDER BY avg_goals_conceded ASC

-- name: get_offensive_stats order: avg_goals_scored
SELECT dt.team_name,
       ftp.`GF` as goals_scored,
       ftp.`MP` as matches_played,
       ROUND(CAST(ftp.`GF` AS DECIMAL) / NULLIF(ftp.`MP`, 0), 2) as avg_goals_scored
FROM fact_team_point ftp
JOIN dim_team dt ON ftp.team_id = dt.team_id
JOIN dim_season ds ON ftp.season_id = ds.season_id
WHERE ds.season_name = :season AND LOWER(ftp.`Match_Category`) = 'overall'
ORDER BY avg_goals_scored DESC

-- name: get_season_comparison
SELECT ds.season_name,
       COUNT(DISTINCT ftm.game_id) as total_matches,
       SUM(ftm.`GF`) as total_goals,
       ROUND(CAST(SUM(ftm.`GF`) AS DECIMAL) / NULLIF(COUNT(DISTINCT ftm.game_id), 0), 2) as avg_goals_per_match
FROM fact_team_match ftm
JOIN dim_season ds ON ftm.season = ds.season_id
GROUP BY ds.season_name
ORDER BY ds.season_name DESC

-- name: get_team_recent_form order: match_date limit: 5
SELECT dm.match_date, o_dt.team_name as opponent_name, ftm.venue,
       ftm.result, ftm.`GF` as goals_for, ftm.`GA` as goals_against
FROM fact_team_match ftm
JOIN dim_team dt ON ftm.team_id = dt.team_id
JOIN dim_team o_dt ON ftm.opponent_id = o_dt.team_id
JOIN dim_season ds ON ftm.season = ds.season_id
JOIN dim_match dm ON ftm.game_id = dm.match_id
WHERE ds.season_name = :season AND dt.team_name = :team
ORDER BY dm.match_date DESC
LIMIT 5

-- name: get_top_bottom_performers order: Pts
SELECT dt.team_name, ftp.`Pts`, ftp.`GF`, ftp.`GA`, ftp.`GD`,
       ftp.`W`, ftp.`D`, ftp.`L`
FROM fact_team_point ftp
JOIN dim_team dt ON ftp.team_id = dt.team_id
JOIN dim_season ds ON ftp.season_id = ds.season_id
WHERE ds.season_name = :season AND LOWER(ftp.`Match_Category`) = 'overall'
ORDER BY ftp.`Pts` DESC
