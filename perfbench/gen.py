"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of (seed, size):

* ``football``: raw FBref-shaped CSVs for the ETL and dashboard
  workloads, with the reference scrape's dirt (FBref's two-row header
  on the player-season file and on a copy of the cold player-match
  file, embedded header rows, ``TBD`` dates, ``Q`` ids, club
  suffixes, ``n/a`` numerics, malformed stadium rows). It writes a
  ``cold`` raw tier (the current season played up to matchweek W) and a
  ``weekly`` raw tier (the same plus matchweek W+1), and a
  ``manifest.json`` with the row counts the pipeline must produce.
* ``corpus``: the TPC-H-like parquet corpus of the registry queries,
  drawn from ``tools/gen_sf.py``'s distributions with the benchmark's
  seed (the tool itself is imported unchanged; only its RNG seed and
  its constant-table source are redirected).
"""
import importlib.util
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# (season code, label, first Saturday of the season)
SEASONS = [
    (2021, "2020-2021", "2020-09-12"),
    (2122, "2021-2022", "2021-08-14"),
    (2223, "2022-2023", "2022-08-06"),
    (2324, "2023-2024", "2023-08-12"),
    (2425, "2024-2025", "2024-08-17"),
    (2526, "2025-2026", "2025-08-16"),
]
TEAMS_PER_LEAGUE = 20
SQUAD = 25
PER_SIDE = 14          # starters + used substitutes per team and match
PLAYED_WEEKS = 20      # current season: matchweeks played in the cold raw
TBD_WEEK = 30          # fixtures of this matchweek are postponed ("TBD")

TOWNS = ["Ashby", "Barrow", "Colby", "Dunmore", "Elton", "Frome", "Garston",
         "Hexham", "Ilkley", "Jarrow", "Kendal", "Ludlow", "Marlow", "Nelson",
         "Oakham", "Penrith", "Quorn", "Redcar", "Selby", "Thame", "Ulverston",
         "Ventnor", "Whitby", "Yeovil", "Alnwick", "Bodmin", "Cromer", "Dorking",
         "Epsom", "Filey", "Goole", "Hythe", "Ivybridge", "Keswick", "Louth",
         "Malton", "Newent", "Otley", "Poole", "Romsey"]
NICKS = ["Rovers", "United", "Town", "City", "Athletic", "Wanderers",
         "Albion", "Rangers", "Borough", "Villa", "Harriers", "Dynamo",
         "Olympic", "Celtic", "Sporting", "Victoria"]
# league 0 carries the reference's own spelling variants: raw match
# tables spell the left name, the team seed the right one (Facts'
# variant map joins them)
VARIANTS = [("Wolverhampton Wanderers", "Wolves"),
            ("West Ham United", "West Ham"),
            ("Tottenham Hotspur", "Tottenham"),
            ("Nottingham Forest", "Nott'ham Forest"),
            ("Sheffield United", "Sheffield Utd"),
            ("Brighton & Hove Albion", "Brighton")]
SUFFIXES = ["", " F.C.", " FC", " A.F.C.", " AFC"]
FIRST = ["Adam", "Ben", "Callum", "Dan", "Eli", "Femi", "George", "Harry",
         "Isaac", "Jamal", "Kai", "Luca", "Mason", "Noah", "Owen", "Piotr",
         "Quinn", "Rafael", "Sami", "Theo", "Umar", "Victor", "Wes", "Xavi",
         "Yusuf", "Zane", "Arlo", "Bruno", "Caio", "Diego"]
LAST = ["Abbott", "Barker", "Carver", "Doyle", "Easton", "Fisher", "Gibbs",
        "Hale", "Irwin", "Jonas", "Keane", "Lowe", "Moss", "Nolan", "Osei",
        "Price", "Quill", "Reid", "Shaw", "Toure", "Upton", "Vance", "Walsh",
        "Yates", "Zola", "Ayew", "Bissaka", "Costa", "Dias", "Evra", "Fofana",
        "Gomes", "Hakimi", "Iwobi", "Jota", "Kante", "Lukaku", "Mane", "Neves",
        "Onana"]
NATIONS = ["ENG", "FRA", "ESP", "GER", "BRA", "ARG", "POR", "NED", "NGA", "SEN"]
POSITIONS = ["GK", "DF", "MF", "FW"]
FORMATIONS = ["4-3-3", "4-2-3-1", "3-5-2", "4-4-2", "3-4-3"]

# player-match stat columns as (level-0, level-1) header pairs
STATS = [("min", ""), ("Performance", "Gls"), ("Expected", "xG"),
         ("Expected", "xAG"), ("Performance", "Ast"), ("Performance", "PK"),
         ("Performance", "PKatt"), ("Performance", "Sh"),
         ("Performance", "SoT"), ("Performance", "CrdY"),
         ("Performance", "CrdR"), ("Performance", "Touches"),
         ("Performance", "Tkl"), ("Performance", "Int"),
         ("Performance", "Blocks"), ("SCA", "SCA"), ("SCA", "GCA"),
         ("Passes", "Cmp"), ("Passes", "Att"), ("Passes", "Cmp%"),
         ("Passes", "PrgP"), ("Carries", "Carries"), ("Carries", "PrgC"),
         ("Take-Ons", "Att"), ("Take-Ons", "Succ")]
PM_KEYS = ["season", "game", "team", "player", "nation", "pos"]


def _strs(a):
    return np.asarray(a).astype(str)


def _write_csv(path, header_lines, cols, names):
    """Header line(s) written verbatim, then the string columns."""
    with open(path, "wb") as f:
        for h in header_lines:
            f.write((",".join(h) + "\n").encode())
        if len(cols[0]):
            # empty cells are written unquoted, so Spark reads them as null
            table = pa.table({n: pa.array(c, pa.string(), mask=(c == ""))
                              for n, c in zip(names, cols)})
            pacsv.write_csv(table, f, pacsv.WriteOptions(include_header=False))


def _schedule(n):
    """Double round-robin (circle method): [week][game] -> (home, away)."""
    idx = list(range(n))
    first = []
    for _ in range(n - 1):
        first.append([(idx[i], idx[n - 1 - i]) for i in range(n // 2)])
        idx = [idx[0]] + [idx[-1]] + idx[1:-1]
    weeks = [[(a, b) if w % 2 == 0 else (b, a) for a, b in wk]
             for w, wk in enumerate(first)]
    return weeks + [[(b, a) for a, b in wk] for wk in weeks]


def football(out, seed, leagues, n_seasons=len(SEASONS)):
    """Write cold/ and weekly/ raw tiers plus manifest.json under `out`:
    `leagues` x 20 teams over the last `n_seasons` seasons."""
    rng = np.random.default_rng(seed)
    seasons = SEASONS[-n_seasons:]
    n_teams = leagues * TEAMS_PER_LEAGUE
    combos = [f"{t} {n}" for t in TOWNS for n in NICKS]
    picks = rng.permutation(len(combos))[:n_teams]
    match_name = [combos[i] for i in picks]   # as spelled in match tables
    seed_name = list(match_name)              # as spelled in the team seed
    for i, (m, s) in enumerate(VARIANTS[:n_teams]):
        match_name[i], seed_name[i] = m, s
    seed_name = [s + SUFFIXES[rng.integers(len(SUFFIXES))] for s in seed_name]
    team_ids = 9000 + rng.permutation(n_teams * 5)[:n_teams]
    stadium_ids = 20000 + rng.permutation(n_teams * 5)[:n_teams]

    n_players = n_teams * SQUAD
    names = [f"{f} {l}" for f in FIRST for l in LAST]
    pnames = []
    for i in rng.permutation(len(names) * 20)[:n_players]:
        base, k = names[i % len(names)], i // len(names)
        pnames.append(base if k == 0 else f"{base} {chr(ord('A') + k - 1)}.")
    pnames = np.array(pnames)
    p_nation = np.array(NATIONS)[rng.integers(0, len(NATIONS), n_players)]
    p_pos = np.array(POSITIONS)[rng.integers(0, len(POSITIONS), n_players)]
    p_born = rng.integers(1986, 2006, n_players).astype(str)
    p_born[rng.random(n_players) < 0.02] = "n/a"

    sched = _schedule(TEAMS_PER_LEAGUE)
    # one row per (season, league, week, slot): global home/away team idx
    games = []
    for s_i, (code, _, start) in enumerate(seasons):
        d0 = np.datetime64(start)
        for lg in range(leagues):
            for w, wk in enumerate(sched):
                for h, a in wk:
                    games.append((s_i, lg, w + 1, lg * TEAMS_PER_LEAGUE + h,
                                  lg * TEAMS_PER_LEAGUE + a,
                                  d0 + np.timedelta64(7 * w + (h % 2), "D")))
    n_games = len(games)
    g_season = np.array([g[0] for g in games])
    g_week = np.array([g[2] for g in games])
    g_home = np.array([g[3] for g in games])
    g_away = np.array([g[4] for g in games])
    g_date = np.array([g[5] for g in games])
    g_dstr = np.datetime_as_string(g_date)
    g_day = np.where((g_home % 2) == 0, "Sat", "Sun")
    g_name = np.array([f"{d} {match_name[h]}-{match_name[a]}"
                       for d, h, a in zip(g_dstr, g_home, g_away)])
    g_hg = rng.poisson(1.5, n_games)
    g_ag = rng.poisson(1.2, n_games)
    g_hxg = np.round(rng.uniform(0.2, 3.5, n_games), 1)
    g_axg = np.round(rng.uniform(0.2, 3.0, n_games), 1)
    g_poss = rng.integers(30, 71, n_games)
    cur = len(seasons) - 1
    tbd = (g_season == cur) & (g_week == TBD_WEEK) & (np.arange(n_games) % 5 == 0)

    # player-match lineups: 14 of the team's 25-man squad, per side
    squad_pick = np.argsort(rng.random((2 * n_games, SQUAD)), axis=1)[:, :PER_SIDE]
    side_team = np.concatenate([g_home, g_away])
    side_game = np.concatenate([np.arange(n_games)] * 2)
    lineup = side_team[:, None] * SQUAD + squad_pick            # player idx
    captain = lineup[:, 0]
    side_formation = np.array(FORMATIONS)[rng.integers(0, len(FORMATIONS), 2 * n_games)]

    def played(week_cut):
        return (g_season < cur) | (g_week <= week_cut)

    def team_match_tier(week_cut):
        pl = played(week_cut)
        rows = {k: [] for k in ["season", "game", "team", "opponent", "date",
                                "round", "day", "venue", "result", "GF", "GA",
                                "xG", "xGA", "Poss", "Captain", "Formation"]}
        for side in (0, 1):
            me = g_home if side == 0 else g_away
            op = g_away if side == 0 else g_home
            gf, ga = (g_hg, g_ag) if side == 0 else (g_ag, g_hg)
            xg, xga = (g_hxg, g_axg) if side == 0 else (g_axg, g_hxg)
            poss = g_poss if side == 0 else 100 - g_poss
            res = np.where(gf > ga, "W", np.where(gf < ga, "L", "D"))
            sl = slice(side * n_games, (side + 1) * n_games)
            blank = lambda v: np.where(pl, _strs(v), "")
            rows["season"].append(_strs(np.array([seasons[s][0] for s in g_season])))
            rows["game"].append(g_name)
            rows["team"].append(np.array(match_name)[me])
            rows["opponent"].append(np.array(match_name)[op])
            rows["date"].append(np.where(tbd, "TBD", g_dstr))
            rows["round"].append(np.char.add("Matchweek ", _strs(g_week)))
            rows["day"].append(g_day)
            rows["venue"].append(np.full(n_games, "Home" if side == 0 else "Away"))
            rows["result"].append(np.where(pl, res, ""))
            rows["GF"].append(blank(gf))
            rows["GA"].append(blank(ga))
            xg_s = blank(xg)
            xg_s[pl & (rng.random(n_games) < 0.01)] = "n/a"
            rows["xG"].append(xg_s)
            rows["xGA"].append(blank(xga))
            rows["Poss"].append(blank(poss))
            rows["Captain"].append(np.where(pl, pnames[captain[sl]], ""))
            rows["Formation"].append(np.where(pl, side_formation[sl], ""))
        names_ = list(rows)
        return names_, [np.concatenate(rows[k]) for k in names_], int(pl.sum())

    def team_point_tier(week_cut):
        pl = played(week_cut)
        cols = {k: [] for k in ["season_label", "Match_Category", "Rank", "Team",
                                "MP", "W", "D", "L", "gf_ga", "GD", "Pts",
                                "Recent_Form"]}
        for s_i, (_, label, _) in enumerate(seasons):
            lab = label.replace("-", "/") if s_i % 2 else label
            for lg in range(leagues):
                sel = pl & (g_season == s_i) & (g_home // TEAMS_PER_LEAGUE == lg)
                for cat in ("Overall", "Home", "Away"):
                    st = np.zeros((n_teams, 6), dtype=np.int64)  # W D L GF GA MP
                    for side in (0, 1):
                        if (cat, side) in (("Home", 1), ("Away", 0)):
                            continue
                        me = (g_home if side == 0 else g_away)[sel]
                        gf = (g_hg if side == 0 else g_ag)[sel]
                        ga = (g_ag if side == 0 else g_hg)[sel]
                        np.add.at(st[:, 0], me, gf > ga)
                        np.add.at(st[:, 1], me, gf == ga)
                        np.add.at(st[:, 2], me, gf < ga)
                        np.add.at(st[:, 3], me, gf)
                        np.add.at(st[:, 4], me, ga)
                        np.add.at(st[:, 5], me, 1)
                    teams = np.arange(lg * TEAMS_PER_LEAGUE, (lg + 1) * TEAMS_PER_LEAGUE)
                    t = st[teams]
                    pts = 3 * t[:, 0] + t[:, 1]
                    order = np.lexsort((-(t[:, 3] - t[:, 4]), -pts))
                    rank = np.empty(len(teams), dtype=np.int64)
                    rank[order] = np.arange(1, len(teams) + 1)
                    form = ["".join(rng.choice(list("WDL"), 5)) for _ in teams]
                    cols["season_label"].append(np.full(len(teams), lab))
                    cols["Match_Category"].append(np.full(len(teams), cat))
                    cols["Rank"].append(np.char.add(_strs(rank), "."))
                    # club suffixes (not on the variant-spelled names,
                    # which the variant map must see verbatim)
                    sfx = np.array([" FC" if t >= len(VARIANTS) and rng.random() < 0.2
                                    else "" for t in teams])
                    cols["Team"].append(np.char.add(np.array(match_name)[teams], sfx))
                    for k, c in zip(["W", "D", "L"], range(3)):
                        cols[k].append(_strs(t[:, c]))
                    cols["MP"].append(_strs(t[:, 5]))
                    cols["gf_ga"].append(np.char.add(np.char.add(_strs(t[:, 3]), ":"),
                                                     _strs(t[:, 4])))
                    cols["GD"].append(_strs(t[:, 3] - t[:, 4]))
                    cols["Pts"].append(_strs(pts))
                    cols["Recent_Form"].append(np.array(form))
        names_ = list(cols)
        return names_, [np.concatenate(cols[k]) for k in names_]

    def player_match_rows(mask):
        """String columns of the player-match rows of the games in `mask`."""
        sides = np.concatenate([mask, mask])
        lu = lineup[sides]
        n = lu.size
        pidx = lu.reshape(-1)
        gidx = np.repeat(side_game[sides], PER_SIDE)
        tidx = np.repeat(side_team[sides], PER_SIDE)
        cols = [
            _strs(np.array([x[0] for x in seasons])[g_season[gidx]]),
            g_name[gidx], np.array(match_name)[tidx], pnames[pidx],
            p_nation[pidx], p_pos[pidx],
            _strs(rng.integers(1, 91, n)),
        ]
        for l0, l1 in STATS[1:]:
            if l1 in ("xG", "xAG"):
                v = _strs(np.round(rng.exponential(0.15, n), 1))
            elif l1 == "Cmp%":
                v = _strs(np.round(rng.uniform(40, 100, n), 1))
            elif l1 in ("Touches", "Cmp", "Att", "Carries"):
                v = _strs(rng.integers(0, 90, n))
            else:
                v = _strs(rng.poisson(0.3, n))
            v[rng.random(n) < 0.002] = "n/a"
            cols.append(v)
        return cols

    # player-match header as the extract flattens it ("Performance_Gls")
    flat = PM_KEYS + [f"{l0}_{l1}" if l1 else l0 for l0, l1 in STATS]

    def write_player_match(path, mask):
        cols = player_match_rows(mask)
        n = len(cols[0])
        # the scraper re-emits its header mid-file
        at = sorted(rng.choice(max(n, 1), size=min(3, n), replace=False))
        cols = [np.insert(c, at, h) for c, h in zip(cols, flat)]
        _write_csv(path, [flat], cols, [f"c{i}" for i in range(len(cols))])
        return n

    cold, weekly = os.path.join(out, "cold"), os.path.join(out, "weekly")
    for d in (cold, weekly):
        os.makedirs(os.path.join(d, "player_match_stats"), exist_ok=True)

    # static seeds (identical in both tiers)
    seed_cols = [np.char.add("Q", _strs(team_ids)), np.array(seed_name),
                 _strs(rng.integers(1870, 1990, n_teams)),
                 np.char.add("Q", _strs(stadium_ids)),
                 np.array([n[:3].upper() for n in match_name])]
    seed_cols[0] = np.where(rng.random(n_teams) < 0.2, _strs(team_ids), seed_cols[0])
    seed_cols[2][rng.random(n_teams) < 0.05] = "n/a"
    st_cols = [np.char.add("Q", _strs(stadium_ids)),
               np.array([f"{match_name[i].split(' ')[0]} Park" for i in range(n_teams)]),
               _strs(rng.integers(5000, 75000, n_teams))]
    # a repeated header row and a truncated row, both dropped by Dims.stadium
    st_cols = [np.append(c, v) for c, v in zip(st_cols, ["stadium_id", "stadium_name", "capacity"])]
    st_cols = [np.append(c, v) for c, v in zip(st_cols, ["Q1", "Lost Ground", ""])]
    # player-season stats keep FBref's two-row (MultiIndex) header
    season_l0 = ["player", "nation", "pos", "born", "Playing Time", "Playing Time",
                 "Performance", "Performance", "Expected"]
    season_l1 = ["", "", "", "", "MP", "Min", "Gls", "Ast", "xG"]
    mp = rng.integers(0, 39, n_players)
    season_cols = [pnames, p_nation, p_pos, p_born, _strs(mp), _strs(mp * 70),
                   _strs(rng.poisson(2, n_players)), _strs(rng.poisson(1.5, n_players)),
                   _strs(np.round(rng.exponential(2.0, n_players), 1))]

    played_games = {}
    for tier, cut in (("cold", PLAYED_WEEKS), ("weekly", PLAYED_WEEKS + 1)):
        d = cold if tier == "cold" else weekly
        _write_csv(os.path.join(d, "team_seed.csv"),
                   [["team_id", "team_name", "founded_year", "stadium_id", "short_name"]],
                   seed_cols, list("abcde"))
        _write_csv(os.path.join(d, "stadium_seed.csv"),
                   [["stadium_id", "stadium_name", "capacity"]], st_cols, list("abc"))
        _write_csv(os.path.join(d, "player_season_stats.csv"),
                   [season_l0, season_l1], season_cols, list("abcdefghi"))
        names_, cols, n_played = team_match_tier(cut)
        _write_csv(os.path.join(d, "team_match.csv"), [names_], cols, names_)
        names_, cols = team_point_tier(cut)
        _write_csv(os.path.join(d, "team_point.csv"), [names_], cols, names_)
        played_games[tier] = n_played

    pm_cold = write_player_match(
        os.path.join(cold, "player_match_stats", "part-00000.csv"), played(PLAYED_WEEKS))
    # the same cold rows under FBref's two-row (MultiIndex) header, as
    # the reference scrapes them (flattened, its names are `flat`); kept
    # beside the tiers, so the tiers' byte counts stay as they were
    with open(os.path.join(cold, "player_match_stats", "part-00000.csv"), "rb") as src, \
            open(os.path.join(out, "player_match_two_row.csv"), "wb") as dst:
        src.readline()
        dst.write((",".join(PM_KEYS + [l0 for l0, _ in STATS]) + "\n").encode())
        dst.write((",".join([""] * len(PM_KEYS) + [l1 for _, l1 in STATS]) + "\n").encode())
        shutil.copyfileobj(src, dst)
    os.link(os.path.join(cold, "player_match_stats", "part-00000.csv"),
            os.path.join(weekly, "player_match_stats", "part-00000.csv"))
    new_week = (g_season == cur) & (g_week == PLAYED_WEEKS + 1)
    pm_new = write_player_match(
        os.path.join(weekly, "player_match_stats", "part-00001.csv"), new_week)

    n_dated = int((~tbd).sum())
    expected = {}
    for tier, pm in (("cold", pm_cold), ("weekly", pm_cold + pm_new)):
        expected[tier] = {
            "dim_player": n_players,
            "dim_team": n_teams,
            "dim_stadium": n_teams,
            "dim_match": n_dated,
            "dim_season": len(SEASONS),
            "fact_team_match": 2 * played_games[tier],
            "fact_team_point": len(seasons) * n_teams * 3,
            "fact_player_match": pm,
        }
    manifest = {"seed": seed, "leagues": leagues, "expected": expected,
                "seasons": [s[1] for s in seasons],
                "new_week_rows": {"fact_player_match": pm_new,
                                  "fact_team_match": 2 * int(new_week.sum())}}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


REGION = [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")]


def corpus(out, seed, sf, repo_root):
    """sf-scaled registry corpus via tools/gen_sf.py, seeded."""
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(repo_root, "tools", "gen_sf.py"))
    gen_sf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_sf)
    # gen_sf copies the constant region/nation tables from a reference
    # directory; give it one inside the benchmark's own input cache
    ref = out + ".const"
    os.makedirs(ref, exist_ok=True)
    pq.write_table(pa.table({
        "r_regionkey": pa.array([r[0] for r in REGION], pa.int32()),
        "r_name": [r[1] for r in REGION]}), os.path.join(ref, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        os.path.join(ref, "nation.parquet"))
    gen_sf.REF = ref
    real_rng = np.random.default_rng
    gen_sf.np.random.default_rng = lambda _fixed: real_rng(seed)
    argv, stdout = sys.argv, sys.stdout
    try:
        sys.argv = ["gen_sf.py", str(sf), out]
        sys.stdout = open(os.devnull, "w")
        gen_sf.main()
    finally:
        sys.stdout.close()
        sys.argv, sys.stdout = argv, stdout
        gen_sf.np.random.default_rng = real_rng
        shutil.rmtree(ref, ignore_errors=True)
