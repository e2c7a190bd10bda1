"""Seeded cricsheet-shaped IPL match generator and an independent model of
what the pipeline must produce from it.

The generator writes match documents in the cricsheet JSON layout
(``meta`` / ``info`` / ``innings -> overs -> deliveries -> wickets ->
fielders``), with the ``players`` map (team -> roster) and the ``teams`` /
``dates`` / ``player_of_match`` arrays that drive the flatten fan-out.

The model is plain Python over the generated dicts. It never calls Spark:
it predicts the flattened row count and run total of every match from the
document alone, using the flatten contract (every struct expanded, every
array and map exploded with ``explode_outer``, one after another, so the
match-level arrays multiply the delivery-level rows).
"""

from __future__ import annotations

import json
import random
import zipfile

TEAMS = ("CSK", "MI", "RCB", "KKR", "DC", "PBKS", "RR", "SRH")
SEASONS = ("2021", "2022", "2023")
VENUES = (
    ("Chennai", "MA Chidambaram Stadium"),
    ("Mumbai", "Wankhede Stadium"),
    ("Bengaluru", "M Chinnaswamy Stadium"),
    ("Kolkata", "Eden Gardens"),
    ("Delhi", "Arun Jaitley Stadium"),
)
_WICKET_KINDS = ("caught", "bowled", "run out", "lbw", "stumped")

# The ingest reads documents with this pinned schema (FIXTURES.md section 5),
# so ``info.players`` parses as a map, not as a struct keyed by team name.
JSON_SCHEMA = (
    "meta struct<data_version:string, created:string, revision:long>, "
    "info struct<city:string, dates:array<string>, season:string, venue:string, "
    "gender:string, match_type:string, overs:long, teams:array<string>, "
    "event:struct<name:string, match_number:long>, "
    "toss:struct<decision:string, winner:string>, "
    "outcome:struct<winner:string, by:struct<runs:long, wickets:long>>, "
    "player_of_match:array<string>, players:map<string, array<string>>>, "
    "innings array<struct<team:string, overs:array<struct<over:long, "
    "deliveries:array<struct<batter:string, bowler:string, non_striker:string, "
    "runs:struct<batter:long, extras:long, total:long>, "
    "extras:struct<wides:long, legbyes:long, byes:long, noballs:long>, "
    "wickets:array<struct<kind:string, player_out:string, "
    "fielders:array<struct<name:string>>>>>>>>>>"
)

# Flattened column names the benchmark reads back.
SEASON_COL = "info_season"
MATCH_COL = "info_event_match_number"
RUNS_COL = "innings_overs_deliveries_runs_total"
OVER_COL = "innings_overs_over"
INNINGS_TEAM_COL = "innings_team"


def _delivery(rng: random.Random, batter: str, non_striker: str, bowler: str, extra: str | None):
    runs_batter = rng.choice((0, 0, 0, 1, 1, 1, 2, 4, 6))
    extras = {}
    if extra:
        extras[extra] = 1
        runs_batter = 0 if extra == "wides" else runs_batter
    runs_extras = sum(extras.values())
    d = {
        "batter": batter,
        "bowler": bowler,
        "non_striker": non_striker,
        "runs": {"batter": runs_batter, "extras": runs_extras, "total": runs_batter + runs_extras},
    }
    if extras:
        d["extras"] = extras
    return d


def make_match(rng: random.Random, season: str, match_number: int, overs: int = 20) -> dict:
    """One match document. Every optional part of the schema (each extras
    kind, wickets with and without fielders) appears, so a single-match
    batch flattens to the same columns as a large one."""
    home, away = rng.sample(TEAMS, 2)
    rosters = {
        t: [f"{t} player {i}" for i in range(rng.choice((11, 11, 12)))] for t in (home, away)
    }
    city, venue = rng.choice(VENUES)
    toss_winner = rng.choice((home, away))
    innings = []
    for batting, bowling in ((home, away), (away, home)):
        bat, bowl = rosters[batting], rosters[bowling]
        striker, other, nxt = 0, 1, 2
        overs_out = []
        for o in range(overs):
            bowler = bowl[-1 - (o % 5)]
            deliveries = []
            legal = 0
            while legal < 6:
                extra = None
                r = rng.random()
                if r < 0.04:
                    extra = "wides"
                elif r < 0.06:
                    extra = "noballs"
                elif r < 0.08:
                    extra = "legbyes"
                elif r < 0.09:
                    extra = "byes"
                d = _delivery(rng, bat[striker], bat[other], bowler, extra)
                if extra not in ("wides", "noballs"):
                    legal += 1
                if extra is None and nxt < len(bat) and rng.random() < 0.05:
                    kind = rng.choice(_WICKET_KINDS)
                    w = {"kind": kind, "player_out": bat[striker]}
                    if kind in ("caught", "run out", "stumped"):
                        n_f = 2 if kind == "run out" and rng.random() < 0.5 else 1
                        w["fielders"] = [{"name": n} for n in rng.sample(bowl, n_f)]
                    d["wickets"] = [w]
                    striker, nxt = nxt, nxt + 1
                elif d["runs"]["batter"] % 2 == 1:
                    striker, other = other, striker
                deliveries.append(d)
            striker, other = other, striker
            overs_out.append({"over": o, "deliveries": deliveries})
        innings.append({"team": batting, "overs": overs_out})
    _ensure_all_optional_fields(innings, rosters[away])
    totals = {inn["team"]: sum(d["runs"]["total"] for o in inn["overs"] for d in o["deliveries"]) for inn in innings}
    winner = home if totals[home] >= totals[away] else away
    return {
        "meta": {"data_version": "1.1.0", "created": f"{season}-06-01", "revision": 1},
        "info": {
            "city": city,
            "dates": [f"{season}-04-{1 + match_number % 28:02d}"],
            "season": season,
            "venue": venue,
            "gender": "male",
            "match_type": "T20",
            "overs": overs,
            "teams": [home, away],
            "event": {"name": "Indian Premier League", "match_number": match_number},
            "toss": {"decision": rng.choice(("bat", "field")), "winner": toss_winner},
            "outcome": {"winner": winner, "by": {"runs": abs(totals[home] - totals[away])}},
            "player_of_match": [rng.choice(rosters[winner])],
            "players": rosters,
        },
        "innings": innings,
    }


def _ensure_all_optional_fields(innings: list, fielding_side: list) -> None:
    """Plant one of each extras kind and one wicket with fielders on the
    first innings' first deliveries, so no batch lacks a column."""
    first = innings[0]["overs"][0]["deliveries"]
    for d, kind in zip(first, ("wides", "noballs", "legbyes", "byes")):
        d["extras"] = {kind: 1}
        d["runs"] = {"batter": 0, "extras": 1, "total": 1}
    last = innings[0]["overs"][-1]["deliveries"][-1]
    last.setdefault(
        "wickets",
        [{"kind": "caught", "player_out": last["batter"], "fielders": [{"name": fielding_side[0]}]}],
    )


def make_matches(seed: int, n: int, overs: int = 20) -> list[dict]:
    """``n`` matches numbered from 1, seasons in rotation."""
    rng = random.Random(seed)
    return [make_match(rng, SEASONS[i % len(SEASONS)], i, overs) for i in range(1, n + 1)]


def write_zip(path: str, matches: list[dict]) -> None:
    """Archive one JSON member per match, named like cricsheet's files."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for m in matches:
            zf.writestr(f"{match_key(m)}.json", json.dumps(m))


def match_key(m: dict) -> str:
    return f"{m['info']['season']}_{m['info']['event']['match_number']}"


# --------------------------------------------------------------------------
# Independent model
# --------------------------------------------------------------------------


def _outer(n: int) -> int:
    """explode_outer keeps one row for a missing or empty array."""
    return max(n, 1)


def info_fanout(m: dict) -> int:
    """Rows each delivery fans out to from the match-level arrays and map."""
    info = m["info"]
    players = info.get("players") or {}
    roster_rows = sum(_outer(len(v or [])) for v in players.values()) if players else 1
    return (
        _outer(len(info.get("dates") or []))
        * _outer(len(info.get("teams") or []))
        * _outer(len(info.get("player_of_match") or []))
        * roster_rows
    )


def delivery_rows(d: dict) -> int:
    """Rows one delivery flattens to, before the match-level fan-out."""
    wickets = d.get("wickets") or []
    return sum(_outer(len(w.get("fielders") or [])) for w in wickets) if wickets else 1


def match_stats(m: dict, over: int | None = None, innings_idx: int | None = None) -> tuple[int, int]:
    """(flattened rows, sum of runs_total over those rows) for one match,
    optionally restricted to one over of one innings."""
    whole = over is None and innings_idx is None
    rows = runs = 0
    innings = m.get("innings") or []
    if not innings and whole:
        rows = 1  # an empty array still leaves one row with null deliveries
    for i, inn in enumerate(innings):
        if innings_idx is not None and i != innings_idx:
            continue
        overs = inn.get("overs") or []
        if not overs and whole:
            rows += 1
        for o in overs:
            if over is not None and o["over"] != over:
                continue
            deliveries = o.get("deliveries") or []
            rows += 0 if deliveries else 1
            for d in deliveries:
                k = delivery_rows(d)
                rows += k
                runs += k * d["runs"]["total"]
    f = info_fanout(m)
    return rows * f, runs * f


class TableModel:
    """Expected (rows, runs) per match at every committed table version."""

    def __init__(self) -> None:
        self.versions: dict[int, dict[str, tuple[int, int]]] = {}
        self.head: dict[str, tuple[int, int]] = {}
        self.seasons: dict[str, str] = {}

    def append(self, version: int, matches: list[dict]) -> None:
        for m in matches:
            self.head[match_key(m)] = match_stats(m)
            self.seasons[match_key(m)] = m["info"]["season"]
        self.commit(version)

    def add_runs(self, version: int, m: dict, rows: int, delta_per_row: int) -> None:
        r, s = self.head[match_key(m)]
        self.head[match_key(m)] = (r, s + rows * delta_per_row)
        self.commit(version)

    def drop(self, version: int, m: dict) -> None:
        del self.head[match_key(m)]
        self.commit(version)

    def commit(self, version: int) -> None:
        self.versions[version] = dict(self.head)

    def totals(self, version: int, season: str | None = None) -> tuple[int, int]:
        state = self.versions[version]
        picked = [v for k, v in state.items() if season is None or self.seasons[k] == season]
        return sum(r for r, _ in picked), sum(s for _, s in picked)
