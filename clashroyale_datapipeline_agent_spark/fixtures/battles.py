"""Deterministic domain fixtures (FIXTURES.md §A1/§A4).

The reference has no test data; these generators synthesize raw battlelog
entries in the CR API shape with every edge the front end must handle:
multi-participant teams, non-whitelisted modes, draws, short/long decks,
whitespace and empty card names, unknown cards, null gameMode.name, and
most-recent-first per-player ordering. Seed-fixed → bitwise-stable fixtures.
"""

from __future__ import annotations

import random
import zlib

from pyspark.sql import DataFrame, SparkSession

from clashroyale_datapipeline_agent_spark import schemas
from clashroyale_datapipeline_agent_spark.sources.readers import load_card_metadata_rows

RANKED_IDS = schemas.RANKED_1V1_MODE_IDS
OTHER_MODE_IDS = [72000010, 72000201]  # not whitelisted


def _card(name: str) -> dict:
    return {"name": name}


def _ts(rng: random.Random, day: int, i: int) -> str:
    return f"202512{day:02d}T{rng.randrange(24):02d}{rng.randrange(60):02d}{rng.randrange(60):02d}.000Z"


def generate_raw_battles(
    n_players: int = 20,
    battles_per_player: int = 25,
    seed: int = 7,
    anomaly_rate: float = 0.25,
) -> list[dict]:
    """Raw battlelog entries (list-of-dicts, RAW_BATTLE shape).

    Each player's battles are emitted most-recent-first (descending
    battleTime within the player), matching the API contract the reference
    relies on (``meta_workflow.py:329-331``).
    """
    rng = random.Random(seed)
    names = [r["name"] for r in load_card_metadata_rows()]
    battles: list[dict] = []
    for p in range(n_players):
        tag = f"#PLAYER{p:03d}"
        # descending times: day counts down as i grows
        for i in range(battles_per_player):
            day = max(1, 28 - i)
            roll = rng.random()
            mode_id = rng.choice(RANKED_IDS if roll > anomaly_rate else OTHER_MODE_IDS)
            my_crowns = rng.randrange(4)
            opp_crowns = rng.randrange(4)

            def deck() -> list[dict]:
                k = 8
                r2 = rng.random()
                if r2 < 0.06:
                    k = rng.choice([5, 6, 7, 9])  # short/long deck skip path
                cards = [_card(n) for n in rng.sample(names, min(k, len(names)))]
                if r2 > 0.97:
                    cards[0] = _card("  " + cards[0]["name"] + " ")  # padding
                if 0.94 < r2 <= 0.97 and len(cards) > 1:
                    cards[1] = _card("")  # empty name -> dropped
                if 0.90 < r2 <= 0.94:
                    cards[-1] = _card("Totally Unknown Card")  # no metadata
                return cards

            team_n = 1 if rng.random() > 0.05 else 2  # 2v2 reject path
            battle = {
                "battleTime": _ts(rng, day, i),
                "type": rng.choice(["PvP", "pathOfLegend", None]),
                "gameMode": {
                    "id": mode_id,
                    "name": rng.choice(["Ranked1v1_NewArena2", "Ladder", None, ""]),
                },
                "team": [
                    {"tag": tag, "name": f"player{p}", "crowns": my_crowns, "cards": deck()}
                    for _ in range(team_n)
                ],
                "opponent": [
                    {
                        "tag": f"#OPP{p:03d}{i:02d}",
                        "name": "opp",
                        "crowns": opp_crowns,
                        "cards": deck(),
                    }
                    for _ in range(team_n)
                ],
                "player_tag": tag,
            }
            battles.append(battle)
    return battles


def raw_battles_df(spark: SparkSession, **kwargs) -> DataFrame:
    rows = generate_raw_battles(**kwargs)
    return spark.createDataFrame(rows, schema=schemas.RAW_BATTLE)


def stub_battlelog(tag: str, battles_per_player: int = 25) -> list[dict]:
    """Stand-in for GET /players/{tag}/battlelog: one player's battles,
    seeded by ``crc32(tag)`` (the same in every process, unlike the
    salted ``hash()``) and re-tagged to ``tag``, so every fetched player
    contributes their own battles to Phase 0's per-player most-recent-k."""
    battles = generate_raw_battles(
        n_players=1,
        battles_per_player=battles_per_player,
        seed=zlib.crc32(tag.encode()),
    )
    for b in battles:
        b["player_tag"] = tag
        for member in b["team"]:
            member["tag"] = tag
    return battles


def generate_leaderboard(n: int = 400, seed: int = 11) -> list[dict]:
    """Leaderboard players (FIXTURES.md §A4): includes missing/empty tags
    (skip path, ``meta_workflow.py:317-318``)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        tag: str | None = f"#PLAYER{i:03d}"
        if rng.random() < 0.02:
            tag = rng.choice([None, ""])
        out.append(
            {
                "rank": i + 1,
                "tag": tag,
                "name": f"player{i}",
                "trophies": 9000 - i,
            }
        )
    return out
