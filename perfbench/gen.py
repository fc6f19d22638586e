"""Seeded input generators for the benchmark.

Chess bronze months are built on ``sources.demo.make_game`` (the repo's
fixture game) with three of its fixture shortcuts repaired here, so the
fixture itself stays what the tests pin:

- ``make_game`` numbers urls ``1000 + month*100 + i``, which collides as
  soon as a month holds more than 100 games (month 1's game 100 is month
  2's game 0) and ``latest_wins`` would silently merge the two.  Every
  generated game gets a url from one counter that spans all months.
- ``make_game`` hardcodes the year 2024, so a 13th month gives a NULL
  date.  Months here are (year, month) pairs that roll over.
- ``make_game`` plays 3-12 half-moves.  Real games here play 20-120, with
  clock comments, so a game is ~3 KB like the reference payload
  (1.66 MB per 514 games).

The relational/corpus tables for the engine workload mirror the shapes of
the repo's parquet fixtures (TESTDATA.md): TPC-H-style star tables, an
events stream, a word-bag document corpus with near-duplicates and
unit-norm clustered embeddings.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo

URL_BASE = "https://www.chess.com/game/live/"
# book lines per ECO url, so the prefix classifier finds real matches
_BOOK = {url: pgn for (*_, pgn), (_, url) in zip(demo.OPENINGS_LOOKUP, demo.ECO_URLS)}
_SAN = ["e4", "e5", "d4", "d5", "Nf3", "Nc6", "Bb5", "a6", "Ba4", "Nf6", "O-O",
        "Be7", "Re1", "b5", "Bb3", "d6", "c3", "O-O", "h3", "Nb8", "d4", "Nbd7",
        "c4", "c6", "Nc3", "e6", "Bg5", "h6", "Bh4", "Qxd4", "exd5", "Rxe8+"]


def _book_moves(eco_url: str) -> list[str]:
    return [t for t in _BOOK[eco_url].split() if not t.endswith(".")]


def _pgn_moves(moves: list[str], rng: random.Random) -> str:
    """Chess.com live-PGN move text with decreasing clock comments."""
    clock = [600.0, 600.0]
    out = []
    for j, mv in enumerate(moves):
        side = j % 2
        clock[side] = max(0.1, clock[side] - rng.uniform(0.5, 12.0))
        m, s = divmod(clock[side], 60)
        no = j // 2 + 1
        prefix = f"{no}. " if side == 0 else f"{no}... "
        out.append(f"{prefix}{mv} {{[%clk 0:{int(m):02d}:{s:04.1f}]}}")
    return " ".join(out)


def month_key(start: tuple[int, int], k: int) -> tuple[int, int]:
    """The k-th (year, month) after ``start``."""
    y, m = start
    n = y * 12 + (m - 1) + k
    return n // 12, n % 12 + 1


def my_result(game: dict) -> str:
    """The benchmark user's result code, decided like plans.gold._my:
    case-insensitive username compare against the PGN White tag."""
    white = game["white"]["username"].lower() == demo.USERNAME.lower()
    return game["white" if white else "black"]["result"]


def game_date(game: dict) -> str:
    """ISO date of the game's PGN Date tag."""
    tag = game["pgn"].split('[Date "', 1)[1].split('"', 1)[0]
    return tag.replace(".", "-")


def eco_url(game: dict) -> str:
    """The game's PGN ECOUrl tag."""
    return game["pgn"].split('[ECOUrl "', 1)[1].split('"', 1)[0]


def make_game(rng: random.Random, game_id: int, year: int, month: int) -> dict:
    """One realistic game for (year, month) with a globally unique url."""
    i = rng.randrange(10_000)
    g = demo.make_game(i, month=1)
    day = rng.randint(1, 28)
    date = f"{year:04d}.{month:02d}.{day:02d}"
    moves = _book_moves(demo.ECO_URLS[i % len(demo.ECO_URLS)][1])
    n = rng.randint(20, 120)
    moves = (moves + [rng.choice(_SAN) for _ in range(n)])[:n]
    head, _, tail = g["pgn"].partition("\n\n")
    result = tail.rsplit(" ", 1)[1]
    head = _set_tag(_set_tag(head, "Date", date), "EndDate", date)
    g["pgn"] = f"{head}\n\n{_pgn_moves(moves, rng)} {result}"
    g["url"] = f"{URL_BASE}{game_id}"
    g["uuid"] = f"uuid-{game_id}"
    g["end_time"] = int(
        dt.datetime(year, month, day, tzinfo=dt.timezone.utc).timestamp()
    ) + rng.randrange(86_400)
    g["white"]["rating"] = rng.randint(800, 2400)
    g["black"]["rating"] = rng.randint(800, 2400)
    return g


def _set_tag(head: str, tag: str, value: str) -> str:
    start = head.index(f'[{tag} "') + len(tag) + 3
    return head[:start] + value + head[head.index('"', start):]


def repull(rng: random.Random, game: dict, new_date: tuple[int, int] | None) -> dict:
    """A later re-pull of ``game``: same url, a changed result and, when
    ``new_date`` is given, a game_date corrected into that (year, month)."""
    g = json.loads(json.dumps(game))
    side = "white" if g["white"]["username"].lower() == demo.USERNAME.lower() else "black"
    other = "black" if side == "white" else "white"
    old = g[side]["result"]
    new = rng.choice([c for c in demo.RESULT_CODES if c != old])
    g[side]["result"] = new
    g[other]["result"] = {"win": "resigned", "lose": "win"}.get(new, "win")
    if new_date is not None:
        y, m = new_date
        day = rng.randint(1, 28)
        date = f"{y:04d}.{m:02d}.{day:02d}"
        head, _, tail = g["pgn"].partition("\n\n")
        head = _set_tag(_set_tag(head, "Date", date), "EndDate", date)
        g["pgn"] = f"{head}\n\n{tail}"
    return g


class ChessGenerator:
    """Seeded stream of bronze months with globally unique game urls.

    ``month(n, repull_share)`` returns the next month's games: ``n`` new
    games plus, when ``repull_share`` > 0, re-pulls of that share of
    earlier games (changed result; every third one also moves its
    game_date into another already-seen month).  ``latest`` maps each
    url to the newest version emitted, which is what gold must hold.
    """

    def __init__(self, seed: int, first_id: int, start: tuple[int, int] = (2023, 7)):
        self.rng = random.Random(f"{seed}/{first_id}")
        self.start = start
        self.k = 0
        self.next_id = first_id
        self.latest: dict[str, dict] = {}
        self.months: list[tuple[int, int]] = []

    def month(self, n: int, repull_share: float = 0.0) -> list[dict]:
        y, m = month_key(self.start, self.k)
        self.k += 1
        games = []
        for _ in range(n):
            games.append(make_game(self.rng, self.next_id, y, m))
            self.next_id += 1
        n_repull = int(round(n * repull_share)) if self.latest else 0
        if n_repull:
            olds = self.rng.sample(sorted(self.latest), min(n_repull, len(self.latest)))
            for j, url in enumerate(olds):
                moved = self.rng.choice(self.months) if j % 3 == 0 else None
                games.append(repull(self.rng, self.latest[url], moved))
        urls = [g["url"] for g in games]
        if len(set(urls)) != len(urls):
            raise RuntimeError(f"duplicate game url inside month {y}-{m:02d}")
        fresh = urls[:n]
        if any(u in self.latest for u in fresh):
            raise RuntimeError("a new game reused an earlier game's url")
        for g in games:
            self.latest[g["url"]] = g
        self.months.append((y, m))
        return games


def write_month(path: str, games: list[dict]) -> int:
    """One multiLine JSON array document, as the archive API ships it."""
    with open(path, "w") as f:
        json.dump(games, f)
    return os.path.getsize(path)


_WORDS = ("a the data spark table query column row key value join hash scan "
          "filter sort group agg window stream batch merge order customer part "
          "line vector small big fast slow").split()


def write_tables(out_dir: str, seed: int) -> None:
    """The engine workload's tables at TPC-H scale 0.01 (60k lineitems),
    one parquet file each, in the dtypes of the repo's fixtures."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    scale = 0.01
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_users, n_events, n_docs = int(15_000 * scale), int(1_000_000 * scale), 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def ts(lo: str, hi: str, n: int, unit: str = "D"):
        a, b = np.datetime64(lo, unit), np.datetime64(hi, unit)
        return (a + rng.integers(0, (b - a).astype(int), n)).astype("datetime64[us]")

    def i32(x):
        return pa.array(x, pa.int32())

    def i64(x):
        return pa.array(x, pa.int64())

    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])},
        "customer": {
            "c_custkey": i64(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": i64(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": i64(range(n_part)),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "large", "red", "blue", "hot", "cold", "old", "new"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pin"], n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ts("1995-01-01", "2001-08-02", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": i64(rng.integers(0, n_part, n_li)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": ts("1995-01-02", "2001-11-05", n_li),
        },
        "events": {
            "event_id": i64(range(n_events)),
            "ts": np.sort(ts("2024-01-01", "2024-01-31", n_events, "us")),
            "user_id": i64(rng.integers(0, n_users, n_events)),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_events),
            "value": money(0.01, 500, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    }
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 100)))))
    tables["documents"] = {
        "doc_id": i64(range(n_docs)),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": i64([len(t) for t in texts]),
    }
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_docs)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": i64(range(n_docs)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(labels),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
