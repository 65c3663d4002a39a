"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes, another seed writes other data. Each returns the ground truth
the workload's correctness check needs plus the measured shares of the
properties it planted (duplicate share, invalid share, ...), so a result
records what the inputs actually held, not what was asked for.

- ``pgn_batch``: one PGN spool batch in the row mix FIXTURES.md §2
  suggests, with the dirty values of §2–3, players drawn from a Zipf
  popularity.
- ``documents``: a documents corpus shaped like the testdata ``documents``
  table (its measured figures are in ``calibrate.py``), with exact
  duplicates, near duplicates and hot clusters planted on top (parquet).
"""

from __future__ import annotations

import bisect
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- PGN


_RESULTS_OK = ("1-0", "0-1", "1/2-1/2")
_RESULTS_BAD = ("*", "2-0", "")
_TITLES = ("GM", "IM", "FM", " gm ", "none", "Unranked", "wgm")
_TERMS = ("Normal", "Time forfeit", "UNTERMINATED", "weird", "resigned", "ABANDONED")
_ECOS = ("C20", "B01", "A45", "D02", "E60", "?", "C2?")
_OPENINGS = ("King's Pawn Game", "Scandinavian Defense", "Indian Defense", "?")
_VARIANTS = ("Standard", "Standard", "Standard", "Atomic", "Horde")
_MOVES = ("e4", "e5", "Nf3", "Nc6", "Bb5", "a6", "d4", "d5", "c4", "Nf6", "g3", "Bg7")

# FIXTURES.md §2, suggested mix per 1,000 rows: ~70% clean, ~5% missing
# required field, ~5% invalid result, ~10% dirty elo/title/termination/eco,
# ~5% combined dirt; ~5% of rows are extra versions of an id (2–3 versions
# per id). Cumulative bounds of one uniform draw per block:
_MISSING, _BAD_RESULT, _DIRTY, _COMBINED = 0.05, 0.10, 0.20, 0.25
_REVERSION_SHARE = 0.05
# FIXTURES.md §3: a block without [Site] is dropped at ingestion (no share
# given; a small one so it is exercised every batch)
_NO_SITE_SHARE = 0.02


def zipf_picker(rng: random.Random, n: int, s: float = 1.1):
    """Draw ranks 0..n-1 with probability proportional to 1/(rank+1)^s."""
    cum, acc = [], 0.0
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        cum.append(acc)
    return lambda: bisect.bisect_left(cum, rng.random() * acc)


def safe_int(raw: str | None) -> int | None:
    """Python twin of the engine's try-cast of an elo header."""
    if raw is None:
        return None
    try:
        return int(raw.strip())
    except ValueError:
        return None


def profile_ok(user: str, seed: int, miss_share: float) -> bool:
    """Whether the profile stub answers ``user`` (deterministic per seed)."""
    return random.Random(f"profile-{seed}-{user}").random() >= miss_share


def _dirty(rng: random.Random, hdr: dict, field: str) -> None:
    if field == "elo":
        hdr["WhiteElo"] = rng.choice(("abc", "", " 1800 ", "1500"))
    elif field == "title":
        hdr["WhiteTitle"] = rng.choice(_TITLES)
        hdr["BlackTitle"] = rng.choice(_TITLES)
    elif field == "termination":
        hdr["Termination"] = rng.choice(_TERMS)
    elif field == "eco":
        hdr["ECO"] = rng.choice(_ECOS)
        hdr["Opening"] = rng.choice(_OPENINGS)
    else:  # date and time formats (§3)
        hdr["Date"] = "2025.13.99"
        hdr["UTCTime"] = "25:99:00"


def pgn_batch(
    seed: int, n_games: int, n_players: int = 400, zipf_s: float = 1.1
) -> tuple[str, dict]:
    """PGN text of one spool batch of ``n_games`` blocks and its truth.

    The truth (``latest``) holds the last version of each game id emitted
    (white, black, result, white elo, moves): emission order is the order
    last-writer-wins resolves. Players follow a Zipf(``zipf_s``)
    popularity over ``n_players`` names, an assumption (FIXTURES.md gives
    no player distribution) standing for the reference's TV-channel feed,
    where a few top players recur; ``top10_player_share`` records how
    concentrated the draw came out. Shares are measured over the blocks.
    """
    rng = random.Random(f"pgn-{seed}")
    pick = zipf_picker(rng, n_players, zipf_s)
    players = [f"player{i:04d}" for i in range(n_players)]
    versions: Counter[str] = Counter()
    latest: dict[str, dict] = {}
    slots: Counter[str] = Counter()
    out: list[str] = []
    counts = Counter()
    for i in range(n_games):
        reversible = [g for g, n in versions.items() if n < 3]
        if reversible and rng.random() < _REVERSION_SHARE:
            kind, gid = "reversion", rng.choice(sorted(reversible))
        else:
            kind, gid = "new", f"g{seed % 1000:03d}{i:07d}"
        white, black = players[pick()], players[pick()]
        while black == white:
            black = players[pick()]
        hdr = {
            "Event": "Rated Blitz Game",
            "Site": f"https://lichess.org/{gid}",
            "Date": "2025.05.01",
            "White": white,
            "Black": black,
            "Result": rng.choice(_RESULTS_OK),
            "UTCDate": "2025.05.01",
            "UTCTime": f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}",
            "WhiteElo": str(rng.randrange(800, 2900)),
            "BlackElo": str(rng.randrange(800, 2900)),
            "WhiteTitle": "FM",
            "Variant": rng.choice(_VARIANTS),
            "TimeControl": "180+0",
            "ECO": rng.choice(_ECOS[:5]),
            "Opening": rng.choice(_OPENINGS[:3]),
            "Termination": "Normal",
        }
        r = rng.random()
        if r < _MISSING:
            counts["missing"] += 1
            if rng.random() < 0.5:
                del hdr["White"]
            else:
                hdr["Black"] = ""
        elif r < _BAD_RESULT:
            counts["bad_result"] += 1
            hdr["Result"] = rng.choice(_RESULTS_BAD)
        elif r < _DIRTY:
            counts["dirty"] += 1
            _dirty(rng, hdr, rng.choice(("elo", "title", "termination", "eco")))
        elif r < _COMBINED:
            counts["combined"] += 1
            for field in ("elo", "title", "termination", "eco", "datetime"):
                _dirty(rng, hdr, field)
        n_moves = rng.randrange(2, 9)
        moves = " ".join(
            f"{k + 1}. {rng.choice(_MOVES)} {rng.choice(_MOVES)}" for k in range(n_moves)
        ) + f" {hdr.get('Result', '')}".rstrip()
        if kind == "new" and rng.random() < _NO_SITE_SHARE:
            counts["no_site"] += 1
            del hdr["Site"]
        else:
            counts[kind] += 1
            versions[gid] += 1
            latest[gid] = {
                "white": hdr.get("White", ""),
                "black": hdr.get("Black", ""),
                "result": hdr.get("Result", ""),
                "elo_white": safe_int(hdr.get("WhiteElo")),
                "moves": moves,
            }
        slots.update((white, black))
        out.extend(f'[{k} "{v}"]' for k, v in hdr.items())
        out.append(moves)
        out.append("")
    shares = {
        f"{k}_share": counts[k] / n_games
        for k in ("reversion", "missing", "bad_result", "dirty", "combined", "no_site")
    }
    shares["top10_player_share"] = sum(n for _, n in slots.most_common(10)) / (2 * n_games)
    return "\n".join(out) + "\n", {"latest": latest, "shares": shares, "blocks": n_games}


def _valid(v: dict) -> bool:
    return bool(v["white"].strip()) and bool(v["black"].strip()) and v["result"] in _RESULTS_OK


def pgn_truth(latest: dict[str, dict], seed: int, miss_share: float) -> dict:
    """End state of the ETL after one batch into an empty warehouse, by a
    pure-Python replay.

    The batch's last version of each id is the stored row (last writer
    wins); rows that fail validation are deleted; every player of a valid
    row whose profile the stub answers becomes a user. A stored game ends
    flagged when either player's profile was answered.
    """
    table = {gid: v for gid, v in latest.items() if _valid(v)}
    users = {
        u
        for v in table.values()
        for u in (v["white"], v["black"])
        if profile_ok(u, seed, miss_share)
    }
    flags = {
        gid: profile_ok(v["white"], seed, miss_share) or profile_ok(v["black"], seed, miss_share)
        for gid, v in table.items()
    }
    return {"valid": table, "deleted": len(latest) - len(table), "users": users, "flags": flags}


# ---------------------------------------------------------------- documents

# The testdata documents table, as measured by calibrate.py: every text is
# 10–100 tokens (uniform) drawn uniformly from these 30 words, the English
# stopwords "the" and "a" among them; 5% of the documents are another
# document with " dup" appended; languages and sources as in _LANGS and
# _source below.
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS, _LANG_WEIGHTS = ("en", "zh", "es", "fr", "de"), (2059, 753, 744, 742, 702)
_SOURCES = 20
_DUP_SUFFIX = " dup"


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 100)))


def _substitute(rng: random.Random, text: str) -> str:
    toks = text.split()
    toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
    return " ".join(toks)


def documents(
    seed: int,
    n_docs: int,
    path: str,
    near_share: float = 0.05,
    exact_share: float = 0.05,
    hot_share: float = 0.03,
    hot_clusters: int = 3,
) -> dict:
    """Write a ``documents`` parquet table of ``n_docs`` rows to ``path``.

    The base corpus follows the testdata table: its length and word
    distribution, its near duplicates (``near_share``: a copy of another
    document with " dup" appended), its languages and its sources. Planted
    on top: exact duplicates (``exact_share``: a byte-identical copy of
    another document) and hot clusters (``hot_share``: copies of one of
    ``hot_clusters`` hub documents with one word substituted, so each
    cluster fills one LSH bucket). Copies are taken from unplanted
    documents only. Returns the shares measured on the written table.
    """
    rng = random.Random(f"docs-{seed}")
    texts = [_doc_text(rng) for _ in range(n_docs)]
    roles = []
    for _ in range(n_docs):
        r = rng.random()
        roles.append(
            "near" if r < near_share
            else "exact" if r < near_share + exact_share
            else "hot" if r < near_share + exact_share + hot_share
            else "plain"
        )
    plain = [i for i, k in enumerate(roles) if k == "plain"]
    hubs = rng.sample(plain, hot_clusters)
    for i, role in enumerate(roles):
        if role == "near":
            texts[i] = texts[rng.choice(plain)] + _DUP_SUFFIX
        elif role == "exact":
            texts[i] = texts[rng.choice(plain)]
        elif role == "hot":
            texts[i] = _substitute(rng, texts[rng.choice(hubs)])
    langs = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % _SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)
    stats = corpus_stats(texts)
    return {
        "exact_share": stats["exact_share"],
        "near_share": stats["near_share"],
        "hot_share": roles.count("hot") / n_docs,
    }


def corpus_stats(texts: list[str]) -> dict:
    """Shape of a corpus, the figures ``calibrate.py`` compares: tokens
    per document (deciles), vocabulary, exact-duplicate share, share of
    " dup" near copies whose original is present, and the document
    frequency of word bigrams (the near-dup stage's shingles) as a share
    of the corpus."""
    n = len(texts)
    toks = [t.split() for t in texts]
    present = set(texts)
    df: Counter[tuple[str, str]] = Counter()
    for tk in toks:
        df.update(set(zip(tk, tk[1:])))
    lengths = sorted(len(tk) for tk in toks)
    return {
        "docs": n,
        "tokens_deciles": [lengths[n * k // 10] for k in range(1, 10)],
        "tokens_min_max": [lengths[0], lengths[-1]],
        "vocabulary": len({w for tk in toks for w in tk}),
        "exact_share": 1 - len(present) / n,
        "near_share": sum(
            t.endswith(_DUP_SUFFIX) and t[: -len(_DUP_SUFFIX)] in present for t in texts
        ) / n,
        "bigrams": len(df),
        "bigram_df_mean_share": sum(df.values()) / len(df) / n,
        "bigram_df_max_share": max(df.values()) / n,
    }
