"""The benchmark workloads.

Each workload is a class with these steps, called by ``run.py``:

- ``setup()``: generate the inputs from the seed (idempotent, so it can
  be timed several times) and return the measured input shares;
- ``unit(timer, tracer)``: the one measured unit of work, timed by
  ``timer``, returning its size in items. It is the unit a scheduled job
  pays in a fresh process: JIT compilation, code generation and worker
  start-up included;
- ``check()``: the correctness verdict of the unit, computed outside the
  timed part (and outside a traced window);
- ``layer_counters(tracer)``: the workload's own per-layer counters of
  the traced unit.
"""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen


def dir_files(path: str) -> dict[str, int]:
    """Path → size of every regular file under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class ProfileStub:
    """In-process stand-in for the profile REST transport (FIXTURES.md §4
    body shape). Deterministic: whether a user is answered depends only on
    the seed and the name. Never sleeps, never touches the network, and
    counts its calls and answers in Spark accumulators (it runs inside
    Python workers)."""

    def __init__(self, sc, seed: int, miss_share: float):
        self.seed, self.miss_share = seed, miss_share
        self.calls = sc.accumulator(0)
        self.answered = sc.accumulator(0)

    def __call__(self, user: str) -> str | None:
        self.calls.add(1)
        if not gen.profile_ok(user, self.seed, self.miss_share):
            return None
        self.answered.add(1)
        n = sum(map(ord, user))
        return json.dumps(
            {
                "id": user.lower(),
                "username": user,
                "patron": "true" if n % 3 == 0 else "false",
                "streaming": False,
                "createdAt": 1577836800000 + n,
                "seenAt": 1746000000000 + n,
                "profile": {"title": "FM" if n % 5 == 0 else None, "flag": "FR",
                            "fideRating": 1500 + n % 900},
                "perfs": {"blitz": {"rating": 1200 + n % 1500},
                          "bullet": {"rating": 1100 + n % 1400}},
                "playTime": {"total": 1000 * n, "tv": n},
                "count": {"all": n, "rated": n // 2, "win": n // 4, "loss": n // 4, "draw": 0},
            }
        )


class PgnEtl:
    """``pipelines.run_all.run_pipeline(..., transactional=True)`` over a
    seeded PGN spool batch; the unit is the batch landing in an empty
    warehouse, run to its committed end state (it creates the table)."""

    name = "pgn_etl"
    ITEMS, UNIT = "games", "etl_batch"
    CAPTURE = ()
    COUNTERS = (
        "sources.pgn.games_out",
        "sources.pgn.bytes_in",
        "pipelines.clean.deleted_frac",
        "sources.rest.fetch_calls",
        "sources.rest.useful_frac",
        "sources.txntable.commits",
        "sources.txntable.bytes_written",
        "sources.txntable.write_amp",
        "sources.txntable.files_live",
        "sources.txntable.stored_bytes_per_input_byte",
    )
    GAMES = 200
    MISS_SHARE = 0.1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.wh = os.path.join(work, "warehouse")
        self.spool = os.path.join(work, "spool")

    def setup(self) -> dict:
        self.text, self.info = gen.pgn_batch(self.seed, self.GAMES)
        self.stub = ProfileStub(self.spark.sparkContext, self.seed, self.MISS_SHARE)
        return dict(self.info["shares"], blocks=self.GAMES)

    def unit(self, timer, tracer=None) -> int:
        from knightshift_spark.pipelines.run_all import run_pipeline

        os.makedirs(self.spool)
        path = os.path.join(self.spool, "batch.pgn")
        with open(path, "w") as f:
            f.write(self.text)
        self.bytes_in = os.path.getsize(path)
        with timer:
            self.report = run_pipeline(
                self.spark, self.spool, self.wh, fetch_profile=self.stub, transactional=True
            )
        return self.report.ingested

    def check(self) -> bool:
        """The end state equals the Python replay of the batch."""
        from knightshift_spark.sources.txntable import TxnTable

        truth = gen.pgn_truth(self.info["latest"], self.seed, self.MISS_SHARE)
        games = (
            TxnTable(self.spark, f"{self.wh}/games_txn")
            .snapshot()
            .select("id_game", "id_user_white", "id_user_black", "val_result",
                    "val_elo_white", "val_moves_pgn", "ind_validated",
                    "ind_profile_updated")
            .toPandas()
        )
        if len(games) != len(truth["valid"]) or games["id_game"].duplicated().any():
            return False
        for r in games.itertuples(index=False):
            v = truth["valid"].get(r.id_game)
            if v is None:
                return False
            elo = None if pd.isna(r.val_elo_white) else int(r.val_elo_white)
            if (
                (r.id_user_white, r.id_user_black, r.val_result, r.val_moves_pgn)
                != (v["white"], v["black"], v["result"], v["moves"])
                or elo != v["elo_white"]
                or not r.ind_validated
                or bool(r.ind_profile_updated) != truth["flags"][r.id_game]
            ):
                return False
        # plain parquet directories: read without Spark
        users = pq.read_table(f"{self.wh}/users", columns=["id_user"]).column(0).to_pylist()
        rejected = pq.read_table(f"{self.wh}/games_rejected", columns=["id_game"]).num_rows
        return (
            set(users) == truth["users"]
            and len(users) == len(truth["users"])
            and rejected == truth["deleted"]
        )

    # -- traced-unit counters --------------------------------------------

    def layer_counters(self, tracer) -> dict[str, float]:
        from knightshift_spark.sources.txntable import TxnTable

        # the unit started from an empty warehouse: every file is its
        # write, and the table's creation counts as a commit
        detail = TxnTable(self.spark, f"{self.wh}/games_txn").detail()
        written = sum(dir_files(f"{self.wh}/games_txn").values())
        calls = self.stub.calls.value
        return {
            "sources.pgn.games_out": self.report.ingested,
            "sources.pgn.bytes_in": self.bytes_in,
            "pipelines.clean.deleted_frac": self.report.deleted / self.report.ingested,
            "sources.rest.fetch_calls": calls,
            "sources.rest.useful_frac": self.stub.answered.value / calls if calls else 0.0,
            "sources.txntable.commits": detail["version"] + 1,
            "sources.txntable.bytes_written": written,
            "sources.txntable.write_amp": written / detail["live_bytes"],
            "sources.txntable.files_live": detail["num_files_dirs"],
            "sources.txntable.stored_bytes_per_input_byte": (
                sum(dir_files(self.wh).values()) / self.bytes_in
            ),
        }


class CorpusCuration:
    """The q57 curation funnel (``pipelines.corpus.curate_corpus`` in q57's
    configuration) and q65's benchmark decontamination, run through the
    query registry over a seeded documents corpus; the unit is one pass
    over both queries, whose output is compared with the DuckDB oracle of
    each query."""

    name = "corpus_curation"
    ITEMS, UNIT = "docs", "curation_pass"
    # near-duplicate candidates and the pairs the exact Jaccard confirms
    CAPTURE = ("lsh_candidate_pairs", "jaccard_rescore_pairs")
    COUNTERS = (
        "queries.analysis_ms",
        "queries.optimization_ms",
        "queries.planning_ms",
        "queries.build_s",
        "queries.exec_s",
        "pipelines.corpus.kept_frac",
        "operators.dedup.candidate_pairs",
        "operators.dedup.confirmed_pairs",
        "operators.dedup.precision",
    )
    QUERIES = ("q57_curate_corpus", "q65_contamination")
    N_DOCS = 1000

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf = os.path.join(work, "sf")
        self.query_spans = []

    def setup(self) -> dict:
        from knightshift_spark.queries import load_all

        os.makedirs(self.sf, exist_ok=True)
        shares = gen.documents(self.seed, self.N_DOCS, f"{self.sf}/documents.parquet")
        self.specs = {n: load_all()[n] for n in self.QUERIES}
        return dict(shares, docs=self.N_DOCS)

    def oracle(self) -> dict:
        """Each query's DuckDB oracle over the same generated file."""
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf}/documents.parquet')"
        )
        try:
            return {
                n: con.execute(s.oracle).fetch_arrow_table().to_pandas(date_as_object=True)
                for n, s in self.specs.items()
            }
        finally:
            con.close()

    def _pass(self, tracer=None) -> dict:
        out = {}
        for n, spec in self.specs.items():
            if tracer is None:
                out[n] = spec.spark_fn(self.spark, self.sf).toPandas()
                continue
            with tracer.span("queries", f"{n}:build") as b:
                df = spec.spark_fn(self.spark, self.sf)
            with tracer.span("queries", f"{n}:exec") as e:
                out[n] = df.toPandas()
            self.query_spans.append((df, b, e))
        return out

    def unit(self, timer, tracer=None) -> int:
        with timer:
            self.out = self._pass(tracer)
        return self.N_DOCS

    def check(self) -> bool:
        """The pass's output equals the DuckDB oracle's."""
        from tools.check_parity import compare

        expected = self.oracle()
        return all(not compare(n, self.out[n], expected[n]) for n in self.QUERIES)

    def layer_counters(self, tracer) -> dict[str, float]:
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for df, _, _ in self.query_spans:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in phases:
                    phases[kv._1()] += kv._2().durationMs()
        cand, conf = (sum(df.count() for df in tracer.captured[n]) for n in self.CAPTURE)
        return {f"queries.{k}_ms": v for k, v in phases.items()} | {
            "operators.dedup.candidate_pairs": cand,
            "operators.dedup.confirmed_pairs": conf,
            "operators.dedup.precision": conf / cand if cand else 0.0,
            "queries.build_s": sum(b.duration for _, b, _ in self.query_spans),
            "queries.exec_s": sum(e.duration for _, _, e in self.query_spans),
            "pipelines.corpus.kept_frac": _kept_frac(self.out["q57_curate_corpus"]),
        }


def _kept_frac(stats) -> float:
    n = dict(zip(stats["reason"], stats["n"]))
    return n["kept"] / n["input"]


WORKLOADS = {w.name: w for w in (PgnEtl, CorpusCuration)}
