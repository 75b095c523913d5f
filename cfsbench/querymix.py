"""``query_mix``: ad-hoc registry queries on the sf0.1 tables.

Each pass runs the pinned roster in a seeded order. Per query, one op
builds the query fresh and runs its first action into ``noop``
(``adhoc:<name>``); a second op re-executes the same DataFrame, as
``bench.py`` times it (``served:<name>``).

A fresh build bypasses the registry's per-``(session, sf_dir)`` memo
without touching the package: every build passes a new, equivalent
spelling of the table directory (``tables/./.``…), so the memo misses
and file listing starts cold, as for a new ad-hoc caller.

Each query's first result in a run is checked against its registered
DuckDB oracle, compared as ``tests/test_oracle_parity.py`` compares.
"""

from __future__ import annotations

import json
import math
import os

import duckdb
import pandas as pd

from harness import geomean, median

# Pinned here, not taken from bench.py's lists. Excluded: the stub
# multimodal queries, the probe="join" twins, bench.py's construction-
# drained and construction-eager sets, and queries whose oracle is a
# replay callable (they read the sf0.01 test data).
ROSTER = {
    "sql": ("sql_shipping_priority_q3", "multiway_join_agg"),
    "llm": ("udtf_split_sentences", "ann_cosine_topk"),
}
FAMILY = {q: fam for fam, qs in ROSTER.items() for q in qs}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.rename(columns=str.lower)
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _columns(df: pd.DataFrame) -> dict[str, list]:
    return {c: df[c].tolist() for c in df.columns}


def registered_roster() -> dict[str, tuple]:
    """(builder, oracle SQL) per roster query; fails clearly when the
    registry no longer carries a roster name or its oracle."""
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark import queries

    queries._load_all()
    out, missing = {}, []
    for name in FAMILY:
        spec = queries.REGISTRY.get(name)
        if spec is None or not isinstance(spec[1], str):
            missing.append(name)
        else:
            out[name] = spec
    if missing:
        raise RuntimeError(f"query_mix roster names not registered with an SQL oracle: {missing}")
    return out


class QueryMix:

    def __init__(self, run, data_root: str, rng, plant_fault: bool):
        self.run = run
        self.tables = os.path.join(data_root, "tables")
        self.expected_path = os.path.join(data_root + ".expected", "query_mix.json")
        self.rng = rng
        self.plant_fault = plant_fault
        self.builds = 0
        self.checked: set[str] = set()
        self.duck_ms: dict[str, list[float]] = {}
        self.con = None  # DuckDB, traced runs only

    # nominal cold-pass and steady-pass seconds on the reference host
    # (see run.steady_passes)
    WARMUP_PASSES = 1
    COLD_S, PASS_S = 13, 3.3

    def input_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.tables, f)) for f in os.listdir(self.tables))

    def _duck(self):
        con = duckdb.connect()
        con.execute("SET threads = 4")
        for f in sorted(os.listdir(self.tables)):
            t = f[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{f}')")
        return con

    def ensure_expected(self) -> None:
        """Oracle results, computed once per checkout (outside setup)."""
        if os.path.exists(self.expected_path):
            return
        specs = registered_roster()
        con = self._duck()
        try:
            out = {n: _columns(_normalize(con.execute(spec[1]).fetchdf())) for n, spec in specs.items()}
        finally:
            con.close()
        os.makedirs(os.path.dirname(self.expected_path), exist_ok=True)
        tmp = self.expected_path + f".tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(out, fh)
        os.replace(tmp, self.expected_path)

    def prepare(self) -> None:
        self.specs = registered_roster()
        with open(self.expected_path) as fh:
            self.expected = json.load(fh)
        if self.run.tracer.enabled:
            self.con = self._duck()

    # -- ops -----------------------------------------------------------------

    def _fresh_dir(self) -> str:
        self.builds += 1
        return self.tables + "/." * self.builds

    def adhoc(self, name: str):
        fam, tracer = FAMILY[name], self.run.tracer
        with tracer.span(f"queries.construct.{fam}"):
            df = self.specs[name][0](self.run.spark, self._fresh_dir())
        if tracer.active:
            with tracer.span(f"spark.plan.{fam}"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span(f"spark.exec.{fam}"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def served(self, df, name: str):
        with self.run.tracer.span(f"spark.exec.served.{FAMILY[name]}"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, name: str, df) -> bool:
        got = _normalize(df.toPandas())
        want = self.expected[name]
        if self.plant_fault:
            got = got.iloc[1:]
        if sorted(got.columns) != sorted(want) or any(len(v) != len(got) for v in want.values()):
            return False
        return all(
            _values_equal(a, b)
            for c in got.columns
            for a, b in zip(got[c].tolist(), want[c])
        )

    def one_pass(self, loop) -> None:
        order = list(FAMILY)
        self.rng.shuffle(order)
        for name in order:
            first = name not in self.checked
            self.checked.add(name)
            df = loop.op(f"adhoc:{name}", lambda n=name: self.adhoc(n),
                         (lambda d, n=name: self.check(n, d)) if first else None)
            if df is not None:
                loop.op(f"served:{name}", lambda d=df, n=name: self.served(d, n))
            if self.run.tracer.active:
                sql = self.specs[name][1]
                self.duck_ms.setdefault(name, []).append(
                    1000 * loop.timed_untracked(lambda s=sql: self.con.execute(s).fetchall()))

    def cleanup(self) -> None:
        if self.con is not None:
            self.con.close()

    def layer_metrics(self, loop) -> dict[str, tuple[float, str]]:
        def med_ms(kind):
            return 1000 * median(loop.samples[kind])

        m: dict[str, tuple[float, str]] = {}
        for fam, names in ROSTER.items():
            m[f"query_mix.{fam}_adhoc_geomean_ms"] = (geomean(med_ms(f"adhoc:{n}") for n in names), "ms")
        m["query_mix.served_geomean_ms"] = (geomean(med_ms(f"served:{n}") for n in FAMILY), "ms")
        # phase split of the adhoc ops, from the traced passes' spans
        phase: dict[str, list[float]] = {}
        for n, t0, t1, _p, _o in self.run.tracer.spans:
            if n.startswith(("queries.construct.", "spark.plan.", "spark.exec.")) and ".served." not in n:
                phase.setdefault(n, []).append(1000 * (t1 - t0))
        n_adhoc = {fam: sum(len(loop.samples[f"adhoc:{q}"]) for q in qs) for fam, qs in ROSTER.items()}
        for fam in ROSTER:
            for span, metric in (("queries.construct", "queries.construct_ms"),
                                 ("spark.plan", "spark.plan_ms"), ("spark.exec", "spark.exec_ms")):
                xs = phase.get(f"{span}.{fam}", [])
                # mean per adhoc op, so the three phases add up
                m[f"{metric}.{fam}"] = (sum(xs) / n_adhoc[fam] if n_adhoc[fam] else 0.0, "ms")
        if self.duck_ms:
            duck = {q: median(v) for q, v in self.duck_ms.items()}
            m["compare.duckdb_query_ms"] = (geomean(duck.values()), "ms")
            m["compare.duckdb_ratio_geomean"] = (
                geomean(med_ms(f"adhoc:{q}") / duck[q] for q in duck), "ratio")
        return m
