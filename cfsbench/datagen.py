"""Seeded, self-contained benchmark inputs.

Every input the benchmark reads is generated here from a FIXED generator
seed (``GEN_SEED``), never from the run's ``--seed``: the run seed only
chooses what is sent (order, keys, batches, probes), so two runs with
different seeds read byte-identical base tables.

Inputs are generated once per checkout into ``.cfsbench_data/<VERSION>/``
(git-ignored), in a step timed apart from ``setup_s``, and verified by
content hash before every run. Bump ``VERSION`` whenever the output of
any generator changes.

- ``cfs_calls.csv`` — the reference's raw calls-for-service extract: all
  19 ``CFS_RAW_SCHEMA`` string columns, with the FIXTURES.md §1
  anomalies (duplicate ``event_number`` rows, NULL-heavy columns,
  malformed timestamps, non-numeric ``priority``/``district``, negative
  and sub-second durations, three calendar years).
- ``tables/<name>.parquet`` — the FIXTURES.md §2 tables at sf0.1 size
  (region … embeddings), the schema every registry query reads.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

VERSION = "v1"
GEN_SEED = 20240101
CFS_ROWS = 100_000
SF = 0.1

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def data_root(checkout: str) -> str:
    return os.path.join(checkout, ".cfsbench_data", VERSION)


# ---------------------------------------------------------------------------
# cfs_calls.csv
# ---------------------------------------------------------------------------


def _iso(us: np.ndarray) -> np.ndarray:
    """Epoch-µs int64 → 'YYYY-MM-DDTHH:MM:SS.ffffff' strings."""
    dt = us.astype("datetime64[us]")
    return np.char.replace(np.datetime_as_string(dt, unit="us"), "Z", "")


def _with_nulls(rng, values: np.ndarray, rate: float) -> list:
    out = values.astype(object)
    out[rng.random(len(values)) < rate] = None
    return out


def gen_cfs_csv(path: str, n_rows: int = CFS_ROWS) -> None:
    rng = np.random.default_rng(GEN_SEED)
    # ~10% of events carry 2-3 rows; each duplicate row is a later
    # record of the same event (distinct create times, so the
    # latest-per-key pick is fully determined).
    n_events = int(n_rows / 1.15)
    reps = np.ones(n_events, dtype=np.int64)
    dup = rng.random(n_events) < 0.10
    reps[dup] = rng.integers(2, 4, size=int(dup.sum()))
    ev = np.repeat(np.arange(n_events), reps)[:n_rows]
    n = len(ev)
    occ = np.zeros(n, dtype=np.int64)  # occurrence index within event
    starts = np.flatnonzero(np.r_[True, ev[1:] != ev[:-1]])
    occ[:] = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n]))
    is_dup_row = occ > 0

    t0 = np.datetime64("2021-01-01T00:00:00", "us").astype(np.int64)
    span = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) - t0
    base = t0 + rng.integers(0, span, size=n_events)
    create = base[ev] + occ * rng.integers(1_000_000, 3_600_000_000, size=n)
    create_s = _iso(create).astype(object)
    # malformed timestamps on single-row events only (a NULL order key
    # inside a duplicated event would leave the latest pick to a tie)
    single = ~np.isin(ev, np.flatnonzero(reps > 1))
    bad = single & (rng.random(n) < 0.003)
    create_s[bad] = np.where(rng.random(int(bad.sum())) < 0.5,
                             "2022-13-45T99:61:00.000000", "not-a-timestamp")

    dispatch = create + rng.integers(0, 600_000_000, size=n)
    # arrival before dispatch (negative durations) for ~3% of rows
    travel = rng.integers(-120_000_000, 1_800_000_000, size=n)
    pos = rng.random(n) > 0.03
    travel[pos] = np.abs(travel[pos])
    arrival = dispatch + travel
    closed = create + rng.integers(1_000, 18_000_000_000, size=n)

    types = np.array([f"T{i:02d}" for i in range(40)])
    type_idx = rng.integers(0, 40, size=n)
    priority = rng.integers(1, 11, size=n).astype(str).astype(object)
    pbad = rng.random(n) < 0.02
    priority[pbad] = np.where(rng.random(int(pbad.sum())) < 0.5, "HIGH", "N/A")
    district = rng.integers(1, 6, size=n).astype(str).astype(object)
    dbad = rng.random(n) < 0.02
    district[dbad] = "CENTRAL"
    district = _with_nulls(rng, np.asarray(district), 0.08)
    district[is_dup_row & (rng.random(n) < 0.3)] = None
    streets = np.array([f"{w.upper()} ST" for w in _WORDS] + ["VINE ST", "RACE ST"])
    lat = 39.05 + rng.random(n) * 0.2
    lon = -84.65 + rng.random(n) * 0.3
    lat_s = np.char.mod("%.6f", lat).astype(object)
    lat_s[rng.random(n) < 0.01] = "N/A"
    hoods = np.array([f"HOOD_{i}" for i in range(50)])
    disp = np.array("CLOSED ARRESTED REPORT CANCELLED ADVISED NO ACTION "
                    "TRANSPORTED REFERRED GONE UNFOUNDED WARNED OTHER".split())

    cols = {
        "address_x": _with_nulls(
            rng,
            np.char.add(np.char.add(rng.integers(1, 99, size=n).astype(str), "XX "),
                        streets[rng.integers(0, len(streets), size=n)]),
            0.02),
        "agency": np.where(rng.random(n) < 0.9, "CPD", "CFD").astype(object),
        "create_time_incident": create_s,
        "disposition_text": _with_nulls(rng, disp[rng.integers(0, len(disp), size=n)], 0.05),
        "event_number": np.char.add("CPD", np.char.zfill((ev + 2_100_000_000).astype(str), 10)).astype(object),
        "incident_type_id": _with_nulls(rng, types[type_idx], 0.01),
        "incident_type_desc": _with_nulls(rng, np.char.add("DESC OF ", types[type_idx]), 0.10),
        "priority": _with_nulls(rng, priority, 0.05),
        "priority_color": _with_nulls(
            rng, np.array(["RED", "ORANGE", "YELLOW", "BLUE", "GREEN"])[rng.integers(0, 5, size=n)], 0.20),
        "closed_time_incident": _with_nulls(rng, _iso(closed), 0.15),
        "beat": _with_nulls(rng, np.char.add("P", rng.integers(100, 999, size=n).astype(str)), 0.20),
        "district": district,
        "sna_neighborhood": _with_nulls(rng, hoods[rng.integers(0, 50, size=n)], 0.60),
        "cpd_neighborhood": _with_nulls(rng, hoods[rng.integers(0, 50, size=n)], 0.10),
        "community_council_neighborhood": _with_nulls(rng, hoods[rng.integers(0, 50, size=n)], 0.15),
        "latitude_x": _with_nulls(rng, lat_s, 0.10),
        "longitude_x": _with_nulls(rng, np.char.mod("%.6f", lon), 0.10),
        "arrival_time_primary_unit": _with_nulls(rng, _iso(arrival), 0.30),
        "dispatch_time_primary_unit": _with_nulls(rng, _iso(dispatch), 0.20),
    }
    table = pa.table({k: pa.array(list(v), type=pa.string()) for k, v in cols.items()})
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))


# ---------------------------------------------------------------------------
# FIXTURES.md §2 tables
# ---------------------------------------------------------------------------


def _ts_days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(a, b + 1, size=n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def gen_tables(out_dir: str, sf: float = SF) -> None:
    rng = np.random.default_rng(GEN_SEED + 1)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_doc, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, size=n), 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, size=n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array("large hot blue small red green dark pale".split())
    noun = np.array("ring bolt nut screw gear pipe".split())
    ptypes = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, len(adj), size=n_part)], " "),
                              noun[rng.integers(0, len(noun), size=n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, size=n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, size=n_part)],
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, size=n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prios[rng.integers(0, 5, size=n_ord)],
    })
    lines = rng.integers(1, 8, size=n_ord)
    lines[rng.random(n_ord) < 0.02] = 0
    l_ok = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_ok)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    perm = rng.permutation(n_li)  # file order is not key order
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n_li)],
        "l_shipdate": _ts_days(rng, "1995-01-02", "2001-11-04", n_li),
    }).take(pa.array(perm))
    ev_t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_ts = np.sort(ev_t0 + rng.integers(0, 30 * 86_400_000_000, size=n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n_ev), pa.int64()),
        "event_type": np.array(["error", "view", "purchase", "signup", "click"])[
            rng.integers(0, 5, size=n_ev)],
        "value": np.round(rng.gamma(2.0, 30.0, size=n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), size=k)))
    langs = np.array(["en", "es", "zh", "de", "fr"])[
        rng.choice(5, size=n_doc, p=[0.41, 0.15, 0.15, 0.14, 0.15])]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=n_emb)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# cache + verification
# ---------------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
        if f != "MANIFEST.json"
    )


def ensure_inputs(checkout: str) -> str:
    """Generate the inputs unless this checkout already holds them, then
    verify every file against the manifest written at generation.
    Returns the data root. Raises on a hash mismatch."""
    root = data_root(checkout)
    manifest = os.path.join(root, "MANIFEST.json")
    if not os.path.exists(manifest):
        tmp = root + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen_cfs_csv(os.path.join(tmp, "cfs_calls.csv"))
        gen_tables(os.path.join(tmp, "tables"))
        hashes = {f: _sha256(os.path.join(tmp, f)) for f in _files(tmp)}
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as fh:
            json.dump({"version": VERSION, "gen_seed": GEN_SEED, "files": hashes}, fh,
                      indent=1, sort_keys=True)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    with open(manifest) as fh:
        want = json.load(fh)["files"]
    got = _files(root)
    if sorted(want) != got:
        raise RuntimeError(f"benchmark inputs under {root} do not match the manifest file list")
    for f, h in want.items():
        if _sha256(os.path.join(root, f)) != h:
            raise RuntimeError(f"benchmark input {f} fails its content hash; delete {root}")
    return root
