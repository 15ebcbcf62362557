"""Seeded input generators for the benchmark.

``write_star`` writes the ten catalog tables (``catalog.TABLES``) as one
parquet file each, with the column names and Arrow types the specs and
their DuckDB oracles expect: a TPC-H-shaped star schema plus an
``events`` stream, a ``documents`` corpus with injected near-duplicates
and an ``embeddings`` table with weak label clusters. Row counts scale
with ``sf`` like the suite's own test data (lineitem = 6M x sf).

``EtlInputs`` generates Massachusetts-sized scrape payloads for the three
ETLs: ~400 districts x {ELA, MATH} with comma-formatted counts,
graduation rows with a "State Total" row, 351 title-case towns across
14 counties with mixed-case and "N."/"S." election rows, and district
member lists. It also computes, in plain Python, what the dashboard
read must return after each refresh.

The same seed always gives the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.datetime) -> int:
    return (d - _EPOCH).days


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
        }
    )
    d0, d1 = _days(dt.datetime(1995, 1, 1)), _days(dt.datetime(2001, 8, 1))
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts_days(rng.integers(d0, d1 + 1, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    s0, s1 = _days(dt.datetime(1995, 1, 2)), _days(dt.datetime(2001, 11, 4))
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts_days(rng.integers(s0, s1 + 1, n_li)),
        }
    )
    # a Poisson stream over 30 days: sorted uniform arrival instants
    e0 = _days(dt.datetime(2024, 1, 1)) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + e0
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    lengths = rng.integers(10, 100, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5% near-duplicates: a copy of another document plus a marker token
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    # unit vectors whose label centroid explains ~2% of the variance
    dim = 64
    centers = rng.normal(size=(10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, dim)) + 1.16 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_star(out_dir: str, sf: float, seed: int) -> None:
    """Write every catalog table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


COUNTIES = [
    "Barnstable", "Berkshire", "Bristol", "Dukes", "Essex", "Franklin",
    "Hampden", "Hampshire", "Middlesex", "Nantucket", "Norfolk", "Plymouth",
    "Suffolk", "Worcester",
]
_STEMS = (
    "Ash Bel Brook Cam Dan Elm Fair Glen Hal Hart Lin Mar Mid New Oak Pem "
    "Red Rock Sand Ston West Whit Wil Win Wood Ayer Bol Chel"
).split()
_ENDS = "field ford ham ton bury wood ville land port borough mouth".split()


def _comma(n: int) -> str:
    return f"{n:,}"


class EtlInputs:
    """Scrape payloads for the three ETLs and the dashboard answer key.

    ``towns``/``county_of``: 351 title-case towns, 25-26 per county.
    ``districts``: (code, name, member towns or None) for ~400 districts;
    a district with no member list serves the town of its own name.
    ``election[county]``: the current {town: (yes, no, blank)} counts.
    ``school[code]``: the current (name, meets, partial, not_meet, grad).
    """

    def __init__(self, seed: int, n_districts: int = 400):
        rng = np.random.default_rng(seed)
        names = [s + e for s in _STEMS for e in _ENDS]
        rng.shuffle(names)
        base = names[:300]
        directional = [f"{d} {b}" for d, b in zip(["North", "South"] * 26, base[:51])]
        self.towns = sorted(base + directional)
        self.county_of = {
            t: COUNTIES[i % len(COUNTIES)] for i, t in enumerate(rng.permutation(self.towns))
        }
        self.districts: list[tuple[int, str, list[str] | None]] = []
        for i in range(n_districts):
            code = 10_000 + 10 * i
            k = int(rng.integers(0, 4))
            if k == 0:
                # no member list: the crosswalk falls back to the name
                self.districts.append((code, str(rng.choice(self.towns)), None))
            else:
                members = sorted(set(rng.choice(self.towns, k, replace=False).tolist()))
                self.districts.append((code, f"{members[0]} District {i}", members))
        self.year = 2023
        self.election: dict[str, dict[str, tuple[int, int, int]]] = {}
        self.school: dict[int, tuple] = {}
        self.refresh_school(rng)
        for c in COUNTIES:
            self.refresh_county(rng, c)

    # -- mutation (one refresh op) ----------------------------------------
    def refresh_county(self, rng: np.random.Generator, county: str) -> None:
        towns = [t for t in self.towns if self.county_of[t] == county]
        self.election[county] = {
            t: tuple(int(x) for x in rng.integers(0, 40_000, 3)) for t in towns
        }

    def refresh_school(self, rng: np.random.Generator) -> None:
        self.school = {}
        for code, name, _ in self.districts:
            me, pm, nm = (int(x) for x in rng.integers(1, 20_000, 3))
            self.school[code] = (name, me, pm, nm, round(float(rng.uniform(50, 100)), 1))

    # -- raw scrape rows ---------------------------------------------------
    MCAS_HEADER = ["District Code", "Subject", "M+E #", "PM #", "NM #"]
    GRAD_HEADER = ["District Name", "District Code", "Year", "% Graduated"]
    ELECTION_HEADER = [
        "county", "town", "response_yes", "response_no", "response_blank", "response_total",
    ]
    GIS_HEADER = ["ORG8CODE", "DISTRICT_N", "MEMBERLIST"]

    def mcas_rows(self) -> list[list[str]]:
        rows = []
        for code, (_, me, pm, nm, _) in self.school.items():
            rows.append([str(code), "ELA", _comma(me), _comma(pm), _comma(nm)])
            rows.append([str(code), "MATH", _comma(nm), _comma(me), _comma(pm)])
        # the state aggregate row, dropped by the transform after the join
        rows.append(["0", "ELA", "1,000,000", "1", "1"])
        rows.append(["0", "MATH", "1", "1", "1"])
        return rows

    def grad_rows(self) -> list[list[str]]:
        rows = [
            [name, str(code), str(self.year), f"{grad:.1f}"]
            for code, (name, _, _, _, grad) in self.school.items()
        ]
        rows.append(["State Total", "0", str(self.year), "88.2"])
        return rows

    def election_rows(self, counties: list[str]) -> list[list[str]]:
        rows = []
        for county in counties:
            for i, (town, (y, n, b)) in enumerate(sorted(self.election[county].items())):
                raw = town
                if town.startswith("North "):
                    raw = "N. " + town[6:]
                elif town.startswith("South "):
                    raw = "S. " + town[6:]
                raw = (raw.upper(), raw.lower(), raw)[i % 3]
                rows.append([county, raw, _comma(y), _comma(n), _comma(b), _comma(y + n + b)])
        return rows

    def gis_rows(self) -> list[list[str | None]]:
        return [
            [str(code), name, ", ".join(members) if members else None]
            for code, name, members in self.districts
        ]

    # -- answer key ---------------------------------------------------------
    def expected_dashboard(self) -> dict[int, dict]:
        """What ``dashboard.school_analysis`` must return, per district:
        the flagship join of school x crosswalk x town totals."""
        town_rows: dict[str, list[tuple[str, tuple[int, int, int]]]] = {}
        for county, towns in self.election.items():
            for town, counts in towns.items():
                town_rows.setdefault(town, []).append((county, counts))
        out = {}
        for code, name, members in self.districts:
            sname, me, pm, nm, grad = self.school[code]
            hits = [
                (town, county, counts)
                for town in (members or [name])
                for county, counts in town_rows.get(town, [])
            ]
            if not hits:
                continue
            yes = sum(c[0] for _, _, c in hits)
            no = sum(c[1] for _, _, c in hits)
            blank = sum(c[2] for _, _, c in hits)
            total = yes + no + blank
            out[code] = {
                "district_name": sname,
                "year": self.year,
                "counties": ", ".join(sorted({county for _, county, _ in hits})),
                "towns": ", ".join(sorted(town for town, _, _ in hits)),
                "num_meets_exceeds_ela": float(me),
                "num_partial_meet_ela": float(pm),
                "num_not_meet_ela": float(nm),
                "percent_grad": grad,
                "response_yes": yes,
                "response_no": no,
                "response_blank": blank,
                "response_total": total,
                "prop_yes": 100.0 * yes / total if total else None,
                "prop_pass_mcas_ela": 100.0 * me / (me + pm + nm),
            }
        return out
