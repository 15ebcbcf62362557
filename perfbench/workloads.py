"""The benchmark's two workloads.

Each workload is a closed loop with one client: the next op starts when
the previous one has returned. An op is one unit of user-visible work:

* ``light_queries``: build one suite spec's DataFrame
  (the ``plans`` layer, which loads tables through ``catalog``), then run
  its whole physical plan into a ``noop`` sink (``execute``).
* ``etl_refresh``: re-scrape k counties and the school tables, ingest
  them (``sources``), transform them (``pipelines``), overwrite the three
  ETL outputs (``sources``), re-register the views (``catalog``) and
  collect the dashboard read (``dashboard`` + ``execute``).

A pass is the workload's fixed op list; its order comes from the seed.
"""

from __future__ import annotations

import math
import os
import time

import datagen

LIGHT_SF = 0.01
SMOKE_SF = 0.001  # the self-test's scale factor
COUNTIES_PER_OP = 3  # counties one ETL refresh re-scrapes

# The flagship aggregation, four TPC-H queries and eleven specs that run
# in well under a second warm at sf0.01 on a 4-core box; per-query fixed
# cost (schema reads, eager gates, analysis, job launch) dominates all of
# them. psi_source_drift leaves a checkpointed RDD persisted, so the
# materialize layer has something to count.
LIGHT_POOL = [
    "flagship_school_analysis",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customer",
    "psi_source_drift",
    "string_split_explode",
    "separate_unpivot",
    "filter_inequality_notnull",
    "group_count_frequency",
    "window_rownumber",
    "window_rank_family",
    "multi_col_pct_transform",
    "sort_nulls_first",
    "text_quality_stats",
    "hilbert_curve_keys",
]


class LightQueries:
    name = "light_queries"
    pass_s = 6.0  # one warm pass on a 4-core box
    files_written = bytes_written = user_bytes = 0  # writes nothing

    def __init__(self, sf: float):
        self.sf = sf

    def prepare(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "data")
        datagen.write_star(self.sf_dir, self.sf, seed)
        from mcas_question2_etl_spark.plans.suite import SPECS

        by_name = {s.name: s for s in SPECS}
        self.specs = [by_name[n] for n in LIGHT_POOL]

    def ops(self, rng) -> list:
        return [(self.specs[i].name, self._op(self.specs[i])) for i in rng.permutation(len(self.specs))]

    def _op(self, spec):
        def run(spark, tr):
            t0 = time.perf_counter()
            with tr.span("plans"):
                df = spec.fn(spark, self.sf_dir)
            with tr.span("execute"):
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, None

        return run

    def checks(self) -> list:
        """One op per spec whose result is compared with its DuckDB
        oracle by the suite's own order-free digest (floats to 9
        significant digits); run once, as the first pass."""
        from tests.oracle import canonical_rows, duck_connection

        con = duck_connection(self.sf_dir)

        def check(spec):
            def run(spark, tr):
                t0 = time.perf_counter()
                with tr.span("plans"):
                    df = spec.fn(spark, self.sf_dir)
                with tr.span("execute"):
                    rows = df.collect()
                took = time.perf_counter() - t0
                if spec.oracle is None:
                    return took, None if rows else "empty result"
                res = con.execute(spec.oracle)
                cols = [d[0] for d in res.description]
                if sorted(cols) != sorted(df.columns):
                    return took, f"columns {sorted(df.columns)} != oracle {sorted(cols)}"
                want = canonical_rows(res.fetchall(), cols)
                if canonical_rows(rows, df.columns) != want:
                    return took, f"{len(rows)} rows differ from the oracle's {len(want)}"
                return took, None

            return run

        return [(s.name, check(s)) for s in self.specs]


class EtlWorkload:
    name = "etl_refresh"
    pass_s = 4.5  # one warm refresh on a 4-core box

    def prepare(self, work: str, seed: int) -> None:
        self.inputs = datagen.EtlInputs(seed)
        out = os.path.join(work, "etl")
        self.paths = {
            "election_result": os.path.join(out, "election_result"),
            "school_district": os.path.join(out, "school_district"),
            "district_town_lookup": os.path.join(out, "district_town_lookup"),
        }
        self.files_written = 0
        self.bytes_written = 0
        self.user_bytes = 0

    def ops(self, rng) -> list:
        counties = sorted(rng.choice(datagen.COUNTIES, COUNTIES_PER_OP, replace=False).tolist())
        return [("refresh", self._op(rng, counties))]

    def checks(self) -> list:
        """The initial load of every county, checked like every refresh."""
        return [("initial_load", lambda spark, tr: self._refresh(spark, tr, datagen.COUNTIES))]

    def _op(self, rng, counties):
        # new scrape results are drawn when the op runs, so ops stay in
        # order with the state they check against
        def run(spark, tr):
            for c in counties:
                self.inputs.refresh_county(rng, c)
            self.inputs.refresh_school(rng)
            return self._refresh(spark, tr, counties)

        return run

    def _refresh(self, spark, tr, counties) -> tuple[float, str | None]:
        from mcas_question2_etl_spark.pipelines import (
            dashboard,
            district_gis,
            election_results,
            school_outcomes,
        )
        from mcas_question2_etl_spark.sources import ingest, io

        inp = self.inputs
        payload = {
            "election": (inp.ELECTION_HEADER, inp.election_rows(counties)),
            "mcas": (inp.MCAS_HEADER, inp.mcas_rows()),
            "grad": (inp.GRAD_HEADER, inp.grad_rows()),
            "gis": (inp.GIS_HEADER, inp.gis_rows()),
        }
        t0 = time.perf_counter()
        since = time.time()
        with tr.span("sources.ingest"):
            raw = {k: ingest.from_rows(spark, h, rows) for k, (h, rows) in payload.items()}
        with tr.span("pipelines"):
            election = election_results.transform_election_results(raw["election"])
            school = school_outcomes.transform_district_data(raw["mcas"], raw["grad"])
            crosswalk = district_gis.build_crosswalk(raw["gis"])
        with tr.span("sources.write"):
            election_results.load_election_results(election, self.paths["election_result"])
            io.write_parquet_overwrite(school, self.paths["school_district"])
            io.write_parquet_overwrite(crosswalk, self.paths["district_town_lookup"])
        with tr.span("catalog"):
            for view, path in self.paths.items():
                spark.read.parquet(path).createOrReplaceTempView(view)
        with tr.span("dashboard"):
            df = dashboard.school_analysis(spark)
        with tr.span("execute"):
            rows = df.collect()
        took = time.perf_counter() - t0
        self._count_output(since, payload)
        return took, self._verify(rows)

    def _count_output(self, since: float, payload) -> None:
        for path in self.paths.values():
            for d, _, files in os.walk(path):
                for f in files:
                    full = os.path.join(d, f)
                    if f[0] not in "._" and os.stat(full).st_mtime >= since:
                        self.files_written += 1
                        self.bytes_written += os.stat(full).st_size
        self.user_bytes += sum(
            len(str(cell).encode()) for _, rows in payload.values() for r in rows for cell in r
        )

    def _verify(self, rows) -> str | None:
        want = self.inputs.expected_dashboard()
        got = {r["district_code"]: r.asDict() for r in rows}
        if set(got) != set(want):
            return f"{len(got)} districts, expected {len(want)}"
        for code, w in want.items():
            g = got[code]
            for col, v in w.items():
                if col.startswith("prop_"):
                    ok = g[col] is not None and abs(g[col] - v) <= 0.05 + 1e-9
                elif isinstance(v, float):
                    ok = g[col] is not None and math.isclose(g[col], v, rel_tol=1e-12)
                else:
                    ok = g[col] == v
                if not ok:
                    return f"district {code} {col}: got {g[col]!r}, expected {v!r}"
        return None


def make(name: str, smoke: bool = False):
    if name == "light_queries":
        return LightQueries(SMOKE_SF if smoke else LIGHT_SF)
    if name == "etl_refresh":
        return EtlWorkload()
    raise SystemExit(f"unknown workload {name!r}")


NAMES = ["light_queries", "etl_refresh"]
