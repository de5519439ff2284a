"""``registry``: registered queries on seeded single-file corpus tables.

Setup writes the ten corpus tables at sf 0.02 (one parquet file, one row
group each: the layout on which the registry's serial-plan gates engage)
and runs one untimed warm-up pass. The timed window repeats passes over
``QUERIES``; each query is built and materialised with ``toPandas()``, as
``bench.py`` times it. After the window, every timed result is compared
with its DuckDB oracle the way ``scripts/smoke_oracle.py`` compares them.

``QUERIES`` is a fixed subset of the registry: the heavy rows, the rows
with the largest fixed per-query overhead against DuckDB, and one TPC-H
row, so every query module is covered. A pass over all 50 queries takes
20-40 s here (60 s cold), which does not fit one run.
"""

from __future__ import annotations

import math
import os
import time
from decimal import Decimal

import numpy as np

from common import SPARK_UNITS, Outcome, RunContext, geomean, median
from datagen import TABLES, corpus_tables, write_corpus

SF = 0.02
QUERIES = (
    "d02_simhash", "d27_bloom_decontam", "d19_decontaminate", "d01_minhash",
    "q28_sim_dedup", "d17_count_min", "d24_bm25", "d26_semantic_dedup",
    "d20_tfidf", "q05_broadcast_join", "d18_hash_split", "d09_incremental_delta",
    "q18_array_fns", "t10_returned_items",
)

MODULES = ("relational", "text", "curation", "vector", "pipeline", "tpch")
LAYERS = {
    "traced.round_s": "s", "traced.query_s": "s",
    "session.get_spark_s": "s", "queries.gated_tables": "count",
    **{f"queries.{m}.{p}_s": "s" for m in MODULES for p in ("build", "execute", "transfer")},
    **{f"query.{q}_s": "s" for q in QUERIES},
    **{f"pass.spark.{k}": u for k, u in SPARK_UNITS.items()},
}


def _plain(v):
    """A pandas/NumPy cell as the Python value ``Row`` would hold."""
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def canon(v):
    """``scripts/smoke_oracle.py``'s cell canonicalisation."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return round(v, 9)
    return v


def _key(row):
    return tuple((x is None, repr(type(x)), x if x is not None else 0)
                 if not isinstance(x, (list, dict)) else (False, "seq", repr(x))
                 for x in row)


def rows_of_pandas(pdf) -> list[tuple]:
    return sorted((tuple(canon(_plain(v)) for v in r)
                   for r in pdf.itertuples(index=False, name=None)), key=_key)


def rows_of_duckdb(res) -> list[tuple]:
    return sorted((tuple(canon(_plain(v)) for v in r) for r in res.fetchall()), key=_key)


class Registry:
    def __init__(self):
        self.times: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.results: list[tuple[str, object]] = []
        self.split: dict[str, dict[str, list[float]]] = {}
        self.gated: set[str] = set()
        self.passes = 0

    def _pass(self, spark, sf: str, specs, out: Outcome, keep: bool, tr=None) -> None:
        for name in QUERIES:
            out.attempted += 1
            t = time.perf_counter()
            try:
                if tr is None:
                    pdf = specs[name].spark(spark, sf).toPandas()
                    dt = time.perf_counter() - t
                else:
                    pdf, dt = self._traced_query(spark, sf, specs[name], tr, keep)
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                out.fail(f"{name} raised {type(e).__name__}: {e}")
                continue
            if keep:
                self.times[name].append(dt)
                self.results.append((name, pdf))

    def _traced_query(self, spark, sf, spec, tr, keep: bool):
        """Build, execute into a ``noop`` sink, then ``toPandas``: the
        build / execute / transfer split of one query. The returned time
        leaves the ``noop`` execution out, so it compares with an untraced
        query's build plus ``toPandas``."""
        with tr.span(f"query.{spec.name}"):
            t0 = time.perf_counter()
            with tr.span("query.build"):
                df = spec.spark(spark, sf)
            t1 = time.perf_counter()
            with tr.span("query.execute"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            with tr.span("query.to_pandas"):
                pdf = df.toPandas()
            t3 = time.perf_counter()
        if keep:
            module = spec.spark.__module__.rsplit(".", 1)[-1]
            split = self.split.setdefault(module, {"build": [], "execute": [], "transfer": []})
            split["build"].append(t1 - t0)
            split["execute"].append(t2 - t1)
            split["transfer"].append((t3 - t2) - (t2 - t1))
        return pdf, (t1 - t0) + (t3 - t2)

    def _check(self, sf: str, out: Outcome) -> None:
        import duckdb

        from vectrekker_spark.queries import all_specs

        specs = all_specs()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf, t)}.parquet')")
            want = {}
            for name in QUERIES:
                res = con.execute(specs[name].oracle)
                want[name] = ([d[0] for d in res.description], rows_of_duckdb(res))
        finally:
            con.close()
        for name, pdf in self.results:
            cols, rows = want[name]
            if sorted(pdf.columns) != sorted(cols) or rows_of_pandas(pdf) != rows:
                out.fail(f"{name}: result differs from its DuckDB oracle "
                         f"({len(pdf)} rows, oracle {len(rows)})")

    def run(self, ctx: RunContext, spark, t_start: float) -> Outcome:
        from vectrekker_spark.queries import all_specs

        out = Outcome()
        tr = ctx.tracer
        sf = os.path.join(ctx.work, "sf")
        write_corpus(corpus_tables(ctx.seed, SF), sf)
        specs = all_specs()
        if tr is not None:
            self._instrument(tr)
            tr.phase = "warmup"
        self._pass(spark, sf, specs, out, keep=False)
        setup_s = time.perf_counter() - t_start

        if tr is not None:
            tr.phase = "pass"
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end:
            self._pass(spark, sf, specs, out, keep=True, tr=tr)
            self.passes += 1
        self._check(sf, out)

        for name, v in self.times.items():
            out.details.append(f"{name} " + " ".join(f"{x:.3f}" for x in v))
        per_query = [median(v) for v in self.times.values() if v]
        out.put("round_s", sum(per_query), "s", self.passes)
        out.put("query_s", geomean(per_query), "s", sum(map(len, self.times.values())))
        out.put("setup_s", setup_s, "s")
        return out

    def _instrument(self, tr) -> None:
        import vectrekker_spark.queries.util as util

        orig = util.small_local

        def small_local(sf_dir, name, *a, **kw):
            hit = orig(sf_dir, name, *a, **kw)
            if hit:
                self.gated.add(name)
            return hit

        tr.patch(util, "small_local", small_local, alias_prefix="vectrekker_spark")

    def layers(self, ctx, tr, phases: dict, out: Outcome) -> dict:
        m: dict[str, tuple[float, str]] = {}
        per_query = {q: median(v) for q, v in self.times.items() if v}
        m["traced.round_s"] = (sum(per_query.values()), "s")
        m["traced.query_s"] = (geomean(per_query.values()), "s")
        m["session.get_spark_s"] = (tr.total("session.get_spark"), "s")
        for module, split in sorted(self.split.items()):
            for part, xs in split.items():
                m[f"queries.{module}.{part}_s"] = (sum(xs) / max(1, self.passes), "s")
        for q, v in per_query.items():
            m[f"query.{q}_s"] = (v, "s")
        m["queries.gated_tables"] = (len(self.gated), "count")
        for k, v in phases.get("pass", {}).items():
            m[f"pass.spark.{k}"] = (v / max(1, self.passes), SPARK_UNITS[k])
        return m
