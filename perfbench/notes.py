"""``notes_sync``: the reference's own job on a seeded notes tree.

Setup builds the index from empty state (the cold run, which also warms
the JVM and the Python workers), then runs two untimed incremental rounds
and one untimed search. The timed window repeats one closed-loop cycle:
edit 1% of the notes and add a few (untimed file writes), run one
incremental round (scan, mtime delta, token gate, embed, partitioned
MERGE, state swap), then two top-10 searches by note id through the CLI
(``search --query-id``: ``knn_join`` over the on-disk index). After the
window, one 64-query ``knn_join`` batch runs. Every round, search and
batch is checked.
"""

from __future__ import annotations

import contextlib
import io
import os
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from common import SPARK_UNITS, Outcome, RunContext, median
from datagen import NotesTree

N_NOTES = 300
N_DIRS = 20
N_LONG = 3
EDITS = 3  # 1% of the notes
ADDS = 2
WARMUP_ROUNDS = 2
WARMUP_SEARCHES = 1
BATCH = 64
K = 10
TOL = 2e-6  # scores are rounded to 6 digits by knn_join


def read_index(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit-normalised embeddings) of the bucketed parquet index."""
    table = ds.dataset(path, format="parquet", partitioning="hive",
                       ignore_prefixes=[".", "_SUCCESS"]).to_table(
        columns=["id", "embedding"])
    ids = np.array(table.column("id").to_pylist(), dtype=object)
    emb = np.array(table.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    return ids, emb / np.where(norms == 0, 1.0, norms)


def check_topk(ids, emb, qid: str, got: list[tuple[int, float, str]]) -> str | None:
    """Compare one top-k result with a NumPy brute force. Returns why it is
    wrong, or None. Ties at the k-th score may be ordered either way."""
    pos = np.flatnonzero(ids == qid)
    if len(pos) != 1:
        return f"{qid}: {len(pos)} index rows"
    scores = emb @ emb[pos[0]]
    want = np.sort(scores)[::-1][:K]
    if len(got) != min(K, len(ids)):
        return f"{qid}: {len(got)} results"
    by_id = dict(zip(ids, scores))
    for (rank, score, rid), w in zip(got, want):
        if abs(score - w) > TOL or abs(by_id.get(rid, -9.0) - score) > TOL:
            return f"{qid}: rank {rank} {rid} score {score} want {w}"
    if got[0][2] != qid or abs(got[0][1] - 1.0) > TOL:
        return f"{qid}: top-1 is {got[0][2]} at {got[0][1]}"
    return None


def index_files(path: str) -> int:
    n = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(".")]
        n += sum(f.endswith(".parquet") for f in files)
    return n


PHASES = ("cold", "sync", "search")
LAYERS = {
    "traced.round_s": "s", "traced.query_s": "s", "traced.batch_s": "s",
    "notes.index_cold_s": "s", "session.get_spark_s": "s",
    "sources.scan_directory_s": "s", "pipeline.run_pipeline_s": "s",
    "pipeline.self_s": "s", "pipeline.actions_s": "s", "pipeline.atomic_replace_s": "s",
    "pipeline.changed": "count", "pipeline.indexed": "count",
    "pipeline.quarantined": "count", "delta.detect_changes_versioned_s": "s",
    "delta.merge_upsert_partitioned_s": "s", "delta.merge_upsert_s": "s",
    "delta.buckets_rewritten": "count", "delta.rows_per_bucket": "count",
    "index.files": "count", "knn.build_s": "s", "knn.collect_s": "s",
    "cli.search_self_s": "s",
    **{f"{p}.spark.{k}": u for p in PHASES for k, u in SPARK_UNITS.items()},
}


class NotesSync:
    def __init__(self):
        self.rounds: list[float] = []
        self.searches: list[float] = []
        self.batch_s = 0.0
        self.cold_s = 0.0
        self.counters: list[dict] = []
        self.files = 0

    # -- operations ------------------------------------------------------
    def _round(self, spark, cfg, tree: NotesTree, out: Outcome):
        from vectrekker_spark.pipeline import run_pipeline

        edited, added, long_path = tree.churn(EDITS, ADDS)
        out.attempted += 1
        t = time.perf_counter()
        try:
            counters = run_pipeline(spark, cfg)
        except Exception as e:  # noqa: BLE001 - a failed round is counted, not fatal
            out.fail(f"round raised {type(e).__name__}: {e}")
            return None, edited + added
        dt = time.perf_counter() - t
        self.counters.append(counters)
        want = {"scanned": len(tree.mtimes), "changed": len(edited) + len(added) + 1,
                "indexed": len(edited) + len(added), "quarantined": 1}
        if counters != want:
            out.fail(f"round counters {counters} != {want}")
        state = pq.read_table(cfg.state_path, columns=["path", "last_edit_time"]).to_pydict()
        stamped = dict(zip(state["path"], state["last_edit_time"]))
        for p in [*edited, *added, long_path]:
            if stamped.get(p) != tree.mtimes[p]:
                out.fail(f"state {p} last_edit_time {stamped.get(p)} != {tree.mtimes[p]}")
                break
        return dt, edited + added

    def _search(self, cfg, qid: str, index, out: Outcome):
        from vectrekker_spark import cli

        out.attempted += 1
        buf = io.StringIO()
        t = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main(["search", "--index", cfg.index_path,
                               "--query-id", qid, "-k", str(K)])
        except Exception as e:  # noqa: BLE001
            out.fail(f"search raised {type(e).__name__}: {e}")
            return None
        dt = time.perf_counter() - t
        got = []
        for line in buf.getvalue().splitlines():
            rank, score, rid = line.split(maxsplit=2)
            got.append((int(rank), float(score), rid))
        why = f"search exit {rc}" if rc else check_topk(*index, qid, got)
        if why:
            out.fail(why)
        return dt

    def _batch(self, spark, cfg, qids: list[str], index, out: Outcome):
        from pyspark.sql import functions as F

        from vectrekker_spark.operators.knn import knn_join

        out.attempted += 1
        t = time.perf_counter()
        idx = spark.read.parquet(cfg.index_path)
        q = idx.filter(F.col("id").isin(qids)).select(
            F.col("id").alias("qid"), F.col("embedding").alias("qvec"))
        rows = knn_join(q, idx, k=K, id_col="id", vec_col="embedding").collect()
        dt = time.perf_counter() - t
        per: dict[str, list] = {}
        for r in rows:
            per.setdefault(r["qid"], []).append((r["rank"], r["score"], r["vec_id"]))
        if sorted(per) != sorted(qids):
            out.fail(f"batch answered {len(per)} of {len(qids)} queries")
        for qid, got in per.items():
            why = check_topk(*index, qid, sorted(got))
            if why:
                out.fail(f"batch {why}")
                break
        return dt

    # -- the run ---------------------------------------------------------
    def run(self, ctx: RunContext, spark, t_start: float) -> Outcome:
        from vectrekker_spark import pipeline

        out = Outcome()
        tr = ctx.tracer
        if tr is not None:
            self._instrument(tr)
        tree = NotesTree(os.path.join(ctx.work, "notes"), ctx.seed, N_NOTES, N_DIRS, N_LONG)
        cfg = pipeline.PipelineConfig(
            content_dir=tree.root,
            state_path=os.path.join(ctx.work, "state"),
            index_path=os.path.join(ctx.work, "index"),
            quarantine_path=os.path.join(ctx.work, "quarantine"),
        )
        rng = np.random.default_rng([ctx.seed, 3])

        self._phase(tr, "cold")
        out.attempted += 1
        t = time.perf_counter()
        counters = pipeline.run_pipeline(spark, cfg)  # the attribute: traced runs wrap it
        self.cold_s = time.perf_counter() - t
        n = len(tree.mtimes)
        want = {"scanned": n, "changed": n, "indexed": n - N_LONG, "quarantined": N_LONG}
        if counters != want:
            out.fail(f"cold counters {counters} != {want}")

        # untimed warm-up: the first rounds and searches after the cold run
        # are still compiling (JIT, codegen) and run up to 40% slower
        self._phase(tr, "warmup")
        for _ in range(WARMUP_ROUNDS):
            self._round(spark, cfg, tree, out)
        index = read_index(cfg.index_path)
        for qid in rng.choice(tree.normal, WARMUP_SEARCHES, replace=False):
            self._search(cfg, str(qid), index, out)
        setup_s = time.perf_counter() - t_start

        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end:
            self._phase(tr, "sync")
            dt, touched = self._round(spark, cfg, tree, out)
            if dt is None:
                continue
            self.rounds.append(dt)
            index = read_index(cfg.index_path)
            self._phase(tr, "search")
            # one note this round touched, one from the whole tree
            for qid in (str(rng.choice(touched)), str(rng.choice(tree.normal))):
                dt = self._search(cfg, qid, index, out)
                if dt is not None:
                    self.searches.append(dt)
        self.files = index_files(cfg.index_path)
        self._phase(tr, "batch")
        qids = [str(x) for x in rng.choice(tree.normal, BATCH, replace=False)]
        self.batch_s = self._batch(spark, cfg, qids, index, out) or 0.0

        out.details.append("rounds " + " ".join(f"{x:.3f}" for x in self.rounds))
        out.details.append("searches " + " ".join(f"{x:.3f}" for x in self.searches))
        out.put("round_s", median(self.rounds) if self.rounds else 0.0, "s", len(self.rounds))
        out.put("query_s", median(self.searches) if self.searches else 0.0, "s",
                len(self.searches))
        out.put("setup_s", setup_s, "s")
        return out

    # -- tracing ---------------------------------------------------------
    @staticmethod
    def _phase(tr, name: str) -> None:
        if tr is not None:
            tr.phase = name

    def _instrument(self, tr) -> None:
        import vectrekker_spark.operators.delta as delta
        import vectrekker_spark.operators.knn as knn
        import vectrekker_spark.pipeline as pipeline
        import vectrekker_spark.sources.files as files
        from vectrekker_spark import cli
        from pyspark.sql.classic.dataframe import DataFrame

        def buckets(rec, result):
            rec.attrs["buckets"] = len(result)

        pkg = "vectrekker_spark"
        tr.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline", alias_prefix=pkg)
        tr.wrap(pipeline, "_atomic_replace", "pipeline.atomic_replace")
        tr.wrap(files, "scan_directory", "sources.scan_directory", alias_prefix=pkg)
        tr.wrap(delta, "detect_changes_versioned", "delta.detect_changes_versioned",
                alias_prefix=pkg)
        tr.wrap(delta, "merge_upsert_partitioned", "delta.merge_upsert_partitioned",
                on_result=buckets, alias_prefix=pkg)
        tr.wrap(delta, "merge_upsert", "delta.merge_upsert", alias_prefix=pkg)
        tr.wrap(knn, "knn_join", "knn.knn_join", alias_prefix=pkg)
        tr.wrap(cli, "cmd_search", "cli.search")
        for action in ("count", "collect", "isEmpty", "toPandas"):
            tr.wrap(DataFrame, action, f"df.{action}")

    def layers(self, ctx, tr, phases: dict, out: Outcome) -> dict:
        m: dict[str, tuple[float, str]] = {}
        n_rounds = max(1, len(self.rounds))
        n_search = max(1, len(self.searches))
        m["traced.round_s"] = (median(self.rounds), "s")
        m["traced.query_s"] = (median(self.searches), "s")
        m["traced.batch_s"] = (self.batch_s, "s")
        m["notes.index_cold_s"] = (self.cold_s, "s")
        m["session.get_spark_s"] = (tr.total("session.get_spark"), "s")
        for name, key in (
            ("sources.scan_directory", "sources.scan_directory_s"),
            ("pipeline.run_pipeline", "pipeline.run_pipeline_s"),
            ("pipeline.atomic_replace", "pipeline.atomic_replace_s"),
            ("delta.detect_changes_versioned", "delta.detect_changes_versioned_s"),
            ("delta.merge_upsert_partitioned", "delta.merge_upsert_partitioned_s"),
            ("delta.merge_upsert", "delta.merge_upsert_s"),
        ):
            m[key] = (tr.total(name, "sync") / n_rounds, "s")
        runs = tr.select("pipeline.run_pipeline", "sync")
        m["pipeline.self_s"] = (sum(tr.self_seconds(s) for s in runs) / n_rounds, "s")
        m["pipeline.actions_s"] = (
            tr.total("df.count", "sync", parent_name="pipeline.run_pipeline") / n_rounds, "s")
        sync_counters = self.counters[-len(self.rounds):] if self.rounds else []
        for key in ("changed", "indexed", "quarantined"):
            m[f"pipeline.{key}"] = (
                sum(c[key] for c in sync_counters) / n_rounds, "count")
        merges = tr.select("delta.merge_upsert_partitioned", "sync")
        n_buckets = sum(s.attrs.get("buckets", 0) for s in merges)
        m["delta.buckets_rewritten"] = (n_buckets / n_rounds, "count")
        changed = sum(c["changed"] for c in sync_counters)
        m["delta.rows_per_bucket"] = (changed / max(1, n_buckets), "count")
        m["index.files"] = (self.files, "count")
        m["knn.build_s"] = (tr.total("knn.knn_join", "search") / n_search, "s")
        m["knn.collect_s"] = (
            tr.total("df.collect", "search", parent_name="cli.search") / n_search, "s")
        m["cli.search_self_s"] = (
            sum(tr.self_seconds(s) for s in tr.select("cli.search", "search")) / n_search, "s")
        for phase, ops in zip(PHASES, (1, n_rounds, n_search)):
            for k, v in phases.get(phase, {}).items():
                m[f"{phase}.spark.{k}"] = (v / ops, SPARK_UNITS[k])
        # run_pipeline's child spans plus its self time must add up to the
        # round's wall, as timed outside the wrapper
        for s, wall in zip(runs, self.rounds):
            kids = sum(c.seconds for c in tr.children(s))
            if abs(kids + tr.self_seconds(s) - wall) > 0.02 * wall:
                out.fail(f"span cover: children {kids:.3f} s + self "
                         f"{tr.self_seconds(s):.3f} s != round wall {wall:.3f} s")
        return m
