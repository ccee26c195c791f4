"""The benchmark's workloads. Each runs one closed-loop client: the next
operation starts only after the previous one returned.

- ``churn``: index a corpus, then cycles of index() of a delta /
  retrieve() / delete() of indexed files. Exercises the engine's delta
  merge and subtract (extract, graph.build, graph.ids), retrieval and the
  broadcast PPR batch engine. Every write invalidates the graph COO the
  engine caches, so every read after a write pays to rebuild it: work a
  change moves from writes into the next read shows.
- ``analytics``: PPR to L1 < 1e-6 through the durable per-superstep csr
  path, then connected components and label propagation, on a graph
  compiled once with the engine's own block count.

Two workloads, and one loop unit per run, because every run starts a JVM
and pays 15-20 s of cold start plus 20-30 s of set-up before its first
measured operation; more would not fit the benchmark's total time budget.

Inputs are synthetic ``repo_files`` tables written as parquet during
set-up; the seed picks which files form the corpus, the deltas, the
deletions, the queries and the PPR seed vertices. Outputs are checked
against NumPy oracles outside the timed region; a failed check counts as
a failed operation.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from . import oracles

QUERIES_PER_BATCH = 8
HUB_RATE = 0.38  # share of corpus imports that name the hub lib (synth.py)

CORPUS_FILES = 2000
CHURN_ADD = CORPUS_FILES // 20  # files indexed per cycle
CHURN_DELETE = CORPUS_FILES // 50  # files deleted per cycle
CHURN_MAX_CYCLES = 2
ANALYTICS_FILES = 2000
PPR_SEEDS = 5
LP_ROUNDS = 5


class Run:
    """State shared by a workload's set-up, timed loop and checks."""

    def __init__(self, spark, rec, seed: int, seconds: float, run_dir: str, t_start: float):
        self.spark = spark
        self.rec = rec
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.run_dir = run_dir
        self.t_start = t_start  # perf_counter() before the session started
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.report: dict[str, tuple[float, str]] = {}
        self.errors: list[str] = []
        self.extra: dict = {}  # workload facts the per-layer metrics need

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t_start:7.1f}s] {msg}", file=sys.stderr, flush=True)

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def timed(self, name: str, fn, check=None):
        """Run one measured operation and its output check. Returns the
        result, or None when the operation or its check failed."""
        self.attempted += 1
        try:
            with self.rec.op(name) as op:
                result = fn()
            self.samples.setdefault(name, []).append(op.wall_s)
            self.log(f"{name} {op.wall_s:.2f}s")
            if check is not None:
                check(result)
            return result
        except Exception as e:  # the run goes on so every failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None

    def check(self, name: str, fn) -> None:
        """A check of the run's final state; a failure counts as a failed
        operation."""
        self.attempted += 1
        try:
            fn()
        except Exception as e:
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
        self.log(f"check {name} done")

    def setup_op(self, name: str, fn):
        """An operation of the set-up: timed only as part of ``setup_s``,
        traced like the measured ones."""
        with self.rec.op(name) as op:
            result = fn()
        self.log(f"{name} {op.wall_s:.2f}s")
        return result


# ---------------------------------------------------------------- inputs


def write_inputs(run: Run, groups: dict[str, int]) -> dict[str, list[int]]:
    """Generate ``sum(groups)`` synthetic files and split a seeded
    permutation of their ids into the named groups (name -> size), written
    in one pass as parquet partitions ``inputs/group=<name>``."""
    from hipporag_spark.synth import repo_files

    spark = run.spark
    perm = run.rng.permutation(sum(groups.values()))
    out, at = {}, 0
    for name, size in groups.items():
        out[name] = sorted(int(i) for i in perm[at : at + size])
        at += size
    assign = spark.createDataFrame(pd.DataFrame(
        [(i, name) for name, ids in out.items() for i in ids], columns=["fid", "group"]
    ))
    files = repo_files(spark, at)
    rows = files.join(F.broadcast(assign), _file_id(files) == assign.fid).drop("fid")
    out_dir = run.path("inputs")
    run.setup_op("setup.inputs", lambda: rows.write.partitionBy("group").parquet(out_dir))
    return out


def read_group(run: Run, name: str):
    """One input group as the program sees it: a plain parquet table."""
    return run.spark.read.parquet(run.path(f"inputs/group={name}"))


def _file_id(files):
    return F.regexp_extract(files["path"], r"mod(\d+)\.py$", 1).cast("long")


def files_by_id(run: Run, ids):
    """The generated rows of the given file ids, from every group."""
    spark = run.spark
    files = spark.read.parquet(run.path("inputs")).drop("group")
    keep = spark.createDataFrame([(int(i),) for i in ids], "fid long")
    return files.join(F.broadcast(keep), _file_id(files) == keep.fid, "left_semi")


def make_queries(run: Run, file_ids) -> list[str]:
    """Queries in the corpus vocabulary: a module of an indexed file and an
    import, naming the hub lib at its corpus rate."""
    from hipporag_spark.synth import HUB_LIB, N_LIBS

    qs: list[str] = []  # distinct: the query text is retrieve()'s query id
    while len(qs) < QUERIES_PER_BATCH:
        fid = int(run.rng.choice(file_ids))
        lib = HUB_LIB if run.rng.random() < HUB_RATE else f"lib{run.rng.integers(N_LIBS)}"
        q = f"import {lib} module mod{fid}"
        if q not in qs:
            qs.append(q)
    return qs


# ---------------------------------------------------------------- checks


def check_batch_shape(queries, rows, n_passages):
    from hipporag_spark.retrieval.scoring import RETRIEVAL_TOP_K

    want = min(RETRIEVAL_TOP_K, n_passages)
    per_q: dict[str, int] = {}
    for r in rows:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    if per_q != {q: want for q in queries}:
        raise AssertionError(f"expected {want} rows for each query, got {per_q}")


def check_retrieve_probe(eng, queries, rows):
    """retrieve() output == NumPy PPR over the collected adjacency, with the
    reset vector built by the engine's public ``retrieval.scoring``
    functions: scores within 1e-6, top-k ids equal up to ties."""
    from hipporag_spark.retrieval.embeddings import QUERY_TO_FACT, QUERY_TO_PASSAGE, embed_text
    from hipporag_spark.retrieval.scoring import (
        LINK_TOP_K,
        build_reset,
        passage_weights,
        phrase_weights,
        score_store,
        top_facts,
    )

    s = eng.state

    def embed(instruction):
        return [(q, embed_text(q, instruction=instruction).tolist()) for q in queries]

    tf = top_facts(score_store(s.fact_store, embed(QUERY_TO_FACT)), LINK_TOP_K)
    pw = phrase_weights(tf, eng.fact_table(), s.chunk_counts, LINK_TOP_K)
    dpr = score_store(s.chunk_store, embed(QUERY_TO_PASSAGE))
    resets = build_reset(pw, passage_weights(dpr), s.verts).toPandas()
    verts = s.verts.select("id", "name", "ntype").toPandas().sort_values("id")
    adj = s.adj.toPandas()
    pos = {int(v): i for i, v in enumerate(verts["id"])}
    n = len(verts)
    src = adj["src"].map(pos).to_numpy()
    dst = adj["dst"].map(pos).to_numpy()
    w = adj["weight"].to_numpy(dtype=np.float64)
    is_passage = (verts["ntype"] == "passage").to_numpy()
    names = verts["name"].to_numpy()
    got: dict[str, dict[str, float]] = {}
    for r in rows:
        got.setdefault(r["query_id"], {})[r["chunk_id"]] = r["score"]
    for q in queries:
        reset = np.zeros(n)
        qr = resets[resets["query_id"] == q]
        np.add.at(reset, qr["id"].map(pos).to_numpy(), qr["weight"].to_numpy())
        scores = oracles.ppr(n, src, dst, w, reset, damping=0.5)
        want = dict(zip(names[is_passage], scores[is_passage]))
        mine = got.get(q, {})
        bad = [c for c, v in mine.items() if abs(want[c] - v) > 1e-6]
        if bad:
            raise AssertionError(f"{q!r}: {len(bad)} scores off by > 1e-6")
        kth = min(mine.values())
        missed = [c for c, v in want.items() if c not in mine and v > kth + 1e-6]
        if missed:
            raise AssertionError(f"{q!r}: {len(missed)} top-k passages missing")


def adjacency_by_name(verts, adj) -> set:
    names = dict(verts.select("id", "name").toPandas().itertuples(index=False))
    a = adj.toPandas()
    return set(zip(a["src"].map(names), a["dst"].map(names), a["weight"]))


# ---------------------------------------------------------------- churn


def _retrieve(eng, queries):
    return eng.retrieve(queries).collect()


def churn(run: Run) -> None:
    from hipporag_spark.engine import LinkGraphEngine
    from hipporag_spark.extract import extract
    from hipporag_spark.graph.build import build_graph

    deltas = {f"delta{c}": CHURN_ADD for c in range(CHURN_MAX_CYCLES)}
    # the seeded corpus is 4/5 of the files not held back for deltas
    ids = write_inputs(run, {"corpus": CORPUS_FILES, "unused": CORPUS_FILES // 4, **deltas})
    indexed = set(ids["corpus"])
    eng = LinkGraphEngine(run.spark)
    run.setup_op("setup.index", lambda: eng.index(read_group(run, "corpus")))
    run.report["setup_s"] = (time.perf_counter() - run.t_start, "s")

    def read():
        qs = make_queries(run, sorted(indexed))
        # one passage vertex per indexed file: every query gets min(k, that)
        rows = run.timed("retrieve", lambda: _retrieve(eng, qs),
                         lambda rows: check_batch_shape(qs, rows, len(indexed)))
        return None if rows is None else (qs, rows)

    t0 = time.perf_counter()
    cycles = []
    for c in range(CHURN_MAX_CYCLES):
        if c and time.perf_counter() - t0 >= run.seconds:
            break
        delta = read_group(run, f"delta{c}")
        if run.timed("index", lambda: eng.index(delta)) is None:
            break
        indexed.update(ids[f"delta{c}"])
        probe = read()
        if probe is None:
            break
        if c == 0:  # the probe batch, checked against the state it read
            run.check("retrieve probe", lambda: check_retrieve_probe(eng, *probe))
        doomed = run.rng.choice(sorted(indexed), CHURN_DELETE, replace=False).tolist()
        contents = [r["content"] for r in files_by_id(run, doomed).select("content").collect()]
        if run.timed("delete", lambda: eng.delete(contents)) is None:
            break
        indexed.difference_update(doomed)
        walls = run.samples
        cycles.append(walls["index"][-1] + walls["retrieve"][-1] + walls["delete"][-1])

    def check_state():
        verts, _, adj = build_graph(extract(files_by_id(run, sorted(indexed))))
        if adjacency_by_name(eng.state.verts, eng.state.adj) != adjacency_by_name(verts, adj):
            raise AssertionError("incremental adjacency != rebuild of the surviving corpus")

    run.check("churn state", check_state)
    reads = run.samples.get("retrieve", [])
    qps = len(reads) * QUERIES_PER_BATCH / sum(reads) if reads else 0.0
    run.report["retrieve_qps"] = (qps, "1/s")
    run.report["op_p50_s"] = (_median(cycles), "s")


# ---------------------------------------------------------------- analytics


def analytics(run: Run) -> None:
    from hipporag_spark.algo.components import connected_components
    from hipporag_spark.algo.labelprop import label_propagation
    from hipporag_spark.algo.ppr import personalized_pagerank
    from hipporag_spark.extract import extract
    from hipporag_spark.graph import blocked
    from hipporag_spark.graph.build import build_graph, strength

    spark = run.spark
    # the seeded corpus is 4/5 of the generated files
    write_inputs(run, {"corpus": ANALYTICS_FILES, "unused": ANALYTICS_FILES // 4})

    def build():
        ex = extract(read_group(run, "corpus")).persist()
        verts, _, adj = build_graph(ex)
        st = strength(adj).persist()
        return verts, adj, st, verts.count(), adj.count(), st.count()

    verts, adj, st, nv, ne, _ = run.setup_op("setup.build_graph", build)
    vid = verts.select("id")
    num_blocks = blocked.default_num_blocks(ne)
    bg = run.setup_op("setup.compile", lambda: blocked.compile_blocks(adj, st, vid, num_blocks))
    ckpt_dir = run.path("checkpoints")

    def ppr(reset_ids):
        reset = spark.createDataFrame([(int(i), 1.0) for i in reset_ids], "id long, weight double")
        return personalized_pagerank(
            spark, adj, st, vid, n_vertices=nv, reset_df=reset, damping=0.5, tol=1e-6,
            engine="csr", graph=bg, checkpoint_dir=ckpt_dir,
        )

    run.report["setup_s"] = (time.perf_counter() - run.t_start, "s")

    a = adj.toPandas()
    src, dst = a["src"].to_numpy(), a["dst"].to_numpy()
    w = a["weight"].to_numpy(dtype=np.float64)

    def vector(df, col):
        p = df.toPandas()
        out = np.full(nv, -1.0 if col != "value" else np.nan)
        out[p["id"].to_numpy()] = p[col].to_numpy()
        return out

    extra = run.extra = {
        "n_vertices": nv, "n_adj_rows": ne, "num_blocks": num_blocks, "oracle_ppr_s": [],
        "supersteps": [], "superstep_p50_s": [], "cc_supersteps": [], "lp_rounds": [],
    }
    rounds = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < run.seconds or not rounds:
        seeds = run.rng.choice(nv, PPR_SEEDS, replace=False)

        def check_ppr(result):
            ranks, lineage = result
            extra["supersteps"].append(len(lineage))
            extra["superstep_p50_s"].append(_median([e["wall_ms"] / 1000 for e in lineage]))
            reset = np.zeros(nv)
            reset[seeds] = 1.0
            o0 = time.perf_counter()
            want = oracles.ppr(nv, src, dst, w, reset, damping=0.5)
            extra["oracle_ppr_s"].append(time.perf_counter() - o0)
            if not np.allclose(vector(ranks, "value"), want, atol=1e-6):
                raise AssertionError("PPR ranks differ from the NumPy oracle")

        def check_labels(fn, col, steps):
            def check(result):
                extra[steps].append(len(result[1]))
                if not np.array_equal(vector(result[0], col), fn()):
                    raise AssertionError(f"{col} labels differ from the NumPy oracle")
            return check

        ok = run.timed("ppr", lambda: ppr(seeds), check_ppr) is not None
        ok = ok and run.timed(
            "cc", lambda: connected_components(spark, adj, vid),
            check_labels(lambda: oracles.components(nv, src, dst), "component", "cc_supersteps"),
        ) is not None
        ok = ok and run.timed(
            "lp", lambda: label_propagation(spark, adj, vid, max_iter=LP_ROUNDS),
            check_labels(
                lambda: oracles.label_propagation(nv, src, dst, w, LP_ROUNDS), "label", "lp_rounds"
            ),
        ) is not None
        if not ok:
            break
        rounds.append(sum(run.samples[k][-1] for k in ("ppr", "cc", "lp")))
    run.report["op_p50_s"] = (_median(rounds), "s")


def _median(xs):
    return statistics.median(xs) if xs else 0.0  # 0 only when the loop failed


WORKLOADS = {"churn": churn, "analytics": analytics}
