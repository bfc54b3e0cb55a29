"""The benchmark's three workloads.

Each workload builds its input in :meth:`setup` (timed as set-up), runs one
pass in :meth:`run_pass` through the ``step(name, fn)`` callback the runner
passes in (each step ends when its outputs are materialized), and checks a
pass's materialized outputs in :meth:`check`, outside the timed region.

- ``etl_cc``: synthetic crawl pages -> ``build_graph`` (HTML extraction,
  url->vid dictionary, edge dedup) -> ``cc(mode="df")``.
- ``fixpoint_doc``: many short fixpoint loops (PageRank, HITS, label
  propagation, CC, coreness, ANF) over a 5,000-document graph.
- ``csc_durable``: read a binary CSC file, then CC and PageRank with a
  parquet ``CheckpointStore`` written every round.
"""

from __future__ import annotations

import importlib
import math
import os
import random
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pds_hw2_mpi_connected_components_spark import operators, sources
from pds_hw2_mpi_connected_components_spark.plans.checkpoint import CheckpointStore
from pds_hw2_mpi_connected_components_spark.plans.flat import flat_checkpoint

datagen = importlib.import_module("pds_hw2_mpi_connected_components_spark.sources.datagen")
doc_edges = importlib.import_module("pds_hw2_mpi_connected_components_spark.sources.doc_edges")
graph_build = importlib.import_module("pds_hw2_mpi_connected_components_spark.sources.graph_build")

N_COMPONENTS = 16


def checksum(df) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64 over every column): order-insensitive."""
    row = df.agg(F.count("*").alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def done(result) -> tuple:
    """An operator's output table, materialized, and its per-round metrics.
    ``result`` is ``(df, metrics)`` or a CCResult/PRResult."""
    return flat_checkpoint(result[0]), result[1]


def n_labels(labels) -> int:
    return labels.select("label").distinct().count()


class Workload:
    name = ""
    # steps whose time counts as the CC call in cc_sym_edges_per_s
    cc_steps: tuple[str, ...] = ()
    # summary keys that must equal the first pass's in every later pass
    repeat_keys: tuple[str, ...] = ()

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.workdir = workdir
        self.info: dict = {}
        self._first: dict | None = None

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, step) -> dict:
        raise NotImplementedError

    def summarize(self, out: dict) -> dict:
        """Scalars a pass is checked on, computed from its materialized outputs."""
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Failures of one pass: its own invariants, then agreement with the
        first checked pass on everything that must repeat exactly."""
        got = self.summarize(out)
        errors = self.invariants(got)
        if self._first is None:
            self._first = got
        else:
            for k in self.repeat_keys:
                if got[k] != self._first[k]:
                    errors.append(f"{k} {got[k]} != first pass {self._first[k]}")
        return errors

    def invariants(self, got: dict) -> list[str]:
        return []

    def cleanup(self, out: dict) -> None:
        pass


class EtlCC(Workload):
    name = "etl_cc"
    n_pages = 5_000
    cc_steps = ("operators.cc",)
    repeat_keys = ("labels",)

    def setup(self, spark) -> None:
        nproc = spark.sparkContext.defaultParallelism
        self.pages = sources.generate_pages(
            spark, self.n_pages, n_components=N_COMPONENTS, seed=self.seed,
            num_partitions=nproc,
        ).transform(flat_checkpoint)

    def run_pass(self, spark, step) -> dict:
        def build():
            g = sources.build_graph(self.pages)
            return g.edges.transform(flat_checkpoint), g.vertices.select("vid")

        edges, vertices = step("sources.graph_build", build)
        labels, _ = step("operators.cc", lambda: done(operators.cc(edges, vertices, mode="df")))
        return {"edges": edges, "vertices": vertices, "labels": labels}

    def summarize(self, out: dict) -> dict:
        labels = out["labels"]
        if "sym_edges" not in self.info:
            self.info["vertices"] = out["vertices"].count()
            self.info["sym_edges"] = graph_build.symmetrize(out["edges"]).count()
        return {"labels": checksum(labels), "components": n_labels(labels)}

    def invariants(self, got: dict) -> list[str]:
        if got["components"] != N_COMPONENTS:
            return [f"{got['components']} components, expected {N_COMPONENTS}"]
        return []


class FixpointDoc(Workload):
    """The document graph is fixed (``doc_edges`` over a 5,000-row documents
    table built from a constant), so the seed is ignored: every run does the
    same rounds."""

    name = "fixpoint_doc"
    n_docs = 5_000
    docs_seed = 20_250_101
    pagerank_iter = 3
    hits_iter = 2
    labelprop_iter = 1
    anf_trials, anf_hops = 16, 1
    cc_steps = ("operators.cc",)
    repeat_keys = ("cc", "labelprop", "coreness")

    def setup(self, spark) -> None:
        d = os.path.join(self.workdir, "docs")
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng(self.docs_seed)
        pd.DataFrame({
            "doc_id": np.arange(self.n_docs, dtype=np.int64),
            "n_chars": rng.integers(40, 400, self.n_docs).astype(np.int64),
        }).to_parquet(os.path.join(d, "documents.parquet"))
        self.eg = doc_edges.doc_edges_global(spark, d).transform(flat_checkpoint)
        self.eb = doc_edges.doc_edges_blocked(spark, d).transform(flat_checkpoint)
        self.sym_eb = graph_build.symmetrize(self.eb).transform(flat_checkpoint)
        self.verts = doc_edges.doc_vertices(spark, d).transform(flat_checkpoint)

    def run_pass(self, spark, step) -> dict:
        eg, eb, verts = self.eg, self.eb, self.verts
        calls = {
            "pagerank": lambda: operators.pagerank(
                eg, vertices=verts, tol=0.0, max_iter=self.pagerank_iter),
            "hits": lambda: operators.hits(eg, vertices=verts, tol=0.0, max_iter=self.hits_iter),
            "labelprop": lambda: operators.label_propagation(
                self.sym_eb, vertices=verts, max_iter=self.labelprop_iter),
            "cc": lambda: operators.connected_components(eg, vertices=verts),
            "coreness": lambda: operators.coreness(eb),
            "anf": lambda: operators.anf(
                eg, vertices=verts, n_trials=self.anf_trials, max_hops=self.anf_hops),
        }
        out = {}
        for op, call in calls.items():
            out[op], _ = step(f"operators.{op}", lambda call=call: done(call()))
        return out

    def summarize(self, out: dict) -> dict:
        if "sym_edges" not in self.info:
            self.info["vertices"] = self.verts.count()
            self.info["sym_edges"] = graph_build.symmetrize(self.eg).count()
        return {
            "rank_sum": out["pagerank"].agg(F.sum("rank")).collect()[0][0],
            "cc": checksum(out["cc"]),
            "labelprop": checksum(out["labelprop"]),
            "coreness": checksum(out["coreness"]),
        }

    def invariants(self, got: dict) -> list[str]:
        if not abs(got["rank_sum"] - 1.0) <= 1e-9:
            return [f"PageRank ranks sum to {got['rank_sum']!r}, not 1"]
        return []


class CscDurable(Workload):
    name = "csc_durable"
    n_vertices = 16_000
    pagerank_iter = 2
    cc_steps = ("sources.graph_io.read", "operators.cc")
    repeat_keys = ("labels", "cc_rounds")

    def setup(self, spark) -> None:
        n = self.n_vertices
        rnd = random.Random(self.seed)
        a = rnd.randrange(1, n)
        while math.gcd(a, n) != 1:
            a = rnd.randrange(1, n)
        b = rnd.randrange(n)
        # seeded vertex-id permutation v -> (a*v + b) mod n (a coprime to n)
        perm = lambda c: F.pmod(F.col(c) * F.lit(a) + F.lit(b), F.lit(n))  # noqa: E731
        raw = datagen.generate_edges(spark, n, n_components=N_COMPONENTS)
        sym = graph_build.symmetrize(raw.select(perm("src").alias("src"), perm("dst").alias("dst")))
        self.path = os.path.join(self.workdir, "graph.bin")
        self.info["vertices"] = n
        self.info["sym_edges"] = sources.write_bin_csc(sym, n, n, self.path)
        self._n_store = 0

    def run_pass(self, spark, step) -> dict:
        root = os.path.join(self.workdir, f"ckpt-{self._n_store}")
        self._n_store += 1
        if os.path.exists(root):
            raise RuntimeError(f"checkpoint root {root} is not fresh")
        edges = step("sources.graph_io.read",
                     lambda: sources.read_bin_csc(spark, self.path)[0].transform(flat_checkpoint))
        store = CheckpointStore(spark, root)
        labels, cc_metrics = step("operators.cc", lambda: done(operators.cc(
            edges, mode="df", checkpoint=store)))
        ranks, _ = step("operators.pagerank", lambda: done(operators.pagerank_auto(
            edges, mode="df", checkpoint=store, max_iter=self.pagerank_iter, tol=0.0)))
        return {"labels": labels, "cc_rounds": len(cc_metrics), "pagerank": ranks, "root": root}

    def summarize(self, out: dict) -> dict:
        labels = out["labels"]
        return {
            "labels": checksum(labels),
            "components": n_labels(labels),
            "cc_rounds": out["cc_rounds"],
            "rank_sum": out["pagerank"].agg(F.sum("rank")).collect()[0][0],
        }

    def invariants(self, got: dict) -> list[str]:
        errors = []
        if got["components"] != N_COMPONENTS:
            errors.append(f"{got['components']} components, expected {N_COMPONENTS}")
        if not abs(got["rank_sum"] - 1.0) <= 1e-9:
            errors.append(f"PageRank ranks sum to {got['rank_sum']!r}, not 1")
        return errors

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["root"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (EtlCC, FixpointDoc, CscDurable)}
