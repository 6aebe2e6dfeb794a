"""A workload's inputs, its measured pass and the checks of a pass.

Shared by the end-to-end run (run.py) and the traced run (traced.py).
Everything is written under WORK, which run.py creates and removes.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import sys
import time

import checks
import gen
import proctree

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
NPROC = len(os.sched_getaffinity(0))
# Spark local[K]. One vCPU stays free for the JVM's JIT and GC threads
# and the driver: on the 4-vCPU host, local[3] passes were both faster
# and steadier than local[4] ones.
K = max(1, min(3, NPROC - 1))
PARALLELISM = 3 * K                 # run_kg's repartition of the pages
CHECK_SAMPLE = {"crawl_short": 24, "crawl_long": 2}
WORKLOADS = ("crawl_short", "crawl_long", "link_dense")


def out_dir(pass_no: int) -> str:
    return os.path.join(WORK, "out", f"pass_{pass_no}")


class Workload:
    """One workload: its inputs, one KG build (the timed pass), and the
    checks of that build's output."""

    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.truth: dict = {}
        self.expected: dict = {}

    def prepare(self, pass_no: int) -> None:
        """Write the inputs of pass `pass_no` (untimed after set-up)."""
        if self.name == "crawl_short" and not self.truth:
            self.sf_dir = os.path.join(WORK, "in", "crawl_short")
            self.truth = gen.crawl_short(self.seed, self.sf_dir)
        elif self.name == "crawl_long":
            self.sf_dir = os.path.join(WORK, "in", f"crawl_long_{pass_no}")
            shutil.rmtree(os.path.join(WORK, "in", f"crawl_long_{pass_no - 1}"),
                          ignore_errors=True)
            self.truth = gen.crawl_long(self.seed, self.sf_dir, pass_no)
            self.expected = {}
        elif self.name == "link_dense" and not self.truth:
            self.triples_dir = os.path.join(WORK, "in", "link_dense")
            self.truth = gen.link_dense(self.seed, self.triples_dir)

    def build(self, spark, out: str) -> None:
        """The measured pass: input tables -> nodes/edges written."""
        if self.name == "link_dense":
            from dygiepp_spark.plans.pipeline import build_graph
            from dygiepp_spark.sources.catalog import write_table
            triples = spark.read.parquet(self.triples_dir)
            nodes, edges = build_graph(spark, triples)
            write_table(nodes, os.path.join(out, "nodes"))
            write_table(edges, os.path.join(out, "edges"))
        else:
            from dygiepp_spark.plans.pipeline import run_kg
            run_kg(spark, self.sf_dir, out, parallelism=PARALLELISM)

    def triples_path(self, out: str) -> str:
        return (self.triples_dir if self.name == "link_dense"
                else os.path.join(out, "triples"))

    def check(self, out: str) -> list[str]:
        """Every check of this workload on the tables a pass wrote."""
        trip = checks.read_table(self.triples_path(out))
        nodes = checks.read_table(os.path.join(out, "nodes"))
        edges = checks.read_table(os.path.join(out, "edges"))
        msgs = checks.graph_sums(trip, nodes, edges)
        if self.name == "link_dense":
            if "pairs" not in self.expected:
                self.expected["pairs"] = checks.direct_pairs(self.truth)
            recall, summary = checks.link_recall(nodes, self.truth,
                                                 self.expected["pairs"])
            print(summary, file=sys.stderr)
            return msgs + checks.planted(nodes, self.truth) + recall
        pages = self.truth["pages"]
        if not self.expected:
            self.expected = self._decode_sample()
        msgs += checks.spans(trip, pages) + checks.widths_and_labels(trip)
        msgs += checks.lineage(
            checks.read_table(os.path.join(out, "lineage")),
            len(pages), len(trip))
        msgs += checks.sample(trip, self.expected)
        if self.truth["base_of"] is not None:
            msgs += checks.tiles(trip, self.truth["base_of"])
        return msgs

    def _decode_sample(self) -> dict[str, list[tuple]]:
        from dygiepp_spark.kernel.model import triples_rows
        from dygiepp_spark.kernel.weights import get_weights
        w = get_weights()
        urls = random.Random(self.seed).sample(
            sorted(self.truth["pages"]), CHECK_SAMPLE[self.name])
        return {u: triples_rows(u, self.truth["pages"][u], w) for u in urls}


def run_pass(spark, wl: Workload, pass_no: int) -> tuple[float, float]:
    """One measured pass: (wall s, CPU s of the process tree)."""
    out = out_dir(pass_no)
    cpu0 = proctree.cpu_s()
    t0 = time.perf_counter()
    wl.build(spark, out)
    wall = time.perf_counter() - t0
    return wall, proctree.cpu_s() - cpu0


def check_pass(wl: Workload, pass_no: int, bad: list[str]) -> None:
    out = out_dir(pass_no)
    bad += [f"pass {pass_no}: {m}" for m in wl.check(out)]
    shutil.rmtree(out, ignore_errors=True)
    gc.collect()
