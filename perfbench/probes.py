"""Per-layer measurement from outside the engine.

Three probes, all driven from the benchmark's own code:

* ``Steps`` records the wall interval of each step of a workload (a
  crawl round, an analytics leaf) and, after the measured region, rolls
  the Spark status store up over the jobs submitted inside each
  interval.  Attribution is by job submission time, so jobs that the
  engine submits from its own thread pools are counted too.
* ``StorageProbe`` wraps the ``IcebergishTable`` write methods to time
  each call per table, and walks table directories for files and bytes.
* ``kernels`` times the single-process kernels the crawl's Python UDFs
  run (render, husk, canonicalize, filters, robots) on corpus inputs.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from typing import Dict, List, Tuple

import numpy as np

CRAWL_TABLES = ("frontier", "pending", "fetchlog", "extracted", "seen",
                "metrics")
# analytics leaves persist their own IcebergishTables (IVF/PQ indexes);
# they are reported together under this name
INDEX_TABLE = "index"
WRITE_METHODS = ("append", "replace", "overwrite_partitions",
                 "commit_empty")
SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "input_mb")


class Steps:
    """Wall intervals of named steps, rolled up against the status store."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: List[Tuple[str, float, float]] = []

    def add(self, name: str, t0: float, t1: float) -> None:
        if self.enabled:
            self.spans.append((name, t0, t1))

    def rollup(self) -> Dict[str, Dict[str, float]]:
        """Spark totals per step name (summed over repeats of a name)."""
        out: Dict[str, Dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
        if not self.spans:
            return out
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            if sub.isDefined():
                stage_ids = j.stageIds()
                jobs.append((sub.get().getTime() / 1000.0,
                             [stage_ids.apply(i)
                              for i in range(stage_ids.size())]))
        counted = set()
        for name, t0, t1 in self.spans:
            acc = out[name]
            for sub_t, stage_ids in jobs:
                if not t0 <= sub_t <= t1:
                    continue
                acc["jobs"] += 1
                for sid in stage_ids:
                    if sid in counted:
                        continue
                    counted.add(sid)
                    s = store.lastStageAttempt(sid)
                    if s.status().toString() == "SKIPPED":
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += s.numCompleteTasks()
                    acc["executor_run_s"] += s.executorRunTime() / 1e3
                    acc["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    acc["gc_s"] += s.jvmGcTime() / 1e3
                    acc["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
                    acc["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                    acc["input_mb"] += s.inputBytes() / 1e6
        return out


class StorageProbe:
    """Times every IcebergishTable write call while installed."""

    def __init__(self) -> None:
        self.write_s: Dict[str, float] = defaultdict(float)
        self.commits: Dict[str, int] = defaultdict(int)
        self._saved = {}

    @staticmethod
    def table_name(path: str) -> str:
        name = os.path.basename(os.path.normpath(path))
        return name if name in CRAWL_TABLES else INDEX_TABLE

    def install(self) -> None:
        from sparkcrawl.storage import IcebergishTable
        for meth in WRITE_METHODS:
            orig = getattr(IcebergishTable, meth)
            self._saved[meth] = orig

            def timed(table, *a, _orig=orig, **kw):
                t0 = time.perf_counter()
                try:
                    return _orig(table, *a, **kw)
                finally:
                    name = self.table_name(table.path)
                    self.write_s[name] += time.perf_counter() - t0
                    self.commits[name] += 1
            setattr(IcebergishTable, meth, timed)

    def uninstall(self) -> None:
        from sparkcrawl.storage import IcebergishTable
        for meth, orig in self._saved.items():
            setattr(IcebergishTable, meth, orig)
        self._saved.clear()


def dir_usage(path: str) -> Tuple[int, int]:
    """(data files, bytes of all files) under *path*."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, size


# ---------------------------------------------------------------- kernels

def _rate(fn, n_items: int, min_s: float = 0.3) -> float:
    """Items per second of ``fn()`` (which handles *n_items* items),
    repeated until *min_s* of wall has been measured."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return reps * n_items / el


def kernels(n_pages: int, fat: int, seed: int,
            sample: int = 300) -> Dict[str, float]:
    """Per-unit costs of the crawl's in-row kernels, single process, on
    *sample* corpus pages (chosen by *seed*) of an ``n_pages``/``fat``
    corpus."""
    from sparkcrawl import bloom, canon, corpus, cuckoo, extract, robots

    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(n_pages, size=min(sample, n_pages),
                             replace=False))
    out = {"corpus.render_pages_per_s": _rate(
        lambda: corpus.page_htmls_batch(ids, n_pages, fat), len(ids))}
    htmls = corpus.page_htmls_batch(ids, n_pages, fat)
    out["extract.husk_pages_per_s"] = _rate(
        lambda: [extract.husk(h) for h in htmls], len(htmls))
    urls = [corpus.page_url(int(i)) for i in ids]
    links = [link for u, h in zip(urls, htmls)
             for link in extract.resolve_links(u, extract.husk(h)[1])]

    def discover():
        return [canon.url_hash(canon.canonicalize(u)) for u in links]
    out["canon.urls_per_s"] = _rate(discover, len(links))
    present = np.unique(np.asarray(discover(), dtype=np.int64))
    absent = rng.integers(-2 ** 63, 2 ** 63 - 1, size=4 * len(present),
                          dtype=np.int64)
    absent = absent[~np.isin(absent, present)]
    for name, mod in (("bloom", bloom), ("cuckoo", cuckoo)):
        # filled to the capacity it was sized for: the fp rate is nominal
        empty = mod.create(len(present), 0.01)
        full = mod.add_many(empty, present)
        out[f"{name}.add_per_s"] = _rate(
            lambda: mod.add_many(empty, present), len(present))
        out[f"{name}.probe_per_s"] = _rate(
            lambda: mod.contains_many(full, absent), len(absent))
        if name == "bloom":
            out["bloom.fp_ratio"] = float(
                bloom.contains_many(full, absent).mean())
    rules = {host: r for host, _, r in corpus.robots_rows()}
    pairs = [(rules.get(canon.url_host(u)), u) for u in links]
    out["robots.allowed_per_s"] = _rate(
        lambda: [robots.allowed(r, u) for r, u in pairs], len(pairs))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (the Spark JVM
    and its Python workers)."""
    children: Dict[int, List[int]] = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children[ppid].append(int(pid))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f
                                  if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024.0
