"""The workloads, their metrics and their output checks.

Each workload sets up once (timed as set-up), then repeats one unit of
work in a closed loop, one unit at a time, while the next unit is
expected to end within ``seconds`` of measured time (at least one
unit):

* ``crawl_bulk``: one crawl of a fat-page corpus with many seeds and a
  large per-host budget.  Fetch + husk and discovery carry most of each
  round, so in-row kernel cost shows.
* ``crawl_cuckoo``: the same crawl with the cuckoo seen filter and a
  frontier compaction after round 2, the paths ``crawl_bulk`` bypasses.
* ``analytics_warm``: one pass over registered query leaves, after an
  untimed warm-up pass that fills per-process caches.  It is not gated
  (its runs spread too widely on a shared 4-core host); a traced crawl
  run takes its per-leaf numbers from one warm-up and one measured pass.

End-to-end metrics have one meaning on every workload; an *item* is a
URL extracted (crawls) or a leaf run (analytics), a *step* is a crawl
round or a leaf.  Per-layer metrics cover every module on every
workload; a module a workload does not run reports 0.
"""

from __future__ import annotations

import dataclasses
import gc
import hashlib
import importlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Dict, List, Optional

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
FROZEN_PATH = os.path.join(HERE, "frozen.json")
FROZEN_SEED = 0

END_TO_END = ("setup_s", "items_per_s", "step_s_geomean",
              "stored_bytes_per_item")
UNITS = {"setup_s": "s", "items_per_s": "1/s", "step_s_geomean": "s",
         "stored_bytes_per_item": "B"}
PHASES = ("plan", "fetch_extract_write", "flog_discover_frontier",
          "pending_blooms_stats", "metrics")
# registered query leaves of the analytics workload and their modules:
# the leaves the open performance work targets, at least one per query
# module, within the run budget
LEAF_MODULES = {
    "text_bpe_token_counts": "textops", "ann_ivfpq_topk": "textops",
    "ann_ivf_topk": "textops", "dedup_span_winnow": "textops",
    "dedup_simhash": "textops", "join_inner": "queries",
    "join_bucketed_colocated": "sources", "crawl_extract_text": "crawlq",
    "graph_triangle_count": "graphops",
}
LEAVES = tuple(LEAF_MODULES)

@dataclass(frozen=True)
class CrawlShape:
    pages: int
    fat: int
    seeds: int
    budget: int
    buckets: int
    rounds: int
    seen_filter: str = "bloom"
    compact_every: int = 0
    # compare every round with model_crawler (affordable only when few
    # pages are fetched: it husks them single-threaded)
    model_parity: bool = False


BULK = CrawlShape(pages=12000, fat=20, seeds=3600, budget=3000, buckets=16,
                  rounds=2)
TINY_BULK = CrawlShape(pages=600, fat=2, seeds=40, budget=30, buckets=4,
                       rounds=2, model_parity=True)
CRAWLS = {
    "crawl_bulk": (BULK, TINY_BULK),
    "crawl_cuckoo": tuple(
        dataclasses.replace(s, seen_filter="cuckoo", compact_every=2)
        for s in (BULK, TINY_BULK)),
}
ANALYTICS_SCALE = 0.01
TINY_LEAVES = ("join_inner", "dedup_simhash", "graph_triangle_count")


STORAGE_KEYS = ("write_s", "commits", "files", "bytes")


def leaf_layer_names() -> List[str]:
    """The per-layer names only the analytics leaves produce."""
    names = [f"storage.{probes.INDEX_TABLE}.{k}" for k in STORAGE_KEYS]
    for leaf in LEAVES:
        names += [f"{LEAF_MODULES[leaf]}.{leaf}.{k}"
                  for k in ("build_s", "exec_s", "jobs")]
    return names


def per_layer_names() -> List[str]:
    names = ["rounds.init_s"] + [f"rounds.{p}_s" for p in PHASES]
    names.append("rounds.checkpoint_s")
    for t in probes.CRAWL_TABLES + (probes.INDEX_TABLE,):
        names += [f"storage.{t}.{k}" for k in STORAGE_KEYS]
    names += [f"spark.{f}" for f in probes.SPARK_FIELDS]
    names.append("spark.busy_ratio")
    names += ["extract.husk_pages_per_s", "canon.urls_per_s",
              "bloom.add_per_s", "bloom.probe_per_s", "bloom.fp_ratio",
              "cuckoo.add_per_s", "cuckoo.probe_per_s",
              "robots.allowed_per_s", "corpus.render_pages_per_s"]
    names += [n for n in leaf_layer_names() if not n.startswith("storage.")]
    names += ["trace.items_per_s", "trace.rollup_s", "proc.peak_rss_mb"]
    return names


UNIT_SUFFIXES = (("_per_s", "1/s"), ("_ratio", "ratio"), ("_mb", "MB"),
                 ("_s", "s"), ("bytes", "B"))


def per_layer_unit(name: str) -> str:
    return next((u for suf, u in UNIT_SUFFIXES if name.endswith(suf)),
                "count")


class Result:
    def __init__(self) -> None:
        self.metrics: Dict[str, tuple] = {}
        self.errors: List[str] = []
        self.attempted = 0
        self.failed = 0

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)

    @property
    def correct(self) -> bool:
        return not self.errors and not self.failed

    def as_json(self) -> dict:
        return {"correct": self.correct, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in self.metrics.items()}}


def settle(spark) -> None:
    """Start a timed region from the same state every run: no cached
    plans or blocks, no garbage left in the driver JVM or this process,
    no dirty pages waiting for writeback."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    os.sync()


def load_frozen() -> dict:
    with open(FROZEN_PATH) as f:
        return json.load(f)


def digest(items) -> str:
    h = hashlib.sha256()
    for s in sorted(items):
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ crawls

def seed_ids(shape: CrawlShape, seed: int) -> List[int]:
    """The page ids a crawl starts from: the run's only seed-dependent
    input (the corpus itself is fixed)."""
    return sorted(random.Random(seed).sample(range(shape.pages),
                                             shape.seeds))


def crawl_once(spark, wd: str, shape: CrawlShape, seed_urls: List[str],
               steps: probes.Steps, res: Result) -> Optional[dict]:
    """One crawl: engine set-up (untimed), then init and rounds (timed).
    Returns timings and summaries, or None when a step raised."""
    from sparkcrawl import corpus
    from sparkcrawl.rounds import CrawlEngine
    from sparkcrawl.schemas import ROBOTS

    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)
    settle(spark)
    t0 = time.time()
    eng = CrawlEngine(
        spark, wd, pages=corpus.pages_df(spark, shape.pages, fat=shape.fat),
        robots=spark.createDataFrame(corpus.robots_rows(), ROBOTS),
        budget_per_host=shape.budget, n_buckets=shape.buckets,
        salt_buckets=8, seen_filter=shape.seen_filter,
        compact_every=shape.compact_every)
    setup_s = time.time() - t0
    settle(spark)  # the pages snapshot was just written
    out = {"engine": eng, "setup_s": setup_s, "rounds": [], "walls": []}
    t1 = time.time()
    res.attempted += 1
    try:
        eng.init(seed_urls)
    except Exception:  # a failing step is counted, not fatal to the run
        traceback.print_exc()
        res.failed += 1
        return None
    t2 = time.time()
    steps.add("init", t1, t2)
    out["init_s"] = t2 - t1
    for _ in range(shape.rounds):
        res.attempted += 1
        ta = time.time()
        try:
            s = eng.run_round()
        except Exception:
            traceback.print_exc()
            res.failed += 1
            return None
        tb = time.time()
        steps.add("round", ta, tb)
        out["rounds"].append(s)
        out["walls"].append(tb - ta)
        if not s["pending"]:
            break
    return out


def round_counts(rounds: List[dict]) -> List[List[int]]:
    return [[s[k] for k in ("urls_selected", "urls_extracted",
                            "links_found", "links_new")] for s in rounds]


class _LazyPages:
    """url -> html of the corpus, rendered on first use (the model
    crawler only reads the pages it fetches)."""

    def __init__(self, n: int, fat: int) -> None:
        from sparkcrawl import corpus
        self.n, self.fat = n, fat
        self.ids = {corpus.page_url(i): i for i in range(n)}

    def get(self, url: str):
        from sparkcrawl import corpus
        i = self.ids.get(url)
        return None if i is None else corpus.page_html(i, self.n, self.fat)


def check_crawl(spark, run: dict, shape: CrawlShape, seed: int,
                seed_urls: List[str], frozen: Optional[dict],
                res: Result) -> None:
    """Output checks of one finished crawl (outside the timed region)."""
    from pyspark.sql import functions as F
    from sparkcrawl import corpus, extract
    filters = importlib.import_module(f"sparkcrawl.{shape.seen_filter}")
    eng = run["engine"]
    counts = round_counts(run["rounds"])
    frontier = eng.frontier.read(spark).select(
        "url_hash", "host_bucket").toPandas()
    keys = frontier["url_hash"].astype("int64")
    res.check(keys.is_unique, "frontier holds a duplicate url_hash")
    fdigest = digest(str(k) for k in keys)
    if frozen is not None:
        res.check(counts == frozen["round_counts"],
                  f"round counts {counts} != frozen {frozen['round_counts']}")
        res.check(fdigest == frozen["frontier_digest"],
                  f"frontier digest {fdigest} != frozen "
                  f"{frozen['frontier_digest']}")
    # seen set == frontier keys: every key is in its bucket's filter and
    # each filter counts exactly its bucket's keys
    seen = {int(r["partition_id"]): (bytes(r["bloom"]), int(r["n_items"]))
            for r in eng.seen.read(spark).collect()}
    for bucket, grp in frontier.groupby("host_bucket"):
        blob, n = seen.get(int(bucket), (None, 0))
        hashes = grp["url_hash"].to_numpy(dtype="int64")
        res.check(n == len(hashes) and blob is not None
                  and bool(filters.contains_many(blob, hashes).all()),
                  f"seen filter of bucket {bucket} != its frontier keys")
    res.check(sum(n for _, n in seen.values()) == len(keys),
              "seen filters count keys outside the frontier")
    over = (eng.fetchlog.read(spark)
            .filter(F.col("status") != "ROBOTS_DENIED")
            .groupBy("round", "host").count()
            .filter(F.col("count") > shape.budget).count())
    res.check(over == 0, f"{over} (round, host) pairs over the budget")
    fetched = eng.extracted.read(spark).filter(F.col("fetched"))
    n_ext = fetched.count()
    res.check(n_ext == sum(c[1] for c in counts),
              "extracted rows != summed urls_extracted")
    sample = (fetched.orderBy(F.xxhash64("url_hash", F.lit(seed)))
              .select("url_canon", "text").limit(12).collect())
    pages = _LazyPages(shape.pages, shape.fat)
    for row in sample:
        want = extract.husk(pages.get(row["url_canon"]))[0]
        res.check(row["text"] == want,
                  f"extracted text of {row['url_canon']} != husk(page)")
    if shape.model_parity:
        from sparkcrawl import model_crawler
        rules = {host: r for host, _, r in corpus.robots_rows()}
        model = model_crawler.crawl(pages, seed_urls, rules, shape.budget,
                                    len(run["rounds"]))
        log = eng.fetchlog.read(spark).select(
            "round", "url_hash", "status").toPandas()
        for m in model.rounds:
            got = log[log["round"] == m["round"]]
            sel = sorted(got[got["status"] != "ROBOTS_DENIED"]
                         ["url_hash"].astype("int64"))
            den = sorted(got[got["status"] == "ROBOTS_DENIED"]
                         ["url_hash"].astype("int64"))
            res.check(sel == m["selected_hashes"]
                      and den == m["denied_hashes"],
                      f"round {m['round']} selection != model_crawler")
        res.check(sorted(keys) == sorted(model.frontier),
                  "frontier keys != model_crawler frontier")
    run["extracted"] = n_ext
    run["frontier_digest"] = fdigest
    run["round_counts"] = counts


def run_crawl(name: str, spark, work: str, seed: int, seconds: float,
              trace: bool, tiny: bool, res: Result) -> dict:
    from sparkcrawl import corpus
    shape = CRAWLS[name][1 if tiny else 0]
    frozen_all = load_frozen().get("tiny" if tiny else "full", {})
    frozen = frozen_all.get(name) if seed == FROZEN_SEED else None
    seed_urls = [corpus.page_url(i) for i in seed_ids(shape, seed)]
    steps = probes.Steps(spark, trace)
    storage = probes.StorageProbe()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if trace:
        storage.install()
    runs, measured = [], 0.0
    try:
        # another unit only while it is expected to end within `seconds`
        while not runs or measured * (len(runs) + 1) / len(runs) <= seconds:
            run = crawl_once(spark, os.path.join(work, f"crawl{len(runs)}"),
                             shape, seed_urls, steps, res)
            if run is None:
                break
            measured += run["init_s"] + sum(run["walls"])
            if not runs:
                check_crawl(spark, run, shape, seed, seed_urls, frozen, res)
                run["usage"] = {t: probes.dir_usage(os.path.join(
                    run["engine"].workdir, t)) for t in probes.CRAWL_TABLES}
            else:
                res.check(round_counts(run["rounds"])
                          == runs[0]["round_counts"],
                          "a repeated crawl of the same inputs differed")
                shutil.rmtree(run["engine"].workdir, ignore_errors=True)
            runs.append(run)
    finally:
        storage.uninstall()
    if not runs or res.failed:
        return {}
    walls = [w for r in runs for w in r["walls"]]
    busy = sum(r["init_s"] + sum(r["walls"]) for r in runs)
    extracted = sum(sum(s["urls_extracted"] for s in r["rounds"])
                    for r in runs)
    log(f"{name}: {len(runs)} crawl(s), {extracted} urls in {busy:.1f}s, "
        f"rounds {[round(w, 2) for w in walls]}, "
        f"counts {runs[0]['round_counts']}, "
        f"frontier {runs[0]['frontier_digest']}, "
        f"init {[round(r['init_s'], 2) for r in runs]}, "
        f"phase_ms {[s['phase_ms'] for r in runs for s in r['rounds']]}")
    stored = sum(b for _, b in runs[0]["usage"].values())
    out = {"setup_units": [r["setup_s"] for r in runs],
           "items_per_s": extracted / busy, "steps": walls,
           "stored_bytes_per_item": stored / runs[0]["extracted"]}
    if trace:
        layer = dict.fromkeys(per_layer_names(), 0.0)
        layer["rounds.init_s"] = statistics.median(r["init_s"] for r in runs)
        phase_s = {p: [s["phase_ms"].get(p, 0) / 1e3 for r in runs
                       for s in r["rounds"]] for p in PHASES}
        for p in PHASES:
            layer[f"rounds.{p}_s"] = statistics.median(phase_s[p])
        layer["rounds.checkpoint_s"] = statistics.median(
            w - sum(phase_s[p][i] for p in PHASES)
            for i, w in enumerate(walls))
        for t in probes.CRAWL_TABLES:
            layer[f"storage.{t}.write_s"] = storage.write_s[t] / len(runs)
            layer[f"storage.{t}.commits"] = storage.commits[t] / len(runs)
            files, size = runs[0]["usage"][t]
            layer[f"storage.{t}.files"] = files
            layer[f"storage.{t}.bytes"] = size
        t0 = time.time()
        spark_layer(spark, layer, steps.rollup(), ("round",), sum(walls),
                    len(walls))
        layer.update(probes.kernels(shape.pages, shape.fat, seed))
        layer["trace.rollup_s"] = time.time() - t0
        layer["trace.items_per_s"] = out["items_per_s"]
        out["layer"] = layer
    return out


def spark_layer(spark, layer: dict, rolled: dict, names, wall: float,
                n_steps: int) -> None:
    """Spark totals of the named steps, as means per step."""
    cores = spark.sparkContext.defaultParallelism
    tot = dict.fromkeys(probes.SPARK_FIELDS, 0.0)
    for n in names:
        for f, v in rolled.get(n, {}).items():
            tot[f] += v
    for f in probes.SPARK_FIELDS:
        layer[f"spark.{f}"] = tot[f] / n_steps
    layer["spark.busy_ratio"] = tot["executor_run_s"] / (wall * cores)


# --------------------------------------------------------------- analytics

def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return repr(v)


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows; floats to 6 significant
    digits, so a change of summation order does not move it."""
    return digest(_canon(tuple(r)) for r in rows)


def run_leaf(spark, fn, sf: str):
    t0 = time.time()
    df = fn(spark, sf)
    t1 = time.time()
    rows = df.collect()
    t2 = time.time()
    return t0, t1, t2, rows


def run_analytics(spark, work: str, seed: int, seconds: float,
                  trace: bool, tiny: bool, res: Result) -> dict:
    import datagen
    from sparkcrawl import sources
    from sparkcrawl.registry import QUERIES, load_all

    load_all()
    leaves = list(TINY_LEAVES if tiny else LEAVES)
    rng = random.Random(seed)
    rng.shuffle(leaves)
    frozen = load_frozen().get("tiny" if tiny else "full", {}).get(
        "analytics_warm", {})
    # a scratch root left by an earlier run in this process is not ours
    shutil.rmtree(sources._SCRATCH_ROOT, ignore_errors=True)
    t0 = time.time()
    sf = datagen.write(os.path.join(work, "sf"), ANALYTICS_SCALE)
    observed: Dict[str, tuple] = {}

    def one(name: str, steps: Optional[probes.Steps]):
        res.attempted += 1
        try:
            ta, tb, tc, rows = run_leaf(spark, QUERIES[name], sf)
        except Exception:
            traceback.print_exc()
            res.failed += 1
            return None
        got = (len(rows), rows_digest(rows))
        want = frozen.get(name)
        res.check(want is not None and list(got) == list(want),
                  f"{name}: rows/digest {got} != frozen {want}")
        prev = observed.setdefault(name, got)
        res.check(prev == got, f"{name}: output differs between passes")
        if steps is not None:
            steps.add(f"leaf:{name}", ta, tc)
        return tb - ta, tc - tb

    for name in leaves:  # warm-up pass: set-up, not measured
        one(name, None)
    setup_s = time.time() - t0
    steps = probes.Steps(spark, trace)
    storage = probes.StorageProbe()
    if trace:
        storage.install()
    times: Dict[str, List[tuple]] = {n: [] for n in leaves}
    measured, passes = 0.0, 0
    try:
        settle(spark)
        while passes == 0 or measured * (passes + 1) / passes <= seconds:
            rng.shuffle(leaves)
            for name in leaves:
                t = one(name, steps)
                if t is not None:
                    times[name].append(t)
                    measured += sum(t)
            passes += 1
    finally:
        storage.uninstall()
    if res.failed:
        return {}
    per_leaf = {n: statistics.median(b + e for b, e in ts)
                for n, ts in times.items()}
    log(f"analytics_warm: {passes} pass(es), "
        + ", ".join(f"{n}={s:.2f}" for n, s in per_leaf.items()))
    log(f"observed rows/digest: {json.dumps(observed, sort_keys=True)}")
    files, stored = 0, 0
    for d in (sources._SCRATCH_ROOT, os.path.join(work, "warehouse")):
        f, b = probes.dir_usage(d)
        files, stored = files + f, stored + b
    out = {"setup_units": [setup_s],
           "items_per_s": len(per_leaf) / sum(per_leaf.values()),
           "steps": list(per_leaf.values()),
           "stored_bytes_per_item": stored / len(leaves)}
    if trace:
        layer = dict.fromkeys(per_layer_names(), 0.0)
        t = probes.INDEX_TABLE
        layer[f"storage.{t}.write_s"] = storage.write_s[t] / passes
        layer[f"storage.{t}.commits"] = storage.commits[t] / passes
        layer[f"storage.{t}.files"] = files
        layer[f"storage.{t}.bytes"] = stored
        t0 = time.time()
        rolled = steps.rollup()
        for n, ts in times.items():
            pre = f"{LEAF_MODULES[n]}.{n}"
            layer[f"{pre}.build_s"] = statistics.median(b for b, _ in ts)
            layer[f"{pre}.exec_s"] = statistics.median(e for _, e in ts)
            layer[f"{pre}.jobs"] = rolled[f"leaf:{n}"]["jobs"] / passes
        spark_layer(spark, layer, rolled, [f"leaf:{n}" for n in leaves],
                    measured, passes * len(leaves))
        # the crawl kernels, on the bulk crawl's corpus
        layer.update(probes.kernels(BULK.pages, BULK.fat, seed))
        layer["trace.rollup_s"] = time.time() - t0
        layer["trace.items_per_s"] = out["items_per_s"]
        out["layer"] = layer
    return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(workload: str, spark, work: str, seed: int, seconds: float,
        trace: bool, tiny: bool, session_s: float) -> Result:
    res = Result()
    if workload == "analytics_warm":
        out = run_analytics(spark, work, seed, seconds, trace, tiny, res)
    else:
        out = run_crawl(workload, spark, work, seed, seconds, trace, tiny,
                        res)
    if out and trace and workload != "analytics_warm":
        # no crawl runs the query leaves: time them after the crawl, one
        # warm-up and one measured pass, in the session defaults (AQE on)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        leaf = run_analytics(spark, work, seed, 0, True, tiny, res)
        if leaf:
            for name in leaf_layer_names():
                out["layer"][name] = leaf["layer"][name]
        else:
            out = {}
    if not out:
        res.errors.append("the workload did not complete")
        return res
    if not trace:
        values = {
            "setup_s": session_s + statistics.median(out["setup_units"]),
            "items_per_s": out["items_per_s"],
            "step_s_geomean": statistics.geometric_mean(out["steps"]),
            "stored_bytes_per_item": out["stored_bytes_per_item"]}
        for name in END_TO_END:
            res.put(name, values[name], UNITS[name])
    else:
        layer = out["layer"]
        layer["proc.peak_rss_mb"] = probes.peak_rss_mb()
        for name in per_layer_names():
            res.put(name, layer[name], per_layer_unit(name))
    return res
